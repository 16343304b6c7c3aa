"""Round-3 extension queries: deterministic sampling, bloom semi-join
pruning, z-order layout keys, passage-level dedup, and n-gram statistics.

Same contract as plans/queries.py: each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame whose columns are aliased
identically to its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.bloom import bloom_semi_join
from ..sources.tables import local_table
from .queries import QueryDef, _t

# --------------------------------------------------------------------------
# q68 — deterministic stratified sampling (training-data split discipline)
# --------------------------------------------------------------------------


def q68_stratified_sample(spark, sf_dir):
    """Hash-split sampling: a 25% sample of orders selected by md5-prefix of
    the key — deterministic, engine-portable, and stable under reruns,
    re-partitioning, and cluster resizing (none of which hold for
    ``df.sample``'s RNG). This is how a training pipeline carves
    train/held-out splits that every downstream job re-derives identically
    instead of shipping membership lists. The filter is a scan-level
    predicate (no shuffle); the per-stratum aggregate is the only exchange.
    """
    o = _t(spark, sf_dir, "orders")
    sampled = o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias(
            "sampled_totalprice"
        ),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


Q68_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_sampled,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sampled_totalprice,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q69 — bloom-filter semi-join pruning (runtime filter across statements)
# --------------------------------------------------------------------------


def q69_bloom_semi_join(spark, sf_dir):
    """Customers with at least one high-value urgent order, resolved as a
    bloom-pruned semi-join (operators/bloom.py): the build side's keys are
    folded into a 2^16-bit filter by a distributed bit_or aggregate, the
    customer scan is pruned by a codegen'd might-contain predicate sitting on
    top of the scan, and the closing exact semi-join removes false positives
    — so the result equals the plain semi-join the oracle runs, while the
    shuffle only ever sees rows that passed the filter. At 100 TB this is
    the difference between shuffling the full probe table and shuffling the
    ~match fraction of it."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    build = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 450000)
    ).select("o_custkey")
    out = bloom_semi_join(c, build, "c_custkey", "o_custkey", num_bits=1 << 16)
    return out.select(
        "c_custkey", "c_name", "c_nationkey",
        F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
    )


Q69_SQL = """
SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 450000
)
"""


# --------------------------------------------------------------------------
# q70 — z-order layout keys (multi-dimensional clustering for data layout)
# --------------------------------------------------------------------------

_Z_BITS = 8


def _interleave_sql(x: str, y: str, bits: int) -> str:
    """Bit-interleave expression: x in even positions, y in odd — identical
    integer math in Spark SQL and DuckDB."""
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return " + ".join(terms)


def q70_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (nation, account-balance bucket):
    interleaving the bits of both dimensions gives a single sort key under
    which ranges of EITHER dimension map to a bounded number of contiguous
    key ranges — the standard multi-dimensional layout trick (Delta/Iceberg
    OPTIMIZE ZORDER) that lets min/max row-group stats prune scans on both
    columns after one write. The expression is pure integer bit math in
    whole-stage codegen; writing ``df.repartitionByRange(zval).sortWithinPartitions``
    produces the clustered files (sinks/files.py covers the write; this query
    pins the key computation both engines can verify)."""
    c = _t(spark, sf_dir, "customer")
    # floor() explicitly: double→int CAST truncates in Spark but rounds in
    # DuckDB, so the cast alone is not engine-portable
    bucket = F.floor((F.col("c_acctbal") + 1000.0) / 11000.0 * 256.0).cast("int")
    bucket = F.least(F.greatest(bucket, F.lit(0)), F.lit(255))
    enc = c.select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("nk"),
        bucket.alias("bal_bucket"),
    )
    z = enc.selectExpr(
        "c_custkey", "nk", "bal_bucket",
        f"CAST({_interleave_sql('nk', 'bal_bucket', _Z_BITS)} AS BIGINT) AS zval",
    )
    return z


Q70_SQL = f"""
WITH enc AS (
  SELECT c_custkey,
         CAST(c_nationkey AS INT) AS nk,
         least(greatest(CAST(floor((c_acctbal + 1000.0) / 11000.0 * 256.0) AS INT), 0), 255) AS bal_bucket
  FROM customer
)
SELECT c_custkey, nk, bal_bucket,
       CAST({_interleave_sql('nk', 'bal_bucket', _Z_BITS)} AS BIGINT) AS zval
FROM enc
"""


# --------------------------------------------------------------------------
# q71 — passage-level exact dedup (C4-style line dedup, chunk granularity)
# --------------------------------------------------------------------------

_CHUNK = 10

_NORM_EXPR = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
    "'[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


def q71_passage_dedup(spark, sf_dir):
    """Passage-level duplication audit: each document is cut into consecutive
    10-token chunks, chunk occurrences are counted corpus-wide, and every
    document reports how many of its chunks also occur elsewhere — the
    C4-style sub-document dedup signal (their unit is the line; this corpus
    has no newlines, so the unit is a fixed token window). Distribution
    shape: explode → attach the corpus-wide occurrence count as a window
    aggregate over the chunk key → per-doc agg. The window (ONE shuffle on
    chunk) replaces a count+self-join formulation that re-tokenized and
    re-exploded the whole corpus for the counts side — caught by a plan
    audit showing two Generate+scan branches. At open-corpus scale the
    chunk key would be ``xxhash64(chunk)`` so the shuffle carries 8-byte
    keys — here it stays the chunk text because the oracle must replay it
    exactly."""
    from ..functions.text import normalized_text, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tokens(normalized_text(F.col("text"))).alias("_t")
    )
    chunks = toks.select(
        "doc_id",
        F.explode(
            # guard the short-doc case: sequence(0, -1) DESCENDS in Spark
            # (DuckDB's range(0) is empty), so <1-chunk docs need an
            # explicit empty array
            F.expr(
                f"if(size(_t) >= {_CHUNK}, "
                f"transform(sequence(0, (size(_t) div {_CHUNK}) - 1), "
                f"i -> array_join(slice(_t, i * {_CHUNK} + 1, {_CHUNK}), ' ')), "
                "array())"
            )
        ).alias("chunk"),
    ).filter(F.length("chunk") > 0)
    counted = chunks.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    )
    per_doc = counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("_n") > 1).cast("long")).alias("n_dup_chunks"),
    )
    return per_doc.select(
        "doc_id", "n_chunks", "n_dup_chunks",
        F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4).alias("dup_frac"),
    )


Q71_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split({_NORM_EXPR}, ' '), t -> t != '') AS t
  FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(len(t) // {_CHUNK}),
                i -> array_to_string(list_slice(t, i * {_CHUNK} + 1, i * {_CHUNK} + {_CHUNK}), ' '))) AS chunk
  FROM toks
), nonempty AS (
  SELECT doc_id, chunk FROM chunks WHERE length(chunk) > 0
), counts AS (
  SELECT chunk, count(*) AS n FROM nonempty GROUP BY chunk
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN ct.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(CAST(sum(CASE WHEN ct.n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
FROM nonempty c JOIN counts ct ON c.chunk = ct.chunk
GROUP BY c.doc_id
"""


# --------------------------------------------------------------------------
# q72 — corpus n-gram statistics (top bigrams per source)
# --------------------------------------------------------------------------


def q72_bigram_stats(spark, sf_dir):
    """Top-5 bigrams per source: the corpus-statistics pass behind n-gram
    LMs, contamination screens, and boilerplate detection. The bigram fan-out
    is one explode over an expression-built array (no UDF); the count is a
    map-side-combined aggregate keyed by (source, bigram); the top-k is a
    ranked window over the (tiny) aggregated counts, never over the raw
    token stream."""
    from ..functions.text import normalized_text, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", tokens(normalized_text(F.col("text"))).alias("_t"))
    bigrams = toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1), "
                "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"
            )
        ).alias("bigram"),
    )
    counted = bigrams.groupBy("source", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "bigram", "n", "rank")
    )


Q72_SQL = f"""
WITH toks AS (
  SELECT source,
         list_filter(string_split({_NORM_EXPR}, ' '), t -> t != '') AS t
  FROM documents
), bigrams AS (
  SELECT source,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), counted AS (
  SELECT source, bigram, count(*) AS n FROM bigrams GROUP BY source, bigram
)
SELECT source, bigram, n, rank FROM (
  SELECT source, bigram, n,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram ASC) AS BIGINT) AS rank
  FROM counted
) WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# q73 — stream-static enrichment (streaming replay, oracle-checked)
# --------------------------------------------------------------------------


def q73_stream_enrich(spark, sf_dir):
    """Stream-static join replayed through Structured Streaming
    (streaming/events.py:stream_static_enrich): the event stream is enriched
    against a broadcast dimension — stateless, no watermark — then reduced
    per enrichment key in complete output mode, so the memory sink holds
    only the aggregate, never the joined stream. The oracle runs the same
    join+aggregate as batch SQL; equality proves the streaming plan computes
    the batch answer."""
    import os  # noqa: PLC0415

    from ..streaming.events import (  # noqa: PLC0415
        run_to_memory,
        source_bytes_of,
        stream_events,
        stream_static_enrich,
    )

    dim = local_table(
        spark,
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "event_type string, family string",
    )

    def build(s):
        return stream_static_enrich(s, dim, "event_type", how="inner").groupBy(
            "family"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
                "sum_value"
            ),
        )

    # SPARK_GRAFT_STREAM_RECOVERY=1: kill-and-resume — the stream-static
    # join is stateless, but the downstream complete-mode aggregate's state
    # must survive the restart (run 2 only reads the second half's files).
    if os.environ.get("SPARK_GRAFT_STREAM_RECOVERY") == "1":
        from ..streaming.events import (  # noqa: PLC0415
            replay_with_recovery_memory,
            ts_ordered_halves,
        )

        ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        out, _progress = replay_with_recovery_memory(
            spark, ts_ordered_halves(ev), build, "q73_rec", mode="complete"
        )
        return out
    src = f"{sf_dir}/events.parquet"
    agg = build(stream_events(spark, src))
    run_to_memory(agg, "q73_sink", mode="complete", source_bytes=source_bytes_of(src))
    # materialize the memory sink via a parquet round-trip (the q64 pattern)
    # so no result frame is ever collect()ed to the driver
    from ..session import scratch_dir  # noqa: PLC0415

    out_path = scratch_dir("srm_q73_agg") + "/agg"
    spark.table("q73_sink").write.mode("overwrite").parquet(out_path)
    spark.catalog.dropTempView("q73_sink")
    return spark.read.parquet(out_path)


Q73_SQL = """
SELECT f.family,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM events e
JOIN (VALUES ('click','engagement'), ('view','engagement'), ('purchase','revenue'))
     AS f(event_type, family)
  ON e.event_type = f.event_type
GROUP BY f.family
"""


EXT5_REGISTRY = {
    "q68_stratified_sample": QueryDef(
        q68_stratified_sample, Q68_SQL, "deterministic hash-split sampling"
    ),
    "q69_bloom_semi_join": QueryDef(
        q69_bloom_semi_join, Q69_SQL, "bloom runtime-filter semi-join"
    ),
    "q70_zorder_key": QueryDef(
        q70_zorder_key, Q70_SQL, "z-order multi-dim layout key"
    ),
    "q71_passage_dedup": QueryDef(
        q71_passage_dedup, Q71_SQL, "passage-level exact dedup (C4 line dedup)"
    ),
    "q72_bigram_stats": QueryDef(
        q72_bigram_stats, Q72_SQL, "corpus n-gram statistics"
    ),
    "q73_stream_enrich": QueryDef(
        q73_stream_enrich, Q73_SQL, "§2.12 stream-static enrichment join"
    ),
}
