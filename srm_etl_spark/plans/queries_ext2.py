"""Operator-inventory queries, round-3 extension set (q47-q56).

Adds the scale-critical operators the first 46 queries didn't exercise as
first-class, oracle-checked entries:

- batch sliding windows (streaming twin of §2.12 extension)       → q47
- as-of temporal join (union+window plan, one shuffle)            → q48
- BPE-ish regex tokenization stats (training-data pipeline)       → q49
- deterministic salted skew join (SURVEY §4.2 heavy hitters)      → q50
- upsert diff classification (§2.10 change-hash lifecycle, F23)   → q51
- non-equi band (range) join against a broadcast dimension        → q52
- Structured Streaming replay with a SQL oracle (§2.12)           → q53
- multimodal binary round-trip: encode → sniff → Arrow decode     → q54
- exact interpolated percentiles                                  → q55
- ROLLUP with grouping flags                                      → q56

Same conventions as ``queries.py``: identical column aliases on both
engines, integer outputs pinned to BIGINT in DuckDB, money sums as DECIMAL
cast to DOUBLE (exact cross-engine), timestamps emitted as formatted
strings, deterministic tie-breaks everywhere.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.skew import salted_join
from ..sources.tables import local_table
from .queries import QueryDef, _t

_SINK_IDS = itertools.count()


# --------------------------------------------------------------------------
# q47 — batch sliding window (1 h window / 30 min slide)
# --------------------------------------------------------------------------

def q47_sliding_window(spark, sf_dir):
    """Sliding-window aggregation: each event lands in window/slide = 2
    overlapping windows. F.window emits the window replicas JVM-side before
    a single keyed shuffle — the same plan Structured Streaming runs with a
    watermark bolted on (streaming/events.py:sliding_window_counts)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# Every event at time t belongs to starts {bucket_30m(t), bucket_30m(t)-30m}:
# for k in {0,1}, start = bucket(t)-k*30m satisfies start <= t < start+1h.
Q47_SQL = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM (
  SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800 - k.k * 1800) AS ws,
         event_type, value
  FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q48 — as-of join: attach each user's latest purchase to every other event
# --------------------------------------------------------------------------

def q48_asof_last_purchase(spark, sf_dir):
    """Temporal as-of join (operators/asof.py): for every non-purchase event,
    the same user's most recent purchase at or before it. One shuffle keyed
    by user_id; no broadcast, no row explosion — the 100 TB-safe plan.
    Oracle: DuckDB's native ASOF LEFT JOIN. (user_id, ts) pairs are unique
    in the data, so both engines are deterministic."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("last_purchase_value"),
    )
    rest = ev.filter(F.col("event_type") != "purchase")
    out = asof_join(
        rest,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        payload=["last_purchase_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "last_purchase_value",
    )


Q48_SQL = """
SELECT e.event_id, e.user_id, e.event_type,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       p.value AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


# --------------------------------------------------------------------------
# q49 — BPE-ish regex tokenization stats per source
# --------------------------------------------------------------------------

_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q49_token_stats(spark, sf_dir):
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs, digit
    runs, single punctuation — the GPT-2 pre-tokenizer shape without the
    unicode categories). Pure map + one tiny aggregate; the regex runs
    JVM-side inside codegen, no Python in the hot path."""
    d = _t(spark, sf_dir, "documents")
    toks = F.coalesce(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0))),
        F.lit(0),
    ).cast("long")
    per_doc = d.select("source", toks.alias("n_tokens"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_tokens"),
    )


Q49_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       max(n_tokens) AS max_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_tokens
FROM per_doc GROUP BY source
"""


# --------------------------------------------------------------------------
# q50 — deterministic salted skew join
# --------------------------------------------------------------------------

def q50_salted_join_agg(spark, sf_dir):
    """Skew-safe join (operators/skew.py): events (fact, hot user keys) ⋈
    customer segment (mid-size dim) with the fact side salted over 8 buckets
    and the dim replicated — each hot key spreads across 8 partitions. Output
    is provably identical to the unsalted join (the oracle IS the unsalted
    join). Segment totals as DECIMAL-exact sums."""
    ev = _t(spark, sf_dir, "events")
    seg = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, seg, on="user_id", salt=8, salt_by="event_id")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


Q50_SQL = """
SELECT c_mktsegment, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q51 — upsert diff classification (§2.10 lifecycle, change-hash F23)
# --------------------------------------------------------------------------

def q51_upsert_diff(spark, sf_dir):
    """The staging-upsert diff surface (reference airtable_updater +
    should_update_record, update_table.py:28-52 / load/airtable.py:15-39):
    full-outer join current↔fetched on the key, per-row change hash, 4-way
    classification. The simulated fetch drops every 7th key (soft deletes),
    rewrites the segment of every 10th (changes) and appends 50 fresh keys
    (adds). One shuffle on the key."""
    cur = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    fetched = (
        cur.filter(k % 7 != 3)
        .withColumn(
            "c_mktsegment",
            F.when(k % 10 == 0, F.lit("RESEGMENTED")).otherwise(F.col("c_mktsegment")),
        )
        .unionByName(
            cur.filter(k < 50).select(
                (k + 1000000).alias("c_custkey"),
                F.concat(F.lit("new-"), k.cast("string")).alias("c_name"),
                "c_nationkey",
                "c_acctbal",
                F.lit("FRESH").alias("c_mktsegment"),
            )
        )
    )
    # Same normalization pipeline as functions/hashing.py:hash_row, but md5 —
    # the DuckDB build here has no sha1(); equality is all that matters.
    ch = F.md5(
        F.regexp_replace(
            F.concat_ws(
                "###",
                F.coalesce(F.col("c_name").cast("string"), F.lit("None")),
                F.coalesce(F.col("c_mktsegment").cast("string"), F.lit("None")),
            ),
            r"[\n\t ]",
            "",
        )
    )
    c = cur.select(k.alias("key"), ch.alias("_cur_hash"))
    f = fetched.select(F.col("c_custkey").alias("key"), ch.alias("_new_hash"))
    j = c.join(f, "key", "full_outer")
    status = (
        F.when(F.col("_cur_hash").isNull(), F.lit("added"))
        .when(F.col("_new_hash").isNull(), F.lit("removed"))
        .when(F.col("_cur_hash") == F.col("_new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("key", status.alias("status"))


# md5(regexp_replace(concat_ws('###', ...), whitespace, '')) mirrors the
# Spark-side change hash exactly.
Q51_SQL = """
WITH fetched AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 10 = 0 THEN 'RESEGMENTED' ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 7 <> 3
  UNION ALL
  SELECT c_custkey + 1000000, 'new-' || CAST(c_custkey AS VARCHAR), 'FRESH'
  FROM customer WHERE c_custkey < 50
),
c AS (
  SELECT c_custkey AS key,
         md5(regexp_replace(concat_ws('###', coalesce(CAST(c_name AS VARCHAR), 'None'),
                                       coalesce(CAST(c_mktsegment AS VARCHAR), 'None')),
                             '[\\n\\t ]', '', 'g')) AS cur_hash
  FROM customer
),
f AS (
  SELECT c_custkey AS key,
         md5(regexp_replace(concat_ws('###', coalesce(CAST(c_name AS VARCHAR), 'None'),
                                       coalesce(CAST(c_mktsegment AS VARCHAR), 'None')),
                             '[\\n\\t ]', '', 'g')) AS new_hash
  FROM fetched
)
SELECT coalesce(c.key, f.key) AS key,
       CASE WHEN c.key IS NULL THEN 'added'
            WHEN f.key IS NULL THEN 'removed'
            WHEN cur_hash = new_hash THEN 'unchanged'
            ELSE 'changed' END AS status
FROM c FULL OUTER JOIN f ON c.key = f.key
"""


# --------------------------------------------------------------------------
# q52 — non-equi band join (broadcast range join)
# --------------------------------------------------------------------------

_TIERS = [
    ("bronze", 0.0, 50.0),
    ("silver", 50.0, 150.0),
    ("gold", 150.0, 300.0),
    ("platinum", 300.0, 1000.0),
]


def q52_band_join(spark, sf_dir):
    """Range/banding join: events bucketed into value tiers via a non-equi
    join against a broadcast 4-row dimension — BroadcastNestedLoopJoin, the
    right physical plan when the dim is tiny; at scale with a large band
    table this becomes a bucketized equi-join instead. Inclusive-exclusive
    [lo, hi) bands, disjoint by construction."""
    ev = _t(spark, sf_dir, "events")
    tiers = local_table(spark, _TIERS, "tier string, lo double, hi double")
    cond = (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    return (
        ev.join(F.broadcast(tiers), cond, "inner")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


Q52_SQL = """
WITH tiers(tier, lo, hi) AS (
  VALUES ('bronze', 0.0, 50.0), ('silver', 50.0, 150.0),
         ('gold', 150.0, 300.0), ('platinum', 300.0, 1000.0)
)
SELECT tier, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN tiers ON value >= lo AND value < hi
GROUP BY tier
"""


# --------------------------------------------------------------------------
# q53 — Structured Streaming replay, oracle-checked
# --------------------------------------------------------------------------

def q53_stream_tumbling(spark, sf_dir):
    """The streaming pipeline itself (not the batch twin): replay the events
    parquet through a file-source stream → watermark → tumbling-window
    aggregate → memory sink, then hand the sink table to the oracle compare.
    Proves the streaming plan computes exactly the batch answer (q32's
    premise) — complete output mode, availableNow trigger."""
    import os  # noqa: PLC0415

    from ..streaming.events import (  # noqa: PLC0415
        run_to_memory,
        source_bytes_of,
        stream_events,
    )

    name = f"q53_sink_{next(_SINK_IDS)}"

    def build(s):
        return (
            s.withWatermark("ts", "4 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            )
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n",
                "sum_value",
            )
        )

    # SPARK_GRAFT_STREAM_RECOVERY=1: kill-and-resume invariance axis —
    # complete-mode aggregate through the memory+checkpoint harness (run 2
    # skips run 1's committed files, so the full table only reappears if the
    # window state came back from the state store). Oracle unchanged.
    if os.environ.get("SPARK_GRAFT_STREAM_RECOVERY") == "1":
        from ..streaming.events import (  # noqa: PLC0415
            replay_with_recovery_memory,
            ts_ordered_halves,
        )

        ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        out, _progress = replay_with_recovery_memory(
            spark, ts_ordered_halves(ev), build, name, mode="complete"
        )
        return out
    src = f"{sf_dir}/events.parquet"
    run_to_memory(
        build(stream_events(spark, src)), name, mode="complete",
        source_bytes=source_bytes_of(src),
    )
    return spark.table(name)


Q53_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q54 — multimodal binary round-trip (encode → sniff → Arrow-batched decode)
# --------------------------------------------------------------------------

def q54_multimodal_decode(spark, sf_dir):
    """Binary-column plumbing end-to-end with a REAL codec: synthesize an
    actual PNG per document (stdlib encoder — zlib IDAT, CRC chunks; top
    half rows at ``lum``, bottom at ``255 - lum``), sniff its format from
    magic bytes (JVM-side hex), then zlib-inflate + unfilter it back to
    features through mapInPandas (operators/multimodal.py). The oracle never
    sees the bytes — it states the closed-form mean luminance of the
    two-tone image, so a hash match proves a real encode→decode round trip.
    (The compressed payload size is zlib-dependent, hence not oracled.)"""
    import pandas as pd  # noqa: PLC0415

    from ..operators.multimodal import (  # noqa: PLC0415
        attach_media_metadata,
        decode_image_features,
        make_png,
    )

    @F.pandas_udf("binary")
    def encode_png(w: pd.Series, h: pd.Series, lum: pd.Series) -> pd.Series:
        return pd.Series(
            [make_png(int(a), int(b), int(c)) for a, b, c in zip(w, h, lum)]
        )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") % 64 + 1).cast("int").alias("w"),
        (F.col("doc_id") % 48 + 1).cast("int").alias("h"),
        (F.col("doc_id") % 256).cast("int").alias("lum"),
    )
    media = attach_media_metadata(
        d.withColumn("media", encode_png("w", "h", "lum")), "media"
    )
    feats = decode_image_features(
        media, "media", passthrough=["doc_id", "media_format"]
    )
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_luminance", 9).alias("mean_luminance"),
        "media_format",
    )


# two-tone image: floor(h/2) rows at lum, the rest at 255-lum
Q54_SQL = """
SELECT doc_id,
       CAST(n_chars % 64 + 1 AS INTEGER) AS width,
       CAST(doc_id % 48 + 1 AS INTEGER) AS height,
       round((CAST((doc_id % 48 + 1) // 2 AS DOUBLE) * (doc_id % 256)
              + ((doc_id % 48 + 1) - (doc_id % 48 + 1) // 2) * (255 - doc_id % 256))
             / ((doc_id % 48 + 1) * 255.0), 9) AS mean_luminance,
       'png' AS media_format
FROM documents
"""


# --------------------------------------------------------------------------
# q55 — exact interpolated percentiles
# --------------------------------------------------------------------------

def q55_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation on the sorted values) of order
    totals per priority — Spark's percentile() against DuckDB quantile_cont.
    Exact percentiles need the full group sorted; at 100 TB swap in
    approx_percentile (t-digest, mergeable, bounded memory) — same API shape,
    which is why the exact form is worth pinning down here."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


Q55_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q56 — ROLLUP with grouping flags
# --------------------------------------------------------------------------

def q56_rollup_revenue(spark, sf_dir):
    """Hierarchical ROLLUP (region → nation → grand total) of order revenue
    with explicit grouping flags. One shuffle; the rollup replicates rows per
    grouping set map-side and partial-aggregates before the exchange."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            # grouping() is only defined inside the grouping-sets aggregate
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("n_name").cast("long").alias("g_nation"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .select("r_name", "n_name", "g_region", "g_nation", "n_orders", "revenue")
    )


Q56_SQL = """
SELECT r_name, n_name,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


EXT2_REGISTRY = {
    "q47_sliding_window": QueryDef(q47_sliding_window, Q47_SQL, "§2.12 sliding window (batch twin)"),
    "q48_asof_last_purchase": QueryDef(q48_asof_last_purchase, Q48_SQL, "as-of join (custom operator)"),
    "q49_token_stats": QueryDef(q49_token_stats, Q49_SQL, "token counting (training-data ext)"),
    "q50_salted_join_agg": QueryDef(q50_salted_join_agg, Q50_SQL, "J2 + skew salting (§4.2)"),
    "q51_upsert_diff": QueryDef(q51_upsert_diff, Q51_SQL, "§2.10 J3 F23 K6"),
    "q52_band_join": QueryDef(q52_band_join, Q52_SQL, "range/band join (custom operator)"),
    "q53_stream_tumbling": QueryDef(q53_stream_tumbling, Q53_SQL, "§2.12 streaming replay"),
    "q54_multimodal_decode": QueryDef(q54_multimodal_decode, Q54_SQL, "multimodal binary plumbing"),
    "q55_percentiles": QueryDef(q55_percentiles, Q55_SQL, "exact percentiles (agg ext)"),
    "q56_rollup_revenue": QueryDef(q56_rollup_revenue, Q56_SQL, "rollup/grouping (agg ext)"),
}
