"""Relational building blocks mirroring the reference's processor vocabulary.

Most of these are one-liners over the DataFrame API on purpose: the point is
to give the reference's pipeline vocabulary (SURVEY §2.3/2.4/2.8) a stable,
tested home, not to wrap Spark. Anything Catalyst already optimizes (pushdown,
join strategy) is left to Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# U1 — union with column mapping/coalescing (reference to_es.py:193-196)

def concatenate(dfs: list[DataFrame], fields: list[str] | None = None) -> DataFrame:
    """Union N frames by name, tolerating missing columns (filled with NULL)."""
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    if fields:
        out = out.select(*fields)
    return out


# Entity resolution: normalize -> block -> fuzzy-match -> cluster -> assign.
# The composed form of the reference's org-matching flow (fuzzy_join J7 +
# the pandas groupby dedup of operators/derive/to_dp.py:237-286), closed
# under transitivity by connected components.

def resolve_entities(
    records: DataFrame,
    name_col: str,
    id_col: str,
    block_expr: Column,
    max_edits: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Resolve noisy records to canonical entities: records whose normalized
    names sit within ``max_edits`` Levenshtein edits inside a blocking bucket
    are matched, matches are closed transitively (min-label connected
    components), and every record — singleton or clustered — gets
    ``entity_id`` (the min record id of its cluster) and ``entity_size``.

    ``name_col`` must already hold the normalized form (compose with
    ``clean_org_name``/``lower`` upstream); ``block_expr`` is the blocking
    key Column evaluated against ``records``.

    Scale shape: candidate pairs come from a self-equi-join on the blocking
    key — shuffle is hash(block), work is sum(block²), never corpus² —  so
    block selectivity is the knob (the q113 demo blocks on the first two
    name tokens; production keys add length buckets / phonetic codes). The
    in-block compare uses Spark's thresholded ``levenshtein(l, r, max)``
    which abandons a pair once it exceeds ``max_edits`` (O(max·len) per
    pair, not O(len²)). Entity assignment is one left join against the CC
    labels plus a map-side-combinable size count.

    ``max_block_size`` bounds PER-TASK pair generation when the blocking key
    has heavy keys (a stopword-like first token puts a whole registry slice
    in one block, and one task then owns block² comparisons — the q50
    skew-salting precedent): every block of size B > cap is salt-split into
    S = ceil(B / cap) deterministic sub-blocks by record-id hash; the LEFT
    role replicates to all S sub-blocks and joins the right role's single
    sub-block, so every unordered pair is still generated EXACTLY once
    (identical match results) but a task owns at most B·cap comparisons
    instead of B². Total work is unchanged — blocks that exceed the cap by
    orders of magnitude are a blocking-key-design problem, not a salting
    problem — but no single straggler task owns a heavy block.
    """
    from .graph import connected_components  # noqa: PLC0415

    pairs = _blocked_edit_pairs(
        records, name_col, id_col, block_expr, max_edits, max_block_size
    )
    cc = connected_components(pairs, "left_id", "right_id")
    assigned = (
        records.select(F.col(id_col).alias("record_id"))
        .join(cc.select(F.col("node").alias("record_id"), "component"), "record_id", "left")
        .select(
            "record_id",
            F.coalesce("component", F.col("record_id")).alias("entity_id"),
        )
    )
    # map-side-combinable size count joined back: the partial aggregate
    # shrinks each task's contribution to one row per entity before the
    # shuffle, where a count-window would buffer the largest entity's full
    # row set in a single task
    sizes = assigned.groupBy("entity_id").agg(F.count(F.lit(1)).alias("entity_size"))
    return assigned.join(sizes, "entity_id").select(
        "record_id", "entity_id", "entity_size"
    )


def _blocked_edit_pairs(
    records: DataFrame,
    name_col: str,
    id_col: str,
    block_expr: Column,
    max_edits: int,
    max_block_size: int | None,
) -> DataFrame:
    """resolve_entities' candidate-pair stage, factored out so the salt-split
    plan is directly inspectable (the final entity frame is lineage-truncated
    by connected_components' checkpoints, which hides the salt stage from its
    optimized plan). Returns (left_id, right_id) matches within
    ``max_edits``."""
    if max_block_size is not None and max_block_size < 1:
        raise ValueError("max_block_size must be >= 1")
    base = records.select(
        F.col(id_col).alias("_rid"), F.col(name_col).alias("_nm"), block_expr.alias("_blk")
    )
    if max_block_size is not None:
        sizes = base.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bn"))
        # one extra shuffle on _blk (the same key the pair join shuffles on);
        # S = 1 for every block under the cap, so the common case reduces to
        # the unsalted join with a constant-zero salt column
        # distinct names, not _S/_s — Spark's default case-INSENSITIVE
        # resolution would make the second withColumn overwrite the first
        salted = base.join(sizes, "_blk").withColumn(
            "_nsplit",
            F.ceil(F.col("_bn") / F.lit(max_block_size)).cast("int"),
        ).withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("_rid").cast("string")), F.col("_nsplit")).cast("int"),
        )
        l = (
            salted.withColumn(
                "_t", F.explode(F.sequence(F.lit(0), F.col("_nsplit") - 1))
            )
            .select("_rid", "_nm", "_blk", "_t")
            .alias("l")
        )
        r = salted.select("_rid", "_nm", "_blk", F.col("_salt").alias("_t")).alias("r")
        join_cond = (
            (F.col("l._blk") == F.col("r._blk"))
            & (F.col("l._t") == F.col("r._t"))
            & (F.col("l._rid") < F.col("r._rid"))
        )
    else:
        l, r = base.alias("l"), base.alias("r")
        join_cond = (F.col("l._blk") == F.col("r._blk")) & (
            F.col("l._rid") < F.col("r._rid")
        )
    return (
        l.join(r, join_cond)
        .withColumn("_dist", F.levenshtein(F.col("l._nm"), F.col("r._nm"), max_edits))
        .filter(F.col("_dist") >= 0)  # thresholded form returns -1 past max
        .select(F.col("l._rid").alias("left_id"), F.col("r._rid").alias("right_id"))
    )


# F27 — strict enum mapping (reference entities/__init__.py:396-520: when-
# cascades guarded by `assert` on unknown vocabulary)

def enum_map(col: Column, mapping: dict, strict: bool = True) -> Column:
    """Map an enum column through a literal dict; unknown values either fail
    the job (``raise_error`` — the reference's assert, surfacing vocabulary
    drift at run time) or pass through as NULL."""
    expr = None
    for k, v in mapping.items():
        cond = col == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    if expr is None:
        raise ValueError("enum_map requires a non-empty mapping")
    if strict:
        fallback = F.when(
            col.isNull(), F.lit(None)
        ).otherwise(
            F.raise_error(F.concat(F.lit("enum_map: unknown value: "), col.cast("string")))
        )
        return expr.otherwise(fallback)
    return expr.otherwise(F.lit(None))


# F28 — `data` envelope pack/unpack (reference srm_tools/processors.py:20-50,
# mde_utils.py:171-181): the Airtable protocol rides row payloads in a single
# object column.

def pack_data(df: DataFrame, cols: list[str], out_col: str = "data") -> DataFrame:
    """Fold ``cols`` into one struct column (the fetch-side envelope)."""
    return df.select(
        *[c for c in df.columns if c not in cols],
        F.struct(*[F.col(c) for c in cols]).alias(out_col),
    )


def unpack_data(df: DataFrame, data_col: str = "data") -> DataFrame:
    """Spread the envelope struct back onto top-level columns (update_data
    flow step); envelope fields win on name collision."""
    keep = [c for c in df.columns if c != data_col]
    spread = [f"{data_col}.{f.name}" for f in df.schema[data_col].dataType.fields]
    names = {f.name for f in df.schema[data_col].dataType.fields}
    return df.select(*[c for c in keep if c not in names], *spread)


# A7 — implements-merge (reference merge_duplicate_services, to_dp.py:409-447):
# a service row can declare it `implements` another source's service; the
# implemented original must not ALSO surface for orgs that implement it.

def implements_merge(
    services: DataFrame,
    id_col: str = "id",
    org_col: str = "organization",
    implements_col: str = "implements",
) -> DataFrame:
    """Drop rows shadowed by an implementing service.

    The reference sorts implementors first and keeps a driver-side seen-set
    (order-dependent streaming scan); the Spark reformulation is order-free
    (SURVEY §7.2 watch-list #2): build the (implemented id, implementing org)
    set, then left-anti join originals against it — one small shuffle keyed
    by the service id, broadcastable when the implementor set is small.
    """
    implemented = (
        services.filter(F.col(implements_col).isNotNull())
        .select(
            F.col(implements_col).alias(id_col),
            F.col(org_col).alias("_impl_org"),
        )
        .distinct()
    )
    return services.join(
        implemented,
        on=[
            services[id_col] == implemented[id_col],
            services[org_col] == implemented["_impl_org"],
        ],
        how="left_anti",
    )


