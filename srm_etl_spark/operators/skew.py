"""Skew-mitigation operators: salted join and two-stage salted aggregation.

At 100 TB a handful of heavy-hitter keys (the reference's welfare-ministry
org owns a large share of all branches — SURVEY §4.2) turn one shuffle
partition into the whole job's critical path. AQE's skew-join splitting
covers sort-merge joins; these utilities cover the remaining cases —
shuffled hash joins against a mid-size dimension and heavy-hitter
aggregations with expensive per-group state — with *deterministic* salting
so results are reproducible and oracle-checkable.

Mechanics of ``salted_join``: the big (skewed) side gets a salt in
``[0, salt)`` derived by hashing a deterministic column; the small side is
replicated ``salt`` times via ``explode(sequence(...))``. The join key
becomes (key, salt), spreading each hot key over ``salt`` partitions. Row
multiplicity is unchanged — output is identical to the unsalted join.

Cost model: replication multiplies the small side by ``salt`` — use for a
dimension that is too big to broadcast but far smaller than the fact side;
pick ``salt`` ≈ (hot-key rows / target partition rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "_skew_salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    salt: int = 16,
    salt_by: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the hot keys of ``big`` spread over ``salt`` buckets.

    ``salt_by``: column of ``big`` whose hash drives the salt (defaults to
    the first non-key column — any column works; a near-unique one spreads
    best). Deterministic: same input rows → same salt → same plan shape.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if salt_by is None:
        candidates = [c for c in big.columns if c not in keys]
        if not candidates:
            raise ValueError("big side needs a non-key column to salt by")
        salt_by = candidates[0]

    big_salted = big.withColumn(_SALT, F.pmod(F.xxhash64(F.col(salt_by)), F.lit(salt)))
    small_replicated = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn(_SALT, F.col(_SALT).cast("bigint"))
    return big_salted.join(small_replicated, [*keys, _SALT], how).drop(_SALT)


def skew_report(
    df: DataFrame, keys: list[str] | str, top: int = 10
) -> DataFrame:
    """Key-distribution diagnostic: the data a planner (or engineer) reads
    before choosing broadcast / salt / AQE settings for a join or aggregate
    on ``keys``.

    Output: the ``top`` heaviest keys, each with its row count, its share of
    the table, the ratio to the mean key weight (``skew_factor`` — ~1 means
    uniform; the welfare-ministry org in the reference shows up here), and
    the salt bucket count that would level it to the mean
    (``suggested_salt`` = ceil(skew_factor)).

    One hash aggregate over the table + a global top-k over the (distinct
    keys)-row aggregate — the heavy lifting is map-side combined.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("key_rows"))
    # totals as a single-row aggregate broadcast back over the key frame — a
    # global window here would funnel EVERY distinct key through one
    # partition (the plan-audit anti-pattern this module exists to avoid)
    totals = counts.agg(
        F.sum("key_rows").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_nkeys"),
    )
    mean = F.col("_total") / F.col("_nkeys")
    ranked = counts.crossJoin(F.broadcast(totals)).select(
        *keys,
        "key_rows",
        (F.col("key_rows") / F.col("_total")).alias("share"),
        (F.col("key_rows") / mean).alias("skew_factor"),
        F.ceil(F.col("key_rows") / mean).cast("long").alias("suggested_salt"),
    )
    order = [F.col("key_rows").desc()] + [F.col(k).asc() for k in keys]
    # orderBy + limit collapses to TakeOrderedAndProject: per-partition local
    # top-k, then a bounded merge — no single-partition sort of the key frame
    return ranked.orderBy(*order).limit(top)
