"""Scoring kernels: card relevance boosts and TF-IDF-ish situation scores.

References:
- multiplicative card score   ``operators/derive/to_es.py:24-59``
- autocomplete score (ln+1)^2 ``operators/derive/autocomplete.py:196-197``
- situation/response log-IDF  ``operators/derive/to_dp.py:700-753``
- place score by bbox area    ``operators/derive/to_es.py:169-172``

All native column math (pow/log/sqrt/when) — these evaluate inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_GOV_KINDS = ("משרד ממשלתי", "רשות מקומית", "תאגיד סטטוטורי")


def card_score(
    branch_count: Column,
    national_service: Column,
    service_id: Column,
    service_description: Column,
    phone_number: Column,
    organization_kind: Column,
    service_boost: Column,
) -> Column:
    """Multiplicative relevance boost for a card.

    x10 for non-meser sources, x10 for a real description (len > 5), x10 for
    national services (x5 more when the first phone is short/1-prefixed hotline),
    sqrt(branch_count) (or /10 above 100 branches) for localized services,
    x5 for governmental org kinds, times 10**service_boost; floor 1 before boost.
    """
    bc = F.coalesce(branch_count.cast("double"), F.lit(1.0))
    bc = F.when(bc <= 0, F.lit(1.0)).otherwise(bc)
    score = F.lit(1.0)
    score = score * F.when(service_id.startswith("meser-"), F.lit(1.0)).otherwise(F.lit(10.0))
    score = score * F.when(
        service_description.isNotNull() & (F.length(service_description) > 5), F.lit(10.0)
    ).otherwise(F.lit(1.0))
    hotline = phone_number.isNotNull() & (
        (F.length(phone_number) <= 5) | phone_number.startswith("1")
    )
    national = F.coalesce(national_service, F.lit(False))
    score = score * F.when(
        national, F.lit(10.0) * F.when(hotline, F.lit(5.0)).otherwise(F.lit(1.0))
    ).otherwise(F.when(bc > 100, bc / 10.0).otherwise(F.sqrt(bc)))
    score = score * F.when(organization_kind.isin(*_GOV_KINDS), F.lit(5.0)).otherwise(F.lit(1.0))
    score = F.greatest(score, F.lit(1.0))
    boost = F.coalesce(service_boost.cast("double"), F.lit(0.0))
    return score * F.pow(F.lit(10.0), boost)


def idf_score_table(
    pairs: DataFrame, group_col: str, item_col: str, score_col: str = "score"
) -> DataFrame:
    """log(total_group / freq_item_in_group) score table.

    The reference computes, per response, the log of (total situation
    frequency / per-situation frequency) and keeps the small result table in
    driver memory. Here it is a DataFrame: two chained aggregations with a
    window for the group total — small enough to broadcast into the scoring
    join at any scale because its cardinality is |taxonomy|^2, independent of
    fact-table size.

    Input: one row per (group, item) occurrence. Output: distinct
    (group, item, score).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    freq = pairs.groupBy(group_col, item_col).agg(F.count("*").alias("_freq"))
    total = Window.partitionBy(group_col)
    return freq.select(
        group_col,
        item_col,
        F.log(F.sum("_freq").over(total) / F.col("_freq")).alias(score_col),
    )


def logistic_score(features: dict[str, float], bias: float = 0.0) -> Column:
    """Linear model + sigmoid over feature columns: the model-based quality
    filter shape (FineWeb-edu / Llama-style classifier gating), expressed as
    pure codegen so the score runs JVM-side at full scan speed.

    ``features`` maps column name -> weight; the column is the inference
    surface. A production classifier swaps this linear scorer for an
    Arrow-batched model kernel (the multimodal operators establish that
    escalation path); the plumbing — score column, threshold gate, audit
    emit — is identical.
    """
    z: Column = F.lit(float(bias))
    for col_name, w in sorted(features.items()):
        z = z + F.lit(float(w)) * F.col(col_name)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
