"""Bloom-filter semi-join pruning — the engine's runtime-filter primitive.

Spark's own row-level runtime filtering (`spark.sql.optimizer.runtime.
bloomFilter.enabled`) injects the same construct automatically inside a
single query; this operator makes it available *across* statements — build a
filter from one table once, prune scans of any number of other tables with
it — which is how a 100 TB pipeline avoids shuffling a fact table into a
semi-join whose build side would have discarded 99% of the rows anyway.

Shape:
- **build** (distributed): k bit-positions per key via seeded ``xxhash64``,
  OR-combined per 64-bit word by a ``bit_or`` hash aggregate — one shuffle of
  at most ``num_bits/64`` rows, regardless of build-side cardinality;
- **ship** (driver): the finished filter is ``num_bits/64`` longs (a 1 Mbit
  filter is 16 KB) — collected once and inlined as an array literal, so the
  probe needs no broadcast variable, no UDF, no Python;
- **probe** (codegen): ``element_at(words, pos div 64) >> (pos % 64) & 1``
  conjoined over the k seeds — whole-stage-codegen expressions that sit
  directly on top of the scan, before any shuffle.

False positives are inherent to the filter, so :func:`bloom_semi_join`
finishes with the exact semi-join — the bloom stage only shrinks what reaches
the shuffle; the result set is exactly the plain semi-join's (which is what
the q69 oracle checks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_table

_SEEDS = (41, 59, 97, 131)


def _positions(col: Column, num_bits: int, k: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(num_bits))
        for seed in _SEEDS[:k]
    ]


def build_bloom(
    df: DataFrame, key_col: str, num_bits: int = 1 << 20, k: int = 4
) -> list[int]:
    """Distributed bloom build: returns the filter as ``num_bits/64`` longs.

    The only driver-side data is the finished word array (``num_bits/64 × 8``
    bytes); build-side cardinality never reaches the driver. Sizing: false
    positive rate ≈ (1 - e^(-k·n/m))^k — the 2^20-bit default holds ~1% at
    n = 10^5 distinct keys; size m ≈ 10·n bits for that rate at other scales.
    """
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    n_words = num_bits // 64
    key = F.col(key_col).cast("string")
    pos = F.explode(F.array(*_positions(key, num_bits, k))).alias("_pos")
    words = (
        df.select(pos)
        .select(
            (F.col("_pos") / 64).cast("long").alias("_w"),
            F.expr("shiftleft(1L, CAST(_pos % 64 AS INT))").alias("_bit"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(_bit)").alias("_mask"))
        .collect()
    )
    out = [0] * n_words
    for row in words:
        out[int(row["_w"])] = int(row["_mask"])
    return out


def _probe_expr(key: Column, arr: Column, num_bits: int, k: int) -> Column:
    conds = None
    for pos in _positions(key, num_bits, k):
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        # (word >> (pos % 64)) & 1 == 1 — shift amount must be a column, so
        # route through SQL's shiftright which accepts expressions there
        shifted = _shiftright_col(word, (pos % 64).cast("int"))
        c = shifted.bitwiseAND(F.lit(1)) == 1
        conds = c if conds is None else (conds & c)
    return conds


# Literal-inline cutoff: 2^11 longs = 2^17 bits = 16 KiB. Below, the filter
# rides in the expression tree and sits directly on the scan; above, it ships
# once per executor as a broadcast single-row table.
_LITERAL_WORDS_MAX = 2048


def with_bloom_probe(
    df: DataFrame,
    key_col: str,
    words: list[int],
    num_bits: int,
    k: int = 4,
    out_col: str = "_bloom_maybe",
) -> DataFrame:
    """``df`` plus a boolean ``out_col``: bloom membership verdict per row.

    Small filters are inlined as literals (zero plan nodes added, predicate
    evaluable at the scan). Large filters are shipped as a one-row broadcast
    table and probed through a column reference — the filter then moves as
    *data* (one broadcast per executor), not as plan, so a 2^20-bit filter
    costs 128 KiB on the wire instead of megabyte task binaries and a
    16 K-child expression re-analyzed at every tree pass."""
    key = F.col(key_col).cast("string")
    if len(words) <= _LITERAL_WORDS_MAX:
        return df.withColumn(out_col, _probe_expr(key, F.lit(words), num_bits, k))
    wdf = local_table(df.sparkSession, [(words,)], "_bloom_words: array<long>")
    return (
        df.join(F.broadcast(wdf))
        .withColumn(out_col, _probe_expr(key, F.col("_bloom_words"), num_bits, k))
        .drop("_bloom_words")
    )


def _shiftright_col(value: Column, amount: Column) -> Column:
    """``value >> amount`` with a column shift amount (the Python
    ``F.shiftright`` only takes literal ints)."""
    return F.call_function("shiftright", value, amount)


def bloom_prefilter(
    df: DataFrame, key_col: str, words: list[int], num_bits: int, k: int = 4
) -> DataFrame:
    """Scan-side prune: keep rows whose key *may* be in the filter."""
    return (
        with_bloom_probe(df, key_col, words, num_bits, k)
        .filter(F.col("_bloom_maybe"))
        .drop("_bloom_maybe")
    )


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    num_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Exact semi-join with a bloom pre-filter on the probe side.

    Result set is identical to ``probe.join(build, key, 'left_semi')`` — the
    bloom stage removes (typically almost all) non-matching probe rows
    *before* the shuffle; the final semi-join removes the false positives.
    """
    words = build_bloom(build, build_key, num_bits=num_bits, k=k)
    pruned = bloom_prefilter(probe, probe_key, words, num_bits, k=k)
    cond = pruned[probe_key] == build[build_key]
    return pruned.join(build.select(build_key).distinct(), cond, "left_semi")
