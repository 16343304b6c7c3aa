"""Shared pieces of the query registry: the ``QueryDef`` record, the table
loader every plan reads through, oracle SQL fragments that more than one
family uses, and the scalar-output contract.

Conventions that keep the driver's order-insensitive value-hash comparison
stable across every family module:

- every computed column is aliased identically in Spark and SQL;
- money sums cast to DECIMAL per row BEFORE summing (exact, order-independent
  arithmetic in both engines), final result cast back to DOUBLE so schemas
  agree;
- plain double aggregates (avgs of well-scaled values) are rounded, keeping
  results far from representation noise;
- integer-ish outputs are cast to LONG (DuckDB counts/lens are BIGINT);
- timestamps in outputs are formatted as strings (engine-neutral).

Scalar-output contract: the external correctness harness canonicalizes query
output with ``pandas.sort_values``, which cannot hash list cells, so an
array-typed column in a final projection makes a query un-checkable (it
errors, it doesn't mismatch). Every registry query therefore stringifies
array columns in its final projection, with the SAME encoding on the Spark
side and the DuckDB oracle side so the value hashes stay comparable:

* Spark:  ``coalesce(array_join(col, '|'), '')``
* DuckDB: ``coalesce(array_to_string(col, '|'), '')``

Both engines skip NULL elements inside the list, and both collapse NULL
lists and empty lists to ``''`` (DuckDB's ``array_to_string([])`` returns
NULL — the known empty-list gotcha — hence the coalesce on both sides).
``tests/test_registry_contract.py`` asserts the contract over the whole
registry; ``tools/check_correctness.py`` rejects complex-typed outputs so a
local green run implies a driver-green run.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions import text as TXT
from ..sources.tables import load_table


class QueryDef(NamedTuple):
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    covers: str  # SURVEY §2 operator ids


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Shared between Spark and the oracle so the two stay in lockstep.
_NORM = "trim(regexp_replace(regexp_replace(lower(coalesce({c}, '')), '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"


_STOP_SQL = "['" + "','".join(TXT._STOPWORDS) + "']"


Q28_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         list_distinct(list_filter(string_split({_NORM.format(c='text')}, ' '), t -> t != '')) AS tok
  FROM documents
)
SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       round(CAST(len(list_intersect(l.tok, r.tok)) AS DOUBLE)
             / len(list_distinct(list_concat(l.tok, r.tok))), 4) AS jaccard
FROM toks l JOIN toks r ON l.source = r.source AND l.doc_id < r.doc_id
WHERE CAST(len(list_intersect(l.tok, r.tok)) AS DOUBLE)
      / len(list_distinct(list_concat(l.tok, r.tok))) >= 0.5
"""


# The OLC oracle replicates the public spec digit-by-digit: base-20 pairs over
# the shifted (lat+90, lon+180) grid at 1/8000 deg, '+' after digit 8, 5x4
# refinement for digit 11 — identical IEEE double math on both engines.
_OLC_D = (
    "substr('23456789CFGHJMPQRVWX', "
    "CAST(floor({v} / {div}) % 20 AS INT) + 1, 1)"
)


def _olc_sql(lat_expr: str, lon_expr: str, code_length: int = 11) -> str:
    latc = f"(least(greatest({lat_expr}, -90.0), 90.0) + 90.0)"
    lonc = f"(((({lon_expr}) + 180.0) % 360.0 + 360.0) % 360.0)"
    lat_i = f"least(floor({latc} * 8000), 1439999)"
    lon_i = f"floor({lonc} * 8000)"
    digs = []
    for i in range(5):
        div = 20 ** (4 - i)
        digs.append((_OLC_D.format(v=lat_i, div=div), _OLC_D.format(v=lon_i, div=div)))
    code10 = " || ".join(
        [d for pair in digs[:4] for d in pair] + ["'+'"] + list(digs[4])
    )
    lat_frac = f"({latc} * 8000 - floor({latc} * 8000))"
    lon_frac = f"({lonc} * 8000 - floor({lonc} * 8000))"
    if code_length <= 10:
        return code10
    idx = (
        f"(CAST(least(floor({lat_frac} * 5), 4) AS INT) * 4"
        f" + CAST(least(floor({lon_frac} * 4), 3) AS INT))"
    )
    d11 = f"substr('23456789CFGHJMPQRVWX', {idx} + 1, 1)"
    return f"{code10} || {d11}"


_BPE_SQL = r"CAST(len(regexp_extract_all({c}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)"


# CTE chain through the final assignment (a2) — shared with q112's SemDeDup
# oracle, which prunes within the same deterministic clusters.
Q83_CORE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v
       FROM e ORDER BY vec_id LIMIT 8),
a1 AS (SELECT vec_id, v, cid FROM (
         SELECT e.vec_id, e.v, c.cid,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  list_sum(list_transform(list_zip(e.v, c.v),
                                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
         FROM e CROSS JOIN c0 c) WHERE rn = 1),
c1 AS (SELECT cid, list(val ORDER BY pos) AS v FROM (
         SELECT cid, pos, round(CAST(list_reduce(list_sort(list(CAST(x AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(x), 6) AS val FROM (
           SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a1)
         GROUP BY cid, pos)
       GROUP BY cid),
a2 AS (SELECT vec_id, v, cid FROM (
         SELECT e.vec_id, e.v, c.cid,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  list_sum(list_transform(list_zip(e.v, c.v),
                                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
         FROM e CROSS JOIN c1 c) WHERE rn = 1)"""


_DSIR_B = 256


# DSIR scoring chain as a spliceable fragment: __DSRC__/__DTGT__ are
# sentinel CTE names providing (doc_id, norm) — q164 binds the raw/target
# document splits, q166 binds the curated corpus and the same eval target.
_DSIR_SCORED_T = f"""rtoks AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS t FROM __DSRC__
), ttoks AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS t FROM __DTGT__
), rgrams AS (
  SELECT doc_id, unnest(list_concat(t,
    CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(t) - 1),
                             i -> t[i] || ' ' || t[i + 1]) END)) AS gram
  FROM rtoks
), tgrams AS (
  SELECT doc_id, unnest(list_concat(t,
    CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
         ELSE list_transform(generate_series(1, len(t) - 1),
                             i -> t[i] || ' ' || t[i + 1]) END)) AS gram
  FROM ttoks
), rbuckets AS (
  SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % {_DSIR_B} AS bucket,
         count(*) AS n
  FROM rgrams GROUP BY 1, 2
), tbuckets AS (
  SELECT CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % {_DSIR_B} AS bucket,
         count(*) AS n
  FROM tgrams GROUP BY 1
), totals AS (
  SELECT (SELECT coalesce(sum(n), 0) FROM tbuckets) AS tot_t,
         (SELECT coalesce(sum(n), 0) FROM rbuckets) AS tot_s
), ratio AS (
  SELECT s.bucket,
         ln((CAST(coalesce(t.n, 0) AS DOUBLE) + 1.0)
            / CAST(x.tot_t + {_DSIR_B} AS DOUBLE))
         - ln((CAST(s.n AS DOUBLE) + 1.0)
              / CAST(x.tot_s + {_DSIR_B} AS DOUBLE)) AS logr
  FROM (SELECT bucket, sum(n) AS n FROM rbuckets GROUP BY bucket) s
  LEFT JOIN tbuckets t ON s.bucket = t.bucket
  CROSS JOIN totals x
), perdoc AS (
  -- b-ascending left fold with a 0.0 seed: the engine's deterministic
  -- summation order reproduced exactly (list_reduce folds left)
  SELECT b.doc_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(
               list(struct_pack(b := b.bucket, v := CAST(b.n AS DOUBLE) * r.logr)
                    ORDER BY b.bucket),
               x -> x.v)),
           (a, v) -> a + v) AS logw
  FROM rbuckets b JOIN ratio r ON b.bucket = r.bucket
  GROUP BY b.doc_id
), scored AS (
  SELECT r.doc_id, coalesce(p.logw, 0.0) AS logw,
         coalesce(p.logw, 0.0)
         + (-ln(-ln(CAST(CAST('0x' || substr(md5(CAST(r.doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                    / {float(1 << 52)}))) AS key
  FROM __DSRC__ r LEFT JOIN perdoc p ON r.doc_id = p.doc_id
)"""


SEP = "|"


def stringify_arrays(df: DataFrame, sep: str = SEP) -> DataFrame:
    """Replace every array-typed column with its ``sep``-joined string.

    Element order is preserved (the upstream plans already emit
    deterministic orderings); NULL arrays and empty arrays both become
    ``''``, matching the DuckDB twin produced by :func:`scalarized_sql`.
    """
    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, ArrayType):
            cols.append(
                F.coalesce(
                    F.array_join(F.col(field.name).cast("array<string>"), sep),
                    F.lit(""),
                ).alias(field.name)
            )
        else:
            cols.append(F.col(field.name))
    return df.select(*cols)


def scalarized_sql(sql: str, array_cols: list[str], sep: str = SEP) -> str:
    """Wrap a DuckDB oracle so ``array_cols`` come back ``sep``-joined.

    Uses ``SELECT * REPLACE`` over the original query as a subselect, so
    column order and every scalar column pass through untouched.
    """
    repl = ", ".join(
        f"coalesce(array_to_string({c}, '{sep}'), '') AS {c}" for c in array_cols
    )
    return f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n)"
