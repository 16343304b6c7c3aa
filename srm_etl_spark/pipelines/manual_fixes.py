"""Curator manual-fixes applier, Spark-first.

Reference ``operators/derive/manual_fixes.py:65-152`` (called from
``operators/derive/from_curation.py:91-178``): rows carry a ``fixes`` array
of fix-record ids; each fix is ``(field, current_value, fixed_value)``. A
fix rewrites ``row[field] = fixed_value`` only when the row's actual value
equals ``current_value`` — or ``current_value == '*'`` (wildcard). For the
``responses``/``situations`` tag fields both sides compare through
``normalize_ids`` (comma-split → strip → drop empties → dedup → sort →
comma-join) and the row's array value compares as its sorted comma-join.
Fixes on one row apply IN ORDER, each seeing the previous fix's output
(the reference mutates the row in place). Every fix that was *referenced*
gets an ``etl_status`` write-back row: ``Active`` if it applied to at least
one row anywhere, else ``Obsolete`` (``finalize``, :137-152).

Spark shape: the fixes table is a broadcast dimension; the per-row ordered
fix chain is rebuilt with ``posexplode`` → broadcast join → ``array_sort``
re-collect; the in-order conditional rewrite is a native ``F.aggregate``
fold per fixable field (state = ``struct(val, applied)``), so chained fixes
compose without any Python in the hot path. The fixable-field list is read
off the fixes dimension driver-side (bounded: it is an Airtable curation
table, never more than a few hundred rows). Null semantics use null-safe
equality: a null actual matches a null ``current_value`` (Python
``None == None``), while ``'*'`` never matches through a null comparison.

Divergence (documented): after a fix, the reference leaves a *string* in a
normally-array ``responses``/``situations`` cell; a Spark column has one
type, so this applier emits the normalized comma-join string for those
fields on EVERY row (fixed or not) — the same serialization the Airtable
sink would write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LIST_FIELDS = ("responses", "situations")


def normalize_ids(slugs: Column) -> Column:
    """``normalize_ids`` (manual_fixes.py:63-65): comma-split, strip each,
    drop empties, dedup, sort, comma-join. Null → ''."""
    # one-arg lambda, not bare F.trim: trim(col, trimstr) is 2-ary, and
    # F.transform hands a 2-ary callable the element INDEX as arg 2
    parts = F.transform(F.split(F.coalesce(slugs, F.lit("")), ","), lambda x: F.trim(x))
    return F.array_join(F.array_sort(F.array_distinct(F.filter(parts, lambda x: x != ""))), ",")


def _norm_actual(df: DataFrame, field: str) -> Column:
    """The row-side comparable form: list fields sort-join (``','.join(
    sorted(actual or []))``), scalars pass through."""
    if field in LIST_FIELDS:
        return F.array_join(F.array_sort(F.coalesce(F.col(field), F.array().cast("array<string>"))), ",")
    return F.col(field)


def apply_manual_fixes(
    rows: DataFrame,
    fixes: DataFrame,
    *,
    id_col: str = "id",
    fixes_col: str = "fixes",
    strict: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Apply a fixes dimension to ``rows``; return ``(fixed_rows, status)``.

    ``fixes`` columns: ``fix_id, field, current_value, fixed_value``.
    ``status`` columns: ``fix_id, etl_status`` — one row per *referenced*
    fix, ``Active``/``Obsolete`` (manual_fixes.py:102-131,137-152).

    ``strict=True`` mirrors the reference's AssertionError on a referenced
    fix id that is missing from the dimension (:79-99, after its one-shot
    view-less reload): the check runs as one bounded aggregate on the
    exploded references, not per row.

    ``id_col`` must be unique among rows that carry fixes — the per-row
    chain is rebuilt by grouping on it, so two rows sharing an id would
    see each other's fixes (the reference applies per physical row; its
    rows are keyed by unique Airtable record ids). ``strict=True`` verifies
    this with one aggregate over the (small) exploded reference set.
    """
    # Normalize the dimension once: tag-field current/fixed values compare
    # (and write back) in normalized form (:108-118).
    is_list = F.col("field").isin(*LIST_FIELDS)
    dim = fixes.select(
        F.col("fix_id"),
        F.col("field"),
        # eqNullSafe, not !=: a NULL current_value on a list field must take
        # the normalize branch (reference runs normalize_ids(None) -> '',
        # which then matches rows whose responses/situations are empty); a
        # null-gated != would leave cur NULL and the fix could never fire.
        F.when(
            is_list & ~F.col("current_value").eqNullSafe(F.lit("*")),
            normalize_ids(F.col("current_value")),
        )
        .otherwise(F.col("current_value"))
        .alias("cur"),
        F.when(is_list, normalize_ids(F.col("fixed_value")))
        .otherwise(F.col("fixed_value"))
        .alias("fixed"),
    )

    # Which fields can a fix touch? Driver-side read of the tiny dimension,
    # deduped here: no job on a literal (LocalRelation) dimension, one on any
    # other frame (a distinct() would add a shuffle job).
    fields = sorted({r["field"] for r in fixes.select("field").collect()})

    rid = F.col(id_col)
    ex = rows.select(rid.alias("_rid"), F.posexplode(fixes_col).alias("_pos", "fix_id")).join(
        F.broadcast(dim), "fix_id", "left"
    )
    # The exploded reference set feeds FOUR consumers (both strict gates,
    # the per-row chain rebuild, the status write-back) — without a pin each
    # one re-executes the caller's FULL rows lineage (for q149 that is the
    # whole curation-import gate chain, re-run twice at construction for the
    # gates alone). It is bounded by construction: only rows that carry
    # curator fixes explode, a curation-scale set even on a corpus-scale
    # rows frame. The checkpoint also truncates lineage, so the gates and
    # chains analyze/execute against a block scan.
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    # eager=strict: the strict gates materialize the pin anyway (their
    # aggregate is the first action), while strict=False callers keep the
    # function's lazy contract — no job runs until the caller acts, and an
    # upstream failure surfaces at action time, not at plan construction.
    ex = keep_checkpointed_pooled(ex, "manual_fixes_refs", eager=strict)
    if strict:
        # ONE job for both integrity gates: missing fix ids and duplicate
        # row ids (chains would merge) — map-side-combinable aggregates,
        # driver-side scalars, no data collect. NULLs are mapped to
        # sentinels FIRST (collect_set drops nulls): a null fix id inside a
        # fixes array must fail like the reference's dict miss, and a
        # null row id must fail even as a singleton (its chain could never
        # re-attach through the null-rejecting equi-join below).
        null_id, null_fix = "<null {0}>".format(id_col), "<null fix id>"
        chk = ex.groupBy(
            F.coalesce(F.col("_rid").cast("string"), F.lit(null_id)).alias("_k"), "_pos"
        ).agg(
            F.count(F.lit(1)).alias("_n"),
            F.collect_set(
                F.when(F.col("field").isNull(), F.coalesce(F.col("fix_id"), F.lit(null_fix)))
            ).alias("_miss"),
        )
        bad = chk.agg(
            F.slice(F.array_distinct(F.flatten(F.collect_set("_miss"))), 1, 20).alias("missing"),
            F.slice(
                F.collect_set(
                    F.when((F.col("_n") > 1) | (F.col("_k") == null_id), F.col("_k"))
                ),
                1,
                5,
            ).alias("dups"),
        ).collect()[0]
        if bad["missing"]:
            raise AssertionError(f"Manual fix(es) not found: {sorted(bad['missing'])}")
        if bad["dups"]:
            raise AssertionError(
                f"apply_manual_fixes: duplicate or null {id_col} among rows "
                f"carrying fixes (chains would merge or detach): {sorted(bad['dups'])}"
            )
        # Second gate: an id duplicated in the ROWS frame where only ONE copy
        # carries fixes passes the (_rid,_pos) count above, but the chains
        # left-join below would attach the chain to the fixless duplicate too
        # (the reference applies fixes per physical row). Count per id over a
        # column-pruned scan of rows, semi-joined to the fix-carrying id set;
        # bounded output (limit 5).
        row_dups = (
            rows.select(F.coalesce(rid.cast("string"), F.lit(null_id)).alias("_k"))
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .join(
                ex.select(
                    F.coalesce(F.col("_rid").cast("string"), F.lit(null_id)).alias("_k")
                ).distinct(),
                "_k",
                "left_semi",
            )
            .select("_k")
            .limit(5)
            .collect()
        )
        if row_dups:
            raise AssertionError(
                f"apply_manual_fixes: {id_col} duplicated among rows while carrying "
                f"fixes (chain would also apply to the fixless duplicate): "
                f"{sorted(r['_k'] for r in row_dups)}"
            )
    ex = ex.filter(F.col("field").isNotNull())

    chains = ex.groupBy("_rid").agg(
        F.array_sort(
            F.collect_list(F.struct("_pos", "fix_id", "field", "cur", "fixed"))
        ).alias("_chain")
    )
    empty_chain = F.array().cast(chains.schema["_chain"].dataType.simpleString())
    df = rows.join(chains, rid == F.col("_rid"), "left").drop("_rid")
    df = df.withColumn("_chain", F.coalesce("_chain", empty_chain))

    # Per fixable field: fold the row's chain in order. State carries the
    # current value and the fix ids that applied so far.
    applied_cols = []
    for f in fields:
        state0 = F.struct(
            _norm_actual(df, f).cast("string").alias("val"),
            F.array().cast("array<string>").alias("applied"),
        )

        def step(st, x):
            hit = st["val"].eqNullSafe(x["cur"]) | (x["cur"] == "*")
            return F.when(
                hit,
                F.struct(
                    x["fixed"].alias("val"), F.array_append(st["applied"], x["fix_id"]).alias("applied")
                ),
            ).otherwise(st)

        # NB: the lambda must take exactly ONE arg (a 2-arg callable makes
        # F.filter pass the element index as the second); it is evaluated
        # eagerly here, so closing over the loop variable is safe.
        folded = F.aggregate(
            F.filter(F.col("_chain"), lambda x: x["field"] == F.lit(f)),
            state0,
            step,
        )
        # One withColumns call: both projections must resolve against the
        # PRE-fix frame (a second withColumn would re-resolve the fold's
        # F.col(field) against the already-rewritten column).
        df = df.withColumns({f: folded["val"], f"_applied_{f}": folded["applied"]})
        applied_cols.append(f"_applied_{f}")

    # Fields the dimension never touches but are list-typed still emit the
    # normalized string form (see Divergence note) so output schema is
    # uniform across runs with different fix dimensions.
    for f in LIST_FIELDS:
        if f in rows.columns and f not in fields:
            df = df.withColumn(f, _norm_actual(df, f))

    applied_any = (
        df.select(F.explode(F.flatten(F.array(*[F.col(c) for c in applied_cols]))).alias("fix_id"))
        .distinct()
        .withColumn("_hit", F.lit(True))
        if applied_cols
        else None
    )
    used = ex.select("fix_id").distinct()
    if applied_any is not None:
        status = used.join(F.broadcast(applied_any), "fix_id", "left")
    else:
        status = used.withColumn("_hit", F.lit(None).cast("boolean"))
    status = status.select(
        "fix_id",
        F.when(F.col("_hit"), F.lit("Active")).otherwise(F.lit("Obsolete")).alias("etl_status"),
    )

    fixed_rows = df.drop("_chain", *applied_cols)
    return fixed_rows, status


# ---------------------------------------------------------------------------
# Deterministic fixture (plans/verticals.py oracles mirror this
# arithmetic 1:1 — the q108/q138 no-drift discipline; MF_FIXES is the ONE
# literal table shared by engine and oracle).
# ---------------------------------------------------------------------------

MF_FIXES = [
    # (fix_id, field, current_value, fixed_value)
    ("fx-desc", "description", "D1", "D9"),
    ("fx-name-star", "name", "*", "שם קבוע"),
    ("fx-resp", "responses", " r-b, r-a ", "r-c ,r-a"),
    ("fx-sit", "situations", "*", "s-z, s-a,s-z"),
    ("fx-chain1", "description", "D3", "D-mid"),
    ("fx-chain2", "description", "D-mid", "D-final"),
    ("fx-obsolete", "description", "NEVER", "X"),
]


def mf_fixes(spark) -> DataFrame:
    from ..sources.tables import local_table  # noqa: PLC0415

    return local_table(
        spark, MF_FIXES, "fix_id string, field string, current_value string, fixed_value string"
    )


def mf_rows(spark, sf_dir: str) -> DataFrame:
    """Curation-service-shaped rows (part-derived) exercising every applier
    branch: matched/unmatched current_value, '*' wildcard, tag-field
    normalization, an in-order chain, the same chain reversed (order
    sensitivity), a never-matching fix, and rows with no fixes."""
    from ..sources.tables import load_table  # noqa: PLC0415

    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return p.select(
        F.concat(F.lit("sv-"), k.cast("string")).alias("id"),
        F.concat(F.lit("שירות "), k.cast("string")).alias("name"),
        F.concat(F.lit("D"), (k % 4).cast("string")).alias("description"),
        F.when(k % 3 == 0, F.array(F.lit("r-b"), F.lit("r-a")))
        .otherwise(F.array(F.lit("r-a")))
        .alias("responses"),
        F.array(F.concat(F.lit("s-"), (k % 3).cast("string")), F.lit("s-m")).alias("situations"),
        F.when(k % 7 == 0, F.array(F.lit("fx-desc")))
        .when(k % 7 == 1, F.array(F.lit("fx-name-star")))
        .when(k % 7 == 2, F.array(F.lit("fx-resp"), F.lit("fx-sit")))
        .when(k % 7 == 3, F.array(F.lit("fx-chain1"), F.lit("fx-chain2")))
        .when(k % 7 == 4, F.array(F.lit("fx-chain2"), F.lit("fx-chain1")))
        .when(k % 7 == 5, F.array(F.lit("fx-obsolete")))
        .alias("fixes"),
    )


def run_manual_fixes(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    return apply_manual_fixes(mf_rows(spark, sf_dir), mf_fixes(spark))
