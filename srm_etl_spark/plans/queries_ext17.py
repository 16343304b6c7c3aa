"""Round-7 extension queries: the curator ManualFixes applier
(reference operators/derive/manual_fixes.py:65-152, the mechanism
from_curation composes at :91-178 that q135 did not cover).

q140 — the conditional field rewrite: current_value guard (incl. the '*'
       wildcard), normalize_ids comma-set-sort for responses/situations,
       and in-order chained application per row.
q141 — the etl_status write-back table: every referenced fix, Active when
       it applied to ≥1 row anywhere, else Obsolete (finalize, :137-152).

Both oracles mirror the MF_FIXES literal table + the mf_rows fixture
arithmetic in closed form (the q108/q138 no-drift discipline).
"""

from __future__ import annotations

from ..pipelines import clinics as MHC
from ..pipelines import manual_fixes as MF
from ._scalar import scalarized_sql, stringify_arrays
from ..sources.tables import local_table
from .queries import QueryDef


def q140_manual_fixes(spark, sf_dir):
    """ManualFixes row rewrite: broadcast fixes dimension, posexplode →
    ordered chain re-collect, native F.aggregate fold per field (wildcard,
    null-safe guard, tag normalization, chained fixes in row order)."""
    rows, _ = MF.run_manual_fixes(spark, sf_dir)
    return rows.select("id", "name", "description", "responses", "situations")


def q141_manual_fix_status(spark, sf_dir):
    """ManualFixes etl_status side table (K4-shape write-back): referenced
    fixes marked Active iff they applied somewhere, else Obsolete."""
    _, status = MF.run_manual_fixes(spark, sf_dir)
    return status


def _q140_sql() -> str:
    k = "p_partkey"
    star_name = dict((f[0], f[3]) for f in MF.MF_FIXES)["fx-name-star"]
    return f"""
SELECT 'sv-' || CAST({k} AS VARCHAR) AS id,
       CASE WHEN {k} % 7 = 1 THEN '{star_name}'
            ELSE 'שירות ' || CAST({k} AS VARCHAR) END AS name,
       CASE WHEN {k} % 7 = 0 AND {k} % 4 = 1 THEN 'D9'
            WHEN {k} % 7 = 3 AND {k} % 4 = 3 THEN 'D-final'
            WHEN {k} % 7 = 4 AND {k} % 4 = 3 THEN 'D-mid'
            ELSE 'D' || CAST({k} % 4 AS VARCHAR) END AS description,
       CASE WHEN {k} % 7 = 2 AND {k} % 3 = 0 THEN 'r-a,r-c'
            WHEN {k} % 3 = 0 THEN 'r-a,r-b'
            ELSE 'r-a' END AS responses,
       CASE WHEN {k} % 7 = 2 THEN 's-a,s-z'
            ELSE 's-' || CAST({k} % 3 AS VARCHAR) || ',s-m' END AS situations
FROM part
"""


def _q141_sql() -> str:
    k = "p_partkey"

    def fix_row(fix_id: str, used_cond: str, active_cond: str) -> str:
        return (
            f"SELECT '{fix_id}' AS fix_id, "
            f"CASE WHEN EXISTS(SELECT 1 FROM part WHERE {active_cond}) "
            f"THEN 'Active' ELSE 'Obsolete' END AS etl_status "
            f"WHERE EXISTS(SELECT 1 FROM part WHERE {used_cond})"
        )

    rows = [
        fix_row("fx-desc", f"{k} % 7 = 0", f"{k} % 7 = 0 AND {k} % 4 = 1"),
        fix_row("fx-name-star", f"{k} % 7 = 1", f"{k} % 7 = 1"),
        fix_row("fx-resp", f"{k} % 7 = 2", f"{k} % 7 = 2 AND {k} % 3 = 0"),
        fix_row("fx-sit", f"{k} % 7 = 2", f"{k} % 7 = 2"),
        fix_row(
            "fx-chain1",
            f"{k} % 7 IN (3, 4)",
            f"{k} % 7 IN (3, 4) AND {k} % 4 = 3",
        ),
        fix_row("fx-chain2", f"{k} % 7 IN (3, 4)", f"{k} % 7 = 3 AND {k} % 4 = 3"),
        fix_row("fx-obsolete", f"{k} % 7 = 5", "1 = 0"),
    ]
    return "\nUNION ALL\n".join(rows)


# ---------------------------------------------------------------------------
# q142/q143 — mental_health_clinics vertical
# (reference operators/mental_health_clinics/__init__.py:135-281)
# ---------------------------------------------------------------------------


def q142_mhc_branches(spark, sf_dir):
    """mental_health_clinics branches: missingValues-vocabulary validate
    (P10, incl. the hmo-5 'כל הקופות' trap), filters, phone regex, address
    containment rule, clinic-hash grouping (A2 join_with_self), titled
    description assembly, ORGS constants."""
    return MHC.mhc_branches(MHC.mhc_clean(spark, sf_dir, MHC.sha256_hash_fn))


def q143_mhc_services(spark, sf_dir):
    """mental_health_clinics services: service-name grouping, branch-id
    sets, SITUATIONS age-group expansion, constant responses/data_sources,
    name-keyed id."""
    return stringify_arrays(MHC.mhc_services(MHC.mhc_clean(spark, sf_dir, MHC.sha256_hash_fn), MHC.sha256_hash_fn))


def _mhc_age_case() -> str:
    whens = " ".join(
        f"WHEN g % 7 = {i} THEN '{a}'" for i, a in enumerate(MHC.AGE_GROUPS)
    )
    return f"CASE WHEN g % 9 = 8 THEN 'קליניקה פרטית' {whens} END"


_MHC_CLEAN_CTE = f"""
raw AS (
  SELECT p_partkey AS k, p_partkey % 40 AS g FROM part
),
cooked AS (
  SELECT k, g,
    'מרפאה ' || CAST(g AS VARCHAR) AS name,
    'עיר ' || CAST(g % 7 AS VARCHAR) AS city,
    CASE WHEN g % 5 = 4 THEN NULL
         WHEN g % 6 = 3 THEN 'רחוב ' || CAST(g AS VARCHAR) || ' עיר ' || CAST(g % 7 AS VARCHAR)
         ELSE 'רחוב ' || CAST(g AS VARCHAR) END AS street,
    {_mhc_age_case()} AS age_group,
    CASE WHEN k % 4 = 0 OR k % 12 = 0 THEN NULL
         ELSE CAST(k % 12 AS VARCHAR) END AS intake_wait,
    '02-65' || CAST(g + 100 AS VARCHAR)
      || CASE WHEN g % 4 = 1 THEN chr(10) || '050-00' || CAST(g + 100 AS VARCHAR)
              ELSE '' END AS phone,
    CASE k % 5 WHEN 0 THEN NULL WHEN 1 THEN 'חרדה.דיכאון' WHEN 2 THEN 'חרדה'
               WHEN 3 THEN 'טראומה,פוסט-טראומה' ELSE 'ליווי' END AS expertise,
    CASE k % 4 WHEN 0 THEN NULL WHEN 1 THEN 'CBT' WHEN 2 THEN 'DBT.קבוצתי'
               ELSE 'פרטני' END AS interventions,
    CASE g % 6 WHEN 1 THEN 'לאומית' WHEN 2 THEN 'מכבי' WHEN 3 THEN 'כללית'
               WHEN 4 THEN 'מאוחדת' ELSE NULL END AS hmo
  FROM raw
),
clean AS (
  SELECT *,
    CASE WHEN contains(street, city) THEN street
         ELSE street || ', ' || city END AS address
  FROM cooked
  WHERE street IS NOT NULL AND NOT contains(age_group, 'קליניקה')
),
ids AS (
  SELECT *,
    'mhclinic-' || substring(sha256(concat_ws('|',
      nullif(name, ''), nullif(phone, ''), nullif(address, ''), nullif(hmo, ''))), 1, 8) AS id
  FROM clean
)
"""


def _mhc_snippet_sql(field: str, min_len: int) -> str:
    return (
        f"list_sort(list_distinct(flatten(list_transform("
        f"list(DISTINCT {field}) FILTER (WHERE {field} IS NOT NULL), "
        f"x -> list_filter(list_transform(string_split_regex(x, '[.,\\n]'), s -> upper(s)), "
        f"s -> length(s) > {min_len})))))"
    )


def _q142_sql() -> str:
    segs = []
    for field, title, min_len in [
        ("interventions", "סוגי התערבויות", 2),
        ("expertise", "מומחיות המרפאה", 2),
        ("intake_wait", "המתנה ממוצעת לאינטק (שבועות)", 0),
    ]:
        sn = _mhc_snippet_sql(field, min_len)
        segs.append(
            f"CASE WHEN len({sn}) > 0 THEN '{title}: ' || array_to_string({sn}, ', ')"
            f" || chr(10) || chr(10) ELSE '' END"
        )
    desc = " || ".join(segs)
    org_case = "CASE any_value(hmo) " + " ".join(
        f"WHEN '{n}' THEN '{oid}'" for n, (oid, _) in MHC.ORGS.items() if n
    ) + f" ELSE '{MHC.ORGS[''][0]}' END"
    urls_case = "CASE any_value(hmo) " + " ".join(
        f"WHEN '{n}' THEN '{u}'" for n, (_, u) in MHC.ORGS.items() if n
    ) + f" ELSE '{MHC.ORGS[''][1]}' END"
    phones = (
        "array_to_string(list_sort(list_distinct(list_filter("
        "flatten(list_transform(list(DISTINCT phone), x -> string_split(x, chr(10)))), "
        "s -> s != ''))), chr(10))"
    )
    return f"""
WITH {_MHC_CLEAN_CTE}
SELECT id,
       any_value(name) AS name,
       any_value(address) AS address,
       any_value(address) AS location,
       {desc} AS description,
       {phones} AS phone_numbers,
       {org_case} AS organization,
       {urls_case} AS urls
FROM ids
GROUP BY id
"""


def _q143_sql() -> str:
    sit_whens = " ".join(
        "WHEN '{}' THEN {}".format(k, "[" + ", ".join(f"'{x}'" for x in v) + "]")
        for k, v in MHC.SITUATIONS.items()
    )
    resp = "[" + ", ".join(f"'{r}'" for r in MHC.RESPONSES) + "]"
    return f"""
WITH {_MHC_CLEAN_CTE},
sits AS (
  SELECT *, '{MHC.SERVICE_NAME_PREFIX}' || age_group AS svc_name,
         CASE age_group {sit_whens} END AS age_sits
  FROM ids
)
SELECT 'mhclinic-' || substring(sha256(svc_name), 1, 8) AS id,
       svc_name AS name,
       list_sort(list(DISTINCT sits.id)) AS branches,
       ['{MHC.MENTAL_ILLNESS_TAG}'] ||
         list_sort(list_distinct(flatten(list(DISTINCT age_sits)))) AS situations,
       {resp} AS responses,
       '{MHC.DATA_SOURCE_TEXT.replace("'", "''")}' AS data_sources
FROM sits
GROUP BY svc_name
"""


# ---------------------------------------------------------------------------
# q149 — ManualFixes COMPOSED into from_curation (reference
# from_curation.py:169 applies the fixes between the decision gates and the
# FK remap, so fixed values flow through filter_by_items)
# ---------------------------------------------------------------------------

CFX_FIXES = [
    ("cfx-star", "name", "*", "שירות מתוקן"),
    ("cfx-miss", "name", "לא קיים", "X"),
]


def q149_curation_with_fixes(spark, sf_dir):
    """from_curation's services leg with ManualFixes applied at the
    reference's insertion point (post-gates, pre-remap): services whose
    pk%9==2 carry a wildcard name fix, pk%9==5 a never-matching one; the
    output unions the post-remap service rows (fixed names flowed through
    the FK drop) with the etl_status write-back rows."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..pipelines import mde as MDEP  # noqa: PLC0415
    from ._scalar import stringify_arrays  # noqa: PLC0415

    fixes_dim = local_table(
        spark, CFX_FIXES, "fix_id string, field string, current_value string, fixed_value string"
    )
    pk = F.substring(F.col("id"), 6, 100).cast("int")
    fixes_col = (
        F.when(pk % 9 == 2, F.array(F.lit("cfx-star")))
        .when(pk % 9 == 5, F.array(F.lit("cfx-miss")))
    )
    out = MDEP.run_curation_import(spark, sf_dir, service_fixes=(fixes_col, fixes_dim))
    sv = out["services"].select(
        F.lit("services").alias("stage"),
        "id",
        "name",
        F.concat(F.col("organizations"), F.col("branches")).alias("links"),
    )
    st = out["fix_status"].select(
        F.lit("fix_status").alias("stage"),
        F.col("fix_id").alias("id"),
        F.col("etl_status").alias("name"),
        F.lit(None).cast("array<string>").alias("links"),
    )
    return stringify_arrays(sv.unionByName(st))


def _q149_sql() -> str:
    from .queries_ext15 import CURATION_CTES  # noqa: PLC0415

    gated = (
        "SELECT 1 FROM cur_services WHERE status = 'ACTIVE' "
        "AND (decision IS NULL OR decision NOT IN ('Rejected', 'Suspended')) "
        "AND CAST(substr(id, 6) AS INT) % 9 = {m}"
    )
    return f"""
WITH {CURATION_CTES.strip()},
fixed AS (
  SELECT id,
         CASE WHEN CAST(substr(id, 6) AS INT) % 9 = 2 THEN 'שירות מתוקן'
              ELSE name END AS name,
         org_links || br_links AS links
  FROM imp_services
)
SELECT 'services' AS stage, id, name, links FROM fixed
UNION ALL
SELECT 'fix_status', 'cfx-star', 'Active', CAST(NULL AS VARCHAR[])
WHERE EXISTS({gated.format(m=2)})
UNION ALL
SELECT 'fix_status', 'cfx-miss', 'Obsolete', CAST(NULL AS VARCHAR[])
WHERE EXISTS({gated.format(m=5)})
"""


EXT17_REGISTRY = {
    "q140_manual_fixes": QueryDef(
        q140_manual_fixes,
        _q140_sql(),
        "ManualFixes conditional rewrite (wildcard, normalize_ids, chained)",
    ),
    "q141_manual_fix_status": QueryDef(
        q141_manual_fix_status,
        _q141_sql(),
        "ManualFixes etl_status Active/Obsolete write-back",
    ),
    "q142_mhc_branches": QueryDef(
        q142_mhc_branches,
        _q142_sql(),
        "mental-health clinics branches (vocabulary validate, hash group, description)",
    ),
    "q143_mhc_services": QueryDef(
        q143_mhc_services,
        scalarized_sql(_q143_sql(), ["branches", "situations", "responses"]),
        "mental-health clinics services (name group, SITUATIONS expansion)",
    ),
    "q149_curation_with_fixes": QueryDef(
        q149_curation_with_fixes,
        scalarized_sql(_q149_sql(), ["links"]),
        "ManualFixes composed into from_curation at the reference insertion point",
    ),
}
