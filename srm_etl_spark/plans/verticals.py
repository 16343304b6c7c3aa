"""srm-etl ingestion verticals, each composed end to end and hash-gated:
entities (SURVEY §3.2), meser (§3.3), external manual data entry and the
curation import, the gov-source branch family and click scraper, ManualFixes,
mental-health clinics, day_care / child_care / kolzchut orgs, geocoding and
the presets homepage query.

Oracles mirror the pipelines' literal tables and fixture arithmetic in
closed form, so engine and oracle share one source of constants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..pipelines import clinics as MHC
from ..pipelines import daycare as DC
from ..pipelines import entities as ENT
from ..pipelines import govsources as GOV
from ..pipelines import manual_fixes as MF
from ..pipelines import mde as MDE
from ..pipelines import meser as MES
from ..pipelines.clinics import sha256_hash_fn
from ..sources.tables import local_table
from .common import QueryDef, _olc_sql, _t, scalarized_sql, stringify_arrays


QUERIES: dict[str, QueryDef] = {}


# --------------------------------------------------------------------------
# q98 — geocode flow with a deterministic resolver, oracle-checked
# --------------------------------------------------------------------------

def q98_geocode(spark, sf_dir):
    """The geocode pipeline end-to-end (operators/geocode.py: unresolved
    selection → distinct-keyword dedup → bounded-concurrency mapInPandas
    resolve → join-back + status rules), driven by a closed-form injectable
    resolver so the whole flow — including the NOT_FOUND marking the r3
    advisory fixed — is oracle-checkable. Keys whose last two digits are
    ≡ 0 (mod 10) miss (NOT_FOUND); the rest resolve to values derived only
    from those digits, which the SQL twin recomputes."""
    from ..operators.geocode import geocode_locations  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer")
    locs = c.select(
        F.concat(F.lit("addr "), F.col("c_name")).alias("id"),
        F.lit(None).cast("string").alias("alternate_address"),
        F.lit("ACTIVE").alias("status"),
        F.lit(None).cast("double").alias("resolved_lat"),
        F.lit(None).cast("double").alias("resolved_lon"),
        F.lit(None).cast("string").alias("resolved_city"),
    )

    def resolver(kw: str):
        d2 = int(kw[-2:])
        if d2 % 10 == 0:
            return None
        return {
            "accuracy": "ROOFTOP",
            "provider": "fake",
            "resolved_address": kw.upper(),
            "resolved_lat": 29.5 + d2 * 0.01,
            "resolved_lon": 34.0 + (d2 % 10) * 0.1,
            "resolved_city": f"CITY_{d2 % 7}",
        }

    out = geocode_locations(locs, resolver)
    return out.select(
        "id",
        "status",
        "accuracy",
        "provider",
        "resolved_address",
        F.round("resolved_lat", 6).alias("resolved_lat"),
        F.round("resolved_lon", 6).alias("resolved_lon"),
        "resolved_city",
    )


Q98_SQL = """
WITH r AS (
  SELECT 'addr ' || c_name AS id,
         CAST(substr('addr ' || c_name, length('addr ' || c_name) - 1, 2) AS INT) AS d2
  FROM customer
)
SELECT id,
  CASE WHEN d2 % 10 = 0 THEN 'NOT_FOUND' ELSE 'VALID' END AS status,
  CASE WHEN d2 % 10 = 0 THEN NULL ELSE 'ROOFTOP' END AS accuracy,
  CASE WHEN d2 % 10 = 0 THEN NULL ELSE 'fake' END AS provider,
  CASE WHEN d2 % 10 = 0 THEN NULL ELSE upper(id) END AS resolved_address,
  CASE WHEN d2 % 10 = 0 THEN NULL
       ELSE round(29.5 + d2 * CAST(0.01 AS DOUBLE), 6) END AS resolved_lat,
  CASE WHEN d2 % 10 = 0 THEN NULL
       ELSE round(34.0 + (d2 % 10) * CAST(0.1 AS DOUBLE), 6) END AS resolved_lon,
  CASE WHEN d2 % 10 = 0 THEN NULL ELSE 'CITY_' || CAST(d2 % 7 AS VARCHAR) END AS resolved_city
FROM r
"""


QUERIES["q98_geocode"] = QueryDef(
    q98_geocode, Q98_SQL, "geocode flow §7.1-7 (S-ext) with injected resolver"
)


# ---------------------------------------------------------------------------
# shared oracle CTEs mirroring the scrape fixtures
# ---------------------------------------------------------------------------

_ORG_ID_SQL = (
    "CASE WHEN {k} % 11 = 0 THEN 'srm' || CAST({k} AS VARCHAR) "
    "WHEN {k} % 2 = 0 THEN CAST({k} + 500000000 AS VARCHAR) "
    "ELSE CAST({k} + 510000000 AS VARCHAR) END"
)


_KINDS_SQL = "['עמותה', 'חל\"צ', 'חברה פרטית', 'הקדש', 'רשות מקומית']"


_MALKAR_SQL = "['עמותה', 'חברה', 'חל\"צ', 'הקדש', 'רשות מקומית']"


ORG_REGISTRY_CTE = f"""
org_registry AS (
  SELECT {_ORG_ID_SQL.format(k="s_suppkey")} AS id,
         CASE WHEN s_suppkey % 17 = 0 THEN 'manual' ELSE 'entities' END AS source,
         CASE WHEN s_suppkey % 10 = 9 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         ({_KINDS_SQL})[(s_suppkey % 5) + 1] AS kind,
         'ארגון ' || s_name AS name,
         CAST(NULL AS VARCHAR) AS short_name,
         CASE WHEN s_suppkey % 6 = 0 THEN 'תיאור ' || CAST(s_suppkey AS VARCHAR) END AS description,
         CAST(NULL AS VARCHAR) AS purpose,
         CAST(NULL AS VARCHAR) AS urls,
         CAST(NULL AS VARCHAR) AS phone_numbers,
         CAST(NULL AS VARCHAR) AS email_address
  FROM supplier
)"""


GS_DETAILS_CTE = f"""
gs_details AS (
  SELECT {_ORG_ID_SQL.format(k="s_suppkey")} AS id,
         CASE WHEN s_suppkey % 4 = 0 THEN s_name || ' (ע"ר)'
              WHEN s_suppkey % 8 = 1 THEN s_name || ' (חל"צ)'
              ELSE s_name END AS gs_name,
         CASE WHEN s_suppkey % 3 = 0 THEN 'קיצור' || CAST(s_suppkey AS VARCHAR) END AS abbreviated,
         ({_MALKAR_SQL})[(s_suppkey % 5) + 1] AS malkar_type,
         CASE WHEN s_suppkey % 2 = 0 THEN 'מטרה ' || CAST(s_suppkey AS VARCHAR) END AS org_goal,
         CASE WHEN s_suppkey % 3 = 0 THEN 'example' || CAST(s_suppkey AS VARCHAR) || '.org'
              WHEN s_suppkey % 3 = 1 THEN 'https://site' || CAST(s_suppkey AS VARCHAR) || '.org/x'
              ELSE 'not a url!' END AS website,
         CASE WHEN s_suppkey % 2 = 0
              THEN '02-' || lpad(CAST(s_suppkey % 10000000 AS VARCHAR), 7, '0') END AS tel1,
         CASE WHEN s_suppkey % 4 = 0 THEN '05' || CAST(s_suppkey % 10 AS VARCHAR) END AS tel2,
         CASE WHEN s_suppkey % 3 = 0
              THEN 'org' || CAST(s_suppkey AS VARCHAR) || '@example.org' END AS email,
         CASE WHEN s_suppkey % 5 != 1
              THEN 'רחוב הרצל ' || CAST(s_suppkey % 100 AS VARCHAR)
                   || ', עיר ' || CAST(s_suppkey % 7 AS VARCHAR) END AS full_address
  FROM supplier
  WHERE s_suppkey % 13 != 0 AND s_suppkey % 11 != 0
)"""


BK_CTE = f"""
bk AS (
  SELECT {_ORG_ID_SQL.format(k="s_suppkey")} AS id,
         'ארגון בק ' || s_name
           || CASE WHEN s_suppkey % 6 = 3 THEN ' (ע"ר)' ELSE '' END
           || '/סניף' AS bk_name,
         'עמותה' AS kind_he,
         CASE WHEN s_suppkey % 4 = 0 THEN 'מטרת בק ' || CAST(s_suppkey AS VARCHAR) END AS goal
  FROM supplier
  WHERE s_suppkey % 13 = 0 AND s_suppkey % 3 != 0 AND s_suppkey % 11 != 0
)"""


def _strip_legal_sql(expr: str) -> str:
    return f"replace(replace({expr}, ' (חל\"צ)', ''), ' (ע\"ר)', '')"


def _fix_url_sql(expr: str) -> str:
    return (
        f"CASE WHEN {expr} LIKE 'http%' THEN {expr} "
        f"WHEN regexp_matches({expr}, "
        "'^[a-zA-Z0-9][a-zA-Z0-9\\-\\.]{0,61}[a-zA-Z0-9]\\.[a-zA-Z]{2,}$') "
        f"THEN 'http://' || {expr} ELSE NULL END"
    )


ENRICHED_CTE = f"""
enrich_base AS (
  SELECT o.*, g.id IS NOT NULL AS gs_hit, b.id IS NOT NULL AS bk_hit,
         g.gs_name, g.abbreviated, g.malkar_type, g.org_goal, g.website,
         g.tel1, g.tel2, g.email,
         b.bk_name, b.kind_he, b.goal,
         CASE WHEN o.id LIKE 'srm%' THEN 'srm'
              WHEN g.id IS NOT NULL THEN 'guidestar'
              WHEN b.id IS NOT NULL THEN 'budgetkey'
              ELSE 'unknown' END AS enrich_path,
         CASE WHEN b.id LIKE '50%' THEN coalesce(b.goal, b.bk_name) ELSE b.goal END AS bk_purpose,
         CASE WHEN b.id LIKE '50%' THEN trim(string_split(b.bk_name, '/')[1])
              ELSE b.bk_name END AS bk_name_fixed
  FROM (SELECT * FROM org_registry WHERE source = 'entities') o
  LEFT JOIN gs_details g ON o.id = g.id
  LEFT JOIN bk b ON o.id = b.id
),
enriched AS (
  SELECT id, source, status,
         CASE enrich_path
           WHEN 'guidestar' THEN CASE WHEN malkar_type = 'חברה' THEN 'חברה פרטית' ELSE malkar_type END
           WHEN 'budgetkey' THEN kind_he ELSE kind END AS kind,
         CASE enrich_path
           WHEN 'guidestar' THEN {_strip_legal_sql("gs_name")}
           WHEN 'budgetkey' THEN {_strip_legal_sql("bk_name_fixed")}
           ELSE name END AS name,
         CASE enrich_path WHEN 'guidestar' THEN abbreviated ELSE short_name END AS short_name,
         CASE enrich_path WHEN 'guidestar' THEN NULL ELSE description END AS description,
         CASE enrich_path
           WHEN 'guidestar' THEN org_goal
           WHEN 'budgetkey' THEN bk_purpose ELSE purpose END AS purpose,
         CASE enrich_path
           WHEN 'guidestar' THEN coalesce({_fix_url_sql("website")} || '#אתר הבית', '')
           ELSE urls END AS urls,
         CASE enrich_path
           WHEN 'guidestar' THEN concat_ws(chr(10), tel1, tel2)
           ELSE phone_numbers END AS phone_numbers,
         CASE enrich_path WHEN 'guidestar' THEN email ELSE email_address END AS email_address,
         enrich_path
  FROM enrich_base
)"""


# ---------------------------------------------------------------------------
# q126 — org enrichment parity
# ---------------------------------------------------------------------------


def q126_entities_org_enrich(spark, sf_dir):
    """SURVEY §3.2 stage 2 (reference entities/__init__.py:28-104): Guidestar
    cache hit / BudgetKey fallback (with the '50'-prefix name-split rule) /
    srm passthrough / unknown-ID report, as one broadcast-joined projection.
    The ``enrich_path`` column is the reference's Stats counter surfaced as
    data."""
    orgs = ENT.org_registry(spark, sf_dir)
    gs = ENT.guidestar_org_details(spark, sf_dir)
    bk = ENT.budgetkey_entities(spark, sf_dir)
    return ENT.enrich_orgs(orgs, gs, bk)


Q126_SQL = f"""
WITH {ORG_REGISTRY_CTE.strip()},
{GS_DETAILS_CTE.strip()},
{BK_CTE.strip()},
{ENRICHED_CTE.strip()}
SELECT * FROM enriched
"""


QUERIES.update({
    "q126_entities_org_enrich": QueryDef(
        q126_entities_org_enrich,
        Q126_SQL,
        "entities vertical: org enrichment (gs/bk/srm/unknown paths)",
    ),
})


# ---------------------------------------------------------------------------
# q127 — unwind_branches parity
# ---------------------------------------------------------------------------

_NS_CTE = "ns AS (SELECT count(*) AS n FROM supplier)"


_ORG_K_SQL = "((c_custkey % greatest((ns.n * 4) // 5, 1)) + 1)"


GBRANCHES_CTE = f"""
gbranches AS (
  SELECT 'B' || CAST(c_custkey AS VARCHAR) AS branch_id,
         {_ORG_ID_SQL.format(k=_ORG_K_SQL)} AS org_id,
         CASE WHEN c_custkey % 3 = 0 THEN 'כינוי ' || CAST(c_custkey AS VARCHAR) END AS place_nickname,
         CASE WHEN c_custkey % 7 = 0 THEN n_name || ' תאי דואר' ELSE n_name END AS city_name,
         CASE WHEN c_custkey % 2 = 0 THEN 'הרצל' END AS street_name,
         CASE WHEN c_custkey % 4 = 0 THEN CAST(c_custkey % 100 AS VARCHAR) END AS house_num,
         CASE WHEN c_custkey % 5 = 0 THEN 'ללא כתובת'
              WHEN c_custkey % 5 = 1 THEN 'כניסה ' || CAST(c_custkey % 9 AS VARCHAR)
              WHEN c_custkey % 5 = 2 THEN n_name END AS alternate_address,
         CASE WHEN c_custkey % 6 = 0 THEN 'הוראות ' || CAST(c_custkey AS VARCHAR) END AS driving_instructions,
         CASE WHEN c_custkey % 2 = 0
              THEN '03-' || lpad(CAST(c_custkey % 9999999 AS VARCHAR), 7, '0') END AS phone,
         CASE WHEN c_custkey % 5 = 0 THEN '1;2'
              WHEN c_custkey % 5 = 1 THEN '3'
              WHEN c_custkey % 5 = 2 THEN '8'
              WHEN c_custkey % 5 = 3 THEN '9;2' END AS language,
         CASE WHEN c_custkey % 3 != 0
              THEN CAST(29.6 AS DOUBLE) + (c_custkey % 30) * CAST(0.1 AS DOUBLE) END AS latitude,
         CASE WHEN c_custkey % 3 != 0
              THEN CAST(34.3 AS DOUBLE) + (c_custkey % 25) * CAST(0.09 AS DOUBLE) END AS longitude
  FROM customer JOIN nation ON c_nationkey = n_nationkey CROSS JOIN ns
)"""


_LANGS_SQL = "['hebrew', 'arabic', 'russian', 'french', 'english', 'amharic', 'spanish']"


_LANG_SITS_SQL = f"""CASE WHEN language IS NOT NULL AND language <> '' THEN
  list_transform(list_filter(string_split(language, ';'), x -> x <> '8'),
    x -> 'human_situations:language:' ||
         CASE WHEN try_cast(trim(x) AS INT) BETWEEN 1 AND 7
              THEN ({_LANGS_SQL})[try_cast(trim(x) AS INT)]
              ELSE 'other' END || '_speaking')
END"""


def _clean_org_name_sql(expr: str) -> str:
    """SQL twin of functions/cleaning.py:clean_org_name, generated from the
    same suffix/stopword lists in the same interleaved order (q108
    discipline)."""
    from ..functions.cleaning import _ORG_STOPWORDS, _ORG_SUFFIXES  # noqa: PLC0415

    out = f"coalesce({expr}, '')"
    for sfx in _ORG_SUFFIXES:
        lit = sfx.replace("'", "''")
        out = f"replace({out}, '{lit}', '')"
        out = f"regexp_replace({out}, '^[,.()\\s]+|[,.()\\s]+$', '', 'g')"
    for word in _ORG_STOPWORDS:
        lit = word.replace("'", "''")
        out = f"replace({out}, '{lit}', '')"
    return f"regexp_replace({out}, '^[ \\-,\\n\\t]+|[ \\-,\\n\\t]+$', '', 'g')"


_DISCLAIMER_SQL = ENT.DISCLAIMER.replace("'", "''")


UNWIND_CTES = f"""
orgs_active AS (SELECT * FROM enriched WHERE status = 'ACTIVE'),
b_addr AS (
  SELECT b.*, o.name AS o_name, o.short_name AS o_short,
    CASE WHEN city_name IS NOT NULL THEN
      (CASE WHEN street_name IS NOT NULL
            THEN street_name || ' '
                 || (CASE WHEN house_num IS NOT NULL THEN house_num || ' ' ELSE '' END)
                 || ', '
            ELSE '' END)
      || replace(city_name, ' תאי דואר', '') || ' '
    ELSE '' END AS key0
  FROM gbranches b JOIN orgs_active o ON b.org_id = o.id
),
b_addr2 AS (
  SELECT *, nullif(trim(
    CASE WHEN alternate_address IS NOT NULL AND alternate_address <> 'ללא כתובת'
              AND NOT contains(key0, alternate_address)
         THEN key0 || ' - ' || alternate_address ELSE key0 END), '') AS address
  FROM b_addr
),
b_rows AS (
  SELECT 'guidestar:' || branch_id AS id,
         coalesce(place_nickname, coalesce(o_short, o_name) || ' - ' || city_name) AS name,
         [org_id] AS organization,
         address,
         driving_instructions AS address_details,
         CASE WHEN latitude IS NOT NULL AND longitude IS NOT NULL
              THEN {_olc_sql("latitude", "longitude")}
              ELSE address END AS location,
         CAST(NULL AS VARCHAR) AS description,
         phone AS phone_numbers,
         CAST(NULL AS VARCHAR) AS urls,
         {_LANG_SITS_SQL} AS situations
  FROM b_addr2
),
no_branch AS (
  SELECT o.id, o.name, o.kind, g.id AS gid, g.full_address
  FROM orgs_active o
  LEFT JOIN gs_details g ON o.id = g.id
  WHERE o.id NOT IN (SELECT DISTINCT org_id FROM gbranches)
),
fb_official AS (
  SELECT 'guidestar:' || id AS id, name, [id] AS organization,
         full_address AS address, CAST(NULL AS VARCHAR) AS address_details,
         full_address AS location, CAST(NULL AS VARCHAR) AS description,
         CAST(NULL AS VARCHAR) AS phone_numbers, CAST(NULL AS VARCHAR) AS urls,
         CAST(NULL AS VARCHAR[]) AS situations
  FROM no_branch WHERE full_address IS NOT NULL
),
fb_byname AS (
  SELECT 'budgetkey:' || id AS id, name, [id] AS organization,
         {_clean_org_name_sql("name")} AS address,
         CAST(NULL AS VARCHAR) AS address_details,
         {_clean_org_name_sql("name")} AS location,
         CAST(NULL AS VARCHAR) AS description,
         CAST(NULL AS VARCHAR) AS phone_numbers, CAST(NULL AS VARCHAR) AS urls,
         CAST(NULL AS VARCHAR[]) AS situations
  FROM no_branch
  WHERE full_address IS NULL AND gid IS NOT NULL
        AND kind NOT IN ('עמותה', 'חל"צ', 'הקדש')
),
national AS (
  SELECT 'national:' || id AS id, '' AS name, [id] AS organization,
         'שירות ארצי' AS address, CAST(NULL AS VARCHAR) AS address_details,
         'שירות ארצי' AS location, '{_DISCLAIMER_SQL}' AS description,
         CAST(NULL AS VARCHAR) AS phone_numbers, CAST(NULL AS VARCHAR) AS urls,
         CAST(NULL AS VARCHAR[]) AS situations
  FROM orgs_active
),
unwound AS (
  SELECT * FROM b_rows
  UNION ALL SELECT * FROM fb_official
  UNION ALL SELECT * FROM fb_byname
  UNION ALL SELECT * FROM national
)"""


def q127_entities_branches(spark, sf_dir):
    """SURVEY §3.2 stage 3 (reference entities/__init__.py:162-250): the
    unwind_branches UDTF as a three-way union — branch rows (address
    assembly, OLC location keys, language situations), the two no-branch
    fallbacks (official Guidestar address / cleaned-org-name), and the
    synthesized national: rows with the fixed disclaimer."""
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    orgs = ENT.org_registry(spark, sf_dir)
    gs = ENT.guidestar_org_details(spark, sf_dir)
    bk = ENT.budgetkey_entities(spark, sf_dir)
    enriched = ENT.enrich_orgs(orgs, gs, bk)
    active = enriched.filter(F.col("status") == "ACTIVE")
    return stringify_arrays(
        keep_checkpointed_pooled(
            ENT.unwind_branches(active, ENT.guidestar_branches(spark, sf_dir), gs),
            "entities_unwound",
            eager=False,
        )
    )


Q127_SQL = scalarized_sql(
    f"""
WITH {_NS_CTE},
{ORG_REGISTRY_CTE.strip()},
{GS_DETAILS_CTE.strip()},
{BK_CTE.strip()},
{ENRICHED_CTE.strip()},
{GBRANCHES_CTE.strip()},
{UNWIND_CTES.strip()}
SELECT * FROM unwound
""",
    ["organization", "situations"],
)


QUERIES["q127_entities_branches"] = QueryDef(
    q127_entities_branches,
    Q127_SQL,
    "entities vertical: unwind_branches (synthesis + fallbacks + national)",
)


# ---------------------------------------------------------------------------
# q128 — unwind_services / process_service parity
# ---------------------------------------------------------------------------

GSERVICES_CTE = f"""
gservices AS (
  SELECT 'S' || CAST(p_partkey AS VARCHAR) AS service_id,
         {_ORG_ID_SQL.format(k="((p_partkey % ns.n) + 1)")} AS org_id,
         ((p_partkey % ns.n) + 1) AS org_k,
         CASE WHEN p_partkey % 7 = 3 THEN 'נדרש סיוע בדחיפות'
              ELSE 'שירות ' || p_name END AS service_name,
         CASE WHEN p_partkey % 3 = 0 THEN 'תיאור וולונטרי ' || CAST(p_partkey AS VARCHAR) END AS voluntary_description,
         CASE WHEN p_partkey % 2 = 0 THEN 'תיאור ' || CAST(p_partkey AS VARCHAR) END AS description,
         'T' || CAST(p_partkey % 10 AS VARCHAR) AS service_type_num,
         'טיפוס ' || CAST(p_partkey % 8 AS VARCHAR) AS service_type_name,
         CASE WHEN p_partkey % 4 = 0 THEN 'קהל1;קהל2'
              WHEN p_partkey % 4 = 1 THEN 'קהל3' ELSE '' END AS target_audience,
         CASE WHEN p_partkey % 6 = 0 THEN 'G' || CAST(p_partkey % 20 AS VARCHAR) END AS gov_id,
         CASE WHEN p_partkey % 6 = 0 THEN 'משרד ' || CAST(p_partkey % 3 AS VARCHAR) END AS office,
         CASE WHEN p_partkey % 5 = 0 THEN NULL
              WHEN p_partkey % 5 = 1 THEN 'Free service'
              WHEN p_partkey % 5 = 2 THEN 'Symbolic cost'
              WHEN p_partkey % 5 = 3 THEN 'Full payment'
              ELSE 'Government funded' END AS payment_method,
         CASE WHEN p_partkey % 3 = 1 THEN 'בתיאום מראש' END AS service_terms,
         CASE WHEN p_partkey % 8 = 0 THEN 'In Branches'
              WHEN p_partkey % 8 = 1 THEN 'Country wide'
              WHEN p_partkey % 8 = 2 THEN 'Customer Place;Program'
              WHEN p_partkey % 8 = 3 THEN 'Via Phone or Mail'
              WHEN p_partkey % 8 = 4 THEN 'Web Service;Customer Appointment'
              WHEN p_partkey % 8 = 5 THEN 'In Branches;Country wide'
              WHEN p_partkey % 8 = 6 THEN 'Not relevant'
              ELSE '' END AS area,
         CASE WHEN p_partkey % 5 = 0 THEN 'All Year'
              WHEN p_partkey % 5 = 1 THEN 'Requires Signup'
              WHEN p_partkey % 5 = 2 THEN 'Time Limited'
              WHEN p_partkey % 5 = 3 THEN 'Criteria Based' END AS when_active,
         CASE WHEN p_partkey % 6 = 0 THEN 'Phone'
              WHEN p_partkey % 6 = 1 THEN 'Chat / Email / Whatsapp;Internet'
              WHEN p_partkey % 6 = 2 THEN 'Zoom / Hybrid'
              WHEN p_partkey % 6 = 3 THEN 'Other'
              WHEN p_partkey % 6 = 4 THEN ''
              ELSE 'Phone;Other' END AS remote_delivery,
         CASE WHEN p_partkey % 9 = 0 THEN 'יונת דואר' END AS remote_delivery_other,
         CASE WHEN p_partkey % 7 = 0 THEN '2024-03-15T00:00:00.000Z' END AS start_date,
         CASE WHEN p_partkey % 7 = 1 THEN '2025-11-02T12:30:00.000Z' END AS end_date,
         CASE WHEN p_partkey % 4 = 0 THEN 'svc' || CAST(p_partkey AS VARCHAR) || '.org'
              WHEN p_partkey % 4 = 1 THEN 'https://x' || CAST(p_partkey AS VARCHAR) || '.org'
              WHEN p_partkey % 4 = 2 THEN 'junk url' END AS url,
         CASE WHEN p_partkey % 5 = 0 THEN '02-123' || CAST(p_partkey % 100 AS VARCHAR) END AS svc_phone,
         CASE WHEN p_partkey % 3 = 0 THEN 's' || CAST(p_partkey AS VARCHAR) || '@example.org' END AS svc_email
  FROM part CROSS JOIN ns
  WHERE ((p_partkey % ns.n) + 1) % 13 != 0 AND ((p_partkey % ns.n) + 1) % 11 != 0
)"""


def _tag_mapping_sql() -> str:
    """VALUES clause generated from pipelines.entities.TAG_ROWS — both
    engines read the same literal mapping."""
    vals = []
    for tag, resp, sits, status in ENT.TAG_ROWS:
        r = "[" + ", ".join(f"'{x}'" for x in resp) + "]"
        s = "[" + ", ".join(f"'{x}'" for x in sits) + "]"
        st = f"'{status}'" if status else "CAST(NULL AS VARCHAR)"
        vals.append(f"('{tag}', CAST({r} AS VARCHAR[]), CAST({s} AS VARCHAR[]), {st})")
    return (
        "tag_mapping(tag, response_ids, situation_ids, status) AS (SELECT * FROM (VALUES "
        + ", ".join(vals)
        + "))"
    )


def _case_map_sql(var: str, mapping: dict) -> str:
    branches = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in mapping.items()
    )
    return f"CASE {var} {branches} END"


def _process_ctes() -> str:
    area_text = _case_map_sql("x", ENT.AREA_TEXT)
    remote_text = _case_map_sql("x", ENT.REMOTE_TEXT)
    when_text = _case_map_sql("when_active", ENT.WHEN_TEXT)
    national_keys = ", ".join(f"'{k}'" for k in ENT.AREA_TEXT if k != "In Branches")
    sep = "chr(10) || '<br/>' || chr(10)"
    return f"""
orgs_all_active AS (
  SELECT id FROM enriched WHERE status = 'ACTIVE'
  UNION ALL
  SELECT id FROM org_registry WHERE source <> 'entities' AND status = 'ACTIVE'
),
svc AS (
  SELECT g.* FROM gservices g JOIN orgs_all_active o ON g.org_id = o.id
),
actual AS (
  SELECT org_id, list_sort(list('guidestar:' || branch_id)) AS _actual
  FROM gbranches GROUP BY org_id
),
decl AS (
  SELECT g.service_id, list_sort(list('guidestar:' || b.branch_id)) AS _declared
  FROM svc g JOIN gbranches b ON g.org_id = b.org_id
  WHERE (try_cast(substr(b.branch_id, 2) AS INT)
         + try_cast(substr(g.service_id, 2) AS INT)) % 3 = 0
  GROUP BY g.service_id
),
with_tags AS (
  SELECT *, ([service_type_num, service_type_name]
             || string_split(coalesce(target_audience, ''), ';')
             || ['soproc:' || coalesce(gov_id, '')]) AS tags
  FROM svc
),
exm AS (
  SELECT e.service_id, e.tag, m.status, m.response_ids, m.situation_ids
  FROM (SELECT service_id, unnest(tags) AS tag FROM with_tags) e
  LEFT JOIN tag_mapping m ON e.tag = m.tag
),
per_svc AS (
  SELECT service_id,
         sum(CASE WHEN status = 'REJECTED' THEN 1 ELSE 0 END) AS n_rejected,
         list_sort(list_distinct(flatten(list(coalesce(response_ids, CAST([] AS VARCHAR[])))))) AS responses,
         list_sort(list_distinct(flatten(list(coalesce(situation_ids, CAST([] AS VARCHAR[])))))) AS situations,
         list_sort(list_distinct(list(CASE WHEN status IS NULL AND response_ids IS NULL
                                                AND tag <> '' THEN tag END))) AS unknown_tags
  FROM exm GROUP BY service_id
),
kept AS (
  SELECT w.*, p.responses, p.situations, p.unknown_tags,
         coalesce(d._declared, CAST([] AS VARCHAR[])) AS _declared,
         coalesce(a._actual, CAST([] AS VARCHAR[])) AS _actual
  FROM with_tags w
  JOIN per_svc p USING (service_id)
  LEFT JOIN decl d USING (service_id)
  LEFT JOIN actual a ON w.org_id = a.org_id
  WHERE p.n_rejected = 0 AND NOT contains(w.service_name, 'נדרש סיוע')
),
casc AS (
  SELECT *,
    CASE WHEN payment_method IS NULL OR payment_method = 'Free service' THEN 'no'
         ELSE 'yes' END AS payment_required,
    CASE WHEN payment_method = 'Symbolic cost' THEN 'עלות סמלית'
         WHEN payment_method = 'Full payment' THEN 'השירות ניתן בתשלום'
         WHEN payment_method = 'Government funded' THEN 'השירות מסובסד על ידי הממשלה'
         END AS pay0,
    string_split(coalesce(area, ''), ';') AS area_items,
    string_split(coalesce(remote_delivery, ''), ';') AS remote_items
  FROM kept
),
casc2 AS (
  SELECT *,
    CASE WHEN service_terms IS NOT NULL
         THEN CASE WHEN pay0 IS NOT NULL THEN pay0 || ', ' || service_terms
                   ELSE service_terms END
         ELSE pay0 END AS payment_details,
    list_filter(list_transform(area_items, x -> {area_text}), t -> t IS NOT NULL) AS area_texts,
    len(list_filter(area_items, x -> x IN ({national_keys}))) > 0 AS national,
    list_contains(area_items, 'In Branches') AS has_in_branches,
    list_filter(list_transform(remote_items, x -> {remote_text}), t -> t IS NOT NULL)
      || (CASE WHEN remote_delivery_other IS NOT NULL THEN [remote_delivery_other]
               ELSE CAST([] AS VARCHAR[]) END) AS methods
  FROM casc
),
casc3 AS (
  SELECT *,
    CASE WHEN len(area_texts) > 1 THEN 'השירות ניתן: ' || array_to_string(area_texts, ', ')
         WHEN len(area_texts) = 1 THEN 'השירות ניתן ' || area_texts[1] END AS area_detail,
    {when_text} AS when_detail,
    CASE WHEN len(methods) > 0
         THEN 'שירות מרחוק באמצעות: ' || array_to_string(methods, ', ') END AS remote_detail,
    CASE WHEN start_date IS NOT NULL
         THEN 'תאריך התחלה: ' || strftime(CAST(substr(start_date, 1, 19) AS TIMESTAMP), '%d/%m/%Y')
         END AS start_detail,
    CASE WHEN end_date IS NOT NULL
         THEN 'תאריך סיום: ' || strftime(CAST(substr(end_date, 1, 19) AS TIMESTAMP), '%d/%m/%Y')
         END AS end_detail,
    (CASE WHEN has_in_branches AND len(_declared) = 0 THEN _actual ELSE _declared END)
      || (CASE WHEN national THEN ['national:' || org_id] ELSE CAST([] AS VARCHAR[]) END)
      AS branches
  FROM casc2
),
processed AS (
  SELECT 'guidestar:' || service_id AS id,
         service_name AS name,
         coalesce(voluntary_description, description) AS description,
         coalesce(array_to_string(
           list_filter([area_detail, when_detail, remote_detail, start_detail, end_detail],
                       d -> d IS NOT NULL), {sep}), '') AS details,
         payment_required, payment_details,
         {_fix_url_sql("url")} || '#מידע נוסף על השירות' AS urls,
         situations, responses,
         CAST([] AS VARCHAR[]) AS organizations,
         branches,
         'מידע נוסף אפשר למצוא ב<a target="_blank" href="https://www.guidestar.org.il/organization/'
           || org_id || '/services">גיידסטאר - אתר העמותות של ישראל</a>' AS data_sources,
         CASE WHEN gov_id IS NOT NULL AND office IS NOT NULL
              THEN 'soproc:' || gov_id || '#' || office END AS implements,
         svc_phone AS phone_numbers,
         svc_email AS email_address,
         unknown_tags
  FROM casc3
  WHERE len(branches) > 0
)"""


def _entities_service_frames(spark, sf_dir):
    # session pools: q128/q129/q130 (and repeated searches) all consume the
    # processed-service pair — lineage-truncating checkpoints so each
    # consumer's plan (and its per-op analysis cost) bottoms out at the scan
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    orgs = ENT.org_registry(spark, sf_dir)
    gs = ENT.guidestar_org_details(spark, sf_dir)
    bk = ENT.budgetkey_entities(spark, sf_dir)
    enriched = ENT.enrich_orgs(orgs, gs, bk)
    orgs_all_active = (
        enriched.select("id", "status")
        .unionByName(orgs.filter(F.col("source") != "entities").select("id", "status"))
        .filter(F.col("status") == "ACTIVE")
    )
    out, unknown = ENT.process_services(
        orgs_all_active,
        ENT.guidestar_services(spark, sf_dir),
        ENT.guidestar_branches(spark, sf_dir),
        ENT.taxonomy_mapping(spark),
    )
    return (
        keep_checkpointed_pooled(out, "entities_services", eager=False),
        keep_checkpointed_pooled(unknown, "entities_unknown_tags", eager=False),
    )


def q128_entities_services(spark, sf_dir):
    """SURVEY §3.2 stage 4 (reference entities/__init__.py:325-587):
    unwind_services + process_service — rejected-tag and "נדרש סיוע" drops,
    taxonomy union, the payment/area/when/remote enum cascades (asserts →
    raise_error), branch-list repair with national: synthesis, detail
    assembly, date formatting, url fixing — as one declarative plan."""
    out, _unknown = _entities_service_frames(spark, sf_dir)
    return stringify_arrays(out)


Q128_PREFIX = (
    f"WITH {_NS_CTE},\n{ORG_REGISTRY_CTE.strip()},\n{GS_DETAILS_CTE.strip()},\n"
    f"{BK_CTE.strip()},\n{ENRICHED_CTE.strip()},\n{GBRANCHES_CTE.strip()},\n"
    f"{GSERVICES_CTE.strip()},\n{_tag_mapping_sql()},\n{_process_ctes().strip()}"
)


Q128_SQL = scalarized_sql(
    Q128_PREFIX
    + """
SELECT id, name, description, details, payment_required, payment_details, urls,
       situations, responses, organizations, branches, data_sources, implements,
       phone_numbers, email_address
FROM processed
""",
    ["situations", "responses", "organizations", "branches"],
)


QUERIES["q128_entities_services"] = QueryDef(
    q128_entities_services,
    Q128_SQL,
    "entities vertical: process_service enum cascades + branch repair",
)


# ---------------------------------------------------------------------------
# q129 — the four staged merges, summarized; q130 — unknown-tag write-back
# ---------------------------------------------------------------------------


def q129_entities_staged(spark, sf_dir):
    """SURVEY §3.2 composed end-to-end: the four airtable_updater merges
    (org ids / enrichment patch-set / branches / services-with-soft-delete)
    chained through staging_upsert, summarized as one (merge, id, status,
    changed) row per written record. q126-q128 hash-gate the field values;
    this gates the MERGE semantics — skip, update, insert and soft-delete
    paths are all populated by the deterministic current-table
    perturbations."""
    staged = ENT.run_entities(spark, sf_dir)
    parts = []
    for name in ("org_ids", "org_enrich", "branches", "services"):
        parts.append(
            staged[name].select(
                F.lit(name).alias("merge"),
                "id",
                "status",
                F.col("_changed").alias("changed"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_ENRICH_FIELDS = [
    "kind", "name", "short_name", "description", "purpose",
    "urls", "phone_numbers", "email_address",
]


_BRANCH_FIELDS = [c for c in ENT.BRANCH_COLS if c != "id"]


_SERVICE_FIELDS = [c for c in ENT.SERVICE_COLS if c != "id"]


def _differs(fields: list[str], l: str = "f", r: str = "c") -> str:
    return " OR ".join(f"{l}.{x} IS DISTINCT FROM {r}.{x}" for x in fields)


_MERGE_CTES = f"""
m1 AS (
  SELECT 'org_ids' AS merge, id, 'ACTIVE' AS status, TRUE AS changed FROM gs_details
),
m2 AS (
  SELECT 'org_enrich' AS merge, e.id, 'ACTIVE' AS status,
         (o.status <> 'ACTIVE' OR {_differs(_ENRICH_FIELDS, "e", "o")}) AS changed
  FROM enriched e JOIN org_registry o ON e.id = o.id
),
cur_br AS (
  SELECT id,
         CASE WHEN right(id, 1) IN ('4','5','6') THEN 'ישן ' || name ELSE name END AS name,
         organization, address, address_details, location, description,
         phone_numbers, urls, situations
  FROM unwound WHERE right(id, 1) NOT IN ('7','8','9')
),
m3 AS (
  SELECT 'branches' AS merge, f.id, 'ACTIVE' AS status,
         (c.id IS NULL OR {_differs(_BRANCH_FIELDS)}) AS changed
  FROM unwound f LEFT JOIN cur_br c ON f.id = c.id
),
stale_svc AS (
  SELECT 'guidestar:SGONE' || CAST(p_partkey AS VARCHAR) AS id,
         'שירות שנעלם' AS name,
         CAST(NULL AS VARCHAR) AS description, CAST(NULL AS VARCHAR) AS details,
         CAST(NULL AS VARCHAR) AS payment_required, CAST(NULL AS VARCHAR) AS payment_details,
         CAST(NULL AS VARCHAR) AS urls,
         CAST(NULL AS VARCHAR[]) AS situations, CAST(NULL AS VARCHAR[]) AS responses,
         CAST(NULL AS VARCHAR[]) AS organizations, CAST(NULL AS VARCHAR[]) AS branches,
         CAST(NULL AS VARCHAR) AS data_sources, CAST(NULL AS VARCHAR) AS implements,
         CAST(NULL AS VARCHAR) AS phone_numbers, CAST(NULL AS VARCHAR) AS email_address
  FROM part WHERE p_partkey % 101 = 0
),
cur_svc AS (
  SELECT id,
         CASE WHEN right(id, 1) IN ('4','5','6') THEN 'ישן ' || name ELSE name END AS name,
         description, details, payment_required, payment_details, urls,
         situations, responses, organizations, branches, data_sources,
         implements, phone_numbers, email_address
  FROM processed WHERE right(id, 1) NOT IN ('7','8','9')
  UNION ALL SELECT * FROM stale_svc
),
m4 AS (
  SELECT 'services' AS merge, coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         (c.id IS NULL OR f.id IS NULL OR {_differs(_SERVICE_FIELDS)}) AS changed
  FROM processed f FULL OUTER JOIN cur_svc c ON f.id = c.id
)"""


Q129_SQL = (
    Q128_PREFIX
    + ",\n"
    + UNWIND_CTES.strip()
    + ",\n"
    + _MERGE_CTES.strip()
    + """
SELECT * FROM m1 WHERE changed
UNION ALL SELECT * FROM m2 WHERE changed
UNION ALL SELECT * FROM m3 WHERE changed
UNION ALL SELECT * FROM m4 WHERE changed
"""
)


QUERIES["q129_entities_staged"] = QueryDef(
    q129_entities_staged,
    Q129_SQL,
    "entities vertical: 4-way staged upsert composition (skip/update/insert/soft-delete)",
)


def q130_entities_unknown_tags(spark, sf_dir):
    """The curator feedback loop (reference entities/__init__.py:336-346):
    tags seen on surviving services with no taxonomy mapping are written back
    to the mapping table as empty rows for curators — surfaced here as
    (tag, n_services)."""
    _out, unknown = _entities_service_frames(spark, sf_dir)
    return unknown


Q130_SQL = (
    Q128_PREFIX
    + """
SELECT tag, CAST(count(*) AS BIGINT) AS n_services
FROM (SELECT unnest(unknown_tags) AS tag FROM kept)
GROUP BY tag
"""
)


QUERIES["q130_entities_unknown_tags"] = QueryDef(
    q130_entities_unknown_tags,
    Q130_SQL,
    "entities vertical: unknown-tag curator write-back",
)


# ---------------------------------------------------------------------------
# q136 — incremental branch refresh proven equal to the full unwind
# ---------------------------------------------------------------------------


def q136_entities_incremental(spark, sf_dir):
    """Incremental re-scrape of the entities vertical (the q93 discipline):
    only orgs in the changed slice re-unwind; unchanged orgs pass their
    previously staged rows through a broadcast anti-join. The prior table is
    deliberately STALE for the changed orgs ('OLD ' names), so the refresh
    only hash-matches the oracle — q127's full-unwind SQL verbatim — if the
    delta rebuild actually replaced every stale row. Shuffle tracks the
    change set, not the registry size."""
    return stringify_arrays(ENT.incremental_unwind_refresh(spark, sf_dir))


QUERIES["q136_entities_incremental"] = QueryDef(
    q136_entities_incremental,
    Q127_SQL,
    "entities vertical: incremental branch refresh == full recompute",
)


def _el_sql(values: list[str], idx: str) -> str:
    lst = "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"
    return f"({lst})[({idx}) + 1]"


_MISSING_SQL = ", ".join(f"'{v}'" for v in MES.MISSING_VALUES)


RAW_CTE = f"""
raw AS (
  SELECT o_orderkey AS k, o_orderkey // 2 AS g FROM orders
),
meser_raw AS (
  SELECT k AS _feed_order,
         CAST(k AS VARCHAR) AS misgeret_id,
         '  מסגרת ' || CAST(g AS VARCHAR) || ' ' AS name,
         {_el_sql(MES.TYPES, "k % 4")} AS type_descr,
         CASE WHEN g % 3 = 0 THEN '5001' || lpad(CAST(g % 1000 AS VARCHAR), 5, '0')
              WHEN g % 21 = 1 THEN '12' ELSE 'NULL' END AS biz_num,
         CASE WHEN g % 6 = 1 THEN '52' || lpad(CAST(g % 10000 AS VARCHAR), 7, '0')
              ELSE 'NULL' END AS reg_id,
         CASE WHEN g % 5 = 0 THEN 'רחוב999 הדקל'
              WHEN g % 5 = 1 THEN {_el_sql(MES.CITIES, "g % 6")}
              WHEN g % 5 = 2 THEN 'NULL'
              WHEN g % 5 = 3 THEN 'שדרות הנשיא ' || CAST(g % 50 AS VARCHAR)
              ELSE '-1' END AS adrees,
         {_el_sql(MES.CITIES, "g % 6")} AS city_name,
         CASE WHEN g % 7 = 0 THEN 'NULL'
              WHEN g % 7 = 1 THEN '0'
              WHEN g % 7 = 2 THEN '54123' || lpad(CAST(g % 10000 AS VARCHAR), 4, '0')
              WHEN g % 7 = 3 THEN '025551234'
              ELSE '' END AS telephone,
         {_el_sql(MES.TARGETS, "k % 5")} AS target_descr,
         CASE WHEN k % 4 = 0 THEN 'שיקום' ELSE 'NULL' END AS second_classific,
         {_el_sql(MES.GENDERS, "k % 3")} AS gender_descr,
         CASE WHEN k % 2 = 0 THEN 'רווחה' ELSE 'NULL' END AS head_department,
         CASE WHEN g % 3 != 0 THEN CAST(34 + (g % 3) AS VARCHAR) ELSE 'NULL' END AS gisx,
         CASE WHEN g % 3 != 0 THEN CAST(29 + (g % 5) AS VARCHAR) ELSE 'NULL' END AS gisy,
         CASE WHEN k % 9 = 0 THEN 'לא ידוע' ELSE CAST(k % 200 AS VARCHAR) END AS actual_capacity,
         CAST(k % 18 AS VARCHAR) AS from_age,
         CAST(k % 18 + 3 AS VARCHAR) AS to_age,
         CASE WHEN k % 4 = 0 THEN '15/03/2019'
              WHEN k % 4 = 1 THEN '02/11/2021'
              WHEN k % 4 = 2 THEN 'NULL'
              ELSE '31/12/2020' END AS startd,
         {_el_sql(MES.OWNERS, "g % 3")} AS owner_descr
  FROM raw
)"""


def _null_missing(col: str) -> str:
    return f"CASE WHEN {col} IN ({_MISSING_SQL}) THEN NULL ELSE {col} END"


def _int_sql(col: str) -> str:
    return f"CAST(floor(coalesce(try_cast({col} AS DOUBLE), 0)) AS INT)"


SAN_CTE = f"""
san AS (
  SELECT _feed_order,
         {_null_missing("misgeret_id")} AS misgeret_id,
         {_null_missing("name")} AS name,
         {_null_missing("type_descr")} AS type_descr,
         {_null_missing("biz_num")} AS biz_num,
         {_null_missing("reg_id")} AS reg_id,
         {_null_missing("adrees")} AS adrees,
         {_null_missing("city_name")} AS city_name,
         {_null_missing("telephone")} AS telephone,
         {_null_missing("target_descr")} AS target_descr,
         {_null_missing("second_classific")} AS second_classific,
         {_null_missing("gender_descr")} AS gender_descr,
         {_null_missing("head_department")} AS head_department,
         {_int_sql("gisx")} AS gisx,
         {_int_sql("gisy")} AS gisy,
         {_int_sql("actual_capacity")} AS actual_capacity,
         {_int_sql("from_age")} AS from_age,
         {_int_sql("to_age")} AS to_age,
         strftime(try_strptime(startd, '%d/%m/%Y'), '%Y-%m-%d') AS startd,
         {_null_missing("owner_descr")} AS owner_descr
  FROM meser_raw
)"""


def q131_meser_sanitize(spark, sf_dir):
    """sanitize_for_airtable (reference meser/__init__.py:151-170): numeric
    fields to int with 0 for the unparseable, STARTD day-first to ISO or
    null, magic missing values ('NULL', '-1', 'לא ידוע', 'לא משויך',
    'רב תכליתי') nulled everywhere else. Pure projection — no Python."""
    s = MES.sanitize_meser(MES.meser_raw(spark, sf_dir))
    return s.select(
        F.col("Misgeret_Id").alias("misgeret_id"),
        F.col("Actual_Capacity").alias("actual_capacity"),
        F.col("From_Age").alias("from_age"),
        F.col("To_Age").alias("to_age"),
        F.col("GisX").alias("gisx"),
        F.col("GisY").alias("gisy"),
        F.col("STARTD").alias("startd"),
        F.col("Adrees").alias("adrees"),
        F.col("Telephone").alias("telephone"),
        F.col("Target_Population_Descr").alias("target_descr"),
    )


Q131_SQL = f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()}
SELECT misgeret_id, actual_capacity, from_age, to_age, gisx, gisy, startd,
       adrees, telephone, target_descr
FROM san
"""


QUERIES.update({
    "q131_meser_sanitize": QueryDef(
        q131_meser_sanitize, Q131_SQL,
        "meser vertical: sanitize_for_airtable (coercions + magic missing values)",
    ),
})


# ---------------------------------------------------------------------------
# q132 — transform_meser_dataframe parity
# ---------------------------------------------------------------------------


def _meser_tags_sql() -> str:
    """VALUES clause generated from pipelines.meser.MESER_TAG_ROWS."""
    vals = []
    for tag, resp, sits in MES.MESER_TAG_ROWS:
        r = (
            "CAST(NULL AS VARCHAR[])"
            if resp is None
            else "CAST([" + ", ".join(f"'{x}'" for x in resp) + "] AS VARCHAR[])"
        )
        s = (
            "CAST(NULL AS VARCHAR[])"
            if sits is None
            else "CAST([" + ", ".join(f"'{x}'" for x in sits) + "] AS VARCHAR[])"
        )
        vals.append(f"('{tag}', {r}, {s})")
    return (
        "meser_tags(tag, response_ids, situation_ids) AS (SELECT * FROM (VALUES "
        + ", ".join(vals)
        + "))"
    )


TRANSFORM_CTES = f"""
base AS (
  SELECT _feed_order,
         trim(name) AS service_name,
         trim(type_descr) AS branch_name,
         misgeret_id AS meser_id,
         coalesce(biz_num, reg_id, '{MES.FALLBACK_ORG}') AS organization_id,
         trim(concat_ws(' ',
           CASE WHEN lower(a2.a) = lower(a2.city) THEN NULL ELSE a2.a END,
           a2.city)) AS address,
         CASE WHEN telephone IS NULL OR trim(telephone) IN ('', '0') THEN ''
              WHEN substr(telephone, 1, 1) <> '0' THEN '0' || telephone
              ELSE telephone END AS phone_numbers,
         list_filter([type_descr, target_descr, second_classific, gender_descr, head_department],
                     x -> x IS NOT NULL AND x <> 'None' AND x <> '') AS tagging_row,
         owner_descr, city_name, gisx, gisy,
         'meser-b-' || misgeret_id AS branch_id,
         'meser-s-' || misgeret_id AS service_id
  FROM san,
  LATERAL (SELECT
    CASE WHEN t.a0 IS NOT NULL AND lower(trim(t.a0)) NOT IN ('none', 'nan', '') THEN trim(t.a0) END AS a,
    CASE WHEN city_name IS NOT NULL AND lower(trim(city_name)) NOT IN ('none', 'nan', '') THEN trim(city_name) END AS city
    FROM (SELECT CASE WHEN trim(replace(adrees, '999', '')) = city_name THEN NULL
                      ELSE trim(replace(adrees, '999', '')) END AS a0) t
  ) a2
),
grouped AS (
  SELECT service_name, phone_numbers, address, organization_id,
         min(_feed_order) AS _gid,
         arg_min(service_id, _feed_order) AS service_id,
         arg_min(branch_id, _feed_order) AS branch_id,
         arg_min(branch_name, _feed_order) AS branch_name,
         arg_min(meser_id, _feed_order) AS meser_id,
         arg_min(owner_descr, _feed_order) AS owner,
         arg_min(city_name, _feed_order) AS city,
         arg_min(gisx, _feed_order) AS gisx,
         arg_min(gisy, _feed_order) AS gisy
  FROM base
  GROUP BY 1, 2, 3, 4
),
tag_occ AS (
  SELECT g._gid, b._feed_order, u.tag, list_position(b.tagging_row, u.tag) AS tpos
  FROM base b
  JOIN grouped g USING (service_name, phone_numbers, address, organization_id),
  LATERAL (SELECT unnest(b.tagging_row) AS tag) u
),
tag_first AS (
  SELECT _gid, tag, min(_feed_order * 10 + tpos) AS k
  FROM tag_occ GROUP BY _gid, tag
),
tagging_m AS (
  SELECT _gid, list(tag ORDER BY k) AS tagging FROM tag_first GROUP BY _gid
),
rtag AS (
  SELECT t._gid, list_position(tm.tagging, t.tag) AS tagpos, m.response_ids, m.situation_ids
  FROM (SELECT DISTINCT _gid, tag FROM tag_first) t
  JOIN tagging_m tm USING (_gid)
  LEFT JOIN meser_tags m ON t.tag = m.tag
),
rid AS (
  SELECT _gid, tagpos, response_ids AS lst, unnest(response_ids) AS xid
  FROM rtag WHERE response_ids IS NOT NULL
),
rid2 AS (
  SELECT _gid, xid, min(tagpos * 1000000 + list_position(lst, xid)) AS k
  FROM rid GROUP BY _gid, xid
),
resp AS (SELECT _gid, list(xid ORDER BY k) AS responses FROM rid2 GROUP BY _gid),
sid AS (
  SELECT _gid, tagpos, situation_ids AS lst, unnest(situation_ids) AS xid
  FROM rtag WHERE situation_ids IS NOT NULL
),
sid2 AS (
  SELECT _gid, xid, min(tagpos * 1000000 + list_position(lst, xid)) AS k
  FROM sid GROUP BY _gid, xid
),
sits AS (SELECT _gid, list(xid ORDER BY k) AS situations FROM sid2 GROUP BY _gid),
transformed AS (
  SELECT g.service_name, g.phone_numbers, g.address, g.organization_id,
         g.service_id, g.branch_id, g.branch_name, g.meser_id, g.owner, g.city,
         coalesce(tm.tagging, CAST([] AS VARCHAR[])) AS tagging,
         coalesce(r.responses, CAST([] AS VARCHAR[])) AS responses,
         coalesce(s.situations, CAST([] AS VARCHAR[])) AS situations,
         {_olc_sql("CAST(g.gisy AS DOUBLE)", "CAST(g.gisx AS DOUBLE)", 10)} AS pluscode
  FROM grouped g
  LEFT JOIN tagging_m tm USING (_gid)
  LEFT JOIN resp r USING (_gid)
  LEFT JOIN sits s USING (_gid)
  WHERE length(g.organization_id) BETWEEN 5 AND 15
)"""


def q132_meser_transform(spark, sf_dir):
    """transform_meser_dataframe (reference meser/__init__.py:65-146,215):
    derived fields, the 4-key groupby-dedup whose pandas 'first' becomes
    min_by(feed order), the ORDER-PRESERVING flatten+dedup tag merge
    (posexplode -> per-element min position -> ordered re-collect), the
    group-first pluscode (10-digit OLC, like the reference's default-length
    encode), tag->responses/situations with the same (tag position, id
    position) ordering, and the org-id length filter."""
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    # SAME pool + plan as run_meser_staging's transform pin (meser.py) — a
    # session running q132 and q133 computes the transform once and holds
    # one pin (a keep_persisted under a different name silently broke the
    # documented q132/q133 shared materialization).
    t = keep_checkpointed_pooled(
        MES.transform_meser(
            MES.sanitize_meser(MES.meser_raw(spark, sf_dir)), MES.meser_tag_mapping(spark)
        ),
        "meser_transform_ckpt",
        eager=False,
    )
    return stringify_arrays(
        t.select(
            "service_name", "phone_numbers", "address", "organization_id",
            "service_id", "branch_id", "branch_name", "meser_id",
            F.col("Owner_Code_Descr").alias("owner"),
            F.col("City_Name").alias("city"),
            "tagging", "responses", "situations", "pluscode",
        )
    )


Q132_SQL = scalarized_sql(
    f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()},
{_meser_tags_sql()},
{TRANSFORM_CTES.strip()}
SELECT * FROM transformed
""",
    ["tagging", "responses", "situations"],
)


QUERIES["q132_meser_transform"] = QueryDef(
    q132_meser_transform, Q132_SQL,
    "meser vertical: transform (groupby-dedup + ordered tag merge + pluscode)",
)


# ---------------------------------------------------------------------------
# q133 — the three staged merges + soft-delete sweeps + FK remaps
# ---------------------------------------------------------------------------

_DS_SQL = MES.DATA_SOURCES_TEXT.replace("'", "''")


STAGING_CTES = f"""
cur_orgs AS (
  SELECT '5001' || lpad(CAST((s_suppkey * 7) % 1000 AS VARCHAR), 5, '0') AS id,
         CASE WHEN s_suppkey % 4 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         CASE WHEN s_suppkey % 9 = 0 THEN 'entities' ELSE 'meser' END AS source
  FROM supplier
),
cur_br AS (
  SELECT 'meser-b-' || CAST(s_suppkey * 4 AS VARCHAR) AS id,
         CASE WHEN s_suppkey % 3 = 0 THEN ['rec-500106406'] ELSE CAST([] AS VARCHAR[]) END AS organization,
         'כתובת ישנה ' || CAST(s_suppkey AS VARCHAR) AS address,
         'כתובת ישנה ' || CAST(s_suppkey AS VARCHAR) AS location,
         '02-000' || CAST(s_suppkey AS VARCHAR) AS phone_numbers,
         'meser' AS source,
         CASE WHEN s_suppkey % 5 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status
  FROM supplier
),
cur_svc AS (
  SELECT 'meser-s-' || CAST(s_suppkey * 4 + 2 AS VARCHAR) AS id,
         'ישן ' || CAST(s_suppkey AS VARCHAR) AS name,
         CAST(NULL AS VARCHAR) AS data_sources,
         CAST([] AS VARCHAR[]) AS situations,
         CAST([] AS VARCHAR[]) AS responses,
         CASE WHEN s_suppkey % 2 = 0 THEN ['rec-meser-b-old' || CAST(s_suppkey AS VARCHAR)]
              ELSE CAST([] AS VARCHAR[]) END AS branches,
         CAST(NULL AS VARCHAR) AS id_in_source,
         'meser' AS source, 'ACTIVE' AS status
  FROM supplier
)"""


MERGE_CTES = f"""
fetched_orgs AS (SELECT DISTINCT organization_id AS id FROM transformed),
m_org AS (
  SELECT coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         CASE WHEN f.id IS NULL THEN c.status <> 'INACTIVE'
              WHEN c.id IS NULL THEN TRUE
              ELSE c.status <> 'ACTIVE' END AS changed
  FROM fetched_orgs f
  FULL OUTER JOIN (SELECT * FROM cur_orgs WHERE source = 'meser') c ON f.id = c.id
),
org_after AS (SELECT id FROM cur_orgs UNION SELECT id FROM fetched_orgs),
remapped AS (
  SELECT t.*,
         CASE WHEN o.id IS NOT NULL THEN ['rec-' || t.organization_id]
              ELSE CAST([] AS VARCHAR[]) END AS org_links
  FROM transformed t LEFT JOIN org_after o ON t.organization_id = o.id
),
fetched_br AS (
  SELECT branch_id AS id,
         list_sort(list_distinct(flatten(list(org_links)))) AS organization,
         arg_min(address, try_cast(meser_id AS BIGINT)) AS address,
         arg_min(address, try_cast(meser_id AS BIGINT)) AS location,
         coalesce(array_to_string(
           list(phone_numbers ORDER BY try_cast(meser_id AS BIGINT))
             FILTER (WHERE phone_numbers IS NOT NULL AND trim(phone_numbers) NOT IN ('', '0')),
           ', '), '') AS phone_numbers
  FROM remapped GROUP BY branch_id
),
m_branch AS (
  SELECT coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         CASE WHEN f.id IS NULL THEN c.status <> 'INACTIVE'
              WHEN c.id IS NULL THEN TRUE
              ELSE c.status <> 'ACTIVE'
                   OR f.organization IS DISTINCT FROM c.organization
                   OR f.address IS DISTINCT FROM c.address
                   OR f.location IS DISTINCT FROM c.location
                   OR f.phone_numbers IS DISTINCT FROM c.phone_numbers END AS changed,
         CASE WHEN f.id IS NOT NULL THEN f.organization ELSE c.organization END AS links
  FROM fetched_br f
  FULL OUTER JOIN (SELECT * FROM cur_br WHERE source = 'meser') c ON f.id = c.id
),
br_after AS (SELECT id FROM cur_br UNION SELECT id FROM fetched_br),
svc_rem AS (
  SELECT t.*,
         CASE WHEN b.id IS NOT NULL THEN ['rec-' || t.branch_id]
              ELSE CAST([] AS VARCHAR[]) END AS new_links
  FROM transformed t LEFT JOIN br_after b ON t.branch_id = b.id
),
svc_merged AS (
  SELECT s.service_id AS id, s.service_name AS name,
         '{_DS_SQL}' AS data_sources,
         s.situations, s.responses,
         list_sort(list_distinct(coalesce(c.branches, CAST([] AS VARCHAR[])) || s.new_links)) AS branches,
         s.meser_id AS id_in_source
  FROM svc_rem s LEFT JOIN cur_svc c ON s.service_id = c.id
),
m_svc AS (
  SELECT coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         CASE WHEN f.id IS NULL THEN c.status <> 'INACTIVE'
              WHEN c.id IS NULL THEN TRUE
              ELSE c.status <> 'ACTIVE'
                   OR f.name IS DISTINCT FROM c.name
                   OR f.data_sources IS DISTINCT FROM c.data_sources
                   OR f.situations IS DISTINCT FROM c.situations
                   OR f.responses IS DISTINCT FROM c.responses
                   OR f.branches IS DISTINCT FROM c.branches
                   OR f.id_in_source IS DISTINCT FROM c.id_in_source END AS changed,
         CASE WHEN f.id IS NOT NULL THEN f.branches ELSE c.branches END AS links
  FROM svc_merged f
  FULL OUTER JOIN (SELECT * FROM cur_svc WHERE source = 'meser') c ON f.id = c.id
)"""


def q133_meser_staged(spark, sf_dir):
    """SURVEY §3.3 composed: the three meser upserts with the
    trigger_status_check soft-delete sweeps folded into
    staging_upsert(manage_status=True) — incl. the already-INACTIVE skip the
    reference's sweep has (trigger_status_check.py:51-56) — and both FK
    remaps (org record-keys on branches; branch record-keys UNIONED with
    existing links on services). One (merge, id, status, changed, links) row
    per written record."""
    staged = MES.run_meser(spark, sf_dir)
    null_links = F.lit(None).cast("array<string>")
    o = staged["organizations"].select(
        F.lit("organizations").alias("merge"), "id", "status",
        F.col("_changed").alias("changed"), null_links.alias("links"),
    )
    b = staged["branches"].select(
        F.lit("branches").alias("merge"), "id", "status",
        F.col("_changed").alias("changed"), F.col("organization").alias("links"),
    )
    s = staged["services"].select(
        F.lit("services").alias("merge"), "id", "status",
        F.col("_changed").alias("changed"), F.col("branches").alias("links"),
    )
    return stringify_arrays(o.unionByName(b).unionByName(s))


Q133_SQL = f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()},
{_meser_tags_sql()},
{TRANSFORM_CTES.strip()},
{STAGING_CTES.strip()},
{MERGE_CTES.strip()}
SELECT 'organizations' AS merge, id, status, changed, CAST(NULL AS VARCHAR[]) AS links
FROM m_org WHERE changed
UNION ALL
SELECT 'branches' AS merge, id, status, changed, links FROM m_branch WHERE changed
UNION ALL
SELECT 'services' AS merge, id, status, changed, links FROM m_svc WHERE changed
"""


Q133_SQL = scalarized_sql(Q133_SQL, ["links"])


QUERIES["q133_meser_staged"] = QueryDef(
    q133_meser_staged, Q133_SQL,
    "meser vertical: 3-way staged upserts + soft-delete sweeps + FK remaps",
)


# ---------------------------------------------------------------------------
# q137 — streaming ingestion twin: micro-batched org feed -> versioned staging
# ---------------------------------------------------------------------------


def _stage_batches(spark, fetched, base: str) -> list[str]:
    """q137's four batch files, one id column each: ids ending in 0-3, in
    4-6, in 7-9, then every id (the reconciliation snapshot, which restores
    partial-feed statuses).

    Two writes, and the lineage of ``fetched`` runs once: the single-file
    write of ``fetched`` IS the snapshot, and one partitionBy write of its
    read-back carves the three partial batches. The read-back takes the
    schema the writer just used, so no schema-inference job runs."""
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    fdir = os.path.join(base, "fetched")
    fetched.coalesce(1).write.parquet(fdir)
    fetched = spark.read.schema(fetched.schema).parquet(fdir)
    last = F.substring(F.col("id"), -1, 1)
    bucket = (
        F.when(last.isin("0", "1", "2", "3"), 0)
        .when(last.isin("4", "5", "6"), 1)
        .when(last.isin("7", "8", "9"), 2)
    )
    pdir = os.path.join(base, "partial")
    (
        fetched.withColumn("_b", bucket).filter(F.col("_b").isNotNull())
        .coalesce(1).write.partitionBy("_b").parquet(pdir)
    )
    staged = []
    for i in range(3):
        files = glob.glob(os.path.join(pdir, f"_b={i}", "*.parquet"))
        if files:
            (src,) = files
        else:
            # a bucket with no rows still lands an empty batch file, so the
            # version chain does not depend on the fetch's digit spread
            src = os.path.join(pdir, f"empty{i}.parquet")
            pq.write_table(pa.schema([("id", pa.string())]).empty_table(), src)
        staged.append(src)
    (snapshot,) = glob.glob(os.path.join(fdir, "*.parquet"))
    return staged + [snapshot]


def q137_meser_streaming_staging(spark, sf_dir):
    """The meser org merge as a STREAMING deployment: the fetched org ids
    arrive as three partial micro-batches plus a reconciliation snapshot
    (file source, mtime-ordered, maxFilesPerTrigger=1, availableNow); each
    batch runs the same staging_upsert through foreachBatch and publishes a
    new version (streaming/events.py:stream_upsert_to_staging —
    write-new-then-repoint, never overwriting a version being read). The
    final version must equal the closed-form batch merge: ACTIVE iff the org
    is in the fetch, soft-deleted meser rows INACTIVE, rows of OTHER staging
    sources preserved untouched across every version — one upsert
    implementation, two drivers (SURVEY §2.10)."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    from ..pipelines.meser import current_meser_staging  # noqa: PLC0415
    from ..session import scratch_dir  # noqa: PLC0415
    from ..streaming.events import (  # noqa: PLC0415
        latest_staging_version,
        stream_upsert_to_staging,
    )

    t = MES.transform_meser(
        MES.sanitize_meser(MES.meser_raw(spark, sf_dir)), MES.meser_tag_mapping(spark)
    )
    fetched = t.select(F.col("organization_id").alias("id")).distinct()
    base = scratch_dir("srm_q137")
    data = os.path.join(base, "stream")
    os.makedirs(data)
    now = _time.time()
    staged = _stage_batches(spark, fetched, base)

    def land(i: int) -> None:
        dst = os.path.join(data, f"batch{i}.parquet")
        shutil.copy(staged[i], dst)
        os.utime(dst, (now - 100 * (len(staged) - i),) * 2)

    root = os.path.join(base, "staging")
    # bootstrap: the current staging table is version -1
    current_meser_staging(spark, sf_dir)["organizations"].write.parquet(
        os.path.join(root, "v=-1")
    )

    def run_merge():
        stream = (
            spark.readStream.schema("id string")
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        return stream_upsert_to_staging(
            stream, root, key="id", source_id="meser",
            checkpoint=os.path.join(base, "ckpt"),
            source_bytes=sum(os.path.getsize(p) for p in staged),
        )

    # SPARK_GRAFT_STREAM_RECOVERY=1: kill-and-resume for the foreachBatch
    # MERGE deployment — the first run commits two partial-feed versions and
    # "crashes"; the resumed run's file log skips them and continues at the
    # NEXT batch_id, so the version chain (and the final reconciled table)
    # is identical to the uninterrupted run's.
    if os.environ.get("SPARK_GRAFT_STREAM_RECOVERY") == "1":
        for i in range(2):
            land(i)
        run_merge()
        for i in range(2, len(staged)):
            land(i)
        schema = run_merge()
    else:
        for i in range(len(staged)):
            land(i)
        schema = run_merge()
    final = latest_staging_version(root)
    if final is None or final.endswith("v=-1"):
        raise RuntimeError(
            f"q137: streaming merge published no new staging version under {root}"
        )
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(final).select("id", "source", "status")


Q137_SQL = f"""
WITH {RAW_CTE.strip()},
{SAN_CTE.strip()},
{_meser_tags_sql()},
{TRANSFORM_CTES.strip()},
cur_orgs AS (
  SELECT '5001' || lpad(CAST((s_suppkey * 7) % 1000 AS VARCHAR), 5, '0') AS id,
         CASE WHEN s_suppkey % 4 = 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         CASE WHEN s_suppkey % 9 = 0 THEN 'entities' ELSE 'meser' END AS source
  FROM supplier
),
fetched AS (SELECT DISTINCT organization_id AS id FROM transformed)
SELECT coalesce(f.id, c.id) AS id,
       'meser' AS source,
       CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status
FROM fetched f
FULL OUTER JOIN (SELECT id FROM cur_orgs WHERE source = 'meser') c ON f.id = c.id
UNION ALL
-- rows of OTHER sources ride through every version untouched
SELECT id, source, status FROM cur_orgs WHERE source <> 'meser'
"""


QUERIES["q137_meser_streaming_staging"] = QueryDef(
    q137_meser_streaming_staging, Q137_SQL,
    "meser vertical: streaming micro-batched staging merge (versioned swap)",
)


# ---------------------------------------------------------------------------
# q134 — external manual data entry
# ---------------------------------------------------------------------------

SHEETS_CTE = """
sheets AS (
  SELECT 'sheet://' || CAST(n_nationkey AS VARCHAR) AS sheet_url,
         CASE WHEN n_nationkey % 5 = 4 THEN 'מושהה' ELSE 'בייצור' END AS status,
         'מקור ' || n_name AS source_name,
         'ארגון ברירת מחדל ' || CAST(n_nationkey AS VARCHAR) AS org_name,
         CASE WHEN n_nationkey % 2 = 0 THEN 'קיצור' || CAST(n_nationkey AS VARCHAR) END AS org_short_name,
         '58000000' || CAST(n_nationkey % 10 AS VARCHAR) AS org_id,
         '02-555000' || CAST(n_nationkey % 10 AS VARCHAR) AS org_phone,
         CAST(NULL AS VARCHAR) AS org_email,
         CAST(NULL AS VARCHAR) AS org_website,
         CASE WHEN n_nationkey % 3 != 0 THEN 'כתובת ' || n_name END AS branch_address
  FROM nation
)"""


SHEET_ROWS_CTE = """
sheet_rows AS (
  SELECT 'sheet://' || CAST(c_nationkey AS VARCHAR) AS sheet_url,
         c_custkey AS pos,
         CASE WHEN c_custkey % 11 = 5 THEN ''
              ELSE 'שירות חיצוני ' || CAST(c_custkey AS VARCHAR) END AS service_name,
         CASE WHEN c_custkey % 4 = 0 THEN 'מוכן לפרסום' ELSE 'טיוטה' END AS row_status,
         CASE WHEN c_custkey % 2 = 0
              THEN 'רחוב העצמאות ' || CAST(c_custkey % 90 AS VARCHAR) END AS service_address,
         'תיאור ' || CAST(c_custkey AS VARCHAR) AS service_description,
         CASE WHEN c_custkey % 3 = 0 THEN 'בתיאום' END AS service_conditions,
         CASE WHEN c_custkey % 5 = 0
              THEN '02-600' || CAST(c_custkey % 1000 AS VARCHAR) END AS service_phone,
         CASE WHEN c_custkey % 4 = 1
              THEN 'x' || CAST(c_custkey AS VARCHAR) || '.org' END AS service_website,
         CASE WHEN c_custkey % 6 = 0
              THEN 'm' || CAST(c_custkey AS VARCHAR) || '@x.org' END AS service_email,
         CASE WHEN c_custkey % 3 = 0
              THEN 'מפעיל ' || CAST(c_custkey AS VARCHAR) END AS operator_name,
         CASE WHEN c_custkey % 9 = 0 THEN 'יוזמה פרטית'
              WHEN c_custkey % 9 = 3 THEN ''
              ELSE '5800' || lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') END AS operator_id,
         CASE WHEN c_custkey % 2 = 0
              THEN '03-777' || CAST(c_custkey % 100 AS VARCHAR) END AS operator_phone,
         CASE WHEN c_custkey % 4 = 0
              THEN 'op' || CAST(c_custkey AS VARCHAR) || '@x.org' END AS operator_email,
         CASE WHEN c_custkey % 5 = 0
              THEN 'op' || CAST(c_custkey AS VARCHAR) || '.org' END AS operator_website,
         'קטגוריה ' || CAST(c_custkey % 6 AS VARCHAR) AS category,
         'אוכלוסייה ' || CAST(c_custkey % 4 AS VARCHAR) AS audience,
         CASE WHEN c_custkey % 3 = 0 THEN 'ערבית' ELSE 'עברית' END AS language,
         CASE WHEN c_custkey % 5 = 0 THEN 'רוסית' END AS language2,
         CASE WHEN c_custkey % 7 = 0 THEN 'קהל א, קהל ב' END AS target_audiences,
         (c_custkey % 8 = 0) AS emergency,
         CASE WHEN c_custkey % 5 = 2 THEN 'הערה ' || CAST(c_custkey AS VARCHAR) END AS notes_raw
  FROM customer
)"""


def _mde_tags_sql() -> str:
    vals = []
    for tag, resp, sits in MDE.MDE_TAG_ROWS:
        r = "CAST([" + ", ".join(f"'{x}'" for x in resp) + "] AS VARCHAR[])"
        s = "CAST([" + ", ".join(f"'{x}'" for x in sits) + "] AS VARCHAR[])"
        vals.append(f"('{tag}', {r}, {s})")
    return (
        "categories(tag, response_ids, situation_ids) AS (SELECT * FROM (VALUES "
        + ", ".join(vals)
        + "))"
    )


MDE_BASE_CTE = """
mde_join AS (
  SELECT r.*, s.source_name, s.org_name AS def_org_name, s.org_short_name AS def_short,
         s.org_id AS def_org_id, s.org_phone AS def_phone, s.org_email AS def_email,
         s.org_website AS def_website, s.branch_address AS def_address
  FROM sheet_rows r
  JOIN sheets s USING (sheet_url)
  WHERE s.status = 'בייצור' AND r.service_name <> '' AND r.row_status = 'מוכן לפרסום'
),
-- enumerate BEFORE the falsy-org-id drop (reference external.py:35 vs :55-56):
-- a dropped row still consumes its per-sheet index
mde_enum AS (
  SELECT *, sheet_url || '#' || CAST(row_number() OVER (PARTITION BY sheet_url ORDER BY pos) - 1 AS VARCHAR) AS _row_id
  FROM mde_join
),
mde_base AS (
  SELECT _row_id,
         coalesce(service_address, def_address) AS branch_address,
         service_name, service_description, service_conditions,
         service_phone, service_website, service_email,
         CASE WHEN operator_name IS NOT NULL THEN operator_name ELSE def_org_name END AS org_name,
         CASE WHEN operator_name IS NOT NULL THEN NULL ELSE def_short END AS org_short_name,
         CASE WHEN operator_name IS NOT NULL
              THEN (CASE WHEN trim(operator_id) = 'יוזמה פרטית' THEN NULL ELSE operator_id END)
              ELSE def_org_id END AS org_id,
         CASE WHEN operator_name IS NOT NULL THEN operator_phone ELSE def_phone END AS org_phone,
         CASE WHEN operator_name IS NOT NULL THEN operator_email ELSE def_email END AS org_email,
         CASE WHEN operator_name IS NOT NULL THEN operator_website ELSE def_website END AS org_website,
         source_name AS data_source,
         [category, audience, language, language2] AS taxonomies,
         target_audiences,
         trim(CASE WHEN emergency
                   THEN coalesce(notes_raw, '') || chr(10) || chr(10) || 'יש לתייג כשירות חירום'
                   ELSE coalesce(notes_raw, '') END) AS notes
  FROM mde_enum
  WHERE NOT (operator_name IS NOT NULL AND (operator_id IS NULL OR operator_id = ''))
),
mde_tagged AS (
  SELECT b._row_id,
         list_sort(list_distinct(flatten(list(coalesce(c.response_ids, CAST([] AS VARCHAR[])))))) AS responses_ids,
         list_sort(list_distinct(flatten(list(coalesce(c.situation_ids, CAST([] AS VARCHAR[])))))) AS situations_ids
  FROM (SELECT _row_id, trim(unnest(taxonomies)) AS tag FROM mde_base) e
  JOIN mde_base b USING (_row_id)
  LEFT JOIN categories c ON e.tag = c.tag
  WHERE e.tag IS NOT NULL
  GROUP BY b._row_id
)"""


def q134_external_mde(spark, sf_dir):
    """External manual data entry (reference external.py:23-131) composed:
    ready sheets -> ready rows with a service name -> org-defaults fallback
    cascade ('יוזמה פרטית' nulls the org id; '' drops the row) -> per-sheet
    0-based _row_id enumeration of surviving rows -> Categories taxonomy
    union (sorted; the reference materializes an unordered set) -> the
    emergency-note append."""
    out = MDE.external_mde(
        MDE.mde_sheets(spark, sf_dir),
        MDE.mde_sheet_rows(spark, sf_dir),
        MDE.mde_categories(spark),
    )
    return stringify_arrays(
        out.select(
            "_row_id", "branch_address", "service_name", "service_description",
            "service_conditions", "service_phone", "service_website", "service_email",
            "org_name", "org_short_name", "org_id", "org_phone", "org_email",
            "org_website", "data_source", "target_audiences", "notes",
            "responses_ids", "situations_ids",
        )
    )


Q134_SQL = f"""
WITH {SHEETS_CTE.strip()},
{SHEET_ROWS_CTE.strip()},
{_mde_tags_sql()},
{MDE_BASE_CTE.strip()}
SELECT b._row_id, branch_address, service_name, service_description,
       service_conditions, service_phone, service_website, service_email,
       org_name, org_short_name, org_id, org_phone, org_email, org_website,
       data_source, target_audiences, notes,
       coalesce(t.responses_ids, CAST([] AS VARCHAR[])) AS responses_ids,
       coalesce(t.situations_ids, CAST([] AS VARCHAR[])) AS situations_ids
FROM mde_base b LEFT JOIN mde_tagged t USING (_row_id)
"""


Q134_SQL = scalarized_sql(Q134_SQL, ["responses_ids", "situations_ids"])


QUERIES.update({
    "q134_external_mde": QueryDef(
        q134_external_mde, Q134_SQL,
        "external manual-data-entry flow (sheet fan-out + org cascade + taxonomy union)",
    ),
})


# ---------------------------------------------------------------------------
# q135 — from_curation import
# ---------------------------------------------------------------------------

CURATION_CTES = """
nsup AS (SELECT count(*) AS n FROM supplier),
ncust AS (SELECT count(*) AS n FROM customer),
cur_orgs AS (
  SELECT 'c-org-' || CAST(s_suppkey AS VARCHAR) AS id,
         'ארגון אצור ' || CAST(s_suppkey AS VARCHAR) AS name,
         CASE WHEN s_suppkey % 6 = 5 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         CASE WHEN s_suppkey % 7 = 0 THEN NULL
              WHEN s_suppkey % 7 = 1 THEN 'Rejected'
              WHEN s_suppkey % 7 = 2 THEN 'Suspended'
              ELSE 'Approved' END AS decision,
         CASE WHEN s_suppkey % 3 != 1 THEN ['c-sv-x' || CAST(s_suppkey AS VARCHAR)]
              ELSE CAST([] AS VARCHAR[]) END AS services,
         CASE WHEN s_suppkey % 5 = 0 THEN ['bs'] ELSE CAST([] AS VARCHAR[]) END AS branch_services
  FROM supplier
),
cur_branches AS (
  SELECT 'c-br-' || CAST(c_custkey AS VARCHAR) AS id,
         'סניף אצור ' || CAST(c_custkey AS VARCHAR) AS name,
         ['c-org-' || CAST((c_custkey % nsup.n) + 1 AS VARCHAR)] AS organization,
         'loc-' || CAST(c_custkey % 30 AS VARCHAR) AS location,
         CASE WHEN c_custkey % 6 = 5 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         CASE WHEN c_custkey % 7 = 0 THEN NULL
              WHEN c_custkey % 7 = 1 THEN 'Rejected'
              WHEN c_custkey % 7 = 2 THEN 'Suspended'
              ELSE 'Approved' END AS decision,
         CASE WHEN c_custkey % 4 != 1 THEN ['s'] ELSE CAST([] AS VARCHAR[]) END AS services,
         CASE WHEN c_custkey % 8 = 0 THEN ['os'] ELSE CAST([] AS VARCHAR[]) END AS org_services
  FROM customer CROSS JOIN nsup
),
cur_services AS (
  SELECT 'c-sv-' || CAST(p_partkey AS VARCHAR) AS id,
         'שירות אצור ' || CAST(p_partkey AS VARCHAR) AS name,
         ['c-org-' || CAST((p_partkey % nsup.n) + 1 AS VARCHAR)] AS organizations,
         ['c-br-' || CAST((p_partkey % ncust.n) + 1 AS VARCHAR)] AS branches,
         CASE WHEN p_partkey % 6 = 5 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status,
         CASE WHEN p_partkey % 7 = 0 THEN NULL
              WHEN p_partkey % 7 = 1 THEN 'Rejected'
              WHEN p_partkey % 7 = 2 THEN 'Suspended'
              ELSE 'Approved' END AS decision,
  FROM part CROSS JOIN nsup CROSS JOIN ncust
),
imp_orgs AS (
  SELECT * FROM cur_orgs
  WHERE status = 'ACTIVE' AND (decision IS NULL OR decision NOT IN ('Rejected', 'Suspended'))
        AND (len(services) > 0 OR len(branch_services) > 0)
),
imp_br0 AS (
  SELECT b.*,
         [CASE WHEN try_cast(substr(b.location, 5) AS INT) % 2 = 0
               THEN 'recloc-' || substr(b.location, 5) ELSE b.location END] AS location_arr,
         CASE WHEN o.id IS NOT NULL THEN ['rec-' || o.id] ELSE CAST([] AS VARCHAR[]) END AS org_links
  FROM (SELECT * FROM cur_branches
        WHERE status = 'ACTIVE' AND (decision IS NULL OR decision NOT IN ('Rejected', 'Suspended'))
              AND (len(services) > 0 OR len(org_services) > 0)) b
  LEFT JOIN imp_orgs o ON b.organization[1] = o.id
),
imp_branches AS (SELECT * FROM imp_br0 WHERE len(org_links) > 0),
imp_sv0 AS (
  SELECT s.*,
         CASE WHEN o.id IS NOT NULL THEN ['rec-' || o.id] ELSE CAST([] AS VARCHAR[]) END AS org_links,
         CASE WHEN b.id IS NOT NULL THEN ['rec-' || b.id] ELSE CAST([] AS VARCHAR[]) END AS br_links
  FROM (SELECT * FROM cur_services
        WHERE status = 'ACTIVE' AND (decision IS NULL OR decision NOT IN ('Rejected', 'Suspended'))) s
  LEFT JOIN imp_orgs o ON s.organizations[1] = o.id
  LEFT JOIN imp_branches b ON s.branches[1] = b.id
),
imp_services AS (SELECT * FROM imp_sv0 WHERE len(org_links) > 0 OR len(br_links) > 0),
writeback AS (
  SELECT 'organizations/' || id AS id FROM cur_orgs WHERE decision IS NULL
  UNION ALL SELECT 'branches/' || id FROM cur_branches WHERE decision IS NULL
  UNION ALL SELECT 'services/' || id FROM cur_services WHERE decision IS NULL
)"""


def q135_curation_import(spark, sf_dir):
    """from_curation (reference from_curation.py:16-190) composed: the
    decision='New' write-back, the ACTIVE + not-Rejected/Suspended + linkage
    gates per table, the location record-key rewrite, and the two-level FK
    remap where links to non-imported rows are DROPPED (filter_by_items) and
    services survive only with at least one valid end."""
    out = MDE.run_curation_import(spark, sf_dir)
    wb = out["writeback"].select(
        F.lit("writeback").alias("stage"),
        F.concat(F.col("table"), F.lit("/"), F.col("id")).alias("id"),
        F.lit(None).cast("string").alias("name"),
        F.lit("New").alias("decision"),
        F.lit(None).cast("array<string>").alias("links"),
    )
    orgs = out["organizations"].select(
        F.lit("organizations").alias("stage"), "id", "name", "decision",
        F.lit(None).cast("array<string>").alias("links"),
    )
    br = out["branches"].select(
        F.lit("branches").alias("stage"), "id", "name", "decision",
        F.concat(F.col("organization"), F.col("location")).alias("links"),
    )
    sv = out["services"].select(
        F.lit("services").alias("stage"), "id", "name", "decision",
        F.concat(F.col("organizations"), F.col("branches")).alias("links"),
    )
    return stringify_arrays(wb.unionByName(orgs).unionByName(br).unionByName(sv))


Q135_SQL = f"""
WITH {CURATION_CTES.strip()}
SELECT 'writeback' AS stage, id, CAST(NULL AS VARCHAR) AS name, 'New' AS decision,
       CAST(NULL AS VARCHAR[]) AS links
FROM writeback
UNION ALL
SELECT 'organizations', id, name, decision, CAST(NULL AS VARCHAR[]) FROM imp_orgs
UNION ALL
SELECT 'branches', id, name, decision, org_links || location_arr FROM imp_branches
UNION ALL
SELECT 'services', id, name, decision, org_links || br_links FROM imp_services
"""


Q135_SQL = scalarized_sql(Q135_SQL, ["links"])


QUERIES["q135_curation_import"] = QueryDef(
    q135_curation_import, Q135_SQL,
    "from_curation import (decision write-back + gates + two-level FK remap)",
)


# ---------------------------------------------------------------------------
# q138 — branch family union
# ---------------------------------------------------------------------------


def q138_branch_sources(spark, sf_dir):
    """SURVEY §3 remaining sources: shil/tipat/gilzahav/revaha branch tables
    as ONE parameterized vertical — FIELD_MAP selects (F29), ITM→WGS84 OLC
    location keys (F17/F20), ownership broadcast lookup (J6), comma-split
    phone unions, regex email extraction, HTML cleaning (F7), name-union
    concatenate (U1)."""
    return stringify_arrays(GOV.branch_sources_union(spark, sf_dir))


def _tipat_orgs_values() -> str:
    vals = ", ".join(f"('{k}', '{v}')" for k, v in GOV.TIPAT_ORGS.items())
    return f"tipat_orgs(ownership, org_id) AS (SELECT * FROM (VALUES {vals}))"


def _tipat_owner_case() -> str:
    owners = list(GOV.TIPAT_ORGS)
    branches = " ".join(
        f"WHEN c_custkey % 8 = {i} THEN '{name}'" for i, name in enumerate(owners[1:], 1)
    )
    return f"CASE {branches} ELSE '{owners[0]}' END"


_SHIL_LAT = (
    "(CAST(540000 + (s_suppkey * 53) % 160000 AS DOUBLE) - CAST(626907.39 AS DOUBLE))"
    " / CAST(110979.0 AS DOUBLE) + CAST(31.734394 AS DOUBLE)"
)


_SHIL_LON = (
    "(CAST(170000 + (s_suppkey * 37) % 50000 AS DOUBLE) - CAST(219529.584 AS DOUBLE))"
    " / CAST(93574.0 AS DOUBLE) + CAST(35.2045169 AS DOUBLE)"
)


_TIPAT_LAT = "CAST(31.0 AS DOUBLE) + CAST(c_custkey % 300 AS DOUBLE) * CAST(0.01 AS DOUBLE)"


_TIPAT_LON = "CAST(34.3 AS DOUBLE) + CAST(c_custkey % 240 AS DOUBLE) * CAST(0.015 AS DOUBLE)"


_REVAHA_SERVICES = (
    "list_filter(["
    "CASE WHEN (c_custkey % 7 != 2) AND (c_custkey % 5 = 0) THEN 'revaha-noshmim' END, "
    "CASE WHEN (c_custkey % 7 != 2) AND (c_custkey % 3 = 0) THEN 'revaha-otzma' END"
    "], x -> x IS NOT NULL) || "
    + "["
    + ", ".join(f"'{s}'" for s in GOV.REVAHA_BASE_SERVICES)
    + "]"
)


def _q138_sql() -> str:
    shil_addr = """
      CASE WHEN (s_suppkey % 6 != 0) AND (s_suppkey % 9 > 0)
           THEN 'רחוב ' || CAST(s_suppkey % 50 AS VARCHAR) || ' ' || CAST(s_suppkey % 9 AS VARCHAR)
                || ', ' || 'עיר ' || CAST(s_suppkey % 30 AS VARCHAR)
           WHEN s_suppkey % 6 != 0
           THEN 'רחוב ' || CAST(s_suppkey % 50 AS VARCHAR) || ', עיר ' || CAST(s_suppkey % 30 AS VARCHAR)
           ELSE 'רחוב ' || CAST(s_suppkey % 50 AS VARCHAR) END"""
    tipat_addr = """
      CASE WHEN code = 'national' THEN 'שירות ארצי'
           WHEN city_name IS NOT NULL AND street_name IS NOT NULL AND building_num > 0
           THEN street_name || ' ' || CAST(building_num AS VARCHAR) || ', ' || city_name
           WHEN city_name IS NOT NULL AND street_name IS NOT NULL
           THEN street_name || ', ' || city_name
           WHEN city_name IS NOT NULL THEN city_name
           ELSE district END"""
    return f"""
WITH shil AS (
  SELECT '{GOV.SHIL_SOURCE}' AS source,
         '{GOV.SHIL_SOURCE}:' || CAST(s_suppkey AS VARCHAR) AS id,
         'תחנה ' || CAST(s_suppkey AS VARCHAR) AS name,
         ['{GOV.WELFARE_ORG_ID}'] AS organization,
         ['{GOV.SHIL_SERVICE_ID}'] AS services,
         '{GOV.SHIL_OPERATING_UNIT.replace("'", "''")}' AS operating_unit,
         ({shil_addr}) AS address,
         CASE WHEN s_suppkey % 2 = 0
              THEN {_olc_sql(_SHIL_LAT, _SHIL_LON)}
              ELSE ({shil_addr}) END AS location,
         CASE WHEN s_suppkey % 7 = 0 THEN 'קומה 2' END AS address_details,
         'ייעוץ חינם' || chr(10) || 'פריט ' || CAST(s_suppkey AS VARCHAR) AS description,
         concat_ws(chr(10),
           CASE WHEN s_suppkey % 3 != 0 THEN '02-5' || CAST(s_suppkey % 1000 AS VARCHAR) END,
           CASE WHEN s_suppkey % 4 = 0 THEN '050-' || CAST(s_suppkey AS VARCHAR) END) AS phone_numbers,
         CASE WHEN s_suppkey % 5 != 0
              THEN 's' || CAST(s_suppkey AS VARCHAR) || '@shil.org' END AS email_address,
         '{GOV.SHIL_ITEM_URL_BASE}/station-' || CAST(s_suppkey AS VARCHAR)
           || '#תחנה ' || CAST(s_suppkey AS VARCHAR) AS urls
  FROM supplier
),
{_tipat_orgs_values()},
tipat_stations AS (
  SELECT CAST(c_custkey AS VARCHAR) AS code,
         'טיפת חלב ' || CAST(c_custkey AS VARCHAR) AS station_name,
         {_tipat_owner_case()} AS ownership,
         CASE WHEN c_custkey % 3 = 0 THEN 'הערה ' || CAST(c_custkey AS VARCHAR) END AS remarks,
         CASE WHEN c_custkey % 4 = 1 THEN 'ליד הדואר' END AS address_comments,
         CASE WHEN c_custkey % 2 = 0 THEN '04-8' || CAST(c_custkey % 10000 AS VARCHAR) END AS phone1,
         CASE WHEN c_custkey % 6 = 0
              THEN 't' || CAST(c_custkey AS VARCHAR) || '@health.gov.il' END AS email,
         'מחוז ' || CAST(c_custkey % 6 AS VARCHAR) AS district,
         CASE WHEN c_custkey % 7 != 0 THEN 'עיר ' || CAST(c_custkey % 40 AS VARCHAR) END AS city_name,
         CASE WHEN c_custkey % 5 != 0 THEN 'רחוב ' || CAST(c_custkey % 60 AS VARCHAR) END AS street_name,
         c_custkey % 12 AS building_num,
         CASE WHEN c_custkey % 3 = 0 THEN {_TIPAT_LAT} END AS lat,
         CASE WHEN c_custkey % 3 = 0 THEN {_TIPAT_LON} END AS lon
  FROM customer WHERE c_custkey % 5 != 4
),
tipat_all AS (
  SELECT * FROM tipat_stations
  UNION ALL
  SELECT 'national', 'טיפת חלב - מוקד טלפוני', 'משרד הבריאות',
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
),
tipat AS (
  SELECT '{GOV.TIPAT_SOURCE}' AS source,
         '{GOV.TIPAT_SOURCE}:' || code AS id,
         station_name AS name,
         [o.org_id] AS organization,
         [CASE WHEN code = 'national' THEN '{GOV.TIPAT_SERVICE_NATIONAL}'
               ELSE '{GOV.TIPAT_SERVICE_LOCAL}' END] AS services,
         CAST(NULL AS VARCHAR) AS operating_unit,
         ({tipat_addr}) AS address,
         CASE WHEN lat IS NOT NULL AND lon IS NOT NULL
              THEN {_olc_sql("lat", "lon")}
              ELSE ({tipat_addr}) END AS location,
         address_comments AS address_details,
         remarks AS description,
         phone1 AS phone_numbers,
         email AS email_address,
         CASE WHEN code != 'national'
              THEN '{GOV.TIPAT_ITEM_URL_BASE}' || code END AS urls
  FROM tipat_all t LEFT JOIN tipat_orgs o USING (ownership)
),
gilzahav AS (
  SELECT '{GOV.GILZAHAV_SOURCE}' AS source,
         '{GOV.GILZAHAV_SOURCE}:' || CAST(s_suppkey + 9000 AS VARCHAR) AS id,
         'בית גיל זהב ' || CAST(s_suppkey AS VARCHAR) AS name,
         ['{GOV.GILZAHAV_ORG_ID}'] AS organization,
         ['{GOV.GILZAHAV_SERVICE_ID}'] AS services,
         'חברה ' || CAST(s_suppkey % 5 AS VARCHAR) AS operating_unit,
         'רחוב ' || CAST(s_suppkey % 70 AS VARCHAR) || ' ' || CAST(s_suppkey % 9 + 1 AS VARCHAR)
           || ', עיר-' || CAST(s_suppkey % 40 AS VARCHAR) AS address,
         'רחוב ' || CAST(s_suppkey % 70 AS VARCHAR) || ' ' || CAST(s_suppkey % 9 + 1 AS VARCHAR)
           || ', עיר-' || CAST(s_suppkey % 40 AS VARCHAR) AS location,
         CAST(NULL AS VARCHAR) AS address_details,
         'מספר יחידות דיור: ' || CAST(s_suppkey % 200 + 10 AS VARCHAR) || chr(10) ||
           CASE WHEN s_suppkey % 3 = 2
                THEN 'מספר ממתינים: ' || CAST(s_suppkey % 50 AS VARCHAR) || chr(10)
                ELSE '' END AS description,
         CASE WHEN s_suppkey % 2 = 0 THEN '08-9' || CAST(s_suppkey % 1000 AS VARCHAR) END AS phone_numbers,
         CASE WHEN s_suppkey % 3 = 0
              THEN 'gz' || CAST(s_suppkey AS VARCHAR) || '@moch.gov.il' END AS email_address,
         CAST(NULL AS VARCHAR) AS urls
  FROM supplier
),
revaha AS (
  SELECT '{GOV.REVAHA_SOURCE}' AS source,
         '{GOV.REVAHA_SOURCE}:' || CAST(c_custkey + 300 AS VARCHAR) AS id,
         '' AS name,
         ['{GOV.WELFARE_ORG_ID}'] AS organization,
         ({_REVAHA_SERVICES}) AS services,
         '{GOV.REVAHA_OPERATING_UNIT}' AS operating_unit,
         'כתובת ' || CAST(c_custkey % 80 AS VARCHAR) AS address,
         'כתובת ' || CAST(c_custkey % 80 AS VARCHAR) AS location,
         CAST(NULL AS VARCHAR) AS address_details,
         CAST(NULL AS VARCHAR) AS description,
         replace(array_to_string(
           string_split(coalesce(CASE WHEN c_custkey % 3 = 0
               THEN '08-6 ' || CAST(c_custkey % 100 AS VARCHAR) END, ''), ',')
           || string_split(coalesce(
               CASE WHEN c_custkey % 2 = 0
                    THEN '02-1' || CAST(c_custkey % 100 AS VARCHAR) || ', 02-2' || CAST(c_custkey % 77 AS VARCHAR)
                    WHEN c_custkey % 5 = 1 THEN NULL
                    ELSE '02-1' || CAST(c_custkey % 100 AS VARCHAR) END, ''), ','),
           chr(10)), ' ', '') AS phone_numbers,
         nullif(regexp_extract(coalesce(
           CASE WHEN c_custkey % 4 = 0
                THEN 'צרו קשר: rev' || CAST(c_custkey AS VARCHAR) || '@molsa.gov.il בלבד'
                WHEN c_custkey % 4 = 1 THEN 'אין' END, ''),
           '[\\w.+-]+@[\\w-]+\\.[\\w.-]+', 0), '') AS email_address,
         '{GOV.REVAHA_BASE_URL}#{GOV.REVAHA_BRANCH_NAME_PREFIX}' AS urls
  FROM customer
)
SELECT * FROM shil
UNION ALL SELECT * FROM tipat
UNION ALL SELECT * FROM gilzahav
UNION ALL SELECT * FROM revaha
"""


Q138_SQL = scalarized_sql(_q138_sql(), ["organization", "services"])


# ---------------------------------------------------------------------------
# q139 — soproc click scraper (Solr suffix concatenate + clean + filters +
# detail assembly; reference operators/soproc/click_scraper.py:8-151)
# ---------------------------------------------------------------------------


def q139_click_scrape(spark, sf_dir):
    """soproc click vertical: schema-time Solr-suffix concatenate (U1 with
    DT_SUFFIXES priority + NO_LISTS skip), per-cell base64-or-passthrough
    (F8) + HTML sanitize (F7) + NULL-string scrub with genuine nulls
    preserved, he/type-1/grouped/channel-1 filters, <p>-paragraph detail
    assembly that OMITS null fields, deductible enum map, joined-name
    strip."""
    return GOV.click_scrape(spark, sf_dir)


def _q139_sql() -> str:
    # Mirrors the click_raw fixture arithmetic through the reference
    # pipeline's semantics in closed form (the q108/q138 no-drift
    # discipline): each detail paragraph appears only when its source cell
    # is genuinely non-null; the base64-packed Description decodes and
    # sanitizes to plain text; 'NULL' strings scrub to SQL NULL.
    k = "p_partkey"
    dedu = GOV.CLICK_DEDUCTIBLE_TYPE
    d_items = list(dedu.items())
    return f"""
SELECT CAST({k} AS INT) AS catalog_number,
       'שירות קליק ' || CAST({k} % 500 AS VARCHAR) AS name,
       'תקציר ' || CAST({k} AS VARCHAR) AS description,
       '<p>תקציר ' || CAST({k} AS VARCHAR) || '</p>'
         || '<p>תיאור מלא ' || CAST({k} AS VARCHAR) || '</p>'
         || CASE WHEN {k} % 3 = 0 THEN '<p>שלב א. שלב ב</p>' ELSE '' END
         || CASE WHEN {k} % 4 = 0
                 THEN '<p>קהילה ' || CAST({k} % 6 AS VARCHAR) || '</p>' ELSE '' END
         || CASE WHEN {k} % 5 = 0 THEN '<p>שנה</p>' ELSE '' END AS details,
       CASE WHEN {k} % 4 = 1 THEN '{d_items[0][1]}'
            WHEN {k} % 4 = 2 THEN '{d_items[1][1]}'
            WHEN {k} % 4 = 3 AND {k} % 8 = 3 THEN '{d_items[2][1]}'
            END AS payment_required,
       CASE WHEN {k} % 11 = 4 THEN NULL
            WHEN {k} % 3 = 1 THEN 'עד 100 ש"ח' END AS payment_details,
       CAST(NULL AS VARCHAR) AS data_sources,
       CAST(NULL AS VARCHAR) AS urls
FROM part
WHERE {k} % 6 != 5    -- lang_code = 'he'
  AND {k} % 9 != 7    -- type = 1
  AND {k} % 8 != 6    -- group_id IS NOT NULL (null survives cleaning)
  AND {k} % 7 != 5    -- distribution_channel[0] = 1
"""


QUERIES.update({
    "q138_branch_sources": QueryDef(
        q138_branch_sources,
        Q138_SQL,
        "gov-source branch family (shil/tipat/gilzahav/revaha, table-driven)",
    ),
    "q139_click_scrape": QueryDef(
        q139_click_scrape,
        _q139_sql(),
        "soproc click scraper (suffix concatenate, base64+HTML clean, filters)",
    ),
})


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


QUERIES.update({
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
})


def q144_daycare_branches(spark, sf_dir):
    """day_care branches: filters + fixes + broadcast org matcher + branch
    payload (reference day_care/__init__.py:10-65, update_branch.py:29-66,
    match_organizations.py:40-98)."""
    return DC.daycare_branches(DC.daycare_clean(spark, sf_dir), sha256_hash_fn)


def q145_daycare_orgs(spark, sf_dir):
    """day_care organizations: kind classification + matched-id override
    (reference update_organization.py:8-27)."""
    return DC.daycare_orgs(DC.daycare_clean(spark, sf_dir))


def q146_childcare_services(spark, sf_dir):
    """child_care services: sector map + last-5-chars id (reference
    child_care/update_service.py:9-53)."""
    return stringify_arrays(DC.childcare_services(spark, sf_dir, sha256_hash_fn))


def q147_kz_orgs(spark, sf_dir):
    """kolzchut_orgs: sorted-distinct org numbers stamped with a fixed tag
    date (reference kolzchut_orgs/__init__.py:19-40)."""
    return DC.kz_orgs(spark, sf_dir)


# organization_id by matcher case index m (see DC.ORG_NAME_CASES)
_MATCH_BY_CASE = [
    "rec-hf", "rec-hf", "rec-gl", "rec-by", "rec-gl", "rec-by",
    None, "rec-emek", "rec-ks", "rec-tv", None, None,
]


# post-replace_council_name org names by case index
_NAME_BY_CASE = [
    "עיריית חיפה", "עירית חיפה", "מועצה אזורית גליל-עליון",
    "מועצה מקומית באר יעקב", "מועצה אזורית גליל-עליון",
    "מועצה מקומית באר יעקב", "מועצה אזורית אין-כזה", "מועצה אזורית עמק",
    "מועצה מקומית כפר-סבא", "עיריית תל-אביב", "חברה בעמ", "",
]


_DAYCARE_CTE = f"""
raw AS (
  SELECT c_custkey AS k, (c_custkey // 3) % 12 AS m FROM customer
  WHERE c_custkey % 3 IN (0, 1) AND c_custkey % 11 != 5
),
cooked AS (
  SELECT k, m,
    '0' || '2612' || lpad(CAST(k % 10000 AS VARCHAR), 4, '0') AS phone,
    CASE WHEN k % 7 = 0
         THEN '512' || lpad(CAST(k % 10000 AS VARCHAR), 4, '0') || '99'
         ELSE '512' || lpad(CAST(k % 10000 AS VARCHAR), 4, '0') END AS org_number_raw,
    CASE m {" ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(_NAME_BY_CASE))} END AS org_name,
    CASE m {" ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(_MATCH_BY_CASE) if v)} END AS organization_id,
    CAST(k % 997 AS VARCHAR) AS symbol,
    'מעון ' || CAST(k AS VARCHAR) AS name,
    'עיר ' || CAST(k % 20 AS VARCHAR) AS city,
    CASE WHEN k % 5 != 0 THEN 'רחוב ' || CAST(k % 30 AS VARCHAR) END AS street,
    k % 10 AS house_num,
    CASE WHEN k % 6 != 0 THEN 'מנהל ' || CAST(k % 40 AS VARCHAR) END AS manager,
    CASE WHEN k % 3 = 0 THEN 'משפחתון' ELSE 'צהרון' END AS kind_desc
  FROM raw
),
matched AS (
  SELECT *, coalesce(organization_id, org_number_raw) AS org_number
  FROM cooked
)
"""


def _q144_sql() -> str:
    return f"""
WITH {_DAYCARE_CTE}
SELECT 'mol_daycare-' || substring(sha256(symbol || org_number), 1, 8) AS id,
       'mol_daycare' AS source,
       name,
       concat_ws(' ', city, street,
                 CASE WHEN house_num != 0 THEN CAST(house_num AS VARCHAR) END) AS address,
       concat_ws(' ', city, street,
                 CASE WHEN house_num != 0 THEN CAST(house_num AS VARCHAR) END) AS location,
       phone AS phone_numbers,
       coalesce(manager, '') || ' ' || chr(10) || ' ' || symbol AS description,
       'ACTIVE' AS status,
       CASE WHEN kind_desc = 'משפחתון' THEN 'mol_daycare-1'
            ELSE 'mol_daycare-2' END AS service_id_matcher,
       organization_id
FROM matched
"""


def _q145_sql() -> str:
    return f"""
WITH {_DAYCARE_CTE}
SELECT org_number AS id,
       org_name AS name,
       'mol_daycare' AS source,
       'ACTIVE' AS status,
       CASE WHEN regexp_matches(org_name, 'מועצה מקומית|מועצה אזורית')
            THEN 'רשות מקומית' ELSE 'חברה פרטית' END AS kind
FROM matched
WHERE length(org_number) >= 5
"""


def _q146_sql() -> str:
    sit_whens = " ".join(
        "WHEN '{}' THEN {}".format(s, "[" + ", ".join(f"'{t}'" for t in tags) + "]")
        for s, tags in DC.SECTOR_SITUATIONS.items()
    )
    sector_case = "CASE p_partkey % 5 " + " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(DC.SECTORS)
    ) + " END"
    return f"""
WITH base AS (
  SELECT p_partkey AS k, {sector_case} AS sector,
         'מעון ' || CAST(p_partkey % 50 AS VARCHAR) || ' (' ||
           CAST(10000 + p_partkey AS VARCHAR) || ')' AS full_name
  FROM part
)
SELECT 'meonot-' || substring(sha256(right(full_name, 5)), 1, 8) AS id,
       'meonot' AS source,
       '{DC.CHILDCARE_NAME}' AS name,
       CASE WHEN sector = 'יהודי' THEN ''
            ELSE '{DC.CHILDCARE_DETAILS_PREFIX}' || sector END AS details,
       CASE sector {sit_whens} END AS situations,
       ['human_services:care:daytime_care'] AS responses,
       'yes' AS payment_required,
       'ACTIVE' AS status
FROM base
"""


_Q147_SQL = """
SELECT DISTINCT CAST(500000000 + s_suppkey % 150 AS VARCHAR) AS id,
       '2026-01-01' AS last_tag_date
FROM supplier
"""


QUERIES.update({
    "q144_daycare_branches": QueryDef(
        q144_daycare_branches,
        _q144_sql(),
        "day_care branches (filters, org matcher, hash id, address assembly)",
    ),
    "q145_daycare_orgs": QueryDef(
        q145_daycare_orgs,
        _q145_sql(),
        "day_care organizations (kind classify, matched-id override)",
    ),
    "q146_childcare_services": QueryDef(
        q146_childcare_services,
        scalarized_sql(_q146_sql(), ["situations", "responses"]),
        "child_care services (sector map, last-5 hash id)",
    ),
    "q147_kz_orgs": QueryDef(
        q147_kz_orgs,
        _Q147_SQL,
        "kolzchut orgs (sorted-distinct numbers + tag date)",
    ),
})


def q152_homepage_query(spark, sf_dir):
    """presets homepage_query (deprecated operator, public behavior):
    'response עבור situation' / single-sided fallbacks, whitespace →
    underscores, plus the enumerate-rows score (W1 via the scalable
    ranged-partition path — no single-partition sort)."""
    from ..operators.windows import enumerate_rows  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    sit = F.when((k % 4 == 1) | (k % 4 == 3), F.concat(F.lit("מצב קשה "), (k % 5).cast("string")))
    resp = F.when((k % 4 == 2) | (k % 4 == 3), F.concat(F.lit("מענה טוב "), (k % 7).cast("string")))
    q = (
        F.when(sit.isNotNull() & resp.isNotNull(), F.concat(resp, F.lit(" עבור "), sit))
        .when(sit.isNotNull(), sit)
        .when(resp.isNotNull(), resp)
    )
    q = F.regexp_replace(q, r"\s+", "_")
    base = c.select(k.cast("long").alias("ck"), q.alias("homepage_query"))
    return enumerate_rows(base, ["ck"], out_col="score").select(
        "ck", "homepage_query", F.col("score").cast("long").alias("score")
    )


_Q152_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS ck,
       CASE WHEN c_custkey % 4 = 3
            THEN replace('מענה טוב ' || CAST(c_custkey % 7 AS VARCHAR)
                 || ' עבור ' || 'מצב קשה ' || CAST(c_custkey % 5 AS VARCHAR), ' ', '_')
            WHEN c_custkey % 4 = 1
            THEN replace('מצב קשה ' || CAST(c_custkey % 5 AS VARCHAR), ' ', '_')
            WHEN c_custkey % 4 = 2
            THEN replace('מענה טוב ' || CAST(c_custkey % 7 AS VARCHAR), ' ', '_')
            END AS homepage_query,
       CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS score
FROM customer
"""


QUERIES.update({
    "q152_homepage_query": QueryDef(
        q152_homepage_query,
        _Q152_SQL,
        "presets homepage query assembly + enumerate score",
    ),
})
