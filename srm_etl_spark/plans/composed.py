"""Composed flagship queries: whole reference entry points as one lineage.

The derive DAG (flat_branches → flat_services → flat_table → card_data →
autocomplete), the full card surface and card search, the publish fan-out,
the five-index ES publish, the mapbox geo flow, OSM place bounds, the
cross-entry-point ETL, and the composed training-corpus flows. Most emit
phase-labeled (key, signature) rows so every stage's full row set is checked
against one DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from .common import QueryDef, _BPE_SQL, _DSIR_SCORED_T, _NORM, _STOP_SQL, _t


QUERIES: dict[str, QueryDef] = {}


# --------------------------------------------------------------------------
# Derive DAG (the reference's flagship pipeline over staging fixtures)
# --------------------------------------------------------------------------

def q34_derive_flat_branches(spark, sf_dir):
    """Derive stage 1 (reference to_dp.py:288-406): branch ⋈ location ⋈ org
    with deterministic duplicate-branch merge and per-org branch counts."""
    from ..pipelines.derive import run_derive  # noqa: PLC0415

    fb = run_derive(spark, sf_dir)["flat_branches"]
    return fb.select(
        "branch_id",
        "organization",
        "organization_name",
        "organization_kind",
        "location",
        "branch_name",
        "branch_city",
        "lat",
        "lon",
        "national_service",
        F.col("organization_branch_count").cast("long").alias("organization_branch_count"),
    )


# Shared oracle CTE chain mirroring pipelines/staging_fixtures.py + derive.py.


def _parents_sql(col: str) -> str:
    """DuckDB list of all >= 2-segment prefixes of a colon id."""
    return (
        f"list_transform(range(2, len(string_split({col}, ':')) + 1), "
        f"i -> array_to_string(string_split({col}, ':')[1:i], ':'))"
    )


# The derive-chain oracle is assembled from NAMED templates so composed
# queries (q165's cross-entry-point ETL) can rebind the staging sources —
# run the IDENTICAL chain text over post-upsert staging CTEs instead of the
# raw fixtures — without duplicating a single fixture or chain literal.
# {name}/{src} are CTE names; the assembled _DERIVE_CTES below is
# semantically identical to the pre-split monolith (the orgs fixture now
# passes through a staging-shaped orgs_f CTE + an ACTIVE-filtered chain
# projection, and svcs carries an always-ACTIVE status column — both no-ops
# on the all-ACTIVE fixtures, load-bearing for q165's post-merge states).

# staging-shaped Organizations fixture (mirrors staging_fixtures.organizations)
_FIX_ORGS_T = """{name} AS (
  SELECT 'org-' || CAST(s_suppkey AS VARCHAR) AS id,
         s_name AS name,
         'Supplier' AS short_name,
         CASE WHEN s_suppkey % 7 = 0 THEN 'משרד ממשלתי' ELSE 'company' END AS kind,
         CASE WHEN s_suppkey % 4 = 0
              THEN '1' || lpad(CAST(s_suppkey % 800 AS VARCHAR), 3, '0')
              ELSE '0' || CAST((s_suppkey % 6) + 2 AS VARCHAR) || '-'
                       || lpad(CAST(s_suppkey % 9000000 AS VARCHAR), 7, '0')
         END AS phone,
         CASE WHEN s_suppkey % 3 = 0 THEN NULL
              ELSE 'ארגון ' || s_name END AS description,
         'ACTIVE' AS status
  FROM supplier
)"""


# chain projection: staging orgs -> the derive DAG's org dimension (the
# ACTIVE gate is derive.flat_branches' org filter)
_CHAIN_ORGS_T = """orgs AS (
  SELECT id AS organization, name AS organization_name,
         short_name AS organization_short_name, kind AS organization_kind,
         phone AS organization_phone, description AS organization_description
  FROM {src} WHERE upper(trim(status)) = 'ACTIVE'
)"""


_FIX_LOCS_CTE = """locs AS (
  SELECT 'loc-' || CAST(n_nationkey AS VARCHAR) AS location, n_name AS city,
         CAST(29.5 + (n_nationkey % 10) * 0.35
              + CASE WHEN n_nationkey % 11 = 10 THEN 20.0 ELSE 0.0 END AS DOUBLE) AS lat,
         CAST(33.2 + (n_nationkey % 12) * 0.3 AS DOUBLE) AS lon,
         n_nationkey % 7 = 0 AS national_service
  FROM nation
)"""


# staging-shaped Branches fixture (mirrors staging_fixtures.branches)
_FIX_BRS_T = """{name} AS (
  SELECT 'branch-' || CAST(c_custkey AS VARCHAR) AS id,
         'org-' || CAST(c_custkey % (SELECT count(*) FROM supplier) AS VARCHAR) AS organization,
         'loc-' || CAST(c_nationkey AS VARCHAR) AS location,
         c_name AS name,
         'רחוב ' || CAST(c_custkey % 90 + 1 AS VARCHAR) AS address,
         CASE WHEN c_custkey % 5 != 0
              THEN 'יחידת רווחה אזורית מספר ' || CAST(c_nationkey AS VARCHAR)
         END AS operating_unit,
         (c_nationkey % 5 != 2 AND c_custkey % 53 != 0) AS location_accurate,
         CASE WHEN c_custkey % 3 = 0 THEN NULL
              ELSE printf('2024-%02d-%02d', c_custkey % 12 + 1, c_custkey % 28 + 1)
         END AS last_modified,
         CASE WHEN c_acctbal < 0 THEN 'INACTIVE' ELSE 'ACTIVE' END AS status
  FROM customer
)"""


_CHAIN_FB_T = """fb0 AS (
  SELECT b.id, b.organization, o.organization_name, o.organization_short_name,
         o.organization_kind, o.organization_phone, b.location,
         b.name, l.city, b.address || ' ' || l.city AS branch_address,
         l.lat, l.lon, l.national_service, b.last_modified AS branch_last_modified,
         b.operating_unit AS branch_operating_unit,
         b.location_accurate AS branch_location_accurate
  FROM {brs} b LEFT JOIN locs l ON b.location = l.location
  JOIN orgs o ON b.organization = o.organization
  WHERE upper(trim(b.status)) = 'ACTIVE'
), fb1 AS (
  SELECT *, row_number() OVER (PARTITION BY organization, location ORDER BY id ASC) AS rn
  FROM fb0
), fb AS (
  SELECT id AS branch_id, organization, organization_name, organization_short_name,
         organization_kind, organization_phone, location,
         name AS branch_name, city AS branch_city, branch_address, lat, lon, national_service,
         branch_last_modified, branch_operating_unit, branch_location_accurate,
         count(*) OVER (PARTITION BY organization) AS organization_branch_count
  FROM fb1 WHERE rn = 1
)"""


# staging-shaped Services fixture (mirrors staging_fixtures.services)
_FIX_SVCS_T = """freq AS (
  SELECT l_partkey, l_suppkey, count(*) AS n FROM lineitem GROUP BY 1, 2
), owner AS (
  SELECT l_partkey, l_suppkey FROM (
    SELECT *, row_number() OVER (PARTITION BY l_partkey ORDER BY n DESC, l_suppkey ASC) AS rn
    FROM freq
  ) WHERE rn = 1
), {name} AS (
  SELECT CASE WHEN p_partkey % 6 = 0 THEN 'meser-s-' || CAST(p_partkey AS VARCHAR)
              ELSE 'svc-' || CAST(p_partkey AS VARCHAR) END AS id,
         p_name AS name,
         'org-' || CAST(l_suppkey AS VARCHAR) AS organization,
         'responses:' || lower(p_type) || ':' || lower(p_brand) AS response0,
         'responses:mkt:' || lower(p_brand) AS response1,
         'situations:size:' || CAST(p_size % 5 AS VARCHAR) AS situation0,
         'situations:brand:' || lower(p_brand) AS situation1,
         CASE WHEN p_partkey % 5 = 0 THEN NULL
              WHEN p_partkey % 5 = 1 THEN 'srv'
              ELSE p_name END AS description,
         CAST(p_partkey % 3 AS DOUBLE) * 0.25 AS boost,
         CASE WHEN p_partkey % 4 = 0 THEN NULL
              ELSE printf('2024-%02d-%02d', p_partkey % 12 + 1, p_partkey % 25 + 2)
         END AS last_modified,
         'ACTIVE' AS status
  FROM part JOIN owner ON p_partkey = l_partkey
)"""


_CHAIN_CARDS_T = f"""bpo AS (
  SELECT organization, list_sort(list_distinct(list(branch_id))) AS org_branches
  FROM fb GROUP BY organization
), fs AS (
  SELECT s.id AS service_id, s.name AS service_name, s.organization,
         s.response0, s.response1, s.situation0, s.situation1,
         s.description, s.boost,
         s.last_modified AS service_last_modified,
         unnest(b.org_branches) AS branch_id
  FROM {{svcs}} s JOIN bpo b ON s.organization = b.organization
  WHERE upper(trim(s.status)) = 'ACTIVE'
), cards AS (
  SELECT f.branch_id || f.service_id AS card_key,
         f.service_id, f.service_name, f.branch_id,
         fb.branch_name, fb.branch_city, f.organization, fb.organization_name,
         fb.organization_branch_count, fb.national_service,
         array_to_string(list_sort(list_distinct(list_concat(
           {_parents_sql('f.response0')}, {_parents_sql('f.response1')}))), ',') AS response_ids,
         array_to_string(list_sort(list_distinct(list_concat(
           {_parents_sql('f.situation0')}, {_parents_sql('f.situation1')}))), ',') AS situation_ids
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
)"""


# The assembled chain every derive-family oracle shares: fixture staging
# tables feeding the fb/fs/cards chain under the canonical CTE names.
_DERIVE_CTES = (
    "WITH "
    + _FIX_ORGS_T.format(name="orgs_f") + ", "
    + _CHAIN_ORGS_T.format(src="orgs_f") + ", "
    + _FIX_LOCS_CTE + ", "
    + _FIX_BRS_T.format(name="brs") + ", "
    + _CHAIN_FB_T.format(brs="brs") + ", "
    + _FIX_SVCS_T.format(name="svcs") + ", "
    + _CHAIN_CARDS_T.format(svcs="svcs")
    + "\n"
)


Q34_SQL = _DERIVE_CTES + """
SELECT branch_id, organization, organization_name, organization_kind, location,
       branch_name, branch_city, lat, lon, national_service,
       CAST(organization_branch_count AS BIGINT) AS organization_branch_count
FROM fb
"""


def q35_derive_cards(spark, sf_dir):
    """Full derive DAG to card_data (reference to_dp.py:756-920): service ×
    branch with merged, parent-expanded taxonomy ids. card_id (sha1 short
    hash, byte-compatible with the reference) is excluded here because the
    oracle engine lacks sha1 — its determinism is pinned by unit tests; the
    preimage card_key is verified instead."""
    from ..pipelines.derive import run_derive  # noqa: PLC0415

    cards = run_derive(spark, sf_dir)["card_data"]
    return cards.drop("card_id").withColumn(
        "organization_branch_count", F.col("organization_branch_count").cast("long")
    )


Q35_SQL = _DERIVE_CTES + """
SELECT card_key, service_id, service_name, branch_id, branch_name, branch_city,
       organization, organization_name,
       CAST(organization_branch_count AS BIGINT) AS organization_branch_count,
       national_service, response_ids, situation_ids
FROM cards
"""


def q36_card_search(spark, sf_dir):
    """The reference's "one real query": cards for response X in city Y
    (SURVEY §7.1). The filters are applied BELOW the derive DAG
    (pipelines/derive.py:card_search): the city predicate reaches the nation
    scan as a pushed filter and prunes branches via a broadcast semi-join
    before the dedup window; the response predicate prunes services before
    the service × branch fan-out — the cards fan-out is never materialized
    for out-of-scope rows (the round-3 shape filtered ABOVE the window, so
    the whole fan-out ran to return ~100 rows)."""
    from ..pipelines.derive import card_search  # noqa: PLC0415

    cards = card_search(spark, sf_dir, "NATION_3", "responses:economy")
    return cards.filter(F.col("response_ids").contains("responses:economy")).select(
        "card_key", "service_id", "branch_id", "organization_name", "response_ids"
    )


Q36_SQL = _DERIVE_CTES + """
SELECT card_key, service_id, branch_id, organization_name, response_ids
FROM cards
WHERE branch_city = 'NATION_3' AND response_ids LIKE '%responses:economy%'
"""


QUERIES.update({
    "q34_derive_flat_branches": QueryDef(q34_derive_flat_branches, Q34_SQL, "J1 J2 A6 W3 P9 §3.1"),
    "q35_derive_cards": QueryDef(q35_derive_cards, Q35_SQL, "J2 J4 U4 A8 F13 F14 F22 §3.1"),
    "q36_card_search": QueryDef(q36_card_search, Q36_SQL, "§7.1 flagship"),
})


# --------------------------------------------------------------------------
# q75 — full card surface (A10 application + to_dp.py:835-915 + card_score)
# --------------------------------------------------------------------------

# A cap of 3.0 (not the reference's 30) so the pop-while-over-cap loop has
# rows to trim at this corpus size: fixture card totals span ~2.2-4.1, so
# both the "kept whole" and the "top situation popped" paths execute.
_Q75_MAX_SCORE = 3.0


def q75_card_surface(spark, sf_dir):
    """Full card_data surface. All heavy lifting is in
    pipelines/derive.py:card_data_full; this picks the oracle-checkable
    columns (arrays emitted as joined strings, doubles rounded)."""
    from ..pipelines.derive import card_data_full, run_derive  # noqa: PLC0415

    ft = run_derive(spark, sf_dir)["flat_table"]
    # rs_mode="per_row" — q75 is the full-surface consumer AND the oracle
    # gate for the shuffle-free formulation (folded score-map literal,
    # per-row cap/resort/mode); partial-surface consumers use the default
    # joined formulation, which Catalyst prunes
    full = card_data_full(ft, max_score=_Q75_MAX_SCORE, rs_mode="per_row")
    return full.select(
        "card_key",
        "rs_score",
        "situations_scored",
        "situation_scores_micro",
        "response_category",
        "card_score",
        "address_primary",
        "address_secondary",
        "org_name_primary",
        "org_name_secondary",
        "point_id",
        "coords",
        "national_service_details",
        "organization_resolved_name",
        "collapse_key",
        "possible_autocomplete",
        "responses_reordered",
    )


_Q75_CARD_SCORE_SQL = """
round(
  greatest(
    (CASE WHEN f.service_id LIKE 'meser-%' THEN 1.0 ELSE 10.0 END)
    * (CASE WHEN f.service_description IS NOT NULL AND length(f.service_description) > 5
            THEN 10.0 ELSE 1.0 END)
    * (CASE WHEN coalesce(f.national_service, false)
            THEN 10.0 * (CASE WHEN f.organization_phone IS NOT NULL
                              AND (length(f.organization_phone) <= 5 OR f.organization_phone LIKE '1%')
                         THEN 5.0 ELSE 1.0 END)
            ELSE (CASE WHEN bc.bc > 100 THEN bc.bc / 10.0 ELSE sqrt(bc.bc) END)
       END)
    * (CASE WHEN f.organization_kind IN ('משרד ממשלתי', 'רשות מקומית', 'תאגיד סטטוטורי')
            THEN 5.0 ELSE 1.0 END),
    1.0
  ) * pow(10.0, coalesce(f.service_boost, 0.0)),
6)
"""


Q75_SQL = _DERIVE_CTES + f"""
, ftf AS (
  SELECT f.branch_id || f.service_id AS card_key,
         f.service_id, f.service_name,
         f.description AS service_description, f.boost AS service_boost,
         fb.branch_city, fb.branch_address,
         fb.organization_name, fb.organization_short_name,
         fb.organization_kind, fb.organization_phone,
         fb.organization_branch_count, fb.national_service, fb.lat, fb.lon,
         [f.response0, f.response1] AS response_ids,
         [f.situation0, f.situation1] AS situation_ids
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
), rs_pairs AS (
  SELECT f.card_key, len(f.response_ids) AS nr,
         s.s AS situation_id, list_position(f.situation_ids, s.s) AS s_pos,
         r.r AS response_id
  FROM ftf f
  CROSS JOIN unnest(f.situation_ids) AS s(s)
  CROSS JOIN unnest(f.response_ids) AS r(r)
), rs_freq AS (
  SELECT response_id, situation_id, count(*) AS fr
  FROM rs_pairs GROUP BY 1, 2
), rs_tbl AS (
  SELECT response_id, situation_id,
         ln(CAST(sum(fr) OVER (PARTITION BY response_id) AS DOUBLE) / fr) AS score
  FROM rs_freq
), rs_sit AS (
  SELECT p.card_key, p.situation_id, min(p.s_pos) AS s_pos,
         sum(coalesce(t.score, 0)) / any_value(p.nr) AS s_score
  FROM rs_pairs p LEFT JOIN rs_tbl t USING (response_id, situation_id)
  GROUP BY 1, 2
), rs_kept AS (
  SELECT *,
         sum(s_score) OVER (PARTITION BY card_key)
         - sum(s_score) OVER (PARTITION BY card_key ORDER BY s_score DESC, s_pos ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         + s_score AS sfx
  FROM rs_sit
  QUALIFY sfx <= {_Q75_MAX_SCORE}
), rs AS (
  SELECT card_key, round(sum(s_score), 6) AS rs_score,
         array_to_string(list(situation_id ORDER BY s_score DESC, s_pos ASC), ',') AS situations_scored,
         array_to_string(list(CAST(CAST(round(s_score * 1e6) AS BIGINT) AS VARCHAR)
                              ORDER BY s_score DESC, s_pos ASC), ',') AS situation_scores_micro
  FROM rs_kept GROUP BY card_key
), cat AS (
  SELECT f.card_key, string_split(r.r, ':')[2] AS category,
         list_position(f.response_ids, r.r) AS r_pos
  FROM ftf f CROSS JOIN unnest(f.response_ids) AS r(r)
), catc AS (
  SELECT card_key, category, count(*) AS n, min(r_pos) AS first_pos
  FROM cat GROUP BY 1, 2
), cmode AS (
  SELECT card_key, category AS response_category
  FROM catc
  QUALIFY row_number() OVER (PARTITION BY card_key
                             ORDER BY n DESC, first_pos ASC, category ASC) = 1
)
SELECT f.card_key,
       coalesce(r.rs_score, 0.0) AS rs_score,
       coalesce(r.situations_scored, '') AS situations_scored,
       coalesce(r.situation_scores_micro, '') AS situation_scores_micro,
       m.response_category,
       {_Q75_CARD_SCORE_SQL} AS card_score,
       CASE WHEN coalesce(f.national_service, false) THEN 'שירות ארצי'
            ELSE f.branch_city END AS address_primary,
       CASE WHEN coalesce(f.national_service, false) THEN NULL
            ELSE left(f.branch_address, length(f.branch_address) - length(f.branch_city) - 1)
       END AS address_secondary,
       'Supplier' AS org_name_primary,
       nullif(trim(' ' || substr(f.organization_name, 9), ' -,'), '') AS org_name_secondary,
       CASE WHEN coalesce(f.national_service, false) THEN 'national_service'
            ELSE replace(printf('%08.5f%08.5f', f.lon, f.lat), '.', '') END AS point_id,
       printf('[%.5f,%.5f]', f.lon, f.lat) AS coords,
       CASE WHEN coalesce(f.national_service, false) THEN 'ארצי' END AS national_service_details,
       f.organization_short_name || ',' || f.organization_name AS organization_resolved_name,
       trim(f.service_name || ' ' || coalesce(f.service_description, '')) AS collapse_key,
       array_to_string(list_sort(list_distinct(list_filter(flatten(
         list_transform(f.response_ids, r -> list_concat(list_concat(
           [r],
           flatten(list_transform(f.situation_ids, s -> [
             CASE WHEN NOT list_contains(['human_situations:language:hebrew_speaking',
                                          'human_situations:age_group:adults'], s)
                   AND NOT list_contains(['age_group', 'language'], string_split(s, ':')[2])
                  THEN s END,
             CASE WHEN NOT list_contains(['human_situations:language:hebrew_speaking',
                                          'human_situations:age_group:adults'], s)
                  THEN r || ' עבור ' || s END,
             CASE WHEN f.branch_city IS NOT NULL
                  THEN 'שירותים עבור ' || s || ' ב' || f.branch_city END,
             CASE WHEN f.branch_city IS NOT NULL
                  THEN r || ' עבור ' || s || ' ב' || f.branch_city END]))),
           CASE WHEN f.branch_city IS NOT NULL
                THEN [r || ' ב' || f.branch_city] ELSE [] END))),
         x -> x IS NOT NULL))), '|') AS possible_autocomplete,
       array_to_string(list_concat(
         list_filter(f.response_ids, r -> string_split(r, ':')[2] IS NOT DISTINCT FROM m.response_category),
         list_filter(f.response_ids, r -> string_split(r, ':')[2] IS DISTINCT FROM m.response_category)
       ), ',') AS responses_reordered
FROM ftf f
LEFT JOIN rs r USING (card_key)
LEFT JOIN cmode m USING (card_key)
CROSS JOIN LATERAL (SELECT CASE WHEN coalesce(f.organization_branch_count, 1) <= 0 THEN 1.0
                                ELSE CAST(coalesce(f.organization_branch_count, 1) AS DOUBLE) END AS bc) AS bc
WHERE (f.lon > 33.0 AND f.lon < 37.0 AND f.lat > 29.3 AND f.lat < 33.3)
   OR coalesce(f.national_service, false)
"""


# --------------------------------------------------------------------------
# q74 — autocomplete corpus end-to-end (U5 → W2 → J7 → score)
# --------------------------------------------------------------------------

def q74_autocomplete_flow(spark, sf_dir):
    """The composed autocomplete flow (pipelines/autocomplete.py): template
    explode over the card corpus, first-per-query in importance order with
    count/low aggregates, fuzzy city-bounds lookup, (ln(n)+1)^2 scoring."""
    from ..pipelines import staging_fixtures as FIX  # noqa: PLC0415
    from ..pipelines.autocomplete import (  # noqa: PLC0415
        autocomplete_corpus,
        autocomplete_input,
        city_bounds,
    )
    from ..pipelines.derive import run_derive  # noqa: PLC0415

    ft = run_derive(spark, sf_dir)["flat_table"]
    cards = autocomplete_input(ft)
    bounds = city_bounds(FIX.locations(spark, sf_dir))
    return autocomplete_corpus(cards, bounds)


Q74_SQL = _DERIVE_CTES + """
, ac_cards AS (
  SELECT [f.response0, f.response1] AS direct_responses,
         [f.situation0, f.situation1] AS direct_situations,
         list_sort(list_distinct(list_concat(
           list_transform(range(2, len(string_split(f.response0, ':')) + 1),
                          i -> array_to_string(string_split(f.response0, ':')[1:i], ':')),
           list_transform(range(2, len(string_split(f.response1, ':')) + 1),
                          i -> array_to_string(string_split(f.response1, ':')[1:i], ':'))))) AS responses_parents,
         list_sort(list_distinct(list_concat(
           list_transform(range(2, len(string_split(f.situation0, ':')) + 1),
                          i -> array_to_string(string_split(f.situation0, ':')[1:i], ':')),
           list_transform(range(2, len(string_split(f.situation1, ':')) + 1),
                          i -> array_to_string(string_split(f.situation1, ':')[1:i], ':'))))) AS situations_parents,
         coalesce(fb.organization_short_name, fb.organization_name) AS org_name,
         fb.branch_city, fb.organization_branch_count
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
  WHERE (fb.lon > 33.0 AND fb.lon < 37.0 AND fb.lat > 29.3 AND fb.lat < 33.3)
     OR coalesce(fb.national_service, false)
), tpls AS (
  SELECT * FROM (VALUES
    (0, '{response}', true, false, false, false),
    (1, '{situation}', false, true, false, false),
    (2, '{response} עבור {situation}', true, true, false, false),
    (3, '{org_name}', false, false, true, false),
    (4, '{response} ב{city_name}', true, false, false, true)
  ) AS t(importance, template, has_r, has_s, has_o, has_c)
), ex AS (
  SELECT c.direct_responses, c.direct_situations, c.organization_branch_count,
         t.importance, t.template,
         r.r AS resp, s.s AS sit,
         CASE WHEN t.has_o THEN c.org_name END AS org,
         CASE WHEN t.has_c THEN c.branch_city END AS city
  FROM ac_cards c
  CROSS JOIN tpls t
  CROSS JOIN unnest(CASE WHEN t.has_r THEN c.responses_parents ELSE [NULL] END) AS r(r)
  CROSS JOIN unnest(CASE WHEN t.has_s THEN c.situations_parents ELSE [NULL] END) AS s(s)
  WHERE s.s IS NULL OR len(string_split(s.s, ':')) >= 3
), q AS (
  SELECT replace(replace(replace(replace(template,
           '{response}', coalesce(resp, 'None')),
           '{situation}', coalesce(sit, 'None')),
           '{org_name}', coalesce(org, 'None')),
           '{city_name}', coalesce(city, 'None')) AS query,
         importance, resp, sit, org, city,
         ((resp IS NOT NULL AND NOT list_contains(direct_responses, resp))
          OR (sit IS NOT NULL AND NOT list_contains(direct_situations, sit))
          OR (org IS NOT NULL AND organization_branch_count < 5)) AS low
  FROM ex
), grouped AS (
  SELECT query,
         count(*) OVER (PARTITION BY query) AS n,
         bool_and(low) OVER (PARTITION BY query) AS low_all,
         importance, resp AS response, sit AS situation,
         org AS org_name, city AS city_name,
         row_number() OVER (PARTITION BY query ORDER BY importance ASC,
            resp ASC NULLS LAST, sit ASC NULLS LAST,
            org ASC NULLS LAST, city ASC NULLS LAST) AS rn
  FROM q
  WHERE query NOT LIKE '%None%'
  QUALIFY rn = 1
), bnds AS (
  SELECT CASE WHEN CAST(substr(location, 5) AS INT) % 3 = 0 THEN city || 'X' ELSE city END AS bkey,
         CAST(substr(location, 5) AS INT) AS bnk,
         printf('[%.5f,%.5f,%.5f,%.5f]', lon - 0.1, lat - 0.1, lon + 0.1, lat + 0.1) AS bounds
  FROM locs
), best AS (
  SELECT g.query, b.bounds
  FROM grouped g JOIN bnds b ON levenshtein(g.city_name, b.bkey) <= 2
  WHERE g.city_name IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY g.query
            ORDER BY levenshtein(g.city_name, b.bkey) ASC, b.bkey ASC, b.bnk ASC) = 1
)
SELECT g.query,
       trim(regexp_replace(g.query, '[^0-9a-zA-Zא-ת]+', '_', 'g'), '_') AS qid,
       CAST(g.n AS BIGINT) AS n,
       round(CASE WHEN g.low_all THEN 0.5 ELSE pow(ln(CAST(g.n AS DOUBLE)) + 1, 2) END, 6) AS score,
       g.importance, g.response, g.situation, g.org_name, g.city_name,
       g.low_all AS low,
       b.bounds
FROM grouped g LEFT JOIN best b USING (query)
WHERE g.city_name IS NULL OR b.bounds IS NOT NULL
"""


QUERIES.update({
    "q74_autocomplete_flow": QueryDef(
        q74_autocomplete_flow, Q74_SQL, "U5 W2 J7 F12 autocomplete:165-207 §3.1"
    ),
    "q75_card_surface": QueryDef(
        q75_card_surface, Q75_SQL, "A10-apply A5 F5 F6 F12 F19 F20 to_dp:835-915"
    ),
})


# --------------------------------------------------------------------------
# q93 — incremental derive == full recompute
# --------------------------------------------------------------------------

def q93_incremental_cards(spark, sf_dir):
    """Incremental card refresh (pipelines/incremental.py): a slice of
    branches "arrives", only the owning orgs' cards are rebuilt, and the
    merged table must hash-match the FULL derive — the oracle is q35's SQL
    verbatim. Shuffle of the refresh is proportional to the change set;
    untouched orgs' cards pass through a broadcast anti-join."""
    from ..pipelines.incremental import demo_incremental_vs_full  # noqa: PLC0415

    cards = demo_incremental_vs_full(spark, sf_dir)
    return cards.drop("card_id").withColumn(
        "organization_branch_count", F.col("organization_branch_count").cast("long")
    )


QUERIES["q93_incremental_cards"] = QueryDef(
    q93_incremental_cards, Q35_SQL, "K6-ext incremental derive refresh §3.1"
)


def _s(c):
    """Null-safe string leg for a signature concat (both engines' concat_ws
    SKIP nulls, which would silently drop a separator — coalesce keeps the
    field count fixed)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col.cast("string"), F.lit(""))


def _f(c, fmt="%.5f"):
    return F.format_string(fmt, F.col(c) if isinstance(c, str) else c)


def q158_derive_staged(spark, sf_dir):
    """SURVEY §3.1 composed end-to-end, ONE lineage (reference
    operators/derive/__init__.py:8-27, to_dp.py:922-935): the staging pull
    and all five derived stages emitted as (phase, key, sig) rows — the
    signature is a fixed-order concat of each stage's content columns, so a
    hash match gates every stage's full row-set AND the handoff between
    stages (flat_branches feeds flat_services and flat_table as the same
    DataFrame — the reference's driver-side ``branch_mapping`` dict,
    to_dp.py:928-932, as data). Scale shape: flat_branches and flat_table
    are persisted once (run_derive) and every phase reuses them; the union
    adds no shuffle of its own (each leg is a map over its stage)."""
    from ..pipelines import staging_fixtures as FIX  # noqa: PLC0415
    from ..pipelines.autocomplete import (  # noqa: PLC0415
        autocomplete_corpus,
        autocomplete_input,
        city_bounds,
    )
    from ..pipelines.derive import run_derive  # noqa: PLC0415

    orgs, locs = FIX.organizations(spark, sf_dir), FIX.locations(spark, sf_dir)
    brs, svcs = FIX.branches(spark, sf_dir), FIX.services(spark, sf_dir)
    st = run_derive(spark, sf_dir)
    fb, fs = st["flat_branches"], st["flat_services"]
    ft, cards = st["flat_table"], st["card_data"]
    ac = autocomplete_corpus(autocomplete_input(ft), city_bounds(locs))

    def phase(df, name, key, *sig_cols):
        return df.select(
            F.lit(name).alias("phase"),
            key.alias("key"),
            F.concat_ws("|", *sig_cols).alias("sig"),
        )

    legs = [
        # --- staging: the srm_data pull, BEFORE any status filter ---------
        phase(orgs, "staging", F.concat(F.lit("org:"), F.col("id")),
              _s("name"), _s("short_name"), _s("kind"), _s("phone")),
        phase(locs, "staging", F.concat(F.lit("loc:"), F.col("key")),
              _s("city"), _f("lat"), _f("lon"), _s("national_service")),
        phase(brs, "staging", F.concat(F.lit("branch:"), F.col("id")),
              _s("organization"), _s("location"), _s("name"), _s("address"), _s("status")),
        phase(svcs, "staging", F.concat(F.lit("service:"), F.col("id")),
              _s("name"), _s("organization"),
              F.array_join("responses", ","), F.array_join("situations", ","),
              _s("description"), _f("boost", "%.2f")),
        # --- stage 1: flat_branches (to_dp.py:288-406) ---------------------
        phase(fb, "flat_branches", F.concat(F.lit("fb:"), F.col("branch_id")),
              _s("organization"), _s("organization_name"), _s("organization_short_name"),
              _s("organization_kind"), _s("organization_phone"), _s("location"),
              _s("branch_name"), _s("branch_city"), _s("branch_address"),
              _f("lat"), _f("lon"), _s("national_service"),
              _s("organization_branch_count")),
        # --- stage 2: flat_services (to_dp.py:450-575) ---------------------
        phase(fs, "flat_services",
              F.concat(F.lit("fs:"), F.col("service_id"), F.lit("@"), F.col("branch_id")),
              _s("service_name"), _s("organization"),
              F.array_join("responses", ","), F.array_join("situations", ","),
              _s("service_description"), _f("service_boost", "%.2f")),
        # --- stage 3: flat_table (to_dp.py:577-698) ------------------------
        phase(ft, "flat_table",
              F.concat(F.lit("ft:"), F.col("service_id"), F.lit("@"), F.col("branch_id")),
              _s("service_name"), _s("organization"), _s("organization_name"),
              _s("organization_kind"), _s("branch_name"), _s("branch_city"),
              _s("branch_address"), _s("organization_branch_count"),
              _s("national_service"), _s("service_description"),
              _f("service_boost", "%.2f")),
        # --- stage 4: card_data (to_dp.py:756-920) --------------------------
        phase(cards, "card_data", F.concat(F.lit("card:"), F.col("card_key")),
              _s("service_id"), _s("service_name"), _s("branch_id"), _s("branch_name"),
              _s("branch_city"), _s("organization"), _s("organization_name"),
              _s("organization_branch_count"), _s("national_service"),
              _s("response_ids"), _s("situation_ids")),
        # --- stage 5: autocomplete corpus (autocomplete.py:165-207) ---------
        phase(ac, "autocomplete", F.concat(F.lit("ac:"), F.col("query")),
              _s("qid"), _s("n"), _f("score", "%.6f"), _s("importance"),
              _s("response"), _s("situation"), _s("org_name"), _s("city_name"),
              _s("low"), _s("bounds")),
    ]
    return reduce(lambda a, b: a.unionByName(b), legs)


Q158_SQL = _DERIVE_CTES + """
SELECT 'staging' AS phase, 'org:' || organization AS key,
       concat_ws('|', organization_name, organization_short_name,
                 organization_kind, organization_phone) AS sig
FROM orgs
UNION ALL
SELECT 'staging', 'loc:' || location,
       concat_ws('|', city, printf('%.5f', lat), printf('%.5f', lon),
                 CAST(national_service AS VARCHAR))
FROM locs
UNION ALL
SELECT 'staging', 'branch:' || id,
       concat_ws('|', organization, location, name, address, status)
FROM brs
UNION ALL
SELECT 'staging', 'service:' || id,
       concat_ws('|', name, organization, response0 || ',' || response1,
                 situation0 || ',' || situation1, coalesce(description, ''),
                 printf('%.2f', boost))
FROM svcs
UNION ALL
SELECT 'flat_branches', 'fb:' || branch_id,
       concat_ws('|', organization, organization_name, organization_short_name,
                 organization_kind, organization_phone, location, branch_name,
                 branch_city, branch_address, printf('%.5f', lat),
                 printf('%.5f', lon), CAST(national_service AS VARCHAR),
                 CAST(organization_branch_count AS VARCHAR))
FROM fb
UNION ALL
SELECT 'flat_services', 'fs:' || service_id || '@' || branch_id,
       concat_ws('|', service_name, organization,
                 response0 || ',' || response1, situation0 || ',' || situation1,
                 coalesce(description, ''), printf('%.2f', boost))
FROM fs
UNION ALL
SELECT 'flat_table', 'ft:' || f.service_id || '@' || f.branch_id,
       concat_ws('|', f.service_name, f.organization, fb.organization_name,
                 fb.organization_kind, fb.branch_name, fb.branch_city,
                 fb.branch_address, CAST(fb.organization_branch_count AS VARCHAR),
                 CAST(fb.national_service AS VARCHAR), coalesce(f.description, ''),
                 printf('%.2f', f.boost))
FROM fs f JOIN fb ON f.branch_id = fb.branch_id
UNION ALL
SELECT 'card_data', 'card:' || card_key,
       concat_ws('|', service_id, service_name, branch_id, branch_name,
                 branch_city, organization, organization_name,
                 CAST(organization_branch_count AS VARCHAR),
                 CAST(national_service AS VARCHAR), response_ids, situation_ids)
FROM cards
UNION ALL
SELECT 'autocomplete', 'ac:' || query,
       concat_ws('|', qid, CAST(n AS VARCHAR), printf('%.6f', score),
                 CAST(importance AS VARCHAR), coalesce(response, ''),
                 coalesce(situation, ''), coalesce(org_name, ''),
                 coalesce(city_name, ''), CAST(low AS VARCHAR),
                 coalesce(bounds, ''))
FROM (""" + Q74_SQL + """) ac
"""


QUERIES["q158_derive_staged"] = QueryDef(
    q158_derive_staged, Q158_SQL,
    "§3.1 composed single-lineage derive DAG: staging→fb→fs→ft→cards→autocomplete, per-stage hash-gated",
)


# --------------------------------------------------------------------------
# q159 — publish fan-out: one persisted card surface → ES + sitemap + SQL
# --------------------------------------------------------------------------

# the reference's six single-column card indexes (to_sql.py:34-41:
# service_name, organization_id, organization_kind, branch_city,
# national_service, card_id), under the engine surface's column names
# (``organization`` IS the organization id — staging_fixtures). card_id's
# index is named here but the column itself stays out of the row payload
# (sha1 — pinned by unit tests, not oracle-expressible); organization_kind is
# carried onto the surface from flat_branches for exactly this index.
_CARD_INDEX_FIELDS = [
    "service_name", "organization", "organization_kind", "branch_city",
    "national_service", "card_id",
]


def q159_publish_fanout(spark, sf_dir):
    """The derive tail's fan-out (reference operators/derive/__init__.py:16-21)
    from ONE materialized surface: card_data projected once, session-persisted,
    then consumed by all three sinks —

    - ``es`` phase: to_es_actions bulk lines (key = action line, payload =
      document line, byte-exact like q122);
    - ``sitemap`` phase: ≤100-URL chunk documents (key = file index, payload
      = the exact XML + URL count, byte-exact like q105);
    - ``sql`` phase: one row per card as the JDBC writer would emit it, plus
      ``sql_ddl`` rows for the reference's six CREATE INDEX statements
      (sinks/jdbc.py:index_ddl vs to_sql.py:30-45).

    The persist is the point: at 100 TB the derive DAG runs once and three
    sinks stream from the cached surface — not three recomputations."""
    from ..operators.session_cache import keep_persisted  # noqa: PLC0415
    from ..pipelines.derive import run_derive  # noqa: PLC0415
    from ..sinks.es import to_es_actions  # noqa: PLC0415
    from ..sinks.files import sitemap_documents  # noqa: PLC0415
    from ..sinks.jdbc import index_ddl  # noqa: PLC0415
    from ..sources.tables import local_table  # noqa: PLC0415

    stages = run_derive(spark, sf_dir)
    cards = stages["card_data"]
    # organization_kind lives on flat_branches (branch_id is its PK); the
    # reference's card dump carries it (to_sql.py:37 indexes it), so the
    # publish surface joins it back — a broadcast of a 2-column dim slice.
    kind = stages["flat_branches"].select("branch_id", "organization_kind")
    surface = keep_persisted(
        cards.join(F.broadcast(kind), "branch_id").select(
            "card_key", "service_id", "service_name", "branch_id",
            "branch_city", "organization", "organization_kind",
            "organization_name", "national_service",
        ),
        "publish_surface",
    )

    es = to_es_actions(surface, "cards", "card_key", revision="r9").select(
        F.lit("es").alias("phase"),
        F.col("action_json").alias("key"),
        F.col("doc_json").alias("payload"),
    )
    urls = surface.select(
        F.concat(F.lit("https://example.org/c/"), F.col("card_key")).alias("url")
    )
    sm = sitemap_documents(urls, urls_per_file=100).select(
        F.lit("sitemap").alias("phase"),
        F.col("file_index").cast("string").alias("key"),
        F.concat_ws("|", F.col("xml"), F.col("n_urls").cast("string")).alias("payload"),
    )
    sql_rows = surface.select(
        F.lit("sql").alias("phase"),
        F.col("card_key").alias("key"),
        F.concat_ws(
            "|", _s("service_id"), _s("service_name"), _s("branch_id"),
            _s("branch_city"), _s("organization"), _s("organization_kind"),
            _s("organization_name"), _s("national_service"),
        ).alias("payload"),
    )
    ddl = local_table(
        spark,
        [(f, stmt) for f, stmt in zip(_CARD_INDEX_FIELDS, index_ddl("cards", _CARD_INDEX_FIELDS))],
        "field string, stmt string",
    ).select(
        F.lit("sql_ddl").alias("phase"),
        F.concat(F.lit("ddl:"), F.col("field")).alias("key"),
        F.col("stmt").alias("payload"),
    )
    return es.unionByName(sm).unionByName(sql_rows).unionByName(ddl)


_Q159_DDL_SQL = "\nUNION ALL\n".join(
    "SELECT 'sql_ddl', 'ddl:%s', "
    "'CREATE INDEX IF NOT EXISTS \"idx_cards_%s\" ON \"cards\" (\"%s\")'" % (f, f, f)
    for f in _CARD_INDEX_FIELDS
)


Q159_SQL = _DERIVE_CTES + """
, surface AS (
  SELECT c.card_key, c.service_id, c.service_name, c.branch_id, c.branch_city,
         c.organization, f.organization_kind, c.organization_name,
         c.national_service
  FROM cards c JOIN fb f ON c.branch_id = f.branch_id
),
sm_idx AS (
  SELECT 'https://example.org/c/' || card_key AS url,
         CAST(floor((row_number() OVER (ORDER BY ('https://example.org/c/' || card_key)) - 1)
              / 100.0) AS BIGINT) AS file_index
  FROM surface
)
SELECT 'es' AS phase,
       '{"index":{"_index":"cards","_id":"' || card_key || '"}}' AS key,
       '{"card_key":"' || card_key
         || '","service_id":"' || service_id
         || '","service_name":"' || service_name
         || '","branch_id":"' || branch_id
         || '","branch_city":"' || branch_city
         || '","organization":"' || organization
         || '","organization_kind":"' || organization_kind
         || '","organization_name":"' || organization_name
         || '","national_service":' || CAST(national_service AS VARCHAR)
         || ',"revision":"r9"}' AS payload
FROM surface
UNION ALL
SELECT 'sitemap', CAST(file_index AS VARCHAR),
       '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
       || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10)
       || string_agg('<url><loc>' || url || '</loc></url>', chr(10) ORDER BY url) || chr(10)
       || '</urlset>' || '|' || CAST(count(*) AS VARCHAR)
FROM sm_idx GROUP BY file_index
UNION ALL
SELECT 'sql', card_key,
       concat_ws('|', service_id, service_name, branch_id, branch_city,
                 organization, organization_kind, organization_name,
                 CAST(national_service AS VARCHAR))
FROM surface
UNION ALL
""" + _Q159_DDL_SQL


QUERIES["q159_publish_fanout"] = QueryDef(
    q159_publish_fanout, Q159_SQL,
    "derive publish fan-out: one persisted card surface -> ES bulk + sitemap + SQL/DDL (K2 K3 K8)",
)


def q160_training_corpus_staged(spark, sf_dir):
    """One lineage from raw documents to packed training sequences, every
    stage's row-set hash-gated (docstring at module top; reference parity
    per stage: dedup/LSH `operators/dedup.py`, quality
    `functions/text.py:with_quality_flags`, decontamination
    `operators/decontaminate.py`, quota `operators/windows.py`, packing
    `operators/packing.py` — the md5 hash family keeps the LSH leg
    oracle-reproducible exactly as q26 does)."""
    from ..pipelines.curation import training_corpus_stages  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 37 == 0)          # held-out benchmark slice
    raw = d.filter(F.col("doc_id") % 37 != 0)         # the ingested corpus
    st = training_corpus_stages(raw, ev)
    exact, near, qual = st["exact"], st["near"], st["quality"]
    clean, kept, seqs = st["clean"], st["kept"], st["seqs"]

    def doc_phase(df, name, *sig_cols):
        return df.select(
            F.lit(name).alias("phase"),
            F.concat(F.lit("d:"), F.col("doc_id").cast("string")).alias("key"),
            F.concat_ws("|", *[_s(c) for c in sig_cols]).alias("sig"),
        )

    legs = [
        doc_phase(exact, "10_exact", "lang", "source"),
        doc_phase(near, "20_neardup", "lang", "source"),
        doc_phase(qual, "30_quality", "n_tokens"),
        doc_phase(clean, "40_decontam", "lang", "source"),
        doc_phase(kept, "50_quota", "source", "lang", "rank"),
        seqs.select(
            F.lit("60_packed").alias("phase"),
            F.concat(F.lit("p:"), _s("lang"), F.lit(":"), F.col("seq_id").cast("string")).alias("key"),
            F.concat_ws("|", _s("n_docs"), _s("sum_tokens")).alias("sig"),
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# Split into TO_CLEAN / TAIL so q166 can splice the DSIR stage between the
# decontamination and the quota without duplicating any chain literal.
# __QSRC__ is a sentinel (not .format — the chain text contains regex braces).
_Q160_CTES_TO_CLEAN = f"""raw AS (
  SELECT * FROM documents WHERE doc_id % 37 != 0
), normed AS (
  SELECT doc_id, lang, source, text, {_NORM.format(c='text')} AS norm FROM raw
), exact AS (
  -- keeper assembled as ONE struct (per-column arg_min would skip a NULL
  -- field on the min-id row and frankenrow it from another group member)
  SELECT doc_id, k.lang AS lang, k.source AS source, k.text AS text, norm
  FROM (
    SELECT min(doc_id) AS doc_id,
           arg_min(struct_pack(lang := lang, source := source, text := text),
                   doc_id) AS k,
           norm
    FROM normed GROUP BY norm
  )
), toksrc AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS tok
  FROM exact WHERE norm != ''
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tok) - 2, 1)),
           i -> array_to_string(tok[i:i+2], ' '))) AS shingles
  FROM toksrc
), slots AS (
  SELECT s.doc_id, g.i, min(md5(CAST(g.i AS VARCHAR) || ':' || us.shingle)) AS mh
  FROM sh s, UNNEST(s.shingles) AS us(shingle), generate_series(0, 15) AS g(i)
  GROUP BY s.doc_id, g.i
), bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
  FROM slots GROUP BY doc_id, i // 4
), cands AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
), losers AS (
  SELECT DISTINCT c.right_id
  FROM cands c
  JOIN sh a ON a.doc_id = c.left_id
  JOIN sh b ON b.doc_id = c.right_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.7
), near AS (
  SELECT e.* FROM exact e LEFT JOIN losers l ON e.doc_id = l.right_id
  WHERE l.right_id IS NULL
), qbase AS (
  SELECT doc_id, lang, source, text, norm,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS n_punct
  FROM near
), counted AS (
  SELECT doc_id, lang, source, text, norm, nonspace, n_punct,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS INT) AS total_word_chars,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                              t -> list_contains({_STOP_SQL}, t))) AS INT) AS n_stopwords
  FROM qbase
), quality AS (
  SELECT doc_id, lang, source, text, norm, nonspace, n_punct, n_tokens, total_word_chars
  FROM counted
  WHERE n_tokens >= 50
    AND 3 * n_tokens <= total_word_chars AND total_word_chars <= 10 * n_tokens
    AND n_punct * 10 <= nonspace
    AND n_stopwords >= 2
), evtoks AS (
  SELECT list_filter(string_split({_NORM.format(c='text')}, ' '), t -> t != '') AS t
  FROM documents WHERE doc_id % 37 = 0
), evgrams AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(
                generate_series(1, greatest(len(t) - 2, 1)),
                i -> array_to_string(list_slice(t, i, i + 2), ' '))) END) AS gram
  FROM evtoks
), corpgrams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tok) = 0 THEN CAST([] AS VARCHAR[])
         ELSE list_distinct(list_transform(
                generate_series(1, greatest(len(tok) - 2, 1)),
                i -> array_to_string(list_slice(tok, i, i + 2), ' '))) END) AS gram
  FROM (SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS tok FROM quality)
), dirty AS (
  SELECT c.doc_id FROM corpgrams c JOIN evgrams USING (gram)
  GROUP BY c.doc_id HAVING count(*) >= 2
), clean AS (
  SELECT q.* FROM quality q ANTI JOIN dirty d ON q.doc_id = d.doc_id
)"""


_Q160_TAIL_T = f"""scoreq AS (
  SELECT doc_id, source, lang, text,
    round((
      least(CAST(n_tokens AS DOUBLE) / 50, 1.0)
      + 1.0 - least(CASE WHEN nonspace = 0 THEN 0.0
                         ELSE CAST(n_punct AS DOUBLE) / nonspace END * 4, 1.0)
      + CASE WHEN n_tokens = 0 THEN 0.0
             ELSE CASE WHEN CAST(total_word_chars AS DOUBLE) / n_tokens
                            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END END
    ) / 3.0, 4) AS quality
  FROM __QSRC__
), kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source, lang
                                 ORDER BY quality DESC, doc_id) AS rank
    FROM scoreq
  ) WHERE rank <= 15
), sized AS (
  SELECT doc_id, lang, {_BPE_SQL.format(c='text')} AS nt FROM kept
), packed AS (
  SELECT lang, doc_id, nt,
         CAST(floor((sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt)
                    / 2048) AS BIGINT) AS seq_id
  FROM sized
), seqs AS (
  SELECT lang, seq_id, count(*) AS n_docs,
         CAST(coalesce(sum(nt), 0) AS BIGINT) AS sum_tokens
  FROM packed GROUP BY lang, seq_id
)"""


# phases shared by q160 and (with the DSIR leg added) q166
_Q160_PHASES = """
SELECT '10_exact' AS phase, 'd:' || CAST(doc_id AS VARCHAR) AS key,
       coalesce(lang, '') || '|' || coalesce(source, '') AS sig FROM exact
UNION ALL
SELECT '20_neardup', 'd:' || CAST(doc_id AS VARCHAR),
       coalesce(lang, '') || '|' || coalesce(source, '') FROM near
UNION ALL
SELECT '30_quality', 'd:' || CAST(doc_id AS VARCHAR),
       CAST(n_tokens AS VARCHAR) FROM quality
UNION ALL
SELECT '40_decontam', 'd:' || CAST(doc_id AS VARCHAR),
       coalesce(lang, '') || '|' || coalesce(source, '') FROM clean
UNION ALL
SELECT '50_quota', 'd:' || CAST(doc_id AS VARCHAR),
       coalesce(source, '') || '|' || coalesce(lang, '') || '|' || CAST(rank AS VARCHAR) FROM kept
UNION ALL
SELECT '60_packed', 'p:' || coalesce(lang, '') || ':' || CAST(seq_id AS VARCHAR),
       CAST(n_docs AS VARCHAR) || '|' || CAST(sum_tokens AS VARCHAR) FROM seqs
"""


Q160_SQL = (
    "WITH " + _Q160_CTES_TO_CLEAN + ", "
    + _Q160_TAIL_T.replace("__QSRC__", "clean")
    + _Q160_PHASES
)


QUERIES["q160_training_corpus_staged"] = QueryDef(
    q160_training_corpus_staged, Q160_SQL,
    "LLM-pipeline composed: eval split -> exact dedup -> LSH near-dup -> "
    "quality -> decontam -> quota -> packing, every stage's row-set phase-gated",
)


def q161_es_publish_surfaces(spark, sf_dir):
    """All five ES index surfaces from one persisted card projection
    (pipelines/es_publish.py; reference flows cited per leg there). The card
    surface — card_data_full plus the airtable_last_modified enrichment — is
    session-persisted once; the cards leg projects it, the three count legs
    each run one hash aggregate over it, places is dimension-sized, and the
    autocomplete leg reuses run_derive's persisted flat_table. The union is
    per-leg maps — no recomputation across legs. The card surface pins as a
    lineage-truncating checkpoint, not a persist: five legs plus the union
    each nested the full card_data_full subtree under a persist (q161 carried
    172 runtime exchanges in the r12 PLAN_AUDIT); every dimension join below
    the pin carries an explicit broadcast hint, so the stats-free LogicalRDD
    scan cannot demote a broadcast."""
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415
    from ..pipelines import staging_fixtures as FIX  # noqa: PLC0415
    from ..pipelines.autocomplete import (  # noqa: PLC0415
        autocomplete_corpus,
        autocomplete_input,
        city_bounds,
    )
    from ..pipelines.derive import run_derive  # noqa: PLC0415
    from ..pipelines.es_publish import (  # noqa: PLC0415
        autocomplete_publish,
        cards_api_surface,
        organizations_surface,
        places_surface,
        taxonomy_count_surface,
    )

    st = run_derive(spark, sf_dir)
    surface = keep_checkpointed_pooled(
        cards_api_surface(st["card_data_full"]).select(
            "card_key", "card_score", "airtable_last_modified", "service_name",
            "branch_city", "organization", "response_ids", "situation_ids",
        ),
        "es_five_surface",
        eager=False,
    )
    locs = FIX.locations(spark, sf_dir)
    places = places_surface(spark, locs)
    resp = taxonomy_count_surface(
        surface, FIX.responses_dim(spark, sf_dir), "response_ids"
    )
    sit = taxonomy_count_surface(
        surface, FIX.situations_dim(spark, sf_dir), "situation_ids"
    )
    orgs = organizations_surface(surface, FIX.organizations(spark, sf_dir))
    ac = autocomplete_publish(
        autocomplete_corpus(autocomplete_input(st["flat_table"]), city_bounds(locs))
    )

    legs = [
        surface.select(
            F.lit("10_cards").alias("phase"),
            F.concat(F.lit("card:"), F.col("card_key")).alias("key"),
            F.concat_ws(
                "|",
                F.format_string("%.6f", F.col("card_score")),
                _s("airtable_last_modified"), _s("service_name"),
                _s("branch_city"), _s("organization"),
            ).alias("sig"),
        ),
        places.select(
            F.lit("20_places").alias("phase"),
            F.concat(F.lit("pl:"), F.col("key")).alias("key"),
            F.concat_ws(
                "|",
                _s("query"), _s("place"),
                F.format_string("%.4f", F.col("score")),
                F.format_string(
                    "[%.5f,%.5f,%.5f,%.5f]",
                    F.element_at("bounds", 1), F.element_at("bounds", 2),
                    F.element_at("bounds", 3), F.element_at("bounds", 4),
                ),
            ).alias("sig"),
        ),
        resp.select(
            F.lit("30_responses").alias("phase"),
            F.concat(F.lit("r:"), F.col("id")).alias("key"),
            F.concat_ws(
                "|", _s("name"), _s("synonyms"), _s("breadcrumbs"), _s("count")
            ).alias("sig"),
        ),
        sit.select(
            F.lit("40_situations").alias("phase"),
            F.concat(F.lit("s:"), F.col("id")).alias("key"),
            F.concat_ws(
                "|", _s("name"), _s("synonyms"), _s("breadcrumbs"), _s("count")
            ).alias("sig"),
        ),
        orgs.select(
            F.lit("50_orgs").alias("phase"),
            F.concat(F.lit("o:"), F.col("id")).alias("key"),
            F.concat_ws(
                "|", _s("name"), _s("description"), _s("kind"), _s("count"),
                _s(F.col("count") * 10),
            ).alias("sig"),
        ),
        ac.select(
            F.lit("60_autocomplete").alias("phase"),
            F.concat(F.lit("ac:"), F.col("qid")).alias("key"),
            F.concat_ws(
                "|", _s("query"), _s("n"),
                F.format_string("%.6f", F.col("score")),
                _s("low"),
            ).alias("sig"),
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


_PLACE_SCORE_SQL = """CASE place WHEN 'region' THEN 200 WHEN 'city' THEN 100
       WHEN 'town' THEN 50 WHEN 'village' THEN 10 WHEN 'hamlet' THEN 5
       ELSE 1 END"""


_LM_SQL = """CASE WHEN f.service_last_modified IS NULL AND f.branch_last_modified IS NULL
       THEN NULL
       ELSE greatest(coalesce(f.service_last_modified, f.branch_last_modified),
                     coalesce(f.branch_last_modified, f.service_last_modified)) END"""


Q161_SQL = _DERIVE_CTES + f"""
, cardsf AS (
  SELECT f.branch_id || f.service_id AS card_key,
         f.service_id, f.service_name, f.description AS service_description,
         f.boost AS service_boost, f.service_last_modified,
         fb.branch_last_modified, fb.branch_city,
         f.organization, fb.organization_kind, fb.organization_phone,
         fb.organization_branch_count, fb.national_service,
         [f.response0, f.response1] AS response_ids,
         [f.situation0, f.situation1] AS situation_ids
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
  WHERE (fb.lon > 33.0 AND fb.lon < 37.0 AND fb.lat > 29.3 AND fb.lat < 33.3)
     OR coalesce(fb.national_service, false)
), placesrc AS (
  SELECT 'place-' || CAST(nk AS VARCHAR) AS key,
         [city, 'איזור ' || city] AS name,
         [lon - 0.1, lat - 0.1, lon + 0.1, lat + 0.1] AS bounds,
         (['region','city','town','village','hamlet','suburb'])[nk % 6 + 1] AS place
  FROM (SELECT CAST(substr(location, 5) AS INT) AS nk, city, lat, lon FROM locs)
  UNION ALL
  SELECT * FROM (VALUES
    ('גוש_דן', ['גוש דן'], [34.6, 31.8, 35.1, 32.181], 'region'),
    ('איזור_ירושלים', ['איזור ירושלים'], [34.9, 31.7, 35.3, 31.9], 'region'),
    ('איזור_הצפון', ['איזור הצפון'], [34.5, 32.5, 35.8, 33.3], 'region'),
    ('איזור_באר_שבע', ['איזור באר-שבע'], [34.5, 30.8, 35.5, 31.5], 'region')
  ) p(key, name, bounds, place)
), placeq AS (
  -- stable-sort parity: longest name, ties by ARRAY POSITION (the
  -- reference's sorted(key=len, reverse=True) stability)
  SELECT key, nm AS query FROM (
    SELECT key, nm,
           row_number() OVER (PARTITION BY key ORDER BY length(nm) DESC, pos ASC) AS rn
    FROM (SELECT key, unnest(name) AS nm,
                 generate_subscripts(name, 1) AS pos
          FROM placesrc)
  ) WHERE rn = 1
), rparents AS (
  SELECT DISTINCT unnest(list_distinct(list_concat(
    {_parents_sql('response0')}, {_parents_sql('response1')}))) AS id
  FROM svcs
), sparents AS (
  SELECT DISTINCT unnest(list_distinct(list_concat(
    {_parents_sql('situation0')}, {_parents_sql('situation1')}))) AS id
  FROM svcs
), rcounts AS (
  SELECT id, count(*) AS cnt FROM (
    SELECT unnest(list_distinct(list_concat(
      {_parents_sql('response_ids[1]')}, {_parents_sql('response_ids[2]')}))) AS id
    FROM cardsf
  ) GROUP BY id
), scounts AS (
  SELECT id, count(*) AS cnt FROM (
    SELECT unnest(list_distinct(list_concat(
      {_parents_sql('situation_ids[1]')}, {_parents_sql('situation_ids[2]')}))) AS id
    FROM cardsf
  ) GROUP BY id
), ocounts AS (
  SELECT organization AS id, count(*) AS cnt FROM cardsf GROUP BY organization
), ac_pub AS (
  SELECT qid, query, n, score, low FROM (
    SELECT qid, query, n, score, low,
           row_number() OVER (PARTITION BY qid ORDER BY query ASC) AS rn
    FROM (""" + Q74_SQL + f""")
  ) WHERE rn = 1
)
SELECT '10_cards' AS phase, 'card:' || f.card_key AS key,
       concat_ws('|', printf('%.6f', {_Q75_CARD_SCORE_SQL}),
                 coalesce({_LM_SQL}, ''), f.service_name,
                 coalesce(f.branch_city, ''), f.organization) AS sig
FROM cardsf f
CROSS JOIN LATERAL (SELECT CASE WHEN coalesce(f.organization_branch_count, 1) <= 0 THEN 1.0
                                ELSE CAST(coalesce(f.organization_branch_count, 1) AS DOUBLE) END AS bc) AS bc
UNION ALL
SELECT '20_places', 'pl:' || p.key,
       concat_ws('|', q.query, p.place,
                 printf('%.4f', (p.bounds[3] - p.bounds[1]) * (p.bounds[4] - p.bounds[2])
                                * 100000.0 * ({_PLACE_SCORE_SQL})),
                 printf('[%.5f,%.5f,%.5f,%.5f]',
                        p.bounds[1], p.bounds[2], p.bounds[3], p.bounds[4]))
FROM placesrc p JOIN placeq q ON p.key = q.key
UNION ALL
SELECT '30_responses', 'r:' || d.id,
       concat_ws('|', 'מענה ' || string_split(d.id, ':')[-1],
                 replace(d.id, ':', ' '),
                 array_to_string(string_split(d.id, ':')[1:len(string_split(d.id, ':')) - 1], ' / '),
                 CAST(c.cnt AS VARCHAR))
FROM rparents d JOIN rcounts c ON d.id = c.id
WHERE length(d.id) % 7 != 0
UNION ALL
SELECT '40_situations', 's:' || d.id,
       concat_ws('|', 'מצב ' || string_split(d.id, ':')[-1],
                 replace(d.id, ':', ' '),
                 array_to_string(string_split(d.id, ':')[1:len(string_split(d.id, ':')) - 1], ' / '),
                 CAST(c.cnt AS VARCHAR))
FROM sparents d JOIN scounts c ON d.id = c.id
WHERE length(d.id) % 7 != 0
UNION ALL
SELECT '50_orgs', 'o:' || oc.id,
       concat_ws('|', coalesce(o.organization_name, ''),
                 coalesce(o.organization_description, ''),
                 coalesce(o.organization_kind, ''),
                 CAST(oc.cnt AS VARCHAR), CAST(oc.cnt * 10 AS VARCHAR))
FROM ocounts oc LEFT JOIN orgs o ON oc.id = o.organization
UNION ALL
SELECT '60_autocomplete', 'ac:' || qid,
       concat_ws('|', query, CAST(n AS VARCHAR), printf('%.6f', score),
                 CAST(low AS VARCHAR))
FROM ac_pub
"""


QUERIES["q161_es_publish_surfaces"] = QueryDef(
    q161_es_publish_surfaces, Q161_SQL,
    "five-index ES publish composed: cards + places + responses + situations "
    "+ organizations + autocomplete from one persisted derive output (K3 U1 "
    "A1 U4 J6 to_es.py:340-350)",
)


# --------------------------------------------------------------------------
# q162 — mapbox geo_data + points flows composed (to_mapbox.py:97-249)
# --------------------------------------------------------------------------

def q162_mapbox_geo_flow(spark, sf_dir):
    """The mapbox derive composition (pipelines/mapbox.py): one persisted
    per-card records frame feeds the per-point geo_data surface (mode title
    with truncation/+N/* rules, mode response category, service/branch
    counts, single-card card id), its accurate/inaccurate duplicate split
    (U2), the per-card ES points projection and the 4-column clusters
    subset — all four phase-labeled full row-sets in one result."""
    from ..operators.session_cache import keep_persisted  # noqa: PLC0415
    from ..pipelines.derive import run_derive  # noqa: PLC0415
    from ..pipelines.mapbox import (  # noqa: PLC0415
        geo_data_surface,
        geo_point_records,
        points_surface,
    )

    recs = keep_persisted(
        geo_point_records(run_derive(spark, sf_dir)["card_data_full"]),
        "mapbox_records",
    )
    pts = points_surface(recs)
    geo = geo_data_surface(recs)

    def pt_leg(phase, *sig_cols):
        return pts.select(
            F.lit(phase).alias("phase"),
            F.concat(F.lit("pt:"), F.col("card_key")).alias("key"),
            F.concat_ws("|", *[_s(c) for c in sig_cols]).alias("sig"),
        )

    def geo_leg(phase, flag):
        half = geo.filter(F.col("branch_location_accurate") == flag)
        return half.select(
            F.lit(phase).alias("phase"),
            F.concat(F.lit("g:"), F.col("point_id")).alias("key"),
            F.concat_ws(
                "|", _s("title"), _s("full_title"), _s("response_category"),
                _s("service_count"), _s("branch_count"), _s("card_id"),
                _s("branch_geometry"),
            ).alias("sig"),
        )

    legs = [
        pt_leg(
            "10_points", "point_id", "response_category", "response_categories",
            "response_ids", "situation_ids", "organization", "branch_geometry",
        ),
        pts.select(
            F.lit("20_clusters").alias("phase"),
            F.concat(F.lit("cl:"), F.col("card_key")).alias("key"),
            F.concat_ws(
                "|", _s("branch_geometry"), _s("response_categories"), _s("point_id")
            ).alias("sig"),
        ),
        geo_leg("30_geo_accurate", True),  # noqa: FBT003
        geo_leg("40_geo_inaccurate", False),  # noqa: FBT003
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


Q162_SQL = _DERIVE_CTES + f"""
, cardsg AS (
  SELECT f.branch_id || f.service_id AS card_key,
         fb.lat, fb.lon,
         coalesce(fb.branch_operating_unit, fb.organization_short_name,
                  fb.organization_name) AS bname,
         fb.branch_location_accurate,
         f.organization,
         CASE WHEN coalesce(fb.national_service, false) THEN 'national_service'
              ELSE replace(printf('%08.5f%08.5f', fb.lon, fb.lat), '.', '') END AS point_id,
         [f.response0, f.response1] AS response_ids,
         [f.situation0, f.situation1] AS situation_ids
  FROM fs f JOIN fb ON f.branch_id = fb.branch_id
  WHERE ((fb.lon > 33.0 AND fb.lon < 37.0 AND fb.lat > 29.3 AND fb.lat < 33.3)
     OR coalesce(fb.national_service, false))
    AND fb.lat IS NOT NULL AND fb.lon IS NOT NULL
), gcat AS (
  SELECT c.card_key, string_split(r.r, ':')[2] AS category,
         list_position(c.response_ids, r.r) AS r_pos
  FROM cardsg c CROSS JOIN unnest(c.response_ids) AS r(r)
), gcatc AS (
  SELECT card_key, category, count(*) AS n, min(r_pos) AS first_pos
  FROM gcat GROUP BY 1, 2
), gmode AS (
  SELECT card_key, category AS response_category FROM gcatc
  QUALIFY row_number() OVER (PARTITION BY card_key
                             ORDER BY n DESC, first_pos ASC, category ASC) = 1
), gcards AS (
  SELECT c.*, m.response_category,
         printf('[%.5f,%.5f]', c.lon, c.lat) AS geo,
         array_to_string(list_transform(c.response_ids,
                                        r -> string_split(r, ':')[2]), ',') AS cats
  FROM cardsg c JOIN gmode m USING (card_key)
), gpts AS (
  SELECT point_id, count(*) AS service_count,
         bool_or(branch_location_accurate) AS accurate,
         min(card_key) AS first_ck,
         count(DISTINCT bname) AS branch_count,
         arg_min(struct_pack(lon := lon, lat := lat), card_key) AS g
  FROM gcards GROUP BY point_id
), gname AS (
  SELECT point_id, bname AS bn FROM (
    SELECT point_id, bname, count(*) AS n, min(card_key) AS fck
    FROM gcards GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY point_id ORDER BY n DESC, fck ASC) = 1
), gpcat AS (
  SELECT point_id, category FROM (
    SELECT point_id, response_category AS category, count(*) AS n,
           min(card_key) AS fck
    FROM gcards GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY point_id ORDER BY n DESC, fck ASC) = 1
), gsurf AS (
  SELECT p.point_id,
         printf('[%.5f,%.5f]', p.g.lon, p.g.lat) AS geo,
         p.accurate, c.category AS response_category,
         CASE WHEN length(n.bn) > 20 THEN substr(n.bn, 1, 20) || '…' ELSE n.bn END AS tbn,
         n.bn, p.service_count, p.branch_count,
         CASE WHEN p.service_count = 1 THEN p.first_ck END AS card_id
  FROM gpts p JOIN gname n USING (point_id) JOIN gpcat c USING (point_id)
), gtitled AS (
  SELECT *,
         CASE WHEN branch_count > 1 THEN tbn || '  +' || CAST(branch_count - 1 AS VARCHAR)
              WHEN NOT accurate THEN tbn || '*' ELSE tbn END AS title,
         CASE WHEN branch_count > 1 THEN bn || '  +' || CAST(branch_count - 1 AS VARCHAR)
              WHEN NOT accurate THEN bn || '*' ELSE bn END AS full_title
  FROM gsurf
)
SELECT '10_points' AS phase, 'pt:' || card_key AS key,
       concat_ws('|', point_id, response_category, cats,
                 array_to_string(response_ids, ','),
                 array_to_string(situation_ids, ','), organization, geo) AS sig
FROM gcards
UNION ALL
SELECT '20_clusters', 'cl:' || card_key,
       concat_ws('|', geo, cats, point_id)
FROM gcards
UNION ALL
SELECT '30_geo_accurate', 'g:' || point_id,
       concat_ws('|', title, full_title, response_category,
                 CAST(service_count AS VARCHAR), CAST(branch_count AS VARCHAR),
                 coalesce(card_id, ''), geo)
FROM gtitled WHERE accurate
UNION ALL
SELECT '40_geo_inaccurate', 'g:' || point_id,
       concat_ws('|', title, full_title, response_category,
                 CAST(service_count AS VARCHAR), CAST(branch_count AS VARCHAR),
                 coalesce(card_id, ''), geo)
FROM gtitled WHERE NOT accurate
"""


QUERIES["q162_mapbox_geo_flow"] = QueryDef(
    q162_mapbox_geo_flow, Q162_SQL,
    "mapbox derive composed: per-point geo_data (mode title/category, "
    "accurate split) + ES points + clusters from one persisted records frame "
    "(W3 A2 A5 U2 F21 to_mapbox.py:97-249)",
)


# --------------------------------------------------------------------------
# q163 — OSM place-bounds generator twin (data-analysis/osm/generate_places.py)
# --------------------------------------------------------------------------

def q163_place_bounds(spark, sf_dir):
    """The place-bounds generator end-to-end (pipelines/places_osm.py):
    hstore parse → Hebrew-name harvest + fix chain → rank/landuse/population
    gate → per-key merge → official fuzzy handshake → include_anyways filter
    → union bbox. Two phases: the merged per-key surface and the final
    package rows. The oracle derives the EXPECTED fixed names as literals,
    so the hash gates the whole normalization chain as a golden test (the
    engine parses and fixes; the oracle knows the answers)."""
    from ..pipelines.places_osm import (  # noqa: PLC0415
        generate_place_bounds,
        official_places,
        osm_features,
    )

    st = generate_place_bounds(
        osm_features(spark, sf_dir), official_places(spark, sf_dir)
    )
    bounds_fmt = F.format_string(
        "[%.5f,%.5f,%.5f,%.5f]",
        F.col("minlon"), F.col("minlat"), F.col("maxlon"), F.col("maxlat"),
    )
    merged_leg = st["merged"].select(
        F.lit("10_merged").alias("phase"),
        F.concat(F.lit("m:"), F.col("key")).alias("key"),
        F.concat_ws(
            "|", _s("place"), _s("landuse"), _s("population"),
            F.array_join("name", ","), _s("n_features"), bounds_fmt,
        ).alias("sig"),
    )
    places_leg = st["places"].select(
        F.lit("20_bounds").alias("phase"),
        F.concat(F.lit("p:"), F.col("key")).alias("key"),
        F.concat_ws(
            "|", _s("place"), F.array_join("name", ","), _s("population"),
            _s("official"),
            F.format_string(
                "[%.5f,%.5f,%.5f,%.5f]",
                F.element_at("bounds", 1), F.element_at("bounds", 2),
                F.element_at("bounds", 3), F.element_at("bounds", 4),
            ),
        ).alias("sig"),
    )
    return merged_leg.unionByName(places_leg)


_OSM_FIXED_BASE = """CASE idx
  WHEN 0 THEN 'חיפה' WHEN 1 THEN 'קריית גת' WHEN 2 THEN 'נווה צדק'
  WHEN 3 THEN 'הרצליה' WHEN 4 THEN 'תל אביב-יפו' WHEN 5 THEN 'עין ״גדי״'
  WHEN 7 THEN 'אום אל-פחם' WHEN 8 THEN 'מועצה אזורית גלבוע'
  WHEN 9 THEN 'שוהם' WHEN 11 THEN 'אבו גוש' WHEN 12 THEN 'גבעת שמואל' END"""


# the alias runs through the SAME chain but lands differently: no שהם
# special (exact match only), no ייה suffix rewrite mid-string, and the
# 'מועצה אזורית גלבוע עילית' variant trips the >20-char rejection
_OSM_FIXED_ALIAS = """CASE WHEN NOT has_alias THEN NULL ELSE CASE idx
  WHEN 0 THEN 'חיפה עילית' WHEN 1 THEN 'קריית גת עילית'
  WHEN 2 THEN 'נווה צדק עילית' WHEN 3 THEN 'הרצלייה עילית'
  WHEN 4 THEN 'תל אביב-יפו עילית' WHEN 5 THEN 'עין ״גדי״ עילית'
  WHEN 7 THEN 'אום אל-פחם עילית' WHEN 9 THEN 'שהם עילית'
  WHEN 11 THEN 'אבו גוש עילית' WHEN 12 THEN 'גבעת שמואל עילית' END END"""


# DuckDB's levenshtein counts BYTES while Spark's counts characters — on
# Hebrew (2-byte UTF-8) the distances diverge. Character levenshtein is
# invariant under any per-character bijection, so the oracle maps the Hebrew
# alphabet (+finals, geresh/gershayim) onto single-byte ASCII before scoring;
# the engine scores the originals. Lengths are character counts on both sides.
_HEB_CHARS = "אבגדהוזחטיכךלמםנןסעפףצץקרשת׳״"


_HEB_ASCII = "abcdefghijklmnopqrstuvwxyz123"


def _ascii_sql(col: str) -> str:
    out = col
    for h, a in zip(_HEB_CHARS, _HEB_ASCII):
        out = f"replace({out}, '{h}', '{a}')"
    return out


_OSM_ANYWAYS = (
    "len(list_filter(name, n -> starts_with(n, 'מועצה אזורית') "
    "OR starts_with(n, 'א-') OR starts_with(n, 'אבו ') OR starts_with(n, 'אום ') "
    "OR starts_with(n, 'אל ') OR starts_with(n, 'אל-') OR starts_with(n, 'גבעת '))) > 0"
)


Q163_SQL = f"""
WITH feats AS (
  SELECT c_custkey AS fid, c_custkey AS ck, n_nationkey AS nk,
         CAST(c_custkey % 13 AS INT) AS idx, c_custkey % 2 = 0 AS has_alias
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), named AS (
  SELECT fid, ck, nk,
         list_sort(list_distinct(list_filter(
           [{_OSM_FIXED_BASE}, {_OSM_FIXED_ALIAS}], x -> x IS NOT NULL))) AS name,
         CASE WHEN ck % 7 < 5
              THEN (['city','town','village','hamlet','suburb'])[CAST(ck % 7 AS INT) + 1]
         END AS place,
         CASE WHEN ck % 5 = 3 THEN 'residential' END AS landuse,
         CASE WHEN ck % 11 = 4 THEN CAST((ck * 7) % 9000 + 100 AS VARCHAR) END AS population,
         33.2 + (nk % 12) * 0.3 + (ck % 10) * 0.01 AS lon0,
         29.5 + (nk % 10) * 0.35 AS lat0,
         ck % 6 = 0 AS multi
  FROM feats
), rows_f AS (
  SELECT *, array_to_string(regexp_extract_all(array_to_string(name, ' '), '[א-ת]+'), '_') AS key,
         lon0 AS minlon, lat0 AS minlat,
         CASE WHEN multi THEN lon0 + 0.5 + 0.02 ELSE lon0 + 0.02 END AS maxlon,
         CASE WHEN multi THEN lat0 + 0.25 + 0.03 ELSE lat0 + 0.03 END AS maxlat
  FROM named
  WHERE (place IN ('city','town','village','hamlet') OR landuse = 'residential'
         OR population IS NOT NULL)
    AND len(name) > 0
), merged0 AS (
  -- keeper as ONE struct: per-column arg_min would skip a NULL field on the
  -- min-fid row and frankenrow the keeper from several group members
  SELECT key,
         arg_min(struct_pack(place := place, landuse := landuse,
                             population := population, name := name),
                 fid) AS f,
         count(*) AS n_features,
         min(minlon) AS minlon, min(minlat) AS minlat,
         max(maxlon) AS maxlon, max(maxlat) AS maxlat
  FROM rows_f GROUP BY key
), merged AS (
  SELECT key, f.place AS place, f.landuse AS landuse,
         f.population AS population, f.name AS name,
         n_features, minlon, minlat, maxlon, maxlat
  FROM merged0
), officials AS (
  SELECT DISTINCT CASE n_nationkey % 10
    WHEN 0 THEN 'חיפה' WHEN 1 THEN 'קריית גת' WHEN 2 THEN 'נווה צדק'
    WHEN 3 THEN 'הרצליה' WHEN 4 THEN 'תל אביב-יפו' WHEN 5 THEN 'אום אל-פחם'
    WHEN 6 THEN 'שוהם' WHEN 7 THEN 'אבו גוש' WHEN 8 THEN 'חיפא'
    WHEN 9 THEN 'גבעת שמואלל' END AS official
  FROM nation WHERE n_nationkey % 9 != 8
), cand0 AS (
  SELECT m.key, o.official, CAST(floor(
           100.0 * (greatest(length(u.nm), length(o.official))
                    - levenshtein({_ascii_sql('u.nm')}, {_ascii_sql('o.official')}))
           / greatest(length(u.nm), length(o.official))) AS INT) AS score
  FROM merged m, unnest(m.name) AS u(nm), officials o
), cand AS (
  SELECT key, official, max(score) AS score FROM cand0
  WHERE score >= 86 GROUP BY key, official
), top AS (
  SELECT official, max(struct_pack(s := score, k := key)) AS t
  FROM cand GROUP BY official
), chosen AS (
  SELECT key, official FROM (
    SELECT c.key, c.official, c.score,
           row_number() OVER (PARTITION BY c.key ORDER BY c.score DESC, c.official ASC) AS rn
    FROM cand c JOIN top t ON c.official = t.official
    WHERE c.score >= 87 AND t.t.s >= 87 AND c.key = t.t.k
  ) WHERE rn = 1
), places AS (
  SELECT m.*, ch.official
  FROM merged m LEFT JOIN chosen ch ON m.key = ch.key
  WHERE ch.official IS NOT NULL
     OR m.place IN ('city','town','village','hamlet')
     OR {_OSM_ANYWAYS}
)
SELECT '10_merged' AS phase, 'm:' || key AS key,
       concat_ws('|', coalesce(place, ''), coalesce(landuse, ''),
                 coalesce(population, ''), array_to_string(name, ','),
                 CAST(n_features AS VARCHAR),
                 printf('[%.5f,%.5f,%.5f,%.5f]', minlon, minlat, maxlon, maxlat)) AS sig
FROM merged
UNION ALL
SELECT '20_bounds', 'p:' || key,
       concat_ws('|', coalesce(place, ''), array_to_string(name, ','),
                 coalesce(population, ''), coalesce(official, ''),
                 printf('[%.5f,%.5f,%.5f,%.5f]', minlon, minlat, maxlon, maxlat))
FROM places
"""


QUERIES["q163_place_bounds"] = QueryDef(
    q163_place_bounds, Q163_SQL,
    "OSM place-bounds generator twin: hstore parse + Hebrew name-fix chain + "
    "per-key union bbox + official fuzzy handshake + include_anyways "
    "(generate_places.py, golden-name oracle)",
)


_ORG_SIG = ["name", "short_name", "kind", "phone", "description", "source", "status"]


_BR_SIG = [
    "organization", "location", "name", "address", "operating_unit",
    "location_accurate", "last_modified", "source", "status",
]


def _svc_sig():
    return F.concat_ws(
        "|",
        _s("name"), _s("organization"),
        F.coalesce(F.array_join("responses", ","), F.lit("")),
        F.coalesce(F.array_join("situations", ","), F.lit("")),
        _s("description"),
        F.format_string("%.2f", F.coalesce(F.col("boost"), F.lit(0.0))),
        _s("last_modified"), _s("source"), _s("status"),
    )


def q165_etl_end_to_end(spark, sf_dir):
    """§3 composed end-to-end (pipelines/etl_composed.py): the three
    airtable_updater merges' write sets (10-12), the post-merge staging
    tables (20-22), the derive cards built FROM those post tables (30), and
    two publish surfaces consuming the same state — ES bulk lines (40,
    byte-exact like q159) and the organizations count surface (50, q161's
    leg over the post-upsert org dim). Scale shape: three key-partitioned
    upsert joins, persisted post tables feeding both certification and
    derive, run_derive's persist discipline on fb/ft/cards; the publish legs
    are maps + one |orgs|-bounded aggregate over the persisted cards."""
    from ..pipelines.etl_composed import run_full_etl  # noqa: PLC0415
    from ..sinks.es import to_es_actions  # noqa: PLC0415

    st = run_full_etl(spark, sf_dir)

    def leg(df, phase, key_prefix, sig):
        return df.select(
            F.lit(phase).alias("phase"),
            F.concat(F.lit(key_prefix), F.col("id")).alias("key"),
            sig.alias("sig"),
        )

    org_sig = F.concat_ws("|", *[_s(c) for c in _ORG_SIG])
    br_sig = F.concat_ws("|", *[_s(c) for c in _BR_SIG])
    legs = [
        leg(st["writes_orgs"], "10_write_orgs", "o:", org_sig),
        leg(st["writes_branches"], "11_write_branches", "b:", br_sig),
        leg(st["writes_services"], "12_write_services", "s:", _svc_sig()),
        leg(st["post_orgs"], "20_staging_orgs", "o:", org_sig),
        leg(st["post_branches"], "21_staging_branches", "b:", br_sig),
        leg(st["post_services"], "22_staging_services", "s:", _svc_sig()),
        st["cards"].select(
            F.lit("30_cards").alias("phase"),
            F.concat(F.lit("card:"), F.col("card_key")).alias("key"),
            F.concat_ws(
                "|", _s("service_id"), _s("service_name"), _s("branch_id"),
                _s("branch_name"), _s("branch_city"), _s("organization"),
                _s("organization_name"), _s("organization_branch_count"),
                _s("national_service"), _s("response_ids"), _s("situation_ids"),
            ).alias("sig"),
        ),
    ]
    # publish leg 1: the ES bulk wire lines from the post-upsert card surface
    # (q159's shape; organization_kind joined back from flat_branches)
    kind = st["flat_branches"].select("branch_id", "organization_kind")
    surface = st["cards"].join(F.broadcast(kind), "branch_id").select(
        "card_key", "service_id", "service_name", "branch_id",
        "branch_city", "organization", "organization_kind",
        "organization_name", "national_service",
    )
    legs.append(
        to_es_actions(surface, "cards", "card_key", revision="r11").select(
            F.lit("40_es").alias("phase"),
            F.col("action_json").alias("key"),
            F.col("doc_json").alias("sig"),
        )
    )
    # publish leg 2: the organizations count surface over the SAME post state
    from ..pipelines.es_publish import organizations_surface  # noqa: PLC0415

    orgs_dim = st["post_orgs"].select("id", "name", "description", "kind")
    legs.append(
        organizations_surface(st["cards"], orgs_dim).select(
            F.lit("50_orgs_surface").alias("phase"),
            F.concat(F.lit("os:"), F.col("id")).alias("key"),
            F.concat_ws(
                "|", _s("name"), _s("description"), _s("kind"),
                _s("count"), _s(F.col("count") * 10),
            ).alias("sig"),
        )
    )
    out = legs[0]
    for lg in legs[1:]:
        out = out.unionByName(lg)
    return out


def _differs(fields: list[str]) -> str:
    return " OR ".join(f"f.{x} IS DISTINCT FROM c.{x}" for x in fields)


_ORG_FIELDS_SQL = ["name", "short_name", "kind", "phone", "description"]


_BR_FIELDS_SQL = [
    "organization", "location", "name", "address", "operating_unit",
    "location_accurate", "last_modified",
]


_SVC_FIELDS_SQL = [
    "name", "organization", "response0", "response1", "situation0",
    "situation1", "description", "boost", "last_modified",
]


_Q165_MERGE_CTES = f"""
orgs_cur AS (
  SELECT id,
         CASE WHEN right(id, 1) IN ('4','5') THEN 'ישן ' || name ELSE name END AS name,
         short_name, kind, phone, description, 'entities' AS source, status
  FROM orgs_fx WHERE right(id, 1) != '8'
  UNION ALL
  SELECT 'org-gone-' || CAST(n_nationkey AS VARCHAR), 'ארגון ותיק ' || n_name,
         NULL, 'company', NULL, NULL, 'entities', 'ACTIVE'
  FROM nation
), orgs_post AS (
  SELECT f.id, f.name, f.short_name, f.kind, f.phone, f.description,
         'entities' AS source, 'ACTIVE' AS status,
         (c.id IS NULL OR {_differs(_ORG_FIELDS_SQL)}
          OR c.status <> 'ACTIVE') AS changed
  FROM orgs_fx f LEFT JOIN orgs_cur c ON f.id = c.id
  UNION ALL
  SELECT c.id, c.name, c.short_name, c.kind, c.phone, c.description,
         c.source, c.status, FALSE
  FROM orgs_cur c WHERE NOT EXISTS (SELECT 1 FROM orgs_fx f WHERE f.id = c.id)
), brs_cur AS (
  SELECT id, organization, location,
         CASE WHEN right(id, 1) IN ('2','3') THEN 'ישן ' || name ELSE name END AS name,
         address, operating_unit, location_accurate, last_modified,
         'entities' AS source, status
  FROM brs_fx WHERE right(id, 1) != '7'
  UNION ALL
  SELECT 'branch-legacy-' || CAST(n_nationkey AS VARCHAR),
         'org-' || CAST((n_nationkey % (SELECT count(*) FROM supplier)) + 1 AS VARCHAR),
         'loc-' || CAST(n_nationkey AS VARCHAR),
         'סניף ותיק ' || CAST(n_nationkey AS VARCHAR),
         'רחוב ' || CAST(n_nationkey + 1 AS VARCHAR),
         NULL, TRUE, NULL, 'entities', 'ACTIVE'
  FROM nation
), brs_post AS (
  SELECT f.id, f.organization, f.location, f.name, f.address,
         f.operating_unit, f.location_accurate, f.last_modified,
         'entities' AS source, 'ACTIVE' AS status,
         (c.id IS NULL OR {_differs(_BR_FIELDS_SQL)}
          OR c.status <> 'ACTIVE') AS changed
  FROM brs_fx f LEFT JOIN brs_cur c ON f.id = c.id
  UNION ALL
  SELECT c.id, c.organization, c.location, c.name, c.address,
         c.operating_unit, c.location_accurate, c.last_modified,
         c.source, c.status, FALSE
  FROM brs_cur c WHERE NOT EXISTS (SELECT 1 FROM brs_fx f WHERE f.id = c.id)
), svcs_cur AS (
  SELECT id, name, organization, response0, response1, situation0, situation1,
         CASE WHEN right(id, 1) IN ('1','2') THEN 'תיאור ישן' ELSE description END AS description,
         boost, last_modified, 'guidestar' AS source, status
  FROM svcs_fx WHERE right(id, 1) != '9'
  UNION ALL
  SELECT 'svc-gone-' || CAST(p_partkey AS VARCHAR), 'שירות שנעלם', NULL,
         NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'guidestar', 'ACTIVE'
  FROM part WHERE p_partkey % 97 = 0
), svcs_post AS (
  SELECT coalesce(f.id, c.id) AS id,
         CASE WHEN f.id IS NOT NULL THEN f.name ELSE c.name END AS name,
         CASE WHEN f.id IS NOT NULL THEN f.organization ELSE c.organization END AS organization,
         CASE WHEN f.id IS NOT NULL THEN f.response0 ELSE c.response0 END AS response0,
         CASE WHEN f.id IS NOT NULL THEN f.response1 ELSE c.response1 END AS response1,
         CASE WHEN f.id IS NOT NULL THEN f.situation0 ELSE c.situation0 END AS situation0,
         CASE WHEN f.id IS NOT NULL THEN f.situation1 ELSE c.situation1 END AS situation1,
         CASE WHEN f.id IS NOT NULL THEN f.description ELSE c.description END AS description,
         CASE WHEN f.id IS NOT NULL THEN f.boost ELSE c.boost END AS boost,
         CASE WHEN f.id IS NOT NULL THEN f.last_modified ELSE c.last_modified END AS last_modified,
         'guidestar' AS source,
         CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
         (c.id IS NULL OR f.id IS NULL OR {_differs(_SVC_FIELDS_SQL)}) AS changed
  FROM svcs_fx f FULL OUTER JOIN svcs_cur c ON f.id = c.id
)"""


_ORG_SIG_SQL = (
    "concat_ws('|', coalesce(name, ''), coalesce(short_name, ''), "
    "coalesce(kind, ''), coalesce(phone, ''), coalesce(description, ''), "
    "source, status)"
)


_BR_SIG_SQL = (
    "concat_ws('|', coalesce(organization, ''), coalesce(location, ''), "
    "coalesce(name, ''), coalesce(address, ''), coalesce(operating_unit, ''), "
    "CAST(location_accurate AS VARCHAR), coalesce(last_modified, ''), "
    "source, status)"
)


_SVC_SIG_SQL = (
    "concat_ws('|', coalesce(name, ''), coalesce(organization, ''), "
    "coalesce(response0 || ',' || response1, ''), "
    "coalesce(situation0 || ',' || situation1, ''), "
    "coalesce(description, ''), printf('%.2f', coalesce(boost, 0.0)), "
    "coalesce(last_modified, ''), source, status)"
)


Q165_SQL = (
    "WITH "
    + _FIX_ORGS_T.format(name="orgs_fx") + ", "
    + _FIX_LOCS_CTE + ", "
    + _FIX_BRS_T.format(name="brs_fx") + ", "
    + _FIX_SVCS_T.format(name="svcs_fx") + ", "
    + _Q165_MERGE_CTES.strip() + ",\n"
    # the derive chain's EXACT text, rebound onto the post-merge state
    + _CHAIN_ORGS_T.format(src="orgs_post") + ", "
    + """brs AS (
  SELECT id, organization, location, name, address, operating_unit,
         location_accurate, last_modified, status
  FROM brs_post
), svcs AS (
  SELECT id, name, organization, response0, response1, situation0,
         situation1, description, boost, last_modified, status
  FROM svcs_post
), """
    + _CHAIN_FB_T.format(brs="brs") + ", "
    + _CHAIN_CARDS_T.format(svcs="svcs") + ", "
    + """surface AS (
  SELECT c.card_key, c.service_id, c.service_name, c.branch_id,
         c.branch_city, c.organization, f.organization_kind,
         c.organization_name, c.national_service
  FROM cards c JOIN fb f ON c.branch_id = f.branch_id
), ocounts AS (
  SELECT organization AS id, count(*) AS cnt FROM cards GROUP BY organization
)
"""
    + f"""
SELECT '10_write_orgs' AS phase, 'o:' || id AS key, {_ORG_SIG_SQL} AS sig
FROM orgs_post WHERE changed
UNION ALL
SELECT '11_write_branches', 'b:' || id, {_BR_SIG_SQL} FROM brs_post WHERE changed
UNION ALL
SELECT '12_write_services', 's:' || id, {_SVC_SIG_SQL} FROM svcs_post WHERE changed
UNION ALL
SELECT '20_staging_orgs', 'o:' || id, {_ORG_SIG_SQL} FROM orgs_post
UNION ALL
SELECT '21_staging_branches', 'b:' || id, {_BR_SIG_SQL} FROM brs_post
UNION ALL
SELECT '22_staging_services', 's:' || id, {_SVC_SIG_SQL} FROM svcs_post
UNION ALL
SELECT '30_cards', 'card:' || card_key,
       concat_ws('|', service_id, service_name, branch_id, branch_name,
                 coalesce(branch_city, ''), organization, organization_name,
                 CAST(organization_branch_count AS VARCHAR),
                 CAST(national_service AS VARCHAR), response_ids, situation_ids)
FROM cards
UNION ALL
SELECT '40_es',
       '{{"index":{{"_index":"cards","_id":"' || card_key || '"}}}}',
       '{{"card_key":"' || card_key
         || '","service_id":"' || service_id
         || '","service_name":"' || service_name
         || '","branch_id":"' || branch_id
         || '","branch_city":"' || branch_city
         || '","organization":"' || organization
         || '","organization_kind":"' || organization_kind
         || '","organization_name":"' || organization_name
         || '","national_service":' || CAST(national_service AS VARCHAR)
         || ',"revision":"r11"}}'
FROM surface
UNION ALL
SELECT '50_orgs_surface', 'os:' || oc.id,
       concat_ws('|', coalesce(o.name, ''), coalesce(o.description, ''),
                 coalesce(o.kind, ''), CAST(oc.cnt AS VARCHAR),
                 CAST(oc.cnt * 10 AS VARCHAR))
FROM ocounts oc LEFT JOIN orgs_post o ON oc.id = o.id
"""
)


QUERIES["q165_etl_end_to_end"] = QueryDef(
    q165_etl_end_to_end, Q165_SQL,
    "cross-entry-point ETL composed: ingestion upserts -> post-merge staging "
    "tables -> UNMODIFIED derive DAG over the post state -> ES bulk + org "
    "count publish, one lineage (S1 K3 K6 J3 §2.10 + to_dp.py + to_es.py)",
)


# --------------------------------------------------------------------------
# q166 — the training-corpus pipeline with DSIR at the paper's placement
# --------------------------------------------------------------------------

_DSIR_CORPUS_K = 64


def q166_corpus_with_dsir(spark, sf_dir):
    """q160's composed training-corpus pipeline with the DSIR stage spliced
    in at the paper's intended placement (Xie et al. 2023 §3: after
    dedup/quality/decontamination, before final composition): exact dedup →
    LSH near-dup → quality → decontam → DSIR importance selection toward the
    held-out eval slice (k=64 — strictly selective at every SF) → quota →
    packing. Certifies DSIR over a CURATED corpus (q164 runs it over raw
    docs) and that the downstream quota/packing consume exactly the selected
    subset. Scale shape: the DSIR stage adds one gram shuffle over the
    (already small) clean corpus + a driver-merged top-k broadcast back —
    everything else is q160's audited chain."""
    from ..pipelines.curation import training_corpus_stages  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 37 == 0)
    raw = d.filter(F.col("doc_id") % 37 != 0)
    st = training_corpus_stages(raw, ev, dsir_k=_DSIR_CORPUS_K)

    def doc_phase(df, name, *sig_cols):
        return df.select(
            F.lit(name).alias("phase"),
            F.concat(F.lit("d:"), F.col("doc_id").cast("string")).alias("key"),
            F.concat_ws("|", *[_s(c) for c in sig_cols]).alias("sig"),
        )

    legs = [
        doc_phase(st["exact"], "10_exact", "lang", "source"),
        doc_phase(st["near"], "20_neardup", "lang", "source"),
        doc_phase(st["quality"], "30_quality", "n_tokens"),
        doc_phase(st["clean"], "40_decontam", "lang", "source"),
        st["dsir"].select(
            F.lit("45_dsir").alias("phase"),
            F.concat(F.lit("d:"), F.col("id").cast("string")).alias("key"),
            F.concat_ws(
                "|",
                F.format_string("%.6f", F.col("logw")),
                F.format_string("%.6f", F.col("key")),
            ).alias("sig"),
        ),
        doc_phase(st["kept"], "50_quota", "source", "lang", "rank"),
        st["seqs"].select(
            F.lit("60_packed").alias("phase"),
            F.concat(
                F.lit("p:"), _s("lang"), F.lit(":"), F.col("seq_id").cast("string")
            ).alias("key"),
            F.concat_ws("|", _s("n_docs"), _s("sum_tokens")).alias("sig"),
        ),
    ]
    out = legs[0]
    for lg in legs[1:]:
        out = out.unionByName(lg)
    return out


def _q166_sql() -> str:

    dsir = (
        f"""dsrc AS (
  SELECT doc_id, norm FROM clean
), dtgt AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents WHERE doc_id % 37 = 0
), """
        + _DSIR_SCORED_T.replace("__DSRC__", "dsrc").replace("__DTGT__", "dtgt")
        + f""", dsel AS (
  SELECT doc_id, logw, key FROM scored ORDER BY key DESC LIMIT {_DSIR_CORPUS_K}
), selected AS (
  SELECT c.* FROM clean c SEMI JOIN dsel s ON c.doc_id = s.doc_id
)"""
    )
    phases = _Q160_PHASES.rstrip() + """
UNION ALL
SELECT '45_dsir', 'd:' || CAST(doc_id AS VARCHAR),
       printf('%.6f', logw) || '|' || printf('%.6f', key) FROM dsel
"""
    return (
        "WITH " + _Q160_CTES_TO_CLEAN + ", "
        + dsir + ", "
        + _Q160_TAIL_T.replace("__QSRC__", "selected")
        + phases
    )


Q166_SQL = _q166_sql()


QUERIES["q166_corpus_with_dsir"] = QueryDef(
    q166_corpus_with_dsir, Q166_SQL,
    "LLM-pipeline composed with DSIR: dedup -> LSH -> quality -> decontam -> "
    "DSIR importance selection (k=64) -> quota -> packing, one lineage "
    "(arXiv:2302.03169 placement)",
)
