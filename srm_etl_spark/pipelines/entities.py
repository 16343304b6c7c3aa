"""Entities ingestion vertical (SURVEY §3.2) composed end-to-end, Spark-first.

The reference's largest entry point is ``operators/entities/__init__.py``:
a Guidestar scrape upserted into the staging DB through four merges —
org-id registration (``:615-628``), org enrichment with a BudgetKey SQL
fallback (``:28-104``), branch synthesis via the ``unwind_branches`` UDTF
(``:162-250``: branch rows + no-branch fallbacks + synthesized ``national:``
rows), and service normalization via ``unwind_services``/``process_service``
(``:325-587``: the payment/area/when enum cascades, taxonomy tag mapping with
unknown-tag write-back, branch-list repair, detail assembly).

Here every generator becomes a declarative DataFrame composition:

- the scrape caches (Guidestar org details, BudgetKey entities, the taxonomy
  mapping) are dimension-sized → broadcast joins, never shuffles;
- ``unwind_branches``'s 0..N-rows-per-org emission is three independent
  projections (branch join / anti-join fallbacks / national synthesis)
  unioned — each side stays partition-parallel, the only shuffle is the
  branch⋈org key;
- ``process_service``'s per-row Python cascade is a pure whole-stage-codegen
  ``when``-chain with ``raise_error`` on unknown enum values (the reference's
  ``assert``), and the tag→taxonomy aggregation is explode → broadcast join →
  ``collect_set`` keyed by service id;
- the four Airtable merges are :func:`srm_etl_spark.operators.upsert.staging_upsert`
  calls (§2.10 lifecycle).

The scrape inputs are synthesized deterministically from the warehouse tables
(supplier→orgs, customer→branches, part→services), mirrored 1:1 in the oracle
SQL of plans/verticals.py, so the whole vertical is DuckDB-checkable.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import clean_org_name, fix_url
from ..functions.geo import olc_encode
from ..sources.tables import load_table, local_table

# ---------------------------------------------------------------------------
# deterministic scrape fixtures (supplier/customer/part → Guidestar shapes)
# ---------------------------------------------------------------------------

KINDS = ["עמותה", 'חל"צ', "חברה פרטית", "הקדש", "רשות מקומית"]
MALKAR = ["עמותה", "חברה", 'חל"צ', "הקדש", "רשות מקומית"]
LANGS = ["hebrew", "arabic", "russian", "french", "english", "amharic", "spanish"]
DISCLAIMER = (
    "שימו לב, ייתכן כי המיקום המוצג אינו מדויק וכי קיימים סניפים נוספים "
    "שבהם ניתן לקבל את השירות. מומלץ ליצור קשר ישירות עם הארגון לקבלת מידע מדויק ומעודכן."
)


@functools.lru_cache(maxsize=64)
def _row_count(sf_dir: str, table: str) -> int:
    """Catalog fact via one pyarrow footer read (the _supplier_count idiom)."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    return pq.ParquetFile(f"{sf_dir}/{table}.parquet").metadata.num_rows


def _org_id(k):
    """Org business key: ``srm`` slug every 11th, else a 9-digit reg number
    ('50'-prefixed for even keys — triggers the BudgetKey name-split rule)."""
    return (
        F.when(k % 11 == 0, F.concat(F.lit("srm"), k.cast("string")))
        .when(k % 2 == 0, (k + F.lit(500000000)).cast("string"))
        .otherwise((k + F.lit(510000000)).cast("string"))
    )


def org_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staging Organizations table BEFORE enrichment (what
    ``load_from_airtable`` returns at reference ``entities/__init__.py:119``)."""
    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return s.select(
        _org_id(k).alias("id"),
        F.when(k % 17 == 0, F.lit("manual")).otherwise(F.lit("entities")).alias("source"),
        F.when(k % 10 == 9, F.lit("INACTIVE")).otherwise(F.lit("ACTIVE")).alias("status"),
        F.element_at(F.array(*[F.lit(x) for x in KINDS]), (k % 5).cast("int") + 1).alias("kind"),
        F.concat(F.lit("ארגון "), F.col("s_name")).alias("name"),
        F.lit(None).cast("string").alias("short_name"),
        F.when(k % 6 == 0, F.concat(F.lit("תיאור "), k.cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("description"),
        F.lit(None).cast("string").alias("purpose"),
        F.lit(None).cast("string").alias("urls"),
        F.lit(None).cast("string").alias("phone_numbers"),
        F.lit(None).cast("string").alias("email_address"),
    )


def guidestar_org_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ga.organizations`` disk cache (reference
    ``srm_tools/guidestar_api.py:98-199``): org details for every non-srm org
    except every 13th (those fall through to BudgetKey / the unknown report)."""
    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    name = F.col("s_name")
    gs_name = (
        F.when(k % 4 == 0, F.concat(name, F.lit(' (ע"ר)')))
        .when(k % 8 == 1, F.concat(name, F.lit(' (חל"צ)')))
        .otherwise(name)
    )
    return (
        s.filter((k % 13 != 0) & (k % 11 != 0))
        .select(
            _org_id(k).alias("id"),
            gs_name.alias("gs_name"),
            F.when(k % 3 == 0, F.concat(F.lit("קיצור"), k.cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("abbreviated"),
            F.element_at(F.array(*[F.lit(x) for x in MALKAR]), (k % 5).cast("int") + 1).alias(
                "malkar_type"
            ),
            F.when(k % 2 == 0, F.concat(F.lit("מטרה "), k.cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("org_goal"),
            F.when(k % 3 == 0, F.concat(F.lit("example"), k.cast("string"), F.lit(".org")))
            .when(k % 3 == 1, F.concat(F.lit("https://site"), k.cast("string"), F.lit(".org/x")))
            .otherwise(F.lit("not a url!"))
            .alias("website"),
            F.when(k % 2 == 0, F.concat(F.lit("02-"), F.lpad((k % 10000000).cast("string"), 7, "0")))
            .otherwise(F.lit(None).cast("string"))
            .alias("tel1"),
            F.when(k % 4 == 0, F.concat(F.lit("05"), (k % 10).cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("tel2"),
            F.when(k % 3 == 0, F.concat(F.lit("org"), k.cast("string"), F.lit("@example.org")))
            .otherwise(F.lit(None).cast("string"))
            .alias("email"),
            F.when(
                k % 5 != 1,
                F.concat(
                    F.lit("רחוב הרצל "),
                    (k % 100).cast("string"),
                    F.lit(", עיר "),
                    (k % 7).cast("string"),
                ),
            )
            .otherwise(F.lit(None).cast("string"))
            .alias("full_address"),
        )
    )


def budgetkey_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BudgetKey ``entities`` SQL fallback (reference
    ``entities/__init__.py:28-45`` via ``srm_tools/budgetkey.py``): rows for
    every 13th org except every 3rd (the remainder hits the unknown report)."""
    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    bk_name = F.concat(
        F.lit("ארגון בק "),
        F.col("s_name"),
        F.when(k % 6 == 3, F.lit(' (ע"ר)')).otherwise(F.lit("")),
        F.lit("/סניף"),
    )
    return (
        s.filter((k % 13 == 0) & (k % 3 != 0) & (k % 11 != 0))
        .select(
            _org_id(k).alias("id"),
            bk_name.alias("bk_name"),
            F.lit("עמותה").alias("kind_he"),
            F.when(k % 4 == 0, F.concat(F.lit("מטרת בק "), k.cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("goal"),
        )
    )


def guidestar_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ga.branches`` scrape shape (reference ``entities/__init__.py:171``):
    one branch per customer, owned by org ``custkey % (0.8·|supplier|) + 1``
    — the top fifth of orgs has NO branches, exercising both no-branch
    fallbacks."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("_city")
    )
    ns = _row_count(sf_dir, "supplier")
    branchable = max((ns * 4) // 5, 1)
    ck = F.col("c_custkey")
    org_k = (ck % branchable) + 1
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.concat(F.lit("B"), ck.cast("string")).alias("branch_id"),
            _org_id(org_k).alias("org_id"),
            F.when(ck % 3 == 0, F.concat(F.lit("כינוי "), ck.cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("place_nickname"),
            F.when(ck % 7 == 0, F.concat(F.col("_city"), F.lit(" תאי דואר")))
            .otherwise(F.col("_city"))
            .alias("city_name"),
            F.when(ck % 2 == 0, F.lit("הרצל")).otherwise(F.lit(None).cast("string")).alias(
                "street_name"
            ),
            F.when(ck % 4 == 0, (ck % 100).cast("string"))
            .otherwise(F.lit(None).cast("string"))
            .alias("house_num"),
            F.when(ck % 5 == 0, F.lit("ללא כתובת"))
            .when(ck % 5 == 1, F.concat(F.lit("כניסה "), (ck % 9).cast("string")))
            .when(ck % 5 == 2, F.col("_city"))  # contained in the key -> skipped
            .otherwise(F.lit(None).cast("string"))
            .alias("alternate_address"),
            F.when(ck % 6 == 0, F.concat(F.lit("הוראות "), ck.cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("driving_instructions"),
            F.when(ck % 2 == 0, F.concat(F.lit("03-"), F.lpad((ck % 9999999).cast("string"), 7, "0")))
            .otherwise(F.lit(None).cast("string"))
            .alias("phone"),
            F.when(ck % 5 == 0, F.lit("1;2"))
            .when(ck % 5 == 1, F.lit("3"))
            .when(ck % 5 == 2, F.lit("8"))
            .when(ck % 5 == 3, F.lit("9;2"))
            .otherwise(F.lit(None).cast("string"))
            .alias("language"),
            F.when(ck % 3 != 0, F.lit(29.6) + (ck % 30).cast("double") * F.lit(0.1))
            .otherwise(F.lit(None).cast("double"))
            .alias("latitude"),
            F.when(ck % 3 != 0, F.lit(34.3) + (ck % 25).cast("double") * F.lit(0.09))
            .otherwise(F.lit(None).cast("double"))
            .alias("longitude"),
        )
    )


def guidestar_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ga.services`` scrape shape (reference ``entities/__init__.py:559``):
    one GreenInfo service per part, owned by org ``partkey % |supplier| + 1``
    (services of non-Guidestar orgs don't exist in the cache, like the real
    keyset scan)."""
    p = load_table(spark, sf_dir, "part")
    ns = _row_count(sf_dir, "supplier")
    pk = F.col("p_partkey")
    org_k = (pk % ns) + 1
    return (
        p.filter((org_k % 13 != 0) & (org_k % 11 != 0))
        .select(
            F.concat(F.lit("S"), pk.cast("string")).alias("service_id"),
            _org_id(org_k).alias("org_id"),
            org_k.alias("org_k"),
            F.when(pk % 7 == 3, F.lit("נדרש סיוע בדחיפות"))
            .otherwise(F.concat(F.lit("שירות "), F.col("p_name")))
            .alias("service_name"),
            F.when(pk % 3 == 0, F.concat(F.lit("תיאור וולונטרי "), pk.cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("voluntary_description"),
            F.when(pk % 2 == 0, F.concat(F.lit("תיאור "), pk.cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("description"),
            F.concat(F.lit("T"), (pk % 10).cast("string")).alias("service_type_num"),
            F.concat(F.lit("טיפוס "), (pk % 8).cast("string")).alias("service_type_name"),
            F.when(pk % 4 == 0, F.lit("קהל1;קהל2"))
            .when(pk % 4 == 1, F.lit("קהל3"))
            .otherwise(F.lit(""))
            .alias("target_audience"),
            F.when(
                pk % 6 == 0,
                F.struct(
                    F.concat(F.lit("G"), (pk % 20).cast("string")).alias("serviceGovId"),
                    F.concat(F.lit("משרד "), (pk % 3).cast("string")).alias("serviceOffice"),
                ),
            )
            .otherwise(
                F.lit(None).cast("struct<serviceGovId:string,serviceOffice:string>")
            )
            .alias("related_malkar"),
            F.when(pk % 5 == 0, F.lit(None).cast("string"))
            .when(pk % 5 == 1, F.lit("Free service"))
            .when(pk % 5 == 2, F.lit("Symbolic cost"))
            .when(pk % 5 == 3, F.lit("Full payment"))
            .otherwise(F.lit("Government funded"))
            .alias("payment_method"),
            F.when(pk % 3 == 1, F.lit("בתיאום מראש"))
            .otherwise(F.lit(None).cast("string"))
            .alias("service_terms"),
            F.when(pk % 8 == 0, F.lit("In Branches"))
            .when(pk % 8 == 1, F.lit("Country wide"))
            .when(pk % 8 == 2, F.lit("Customer Place;Program"))
            .when(pk % 8 == 3, F.lit("Via Phone or Mail"))
            .when(pk % 8 == 4, F.lit("Web Service;Customer Appointment"))
            .when(pk % 8 == 5, F.lit("In Branches;Country wide"))
            .when(pk % 8 == 6, F.lit("Not relevant"))
            .otherwise(F.lit(""))
            .alias("area"),
            F.when(pk % 5 == 0, F.lit("All Year"))
            .when(pk % 5 == 1, F.lit("Requires Signup"))
            .when(pk % 5 == 2, F.lit("Time Limited"))
            .when(pk % 5 == 3, F.lit("Criteria Based"))
            .otherwise(F.lit(None).cast("string"))
            .alias("when_active"),
            F.when(pk % 6 == 0, F.lit("Phone"))
            .when(pk % 6 == 1, F.lit("Chat / Email / Whatsapp;Internet"))
            .when(pk % 6 == 2, F.lit("Zoom / Hybrid"))
            .when(pk % 6 == 3, F.lit("Other"))
            .when(pk % 6 == 4, F.lit(""))
            .otherwise(F.lit("Phone;Other"))
            .alias("remote_delivery"),
            F.when(pk % 9 == 0, F.lit("יונת דואר"))
            .otherwise(F.lit(None).cast("string"))
            .alias("remote_delivery_other"),
            F.when(pk % 7 == 0, F.lit("2024-03-15T00:00:00.000Z"))
            .otherwise(F.lit(None).cast("string"))
            .alias("start_date"),
            F.when(pk % 7 == 1, F.lit("2025-11-02T12:30:00.000Z"))
            .otherwise(F.lit(None).cast("string"))
            .alias("end_date"),
            F.when(pk % 4 == 0, F.concat(F.lit("svc"), pk.cast("string"), F.lit(".org")))
            .when(pk % 4 == 1, F.concat(F.lit("https://x"), pk.cast("string"), F.lit(".org")))
            .when(pk % 4 == 2, F.lit("junk url"))
            .otherwise(F.lit(None).cast("string"))
            .alias("url"),
            F.when(pk % 5 == 0, F.concat(F.lit("02-123"), (pk % 100).cast("string")))
            .otherwise(F.lit(None).cast("string"))
            .alias("svc_phone"),
            F.when(pk % 3 == 0, F.concat(F.lit("s"), pk.cast("string"), F.lit("@example.org")))
            .otherwise(F.lit(None).cast("string"))
            .alias("svc_email"),
        )
    )


def _tag_rows() -> list:
    rows = []
    for i in range(10):  # serviceTypeNum tags T0..T9; T7 is REJECTED
        status = "REJECTED" if i == 7 else None
        rows.append(
            (
                f"T{i}",
                [f"human_services:care:t{i % 4}"],
                [f"human_situations:age_group:g{i % 3}"] if i % 2 == 0 else [],
                status,
            )
        )
    for i in range(8):  # serviceTypeName tags; 'טיפוס 5' unmapped on purpose
        if i != 5:
            rows.append((f"טיפוס {i}", [f"human_services:type:y{i % 3}"], [], None))
    rows.append(("קהל1", [], ["human_situations:audience:a1"], None))
    # 'קהל2' intentionally missing -> unknown-tag write-back
    rows.append(("קהל3", [], ["human_situations:audience:a3"], None))
    rows.append(("soproc:", [], [], None))  # curator placeholder for empty gov id
    for g in range(20):
        if g != 13:  # soproc:G13 intentionally missing -> unknown write-back
            rows.append((f"soproc:G{g}", [f"human_services:gov:g{g % 5}"], [], None))
    return rows


# shared with the oracle SQL generator (plans/verticals.py) so both engines read
# the SAME literal mapping — the q108 no-drift discipline
TAG_ROWS = _tag_rows()


def taxonomy_mapping(spark: SparkSession) -> DataFrame:
    """The curator tag-mapping table (guidestar-keyed rows + soproc-keyed rows
    merged, reference ``entities/__init__.py:634-657``): tag → response_ids /
    situation_ids; Status REJECTED rows form the rejected set; tags with no
    row are unknown (written back for curators)."""
    return local_table(
        spark,
        TAG_ROWS,
        "tag string, response_ids array<string>, situation_ids array<string>, status string",
    )


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------

_STRIP_SUFFIXES = [' (חל"צ)', ' (ע"ר)']


def _strip_legal(name):
    out = name
    for sfx in _STRIP_SUFFIXES:
        out = F.replace(out, F.lit(sfx), F.lit(""))
    return out


def enrich_orgs(
    orgs: DataFrame, gs_details: DataFrame, bk: DataFrame
) -> DataFrame:
    """Org enrichment (reference ``entities/__init__.py:48-104``
    ``updateOrgFromSourceData`` + ``fetchEntityFromBudgetKey:28-45``).

    Per source='entities' org, in priority order:

    - ``srm...`` slugs pass through untouched (curated rows);
    - a Guidestar cache hit rewrites name (legal suffixes stripped), sets
      short_name, maps ``malkarType`` ('חברה' → 'חברה פרטית'), NULLs the
      description, sets purpose/urls/phones/email (urls/phones become
      ''-joined strings, exactly the reference's ``'\\n'.join``);
    - else a BudgetKey entity supplies name/kind/purpose, with the
      '50'-prefix rule: purpose falls back to the name and the name keeps
      only its pre-'/' head;
    - else the row lands on the unknown-ID report (``enrich_path='unknown'``)
      and is passed through unchanged.

    Both caches are dimension-sized → broadcast joins; zero extra shuffles.
    Output = the patched staging table + ``enrich_path`` marker (the
    reference's Stats counters, queryable instead of logged).
    """
    e = orgs.filter(F.col("source") == "entities")
    g = gs_details.withColumnRenamed("id", "gid")
    b = bk.withColumnRenamed("id", "bid")
    j = e.join(F.broadcast(g), e.id == g.gid, "left").join(
        F.broadcast(b), e.id == b.bid, "left"
    )
    is_srm = F.col("id").startswith("srm")
    path = (
        F.when(is_srm, F.lit("srm"))
        .when(F.col("gid").isNotNull(), F.lit("guidestar"))
        .when(F.col("bid").isNotNull(), F.lit("budgetkey"))
        .otherwise(F.lit("unknown"))
    )
    gs_kind = F.when(F.col("malkar_type") == "חברה", F.lit("חברה פרטית")).otherwise(
        F.col("malkar_type")
    )
    fixed_site = fix_url(F.col("website"))
    gs_urls = F.when(
        fixed_site.isNotNull(), F.concat(fixed_site, F.lit("#אתר הבית"))
    ).otherwise(F.lit(""))
    gs_phones = F.concat_ws(
        "\n", F.filter(F.array(F.col("tel1"), F.col("tel2")), lambda x: x.isNotNull())
    )
    # BudgetKey '50'-prefix rule (entities/__init__.py:34-36)
    bk_is50 = F.col("bid").startswith("50")
    bk_purpose = F.when(bk_is50, F.coalesce(F.col("goal"), F.col("bk_name"))).otherwise(
        F.col("goal")
    )
    bk_name_fixed = F.when(
        bk_is50, F.trim(F.split(F.col("bk_name"), "/").getItem(0))
    ).otherwise(F.col("bk_name"))

    def pick(gs_val, bk_val, orig):
        return (
            F.when(path == "guidestar", gs_val)
            .when(path == "budgetkey", bk_val)
            .otherwise(orig)
        )

    return j.select(
        F.col("id"),
        F.col("source"),
        F.col("status"),
        pick(gs_kind, F.col("kind_he"), F.col("kind")).alias("kind"),
        pick(
            _strip_legal(F.col("gs_name")), _strip_legal(bk_name_fixed), F.col("name")
        ).alias("name"),
        pick(F.col("abbreviated"), F.col("short_name"), F.col("short_name")).alias(
            "short_name"
        ),
        # the guidestar path explicitly nulls description (reference :73)
        pick(F.lit(None).cast("string"), F.col("description"), F.col("description")).alias(
            "description"
        ),
        pick(F.col("org_goal"), bk_purpose, F.col("purpose")).alias("purpose"),
        pick(gs_urls, F.col("urls"), F.col("urls")).alias("urls"),
        pick(gs_phones, F.col("phone_numbers"), F.col("phone_numbers")).alias(
            "phone_numbers"
        ),
        pick(F.col("email"), F.col("email_address"), F.col("email_address")).alias(
            "email_address"
        ),
        path.alias("enrich_path"),
    )


def _calc_address(city, street, house):
    """``calc_address`` (reference ``entities/__init__.py:253-273``) as one
    codegen expression — exact string semantics incl. the ' תאי דואר' strip,
    the trailing spaces, and the contained-alternate skip (applied by the
    caller, which owns the alternate column)."""
    city_clean = F.replace(city, F.lit(" תאי דואר"), F.lit(""))
    street_part = F.when(
        street.isNotNull(),
        F.concat(
            street,
            F.lit(" "),
            F.when(house.isNotNull(), F.concat(house, F.lit(" "))).otherwise(F.lit("")),
            F.lit(", "),
        ),
    ).otherwise(F.lit(""))
    return F.when(
        city.isNotNull(), F.concat(street_part, city_clean, F.lit(" "))
    ).otherwise(F.lit(""))


def _language_situations(language):
    """Branch ``language`` ';'-list → language situations (reference
    ``entities/__init__.py:149-158,189-193``): '8' filtered out, 1..7 map by
    position, anything else → 'other'."""
    langs = F.array(*[F.lit(x) for x in LANGS])

    def to_situation(x):
        num = F.trim(x).try_cast("int")
        lang = F.when(
            num.between(1, len(LANGS)), F.element_at(langs, num)
        ).otherwise(F.lit("other"))
        return F.concat(F.lit("human_situations:language:"), lang, F.lit("_speaking"))

    kept = F.filter(F.split(language, ";"), lambda x: x != F.lit("8"))
    return F.when(
        language.isNotNull() & (language != ""), F.transform(kept, to_situation)
    ).otherwise(F.lit(None).cast("array<string>"))


BRANCH_COLS = [
    "id",
    "name",
    "organization",
    "address",
    "address_details",
    "location",
    "description",
    "phone_numbers",
    "urls",
    "situations",
]


def unwind_branches(
    orgs_active: DataFrame,
    branches: DataFrame,
    gs_details: DataFrame,
    cache_tag: str = "",
) -> DataFrame:
    """``unwind_branches`` (reference ``entities/__init__.py:162-250``) as a
    three-way union of projections:

    1. **branch rows** — branches ⋈ orgs on the reg number: name =
       nickname or '<short_name-or-name> - <raw city>', address via
       :func:`_calc_address` + the alternate-address append, location =
       OLC plus-code when coordinates exist else the address, language →
       situation tags, id = ``guidestar:<branchId>``;
    2. **no-branch fallbacks** — orgs anti-joined against branches: a
       ``guidestar:<regNum>`` row at the org's official address when the
       cache has one, else a ``budgetkey:<regNum>`` row at the cleaned org
       name for non-amuta kinds;
    3. **national rows** — one ``national:<regNum>`` per org with the fixed
       disclaimer (the reference's loaded view carries no description column,
       so the disclaimer never gets a prefix — ``:233`` reads from a row that
       ``:307`` projected down to id/name/short_name/kind).

    Each side is partition-parallel; the org⋈branch key is the only shuffle,
    and the org/gs frames broadcast. The reference's final keep-first dedup
    (``:133-147``) is id-collision-free by key construction (three disjoint
    prefixes), so no extra pass is needed.
    """
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    # The org dimension feeds all four union sides (branch join, the
    # anti-join + fallback pair, national) — without a materialization each
    # side re-runs the whole enrich_orgs DAG with its internal broadcasts
    # (44 exchanges / 32 broadcasts at r6). A lineage-TRUNCATING checkpoint
    # (not a persist): with a persist every downstream op's analysis still
    # re-walks the enrich DAG under each of the four sides (the cache only
    # short-circuits execution), which dominated q129's warm plan
    # construction. All joins below broadcast this side EXPLICITLY (a
    # checkpoint scan has no stats). Pools key by plan hash, so the two
    # incremental unwinds (prior + delta) coexist without ``cache_tag``
    # eviction races — the tag keeps the pools separate regardless.
    o = keep_checkpointed_pooled(
        orgs_active.select("id", "name", "short_name", "kind"),
        f"entities_org_dim{cache_tag}",
        eager=False,
    )
    b = branches.join(
        F.broadcast(o.withColumnRenamed("id", "_oid")),
        branches.org_id == F.col("_oid"),
        "inner",
    )
    key0 = _calc_address(F.col("city_name"), F.col("street_name"), F.col("house_num"))
    alt = F.col("alternate_address")
    alt_ok = alt.isNotNull() & (alt != "ללא כתובת") & ~F.contains(key0, alt)
    key1 = F.when(alt_ok, F.concat(key0, F.lit(" - "), alt)).otherwise(key0)
    address = F.nullif(F.trim(key1), F.lit(""))
    location = F.when(
        F.col("latitude").isNotNull() & F.col("longitude").isNotNull(),
        olc_encode(F.col("latitude"), F.col("longitude"), 11),
    ).otherwise(address)
    branch_rows = b.select(
        F.concat(F.lit("guidestar:"), F.col("branch_id")).alias("id"),
        F.coalesce(
            F.col("place_nickname"),
            F.concat(
                F.coalesce(F.col("short_name"), F.col("name")),
                F.lit(" - "),
                F.col("city_name"),
            ),
        ).alias("name"),
        F.array(F.col("org_id")).alias("organization"),
        address.alias("address"),
        F.col("driving_instructions").alias("address_details"),
        location.alias("location"),
        F.lit(None).cast("string").alias("description"),
        F.col("phone").alias("phone_numbers"),
        F.lit(None).cast("string").alias("urls"),
        _language_situations(F.col("language")).alias("situations"),
    )

    # Also dimension-sized and read by BOTH fallback sides — pin
    # (truncating, as above), or the anti-join + gs left-join subtree runs
    # twice.
    no_branch = keep_checkpointed_pooled(
        o.join(
            branches.select(F.col("org_id").alias("_bo")).distinct(),
            o.id == F.col("_bo"),
            "left_anti",
        ).join(
            F.broadcast(
                gs_details.select(F.col("id").alias("_gid"), "full_address")
            ),
            o.id == F.col("_gid"),
            "left",
        ),
        f"entities_no_branch{cache_tag}",
        eager=False,
    )
    fb_official = no_branch.filter(F.col("full_address").isNotNull()).select(
        F.concat(F.lit("guidestar:"), F.col("id")).alias("id"),
        F.col("name"),
        F.array(F.col("id")).alias("organization"),
        F.col("full_address").alias("address"),
        F.lit(None).cast("string").alias("address_details"),
        F.col("full_address").alias("location"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("string").alias("phone_numbers"),
        F.lit(None).cast("string").alias("urls"),
        F.lit(None).cast("array<string>").alias("situations"),
    )
    cleaned = clean_org_name(F.col("name"))
    fb_byname = (
        no_branch.filter(
            F.col("full_address").isNull()
            & F.col("_gid").isNotNull()
            & ~F.col("kind").isin("עמותה", 'חל"צ', "הקדש")
        )
    ).select(
        F.concat(F.lit("budgetkey:"), F.col("id")).alias("id"),
        F.col("name"),
        F.array(F.col("id")).alias("organization"),
        cleaned.alias("address"),
        F.lit(None).cast("string").alias("address_details"),
        cleaned.alias("location"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("string").alias("phone_numbers"),
        F.lit(None).cast("string").alias("urls"),
        F.lit(None).cast("array<string>").alias("situations"),
    )
    national = o.select(
        F.concat(F.lit("national:"), F.col("id")).alias("id"),
        F.lit("").alias("name"),
        F.array(F.col("id")).alias("organization"),
        F.lit("שירות ארצי").alias("address"),
        F.lit(None).cast("string").alias("address_details"),
        F.lit("שירות ארצי").alias("location"),
        F.lit(DISCLAIMER).alias("description"),
        F.lit(None).cast("string").alias("phone_numbers"),
        F.lit(None).cast("string").alias("urls"),
        F.lit(None).cast("array<string>").alias("situations"),
    )
    return (
        branch_rows.unionByName(fb_official)
        .unionByName(fb_byname)
        .unionByName(national)
        .select(*BRANCH_COLS)
    )


# ---------------------------------------------------------------------------
# process_service — the enum cascades, taxonomy mapping, branch repair
# ---------------------------------------------------------------------------

AREA_TEXT = {
    "In Branches": "בסניפי הארגון",
    "Country wide": "בתיאום מראש ברחבי הארץ",
    "Customer Place": "בבית הלקוח",
    "Remote Service": "שירות מרחוק",
    "Via Phone or Mail": 'במענה טלפוני, צ׳אט או בדוא"ל',
    "Web Service": "בשירות אינטרנטי מקוון",
    "Customer Appointment": "במפגשים קבוצתיים או אישיים",
    "Program": "תוכנית ייעודית בהרשמה מראש",
}
AREA_SKIP = ["Not relevant", ""]
WHEN_TEXT = {
    "All Year": "השירות ניתן בכל השנה",
    "Requires Signup": "השירות ניתן בהרשמה מראש",
    "Time Limited": "השירות מתקיים בתקופה מוגבלת",
    "Criteria Based": "השירות ניתן על פי תנאים או קריטריונים",
}
REMOTE_TEXT = {
    "Phone": "טלפון",
    "Chat / Email / Whatsapp": 'בצ׳אט, דוא"ל או וואטסאפ',
    "Internet": "אתר אינטרנט",
    "Zoom / Hybrid": "בשיחת זום",
}
REMOTE_SKIP = ["", "Other"]

SERVICE_COLS = [
    "id",
    "name",
    "description",
    "details",
    "payment_required",
    "payment_details",
    "urls",
    "situations",
    "responses",
    "organizations",
    "branches",
    "data_sources",
    "implements",
    "phone_numbers",
    "email_address",
]


def _map_items(items, text_map: dict, skip: list, what: str):
    """';'-split enum list → ordered Hebrew texts, with the reference's
    ``assert`` on unknown members as a runtime ``raise_error``."""
    known = list(text_map) + skip

    def to_text(x):
        out = F.lit(None).cast("string")
        for k, v in text_map.items():
            out = F.when(x == k, F.lit(v)).otherwise(out)
        return out

    bad = F.filter(items, lambda x: ~x.isin(*known))
    checked = F.when(
        F.size(bad) == 0, items
    ).otherwise(F.raise_error(F.concat(F.lit(f"unknown {what}: "), F.to_json(bad))))
    return F.filter(
        F.transform(checked, to_text), lambda t: t.isNotNull()
    )


def process_services(
    orgs_active: DataFrame,
    services: DataFrame,
    branches: DataFrame,
    tag_mapping: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """``unwind_services`` + ``process_service`` (reference
    ``entities/__init__.py:325-587``) as one declarative plan. Returns
    ``(service_rows, unknown_tags)`` — the second frame is the curator
    write-back (``:336-346``), surfaced as data instead of a side effect.

    Cascade parity, in the reference's evaluation order: rejected-tag drop →
    "נדרש סיוע" drop → taxonomy union (unknown tags recorded) → payment enum →
    area enum (branch-list repair: 'In Branches' with no declared branches
    pulls in every actual branch; any national-delivery area appends
    ``national:<org>``) → empty-branch drop → when enum → remote-delivery
    methods → details assembly → date formatting. Every enum ``assert``
    becomes ``raise_error``; every list stays an ordered array.

    Scale shape: services ⋈ orgs and services ⋈ branch-lists shuffle on the
    org key; the tag explosion joins the broadcast mapping and re-aggregates
    on the service id (collect_* bounded by tags-per-service); branch lists
    are sorted for engine-neutral determinism (the reference emits feed
    order, which its own upstream does not define)."""
    o = orgs_active.select(F.col("id").alias("_oid"))
    svc = services.join(o, services.org_id == F.col("_oid"), "inner").drop("_oid")

    # --- branch lists ------------------------------------------------------
    b = branches.select(
        "org_id",
        "branch_id",
        F.substring("branch_id", 2, 100).try_cast("int").alias("_bnum"),
    )
    actual = b.groupBy("org_id").agg(
        F.array_sort(F.collect_list(F.concat(F.lit("guidestar:"), F.col("branch_id")))).alias(
            "_actual"
        )
    )
    declared = (
        svc.select("service_id", F.col("org_id").alias("_so"), "p_key")
        if "p_key" in svc.columns
        else svc.select(
            "service_id",
            F.col("org_id").alias("_so"),
            F.substring("service_id", 2, 100).try_cast("int").alias("p_key"),
        )
    )
    decl = (
        declared.join(b, declared._so == b.org_id, "inner")
        .filter((F.col("_bnum") + F.col("p_key")) % 3 == 0)
        .groupBy("service_id")
        .agg(
            F.array_sort(
                F.collect_list(F.concat(F.lit("guidestar:"), F.col("branch_id")))
            ).alias("_declared")
        )
    )
    svc = (
        svc.join(decl, "service_id", "left")
        .join(actual, "org_id", "left")
        .withColumn("_declared", F.coalesce("_declared", F.array().cast("array<string>")))
        .withColumn("_actual", F.coalesce("_actual", F.array().cast("array<string>")))
    )

    # --- early drops (reference order: rejected, then "נדרש סיוע") ---------
    tags = F.concat(
        F.array("service_type_num", "service_type_name"),
        F.split(F.coalesce(F.col("target_audience"), F.lit("")), ";"),
        F.array(
            F.concat(
                F.lit("soproc:"), F.coalesce(F.col("related_malkar.serviceGovId"), F.lit(""))
            )
        ),
    )
    svc = svc.withColumn("_tags", tags)
    ex = svc.select("service_id", F.explode("_tags").alias("tag")).join(
        F.broadcast(tag_mapping), "tag", "left"
    )
    per_svc = ex.groupBy("service_id").agg(
        F.sum(F.when(F.col("status") == "REJECTED", 1).otherwise(0)).alias("_n_rejected"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.coalesce("response_ids", F.array().cast("array<string>")))
                )
            )
        ).alias("responses"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.coalesce("situation_ids", F.array().cast("array<string>")))
                )
            )
        ).alias("situations"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.when(
                        F.col("status").isNull()
                        & F.col("response_ids").isNull()
                        & (F.col("tag") != ""),
                        F.col("tag"),
                    )
                )
            )
        ).alias("_unknown"),
    )
    svc = svc.join(per_svc, "service_id")
    kept = svc.filter(
        (F.col("_n_rejected") == 0) & ~F.contains(F.col("service_name"), F.lit("נדרש סיוע"))
    )
    unknown_tags = (
        kept.select(F.explode("_unknown").alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).cast("long").alias("n_services"))
    )

    # --- payment cascade (:396-417) ---------------------------------------
    pm = F.col("payment_method")
    payment_required = (
        F.when(pm.isNull() | (pm == "Free service"), F.lit("no"))
        .when(pm.isin("Symbolic cost", "Full payment", "Government funded"), F.lit("yes"))
        .otherwise(F.raise_error(F.concat(F.lit("unknown paymentMethod: "), pm)))
    )
    pay0 = (
        F.when(pm == "Symbolic cost", F.lit("עלות סמלית"))
        .when(pm == "Full payment", F.lit("השירות ניתן בתשלום"))
        .when(pm == "Government funded", F.lit("השירות מסובסד על ידי הממשלה"))
        .otherwise(F.lit(None).cast("string"))
    )
    terms = F.col("service_terms")
    payment_details = F.when(
        terms.isNotNull(),
        F.when(pay0.isNotNull(), F.concat(pay0, F.lit(", "), terms)).otherwise(terms),
    ).otherwise(pay0)

    # --- area cascade + branch repair (:419-464) --------------------------
    area_items = F.split(F.coalesce(F.col("area"), F.lit("")), ";")
    area_texts = _map_items(area_items, AREA_TEXT, AREA_SKIP, "area")
    national = F.exists(
        area_items,
        lambda x: x.isin(*[a for a in AREA_TEXT if a != "In Branches"]),
    )
    has_in_branches = F.array_contains(area_items, "In Branches")
    area_detail = (
        F.when(
            F.size(area_texts) > 1,
            F.concat(F.lit("השירות ניתן: "), F.array_join(area_texts, ", ")),
        )
        .when(
            F.size(area_texts) == 1,
            F.concat(F.lit("השירות ניתן "), F.element_at(area_texts, 1)),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    branches1 = F.when(
        has_in_branches & (F.size("_declared") == 0), F.col("_actual")
    ).otherwise(F.col("_declared"))
    branches2 = F.when(
        national, F.concat(branches1, F.array(F.concat(F.lit("national:"), F.col("org_id"))))
    ).otherwise(branches1)

    # --- when / remote cascades (:466-504) --------------------------------
    wh = F.col("when_active")
    when_detail = F.when(wh.isNull(), F.lit(None).cast("string"))
    for k, v in WHEN_TEXT.items():
        when_detail = when_detail.when(wh == k, F.lit(v))
    when_detail = when_detail.otherwise(
        F.raise_error(F.concat(F.lit("unknown whenServiceActive: "), wh))
    )
    remote_items = F.split(F.coalesce(F.col("remote_delivery"), F.lit("")), ";")
    methods = _map_items(remote_items, REMOTE_TEXT, REMOTE_SKIP, "remoteDelivery")
    methods = F.when(
        F.col("remote_delivery_other").isNotNull(),
        F.concat(methods, F.array(F.col("remote_delivery_other"))),
    ).otherwise(methods)
    remote_detail = F.when(
        F.size(methods) > 0,
        F.concat(F.lit("שירות מרחוק באמצעות: "), F.array_join(methods, ", ")),
    ).otherwise(F.lit(None).cast("string"))

    # --- dates (:513-520), url (:523-526), details assembly (:522) --------
    def fmt_date(colname: str, label: str):
        c = F.col(colname)
        return F.when(
            c.isNotNull(),
            F.concat(
                F.lit(label),
                F.date_format(F.to_timestamp(F.substring(c, 1, 19)), "dd/MM/yyyy"),
            ),
        ).otherwise(F.lit(None).cast("string"))

    details = F.array_join(
        F.filter(
            F.array(
                area_detail,
                when_detail,
                remote_detail,
                fmt_date("start_date", "תאריך התחלה: "),
                fmt_date("end_date", "תאריך סיום: "),
            ),
            lambda d: d.isNotNull(),
        ),
        "\n<br/>\n",
    )
    fixed_url = fix_url(F.col("url"))
    urls = F.when(
        fixed_url.isNotNull(), F.concat(fixed_url, F.lit("#מידע נוסף על השירות"))
    ).otherwise(F.lit(None).cast("string"))
    implements = F.when(
        F.col("related_malkar").isNotNull()
        & F.col("related_malkar.serviceGovId").isNotNull()
        & F.col("related_malkar.serviceOffice").isNotNull(),
        F.concat(
            F.lit("soproc:"),
            F.col("related_malkar.serviceGovId"),
            F.lit("#"),
            F.col("related_malkar.serviceOffice"),
        ),
    ).otherwise(F.lit(None).cast("string"))

    out = (
        kept.withColumn("_branches", branches2)
        .filter(F.size("_branches") > 0)
        .select(
            F.concat(F.lit("guidestar:"), F.col("service_id")).alias("id"),
            F.col("service_name").alias("name"),
            F.coalesce("voluntary_description", "description").alias("description"),
            details.alias("details"),
            payment_required.alias("payment_required"),
            payment_details.alias("payment_details"),
            urls.alias("urls"),
            F.col("situations"),
            F.col("responses"),
            F.array().cast("array<string>").alias("organizations"),
            F.col("_branches").alias("branches"),
            F.concat(
                F.lit(
                    'מידע נוסף אפשר למצוא ב<a target="_blank" '
                    'href="https://www.guidestar.org.il/organization/'
                ),
                F.col("org_id"),
                F.lit('/services">גיידסטאר - אתר העמותות של ישראל</a>'),
            ).alias("data_sources"),
            implements.alias("implements"),
            F.col("svc_phone").alias("phone_numbers"),
            F.col("svc_email").alias("email_address"),
        )
    )
    return out, unknown_tags


# ---------------------------------------------------------------------------
# the composed vertical: four staged merges (§2.10 lifecycle)
# ---------------------------------------------------------------------------


def run_entities(
    spark: SparkSession, sf_dir: str, tag_date: str = "2026-01-15"
) -> dict[str, DataFrame]:
    """The whole §3.2 vertical chained through
    :func:`~srm_etl_spark.operators.upsert.staging_upsert` — the reference's
    four ``airtable_updater`` merges (``entities/__init__.py:631-679``):

    1. ``org_ids`` — every scraped Guidestar org registered with a fresh
       ``last_tag_date`` (``getGuidestarOrgs:615-628``; manage_status=False);
    2. ``org_enrich`` — the enrichment patch-set (``fetchOrgData:117-130``;
       write-amplification control drops unchanged rows);
    3. ``branches`` — the unwound branch rows merged into staging
       (``fetchBranchData:297-321``; manage_status=False);
    4. ``services`` — the processed service rows with full soft-delete
       status management (``fetchServiceData:590-612``; source 'guidestar',
       manage_status=True — stale staging rows flip INACTIVE).

    The "current" staging tables are deterministic perturbations of the
    fetched frames (last-digit rules), so every merge outcome — skip /
    update / insert / soft-delete — is populated and DuckDB-checkable.
    """
    from ..operators.upsert import staging_upsert  # noqa: PLC0415

    orgs = org_registry(spark, sf_dir)
    gs = guidestar_org_details(spark, sf_dir)
    bk = budgetkey_entities(spark, sf_dir)
    enriched = enrich_orgs(orgs, gs, bk)

    # merge 1: org-id registration
    cur1 = orgs.withColumn("last_tag_date", F.lit(None).cast("string"))
    fetched1 = gs.select("id", F.lit(tag_date).alias("last_tag_date"))
    m1 = staging_upsert(
        cur1, fetched1, key="id", table_fields=["last_tag_date"],
        source_id="entities", manage_status=False,
    )

    # merge 2: the enrichment patch-set
    enrich_fields = [
        "kind", "name", "short_name", "description", "purpose",
        "urls", "phone_numbers", "email_address",
    ]
    m2 = staging_upsert(
        orgs, enriched.select("id", *enrich_fields),
        key="id", table_fields=enrich_fields,
        source_id="entities", manage_status=False,
    )

    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    # merge 3: branches (current = last-digit perturbation of the fetch).
    # Pool shared with q127 — one materialization of the unwound union.
    # Truncating checkpoints (not persists): both upsert sides build ~20 ops
    # on top of each pin, and with a persist every op re-analyzes the whole
    # unwind/process tree (q129 warm plan construction was the largest cost
    # of the query). The upsert joins are full-outer — never broadcastable —
    # so the stats-free checkpoint scan cannot demote a join strategy here.
    active = enriched.filter(F.col("status") == "ACTIVE")
    # one lazy branches frame for both consumers (merge 3 and merge 4):
    # the builder is a ~100-expression plan whose py4j construction is pure
    # driver cost — build it once, reuse the immutable frame
    gbranches = guidestar_branches(spark, sf_dir)
    fetched3 = keep_checkpointed_pooled(
        unwind_branches(active, gbranches, gs),
        "entities_unwound",
        eager=False,
    )
    last = F.substring(F.col("id"), -1, 1)
    cur3 = (
        fetched3.filter(~last.isin("7", "8", "9"))
        .withColumn(
            "name",
            F.when(last.isin("4", "5", "6"), F.concat(F.lit("ישן "), F.col("name")))
            .otherwise(F.col("name")),
        )
        .withColumn("source", F.lit("entities"))
        .withColumn("status", F.lit("ACTIVE"))
    )
    m3 = staging_upsert(
        cur3, fetched3, key="id", table_fields=BRANCH_COLS[1:],
        source_id="entities", manage_status=False,
    )

    # merge 4: services with soft-delete management
    orgs_all_active = (
        enriched.select("id", "status")
        .unionByName(orgs.filter(F.col("source") != "entities").select("id", "status"))
        .filter(F.col("status") == "ACTIVE")
    )
    fetched4, unknown = process_services(
        orgs_all_active,
        guidestar_services(spark, sf_dir),
        gbranches,
        taxonomy_mapping(spark),
    )
    # pool shared with q128/q130 (same plan -> warm reuse)
    fetched4 = keep_checkpointed_pooled(fetched4, "entities_services", eager=False)
    stale = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 101 == 0)
        .select(
            F.concat(F.lit("guidestar:SGONE"), F.col("p_partkey").cast("string")).alias("id"),
            F.lit("שירות שנעלם").alias("name"),
            *[
                F.lit(None).cast(
                    "array<string>"
                    if c in ("situations", "responses", "organizations", "branches")
                    else "string"
                ).alias(c)
                for c in SERVICE_COLS
                if c not in ("id", "name")
            ],
        )
    )
    cur4 = (
        fetched4.filter(~last.isin("7", "8", "9"))
        .withColumn(
            "name",
            F.when(last.isin("4", "5", "6"), F.concat(F.lit("ישן "), F.col("name")))
            .otherwise(F.col("name")),
        )
        .unionByName(stale)
        .withColumn("source", F.lit("guidestar"))
        .withColumn("status", F.lit("ACTIVE"))
    )
    m4 = staging_upsert(
        cur4, fetched4, key="id", table_fields=SERVICE_COLS[1:],
        source_id="guidestar", manage_status=True,
    )
    return {
        "org_ids": m1,
        "org_enrich": m2,
        "branches": m3,
        "services": m4,
        "unknown_tags": unknown,
    }


def incremental_unwind_refresh(
    spark: SparkSession, sf_dir: str, changed_last_digits=("0", "3", "6", "9")
) -> DataFrame:
    """Incremental branch refresh (the q93/pipelines-incremental discipline
    applied to this vertical): only re-scraped orgs re-unwind; everything
    else passes through the previously staged rows untouched.

    - ``changed`` = active orgs whose id ends in one of
      ``changed_last_digits`` (the re-scrape slice);
    - ``prior`` = the staged table from the previous run, fabricated here by
      unwinding a PERTURBED input for the changed orgs (stale 'OLD ' names)
      — so a pass-through bug on a changed org breaks the hash, while
      unchanged orgs' prior rows are exactly current (the scrape is
      deterministic);
    - refresh = prior minus changed-orgs' rows (broadcast anti-join on the
      owning org — the change list is dimension-small) UNION the re-unwind
      of the changed slice only.

    Shuffle is proportional to the CHANGE SET, not the registry; the result
    must hash-match the full :func:`unwind_branches` (q136's oracle is
    q127's SQL verbatim). At 100 TB this is the difference between
    re-scraping everything nightly and touching only the delta.
    """
    orgs = org_registry(spark, sf_dir)
    gs = guidestar_org_details(spark, sf_dir)
    bk = budgetkey_entities(spark, sf_dir)
    active = enrich_orgs(orgs, gs, bk).filter(F.col("status") == "ACTIVE")
    branches = guidestar_branches(spark, sf_dir)

    last = F.substring(F.col("id"), -1, 1)
    changed_orgs = active.filter(last.isin(*changed_last_digits))
    unchanged_orgs = active.filter(~last.isin(*changed_last_digits))

    # prior staged table: stale names for the changed slice, current rows
    # for everything else (one unwind over the perturbed org view)
    perturbed = active.withColumn(
        "name",
        F.when(last.isin(*changed_last_digits), F.concat(F.lit("OLD "), F.col("name")))
        .otherwise(F.col("name")),
    )
    prior = unwind_branches(perturbed, branches, gs, cache_tag=":prior")

    # refresh: pass through unchanged orgs' prior rows, rebuild the delta
    changed_ids = changed_orgs.select(F.col("id").alias("_cid"))
    kept = prior.join(
        F.broadcast(changed_ids),
        F.element_at(F.col("organization"), 1) == F.col("_cid"),
        "left_anti",
    )
    changed_branches = branches.join(
        F.broadcast(changed_ids), branches.org_id == F.col("_cid"), "left_semi"
    )
    rebuilt = unwind_branches(changed_orgs, changed_branches, gs, cache_tag=":delta")
    return kept.unionByName(rebuilt).select(*BRANCH_COLS)
