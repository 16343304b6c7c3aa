"""The table-driven gov-source branch family: shil / tipat / gilzahav / revaha.

The reference implements each of these ingestion operators as a dataflows
pipeline of the same shape — fetch a gov.il / datagovil feed, apply a
declarative FIELD_MAP (``ensure_field``), wrap in an airtable-updater
payload:

* shil      — reference ``operators/shil/__init__.py:85-180``
* tipat     — reference ``operators/tipat/__init__.py:118-196``
* gilzahav  — reference ``operators/gilzahav/__init__.py:54-131``
* revaha    — reference ``operators/revaha/__init__.py:185-318``

Here the whole family is ONE parameterized vertical: each source contributes
a deterministic scrape fixture (built from the TPC-H-ish dimension tables,
the established oracle discipline) and a field map of native Column
expressions; the shared driver applies the map as a single select and unions
the four branch tables by name. Everything stays in Catalyst — address
assembly, OLC location keys (ITM→WGS84 affine + native OLC encode), phone
joining, email regex extraction, HTML cleaning — no Python UDFs.

Scale: each source is dimension-sized (catalog data). The union is
narrow-schema and shuffle-free; the only join is the tipat ownership→org
broadcast lookup (J6) and the revaha services-extra broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import itm_to_wgs84_approx, olc_encode
from ..functions.html import sanitize_html
from ..operators.relational import concatenate
from ..sources.tables import local_table

# ---------------------------------------------------------------------------
# shared constants (verbatim parity values from the reference operators)
# ---------------------------------------------------------------------------

WELFARE_ORG_ID = "500106406"  # shil + revaha parent org (shil/__init__.py:23)

SHIL_SOURCE = "shil"
SHIL_ITEM_URL_BASE = "https://www.gov.il/he/departments/bureaus"
SHIL_SERVICE_ID = "shil-1"
SHIL_OPERATING_UNIT = 'תחנת שירות ייעוץ לאזרח - שי"ל'

TIPAT_SOURCE = "tipat-halav"
TIPAT_ITEM_URL_BASE = (
    "https://tipatchalavappointments.health.gov.il/patient-details?codeStation="
)
TIPAT_SERVICE_LOCAL = "tipat-halav-1"
TIPAT_SERVICE_NATIONAL = "tipat-halav-2"
# ownership text -> org id (tipat/__init__.py:23-32)
TIPAT_ORGS = {
    "הסהר האדום": "580205615",
    "משרד הבריאות": "500100904",
    "שירותי בריאות כללית": "srm0012",
    "מכבי שירותי בריאות": "srm0011",
    "קופת חולים מאוחדת": "srm0013",
    "קופת חולים לאומית": "srm0010",
    "עיריית ירושלים": "500230008",
    "עיריית תל אביב יפו": "500250006",
}

GILZAHAV_SOURCE = "gilzahav"
GILZAHAV_ORG_ID = "500100797"
GILZAHAV_SERVICE_ID = "gilzahav"

REVAHA_SOURCE = "revaha"
REVAHA_BASE_URL = (
    "https://www.gov.il/he/departments/dynamiccollectors/molsa-social-departmentsd-list?skip=0"
)
REVAHA_BRANCH_NAME_PREFIX = "מחלקה לשירותים חברתיים"
REVAHA_OPERATING_UNIT = "מחלקת רווחה"
# appended per-extra-flag (SERVICE_MAP key order), then the base trio — the
# reference's update_services() append order (revaha/__init__.py:232-244)
REVAHA_MAP_SERVICES = ["revaha-noshmim", "revaha-otzma"]
REVAHA_BASE_SERVICES = ["revaha-aid", "revaha-seniors", "revaha-disabilities"]

BRANCH_COLUMNS = [
    "source", "id", "name", "organization", "services", "operating_unit",
    "address", "location", "address_details", "description",
    "phone_numbers", "email_address", "urls",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.tables import load_table  # noqa: PLC0415

    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# deterministic scrape fixtures (closed-form, mirrored 1:1 by the oracle SQL)
# ---------------------------------------------------------------------------

def shil_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gov.il SHIL_API rows: the Address envelope (CityDesc list, ITM map
    coordinates), two phone fields, HTML descriptions."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return s.select(
        k.alias("item_id"),
        F.concat(F.lit("תחנה "), k.cast("string")).alias("title"),
        F.when(k % 3 != 0, F.concat(F.lit("02-5"), (k % 1000).cast("string")))
        .alias("phone_number"),
        F.when(k % 4 == 0, F.concat(F.lit("050-"), k.cast("string"))).alias("phone_number2"),
        F.when(k % 5 != 0, F.concat(F.lit("s"), k.cast("string"), F.lit("@shil.org")))
        .alias("email"),
        F.when(k % 7 == 0, F.lit("קומה 2")).alias("location_details"),
        F.concat(
            F.lit("<p>ייעוץ &nbsp;חינם</p><li>פריט "), k.cast("string"), F.lit("</li>")
        ).alias("description"),
        F.concat(F.lit("station-"), k.cast("string")).alias("url_name"),
        F.when(k % 6 != 0, F.array(F.concat(F.lit("עיר "), (k % 30).cast("string"))))
        .otherwise(F.array().cast("array<string>"))
        .alias("city_desc"),
        F.concat(F.lit("רחוב "), (k % 50).cast("string")).alias("street"),
        (k % 9).cast("int").alias("house_number"),
        F.when(k % 2 == 0, (F.lit(170000) + (k * 37) % 50000).cast("double")).alias("mapi_x"),
        F.when(k % 2 == 0, (F.lit(540000) + (k * 53) % 160000).cast("double")).alias("mapi_y"),
    )


def tipat_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tipat-Halav station rows (WGS84 coordinates, ownership text) plus the
    synthesized national hotline branch (tipat/__init__.py:82-90)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    owners = list(TIPAT_ORGS)
    owner = F.lit(owners[0])
    for i, name in enumerate(owners[1:], start=1):
        owner = F.when(k % 8 == i, F.lit(name)).otherwise(owner)
    stations = c.select(
        k.cast("string").alias("code"),
        F.when(k % 5 == 4, F.lit("לא פעיל")).otherwise(F.lit("פעיל")).alias("status"),
        F.concat(F.lit("טיפת חלב "), k.cast("string")).alias("station_name"),
        owner.alias("ownership"),
        F.when(k % 3 == 0, F.concat(F.lit("הערה "), k.cast("string"))).alias("remarks"),
        F.when(k % 4 == 1, F.lit("ליד הדואר")).alias("address_comments"),
        F.when(k % 2 == 0, F.concat(F.lit("04-8"), (k % 10000).cast("string"))).alias("phone1"),
        F.when(k % 6 == 0, F.concat(F.lit("t"), k.cast("string"), F.lit("@health.gov.il")))
        .alias("email"),
        F.concat(F.lit("מחוז "), (k % 6).cast("string")).alias("district"),
        F.when(k % 7 != 0, F.concat(F.lit("עיר "), (k % 40).cast("string"))).alias("city_name"),
        F.when(k % 5 != 0, F.concat(F.lit("רחוב "), (k % 60).cast("string")))
        .alias("street_name"),
        (k % 12).cast("int").alias("building_num"),
        F.when(k % 3 == 0, F.lit(34.3) + (k % 240).cast("double") * F.lit(0.015))
        .alias("x_coordinate"),
        F.when(k % 3 == 0, F.lit(31.0) + (k % 300).cast("double") * F.lit(0.01))
        .alias("y_coordinate"),
    ).filter(F.col("status") == "פעיל")
    national = local_table(
        spark,
        [("national", "פעיל", "טיפת חלב - מוקד טלפוני", "משרד הבריאות")],
        "code string, status string, station_name string, ownership string",
    )
    return concatenate([stations, national], fields=stations.columns)


def gilzahav_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gov.il moch viewlist rows: positional field1..field9 with the city
    suffix-strip transform already applied (gilzahav/__init__.py:119)."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return s.select(
        # DF.set_type('field1', '-'.join(v.split('-')[:-1])) — fixture is the
        # post-transform value, oracle mirrors the same closed form
        F.concat(F.lit("עיר-"), (k % 40).cast("string")).alias("field1"),
        F.concat(F.lit("בית גיל זהב "), k.cast("string")).alias("field2"),
        (k % 200 + 10).cast("string").alias("field3"),
        F.concat(F.lit("חברה "), (k % 5).cast("string")).alias("field4"),
        F.concat(
            F.lit("רחוב "), (k % 70).cast("string"), F.lit(" "), (k % 9 + 1).cast("string")
        ).alias("field5"),
        F.when(k % 2 == 0, F.concat(F.lit("08-9"), (k % 1000).cast("string"))).alias("field6"),
        F.when(k % 3 == 0, F.concat(F.lit("gz"), k.cast("string"), F.lit("@moch.gov.il")))
        .alias("field7"),
        F.when(k % 3 == 0, F.lit("-"))
        .when(k % 3 == 1, F.lit(None).cast("string"))
        .otherwise((k % 50).cast("string"))
        .alias("field8"),
        (k + 9000).cast("string").alias("field9"),
    )


def revaha_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datagovil social-departments rows: comma-packed phone fields, free-text
    email cells, the 'adress' source-field typo kept verbatim."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        (k + 300).cast("string").alias("semel_machlaka"),
        F.when(
            k % 2 == 0,
            F.concat(F.lit("02-1"), (k % 100).cast("string"), F.lit(", 02-2"),
                     (k % 77).cast("string")),
        )
        .when(k % 5 == 1, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("02-1"), (k % 100).cast("string")))
        .alias("machlaka_phone"),
        F.when(k % 3 == 0, F.concat(F.lit("08-6 "), (k % 100).cast("string")))
        .alias("authority_phone"),
        F.when(
            k % 4 == 0,
            F.concat(F.lit("צרו קשר: rev"), k.cast("string"), F.lit("@molsa.gov.il בלבד")),
        )
        .when(k % 4 == 1, F.lit("אין"))
        .alias("email"),
        F.concat(F.lit("כתובת "), (k % 80).cast("string")).alias("adress"),
        (k % 5 == 0).alias("extra_noshmim"),
        (k % 3 == 0).alias("extra_otzma"),
        (k % 7 != 2).alias("in_extra"),
    )


# ---------------------------------------------------------------------------
# shared field-map machinery (F29 style: one flat select per source)
# ---------------------------------------------------------------------------

def _apply_branch_map(df: DataFrame, field_map: dict) -> DataFrame:
    """Apply a {target: Column} map as ONE select, padded to BRANCH_COLUMNS."""
    cols = [
        (field_map[name] if name in field_map else F.lit(None).cast("string")).alias(name)
        for name in BRANCH_COLUMNS
    ]
    return df.select(*cols)


def shil_branches(raw: DataFrame) -> DataFrame:
    """shil FIELD_MAP (shil/__init__.py:85-121): address assembly from the
    Address envelope, OLC location key from ITM coordinates (EPSG:2039 →
    WGS84 affine + plus-code, the pyproj+olc path), newline-joined phones,
    HTML description cleaning with the </p>/<li> newline rule."""
    has_city = F.size("city_desc") > 0
    city0 = F.col("city_desc").getItem(0)
    address = (
        F.when(
            has_city & (F.col("house_number") > 0),
            F.concat("street", F.lit(" "), F.col("house_number").cast("string"),
                     F.lit(", "), city0),
        )
        .when(has_city, F.concat("street", F.lit(", "), city0))
        .otherwise(F.col("street"))
    )
    lonlat = itm_to_wgs84_approx(F.col("mapi_x"), F.col("mapi_y"))
    location = F.when(
        F.col("mapi_x").isNotNull() & F.col("mapi_y").isNotNull(),
        olc_encode(lonlat.getItem(1), lonlat.getItem(0), 11),
    ).otherwise(address)
    return _apply_branch_map(
        raw,
        {
            "source": F.lit(SHIL_SOURCE),
            "id": F.concat(F.lit(f"{SHIL_SOURCE}:"), F.col("item_id").cast("string")),
            "name": F.col("title"),
            "organization": F.array(F.lit(WELFARE_ORG_ID)),
            "services": F.array(F.lit(SHIL_SERVICE_ID)),
            "operating_unit": F.lit(SHIL_OPERATING_UNIT),
            "address": address,
            "location": location,
            "address_details": F.col("location_details"),
            # add_newlines (</p>, </li> → newline) + bleach strip + &nbsp;
            "description": sanitize_html(F.col("description")),
            "phone_numbers": F.concat_ws(
                "\n", F.col("phone_number"), F.col("phone_number2")
            ),
            "email_address": F.col("email"),
            "urls": F.concat(
                F.lit(f"{SHIL_ITEM_URL_BASE}/"), F.col("url_name"), F.lit("#"), F.col("title")
            ),
        },
    )


def tipat_branches(spark: SparkSession, raw: DataFrame) -> DataFrame:
    """tipat FIELD_MAP (tipat/__init__.py:118-131): ownership → org id via a
    broadcast dict-lookup (J6), national-branch special cases, WGS84 OLC."""
    orgs = F.broadcast(
        local_table(spark, TIPAT_ORGS.items(), "ownership string, org_id string")
    )
    j = raw.join(orgs, "ownership", "left")
    is_national = F.col("code") == "national"
    address = (
        F.when(is_national, F.lit("שירות ארצי"))
        .when(
            F.col("city_name").isNotNull()
            & F.col("street_name").isNotNull()
            & (F.col("building_num") > 0),
            F.concat("street_name", F.lit(" "), F.col("building_num").cast("string"),
                     F.lit(", "), F.col("city_name")),
        )
        .when(
            F.col("city_name").isNotNull() & F.col("street_name").isNotNull(),
            F.concat("street_name", F.lit(", "), F.col("city_name")),
        )
        .when(F.col("city_name").isNotNull(), F.col("city_name"))
        .otherwise(F.col("district"))
    )
    location = F.when(
        F.col("x_coordinate").isNotNull() & F.col("y_coordinate").isNotNull(),
        olc_encode(F.col("y_coordinate"), F.col("x_coordinate"), 11),
    ).otherwise(address)
    return _apply_branch_map(
        j,
        {
            "source": F.lit(TIPAT_SOURCE),
            "id": F.concat(F.lit(f"{TIPAT_SOURCE}:"), F.col("code")),
            "name": F.col("station_name"),
            "organization": F.array(F.col("org_id")),
            "services": F.array(
                F.when(is_national, F.lit(TIPAT_SERVICE_NATIONAL))
                .otherwise(F.lit(TIPAT_SERVICE_LOCAL))
            ),
            "address": address,
            "location": location,
            "address_details": F.col("address_comments"),
            "description": F.col("remarks"),
            "phone_numbers": F.col("phone1"),
            "email_address": F.col("email"),
            "urls": F.when(
                ~is_national, F.concat(F.lit(TIPAT_ITEM_URL_BASE), F.col("code"))
            ),
        },
    )


def gilzahav_branches(raw: DataFrame) -> DataFrame:
    """gilzahav FIELD_MAP (gilzahav/__init__.py:54-66): positional fields,
    synthesized unit-count description with the '-' waiting-count skip."""
    description = F.concat(
        F.lit("מספר יחידות דיור: "), F.col("field3"), F.lit("\n"),
        F.when(
            F.col("field8").isNotNull() & (F.col("field8") != "-"),
            F.concat(F.lit("מספר ממתינים: "), F.col("field8"), F.lit("\n")),
        ).otherwise(F.lit("")),
    )
    address = F.concat("field5", F.lit(", "), F.col("field1"))
    return _apply_branch_map(
        raw,
        {
            "source": F.lit(GILZAHAV_SOURCE),
            "id": F.concat(F.lit(f"{GILZAHAV_SOURCE}:"), F.col("field9")),
            "name": F.col("field2"),
            "organization": F.array(F.lit(GILZAHAV_ORG_ID)),
            "services": F.array(F.lit(GILZAHAV_SERVICE_ID)),
            "operating_unit": F.col("field4"),
            "address": address,
            "location": address,
            "description": description,
            "phone_numbers": F.col("field6"),
            "email_address": F.col("field7"),
        },
    )


def revaha_branches(raw: DataFrame) -> DataFrame:
    """revaha FIELD_MAP + update_services (revaha/__init__.py:185-246):
    comma-split phone union with space-stripping (empty segments kept, the
    reference's ''.split(',') behavior), regex email extraction, extra-table
    service appends in SERVICE_MAP order before the base trio."""
    phones = F.array_join(
        F.concat(
            F.split(F.coalesce(F.col("authority_phone"), F.lit("")), ","),
            F.split(F.coalesce(F.col("machlaka_phone"), F.lit("")), ","),
        ),
        "\n",
    )
    phones = F.replace(phones, F.lit(" "), F.lit(""))
    email = F.regexp_extract(
        F.coalesce(F.col("email"), F.lit("")), r"[\w.+-]+@[\w-]+\.[\w.-]+", 0
    )
    services = F.concat(
        F.when(F.col("in_extra") & F.col("extra_noshmim"), F.array(F.lit("revaha-noshmim")))
        .otherwise(F.array().cast("array<string>")),
        F.when(F.col("in_extra") & F.col("extra_otzma"), F.array(F.lit("revaha-otzma")))
        .otherwise(F.array().cast("array<string>")),
        F.array(*[F.lit(x) for x in REVAHA_BASE_SERVICES]),
    )
    return _apply_branch_map(
        raw,
        {
            "source": F.lit(REVAHA_SOURCE),
            "id": F.concat(F.lit(f"{REVAHA_SOURCE}:"), F.col("semel_machlaka")),
            "name": F.lit(""),
            "organization": F.array(F.lit(WELFARE_ORG_ID)),
            "services": services,
            "operating_unit": F.lit(REVAHA_OPERATING_UNIT),
            "address": F.col("adress"),
            # reference chains add_field('address', source='adress') then
            # add_field('location', source='address') over the mutating row
            "location": F.col("adress"),
            "phone_numbers": phones,
            "email_address": F.when(email != "", email),
            "urls": F.lit(f"{REVAHA_BASE_URL}#{REVAHA_BRANCH_NAME_PREFIX}"),
        },
    )


def branch_sources_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole family as one branch table (the four airtable-updater
    payloads unioned by name)."""
    frames = [
        shil_branches(shil_raw(spark, sf_dir)),
        tipat_branches(spark, tipat_raw(spark, sf_dir)),
        gilzahav_branches(gilzahav_raw(spark, sf_dir)),
        revaha_branches(revaha_raw(spark, sf_dir)),
    ]
    return concatenate(frames, fields=BRANCH_COLUMNS)


# ---------------------------------------------------------------------------
# soproc click scraper: Solr-suffix concatenate + clean + filter + assemble
# (reference operators/soproc/click_scraper.py:8-151)
# ---------------------------------------------------------------------------

# suffix -> priority (lower wins); the reference's DT_SUFFIXES
CLICK_DT_SUFFIXES = {k: i for i, k in enumerate(["", "i", "ss", "t", "s", "base64", "f", "is"])}
CLICK_KEEP_FIELDS = ["cat", "Name"]
CLICK_NO_LISTS = ["Short_Description"]
# post-concatenate source field -> output name (click_scraper.py:11-47)
CLICK_SELECT_FIELDS = {
    "id": "catalog_number",
    "data_sources": "data_sources",
    "urls": "urls",
    "parent_group_name": "service_group",
    "group_name": "unit",
    "FamilyName": "name",
    "Service_Purpose": "purpose",
    "Short_Description": "description",
    "Description": "details",
    "Normative_Source": "normative_source",
    "Domin": "service_subject",
    "Target_Population_A": "target_populations_level_1",
    "Target_Population": "target_populations_level_2",
    "Age_Minimum": "age_min",
    "Age_Maximum": "age_max",
    "Target_Community": "target_community_text",
    "Duration_of_Service": "service_duration_text",
    "Deducitable": "payment_required",
    "Deductible": "payment_details",
    "Implementaion_Process": "implementation_details",
    "Link_to_Kolzchut": "link_to_kolzchut",
    "Link_to_Molsa": "link_to_molsa",
    "Link_to_TAAS": "link_to_taas",
    "Causes_Referes": "causes_referes",
    "Location": "location",
    "Informational_Notes": "notes",
}
CLICK_DEDUCTIBLE_TYPE = {
    "אינו כרוך בהשתתפות עצמית": "no",
    "בחלק מהמקרים תתכן השתתפות עצמית": "sometimes",
    "כרוך בהשתתפות עצמית": "yes",
}
_CLICK_DETAIL_FIELDS = [
    "description", "details", "implementation_details",
    "target_community_text", "service_duration_text",
]


def click_concat_config(columns: list[str]) -> dict[str, tuple[str, str]]:
    """The reference's schema-time concatenate config (click_scraper.py:96-115):
    for every Solr-suffixed column pick the best suffix per prefix
    (DT_SUFFIXES priority; NO_LISTS prefixes skip priorities < 3), KEEP
    fields pass through. Returns {prefix: (source_column, suffix)}. Pure
    driver-side column-NAME logic in both engines — no data moves."""
    config: dict[str, list[tuple[str, str]]] = {}
    for k in columns:
        if k in CLICK_KEEP_FIELDS:
            config[k] = [(k, "")]
            continue
        suffix = k.split("_")[-1]
        if suffix in CLICK_DT_SUFFIXES and suffix:
            prefix = k[: -len(suffix) - 1]
            config.setdefault(prefix, []).append((k, suffix))
    out: dict[str, tuple[str, str]] = {}
    for prefix, cands in config.items():
        cands = sorted(cands, key=lambda c: CLICK_DT_SUFFIXES[c[1]])
        while prefix in CLICK_NO_LISTS and CLICK_DT_SUFFIXES[cands[0][1]] < 3:
            cands.pop(0)
        out[prefix] = cands[0]
    return out


def click_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in for click-cache.json: raw Solr documents with
    suffixed dynamic fields (…_s/_ss/_t/_i/_is/_base64), including the
    Short_Description ''-vs-_t pair that exercises the NO_LISTS skip and a
    base64-packed HTML Description."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return p.select(
        F.concat(F.lit("שם גולמי "), k.cast("string")).alias("Name"),
        F.concat(F.lit("cat"), (k % 7).cast("string")).alias("cat"),
        k.cast("int").alias("id_i"),
        F.when(k % 6 == 5, F.lit("ar")).otherwise(F.lit("he")).alias("lang_code_s"),
        F.when(k % 9 == 7, F.lit(2)).otherwise(F.lit(1)).cast("int").alias("type_i"),
        F.when(k % 8 != 6, F.concat(F.lit("g"), (k % 20).cast("string"))).alias("group_id_s"),
        F.when(k % 7 == 5, F.array(F.lit(2), F.lit(1)))
        .otherwise(F.array(F.lit(1), F.lit(3)))
        .alias("distribution_channel_is"),
        F.array(F.lit("שירות "), F.concat(F.lit("קליק "), (k % 500).cast("string")))
        .alias("FamilyName_ss"),
        # the NO_LISTS pair: suffix '' must be skipped in favor of _t
        F.lit("מועמד שגוי (סיומת ריקה)").alias("Short_Description"),
        F.concat(F.lit("תקציר "), k.cast("string")).alias("Short_Description_t"),
        F.base64(
            F.encode(
                F.concat(F.lit("<p>תיאור מלא&nbsp;"), k.cast("string"), F.lit("</p>")),
                "UTF-8",
            )
        ).alias("Description_base64"),
        F.concat(F.lit("מטרה "), (k % 7).cast("string")).alias("Service_Purpose_t"),
        F.when(k % 5 == 2, F.lit("NULL"))
        .otherwise(F.concat(F.lit("חוק "), (k % 4).cast("string")))
        .alias("Normative_Source_s"),
        F.array(F.concat(F.lit("תחום "), (k % 5).cast("string"))).alias("Domin_ss"),
        F.array(F.concat(F.lit("אוכלוסייה-א "), (k % 3).cast("string")))
        .alias("Target_Population_A_ss"),
        F.when(k % 2 == 0, F.array(F.concat(F.lit("אוכלוסייה-ב "), (k % 4).cast("string"))))
        .alias("Target_Population_ss"),
        (k % 18).cast("int").alias("Age_Minimum_i"),
        (k % 18 + 3).cast("int").alias("Age_Maximum_i"),
        F.when(k % 4 == 0, F.concat(F.lit("קהילה "), (k % 6).cast("string")))
        .alias("Target_Community_t"),
        F.when(k % 5 == 0, F.lit("שנה")).alias("Duration_of_Service_t"),
        F.when(k % 4 == 1, F.lit("אינו כרוך בהשתתפות עצמית"))
        .when(k % 4 == 2, F.lit("בחלק מהמקרים תתכן השתתפות עצמית"))
        .when(k % 4 == 3, F.when(k % 8 == 3, F.lit("כרוך בהשתתפות עצמית")).otherwise(F.lit("אחר")))
        .alias("Deducitable_s"),
        F.when(k % 11 == 4, F.lit("NULL"))
        .when(k % 3 == 1, F.lit('עד 100 ש"ח'))
        .alias("Deductible_t"),
        F.when(k % 3 == 0, F.lit("שלב א. שלב ב")).alias("Implementaion_Process_t"),
        F.when(k % 6 == 0, F.concat(F.lit("https://kolzchut.org.il/x"), k.cast("string")))
        .alias("Link_to_Kolzchut_s"),
        F.when(k % 7 == 0, F.concat(F.lit("https://molsa.gov.il/y"), k.cast("string")))
        .alias("Link_to_Molsa_s"),
        F.lit(None).cast("string").alias("Link_to_TAAS_s"),
        F.array(F.concat(F.lit("סיבה "), (k % 9).cast("string"))).alias("Causes_Referes_ss"),
        F.array(F.lit("ירושלים")).alias("Location_ss"),
        F.when(k % 10 == 0, F.lit("הערה  \r מידע")).alias("Informational_Notes_t"),
        F.concat(F.lit("קבוצה "), (k % 8).cast("string")).alias("parent_group_name_s"),
        F.concat(F.lit("יחידה "), (k % 12).cast("string")).alias("group_name_s"),
    )


def click_scrape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scrape_click (click_scraper.py:91-151) Spark-native: suffix-resolved
    concatenate (schema-time), per-cell clean (base64 decode on the _base64
    source — the reference tries EVERY ascii cell; the fixtures keep other
    cells non-base64-shaped so the behaviors coincide — tag strip, &nbsp;/
    NBSP/CR scrub, 'NULL' → null), the he/type-1/grouped/channel-1 filters,
    detail paragraph assembly, deductible mapping, joined-name strip."""
    from ..functions.html import base64_or_passthrough, sanitize_html  # noqa: PLC0415

    raw = click_raw(spark, sf_dir)
    config = click_concat_config(raw.columns)

    def cleaned(col: Column, suffix: str) -> Column:
        x = col
        if suffix == "base64":
            x = base64_or_passthrough(x)
        x = sanitize_html(x)  # bleach.clean(strip=True) + entity scrub
        x = F.replace(x, F.lit("\r"), F.lit(""))
        x = F.regexp_replace(x, r"^\s+|\s+$", "")
        x = F.when(x == "NULL", F.lit(None)).otherwise(x)
        # The reference only cleans `isinstance(v, str)` cells — genuine
        # nulls must SURVIVE cleaning (sanitize_html coalesces to ''),
        # or the group_id null-drop filter and the details-paragraph
        # omission both break (click_scraper.py:55-68).
        return F.when(col.isNotNull(), x)

    cols = []
    for prefix, (source, suffix) in config.items():
        col = F.col(source)
        if suffix in ("ss", "is"):  # lists pass through uncleaned (ref :57-58)
            cols.append(col.alias(prefix))
        elif suffix == "i":
            cols.append(col.alias(prefix))
        else:
            cols.append(cleaned(col, suffix).alias(prefix))
    flat = raw.select(*cols)
    flat = (
        flat.filter(F.col("lang_code") == "he")
        .filter(F.col("type").cast("int") == 1)
        .filter(F.col("group_id").isNotNull())
        .filter(F.col("distribution_channel").getItem(0) == 1)
        .withColumn("data_sources", F.lit(None).cast("string"))
        .withColumn("urls", F.lit(None).cast("string"))
    )
    flat = flat.select(
        *[F.col(src).alias(dst) for src, dst in CLICK_SELECT_FIELDS.items()]
    )
    details = F.concat(
        *[
            F.when(
                F.col(f).isNotNull(),
                F.concat(F.lit("<p>"), F.trim(F.col(f)), F.lit("</p>")),
            ).otherwise(F.lit(""))
            for f in _CLICK_DETAIL_FIELDS
        ]
    )
    pay_req = F.lit(None).cast("string")
    for k_, v in CLICK_DEDUCTIBLE_TYPE.items():
        pay_req = F.when(F.col("payment_required") == k_, F.lit(v)).otherwise(pay_req)
    return flat.select(
        F.col("catalog_number").cast("int").alias("catalog_number"),
        F.trim(F.array_join(F.col("name"), "")).alias("name"),
        F.col("description"),
        details.alias("details"),
        pay_req.alias("payment_required"),
        F.col("payment_details"),
        F.col("data_sources"),
        F.col("urls"),
    )
