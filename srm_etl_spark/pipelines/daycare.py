"""day_care / child_care / kolzchut_orgs verticals, Spark-first.

Three small reference source operators composed from existing primitives:

- **day_care** (reference ``operators/day_care/__init__.py:10-65``,
  ``match_organizations.py:4-100``, ``update_branch.py:29-66``,
  ``update_organization.py:8-27``): type filter (משפחתון/צהרון), phone
  digit-scrub + length gate + leading-0 fix, the 13-digit ח.פ trim, the
  מ.א/מ.מ council-prefix expansion, and the J9-family organization matcher
  — normalize עירית→עיריית, direct name match, then the hyphenation swap
  (city part '-'↔' ') under the three council/city prefixes; a match
  OVERRIDES organization_id and the ח.פ column (0/'0' treated as null).
  Outputs: the branch payload (hash id over סמל+ח.פ, space-joined
  address, the "manager \\n symbol" description, service matcher) and the
  organization payload (kind by council regex, id length ≥ 5 gate).

- **child_care** (``operators/child_care/update_service.py:9-64``):
  service records — id from the LAST FIVE characters of 'שם וסמל מעון'
  through the hash kernel, the sector→situations map (literal order
  preserved), sector-conditional details, constant texts.

- **kolzchut_orgs** (``operators/kolzchut_orgs/__init__.py:19-40``):
  sorted-distinct organization numbers stamped with a tag date (passed in
  — the reference uses today()).

The matcher is a pair of broadcast joins (direct + candidate) against the
tiny Airtable-shaped org dimension — at 100 TB the fact side streams, the
dimension broadcasts, no shuffle. Registry twins pass the sha256 hash
kernel so DuckDB oracles reproduce ids (default sha1 is reference parity).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hasher
from ..sources.tables import load_table, local_table

DAYCARE_SOURCE = "mol_daycare"
COUNCIL_PREFIXES = ["מועצה מקומית", "מועצה אזורית", "עיריית"]

# Airtable organizations dimension (x_final_org_name is list-wrapped as in
# Airtable array cells; one row broken to exercise the dropna).
DAYCARE_ORG_DIM = [
    ("rec-hf", ["עיריית חיפה"]),
    ("rec-gl", ["מועצה אזורית גליל עליון"]),
    ("rec-by", ["מועצה מקומית באר-יעקב"]),
    ("rec-emek", ["מועצה אזורית עמק"]),
    ("rec-ks", ["מועצה מקומית כפר סבא"]),
    ("rec-tv", [" עירית תל-אביב "]),  # strip + normalize on the dim side
    ("rec-none", []),  # unpacks to null → dropped
]

# input שם ארגון by k%12 (post-fixture), exercising every matcher branch
ORG_NAME_CASES = [
    "עיריית חיפה",  # 0: direct
    "עירית חיפה",  # 1: normalize עירית→עיריית then direct
    "מועצה אזורית גליל-עליון",  # 2: hyphen→space candidate
    "מועצה מקומית באר יעקב",  # 3: space→hyphen candidate
    "מ.א. גליל-עליון",  # 4: prefix expansion then hyphen→space
    "מ.מ. באר יעקב",  # 5: prefix expansion then space→hyphen
    "מועצה אזורית אין-כזה",  # 6: prefixed, no match either way
    "מ. אזורית עמק",  # 7: expansion then direct
    "מ.מקומית כפר-סבא",  # 8: expansion then hyphen→space
    "עיריית תל-אביב",  # 9: matches the dim-side-normalized entry
    "חברה בעמ",  # 10: no prefix, no match
    "",  # 11: empty → no match
]

SECTOR_SITUATIONS = {
    "צרקסי": [
        "human_situations:sectors:circassians",
        "human_situations:age_group:infants",
    ],
    "ערבי": [
        "human_situations:sectors:arabs",
        "human_situations:language:arabic_speaking",
        "human_situations:age_group:infants",
    ],
    "בדואי": [
        "human_situations:sectors:bedouin",
        "human_situations:language:arabic_speaking",
        "human_situations:age_group:infants",
    ],
    "דרוזי": [
        "human_situations:sectors:druze",
        "human_situations:language:arabic_speaking",
        "human_situations:age_group:infants",
    ],
    "יהודי": ["human_situations:age_group:infants"],
}
SECTORS = ["יהודי", "ערבי", "בדואי", "דרוזי", "צרקסי"]

CHILDCARE_NAME = "מעון יום מסובסד לפעוטות בפיקוח משרד החינוך"
CHILDCARE_DETAILS_PREFIX = "המעון מיועד עבור החברה ה"


def replace_council_name(name: Column) -> Column:
    """``replace_name`` (day_care/__init__.py:31-41): the chained prefix
    replacements, gated on startswith exactly as the reference."""
    n = F.trim(name)
    azorit = (
        n.startswith("מ. אזורית") | n.startswith("מ.א.") | n.startswith("מ.א")
    )
    mekomit = (
        n.startswith("מ. מקומית") | n.startswith("מ.מקומית") | n.startswith("מ.מ.")
    )
    az = F.replace(
        F.replace(
            F.replace(n, F.lit("מ. אזורית"), F.lit("מועצה אזורית")),
            F.lit("מ.א."),
            F.lit("מועצה אזורית"),
        ),
        F.lit("מ.א"),
        F.lit("מועצה אזורית"),
    )
    mk = F.replace(
        F.replace(
            F.replace(n, F.lit("מ. מקומית"), F.lit("מועצה מקומית")),
            F.lit("מ.מקומית"),
            F.lit("מועצה מקומית"),
        ),
        F.lit("מ.מ."),
        F.lit("מועצה מקומית"),
    )
    return F.when(azorit, az).when(mekomit, mk).otherwise(n)


def _normalize_hebrew(col: Column) -> Column:
    return F.replace(col, F.lit("עירית "), F.lit("עיריית "))


def org_dim(spark: SparkSession) -> DataFrame:
    """The unpacked+normalized Airtable lookup (match_organizations.py:18-37):
    first element of the array cell, stripped, nulls dropped, עירית
    normalized."""
    dim = local_table(spark, DAYCARE_ORG_DIM, "rec_id string, names array<string>")
    return (
        dim.select(
            "rec_id",
            _normalize_hebrew(F.trim(F.try_element_at("names", F.lit(1)))).alias("org_name"),
        )
        .filter(F.col("org_name").isNotNull())
    )


def match_organizations(
    df: DataFrame,
    dim: DataFrame,
    fetched_field: str = "org_name_raw",
    existing: str = "organization_id",
) -> DataFrame:
    """J9-family matcher (match_organizations.py:40-98), two broadcast
    probes: direct on the normalized name, then the hyphenation-swap
    candidate under a council/city prefix. A match OVERRIDES ``existing``.

    The reference folds the dimension into a name-keyed dict (one winner
    per name — last row); an equi-join would FAN OUT fact rows on a
    duplicated dimension name, so the dim is deduped here first
    (deterministically, max rec_id — the dict's last-write winner is
    row-order-dependent and a distributed frame has no row order).
    """
    dim = dim.groupBy("org_name").agg(F.max("rec_id").alias("rec_id"))
    clean = _normalize_hebrew(F.trim(F.col(fetched_field)))
    clean = F.when(F.col(fetched_field).isNotNull() & (F.trim(F.col(fetched_field)) != ""), clean)
    df = df.withColumn("_clean", clean)

    prefix = F.lit(None).cast("string")
    # next(p for p in prefixes if startswith(p)) — first hit in list order
    for p in reversed(COUNCIL_PREFIXES):
        prefix = F.when(F.col("_clean").startswith(p), F.lit(p)).otherwise(prefix)
    df = df.withColumn("_prefix", prefix)
    city = F.trim(F.substring(F.col("_clean"), F.length("_prefix") + 1, 1 << 20))
    alt_city = (
        F.when(city.contains("-"), F.replace(city, F.lit("-"), F.lit(" ")))
        .when(city.contains(" "), F.replace(city, F.lit(" "), F.lit("-")))
    )
    df = df.withColumn(
        "_candidate",
        F.when(
            F.col("_prefix").isNotNull() & alt_city.isNotNull(),
            F.concat(F.col("_prefix"), F.lit(" "), alt_city),
        ),
    )
    d1 = dim.select(F.col("org_name").alias("_clean"), F.col("rec_id").alias("_direct"))
    d2 = dim.select(F.col("org_name").alias("_candidate"), F.col("rec_id").alias("_cand"))
    df = df.join(F.broadcast(d1), "_clean", "left").join(F.broadcast(d2), "_candidate", "left")
    matched = F.coalesce(F.col("_direct"), F.col("_cand"))
    existing_col = F.col(existing) if existing in df.columns else F.lit(None).cast("string")
    df = df.withColumn(existing, F.coalesce(matched, existing_col))
    valid = F.when(~F.col(existing).isin("0"), F.col(existing))
    df = df.withColumn("org_number", F.coalesce(valid, F.col("org_number")))
    return df.drop("_clean", "_prefix", "_candidate", "_direct", "_cand")


def daycare_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API rows (customer-derived), pre-transform: mixed-type מעון rows,
    noisy phone text, 13-digit ח.פ variants, council-abbreviated org
    names."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    digits = F.concat(F.lit("2612"), F.lpad((k % 10000).cast("string"), 4, "0"))
    phone = (
        F.when(k % 11 == 5, F.lit("טל: 12345"))
        .when(k % 2 == 0, F.concat(F.lit("טל: 0"), digits))
        .otherwise(F.concat(F.lit("טל: "), digits))
    )
    cn = F.concat(F.lit("512"), F.lpad((k % 10000).cast("string"), 4, "0"))
    # 13 chars starting '11' → fix_records trims to the inner 9 digits
    org_number = F.when(
        k % 7 == 0, F.concat(F.lit("11"), cn, F.lit("99"), F.lit("00"))
    ).otherwise(cn)
    # floor(k/3) decouples the case index from the k%3 type filter so every
    # matcher branch survives into the filtered set
    m = F.floor(k / 3) % 12
    name_case = F.lit(None).cast("string")
    for i, n in enumerate(ORG_NAME_CASES):
        name_case = F.when(m == i, F.lit(n)).otherwise(name_case)
    return c.select(
        F.when(k % 3 == 0, F.lit("משפחתון"))
        .when(k % 3 == 1, F.lit("צהרון"))
        .otherwise(F.lit("מעון יום"))
        .alias("kind_desc"),
        phone.alias("phone_raw"),
        org_number.alias("org_number"),
        name_case.alias("org_name_raw"),
        (k % 997).cast("string").alias("symbol"),
        F.concat(F.lit("מעון "), k.cast("string")).alias("name"),
        F.concat(F.lit("עיר "), (k % 20).cast("string")).alias("city"),
        F.when(k % 5 != 0, F.concat(F.lit("רחוב "), (k % 30).cast("string"))).alias("street"),
        (k % 10).cast("int").alias("house_num"),
        F.when(k % 6 != 0, F.concat(F.lit("מנהל "), (k % 40).cast("string"))).alias("manager"),
    )


def daycare_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_unnecessary_records + fix_records + enrich_records
    (day_care/__init__.py:10-48) + the matcher."""
    df = daycare_raw(spark, sf_dir)
    df = df.filter(F.col("kind_desc").isin("משפחתון", "צהרון"))
    df = df.withColumn("phone", F.regexp_replace("phone_raw", r"\D", ""))
    df = df.filter(F.length("phone").between(8, 11))
    df = df.withColumn(
        "phone",
        F.when(F.col("phone").startswith("0"), F.col("phone")).otherwise(
            F.concat(F.lit("0"), F.col("phone"))
        ),
    )
    df = df.withColumn(
        "org_number",
        F.when(
            (F.length("org_number") >= 13) & F.col("org_number").startswith("11"),
            F.expr("substring(org_number, 3, length(org_number) - 4)"),
        ).otherwise(F.col("org_number")),
    )
    df = df.withColumn("org_name", replace_council_name(F.col("org_name_raw")))
    df = df.withColumn("source", F.lit(DAYCARE_SOURCE)).withColumn("status", F.lit("ACTIVE"))
    return match_organizations(df.drop("org_name_raw").withColumnRenamed("org_name", "org_name_raw"), org_dim(spark))


def daycare_branches(df: DataFrame, hash_fn: Callable[[Column], Column] = hasher) -> DataFrame:
    """transform_dataframe_to_branch (update_branch.py:29-66): hash id over
    symbol+ח.פ, space-joined address skipping blank/zero parts, the
    "manager \\n symbol" description, the service matcher."""
    addr = F.concat_ws(
        " ",
        F.col("city"),
        F.col("street"),
        F.when(F.col("house_num") != 0, F.col("house_num").cast("string")),
    )
    return df.select(
        F.concat(F.lit(DAYCARE_SOURCE + "-"), hash_fn(F.concat(F.col("symbol"), F.col("org_number")))).alias("id"),
        F.lit(DAYCARE_SOURCE).alias("source"),
        F.col("name"),
        addr.alias("address"),
        addr.alias("location"),
        F.col("phone").alias("phone_numbers"),
        F.concat(F.coalesce("manager", F.lit("")), F.lit(" \n "), F.col("symbol")).alias("description"),
        F.lit("ACTIVE").alias("status"),
        F.when(F.col("kind_desc") == "משפחתון", F.lit(DAYCARE_SOURCE + "-1"))
        .when(F.col("kind_desc") == "צהרון", F.lit(DAYCARE_SOURCE + "-2"))
        .otherwise(F.lit(DAYCARE_SOURCE + "-0"))
        .alias("service_id_matcher"),
        F.col("organization_id"),
    )


def daycare_orgs(df: DataFrame) -> DataFrame:
    """update_organization (update_organization.py:8-27): rename, kind by
    council regex, id length ≥ 5 gate.

    Documented divergence: the reference renames 'שם ארגון' -> 'name'
    BEFORE setup_kind looks for the 'שם ארגון' column, so at runtime its
    regex branch never fires and every org gets kind 'חברה פרטית'. This
    implementation keeps the intended semantics (council regex ->
    'רשות מקומית') rather than reproducing the rename-before-check bug;
    byte parity with the reference's actual output would require
    ``kind = F.lit('חברה פרטית')``."""
    kind = F.when(
        F.col("org_name_raw").rlike("מועצה מקומית|מועצה אזורית"),
        F.lit("רשות מקומית"),
    ).otherwise(F.lit("חברה פרטית"))
    out = df.select(
        F.col("org_number").alias("id"),
        F.col("org_name_raw").alias("name"),
        F.lit(DAYCARE_SOURCE).alias("source"),
        F.lit("ACTIVE").alias("status"),
        kind.alias("kind"),
    )
    return out.filter(F.length("id") >= 5)


def childcare_services(spark: SparkSession, sf_dir: str, hash_fn: Callable[[Column], Column] = hasher) -> DataFrame:
    """transform_dataframe_to_service (child_care/update_service.py:36-53):
    id from the last five characters of 'שם וסמל מעון', sector-driven
    details/situations (literal order preserved), constant texts."""
    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    sector = F.lit(None).cast("string")
    for i, s in enumerate(SECTORS):
        sector = F.when(k % 5 == i, F.lit(s)).otherwise(sector)
    full_name = F.concat(
        F.lit("מעון "), (k % 50).cast("string"), F.lit(" ("), (10000 + k).cast("string"), F.lit(")")
    )
    sit = F.lit(None).cast("array<string>")
    for s, tags in SECTOR_SITUATIONS.items():
        sit = F.when(sector == s, F.array(*[F.lit(t) for t in tags])).otherwise(sit)
    return p.select(
        F.concat(F.lit("meonot-"), hash_fn(F.substring(full_name, -5, 5))).alias("id"),
        F.lit("meonot").alias("source"),
        F.lit(CHILDCARE_NAME).alias("name"),
        F.when(sector == "יהודי", F.lit("")).otherwise(
            F.concat(F.lit(CHILDCARE_DETAILS_PREFIX), sector)
        ).alias("details"),
        sit.alias("situations"),
        F.array(F.lit("human_services:care:daytime_care")).alias("responses"),
        F.lit("yes").alias("payment_required"),
        F.lit("ACTIVE").alias("status"),
    )


def kz_orgs(spark: SparkSession, sf_dir: str, tag_date: str = "2026-01-01") -> DataFrame:
    """kolzchut_orgs (kolzchut_orgs/__init__.py:19-40): sorted-distinct org
    numbers as ids, stamped with the tag date (injected — the reference
    stamps today())."""
    s = load_table(spark, sf_dir, "supplier")
    num = (500000000 + F.col("s_suppkey") % 150).cast("string")
    return (
        s.select(num.alias("id"))
        .distinct()
        .withColumn("last_tag_date", F.lit(tag_date))
    )
