"""Manual-data-entry + curation-import verticals, Spark-first.

Two reference flows composed from existing primitives (S4 spreadsheet
ingest, P5b typed set_type, K4 upsert payloads):

- **external manual data entry**
  (``operators/manual_data_entry/external.py:23-109``): a Sheets registry
  drives per-sheet spreadsheet loads; surviving rows are normalized into
  service records with the org-defaults fallback cascade, the
  ``'יוזמה פרטית'``/empty org-id rules, per-sheet ``_row_id`` enumeration,
  Categories-table taxonomy mapping, and the emergency-note append.

- **from_curation** (``operators/derive/from_curation.py:16-190``): the
  curation base's org/branch/service tables filtered by status + curator
  decision + linkage, with the decision='New' write-back, the location
  record-key rewrite, and the two-level FK remap (branches drop links to
  non-imported orgs; services drop links to non-imported orgs/branches and
  are themselves dropped when both ends empty).

Spark shape: every per-row generator becomes a projection; the per-sheet
row index is a window ``row_number`` over the explicit sheet position; the
import maps are broadcast joins against the just-imported keys (no
driver-side dicts). Fixtures are deterministic warehouse mappings mirrored
in plans/verticals.py's oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table, local_table

# ---------------------------------------------------------------------------
# external manual data entry
# ---------------------------------------------------------------------------

EMERGENCY_MSG = "יש לתייג כשירות חירום"
READY_SHEET = "בייצור"
READY_ROW = "מוכן לפרסום"
PRIVATE_ORG = "יוזמה פרטית"


def mde_sheets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Sheets registry (nation-derived): per-sheet source name, org
    defaults, default branch address, readiness status."""
    n = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        F.concat(F.lit("sheet://"), k.cast("string")).alias("sheet_url"),
        F.when(k % 5 == 4, F.lit("מושהה")).otherwise(F.lit(READY_SHEET)).alias("status"),
        F.concat(F.lit("מקור "), F.col("n_name")).alias("source_name"),
        F.concat(F.lit("ארגון ברירת מחדל "), k.cast("string")).alias("org_name"),
        F.when(k % 2 == 0, F.concat(F.lit("קיצור"), k.cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("org_short_name"),
        F.concat(F.lit("58000000"), (k % 10).cast("string")).alias("org_id"),
        F.concat(F.lit("02-555000"), (k % 10).cast("string")).alias("org_phone"),
        F.lit(None).cast("string").alias("org_email"),
        F.lit(None).cast("string").alias("org_website"),
        F.when(k % 3 != 0, F.concat(F.lit("כתובת "), F.col("n_name")))
        .otherwise(F.lit(None).cast("string"))
        .alias("branch_address"),
    )


def mde_sheet_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sheet spreadsheet rows (customer-derived; sheet = the customer's
    nation, position = custkey). Column names mirror the Hebrew sheet
    headers' ROLES, not their literal text."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        F.concat(F.lit("sheet://"), F.col("c_nationkey").cast("string")).alias("sheet_url"),
        k.alias("pos"),
        F.when(k % 11 == 5, F.lit("")).otherwise(
            F.concat(F.lit("שירות חיצוני "), k.cast("string"))
        ).alias("service_name"),
        F.when(k % 4 == 0, F.lit(READY_ROW)).otherwise(F.lit("טיוטה")).alias("row_status"),
        F.when(k % 2 == 0, F.concat(F.lit("רחוב העצמאות "), (k % 90).cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("service_address"),
        F.concat(F.lit("תיאור "), k.cast("string")).alias("service_description"),
        F.when(k % 3 == 0, F.lit("בתיאום")).otherwise(F.lit(None).cast("string")).alias(
            "service_conditions"
        ),
        F.when(k % 5 == 0, F.concat(F.lit("02-600"), (k % 1000).cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("service_phone"),
        F.when(k % 4 == 1, F.concat(F.lit("x"), k.cast("string"), F.lit(".org")))
        .otherwise(F.lit(None).cast("string"))
        .alias("service_website"),
        F.when(k % 6 == 0, F.concat(F.lit("m"), k.cast("string"), F.lit("@x.org")))
        .otherwise(F.lit(None).cast("string"))
        .alias("service_email"),
        F.when(k % 3 == 0, F.concat(F.lit("מפעיל "), k.cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("operator_name"),
        F.when(k % 9 == 0, F.lit(PRIVATE_ORG))
        .when(k % 9 == 3, F.lit(""))
        .otherwise(F.concat(F.lit("5800"), F.lpad((k % 100000).cast("string"), 5, "0")))
        .alias("operator_id"),
        F.when(k % 2 == 0, F.concat(F.lit("03-777"), (k % 100).cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("operator_phone"),
        F.when(k % 4 == 0, F.concat(F.lit("op"), k.cast("string"), F.lit("@x.org")))
        .otherwise(F.lit(None).cast("string"))
        .alias("operator_email"),
        F.when(k % 5 == 0, F.concat(F.lit("op"), k.cast("string"), F.lit(".org")))
        .otherwise(F.lit(None).cast("string"))
        .alias("operator_website"),
        F.concat(F.lit("קטגוריה "), (k % 6).cast("string")).alias("category"),
        F.concat(F.lit("אוכלוסייה "), (k % 4).cast("string")).alias("audience"),
        F.when(k % 3 == 0, F.lit("ערבית")).otherwise(F.lit("עברית")).alias("language"),
        F.when(k % 5 == 0, F.lit("רוסית")).otherwise(F.lit(None).cast("string")).alias(
            "language2"
        ),
        F.when(k % 7 == 0, F.lit("קהל א, קהל ב")).otherwise(F.lit(None).cast("string")).alias(
            "target_audiences"
        ),
        (k % 8 == 0).alias("emergency"),
        F.when(k % 5 == 2, F.concat(F.lit("הערה "), k.cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("notes_raw"),
    )


MDE_TAG_ROWS = [
    ("קטגוריה 0", ["human_services:cat:a"], []),
    ("קטגוריה 1", ["human_services:cat:b"], []),
    ("קטגוריה 2", ["human_services:cat:c"], ["human_situations:cat:c"]),
    ("קטגוריה 3", [], []),
    # קטגוריה 4/5 intentionally unmapped
    ("אוכלוסייה 0", [], ["human_situations:aud:x"]),
    ("אוכלוסייה 1", [], ["human_situations:aud:y"]),
    ("אוכלוסייה 2", [], []),
    # אוכלוסייה 3 unmapped
    ("עברית", [], ["human_situations:language:hebrew_speaking"]),
    ("ערבית", [], ["human_situations:language:arabic_speaking"]),
    ("רוסית", [], ["human_situations:language:russian_speaking"]),
]


def mde_categories(spark: SparkSession) -> DataFrame:
    return local_table(
        spark,
        MDE_TAG_ROWS,
        "tag string, response_ids array<string>, situation_ids array<string>",
    )


def external_mde(
    sheets: DataFrame, rows: DataFrame, categories: DataFrame
) -> DataFrame:
    """``fetch_google_spreadsheet`` + ``handle_taxonomies`` (reference
    ``external.py:23-131``): ready sheets only, rows with a service name and
    the ready-to-publish status, the org-defaults fallback cascade (sheet
    defaults unless the row names an operator; '' org-id rows dropped;
    'יוזמה פרטית' nulls the id), per-sheet 0-based ``_row_id`` enumeration of
    the SURVIVING rows in sheet order, taxonomy union via the Categories
    mapping (the reference materializes a Python set — emitted sorted), and
    the emergency-message note append."""
    sh = sheets.filter(F.col("status") == READY_SHEET)
    j = rows.join(F.broadcast(sh), "sheet_url", "inner").filter(
        (F.col("service_name") != "") & (F.col("row_status") == READY_ROW)
    )
    has_op = F.col("operator_name").isNotNull()
    # The reference enumerates BEFORE the org-id drop (external.py:35
    # `enumerate` vs :55-56 `continue`), so a dropped row still consumes an
    # index and later _row_ids in the sheet keep their positions. Falsy Org
    # Id — None or '' — drops the row.
    w_enum = Window.partitionBy("sheet_url").orderBy("pos")
    j = j.withColumn(
        "_row_id",
        F.concat(
            F.col("sheet_url"), F.lit("#"), (F.row_number().over(w_enum) - 1).cast("string")
        ),
    ).filter(~(has_op & (F.col("operator_id").isNull() | (F.col("operator_id") == ""))))
    org_id = F.when(
        has_op,
        F.when(F.trim("operator_id") == PRIVATE_ORG, F.lit(None).cast("string")).otherwise(
            F.col("operator_id")
        ),
    ).otherwise(F.col("org_id"))
    taxonomies = F.array("category", "audience", "language", "language2")
    base = j.select(
        "_row_id",
        F.coalesce("service_address", "branch_address").alias("branch_address"),
        F.col("service_name"),
        F.col("service_description"),
        F.col("service_conditions"),
        F.col("service_phone"),
        F.col("service_website"),
        F.col("service_email"),
        F.when(has_op, F.col("operator_name")).otherwise(F.col("org_name")).alias("org_name"),
        F.when(has_op, F.lit(None).cast("string")).otherwise(F.col("org_short_name")).alias(
            "org_short_name"
        ),
        org_id.alias("org_id"),
        F.when(has_op, F.col("operator_phone")).otherwise(F.col("org_phone")).alias("org_phone"),
        F.when(has_op, F.col("operator_email")).otherwise(F.col("org_email")).alias("org_email"),
        F.when(has_op, F.col("operator_website")).otherwise(F.col("org_website")).alias(
            "org_website"
        ),
        F.col("source_name").alias("data_source"),
        taxonomies.alias("_taxonomies"),
        F.col("target_audiences"),
        F.trim(
            F.when(
                F.col("emergency"),
                F.concat(
                    F.coalesce("notes_raw", F.lit("")), F.lit("\n\n"), F.lit(EMERGENCY_MSG)
                ),
            ).otherwise(F.coalesce("notes_raw", F.lit("")))
        ).alias("notes"),
    )
    ex = base.select("_row_id", F.explode("_taxonomies").alias("tag")).filter(
        F.col("tag").isNotNull()
    ).withColumn("tag", F.trim("tag"))
    mapped = ex.join(F.broadcast(categories), "tag", "left")
    per_row = mapped.groupBy("_row_id").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.coalesce("response_ids", F.array().cast("array<string>")))
                )
            )
        ).alias("responses_ids"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.coalesce("situation_ids", F.array().cast("array<string>")))
                )
            )
        ).alias("situations_ids"),
    )
    return (
        base.join(per_row, "_row_id", "left")
        .withColumn("responses_ids", F.coalesce("responses_ids", F.array().cast("array<string>")))
        .withColumn("situations_ids", F.coalesce("situations_ids", F.array().cast("array<string>")))
        .drop("_taxonomies", "pos", "sheet_url")
    )


# ---------------------------------------------------------------------------
# from_curation import
# ---------------------------------------------------------------------------

DECISIONS_BLOCKED = ["Rejected", "Suspended"]


def curation_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The curation base's three tables (supplier/customer/part-derived) with
    status, curator decision, and linkage columns."""
    from .entities import _row_count  # noqa: PLC0415

    ns_sup = _row_count(sf_dir, "supplier")
    nc = _row_count(sf_dir, "customer")

    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    decision = (
        F.when(k % 7 == 0, F.lit(None).cast("string"))
        .when(k % 7 == 1, F.lit("Rejected"))
        .when(k % 7 == 2, F.lit("Suspended"))
        .otherwise(F.lit("Approved"))
    )
    orgs = s.select(
        F.concat(F.lit("c-org-"), k.cast("string")).alias("id"),
        F.concat(F.lit("ארגון אצור "), k.cast("string")).alias("name"),
        F.when(k % 6 == 5, F.lit("INACTIVE")).otherwise(F.lit("ACTIVE")).alias("status"),
        decision.alias("decision"),
        F.when(k % 3 != 1, F.array(F.concat(F.lit("c-sv-x"), k.cast("string"))))
        .otherwise(F.array().cast("array<string>"))
        .alias("services"),
        F.when(k % 5 == 0, F.array(F.lit("bs")))
        .otherwise(F.array().cast("array<string>"))
        .alias("branch_services"),
    )
    c = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    c_decision = (
        F.when(ck % 7 == 0, F.lit(None).cast("string"))
        .when(ck % 7 == 1, F.lit("Rejected"))
        .when(ck % 7 == 2, F.lit("Suspended"))
        .otherwise(F.lit("Approved"))
    )
    branches = c.select(
        F.concat(F.lit("c-br-"), ck.cast("string")).alias("id"),
        F.concat(F.lit("סניף אצור "), ck.cast("string")).alias("name"),
        F.array(F.concat(F.lit("c-org-"), ((ck % ns_sup) + 1).cast("string"))).alias(
            "organization"
        ),
        F.concat(F.lit("loc-"), (ck % 30).cast("string")).alias("location"),
        F.when(ck % 6 == 5, F.lit("INACTIVE")).otherwise(F.lit("ACTIVE")).alias("status"),
        c_decision.alias("decision"),
        F.when(ck % 4 != 1, F.array(F.lit("s")))
        .otherwise(F.array().cast("array<string>"))
        .alias("services"),
        F.when(ck % 8 == 0, F.array(F.lit("os")))
        .otherwise(F.array().cast("array<string>"))
        .alias("org_services"),
    )
    p = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    p_decision = (
        F.when(pk % 7 == 0, F.lit(None).cast("string"))
        .when(pk % 7 == 1, F.lit("Rejected"))
        .when(pk % 7 == 2, F.lit("Suspended"))
        .otherwise(F.lit("Approved"))
    )
    services = p.select(
        F.concat(F.lit("c-sv-"), pk.cast("string")).alias("id"),
        F.concat(F.lit("שירות אצור "), pk.cast("string")).alias("name"),
        F.array(F.concat(F.lit("c-org-"), ((pk % ns_sup) + 1).cast("string"))).alias(
            "organizations"
        ),
        F.array(F.concat(F.lit("c-br-"), ((pk % nc) + 1).cast("string"))).alias("branches"),
        F.when(pk % 6 == 5, F.lit("INACTIVE")).otherwise(F.lit("ACTIVE")).alias("status"),
        p_decision.alias("decision"),
    )
    return {"organizations": orgs, "branches": branches, "services": services}


def _importable(df: DataFrame) -> DataFrame:
    """status ACTIVE + decision not Rejected/Suspended (from_curation.py's
    filter_with_stat pair — null decision passes, it becomes 'New')."""
    return df.filter(
        (F.col("status") == "ACTIVE")
        & (F.col("decision").isNull() | ~F.col("decision").isin(*DECISIONS_BLOCKED))
    )


def _remap_links(df: DataFrame, col: str, imported: DataFrame) -> DataFrame:
    """``filter_by_items`` (from_curation.py:16-32): every link either maps
    to the imported row's record key or is dropped. Explode → broadcast
    semi-map → ordered re-collect (links are 1-element arrays in the
    curation model, but the operator handles N)."""
    # the unique business id is the row handle (monotonically_increasing_id
    # would not survive recomputation across plan branches). ``marked`` feeds
    # both the explode leg and the join-back left side, but persisting it is
    # a measured net loss: the cache materializes every column of the wide
    # curation frame and the InMemoryRelation hides stats/pruning from the
    # composed q149 plan (rep2 6.3 -> 12.2 s). The double-execution is cheap
    # because both legs are narrow projections of the same scan.
    marked = df.withColumn("_lid", F.col("id"))
    ex = marked.select("_lid", F.posexplode_outer(col).alias("_p", "_item"))
    m = imported.select(
        F.col("id").alias("_item"), F.concat(F.lit("rec-"), "id").alias("_mapped")
    )
    remapped = (
        ex.join(F.broadcast(m), "_item", "left")
        .groupBy("_lid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_mapped").isNotNull(),
                            F.struct(F.col("_p"), F.col("_mapped").alias("v")),
                        )
                    )
                ),
                lambda s: s["v"],
            ).alias("_new")
        )
    )
    return (
        marked.join(remapped, "_lid", "left")
        .withColumn(col, F.coalesce("_new", F.array().cast("array<string>")))
        .drop("_lid", "_new")
    )


def run_curation_import(
    spark: SparkSession,
    sf_dir: str,
    known_locations_mod: int = 2,
    service_fixes: tuple | None = None,
) -> dict[str, DataFrame]:
    """``copy_from_curation_base`` (from_curation.py:47-190) composed:

    - write-back: rows with no curator decision get 'New' (one frame per run,
      the dump_to_airtable at :84-88);
    - orgs: ACTIVE + not blocked + linked to services/branch_services;
    - branches: same gates (org_services variant), the location record-key
      rewrite (known locations map, unknown pass through — set_type at
      :148), org links remapped to imported-org keys, no-valid-org drop;
    - services: same gates, org+branch links remapped, dropped only when
      BOTH ends are empty (:181-183).
    """
    t = curation_tables(spark, sf_dir)
    writeback = None
    for name, df in t.items():
        wb = df.filter(F.col("decision").isNull()).select(
            F.lit(name).alias("table"), "id", F.lit("New").alias("decision")
        )
        writeback = wb if writeback is None else writeback.unionByName(wb)

    from ..operators.session_cache import keep_persisted  # noqa: PLC0415

    orgs_in = _importable(t["organizations"]).filter(
        (F.size("services") > 0) | (F.size("branch_services") > 0)
    )
    # broadcast side of BOTH the branch and the service remap — pin the
    # dimension once instead of re-deriving the gate chain per remap
    imported_orgs = keep_persisted(orgs_in.select("id", "name"), "curation_imported_orgs")

    br = _importable(t["branches"]).filter(
        (F.size("services") > 0) | (F.size("org_services") > 0)
    )
    loc_known = F.col("location").isNotNull() & (
        F.substring("location", 5, 100).try_cast("int") % known_locations_mod == 0
    )
    br = br.withColumn(
        "location",
        F.array(
            F.when(loc_known, F.concat(F.lit("recloc-"), F.substring("location", 5, 100)))
            .otherwise(F.col("location"))
        ),
    )
    br = _remap_links(br, "organization", imported_orgs)
    br = br.filter(F.size("organization") > 0)
    # broadcast side of the service branch-remap: without a pin the whole
    # branch leg (location rewrite + its own remap) re-executes under the
    # services plan
    imported_branches = keep_persisted(
        br.select("id", "name"), "curation_imported_branches"
    )

    sv = _importable(t["services"])
    fix_status = None
    if service_fixes is not None:
        # The reference applies ManualFixes BETWEEN the status/decision
        # gates and the FK remap (from_curation.py:169); fixed field values
        # therefore flow through filter_by_items and the both-ends-empty
        # drop. ``service_fixes = (fixes_col, fixes_dim)`` where fixes_col
        # is the per-row fix-id array expression over the services frame.
        from .manual_fixes import apply_manual_fixes  # noqa: PLC0415

        fixes_col, fixes_dim = service_fixes
        sv = sv.withColumn("fixes", fixes_col)
        sv, fix_status = apply_manual_fixes(sv, fixes_dim)
        sv = sv.drop("fixes")
    sv = _remap_links(sv, "organizations", imported_orgs)
    sv = _remap_links(sv, "branches", imported_branches)
    sv = sv.filter((F.size("organizations") > 0) | (F.size("branches") > 0))

    out = {
        "writeback": writeback,
        "organizations": orgs_in,
        "branches": br,
        "services": sv,
    }
    if fix_status is not None:
        out["fix_status"] = fix_status
    return out
