"""Meser ingestion vertical (SURVEY §3.3) composed end-to-end, Spark-first.

The reference's cleanest pandas pipeline (``operators/meser/__init__.py:176-228``):
datagovil fetch → ``sanitize_for_airtable`` (``:151-170``) →
``transform_meser_dataframe`` (``:65-146``) → org-id length filter → three
Airtable upserts (organization / branch / service), each preceded by a
``trigger_status_check`` soft-delete sweep
(``operators/meser/utilities/trigger_status_check.py:61-130``) and the branch
and service updates running the FK remap
(``operators/meser/utilities/get_foreign_key_by_field.py:7-110``).

Spark-first shape:

- sanitize = pure column casts/whens — one projection, no Python;
- the groupby-dedup with the order-preserving list-merge aggregate
  (``flatten_and_deduplicate_list_of_lists``, ``:18-33``) becomes
  posexplode → per-element min-position → ordered re-collect, so the
  first-occurrence order the pandas code gets from row order is reproduced
  deterministically from the explicit feed-order key;
- the tag→responses/situations mapping joins a broadcast mapping frame with
  the same (tag-position, id-position) ordering rule;
- the three merges are :func:`~srm_etl_spark.operators.upsert.staging_upsert`
  with ``manage_status=True`` — exactly the trigger_status_check sweep
  (staging rows of source 'meser' absent from the fetch flip INACTIVE);
- the FK remap is a join against the staging table's id→key mapping plus an
  ``array_union`` with the existing links (J10, reference
  ``get_foreign_key_by_field``).

The raw feed is synthesized deterministically from the orders table and
mirrored in the DuckDB oracle SQL of plans/verticals.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.geo import olc_encode
from ..sources.tables import load_table, local_table

MISSING_VALUES = ["NULL", "-1", "לא ידוע", "לא משויך", "רב תכליתי"]
FALLBACK_ORG = "500106406"
CITIES = ["ירושלים", "תל אביב", "חיפה", "באר שבע", "אשדוד", "נצרת"]
TYPES = ["מעון יום", "פנימייה", "מרכז יום", "לא ידוע"]
TARGETS = ["נוער", "קשישים", "לא משויך", "עולים", "משפחות"]
GENDERS = ["נשים", "גברים", "מעורב"]
OWNERS = ["רשות מקומית ירושלים", "משרד הרווחה", "עמותה פרטית"]

# The five tagging source columns, in the reference's order (:102-104)
TAG_FIELDS = [
    "Type_Descr",
    "Target_Population_Descr",
    "Second_Classific",
    "Gender_Descr",
    "Head_Department",
]


def _el(values: list[str], idx):
    return F.element_at(F.array(*[F.lit(v) for v in values]), idx.cast("int") + 1)


def meser_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The datagovil feed shape (reference
    ``operators/meser/extract_meser_data.py:6-64``), synthesized from orders.
    All columns are raw strings (CSV-ish), with the magic missing values,
    un-trimmed names, '999' address junk, 0-prefixed-phone and short-org-id
    cases the sanitize/transform stages must handle. ``_feed_order`` is the
    explicit feed-order key that replaces pandas' implicit row order.

    Group collisions: the (name, phone, address, org) key derives from
    ``k // 2`` while the tag columns derive from ``k``, so consecutive
    orderkeys merge into one service with merged tag lists."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    g = F.floor(k / 2)  # group driver
    return o.select(
        k.alias("_feed_order"),
        k.cast("string").alias("Misgeret_Id"),
        F.concat(F.lit("  מסגרת "), g.cast("string"), F.lit(" ")).alias("Name"),
        _el(TYPES, k % 4).alias("Type_Descr"),
        F.when(g % 3 == 0, F.concat(F.lit("5001"), F.lpad((g % 1000).cast("string"), 5, "0")))
        .when(g % 21 == 1, F.lit("12"))  # short id -> length filter drops it
        .otherwise(F.lit("NULL"))
        .alias("ORGANIZATIONS_BUSINES_NUM"),
        F.when(g % 6 == 1, F.concat(F.lit("52"), F.lpad((g % 10000).cast("string"), 7, "0")))
        .otherwise(F.lit("NULL"))
        .alias("Registered_Business_Id"),
        F.when(g % 5 == 0, F.lit("רחוב999 הדקל"))
        .when(g % 5 == 1, _el(CITIES, g % 6))
        .when(g % 5 == 2, F.lit("NULL"))
        .when(g % 5 == 3, F.concat(F.lit("שדרות הנשיא "), (g % 50).cast("string")))
        .otherwise(F.lit("-1"))
        .alias("Adrees"),
        _el(CITIES, g % 6).alias("City_Name"),
        F.when(g % 7 == 0, F.lit("NULL"))
        .when(g % 7 == 1, F.lit("0"))
        .when(g % 7 == 2, F.concat(F.lit("54123"), F.lpad((g % 10000).cast("string"), 4, "0")))
        .when(g % 7 == 3, F.lit("025551234"))
        .otherwise(F.lit(""))
        .alias("Telephone"),
        _el(TARGETS, k % 5).alias("Target_Population_Descr"),
        F.when(k % 4 == 0, F.lit("שיקום")).otherwise(F.lit("NULL")).alias("Second_Classific"),
        _el(GENDERS, k % 3).alias("Gender_Descr"),
        F.when(k % 2 == 0, F.lit("רווחה")).otherwise(F.lit("NULL")).alias("Head_Department"),
        F.when(g % 3 != 0, (F.lit(34) + g % 3).cast("string")).otherwise(F.lit("NULL")).alias("GisX"),
        F.when(g % 3 != 0, (F.lit(29) + g % 5).cast("string")).otherwise(F.lit("NULL")).alias("GisY"),
        F.when(k % 9 == 0, F.lit("לא ידוע")).otherwise((k % 200).cast("string")).alias(
            "Actual_Capacity"
        ),
        (k % 18).cast("string").alias("From_Age"),
        (k % 18 + 3).cast("string").alias("To_Age"),
        F.when(k % 4 == 0, F.lit("15/03/2019"))
        .when(k % 4 == 1, F.lit("02/11/2021"))
        .when(k % 4 == 2, F.lit("NULL"))
        .otherwise(F.lit("31/12/2020"))
        .alias("STARTD"),
        _el(OWNERS, g % 3).alias("Owner_Code_Descr"),
    )


MESER_TAG_ROWS = [
    ("מעון יום", ["human_services:care:daycare"], ["human_situations:age_group:infants"]),
    ("פנימייה", ["human_services:care:boarding"], []),
    ("מרכז יום", ["human_services:care:daycenter"], ["human_situations:age_group:seniors"]),
    ("נוער", [], ["human_situations:age_group:youth"]),
    ("קשישים", [], ["human_situations:age_group:seniors"]),
    # 'עולים' intentionally unmapped -> safe_list(None) == [] (no write-back in meser)
    ("משפחות", [], ["human_situations:household:families"]),
    ("שיקום", ["human_services:care:rehab"], []),
    ("נשים", [], ["human_situations:gender:women"]),
    ("גברים", [], ["human_situations:gender:men"]),
    # 'מעורב' unmapped
    ("רווחה", ["human_services:welfare"], None),  # None ids -> safe_list -> []
]


def meser_tag_mapping(spark: SparkSession) -> DataFrame:
    """The meser-tagging curator table (reference ``__init__.py:186-201``)."""
    return local_table(
        spark,
        MESER_TAG_ROWS,
        "tag string, response_ids array<string>, situation_ids array<string>",
    )


def sanitize_meser(df: DataFrame) -> DataFrame:
    """``sanitize_for_airtable`` (reference ``meser/__init__.py:151-170``):
    numeric fields → int with 0 for unparseable, STARTD → ISO date string or
    null (day-first), everything else keeps its string with the magic
    missing values ('NULL', '-1', 'לא ידוע', ...) nulled."""
    numeric = ["Actual_Capacity", "From_Age", "To_Age", "GisX", "GisY"]
    out = []
    for c in df.columns:
        if c == "_feed_order":
            out.append(F.col(c))
        elif c in numeric:
            out.append(
                F.coalesce(F.col(c).try_cast("double"), F.lit(0.0)).cast("int").alias(c)
            )
        elif c == "STARTD":
            # ANSI mode: to_date throws on the magic missing strings; the
            # reference's errors='coerce' is try_to_date
            out.append(
                F.date_format(
                    F.expr(f"try_to_date({c}, 'd/M/yyyy')"), "yyyy-MM-dd"
                ).alias(c)
            )
        else:
            expr = F.col(c)
            out.append(
                F.when(expr.isin(*MISSING_VALUES), F.lit(None).cast("string"))
                .otherwise(expr)
                .alias(c)
            )
    return df.select(*out)


def _clean_part(col):
    """create_address_clean's clean() (reference ``:51-61``): strip, and None
    out ''/'none'/'nan' (the stringified-missing artifacts)."""
    s = F.trim(col)
    return F.when(
        col.isNotNull() & ~F.lower(s).isin("none", "nan", ""), s
    ).otherwise(F.lit(None).cast("string"))


def _first_occurrence_merge(
    exploded: DataFrame, gid: str, elem: str, key: str, out_col: str
) -> DataFrame:
    """Order-preserving flatten+dedup (``flatten_and_deduplicate_list_of_lists``,
    reference ``:18-33``): per (group, element) take the minimal occurrence
    key, then re-collect ordered by it — first-occurrence order without any
    single-partition sort (one groupBy pair keyed by the group id)."""
    per_el = exploded.groupBy(gid, elem).agg(F.min(key).alias("_k"))
    return per_el.groupBy(gid).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_k"), F.col(elem).alias("e")))),
            lambda s: s["e"],
        ).alias(out_col)
    )


def transform_meser(df: DataFrame, tag_mapping: DataFrame) -> DataFrame:
    """``transform_meser_dataframe`` (reference ``meser/__init__.py:65-146``):
    derived fields, stable ``meser-b-/-s-`` ids, the 4-key groupby-dedup with
    the order-preserving tag merge, group-first pluscode, and the
    tag→responses/situations mapping. ``df`` must be sanitized and carry
    ``_feed_order`` (the pandas row order made explicit)."""
    svc_name = F.trim(F.col("Name"))
    org = F.coalesce(
        F.col("ORGANIZATIONS_BUSINES_NUM"), F.col("Registered_Business_Id"), F.lit(FALLBACK_ORG)
    )
    addr0 = F.trim(F.replace(F.col("Adrees"), F.lit("999"), F.lit("")))
    addr1 = F.when(addr0 == F.col("City_Name"), F.lit(None).cast("string")).otherwise(addr0)
    a, city = _clean_part(addr1), _clean_part(F.col("City_Name"))
    a2 = F.when(F.lower(a) == F.lower(city), F.lit(None).cast("string")).otherwise(a)
    address = F.trim(F.concat_ws(" ", a2, city))
    tel = F.col("Telephone")
    phone = F.when(
        tel.isNull() | F.trim(tel).isin("", "0"), F.lit("")
    ).otherwise(
        F.when(F.substring(tel, 1, 1) != "0", F.concat(F.lit("0"), tel)).otherwise(tel)
    )
    tagging_row = F.filter(
        F.array(*[F.col(c) for c in TAG_FIELDS]),
        lambda x: x.isNotNull() & (x != "None") & (x != ""),
    )
    base = df.select(
        "_feed_order",
        svc_name.alias("service_name"),
        F.trim(F.col("Type_Descr")).alias("branch_name"),
        F.col("Misgeret_Id").alias("meser_id"),
        org.alias("organization_id"),
        address.alias("address"),
        phone.alias("phone_numbers"),
        tagging_row.alias("_tagging_row"),
        F.col("Owner_Code_Descr"),
        F.col("City_Name"),
        F.col("GisX"),
        F.col("GisY"),
        F.concat(F.lit("meser-b-"), F.col("Misgeret_Id")).alias("branch_id"),
        F.concat(F.lit("meser-s-"), F.col("Misgeret_Id")).alias("service_id"),
    )
    keys = ["service_name", "phone_numbers", "address", "organization_id"]
    # group id = the first row's feed position (stable, join-free group handle)
    grouped = base.groupBy(*keys).agg(
        F.min("_feed_order").alias("_gid"),
        *[
            F.min_by(c, "_feed_order").alias(c)
            for c in [
                "service_id",
                "branch_id",
                "branch_name",
                "meser_id",
                "Owner_Code_Descr",
                "City_Name",
                "GisX",
                "GisY",
            ]
        ],
    )
    # order-preserving tag merge across the group's rows
    ex = base.select(
        F.min("_feed_order").over(Window.partitionBy(*keys)).alias("_gid"),
        "_feed_order",
        F.posexplode("_tagging_row").alias("_tpos", "tag"),
    )
    tags_merged = _first_occurrence_merge(
        ex.withColumn("_k", F.struct("_feed_order", "_tpos")), "_gid", "tag", "_k", "tagging"
    )
    grouped = grouped.join(tags_merged, "_gid", "left").withColumn(
        "tagging", F.coalesce("tagging", F.array().cast("array<string>"))
    )
    # responses / situations: per grouped-tag mapping ids, ordered by
    # (position of tag in the merged list, position of id in the tag's list)
    tag_ex = grouped.select(
        "_gid", "tagging", F.explode("tagging").alias("tag")
    ).join(F.broadcast(tag_mapping), "tag", "left")
    id_frames = {}
    for kind in ("response_ids", "situation_ids"):
        idx = (
            F.array_position(F.col("tagging"), F.col("tag")).cast("long") * 1000000
        )
        ide = tag_ex.select(
            "_gid",
            idx.alias("_tagpos"),
            F.posexplode(F.coalesce(F.col(kind), F.array().cast("array<string>"))).alias(
                "_ipos", "xid"
            ),
        )
        id_frames[kind] = _first_occurrence_merge(
            ide.withColumn("_k", F.col("_tagpos") + F.col("_ipos")),
            "_gid",
            "xid",
            "_k",
            kind,
        )
    out = (
        grouped.join(id_frames["response_ids"], "_gid", "left")
        .join(id_frames["situation_ids"], "_gid", "left")
        .withColumn("responses", F.coalesce("response_ids", F.array().cast("array<string>")))
        .withColumn("situations", F.coalesce("situation_ids", F.array().cast("array<string>")))
        .drop("response_ids", "situation_ids")
    )
    # pluscode from the group-first GisY/GisX (sanitize made them ints — 0,0
    # when missing — so like the reference the encode is unconditional)
    out = out.withColumn(
        "pluscode", olc_encode(F.col("GisY").cast("double"), F.col("GisX").cast("double"), 10)
    )
    # the reference's org-id length filter (:215)
    return out.filter(F.length("organization_id").between(5, 15)).drop("_gid", "GisX", "GisY")


# ---------------------------------------------------------------------------
# the composed vertical: three staged merges with soft-delete sweeps
# ---------------------------------------------------------------------------


def _rec(col):
    """Deterministic surrogate for an Airtable record id (the staging model
    derives record keys from business ids; the reference's are opaque)."""
    return F.concat(F.lit("rec-"), col)


def current_meser_staging(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Fabricated current staging tables (deterministic, supplier-derived):
    partially overlapping ids so every merge outcome is populated — skips,
    updates, inserts, and soft-deletes (incl. already-INACTIVE rows that the
    sweep must NOT rewrite, reference trigger_status_check.py:51-56)."""
    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    orgs = s.select(
        F.concat(F.lit("5001"), F.lpad(((k * 7) % 1000).cast("string"), 5, "0")).alias("id"),
        F.when(k % 4 == 0, F.lit("INACTIVE")).otherwise(F.lit("ACTIVE")).alias("status"),
        F.when(k % 9 == 0, F.lit("entities")).otherwise(F.lit("meser")).alias("source"),
    )
    branches = s.select(
        F.concat(F.lit("meser-b-"), (k * 4).cast("string")).alias("id"),
        F.when(k % 3 == 0, F.array(F.lit("rec-500106406")))
        .otherwise(F.array().cast("array<string>"))
        .alias("organization"),
        F.concat(F.lit("כתובת ישנה "), k.cast("string")).alias("address"),
        F.concat(F.lit("כתובת ישנה "), k.cast("string")).alias("location"),
        F.concat(F.lit("02-000"), k.cast("string")).alias("phone_numbers"),
        F.lit("meser").alias("source"),
        F.when(k % 5 == 0, F.lit("INACTIVE")).otherwise(F.lit("ACTIVE")).alias("status"),
    )
    services = s.select(
        F.concat(F.lit("meser-s-"), (k * 4 + 2).cast("string")).alias("id"),
        F.concat(F.lit("ישן "), k.cast("string")).alias("name"),
        F.lit(None).cast("string").alias("data_sources"),
        F.array().cast("array<string>").alias("situations"),
        F.array().cast("array<string>").alias("responses"),
        F.when(k % 2 == 0, F.array(F.concat(F.lit("rec-meser-b-old"), k.cast("string"))))
        .otherwise(F.array().cast("array<string>"))
        .alias("branches"),
        F.lit(None).cast("string").alias("id_in_source"),
        F.lit("meser").alias("source"),
        F.lit("ACTIVE").alias("status"),
    )
    return {"organizations": orgs, "branches": branches, "services": services}


DATA_SOURCES_TEXT = "מידע על מסגרות רווחה התקבל ממשרד הרווחה והשירותים החברתיים"


def run_meser(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The §3.3 vertical end-to-end: fetch-shape → sanitize → transform →
    org-length filter → the three upserts, each with the
    ``trigger_status_check`` soft-delete sweep folded into
    ``staging_upsert(manage_status=True)`` and the FK remaps of
    ``update_branch.py:10-63`` / ``update_service.py:21-57``:

    - organization links = the org's staging record key (the org table at
      that point holds current ∪ just-upserted fetched orgs, so the map
      always resolves — and like the reference's ``merge_foreign_key``,
      which keys on a column absent from the branch frame, no existing-link
      merge applies to branches);
    - service branch links = the branch's record key UNIONED with the
      service's existing staging links (sorted — the reference materializes
      a Python set, which has no order to preserve).
    """
    from ..operators.upsert import staging_upsert  # noqa: PLC0415

    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    cur = current_meser_staging(spark, sf_dir)
    # The transform (sanitize -> 4-key groupby + ordered tag merge) feeds
    # THREE downstream remap/upsert legs. A lineage-TRUNCATING checkpoint,
    # not a persist: the sanitize/transform expression tree is deep, and
    # with a persist every one of the ~30 downstream ops re-analyzes it
    # (the cache short-circuits execution only — the logical plan under
    # each consumer still carries the whole subtree; q133's warm plan
    # construction measured 5.8 s, its formatted plan 2021 lines / 212
    # Exchange occurrences on the persist shape). The frame is
    # org-registry-sized, never corpus-sized. Broadcast hints below the
    # pin stay explicit (a checkpoint scan has no size statistics).
    t = keep_checkpointed_pooled(
        transform_meser(sanitize_meser(meser_raw(spark, sf_dir)), meser_tag_mapping(spark)),
        "meser_transform_ckpt",
        eager=False,
    )
    feed = F.col("meser_id").try_cast("long")

    # merge 1: organizations (update_organization.py:18-45 — ids only).
    # TWO consumers (its merge + the branch-side FK table) — pin the
    # dimension-sized distinct so it aggregates once (truncating, as above).
    fetched_orgs = keep_checkpointed_pooled(
        t.select(F.col("organization_id").alias("id")).distinct(),
        "meser_fetched_orgs",
        eager=False,
    )
    m_org = staging_upsert(
        cur["organizations"], fetched_orgs, key="id", table_fields=[],
        source_id="meser", manage_status=True,
    )

    # merge 2: branches (update_branch.py:10-63)
    org_table_after = (
        cur["organizations"].select("id").unionByName(fetched_orgs).distinct()
    )
    remapped = t.join(
        F.broadcast(org_table_after.select(F.col("id").alias("_org_hit"))),
        t.organization_id == F.col("_org_hit"),
        "left",
    ).withColumn(
        "_org_links",
        F.when(F.col("_org_hit").isNotNull(), F.array(_rec(F.col("organization_id"))))
        .otherwise(F.array().cast("array<string>")),
    )
    fetched_br = remapped.groupBy("branch_id").agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_org_links")))
        ).alias("organization"),
        F.min_by("address", feed).alias("address"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("phone_numbers").isNotNull()
                            & ~F.trim("phone_numbers").isin("", "0"),
                            F.struct(feed.alias("o"), F.col("phone_numbers").alias("p")),
                        )
                    )
                ),
                lambda s: s["p"],
            ),
            ", ",
        ).alias("phone_numbers"),
    ).select(
        F.col("branch_id").alias("id"),
        "organization",
        "address",
        F.col("address").alias("location"),
        "phone_numbers",
    )
    # the branch aggregate also feeds the service-side FK table — without a
    # materialization the 4-key groupBy + ordered phone merge runs twice
    fetched_br = keep_checkpointed_pooled(fetched_br, "meser_fetched_br", eager=False)
    m_branch = staging_upsert(
        cur["branches"], fetched_br, key="id",
        table_fields=["organization", "address", "location", "phone_numbers"],
        source_id="meser", manage_status=True,
    )

    # merge 3: services (update_service.py:20-57)
    branch_table_after = (
        cur["branches"].select("id").unionByName(fetched_br.select("id")).distinct()
    )
    svc = t.join(
        F.broadcast(branch_table_after.select(F.col("id").alias("_br_hit"))),
        t.branch_id == F.col("_br_hit"),
        "left",
    ).withColumn(
        "_new_links",
        F.when(F.col("_br_hit").isNotNull(), F.array(_rec(F.col("branch_id"))))
        .otherwise(F.array().cast("array<string>")),
    )
    existing = cur["services"].select(
        F.col("id").alias("service_id"), F.col("branches").alias("_existing")
    )
    svc = svc.join(existing, "service_id", "left").withColumn(
        "branches",
        F.array_sort(
            F.array_union(
                F.coalesce("_existing", F.array().cast("array<string>")), F.col("_new_links")
            )
        ),
    )
    fetched_svc = svc.select(
        F.col("service_id").alias("id"),
        F.col("service_name").alias("name"),
        F.lit(DATA_SOURCES_TEXT).alias("data_sources"),
        "situations",
        "responses",
        "branches",
        F.col("meser_id").alias("id_in_source"),
    )
    m_svc = staging_upsert(
        cur["services"], fetched_svc, key="id",
        table_fields=["name", "data_sources", "situations", "responses", "branches", "id_in_source"],
        source_id="meser", manage_status=True,
    )
    return {"organizations": m_org, "branches": m_branch, "services": m_svc}
