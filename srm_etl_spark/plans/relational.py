"""TPC-style relational and scalar-kernel queries over the testdata warehouse.

Each query exercises SURVEY.md §2 operators (ids in ``covers``) Spark-first
over the TPC-H-ish tables: scans, filters, joins (half-outer, broadcast,
salted, as-of, band, bucketed), aggregations, windows, set operations, the
upsert primitive, and the reference's scalar kernels (cleaning, geo,
taxonomy, scoring, hashing, enum/envelope). Every plan is written the way it
must run at 100 TB: filters that reach the parquet scan, broadcast hints on
dimension joins, aggregation pushed before fan-out joins.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    fix_url,
    remove_whitespaces,
    slugify,
    transform_phone_numbers,
)
from ..functions.fuzzy import address_parts
from ..functions.geo import calc_point_id, olc_encode, point_offset, validate_geometry
from ..functions.html import base64_or_passthrough, sanitize_html, select_text_fields
from ..functions.scoring import idf_score_table
from ..functions.taxonomy import (
    fix_situations,
    normalize_taxonomy_ids,
    situations_for_age_range,
    update_taxonomy_with_parents,
)
from ..operators.asof import asof_join
from ..operators.bloom import bloom_semi_join
from ..operators.dedup import dedup_by_keys
from ..operators.relational import concatenate, implements_merge
from ..operators.skew import salted_join
from ..operators.upsert import staging_upsert
from ..operators.windows import latest_per_key, sessionize, top_k_per_group
from ..sources.tables import local_table
from .common import QueryDef, _olc_sql, _t, scalarized_sql, stringify_arrays


QUERIES: dict[str, QueryDef] = {}


# --------------------------------------------------------------------------
# Relational core
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: scan-heavy groupBy with decimal-exact
    money sums (A1/A9, F12). The groupBy key has 6 groups — partial
    aggregation collapses everything map-side; shuffle is a few rows."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(price.cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(18,4)")).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast("decimal(18,6)")).cast("double").alias("sum_charge"),
            # integer-valued doubles sum exactly at any order; 2-dp
            # l_discount needs the decimal-sum mean to be order-free
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double")
                / F.count("l_discount"),
                4,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q02_filter_project(spark, sf_dir):
    """Projection + predicate (P1/P2/P6): both must reach the parquet scan
    (PushedFilters + 4-column ReadSchema — verified via explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45))
        .select(
            "l_orderkey",
            "l_partkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "l_extendedprice",
        )
    )


Q02_SQL = """
SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 45
"""


def q03_left_join_enrich(spark, sf_dir):
    """J1 half-outer enrichment: orders left-joined to customer, selected
    columns only — the join key is the natural shuffle key; customer is the
    smaller side and AQE will broadcast it when it fits."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


Q03_SQL = """
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def q04_revenue_by_nation(spark, sf_dir):
    """J2 inner-join chain + aggregation: lineitem ⋈ supplier ⋈ nation ⋈
    region, revenue per nation. Dimensions are broadcast (they are tiny at
    any scale); the only shuffle is the final 25-group aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # collapse the snowflake before it touches the fact table: the
    # supplier⋈nation⋈region denormalization is supplier-sized, so the fact
    # side sees ONE broadcast exchange instead of three (one broadcast build
    # job, one executor-resident hash relation)
    dim = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "n_name", "r_name")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q04_SQL = """
SELECT n_name, r_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


def q05_brand_agg(spark, sf_dir):
    """J6 broadcast dimension lookup: part is the dim, lineitem the fact;
    explicit broadcast hint keeps this a map-side join at any fact scale."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("brand_revenue"),
            F.sum("l_quantity").alias("brand_qty"),
        )
    )


Q05_SQL = """
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_revenue,
       sum(l_quantity) AS brand_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q06_upsert_status(spark, sf_dir):
    """§2.10 staging upsert (J3 full-outer + soft-delete status + change
    detection). Current = suppliers with suppkey % 3 != 0; fetched = suppliers
    with positive balance, rebalanced. The operator is the engine's MERGE
    primitive (operators/upsert.py), mirrored by the reference's
    srm_tools/update_table.py:55-108."""
    sup = _t(spark, sf_dir, "supplier")
    current = (
        sup.filter(F.col("s_suppkey") % 3 != 0)
        .select(
            F.col("s_suppkey").cast("string").alias("id"),
            F.col("s_name").alias("name"),
            F.round(F.col("s_acctbal"), 2).alias("bal"),
        )
        .withColumn("source", F.lit("sup"))
        .withColumn("status", F.lit("ACTIVE"))
    )
    fetched = sup.filter(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").cast("string").alias("id"),
        F.col("s_name").alias("name"),
        F.round(F.col("s_acctbal") + 100, 2).alias("bal"),
    )
    out = staging_upsert(current, fetched, key="id", table_fields=["name", "bal"],
                         source_id="sup", only_changed=False)
    return out.select("id", "name", "bal", "source", "status", "_changed")


Q06_SQL = """
WITH current AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS id, s_name AS name, round(s_acctbal, 2) AS bal,
         'sup' AS source, 'ACTIVE' AS status
  FROM supplier WHERE s_suppkey % 3 != 0
), fetched AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS id, s_name AS name, round(s_acctbal + 100, 2) AS bal
  FROM supplier WHERE s_acctbal > 0
)
SELECT coalesce(f.id, c.id) AS id,
       CASE WHEN f.id IS NOT NULL THEN f.name ELSE c.name END AS name,
       CASE WHEN f.id IS NOT NULL THEN f.bal ELSE c.bal END AS bal,
       CASE WHEN f.id IS NOT NULL THEN 'sup' ELSE c.source END AS source,
       CASE WHEN f.id IS NOT NULL THEN 'ACTIVE' ELSE 'INACTIVE' END AS status,
       (c.id IS NULL OR f.id IS NULL
        OR f.name IS DISTINCT FROM c.name OR f.bal IS DISTINCT FROM c.bal) AS _changed
FROM fetched f FULL OUTER JOIN current c ON f.id = c.id
"""


def q07_collect_set_join(spark, sf_dir):
    """J4/J5 join-with-set-aggregation: distinct order priorities per
    customer, aggregated BEFORE the join (shuffle size = |customers|, not the
    fanned-out fact), emitted as a sorted joined string so the value is
    engine-neutral."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    per_cust = o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias("priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey", "c_name", "priorities", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


Q07_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, priorities, coalesce(n_orders, 0) AS n_orders
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
"""


def q08_count_per_key(spark, sf_dir):
    """A1 frequency + mean value. The mean is an exact decimal sum divided
    once: ``value`` carries 2-dp data, so the DECIMAL(18,2) cast is a
    lossless round-trip in both engines and the sum is order-free — a plain
    double avg's partial-sum order varies with partitioning and can flip
    the rounded grid on boundary values (the r8 centroid lesson)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count("value"), 4
        ).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


Q08_SQL = """
SELECT event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value), 4) AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q09_two_level_agg(spark, sf_dir):
    """A3 nested two-level aggregation: (segment, priority) frequencies, then
    per-segment stats over those frequencies — two chained groupBys, the
    second over an already-tiny intermediate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lvl1 = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return lvl1.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_priorities"),
        F.max("freq").alias("max_freq"),
        F.sum("freq").alias("total_orders"),
    )


Q09_SQL = """
WITH lvl1 AS (
  SELECT c_mktsegment, o_orderpriority, count(*) AS freq
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
)
SELECT c_mktsegment, count(*) AS n_priorities, max(freq) AS max_freq,
       -- DuckDB sum(BIGINT) is HUGEINT (int128), which some client paths
       -- materialize as double ("123.0" vs Spark's "123") — pin to BIGINT.
       CAST(sum(freq) AS BIGINT) AS total_orders
FROM lvl1 GROUP BY c_mktsegment
"""


def q10_mode_priority(spark, sf_dir):
    """A5 deterministic per-group mode: most frequent order priority per
    market segment, ties broken by priority string — count + ranked window,
    reproducible on any engine (built-in mode() tie-breaks are undefined)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    freq = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("freq"), F.asc("o_orderpriority"))
    return (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("o_orderpriority").alias("mode_priority"), "freq")
    )


Q10_SQL = """
WITH freq AS (
  SELECT c_mktsegment, o_orderpriority, count(*) AS freq
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment ORDER BY freq DESC, o_orderpriority ASC) AS rn
  FROM freq
)
SELECT c_mktsegment, o_orderpriority AS mode_priority, freq FROM ranked WHERE rn = 1
"""


def q11_window_topk(spark, sf_dir):
    """W2/O5 top-k per group: 3 priciest orders per customer, deterministic
    tie-break. Shuffle is keyed by customer; no global sort."""
    o = _t(spark, sf_dir, "orders")
    out = top_k_per_group(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], k=3
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))


Q11_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q12_group_count_window(spark, sf_dir):
    """W3 per-group count attached to every member (reference
    organization_branch_count, to_dp.py:275-281)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.withColumn("order_line_count", F.count(F.lit(1)).over(w))
        .filter(F.col("order_line_count") >= 5)
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "order_line_count",
        )
    )


Q12_SQL = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, order_line_count FROM (
  SELECT l_orderkey, l_linenumber, count(*) OVER (PARTITION BY l_orderkey) AS order_line_count
  FROM lineitem
) WHERE order_line_count >= 5
"""


def q13_latest_per_user(spark, sf_dir):
    """O3 latest-per-key (reference sort+last agg): newest event per user,
    event_id tie-break, as a ranked window — one shuffle on the key."""
    ev = _t(spark, sf_dir, "events")
    out = latest_per_key(ev, ["user_id"], "ts", tiebreak=["event_id"])
    return out.select(
        "user_id", "event_id", "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


Q13_SQL = """
SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


def q14_dedup_composite_key(spark, sf_dir):
    """A8 composite-key dedup (reference unique_service_branch seen-set,
    to_dp.py:580-586): first row per (orderkey, partkey) with EXPLICIT
    ordering — Spark has no stream order to lean on."""
    li = _t(spark, sf_dir, "lineitem")
    # The synthetic generator can emit duplicate (orderkey, partkey,
    # linenumber) triples, so the ordering includes value columns — a
    # deterministic keeper needs a total order within the key group.
    out = dedup_by_keys(
        li,
        ["l_orderkey", "l_partkey"],
        order_by=["l_linenumber", "l_quantity", "l_extendedprice"],
    )
    return out.select(
        "l_orderkey", "l_partkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"), "l_quantity",
    )


Q14_SQL = """
SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity FROM (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey
                               ORDER BY l_linenumber ASC, l_quantity ASC, l_extendedprice ASC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q15_union_parties(spark, sf_dir):
    """U1/U3 concatenate with column mapping: customers and suppliers unioned
    into one 'parties' frame with coalesced columns."""
    c = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("c-"), F.col("c_custkey")).alias("party_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s-"), F.col("s_suppkey")).alias("party_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return concatenate([c, s])


Q15_SQL = """
SELECT 'c-' || CAST(c_custkey AS VARCHAR) AS party_id, c_name AS name, c_acctbal AS acctbal,
       'customer' AS kind FROM customer
UNION ALL
SELECT 's-' || CAST(s_suppkey AS VARCHAR) AS party_id, s_name AS name, s_acctbal AS acctbal,
       'supplier' AS kind FROM supplier
"""


def q16_explode_tokens(spark, sf_dir):
    """U4 unwind/explode: part-name words to rows, frequency per word."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q16_SQL = """
SELECT word, count(*) AS n FROM (
  SELECT unnest(string_split(p_name, ' ')) AS word FROM part
) GROUP BY word
"""


def q17_sessionize(spark, sf_dir):
    """Batch sessionization (gap > 30 min ⇒ new session): lag + running sum
    per user — one shuffle on user_id; the streaming twin uses session
    windows (streaming module)."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, gap_minutes=30)
    return s.groupBy("user_id").agg(
        F.max("session_seq").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q17_SQL = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, sum(new_session) OVER (PARTITION BY user_id ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(max(session_seq) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM sessions GROUP BY user_id
"""


def q18_date_math(spark, sf_dir):
    """F11 date parse/compare kernels: formatting, day diffs, quarters,
    recency flags — all native JVM expressions."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.datediff(F.lit("2026-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("age_days"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        (F.col("o_orderdate") >= F.lit("2000-01-01")).alias("is_recent"),
    )


Q18_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS order_month,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS BIGINT) AS age_days,
       CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
       o_orderdate >= TIMESTAMP '2000-01-01' AS is_recent
FROM orders
"""


def q19_score_math(spark, sf_dir):
    """F12 scoring math (card_score shape: multiplicative boosts, sqrt/log):
    native pow/log10/greatest, rounded clear of float noise."""
    c = _t(spark, sf_dir, "customer")
    score = F.sqrt(F.greatest(F.col("c_acctbal"), F.lit(0.01))) * F.log10(
        F.col("c_custkey").cast("double") + 10.0
    )
    return c.select("c_custkey", F.round(score, 4).alias("score"))


Q19_SQL = """
SELECT c_custkey, round(sqrt(greatest(c_acctbal, 0.01)) * log10(CAST(c_custkey AS DOUBLE) + 10.0), 4) AS score
FROM customer
"""


def q20_surrogate_ids(spark, sf_dir):
    """F22-shaped deterministic short ids: hash(concat of non-null parts,
    no separator)[:8]. The engine's id kernel uses sha1 for byte-parity with
    the reference (functions/hashing.py); this query uses sha256 because the
    oracle engine lacks sha1 — the construction is identical."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring(
            F.sha2(F.concat_ws("", F.col("c_name"), F.col("c_custkey").cast("string")), 256), 1, 8
        ).alias("surrogate_id"),
    )


Q20_SQL = """
SELECT c_custkey, substring(sha256(c_name || CAST(c_custkey AS VARCHAR)), 1, 8) AS surrogate_id
FROM customer
"""


def q21_taxonomy_parents(spark, sf_dir):
    """F14 hierarchy-in-id parent expansion (reference helpers.py:100-107):
    synthesize colon ids from part attributes, expand every >=2-segment
    prefix, explode, count per tag."""
    p = _t(spark, sf_dir, "part")
    tag = F.concat_ws(":", F.lit("parts"), F.lower("p_type"), F.lower("p_brand"))
    expanded = p.select(update_taxonomy_with_parents(F.array(tag)).alias("tags"))
    return expanded.select(F.explode("tags").alias("tag")).groupBy("tag").agg(
        F.count(F.lit(1)).alias("n")
    )


Q21_SQL = """
WITH tagged AS (
  SELECT 'parts:' || lower(p_type) || ':' || lower(p_brand) AS tag_id FROM part
), exploded AS (
  SELECT unnest(list_transform(range(2, len(string_split(tag_id, ':')) + 1),
                               i -> array_to_string(string_split(tag_id, ':')[1:i], ':'))) AS tag
  FROM tagged
)
SELECT tag, count(*) AS n FROM exploded GROUP BY tag
"""


def q33_filter_with_stats(spark, sf_dir):
    """P7 filter_with_stat reproduced as an auditable aggregate: per-source
    seen/dropped/kept counts for a quality predicate (the pipeline form uses
    df.observe — same numbers, zero extra passes)."""
    d = _t(spark, sf_dir, "documents")
    # NULL-robust split: rows whose predicate is NULL count as dropped, the
    # same thing filter(keep) would do to them.
    keep = F.coalesce(F.col("n_chars") > 200, F.lit(False))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("seen"),
        F.sum(F.when(keep, 0).otherwise(1)).alias("dropped"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("kept"),
    )


Q33_SQL = """
SELECT source, count(*) AS seen,
       -- CASTs pin DuckDB's HUGEINT sums to BIGINT (see Q09)
       CAST(sum(CASE WHEN coalesce(n_chars > 200, false) THEN 0 ELSE 1 END) AS BIGINT) AS dropped,
       CAST(sum(CASE WHEN coalesce(n_chars > 200, false) THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM documents GROUP BY source
"""


QUERIES.update({
    "q01_pricing_summary": QueryDef(q01_pricing_summary, Q01_SQL, "A1 A9 F12 P6"),
    "q02_filter_project": QueryDef(q02_filter_project, Q02_SQL, "P1 P2 P6"),
    "q03_left_join_enrich": QueryDef(q03_left_join_enrich, Q03_SQL, "J1"),
    "q04_revenue_by_nation": QueryDef(q04_revenue_by_nation, Q04_SQL, "J2 J6 A1"),
    "q05_brand_agg": QueryDef(q05_brand_agg, Q05_SQL, "J6 A1"),
    "q06_upsert_status": QueryDef(q06_upsert_status, Q06_SQL, "J3 K6 §2.10"),
    "q07_collect_set_join": QueryDef(q07_collect_set_join, Q07_SQL, "J4 J5 A2"),
    "q08_count_per_key": QueryDef(q08_count_per_key, Q08_SQL, "A1"),
    "q09_two_level_agg": QueryDef(q09_two_level_agg, Q09_SQL, "A3"),
    "q10_mode_priority": QueryDef(q10_mode_priority, Q10_SQL, "A5 O5"),
    "q11_window_topk": QueryDef(q11_window_topk, Q11_SQL, "W2 O5"),
    "q12_group_count_window": QueryDef(q12_group_count_window, Q12_SQL, "W3"),
    "q13_latest_per_user": QueryDef(q13_latest_per_user, Q13_SQL, "O3"),
    "q14_dedup_composite_key": QueryDef(q14_dedup_composite_key, Q14_SQL, "A8"),
    "q15_union_parties": QueryDef(q15_union_parties, Q15_SQL, "U1 U3"),
    "q16_explode_tokens": QueryDef(q16_explode_tokens, Q16_SQL, "U4"),
    "q17_sessionize": QueryDef(q17_sessionize, Q17_SQL, "W4 §2.12-ext"),
    "q18_date_math": QueryDef(q18_date_math, Q18_SQL, "F11"),
    "q19_score_math": QueryDef(q19_score_math, Q19_SQL, "F12"),
    "q20_surrogate_ids": QueryDef(q20_surrogate_ids, Q20_SQL, "F22 F23"),
    "q21_taxonomy_parents": QueryDef(q21_taxonomy_parents, Q21_SQL, "F14 U4"),
    "q33_filter_with_stats": QueryDef(q33_filter_with_stats, Q33_SQL, "P7 A9"),
})


# --------------------------------------------------------------------------
# q37 — string cleaners (F1 phone format, F4 whitespace, F9 slug, F10 url)
# --------------------------------------------------------------------------

def q37_clean_contacts(spark, sf_dir):
    """F1/F4/F9/F10 cleaners over synthesized contact text (all four shapes
    the reference handles: local 9/10-digit, +972 international, free text).
    Pure projection — no shuffle, fully codegen'd, scales as a map-only pass."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    phone_raw = (
        F.when(k % 4 == 0, F.concat(F.lit("03"), F.lpad(((k * 7) % 10000000).cast("string"), 7, "0")))
        .when(k % 4 == 1, F.concat(F.lit("054"), F.lpad(((k * 3) % 10000000).cast("string"), 7, "0")))
        .when(k % 4 == 2, F.concat(F.lit("+972-54-"), F.lpad(((k * 9) % 10000000).cast("string"), 7, "0")))
        .otherwise(F.lit("  contact us  "))
    )
    url_raw = (
        F.when(k % 3 == 0, F.lit("https://example.org/x"))
        .when(k % 3 == 1, F.lit("www.kolsherut.org.il"))
        .otherwise(F.lit("not a url!!"))
    )
    messy = F.concat(
        F.lit("  ("), F.col("c_mktsegment"), F.lit("   "), F.col("c_name"), F.lit(" - ")
    )
    return c.select(
        "c_custkey",
        F.element_at(transform_phone_numbers(phone_raw), 1).alias("phone_fmt"),
        fix_url(url_raw).alias("url_fixed"),
        slugify(F.col("c_name")).alias("name_slug"),
        remove_whitespaces(messy).alias("comment_clean"),
    )


Q37_SQL = r"""
WITH base AS (
  SELECT c_custkey, c_name,
    '  (' || c_mktsegment || '   ' || c_name || ' - ' AS messy,
    CASE CAST(c_custkey % 4 AS INT)
      WHEN 0 THEN '03'  || lpad(CAST((c_custkey*7) % 10000000 AS VARCHAR), 7, '0')
      WHEN 1 THEN '054' || lpad(CAST((c_custkey*3) % 10000000 AS VARCHAR), 7, '0')
      WHEN 2 THEN '+972-54-' || lpad(CAST((c_custkey*9) % 10000000 AS VARCHAR), 7, '0')
      ELSE '  contact us  ' END AS phone_raw,
    CASE CAST(c_custkey % 3 AS INT)
      WHEN 0 THEN 'https://example.org/x'
      WHEN 1 THEN 'www.kolsherut.org.il'
      ELSE 'not a url!!' END AS url_raw
  FROM customer
), fmt AS (
  SELECT *, trim(phone_raw) AS trimmed,
         regexp_replace(trim(phone_raw), '\D', '', 'g') AS digits0
  FROM base
), fmt2 AS (
  SELECT *,
    CASE WHEN length(digits0) > 10 AND digits0 LIKE '972%' THEN
      CASE WHEN length(substr(digits0, 4)) < 10 AND substr(digits0, 4, 1) != '0'
           THEN '0' || substr(digits0, 4) ELSE substr(digits0, 4) END
    ELSE digits0 END AS d
  FROM fmt
)
SELECT c_custkey,
  CASE
    WHEN length(d) = 9  AND d LIKE '0%' THEN substr(d,1,2) || '-' || substr(d,3,3) || '-' || substr(d,6,4)
    WHEN length(d) = 10 AND d LIKE '0%' THEN substr(d,1,3) || '-' || substr(d,4,3) || '-' || substr(d,7,4)
    WHEN length(d) = 10 AND d LIKE '1%' THEN substr(d,1,1) || '-' || substr(d,2,3) || '-' || substr(d,5,6)
    ELSE trimmed END AS phone_fmt,
  CASE
    WHEN url_raw LIKE 'http%' THEN url_raw
    WHEN regexp_matches(url_raw, '^[a-zA-Z0-9][a-zA-Z0-9\-\.]{0,61}[a-zA-Z0-9]\.[a-zA-Z]{2,}$')
      THEN 'http://' || url_raw
    ELSE NULL END AS url_fixed,
  regexp_replace(regexp_replace(lower(trim(c_name)), '[^a-z0-9֐-׿]+', '-', 'g'), '^-+|-+$', '', 'g') AS name_slug,
  regexp_replace(regexp_replace(messy, '\s+', ' ', 'g'), '^[ \t(\n\-]+|[ \t(\n\-]+$', '', 'g') AS comment_clean
FROM fmt2
"""


# --------------------------------------------------------------------------
# q38 — fuzzy match join (J7/J9): levenshtein + blocking + best-match window
# --------------------------------------------------------------------------

def q38_fuzzy_nation_match(spark, sf_dir):
    """J7/J9 fuzzy join: corrupted city strings (last char dropped, lowered)
    matched back to the nation list by levenshtein distance.

    Scale shape: candidate generation is an equi-join on a blocking key
    (first letter) — never a raw cross join; the dimension side is broadcast;
    best-match is a per-key window with deterministic tie-break. At 100 TB
    the messy side streams through the broadcast block map unchanged."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    messy = n.select(
        F.col("n_nationkey").alias("m_key"),
        F.lower(F.expr("substring(n_name, 1, length(n_name)-1)")).alias("city"),
    )
    cand = (
        messy.join(
            F.broadcast(n),
            F.substring(F.col("city"), 1, 1) == F.lower(F.substring(F.col("n_name"), 1, 1)),
        )
        .withColumn("dist", F.levenshtein(F.col("city"), F.lower(F.col("n_name"))))
        .filter(F.col("dist") <= 3)
    )
    w = Window.partitionBy("m_key").orderBy("dist", "n_name")
    best = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    cust = _t(spark, sf_dir, "customer").groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return best.join(cust, best.m_key == cust.c_nationkey).select(
        "city",
        F.col("n_name").alias("matched_nation"),
        F.col("dist").cast("long").alias("dist"),
        "n_customers",
    )


Q38_SQL = """
WITH n AS (SELECT n_nationkey, n_name FROM nation),
messy AS (
  SELECT n_nationkey AS m_key, lower(substr(n_name, 1, length(n_name)-1)) AS city FROM n
),
cand AS (
  SELECT m.m_key, m.city, n.n_name, levenshtein(m.city, lower(n.n_name)) AS dist
  FROM messy m JOIN n ON substr(m.city, 1, 1) = lower(substr(n.n_name, 1, 1))
  WHERE levenshtein(m.city, lower(n.n_name)) <= 3
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY m_key ORDER BY dist, n_name) AS rn FROM cand
)
SELECT b.city, b.n_name AS matched_nation, CAST(b.dist AS BIGINT) AS dist, c.n_customers
FROM best b
JOIN (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY c_nationkey) c
  ON b.m_key = c.c_nationkey
WHERE b.rn = 1
"""


# --------------------------------------------------------------------------
# q39 — A10 RSScoreCalc: log(total/freq) score table
# --------------------------------------------------------------------------

def q39_idf_scores(spark, sf_dir):
    """A10 (reference to_dp.py:700-753): per-(group,item) IDF-style score
    log(group_total / freq). The score table's cardinality is |groups|x|items|
    — independent of fact size, broadcastable into any downstream scoring
    join. Aggregation collapses map-side before the tiny window."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    pairs = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderpriority", "c_mktsegment"
    )
    tbl = idf_score_table(pairs, "o_orderpriority", "c_mktsegment", "idf")
    return tbl.select(
        "o_orderpriority", "c_mktsegment", F.round(F.col("idf"), 6).alias("idf")
    )


Q39_SQL = """
WITH freq AS (
  SELECT o_orderpriority, c_mktsegment, count(*) AS f
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT o_orderpriority, c_mktsegment,
       round(ln(CAST(sum(f) OVER (PARTITION BY o_orderpriority) AS DOUBLE) / f), 6) AS idf
FROM freq
"""


# --------------------------------------------------------------------------
# q40 — U5 template cross-product explode (autocomplete corpus)
# --------------------------------------------------------------------------

_TEMPLATES = ["services for {n} in {r}", "help with {n}", "{r} services"]


def q40_autocomplete_templates(spark, sf_dir):
    """U5 (reference autocomplete.py:61-138): query templates exploded against
    entity names. explode of a literal array — a lateral fan-out, no shuffle
    until the final small groupBy; region-level templates collapse 5:1."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", F.lower("n_name").alias("nn"), F.lower("r_name").alias("rn")
    )
    tpl = F.array(*[F.lit(t) for t in _TEMPLATES])
    ex = nr.select("n_nationkey", "nn", "rn", F.explode(tpl).alias("t"))
    q = F.replace(
        F.replace(F.col("t"), F.lit("{n}"), F.col("nn")), F.lit("{r}"), F.col("rn")
    )
    return ex.select(q.alias("query"), "n_nationkey").groupBy("query").agg(
        F.count(F.lit(1)).alias("n"), F.min("n_nationkey").alias("first_key")
    )


Q40_SQL = """
WITH nr AS (
  SELECT n_nationkey, lower(n_name) AS nn, lower(r_name) AS rn
  FROM nation JOIN region ON n_regionkey = r_regionkey
),
ex AS (
  SELECT n_nationkey, replace(replace(t, '{n}', nn), '{r}', rn) AS query
  FROM nr CROSS JOIN unnest(['services for {n} in {r}', 'help with {n}', '{r} services']) AS u(t)
)
SELECT query, count(*) AS n, min(n_nationkey) AS first_key FROM ex GROUP BY query
"""


# --------------------------------------------------------------------------
# q41 — P10/S10: JSON payload extraction with sentinel/null policy
# --------------------------------------------------------------------------

def q41_json_props(spark, sf_dir):
    """P10 + S10: extract a numeric field from the JSON props payload; rows
    where extraction fails are dropped (the reference's validate-with-drop
    policy). regexp extraction stays JVM-side; filter pushes to the scan."""
    ev = _t(spark, sf_dir, "events")
    k_str = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1)
    k = F.when(k_str != "", k_str.cast("long"))
    valid = ev.select("event_type", k.alias("k")).filter(F.col("k").isNotNull())
    return valid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
    )


Q41_SQL = r"""
WITH parsed AS (
  SELECT event_type, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
  FROM events
  WHERE regexp_extract(props, '"k": (\d+)', 1) != ''
)
SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k,
       round(avg(k), 4) AS avg_k
FROM parsed GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q42 — geo kernels: point ids, bbox validation, plus codes, co-located offsets
# --------------------------------------------------------------------------

def q42_geo_points(spark, sf_dir):
    """F18-F21: point_id formatting, Israel-bbox validation, native OLC plus
    codes, and ring offsets for co-located points (per-region index). All
    column math — one window pair per region for the offsets, no UDF."""
    n = _t(spark, sf_dir, "nation")
    lat = F.lit(29.5) + (F.col("n_nationkey") % 10) * F.lit(0.35)
    lon = F.lit(33.2) + (F.col("n_nationkey") % 12) * F.lit(0.3)
    pts = n.select(
        "n_nationkey",
        "n_regionkey",
        F.array(lon, lat).alias("geometry"),
        lat.alias("lat"),
        lon.alias("lon"),
    )
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    cnt = Window.partitionBy("n_regionkey")
    off = point_offset(F.row_number().over(w) - 1, F.count(F.lit(1)).over(cnt))
    return pts.select(
        "n_nationkey",
        calc_point_id(F.col("geometry")).alias("point_id"),
        validate_geometry(F.col("geometry")).alias("in_israel"),
        olc_encode(F.col("lat"), F.col("lon"), 11).alias("pluscode"),
        F.round(F.element_at(off, 1), 8).alias("dlon"),
        F.round(F.element_at(off, 2), 8).alias("dlat"),
    )


Q42_SQL = f"""
WITH pts AS (
  -- CAST the literals to DOUBLE: DuckDB otherwise parses them as exact
  -- DECIMALs and lands on the other side of OLC grid-cell boundaries than
  -- Spark's IEEE double math (33.2+0.6 -> 33.800000000000004 -> cell-1).
  SELECT n_nationkey, n_regionkey,
         CAST(29.5 AS DOUBLE) + (n_nationkey % 10) * CAST(0.35 AS DOUBLE) AS lat,
         CAST(33.2 AS DOUBLE) + (n_nationkey % 12) * CAST(0.3  AS DOUBLE) AS lon
  FROM nation
), wins AS (
  SELECT *,
         row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) - 1 AS idx,
         count(*) OVER (PARTITION BY n_regionkey) AS total
  FROM pts
)
SELECT n_nationkey,
  replace(printf('%08.5f%08.5f', lon, lat), '.', '') AS point_id,
  (lon > 33.0 AND lon < 37.0 AND lat > 29.3 AND lat < 33.3) AS in_israel,
  {_olc_sql('lat', 'lon')} AS pluscode,
  CASE WHEN total <= 1 THEN 0.0
       ELSE round(cos(2 * pi() * idx / total) * 0.00004, 8) END AS dlon,
  CASE WHEN total <= 1 THEN 0.0
       ELSE round(sin(2 * pi() * idx / total) * 0.00004, 8) END AS dlat
FROM wins
"""


# --------------------------------------------------------------------------
# q43 — F26 age-range -> age-group tags
# --------------------------------------------------------------------------

def q43_age_groups(spark, sf_dir):
    """F26 (reference situations.py:42-62): interval-overlap tagging, exploded
    to a per-tag frequency. The tag array is a pure projection; the explode
    fans out <= 6 rows per input; counts collapse map-side."""
    c = _t(spark, sf_dir, "customer")
    mn = F.col("c_custkey") % 77
    mx = mn + F.col("c_custkey") % 41
    tags = situations_for_age_range(mn, mx)
    return (
        c.select(F.explode(tags).alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q43_SQL = """
WITH ages AS (
  SELECT c_custkey % 77 AS mn, c_custkey % 77 + c_custkey % 41 AS mx FROM customer
), flags AS (
  SELECT (mn <= 54 AND mx >= 31) AS adults,
         (mn <= 30 AND mx >= 20) AS young_adults,
         (mn <= 19 AND mx >= 13) AS teens,
         (mn <= 1  AND mx >= 0)  AS infants,
         (mn <= 12 AND mx >= 2)  AS children,
         (mx >= 55)              AS seniors
  FROM ages
), kept AS (
  SELECT * FROM flags
  WHERE NOT (adults AND young_adults AND teens AND infants AND children AND seniors)
), tags AS (
  SELECT 'human_situations:age_group:adults' AS tag FROM kept WHERE adults
  UNION ALL SELECT 'human_situations:age_group:young_adults' FROM kept WHERE young_adults
  UNION ALL SELECT 'human_situations:age_group:teens' FROM kept WHERE teens
  UNION ALL SELECT 'human_situations:age_group:infants' FROM kept WHERE infants
  UNION ALL SELECT 'human_situations:age_group:children' FROM kept WHERE children
  UNION ALL SELECT 'human_situations:age_group:seniors' FROM kept WHERE seniors
)
SELECT tag, count(*) AS n FROM tags GROUP BY tag
"""


# --------------------------------------------------------------------------
# q44 — W1 global enumerate + O4 limit (top-N take-ordered)
# --------------------------------------------------------------------------

def q44_enumerate_topn(spark, sf_dir):
    """W1 enumerate_rows + O1/O4: global rank over a sort, limited to 100.
    Shape matters at scale: orderBy().limit(k) compiles to TakeOrderedAndProject
    (per-partition top-k then a k-row merge) — the global row_number window
    only ever runs over the already-limited 100 rows."""
    p = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(100)
    )
    w = Window.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return p.withColumn("score", F.row_number().over(w).cast("long"))


Q44_SQL = """
WITH ranked AS (
  SELECT p_partkey, p_retailprice,
         CAST(row_number() OVER (ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS score
  FROM part
)
SELECT * FROM ranked WHERE score <= 100
"""


# --------------------------------------------------------------------------
# q46 — F15/F16 taxonomy-id normalization + situation rules (golden oracle)
# --------------------------------------------------------------------------

def q46_taxonomy_fix(spark, sf_dir):
    """F15/F16: normalize malformed taxonomy-id lists (comma-joined, smashed,
    singular-root typo, bare roots, stray punctuation) then apply the
    situation business rules (drop men+women pair, drop hebrew_speaking,
    sectors:arabs/bedouin => +arabic_speaking). Six hand-verified input
    shapes cycle over part; the oracle pins the exact expected expansion."""
    p = _t(spark, sf_dir, "part")
    m = (F.col("p_partkey") % 6).cast("int")
    raw = (
        F.when(m == 0, F.array(F.lit("human_situations:age_group:adults")))
        .when(m == 1, F.array(F.lit("human_situations:age_group:adults,human_situations:age_group:seniors")))
        .when(m == 2, F.array(F.lit("human_situation:sectors:arabs")))
        .when(m == 3, F.array(F.lit("human_situations:gender:men human_situations:gender:women")))
        .when(m == 4, F.array(F.lit("human_situations:language:hebrew_speaking"), F.lit("human_situations:disability:deafness")))
        .otherwise(F.array(F.lit("human_situations"), F.lit(" human_situations:sectors:bedouin; ")))
    )
    ids = fix_situations(normalize_taxonomy_ids(raw))
    return (
        p.select(F.explode(ids).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


Q46_SQL = """
WITH pat AS (SELECT CAST(p_partkey % 6 AS INT) AS m FROM part),
tags AS (
  SELECT unnest(CASE m
    WHEN 0 THEN ['human_situations:age_group:adults']
    WHEN 1 THEN ['human_situations:age_group:adults', 'human_situations:age_group:seniors']
    WHEN 2 THEN ['human_situations:sectors:arabs', 'human_situations:language:arabic_speaking']
    WHEN 3 THEN CAST([] AS VARCHAR[])
    WHEN 4 THEN ['human_situations:disability:deafness']
    ELSE ['human_situations:sectors:bedouin', 'human_situations:language:arabic_speaking']
  END) AS id
  FROM pat
)
SELECT id, count(*) AS n FROM tags GROUP BY id
"""


QUERIES.update({
    "q37_clean_contacts": QueryDef(q37_clean_contacts, Q37_SQL, "F1 F4 F9 F10"),
    "q38_fuzzy_nation_match": QueryDef(q38_fuzzy_nation_match, Q38_SQL, "J7 J9 O5"),
    "q39_idf_scores": QueryDef(q39_idf_scores, Q39_SQL, "A10 F12"),
    "q40_autocomplete_templates": QueryDef(q40_autocomplete_templates, Q40_SQL, "U5 J6"),
    "q41_json_props": QueryDef(q41_json_props, Q41_SQL, "P10 S10"),
    "q42_geo_points": QueryDef(q42_geo_points, Q42_SQL, "F18 F19 F20 F21"),
    "q43_age_groups": QueryDef(q43_age_groups, Q43_SQL, "F26"),
    "q44_enumerate_topn": QueryDef(q44_enumerate_topn, Q44_SQL, "W1 O1 O4"),
    "q46_taxonomy_fix": QueryDef(q46_taxonomy_fix, Q46_SQL, "F15 F16"),
})


# --------------------------------------------------------------------------
# q48 — as-of join: attach each user's latest purchase to every other event
# --------------------------------------------------------------------------

def q48_asof_last_purchase(spark, sf_dir):
    """Temporal as-of join (operators/asof.py): for every non-purchase event,
    the same user's most recent purchase at or before it. One shuffle keyed
    by user_id; no broadcast, no row explosion — the 100 TB-safe plan.
    Oracle: DuckDB's native ASOF LEFT JOIN. (user_id, ts) pairs are unique
    in the data, so both engines are deterministic."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("last_purchase_value"),
    )
    rest = ev.filter(F.col("event_type") != "purchase")
    out = asof_join(
        rest,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        payload=["last_purchase_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "last_purchase_value",
    )


Q48_SQL = """
SELECT e.event_id, e.user_id, e.event_type,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       p.value AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


# --------------------------------------------------------------------------
# q50 — deterministic salted skew join
# --------------------------------------------------------------------------

def q50_salted_join_agg(spark, sf_dir):
    """Skew-safe join (operators/skew.py): events (fact, hot user keys) ⋈
    customer segment (mid-size dim) with the fact side salted over 8 buckets
    and the dim replicated — each hot key spreads across 8 partitions. Output
    is provably identical to the unsalted join (the oracle IS the unsalted
    join). Segment totals as DECIMAL-exact sums."""
    ev = _t(spark, sf_dir, "events")
    seg = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, seg, on="user_id", salt=8, salt_by="event_id")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


Q50_SQL = """
SELECT c_mktsegment, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q51 — upsert diff classification (§2.10 lifecycle, change-hash F23)
# --------------------------------------------------------------------------

def q51_upsert_diff(spark, sf_dir):
    """The staging-upsert diff surface (reference airtable_updater +
    should_update_record, update_table.py:28-52 / load/airtable.py:15-39):
    full-outer join current↔fetched on the key, per-row change hash, 4-way
    classification. The simulated fetch drops every 7th key (soft deletes),
    rewrites the segment of every 10th (changes) and appends 50 fresh keys
    (adds). One shuffle on the key."""
    cur = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    fetched = (
        cur.filter(k % 7 != 3)
        .withColumn(
            "c_mktsegment",
            F.when(k % 10 == 0, F.lit("RESEGMENTED")).otherwise(F.col("c_mktsegment")),
        )
        .unionByName(
            cur.filter(k < 50).select(
                (k + 1000000).alias("c_custkey"),
                F.concat(F.lit("new-"), k.cast("string")).alias("c_name"),
                "c_nationkey",
                "c_acctbal",
                F.lit("FRESH").alias("c_mktsegment"),
            )
        )
    )
    # Same normalization pipeline as functions/hashing.py:hash_row, but md5 —
    # the DuckDB build here has no sha1(); equality is all that matters.
    ch = F.md5(
        F.regexp_replace(
            F.concat_ws(
                "###",
                F.coalesce(F.col("c_name").cast("string"), F.lit("None")),
                F.coalesce(F.col("c_mktsegment").cast("string"), F.lit("None")),
            ),
            r"[\n\t ]",
            "",
        )
    )
    c = cur.select(k.alias("key"), ch.alias("_cur_hash"))
    f = fetched.select(F.col("c_custkey").alias("key"), ch.alias("_new_hash"))
    j = c.join(f, "key", "full_outer")
    status = (
        F.when(F.col("_cur_hash").isNull(), F.lit("added"))
        .when(F.col("_new_hash").isNull(), F.lit("removed"))
        .when(F.col("_cur_hash") == F.col("_new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("key", status.alias("status"))


# md5(regexp_replace(concat_ws('###', ...), whitespace, '')) mirrors the
# Spark-side change hash exactly.
Q51_SQL = """
WITH fetched AS (
  SELECT c_custkey, c_name,
         CASE WHEN c_custkey % 10 = 0 THEN 'RESEGMENTED' ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 7 <> 3
  UNION ALL
  SELECT c_custkey + 1000000, 'new-' || CAST(c_custkey AS VARCHAR), 'FRESH'
  FROM customer WHERE c_custkey < 50
),
c AS (
  SELECT c_custkey AS key,
         md5(regexp_replace(concat_ws('###', coalesce(CAST(c_name AS VARCHAR), 'None'),
                                       coalesce(CAST(c_mktsegment AS VARCHAR), 'None')),
                             '[\\n\\t ]', '', 'g')) AS cur_hash
  FROM customer
),
f AS (
  SELECT c_custkey AS key,
         md5(regexp_replace(concat_ws('###', coalesce(CAST(c_name AS VARCHAR), 'None'),
                                       coalesce(CAST(c_mktsegment AS VARCHAR), 'None')),
                             '[\\n\\t ]', '', 'g')) AS new_hash
  FROM fetched
)
SELECT coalesce(c.key, f.key) AS key,
       CASE WHEN c.key IS NULL THEN 'added'
            WHEN f.key IS NULL THEN 'removed'
            WHEN cur_hash = new_hash THEN 'unchanged'
            ELSE 'changed' END AS status
FROM c FULL OUTER JOIN f ON c.key = f.key
"""


# --------------------------------------------------------------------------
# q52 — non-equi band join (broadcast range join)
# --------------------------------------------------------------------------

_TIERS = [
    ("bronze", 0.0, 50.0),
    ("silver", 50.0, 150.0),
    ("gold", 150.0, 300.0),
    ("platinum", 300.0, 1000.0),
]


def q52_band_join(spark, sf_dir):
    """Range/banding join: events bucketed into value tiers via a non-equi
    join against a broadcast 4-row dimension — BroadcastNestedLoopJoin, the
    right physical plan when the dim is tiny; at scale with a large band
    table this becomes a bucketized equi-join instead. Inclusive-exclusive
    [lo, hi) bands, disjoint by construction."""
    ev = _t(spark, sf_dir, "events")
    tiers = local_table(spark, _TIERS, "tier string, lo double, hi double")
    cond = (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    return (
        ev.join(F.broadcast(tiers), cond, "inner")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


Q52_SQL = """
WITH tiers(tier, lo, hi) AS (
  VALUES ('bronze', 0.0, 50.0), ('silver', 50.0, 150.0),
         ('gold', 150.0, 300.0), ('platinum', 300.0, 1000.0)
)
SELECT tier, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events JOIN tiers ON value >= lo AND value < hi
GROUP BY tier
"""


# --------------------------------------------------------------------------
# q55 — exact interpolated percentiles
# --------------------------------------------------------------------------

def q55_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation on the sorted values) of order
    totals per priority — Spark's percentile() against DuckDB quantile_cont.
    Exact percentiles need the full group sorted; at 100 TB swap in
    approx_percentile (t-digest, mergeable, bounded memory) — same API shape,
    which is why the exact form is worth pinning down here."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


Q55_SQL = """
SELECT o_orderpriority, count(*) AS n,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q56 — ROLLUP with grouping flags
# --------------------------------------------------------------------------

def q56_rollup_revenue(spark, sf_dir):
    """Hierarchical ROLLUP (region → nation → grand total) of order revenue
    with explicit grouping flags. One shuffle; the rollup replicates rows per
    grouping set map-side and partial-aggregates before the exchange."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            # grouping() is only defined inside the grouping-sets aggregate
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("n_name").cast("long").alias("g_nation"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
        .select("r_name", "n_name", "g_region", "g_nation", "n_orders", "revenue")
    )


Q56_SQL = """
SELECT r_name, n_name,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


QUERIES.update({
    "q48_asof_last_purchase": QueryDef(q48_asof_last_purchase, Q48_SQL, "as-of join (custom operator)"),
    "q50_salted_join_agg": QueryDef(q50_salted_join_agg, Q50_SQL, "J2 + skew salting (§4.2)"),
    "q51_upsert_diff": QueryDef(q51_upsert_diff, Q51_SQL, "§2.10 J3 F23 K6"),
    "q52_band_join": QueryDef(q52_band_join, Q52_SQL, "range/band join (custom operator)"),
    "q55_percentiles": QueryDef(q55_percentiles, Q55_SQL, "exact percentiles (agg ext)"),
    "q56_rollup_revenue": QueryDef(q56_rollup_revenue, Q56_SQL, "rollup/grouping (agg ext)"),
})


# --------------------------------------------------------------------------
# q57 — HTML sanitize + base64 fallback + Hebrew token walk
# --------------------------------------------------------------------------

_HEB = ["שלום", "מרכז", "עזרה"]


def q57_html_text_clean(spark, sf_dir):
    """F7 sanitize_html (regexp chain, fully codegen), F8 base64 fallback
    decode, F24 recursive Hebrew-token walk — on synthesized HTML wrapping
    each document's source tag. The oracle reproduces the *expected cleaned
    text* in closed form, not the regex chain."""
    d = _t(spark, sf_dir, "documents")
    heb = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_HEB[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_HEB[1]))
        .otherwise(F.lit(_HEB[2]))
    )
    html = F.concat(
        F.lit("<p>Hello &amp; "), heb, F.lit("</p><li>"), F.col("source"), F.lit("</li>")
    )
    b64raw = F.when(
        F.col("doc_id") % 2 == 0, F.base64(F.encode(F.col("source"), "UTF-8"))
    ).otherwise(F.lit("!!notb64"))
    cleaned = d.select(
        "doc_id",
        sanitize_html(html).alias("clean_text"),
        base64_or_passthrough(b64raw).alias("decoded"),
    )
    return stringify_arrays(
        cleaned.select(
            "doc_id",
            "clean_text",
            "decoded",
            select_text_fields(cleaned, ["clean_text"]).alias("heb_tokens"),
        )
    )


Q57_SQL = """
SELECT doc_id,
       'Hello & ' ||
         CASE WHEN doc_id % 3 = 0 THEN 'שלום'
              WHEN doc_id % 3 = 1 THEN 'מרכז'
              ELSE 'עזרה' END || chr(10) || source AS clean_text,
       CASE WHEN doc_id % 2 = 0 THEN source ELSE '!!notb64' END AS decoded,
       [CASE WHEN doc_id % 3 = 0 THEN 'שלום'
             WHEN doc_id % 3 = 1 THEN 'מרכז'
             ELSE 'עזרה' END] AS heb_tokens
FROM documents
"""


Q57_SQL = scalarized_sql(Q57_SQL, ["heb_tokens"])


# --------------------------------------------------------------------------
# q58 — fuzzy address split (F5/F6)
# --------------------------------------------------------------------------

_CITIES = ["תל אביב", "ירושלים", "חיפה", "באר שבע"]


def q58_address_parts(spark, sf_dir):
    """F5/F6 fuzzy substring split: the city is embedded exactly in 4 of 5
    rows and with one substituted character in the 5th — both paths of the
    bounded-error scan (functions/fuzzy.py) produce a split the oracle can
    state in closed form. Arrow-batched map, no shuffle."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    city = (
        F.when(k % 4 == 0, F.lit(_CITIES[0]))
        .when(k % 4 == 1, F.lit(_CITIES[1]))
        .when(k % 4 == 2, F.lit(_CITIES[2]))
        .otherwise(F.lit(_CITIES[3]))
    )
    # every 5th row embeds the city with its 2nd character substituted
    addr_city = F.when(
        k % 5 == 0,
        F.concat(F.substring(city, 1, 1), F.lit("X"), F.substring(city, 3, 100)),
    ).otherwise(city)
    base = c.select(
        k.alias("key"),
        city.alias("city"),
        F.concat(
            F.lit("הרצל "), (k % 90 + 1).cast("string"), F.lit(" "), addr_city
        ).alias("address"),
    )
    parts = base.withColumn("p", address_parts(F.col("address"), F.col("city")))
    return parts.select(
        "key",
        F.col("p.primary").alias("street"),
        F.col("p.secondary").alias("city_part"),
        F.col("p.match_start").cast("long").alias("match_start"),
    )


Q58_SQL = """
WITH base AS (
  SELECT c_custkey AS key,
         CASE WHEN c_custkey % 4 = 0 THEN 'תל אביב'
              WHEN c_custkey % 4 = 1 THEN 'ירושלים'
              WHEN c_custkey % 4 = 2 THEN 'חיפה'
              ELSE 'באר שבע' END AS city,
         'הרצל ' || CAST(c_custkey % 90 + 1 AS VARCHAR) AS street
  FROM customer
)
SELECT key, street,
       CASE WHEN key % 5 = 0
            THEN substr(city, 1, 1) || 'X' || substr(city, 3)
            ELSE city END AS city_part,
       CAST(length(street) + 1 AS BIGINT) AS match_start
FROM base
"""


# --------------------------------------------------------------------------
# q59 — implements-merge (A7)
# --------------------------------------------------------------------------

def q59_implements_merge(spark, sf_dir):
    """A7 as an order-free plan (operators/relational.py:implements_merge):
    services whose id is implemented by another service of the same org are
    dropped — left-anti join against the (implemented id, org) set, replacing
    the reference's sort-then-seen-set streaming scan (to_dp.py:409-447)."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    svc = p.select(
        F.concat(F.lit("svc-"), k.cast("string")).alias("id"),
        F.concat(F.lit("org-"), (k % 50).cast("string")).alias("organization"),
        F.when(
            (k % 10 == 7) & (k >= 50),
            F.concat(F.lit("svc-"), (k - 50).cast("string")),
        ).alias("implements"),
    )
    return implements_merge(svc)


Q59_SQL = """
WITH svc AS (
  SELECT 'svc-' || CAST(p_partkey AS VARCHAR) AS id,
         'org-' || CAST(p_partkey % 50 AS VARCHAR) AS organization,
         CASE WHEN p_partkey % 10 = 7 AND p_partkey >= 50
              THEN 'svc-' || CAST(p_partkey - 50 AS VARCHAR) END AS implements
  FROM part
)
SELECT s.id, s.organization, s.implements
FROM svc s
WHERE NOT EXISTS (
  SELECT 1 FROM svc i
  WHERE i.implements = s.id AND i.organization = s.organization
)
"""


QUERIES.update({
    "q57_html_text_clean": QueryDef(q57_html_text_clean, Q57_SQL, "F7 F8 F24"),
    "q58_address_parts": QueryDef(q58_address_parts, Q58_SQL, "F5 F6"),
    "q59_implements_merge": QueryDef(q59_implements_merge, Q59_SQL, "A7 W4"),
})


# --------------------------------------------------------------------------
# q63 — sketch aggregates: HLL distinct + KLL-ish percentile vs exact twins
# --------------------------------------------------------------------------


def q63_sketch_agg(spark, sf_dir):
    """Sketch aggregates next to their exact twins: per order priority, HLL++
    approx distinct customers (rsd 2%) and approx median price (accuracy
    10000) are computed alongside the exact values; the query emits the exact
    values plus booleans asserting the sketches landed inside their error
    envelopes. The oracle pins the exact columns and the envelope booleans —
    if a sketch drifts out of tolerance the hash check fails, so the sketches
    are gate-verified without demanding cross-engine sketch-identical
    output (DuckDB's HLL is a different implementation).

    The median envelope is RANK-based — the quantile sketch's actual
    contract (rank error ≤ n/accuracy), checked as |rank(_am) - n/2| within
    a 0.2%-of-n slack via one broadcast-join counting pass. A VALUE envelope
    against the interpolated exact median is wrong for even-count groups:
    the sketch returns a real element, and the gap between the two middle
    elements can exceed any fixed value tolerance on a small group (caught
    by the r8 sf0.001 sweep: a 316-row group's middle gap was 1.1%)."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("_n"),
        F.countDistinct("o_custkey").alias("exact_distinct"),
        F.approx_count_distinct("o_custkey", 0.02).alias("_ad"),
        F.expr("percentile(o_totalprice, 0.5D)").alias("_em"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_am"),
    )
    rank = (
        o.select("o_orderpriority", "o_totalprice")
        .join(F.broadcast(agg.select("o_orderpriority", "_am")), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(F.sum(F.when(F.col("o_totalprice") <= F.col("_am"), 1).otherwise(0)).alias("_rank"))
    )
    return agg.join(rank, "o_orderpriority").select(
        "o_orderpriority",
        "exact_distinct",
        F.round("_em", 2).alias("exact_median"),
        (F.abs(F.col("_ad") - F.col("exact_distinct")) / F.col("exact_distinct") <= 0.05).alias(
            "distinct_sketch_ok"
        ),
        (
            F.abs(F.col("_rank") - F.col("_n") / 2.0)
            <= F.greatest(F.lit(2.0), F.col("_n") * 0.002)
        ).alias("median_sketch_ok"),
    )


Q63_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_distinct,
       round(median(o_totalprice), 2) AS exact_median,
       TRUE AS distinct_sketch_ok,
       TRUE AS median_sketch_ok
FROM orders GROUP BY o_orderpriority
"""


QUERIES.update({
    "q63_sketch_agg": QueryDef(q63_sketch_agg, Q63_SQL, "sketch aggregates (HLL++ / approx percentile)"),
})


# --------------------------------------------------------------------------
# q68 — deterministic stratified sampling (training-data split discipline)
# --------------------------------------------------------------------------


def q68_stratified_sample(spark, sf_dir):
    """Hash-split sampling: a 25% sample of orders selected by md5-prefix of
    the key — deterministic, engine-portable, and stable under reruns,
    re-partitioning, and cluster resizing (none of which hold for
    ``df.sample``'s RNG). This is how a training pipeline carves
    train/held-out splits that every downstream job re-derives identically
    instead of shipping membership lists. The filter is a scan-level
    predicate (no shuffle); the per-stratum aggregate is the only exchange.
    """
    o = _t(spark, sf_dir, "orders")
    sampled = o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).alias(
            "sampled_totalprice"
        ),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


Q68_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_sampled,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sampled_totalprice,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q69 — bloom-filter semi-join pruning (runtime filter across statements)
# --------------------------------------------------------------------------


def q69_bloom_semi_join(spark, sf_dir):
    """Customers with at least one high-value urgent order, resolved as a
    bloom-pruned semi-join (operators/bloom.py): the build side's keys are
    folded into a 2^16-bit filter by a distributed bit_or aggregate, the
    customer scan is pruned by a codegen'd might-contain predicate sitting on
    top of the scan, and the closing exact semi-join removes false positives
    — so the result equals the plain semi-join the oracle runs, while the
    shuffle only ever sees rows that passed the filter. At 100 TB this is
    the difference between shuffling the full probe table and shuffling the
    ~match fraction of it."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    build = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 450000)
    ).select("o_custkey")
    out = bloom_semi_join(c, build, "c_custkey", "o_custkey", num_bits=1 << 16)
    return out.select(
        "c_custkey", "c_name", "c_nationkey",
        F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
    )


Q69_SQL = """
SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 450000
)
"""


# --------------------------------------------------------------------------
# q70 — z-order layout keys (multi-dimensional clustering for data layout)
# --------------------------------------------------------------------------

_Z_BITS = 8


def _interleave_sql(x: str, y: str, bits: int) -> str:
    """Bit-interleave expression: x in even positions, y in odd — identical
    integer math in Spark SQL and DuckDB."""
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return " + ".join(terms)


def q70_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (nation, account-balance bucket):
    interleaving the bits of both dimensions gives a single sort key under
    which ranges of EITHER dimension map to a bounded number of contiguous
    key ranges — the standard multi-dimensional layout trick (Delta/Iceberg
    OPTIMIZE ZORDER) that lets min/max row-group stats prune scans on both
    columns after one write. The expression is pure integer bit math in
    whole-stage codegen; writing ``df.repartitionByRange(zval).sortWithinPartitions``
    produces the clustered files (sinks/files.py covers the write; this query
    pins the key computation both engines can verify)."""
    c = _t(spark, sf_dir, "customer")
    # floor() explicitly: double→int CAST truncates in Spark but rounds in
    # DuckDB, so the cast alone is not engine-portable
    bucket = F.floor((F.col("c_acctbal") + 1000.0) / 11000.0 * 256.0).cast("int")
    bucket = F.least(F.greatest(bucket, F.lit(0)), F.lit(255))
    enc = c.select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("nk"),
        bucket.alias("bal_bucket"),
    )
    z = enc.selectExpr(
        "c_custkey", "nk", "bal_bucket",
        f"CAST({_interleave_sql('nk', 'bal_bucket', _Z_BITS)} AS BIGINT) AS zval",
    )
    return z


Q70_SQL = f"""
WITH enc AS (
  SELECT c_custkey,
         CAST(c_nationkey AS INT) AS nk,
         least(greatest(CAST(floor((c_acctbal + 1000.0) / 11000.0 * 256.0) AS INT), 0), 255) AS bal_bucket
  FROM customer
)
SELECT c_custkey, nk, bal_bucket,
       CAST({_interleave_sql('nk', 'bal_bucket', _Z_BITS)} AS BIGINT) AS zval
FROM enc
"""


QUERIES.update({
    "q68_stratified_sample": QueryDef(
        q68_stratified_sample, Q68_SQL, "deterministic hash-split sampling"
    ),
    "q69_bloom_semi_join": QueryDef(
        q69_bloom_semi_join, Q69_SQL, "bloom runtime-filter semi-join"
    ),
    "q70_zorder_key": QueryDef(
        q70_zorder_key, Q70_SQL, "z-order multi-dim layout key"
    ),
})


# --------------------------------------------------------------------------
# q94 — skew diagnostics report
# --------------------------------------------------------------------------

def q94_skew_report(spark, sf_dir):
    """Key-distribution diagnostic (operators/skew.py:skew_report) over the
    orders-per-customer distribution: top-10 heaviest keys with share, skew
    factor vs the mean key, and the salt count that would level each — what
    an engineer reads before picking broadcast/salt/AQE for the join."""
    from ..operators.skew import skew_report  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders")
    out = skew_report(o, "o_custkey", top=10)
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("key_rows").cast("long").alias("key_rows"),
        F.round("share", 8).alias("share"),
        F.round("skew_factor", 6).alias("skew_factor"),
        "suggested_salt",
    )


Q94_SQL = """
WITH counts AS (SELECT o_custkey, count(*) AS key_rows FROM orders GROUP BY o_custkey),
tot AS (SELECT CAST(sum(key_rows) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS nkeys FROM counts)
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(key_rows AS BIGINT) AS key_rows,
       round(key_rows / total, 8) AS share,
       round(key_rows / (total / nkeys), 6) AS skew_factor,
       CAST(ceil(key_rows / (total / nkeys)) AS BIGINT) AS suggested_salt
FROM counts CROSS JOIN tot
ORDER BY key_rows DESC, o_custkey ASC
LIMIT 10
"""


QUERIES["q94_skew_report"] = QueryDef(
    q94_skew_report, Q94_SQL, "AQE/skew diagnostics (§4.2 welfare-ministry shape)"
)


# --------------------------------------------------------------------------
# q101 — snapshot diff: the CDC view between two table versions
# --------------------------------------------------------------------------

def q101_snapshot_diff(spark, sf_dir):
    """operators/snapshot_diff.py over two constructed versions of the
    orders table: the old snapshot is missing the %13 slice (→ added),
    carries +1.0 stale totalprices on the %7 slice (→ changed) and has a
    synthetic %17 slice with shifted keys absent from the new snapshot
    (→ removed). One PK-keyed full-outer join comparing a content hash; the
    oracle derives the verdicts from the construction rules directly."""
    from ..operators.snapshot_diff import snapshot_diff  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    real_old = o.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    synthetic = (
        o.filter((F.col("o_orderkey") % 13 != 0) & (F.col("o_orderkey") % 17 == 0))
        .withColumn("o_orderkey", F.col("o_orderkey") + 1000000000)
    )
    old = real_old.unionByName(synthetic)
    out = snapshot_diff(old, o, "o_orderkey", ["o_orderstatus", "o_totalprice"])
    return out.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"), "change"
    )


Q101_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, 'added' AS change
FROM orders WHERE o_orderkey % 13 = 0
UNION ALL
SELECT CAST(o_orderkey AS BIGINT), 'changed'
FROM orders WHERE o_orderkey % 13 != 0 AND o_orderkey % 7 = 0
UNION ALL
SELECT CAST(o_orderkey + 1000000000 AS BIGINT), 'removed'
FROM orders WHERE o_orderkey % 13 != 0 AND o_orderkey % 17 = 0
"""


QUERIES["q101_snapshot_diff"] = QueryDef(
    q101_snapshot_diff, Q101_SQL, "K6-ext snapshot CDC diff (update_table:28-52)"
)


# --------------------------------------------------------------------------
# q106 — enum map with raise (F27) + data envelope roundtrip (F28)
# --------------------------------------------------------------------------

_PRIORITY_HE = {
    "1-URGENT": "דחוף",
    "2-HIGH": "גבוה",
    "3-MEDIUM": "בינוני",
    "4-NOT SPECIFIED": "לא צוין",
    "5-LOW": "נמוך",
}


def q106_enum_envelope(spark, sf_dir):
    """F27 + F28 composed: order priorities map through a strict literal
    enum (unknown vocabulary raises — the reference's fail-fast assert,
    operators/entities/__init__.py:396-520) and the mapped row rides a
    pack/unpack data-envelope roundtrip (srm_tools/processors.py:20-50) —
    the oracle is the plain CASE mapping, so a hash match proves both the
    mapping and that the envelope is lossless."""
    from ..operators.relational import enum_map, pack_data, unpack_data  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    mapped = o.withColumn(
        "priority_he", enum_map(F.col("o_orderpriority"), _PRIORITY_HE, strict=True)
    )
    packed = pack_data(mapped, ["o_orderpriority", "priority_he"])
    out = unpack_data(packed)
    return out.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
        "priority_he",
    )


Q106_SQL = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderpriority,
       CASE o_orderpriority
         WHEN '1-URGENT' THEN 'דחוף'
         WHEN '2-HIGH' THEN 'גבוה'
         WHEN '3-MEDIUM' THEN 'בינוני'
         WHEN '4-NOT SPECIFIED' THEN 'לא צוין'
         WHEN '5-LOW' THEN 'נמוך'
       END AS priority_he
FROM orders
"""


QUERIES["q106_enum_envelope"] = QueryDef(
    q106_enum_envelope, Q106_SQL, "F27 enum map w/ raise + F28 data envelope"
)


# --------------------------------------------------------------------------
# q107 — urls → structs (F2)
# --------------------------------------------------------------------------

def q107_urls_parse(spark, sf_dir):
    """F2: ``href#title`` lines → url entries (reference helpers.py:23-29 —
    rsplit on the LAST '#', default title for bare hrefs). Synthesized
    two-line inputs per customer exercise both branches; entries are
    exploded to plain columns so the oracle compares values, not struct
    renderings."""
    from ..functions.cleaning import transform_urls  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    raw = F.concat(
        F.lit("https://site.example/c/"), F.col("c_custkey"),
        F.lit("#Home page\nhttps://alt.example/c/"), F.col("c_custkey"),
    )
    parsed = c.withColumn("entry", F.explode(transform_urls(raw)))
    return parsed.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("entry.href").alias("href"),
        F.col("entry.title").alias("title"),
    )


Q107_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       'https://site.example/c/' || CAST(c_custkey AS VARCHAR) AS href,
       'Home page' AS title
FROM customer
UNION ALL
SELECT CAST(c_custkey AS BIGINT),
       'https://alt.example/c/' || CAST(c_custkey AS VARCHAR),
       'קישור'
FROM customer
"""


QUERIES["q107_urls_parse"] = QueryDef(
    q107_urls_parse, Q107_SQL, "F2 urls→structs (helpers.py:23-29)"
)


# --------------------------------------------------------------------------
# q108 — clean_org_name (F3): legal-suffix/stopword strip parity
# --------------------------------------------------------------------------

def q108_clean_org_name(spark, sf_dir):
    """F3: Hebrew legal-suffix and stopword cleanup
    (srm_tools/data_cleaning.py:5-24) over synthesized org names
    ('עמותת מרכז <name> (ע״ר)'). The SQL twin is GENERATED from the same
    suffix/stopword lists in the same interleaved order (replace →
    edge-trim per suffix), so the two chains cannot drift apart."""
    from ..functions.cleaning import clean_org_name  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    raw = F.concat(F.lit("עמותת מרכז "), F.col("c_name"), F.lit(" (ע״ר)"))
    return c.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        clean_org_name(raw).alias("org_name"),
    )


def _q108_sql() -> str:
    from ..functions.cleaning import _ORG_STOPWORDS, _ORG_SUFFIXES  # noqa: PLC0415

    expr = "'עמותת מרכז ' || c_name || ' (ע״ר)'"
    for sfx in _ORG_SUFFIXES:
        lit = sfx.replace("'", "''")
        expr = f"replace({expr}, '{lit}', '')"
        expr = f"regexp_replace({expr}, '^[,.()\\s]+|[,.()\\s]+$', '', 'g')"
    for word in _ORG_STOPWORDS:
        lit = word.replace("'", "''")
        expr = f"replace({expr}, '{lit}', '')"
    expr = f"regexp_replace({expr}, '^[ \\-,\\n\\t]+|[ \\-,\\n\\t]+$', '', 'g')"
    return (
        "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, "
        + expr
        + " AS org_name FROM customer"
    )


QUERIES["q108_clean_org_name"] = QueryDef(
    q108_clean_org_name, _q108_sql(), "F3 clean_org_name (data_cleaning.py:5-24)"
)


# --------------------------------------------------------------------------
# q119 — bucketed co-located join: the exchange-free warehouse layout
# --------------------------------------------------------------------------

_Q119_ID = __import__("itertools").count()


def q119_bucketed_agg_plan(spark, sf_dir):
    """Build the bucketed layout + co-located join plan WITHOUT materializing
    — returns (agg_df, orders_table, customer_table). The plan test pins the
    zero-exchange join shape on agg_df directly; callers must drop the two
    catalog tables once done."""
    from ..session import scratch_dir  # noqa: PLC0415
    from ..sinks.warehouse import write_bucketed  # noqa: PLC0415

    i = next(_Q119_ID)
    base = scratch_dir("srm_q119")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    to, tc = f"q119_orders_{i}", f"q119_cust_{i}"
    write_bucketed(o, to, ["o_custkey"], num_buckets=8, sort_cols=["o_custkey"], path=base + "/o")
    write_bucketed(c, tc, ["c_custkey"], num_buckets=8, sort_cols=["c_custkey"], path=base + "/c")
    j = spark.table(to).hint("merge").join(
        spark.table(tc), F.col("o_custkey") == F.col("c_custkey")
    )
    agg = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_price"),
    )
    return agg, to, tc, base


def q119_bucketed_join(spark, sf_dir):
    """The warehouse layout paying off (sinks/warehouse.py:write_bucketed):
    orders and customer are written bucketed + bucket-sorted on the join key
    with the same bucket count, then sort-merge-joined — each bucket pair is
    a co-located merge, ZERO exchanges on the join (pinned in
    tests/test_plans.py; the merge hint keeps the small demo side from
    degenerating to broadcast, which would bypass the layout under test).
    At 100 TB this is the difference between re-shuffling the fact table on
    every join and never shuffling it at all. The oracle joins the raw
    tables — the layout must not change a single value."""
    agg, to, tc, base = q119_bucketed_agg_plan(spark, sf_dir)
    # materialize the tiny aggregate, then drop the per-run catalog tables so
    # repeated bench/correctness runs don't accumulate metastore entries
    out_path = base + "/agg"
    agg.write.mode("overwrite").parquet(out_path)
    spark.sql(f"DROP TABLE IF EXISTS {to}")
    spark.sql(f"DROP TABLE IF EXISTS {tc}")
    return spark.read.parquet(out_path)


Q119_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


QUERIES["q119_bucketed_join"] = QueryDef(
    q119_bucketed_join, Q119_SQL,
    "bucketed co-located join: exchange-free fact-dimension merge",
)
