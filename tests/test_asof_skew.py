"""Tests for the as-of join and skew operators (operators/asof.py, skew.py)."""

import datetime as dt

from pyspark.sql import functions as F

from srm_etl_spark.operators.asof import asof_join
from srm_etl_spark.operators.skew import salted_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_backward_basic(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "a"),
            (1, _ts("2024-01-01T12:00:00"), "b"),
            (2, _ts("2024-01-01T09:00:00"), "c"),
        ],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T09:30:00"), 10.0),
            (1, _ts("2024-01-01T11:00:00"), 20.0),
            (2, _ts("2024-01-01T09:30:00"), 30.0),  # after the only left row
        ],
        "k long, rts timestamp, px double",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts", payload=["px"])
    got = {(r.k, r.tag): r.px for r in out.collect()}
    assert got == {(1, "a"): 10.0, (1, "b"): 20.0, (2, "c"): None}


def test_asof_inclusive_vs_strict(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 5.0)], "k long, rts timestamp, px double"
    )
    inclusive = asof_join(left, right, "k", "ts", "rts", ["px"]).collect()
    strict = asof_join(left, right, "k", "ts", "rts", ["px"], strict=True).collect()
    assert inclusive[0].px == 5.0
    assert strict[0].px is None


def test_asof_keeps_all_left_rows_and_columns(spark, sf_dir):
    from srm_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("pv")
    )
    rest = ev.filter(F.col("event_type") != "purchase")
    out = asof_join(rest, purchases, "user_id", "ts", "p_ts", ["pv"])
    assert out.count() == rest.count()
    assert set(rest.columns) | {"pv"} == set(out.columns)


def test_salted_join_matches_plain_join(spark, sf_dir):
    from srm_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    seg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plain = (
        ev.join(seg, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(ev, seg, on="user_id", salt=4, salt_by="event_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_skew_report_identifies_heavy_key(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from srm_etl_spark.operators.skew import skew_report

    rows = [(1,)] * 90 + [(2,)] * 5 + [(3,)] * 5
    df = spark.createDataFrame(rows, "k long")
    out = skew_report(df, "k", top=2).collect()
    assert [r.k for r in out] == [1, 2]
    top = out[0]
    assert top.key_rows == 90
    assert abs(top.share - 0.9) < 1e-12
    # mean key weight is 100/3; 90 is 2.7x the mean
    assert abs(top.skew_factor - 90 / (100 / 3)) < 1e-9
    assert top.suggested_salt == 3
