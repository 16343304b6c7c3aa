"""Bloom runtime-filter operator (operators/bloom.py)."""

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.operators.bloom import (
    bloom_prefilter,
    bloom_semi_join,
    build_bloom,
    with_bloom_probe,
)

SF = "/root/testdata/sf0.001"


def test_bloom_semi_join_equals_exact_semi_join(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    build = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    exact = (
        c.join(build.distinct(), c.c_custkey == build.o_custkey, "left_semi")
        .select("c_custkey")
        .collect()
    )
    got = (
        bloom_semi_join(c, build, "c_custkey", "o_custkey", num_bits=1 << 14)
        .select("c_custkey")
        .collect()
    )
    assert sorted(r.c_custkey for r in got) == sorted(r.c_custkey for r in exact)


def test_bloom_no_false_negatives(spark):
    df = spark.range(1000).selectExpr("id AS k")
    words = build_bloom(df, "k", num_bits=1 << 12)
    # every built key must pass the probe — bloom filters never drop members
    kept = bloom_prefilter(df, "k", words, 1 << 12).count()
    assert kept == 1000


def test_bloom_prunes_most_non_members(spark):
    members = spark.range(100).selectExpr("id AS k")
    words = build_bloom(members, "k", num_bits=1 << 14)
    probe = spark.range(100000, 110000).selectExpr("id AS k")  # disjoint range
    survivors = with_bloom_probe(probe, "k", words, 1 << 14).filter("_bloom_maybe").count()
    # 2^14 bits / 100 keys: false-positive rate well under 1%
    assert survivors < 100


def test_bloom_empty_build_side(spark):
    c = spark.range(10).selectExpr("id AS k")
    empty = spark.range(0).selectExpr("id AS j")
    out = bloom_semi_join(c, empty, "k", "j", num_bits=1 << 10)
    assert out.count() == 0


def test_bloom_rejects_bad_num_bits(spark):
    df = spark.range(1).selectExpr("id AS k")
    with pytest.raises(ValueError):
        build_bloom(df, "k", num_bits=100)


def test_bloom_probe_is_scan_side(spark):
    """The might-contain predicate must sit in the scan stage (a Filter over
    the FileScan), not after any Exchange — that's the entire point of the
    runtime filter."""
    c = spark.read.parquet(f"{SF}/customer.parquet")
    words = build_bloom(
        spark.range(50).selectExpr("id AS k"), "k", num_bits=1 << 12
    )
    pruned = bloom_prefilter(c, "c_custkey", words, 1 << 12)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("Scan parquet")[0]
