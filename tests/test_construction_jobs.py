"""Plan construction launches no Spark job for what the driver already holds:
a parquet footer (``load_table``), literal rows (``local_table``), or the
schema of a version the engine has just written (q137, streaming staging)."""

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from srm_etl_spark.sources.tables import TABLES, _footer, _spark_struct, load_table, local_table

def _next_job_id(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _jobs(spark, fn):
    before = _next_job_id(spark)
    out = fn()
    return _next_job_id(spark) - before, out


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_table_schema_equals_inference(spark, sf_dir, scale):
    sf = os.path.join(os.path.dirname(sf_dir), scale)
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf}/{name}.parquet").schema
        assert load_table(spark, sf, name, spread=False).schema == inferred, (sf, name)


def test_footer_schema_types_equal_inference(spark, tmp_path):
    path = str(tmp_path / "mixed.parquet")
    ts = datetime.datetime(2024, 1, 1, 1, 2, 3, 456789)
    pq.write_table(
        pa.table({
            "ns": pa.array([ts], pa.timestamp("ns")),
            "us": pa.array([ts], pa.timestamp("us")),
            "tz": pa.array([ts], pa.timestamp("us", tz="Asia/Jerusalem")),
            "d": pa.array([datetime.date(2024, 1, 2)], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.23")], pa.decimal128(10, 2)),
            "lst": pa.array([[1.0, None]], pa.list_(pa.float32())),
            "st": pa.array([{"a": 1, "b": "x"}], pa.struct([("a", pa.int16()), ("b", pa.string())])),
            "i8": pa.array([1], pa.int8()),
        }),
        path,
    )
    st = os.stat(path)
    arrow_schema, nanos = _footer(path, st.st_mtime_ns, st.st_size)
    assert nanos == ("ns",)
    # the raw read schema, before load_table rewrites nanos longs to micros
    assert _spark_struct(arrow_schema, ntz=True) == spark.read.parquet(path).schema
    df = load_table(spark, str(tmp_path), "mixed", spread=False)
    assert dict(df.dtypes)["ns"] == "timestamp"
    assert df.first()["ns"] == ts


@pytest.mark.parametrize(
    "table, write_opts",
    [
        (pa.table({"u": pa.array([1], pa.uint32())}), {}),
        (pa.table({"m": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64()))}), {}),
        # INT96 reads back from the footer as timestamp[ns], but Spark reads
        # it as a timestamp, not as nanosAsLong's bigint
        (
            pa.table({"t": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ns"))}),
            {"use_deprecated_int96_timestamps": True},
        ),
    ],
)
def test_uncovered_footer_types_fall_back_to_inference(spark, tmp_path, table, write_opts):
    path = str(tmp_path / "t.parquet")
    pq.write_table(table, path, **write_opts)
    inferred = spark.read.parquet(path)
    df = load_table(spark, str(tmp_path), "t", spread=False)
    assert df.schema == inferred.schema
    assert df.collect() == inferred.collect()


def test_load_table_and_local_table_launch_no_jobs(spark, sf_dir):
    n, _ = _jobs(spark, lambda: load_table(spark, sf_dir, "lineitem"))
    assert n == 0
    n, rows = _jobs(spark, lambda: local_table(spark, [("a", 1), ("b", None)], "k string, v int").collect())
    assert n == 0
    assert [tuple(r) for r in rows] == [("a", 1), ("b", None)]


def _literal_tables(spark):
    from srm_etl_spark.pipelines import daycare, entities, es_publish, govsources, mde, meser
    from srm_etl_spark.pipelines import manual_fixes as mf
    from srm_etl_spark.plans import relational, verticals

    return {
        "mf_fixes": (mf.mf_fixes(spark), mf.MF_FIXES),
        "meser_tags": (meser.meser_tag_mapping(spark), meser.MESER_TAG_ROWS),
        "entities_taxonomy": (entities.taxonomy_mapping(spark), entities.TAG_ROWS),
        "mde_categories": (mde.mde_categories(spark), mde.MDE_TAG_ROWS),
        "daycare_orgs": (
            local_table(spark, daycare.DAYCARE_ORG_DIM, "rec_id string, names array<string>"),
            daycare.DAYCARE_ORG_DIM,
        ),
        "tipat_orgs": (
            local_table(spark, govsources.TIPAT_ORGS.items(), "ownership string, org_id string"),
            list(govsources.TIPAT_ORGS.items()),
        ),
        "predefined_places": (
            local_table(
                spark, es_publish.PREDEFINED_PLACES,
                "key string, name array<string>, bounds array<double>, place string",
            ),
            es_publish.PREDEFINED_PLACES,
        ),
        "band_tiers": (
            local_table(spark, relational._TIERS, "tier string, lo double, hi double"),
            relational._TIERS,
        ),
        "curation_fixes": (
            local_table(
                spark, verticals.CFX_FIXES,
                "fix_id string, field string, current_value string, fixed_value string",
            ),
            verticals.CFX_FIXES,
        ),
    }


def test_literal_tables_are_local_scans_with_unchanged_rows(spark):
    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    for name, (df, data) in _literal_tables(spark).items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (name, plan)
        assert rows(df) == rows(spark.createDataFrame(data, df.schema)), name


def test_tag_mapping_builders_are_same_semantics(spark):
    from srm_etl_spark.pipelines import entities, mde, meser

    for build in (meser.meser_tag_mapping, entities.taxonomy_mapping, mde.mde_categories):
        assert build(spark).sameSemantics(build(spark)), build.__name__


def test_apply_manual_fixes_reads_literal_fields_without_jobs(spark, sf_dir):
    from srm_etl_spark.operators.session_cache import release_all
    from srm_etl_spark.pipelines import manual_fixes as mf

    release_all(spark)
    # the first call builds the (lazy) reference-set pin; the repeat hits it,
    # so what is left is the driver-side read of the fixable fields
    mf.apply_manual_fixes(mf.mf_rows(spark, sf_dir), mf.mf_fixes(spark), strict=False)
    n, _ = _jobs(
        spark,
        lambda: mf.apply_manual_fixes(mf.mf_rows(spark, sf_dir), mf.mf_fixes(spark), strict=False),
    )
    release_all(spark)
    assert n == 0


def test_q137_batches_keep_contents_and_land_empty_buckets(spark, tmp_path):
    from srm_etl_spark.plans.verticals import _stage_batches

    ids = ["10", "11", "23", "34", "46", "5x", "70"]  # no id ends in 7-9
    fetched = local_table(spark, [(i,) for i in ids], "id string")
    staged = _stage_batches(spark, fetched, str(tmp_path))
    got = [sorted(pq.read_table(p).column("id").to_pylist()) for p in staged]
    assert got == [["10", "11", "23", "70"], ["34", "46"], [], sorted(ids)]
    assert [pq.read_schema(p).names for p in staged] == [["id"]] * 4


@pytest.mark.parametrize("recovery", [False, True])
def test_q137_matches_oracle(spark, sf_dir, recovery, monkeypatch):
    import duckdb

    from srm_etl_spark.plans import REGISTRY

    if recovery:
        monkeypatch.setenv("SPARK_GRAFT_STREAM_RECOVERY", "1")
    q = REGISTRY["q137_meser_streaming_staging"]
    got = sorted(tuple(r) for r in q.spark(spark, sf_dir).collect())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(q.oracle)
    cols = [d[0] for d in res.description]
    want = sorted(
        tuple(dict(zip(cols, r))[c] for c in ("id", "source", "status")) for r in res.fetchall()
    )
    assert got == want
    assert got
