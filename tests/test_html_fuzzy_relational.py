"""Tests for html/fuzzy kernels (F5-F8, F24) and relational additions
(F27 enum_map, F28 envelope, A7 implements_merge)."""

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.functions.fuzzy import fuzzy_find
from srm_etl_spark.functions.html import (
    base64_or_passthrough,
    sanitize_html,
    select_text_fields,
)
from srm_etl_spark.operators.relational import (
    enum_map,
    implements_merge,
    pack_data,
    unpack_data,
)


def test_sanitize_html(spark):
    rows = [
        ("<p>שלום &amp; ברוכים</p><li>אחד</li><li>שניים</li>",),
        ("plain text",),
        ("<div>a&nbsp;b</div><h2>head</h2>tail",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "html string")
    got = [r.t for r in df.select(sanitize_html(F.col("html")).alias("t")).collect()]
    assert got == ["שלום & ברוכים\nאחד\nשניים", "plain text", "a b\nhead\ntail", ""]


def test_base64_or_passthrough(spark):
    import base64

    valid = base64.b64encode("שלום עולם".encode()).decode("ascii")
    rows = [(valid,), ("not base64!!",), ("אבג",), (None,)]
    df = spark.createDataFrame(rows, "v string")
    got = [r.o for r in df.select(base64_or_passthrough(F.col("v")).alias("o")).collect()]
    assert got == ["שלום עולם", "not base64!!", "אבג", None]


def test_select_text_fields_walks_nested(spark):
    df = spark.createDataFrame(
        [("מרכז העיר", ["תל אביב", "en only"], ("עזרה", 5))],
        "name string, tags array<string>, extra struct<label:string,n:int>",
    )
    out = df.select(select_text_fields(df).alias("toks")).collect()[0].toks
    assert out == sorted({"מרכז", "העיר", "תל", "אביב", "עזרה"})


@pytest.mark.parametrize(
    ("hay", "needle", "expect"),
    [
        ("הרצל 5 תל אביב", "תל אביב", 7),
        ("הרצל 5 תXל אביב", "תל אביב", 7),  # insertion inside
        ("הרצל 5 תל-אביב", "תל אביב", 7),  # substitution
        ("הרצל 5 תלאביב", "תל אביב", 7),  # deletion
        ("הרצל 5", "תל אביב", -1),
        ("", "x", -1),
    ],
)
def test_fuzzy_find(hay, needle, expect):
    assert fuzzy_find(hay, needle) == expect


def test_enum_map_strict_raises(spark):
    df = spark.createDataFrame([("a",), ("zz",)], "v string")
    mapped = df.select(enum_map(F.col("v"), {"a": 1, "b": 2}).alias("m"))
    with pytest.raises(Exception, match="unknown value: zz"):
        mapped.collect()


def test_enum_map_lenient_and_null(spark):
    df = spark.createDataFrame([("a",), ("zz",), (None,)], "v string")
    got = [
        r.m
        for r in df.select(
            enum_map(F.col("v"), {"a": 1, "b": 2}, strict=False).alias("m")
        ).collect()
    ]
    assert got == [1, None, None]


def test_pack_unpack_roundtrip(spark):
    df = spark.createDataFrame([(1, "x", 2.0)], "id long, a string, b double")
    packed = pack_data(df, ["a", "b"])
    assert set(packed.columns) == {"id", "data"}
    unpacked = unpack_data(packed)
    assert sorted(unpacked.columns) == ["a", "b", "id"]
    r = unpacked.collect()[0]
    assert (r.id, r.a, r.b) == (1, "x", 2.0)


def test_implements_merge(spark):
    svc = spark.createDataFrame(
        [
            ("s1", "o1", None),  # implemented by s9 within o1 -> dropped
            ("s1", "o2", None),  # same id, other org -> kept
            ("s9", "o1", "s1"),  # the implementor -> kept
            ("s2", "o1", None),  # untouched -> kept
        ],
        "id string, organization string, implements string",
    )
    kept = {(r.id, r.organization) for r in implements_merge(svc).collect()}
    assert kept == {("s1", "o2"), ("s9", "o1"), ("s2", "o1")}


def test_resolve_entities(spark):
    from pyspark.sql import functions as F

    from srm_etl_spark.operators.relational import resolve_entities

    recs = spark.createDataFrame(
        [
            (1, "acme corp"),
            (2, "acme corp"),     # exact dup of 1
            (3, "acme cor"),      # 1 edit from 1
            (4, "zenith labs"),   # singleton
            (5, "acme corporation"),  # 7 edits: same block, NOT matched
        ],
        "record_id long, nm string",
    )
    blk = F.split(F.col("nm"), " ").getItem(0)
    out = resolve_entities(recs, "nm", "record_id", blk, max_edits=2)
    rows = {r.record_id: r for r in out.collect()}
    assert len(rows) == 5                      # every record assigned
    assert rows[1].entity_id == rows[2].entity_id == rows[3].entity_id == 1
    assert rows[1].entity_size == 3
    assert rows[4].entity_id == 4 and rows[4].entity_size == 1
    assert rows[5].entity_id == 5 and rows[5].entity_size == 1


def test_resolve_entities_block_cap_salt_split_parity(spark):
    # The skew-bounded path (max_block_size) must produce EXACTLY the plain
    # path's entities: every unordered in-block pair is generated once (left
    # role replicates over sub-blocks, right role keeps its own), so a heavy
    # block — here one block holding most of the records — changes task
    # layout, never results.
    from pyspark.sql import functions as F

    from srm_etl_spark.operators.relational import resolve_entities

    rows = [(i, f"name {i // 3}x") for i in range(60)]  # triples, 1 shared block
    rows += [(100 + i, f"other {i}") for i in range(5)]
    recs = spark.createDataFrame(rows, "record_id long, nm string")
    blk = F.split(F.col("nm"), " ").getItem(0)
    plain = resolve_entities(recs, "nm", "record_id", blk, max_edits=2)
    capped = resolve_entities(
        recs, "nm", "record_id", blk, max_edits=2, max_block_size=4
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, capped.collect()))
    assert a == b
    # and the heavy block really was split (S = ceil(60/4) = 15 > 1): the
    # salted PAIR stage carries the explode-over-sequence salt columns —
    # inspected on _blocked_edit_pairs because the entity frame's lineage is
    # truncated by connected_components' checkpoints
    from srm_etl_spark.operators.relational import _blocked_edit_pairs

    capped_pairs = _blocked_edit_pairs(recs, "nm", "record_id", blk, 2, 4)
    plain_pairs = _blocked_edit_pairs(recs, "nm", "record_id", blk, 2, None)
    capped_plan = capped_pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "_nsplit" in capped_plan and "explode" in capped_plan.lower()
    assert "_nsplit" not in plain_pairs._jdf.queryExecution().optimizedPlan().toString()
