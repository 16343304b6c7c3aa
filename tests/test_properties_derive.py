"""Property tests for the two card_data_full rs/mode formulations (joined vs
per_row): they must agree on EVERY corpus — including the shapes the
fixtures never produce (duplicate situation ids within one card, empty/NULL
id arrays, responses without a category separator).

The test drives the formulations through a minimal flat_table-shaped frame
(only the columns the rs/mode legs read) so hypothesis examples stay tiny.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tiny vocabularies so hypothesis produces real cross-card pair-frequency
# structure. Every response id carries the ':'-separated category — ids
# without one would make split(...).getItem(1) throw under ANSI mode in BOTH
# formulations (out-of-bounds array index), which is the engine's documented
# input contract, not a divergence to test.
_resp = st.sampled_from(
    ["responses:econ:aid", "responses:health:care", "responses:econ:loan"]
)
_sit = st.sampled_from(
    ["human_situations:age:youth", "human_situations:lang:arabic", "human_situations:age:old"]
)
# arrays may carry NULL ELEMENTS (not just be NULL): an earlier
# divergence was per_row's array_position(col, NULL) -> NULL tie-break vs
# joined's real min position — generate them so the parity tests reach it
_resp_arr = st.one_of(
    st.none(), st.lists(st.one_of(st.none(), _resp), min_size=0, max_size=4)
)
_sit_arr = st.one_of(
    st.none(), st.lists(st.one_of(st.none(), _sit), min_size=0, max_size=4)
)
_card = st.tuples(_resp_arr, _sit_arr)
_corpus = st.lists(_card, min_size=1, max_size=8)

_FT_SCHEMA = StructType(
    [
        StructField("branch_id", StringType()),
        StructField("service_id", StringType()),
        StructField("service_name", StringType()),
        StructField("service_description", StringType()),
        StructField("service_boost", DoubleType()),
        StructField("branch_name", StringType()),
        StructField("branch_city", StringType()),
        StructField("branch_address", StringType()),
        StructField("organization", StringType()),
        StructField("organization_name", StringType()),
        StructField("organization_short_name", StringType()),
        StructField("organization_kind", StringType()),
        StructField("organization_phone", StringType()),
        StructField("organization_branch_count", LongType()),
        StructField("national_service", BooleanType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("service_last_modified", StringType()),
        StructField("branch_last_modified", StringType()),
        StructField("branch_operating_unit", StringType()),
        StructField("branch_location_accurate", BooleanType()),
        StructField("responses", ArrayType(StringType())),
        StructField("situations", ArrayType(StringType())),
    ]
)

_RS_COLS = [
    "card_key",
    "rs_score",
    "situations_scored",
    "situation_scores_micro",
    "response_category",
]


def _ft(spark, corpus):
    rows = [
        (
            f"b{i}", f"s{i}", f"svc {i}", None, 0.0, f"br {i}", "עיר", "רחוב 1 עיר",
            f"org{i}", f"ארגון {i}", None, "עמותה", None, 1, True, 32.0, 34.0,
            None, None, None, True, resp, sit,
        )
        for i, (resp, sit) in enumerate(corpus)
    ]
    return spark.createDataFrame(rows, _FT_SCHEMA)


@settings(**_SETTINGS)
@given(_corpus)
def test_rs_modes_agree_on_adversarial_corpora(spark, corpus):
    from srm_etl_spark.pipelines.derive import card_data_full

    ft = _ft(spark, corpus)
    joined = card_data_full(ft, max_score=1.5, rs_mode="joined")
    per_row = card_data_full(ft, max_score=1.5, rs_mode="per_row")
    a = sorted(map(tuple, joined.select(_RS_COLS).collect()))
    b = sorted(map(tuple, per_row.select(_RS_COLS).collect()))
    assert a == b


@settings(**_SETTINGS)
@given(_corpus)
def test_per_row_fallback_threshold_matches(spark, corpus):
    # score_map_max_entries=0 forces the per_row call down the joined
    # fallback — it must equal the explicit joined mode bit for bit
    from srm_etl_spark.pipelines.derive import card_data_full

    ft = _ft(spark, corpus)
    fb = card_data_full(ft, max_score=1.5, rs_mode="per_row", score_map_max_entries=0)
    jd = card_data_full(ft, max_score=1.5, rs_mode="joined")
    assert sorted(map(tuple, fb.select(_RS_COLS).collect())) == sorted(
        map(tuple, jd.select(_RS_COLS).collect())
    )
