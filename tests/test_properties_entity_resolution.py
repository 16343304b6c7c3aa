"""Property test for block-capped entity resolution: the salted path must
equal the plain path for every corpus and every cap."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_name = st.lists(st.sampled_from(["aa", "ab", "ba"]), min_size=1, max_size=3)


@settings(**_SETTINGS)
@given(st.lists(_name, min_size=1, max_size=12), st.integers(min_value=1, max_value=4))
def test_entity_resolution_cap_invariant(spark, names, cap):
    # The salted path must equal the plain path for EVERY corpus and EVERY
    # cap — including caps far below the largest block.
    from pyspark.sql import functions as F

    from srm_etl_spark.operators.relational import resolve_entities

    recs = spark.createDataFrame(
        [(i, " ".join(n)) for i, n in enumerate(names)],
        "record_id long, nm string",
    )
    blk = F.split(F.col("nm"), " ").getItem(0)
    plain = sorted(
        map(tuple, resolve_entities(recs, "nm", "record_id", blk, max_edits=1).collect())
    )
    capped = sorted(
        map(
            tuple,
            resolve_entities(
                recs, "nm", "record_id", blk, max_edits=1, max_block_size=cap
            ).collect(),
        )
    )
    assert plain == capped
