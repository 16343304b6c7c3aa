"""Registry output-schema contract: every query must emit SCALAR columns only.

The external correctness gate canonicalizes each query's output through
``pandas.sort_values``, which raises ``TypeError: unhashable type`` on list
cells — an array/map/struct column in a final projection makes the query
un-checkable at the gate (round-5 failure mode: q127/q128/q132-q136).  This
test makes that class of failure mechanically impossible: the whole registry
is schema-audited, and any complex-typed output column fails CI before the
driver ever sees it.  Fix = ``plans.common.stringify_arrays`` on the Spark
side paired with ``scalarized_sql`` on the oracle.

Schema resolution is lazy — no job runs for ordinary queries — so the audit
covers all ~137 entries cheaply.  The handful of eager queries (streaming
replays, incremental refreshes that materialize scratch state) do execute;
they run at sf0.001.
"""

import pytest

from srm_etl_spark.plans import REGISTRY

COMPLEX = ("array", "map", "struct")


@pytest.mark.parametrize("name", list(REGISTRY))
def test_output_schema_is_scalar_only(spark, sf_dir, name):
    df = REGISTRY[name].spark(spark, sf_dir)
    bad = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.dataType.typeName() in COMPLEX
    ]
    assert not bad, (
        f"{name} emits complex-typed columns {bad} — the driver gate cannot "
        "canonicalize these; stringify them (plans/common.py) in BOTH the "
        "Spark projection and the oracle SQL"
    )
