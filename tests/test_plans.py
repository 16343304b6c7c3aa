"""Physical-plan invariants for scale-critical queries.

Correctness gates prove the answers; these tests pin the *plan shapes* that
make the answers affordable at 100 TB: predicate pushdown into the parquet
scan, column pruning, broadcast joins for dimension tables, whole-stage
codegen in the hot path, and the absence of accidental cartesian products.
A regression here is invisible at sf0.01 and catastrophic at cluster scale.
"""

import pytest

from srm_etl_spark.plans import REGISTRY

SF = "/root/testdata/sf0.01"


def _formatted(spark, name):
    df = REGISTRY[name].spark(spark, SF)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def _simple(spark, name):
    df = REGISTRY[name].spark(spark, SF)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return qe.explainString(mode)


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted(spark, "q02_filter_project")
    assert "EqualTo(l_returnflag,R)" in plan, "filter must be pushed into the parquet scan"
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _formatted(spark, "q02_filter_project")
    scan = plan.split("ReadSchema")[1].splitlines()[0]
    # 16-column lineitem pruned to exactly what the query touches
    assert "l_comment" not in scan and "l_shipdate" not in scan
    assert "l_extendedprice" in scan


def test_dimension_joins_are_broadcast(spark):
    for name in ["q04_revenue_by_nation", "q03_left_join_enrich"]:
        plan = _simple(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dimension join must broadcast"
        assert "CartesianProduct" not in plan


def test_no_cartesian_products(spark):
    # band join q52 legitimately uses BroadcastNestedLoopJoin (tiny broadcast
    # side); a CartesianProduct — both sides shuffled everywhere — is never OK.
    for name in [
        "q01_pricing_summary", "q05_brand_agg", "q07_collect_set_join",
        "q09_two_level_agg", "q11_window_topk", "q28_jaccard_pairs",
        "q45_embedding_near_dup", "q52_band_join",
    ]:
        assert "CartesianProduct" not in _simple(spark, name), name


def test_band_join_broadcasts_tiny_dim(spark):
    assert "BroadcastNestedLoopJoin" in _simple(spark, "q52_band_join")


def test_hot_path_stays_vectorized_and_codegen_capable(spark):
    # Under AQE the '*(N)' codegen markers only appear in the finalized plan,
    # so assert the ingredients instead: vectorized parquet reads
    # (Batched: true) and hash aggregation (codegen-capable; Sort/Object
    # aggregate would mean the agg fell off the fast path).
    for name in ["q01_pricing_summary", "q04_revenue_by_nation"]:
        plan = _formatted(spark, name)
        assert "Batched: true" in plan, f"{name}: scan not vectorized"
        assert "HashAggregate" in plan, f"{name}: aggregation not hash-based"
        assert "SortAggregate" not in plan, f"{name}: SortAggregate in hot path"


def test_windows_are_partitioned(spark):
    # every Window in the inventory must carry a partition spec — an empty
    # one serializes the whole dataset through one task
    for name in ["q11_window_topk", "q13_latest_per_user", "q17_sessionize"]:
        plan = _simple(spark, name)
        for line in plan.splitlines():
            if "Window " in line and "windowspecdefinition" in line:
                assert "windowspecdefinition()" not in line, f"{name}: unpartitioned window"


def test_aqe_enabled_in_engine_session(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


@pytest.mark.parametrize("name", ["q26_minhash_dedup", "q62_dup_clusters"])
def test_heavy_dedup_plans_have_no_cartesian(spark, name):
    # these build multi-stage DAGs (persist + self-joins / iterative labels);
    # q62 executes propagation rounds while building, so just assert the
    # returned plan is join-keyed, not cartesian
    assert "CartesianProduct" not in _simple(spark, name), name


def test_card_search_filters_below_derive_dag(spark):
    # q36's city predicate must reach the nation scan as a pushed filter (the
    # dimension prune that replaces partition pruning when the search runs
    # from source instead of a partitioned card_data write), and the response
    # predicate must sit on the part scan — i.e. BELOW the dedup window and
    # the service × branch fan-out, not above the finished card table.
    plan = _formatted(spark, "q36_card_search")
    assert "EqualTo(n_name,NATION_3)" in plan, "city filter not pushed to nation scan"
    assert plan.count("responses:economy") >= 1, "response filter missing from plan"


def test_enumerate_rows_scale_path_has_no_global_sort(spark):
    # the partitioned variant must not serialize the table through a single
    # unpartitioned window
    from pyspark.sql import functions as F

    from srm_etl_spark.operators.windows import enumerate_rows_scalable

    df = spark.range(0, 1000, 1, 8).withColumn("v", F.col("id") % 7)
    out = enumerate_rows_scalable(df, order_by=["v", "id"], out_col="idx")
    plan = out._jdf.queryExecution().simpleString()
    assert "windowspecdefinition()" not in plan


@pytest.mark.parametrize(
    "name",
    ["q74_autocomplete_flow", "q75_card_surface", "q76_sequence_packing", "q78_curation_funnel"],
)
def test_round4_composed_plans_have_no_cartesian(spark, name):
    assert "CartesianProduct" not in _simple(spark, name), name


def test_sequence_packing_window_is_stratified(spark):
    plan = _simple(spark, "q76_sequence_packing")
    for line in plan.splitlines():
        if "Window " in line and "windowspecdefinition" in line:
            assert "windowspecdefinition()" not in line, "unstratified packing window"


def test_card_search_on_partitioned_write_prunes_partitions(spark, tmp_path):
    # the written-table twin of q36: card_data published partitioned by city,
    # then searched — the city predicate must become a PartitionFilter (whole
    # directories skipped), the 100 TB story for a precomputed card table
    from srm_etl_spark.pipelines.derive import run_derive

    cards = run_derive(spark, SF)["card_data"]
    path = str(tmp_path / "card_data_by_city")
    cards.write.mode("overwrite").partitionBy("branch_city").parquet(path)

    from pyspark.sql import functions as F

    got = spark.read.parquet(path).filter(
        (F.col("branch_city") == "NATION_3")
        & F.col("response_ids").contains("responses:economy")
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "branch_city" in pf and "NATION_3" in pf, f"city not a partition filter: {pf}"
    # and the result matches the from-source search
    from srm_etl_spark.pipelines.derive import card_search

    direct = card_search(spark, SF, "NATION_3", "responses:economy")
    assert sorted(r["card_key"] for r in got.select("card_key").collect()) == sorted(
        r["card_key"] for r in direct.select("card_key").collect()
    )


def test_bucketed_join_has_no_join_exchange(spark):
    # the registry entry materializes + drops its catalog tables; pin the
    # join plan on the pre-materialization frame the helper exposes
    from srm_etl_spark.plans.relational import q119_bucketed_agg_plan

    agg, to, tc, _ = q119_bucketed_agg_plan(spark, SF)
    qe = agg._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = qe.explainString(mode)
    spark.sql(f"DROP TABLE IF EXISTS {to}")
    spark.sql(f"DROP TABLE IF EXISTS {tc}")
    join_part = plan.split("SortMergeJoin")[1] if "SortMergeJoin" in plan else ""
    assert "SortMergeJoin" in plan, "bucketed layout must keep the sort-merge join"
    assert "Bucketed: true" in plan
    assert join_part.count("Exchange") == 0, "co-bucketed join must not shuffle either side"
    # the only exchange in the whole plan is the final aggregate's
    assert plan.count("Exchange") == 1


def test_registry_collector_rejects_a_name_two_families_register():
    from types import SimpleNamespace

    from srm_etl_spark.plans import _collect

    a = SimpleNamespace(__name__="a", QUERIES={"q1_x": 1})
    b = SimpleNamespace(__name__="b", QUERIES={"q1_x": 2})
    with pytest.raises(ValueError, match="q1_x"):
        _collect([a, b])


def test_every_query_name_is_registered_once():
    """The collector only sees dicts, so a name written twice inside one
    family (a repeated dict key, or a second ``QUERIES[name] =``) would keep
    the last entry silently; count the registrations in the sources instead."""
    import ast
    import inspect

    from srm_etl_spark.plans import FAMILIES

    names = []
    for fam in FAMILIES:
        for node in ast.walk(ast.parse(inspect.getsource(fam))):
            if (isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name)
                    and node.value.id == "QUERIES" and isinstance(node.ctx, ast.Store)):
                names.append(node.slice.value)
            elif isinstance(node, ast.Call) and ast.unparse(node.func) == "QUERIES.update":
                names += [k.value for k in node.args[0].keys]
    assert len(names) == len(set(names)) == len(REGISTRY)
