"""DoReMi-lite domain reweighting (operators/doremi.py, arXiv:2305.10429)."""

import math

import pytest

from srm_etl_spark.operators.doremi import doremi_weights


def test_doremi_weights_hand_computed(spark):
    # two disjoint-vocabulary domains -> every bigram count table coincides
    # between the global and domain models except the vocabulary size V, so
    # the excess loss is analytic:
    #   X: one doc "a b"          -> excess = ln( (c1+V_g) / (c1+V_x) ) = ln(6/3) = ln 2
    #   Y: one doc "c d c d e"    -> excess = ln(7/5)  (same cancellation per bigram)
    docs = spark.createDataFrame(
        [(1, "a b", "X"), (2, "c d c d e", "Y")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in doremi_weights(docs).collect()}
    ex_x, ex_y = math.log(2.0), math.log(7.0 / 5.0)
    assert out["X"]["excess"] == pytest.approx(ex_x, abs=2e-4)
    assert out["Y"]["excess"] == pytest.approx(ex_y, abs=2e-4)
    # softmax of the excesses (temperature 1)
    zx, zy = math.exp(ex_x), math.exp(ex_y)
    assert out["X"]["weight"] == pytest.approx(zx / (zx + zy), abs=2e-4)
    assert out["Y"]["weight"] == pytest.approx(zy / (zx + zy), abs=2e-4)
    assert out["X"]["weight"] + out["Y"]["weight"] == pytest.approx(1.0, abs=1e-5)
    # the domain model always fits its own docs at least as well here
    # (same counts, smaller V) -> positive excess, clipped at zero never hit
    assert out["X"]["loss_dom"] < out["X"]["loss_ref"]


def test_doremi_null_domain_kept_and_oracle_parity(spark):
    # NULL-source docs must survive as their own domain (the sentinel
    # coalesce), come back with source=NULL, and — the r12 ADVICE gap —
    # the q168 DuckDB oracle must agree on a corpus that actually CONTAINS
    # a NULL domain (testdata has none, so the driver gate alone never
    # exercises this path).
    import duckdb
    import pandas as pd

    rows = [(1, "a b a b", "X"), (2, "c d c e", None), (3, "a b c", "X")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in doremi_weights(docs).collect()}
    assert set(got) == {"X", None}
    assert got[None]["n_docs"] == 1
    assert sum(r["weight"] for r in got.values()) == pytest.approx(1.0, abs=1e-5)

    from srm_etl_spark.plans.text_dedup import Q168_SQL

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    oracle = {
        r[0]: r for r in con.execute(Q168_SQL).fetchall()
    }  # source, n_docs, loss_ref, loss_dom, excess, weight
    assert set(oracle) == {"X", None}
    for src, row in got.items():
        o = oracle[src]
        assert row["n_docs"] == o[1]
        assert row["loss_ref"] == pytest.approx(o[2], abs=1e-6)
        assert row["loss_dom"] == pytest.approx(o[3], abs=1e-6)
        assert row["excess"] == pytest.approx(o[4], abs=1e-6)
        assert row["weight"] == pytest.approx(o[5], abs=1e-6)


def test_doremi_single_domain_degenerates_to_uniform(spark):
    # one domain: the domain model IS the reference model -> excess 0,
    # weight 1 (the paper's uniform starting point)
    docs = spark.createDataFrame(
        [(1, "a b c", "only"), (2, "b c d", "only")],
        "doc_id long, text string, source string",
    )
    row = doremi_weights(docs).collect()[0]
    assert row["excess"] == 0.0 and row["weight"] == 1.0
    assert row["loss_ref"] == row["loss_dom"] and row["n_docs"] == 2
