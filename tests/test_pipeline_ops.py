"""Round-4 LLM-pipeline operators: decontamination, PageRank, k-means,
chunking (operators/decontaminate.py, graph.py:pagerank, similarity.py:kmeans,
chunking.py)."""

import math

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.operators.chunking import chunk_documents
from srm_etl_spark.operators.decontaminate import contamination_report, decontaminate
from srm_etl_spark.operators.graph import pagerank
from srm_etl_spark.operators.similarity import kmeans


# --- decontamination --------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_counts_distinct_trigram_overlap(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # shares grams
            (2, "completely different words here entirely now"),
            (3, "the quick brown fox appears again today"),  # partial overlap
        ],
    )
    ev = _docs(spark, [(100, "the quick brown fox jumps high")])
    rep = {r.doc_id: r for r in contamination_report(corpus, ev, min_overlap=1).collect()}
    # eval trigrams: {the quick brown, quick brown fox, brown fox jumps, fox jumps high}
    assert rep[1].matched_ngrams == 3  # first three
    assert rep[3].matched_ngrams == 2  # first two
    assert 2 not in rep
    assert rep[1].total_ngrams == 7


def test_decontaminate_drops_flagged_docs(spark):
    corpus = _docs(
        spark,
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota kappa")],
    )
    ev = _docs(spark, [(9, "alpha beta gamma delta")])
    kept = [r.doc_id for r in decontaminate(corpus, ev, min_overlap=2).collect()]
    assert kept == [2]


def test_contamination_threshold_respected(spark):
    corpus = _docs(spark, [(1, "alpha beta gamma unrelated tail words")])
    ev = _docs(spark, [(9, "alpha beta gamma")])
    # only 1 shared trigram -> below min_overlap=2
    assert contamination_report(corpus, ev, min_overlap=2).count() == 0
    assert contamination_report(corpus, ev, min_overlap=1).count() == 1


# --- pagerank ---------------------------------------------------------------

def test_pagerank_mass_conserved_on_symmetric_graph(spark):
    # symmetric triangle + pendant, both directions: no dangling mass
    e = [(a, b) for a, b in [(1, 2), (2, 3), (3, 1), (3, 4)]]
    edges = spark.createDataFrame(e + [(b, a) for a, b in e], "src long, dst long")
    pr = {r.node: r.pr for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    # degree order: node 3 (deg 3) > nodes 1,2 (deg 2) > node 4 (deg 1)
    assert pr[3] > pr[1] == pytest.approx(pr[2])
    assert pr[2] > pr[4]


def test_pagerank_uniform_on_regular_graph(spark):
    # 4-cycle, symmetrized: every node identical by symmetry
    e = [(1, 2), (2, 3), (3, 4), (4, 1)]
    edges = spark.createDataFrame(e + [(b, a) for a, b in e], "src long, dst long")
    pr = [r.pr for r in pagerank(edges, iterations=5).collect()]
    assert all(abs(p - 0.25) < 1e-12 for p in pr)


def test_pagerank_one_iteration_formula(spark):
    # star 1->2, 1->3 plus 2->1: hand-checked single iteration
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 1)], "src long, dst long")
    pr = {r.node: r.pr for r in pagerank(edges, iterations=1, damping=0.85).collect()}
    third = 1.0 / 3.0
    t = (1 - 0.85) / 3
    assert pr[1] == pytest.approx(t + 0.85 * third)            # from 2 (outdeg 1)
    assert pr[2] == pytest.approx(t + 0.85 * third / 2)        # from 1 (outdeg 2)
    assert pr[3] == pytest.approx(t + 0.85 * third / 2)


# --- kmeans -----------------------------------------------------------------

def test_kmeans_separates_obvious_clusters(spark):
    pts = [(i, [0.0 + i * 0.01, 0.0]) for i in range(5)] + [
        (10 + i, [10.0 + i * 0.01, 10.0]) for i in range(5)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = kmeans(df, "embedding", "vec_id", k=2, iterations=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
    assert sorted(map(sorted, by_cluster.values())) == [
        [0, 1, 2, 3, 4],
        [10, 11, 12, 13, 14],
    ]


def test_kmeans_deterministic_across_runs(spark):
    rows = [(i, [math.sin(i * 1.7), math.cos(i * 2.3), float(i % 5)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted((r.vec_id, r.cluster) for r in kmeans(df, k=4, iterations=2).collect())
    b = sorted((r.vec_id, r.cluster) for r in kmeans(df, k=4, iterations=2).collect())
    assert a == b


def test_kmeans_tie_breaks_to_lowest_centroid_id(spark):
    # two identical init points: equidistant rows must pick cluster 0
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.cluster for r in kmeans(df, k=2, iterations=1).collect()}
    assert out[0] == 0 and out[1] == 0


# --- chunking ---------------------------------------------------------------

def test_chunking_windows_and_tail(spark):
    text = " ".join(f"w{i}" for i in range(1, 11))  # 10 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        chunk_documents(df, chunk_tokens=4, stride=3).collect(),
        key=lambda r: r.chunk_index,
    )
    # starts: 1, 4, 7, 10
    assert [r.chunk_start for r in out] == [1, 4, 7, 10]
    assert [r.n_chunk_tokens for r in out] == [4, 4, 4, 1]
    assert out[0].chunk_text == "w1 w2 w3 w4"
    assert out[1].chunk_text == "w4 w5 w6 w7"
    assert out[-1].chunk_text == "w10"


def test_chunking_ids_stable_and_distinct(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h")], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_tokens=4, stride=4).collect()
    ids = [r.chunk_id for r in out]
    assert len(set(ids)) == len(ids)  # distinct across docs and windows
    from srm_etl_spark.functions.hashing import hasher_py

    first = next(r for r in out if r.doc_id == 1 and r.chunk_start == 1)
    assert first.chunk_id == hasher_py("1:1")


def test_chunking_empty_and_null_text_yield_no_chunks(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   "), (4, "one")], "doc_id long, text string"
    )
    out = chunk_documents(df).collect()
    assert [r.doc_id for r in out] == [4]


def test_chunking_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(df, stride=-1)


# --- count-min sketch -------------------------------------------------------

def test_cms_estimate_never_underestimates(spark):
    import random

    rnd = random.Random(7)
    keys = [rnd.randint(1, 50) for _ in range(2000)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    from srm_etl_spark.operators.cms import build_cms, cms_estimate

    sketch = build_cms(df, "k", width=64, depth=3)
    exact = df.groupBy("k").count()
    est = cms_estimate(exact, sketch, "k", width=64, depth=3)
    rows = est.collect()
    assert len(rows) == 50
    assert all(r.cms_estimate >= r["count"] for r in rows)


def test_cms_exact_when_no_collisions(spark):
    # few keys, wide sketch: estimates must equal exact counts
    df = spark.createDataFrame([(1,), (1,), (2,), (3,), (3,), (3,)], "k long")
    from srm_etl_spark.operators.cms import build_cms, cms_estimate

    sketch = build_cms(df, "k", width=512, depth=3)
    est = {
        r.k: r.cms_estimate
        for r in cms_estimate(df.distinct(), sketch, "k", width=512, depth=3).collect()
    }
    assert est == {1: 2, 2: 1, 3: 3}


def test_cms_depth_cap(spark):
    df = spark.createDataFrame([(1,)], "k long")
    from srm_etl_spark.operators.cms import build_cms

    with pytest.raises(ValueError):
        build_cms(df, "k", depth=9)


# --- int8 quantization (q85 kernel) -----------------------------------------

def test_quantize_roundtrip_error_bounded(spark):
    from srm_etl_spark.plans.similarity import q85_quantize

    out = q85_quantize(spark, "/root/testdata/sf0.001").collect()
    for r in out:
        # qvec is '|'-joined in the registry projection (driver-gate contract)
        assert all(-127 <= int(q) <= 127 for q in r.qvec.split("|"))
        # reconstruction error per dim is bounded by (0.5/scale)^2
        if r.scale > 0:
            assert r.mse <= (0.5 / r.scale) ** 2 + 1e-12


# --- profiling / drift ------------------------------------------------------

def test_profile_counts_nulls_and_distincts(spark):
    from srm_etl_spark.operators.profiling import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, v string"
    )
    prof = {r.col_name: r for r in profile_table(df).collect()}
    assert prof["id"].n_rows == 4 and prof["id"].n_nulls == 0
    assert prof["id"].n_distinct == 4
    assert (prof["id"].min_value, prof["id"].max_value) == ("1", "4")
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 2
    assert (prof["v"].min_value, prof["v"].max_value) == ("a", "b")


def test_profile_approx_mode_runs_mapside(spark):
    from srm_etl_spark.operators.profiling import profile_table

    df = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS v")
    prof = {r.col_name: r for r in profile_table(df, approx=True).collect()}
    # HLL estimates are near-exact at this cardinality
    assert abs(prof["v"].n_distinct - 7) <= 1
    plan = profile_table(df, approx=True)._jdf.queryExecution().executedPlan().toString()
    assert "distinct" not in plan.lower() or "approx" in plan.lower()


def test_psi_zero_for_identical_distributions(spark):
    from srm_etl_spark.operators.profiling import psi

    df = spark.createDataFrame([(i / 10.0,) for i in range(10)] * 3, "q double")
    out = psi(df, df, "q").collect()
    assert all(abs(r.psi_term) < 1e-12 for r in out)
    assert abs(sum(r.expected_frac for r in out) - 1.0) < 1e-9


def test_psi_detects_shift_and_handles_empty_bins(spark):
    from srm_etl_spark.operators.profiling import psi

    low = spark.createDataFrame([(0.05,)] * 50, "q double")
    high = spark.createDataFrame([(0.95,)] * 50, "q double")
    out = {r.bin: r for r in psi(low, high, "q").collect()}
    assert len(out) == 5  # empty bins present
    assert out[0].expected_frac == 1.0 and out[0].actual_frac == 0.0
    total_psi = sum(r.psi_term for r in out.values())
    assert total_psi > 1.0  # gross shift
    # clamping: all values beyond [lo, hi) land in edge bins
    edge = psi(low, spark.createDataFrame([(7.5,)], "q double"), "q").collect()
    assert {r.bin for r in edge} == {0, 1, 2, 3, 4}


def test_cms_estimate_tolerates_reserved_candidate_columns(spark):
    from srm_etl_spark.operators.cms import build_cms, cms_estimate

    # candidate frame carries 'row'/'bucket'/'c' columns — must not collide
    df = spark.createDataFrame([(1, 9, 9, 9), (1, 9, 9, 9), (2, 8, 8, 8)],
                               "k long, row long, bucket long, c long")
    sketch = build_cms(df, "k", width=128, depth=3)
    est = {r.k: r.cms_estimate for r in
           cms_estimate(df.distinct(), sketch, "k", width=128, depth=3).collect()}
    assert est == {1: 2, 2: 1}


def test_profile_handles_awkward_column_names(spark):
    from srm_etl_spark.operators.profiling import profile_table

    df = spark.range(3).selectExpr("id AS `my col`", "CAST(id AS STRING) AS `it's`")
    prof = {r.col_name: r for r in profile_table(df, ["my col", "it's"]).collect()}
    assert prof["my col"].n_distinct == 3
    assert prof["it's"].n_nulls == 0


def test_degenerate_inputs_guarded(spark):
    from srm_etl_spark.operators.cms import build_cms
    from srm_etl_spark.operators.graph import pagerank
    from srm_etl_spark.operators.profiling import psi
    from srm_etl_spark.operators.similarity import kmeans

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty_edges).count() == 0
    one = spark.createDataFrame([(1.0,)], "q double")
    with pytest.raises(ValueError):
        psi(one, one, "q", lo=1.0, hi=1.0)
    with pytest.raises(ValueError):
        build_cms(spark.createDataFrame([(1,)], "k long"), "k", width=0)
    with pytest.raises(ValueError):
        kmeans(spark.createDataFrame([(1, [0.0])], "vec_id long, embedding array<double>"), k=0)
    # k-means over an empty frame returns an empty assignment, not an error
    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kmeans(empty_vecs, k=3).count() == 0


# --- product quantization ---------------------------------------------------

def _clustered_vectors(n_per=20, dim=8):
    import random

    rnd = random.Random(3)
    rows = []
    centers = [[0.0] * dim, [10.0] * dim, [-10.0] * dim]
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(n_per):
            rows.append((vid, [x + rnd.uniform(-0.5, 0.5) for x in c]))
            vid += 1
    return rows


def test_pq_recall_on_separated_clusters(spark):
    from srm_etl_spark.operators.similarity import pq_encode, pq_topk, pq_train_codebooks

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train_codebooks(df, m=2, k=4, dim=8)
    codes = pq_encode(df, books, dim=8)
    assert codes.count() == len(rows)
    queries = df.filter(F.col("vec_id").isin([0, 20, 40]))
    # at k=4 codewords, same-cluster members share codes (equal ADC), so the
    # crisp property is separation: the ENTIRE cluster ranks before anything
    # from another cluster
    approx = pq_topk(codes, books, queries, k=19, dim=8)
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qid, cluster_lo in [(0, 0), (20, 20), (40, 40)]:
        members = set(range(cluster_lo, cluster_lo + 20)) - {qid}
        assert ap[qid] == members


def test_pq_compression_shape_and_determinism(spark):
    from srm_etl_spark.operators.similarity import pq_encode, pq_train_codebooks

    df = spark.createDataFrame(_clustered_vectors(), "vec_id long, embedding array<double>")
    books = pq_train_codebooks(df, m=4, k=4, dim=8)
    assert set(books) == {0, 1, 2, 3}
    assert all(len(c) == 2 for b in books.values() for c in b.values())
    a = {r.vec_id: r.codes for r in pq_encode(df, books, dim=8).collect()}
    b = {r.vec_id: r.codes for r in pq_encode(df, books, dim=8).collect()}
    assert a == b
    assert all(len(v) == 4 and all(0 <= c < 4 for c in v) for v in a.values())


def test_pq_rejects_indivisible_dim(spark):
    from srm_etl_spark.operators.similarity import pq_train_codebooks

    df = spark.createDataFrame([(1, [0.0] * 6)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        pq_train_codebooks(df, m=4, dim=6)


# --- RAG retrieval composition (q95) ----------------------------------------

def test_hash_embedding_overlap_similarity(spark):
    from srm_etl_spark.operators.similarity import cosine_similarity
    from srm_etl_spark.plans.similarity import hash_embedding

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "gamma delta epsilon zeta eta theta"),  # 4/6 tokens shared
            (3, "one two three four five six"),         # disjoint
        ],
        "id long, text string",
    )
    emb = df.select("id", hash_embedding(F.col("text")).alias("e"))
    a, b, c = [r.e for r in emb.orderBy("id").collect()]
    rows = spark.createDataFrame([(a, b, c)], "a array<double>, b array<double>, c array<double>")
    got = rows.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("ab"),
        cosine_similarity(F.col("a"), F.col("c")).alias("ac"),
    ).collect()[0]
    assert got.ab > got.ac  # shared tokens => more similar than disjoint
    # determinism
    emb2 = df.select("id", hash_embedding(F.col("text")).alias("e"))
    assert [r.e for r in emb2.orderBy("id").collect()][0] == a


def test_hash_embedding_md5_family_same_property(spark):
    # the md5 (oracle-checkable) feature family keeps the same geometry:
    # overlap => similar, disjoint => near-orthogonal; and is deterministic
    from srm_etl_spark.operators.similarity import cosine_similarity
    from srm_etl_spark.plans.similarity import hash_embedding

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six"),
        ],
        "id long, text string",
    )
    emb = df.select("id", hash_embedding(F.col("text"), hash_family="md5").alias("e"))
    a, b, c = [r.e for r in emb.orderBy("id").collect()]
    assert len(a) == 32
    rows = spark.createDataFrame(
        [(a, b, c)], "a array<double>, b array<double>, c array<double>"
    )
    got = rows.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("ab"),
        cosine_similarity(F.col("a"), F.col("c")).alias("ac"),
    ).collect()[0]
    assert got.ab > got.ac
    emb2 = df.select("id", hash_embedding(F.col("text"), hash_family="md5").alias("e"))
    assert [r.e for r in emb2.orderBy("id").collect()][0] == a


def test_rag_retrieval_finds_overlapping_neighbor(spark):
    from srm_etl_spark.plans.similarity import hash_embedding
    from srm_etl_spark.operators.chunking import chunk_documents
    from srm_etl_spark.operators.similarity import brute_force_topk

    words = " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    chunks = chunk_documents(df, chunk_tokens=16, stride=8).select(
        F.col("chunk_start").alias("cid"),
        hash_embedding(F.col("chunk_text"), dim=64).alias("embedding"),
    )
    q = chunks.filter(F.col("cid") == 9)  # overlaps starts 1 and 17 by 8 tokens
    out = brute_force_topk(chunks, q, k=2, vec_col="embedding", id_col="cid")
    neighbors = {r.neighbor_id for r in out.collect()}
    assert neighbors == {1, 17}


# --- snapshot diff ----------------------------------------------------------

def test_snapshot_diff_verdicts(spark):
    from srm_etl_spark.operators.snapshot_diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 21.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, "k").collect()}
    assert got == {2: "changed", 3: "removed", 4: "added"}
    # column-order differences between snapshots are not changes
    new_reordered = new.select("k", "v", "s")
    got2 = {r.k: r.change for r in snapshot_diff(old, new_reordered, "k").collect()}
    assert got2 == got
    # compare_cols can narrow the verdict
    narrowed = snapshot_diff(old, new, "k", ["s"]).collect()
    assert {r.k: r.change for r in narrowed} == {3: "removed", 4: "added"}


