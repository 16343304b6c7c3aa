"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
approximate variant as the scale path (candidate generation by random-
hyperplane sign bits; the hyperplanes are derived deterministically from
fixed seeds so runs are reproducible without RNG).

Scale notes: the query side is expected to be small relative to the corpus,
so queries are broadcast and the corpus streams — the scan is embarrassingly
parallel, top-k is a per-query aggregation (shuffle keyed by query id, k rows
per query out). The LSH variant cuts the scanned fraction to matching buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import local_table


def dot(a: Column, b: Column) -> Column:
    """Σ a_i * b_i via zip_with + aggregate — JVM-side, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries x scan corpus.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches (same id) are
    excluded. Deterministic tie-break on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# --- LSH (random hyperplane) -------------------------------------------------

def _hyperplane_sign(vec: Column, seed: int, dim: int) -> Column:
    """Sign bit of <vec, h_seed> where h_seed is a deterministic pseudo-random
    hyperplane: component i = fractional part of sin-based hash of (seed, i),
    shifted to [-0.5, 0.5]. Stable across runs and engines."""
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    plane = F.transform(
        idx,
        lambda i: (F.sin((i.cast("double") + 1.0) * (seed * 12.9898 + 78.233)) * 43758.5453) % 1.0
        - 0.5,
    )
    return F.when(dot(vec, plane) >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(vec: Column, num_bits: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id (int) from `num_bits` sign bits."""
    bucket = F.lit(0)
    for b in range(num_bits):
        bucket = bucket * 2 + _hyperplane_sign(vec, b + 1, dim)
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    num_bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket.

    At scale the corpus is pre-bucketed (written partitioned by bucket), so a
    query touches 1/2^bits of the data. Recall improves with multi-probe /
    fewer bits; this implementation keeps one probe for clarity.
    """
    c = corpus.withColumn("_bucket", lsh_bucket(F.col(vec_col), num_bits, dim))
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        lsh_bucket(F.col(vec_col), num_bits, dim).alias("_bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    max_closure_queries: int | None = 100_000,
    queries_broadcast: bool | None = None,
) -> DataFrame:
    """Vectorized exact top-k: one numpy matmul per Arrow batch.

    The scale path: queries (driver-small, ≤``max_closure_queries``) ship to
    every task as a closure matrix; each corpus partition computes a (batch ×
    query) cosine matrix with BLAS and emits only its LOCAL top-k per query,
    so the shuffle carries k rows per (query, partition) — global ranking
    then touches k × partitions rows per query instead of the whole corpus.
    Versus the per-row expression variant (:func:`brute_force_topk`) this is
    the 10-100× Arrow/BLAS speedup the engine reaches for when the HOF path
    becomes the bottleneck.

    A query set past the driver-small bound must NOT round-trip the driver:
    ``queries_broadcast=True`` (or the automatic count check against
    ``max_closure_queries`` when the flag is None) switches to the
    broadcast-join formulation (:func:`brute_force_topk`) — same answers
    (parity-pinned at 10⁴ queries in tests/test_similarity_arrow.py), plan
    stays fully distributed. Bound rationale in SCALE.md.
    """
    from collections.abc import Iterator  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    if queries_broadcast is None:
        # limit(bound+1).count() answers "over the bound?" at bounded cost —
        # a full count() would scan the whole query lineage, which is
        # expensive exactly in the large-query-set case the bound detects
        queries_broadcast = (
            max_closure_queries is not None
            and queries.limit(max_closure_queries + 1).count() > max_closure_queries
        )
    if queries_broadcast:
        return brute_force_topk(corpus, queries, k, vec_col, id_col, query_id_col)

    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
    qnorm[qnorm == 0] = 1.0
    qunit = qmat / qnorm

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norm = np.linalg.norm(mat, axis=1, keepdims=True)
            norm[norm == 0] = 1.0
            sims = (mat / norm) @ qunit.T  # (batch, queries)
            out = {query_id_col: [], "neighbor_id": [], "cosine": []}
            for j, qid in enumerate(qids):
                col = sims[:, j]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                if cand_idx.size == 0:
                    continue
                top = cand_idx[np.argsort(-col[cand_idx], kind="stable")[:k]]
                out[query_id_col].extend([qid] * len(top))
                out["neighbor_id"].extend(ids[top].tolist())
                out["cosine"].extend(col[top].tolist())
            yield pd.DataFrame(out)

    local = corpus.select(id_col, vec_col).mapInPandas(
        batches, f"{query_id_col} long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def orderfree_mean(col: Column) -> Column:
    """ORDER-FREE float mean for use inside ``.agg(...)``: fold the group's
    values in SORTED order instead of a plain ``avg``.

    Float partial-aggregation order varies with partitioning, and a 1-ulp
    difference flips ``round(·, k)`` on grid-boundary values — the r8
    sf0.001 sweep caught q31 doing exactly that between two runs of the
    same plan. Sorting first makes the result identical on any cluster
    layout and bit-reproducible in the SQL oracles
    (``round(list_reduce(list_sort(list(x)), (a,b) -> a+b) / count(x), k)``).
    NULLs are skipped like ``avg`` (collect_list drops them; the denominator
    counts non-null; an all-null group yields NULL) — the SQL twins assume
    null-free inputs, where the semantics coincide. Cost: the shuffle
    carries the group's value list rather than a partial sum — quantizer
    training runs on bounded samples where that list is small by
    construction; at raw-corpus scale, train on a sample (as FAISS does)
    rather than folding billions."""
    v = col.cast("double")
    folded = F.aggregate(
        F.array_sort(F.collect_list(v)), F.lit(0.0), lambda acc, x: acc + x
    )
    n = F.count(v)
    return F.when(n > 0, folded / n)


def centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding", round_to: int | None = None
) -> DataFrame:
    """Per-label centroid via posexplode + :func:`orderfree_mean` per
    dimension (IVF coarse quantizer building block). Output:
    (label, pos, value)."""
    exploded = df.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
    out = exploded.groupBy(label_col, "pos").agg(
        orderfree_mean(F.col("v")).alias("value")
    )
    if round_to is not None:
        out = out.withColumn("value", F.round("value", round_to))
    return out


def centroid_vectors(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding", round_to: int | None = 6
) -> DataFrame:
    """Centroids re-assembled as array columns: (label, centroid).

    ``round_to`` pins each component to a fixed decimal grid so downstream
    argmax decisions (cell assignment, probe ranking) are bit-identical
    across engines whose float summation order differs."""
    c = centroids(df, label_col, vec_col, round_to=round_to)
    return c.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "value"))), lambda s: s.value
        ).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    label_col: str = "label",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into centroid cells,
    probe the ``nprobe`` nearest cells per query, and rank only vectors in
    probed cells.

    The scale shape: the coarse quantizer is small by construction (≤10^5
    cells even for billion-vector corpora), so both the cell assignment and
    the query probing are broadcast joins with a map-side-combined argmax —
    the corpus is scanned once, shuffled once (keyed by cell id when written
    ``partitionBy(cell)``), and a query reads nprobe/ncells of the data.
    Output: (query_id, neighbor_id, cosine, rank), ties broken by id.
    """
    if cents is None:
        cents = centroid_vectors(corpus, label_col, vec_col)
    cents = cents.select(F.col(label_col).alias("_cell"), F.col("centroid"))
    assigned = _ivf_assign(corpus, cents, vec_col, id_col)
    probes = _ivf_probes(queries, cents, nprobe, vec_col, id_col, query_id_col)
    return _ivf_rank(assigned, probes, k, vec_col, id_col, query_id_col)


def _ivf_assign(corpus: DataFrame, cents: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    # cell assignment: argmax cosine over the broadcast quantizer; max_by on a
    # (sim, -cell) struct keeps it a hash aggregate (partial map-side combine),
    # not a window over the fanned-out cross product
    sim = cosine_similarity(F.col(vec_col), F.col("centroid"))
    return (
        corpus.crossJoin(F.broadcast(cents))
        .select(id_col, vec_col, F.col("_cell"), sim.alias("_csim"))
        .groupBy(id_col)
        .agg(
            F.max_by("_cell", F.struct(F.col("_csim"), (-F.col("_cell")).alias("_t"))).alias("_cell"),
            F.first(vec_col).alias(vec_col),
        )
    )


def _ivf_probes(
    queries: DataFrame, cents: DataFrame, nprobe: int, vec_col: str, id_col: str, query_id_col: str
) -> DataFrame:
    # probe: top-nprobe cells per query by centroid cosine, same argmax trick
    # via ranked window over the (queries × cells) product — queries are small
    q = queries.select(F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec"))
    qsim = cosine_similarity(F.col("_qvec"), F.col("centroid"))
    pw = Window.partitionBy(query_id_col).orderBy(F.desc("_psim"), F.asc("_cell"))
    return (
        q.crossJoin(F.broadcast(cents))
        .select(query_id_col, "_qvec", "_cell", qsim.alias("_psim"))
        .withColumn("_prn", F.row_number().over(pw))
        .filter(F.col("_prn") <= nprobe)
        .select(query_id_col, "_qvec", "_cell")
    )


def _ivf_rank(
    assigned: DataFrame, probes: DataFrame, k: int, vec_col: str, id_col: str, query_id_col: str
) -> DataFrame:
    scored = (
        assigned.join(F.broadcast(probes), "_cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_partitioned(
    spark,
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    label_col: str = "label",
    cents: DataFrame | None = None,
) -> DataFrame:
    """:func:`ivf_topk` with the corpus MATERIALIZED ``partitionBy(cell)``
    (sinks/warehouse.py:write_partitioned) — the SCALE.md §2 promise closed:
    once the IVF-assigned corpus is written out, a probe query's scan reads
    only the probed cells' directories, never the whole corpus.

    The probed cell set is pushed as a LITERAL ``IN`` predicate (static
    partition pruning — ``PartitionFilters`` in the scan, pinned by
    tests/test_warehouse.py): the query set is driver-small by the module's
    serving contract, so collecting its nprobe cells per query is a bounded
    driver list of ints. Answers are identical to :func:`ivf_topk` on the
    same inputs (q156 ≡ q61's oracle).
    """
    from ..sinks.warehouse import write_partitioned  # noqa: PLC0415

    if cents is None:
        cents = centroid_vectors(corpus, label_col, vec_col)
    cents = cents.select(F.col(label_col).alias("_cell"), F.col("centroid"))
    write_partitioned(_ivf_assign(corpus, cents, vec_col, id_col), path, ["_cell"])
    probes = _ivf_probes(queries, cents, nprobe, vec_col, id_col, query_id_col)
    cells = sorted(r["_cell"] for r in probes.select("_cell").distinct().collect())
    stored = spark.read.parquet(path).filter(F.col("_cell").isin(cells))
    return _ivf_rank(stored, probes, k, vec_col, id_col, query_id_col)


# --------------------------------------------------------------------------
# k-means (Lloyd) — the IVF quantizer trainer / semantic-dedup clusterer
# --------------------------------------------------------------------------

# One-deep training memo (the duplicate_clusters discipline): the Lloyd loop
# collects centroids eagerly at construction, so when the clustering query
# and semantic dedup train on the same corpus in one session the second call
# reuses the assignment plan instead of re-syncing.
_KMEANS_MEMO: list = []


def clear_kmeans_memo() -> None:
    """Drop the kmeans memo and release any persisted state it pins
    (the in-place sf_dir rewrite escape hatch — see clear_cluster_memo)."""
    for _, _, out in _KMEANS_MEMO:
        try:
            out.unpersist(blocking=False)
        except Exception:  # noqa: BLE001, S110 — session may be gone
            pass
    _KMEANS_MEMO.clear()


def _sq_dist_to_literal(vec: Column, centroid: list[float]) -> Column:
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# k*dim literal nodes re-analyze + recompile EVERY Lloyd iteration; past
# 64 centroids (4k expression nodes at dim 64) the broadcast-matrix plan is
# cheaper than the codegen bill — the measured r4 semantic_dedup knee.
ASSIGN_LITERAL_MAX_K = 64


# Large-k assignment strategy: "hierarchical" (default — coarse-then-fine
# exact pruned search, O(n·√k) typical) or "matrix" (the broadcast-row
# transform+array_min expression, O(n·k) interpreted — kept as the
# zero-Python fallback and as the parity reference for tests).
ASSIGN_LARGE_K_MODE = "hierarchical"


def assign_clusters(
    df: DataFrame, centroids_by_id: dict[int, list[float]], vec_col: str = "_v"
) -> DataFrame:
    """Nearest-centroid assignment against a broadcast centroid set.

    Physically different plans, value-identical by construction (same
    sequential-fold distance, same (dist, cid) tie-break to the lowest
    centroid id):

    - k <= ASSIGN_LITERAL_MAX_K (64): the centroid matrix inlines into the plan
      as literal arrays — pure whole-stage-codegen array math, zero shuffle,
      zero Python.
    - larger k, ``ASSIGN_LARGE_K_MODE == "hierarchical"`` (default): the
      coarse-then-fine EXACT pruned search (:func:`_assign_hierarchical`).
      Flat argmin is n·k work, and SemDeDup's operating point grows k with
      the corpus (k ∝ n ⇒ n² across the cluster) — the one super-linear leg
      the r13 scaling probes exposed. The hierarchical kernel groups the k
      fine centroids under ~√k coarse centers (driver-side numpy Lloyd over
      the k×dim matrix — bounded by the same budget that lets the Lloyd
      driver sync collect it) and per row scans only the coarse cells the
      triangle inequality cannot exclude: ‖x−f‖ ≥ ‖x−c_G‖ − r_G, so a cell
      whose lower bound exceeds the incumbent (plus an fp-slack margin ~1e-9,
      seven orders above the ~1e-16 sqrt/subtract rounding it guards) can be
      skipped without ever skipping the true argmin. Typical work is
      n·(√k coarse + a few cells·(k/√k) fine) = O(n·√k); worst case degrades
      to the flat scan, never below exactness. Distances inside the kernel
      replay the expression path's sequential dim fold (a fixed-order numpy
      dim loop, batch-shape independent), so assignments are deterministic
      under ANY input partitioning and bit-match the literal path — the
      invariance axes and the q83/q112-family oracles gate this.
    - larger k, ``"matrix"``: the matrix ships as ONE broadcast row
      (array<array<double>>) and the argmin is a constant-size
      ``transform``+``array_min`` over it — compile cost independent of k
      (inlining k literals re-analyzes + recompiles an O(k·dim)-node tree
      EVERY Lloyd iteration, the measured r4 11.6x knee), still no shuffle,
      but n·k interpreted work.
    """
    items = sorted((int(cid), [float(x) for x in c]) for cid, c in centroids_by_id.items())
    if len(items) <= ASSIGN_LITERAL_MAX_K:
        cands = F.array(
            *[
                F.struct(
                    _sq_dist_to_literal(F.col(vec_col), c).alias("d"),
                    F.lit(cid).alias("cid"),
                )
                for cid, c in items
            ]
        )
        return df.withColumn("cluster", F.array_min(cands)["cid"])
    if ASSIGN_LARGE_K_MODE == "hierarchical":
        return _assign_hierarchical(df, items, vec_col)
    spark = df.sparkSession
    cent = local_table(
        spark,
        [([cid for cid, _ in items], [c for _, c in items])],
        "_cids: array<int>, _cm: array<array<double>>",
    )
    cands = F.transform(
        F.col("_cm"),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.col("_cids")[i].alias("cid"),
        ),
    )
    return (
        df.join(F.broadcast(cent))
        .withColumn("cluster", F.array_min(cands)["cid"])
        .drop("_cids", "_cm")
    )


def _sq_dists_seqfold(X, C):
    """Pairwise squared distances with the SAME fold as the expression path:
    acc ← acc + (a−b)·(a−b), dim-major sequential. A fixed-order dim loop
    (each step one elementwise numpy op) is bit-identical regardless of how
    many rows share the batch — numpy's axis reductions use pairwise
    summation whose tree would match only by accident, so they are banned
    here. X: (m, d), C: (b, d) → (m, b) float64."""
    import numpy as np  # noqa: PLC0415

    acc = np.zeros((X.shape[0], C.shape[0]))
    for t in range(X.shape[1]):
        diff = X[:, t, None] - C[None, :, t]
        acc += diff * diff
    return acc


def _coarse_structure(C, g: int, iterations: int = 3):
    """Group the k fine centroids under g coarse centers (driver-side numpy
    Lloyd, deterministic init = first g centroids in cid order, ties to the
    lowest coarse index). Empty cells are dropped. Returns
    (coarse_centers (g'×d), members: list of ascending fine-index arrays,
    radii (g',) where radii[G] = max ‖c_G − f‖ over members f — the triangle
    bound's per-cell term)."""
    import numpy as np  # noqa: PLC0415

    k = C.shape[0]
    g = max(1, min(g, k))
    cc = C[:g].copy()
    for _ in range(iterations):
        assign = np.argmin(_sq_dists_seqfold(C, cc), axis=1)
        for j in range(g):
            m = assign == j
            if m.any():
                cc[j] = C[m].mean(axis=0)
    assign = np.argmin(_sq_dists_seqfold(C, cc), axis=1)
    members, centers, radii = [], [], []
    for j in range(g):
        idx = np.nonzero(assign == j)[0]
        if idx.size == 0:
            continue
        members.append(idx)
        centers.append(cc[j])
        radii.append(float(np.sqrt(_sq_dists_seqfold(C[idx], cc[j][None, :])).max()))
    return np.array(centers), members, np.array(radii)


# relative fp-slack on the triangle-inequality prune: sqrt/subtract round at
# ~1e-16, so 1e-9 can only ever cause harmless extra scans, never a skip of
# the true argmin
_PRUNE_SLACK = 1e-9


def _assign_hierarchical(df: DataFrame, items: list, vec_col: str) -> DataFrame:
    """Coarse-then-fine EXACT nearest-centroid assignment (see
    :func:`assign_clusters` for the contract and the scale argument).

    One ``mapInPandas`` over the corpus — no shuffle; the k×dim centroid
    matrix and its coarse structure ship once per executor as a Spark
    broadcast variable, not per-task closure. Per batch: distances to the g'
    coarse centers (m·g' dim-fold), an exact scan of each row's nearest
    cell, then only the cells whose lower bound ‖x−c_G‖ − r_G does not
    exceed the incumbent distance (plus fp slack). All candidate distances
    use the sequential dim fold, so the winning (d, cid) is identical to the
    flat literal/matrix paths' array_min."""
    import numpy as np  # noqa: PLC0415
    from pyspark.sql.types import IntegerType, StructField, StructType  # noqa: PLC0415

    cids = np.array([cid for cid, _ in items], dtype=np.int64)
    C = np.array([c for _, c in items], dtype=np.float64)
    g = max(1, int(len(items) ** 0.5))
    centers, members, radii = _coarse_structure(C, g)
    b = df.sparkSession.sparkContext.broadcast((C, cids, centers, members, radii))

    out_schema = StructType(list(df.schema) + [StructField("cluster", IntegerType())])

    def gen(batches):
        C, cids, centers, members, radii = b.value
        ng = len(members)

        def scan(X, rows, G, best_d, best_ix):
            mem = members[G]
            D = _sq_dists_seqfold(X[rows], C[mem])
            j = np.argmin(D, axis=1)  # first min = lowest fine index = lowest cid
            cand_d, cand_ix = D[np.arange(len(rows)), j], mem[j]
            take = (cand_d < best_d[rows]) | (
                (cand_d == best_d[rows]) & (cand_ix < best_ix[rows])
            )
            idx = rows[take]
            best_d[idx], best_ix[idx] = cand_d[take], cand_ix[take]

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                yield pdf.assign(cluster=np.array([], dtype=np.int32))
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            dc = np.sqrt(_sq_dists_seqfold(X, centers))  # (m, g') — prune-only
            order = np.argsort(dc, axis=1, kind="stable")
            best_d = np.full(m, np.inf)
            best_ix = np.full(m, np.iinfo(np.int64).max, dtype=np.int64)
            for G in np.unique(order[:, 0]):
                scan(X, np.nonzero(order[:, 0] == G)[0], G, best_d, best_ix)
            for p in range(1, ng):
                Gp = order[:, p]
                lb = dc[np.arange(m), Gp] - radii[Gp]
                need = lb <= np.sqrt(best_d) * (1.0 + _PRUNE_SLACK) + _PRUNE_SLACK
                if not need.any():
                    continue
                for G in np.unique(Gp[need]):
                    scan(X, np.nonzero(need & (Gp == G))[0], G, best_d, best_ix)
            yield pdf.assign(cluster=cids[best_ix].astype(np.int32))

    return df.mapInPandas(gen, out_schema)


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 2,
    round_to: int = 6,
    use_cache: bool = True,
    train_filter: Column | None = None,
) -> DataFrame:
    """Lloyd's k-means with deterministic init: cluster assignment for every
    row after ``iterations`` rounds. Output: (id_col, cluster, vec_col) — the
    double-cast vector rides along so callers can aggregate centroids/sizes
    without re-joining the corpus.

    This is the trainer behind :func:`ivf_topk`'s coarse quantizer and the
    clusterer for semantic dedup / topic bucketing of an embedding corpus
    (SemDeDup-style). Fully deterministic: init = the vectors of the ``k``
    smallest ids; every recomputed centroid component is rounded to a
    ``round_to``-decimal grid so the next assignment's argmin is identical
    across engines regardless of float summation order.

    ``train_filter`` (a boolean Column over the input, e.g.
    ``F.col("vec_id") % 4 == 0``) trains the Lloyd iterations on the
    matching SAMPLE only — the standard quantizer-training posture at
    corpus scale (FAISS trains IVF coarse quantizers on a bounded sample):
    init and every centroid sync read the sample; the FULL corpus pays
    exactly ONE assignment pass regardless of ``iterations``. The filter
    must be engine-reproducible (id arithmetic, not rand()) so the SQL
    oracles can replay it (q171 pins this path).

    Scale shape (the same sync structure MLlib's KMeans uses):
    - Per iteration the only distributed work is one nearest-centroid map
      (codegen array math for k <= 64, the exact coarse-then-fine pruned
      kernel above it — see :func:`assign_clusters` — both shuffle-free)
      and one (cluster, dim)-keyed avg whose output is k x dim rows.
    - The k x dim centroid matrix is the only thing collected per round —
      bounded by design (it must fit in the plan as literals), the classic
      Lloyd driver sync.
    """
    if k <= 0 or iterations <= 0:
        raise ValueError("k and iterations must be positive")
    params = (
        vec_col, id_col, k, iterations, round_to,
        None if train_filter is None else str(train_filter),
    )
    if not use_cache:
        clear_kmeans_memo()
    if _KMEANS_MEMO:
        prev_df, prev_params, prev_out = _KMEANS_MEMO[0]
        try:
            if (
                prev_df.sparkSession is df.sparkSession
                and params == prev_params
                and df.sameSemantics(prev_df)
            ):
                return prev_out
        except Exception:  # noqa: BLE001, S110 — prior session may be gone
            _KMEANS_MEMO.clear()
    base = df if train_filter is None else df.filter(train_filter)
    data = df.select(
        F.col(id_col).alias("_kid"), F.col(vec_col).cast("array<double>").alias("_v")
    ).persist()
    train = (
        data
        if train_filter is None
        else base.select(
            F.col(id_col).alias("_kid"), F.col(vec_col).cast("array<double>").alias("_v")
        ).persist()
    )
    init = train.orderBy("_kid").limit(k).collect()
    if not init:
        if train is not data:
            train.unpersist(blocking=False)
        data.unpersist(blocking=False)
        return data.select(
            F.col("_kid").alias(id_col), F.lit(0).alias("cluster"), F.col("_v").alias(vec_col)
        )
    cents: dict[int, list[float]] = {i: list(r["_v"]) for i, r in enumerate(init)}
    # equivalent to assign-then-sync per iteration with the sync skipped on
    # the last round: (iterations - 1) train-side Lloyd updates, then ONE
    # full-corpus assignment with the final centroids
    for _ in range(iterations - 1):
        new_rows = centroid_vectors(
            assign_clusters(train, cents), "cluster", "_v", round_to=round_to
        ).collect()
        cents = {int(r["cluster"]): list(r["centroid"]) for r in new_rows}
    assigned = assign_clusters(data, cents)
    out = assigned.select(F.col("_kid").alias(id_col), "cluster", F.col("_v").alias(vec_col))
    if train is not data:
        train.unpersist(blocking=False)
    data.unpersist(blocking=False)
    if use_cache:
        clear_kmeans_memo()  # evict (and unpersist) the predecessor
        _KMEANS_MEMO[:] = [(df, params, out)]
    return out


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|x|, q_i =
    round(x_i*scale), plus reconstruction MSE — the 4x memory lever that
    keeps IVF cell lists resident at serving scale.

    Pure let-bound array math (vector cast, scale and qvec each evaluate
    once per row), no shuffle. Output: (id_col, scale, qvec: array<int>,
    mse). All-zero vectors quantize to zeros with scale 0 and mse 0.
    """
    from ..functions.expr import let as _let  # noqa: PLC0415

    def build(v):
        ma = F.array_max(F.transform(v, lambda x: F.abs(x)))
        scale = F.when(ma == 0, F.lit(0.0)).otherwise(F.lit(127.0) / ma)

        def with_scale(s):
            qv = F.transform(v, lambda x: F.round(x * s).cast("int"))

            def with_q(q):
                deq = F.zip_with(
                    v, q,
                    lambda x, qq: x - F.when(s == 0, F.lit(0.0)).otherwise(qq / s),
                )
                mse = F.aggregate(
                    F.transform(deq, lambda d: d * d),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ) / F.size(v)
                return F.struct(s.alias("scale"), q.alias("qvec"), mse.alias("mse"))

            return _let(qv, with_q)

        return _let(scale, with_scale)

    return df.select(
        F.col(id_col),
        _let(F.col(vec_col).cast("array<double>"), build).alias("_q"),
    ).select(id_col, "_q.scale", "_q.qvec", "_q.mse")


# --------------------------------------------------------------------------
# Product quantization (PQ) — FAISS-IVFPQ-style fine compression
# --------------------------------------------------------------------------

# One-deep training memo (the duplicate_clusters discipline): PQ training
# executes eagerly (driver syncs per Lloyd iteration), so when the PQ index
# query and the rerank serving query train on the same corpus in one session
# the second call replays the driver-held codebooks instead of the scans.
_PQ_MEMO: list = []


def clear_pq_memo() -> None:
    """Drop the PQ training memo (codebooks are driver-held dicts — no
    cluster state to release; clearing unpins the input frame reference)."""
    _PQ_MEMO.clear()


def pq_train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iterations: int = 2,
    dim: int = 64,
    use_cache: bool = True,
) -> dict[int, dict[int, list[float]]]:
    """Train one k-codeword codebook per subspace: the vector is split into
    ``m`` contiguous subvectors and each subspace gets its own k-means run
    (deterministic init — the :func:`kmeans` contract).

    Returns {subspace -> {code -> centroid}}. Driver-held by design: the
    codebook is m*k*(dim/m) floats (k*dim total — identical to ONE float
    vector per codeword), the PQ analogue of the broadcast IVF quantizer.

    All ``m`` subspaces train FUSED: every Lloyd iteration is one projection
    (the m assignment columns side by side) plus one (subspace, cluster,
    dim)-keyed avg whose collected output is all m codebooks at once —
    ``iterations + 1`` passes over the corpus total, instead of m separate
    k-means runs each doing their own scans and driver syncs (measured 3x
    on q92). The arithmetic per subspace is identical to :func:`kmeans`
    (same init, same argmin tie-break, same 6-decimal centroid grid).
    """
    if dim % m != 0:
        raise ValueError("dim must be divisible by m")
    if k <= 0 or iterations <= 0:
        raise ValueError("k and iterations must be positive")
    params = (vec_col, id_col, m, k, iterations, dim)
    if not use_cache:
        clear_pq_memo()
    if _PQ_MEMO:
        prev_df, prev_params, prev_books = _PQ_MEMO[0]
        try:
            if (
                prev_df.sparkSession is df.sparkSession
                and params == prev_params
                and df.sameSemantics(prev_df)
            ):
                return prev_books
        except Exception:  # noqa: BLE001, S110 — prior session may be gone
            _PQ_MEMO.clear()
    sub = dim // m
    data = df.select(
        F.col(id_col).alias("_kid"), F.col(vec_col).cast("array<double>").alias("_v")
    ).persist()
    init = data.orderBy("_kid").limit(k).collect()
    if not init:
        data.unpersist(blocking=False)
        return {j: {} for j in range(m)}
    books: dict[int, dict[int, list[float]]] = {
        j: {i: list(r["_v"])[j * sub : (j + 1) * sub] for i, r in enumerate(init)}
        for j in range(m)
    }

    def assign_col(j: int) -> Column:
        sv = F.slice(F.col("_v"), j * sub + 1, sub)
        cands = F.array(
            *[
                F.struct(_sq_dist_to_literal(sv, c).alias("d"), F.lit(int(cid)).alias("cid"))
                for cid, c in sorted(books[j].items())
            ]
        )
        return F.array_min(cands)["cid"]

    for _ in range(iterations):
        assigned = data.select(
            "_v", *[assign_col(j).alias(f"_c{j}") for j in range(m)]
        )
        stacked = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col(f"_c{j}").alias("cluster"),
                            F.slice(F.col("_v"), j * sub + 1, sub).alias("sv"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("s")
        ).select("s.j", "s.cluster", F.posexplode("s.sv").alias("pos", "x"))
        rows = (
            stacked.groupBy("j", "cluster", "pos")
            # sorted fold, not avg: order-free float mean
            .agg(F.round(orderfree_mean(F.col("x")), 6).alias("val"))
            .groupBy("j", "cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))), lambda s: s.val
                ).alias("centroid")
            )
            .collect()
        )
        books = {j: {} for j in range(m)}
        for r in rows:
            books[int(r["j"])][int(r["cluster"])] = list(r["centroid"])
    data.unpersist(blocking=False)
    if use_cache:
        _PQ_MEMO[:] = [(df, params, books)]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: dict[int, dict[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes: (id_col, codes array<int>).

    dim*4 bytes -> m bytes per vector (e.g. 64 floats -> 4 codes = 64x).
    Assignment is the same literal-centroid codegen math as
    :func:`assign_clusters`, one subspace at a time — no shuffle, no Python.
    """
    m = len(codebooks)
    sub = dim // m
    out = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    code_cols = []
    for j in range(m):
        cands = F.array(
            *[
                F.struct(
                    _sq_dist_to_literal(
                        F.slice(F.col("_v"), j * sub + 1, sub), c
                    ).alias("d"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, c in sorted(codebooks[j].items())
            ]
        )
        code_cols.append(F.array_min(cands)["cid"])
    return out.select(id_col, F.array(*code_cols).alias("codes"))


def _dense_codebook_literal(
    codebooks: dict[int, dict[int, list[float]]], sub: int
) -> Column:
    """The codebook as ONE nested literal array (j → code → centroid), dense
    by code id with zero-centroid placeholders for empty clusters (codes
    never reference those, mirroring pq_topk's 0.0-padded tables). Size is
    k*dim floats total — the same broadcast-sized object as the IVF
    quantizer, built once, not per query."""
    rows = []
    for j in sorted(codebooks):
        dense: list[list[float]] = [[0.0] * sub for _ in range(max(codebooks[j]) + 1)]
        for cid, c in codebooks[j].items():
            dense[cid] = [float(x) for x in c]
        rows.append(F.array(*[F.array(*[F.lit(x) for x in c]) for c in dense]))
    return F.array(*rows)


def _sq_dist_cols(a: Column, b: Column) -> Column:
    # left-to-right fold: the same summation order as pq_topk's driver-side
    # Python table build, so both formulations are bit-identical
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x)


def pq_topk_broadcast(
    codes: DataFrame,
    codebooks: dict[int, dict[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """:func:`pq_topk`'s ADC ranking with the query set as a BROADCAST frame
    instead of a collected closure: each query's m×k distance table is
    computed as an expression over the (one, small) codebook literal, the
    tables broadcast-join the code corpus, and the lookup is a zip_with over
    (tables, codes). Bit-identical to pq_topk (same fold order); use when
    the query set exceeds the driver-small bound. Plan size is constant in
    the number of queries (pq_topk's inlined literals grow per query)."""
    m = len(codebooks)
    sub = dim // m
    if any(not b for b in codebooks.values()):
        raise ValueError("every subspace codebook must be non-empty")
    book = _dense_codebook_literal(codebooks, sub)
    qv = F.col("_qv")
    tabs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(book, j + F.lit(1)),
            lambda c: _sq_dist_cols(F.slice(qv, j * F.lit(sub) + F.lit(1), sub), c),
        ),
    )
    qtabs = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    ).select(query_id_col, tabs.alias("_tabs"))
    adc = F.aggregate(
        F.zip_with(F.col("_tabs"), F.col("codes"), lambda t, c: F.element_at(t, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.crossJoin(F.broadcast(qtabs))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), adc.alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "adc_dist", "rank")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: dict[int, dict[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
    max_closure_queries: int | None = 256,
    queries_broadcast: bool | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-encoded corpus.

    Per query the m x k distance table (query subvector vs every codeword)
    is precomputed driver-side and inlined as literal arrays; a document's
    approximate squared distance is then m table lookups by its codes —
    whole-stage codegen over the 1-byte-per-subspace corpus, never touching
    float vectors. Output: (query_id, neighbor_id, adc_dist, rank).

    The inlined-literal plan grows with the query count, so past
    ``max_closure_queries`` (or with ``queries_broadcast=True``) the ranking
    switches to :func:`pq_topk_broadcast` — bit-identical answers, constant
    plan size, queries never collected. Bound rationale in SCALE.md.
    """
    m = len(codebooks)
    sub = dim // m
    if any(not b for b in codebooks.values()):
        raise ValueError("every subspace codebook must be non-empty")
    if queries_broadcast is None:
        # bounded existence check, not a full count (see brute_force_topk_arrow)
        queries_broadcast = (
            max_closure_queries is not None
            and queries.limit(max_closure_queries + 1).count() > max_closure_queries
        )
    if queries_broadcast:
        return pq_topk_broadcast(
            codes, codebooks, queries, k, vec_col, id_col, query_id_col, dim
        )
    qrows = queries.select(id_col, F.col(vec_col).cast("array<double>")).collect()
    if not qrows:
        # F.array() of zero structs has null element type and breaks field
        # extraction — return an explicitly-typed empty result instead
        idt = dict(codes.dtypes)[id_col]
        return local_table(
            codes.sparkSession, [],
            f"{query_id_col} {idt}, neighbor_id {idt}, adc_dist double, rank int",
        )

    scored_cols = []
    for r in qrows:
        qid, qv = r[0], list(r[1])
        total = None
        for j in range(m):
            qsub = qv[j * sub : (j + 1) * sub]
            # dense table indexed by code id (codes are 0..k-1 from kmeans)
            tab = [0.0] * (max(codebooks[j]) + 1)
            for cid, c in codebooks[j].items():
                tab[cid] = sum((a - b) * (a - b) for a, b in zip(qsub, c))
            term = F.element_at(F.lit(tab), F.col("codes")[j] + 1)
            total = term if total is None else total + term
        scored_cols.append(
            F.struct(F.lit(int(qid)).alias(query_id_col), total.alias("adc_dist"))
        )

    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(F.array(*scored_cols)).alias("s"),
    ).select("neighbor_id", f"s.{query_id_col}", "s.adc_dist")
    exploded = exploded.filter(F.col("neighbor_id") != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", "adc_dist", "rank")
    )


def exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    neighbor_id_col: str = "neighbor_id",
) -> DataFrame:
    """Exact-cosine rerank of an approximate shortlist — the refine half of
    the standard two-stage ANN serving plan (coarse/ADC shortlist at k' >> k,
    then exact scoring of only the shortlist). Output: (query_id,
    neighbor_id, cosine, rank) with rank <= k.

    Scale shape: the float vectors are touched only for shortlist rows —
    |queries| x k' lookups, not the corpus — via one equi-join against the
    corpus (shuffle keyed by the bounded shortlist) and one broadcast join
    for the driver-small query vectors; the final ordering is a per-query
    window over k' rows.
    """
    qv = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    nv = corpus.select(
        F.col(id_col).alias(neighbor_id_col), F.col(vec_col).cast("array<double>").alias("_nv")
    )
    scored = (
        shortlist.select(query_id_col, neighbor_id_col)
        .join(F.broadcast(qv), query_id_col)
        .join(nv, neighbor_id_col)
        .withColumn("cosine", cosine_similarity(F.col("_qv"), F.col("_nv")))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(neighbor_id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, neighbor_id_col, "cosine", "rank")
    )
