"""Similarity search and ANN queries: brute-force and LSH top-k, IVF
centroids and probes (plain and partitioned), k-means, int8 and product
quantization, two-stage rerank, BM25 and RAG retrieval, SemDeDup, and the
did-you-mean rerank kernel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as SIM
from ..operators.benchmark import dym_rerank
from ..operators.chunking import chunk_documents
from ..operators.dedup import semantic_dedup
from ..operators.similarity import brute_force_topk, quantize_embeddings
from .common import Q83_CORE, QueryDef, _t, scalarized_sql, stringify_arrays


QUERIES: dict[str, QueryDef] = {}


# --------------------------------------------------------------------------
# Similarity search (embeddings table)
# --------------------------------------------------------------------------

def q29_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline): queries broadcast,
    corpus streams, per-query ranked window (operators/similarity.py). The
    LSH-bucketed variant is the scale path (rows-only q30)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.brute_force_topk(emb, queries, k=5, vec_col="embedding", id_col="vec_id")
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q29_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  -- cast to DOUBLE[] so the similarity runs in double like the Spark side
  -- (float32 math shifts the 7th decimal and the rounded output)
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS cos_raw
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q30_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k: compare only within the query's
    bucket — the 100 TB path where a query touches 1/2^bits of the corpus.
    The hyperplanes are deterministic (seeded sin-hash, engine-independent
    double math), so the oracle reproduces bucketing + ranking exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.lsh_topk(emb, queries, k=5, num_bits=4, dim=64)
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q30_SQL = """
WITH planes AS (
  -- the same seeded sin-hash hyperplanes as operators/similarity.py
  -- _hyperplane_sign: component i of plane `seed` =
  -- frac(sin((i+1)*(seed*12.9898+78.233))*43758.5453) - 0.5
  -- NB: '%' (sign follows dividend, like Spark/Java '%'), NOT DuckDB's
  -- fmod() (floored, always-positive remainder — flips every negative bucket bit)
  SELECT seed,
         list_transform(generate_series(0, 63),
           i -> ((sin((i + 1) * (seed * 12.9898 + 78.233)) * 43758.5453) % 1.0) - 0.5) AS w
  FROM generate_series(1, 4) AS t(seed)
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), buckets AS (
  -- bucket = MSB-first sign bits, seed 1 is the high bit
  SELECT v.vec_id, v.v,
         CAST(sum(CASE WHEN list_dot_product(v.v, p.w) >= 0
                       THEN (CAST(1 AS BIGINT) << (4 - p.seed))
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
  FROM vecs v CROSS JOIN planes p
  GROUP BY v.vec_id, v.v
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM buckets WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(b.v, q.qv) AS cos_raw
  FROM buckets b JOIN q ON b.bucket = q.bucket AND b.vec_id != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q31_centroids(spark, sf_dir):
    """Per-label centroids via posexplode + the ORDER-FREE sorted-fold mean
    per dimension (similarity.py:orderfree_mean — a plain avg's partial-sum
    order varies with partitioning and flips the rounded grid; r8 sweep).
    Shuffle keyed by (label, dim) — fully partition-parallel."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.centroids(emb, "label", "embedding", round_to=4)
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("pos").cast("long").alias("pos"),
        # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0)
        (F.col("value") + F.lit(0.0)).alias("value"),
    )


Q31_SQL = """
SELECT CAST(label AS BIGINT) AS label,
       CAST(pos AS BIGINT) AS pos,
       -- sorted fold, not avg: order-free float mean, bit-equal to the
       -- engine's centroids() fold (see similarity.py:centroids)
       round(CAST(list_reduce(list_sort(list(CAST(v AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(v), 4) + CAST(0.0 AS DOUBLE) AS value
FROM (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS v
  FROM embeddings
)
GROUP BY label, pos
"""


QUERIES.update({
    "q29_topk_cosine": QueryDef(q29_topk_cosine, Q29_SQL, "similarity-bruteforce"),
    "q30_lsh_topk": QueryDef(q30_lsh_topk, Q30_SQL, "similarity-lsh"),
    "q31_centroids": QueryDef(q31_centroids, Q31_SQL, "similarity-ivf-centroids"),
})


# --------------------------------------------------------------------------
# q61 — IVF approximate nearest neighbors, fully oracle-checked
# --------------------------------------------------------------------------

def q61_ivf_topk(spark, sf_dir):
    """IVF ANN (operators/similarity.py:ivf_topk): per-label centroids form
    the coarse quantizer, every vector is re-assigned to its nearest centroid
    (argmax over a broadcast quantizer, map-side-combined), each query probes
    its 2 nearest cells and ranks only those cells' vectors. Unlike the LSH
    variant (q30, rows-only), every step here is deterministic and
    SQL-expressible, so the whole approximate index is value-hash-checked.
    Centroid components are pinned to a 1e-6 grid so argmax decisions match
    across engines with different float-summation orders. (The synthetic
    embeddings are isotropic, so recall ≈ the probed fraction — the check is
    about the index plumbing being exactly right, not clustered-data recall.)"""
    from ..operators import similarity as SIM  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.ivf_topk(emb, queries, k=5, nprobe=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q61_SQL = """
WITH dims AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
), cdim AS (
  SELECT label, pos, round(CAST(list_reduce(list_sort(list(CAST(v AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(v), 6) AS value FROM dims GROUP BY label, pos
), cent AS (
  SELECT label, list(value ORDER BY pos) AS centroid FROM cdim GROUP BY label
), assigned AS (
  SELECT e.vec_id, e.embedding, c.label,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.centroid) DESC,
                    c.label ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cent c
), cells AS (
  SELECT vec_id, embedding, label FROM assigned WHERE rn = 1
), probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec, c.label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.centroid) DESC,
                    c.label ASC
         ) AS prn
  FROM embeddings q CROSS JOIN cent c
  WHERE q.vec_id < 5
), scored AS (
  SELECT p.query_id, m.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(m.embedding AS DOUBLE[]), CAST(p.qvec AS DOUBLE[])) AS cos_raw
  FROM (SELECT query_id, qvec, label FROM probes WHERE prn <= 2) p
  JOIN cells m ON m.label = p.label
  WHERE m.vec_id != p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


QUERIES.update({
    "q61_ivf_topk": QueryDef(q61_ivf_topk, Q61_SQL, "IVF ANN (similarity ext)"),
})


# --------------------------------------------------------------------------
# q77 — BM25 keyword retrieval over the documents corpus
# --------------------------------------------------------------------------

_Q77_TERMS = ("hash", "join", "vector")


_Q77_K1, _Q77_B, _Q77_TOPK = 1.2, 0.75, 20


def q77_bm25_search(spark, sf_dir):
    """Okapi BM25 scoring for a 3-term keyword query with top-k retrieval —
    the search primitive a corpus-curation pipeline uses for targeted
    sampling. Everything is relational: per-(doc, term) term frequencies from
    one explode (filtered to the query terms before the shuffle), document
    frequencies and corpus stats as broadcast singletons, the score a pure
    expression, top-k a bounded sort."""
    d = _t(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
    per_doc = d.select("doc_id", words.alias("w")).select(
        "doc_id", F.size("w").cast("double").alias("dl"), "w"
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    # term frequencies as per-document array scans — for a fixed small query
    # the token array is counted in place (3 filtered sizes per doc) instead
    # of exploding the whole corpus' tokens into ~dl× more rows; the only
    # rows that leave the map are (doc, matched term).
    def _eq(term):
        return lambda x: x == F.lit(term)

    tf_arr = F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.size(F.filter("w", _eq(t))).cast("double").alias("tf"),
            )
            for t in _Q77_TERMS
        ]
    )
    tf = (
        per_doc.select("doc_id", "dl", F.explode(tf_arr).alias("t"))
        .select("doc_id", "dl", "t.term", "t.tf")
        .filter(F.col("tf") > 0)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf", F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "w_tf",
            (F.col("tf") * (_Q77_K1 + 1))
            / (F.col("tf") + _Q77_K1 * (1 - _Q77_B + _Q77_B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("idf") * F.col("w_tf")), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_Q77_TOPK)


Q77_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents
), lens AS (
  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, w FROM per_doc
), corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens
), tf AS (
  SELECT doc_id, t.term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM lens, unnest(w) AS t(term)
  WHERE t.term IN ('hash', 'join', 'vector')
  GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
)
SELECT doc_id,
       round(sum(
         ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (t.tf * ({_Q77_K1} + 1)) / (t.tf + {_Q77_K1} * (1 - {_Q77_B} + {_Q77_B} * t.dl / c.avgdl))
       ), 6) AS bm25
FROM tf t JOIN dfreq d USING (term) CROSS JOIN corpus c
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_Q77_TOPK}
"""


QUERIES.update({
    "q77_bm25_search": QueryDef(
        q77_bm25_search, Q77_SQL, "LLM-pipeline: BM25 corpus retrieval"
    ),
})


# --------------------------------------------------------------------------
# q83 — k-means (2 Lloyd iterations, k=8) over the embedding corpus
# --------------------------------------------------------------------------

def q83_kmeans(spark, sf_dir):
    """Lloyd's k-means summary: per final cluster its member count and its
    centroid (rounded to 4). The full unrolled two-iteration computation —
    deterministic init from the 8 smallest vec_ids, intermediate centroids
    pinned to a 6-decimal grid — is mirrored exactly by the SQL twin."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = SIM.kmeans(emb, "embedding", "vec_id", k=8, iterations=2)
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    cents = SIM.centroids(assigned, "cluster", "embedding", round_to=4)
    return (
        cents.join(sizes, "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("pos").cast("long").alias("pos"),
            # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0)
            (F.col("value") + F.lit(0.0)).alias("value"),
        )
    )


Q83_SQL = Q83_CORE + """,
sizes AS (SELECT cid, count(*) AS n_members FROM a2 GROUP BY cid),
cent AS (SELECT cid, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM a2),
agg AS (SELECT cid, pos, round(CAST(list_reduce(list_sort(list(CAST(x AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(x), 4) + CAST(0.0 AS DOUBLE) AS value FROM cent GROUP BY cid, pos)
SELECT CAST(a.cid AS BIGINT) AS cluster, CAST(s.n_members AS BIGINT) AS n_members,
       CAST(a.pos AS BIGINT) AS pos, a.value
FROM agg a JOIN sizes s USING (cid)
"""


QUERIES.update({
    "q83_kmeans": QueryDef(
        q83_kmeans, Q83_SQL, "LLM-pipeline: k-means quantizer/semantic clustering"
    ),
})


# --------------------------------------------------------------------------
# q85 — int8 scalar quantization + reconstruction error
# --------------------------------------------------------------------------

def q85_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization with reconstruction MSE
    (operators/similarity.py:quantize_embeddings) — no shuffle; at serving
    scale this is the 4x memory cut that lets an IVF cell list stay in
    RAM. Property-tested error bound |x - q/s| <= 0.5/s per component."""
    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, "embedding", "vec_id")
    return stringify_arrays(
        out.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(F.col("scale"), 6).alias("scale"),
            "qvec",
            F.round(F.col("mse"), 10).alias("mse"),
        )
    )


Q85_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE CAST(127.0 AS DOUBLE) / list_max(list_transform(v, x -> abs(x))) END AS scale
      FROM e),
q AS (SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(round(x * scale) AS INT)) AS qvec
      FROM s)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(scale, 6) AS scale,
       qvec,
       round(list_sum(list_transform(list_zip(v, qvec),
               p -> (p[1] - CASE WHEN scale = 0 THEN CAST(0.0 AS DOUBLE) ELSE p[2] / scale END)
                  * (p[1] - CASE WHEN scale = 0 THEN CAST(0.0 AS DOUBLE) ELSE p[2] / scale END)))
             / len(v), 10) AS mse
FROM q
"""


Q85_SQL = scalarized_sql(Q85_SQL, ["qvec"])


QUERIES.update({
    "q85_quantize": QueryDef(
        q85_quantize, Q85_SQL, "LLM-pipeline: int8 embedding quantization"
    ),
})


# --------------------------------------------------------------------------
# q91 — quantized ANN: top-k over the int8 corpus
# --------------------------------------------------------------------------

def q91_quantized_topk(spark, sf_dir):
    """Serving-path follow-through of q85: top-5 neighbors by cosine over
    the int8-quantized corpus (scale cancels in cosine, so the quantized
    corpus is directly searchable). The dot products are exact integer
    arithmetic — bit-identical across engines — and the corpus side stays
    4x smaller in memory than float32. Broadcast queries, streamed corpus,
    per-query ranked window (the q29 shape on quantized payloads)."""
    from pyspark.sql import Window  # noqa: PLC0415

    from ..operators.similarity import quantize_embeddings  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # norms are precomputed per side BEFORE the non-equi join: otherwise the
    # corpus norm re-runs a dim-length aggregate once per (corpus x query)
    # pair inside the serving hot loop
    qd = quantize_embeddings(emb, "embedding", "vec_id").select(
        "vec_id", "qvec", F.sqrt(idot(F.col("qvec"), F.col("qvec")).cast("double")).alias("_nrm")
    )
    queries = qd.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("_qq"),
        F.col("_nrm").alias("_qnrm"),
    )

    scored = (
        qd.join(F.broadcast(queries), qd["vec_id"] != queries["query_id"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (idot(F.col("qvec"), F.col("_qq")) / (F.col("_nrm") * F.col("_qnrm"))).alias("qcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            F.round("qcos", 4).alias("qcos"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


Q91_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE CAST(127.0 AS DOUBLE) / list_max(list_transform(v, x -> abs(x))) END AS scale
      FROM e),
q AS (SELECT vec_id, list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS qvec FROM s),
qq AS (SELECT vec_id AS query_id, qvec AS qv FROM q WHERE vec_id < 5),
scored AS (
  SELECT qq.query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(c.qvec, qq.qv), p -> p[1] * p[2]))
         / (sqrt(CAST(list_sum(list_transform(c.qvec, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(qq.qv, x -> x * x)) AS DOUBLE))) AS qcos
  FROM q c CROSS JOIN qq WHERE c.vec_id != qq.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(qcos, 4) AS qcos, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


QUERIES["q91_quantized_topk"] = QueryDef(
    q91_quantized_topk, Q91_SQL, "LLM-pipeline: int8 quantized ANN serving"
)


# --------------------------------------------------------------------------
# q92 — product quantization: encode + ADC top-k (rows-only)
# --------------------------------------------------------------------------

def q92_pq_topk(spark, sf_dir):
    """IVFPQ's fine half: per-subspace k-means codebooks → m-byte codes
    (64x smaller than float32) → asymmetric-distance top-5 by table lookup
    (operators/similarity.py:pq_*). Codebook training is k-means (driver
    syncs the m×k codeword matrix — bounded by construction); encode and
    search are pure codegen over the 1-byte-per-subspace corpus.
    Training is deterministic (q83's fixed init + 6-decimal centroid grid),
    so the two Lloyd iterations unroll into the DuckDB oracle and the whole
    train→encode→ADC pipeline is hash-checked end-to-end."""
    from ..operators.similarity import pq_encode, pq_topk, pq_train_codebooks  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=4, k=8, iterations=2, dim=64)
    codes = pq_encode(emb, books, dim=64)
    queries = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(codes, books, queries, k=5, dim=64)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("adc_dist", 4).alias("adc_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


# CTE chain through the ADC ranking (`ranked`, over `e`/`codes`/`c2`) —
# shared with q116's rerank oracle, which shortlists at a larger k and
# re-scores the shortlist with exact cosine.
Q92_CORE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v
         FROM e ORDER BY vec_id LIMIT 8),
-- per-subspace views: subvector j = v[j*16+1 .. (j+1)*16]
sube AS (SELECT vec_id, g.j, list_slice(v, g.j*16 + 1, (g.j+1)*16) AS sv
         FROM e, generate_series(0, 3) AS g(j)),
c0 AS (SELECT g.j, cid, list_slice(v, g.j*16 + 1, (g.j+1)*16) AS c
       FROM init, generate_series(0, 3) AS g(j)),
-- Lloyd iteration 1 (argmin tie-breaks on cid, the array_min struct order)
a1 AS (SELECT vec_id, j, sv, cid FROM (
         SELECT s.vec_id, s.j, s.sv, c.cid,
                row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                  list_sum(list_transform(list_zip(s.sv, c.c),
                                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
         FROM sube s JOIN c0 c ON s.j = c.j) WHERE rn = 1),
c1 AS (SELECT j, cid, list(val ORDER BY pos) AS c FROM (
         SELECT j, cid, pos, round(CAST(list_reduce(list_sort(list(CAST(x AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(x), 6) AS val FROM (
           SELECT j, cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM a1)
         GROUP BY j, cid, pos)
       GROUP BY j, cid),
-- Lloyd iteration 2
a2 AS (SELECT vec_id, j, sv, cid FROM (
         SELECT s.vec_id, s.j, s.sv, c.cid,
                row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                  list_sum(list_transform(list_zip(s.sv, c.c),
                                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
         FROM sube s JOIN c1 c ON s.j = c.j) WHERE rn = 1),
c2 AS (SELECT j, cid, list(val ORDER BY pos) AS c FROM (
         SELECT j, cid, pos, round(CAST(list_reduce(list_sort(list(CAST(x AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(x), 6) AS val FROM (
           SELECT j, cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM a2)
         GROUP BY j, cid, pos)
       GROUP BY j, cid),
-- encode: nearest final codeword per (vector, subspace)
codes AS (SELECT vec_id, j, cid FROM (
            SELECT s.vec_id, s.j, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                     list_sum(list_transform(list_zip(s.sv, c.c),
                                             p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
            FROM sube s JOIN c2 c ON s.j = c.j) WHERE rn = 1),
-- ADC: per-query distance table (query subvector vs every codeword), then
-- a document's distance = sum of its m table lookups
qd AS (SELECT q.vec_id AS query_id, c.j, c.cid,
              list_sum(list_transform(list_zip(q.sv, c.c),
                                      p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
       FROM (SELECT vec_id, j, sv FROM sube WHERE vec_id < 5) q
       JOIN c2 c ON q.j = c.j),
dist AS (SELECT qd.query_id, codes.vec_id AS neighbor_id, sum(qd.d) AS adc
         FROM codes JOIN qd ON codes.j = qd.j AND codes.cid = qd.cid
         GROUP BY qd.query_id, codes.vec_id),
ranked AS (SELECT query_id, neighbor_id, adc,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc ASC, neighbor_id ASC) AS rank
           FROM dist WHERE neighbor_id != query_id)"""


Q92_SQL = Q92_CORE + """
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(adc, 4) AS adc_dist, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


QUERIES["q92_pq_topk"] = QueryDef(
    q92_pq_topk, Q92_SQL, "LLM-pipeline: product-quantized ANN (IVFPQ fine half)"
)


_EMBED_DIM = 32  # random-projection noise ~1/sqrt(dim); 32 keeps overlap >> noise


def hash_embedding(text_col, dim: int = _EMBED_DIM, hash_family: str = "xxhash64"):
    """Deterministic pseudo-embedding: a bag-of-tokens random projection —
    component i is the sum over tokens of a zero-mean seeded hash
    feature in [-1, 1) (pmod — a signed % would bias every feature by -1). The stand-in for a real encoder (not in this container) with
    the property retrieval plumbing actually needs: texts sharing tokens
    get correlated vectors (overlapping chunks ARE near neighbors),
    disjoint texts are near-orthogonal. Pure codegen, no Python; the token
    array is let-bound so the split runs once, not ``dim`` times.

    ``hash_family='md5'``: feature i of token t is carved from 4 hex chars of
    ``md5(t || ':' || i//8)`` (8 features per digest, so only ``dim/8`` md5
    evaluations per token) — a SQL oracle engine computes the identical
    vector. The fold runs token-major (one feature-vector per token,
    zip_with-summed in token order), giving bit-identical double sums to the
    oracle's per-dimension in-order reduce."""
    from ..functions.expr import let as _let  # noqa: PLC0415

    def build(toks):
        if hash_family == "md5":
            def tok_vec(t):
                def feat(i: int):
                    grp, off = divmod(i, 8)
                    val = F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", t, F.lit(str(grp)))),
                            off * 4 + 1,
                            4,
                        ),
                        16,
                        10,
                    ).cast("long")
                    return F.pmod(val, F.lit(1000)).cast("double") / 500.0 - 1.0

                return F.array(*[feat(i) for i in range(dim)])

            return F.aggregate(
                F.transform(toks, tok_vec),
                F.array_repeat(F.lit(0.0), dim),
                lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
            )

        def feat(i: int):
            return F.aggregate(
                toks,
                F.lit(0.0),
                lambda acc, t: acc
                + (F.pmod(F.xxhash64(t, F.lit(i)), F.lit(1000)).cast("double") / 500.0 - 1.0),
            )

        return F.array(*[feat(i) for i in range(dim)])

    return _let(F.split(text_col, " "), build)


# --------------------------------------------------------------------------
# q95 — RAG retrieval: chunk → embed → top-k
# --------------------------------------------------------------------------

def q95_rag_retrieval(spark, sf_dir):
    """Retrieval pipeline over the chunked corpus: 32-token windows (stride
    24), hash-embedded (md5 feature family → oracle-checkable), exact cosine
    top-3 per query chunk (queries = the first chunk of the 5 lowest
    doc_ids). All stages are per-row codegen until the final
    broadcast-queries × streamed-chunks ranking — the q29 shape over the
    chunk table. Chunks are keyed by ``doc_id:chunk_start`` (the sha1-based
    ``chunk_id`` stays the production key; the oracle engine lacks sha1)."""
    d = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(d, chunk_tokens=32, stride=24).select(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("chunk_start").cast("string")
        ).alias("chunk_key"),
        "doc_id",
        "chunk_start",
        hash_embedding(F.col("chunk_text"), hash_family="md5").alias("embedding"),
    )
    queries = chunks.filter((F.col("doc_id") < 5) & (F.col("chunk_start") == 1))
    out = brute_force_topk(
        chunks, queries, k=3, vec_col="embedding", id_col="chunk_key"
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


Q95_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
  FROM documents
), st AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), 24)) AS cs
  FROM toks WHERE len(t) > 0
), chunks AS (
  SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(cs AS VARCHAR) AS chunk_key,
         doc_id, cs AS chunk_start,
         list_slice(t, cs, cs + 31) AS ct
  FROM st
), emb AS (
  -- feature i of token t: 4 hex chars of md5(t || ':' || i//8) -> [-1, 1);
  -- per-dimension sum folds in token order (matches the Spark zip_with fold)
  SELECT chunk_key, doc_id, chunk_start,
         list_transform(generate_series(0, 31), i ->
           list_reduce(list_transform(ct, tok ->
             (CAST('0x' || substr(md5(tok || ':' || CAST(i // 8 AS VARCHAR)),
                                  (i % 8) * 4 + 1, 4) AS BIGINT) % 1000) / 500.0 - 1.0),
             (a, b) -> a + b)) AS v
  FROM chunks
), q AS (
  SELECT chunk_key AS query_id, v AS qv FROM emb WHERE doc_id < 5 AND chunk_start = 1
), scored AS (
  SELECT q.query_id, e.chunk_key AS neighbor_id,
         list_cosine_similarity(e.v, q.qv) AS cos_raw
  FROM emb e CROSS JOIN q WHERE e.chunk_key != q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


QUERIES.update({
    "q95_rag_retrieval": QueryDef(
        q95_rag_retrieval, Q95_SQL, "LLM-pipeline: composed RAG chunk→embed→top-k"
    ),
})


# --------------------------------------------------------------------------
# q112 — SemDeDup: k-means clusters -> within-cluster cosine prune
# --------------------------------------------------------------------------


def q112_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embedding corpus (operators/dedup.py:semantic_dedup):
    q83's deterministic k-means (k=8, 2 Lloyd iterations) assigns clusters,
    then the per-cluster BLAS kernel drops every vector with a smaller-id
    cluster-mate at cosine >= 0.3. Every row is emitted with its cluster and
    kept flag so the removal is auditable.

    This query prices the PRODUCTION path: the cap is the task-memory
    budget (4096 rows × 64 dims × 8 B ≈ 2 MiB of resident block matrix per
    task), which no test-SF cluster reaches — the salted plan machinery is
    present (bounded tasks under any skew) but S = 1 everywhere, so the
    query costs what a deployment would pay. The S > 1 sub-block pair grid
    is oracle-gated separately by q171 (lazy 'half-avg' cap — splits at
    every SF) plus a salted-plan assertion test, the r13 re-pricing ask:
    gating the split at toy scale here charged q112 5.7× its r12 cost."""
    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, "embedding", "vec_id", k=8, iterations=2, threshold=0.3,
        max_block_size=4096,
    )
    return out.select("vec_id", "cluster", "kept")


# The oracle reuses q83's unrolled k-means CTE chain (same deterministic
# assignment, pinned-grid centroids) and prunes within the final clusters.
Q112_SQL = Q83_CORE + """,
simpairs AS (
  SELECT l.vec_id AS lid, r.vec_id AS rid
  FROM a2 l JOIN a2 r ON l.cid = r.cid AND l.vec_id < r.vec_id
  WHERE list_cosine_similarity(l.v, r.v) >= 0.3
),
losers AS (SELECT DISTINCT rid FROM simpairs)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster, (l.rid IS NULL) AS kept
FROM a2 a LEFT JOIN losers l ON a.vec_id = l.rid
"""


QUERIES.update({
    "q112_semantic_dedup": QueryDef(
        q112_semantic_dedup, Q112_SQL,
        "LLM-pipeline: SemDeDup — k-means clusters, within-cluster cosine prune",
    ),
})


# --------------------------------------------------------------------------
# q116 — two-stage ANN serving: PQ/ADC shortlist -> exact-cosine rerank
# --------------------------------------------------------------------------


def q116_pq_rerank(spark, sf_dir):
    """The full two-stage ANN serving plan: q92's PQ pipeline shortlists the
    top-20 per query by asymmetric distance (1-byte-per-subspace codegen, no
    float vectors touched), then operators/similarity.py:exact_rerank
    re-scores only the shortlist with exact cosine and keeps the top-5. The
    oracle extends q92's unrolled train->encode->ADC chain with the same
    shortlist + rerank."""
    from ..operators.similarity import (  # noqa: PLC0415
        exact_rerank,
        pq_encode,
        pq_topk,
        pq_train_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb, m=4, k=8, iterations=2, dim=64)
    codes = pq_encode(emb, books, dim=64)
    queries = emb.filter(F.col("vec_id") < 5)
    shortlist = pq_topk(codes, books, queries, k=20, dim=64)
    out = exact_rerank(shortlist, emb, queries, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q116_sql() -> str:

    return Q92_CORE + """,
short AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 20),
ex AS (
  SELECT s.query_id, s.neighbor_id, list_cosine_similarity(q.v, n.v) AS cos
  FROM short s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e n ON n.vec_id = s.neighbor_id
),
rr AS (SELECT query_id, neighbor_id, cos,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id ASC) AS rank
       FROM ex)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       round(cos, 4) AS cosine, CAST(rank AS BIGINT) AS rank
FROM rr WHERE rank <= 5
"""


QUERIES["q116_pq_rerank"] = QueryDef(
    q116_pq_rerank, _q116_sql(),
    "LLM-pipeline: two-stage ANN serving (ADC shortlist + exact rerank)",
)


def q151_dym_rerank(spark, sf_dir):
    """The did-you-mean choice over synthesized possible_autocomplete
    candidate lists: one native expression (log-length rescale against the
    incumbent, descending re-sort, shard-size/threshold gate)."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    pa = F.array(
        F.struct(
            F.concat(F.lit("שירות "), (k % 9).cast("string")).alias("key"),
            (k % 70).cast("double").alias("doc_count"),
        ),
        F.struct(
            F.concat(F.lit("מענה ארוך מאוד "), (k % 4).cast("string")).alias("key"),
            ((k % 35) + F.lit(0.5)).alias("doc_count"),
        ),
        F.struct(
            F.concat(F.lit("עזרה "), (k % 11).cast("string")).alias("key"),
            ((k % 20) + F.lit(0.25)).alias("doc_count"),
        ),
    )
    total = (k % 120).cast("int")
    return p.select(
        k.cast("long").alias("pk"),
        total.alias("total"),
        dym_rerank(pa, total).alias("dym"),
    )


_Q151_SQL = """
WITH base AS (
  SELECT CAST(p_partkey AS BIGINT) AS pk,
         CAST(p_partkey % 120 AS INT) AS total,
         'שירות ' || CAST(p_partkey % 9 AS VARCHAR) AS k1,
         CAST(p_partkey % 70 AS DOUBLE) AS d1,
         'מענה ארוך מאוד ' || CAST(p_partkey % 4 AS VARCHAR) AS k2,
         (p_partkey % 35) + 0.5 AS d2,
         'עזרה ' || CAST(p_partkey % 11 AS VARCHAR) AS k3,
         (p_partkey % 20) + 0.25 AS d3
  FROM part
),
scaled AS (
  SELECT *, d1 AS s1,
         d2 * ln(length(k2)) / ln(length(k1)) AS s2,
         d3 * ln(length(k3)) / ln(length(k1)) AS s3
  FROM base
),
winner AS (
  SELECT *, greatest(s1, s2, s3) AS w,
         CASE WHEN s1 = greatest(s1, s2, s3) THEN k1
              WHEN s2 = greatest(s1, s2, s3) THEN k2
              ELSE k3 END AS wkey
  FROM scaled
)
SELECT pk, total,
       CASE WHEN total >= 10 AND w <= 50 AND w > least(50, total) / 3.0
            THEN wkey END AS dym
FROM winner
"""


QUERIES.update({
    "q151_dym_rerank": QueryDef(
        q151_dym_rerank,
        _Q151_SQL,
        "did-you-mean rerank kernel (log-length rescale + threshold gate)",
    ),
})


def q156_ivf_partitioned(spark, sf_dir):
    """IVF with the assigned corpus written ``partitionBy(cell)`` and the
    probe answered off the PRUNED scan (operators/similarity.py:
    ivf_topk_partitioned): the q61 index semantics, but the storage layout
    does the cell selection — PartitionFilters carries the probed-cell IN
    list, so a probe reads nprobe/ncells of the data (plan pinned in
    tests/test_warehouse.py). Must hash-MATCH q61's oracle exactly."""
    import os  # noqa: PLC0415

    from ..operators import similarity as SIM  # noqa: PLC0415
    from ..session import scratch_dir  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = SIM.ivf_topk_partitioned(
        spark, emb, queries, path=os.path.join(scratch_dir("srm_q156"), "ivf"), k=5, nprobe=2
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


QUERIES.update({
    "q156_ivf_partitioned": QueryDef(
        q156_ivf_partitioned,
        Q61_SQL,
        "IVF over a partitionBy(cell) corpus: probe scan prunes to probed cells",
    ),
})


_K = 96          # > ASSIGN_LITERAL_MAX_K: forces the hierarchical kernel


_THRESHOLD = 0.3


def q171_semdedup_production(spark, sf_dir):
    """SemDeDup in the production posture (operators/dedup.py:semantic_dedup):
    k-means trained on the vec_id %% 2 == 0 sample, k=96 (hierarchical
    assignment), duplicates pruned per cluster at cosine >= 0.3 through the
    salt-split kernel with the in-plan 'half-avg' cap — S >= 2 everywhere,
    so the sub-block pair grid's exactly-once emission is what the oracle
    hashes. tests/test_dedup.py pins the salted plan shape (the grid
    grouping + a split factor > 1) so this row cannot silently degrade to
    the unsalted path."""
    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(
        emb, "embedding", "vec_id", k=_K, iterations=2, threshold=_THRESHOLD,
        max_block_size="half-avg", train_filter=F.col("vec_id") % 2 == 0,
    )
    return out.select("vec_id", "cluster", "kept")


# The oracle is the flat, unsampled-notation replay: train the two Lloyd
# rounds on the vec_id % 2 sample (c0 init = first 96 sample vectors, one
# centroid sync on the 6-decimal grid), assign the FULL corpus to the final
# centroids by flat argmin (no coarse cells — exactness of the pruned kernel
# is exactly what this cross-checks), then prune within clusters.
Q171_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
es AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v
       FROM es ORDER BY vec_id LIMIT {_K}),
a1 AS (SELECT vec_id, v, cid FROM (
         SELECT es.vec_id, es.v, c.cid,
                row_number() OVER (PARTITION BY es.vec_id ORDER BY
                  list_sum(list_transform(list_zip(es.v, c.v),
                                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
         FROM es CROSS JOIN c0 c) WHERE rn = 1),
c1 AS (SELECT cid, list(val ORDER BY pos) AS v FROM (
         SELECT cid, pos, round(CAST(list_reduce(list_sort(list(CAST(x AS DOUBLE))), (a, b) -> a + b) AS DOUBLE) / count(x), 6) AS val FROM (
           SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a1)
         GROUP BY cid, pos)
       GROUP BY cid),
a2 AS (SELECT vec_id, v, cid FROM (
         SELECT e.vec_id, e.v, c.cid,
                row_number() OVER (PARTITION BY e.vec_id ORDER BY
                  list_sum(list_transform(list_zip(e.v, c.v),
                                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
         FROM e CROSS JOIN c1 c) WHERE rn = 1),
simpairs AS (
  SELECT l.vec_id AS lid, r.vec_id AS rid
  FROM a2 l JOIN a2 r ON l.cid = r.cid AND l.vec_id < r.vec_id
  WHERE list_cosine_similarity(l.v, r.v) >= {_THRESHOLD}
),
losers AS (SELECT DISTINCT rid FROM simpairs)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster, (l.rid IS NULL) AS kept
FROM a2 a LEFT JOIN losers l ON a.vec_id = l.rid
"""


QUERIES["q171_semdedup_production"] = QueryDef(
    q171_semdedup_production, Q171_SQL,
    "LLM-pipeline: SemDeDup production path (sample-trained, hierarchical, salt-split)",
)
