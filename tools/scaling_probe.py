"""Empirical scaling probe: do the headline operators actually scale?

SCALE.md argues shuffle shapes; this tool measures them. Each probe runs a
representative operator at 1x, 4x and 16x the sf0.1 corpus (synthetic
replicas: every document/embedding is cloned K times with a distinct id and
a per-replica token so content-keyed operators don't collapse the clones)
and reports wall-clock ratios. A shuffle-sane operator should grow ~linearly
(ratio ~= scale); anything super-linear is a plan to fix before it meets a
real cluster.

Probes:
- exact_dedup          hash-aggregate shuffle keyed by content
- minhash signatures   per-row projection + banded candidate join
- chunking             pure map (sequence+slice) — the no-shuffle baseline
- quality+quota        window shuffle keyed by stratum
- pagerank (2 rounds)  iterative join/agg over a growing edge list
- ivf assignment       broadcast-argmax map over the embedding corpus

Usage: python tools/scaling_probe.py [scales...]   (default 1 4 16)
Writes SCALING.md with the measured table.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from srm_etl_spark.hostload import STEAL_MAX_PCT  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scaled_docs(spark, k: int):
    from pyspark.sql import functions as F  # noqa: PLC0415

    d = spark.read.parquet(f"{SF}/documents.parquet")
    if k == 1:
        return d
    return (
        d.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .select(
            (F.col("doc_id") * k + F.col("_r")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" replica"), F.col("_r")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
    )


def scaled_emb(spark, k: int):
    from pyspark.sql import functions as F  # noqa: PLC0415

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    if k == 1:
        return e
    return (
        e.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
        .select(
            (F.col("vec_id") * k + F.col("_r")).alias("vec_id"),
            # perturb one component per replica so vectors are distinct
            F.transform(
                "embedding", lambda x, i: x + (F.col("_r") * 0.001) * (i == 0).cast("float")
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
    )


_SCALED_DIRS: dict[tuple[int, bool], str] = {}
_SCALED_DOC_DIRS: dict[int, str] = {}


def _generator_fingerprint() -> str:
    """Hash of the corpus-generator sources + the base SF dir: a cached
    corpus is only trusted if the code that would rebuild it is unchanged —
    a stale cache would silently feed SCALING.md data the current
    generators no longer produce."""
    import hashlib  # noqa: PLC0415
    import inspect  # noqa: PLC0415

    src = "".join(
        inspect.getsource(f)
        for f in (scaled_docs, scaled_emb, scaled_sf_dir, scaled_docs_dir, scaled_emb_dir)
    )
    return hashlib.sha256((SF + "\n" + src).encode()).hexdigest()[:16]


def _cache_slot(name: str) -> tuple[str, bool]:
    """(path, ready) for a scaled corpus under the suite-shared cache dir —
    per-probe subprocesses rebuild nothing the suite already built. The
    ``.ready`` marker commits a build atomically AND records the generator
    fingerprint: a marker from different generator code (or another base SF)
    is not trusted — the slot is rebuilt from scratch."""
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    base = os.environ.get("SPARK_GRAFT_SCALED_CACHE") or tempfile.mkdtemp(
        prefix="srm_scaled_cache_"
    )
    os.environ["SPARK_GRAFT_SCALED_CACHE"] = base
    path = os.path.join(base, name)
    marker = os.path.join(path, ".ready")
    fp = _generator_fingerprint()
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fp:
                return path, True
        shutil.rmtree(path)  # stale: built by different generator code
    return path, False


def scaled_docs_dir(spark, k: int) -> str:
    """A k-x DOCUMENTS corpus as an sf-dir (single parquet file, other
    tables symlinked): the scale axis for the composed training-corpus
    pipeline (q160), whose only input is the documents table. Replicas get
    distinct ids and a per-replica token so the exact-dedup stage doesn't
    collapse the clones."""
    if k == 1:
        return SF
    if k in _SCALED_DOC_DIRS:
        return _SCALED_DOC_DIRS[k]
    import glob  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    out, ready = _cache_slot(f"docs_{k}x")
    if not ready:
        os.makedirs(out, exist_ok=True)
        for t in ["region", "nation", "supplier", "customer", "part", "orders",
                  "lineitem", "events", "embeddings"]:
            if not os.path.lexists(f"{out}/{t}.parquet"):
                os.symlink(f"{SF}/{t}.parquet", f"{out}/{t}.parquet")
        tmp = os.path.join(out, "_docs_dir")
        scaled_docs(spark, k).coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{out}/documents.parquet")
        shutil.rmtree(tmp)
        with open(os.path.join(out, ".ready"), "w") as fh:
            fh.write(_generator_fingerprint())
    _SCALED_DOC_DIRS[k] = out
    return out


_SCALED_EMB_DIRS: dict[int, str] = {}


def scaled_emb_dir(spark, k: int) -> str:
    """The k-x EMBEDDINGS corpus materialized as a parquet file (suite-shared
    cache): the scale axis for embedding-corpus operators (semantic dedup).
    In-memory explode+repartition of the replicas costs ~1s at 16x and is
    probe scaffolding, not an operator property — a real corpus arrives on
    disk (the scaled_docs_dir precedent)."""
    if k == 1:
        return f"{SF}/embeddings.parquet"
    if k in _SCALED_EMB_DIRS:
        return _SCALED_EMB_DIRS[k]
    import glob  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    out, ready = _cache_slot(f"emb_{k}x")
    if not ready:
        os.makedirs(out, exist_ok=True)
        tmp = os.path.join(out, "_emb_dir")
        scaled_emb(spark, k).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(os.path.join(out, "embeddings.parquet"), ignore_errors=True)
        os.makedirs(os.path.join(out, "embeddings.parquet"))
        for i, f in enumerate(sorted(glob.glob(f"{tmp}/part-*.parquet"))):
            shutil.move(f, f"{out}/embeddings.parquet/part-{i:05d}.parquet")
        shutil.rmtree(tmp)
        with open(os.path.join(out, ".ready"), "w") as fh:
            fh.write(_generator_fingerprint())
    path = f"{out}/embeddings.parquet"
    _SCALED_EMB_DIRS[k] = path
    return path


def scaled_sf_dir(spark, k: int, full: bool = False) -> str:
    """A synthetic k-x copy of the WAREHOUSE for the composed verticals
    (q129/q133 probe): supplier/customer/part/orders replicated with
    distinct keys (pk*k + replica), the other tables symlinked as-is.
    Single parquet FILE per table (load_table sniffs schemas with pyarrow,
    which wants a file path). Built once per (session, k, full).

    ``full=True`` additionally replicates LINEITEM with all three FKs remapped
    coherently (l_orderkey/l_partkey/l_suppkey -> key*k + replica), so
    fact-side joins (services from lineitem x part, meser rows) grow k x too —
    the axis the derive-DAG probe needs. The default keeps lineitem symlinked
    (the entities/meser probes' historical axis: dims grow, facts don't)."""
    if k == 1:
        return SF
    if (k, full) in _SCALED_DIRS:
        return _SCALED_DIRS[(k, full)]
    import glob  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    from srm_etl_spark.sources.tables import load_table  # noqa: PLC0415

    out, ready = _cache_slot(f"wh_{k}x{'_full' if full else ''}")
    if ready:
        _SCALED_DIRS[(k, full)] = out
        return out
    os.makedirs(out, exist_ok=True)
    keys = {
        "supplier": "s_suppkey",
        "customer": "c_custkey",
        "part": "p_partkey",
        "orders": "o_orderkey",
    }
    multikeys: dict[str, list[str]] = {}
    if full:
        multikeys["lineitem"] = ["l_orderkey", "l_partkey", "l_suppkey"]
    passthrough = ["region", "nation", "events", "documents", "embeddings"]
    if not full:
        passthrough.append("lineitem")
    for t in passthrough:
        if not os.path.lexists(f"{out}/{t}.parquet"):
            os.symlink(f"{SF}/{t}.parquet", f"{out}/{t}.parquet")
    for t, ks in {**{t: [key] for t, key in keys.items()}, **multikeys}.items():
        df = load_table(spark, SF, t, spread=False)
        scaled = df.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        ).select(
            *[
                (F.col(c) * k + F.col("_r")).alias(c) if c in ks else F.col(c)
                for c in df.columns
            ]
        )
        tmp = os.path.join(out, f"_{t}_dir")
        scaled.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{out}/{t}.parquet")
        shutil.rmtree(tmp)
    with open(os.path.join(out, ".ready"), "w") as fh:
        fh.write(_generator_fingerprint())
    _SCALED_DIRS[(k, full)] = out
    return out


def probes(spark):
    from pyspark.sql import functions as F  # noqa: PLC0415

    from srm_etl_spark.functions.text import quality_score  # noqa: PLC0415
    from srm_etl_spark.operators.chunking import chunk_documents  # noqa: PLC0415
    from srm_etl_spark.operators.dedup import exact_dedup, minhash_signatures  # noqa: PLC0415
    from srm_etl_spark.operators.graph import pagerank  # noqa: PLC0415
    from srm_etl_spark.operators.similarity import centroid_vectors, ivf_topk  # noqa: PLC0415
    from srm_etl_spark.operators.windows import top_k_per_group  # noqa: PLC0415

    def p_dedup(k):
        return exact_dedup(scaled_docs(spark, k), "text", "doc_id").select("doc_id")

    def p_minhash(k):
        return minhash_signatures(scaled_docs(spark, k), "text", "doc_id", num_hashes=16)

    def p_chunk(k):
        return chunk_documents(scaled_docs(spark, k), chunk_tokens=32, stride=24).select(
            "chunk_id"
        )

    def p_quota(k):
        d = scaled_docs(spark, k).select(
            "doc_id", "source", "lang", quality_score(F.col("text")).alias("q")
        )
        return top_k_per_group(
            d, ["source", "lang"], [F.col("q").desc(), F.col("doc_id").asc()], k=100
        )

    def p_pagerank(k):
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_suppkey")
        o = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_custkey")
        e0 = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(
                (F.col("l_suppkey") * 2).alias("src"),
                (F.col("o_custkey") * 2 + 1).alias("dst"),
            )
        )
        if k > 1:
            e0 = e0.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))).select(
                (F.col("src") * k + F.col("_r")).alias("src"),
                (F.col("dst") * k + F.col("_r")).alias("dst"),
            )
        e0 = e0.distinct()
        edges = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        return pagerank(edges, iterations=2, assume_distinct=True, symmetric=True)

    def p_ivf(k):
        emb = scaled_emb(spark, k)
        queries = spark.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 5)
        return ivf_topk(emb, queries, k=5)

    def p_entity_res(k):
        # scale axis = MORE ENTITIES (distinct org-<pk> names; pk scales with
        # the replica index), matching how a growing org registry behaves:
        # block size stays bounded, block count grows with k
        from srm_etl_spark.operators.relational import resolve_entities  # noqa: PLC0415

        p = spark.read.parquet(f"{SF}/part.parquet").select(
            F.col("p_partkey").cast("long").alias("pk"), "p_name"
        )
        if k > 1:
            p = p.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))).select(
                (F.col("pk") * k + F.col("_r")).alias("pk"), "p_name"
            )
        # part.parquet is ONE split, so the k-x explode otherwise leaves the
        # whole fabricate + levenshtein map segment on a single core — a
        # probe-input artifact, not an operator property: a real registry
        # arrives in many splits (every disk-backed probe corpus does).
        # Redistribute to the session's parallelism before the operator.
        p = p.repartition(64)
        from srm_etl_spark.plans.text_dedup import fabricate_org_records  # noqa: PLC0415

        p = p.select(
            "pk",
            F.concat(
                F.lit("org-"), F.col("pk").cast("string"), F.lit(" "), F.col("p_name")
            ).alias("name"),
        )
        recs = fabricate_org_records(p)
        blk = F.split(F.col("nm"), " ").getItem(0)
        return resolve_entities(recs, "nm", "record_id", blk, max_edits=2)

    def p_semantic_dedup(k):
        # SemDeDup's operating point grows cluster COUNT with the corpus so
        # per-cluster pairwise work stays bounded — the probe scales k (the
        # cluster count) with the data exactly as the paper does — in the
        # FULL production posture (r14, q171's oracle-gated shape): Lloyd
        # trained on the vec_id%4 sample (one full-corpus assignment pass,
        # hierarchical past 64 centroids — the r13 n·k leg is gone), block
        # cap = the task-memory budget (1024 rows: splits the hot clusters
        # k-means hands a dense region, leaves average ones whole — a toy
        # cap here priced pure grid overhead, the q112 r13 mistake). Corpus
        # reads from a cached parquet file like every disk-backed probe.
        from pyspark.sql import functions as F  # noqa: PLC0415

        from srm_etl_spark.operators.dedup import semantic_dedup  # noqa: PLC0415

        emb = spark.read.parquet(scaled_emb_dir(spark, k))
        return semantic_dedup(
            emb, "embedding", "vec_id",
            k=8 * k, iterations=2, threshold=0.3, max_block_size=1024,
            train_filter=F.col("vec_id") % 4 == 0,
        )

    def p_substr_spans(k):
        from srm_etl_spark.operators.dedup import duplicate_substring_spans  # noqa: PLC0415

        return duplicate_substring_spans(
            scaled_docs(spark, k), "text", "doc_id", min_tokens=16
        )

    def p_max_repeats(k):
        # the any-length form (q169): same window shuffle as substr_spans,
        # plus the run-tail prefix certificate on the marked subset — the
        # probe watches whether the O(run * max_run) prefix stage stays
        # proportional to the duplicated SURFACE, not the corpus. The shared
        # scaled_docs axis is wrong for this operator: its tail-token
        # perturbation leaves every window duplicated ACROSS the k replicas
        # (a ~94%-duplicate corpus at 16x — whole-doc runs everywhere, which
        # any ExactSubstr implementation pays output-linear for). Instead,
        # prefix every TOKEN with its replica id: within-replica organic
        # duplication is preserved exactly (constant rate), cross-replica
        # matches are impossible — the realistic k-x growth shape.
        from pyspark.sql import functions as F  # noqa: PLC0415

        from srm_etl_spark.operators.dedup import maximal_repeat_spans  # noqa: PLC0415

        d = spark.read.parquet(f"{SF}/documents.parquet")
        if k > 1:
            d = (
                d.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
                .select(
                    (F.col("doc_id") * k + F.col("_r")).alias("doc_id"),
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), r"\s+"),
                            lambda t: F.concat(
                                F.lit("r"), F.col("_r").cast("string"), F.lit("_"), t
                            ),
                        ),
                        " ",
                    ).alias("text"),
                )
                .repartition(32)
            )
        return maximal_repeat_spans(d, "text", "doc_id", min_tokens=16)

    def p_entities_staged(k):
        # the COMPOSED §3.2 vertical (q129 shape): four sequential staged
        # merges with persisted scrape dims — fixed-cost knees would hide
        # here, not in the operator kernels
        from srm_etl_spark.plans.verticals import q129_entities_staged  # noqa: PLC0415

        return q129_entities_staged(spark, scaled_sf_dir(spark, k))

    def p_meser_staged(k):
        # the COMPOSED §3.3 vertical (q133 shape): three upserts + two
        # soft-delete sweeps + two FK remaps over the shared transform memo
        from srm_etl_spark.plans.verticals import q133_meser_staged  # noqa: PLC0415

        return q133_meser_staged(spark, scaled_sf_dir(spark, k))

    def p_derive_staged(k):
        # the COMPOSED §3.1 vertical (q158 shape): staging pull ->
        # flat_branches -> flat_services -> flat_table -> card_data ->
        # autocomplete in one lineage. full=True scales LINEITEM coherently
        # with the dims so the service-side fact joins grow k x as well —
        # this is the probe where a cross-stage handoff knee would show
        from srm_etl_spark.plans.composed import q158_derive_staged  # noqa: PLC0415

        return q158_derive_staged(spark, scaled_sf_dir(spark, k, full=True))

    def p_publish_fanout(k):
        # the derive TAIL (q159 shape): one persisted card surface feeding
        # ES action lines + sitemap chunks + SQL rows; shares the k-x derive
        # memo with p_derive_staged, so this isolates the fan-out cost
        from srm_etl_spark.plans.composed import q159_publish_fanout  # noqa: PLC0415

        return q159_publish_fanout(spark, scaled_sf_dir(spark, k, full=True))

    def p_corpus_staged(k):
        # the COMPOSED LLM-pipeline vertical (q160 shape): exact dedup ->
        # md5 MinHash-LSH near-dup -> quality gate -> decontamination ->
        # quota -> packing in one lineage, with k-x documents. LSH banding
        # is the stage that would go quadratic if the bucketing broke —
        # this probe drives the whole chain through the final packing stage.
        # persist=False: the probe's single consumer drives the chain
        # end-to-end; q160's phase pins would turn a second rep into a
        # cache scan and flatten the scale signal
        from srm_etl_spark.pipelines.curation import training_corpus_stages  # noqa: PLC0415
        from srm_etl_spark.plans.common import _t  # noqa: PLC0415

        d = _t(spark, scaled_docs_dir(spark, k), "documents")
        ev = d.filter(F.col("doc_id") % 37 == 0)
        raw = d.filter(F.col("doc_id") % 37 != 0)
        return training_corpus_stages(raw, ev, persist=False)["seqs"]

    def p_es_publish(k):
        # the FIVE-INDEX ES publish composition (q161 shape): one persisted
        # card projection feeding cards + places + responses + situations +
        # orgs + autocomplete. The count legs are map-side-combinable hash
        # aggregates (shuffle ≤ |taxonomy|) — this probe watches them and the
        # shared-surface persist under a k-x derive
        from srm_etl_spark.plans.composed import q161_es_publish_surfaces  # noqa: PLC0415

        return q161_es_publish_surfaces(spark, scaled_sf_dir(spark, k, full=True))

    def p_mapbox_geo(k):
        # the mapbox geo_data + points composition (q162 shape): ONE shuffle
        # on point_id; both mode keepers are two-level hash aggregates
        from srm_etl_spark.plans.composed import q162_mapbox_geo_flow  # noqa: PLC0415

        return q162_mapbox_geo_flow(spark, scaled_sf_dir(spark, k, full=True))

    def p_places_osm(k):
        # the OSM place-bounds twin (q163 shape): hstore parse + name-fix
        # chain + per-key merge + the official fuzzy handshake. The watched
        # part is the broadcast NLJ (|keys| x |officials|) — the round-11
        # length block prunes it before the levenshtein kernel
        from srm_etl_spark.plans.composed import q163_place_bounds  # noqa: PLC0415

        return q163_place_bounds(spark, scaled_sf_dir(spark, k))

    def p_dsir(k):
        # DSIR importance resampling (q164 shape): gram explode + md5
        # bucketing (pinned once), two B<=256-row map-side aggregates, a
        # broadcast literal map, TakeOrderedAndProject top-k — nothing here
        # should go super-linear in the corpus
        from srm_etl_spark.plans.text_dedup import q164_dsir_selection  # noqa: PLC0415

        return q164_dsir_selection(spark, scaled_docs_dir(spark, k))

    def p_ccnet(k):
        # the CCNet composition (q167 shape): corpus-wide paragraph dedup
        # (one shuffle on the window key) -> reassembly -> lang-ID ->
        # per-language bigram LM -> broadcast threshold buckets.
        # persist=False: the chain's pins would make rep 2 a cache scan
        from srm_etl_spark.pipelines.ccnet import ccnet_buckets  # noqa: PLC0415

        return ccnet_buckets(scaled_docs(spark, k), persist=False)

    def p_etl(k):
        # the WHOLE-ETL composition (q165 shape): staging merges -> derive
        # DAG over the post-merge state -> publish surfaces, k-x warehouse
        # with coherently-remapped lineitem FKs (full=True)
        from srm_etl_spark.plans.composed import q165_etl_end_to_end  # noqa: PLC0415

        return q165_etl_end_to_end(spark, scaled_sf_dir(spark, k, full=True))

    def p_doremi(k):
        # DoReMi-lite (q168 shape): one exploded bigram stream feeding two
        # models' count tables; everything after the per-doc score join
        # runs on the |sources|-row aggregate. persist=False (cache trap)
        from srm_etl_spark.operators.doremi import doremi_weights  # noqa: PLC0415

        return doremi_weights(scaled_docs(spark, k), persist=False)

    def p_skew_join(k):
        # the skew path (operators/skew.py, q50's operator) under a REAL
        # heavy hitter: one key owns ~half the k-x fact side (the reference's
        # welfare-ministry org shape, SURVEY §4.2). salted_join spreads the
        # hot key over 32 buckets; sub-linear growth here means the hot
        # partition never becomes the critical path
        from srm_etl_spark.operators.skew import salted_join  # noqa: PLC0415

        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_suppkey", "l_quantity"
        )
        if k > 1:
            li = li.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))).select(
                (F.col("l_orderkey") * k + F.col("_r")).alias("l_orderkey"),
                "l_suppkey",
                "l_quantity",
            ).repartition(32)  # single-split input: spread the k-x explode
            # (probe-input artifact — see p_entity_res)
        big = li.select(
            F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
            .otherwise(F.col("l_suppkey"))
            .alias("skey"),
            "l_orderkey",
            "l_quantity",
        )
        s = spark.read.parquet(f"{SF}/supplier.parquet").select(
            F.col("s_suppkey").alias("skey"), "s_name"
        )
        dim = s.unionByName(
            spark.createDataFrame([(0, "HOT")], "skey long, s_name string")
        )
        joined = salted_join(big, dim, on="skey", salt=32, salt_by="l_orderkey")
        return joined.groupBy("s_name").agg(
            F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
        )

    def p_bf_bcast(k):
        # the broadcast-join fallback of brute_force_topk_arrow
        # (similarity.py:159-167): scale axis = QUERY-set size (2000*k
        # queries vs the fixed 2000-vector corpus) — past the driver-small
        # bound the queries must stay distributed, and the probe confirms
        # the crossJoin+local-top-k cost grows ~linearly in |queries| with
        # the shuffle bounded by k x partitions per query
        from srm_etl_spark.operators.similarity import brute_force_topk_arrow  # noqa: PLC0415

        # repartition: the sf0.1 embeddings parquet is one split, which would
        # serialize the crossJoin onto one task — a real corpus has many
        corpus = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(32)
        queries = scaled_emb(spark, k).filter(F.col("vec_id") % 16 == 0)  # 125*k
        return brute_force_topk_arrow(corpus, queries, k=5, queries_broadcast=True)

    def p_pq_bcast(k):
        # pq_topk's broadcast fallback (similarity.py:839-849): constant
        # plan size however many queries; same query-count scale axis
        from srm_etl_spark.operators.similarity import (  # noqa: PLC0415
            pq_encode,
            pq_topk_broadcast,
            pq_train_codebooks,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet").repartition(32)
        books = pq_train_codebooks(emb, m=4, k=8, iterations=1)
        codes = pq_encode(emb, books)
        queries = scaled_emb(spark, k).filter(F.col("vec_id") % 16 == 0)  # 125*k
        return pq_topk_broadcast(codes, books, queries, k=5)

    out = {
        "exact_dedup": p_dedup,
        "minhash_sigs": p_minhash,
        "chunking": p_chunk,
        "quality_quota": p_quota,
        "pagerank_2it": p_pagerank,
        "ivf_topk": p_ivf,
        "entity_res": p_entity_res,
        "semantic_dedup": p_semantic_dedup,
        "substr_spans": p_substr_spans,
        "max_repeats": p_max_repeats,
        "entities_staged": p_entities_staged,
        "meser_staged": p_meser_staged,
        "derive_staged": p_derive_staged,
        "publish_fanout": p_publish_fanout,
        "es_publish_all": p_es_publish,
        "mapbox_geo": p_mapbox_geo,
        "places_osm": p_places_osm,
        "dsir_select": p_dsir,
        "ccnet": p_ccnet,
        "doremi": p_doremi,
        "etl_staged": p_etl,
        "corpus_staged": p_corpus_staged,
        "skew_join": p_skew_join,
        "bf_topk_bcast": p_bf_bcast,
        "pq_topk_bcast": p_pq_bcast,
    }
    assert list(out) == _PROBE_NAMES  # the parent schedules by this list
    return out


# the parent process schedules per-probe subprocesses from this list without
# paying a Spark session of its own
_PROBE_NAMES = [
    "exact_dedup", "minhash_sigs", "chunking", "quality_quota", "pagerank_2it",
    "ivf_topk", "entity_res", "semantic_dedup", "substr_spans",
    "max_repeats",
    "entities_staged", "meser_staged", "derive_staged", "publish_fanout",
    "es_publish_all", "mapbox_geo", "places_osm", "dsir_select", "ccnet",
    "doremi", "etl_staged",
    "corpus_staged", "skew_join", "bf_topk_bcast", "pq_topk_bcast",
]


# min-of-2-CLEAN attempt harness (srm_etl_spark/hostload.py): each attempt
# records wall time, the 1-min loadavg at start, and the co-tenant steal
# share during it; dirty attempts (steal > STEAL_MAX_PCT) trigger bounded
# re-runs and never become the reported minimum while a clean attempt
# exists — the artifact carries its own noise adjudication instead of
# burning a manual one per suspicious point (r13 task).
_MAX_ATTEMPTS = 4


def run_one(name: str, scales: list[int]) -> None:
    """Child mode: run ONE probe in this (fresh) Spark session and print its
    times as a parseable line. Isolating every probe in its own JVM kills
    the full-suite artifact the round-9 verdict flagged — 15 prior probes'
    accumulated GC/cache pressure inflating a later probe's 16x point."""
    import json  # noqa: PLC0415

    from srm_etl_spark.hostload import timed_attempts  # noqa: PLC0415
    from srm_etl_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("scaling-probe")
    spark.read.parquet(f"{SF}/documents.parquet").count()
    fn = probes(spark)[name]
    times, points = [], []
    for k in scales:
        point = timed_attempts(
            lambda k=k: fn(k).write.format("noop").mode("overwrite").save(),
            base_attempts=2,
            max_attempts=_MAX_ATTEMPTS,
        )
        times.append(point["t"])
        points.append(point)
        print(
            f"{name} x{k}: {point['t']:.2f}s steal={point['steal_pct']}% "
            f"load={point['load1']}{' DIRTY' if point['dirty'] else ''}",
            flush=True,
        )
    print(
        "PROBE_RESULT " + json.dumps({"name": name, "times": times, "points": points}),
        flush=True,
    )


def main() -> None:
    import json  # noqa: PLC0415
    import subprocess  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    scales = [int(x) for x in sys.argv[1:]] or [1, 4, 16]
    one = os.environ.get("SPARK_GRAFT_PROBE_ONE")
    if one:
        run_one(one, scales)
        return

    # SPARK_GRAFT_PROBES=a,b runs a subset (and skips the SCALING.md write —
    # the committed table is always a full-suite run)
    subset = {
        s for s in os.environ.get("SPARK_GRAFT_PROBES", "").split(",") if s
    }
    names = [n for n in _PROBE_NAMES if not subset or n in subset]
    cache = os.environ.get("SPARK_GRAFT_SCALED_CACHE")
    own_cache = cache is None
    if own_cache:
        cache = tempfile.mkdtemp(prefix="srm_scaled_cache_")
    table = {}
    for name in names:
        env = dict(os.environ)
        env["SPARK_GRAFT_PROBE_ONE"] = name
        env["SPARK_GRAFT_SCALED_CACHE"] = cache  # share built corpora
        proc = subprocess.run(  # noqa: S603
            [sys.executable, os.path.abspath(__file__), *map(str, scales)],
            env=env, capture_output=True, text=True, check=False,
        )
        sys.stdout.write(proc.stdout)
        result = None
        for line in proc.stdout.splitlines():
            if line.startswith("PROBE_RESULT "):
                result = json.loads(line[len("PROBE_RESULT "):])
        if proc.returncode != 0 or result is None:
            sys.stderr.write(proc.stderr[-4000:])
            raise RuntimeError(f"probe {name} failed (rc={proc.returncode})")
        table[result["name"]] = result

    lines = [
        "# SCALING — measured operator scaling at synthetic 1x/4x/16x (sf0.1 base)",
        "",
        "Replicated corpora (distinct ids + per-replica content perturbation);",
        "min-of-2-CLEAN warm (attempts with co-tenant CPU steal > "
        f"{STEAL_MAX_PCT}% during the run are re-run, bounded at {_MAX_ATTEMPTS},",
        "and never become the reported minimum while a clean attempt exists —",
        "a point that stayed dirty is marked DIRTY and is not adjudicable);",
        "EACH PROBE IN ITS OWN FRESH SPARK SESSION (subprocess JVM), local[32]",
        "— no cross-probe GC or cache pollution. `ratio` = t(16x)/t(1x);",
        "linear scaling with fixed overheads gives ratio <= 16 — super-linear",
        "growth is a red flag. steal%/load1 columns are the chosen attempt's",
        "co-tenant steal share and starting 1-min loadavg.",
        "",
        "| probe | " + " | ".join(f"{k}x" for k in scales) + " | ratio | steal% | load1 |",
        "|---|" + "---|" * (len(scales) + 3),
    ]
    for name, result in table.items():
        times = result["times"]
        points = result.get("points", [])
        ratio = times[-1] / times[0] if times[0] > 0 else float("nan")
        steal = "/".join(
            f"{p['steal_pct']}{'D' if p['dirty'] else ''}" for p in points
        ) or "-"
        load = "/".join(f"{p['load1']}" for p in points) or "-"
        lines.append(
            f"| {name} | "
            + " | ".join(f"{t:.2f}s" for t in times)
            + f" | {ratio:.1f}x | {steal} | {load} |"
        )
    if own_cache:
        import shutil  # noqa: PLC0415

        shutil.rmtree(cache, ignore_errors=True)  # multi-GB scaled corpora
    out = "\n".join(lines) + "\n"
    if not subset:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "SCALING.md"), "w") as f:
            f.write(out)
    print(out)


if __name__ == "__main__":
    main()
