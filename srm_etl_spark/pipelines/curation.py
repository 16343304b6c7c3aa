"""Corpus curation: the composed training-data flow.

Chains the standalone LLM-pipeline operators into the manifest-producing
pipeline a pretraining data run executes, with an auditable funnel:

    raw documents
      → exact dedup on normalized text (hash-groupBy, min-doc_id keeper —
        operators/dedup.py semantics)
      → quality gate (C4/Gopher integer-count flags —
        functions/text.py:with_quality_flags)
      → sequence packing (concat-then-chunk per language stratum —
        operators/packing.py)

Every stage boundary emits (stage, rows, tokens) — the reference's
filter-with-stat discipline (``srm_tools/stats.py:82-110``) applied to a
corpus pipeline: drops are counted, never silent.

Scale shape: dedup is one shuffle keyed by content hash; the quality gate is
a map; packing is one window per language stratum. Nothing touches the
driver except the final funnel aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_text, with_quality_flags
from ..operators.packing import pack_sequences

# Same BPE-ish pre-tokenizer as the token-stats query (q49) so token budgets
# mean the same thing across the engine.
_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _bpe_tokens(text) -> F.Column:
    return F.coalesce(
        F.size(F.regexp_extract_all(text, F.lit(_TOKEN_RE), F.lit(0))), F.lit(0)
    ).cast("long")


def curate_corpus(docs: DataFrame, budget: int = 2048) -> dict[str, DataFrame]:
    """Run the curation chain; returns every stage as a DataFrame."""
    deduped = (
        docs.withColumn("_norm", normalized_text(F.col("text")))
        .groupBy("_norm")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by(F.struct("lang", "text"), F.col("doc_id")).alias("_k"),
        )
        .select("doc_id", F.col("_k.lang").alias("lang"), F.col("_k.text").alias("text"))
    )
    quality = with_quality_flags(deduped, "text").filter(F.col("keep"))
    sized = quality.select(
        "doc_id", "lang", _bpe_tokens(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(sized, "n_tokens", [F.asc("doc_id")], budget, strata=["lang"])
    return {"raw": docs, "deduped": deduped, "quality": quality, "packed": packed}


def training_corpus_stages(
    docs: DataFrame,
    eval_df: DataFrame,
    budget: int = 2048,
    quota_k: int = 15,
    persist: bool = True,
    dsir_k: int | None = None,
) -> dict[str, DataFrame]:
    """The FULL training-corpus pipeline as one lineage: exact dedup →
    MinHash-LSH near-dup removal (md5 family, oracle-reproducible) →
    C4/Gopher quality gate → trigram decontamination vs ``eval_df`` →
    [optional DSIR importance selection] → per-(source, lang) quality quota
    → per-language sequence packing.

    ``dsir_k`` (q166) inserts the DSIR stage at the paper's intended
    placement (Xie et al. 2023 §3: after dedup/quality filtering, before
    final composition): importance-resample ``dsir_k`` documents from the
    decontaminated corpus toward ``eval_df``'s hashed-n-gram distribution;
    the quota and packing stages then run over the selected subset. The
    returned dict gains a ``dsir`` frame (id, logw, key).

    Returns every stage; q160/q166 phase them into one hash-gated result.
    ``persist=True`` pins the intermediate frames (each feeds both its
    own phase leg and the next stage) in the LRU-bounded session pool —
    warm repeats reuse the cache, and a long session can't accumulate
    unbounded relations. Pass ``persist=False`` when a single consumer will
    drive the chain end-to-end (e.g. the scaling probe, where a pinned frame
    would turn the second rep into a cache scan)."""
    from ..functions.text import (  # noqa: PLC0415
        normalized_text,
        quality_score_from_counts,
        with_quality_flags,
    )
    from ..operators.decontaminate import decontaminate  # noqa: PLC0415
    from ..operators.dedup import minhash_dedup  # noqa: PLC0415
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415
    from ..operators.windows import top_k_per_group  # noqa: PLC0415
    from ..sources.tables import local_table  # noqa: PLC0415

    def _pin(df: DataFrame) -> DataFrame:
        if persist:
            # CHECKPOINT pins, not persists: each stage feeds both its own
            # phase leg and the next stage, so with plain persists the
            # physical plan still nests every upstream subtree under every
            # consumer — q160/q166 reached 2,128 runtime exchange nodes
            # (r11 PLAN_AUDIT), real Catalyst planning overhead and an
            # eviction hazard at scale even though execution short-circuits
            # on the cache. Truncating lineage at each stage boundary keeps
            # the composed plan additive in stages, with identical hashes.
            # 10 slots = the 5 pins for the two most recent datasets.
            return keep_checkpointed_pooled(df, "training_corpus", max_slots=10)
        return df

    exact = _pin(
        docs.withColumn("_norm", normalized_text(F.col("text")))
        .groupBy("_norm")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by(F.struct("lang", "source", "text"), F.col("doc_id")).alias("_k"),
        )
        .select(
            "doc_id",
            F.col("_k.lang").alias("lang"),
            F.col("_k.source").alias("source"),
            F.col("_k.text").alias("text"),
        )
    )
    near = _pin(
        minhash_dedup(
            exact, "text", "doc_id",
            num_hashes=16, bands=4, jaccard_threshold=0.7, hash_family="md5",
        )
    )
    qual = _pin(with_quality_flags(near, "text").filter(F.col("keep")))
    clean = _pin(decontaminate(qual, eval_df, n=3, min_overlap=2))
    stages_extra: dict[str, DataFrame] = {}
    selected = clean
    if dsir_k is not None:
        from ..operators.dsir import dsir_select  # noqa: PLC0415

        # DSIR over the CURATED corpus (not raw docs — q164's shape). The
        # selection is a driver-merged top-k (TakeOrderedAndProject) of
        # dsir_k rows — bounded by construction, the same discipline as the
        # B<=256 ratio map dsir_select already collects — so it lands as a
        # LITERAL frame + isin gate rather than a lazy semi-join: the DSIR
        # chain's lineage (which nests the whole pinned curation chain
        # twice) would otherwise be re-planned under every downstream
        # consumer, exploding analysis cost exponentially in pin depth
        # (measured: a 15 MB executed plan for q166 vs ~100 KB this way).
        sel_rows = dsir_select(
            clean, eval_df, "text", "doc_id",
            k=dsir_k, num_buckets=256, slot_prefix="dsir_corpus",
        )
        collected = sel_rows.collect()  # ≤ dsir_k rows
        spark = clean.sparkSession
        sel = local_table(spark, collected, sel_rows.schema)
        stages_extra["dsir"] = sel
        if collected:
            selected = clean.filter(
                F.col("doc_id").isin([r["id"] for r in collected])
            )
        else:  # fully-decontaminated upstream: nothing to select
            selected = clean.filter(F.lit(False))
    # score from the counts the quality gate already materialized (one
    # tokenization, reused); only nonspace needs one cheap strip
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    scored = selected.select(
        "doc_id", "source", "lang", "text",
        quality_score_from_counts(
            F.col("n_tokens"), F.col("n_punct"), nonspace, F.col("total_word_chars")
        ).alias("quality"),
    )
    kept = _pin(
        top_k_per_group(
            scored, ["source", "lang"],
            [F.col("quality").desc(), F.col("doc_id").asc()], k=quota_k,
        )
    )
    sized = kept.select("doc_id", "lang", _bpe_tokens(F.col("text")).alias("n_tokens"))
    packed = pack_sequences(sized, "n_tokens", [F.asc("doc_id")], budget, strata=["lang"])
    seqs = packed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )
    return {
        "exact": exact, "near": near, "quality": qual,
        "clean": clean, "kept": kept, "seqs": seqs,
        **stages_extra,
    }


def curation_funnel(docs: DataFrame, budget: int = 2048) -> DataFrame:
    """(stage, n_rows, n_tokens) per pipeline stage — the audit manifest."""
    stages = curate_corpus(docs, budget)

    def _stat(name: str, df: DataFrame, token_expr) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum(token_expr), F.lit(0)).cast("long").alias("n_tokens"),
        )

    raw = _stat("00_raw", stages["raw"], _bpe_tokens(F.col("text")))
    ded = _stat("10_deduped", stages["deduped"], _bpe_tokens(F.col("text")))
    qua = _stat("20_quality", stages["quality"], _bpe_tokens(F.col("text")))
    pck = stages["packed"].agg(
        F.lit("30_packed_sequences").alias("stage"),
        F.countDistinct("lang", "seq_id").alias("n_rows"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return raw.unionByName(ded).unionByName(qua).unionByName(pck)
