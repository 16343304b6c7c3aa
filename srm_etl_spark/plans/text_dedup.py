"""Text and dedup queries: the LLM training-data operators.

Exact, MinHash/LSH, SimHash, Jaccard, embedding, passage and substring
dedup; quality scoring, language ID, PII redaction, repetition and n-gram
statistics; tokenization (regex and BPE), chunking, packing, source quotas
and mixing, decontamination, profiling and drift, and the composed corpus
flows (curation funnels, CCNet buckets, DoReMi weights, DSIR selection).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as TXT
from ..functions.text import quality_score, token_count, with_text_features
from ..operators import dedup as DD
from ..operators.chunking import chunk_documents
from ..operators.cms import build_cms, cms_estimate
from ..operators.decontaminate import contamination_report
from ..operators.dedup import (
    duplicate_substring_spans,
    embedding_near_dup_pairs_arrow,
    maximal_repeat_spans,
    remove_duplicate_spans,
)
from ..operators.graph import duplicate_clusters, keep_best_representative, pagerank
from ..operators.profiling import profile_table, psi
from ..operators.windows import top_k_per_group
from .common import Q28_SQL, QueryDef, _BPE_SQL, _DSIR_SCORED_T, _NORM, _STOP_SQL, _t


QUERIES: dict[str, QueryDef] = {}


def q22_exact_dedup(spark, sf_dir):
    """Exact dedup via hash-groupBy on normalized text (operators/dedup.py).
    Deterministic keeper (min doc_id) + dup_count — shuffle keyed by content
    hash, no driver state."""
    d = _t(spark, sf_dir, "documents")
    out = DD.exact_dedup(d, "text", "doc_id")
    return out.select("doc_id", F.col("dup_count").cast("long").alias("dup_count"))


Q22_SQL = f"""
SELECT doc_id, CAST(dup_count AS BIGINT) AS dup_count FROM (
  SELECT doc_id,
         row_number() OVER (PARTITION BY norm ORDER BY doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY norm) AS dup_count
  FROM (SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents)
) WHERE rn = 1
"""


def q23_text_features(spark, sf_dir):
    """Text quality features (token count, punctuation ratio, stopword ratio,
    mean word length, composite quality score) — all whole-stage-codegen
    column expressions, one tokenization pass (functions/text.py)."""
    d = _t(spark, sf_dir, "documents")
    out = TXT.with_text_features(d, "text")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("mean_word_len", 4).alias("mean_word_len"),
        "quality",
    )


Q23_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(trim(text), ' '), t -> t != '') AS toks0,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), feats AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS punct_ratio_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> list_contains({_STOP_SQL}, lower(t)))) AS DOUBLE)
                   / len(toks) END AS stopword_ratio_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / len(toks) END AS mean_word_len_raw
  FROM base
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(punct_ratio_raw, 4) AS punct_ratio,
       round(stopword_ratio_raw, 4) AS stopword_ratio,
       round(mean_word_len_raw, 4) AS mean_word_len,
       round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + (1.0 - least(punct_ratio_raw * 4.0, 1.0))
              + CASE WHEN mean_word_len_raw >= 2.0 AND mean_word_len_raw <= 12.0 THEN 1.0 ELSE 0.0 END
             ) / 3.0, 4) AS quality
FROM feats
"""


def q24_lang_id(spark, sf_dir):
    """Language-ID heuristic (script ranges + stopword vote) per document."""
    d = _t(spark, sf_dir, "documents")
    return TXT.with_lang_id(d, "text").select("doc_id", "lang_pred")


_MARKER_SQL = {
    lang: "['" + "','".join(m) + "']" for lang, m in TXT._LANG_MARKERS.items()
}


Q24_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) AS zh,
         length(regexp_replace(text, '[^\\x{{0590}}-\\x{{05FF}}]', '', 'g')) AS he,
         length(regexp_replace(text, '[^\\x{{0600}}-\\x{{06FF}}]', '', 'g')) AS ar,
         length(regexp_replace(text, '[^\\x{{0400}}-\\x{{04FF}}]', '', 'g')) AS ru,
         list_distinct(list_filter(string_split(trim(lower(text)), ' '), t -> t != '')) AS toks
  FROM documents
), votes AS (
  SELECT doc_id, zh, he, ar, ru,
         len(list_intersect(toks, {_MARKER_SQL['en']})) AS v_en,
         len(list_intersect(toks, {_MARKER_SQL['de']})) AS v_de,
         len(list_intersect(toks, {_MARKER_SQL['fr']})) AS v_fr,
         len(list_intersect(toks, {_MARKER_SQL['es']})) AS v_es
  FROM scored
)
SELECT doc_id,
       CASE WHEN zh > 0 THEN 'zh' WHEN he > 0 THEN 'he' WHEN ar > 0 THEN 'ar' WHEN ru > 0 THEN 'ru'
            WHEN v_de > v_en AND v_de >= v_fr AND v_de >= v_es THEN 'de'
            WHEN v_fr > v_en AND v_fr >= v_es THEN 'fr'
            WHEN v_es > v_en THEN 'es'
            WHEN v_en > 0 THEN 'en'
            ELSE 'und' END AS lang_pred
FROM votes
"""


def q25_fingerprint(spark, sf_dir):
    """Document fingerprint preimage: sorted distinct normalized tokens
    joined — the order-insensitive content key (the engine hashes it with
    sha1; the preimage is emitted here so the oracle engine, which lacks
    sha1, can verify the construction)."""
    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokens(TXT.normalized_text(F.col("text")))
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(toks)), " ").alias("fingerprint_key"),
    )


Q25_SQL = f"""
SELECT doc_id,
       array_to_string(list_sort(list_distinct(
         list_filter(string_split({_NORM.format(c='text')}, ' '), t -> t != ''))), ' ') AS fingerprint_key
FROM documents
"""


def q26_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup dedup (shingle → signature → banded candidate
    join → exact-Jaccard verify). Candidate generation is an equi-join on
    (band, band_hash) buckets — shuffle is linear in (docs × bands), never
    quadratic. Runs the md5 hash family so the ENTIRE pipeline (signatures,
    banding, verify, survivors) is reproduced by the DuckDB oracle
    byte-for-byte; the production default family is xxhash64 (same code
    path, narrower shuffle), parity-covered in pytest."""
    d = _t(spark, sf_dir, "documents")
    out = DD.minhash_dedup(
        d, "text", "doc_id", num_hashes=16, bands=4, jaccard_threshold=0.7,
        hash_family="md5",
    )
    return out.select("doc_id", "source")


Q26_SQL = f"""
WITH base AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents
), toksrc AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS tok
  FROM base WHERE norm != ''
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tok) - 2, 1)),
           i -> array_to_string(tok[i:i+2], ' '))) AS shingles
  FROM toksrc
), slots AS (
  SELECT s.doc_id, g.i, min(md5(CAST(g.i AS VARCHAR) || ':' || us.shingle)) AS mh
  FROM sh s, UNNEST(s.shingles) AS us(shingle), generate_series(0, 15) AS g(i)
  GROUP BY s.doc_id, g.i
), bands AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
  FROM slots GROUP BY doc_id, i // 4
), cands AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
), losers AS (
  SELECT DISTINCT c.right_id
  FROM cands c
  JOIN sh a ON a.doc_id = c.left_id
  JOIN sh b ON b.doc_id = c.right_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.7
)
SELECT d.doc_id, d.source
FROM documents d LEFT JOIN losers l ON d.doc_id = l.right_id
WHERE l.right_id IS NULL
"""


def q27_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidate pairs with pigeonhole blocking (segments of
    the 64-bit fingerprint as equi-join keys). Runs the md5 token-hash family
    (60-bit longs from the md5 hex prefix) so the bit-vote fold, fingerprints
    and blocked hamming join are all DuckDB-reproducible; production default
    stays xxhash64 (full 64 bits), parity-covered in pytest."""
    d = _t(spark, sf_dir, "documents")
    fp = DD.simhash(d, "text", "doc_id", hash_family="md5")
    return DD.simhash_near_dup_pairs(fp, "doc_id", max_hamming=3, blocks=4).select(
        "left_id", "right_id", F.col("hamming").cast("long").alias("hamming")
    )


Q27_SQL = f"""
WITH base AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents
), toksrc AS (
  SELECT doc_id, list_filter(string_split(norm, ' '), t -> t != '') AS tok
  FROM base
), th AS (
  SELECT t.doc_id, CAST('0x' || substr(md5(ut.tok), 1, 15) AS BIGINT) AS h
  FROM toksrc t, UNNEST(t.tok) AS ut(tok)
), votes AS (
  SELECT doc_id, g.b,
         sum(CASE WHEN ((h >> g.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
  FROM th, generate_series(0, 63) AS g(b)
  GROUP BY doc_id, g.b
), fp0 AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM votes GROUP BY doc_id
), fp AS (
  SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
  FROM documents d LEFT JOIN fp0 f ON d.doc_id = f.doc_id
), seg AS (
  SELECT doc_id, simhash, g.i AS seg,
         (simhash >> (g.i * 16)) & 65535 AS seg_val
  FROM fp, generate_series(0, 3) AS g(i)
), pairs AS (
  SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
         bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM seg l JOIN seg r
    ON l.seg = r.seg AND l.seg_val = r.seg_val AND l.doc_id < r.doc_id
  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
)
SELECT left_id, right_id, CAST(hamming AS BIGINT) AS hamming FROM pairs
"""


def q28_jaccard_pairs(spark, sf_dir):
    """N-gram (token-set) Jaccard similarity pairs, blocked by source so the
    pairwise comparison stays within buckets (operators/dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    out = DD.jaccard_near_dup_pairs(d, "text", "doc_id", block_cols=["source"], threshold=0.5)
    return out.select("left_id", "right_id", F.round("jaccard", 4).alias("jaccard"))
_q28_pairs = q28_jaccard_pairs


QUERIES.update({
    "q22_exact_dedup": QueryDef(q22_exact_dedup, Q22_SQL, "dedup-exact A6"),
    "q23_text_features": QueryDef(q23_text_features, Q23_SQL, "text-quality F24"),
    "q24_lang_id": QueryDef(q24_lang_id, Q24_SQL, "text-langid F25"),
    "q25_fingerprint": QueryDef(q25_fingerprint, Q25_SQL, "text-fingerprint F22"),
    "q26_minhash_dedup": QueryDef(q26_minhash_dedup, Q26_SQL, "dedup-minhash-lsh"),
    "q27_simhash_pairs": QueryDef(q27_simhash_pairs, Q27_SQL, "dedup-simhash"),
    "q28_jaccard_pairs": QueryDef(q28_jaccard_pairs, Q28_SQL, "dedup-jaccard J7"),
})


# --------------------------------------------------------------------------
# q45 — embedding-cosine near-duplicate pairs (blocked exact)
# --------------------------------------------------------------------------

def q45_embedding_near_dup(spark, sf_dir):
    """Embedding near-dup pairs: cosine >= threshold within label blocks,
    scored by the per-block BLAS kernel (operators/dedup.py:
    embedding_near_dup_pairs_arrow). Blocking keeps the comparison linear in
    block count — the 100 TB shape swaps the label for an LSH bucket (q30
    exercises that path); the pair semantics and verification stay
    identical. The expression-only twin (embedding_near_dup_pairs) is
    parity-tested in tests/test_dedup.py."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs_arrow(
        emb, "embedding", "vec_id", threshold=0.3, block_col="label"
    )
    return pairs.select(
        "left_id", "right_id", F.round(F.col("cosine"), 6).alias("cosine")
    )


Q45_SQL = """
SELECT l.vec_id AS left_id, r.vec_id AS right_id,
       round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                    CAST(r.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings l JOIN embeddings r
  ON l.label = r.label AND l.vec_id < r.vec_id
WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                             CAST(r.embedding AS DOUBLE[])) >= 0.3
"""


QUERIES.update({
    "q45_embedding_near_dup": QueryDef(q45_embedding_near_dup, Q45_SQL, "dedup-embedding"),
})


# --------------------------------------------------------------------------
# q49 — BPE-ish regex tokenization stats per source
# --------------------------------------------------------------------------

_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q49_token_stats(spark, sf_dir):
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs, digit
    runs, single punctuation — the GPT-2 pre-tokenizer shape without the
    unicode categories). Pure map + one tiny aggregate; the regex runs
    JVM-side inside codegen, no Python in the hot path."""
    d = _t(spark, sf_dir, "documents")
    toks = F.coalesce(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0))),
        F.lit(0),
    ).cast("long")
    per_doc = d.select("source", toks.alias("n_tokens"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_tokens"),
    )


Q49_SQL = """
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       max(n_tokens) AS max_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_tokens
FROM per_doc GROUP BY source
"""


QUERIES.update({
    "q49_token_stats": QueryDef(q49_token_stats, Q49_SQL, "token counting (training-data ext)"),
})


# --------------------------------------------------------------------------
# q62 — duplicate clusters: near-dup pairs -> connected components
# --------------------------------------------------------------------------


def q62_dup_clusters(spark, sf_dir):
    """Pairs → clusters: the token-Jaccard near-dup pairs (q28's exact pair
    set) resolved into connected components by distributed min-label
    propagation (operators/graph.py), labeling every clustered document with
    the min doc_id of its component plus the cluster size. This is the step
    that turns pairwise dedup output into 'keep one canonical doc per
    cluster' at corpus scale — the reference does it inside a single-process
    pandas groupby (operators/derive/to_dp.py:237-286)."""
    pairs = _q28_pairs(spark, sf_dir)
    return duplicate_clusters(pairs, "left_id", "right_id").select(
        F.col("node").alias("doc_id"), "component", "cluster_size"
    )


# The oracle replays the same pair set (q28's SQL, verbatim) and computes each
# node's component as min reachable node via a recursive CTE — transitive
# closure collapsed by UNION-distinct.
Q62_SQL = f"""
WITH RECURSIVE pairs AS ({Q28_SQL}),
edges AS (
  SELECT left_id AS a, right_id AS b FROM pairs
  UNION ALL
  SELECT right_id AS a, left_id AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
SELECT node AS doc_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM comp
"""


# --------------------------------------------------------------------------
# q65 — PII redaction (pre-training scrub pass)
# --------------------------------------------------------------------------


def q65_redact_pii(spark, sf_dir):
    """PII scrub (functions/text.py:redact_pii): every document gets a
    deterministic synthetic PII suffix (email, URL, IPv4, phone, long account
    number — derived from doc_id so both engines build the identical input),
    then the native regexp_replace chain redacts it. The oracle applies the
    same RE2-safe patterns in DuckDB; a hash match proves the redaction is
    engine-exact, not just similar."""
    from ..functions.text import redact_pii  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" Contact user"), did.cast("string"),
        F.lit("@example.com or https://site"), (did % 10).cast("string"),
        F.lit(".example.com/p ip "), (did % 223 + 1).cast("string"),
        F.lit(".0.2."), (did % 250).cast("string"),
        F.lit(" phone 054-"), F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" acct "), (did * 1000003 + 123456789).cast("string"),
    )
    return d.select("doc_id", redact_pii(pii_text).alias("redacted"))


Q65_SQL = """
WITH pii AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or https://site' || CAST(doc_id % 10 AS VARCHAR)
              || '.example.com/p ip ' || CAST(doc_id % 223 + 1 AS VARCHAR)
              || '.0.2.' || CAST(doc_id % 250 AS VARCHAR)
              || ' phone 054-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' acct ' || CAST(doc_id * 1000003 + 123456789 AS VARCHAR) AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, 'https?://\\S+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
           '\\b0\\d{1,2}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
         '\\b\\d{9,}\\b', '<NUM>', 'g') AS redacted
FROM pii
"""


# --------------------------------------------------------------------------
# q66 — C4/Gopher quality flags (integer-exact keep/drop signals)
# --------------------------------------------------------------------------


def q66_quality_flags(spark, sf_dir):
    """C4/Gopher-shaped document filter flags
    (functions/text.py:with_quality_flags): every keep/drop signal is an
    integer comparison over counts, so the filter decision is bit-identical
    across engines — the property an audited training-data pipeline needs."""
    from ..functions.text import with_quality_flags  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    return with_quality_flags(d, "text").select(
        "doc_id", "n_tokens", "total_word_chars", "n_punct", "n_stopwords",
        "length_ok", "word_len_ok", "symbol_ok", "stop_ok", "keep",
    )


Q66_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct
  FROM documents
), counted AS (
  SELECT doc_id, nonspace, n_punct,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS INT) AS total_word_chars,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)), t -> list_contains(
           ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'], t
         ))) AS INT) AS n_stopwords
  FROM base
)
SELECT doc_id, n_tokens, total_word_chars, n_punct, n_stopwords,
       n_tokens >= 50 AS length_ok,
       3 * n_tokens <= total_word_chars AND total_word_chars <= 10 * n_tokens AS word_len_ok,
       n_punct * 10 <= nonspace AS symbol_ok,
       n_stopwords >= 2 AS stop_ok,
       (n_tokens >= 50) AND (3 * n_tokens <= total_word_chars AND total_word_chars <= 10 * n_tokens)
         AND (n_punct * 10 <= nonspace) AND (n_stopwords >= 2) AS keep
FROM counted
"""


# --------------------------------------------------------------------------
# q67 — within-document repetition stats (Gopher repetition rules)
# --------------------------------------------------------------------------


def q67_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals: per document, total vs distinct token
    occurrences and the dominant token with its count (ties broken by token
    string). The explode → two-level aggregate is the distributed shape —
    the per-(doc, token) count is a map-side-combined hash aggregate, and
    the per-doc reduction rides a struct-min argmax, not a window over the
    fanned-out token stream."""
    from ..functions.text import normalized_text, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens(normalized_text(F.col("text")))).alias("tok"))
    cnt = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    top = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("tok"))).alias("_top"),
    )
    return top.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (F.col("n_tokens") - F.col("n_distinct")).alias("n_repeated"),
        F.col("_top.tok").alias("top_token"),
        (-F.col("_top.nc")).alias("top_token_count"),
    )


_Q67_NORM = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
    "'[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


Q67_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split({_Q67_NORM}, ' '), t -> t != '')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
), ranked AS (
  SELECT doc_id, tok, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok ASC) AS rn
  FROM cnt
), totals AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM cnt GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens, t.n_distinct,
       t.n_tokens - t.n_distinct AS n_repeated,
       r.tok AS top_token, r.c AS top_token_count
FROM totals t JOIN ranked r ON r.doc_id = t.doc_id AND r.rn = 1
"""


QUERIES.update({
    "q62_dup_clusters": QueryDef(q62_dup_clusters, Q62_SQL, "dedup clustering (connected components)"),
    "q65_redact_pii": QueryDef(q65_redact_pii, Q65_SQL, "text-pii-redaction"),
    "q66_quality_flags": QueryDef(q66_quality_flags, Q66_SQL, "text-quality C4/Gopher flags"),
    "q67_repetition_stats": QueryDef(q67_repetition_stats, Q67_SQL, "text-repetition Gopher rules"),
})


# --------------------------------------------------------------------------
# q71 — passage-level exact dedup (C4-style line dedup, chunk granularity)
# --------------------------------------------------------------------------

_CHUNK = 10


_NORM_EXPR = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')), "
    "'[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


def q71_passage_dedup(spark, sf_dir):
    """Passage-level duplication audit: each document is cut into consecutive
    10-token chunks, chunk occurrences are counted corpus-wide, and every
    document reports how many of its chunks also occur elsewhere — the
    C4-style sub-document dedup signal (their unit is the line; this corpus
    has no newlines, so the unit is a fixed token window). Distribution
    shape: explode → attach the corpus-wide occurrence count as a window
    aggregate over the chunk key → per-doc agg. The window (ONE shuffle on
    chunk) replaces a count+self-join formulation that re-tokenized and
    re-exploded the whole corpus for the counts side — caught by a plan
    audit showing two Generate+scan branches. At open-corpus scale the
    chunk key would be ``xxhash64(chunk)`` so the shuffle carries 8-byte
    keys — here it stays the chunk text because the oracle must replay it
    exactly."""
    from ..functions.text import normalized_text, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tokens(normalized_text(F.col("text"))).alias("_t")
    )
    chunks = toks.select(
        "doc_id",
        F.explode(
            # guard the short-doc case: sequence(0, -1) DESCENDS in Spark
            # (DuckDB's range(0) is empty), so <1-chunk docs need an
            # explicit empty array
            F.expr(
                f"if(size(_t) >= {_CHUNK}, "
                f"transform(sequence(0, (size(_t) div {_CHUNK}) - 1), "
                f"i -> array_join(slice(_t, i * {_CHUNK} + 1, {_CHUNK}), ' ')), "
                "array())"
            )
        ).alias("chunk"),
    ).filter(F.length("chunk") > 0)
    counted = chunks.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    )
    per_doc = counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("_n") > 1).cast("long")).alias("n_dup_chunks"),
    )
    return per_doc.select(
        "doc_id", "n_chunks", "n_dup_chunks",
        F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4).alias("dup_frac"),
    )


Q71_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split({_NORM_EXPR}, ' '), t -> t != '') AS t
  FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(len(t) // {_CHUNK}),
                i -> array_to_string(list_slice(t, i * {_CHUNK} + 1, i * {_CHUNK} + {_CHUNK}), ' '))) AS chunk
  FROM toks
), nonempty AS (
  SELECT doc_id, chunk FROM chunks WHERE length(chunk) > 0
), counts AS (
  SELECT chunk, count(*) AS n FROM nonempty GROUP BY chunk
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN ct.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       round(CAST(sum(CASE WHEN ct.n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
FROM nonempty c JOIN counts ct ON c.chunk = ct.chunk
GROUP BY c.doc_id
"""


# --------------------------------------------------------------------------
# q72 — corpus n-gram statistics (top bigrams per source)
# --------------------------------------------------------------------------


def q72_bigram_stats(spark, sf_dir):
    """Top-5 bigrams per source: the corpus-statistics pass behind n-gram
    LMs, contamination screens, and boilerplate detection. The bigram fan-out
    is one explode over an expression-built array (no UDF); the count is a
    map-side-combined aggregate keyed by (source, bigram); the top-k is a
    ranked window over the (tiny) aggregated counts, never over the raw
    token stream."""
    from ..functions.text import normalized_text, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", tokens(normalized_text(F.col("text"))).alias("_t"))
    bigrams = toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1), "
                "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"
            )
        ).alias("bigram"),
    )
    counted = bigrams.groupBy("source", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "bigram", "n", "rank")
    )


Q72_SQL = f"""
WITH toks AS (
  SELECT source,
         list_filter(string_split({_NORM_EXPR}, ' '), t -> t != '') AS t
  FROM documents
), bigrams AS (
  SELECT source,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
), counted AS (
  SELECT source, bigram, count(*) AS n FROM bigrams GROUP BY source, bigram
)
SELECT source, bigram, n, rank FROM (
  SELECT source, bigram, n,
         CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram ASC) AS BIGINT) AS rank
  FROM counted
) WHERE rank <= 5
"""


QUERIES.update({
    "q71_passage_dedup": QueryDef(
        q71_passage_dedup, Q71_SQL, "passage-level exact dedup (C4 line dedup)"
    ),
    "q72_bigram_stats": QueryDef(
        q72_bigram_stats, Q72_SQL, "corpus n-gram statistics"
    ),
})


# --------------------------------------------------------------------------
# q76 — sequence packing for training batches (operators/packing.py)
# --------------------------------------------------------------------------

_Q76_BUDGET = 2048


def q76_sequence_packing(spark, sf_dir):
    """Concat-then-chunk packing of the documents corpus into 2048-token
    training sequences, stratified by language (one prefix-sum window per
    lang — no stratum holds the corpus). Emits per-sequence stats: how many
    documents land in each sequence and how many tokens they carry (head
    sequences hold exactly ~budget; each stratum's tail is partial)."""
    from ..operators.packing import pack_sequences  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    toks = F.coalesce(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0))),
        F.lit(0),
    ).cast("long")
    per_doc = d.select("doc_id", "lang", toks.alias("n_tokens"))
    packed = pack_sequences(
        per_doc, "n_tokens", [F.asc("doc_id")], _Q76_BUDGET, strata=["lang"]
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


Q76_SQL = rf"""
WITH per_doc AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_offset
  FROM per_doc
)
SELECT lang, CAST(floor(start_offset / {_Q76_BUDGET}) AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       min(doc_id) AS first_doc
FROM packed GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q78 — composed corpus-curation funnel (pipelines/curation.py)
# --------------------------------------------------------------------------


def q78_curation_funnel(spark, sf_dir):
    """The composed training-data pipeline — exact dedup → C4/Gopher quality
    gate → per-language sequence packing — with the per-stage
    (rows, tokens) audit funnel the reference's filter-with-stat discipline
    demands. Each stage is the already-verified standalone operator; this
    gate checks their composition end-to-end."""
    from ..pipelines.curation import curation_funnel  # noqa: PLC0415

    return curation_funnel(_t(spark, sf_dir, "documents"))


Q78_SQL = f"""
WITH normed AS (
  SELECT doc_id, lang, text, {_NORM.format(c='text')} AS norm FROM documents
), deduped AS (
  SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang, arg_min(text, doc_id) AS text
  FROM normed GROUP BY norm
), qbase AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS n_punct
  FROM deduped
), counted AS (
  SELECT doc_id, lang, text, nonspace, n_punct,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS INT) AS total_word_chars,
         CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                              t -> list_contains({_STOP_SQL}, t))) AS INT) AS n_stopwords
  FROM qbase
), quality AS (
  SELECT doc_id, lang, text FROM counted
  WHERE n_tokens >= 50
    AND 3 * n_tokens <= total_word_chars AND total_word_chars <= 10 * n_tokens
    AND n_punct * 10 <= nonspace
    AND n_stopwords >= 2
), sized AS (
  SELECT doc_id, lang, {_BPE_SQL.format(c='text')} AS n_tokens FROM quality
), packed AS (
  SELECT lang, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                    / 2048) AS BIGINT) AS seq_id
  FROM sized
)
SELECT '00_raw' AS stage, count(*) AS n_rows,
       CAST(coalesce(sum({_BPE_SQL.format(c='text')}), 0) AS BIGINT) AS n_tokens FROM documents
UNION ALL
SELECT '10_deduped', count(*), CAST(coalesce(sum({_BPE_SQL.format(c='text')}), 0) AS BIGINT) FROM deduped
UNION ALL
SELECT '20_quality', count(*), CAST(coalesce(sum({_BPE_SQL.format(c='text')}), 0) AS BIGINT) FROM quality
UNION ALL
SELECT '30_packed_sequences', count(DISTINCT (lang, seq_id)),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM packed
"""


# --------------------------------------------------------------------------
# q79 — incremental dedup against a historical corpus (operators/dedup.py)
# --------------------------------------------------------------------------


def q79_incremental_dedup(spark, sf_dir):
    """Incremental-ingestion dedup: the batch (doc_id % 3 != 0) collapses its
    own exact duplicates (min-id keeper + dup_count) and drops documents
    whose order-insensitive content fingerprint already exists in the history
    (doc_id % 3 == 0), probed through a bloom runtime filter so only
    maybe-seen candidates reach the exact anti-join. The oracle compares on
    the fingerprint's preimage string (hash equality == string equality)."""
    from ..operators.dedup import incremental_dedup  # noqa: PLC0415
    from ..functions.text import fingerprint  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % 3 == 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    batch = d.filter(F.col("doc_id") % 3 != 0)
    out = incremental_dedup(batch, history)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dup_count").cast("long").alias("dup_count"),
    )


_FPS_SQL = (
    "array_to_string(list_sort(list_distinct(list_filter("
    "string_split_regex(trim(" + _NORM.format(c="text") + "), '\\s+'),"
    " t -> t != ''))), ' ')"
)


Q79_SQL = f"""
WITH f AS (
  SELECT doc_id, {_FPS_SQL} AS fps FROM documents
), hist AS (
  SELECT DISTINCT fps FROM f WHERE doc_id % 3 = 0
), batch AS (
  SELECT doc_id, fps FROM f WHERE doc_id % 3 != 0
), keeper AS (
  SELECT min(doc_id) AS doc_id, count(*) AS dup_count, fps FROM batch GROUP BY fps
)
SELECT CAST(k.doc_id AS BIGINT) AS doc_id, CAST(k.dup_count AS BIGINT) AS dup_count
FROM keeper k ANTI JOIN hist h USING (fps)
"""


QUERIES.update({
    "q76_sequence_packing": QueryDef(
        q76_sequence_packing, Q76_SQL, "LLM-pipeline: training-sequence packing"
    ),
    "q78_curation_funnel": QueryDef(
        q78_curation_funnel, Q78_SQL, "LLM-pipeline: composed curation funnel P7-style"
    ),
    "q79_incremental_dedup": QueryDef(
        q79_incremental_dedup, Q79_SQL, "LLM-pipeline: bloom-pruned incremental dedup"
    ),
})


# --------------------------------------------------------------------------
# q80 — decontamination (eval set = doc_id % 37 == 0, the held-out slice)
# --------------------------------------------------------------------------

def q80_decontamination(spark, sf_dir):
    """N-gram collision decontamination report: corpus docs sharing >= 2
    distinct word trigrams with the eval slice. The eval gram set is
    broadcast; corpus-side shingling and probing stay map-side, so the only
    shuffle carries actual collisions (operators/decontaminate.py)."""
    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 37 == 0)
    corpus = d.filter(F.col("doc_id") % 37 != 0)
    out = contamination_report(corpus, ev, n=3, min_overlap=2)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("matched_ngrams").cast("long").alias("matched_ngrams"),
        F.col("total_ngrams").cast("long").alias("total_ngrams"),
        "contamination_pct",
    )


Q80_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split({_NORM.format(c='text')}, ' '), t -> t != '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_distinct(list_transform(
                     generate_series(1, greatest(len(t) - 2, 1)),
                     i -> array_to_string(list_slice(t, i, i + 2), ' '))) END AS g
  FROM toks
), ev AS (
  SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 37 = 0
), corp AS (
  SELECT doc_id, len(g) AS total_ngrams, unnest(g) AS gram
  FROM grams WHERE doc_id % 37 != 0
), hit AS (
  SELECT c.doc_id, c.total_ngrams, count(*) AS matched_ngrams
  FROM corp c JOIN ev USING (gram)
  GROUP BY c.doc_id, c.total_ngrams
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(matched_ngrams AS BIGINT) AS matched_ngrams,
       CAST(total_ngrams AS BIGINT) AS total_ngrams,
       round(CAST(matched_ngrams AS DOUBLE) * 100 / total_ngrams, 4) AS contamination_pct
FROM hit WHERE matched_ngrams >= 2
"""


# --------------------------------------------------------------------------
# q81 — per-(source, lang) quality quota
# --------------------------------------------------------------------------

def q81_source_quota(spark, sf_dir):
    """Quota curation: cap every (source, lang) stratum at its 15 best docs
    by quality score (desc, doc_id tiebreak). One window shuffle keyed by the
    stratum; the quality score itself is pure codegen column math."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", "lang", quality_score(F.col("text")).alias("quality")
    )
    kept = top_k_per_group(
        scored,
        ["source", "lang"],
        [F.col("quality").desc(), F.col("doc_id").asc()],
        k=15,
    )
    return kept.select(
        "source",
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        "quality",
        F.col("rank").cast("long").alias("rank"),
    )


Q81_SQL = """
WITH base AS (
  SELECT doc_id, source, lang,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct
  FROM documents
), q AS (
  SELECT doc_id, source, lang,
    round((
      least(CAST(len(toks) AS DOUBLE) / 50, 1.0)
      + 1.0 - least(CASE WHEN nonspace = 0 THEN 0.0
                         ELSE CAST(n_punct AS DOUBLE) / nonspace END * 4, 1.0)
      + CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END END
    ) / 3.0, 4) AS quality
  FROM base
)
SELECT source, lang, CAST(doc_id AS BIGINT) AS doc_id, quality, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY source, lang ORDER BY quality DESC, doc_id) AS rank
  FROM q
) WHERE rank <= 15
"""


# --------------------------------------------------------------------------
# q82 — PageRank over the symmetrized supplier↔customer graph
# --------------------------------------------------------------------------

def q82_pagerank(spark, sf_dir):
    """3-iteration PageRank (d=0.85) over the symmetrized supplier↔customer
    interaction graph (an edge per distinct lineitem supplier→order customer
    relationship, both directions, so no node is dangling; node ids encoded
    as longs — even = supplier·2, odd = customer·2+1 — because 8-byte keys
    shuffle far cheaper than formatted strings). Per-iteration shuffle ∝ |E|
    — operators/graph.py:pagerank."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # integer-encoded nodes (even = supplier 2k, odd = customer 2k+1):
    # 8-byte keys shuffle/compare far cheaper than formatted strings at |E|
    e0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # distinct before the union: the reversed half of a distinct bipartite
    # list is distinct and disjoint, so the union needs no second dedup
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # checkpoint_every=2 batches two iterations per localCheckpoint pin: each
    # iteration's subtree appears exactly once in the batched plan (ranks are
    # referenced once per round), so the arithmetic is unchanged while the
    # materialization barriers (block write + job launch per round) halve.
    pr = pagerank(
        edges,
        iterations=3,
        damping=0.85,
        checkpoint_every=2,
        assume_distinct=True,
        symmetric=True,
    )
    return pr.select(F.col("node").cast("long").alias("node"), F.round("pr", 6).alias("pr"))


Q82_SQL = """
WITH e0 AS (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
), nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
p0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS pr FROM nodes CROSS JOIN nn),
c1 AS (SELECT e.dst AS node, sum(p.pr / d.outdeg) AS c
       FROM edges e JOIN p0 p ON e.src = p.node JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
p1 AS (SELECT n.node,
              (SELECT (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n FROM nn)
              + CAST(0.85 AS DOUBLE) * coalesce(c1.c, 0) AS pr
       FROM nodes n LEFT JOIN c1 USING (node)),
c2 AS (SELECT e.dst AS node, sum(p.pr / d.outdeg) AS c
       FROM edges e JOIN p1 p ON e.src = p.node JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
p2 AS (SELECT n.node,
              (SELECT (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n FROM nn)
              + CAST(0.85 AS DOUBLE) * coalesce(c2.c, 0) AS pr
       FROM nodes n LEFT JOIN c2 USING (node)),
c3 AS (SELECT e.dst AS node, sum(p.pr / d.outdeg) AS c
       FROM edges e JOIN p2 p ON e.src = p.node JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
p3 AS (SELECT n.node,
              (SELECT (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n FROM nn)
              + CAST(0.85 AS DOUBLE) * coalesce(c3.c, 0) AS pr
       FROM nodes n LEFT JOIN c3 USING (node))
SELECT CAST(node AS BIGINT) AS node, round(pr, 6) AS pr FROM p3
"""


# --------------------------------------------------------------------------
# q84 — overlapping token-window chunking (RAG prep)
# --------------------------------------------------------------------------

def q84_chunking(spark, sf_dir):
    """Chunk every document into 32-token windows at stride 24 (8-token
    overlap). Pure per-row sequence+slice math, no shuffle
    (operators/chunking.py). chunk_id (the sha1 hasher id) is covered by
    pytest — the oracle engine has no sha1, so the deterministic coordinate
    columns are compared here."""
    d = _t(spark, sf_dir, "documents")
    out = chunk_documents(d, chunk_tokens=32, stride=24)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "chunk_index",
        "chunk_start",
        "n_chunk_tokens",
        "chunk_text",
    )


Q84_SQL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
  FROM documents
), st AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(len(t), 1), 24)) AS cs
  FROM toks WHERE len(t) > 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(floor((cs - 1) / 24.0) AS BIGINT) AS chunk_index,
       CAST(cs AS BIGINT) AS chunk_start,
       CAST(least(32, len(t) - cs + 1) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(t, cs, cs + 31), ' ') AS chunk_text
FROM st
"""


QUERIES.update({
    "q80_decontamination": QueryDef(
        q80_decontamination, Q80_SQL, "LLM-pipeline: n-gram benchmark decontamination"
    ),
    "q81_source_quota": QueryDef(
        q81_source_quota, Q81_SQL, "LLM-pipeline: per-source quality quota (O5 W2)"
    ),
    "q82_pagerank": QueryDef(
        q82_pagerank, Q82_SQL, "LLM-pipeline: link-graph PageRank source weighting"
    ),
    "q84_chunking": QueryDef(
        q84_chunking, Q84_SQL, "LLM-pipeline: overlapping token-window chunking"
    ),
})


# --------------------------------------------------------------------------
# q86 — count-min heavy hitters vs exact counts
# --------------------------------------------------------------------------

def q86_cms_heavy_hitters(spark, sf_dir):
    """Top-20 parts by exact lineitem frequency, each with its count-min
    estimate (operators/cms.py; 3x512 sketch). The estimate uses the same
    universal-hash family the SQL twin computes, so the comparison is exact —
    and the overestimate property (estimate >= exact) is visible in the
    output."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    sketch = build_cms(li, "k", width=512, depth=3)
    exact = li.groupBy("k").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), F.col("k").asc()).limit(20)
    est = cms_estimate(top, sketch, "k", width=512, depth=3)
    return est.select(
        F.col("k").cast("long").alias("k"),
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
    )


Q86_SQL = """
WITH seeds(i, a, b) AS (VALUES (0, 1000003, 12345), (1, 1000033, 54321), (2, 1000087, 98765)),
base AS (SELECT l_partkey AS k FROM lineitem),
cells AS (
  SELECT s.i, ((b2.k * s.a + s.b) % 2147483647) % 512 AS bkt, count(*) AS c
  FROM base b2 CROSS JOIN seeds s GROUP BY 1, 2
),
exact AS (
  SELECT k, count(*) AS exact_n FROM base GROUP BY k
  ORDER BY exact_n DESC, k LIMIT 20
)
SELECT CAST(e.k AS BIGINT) AS k, CAST(e.exact_n AS BIGINT) AS exact_n,
       CAST(min(c.c) AS BIGINT) AS cms_estimate
FROM exact e CROSS JOIN seeds s
JOIN cells c ON c.i = s.i AND c.bkt = ((e.k * s.a + s.b) % 2147483647) % 512
GROUP BY e.k, e.exact_n
"""


# --------------------------------------------------------------------------
# q87 — temperature-based source mixing weights
# --------------------------------------------------------------------------

def q87_source_mixing(spark, sf_dir):
    """Data-mixing table: per source its doc/token counts, its natural share
    and its temperature-smoothed share (w ∝ tokens^0.7 — upsamples small
    high-quality sources, the Pile/LLaMA recipe). One groupBy over the
    corpus; the normalization runs over the tiny per-source aggregate."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("tokens"),
    )
    w = Window.partitionBy()
    tot = F.sum("tokens").over(w)
    pw = F.pow(F.col("tokens").cast("double"), F.lit(0.7))
    tot7 = F.sum(pw).over(w)
    return per.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tokens").cast("long").alias("tokens"),
        F.round(F.col("tokens").cast("double") / tot, 6).alias("share"),
        F.round(pw / tot7, 6).alias("temp_share"),
    )


Q87_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')) END) AS tokens
  FROM documents GROUP BY source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(tokens AS BIGINT) AS tokens,
       round(CAST(tokens AS DOUBLE) / sum(CAST(tokens AS DOUBLE)) OVER (), 6) AS share,
       round(pow(CAST(tokens AS DOUBLE), 0.7) / sum(pow(CAST(tokens AS DOUBLE), 0.7)) OVER (), 6) AS temp_share
FROM per
"""


QUERIES.update({
    "q86_cms_heavy_hitters": QueryDef(
        q86_cms_heavy_hitters, Q86_SQL, "LLM-pipeline: count-min heavy hitters"
    ),
    "q87_source_mixing": QueryDef(
        q87_source_mixing, Q87_SQL, "LLM-pipeline: temperature source mixing"
    ),
})


# --------------------------------------------------------------------------
# q89 — one-pass table profile
# --------------------------------------------------------------------------

def q89_profile(spark, sf_dir):
    """Profile of the documents table: per column its null count, exact
    distinct count and native-order min/max — computed in ONE aggregate
    pass and unpivoted with stack, so the scan cost is a single read
    however many columns are profiled."""
    d = _t(spark, sf_dir, "documents")
    return profile_table(d, ["doc_id", "text", "lang", "source", "n_chars"])


_PROF_COL = """
SELECT '{c}' AS col_name,
       CAST(n.n_rows AS BIGINT) AS n_rows,
       CAST(n.n_rows - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents, (SELECT count(*) AS n_rows FROM documents) n
GROUP BY n.n_rows
"""


Q89_SQL = " UNION ALL ".join(
    _PROF_COL.format(c=c) for c in ["doc_id", "text", "lang", "source", "n_chars"]
)


# --------------------------------------------------------------------------
# q90 — quality-score drift (PSI) between corpus halves
# --------------------------------------------------------------------------

def q90_quality_drift(spark, sf_dir):
    """PSI of the quality-score distribution between the even- and odd-id
    halves of the corpus: closed-form binning (floor over a fixed range) so
    both engines bin identically, fractions floored at 1e-6 so empty bins
    contribute finitely. Two small hash aggregates + a 5-row join."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("q")
    )
    out = psi(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "q",
        lo=0.0,
        hi=1.0,
        bins=5,
    )
    return out.select(
        F.col("bin").cast("long").alias("bin"),
        F.round("expected_frac", 6).alias("expected_frac"),
        F.round("actual_frac", 6).alias("actual_frac"),
        F.round("psi_term", 8).alias("psi_term"),
    )


_QUALITY_SQL = """
  SELECT doc_id,
    round((
      least(CAST(len(toks) AS DOUBLE) / 50, 1.0)
      + 1.0 - least(CASE WHEN nonspace = 0 THEN 0.0
                         ELSE CAST(n_punct AS DOUBLE) / nonspace END * 4, 1.0)
      + CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END END
    ) / 3.0, 4) AS q
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks,
           length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
           length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct
    FROM documents
  )
"""


Q90_SQL = f"""
WITH scored AS ({_QUALITY_SQL}),
binned AS (
  SELECT doc_id % 2 AS side,
         CAST(least(greatest(floor(q / CAST(0.2 AS DOUBLE)), 0), 4) AS BIGINT) AS bin
  FROM scored
),
tot AS (SELECT side, CAST(count(*) AS DOUBLE) AS n FROM binned GROUP BY side),
fr AS (
  SELECT b.side, b.bin, count(*) / t.n AS frac
  FROM binned b JOIN tot t USING (side) GROUP BY b.side, b.bin, t.n
),
bins AS (SELECT unnest(range(5)) AS bin),
j AS (
  SELECT bins.bin,
         coalesce(e.frac, 0.0) AS expected_frac,
         coalesce(a.frac, 0.0) AS actual_frac
  FROM bins
  LEFT JOIN (SELECT bin, frac FROM fr WHERE side = 0) e USING (bin)
  LEFT JOIN (SELECT bin, frac FROM fr WHERE side = 1) a USING (bin)
)
SELECT CAST(bin AS BIGINT) AS bin,
       round(expected_frac, 6) AS expected_frac,
       round(actual_frac, 6) AS actual_frac,
       round((greatest(actual_frac, 1e-6) - greatest(expected_frac, 1e-6))
             * ln(greatest(actual_frac, 1e-6) / greatest(expected_frac, 1e-6)), 8) AS psi_term
FROM j
"""


QUERIES.update({
    "q89_profile": QueryDef(
        q89_profile, Q89_SQL, "LLM-pipeline: one-pass table profiling (A9-ext)"
    ),
    "q90_quality_drift": QueryDef(
        q90_quality_drift, Q90_SQL, "LLM-pipeline: PSI distribution drift (P7-ext)"
    ),
})


_NORM_Q100 = _NORM.format(c='text')


# --------------------------------------------------------------------------
# q96 — execute the temperature mix as a deterministic sample
# --------------------------------------------------------------------------

_Q96_TARGET = 200


def q96_mixed_sample(spark, sf_dir):
    """Materialize the q87 mixing decision: per-source quota = round(
    temp_share * 200) docs, filled in md5(doc_id) order (deterministic
    "random", repartition-stable — the q68 discipline). One window per
    source stratum; the quota table is a broadcast of <=20 rows."""
    from pyspark.sql import Window  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.sum(token_count(F.col("text"))).alias("tokens"))
    pw = F.pow(F.col("tokens").cast("double"), F.lit(0.7))
    totals = per.agg(F.sum(pw).alias("_t7"))
    quota = (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.round(pw / F.col("_t7") * _Q96_TARGET, 0).cast("long").alias("quota"),
        )
    )
    ordered = d.select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("_r")
    )
    w = Window.partitionBy("source").orderBy(F.asc("_r"), F.asc("doc_id"))
    ranked = ordered.withColumn("pick", F.row_number().over(w))
    out = ranked.join(F.broadcast(quota), "source").filter(
        F.col("pick") <= F.col("quota")
    )
    return out.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("pick").cast("long").alias("pick"),
        F.col("quota").cast("long").alias("quota"),
    )


Q96_SQL = f"""
WITH per AS (
  SELECT source,
         sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                  ELSE len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '')) END) AS tokens
  FROM documents GROUP BY source
),
quota AS (
  SELECT source,
         CAST(round(pow(CAST(tokens AS DOUBLE), 0.7)
                    / sum(pow(CAST(tokens AS DOUBLE), 0.7)) OVER () * {_Q96_TARGET}, 0) AS BIGINT) AS quota
  FROM per
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick
  FROM documents
)
SELECT r.source, CAST(r.doc_id AS BIGINT) AS doc_id,
       CAST(r.pick AS BIGINT) AS pick, q.quota
FROM ranked r JOIN quota q USING (source)
WHERE r.pick <= q.quota
"""


QUERIES.update({
    "q96_mixed_sample": QueryDef(
        q96_mixed_sample, Q96_SQL, "LLM-pipeline: executed temperature mix sample"
    ),
})


# --------------------------------------------------------------------------
# q100 — curation pipeline v2: dedup → decontaminate → quota, audited
# --------------------------------------------------------------------------

def q100_curation_v2(spark, sf_dir):
    """The round-4 curation stack composed end-to-end with an audited stage
    funnel (the q78 discipline over the NEW operators): exact dedup (min-id
    keeper) → benchmark decontamination (≥2 trigram collisions with the
    doc_id%37 eval slice — eval members drop themselves, as a real
    decontamination pass would) → per-(source, lang) quality quota (top 15).
    Output: one row per stage with its surviving doc count — the funnel a
    data-governance review signs off on."""
    from ..operators.decontaminate import contamination_report  # noqa: PLC0415
    from ..operators.dedup import exact_dedup  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    s1 = exact_dedup(d, "text", "doc_id")
    ev = s1.filter(F.col("doc_id") % 37 == 0)
    # Single-pass funnel: the four stage counts are exact identities over ONE
    # aggregation of the dedup output, instead of four aggregates whose
    # lineages re-run the funnel prefix (raw scanned 4x, dedup windowed 3x):
    #   raw            = sum(dup_count) over keepers (exact_dedup annotates
    #                    each keeper with its content-hash group size)
    #   deduped        = count(keepers)
    #   decontaminated = deduped - |drop-list|   (decontaminate() is a
    #                    left_anti of s1 against the report, whose ids are a
    #                    subset of s1 by construction)
    #   quota          = sum over (source, lang) of min(15, survivors):
    #                    top_k_per_group ranks with row_number() <= k, so its
    #                    per-group cardinality is min(k, n) regardless of the
    #                    quality ordering — the score need not be computed to
    #                    count the survivors.
    flagged = contamination_report(s1, ev, "text", "doc_id", n=3, min_overlap=2)
    marked = s1.join(
        F.broadcast(flagged.select("doc_id").withColumn("_hit", F.lit(1))),
        "doc_id",
        "left",
    )
    per_group = marked.groupBy("source", "lang").agg(
        F.sum("dup_count").alias("_raw"),
        F.count(F.lit(1)).alias("_s1"),
        F.count(F.when(F.col("_hit").isNull(), 1)).alias("_s2"),
    )
    totals = per_group.agg(
        F.coalesce(F.sum("_raw"), F.lit(0)).alias("raw"),
        F.coalesce(F.sum("_s1"), F.lit(0)).alias("deduped"),
        F.coalesce(F.sum("_s2"), F.lit(0)).alias("decontaminated"),
        F.coalesce(F.sum(F.least(F.lit(15), F.col("_s2"))), F.lit(0)).alias("quota"),
    )
    stages = ["raw", "deduped", "decontaminated", "quota"]
    return totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        F.col(name).cast("long").alias("n_docs"),
                    )
                    for name in stages
                ]
            )
        ).alias("_r")
    ).select("_r.stage", "_r.n_docs")


Q100_SQL = """
WITH s1 AS (
  SELECT d.* FROM documents d JOIN (
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY norm ORDER BY doc_id ASC) AS rn
      FROM (SELECT doc_id, __NORM__ AS norm FROM documents)
    ) WHERE rn = 1
  ) k USING (doc_id)
),
toks AS (
  SELECT doc_id, list_filter(string_split(__NORM__, ' '), t -> t != '') AS t
  FROM s1
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
              ELSE list_distinct(list_transform(
                     generate_series(1, greatest(len(t) - 2, 1)),
                     i -> array_to_string(list_slice(t, i, i + 2), ' '))) END AS g
  FROM toks
),
ev AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 37 = 0),
hits AS (
  SELECT doc_id FROM (SELECT doc_id, unnest(g) AS gram FROM grams) c
  JOIN ev USING (gram) GROUP BY doc_id HAVING count(*) >= 2
),
s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
q AS (
  SELECT doc_id, source, lang,
    round((
      least(CAST(len(toks2) AS DOUBLE) / 50, 1.0)
      + 1.0 - least(CASE WHEN nonspace = 0 THEN 0.0
                         ELSE CAST(n_punct AS DOUBLE) / nonspace END * 4, 1.0)
      + CASE WHEN len(toks2) = 0 THEN 0.0
             ELSE CASE WHEN CAST(list_sum(list_transform(toks2, t -> length(t))) AS DOUBLE) / len(toks2)
                            BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END END
    ) / 3.0, 4) AS quality
  FROM (
    SELECT doc_id, source, lang,
           list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS toks2,
           length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
           length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS n_punct
    FROM s2
  )
),
s3 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source, lang ORDER BY quality DESC, doc_id) AS rank
    FROM q
  ) WHERE rank <= 15
)
SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT 'deduped', CAST(count(*) AS BIGINT) FROM s1
UNION ALL SELECT 'decontaminated', CAST(count(*) AS BIGINT) FROM s2
UNION ALL SELECT 'quota', CAST(count(*) AS BIGINT) FROM s3
""".replace("__NORM__", _NORM_Q100)


QUERIES["q100_curation_v2"] = QueryDef(
    q100_curation_v2, Q100_SQL, "LLM-pipeline: curation funnel v2 (dedup→decontam→quota)"
)


_L = 16  # window length in whitespace tokens (Lee et al. use 50 BPE tokens)


def q109_substring_spans(spark, sf_dir):
    """Maximal duplicated >=16-token spans per document
    (operators/dedup.py:duplicate_substring_spans). One corpus shuffle keyed
    by window hash; md5 window keys so the oracle groups the identical keys."""
    d = _t(spark, sf_dir, "documents")
    out = duplicate_substring_spans(
        d, "text", "doc_id", min_tokens=_L, hash_family="md5"
    )
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


_Q109_CORE = f"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
  FROM documents
), wins AS (
  SELECT doc_id, cs AS s,
         md5(array_to_string(list_slice(t, cs, cs + {_L - 1}), ' ')) AS k
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_L - 1})) AS cs
        FROM toks WHERE len(t) >= {_L})
), dupk AS (
  SELECT k FROM wins GROUP BY k HAVING count(*) >= 2
), marked AS (
  SELECT w.doc_id, w.s FROM wins w JOIN dupk USING (k)
), flagged AS (
  SELECT doc_id, s,
         CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > {_L}
              THEN 1 ELSE 0 END AS brk
  FROM marked
), isl AS (
  SELECT doc_id, s,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, min(s) AS ss, max(s) + {_L - 1} AS se, count(*) AS nw
  FROM isl GROUP BY doc_id, island
)
"""


Q109_SQL = f"""
WITH {_Q109_CORE}
SELECT doc_id, CAST(ss AS BIGINT) AS span_start, CAST(se AS BIGINT) AS span_end,
       CAST(se - ss + 1 AS BIGINT) AS span_tokens, CAST(nw AS BIGINT) AS n_windows
FROM spans
"""


def q110_substring_dedup_clean(spark, sf_dir):
    """The corpus after cutting every duplicated span found by q109
    (operators/dedup.py:remove_duplicate_spans): tokens inside spans drop,
    survivors re-join single-spaced; untouched documents keep their text
    verbatim."""
    d = _t(spark, sf_dir, "documents")
    spans = duplicate_substring_spans(
        d, "text", "doc_id", min_tokens=_L, hash_family="md5"
    )
    out = remove_duplicate_spans(d, spans, "text", "doc_id")
    return out.select("doc_id", "clean_text")


Q110_SQL = f"""
WITH {_Q109_CORE},
spanned AS (SELECT DISTINCT doc_id FROM spans),
exploded AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM toks
), kept AS (
  SELECT e.doc_id, e.tok, e.pos
  FROM exploded e
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = e.doc_id AND e.pos BETWEEN s.ss AND s.se)
), rejoined AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN sp.doc_id IS NULL THEN d.text ELSE coalesce(r.clean, '') END AS clean_text
FROM documents d
LEFT JOIN spanned sp USING (doc_id)
LEFT JOIN rejoined r USING (doc_id)
"""


QUERIES.update({
    "q109_substring_spans": QueryDef(
        q109_substring_spans, Q109_SQL,
        "LLM-pipeline: exact duplicated-substring spans (suffix-dedup approximation)",
    ),
    "q110_substring_dedup_clean": QueryDef(
        q110_substring_dedup_clean, Q110_SQL,
        "LLM-pipeline: corpus with duplicated spans removed",
    ),
})


# --------------------------------------------------------------------------
# q111 — fuzzy-dedup keep-best: pairs -> components -> quality-ranked keeper
# --------------------------------------------------------------------------


def q111_dedup_keep_best(spark, sf_dir):
    """Near-dup clusters with the keep-best-quality policy: q28's exact
    Jaccard pairs -> min-label connected components (operators/graph.py) ->
    per-component quality ranking (keep_best_representative), flagging the
    highest-quality member kept (ties by min doc_id). One join on the node id
    + one window per component — shuffle tracks the duplicate set, not the
    corpus."""
    d = _t(spark, sf_dir, "documents")
    pairs = _q28_pairs(spark, sf_dir)
    clusters = duplicate_clusters(pairs, "left_id", "right_id")
    qual = with_text_features(d, "text").select("doc_id", "quality")
    out = keep_best_representative(clusters, qual, "doc_id", "quality")
    return out.select(
        F.col("node").alias("doc_id"),
        "component",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "quality",
        "kept",
    )


# The oracle replays q28's pair set verbatim, resolves components via the
# recursive min-reachable-label CTE (q62's form), recomputes the q23 quality
# score, and ranks within each component.
Q111_SQL = (
    "WITH RECURSIVE pairs AS ("
    + Q28_SQL
    + """),
edges AS (
  SELECT left_id AS a, right_id AS b FROM pairs
  UNION ALL
  SELECT right_id AS a, left_id AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
sized AS (
  SELECT node, component,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
  FROM comp
),
qbase AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
qfeat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS punct_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / len(toks) END AS mwl_raw
  FROM qbase
),
qual AS (
  SELECT doc_id,
         round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
                + (1.0 - least(punct_raw * 4.0, 1.0))
                + CASE WHEN mwl_raw >= 2.0 AND mwl_raw <= 12.0 THEN 1.0 ELSE 0.0 END
               ) / 3.0, 4) AS quality
  FROM qfeat
)
SELECT s.node AS doc_id, s.component, s.cluster_size, q.quality,
       (row_number() OVER (PARTITION BY s.component
                           ORDER BY q.quality DESC, s.node ASC) = 1) AS kept
FROM sized s JOIN qual q ON q.doc_id = s.node
"""
)


# --------------------------------------------------------------------------
# q113 — entity resolution: normalize -> block -> match -> cluster -> assign
# --------------------------------------------------------------------------


def fabricate_org_records(parts):
    """Noisy org-name records from a (pk, name) frame: per entity the
    original, an upper-cased ' LTD' legal-suffix variant, and a
    last-char-dropped typo — normalized (lower + suffix strip) into ``nm``
    with ``record_id = pk*4 + variant``. Shared by q113 and the scaling
    probe so the demo corruption model cannot desynchronize between the
    correctness gate and the measurement."""
    return (
        parts.select(
            F.explode(
                F.array(
                    F.struct((F.col("pk") * 4).alias("record_id"), F.col("name").alias("raw")),
                    F.struct(
                        (F.col("pk") * 4 + 1).alias("record_id"),
                        F.concat(F.upper("name"), F.lit(" LTD")).alias("raw"),
                    ),
                    F.struct(
                        (F.col("pk") * 4 + 2).alias("record_id"),
                        F.expr("substring(name, 1, length(name) - 1)").alias("raw"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .withColumn("nm", F.regexp_replace(F.lower("raw"), r"\s+ltd$", ""))
    )


def q113_entity_resolution(spark, sf_dir):
    """Entity resolution over noisy org-name records
    (operators/relational.py:resolve_entities): each part spawns three
    records of a distinct org name ('org-<pk> <p_name>') — the original, an
    upper-cased variant with a ' LTD' legal suffix, and a last-char-dropped
    typo. Normalization (lower + suffix strip) plus a first-token blocking
    key plus thresholded Levenshtein (<= 2) recovers the variants; connected
    components close the matches transitively; every record gets its
    canonical entity_id + entity_size. (p_name alone is NOT usable as the
    identity: the synthetic vocabulary has only 64 distinct names, which
    collapses any name-derived blocking key and explodes the pair set — the
    org-<pk> discriminator models real org registries, where names are
    near-unique and the blocking key is selective. Block selectivity is THE
    scale knob of this operator; see resolve_entities.)"""
    from ..operators.relational import resolve_entities  # noqa: PLC0415

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("pk"),
        F.concat(F.lit("org-"), F.col("p_partkey").cast("string"), F.lit(" "), F.col("p_name")).alias("name"),
    )
    recs = fabricate_org_records(p)
    blk = F.split(F.col("nm"), " ").getItem(0)
    # max_block_size=2 < the 3-record blocks: every block salt-splits (S=2),
    # so the skew-bounded pair path is the one the oracle gates — the pair
    # set (and hence the hash) is identical to the unsalted join by
    # construction (left replicates over sub-blocks, right keeps one).
    out = resolve_entities(recs, "nm", "record_id", blk, max_edits=2, max_block_size=2)
    return out.select(
        "record_id", "entity_id", F.col("entity_size").cast("long").alias("entity_size")
    )


Q113_SQL = """
WITH RECURSIVE p AS (
  SELECT CAST(p_partkey AS BIGINT) AS pk,
         'org-' || CAST(p_partkey AS VARCHAR) || ' ' || p_name AS name
  FROM part
),
recs AS (
  SELECT pk * 4 AS record_id, name AS raw FROM p
  UNION ALL SELECT pk * 4 + 1, upper(name) || ' LTD' FROM p
  UNION ALL SELECT pk * 4 + 2, substr(name, 1, length(name) - 1) FROM p
),
normed AS (
  SELECT record_id, regexp_replace(lower(raw), '\\s+ltd$', '') AS nm FROM recs
),
blocked AS (
  SELECT record_id, nm, list_extract(string_split(nm, ' '), 1) AS blk
  FROM normed
),
edges0 AS (
  SELECT l.record_id AS a, r.record_id AS b
  FROM blocked l JOIN blocked r ON l.blk = r.blk AND l.record_id < r.record_id
  WHERE levenshtein(l.nm, r.nm) <= 2
),
edges AS (SELECT a, b FROM edges0 UNION ALL SELECT b, a FROM edges0),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
assigned AS (
  SELECT n.record_id, coalesce(c.component, n.record_id) AS entity_id
  FROM normed n LEFT JOIN comp c ON c.node = n.record_id
)
SELECT record_id, entity_id,
       CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size
FROM assigned
"""


# --------------------------------------------------------------------------
# q115 — model-based quality filter (classifier-gating shape)
# --------------------------------------------------------------------------


def q115_quality_classifier(spark, sf_dir):
    """Classifier-gated quality filter (functions/scoring.py:logistic_score):
    a fixed-weight logistic model over the q23 text features scores every
    document JVM-side (pure codegen — no Python in the scan), and the gate
    keeps prob >= 0.5. This is the FineWeb-edu-style model-filter stage with
    a linear scorer standing in for the network; swapping in an Arrow-batched
    model kernel changes only the scoring expression."""
    from ..functions.scoring import logistic_score  # noqa: PLC0415

    d = with_text_features(_t(spark, sf_dir, "documents"), "text")
    feats = d.select(
        "doc_id",
        F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0)).alias("f_len"),
        F.col("punct_ratio").alias("f_punct"),
        F.col("stopword_ratio").alias("f_stop"),
        (F.col("mean_word_len") / 10.0).alias("f_mwl"),
    )
    prob = logistic_score(
        {"f_len": 2.0, "f_punct": -3.0, "f_stop": 1.5, "f_mwl": 0.5}, bias=-1.0
    )
    return feats.select(
        "doc_id",
        F.round(prob, 4).alias("keep_prob"),
        (prob >= 0.5).alias("kept"),
    )


def _q115_sql() -> str:

    # feature terms in sorted(features) order so float addition order — and
    # with it every last bit of z — matches the Spark expression
    return f"""
WITH base AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
), feats AS (
  SELECT doc_id,
         least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS f_len,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS f_punct,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, t -> list_contains({_STOP_SQL}, lower(t)))) AS DOUBLE)
                   / len(toks) END AS f_stop,
         (CASE WHEN len(toks) = 0 THEN 0.0
               ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                    / len(toks) END) / 10.0 AS f_mwl
  FROM base
), scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-(((((-1.0) + 2.0 * f_len) + 0.5 * f_mwl) + (-3.0) * f_punct) + 1.5 * f_stop))) AS p
  FROM feats
)
SELECT doc_id, round(p, 4) AS keep_prob, (p >= 0.5) AS kept FROM scored
"""


QUERIES.update({
    "q111_dedup_keep_best": QueryDef(
        q111_dedup_keep_best, Q111_SQL,
        "LLM-pipeline: near-dup clusters keep best-quality representative",
    ),
    "q113_entity_resolution": QueryDef(
        q113_entity_resolution, Q113_SQL,
        "entity resolution: normalize, block, fuzzy-match, cluster, assign",
    ),
    "q115_quality_classifier": QueryDef(
        q115_quality_classifier, _q115_sql(),
        "LLM-pipeline: model-based (logistic) quality filter gate",
    ),
})


# --------------------------------------------------------------------------
# q123 — BPE tokenization (sequential-merge variant), vocab statistics
# --------------------------------------------------------------------------


def q123_bpe_vocab(spark, sf_dir):
    """BPE tokenization as pure codegen (functions/text.py:bpe_tokens): each
    word becomes its char sequence and the fixed merge table applies as a
    chain of string replaces (two passes per rule to close alternating
    chains) — the sequential-merge BPE variant, reproducible in any engine
    with replace(). Emits the corpus top-20 subword vocabulary by frequency
    (ties -> token asc), the statistic a data pipeline actually needs from
    a tokenizer (vocab coverage / token budgeting / mixing weights)."""
    from ..functions.text import bpe_tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(bpe_tokens(F.lower(F.col("text")))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


def _q123_sql() -> str:
    from ..functions.text import DEFAULT_BPE_MERGES  # noqa: PLC0415

    expr = "' ' || regexp_replace(w, '(.)', '\\1 ', 'g')"
    for a, b in DEFAULT_BPE_MERGES:
        for _ in range(2):  # same two-pass closure as the Spark chain
            expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            t -> t != '')) AS w
  FROM documents
), sub AS (
  SELECT unnest(list_filter(string_split(trim({expr}), ' '), t -> t != '')) AS token
  FROM words
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM sub GROUP BY token
ORDER BY n DESC, token ASC LIMIT 20
"""


QUERIES["q123_bpe_vocab"] = QueryDef(
    q123_bpe_vocab, _q123_sql(),
    "LLM-pipeline: BPE tokenization (sequential-merge, codegen) + top-20 vocab",
)


# --------------------------------------------------------------------------
# q124 — per-source corpus scorecard (curation observability)
# --------------------------------------------------------------------------


def q124_source_scorecard(spark, sf_dir):
    """The per-source report card a curation run publishes: volume, exact
    duplicate rate (q22's normalized-text rule), quality and token budget
    (q23's features), language spread — one pass over the corpus plus the
    dedup window. Every ratio is a single double division over
    decimal-exact sums, so the numbers are engine-deterministic without
    tolerance bands."""
    from pyspark.sql import Window as W  # noqa: PLC0415

    from ..functions.text import normalized_text, with_text_features  # noqa: PLC0415

    d = with_text_features(_t(spark, sf_dir, "documents"), "text")
    w = W.partitionBy(normalized_text(F.col("text"))).orderBy("doc_id")
    flagged = d.withColumn("_dup", F.row_number().over(w) > 1)
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_dup").cast("long")).alias("_dups"),
            F.sum(F.col("quality").cast("decimal(10,4)")).cast("double").alias("_q"),
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .select(
            "source",
            "n_docs",
            F.round(F.col("_dups") / F.col("n_docs"), 4).alias("dup_rate"),
            F.round(F.col("_q") / F.col("n_docs"), 4).alias("avg_quality"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.col("n_langs").cast("long").alias("n_langs"),
        )
    )


def _q124_sql() -> str:

    return f"""
WITH qbase AS (
  SELECT doc_id, source, lang, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         {_NORM.format(c='text')} AS norm
  FROM documents
), qfeat AS (
  SELECT doc_id, source, lang, norm,
         len(toks) AS n_tokens,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS DOUBLE)
                   / length(regexp_replace(text, '\\s', '', 'g')) END AS punct_raw,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                   / len(toks) END AS mwl_raw
  FROM qbase
), scored AS (
  SELECT doc_id, source, lang, norm, n_tokens,
         round((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
                + (1.0 - least(punct_raw * 4.0, 1.0))
                + CASE WHEN mwl_raw >= 2.0 AND mwl_raw <= 12.0 THEN 1.0 ELSE 0.0 END
               ) / 3.0, 4) AS quality,
         (row_number() OVER (PARTITION BY norm ORDER BY doc_id) > 1) AS dup
  FROM qfeat
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_rate,
       round(CAST(sum(CAST(quality AS DECIMAL(10,4))) AS DOUBLE) / count(*), 4) AS avg_quality,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM scored GROUP BY source
"""


QUERIES["q124_source_scorecard"] = QueryDef(
    q124_source_scorecard, _q124_sql(),
    "LLM-pipeline: per-source corpus scorecard (volume, dup rate, quality, tokens)",
)


# --------------------------------------------------------------------------
# q125 — bigram LM perplexity scoring (CCNet-shaped quality filter)
# --------------------------------------------------------------------------


def q125_lm_perplexity(spark, sf_dir):
    """Corpus-trained bigram LM score per document
    (functions/text.py:bigram_logprob_scores): add-one-smoothed
    P(b|a) from the corpus's own bigram/left-unigram counts, score = mean
    ln P over the document's bigrams — the CCNet/KenLM-shaped perplexity
    filter with the model held as count tables, not driver state. Each ln
    is decimal-pinned before the per-document sum so float summation order
    never reaches the rounded output."""
    from ..functions.text import bigram_logprob_scores  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    out = bigram_logprob_scores(d, "text", "doc_id")
    return out.select(
        "doc_id", F.col("n_bigrams").cast("long").alias("n_bigrams"), "avg_logprob"
    )


Q125_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id, t[i] AS a, t[i + 1] AS b
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
),
c2 AS (SELECT a, b, count(*) AS n2 FROM pairs GROUP BY a, b),
c1 AS (SELECT a, count(*) AS n1 FROM pairs GROUP BY a),
v AS (SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(t) AS w FROM toks)),
scored AS (
  SELECT p.doc_id,
         CAST(ln(CAST(c2.n2 + 1 AS DOUBLE) / (c1.n1 + v.v)) AS DECIMAL(20,12)) AS lp
  FROM pairs p
  JOIN c2 ON p.a = c2.a AND p.b = c2.b
  JOIN c1 ON p.a = c1.a
  CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


QUERIES["q125_lm_perplexity"] = QueryDef(
    q125_lm_perplexity, Q125_SQL,
    "LLM-pipeline: corpus-trained bigram LM perplexity score (CCNet-shaped)",
)


def q155_bpe_priority_vocab(spark, sf_dir):
    """Priority-loop BPE over a merge table the q123 replace chain REJECTS
    (same-pair rules ll/ee/oo + the stacked ll+l — functions/text.py:
    PRIORITY_BPE_MERGES). Scale shape: the corpus explodes to words and
    aggregates to the DISTINCT vocabulary first, so the Arrow kernel runs
    per distinct word, never per document; token counts re-weight by word
    frequency. Emits the top-20 subword vocabulary (ties -> token asc)."""
    from ..functions.text import PRIORITY_BPE_MERGES, bpe_tokens_priority, tokens  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    toks = words.select(
        F.explode(bpe_tokens_priority(F.col("w"), PRIORITY_BPE_MERGES)).alias("token"), "wn"
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


def _q155_sql() -> str:
    from ..functions.text import PRIORITY_BPE_MERGES  # noqa: PLC0415

    values = ", ".join(
        f"('{a}', '{b}', {i})" for i, (a, b) in enumerate(PRIORITY_BPE_MERGES)
    )
    return f"""
WITH RECURSIVE merges(a, b, rank) AS (
  SELECT * FROM (VALUES {values}) v(a, b, rank)
),
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wn FROM (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              t -> t != '')) AS w
    FROM documents
  ) GROUP BY w
),
-- one merge per level: leftmost occurrence of the lowest-ranked pair
-- (the kernel's pinned semantics); rows with no pair left stop recursing
steps AS (
  SELECT w, wn, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s FROM words
  UNION ALL
  SELECT st.w, st.wn,
         substr(st.s, 1, instr(st.s, ' ' || m.a || ' ' || m.b || ' ') - 1)
           || ' ' || m.a || m.b || ' '
           || substr(st.s, instr(st.s, ' ' || m.a || ' ' || m.b || ' ')
                           + length(m.a) + length(m.b) + 3)
  FROM (
    SELECT w, wn, s,
           (SELECT min(rank) FROM merges
             WHERE instr(s, ' ' || a || ' ' || b || ' ') > 0) AS r
    FROM steps
  ) st JOIN merges m ON m.rank = st.r
),
final AS (
  SELECT w, wn, s FROM steps
  WHERE NOT EXISTS (SELECT 1 FROM merges
                     WHERE instr(s, ' ' || a || ' ' || b || ' ') > 0)
),
toks AS (
  SELECT unnest(list_filter(string_split(trim(s), ' '), t -> t != '')) AS token, wn
  FROM final
)
SELECT token, CAST(sum(wn) AS BIGINT) AS n
FROM toks GROUP BY token
ORDER BY n DESC, token ASC LIMIT 20
"""


QUERIES.update({
    "q155_bpe_priority_vocab": QueryDef(
        q155_bpe_priority_vocab,
        _q155_sql(),
        "priority-loop BPE (Arrow kernel) on a same-pair merge table the replace chain rejects",
    ),
})


# --------------------------------------------------------------------------
# q164 — DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169)
# --------------------------------------------------------------------------

def q164_dsir_selection(spark, sf_dir):
    """DSIR over the documents corpus (operators/dsir.py): target = the
    held-out %37 slice (q160's eval split), raw = the rest; hashed
    uni+bigram features over 256 buckets, add-one-smoothed target/source
    multinomials, per-doc importance log-weights via a b-ascending sorted
    fold, Gumbel top-k=200 with hash-derived (deterministic) draws. The
    emitted logw AND sampling key certify both the evidence and the draw."""
    from ..operators.dsir import dsir_select  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 37 == 0)
    raw = d.filter(F.col("doc_id") % 37 != 0)
    out = dsir_select(raw, target, "text", "doc_id", k=200, num_buckets=256)
    return out.select(
        F.col("id").alias("doc_id"),
        F.format_string("%.6f", F.col("logw")).alias("logw"),
        F.format_string("%.6f", F.col("key")).alias("key"),
    )


Q164_SQL = (
    f"""
WITH raw AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents WHERE doc_id % 37 != 0
), tgt AS (
  SELECT doc_id, {_NORM.format(c='text')} AS norm FROM documents WHERE doc_id % 37 = 0
), """
    + _DSIR_SCORED_T.replace("__DSRC__", "raw").replace("__DTGT__", "tgt")
    + """
SELECT doc_id, printf('%.6f', logw) AS logw, printf('%.6f', key) AS key
FROM (SELECT doc_id, logw, key FROM scored ORDER BY key DESC LIMIT 200)
"""
)


QUERIES["q164_dsir_selection"] = QueryDef(
    q164_dsir_selection, Q164_SQL,
    "LLM-pipeline: DSIR importance resampling — hashed n-gram multinomials, "
    "importance log-weights, deterministic Gumbel top-k (arXiv:2302.03169)",
)


def q167_ccnet_buckets(spark, sf_dir):
    """The CCNet pipeline over ``documents`` (pipelines/ccnet.py):
    tail-inclusive 10-token paragraph windows deduplicated corpus-wide
    (keeper = min (doc_id, pos) occurrence — ONE shuffle on the paragraph
    key), documents reassembled from their surviving windows, language
    identified on the DEDUPLICATED text, one add-one bigram LM trained per
    predicted language, and head/middle/tail buckets cut on per-language
    score thresholds joined back broadcast."""
    from ..pipelines.ccnet import ccnet_buckets  # noqa: PLC0415

    return ccnet_buckets(_t(spark, sf_dir, "documents"), chunk=_CHUNK)


def _q167_sql() -> str:
    norm = _NORM.format(c="text")
    lang_case = f"""
         CASE WHEN zh > 0 THEN 'zh' WHEN he > 0 THEN 'he' WHEN ar > 0 THEN 'ar' WHEN ru > 0 THEN 'ru'
              WHEN v_de > v_en AND v_de >= v_fr AND v_de >= v_es THEN 'de'
              WHEN v_fr > v_en AND v_fr >= v_es THEN 'fr'
              WHEN v_es > v_en THEN 'es'
              WHEN v_en > 0 THEN 'en'
              ELSE 'und' END"""
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split({norm}, ' '), t -> t != '') AS t
  FROM documents
), occ AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(t, i * {_CHUNK} + 1, i * {_CHUNK} + {_CHUNK}), ' ') AS chunk
  FROM (SELECT doc_id, t, unnest(range((len(t) + {_CHUNK - 1}) // {_CHUNK})) AS i FROM toks)
), keep AS (
  SELECT doc_id, pos, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM occ
), perdoc AS (
  SELECT doc_id,
         count(*) AS n_chunks,
         count(*) FILTER (WHERE rn = 1) AS n_kept,
         string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1) AS kept
  FROM keep GROUP BY doc_id
), alive AS (
  SELECT * FROM perdoc WHERE n_kept >= 1
), votes AS (
  SELECT doc_id, n_chunks, n_kept, kept,
         length(regexp_replace(kept, '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) AS zh,
         length(regexp_replace(kept, '[^\\x{{0590}}-\\x{{05FF}}]', '', 'g')) AS he,
         length(regexp_replace(kept, '[^\\x{{0600}}-\\x{{06FF}}]', '', 'g')) AS ar,
         length(regexp_replace(kept, '[^\\x{{0400}}-\\x{{04FF}}]', '', 'g')) AS ru,
         len(list_intersect(lt, {_MARKER_SQL['en']})) AS v_en,
         len(list_intersect(lt, {_MARKER_SQL['de']})) AS v_de,
         len(list_intersect(lt, {_MARKER_SQL['fr']})) AS v_fr,
         len(list_intersect(lt, {_MARKER_SQL['es']})) AS v_es
  FROM (SELECT *, list_distinct(list_filter(string_split(kept, ' '), t -> t != '')) AS lt
        FROM alive)
), langd AS (
  SELECT doc_id, n_chunks, n_kept, kept, {lang_case} AS lang_pred
  FROM votes
), ktoks AS (
  SELECT doc_id, lang_pred, list_filter(string_split(kept, ' '), x -> x != '') AS t
  FROM langd
), pairs AS (
  SELECT doc_id, lang_pred, t[i] AS a, t[i + 1] AS b
  FROM (SELECT doc_id, lang_pred, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM ktoks WHERE len(t) >= 2)
), c2 AS (
  SELECT lang_pred, a, b, count(*) AS n2 FROM pairs GROUP BY 1, 2, 3
), c1 AS (
  SELECT lang_pred, a, count(*) AS n1 FROM pairs GROUP BY 1, 2
), v AS (
  SELECT lang_pred, count(DISTINCT w) AS v
  FROM (SELECT lang_pred, unnest(t) AS w FROM ktoks) GROUP BY 1
), lp AS (
  SELECT p.doc_id, p.lang_pred,
         CAST(ln(CAST(c2.n2 + 1 AS DOUBLE) / (c1.n1 + v.v)) AS DECIMAL(20,12)) AS lp
  FROM pairs p
  JOIN c2 ON p.lang_pred = c2.lang_pred AND p.a = c2.a AND p.b = c2.b
  JOIN c1 ON p.lang_pred = c1.lang_pred AND p.a = c1.a
  JOIN v ON p.lang_pred = v.lang_pred
), dscore AS (
  SELECT doc_id, lang_pred, count(*) AS n_bigrams,
         round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob
  FROM lp GROUP BY 1, 2
), dist AS (
  SELECT lang_pred, avg_logprob AS s, count(*) AS c FROM dscore GROUP BY 1, 2
), cum AS (
  SELECT lang_pred, s,
         coalesce(sum(c) OVER (PARTITION BY lang_pred ORDER BY s DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_gt,
         sum(c) OVER (PARTITION BY lang_pred) AS n
  FROM dist
), buck AS (
  SELECT lang_pred, s,
         CASE WHEN c_gt < (n + 2) // 3 THEN 'head'
              WHEN c_gt < (2 * n + 2) // 3 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM cum
)
SELECT d.doc_id, d.lang_pred,
       CAST(a.n_chunks AS BIGINT) AS n_chunks,
       CAST(a.n_kept AS BIGINT) AS n_kept,
       CAST(d.n_bigrams AS BIGINT) AS n_bigrams,
       d.avg_logprob, b.bucket
FROM dscore d
JOIN langd a ON d.doc_id = a.doc_id
JOIN buck b ON d.lang_pred = b.lang_pred AND d.avg_logprob = b.s
"""


Q167_SQL = _q167_sql()


QUERIES["q167_ccnet_buckets"] = QueryDef(
    q167_ccnet_buckets, Q167_SQL,
    "LLM-pipeline composed: CCNet (arXiv:1911.00359) — corpus-wide paragraph "
    "dedup -> lang-ID on deduped text -> per-language bigram-LM perplexity -> "
    "head/middle/tail threshold buckets, one lineage",
)


# --------------------------------------------------------------------------
# q168 — DoReMi-lite domain reweighting (arXiv:2305.10429)
# --------------------------------------------------------------------------

def q168_doremi_weights(spark, sf_dir):
    """DoReMi-lite mixture weights per source (operators/doremi.py): excess
    loss of the corpus-global bigram reference LM over each source's own
    domain LM, clipped at 0 (the paper's eq. 2), softmaxed into weights.
    Content-aware domain weighting — NOT q87's size-based temperature
    mixture. Both LMs are count-table aggregates; everything after the
    per-doc score join runs on the |sources|-row aggregate."""
    from ..operators.doremi import doremi_weights  # noqa: PLC0415

    return doremi_weights(_t(spark, sf_dir, "documents"))


Q168_SQL = """
WITH toks AS (
  -- engine parity (operators/doremi.py): NULL domains coalesce to a
  -- sentinel up front (equi-joins would silently drop them) and map back
  -- to NULL in the output row
  SELECT doc_id, coalesce(source, chr(0) || '__null_domain__') AS source,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS t
  FROM documents
), pairs AS (
  SELECT doc_id, source, t[i] AS a, t[i + 1] AS b
  FROM (SELECT doc_id, source, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
), g2 AS (
  SELECT a, b, count(*) AS n2 FROM pairs GROUP BY 1, 2
), g1 AS (
  SELECT a, count(*) AS n1 FROM pairs GROUP BY 1
), gv AS (
  SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toks)
), gdoc AS (
  SELECT p.doc_id,
         round(CAST(sum(CAST(ln(CAST(g2.n2 + 1 AS DOUBLE) / (g1.n1 + gv.v)) AS DECIMAL(20,12))) AS DOUBLE)
               / count(*), 4) AS lp_ref
  FROM pairs p
  JOIN g2 ON p.a = g2.a AND p.b = g2.b
  JOIN g1 ON p.a = g1.a
  CROSS JOIN gv
  GROUP BY 1
), s2 AS (
  SELECT source, a, b, count(*) AS n2 FROM pairs GROUP BY 1, 2, 3
), s1 AS (
  SELECT source, a, count(*) AS n1 FROM pairs GROUP BY 1, 2
), sv AS (
  SELECT source, count(DISTINCT w) AS v
  FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY 1
), sdoc AS (
  SELECT p.doc_id, p.source,
         round(CAST(sum(CAST(ln(CAST(s2.n2 + 1 AS DOUBLE) / (s1.n1 + sv.v)) AS DECIMAL(20,12))) AS DOUBLE)
               / count(*), 4) AS lp_dom
  FROM pairs p
  JOIN s2 ON p.source = s2.source AND p.a = s2.a AND p.b = s2.b
  JOIN s1 ON p.source = s1.source AND p.a = s1.a
  JOIN sv ON p.source = sv.source
  GROUP BY 1, 2
), per AS (
  SELECT s.source, count(*) AS n_docs,
         round(-CAST(sum(CAST(g.lp_ref AS DECIMAL(10,4))) AS DOUBLE) / count(*), 6) AS loss_ref,
         round(-CAST(sum(CAST(s.lp_dom AS DECIMAL(10,4))) AS DOUBLE) / count(*), 6) AS loss_dom
  FROM sdoc s JOIN gdoc g ON s.doc_id = g.doc_id
  GROUP BY 1
), ex AS (
  SELECT *, round(greatest(loss_ref - loss_dom, 0), 6) AS excess FROM per
), e AS (
  SELECT *, CAST(round(exp(excess), 12) AS DECIMAL(20,12)) AS _e FROM ex
)
SELECT CASE WHEN source = chr(0) || '__null_domain__' THEN NULL ELSE source END
         AS source,
       CAST(n_docs AS BIGINT) AS n_docs, loss_ref, loss_dom, excess,
       round(CAST(_e AS DOUBLE) / CAST(sum(_e) OVER () AS DOUBLE), 6) AS weight
FROM e
"""


QUERIES["q168_doremi_weights"] = QueryDef(
    q168_doremi_weights, Q168_SQL,
    "LLM-pipeline: DoReMi-lite domain reweighting (arXiv:2305.10429) — "
    "per-source excess loss of the global reference LM over the domain LM, "
    "clipped and softmaxed into mixture weights",
)


_CAP = 256       # run-tail cap: repeats exact up to 256 + 15 = 271 tokens


def q169_maximal_repeats(spark, sf_dir):
    """Maximal duplicated substrings (any length >= 16 tokens) with exact
    lengths (operators/dedup.py:maximal_repeat_spans; generalizes q109 —
    reference parity anchor: the dedup stage the reference lacks entirely,
    Lee et al. 2022 arXiv:2107.06499 §4 ExactSubstr)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    out = maximal_repeat_spans(d, "text", "doc_id", min_tokens=_L, max_run=_CAP)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("max_repeat_tokens").cast("long").alias("max_repeat_tokens"),
    )


Q169_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
  FROM documents
), wins AS (
  SELECT doc_id, cs AS s,
         md5(array_to_string(list_slice(t, cs, cs + {_L - 1}), ' ')) AS k
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_L - 1})) AS cs
        FROM toks WHERE len(t) >= {_L})
), dupk AS (
  SELECT k FROM wins GROUP BY k HAVING count(*) >= 2
), marked AS (
  SELECT w.doc_id, w.s, w.k FROM wins w JOIN dupk USING (k)
), runs AS (
  SELECT doc_id, s, k,
         s - row_number() OVER (PARTITION BY doc_id ORDER BY s) AS g
  FROM marked
), pos AS (
  SELECT doc_id, s, g,
         list(k) OVER (PARTITION BY doc_id, g ORDER BY s
                       ROWS BETWEEN CURRENT ROW AND {_CAP - 1} FOLLOWING) AS tail
  FROM runs
), pref AS (
  SELECT doc_id, s, g, p.m AS m, p.pk AS pk
  FROM pos, UNNEST(list_transform(
         generate_series(1, len(tail)),
         i -> struct_pack(m := i, pk := md5(array_to_string(tail[1:i], '|'))))) AS u(p)
), duppref AS (
  SELECT pk FROM pref GROUP BY pk HAVING count(*) >= 2
), duplen AS (
  SELECT p.doc_id, p.s, p.g, max(p.m) AS dl
  FROM pref p JOIN duppref USING (pk)
  GROUP BY p.doc_id, p.s, p.g
)
SELECT doc_id,
       CAST(min(s) AS BIGINT) AS span_start,
       CAST(max(s) + {_L - 1} AS BIGINT) AS span_end,
       CAST(max(s) + {_L - 1} - min(s) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(max(dl) + {_L - 1} AS BIGINT) AS max_repeat_tokens
FROM duplen
GROUP BY doc_id, g
"""


QUERIES["q169_maximal_repeats"] = QueryDef(
    q169_maximal_repeats, Q169_SQL,
    "LLM-pipeline: any-length maximal duplicated substrings (suffix-array semantics)",
)


def q170_exact_decontaminate(spark, sf_dir):
    """Any-length exact-substring decontamination of a training corpus vs a
    held-out eval slice (operators/decontaminate.py:
    exact_substring_decontaminate — Lee et al. 2022 §6.2 train-test leakage,
    the surgical span-cut form of GPT-3's n-gram document drop). Eval =
    doc_id % 7 == 0 (the slice with measurable leakage at all three SFs);
    spans of >= 16 tokens occurring verbatim in the eval set are cut out of
    the train docs, with per-doc span/token counts carried alongside."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..operators.decontaminate import exact_substring_decontaminate  # noqa: PLC0415

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 7 == 0)
    train = d.filter(F.col("doc_id") % 7 != 0)
    out = exact_substring_decontaminate(train, ev, "text", "doc_id", min_tokens=_L)
    return out.select(
        "doc_id",
        F.col("n_contam_spans").cast("long").alias("n_contam_spans"),
        F.col("contam_tokens").cast("long").alias("contam_tokens"),
        "clean_text",
    )


Q170_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t != '') AS t
  FROM documents
), wins AS (
  SELECT doc_id, cs AS s,
         md5(array_to_string(list_slice(t, cs, cs + {_L - 1}), ' ')) AS k
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_L - 1})) AS cs
        FROM toks WHERE len(t) >= {_L})
), evk AS (
  SELECT DISTINCT k FROM wins WHERE doc_id % 7 = 0
), marked AS (
  SELECT w.doc_id, w.s FROM wins w JOIN evk USING (k) WHERE w.doc_id % 7 != 0
), flagged AS (
  SELECT doc_id, s,
         CASE WHEN s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > {_L}
              THEN 1 ELSE 0 END AS brk
  FROM marked
), isl AS (
  SELECT doc_id, s,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, min(s) AS ss, max(s) + {_L - 1} AS se
  FROM isl GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, count(*) AS n_spans, sum(se - ss + 1) AS ctok FROM spans GROUP BY doc_id
), exploded AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
  FROM toks WHERE doc_id % 7 != 0
), kept AS (
  SELECT e.doc_id, e.tok, e.pos
  FROM exploded e
  WHERE NOT EXISTS (SELECT 1 FROM spans s2
                    WHERE s2.doc_id = e.doc_id AND e.pos BETWEEN s2.ss AND s2.se)
), rejoined AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_contam_spans,
       CAST(coalesce(p.ctok, 0) AS BIGINT) AS contam_tokens,
       CASE WHEN p.doc_id IS NULL THEN d.text ELSE coalesce(r.clean, '') END AS clean_text
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN rejoined r USING (doc_id)
WHERE d.doc_id % 7 != 0
"""


QUERIES["q170_exact_decontaminate"] = QueryDef(
    q170_exact_decontaminate, Q170_SQL,
    "LLM-pipeline: any-length exact-substring decontamination vs an eval set",
)
