"""Text-analysis kernels for large-scale document pipelines.

Generalizes the reference's Hebrew text handling (autotagging, autocomplete,
``select_text_fields`` at ``operators/derive/to_es.py:142-160``) into the
operators a 100 TB training-data pipeline needs: tokenization, token counting,
quality scoring, language identification, fingerprinting, shingling. All
native column expressions — these run inside whole-stage codegen over
arbitrarily many partitions; nothing touches the driver.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf string hints resolve via globals

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization ---------------------------------------------------------------

_WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty strings dropped."""
    return F.filter(F.split(F.trim(text), _WS), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for null/empty)."""
    return F.when(
        text.isNull() | (F.trim(text) == ""), F.lit(0)
    ).otherwise(F.size(tokens(text)))


# Quality scoring -------------------------------------------------------------

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "be", "this",
]


def punct_ratio(text: Column) -> Column:
    """Fraction of non-space characters that are punctuation/symbols."""
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    punct = F.length(F.regexp_replace(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""), "", ""))
    return F.when(nonspace == 0, F.lit(0.0)).otherwise(punct / nonspace)


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n)


def quality_score(text: Column) -> Column:
    """Heuristic document-quality score in [0, 1].

    Combines length adequacy, punctuation sanity and stopword presence — the
    shape of a C4/Gopher-style quality filter, kept simple and fully
    column-native so it's cheap at 100 TB.
    """
    n = token_count(text)
    length_ok = F.least(n.cast("double") / 50.0, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    word_len = mean_word_length(text)
    word_len_ok = F.when((word_len >= 2.0) & (word_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((length_ok + punct_ok + word_len_ok) / 3.0, 4)


def quality_score_from_counts(
    n_tokens: Column, n_punct: Column, nonspace: Column, total_word_chars: Column
) -> Column:
    """:func:`quality_score` computed from already-materialized counts —
    bit-identical arithmetic, zero re-tokenization.

    ``with_quality_flags`` leaves n_tokens / n_punct / total_word_chars on
    the frame; a pipeline stage downstream of the quality gate should score
    from those (plus one cheap nonspace strip) instead of re-running the
    tokenizer and both regex passes over every document."""
    length_ok = F.least(n_tokens.cast("double") / 50.0, F.lit(1.0))
    pr = F.when(nonspace == 0, F.lit(0.0)).otherwise(n_punct / nonspace)
    punct_ok = F.lit(1.0) - F.least(pr * 4.0, F.lit(1.0))
    wl = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        total_word_chars.cast("double") / n_tokens
    )
    word_len_ok = F.when((wl >= 2.0) & (wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((length_ok + punct_ok + word_len_ok) / 3.0, 4)


def with_text_features(df, text_col: str = "text"):
    """Add token_count / punct_ratio / stopword_ratio / mean_word_length /
    quality_score as staged columns (one tokenization, reused).

    This is the pipeline-facing form: each feature reads the shared ``_tf_*``
    columns, so the tokenizer runs once per row and Catalyst's plan stays
    small. Output columns: n_tokens, punct_ratio, stopword_ratio,
    mean_word_len, quality.
    """
    toks = tokens(F.col(text_col))
    d = df.withColumn("_tf_toks", toks).withColumn("_tf_n", F.size("_tf_toks"))
    nonspace = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[\p{L}\p{N}\s]", ""))
    d = d.withColumn(
        "punct_ratio",
        F.when(nonspace == 0, F.lit(0.0)).otherwise(punct.cast("double") / nonspace),
    )
    stop = F.size(F.filter(F.transform(F.col("_tf_toks"), F.lower), lambda t: t.isin(*_STOPWORDS)))
    d = d.withColumn(
        "stopword_ratio",
        F.when(F.col("_tf_n") == 0, F.lit(0.0)).otherwise(stop.cast("double") / F.col("_tf_n")),
    )
    total_len = F.aggregate(F.col("_tf_toks"), F.lit(0), lambda acc, t: acc + F.length(t))
    d = d.withColumn(
        "mean_word_len",
        F.when(F.col("_tf_n") == 0, F.lit(0.0)).otherwise(
            total_len.cast("double") / F.col("_tf_n")
        ),
    )
    length_ok = F.least(F.col("_tf_n").cast("double") / 50.0, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(F.col("punct_ratio") * 4.0, F.lit(1.0))
    word_len_ok = F.when(
        (F.col("mean_word_len") >= 2.0) & (F.col("mean_word_len") <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    d = d.withColumn("quality", F.round((length_ok + punct_ok + word_len_ok) / 3.0, 4))
    return d.withColumn("n_tokens", F.col("_tf_n")).drop("_tf_toks", "_tf_n")


# PII redaction ---------------------------------------------------------------

# Patterns are deliberately RE2-compatible (no lookarounds/backrefs): the same
# literal patterns must run identically under Spark's Java regex and any
# RE2-based engine (DuckDB oracle, Go sidecars). Order matters: URLs first so
# an address inside a URL doesn't get half-redacted.
_PII_PATTERNS = [
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b0\d{1,2}-\d{3}-\d{4}\b", "<PHONE>"),
    (r"\b\d{9,}\b", "<NUM>"),
]


def redact_pii(text: Column) -> Column:
    """Scrub emails, URLs, IPv4s, phone-shaped and long digit runs.

    The standard pre-training scrub pass: a chain of native ``regexp_replace``
    calls — whole-stage codegen, one pass per pattern, no Python. Extend
    ``_PII_PATTERNS`` for locale-specific shapes.
    """
    out = text
    for pattern, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


# C4/Gopher-style quality flags ----------------------------------------------


def with_quality_flags(df, text_col: str = "text"):
    """Attach C4/Gopher-shaped keep/drop signals as integer-exact booleans.

    Every flag is an integer comparison over counts (no float ratios), so the
    decision is bit-identical on any engine — a requirement when the filter
    list is audited across systems. Columns: n_tokens, total_word_chars,
    n_punct, n_stopwords, length_ok (≥50 tokens), word_len_ok (mean word
    length in [3,10] via 3n ≤ Σlen ≤ 10n), symbol_ok (punct ≤ 10% of
    non-space chars), stop_ok (≥2 stopwords — Gopher's 'has common words'
    rule), keep (all of the above).
    """
    toks = tokens(F.col(text_col))
    d = df.withColumn("_qf_toks", toks)
    n = F.size("_qf_toks")
    total = F.aggregate(F.col("_qf_toks"), F.lit(0), lambda acc, t: acc + F.length(t))
    nonspace = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[\p{L}\p{N}\s]", ""))
    stop = F.size(
        F.filter(F.transform(F.col("_qf_toks"), F.lower), lambda t: t.isin(*_STOPWORDS))
    )
    d = (
        d.withColumn("n_tokens", n)
        .withColumn("total_word_chars", total)
        .withColumn("n_punct", punct)
        .withColumn("n_stopwords", stop)
        .withColumn("length_ok", F.col("n_tokens") >= 50)
        .withColumn(
            "word_len_ok",
            (F.lit(3) * F.col("n_tokens") <= F.col("total_word_chars"))
            & (F.col("total_word_chars") <= F.lit(10) * F.col("n_tokens")),
        )
        .withColumn("symbol_ok", F.col("n_punct") * 10 <= nonspace)
        .withColumn("stop_ok", F.col("n_stopwords") >= 2)
        .withColumn(
            "keep",
            F.col("length_ok") & F.col("word_len_ok") & F.col("symbol_ok") & F.col("stop_ok"),
        )
    )
    return d.drop("_qf_toks")


# Language identification -----------------------------------------------------

# Script-range detection first (CJK / Hebrew / Arabic / Cyrillic), then a tiny
# stopword vote among Latin-script languages. Deterministic, column-native.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "y"],
}


def with_lang_id(df, text_col: str = "text", out_col: str = "lang_pred"):
    """Add a best-guess ISO language code column (zh/he/ar/ru/en/de/fr/es/und).

    Staged as real intermediate columns (script char counts, one marker-vote
    column per language) rather than one mega-expression: duplicated
    higher-order-function subtrees make Catalyst analysis/codegen time explode
    (observed 190 s for the single-expression form vs. ~1 s staged), and at
    100 TB the per-row duplicate evaluation would be pure waste.
    """
    d = df.withColumn("_li_toks", F.array_distinct(tokens(F.lower(F.col(text_col)))))
    scripts = {
        "_li_zh": r"[^一-鿿]",
        "_li_he": r"[^֐-׿]",
        "_li_ar": r"[^؀-ۿ]",
        "_li_ru": r"[^Ѐ-ӿ]",
    }
    for name, pattern in scripts.items():
        d = d.withColumn(name, F.length(F.regexp_replace(F.col(text_col), pattern, "")))
    for lang, markers in _LANG_MARKERS.items():
        d = d.withColumn(
            f"_li_{lang}",
            F.size(F.array_intersect("_li_toks", F.lit(markers).cast("array<string>"))),
        )
    en, de, fr, es = (F.col(f"_li_{x}") for x in ("en", "de", "fr", "es"))
    best_latin = (
        F.when((de > en) & (de >= fr) & (de >= es), F.lit("de"))
        .when((fr > en) & (fr >= es), F.lit("fr"))
        .when(es > en, F.lit("es"))
        .when(en > 0, F.lit("en"))
        .otherwise(F.lit("und"))
    )
    d = d.withColumn(
        out_col,
        F.when(F.col("_li_zh") > 0, F.lit("zh"))
        .when(F.col("_li_he") > 0, F.lit("he"))
        .when(F.col("_li_ar") > 0, F.lit("ar"))
        .when(F.col("_li_ru") > 0, F.lit("ru"))
        .otherwise(best_latin),
    )
    return d.drop(*[c for c in d.columns if c.startswith("_li_")])


# Fingerprinting / shingling --------------------------------------------------

def normalized_text(text: Column) -> Column:
    """Canonical form for dedup: lowercase, punctuation stripped, whitespace
    collapsed, trimmed."""
    lowered = F.lower(F.coalesce(text, F.lit("")))
    depunct = F.regexp_replace(lowered, r"[^\p{L}\p{N}\s]", " ")
    return F.trim(F.regexp_replace(depunct, r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: sorted distinct normalized
    tokens joined and hashed (the classic key-collision fingerprint)."""
    toks = F.array_sort(F.array_distinct(tokens(normalized_text(text))))
    return F.sha1(F.array_join(toks, " "))


from .expr import let as _let  # noqa: E402 — shared let-binding (see expr.py)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the normalized text.

    A document with fewer than k tokens yields a single shingle of all its
    tokens, so short documents still participate in similarity joins.
    The token array is let-bound so tokenization runs once per row, not once
    per shingle position.
    """

    def build(ts: Column) -> Column:
        n = F.size(ts)
        starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        shingles = F.transform(starts, lambda i: F.array_join(F.slice(ts, i, k), " "))
        return F.when(n == 0, F.array().cast("array<string>")).otherwise(
            F.array_distinct(shingles)
        )

    return _let(tokens(normalized_text(text)), build)


# BPE tokenization (sequential-merge variant) ---------------------------------

DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"), ("in", "g"), ("t", "o"), ("o", "u"),
)


def bpe_tokens(text: Column, merges=DEFAULT_BPE_MERGES) -> Column:
    """Byte-pair tokens of each whitespace word under a fixed merge table —
    the SEQUENTIAL-merge BPE variant: each merge rule is applied globally
    (leftmost, non-overlapping) in table order, one pass per rule, instead
    of the per-word lowest-rank priority loop GPT-2's encoder runs.

    The sequential variant is what makes the tokenizer a pure expression
    chain: a word becomes its space-joined characters and every rule is one
    string replace, so the whole tokenizer runs inside whole-stage codegen
    (and is reproducible in any engine with replace() — q123's oracle). For
    a priority-loop tokenizer swap in an Arrow kernel (the multimodal
    escalation path); corpora tokenized for *statistics* — vocab coverage,
    length budgeting, mixing weights — are insensitive to the variant
    difference, which only reorders merges inside a word.

    Same-pair rules (``a == b``: ll, ee, oo …) are REJECTED: on runs of 5+
    identical tokens a replace chain cannot reproduce leftmost-greedy
    pairing (the skipped occurrence shares a token, not just the sentinel
    space, with a prior match — no fixed pass count recovers it). A merge
    table carrying them needs the Arrow-kernel tokenizer.

    Returns array<string> of subword tokens for the whole text.
    """
    for a, b in merges:
        if a == b:
            raise ValueError(
                f"bpe_tokens: same-pair merge rule ({a!r}, {b!r}) is not "
                "expressible as a replace chain — use the Arrow-kernel "
                "tokenizer for tables with double-letter merges"
            )

    def merge_word(w: Column) -> Column:
        # "word" -> "w o r d", then each rule rewrites " a b " -> " ab "
        # (sentinel spaces keep matches token-aligned; replace() is
        # leftmost non-overlapping in both Spark and the oracle engine)
        out = F.concat(F.lit(" "), F.regexp_replace(w, "(.)", "$1 "))
        for a, b in merges:
            out = F.replace(out, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
            # a second pass catches the alternating-occurrence chains the
            # non-overlapping scan skips (" t h t h ": pass 1 merges the
            # 1st and 3rd occurrences, pass 2 the survivor between them —
            # with a != b, overlaps are only ever the shared sentinel
            # space, so two passes close every chain)
            out = F.replace(out, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        return F.filter(F.split(F.trim(out), " "), lambda t: t != "")

    return F.flatten(F.transform(tokens(text), merge_word))


# Same-pair rules appended to the default table: exactly the class the
# replace-chain rejects (q123), exercised by the priority-loop kernel (q155).
# ONE shared literal for engine and oracle — extend here only.
PRIORITY_BPE_MERGES: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES + (
    ("l", "l"), ("e", "e"), ("o", "o"), ("ll", "l"),
)


def bpe_tokens_priority(text: Column, merges=DEFAULT_BPE_MERGES) -> Column:
    """BPE tokens under the PRIORITY-loop semantics, as an Arrow-batched
    kernel — the escalation path for merge tables :func:`bpe_tokens`'s
    replace chain cannot express (same-pair rules: ll, ee, oo …).

    Semantics (pinned, mirrored by the q155 oracle's recursive CTE): per
    whitespace word, repeatedly find the LOWEST-ranked adjacent token pair
    present and merge its LEFTMOST occurrence, until no pair is in the
    table. One merge per step makes the loop expressible as a recursive
    SQL CTE; for training-ordered tables (each rule's elements single chars
    or products of earlier rules) it agrees with the sequential replace
    chain — parity-tested in tests/test_functions_kernel.py.

    Cost is Python-per-DISTINCT-word: callers should dedup words first
    (q155 does: explode → groupBy word → kernel on the vocabulary — corpus
    scale never reaches Python); a per-batch memo catches the rest.
    """
    import re  # noqa: PLC0415

    ranks = {pair: i for i, pair in enumerate(merges)}
    # Java's \s (tokens()'s split) is ASCII-only; Python str.split() breaks
    # on Unicode whitespace (NBSP!) and would silently re-split words the
    # JVM pre-tokenizer kept whole — match the JVM exactly.
    ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<string>")
    def _bpe(col: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def word_tokens(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                parts = list(w)
                while len(parts) > 1:
                    best_rank, best_i = None, -1
                    for i in range(len(parts) - 1):
                        r = ranks.get((parts[i], parts[i + 1]))
                        if r is not None and (best_rank is None or r < best_rank):
                            best_rank, best_i = r, i
                    if best_rank is None:
                        break
                    parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
                memo[w] = got = parts
            return got

        return col.map(
            lambda t: [tok for w in ascii_ws.split(t) if w for tok in word_tokens(w)]
            if t
            else []
        )

    return _bpe(text)


def bigram_logprob_scores(
    df, text_col: str = "text", id_col: str = "doc_id", group_col: str | None = None
):
    """Corpus-trained bigram language-model score per document — the
    CCNet/KenLM-shaped perplexity filter with the n-gram model trained on
    the corpus itself: P(b|a) = (c(a,b) + 1) / (c_left(a) + V) (add-one
    smoothing; c_left counts `a` as a bigram left-hand side, V = distinct
    token vocabulary), score = mean ln P over the document's bigrams.
    Documents with fewer than two tokens are excluded.

    ``group_col`` trains ONE INDEPENDENT model per group value (CCNet trains
    one KenLM per language, Wenzek et al. 2019 §3.3): every count table and
    the vocabulary size are keyed by the group, and the output carries the
    group column. The default (None) keeps the single corpus-global model.
    **The group column must be non-NULL**: the model joins are group-keyed
    equi-joins, so rows whose group value is NULL silently vanish from the
    output — coalesce NULLs to a sentinel group first (q167 passes
    ``lang_pred``, which defaults to ``'und'``; ``doremi_weights`` shows the
    sentinel-coalesce pattern for an arbitrary domain column).

    Determinism across engines: each ln is cast to DECIMAL(20,12) before
    the per-document sum, so the mean is an exact decimal total divided
    once — float summation order never reaches the rounded output, and a
    1-ulp ln() difference between libm implementations dies at the 1e-12
    grid.

    Scale shape: two count aggregates (bigram and left-unigram, both
    map-side combinable, cardinality <= vocab²) joined back to the bigram
    stream on their keys, plus one broadcast scalar (V). No driver state;
    the model IS the count tables.
    """
    g = [group_col] if group_col else []
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(id_col, *g, toks.alias("_t")).filter(F.size("_t") >= 2)
    pairs = base.select(
        id_col,
        *g,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.struct(
                    F.element_at("_t", i).alias("a"),
                    F.element_at("_t", i + 1).alias("b"),
                ),
            )
        ).alias("p"),
    ).select(id_col, *g, "p.a", "p.b")
    c2 = pairs.groupBy(*g, "a", "b").agg(F.count(F.lit(1)).alias("n2"))
    c1 = pairs.groupBy(*g, "a").agg(F.count(F.lit(1)).alias("n1"))
    vocab = (
        df.select(*g, F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy(*g)
        .agg(F.countDistinct("w").alias("v"))
    )
    lp = F.log(
        (F.col("n2") + 1).cast("double") / (F.col("n1") + F.col("v"))
    ).cast("decimal(20,12)")
    scored = pairs.join(c2, [*g, "a", "b"]).join(c1, [*g, "a"])
    if group_col:
        # per-group V: a broadcast join on the group key (|groups| rows)
        scored = scored.join(F.broadcast(vocab), g)
    else:
        scored = scored.crossJoin(F.broadcast(vocab))
    scored = scored.select(id_col, *g, lp.alias("_lp"))
    return scored.groupBy(id_col, *g).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("_lp").cast("double") / F.count(F.lit(1)), 4).alias("avg_logprob"),
    )
