"""Property tests for the dedup and data-selection kernels (CCNet paragraph
dedup and perplexity buckets, DoReMi-lite weights, any-length maximal
repeats, the block-capped embedding near-dup kernel), checked against
independent driver-side brute-force reimplementations or the uncapped kernel
over hypothesis-generated inputs — the test_properties.py discipline."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from srm_etl_spark.operators.dedup import maximal_repeat_spans
from srm_etl_spark.operators.doremi import doremi_weights
from srm_etl_spark.pipelines.ccnet import paragraph_dedup, perplexity_buckets

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tiny alphabet so hypothesis actually produces cross-document duplicate
# windows instead of unique-everything corpora
_tok = st.sampled_from(["a", "b", "c"])
_doc = st.lists(_tok, min_size=0, max_size=12)
_para_corpus = st.lists(_doc, min_size=1, max_size=6)

_CHUNK = 4


def _ref_paragraph_dedup(token_lists, chunk=_CHUNK):
    occ = []  # (doc_id, pos, chunk_text)
    for did, toks in enumerate(token_lists):
        for i in range((len(toks) + chunk - 1) // chunk):
            occ.append((did, i, " ".join(toks[i * chunk : (i + 1) * chunk])))
    first = {}
    for did, pos, ch in sorted(occ):
        first.setdefault(ch, (did, pos))
    out = {}
    for did, toks in enumerate(token_lists):
        rows = [(i, ch) for d, i, ch in occ if d == did]
        kept = [ch for i, ch in rows if first[ch] == (did, i)]
        if kept:
            out[did] = (len(rows), len(kept), " ".join(kept))
    return out


@given(corpus=_para_corpus)
@settings(**_SETTINGS)
def test_paragraph_dedup_matches_bruteforce(spark, corpus):
    docs = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_text"])
        for r in paragraph_dedup(docs, chunk=_CHUNK).collect()
    }
    assert got == _ref_paragraph_dedup(corpus)


_scores = st.lists(
    st.tuples(
        st.sampled_from(["x", "y"]),
        st.integers(min_value=-50, max_value=0).map(lambda v: v / 10.0),
    ),
    min_size=1,
    max_size=20,
)


def _ref_buckets(rows):
    out = {}
    for lang, score in set(rows):
        lang_scores = [s for lg, s in rows if lg == lang]
        n = len(lang_scores)
        c_gt = sum(1 for s in lang_scores if s > score)
        if c_gt < (n + 2) // 3:
            out[(lang, score)] = "head"
        elif c_gt < (2 * n + 2) // 3:
            out[(lang, score)] = "middle"
        else:
            out[(lang, score)] = "tail"
    return out


@given(rows=_scores)
@settings(**_SETTINGS)
def test_perplexity_buckets_match_bruteforce(spark, rows):
    scored = spark.createDataFrame(
        [(lang, i, s) for i, (lang, s) in enumerate(rows)],
        "lang_pred string, doc_id long, avg_logprob double",
    )
    got = {
        (r["lang_pred"], r["avg_logprob"]): r["bucket"]
        for r in perplexity_buckets(scored).collect()
    }
    want = _ref_buckets(rows)
    assert got == want
    # every scored row survives the threshold join-back
    assert perplexity_buckets(scored).count() == len(rows)


_dom_corpus = st.lists(
    st.tuples(st.sampled_from(["s1", "s2", "s3"]), st.lists(_tok, min_size=2, max_size=8)),
    min_size=1,
    max_size=8,
)


def _ref_doremi(rows):
    def lm_scores(docs, keyed):
        # docs: list[(doc_id, domain, toks)]; keyed: include domain in counts
        c2, c1, vocab = {}, {}, {}
        for _, dom, toks in docs:
            g = dom if keyed else None
            vocab.setdefault(g, set()).update(toks)
            for a, b in zip(toks, toks[1:]):
                c2[(g, a, b)] = c2.get((g, a, b), 0) + 1
                c1[(g, a)] = c1.get((g, a), 0) + 1
        out = {}
        for did, dom, toks in docs:
            g = dom if keyed else None
            lps = [
                math.log((c2[(g, a, b)] + 1) / (c1[(g, a)] + len(vocab[g])))
                for a, b in zip(toks, toks[1:])
            ]
            out[did] = round(sum(round(x, 12) for x in lps) / len(lps), 4)
        return out

    docs = [(i, dom, toks) for i, (dom, toks) in enumerate(rows)]
    ref = lm_scores(docs, keyed=False)
    dom = lm_scores(docs, keyed=True)
    per = {}
    for did, d, _ in docs:
        per.setdefault(d, []).append((ref[did], dom[did]))
    out = {}
    for d, vals in per.items():
        loss_ref = round(-sum(r for r, _ in vals) / len(vals), 6)
        loss_dom = round(-sum(m for _, m in vals) / len(vals), 6)
        out[d] = (len(vals), loss_ref, loss_dom, round(max(loss_ref - loss_dom, 0.0), 6))
    zs = {d: math.exp(v[3]) for d, v in out.items()}
    tot = sum(zs.values())
    return {d: (*v, zs[d] / tot) for d, v in out.items()}


@given(rows=_dom_corpus)
@settings(**_SETTINGS)
def test_doremi_matches_bruteforce(spark, rows):
    docs = spark.createDataFrame(
        [(i, " ".join(toks), dom) for i, (dom, toks) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in doremi_weights(docs).collect()}
    want = _ref_doremi(rows)
    assert set(got) == set(want)
    for d, (n, loss_ref, loss_dom, excess, weight) in want.items():
        assert got[d]["n_docs"] == n
        assert abs(got[d]["loss_ref"] - loss_ref) <= 2e-4
        assert abs(got[d]["loss_dom"] - loss_dom) <= 2e-4
        assert abs(got[d]["excess"] - excess) <= 3e-4
        assert abs(got[d]["weight"] - weight) <= 5e-4
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) <= 1e-5


# longer documents so any-length repeats reach past the window threshold
_repeat_corpus = st.lists(st.lists(_tok, min_size=0, max_size=14), min_size=1, max_size=6)

_L = 3  # window threshold for the property runs


def _ref_maximal_repeats(token_lists, L=_L):
    """Brute force: every substring occurrence of every length >= L, counted
    corpus-wide; per position the max duplicated length; spans = maximal
    runs of marked window starts."""
    occ_count: dict[tuple, int] = {}
    for toks in token_lists:
        n = len(toks)
        for s in range(n):
            for e in range(s + L, n + 1):
                occ_count[tuple(toks[s:e])] = occ_count.get(tuple(toks[s:e]), 0) + 1
    out = {}
    for did, toks in enumerate(token_lists):
        n = len(toks)
        duplen = {}
        for s in range(n - L + 1):
            best = 0
            for e in range(s + L, n + 1):
                if occ_count[tuple(toks[s:e])] >= 2:
                    best = e - s
            if best:
                duplen[s + 1] = best  # 1-based start
        # runs of consecutive marked starts
        starts = sorted(duplen)
        runs, cur = [], []
        for s in starts:
            if cur and s == cur[-1] + 1:
                cur.append(s)
            else:
                if cur:
                    runs.append(cur)
                cur = [s]
        if cur:
            runs.append(cur)
        for run in runs:
            out[(did, run[0])] = (
                run[-1] + L - 1,            # span_end
                len(run),                    # n_windows
                max(duplen[s] for s in run),  # max_repeat_tokens
            )
    return out


@settings(**_SETTINGS)
@given(_repeat_corpus)
def test_maximal_repeats_match_bruteforce(spark, corpus):
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start): (r.span_end, r.n_windows, r.max_repeat_tokens)
        for r in maximal_repeat_spans(df, "text", "doc_id", min_tokens=_L).collect()
    }
    assert got == _ref_maximal_repeats(corpus)


_vec = st.lists(
    st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(**_SETTINGS)
@given(st.lists(_vec, min_size=2, max_size=20), st.integers(min_value=1, max_value=4))
def test_embedding_block_cap_invariant(spark, vecs, cap):
    # capped kernel == uncapped kernel for EVERY corpus and EVERY cap,
    # including caps of 1 (every row its own sub-block)
    from srm_etl_spark.operators.dedup import embedding_near_dup_pairs_arrow as kern

    df = spark.createDataFrame(
        [(i, i % 2, v) for i, v in enumerate(vecs)],
        "vec_id long, label int, embedding array<double>",
    )
    plain = {
        (r.left_id, r.right_id)
        for r in kern(df, "embedding", "vec_id", threshold=0.3, block_col="label").collect()
    }
    capped = {
        (r.left_id, r.right_id)
        for r in kern(
            df, "embedding", "vec_id", threshold=0.3, block_col="label",
            max_block_size=cap,
        ).collect()
    }
    assert plain == capped
