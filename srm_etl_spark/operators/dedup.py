"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Generalizes the reference's bespoke dedup passes (``merge_duplicate_branches``
at ``operators/derive/to_dp.py:237-286``, the composite-key seen-set at
``:580-586``, the pandas groupby-dedup in ``operators/meser/__init__.py:116-131``)
into the scale-path operators an LLM-data pipeline needs.

Scale design notes (the part that matters at 100 TB):
- every operator is groupBy/join-shaped — partitioned by content key, no
  driver state, no collect;
- MinHash/LSH: candidate generation is an equi-join on (band, band_hash)
  buckets, so the shuffle is proportional to the number of (doc, band) pairs,
  not |docs|^2;
- SimHash: bucket on table prefixes of the fingerprint (block key) before
  comparing hamming distance within buckets;
- all pairwise comparisons happen only within blocks/buckets.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.text import normalized_text, tokens, word_shingles
from ..sources.tables import local_table
from .session_cache import keep_persisted


# --- exact ------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", keep: str = "min"
) -> DataFrame:
    """Hash-groupBy exact dedup on normalized text.

    Keeps the row with the min (or max) id per content hash and annotates it
    with ``dup_count``. Deterministic — unlike ``dropDuplicates`` — so results
    are stable across cluster sizes and retries.
    """
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    hashed = df.withColumn("_content_hash", F.sha1(normalized_text(F.col(text_col))))
    w = Window.partitionBy("_content_hash")
    ranked = hashed.withColumn("_rn", F.row_number().over(w.orderBy(order))).withColumn(
        "dup_count", F.count("*").over(w)
    )
    return ranked.filter(F.col("_rn") == 1).drop("_rn", "_content_hash")


# --- MinHash + LSH ----------------------------------------------------------

def shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, _sh) — each document's distinct k-word shingles, one shingling
    pass per row.

    ``hash_family='xxhash64'`` (default, the production path) projects each
    shingle to an xxhash64 long: 8-byte longs instead of ~30-char strings cut
    shuffle width and make array_intersect/union cheap.
    ``hash_family='md5'`` keeps the raw shingle strings — every downstream
    hash in this family is md5-hex, which an external SQL engine (DuckDB)
    computes identically, so the whole MinHash pipeline becomes
    oracle-checkable end-to-end. Same code path, same shapes; only the hash
    primitive differs.

    Documents with no tokens are dropped (they have no shingles to compare —
    exact dedup handles empty content).

    Kept as its own projection: ``_sh`` is non-cheap, so CollapseProject will
    NOT inline it into the (many) signature expressions that reference it —
    the shingling runs once per row, not once per hash slot.
    """
    sh = word_shingles(F.col(text_col), shingle_k)
    # Token-less docs are dropped via a CHEAP text-level predicate: a filter
    # on size(_sh) > 0 gets pushed below the projection and re-evaluates the
    # whole shingle expression a second time per row.
    nonempty = df.filter(normalized_text(F.col(text_col)) != "")
    proj = sh if hash_family == "md5" else F.transform(sh, lambda s: F.xxhash64(s))
    return nonempty.select(id_col, proj.alias("_sh"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature over k-word shingles, as columns mh_0..n.

    Hash function #i is ``xxhash64(shingle_hash, i)`` — mixing the index into
    the hash input gives independent orderings per slot (an affine a*h+b
    family with small coefficients would be order-preserving, collapsing every
    slot to the same min-shingle) and avoids ANSI-mode overflow.

    Fully per-row (array_min over a transform of the shared ``_sh`` array):
    no explode, no shuffle, no aggregation — the signature is a projection,
    which is the shape that holds at 100 TB (previously an explode → groupBy
    carried |doc|×|shingles| rows into a shuffle)."""
    base = shingle_hashes(df, text_col, id_col, shingle_k, hash_family)
    return base.select(id_col, *_mh_cols(num_hashes, hash_family)).drop("_sh")


def _mh_cols(num_hashes: int, hash_family: str = "xxhash64") -> list:
    """Signature columns mh_0..n-1 over the ``_sh`` array (closure factory —
    PySpark lambdas take arity from the full Python parameter list, so
    ``lambda h, i=i:`` would break).

    md5 family: slot i is the lexicographic min of ``md5('{i}:' || shingle)``
    hex strings — MinHash needs any totally-ordered independent hash family,
    and md5-hex min-of-strings is one an external SQL oracle reproduces
    byte-for-byte."""

    def mh(i: int):
        if hash_family == "md5":
            slot = F.transform(
                F.col("_sh"), lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))
            )
        else:
            slot = F.transform(F.col("_sh"), lambda h: F.xxhash64(h, F.lit(i)))
        return F.array_min(slot).alias(f"mh_{i}")

    return [mh(i) for i in range(num_hashes)]


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    Returns distinct (left_id, right_id) with left < right. The band join is
    an equi-join on (band_index, band_hash) — shuffle-partitioned by bucket,
    never quadratic in the corpus.

    md5 family: band hash = md5 of the band's signature slots joined with
    '|' — oracle-reproducible; default is Spark's murmur ``hash(...)``.
    """
    rows_per_band = num_hashes // bands

    def band_hash(b: int):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_family == "md5":
            return F.md5(F.concat_ws("|", *cols))
        return F.hash(*cols)

    band_arrays = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_hash(b).alias("band_hash"))
            for b in range(bands)
        ]
    )
    banded = signatures.select(id_col, F.explode(band_arrays).alias("bb")).select(
        id_col, "bb.band", "bb.band_hash"
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(F.col(f"l.{id_col}").alias("left_id"), F.col(f"r.{id_col}").alias("right_id"))
        .distinct()
    )
    return pairs


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    shingle_k: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact-Jaccard
    verify on shingle sets -> survivors (min id per duplicate pair removed).

    Returns the deduplicated corpus (rows of `df` whose id is NOT dominated by
    a smaller-id near-duplicate).

    The (id, shingle-hash array, signature) frame is computed ONCE and
    persisted (memory-and-disk): it feeds both sides of the LSH band
    self-join AND both sides of the verify join — without the persist each
    consumer would re-run the regex shingling over the corpus (4× the scan;
    at 100 TB the persist is the difference between one pass and four).
    Jaccard verification runs on the 8-byte hash arrays, not string shingles
    (collision probability ~2^-64 — immaterial next to MinHash's own error).
    """
    base = shingle_hashes(df, text_col, id_col, shingle_k, hash_family).select(
        id_col, "_sh", *_mh_cols(num_hashes, hash_family)
    )
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_lsh_candidates(base, id_col, num_hashes, bands, hash_family)
    shingled = base.select(id_col, "_sh")
    verified = (
        cands.join(
            shingled.withColumnRenamed(id_col, "left_id").withColumnRenamed("_sh", "sh_l"),
            "left_id",
        )
        .join(
            shingled.withColumnRenamed(id_col, "right_id").withColumnRenamed("_sh", "sh_r"),
            "right_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_l", "sh_r"))
            / F.size(F.array_union("sh_l", "sh_r")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    losers = verified.select(F.col("right_id").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --- SimHash ----------------------------------------------------------------

def _token_hashes(
    df: DataFrame, text_col: str, id_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """(id, _th: array<long>) — 64-bit hash of every token occurrence, JVM-side.

    The string work (normalize, split, hash) stays in native expressions;
    only the numeric bit-fold leaves the JVM (as 8-byte longs over Arrow).

    md5 family: the first 15 hex chars of md5(token) parsed as a 60-bit long
    (bits 60-63 are zero, so those fingerprint bits always vote negative) —
    an external SQL oracle computes the identical value via
    ``CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)``."""
    toks = tokens(normalized_text(F.col(text_col)))
    if hash_family == "md5":
        th = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        th = F.transform(toks, lambda t: F.xxhash64(t))
    return df.select(id_col, th.alias("_th"))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprints: JVM tokenize+hash, Arrow-batched bit-fold.

    Each token occurrence votes its xxhash64 bits; fingerprint bit b is 1 when
    the vote sum is positive. Tokenization and hashing are native expressions;
    the tokens×bits vote fold runs as a vectorized pandas UDF (one numpy
    bit-matrix per document) — the fold is pure integer math on longs, exactly
    the shape where Arrow batching beats interpreted Catalyst HOF evaluation
    by ~10× (measured; a native aggregate×zip_with fold costs tokens×bits
    interpreted expression evals per row). Bit semantics match the SQL fold
    ``(shiftright(h, b) & 1)`` exactly — :func:`simhash_native` is the
    expression-only twin kept for parity tests and UDF-less deployments.

    Token-less documents get fingerprint 0.
    """
    @F.pandas_udf("long")
    def _fold(th: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415

        bit_idx = np.arange(bits, dtype=np.uint64)
        weights = (np.uint64(1) << bit_idx).astype(np.int64)  # two's-complement bit 63
        out = np.zeros(len(th), dtype=np.int64)
        for i, arr in enumerate(th):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            ones = ((h[:, None] >> bit_idx) & np.uint64(1)).sum(axis=0, dtype=np.int64)
            votes = 2 * ones - len(h)
            out[i] = weights[votes > 0].sum()  # distinct powers of two: no overflow
        return pd.Series(out)

    return _token_hashes(df, text_col, id_col, hash_family).select(
        id_col, _fold(F.col("_th")).alias("simhash")
    )


def simhash_native(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Expression-only SimHash (no UDF) — same fingerprints as :func:`simhash`.

    A single per-row higher-order expression: token hashes fold into a
    `bits`-wide vote array (aggregate × zip_with), votes fold into the long.
    O(1) expression-tree size in `bits` (SQL-lambda shift amounts CAN be
    lambda variables; only the PySpark ``F.shiftright`` wrapper demands a
    literal). Slower than the Arrow fold (interpreted HOF eval), kept for
    parity testing and environments where Python workers are unavailable.
    """
    fp = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              _th,
              array_repeat(0, {bits}),
              (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                            (a, b) -> a + (CASE WHEN (shiftright(h, b) & 1) = 1
                                           THEN 1 ELSE -1 END))),
            sequence(0, {bits - 1}),
            (v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, b) ELSE 0L END),
          0L, (a, x) -> a | x)
        """
    )
    return _token_hashes(df, text_col, id_col, hash_family).select(
        id_col, fp.alias("simhash")
    )


def simhash_near_dup_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Candidate pairs with hamming distance <= max_hamming.

    Pigeonhole blocking: split the 64-bit fingerprint into `blocks` segments;
    any pair within distance `max_hamming < blocks` must agree on >= 1 segment,
    so the join is an equi-join on (segment_index, segment_value) — linear
    shuffle, no cross join.

    The fingerprint frame is persisted here: both sides of the self-join would
    otherwise recompute the upstream fingerprint pipeline (tokenize + hash +
    fold over the whole corpus, twice). The frame is tiny — id + one long.
    """
    fingerprints = fingerprints.persist(StorageLevel.MEMORY_AND_DISK)
    seg_bits = 64 // blocks
    mask = (1 << seg_bits) - 1
    segs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col("simhash"), i * seg_bits).bitwiseAND(F.lit(mask)).alias("seg_val"),
            )
            for i in range(blocks)
        ]
    )
    blocked = fingerprints.select(id_col, "simhash", F.explode(segs).alias("s")).select(
        id_col, "simhash", "s.seg", "s.seg_val"
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.seg") == F.col("r.seg"),
                F.col("l.seg_val") == F.col("r.seg_val"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("left_id"),
            F.col(f"r.{id_col}").alias("right_id"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# --- n-gram Jaccard ---------------------------------------------------------

def jaccard_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
    strategy: str = "auto",
    bitmap_max_vocab: int = 4096,
    allow_unblocked: bool = False,
) -> DataFrame:
    """Token-set Jaccard similarity pairs within blocks. Exact — both physical
    strategies produce the identical pair set; ``strategy`` only picks the
    plan:

    - ``"index"`` — inverted-index set-similarity join: explode distinct
      tokens, self-join on (block, token), count shared tokens per pair, then
      ``jaccard = shared / (|A| + |B| - shared)``. The shuffle is keyed by
      token (partition-parallel) and pairs sharing zero tokens never
      materialize. This is the shape that holds for open-vocabulary corpora,
      BUT its candidate volume is Σ_token n_token² — a token present in most
      docs of a block contributes O(block²) join rows by itself.
    - ``"bitmap"`` — when the (normalized) vocabulary is small, each doc's
      token set packs into a fixed-width bitmap of 64-bit words; the pair scan
      becomes a block-wise self-join where shared-token counting is
      ``bit_count(l & r)`` per word — no token-keyed shuffle at all, and the
      per-pair cost is vocab/64 machine words. Dense-overlap data (exactly
      the case that blows up the inverted index) costs O(block² · vocab/64)
      with tiny constants. The quadratic term is bounded by ``block_cols``,
      same as every blocked pairwise comparison in this module.
    - ``"auto"`` — one driver-side vocabulary probe picks bitmap iff the
      vocabulary fits ``bitmap_max_vocab`` (≤ 64 words per doc).

    With ``threshold > 0`` the zero-overlap pairs a naive pairwise
    formulation would score 0.0 are (identically) absent from both paths.

    The quadratic contract is MECHANICAL, not documentation: with no
    ``block_cols`` the bitmap path degenerates to within-corpus all-pairs
    (``l.id < r.id`` only), so unblocked calls raise unless the caller
    explicitly opts in with ``allow_unblocked=True`` (reserved for corpora
    known to be driver-small, e.g. a per-cluster kernel that already bounded
    the group).
    """
    blocks = list(block_cols or [])
    if not blocks and not allow_unblocked:
        raise ValueError(
            "jaccard_near_dup_pairs with no block_cols is an unbounded "
            "all-pairs comparison; pass block_cols (preferred) or "
            "allow_unblocked=True for corpora known to be small"
        )
    toks = df.select(
        id_col,
        *blocks,
        F.explode(
            F.array_distinct(
                F.filter(F.split(normalized_text(F.col(text_col)), " "), lambda t: t != "")
            )
        ).alias("_tok"),
    )
    if strategy == "auto":
        # capped distinct-count probe: one small job on the token projection
        probe = toks.select("_tok").distinct().limit(bitmap_max_vocab + 1).count()
        strategy = "bitmap" if probe <= bitmap_max_vocab else "index"
    if strategy == "bitmap":
        return _jaccard_pairs_bitmap(toks, id_col, blocks, threshold)
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    left, right = toks.alias("l"), toks.alias("r")
    conds = [F.col("l._tok") == F.col("r._tok"), F.col(f"l.{id_col}") < F.col(f"r.{id_col}")]
    for b in blocks:
        conds.append(F.col(f"l.{b}").eqNullSafe(F.col(f"r.{b}")))
    shared = (
        left.join(right, on=conds)
        .groupBy(
            F.col(f"l.{id_col}").alias("left_id"), F.col(f"r.{id_col}").alias("right_id")
        )
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    pairs = (
        shared.join(sizes.withColumnRenamed(id_col, "left_id").withColumnRenamed("_n", "_nl"), "left_id")
        .join(sizes.withColumnRenamed(id_col, "right_id").withColumnRenamed("_n", "_nr"), "right_id")
        .select(
            "left_id",
            "right_id",
            (F.col("_shared") / (F.col("_nl") + F.col("_nr") - F.col("_shared"))).alias("jaccard"),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold)




def _jaccard_pairs_bitmap(
    toks: DataFrame, id_col: str, blocks: list[str], threshold: float
) -> DataFrame:
    """Bitmap path of :func:`jaccard_near_dup_pairs`: token sets as packed
    64-bit words, shared counts via ``bit_count`` — see the caller's docstring.

    The vocabulary table is tiny by construction (the caller only routes here
    under ``bitmap_max_vocab``), so the global ``row_number`` that assigns
    dense token ids and the dimension-side broadcast are both single-partition
    no-ops at any corpus size.
    """
    import math  # noqa: PLC0415

    vocab = toks.select("_tok").distinct()
    n_vocab = vocab.count()
    if n_vocab == 0:
        # empty frame's pair-id type must inherit id_col's type (string doc
        # ids etc.) so both strategies keep an identical schema contract
        id_type = toks.schema[id_col].dataType
        empty_schema = StructType(
            [
                StructField("left_id", id_type),
                StructField("right_id", id_type),
                StructField("jaccard", DoubleType()),
            ]
        )
        return local_table(toks.sparkSession, [], empty_schema)
    n_words = max(1, math.ceil(n_vocab / 64))
    vid = vocab.withColumn("_vid", F.row_number().over(Window.orderBy("_tok")) - 1)
    # one plain LONG column per 64-vocab word — the hot per-pair expression
    # below stays inside whole-stage codegen (an array-typed mask would drop
    # every pair into interpreted higher-order lambdas)
    word_cols = [
        F.expr(
            f"aggregate(filter(_vids, v -> v div 64 = {w}), 0L, "
            "(acc, v) -> acc | shiftleft(1L, CAST(v % 64 AS INT)))"
        ).alias(f"_m{w}")
        for w in range(n_words)
    ]
    # persist the packed representation: it feeds BOTH sides of the
    # self-join, and without it each side re-runs tokenize+pack over the
    # corpus (2 extra full passes). The cached table is the COMPRESSED form —
    # n_words longs + size per doc, not the text. The returned pair frame is
    # lazy, so the cache must outlive this call (unpersisting here would
    # evict before the join runs); the session slot bounds accumulation to
    # one packed table per session (see operators/session_cache.py).
    docs = keep_persisted(
        toks.join(F.broadcast(vid), "_tok")
        .groupBy(id_col, *blocks)
        .agg(F.collect_set("_vid").alias("_vids"))
        .select(id_col, *blocks, *word_cols, F.size("_vids").alias("_n")),
        "jaccard_bitmap_docs",
    )
    left, right = docs.alias("l"), docs.alias("r")
    conds = [F.col(f"l.{id_col}") < F.col(f"r.{id_col}")]
    for b in blocks:
        conds.append(F.col(f"l.{b}").eqNullSafe(F.col(f"r.{b}")))
    shared = F.expr(
        " + ".join(f"bit_count(l._m{w} & r._m{w})" for w in range(n_words))
    )
    pairs = left.join(right, on=conds).select(
        F.col(f"l.{id_col}").alias("left_id"),
        F.col(f"r.{id_col}").alias("right_id"),
        shared.alias("_shared"),
        F.col("l._n").alias("_nl"),
        F.col("r._n").alias("_nr"),
    )
    return (
        pairs.withColumn(
            "jaccard", F.col("_shared") / (F.col("_nl") + F.col("_nr") - F.col("_shared"))
        )
        .filter((F.col("_shared") > 0) & (F.col("jaccard") >= threshold))
        .select("left_id", "right_id", "jaccard")
    )


# --- embedding near-dup -----------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_expr=None,
) -> DataFrame:
    """Cosine-similarity near-duplicate pairs over an embedding column.

    `block_expr(df) -> Column` optionally assigns a coarse bucket (e.g. an LSH
    sign-bit prefix) so the self-join is per-bucket. Without it this is the
    exact O(n^2/block) baseline for tests.
    """
    from .similarity import cosine_similarity  # noqa: PLC0415

    # Block expression is evaluated against the FULL input row (it may
    # reference columns outside id/vec, e.g. a label or an LSH bucket of
    # another column) — prune to (id, vec, block) only afterwards.
    if block_expr is not None:
        base = df.withColumn("_blk", block_expr).select(id_col, vec_col, "_blk")
    else:
        base = df.select(id_col, vec_col)
    l, r = base.alias("l"), base.alias("r")
    conds = [F.col(f"l.{id_col}") < F.col(f"r.{id_col}")]
    if block_expr is not None:
        conds.append(F.col("l._blk") == F.col("r._blk"))
    pairs = l.join(r, on=conds).select(
        F.col(f"l.{id_col}").alias("left_id"),
        F.col(f"r.{id_col}").alias("right_id"),
        cosine_similarity(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def embedding_near_dup_pairs_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
    chunk_rows: int = 1024,
    max_block_size: int | str | None = None,
) -> DataFrame:
    """BLAS-backed twin of :func:`embedding_near_dup_pairs`: per-block cosine
    matrix via ``applyInPandas`` + numpy matmul, emitting only pairs at or
    above ``threshold``.

    Same pair set and float64 cosine semantics as the expression variant (the
    per-vector normalize + dot decomposition is algebraically identical;
    parity-tested), ~2 orders of magnitude faster: per-pair work drops from an
    interpreted higher-order expression walk to one fused BLAS row. This is
    the engine's standard escalation — built-in expressions until the hot loop
    is dense numeric, then one Arrow-batched kernel.

    Scale notes: the shuffle is one hash-partition by block (identical to the
    grouped formulation the expression variant joins through); within a block
    peak task memory is the O(block × dim) base/unit float64 matrices (plus
    the Arrow batch itself) and an O(chunk_rows × block) similarity strip —
    the striping caps the *pairwise* term at O(chunk_rows × block) instead of
    O(block²), but the block matrices are resident regardless, so block-size
    budgets must be set against O(block × dim + chunk_rows × block). Blocks
    are expected to be bounded (an LSH bucket / IVF cell — q30/q61's
    machinery); a skewed block bounds the longest task exactly as it bounds
    the blocked join.

    ``max_block_size`` bounds PER-TASK matrix size when blocks can outgrow
    the memory budget (at corpus scale a hot cluster / bucket concentrates):
    every block of size B > cap is salt-split into S = ceil(B / cap)
    deterministic sub-blocks by id hash, and each unordered sub-block pair
    (i, j) meets in its own task — a row of sub-block s replicates to the S
    groups (min(s,t), max(s,t)) for t in 0..S-1; within a mixed group only
    cross-sub-block pairs are emitted, so every pair is produced EXACTLY
    once. Per-row normalization is grouping-independent, but the dot
    products run through dgemm whose summation tree follows the (sub-)matrix
    shapes — split and unsplit cosines can differ in the last ULPs, so the
    emitted pair SET is identical except for pairs sitting within ~1 ulp of
    ``threshold`` (downstream consumers key on ids, never on the raw
    cosine). Peak task memory drops from
    O(B·dim) to O(2·cap·dim); total work is unchanged (the cap bounds
    stragglers, it does not reduce B²) — the ``resolve_entities`` block-cap
    precedent applied to the BLAS kernel. The string sentinel
    ``"half-avg"`` derives the cap lazily in-plan as half the average block
    size (S >= 2 everywhere — the oracle gate shape, q171); production
    callers pass the int task-memory budget.
    """
    import numpy as np  # noqa: PLC0415

    if max_block_size is not None and max_block_size != "half-avg" and int(max_block_size) < 1:
        raise ValueError("max_block_size must be >= 1 (or the 'half-avg' sentinel)")

    def make_score(salted: bool):
        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(id_col, kind="stable")
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            n = len(ids)
            if n < 2:
                return pd.DataFrame({"left_id": [], "right_id": [], "cosine": []})
            mixed = salted and pdf["_gi"].iat[0] != pdf["_gj"].iat[0]
            salts = pdf["_salt"].to_numpy(dtype=np.int64) if mixed else None
            norm = np.linalg.norm(mat, axis=1, keepdims=True)
            zero = norm[:, 0] == 0
            norm[zero] = 1.0
            unit = mat / norm
            out_l, out_r, out_c = [], [], []
            for lo in range(0, n, chunk_rows):
                hi = min(lo + chunk_rows, n)
                sims = unit[lo:hi] @ unit.T  # (strip, n)
                if zero.any():  # zero-norm rows: cosine defined as 0.0
                    sims[zero[lo:hi], :] = 0.0
                    sims[:, zero] = 0.0
                # upper triangle only (id_l < id_r after the sort)
                si, sj = np.nonzero(sims >= threshold)
                keep = lo + si < sj
                if mixed:
                    # same-sub-block pairs belong to the (s, s) group —
                    # emitting them here too would duplicate them
                    keep &= salts[lo + si] != salts[sj]
                si, sj = si[keep], sj[keep]
                out_l.extend(ids[lo + si].tolist())
                out_r.extend(ids[sj].tolist())
                out_c.extend(sims[si, sj].tolist())
            return pd.DataFrame({"left_id": out_l, "right_id": out_r, "cosine": out_c})

        return score

    out_schema = "left_id long, right_id long, cosine double"
    if max_block_size is None:
        group_cols = [block_col] if block_col else []
        base = df.select(id_col, vec_col, *group_cols)
        grouped = (
            base.groupBy(*group_cols)
            if group_cols
            else base.groupBy(F.lit(1).alias("_g"))
        )
        return grouped.applyInPandas(make_score(False), out_schema)

    blk = F.col(block_col) if block_col else F.lit(1)
    base = df.select(id_col, vec_col, blk.alias("_blk"))
    sizes = base.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bn"))
    if max_block_size == "half-avg":
        # lazy cap = half the AVERAGE block size, derived in-plan from the
        # sizes the kernel aggregates anyway (no driver-side count at plan
        # construction — the r13 q112 eager-count ADVICE): forces S >= 2 on
        # every average-sized block at ANY corpus scale, the oracle gate for
        # the salted sub-block pair grid. Production callers pass an int cap
        # sized to the task-memory budget instead.
        cap = sizes.agg(
            F.greatest(
                F.lit(2), F.ceil(F.avg("_bn") / 2).cast("int")
            ).alias("_cap")
        )
        sizes = sizes.crossJoin(F.broadcast(cap))
    else:
        sizes = sizes.withColumn("_cap", F.lit(int(max_block_size)))
    # the block-size side is k rows (one per block) — broadcast it
    # explicitly so the corpus stream picks up (_bn, _cap) map-side instead
    # of shuffling on _blk twice (the sizes agg shuffles k rows only; the
    # corpus shuffles once, on the kernel's own (_blk,_gi,_gj) key). Blocks
    # are bounded-count by the same budget that bounds the Lloyd sync.
    salted = (
        base.join(F.broadcast(sizes), "_blk")
        .withColumn(
            "_nsplit", F.ceil(F.col("_bn") / F.col("_cap")).cast("int")
        )
        .withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(F.col(id_col).cast("string")), F.col("_nsplit")
            ).cast("int"),
        )
    )
    rep = salted.withColumn(
        "_t", F.explode(F.sequence(F.lit(0), F.col("_nsplit") - 1))
    ).select(
        id_col,
        vec_col,
        "_blk",
        "_salt",
        F.least("_salt", "_t").alias("_gi"),
        F.greatest("_salt", "_t").alias("_gj"),
    )
    return rep.groupBy("_blk", "_gi", "_gj").applyInPandas(
        make_score(True), out_schema
    )


# --- semantic dedup (SemDeDup: cluster, then prune within clusters) ---------

def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 2,
    threshold: float = 0.95,
    chunk_rows: int = 1024,
    max_block_size: int | str | None = None,
    train_filter=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the embedding
    corpus, then drop semantic duplicates *within* each cluster — a row is a
    duplicate when some smaller-id row in its cluster sits at cosine >=
    ``threshold`` (the same greedy min-id keeper rule as
    :func:`minhash_dedup`, so the survivor set is deterministic and
    engine-reproducible).

    Output: every input row as (id_col, cluster, kept) — callers filter
    ``kept`` for the surviving corpus; the flag form keeps the removal
    auditable (q112's oracle pins it).

    Scale shape: the clustering bounds the quadratic. The only pairwise work
    is the per-cluster BLAS kernel (:func:`embedding_near_dup_pairs_arrow`),
    O(cluster²·dim) per task instead of O(n²) — on a 100 TB corpus ``k``
    grows with the data (the paper uses ~100k clusters for LAION-scale) so
    cluster size, and with it task memory and runtime, stays bounded. The
    k-means trainer: Lloyd syncs over ``train_filter``'s sample when given
    (the FAISS quantizer-training posture — the full corpus pays exactly one
    assignment pass), and the assignment itself is the exact coarse-then-fine
    pruned kernel past 64 centroids (O(n·√k) typical instead of the flat n·k
    that goes ~n² when k tracks corpus size — the r13 probe's one
    super-linear leg; operators/similarity.py:assign_clusters).
    """
    from .similarity import kmeans  # noqa: PLC0415

    assigned = keep_persisted(  # feeds the pair kernel AND the final join
        kmeans(df, vec_col, id_col, k=k, iterations=iterations, train_filter=train_filter),
        "semantic_dedup_assigned",
    )
    pairs = embedding_near_dup_pairs_arrow(
        assigned, vec_col, id_col,
        threshold=threshold, block_col="cluster", chunk_rows=chunk_rows,
        max_block_size=max_block_size,
    )
    losers = pairs.select(F.col("right_id").alias(id_col)).distinct()
    return (
        assigned.join(losers.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )


# --- exact substring spans (fixed-window suffix-dedup approximation) --------

def duplicate_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Exact duplicated-substring detection: the fixed-length sliding-window
    approximation of suffix-array dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022 — their 50-BPE-token threshold,
    adapted to whitespace tokens).

    Every ``min_tokens``-token window of every document is hashed; window
    keys occurring >= 2 times ANYWHERE in the corpus (across documents or
    repeated inside one) mark their start positions, and marked positions
    coalesce into maximal duplicated spans per document (two windows merge
    when their intervals overlap or touch, i.e. start gap <= min_tokens).

    Output: (id_col, span_start, span_end, span_tokens, n_windows) — 1-based
    inclusive token coordinates, one row per maximal span.

    Scale shape: |tokens| window rows, shuffled ONCE keyed by the 64-bit
    window hash; the occurrence count is a map-side-combinable aggregate, the
    mark-back is an equi-join on the same key (AQE turns it into a broadcast
    when few keys are duplicated), and span coalescing is a per-document
    window over only the marked rows. Nothing is quadratic; no suffix array
    materializes. ``hash_family='md5'`` keys windows by md5 hex (oracle-
    reproducible); default xxhash64 longs halve the shuffle width.
    """
    toks = tokens(F.col(text_col))
    base = (
        df.select(F.col(id_col), toks.alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= min_tokens)
    )
    wins = base.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.col("_n") - (min_tokens - 1))).alias("s"),
        "_t",
    ).select(
        id_col,
        "s",
        F.array_join(F.slice(F.col("_t"), F.col("s"), min_tokens), " ").alias("_wt"),
    )
    key = F.md5(F.col("_wt")) if hash_family == "md5" else F.xxhash64(F.col("_wt"))
    keyed = wins.select(id_col, "s", key.alias("_k"))
    dup_keys = (
        keyed.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_k")
    )
    marked = keyed.join(dup_keys, "_k").select(id_col, "s")
    w = Window.partitionBy(id_col).orderBy("s")
    brk = F.when(F.col("s") - F.lag("s").over(w) > min_tokens, 1).otherwise(0)
    island = F.sum("_brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("_brk", brk)
        .withColumn("_isl", island)
        .groupBy(id_col, "_isl")
        .agg(
            F.min("s").alias("span_start"),
            (F.max("s") + F.lit(min_tokens - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_windows",
        )
    )


def maximal_repeat_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 16,
    max_run: int = 256,
) -> DataFrame:
    """ANY-length exact-substring dedup — the full suffix-array semantics of
    Lee et al. 2022 (not just the fixed-window position cover of
    :func:`duplicate_substring_spans`): for every duplicated region, the
    EXACT token length of the longest substring that occurs >= 2 times in
    the corpus, per maximal run of duplicated window starts.

    Reduction (partition-parallel, no suffix array materializes): a
    substring of m >= ``min_tokens`` tokens is corpus-duplicated iff its
    run of (m - min_tokens + 1) consecutive window hashes occurs >= 2 times
    as a consecutive hash sequence — window hashes are injective in
    practice (md5 of the window text), so token-sequence equality lifts to
    hash-sequence equality. Every window of a duplicated substring is
    itself duplicated, so the search space collapses to RUNS of marked
    (duplicated-window) positions — the sparse duplicated surface, not the
    corpus. Each marked position carries its run tail (capped at
    ``max_run`` hashes); a position's maximal duplicated prefix length is
    the longest common prefix its tail shares with ANY other position's
    tail, and — the suffix-array adjacency property — that maximum is
    always attained at a SORT-ADJACENT tail, so one global ordering of the
    marked positions by tail plus an element-wise LCP against each
    neighbor replaces certificate counting entirely (the r12 formulation
    emitted one md5 per (position, prefix length) — O(run · max_run) rows;
    this is O(marked) rows). The per-position maximum is exact for repeats
    up to ``max_run + min_tokens - 1`` tokens; longer repeats are reported
    at the cap (documented approximation — the paper's removal semantics
    only needs the position cover, which is exact regardless).

    Output: one row per (document, run): ``span_start``/``span_end``
    (1-based inclusive token coordinates of the covered region),
    ``span_tokens``, ``n_windows`` (marked starts in the run) and
    ``max_repeat_tokens`` (the exact maximal duplicated substring length
    within the run).

    Scale shape: the corpus is shuffled ONCE keyed by window hash (as the
    fixed-window form); everything after runs on the marked subset — the
    tail ordering is a range-partitioned sort via
    :func:`~srm_etl_spark.operators.windows.enumerate_rows_scalable` (no
    single-partition window; its only driver traffic is one count per
    partition), adjacent pairs meet through an equi-join on the row index,
    and each pair credits BOTH endpoints so first/last rows of the global
    order need no special casing. Tails are bounded at ``max_run`` hashes
    per row; nothing quadratic, nothing driver-side beyond the bounded
    offsets collect.
    """
    toks = tokens(F.col(text_col))
    base = (
        df.select(F.col(id_col), toks.alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= min_tokens)
    )
    wins = base.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.col("_n") - (min_tokens - 1))).alias("s"),
        "_t",
    ).select(
        id_col,
        "s",
        F.md5(F.array_join(F.slice(F.col("_t"), F.col("s"), min_tokens), " ")).alias("_k"),
    )
    dup_keys = (
        wins.groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_k")
    )
    marked = wins.join(dup_keys, "_k").select(id_col, "s", "_k")
    # runs of CONSECUTIVE marked starts: s - row_number is constant per run
    wrow = Window.partitionBy(id_col).orderBy("s")
    runs = marked.withColumn("_g", F.col("s") - F.row_number().over(wrow))
    # each position's run tail: the ordered hashes from s to run end (capped)
    wtail = (
        Window.partitionBy(id_col, "_g").orderBy("s").rowsBetween(0, max_run - 1)
    )
    pos = runs.withColumn("_tail", F.collect_list("_k").over(wtail))
    # order the marked positions by tail (lexicographic on the hash
    # sequence); every position's best-matching tail is then one of its two
    # order-neighbors, so a single pass of adjacent LCPs is exact
    from .windows import enumerate_rows_scalable  # noqa: PLC0415

    ordered = enumerate_rows_scalable(pos, [F.col("_tail")], out_col="_rn")
    nxt = ordered.select(
        (F.col("_rn") - 1).alias("_rn"),
        F.col(id_col).alias("_id2"),
        F.col("s").alias("_s2"),
        F.col("_g").alias("_g2"),
        F.col("_tail").alias("_tail2"),
    )
    pairs = ordered.join(nxt, "_rn", "inner")
    # element-wise LCP: zip_with pads the shorter tail with nulls, which
    # eqNullSafe maps to false, so the first mismatch index is the LCP;
    # no mismatch means one tail prefixes the other -> LCP = min length
    eq = F.zip_with("_tail", "_tail2", lambda a, b: a.eqNullSafe(b))
    fpos = F.array_position(eq, F.lit(False))
    lcp = F.when(fpos > 0, fpos - 1).otherwise(
        F.least(F.size("_tail"), F.size("_tail2"))
    )
    # credit the pair's LCP to BOTH endpoints (each position's maximum is
    # max(LCP with prev, LCP with next); the global first/last rows simply
    # have one credit)
    credits = pairs.select(
        lcp.alias("_l"),
        F.explode(
            F.array(
                F.struct(
                    F.col(id_col).alias("i"), F.col("s").alias("p"), F.col("_g").alias("g")
                ),
                F.struct(
                    F.col("_id2").alias("i"), F.col("_s2").alias("p"), F.col("_g2").alias("g")
                ),
            )
        ).alias("_e"),
    )
    # max duplicated run-prefix per position (>= 1 always: the own window
    # hash is corpus-duplicated, so some neighbor shares element 1)
    duplen = credits.groupBy(
        F.col("_e.i").alias(id_col), F.col("_e.p").alias("s"), F.col("_e.g").alias("_g")
    ).agg(F.max("_l").alias("_dl"))
    return duplen.groupBy(id_col, "_g").agg(
        F.min("s").alias("span_start"),
        (F.max("s") + F.lit(min_tokens - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
        (F.max("_dl") + F.lit(min_tokens - 1)).alias("max_repeat_tokens"),
    ).select(
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        "n_windows",
        "max_repeat_tokens",
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """Cut the spans reported by :func:`duplicate_substring_spans` out of each
    document: tokens whose 1-based position falls inside any of the doc's
    spans are dropped, the rest re-join with single spaces. Documents with no
    spans pass through untouched (left join). One aggregation of the spans
    per doc (tiny side), one per-row filter over the token array — no second
    corpus shuffle beyond the span join."""
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = tokens(F.col(text_col))
    joined = df.join(agg, id_col, "left")
    # position-tagged keep/drop: zip each token with its 1-based index, null
    # out tokens inside any span, compact, re-join
    tagged = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        lambda t, i: F.when(
            ~F.exists(
                F.col("_spans"),
                lambda sp: (i >= sp["span_start"]) & (i <= sp["span_end"]),
            ),
            t,
        ),
    )
    cleaned = F.array_join(F.filter(tagged, lambda t: t.isNotNull()), " ")
    return joined.withColumn(
        out_col,
        F.when(F.col("_spans").isNull() | (F.size(toks) == 0), F.col(text_col)).otherwise(
            cleaned
        ),
    ).drop("_spans")


# --- composite-key dedup (reference A8) -------------------------------------

def dedup_by_keys(df: DataFrame, keys: list[str], order_by: list | None = None) -> DataFrame:
    """Deterministic first-row-per-key dedup (reference seen-set filter,
    ``to_dp.py:580-586``): explicit ordering instead of stream order.

    When ``order_by`` is plain ascending column names (strings), the keeper is
    computed as one hash aggregate — ``min(struct(order cols, full row))`` —
    which partial-aggregates map-side, so the shuffle carries one row per key
    instead of the whole table through a partition sort (the window
    formulation's cost). Ties on the order columns are broken by the full row
    struct, so the result is deterministic even for duplicate order keys.
    Column objects (``F.desc(...)`` etc.) fall back to the window plan.
    """
    order_by = order_by or list(keys)
    if all(isinstance(o, str) for o in order_by):
        row = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
        keeper = F.min(
            F.struct(*[F.col(c) for c in order_by], row)
        ).alias("_keep")
        return df.groupBy(*[F.col(k) for k in keys]).agg(keeper).select("_keep._row.*")
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seen_fp_col: str = "fp",
    num_bits: int = 1 << 20,
) -> DataFrame:
    """Incremental-ingestion dedup: drop new documents whose content
    fingerprint already exists in the historical corpus, after collapsing
    exact duplicates inside the batch itself (min-id keeper, with the
    collapsed count as ``dup_count``).

    The history side never re-shuffles: a bloom runtime filter built over its
    fingerprint column (one ``bit_or`` aggregate, ``num_bits/64`` longs on
    the driver) splits the batch scan-side into *definitely new* rows — which
    skip the anti-join shuffle entirely — and *maybe seen* candidates, which
    the exact anti-join then confirms. At 100 TB of history the shuffle is
    proportional to (true duplicates + bloom false positives), not to the
    batch; re-ingestion runs touch the historical table only to build the
    16-128 KB filter.

    Returns the surviving new rows with ``fp`` and ``dup_count`` attached.
    """
    from ..functions.text import fingerprint  # noqa: PLC0415
    from .bloom import build_bloom, with_bloom_probe  # noqa: PLC0415

    fp = new_docs.withColumn("fp", fingerprint(F.col(text_col)))
    batch = (
        fp.groupBy("fp")
        .agg(
            F.min_by(F.struct(*[F.col(c) for c in fp.columns]), F.col(id_col)).alias("_k"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("_k.*", "dup_count")
    )
    words = build_bloom(seen, seen_fp_col, num_bits=num_bits)
    # probe once, split on the flag: the batch aggregate feeds both branches,
    # so it is persisted (session slot — must outlive this call, the result
    # is lazy); without it each branch re-runs the scan + fingerprint + agg
    flagged = keep_persisted(
        with_bloom_probe(batch, "fp", words, num_bits), "incremental_dedup_batch"
    )
    definite_new = flagged.filter(~F.col("_bloom_maybe")).drop("_bloom_maybe")
    maybe_rows = flagged.filter(F.col("_bloom_maybe")).drop("_bloom_maybe")
    # Confirm via the history — but never shuffle the history: semi-join it
    # against the (bloom-pruned, small) candidate fingerprints first, so the
    # full seen table streams map-side and only true hits come out; the final
    # anti-join's right side is then bounded by the batch's true duplicates.
    # AQE picks broadcast for both small sides; no hint needed.
    seen_hits = (
        seen.select(F.col(seen_fp_col).alias("fp"))
        .join(F.broadcast(maybe_rows.select("fp")), "fp", "left_semi")
        .distinct()
    )
    confirmed_new = maybe_rows.join(F.broadcast(seen_hits), "fp", "left_anti")
    return definite_new.unionByName(confirmed_new)
