"""Golden tests for the exact-semantics kernels against hand-computed vectors
reproducing the reference's behavior (srm_tools/hash.py, data_cleaning.py,
derive/helpers.py, derive/to_dp.py)."""

import hashlib

from pyspark.sql import functions as F

from srm_etl_spark.functions import cleaning, geo, hashing, taxonomy, text


def _one(spark, col, **data):
    df = spark.createDataFrame([data or {"dummy": 1}])
    return df.select(col.alias("out")).first()["out"]


# --- hashing ----------------------------------------------------------------

def test_hasher_matches_reference_semantics(spark):
    # sha1 over non-null concat, no separator, [:8]
    expected = hashlib.sha1(b"abcdef").hexdigest()[:8]
    got = _one(
        spark,
        hashing.hasher(F.lit("abc"), F.lit(None).cast("string"), F.lit(""), F.lit("def")),
    )
    assert got == expected
    assert hashing.hasher_py("abc", None, "", "def") == expected


def test_hasher_all_null(spark):
    expected = hashlib.sha1(b"").hexdigest()[:8]
    assert _one(spark, hashing.hasher(F.lit(None).cast("string"))) == expected


def test_hash_row_whitespace_insensitive(spark):
    df = spark.createDataFrame(
        [("a b", "x", "s1", "ACTIVE"), ("ab", "x", "s1", "ACTIVE")],
        "f1 string, f2 string, source string, status string",
    )
    hashes = [r[0] for r in df.select(hashing.hash_row(["f1", "f2"])).collect()]
    assert hashes[0] == hashes[1]  # whitespace stripped before hashing


# --- taxonomy ---------------------------------------------------------------

def test_update_taxonomy_with_parents(spark):
    got = _one(
        spark,
        taxonomy.update_taxonomy_with_parents(
            F.lit(["human_situations:age_group:adults", "human_services:health"]).cast(
                "array<string>"
            )
        ),
    )
    assert got == sorted(
        {
            "human_situations:age_group",
            "human_situations:age_group:adults",
            "human_services:health",
        }
    )


def test_update_taxonomy_with_parents_null(spark):
    assert _one(spark, taxonomy.update_taxonomy_with_parents(F.lit(None).cast("array<string>"))) == []


def test_update_taxonomy_with_parents_sub2_segments(spark):
    # reference range(2, len+1) yields [] for <2 segments — a bare root id
    # must contribute nothing (was: F.sequence(2, 1) descending [2,1] bug)
    got = _one(
        spark,
        taxonomy.update_taxonomy_with_parents(
            F.lit(["solo", "a:b"]).cast("array<string>")
        ),
    )
    assert got == ["a:b"]


def test_fix_situations_rules(spark):
    men_women = [
        "human_situations:gender:women",
        "human_situations:gender:men",
        "human_situations:age_group:adults",
    ]
    got = _one(spark, taxonomy.fix_situations(F.lit(men_women).cast("array<string>")))
    assert got == ["human_situations:age_group:adults"]

    only_women = ["human_situations:gender:women"]
    got = _one(spark, taxonomy.fix_situations(F.lit(only_women).cast("array<string>")))
    assert got == only_women

    hebrew = ["human_situations:language:hebrew_speaking", "x"]
    assert _one(spark, taxonomy.fix_situations(F.lit(hebrew).cast("array<string>"))) == ["x"]

    arabs = ["human_situations:sectors:arabs"]
    got = _one(spark, taxonomy.fix_situations(F.lit(arabs).cast("array<string>")))
    assert got == ["human_situations:sectors:arabs", "human_situations:language:arabic_speaking"]

    assert _one(spark, taxonomy.fix_situations(F.lit(None).cast("array<string>"))) is None


def test_normalize_taxonomy_ids(spark):
    raw = [
        "human_situations:a:b,human_situations:c",  # comma-joined
        "human_situation:typo:x",  # singular root canonicalized
        "human_situations",  # bare root dropped
        "human_situations:a:b",  # duplicate (order-preserving dedupe)
        "human_situations:p:q human_situations:r:s",  # space-smashed
    ]
    got = _one(spark, taxonomy.normalize_taxonomy_ids(F.lit(raw).cast("array<string>")))
    assert got == [
        "human_situations:a:b",
        "human_situations:c",
        "human_situations:typo:x",
        "human_situations:p:q",
        "human_situations:r:s",
    ]


# --- cleaning ---------------------------------------------------------------

def test_phone_formatting(spark):
    cases = {
        "03-1234567": "03-123-4567",  # 9 digits starting 0
        "0521234567": "052-123-4567",  # 10 digits starting 0
        "1700123456": "1-700-123456",  # 10 digits starting 1
        "+972-52-123-4567": "052-123-4567",  # country code stripped, 0 restored
        "hello": "hello",  # unformattable -> trimmed original
    }
    raw = "\n".join(cases)
    got = _one(spark, cleaning.transform_phone_numbers(F.lit(raw)))
    assert got == list(cases.values())


def test_phone_numbers_null_and_empty(spark):
    assert _one(spark, cleaning.transform_phone_numbers(F.lit(None).cast("string"))) == []
    assert _one(spark, cleaning.transform_phone_numbers(F.lit("  \n "))) == []


def test_transform_urls(spark):
    got = _one(
        spark, cleaning.transform_urls(F.lit("http://a.com#Site A\nhttp://b.com"))
    )
    assert got[0]["href"] == "http://a.com" and got[0]["title"] == "Site A"
    assert got[1]["href"] == "http://b.com" and got[1]["title"] == "קישור"
    assert _one(spark, cleaning.transform_urls(F.lit(None).cast("string"))) is None


def test_clean_org_name(spark):
    # Golden values computed by running the reference's clean_org_name
    # (srm_tools/data_cleaning.py:5-24) on the same inputs.
    cases = {
        'עזרה לזולת בע"ר': "עזרה לזולת בר",
        "עמותת חסד": "חסד",
        "מרכז בע״מ": "מרכז",
        'ארגון (ע"ר)': "ארגון (ר",
    }
    for raw, expected in cases.items():
        assert _one(spark, cleaning.clean_org_name(F.lit(raw))) == expected
    assert _one(spark, cleaning.clean_org_name(F.lit(None).cast("string"))) == ""


def test_fix_url(spark):
    assert _one(spark, cleaning.fix_url(F.lit("https://www.google.com"))) == "https://www.google.com"
    assert _one(spark, cleaning.fix_url(F.lit("www.google.com"))) == "http://www.google.com"
    assert _one(spark, cleaning.fix_url(F.lit("google"))) is None
    assert _one(spark, cleaning.fix_url(F.lit("google.com-"))) is None


def test_remove_whitespaces(spark):
    assert _one(spark, cleaning.remove_whitespaces(F.lit("  a \n\t b  "))) == "a b"


# --- geo --------------------------------------------------------------------

def test_validate_geometry(spark):
    assert _one(spark, geo.validate_geometry(F.lit([34.78, 32.08]).cast("array<double>"))) is True
    assert _one(spark, geo.validate_geometry(F.lit([0.0, 0.0]).cast("array<double>"))) is False
    assert _one(spark, geo.validate_geometry(F.lit(None).cast("array<double>"))) is False


def test_calc_point_id(spark):
    # reference: ''.join('{:08.5f}'.format(c) for c in geometry).replace('.','')
    expected = ("%08.5f%08.5f" % (34.78, 32.08)).replace(".", "")
    got = _one(spark, geo.calc_point_id(F.lit([34.78, 32.08]).cast("array<double>")))
    assert got == expected


def test_olc_encode_known_value(spark):
    # Spec example: 20.375,2.775 -> 7FG49Q00+ (pad to len 11 with grid digit)
    got = _one(spark, geo.olc_encode(F.lit(32.0853), F.lit(34.7818), 11))
    assert len(got) == 12 and got[8] == "+"
    # Tel Aviv is in the 8G3Q/8G4P area codes
    assert got.startswith("8G")


# --- text -------------------------------------------------------------------

def test_token_count(spark):
    assert _one(spark, text.token_count(F.lit("a b  c"))) == 3
    assert _one(spark, text.token_count(F.lit(""))) == 0
    assert _one(spark, text.token_count(F.lit(None).cast("string"))) == 0


def test_lang_id(spark):
    texts = {
        "the cat and the dog is here": "en",
        "der hund und die katze ist": "de",
        "שלום עולם": "he",
        "你好世界": "zh",
    }
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r.text: r.lang_pred for r in text.with_lang_id(df).collect()}
    assert got == texts


def test_word_shingles(spark):
    got = _one(spark, text.word_shingles(F.lit("a b c d"), 3))
    assert got == ["a b c", "b c d"]
    got_short = _one(spark, text.word_shingles(F.lit("a b"), 3))
    assert got_short == ["a b"]


def test_fingerprint_order_insensitive(spark):
    a = _one(spark, text.fingerprint(F.lit("Hello, world hello")))
    b = _one(spark, text.fingerprint(F.lit("world HELLO")))
    assert a == b


def test_redact_pii(spark):
    from srm_etl_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [("mail a@b.co or see https://x.io/y?z=1 at 10.0.0.1 call 054-123-4567 acct 123456789",)],
        "t string",
    )
    got = df.select(redact_pii(F.col("t")).alias("r")).first().r
    assert got == "mail <EMAIL> or see <URL> at <IP> call <PHONE> acct <NUM>"


def test_quality_flags_integer_exact(spark):
    from srm_etl_spark.functions.text import with_quality_flags

    good = "the quick brown fox and the lazy dog " * 10  # 90 tokens, stopwords present
    df = spark.createDataFrame(
        [(1, good), (2, "short text"), (3, "!!! ??? ### $$$ %%%")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_quality_flags(df, "text").collect()}
    assert rows[1].keep and rows[1].length_ok and rows[1].stop_ok
    assert not rows[2].length_ok and not rows[2].keep
    assert not rows[3].symbol_ok and not rows[3].keep


def test_logistic_score(spark):
    import math

    from pyspark.sql import functions as F

    from srm_etl_spark.functions.scoring import logistic_score

    df = spark.createDataFrame([(1, 1.0, 0.5), (2, 0.0, 0.0)], "id long, a double, b double")
    out = df.select(
        "id", logistic_score({"a": 2.0, "b": -1.0}, bias=0.5).alias("p")
    ).collect()
    by_id = {r.id: r.p for r in out}
    assert abs(by_id[1] - 1 / (1 + math.exp(-(0.5 + 2.0 * 1.0 - 1.0 * 0.5)))) < 1e-12
    assert abs(by_id[2] - 1 / (1 + math.exp(-0.5))) < 1e-12


def test_bpe_tokens_sequential_merges(spark):
    from pyspark.sql import functions as F

    from srm_etl_spark.functions.text import bpe_tokens

    df = spark.createDataFrame(
        [(1, "the then"), (2, "ththth"), (3, "xyz")], "id long, text string"
    )
    out = {r.id: r.toks for r in df.select("id", bpe_tokens(F.col("text")).alias("toks")).collect()}
    # (t,h) then (th,e) chain builds "the"; the trailing n stays split
    assert out[1] == ["the", "the", "n"]
    # alternating chain: the two-pass closure merges every (t,h) pair
    assert out[2] == ["th", "th", "th"]
    # no applicable merges -> plain characters
    assert out[3] == ["x", "y", "z"]


def test_bpe_priority_same_pair_rules(spark):
    # the Arrow kernel handles the same-pair rules the replace chain
    # rejects: leftmost-greedy pairing on identical-token runs
    from pyspark.sql import functions as F

    from srm_etl_spark.functions.text import PRIORITY_BPE_MERGES, bpe_tokens, bpe_tokens_priority

    df = spark.createDataFrame(
        [(1, "lll"), (2, "llll"), (3, "hello bee"), (4, "the then")],
        "id long, text string",
    )
    out = {
        r.id: r.toks
        for r in df.select(
            "id", bpe_tokens_priority(F.col("text"), PRIORITY_BPE_MERGES).alias("toks")
        ).collect()
    }
    # (l,l) leftmost-greedy then the stacked (ll,l) rule: "lll" -> [ll, l]
    # -> [lll]; "llll" -> [ll, l, l] -> [ll, ll] and (ll,ll) is no rule
    assert out[1] == ["lll"]
    assert out[2] == ["ll", "ll"]
    # "hello": h e l l o -> (e,l)? not a rule; (l,l) -> h e ll o; (e,e) in "bee"
    assert out[3] == ["h", "e", "ll", "o", "b", "ee"]
    # training-ordered rules behave exactly like the chain
    assert out[4] == ["the", "the", "n"]
    # same-pair table is rejected by the chain (guard stays pinned)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="same-pair"):
        df.select(bpe_tokens(F.col("text"), PRIORITY_BPE_MERGES))


def test_bpe_priority_parity_with_chain_on_supported_subset(spark):
    # on the chain's supported table (DEFAULT_BPE_MERGES, training-ordered)
    # the two variants must agree token-for-token over real corpus text
    from pyspark.sql import functions as F

    from srm_etl_spark.functions.text import bpe_tokens, bpe_tokens_priority

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.lower(F.col("text")).alias("t"))
        .limit(200)
    )
    diff = d.select(
        bpe_tokens(F.col("t")).alias("chain"),
        bpe_tokens_priority(F.col("t")).alias("prio"),
    ).filter(F.col("chain") != F.col("prio"))
    assert diff.count() == 0
