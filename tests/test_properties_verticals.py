"""Property tests for the round-5 ingestion verticals: the Spark column
expressions checked against INDEPENDENT Python reimplementations of the
reference's row semantics (the test_properties.py discipline)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="אבגדהוז xy-", min_size=0, max_size=8)


def _calc_address_ref(city, street, house, alt):
    """Reference operators/entities/__init__.py:253-273, reimplemented
    independently (incl. the ' תאי דואר' strip, trailing spaces, contained-
    alternate skip and final strip)."""
    key = ""
    if city:
        city = city.replace(" תאי דואר", "")
        if street:
            key += f"{street} "
            if house:
                key += f"{house} "
            key += ", "
        key += f"{city} "
    if alt and alt != "ללא כתובת" and alt not in key:
        key += f" - {alt}"
    key = key.strip()
    return key or None


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), _word.filter(lambda s: s != "")),
            st.one_of(st.none(), _word.filter(lambda s: s != "")),
            st.one_of(st.none(), _word.filter(lambda s: s != "")),
            st.one_of(st.none(), _word.filter(lambda s: s != ""), st.just("ללא כתובת")),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_calc_address_matches_reference(spark, rows):
    from srm_etl_spark.pipelines.entities import _calc_address

    df = spark.createDataFrame(
        rows, "city string, street string, house string, alt string"
    )
    key0 = _calc_address(F.col("city"), F.col("street"), F.col("house"))
    alt = F.col("alt")
    alt_ok = alt.isNotNull() & (alt != "ללא כתובת") & ~F.contains(key0, alt)
    key1 = F.when(alt_ok, F.concat(key0, F.lit(" - "), alt)).otherwise(key0)
    got = [
        r["a"]
        for r in df.select(F.nullif(F.trim(key1), F.lit("")).alias("a")).collect()
    ]
    want = [_calc_address_ref(*r) for r in rows]
    # The expression trims with trim() (spaces); the reference strips all
    # whitespace — our alphabet has only spaces, so they agree.
    assert got == want


def _flatten_dedup_ref(lists):
    """Reference meser/__init__.py:18-33, reimplemented independently."""
    seen, out = set(), []
    for lst in lists:
        if lst is None:
            continue
        for item in lst:
            if item is None or item == "None":
                continue
            if item not in seen:
                seen.add(item)
                out.append(item)
    return out


@settings(**_SETTINGS)
@given(
    groups=st.lists(
        st.lists(
            st.lists(st.sampled_from("abcdefgh"), max_size=4),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_first_occurrence_merge_matches_reference(spark, groups):
    from srm_etl_spark.pipelines.meser import _first_occurrence_merge

    rows = []
    for gid, lists in enumerate(groups):
        for pos, lst in enumerate(lists):
            rows.append((gid, pos, lst))
    df = spark.createDataFrame(rows, "_gid long, _pos long, tags array<string>")
    ex = df.select(
        "_gid", "_pos", F.posexplode_outer("tags").alias("_tpos", "tag")
    ).filter(F.col("tag").isNotNull()).withColumn("_k", F.struct("_pos", "_tpos"))
    out = {
        r["_gid"]: list(r["merged"])
        for r in _first_occurrence_merge(ex, "_gid", "tag", "_k", "merged").collect()
    }
    for gid, lists in enumerate(groups):
        want = _flatten_dedup_ref(lists)
        assert out.get(gid, []) == want, (gid, lists)


def _create_address_clean_ref(addr, city):
    """Reference meser/__init__.py:51-61, reimplemented independently."""
    def clean(val):
        if val is None:
            return None
        s = str(val).strip()
        return s if s.lower() not in ("none", "nan", "") else None

    a, c = clean(addr), clean(city)
    if a and c and a.lower() == c.lower():
        a = None
    return " ".join(x for x in (a, c) if x)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["None", "nan", "", "  רחוב  ", "עיר", "רחוב 999"])),
            st.sampled_from(["עיר", "תל אביב", "  עיר "]),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_address_clean_matches_reference(spark, rows):
    from srm_etl_spark.pipelines.meser import _clean_part

    df = spark.createDataFrame(rows, "addr string, city string")
    a, c = _clean_part(F.col("addr")), _clean_part(F.col("city"))
    a2 = F.when(F.lower(a) == F.lower(c), F.lit(None).cast("string")).otherwise(a)
    got = [
        r["x"] for r in df.select(F.trim(F.concat_ws(" ", a2, c)).alias("x")).collect()
    ]
    want = [_create_address_clean_ref(*r).strip() for r in rows]
    assert got == want


@settings(**_SETTINGS)
@given(
    pixels=st.lists(
        st.lists(st.integers(0, 255), min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    ).filter(lambda rows: len({len(r) for r in rows}) == 1)
)
def test_png_roundtrip_property(pixels):
    import numpy as np

    from srm_etl_spark.operators.multimodal import _decode_image_bytes, png_encode_gray

    px = np.array(pixels, dtype=np.uint8)
    w, h, lum = _decode_image_bytes(png_encode_gray(px))
    assert (w, h) == (px.shape[1], px.shape[0])
    assert abs(lum - px.astype(float).mean() / 255.0) < 1e-12


@settings(**_SETTINGS)
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=500),
    sr=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, sr):
    import numpy as np

    from srm_etl_spark.operators.multimodal import _decode_audio_bytes, _wav_from_pcm

    arr = np.array(samples, dtype=np.int16)
    got_sr, n, rms = _decode_audio_bytes(_wav_from_pcm(sr, arr.astype("<i2").tobytes()))
    assert (got_sr, n) == (sr, len(samples))
    want = float(np.sqrt((arr.astype(np.float64) ** 2).mean()) / 32768.0)
    assert abs(rms - want) < 1e-12
