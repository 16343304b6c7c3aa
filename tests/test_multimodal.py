"""Multimodal tests: binary columns, metadata sniffing, Arrow-batched decode
stages, frame-sampling UDTF shape — now over REAL stdlib codecs (PNG with
zlib IDAT + scanline filters; RIFF/WAVE PCM16)."""

import hashlib
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from srm_etl_spark.operators.multimodal import (
    _decode_audio_bytes,
    _decode_image_bytes,
    _png_chunk,
    _wav_from_pcm,
    _PNG_SIG,
    attach_media_metadata,
    decode_image_features,
    make_png,
    make_wav,
    png_encode_gray,
    sample_video_frames,
)

np = pytest.importorskip("numpy")


def _media_df(spark):
    rows = [
        (1, make_png(640, 480, 100)),
        (2, make_png(64, 64, 200)),
        (3, b"\xff\xd8\xff\xe0corrupt-jpeg-bytes"),
        (4, b"not media at all"),
    ]
    return spark.createDataFrame(rows, "doc_id long, media binary")


def _two_tone_mean(h, lum):
    h2 = h // 2
    return (h2 * lum + (h - h2) * (255 - lum)) / (h * 255)


def test_metadata_sniffing(spark):
    out = attach_media_metadata(_media_df(spark)).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].media_format == "png"
    assert by_id[3].media_format == "jpeg"
    assert by_id[4].media_format == "unknown"
    assert by_id[1].media_size_bytes == len(make_png(640, 480, 100))
    assert by_id[2].media_content_id == hashlib.sha1(make_png(64, 64, 200)).hexdigest()


def test_decode_features_and_error_channel(spark):
    feats = decode_image_features(_media_df(spark)).collect()
    assert len(feats) == 4
    by_cid = {r.media_content_id: r for r in feats}
    ok = by_cid[hashlib.sha1(make_png(640, 480, 100)).hexdigest()]
    assert (ok.width, ok.height) == (640, 480)
    assert abs(ok.mean_luminance - _two_tone_mean(480, 100)) < 1e-9
    assert ok.decode_error is None
    # corrupt/non-PNG media fails per-row, not per-stage
    bad = by_cid[hashlib.sha1(b"not media at all").hexdigest()]
    assert bad.width is None
    assert bad.decode_error == "ValueError"


def test_png_codec_is_standard():
    """The encoder emits a spec-conformant PNG: signature, CRC-valid chunks,
    zlib IDAT; the decoder round-trips arbitrary pixel data exactly."""
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(13, 29), dtype=np.uint8)
    data = png_encode_gray(px)
    assert data[:8] == _PNG_SIG
    # CRC check on every chunk
    pos = 8
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        assert crc == (zlib.crc32(tag + payload) & 0xFFFFFFFF), tag
        pos += 12 + length
    w, h, lum = _decode_image_bytes(data)
    assert (w, h) == (29, 13)
    assert abs(lum - px.mean() / 255.0) < 1e-9


def test_png_decoder_handles_all_filter_types():
    """Hand-build an IDAT using Sub/Up/Average/Paeth filtered scanlines and
    check the unfilter reconstructs the original pixels."""
    px = np.arange(5 * 4, dtype=np.uint8).reshape(5, 4) * 11 % 256

    def filt(ftype, y):
        line = px[y].astype(int)
        prev = px[y - 1].astype(int) if y > 0 else np.zeros(4, dtype=int)
        out = [ftype]
        for x in range(4):
            a = int(px[y, x - 1]) if x >= 1 else 0
            b = int(prev[x])
            c = int(px[y - 1, x - 1]) if (x >= 1 and y > 0) else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((int(line[x]) - pred) & 0xFF)
        return bytes(out)

    raw = b"".join(filt(f, y) for y, f in enumerate([0, 1, 2, 3, 4]))
    ihdr = struct.pack(">IIBBBBB", 4, 5, 8, 0, 0, 0, 0)
    data = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    w, h, lum = _decode_image_bytes(data)
    assert (w, h) == (4, 5)
    assert abs(lum - px.mean() / 255.0) < 1e-9


def test_frame_sampling_udtf_shape(spark):
    frames = sample_video_frames(_media_df(spark), n_frames=4)
    counts = frames.groupBy("media_content_id").count().collect()
    assert all(r["count"] == 4 for r in counts)
    offs = frames.filter(F.col("frame_index") == 0).select("byte_offset").collect()
    assert all(r.byte_offset == 0 for r in offs)


def test_audio_features_and_error_channel(spark):
    from srm_etl_spark.operators.multimodal import decode_audio_features

    df = spark.createDataFrame(
        [(1, make_wav(16000, 48000, 64)), (2, make_wav(8000, 4000, 255)), (3, b"junk")],
        "doc_id long, media binary",
    )
    out = {r.media_content_id: r for r in decode_audio_features(df, passthrough=["doc_id"]).collect()}
    a = out[hashlib.sha1(make_wav(16000, 48000, 64)).hexdigest()]
    assert (a.sample_rate, a.n_samples) == (16000, 48000)
    assert abs(a.duration_s - 3.0) < 1e-9
    assert abs(a.rms - 64 * 128 / 32768.0) < 1e-9
    assert a.doc_id == 1
    bad = out[hashlib.sha1(b"junk").hexdigest()]
    assert bad.sample_rate is None and bad.decode_error == "ValueError"


def wav_encode_pcm16(sample_rate, samples):
    """A REAL RIFF/WAVE PCM16 file (44-byte header + little-endian data)."""
    return _wav_from_pcm(sample_rate, np.asarray(samples, dtype="<i2").tobytes())


def test_wav_codec_roundtrip_exact():
    rng = np.random.RandomState(11)
    samples = rng.randint(-32768, 32768, size=4321, dtype=np.int16)
    data = wav_encode_pcm16(22050, samples)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    assert len(data) == 44 + 2 * len(samples)
    sr, n, rms = _decode_audio_bytes(data)
    assert (sr, n) == (22050, 4321)
    expect = float(np.sqrt((samples.astype(np.float64) ** 2).mean()) / 32768.0)
    assert abs(rms - expect) < 1e-12


def test_audio_metadata_sniffs_riff(spark):
    df = spark.createDataFrame([(1, make_wav(44100, 1000))], "doc_id long, media binary")
    assert attach_media_metadata(df).collect()[0].media_format == "riff"


def test_wav_const_expr_byte_parity(spark):
    """The JVM-native hex-domain WAV builder is byte-identical to make_wav
    across sample rates, lengths (incl. 0), and amplitudes (incl. 0/255)."""
    from pyspark.sql import functions as F

    from srm_etl_spark.operators.multimodal import wav_const_expr

    cases = [(8000, 0, 0), (8000, 1, 255), (16000, 7, 100), (44100, 4321, 1), (24000, 2, 128)]
    df = spark.createDataFrame(cases, "sr int, n int, amp int")
    rows = df.select(
        "sr", "n", "amp", wav_const_expr(F.col("sr"), F.col("n"), F.col("amp")).alias("w")
    ).collect()
    for r in rows:
        assert bytes(r.w) == make_wav(r.sr, r.n, r.amp)


class TestMp4Keyframes:
    def test_header_size_closed_form(self):
        from srm_etl_spark.operators.multimodal import (
            MP4_HEADER_BASE,
            make_mp4,
            mp4_keyframe_index,
        )

        for n, g, size in [(1, 1, 8), (10, 3, 64), (24, 4, 100), (7, 10, 16)]:
            idx = mp4_keyframe_index(make_mp4(n, g, size))
            n_sync = len(range(1, n + 1, g))
            assert len(idx) == n_sync
            first_off = idx[0][1]
            assert first_off == MP4_HEADER_BASE + 4 * n_sync
            for i, (s, off, ts) in enumerate(idx):
                assert s == 1 + i * g
                assert off == first_off + (s - 1) * size
                assert abs(ts - (s - 1) * 20 / 600) < 1e-12

    def test_parser_rejects_non_mp4(self):
        import pytest as _pytest

        from srm_etl_spark.operators.multimodal import mp4_keyframe_index

        with _pytest.raises(ValueError, match="MP4"):
            mp4_keyframe_index(b"RIFF\x00\x00\x00\x00WAVE" + b"\x00" * 32)

    def test_no_stss_means_every_sample_sync(self):
        # without an stss box the spec (§8.6.2) makes EVERY sample a sync
        # sample — exercise the parser's fallback branch
        from srm_etl_spark.operators.multimodal import make_mp4, mp4_keyframe_index

        data = make_mp4(5, 2, 32, with_stss=False)
        assert [s for s, _, _ in mp4_keyframe_index(data)] == [1, 2, 3, 4, 5]
        # and the synthesized sync table still parses as before
        assert [s for s, _, _ in mp4_keyframe_index(make_mp4(5, 2, 32))] == [1, 3, 5]

    def test_malformed_mp4_degrades_to_fallback(self, spark):
        from srm_etl_spark.operators.multimodal import make_mp4, sample_video_frames

        # 'ftyp' magic but truncated boxes: must NOT fail the task
        junk = make_mp4(4, 2, 8)[:40]
        df = spark.createDataFrame([(1, junk)], "doc_id long, media binary")
        rows = sample_video_frames(df, n_frames=2).collect()
        assert len(rows) == 2 and all(r.is_keyframe is None for r in rows)

    def test_mdhd_version1_timescale(self):
        import struct

        from srm_etl_spark.operators.multimodal import make_mp4, mp4_keyframe_index

        data = bytearray(make_mp4(4, 2, 8, timescale=600))
        # rewrite the mdhd box to version 1: 64-bit creation/modification
        i = data.find(b"mdhd")
        payload = data[i + 4 : i + 4 + 24]
        new_payload = struct.pack(">I", 1 << 24) + b"\x00" * 16 + payload[12:]
        # splice: new payload is 8 bytes longer -> rewrite box size and all
        # enclosing container sizes (moov/trak/mdia), and shift stco by 8
        grow = len(new_payload) - len(payload)
        size_pos = i - 4
        (old_size,) = struct.unpack(">I", data[size_pos : size_pos + 4])
        out = bytearray(data[: i + 4] + new_payload + data[i + 4 + 24 :])
        out[size_pos : size_pos + 4] = struct.pack(">I", old_size + grow)
        for tag in (b"moov", b"trak", b"mdia"):
            j = out.find(tag)
            (sz,) = struct.unpack(">I", out[j - 4 : j])
            out[j - 4 : j] = struct.pack(">I", sz + grow)
        jc = out.find(b"stco")
        (cnt, off) = struct.unpack(">II", out[jc + 8 : jc + 16])
        out[jc + 8 : jc + 16] = struct.pack(">II", cnt, off + grow)
        idx = mp4_keyframe_index(bytes(out))
        # timescale read at the v1 offset -> timestamps unchanged
        assert [round(ts, 6) for _, _, ts in idx] == [0.0, round(2 * 20 / 600, 6)]

    def test_audio_trak_first_multitrack(self):
        # a multi-track file may order the audio trak before the video one;
        # the parser must index the trak whose hdlr handler is 'vide', and
        # read mdhd from that SAME trak
        import struct

        from srm_etl_spark.operators.multimodal import (
            _mp4_boxes,
            make_mp4,
            mp4_keyframe_index,
        )

        video = make_mp4(24, 6, 16)
        expected = mp4_keyframe_index(video)

        def raw(data, tag, start=0, end=None):
            for t, b, e in _mp4_boxes(data, start, len(data) if end is None else end):
                if t == tag:
                    return data[b - 8 : e], (b, e)
            raise AssertionError(tag)

        ftyp_raw, _ = raw(video, b"ftyp")
        _, (mb, me) = raw(video, b"moov")
        mdat_raw, _ = raw(video, b"mdat")
        mvhd_raw, _ = raw(video, b"mvhd", mb, me)
        vide_trak_raw, _ = raw(video, b"trak", mb, me)

        # an "audio" trak with different sample geometry (so picking it
        # would change every tuple): same builder, handler vide -> soun
        audio_src = make_mp4(10, 2, 8, timescale=8000, delta=160)
        _, (amb, ame) = raw(audio_src, b"moov")
        soun_trak_raw = raw(audio_src, b"trak", amb, ame)[0].replace(b"vide", b"soun")
        assert b"soun" in soun_trak_raw and b"vide" not in soun_trak_raw

        payload = mvhd_raw + soun_trak_raw + vide_trak_raw
        moov = struct.pack(">I", 8 + len(payload)) + b"moov" + payload
        two = ftyp_raw + moov + mdat_raw
        # stco offsets copied verbatim -> the video trak's index must be
        # tuple-identical to the single-track file's
        assert mp4_keyframe_index(two) == expected

    def test_sampler_uses_real_index_for_mp4(self, spark):
        from srm_etl_spark.operators.multimodal import make_mp4, sample_video_frames

        df = spark.createDataFrame(
            [(1, make_mp4(20, 2, 16)), (2, b"notavideo" + b"\x00" * 64)],
            "doc_id long, media binary",
        )
        rows = sample_video_frames(df, n_frames=4).collect()
        mp4_rows = [r for r in rows if r.is_keyframe]
        fallback_rows = [r for r in rows if r.is_keyframe is None]
        assert len(mp4_rows) == 4 and len(fallback_rows) == 4
        # 10 sync samples (1,3,..19) → picks at indices 0,2,5,7 → samples 1,5,11,15
        assert [r.sample_number for r in sorted(mp4_rows, key=lambda r: r.frame_index)] == [1, 5, 11, 15]
        assert all(r.sample_number is None and r.timestamp_s is None for r in fallback_rows)
