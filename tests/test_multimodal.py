"""Multimodal/UDF-surface operators: oracle-match for the hash-exact
ones (the mixed BMP/PNG decode path included — real header parses, a
CRC-verified chunk walk, and per-row PNG unfiltering), plus codec
roundtrip properties for both formats."""

import struct

import pyspark.sql.functions as F

from flink_project_userbehavioranalysis_spark.io import spread
from flink_project_userbehavioranalysis_spark.operators import multimodal as MM
from tests.oracle import assert_matches_oracle


def test_binary_features(spark, sf_dir):
    df = MM.binary_features(spark, sf_dir)
    assert_matches_oracle(df, MM.BINARY_FEATURES_SQL, sf_dir)


def test_geomean_pandas_udf(spark, sf_dir):
    """§2.9 GROUPED_AGG pandas_udf equals the SQL formulation after
    deterministic rounding."""
    df = MM.geomean_by_type(spark, sf_dir)
    assert_matches_oracle(df, MM.GEOMEAN_BY_TYPE_SQL, sf_dir)


def test_decode_meta_oracle(spark, sf_dir):
    """The mixed-format header parses (BMP fixed offsets on even ids,
    PNG CRC-verified IHDR on odd) hash-match the oracle's closed form
    over octet_length(text)."""
    df = MM.decode_meta_table(spark, sf_dir)
    assert_matches_oracle(df, MM.DECODE_META_SQL, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert df.count() == n_docs
    assert df.columns == ["doc_id", "mime", "width", "height", "bpp", "data_size"]
    assert {r["mime"] for r in df.select("mime").distinct().collect()} == {
        "image/bmp",
        "image/png",
    }


def test_frame_sample_oracle_and_fanout(spark, sf_dir):
    df = MM.frame_sample(spark, sf_dir, n_frames=4)
    assert_matches_oracle(df, MM.frame_sample_oracle_sql(4), sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert df.count() == n_docs * 4
    idx = {r["frame_idx"] for r in df.select("frame_idx").distinct().collect()}
    assert idx == {0, 1, 2, 3}


def test_bmp_codec_roundtrip_properties():
    """encode→decode is the identity on the header fields, the file is
    exactly as long as its declared size, bottom-up scanline extraction
    returns the logical top-down row, and a non-BMP payload is
    rejected rather than misparsed."""
    import pytest

    for text in (b"", b"x", b"hello world", b"a" * 1000):
        b = MM.encode_bmp(text)
        w, h, bpp, fsize = MM.decode_bmp_meta(b)
        assert (w, h) == MM._bmp_dims(len(text))
        assert bpp == 24
        assert fsize == len(b) == 54 + MM._bmp_row_size(w) * h
        for r in (0, h - 1):
            line = MM.bmp_scanline(b, r)
            assert line == bytes([MM._bmp_row_byte(len(text), r)]) * MM._bmp_row_size(w)
    assert MM.encode_bmp(None) == MM.encode_bmp(b"")
    with pytest.raises(ValueError):
        MM.decode_bmp_meta(b"\x89PNG not a bmp")


def test_decode_real_boundary():
    """All three image codecs decode for real; absent codecs raise at
    the explicit boundary, and a corrupt payload for a REAL codec is a
    decode error (ValueError), not a stub raise."""
    import pytest

    assert MM.decode_real(MM.encode_bmp(b"abc"), "image/bmp")[2] == 24
    assert MM.decode_real(MM.encode_png(b"abc"), "image/png")[2] == 24
    from flink_project_userbehavioranalysis_spark.operators.jpeg_codec import (
        encode_jpeg,
    )
    import numpy as np

    jw, jh, jbpp, jsize = MM.decode_real(
        encode_jpeg(np.full((5, 9), 70, np.uint8), 90), "image/jpeg"
    )
    assert (jw, jh, jbpp, jsize) == (9, 5, 8, 45)
    with pytest.raises(ValueError):
        MM.decode_real(b"bytes", "image/jpeg")
    with pytest.raises(NotImplementedError):
        MM.decode_real(b"bytes", "video/mp4")


def test_png_codec_roundtrip_properties():
    """encode→decode identity on header fields and every scanline, for
    payload sizes that sweep image heights 1..17 (so every filter type
    0-4 both encodes and decodes); signature/CRC tampering is rejected
    rather than misparsed."""
    import pytest

    for text in (b"", b"x", b"hello world", b"a" * 57, b"b" * 1000):
        b = MM.encode_png(text)
        w, h, depth, ctype = MM.decode_png_meta(b)
        assert (w, h) == MM._bmp_dims(len(text))
        assert (depth, ctype) == (8, 2)
        rows = MM.png_scanlines(b)
        assert len(rows) == h
        for r, row in enumerate(rows):
            assert row == bytes([MM._bmp_row_byte(len(text), r)]) * (3 * w)
    assert MM.encode_png(None) == MM.encode_png(b"")
    with pytest.raises(ValueError):
        MM.decode_png_meta(b"BM not a png")
    good = MM.encode_png(b"hello world")
    tampered = bytearray(good)
    tampered[20] ^= 0x01  # flip a bit inside IHDR data → CRC mismatch
    with pytest.raises(ValueError):
        MM.decode_png_meta(bytes(tampered))


def test_png_idat_crc_checked_by_every_decoder():
    """A flipped bit in the IDAT chunk's CRC is rejected by both PNG
    decode paths — the scanline decoder and the ``decode_real`` size
    probe share one CRC-verifying chunk walk."""
    import pytest

    good = MM.encode_png(b"hello world")
    assert MM.decode_real(good, "image/png") == (12, 12, 24, 444)
    idat = 8 + 12 + 13  # signature + the IHDR chunk
    assert good[idat + 4 : idat + 8] == b"IDAT"
    (ln,) = struct.unpack_from(">I", good, idat)
    tampered = bytearray(good)
    tampered[idat + 8 + ln] ^= 0x01  # first byte of the IDAT CRC
    with pytest.raises(ValueError, match="CRC mismatch"):
        MM.png_scanlines(bytes(tampered))
    with pytest.raises(ValueError, match="CRC mismatch"):
        MM.decode_real(bytes(tampered), "image/png")


def test_png_filter_unfilter_random_content():
    """Filter/unfilter are inverse bijections on ARBITRARY pixel
    content (not just the constant synthetic rows), for every filter
    type — the decoder's Sub/Up/Average/Paeth arithmetic is real, not
    tuned to the fixture."""
    import random

    rng = random.Random(7)
    stride = 3 * 11
    prev = bytes(stride)
    for ft in (0, 1, 2, 3, 4):
        for _ in range(5):
            raw = bytes(rng.randrange(256) for _ in range(stride))
            filt = MM._png_filter_line(ft, raw, prev, 3)
            assert MM._png_unfilter_line(ft, filt, prev, 3) == raw
            prev = raw


def test_wav_codec_roundtrip_properties():
    """encode→decode identity on fmt fields and every sample; RIFF
    size / signature tampering is rejected rather than misparsed."""
    import numpy as np
    import pytest

    for text in (b"", b"x", b"hello world", b"q" * 321):
        b = MM.encode_wav(text)
        ch, rate, bits, ns = MM.decode_wav_meta(b)
        assert (ch, rate, bits) == (1, MM._WAV_RATE, 16)
        assert ns == MM._wav_n_samples(len(text))
        s = MM.wav_samples(b)
        assert len(s) == ns
        want = np.array([MM._wav_sample(len(text), i) for i in range(ns)])
        assert (np.asarray(s) == want).all()
    assert MM.encode_wav(None) == MM.encode_wav(b"")
    with pytest.raises(ValueError):
        MM.decode_wav_meta(b"RIFX not a wav")
    good = bytearray(MM.encode_wav(b"abc"))
    good[4] ^= 0x01  # corrupt the RIFF size field
    with pytest.raises(ValueError):
        MM.decode_wav_meta(bytes(good))


def test_audio_features_oracle(spark, sf_dir):
    """Windowed energy/peak hash-match the closed-form oracle, and the
    window fan-out is exactly n_samples/256 rows per doc."""
    df = MM.audio_features(spark, sf_dir)
    assert_matches_oracle(df, MM.audio_features_oracle_sql(), sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    want = sum(
        MM._wav_n_samples(len(r["text"].encode()) if r["text"] is not None else 0)
        // MM._WAV_WIN
        for r in docs
    )
    assert df.count() == want


def test_thumbnail_oracle(spark, sf_dir):
    df = MM.thumbnail(spark, sf_dir)
    assert_matches_oracle(df, MM.thumbnail_oracle_sql(), sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert df.count() == n_docs


def test_nn_thumbnail_samples_real_columns():
    """The resize map is a genuine 2D nearest-neighbor sample, not a
    row-constant shortcut: on a gradient image (pixel value = 10·row +
    col) every thumbnail byte equals the value at (j·h//side,
    i·w//side) — asserted cell by cell."""
    w, h, side = 20, 12, 8
    rows = [bytes((10 * r + c // 3) % 256 for c in range(3 * w)) for r in range(h)]
    out = MM.nn_thumbnail(lambda r: rows[r], w, h, side)
    assert len(out) == side * side * 3
    for j in range(side):
        for i in range(side):
            src_r, src_c = j * h // side, i * w // side
            px = out[3 * (j * side + i) : 3 * (j * side + i) + 3]
            assert px == rows[src_r][3 * src_c : 3 * src_c + 3], (j, i)


def test_avi_codec_roundtrip_properties():
    """encode→decode identity on the header tree (avih, strf
    cross-check) and every frame; malformed/mismatched containers are
    rejected rather than misparsed."""
    import pytest

    for text in (b"", b"x", b"hello world", b"v" * 123):
        b = MM.encode_avi(text)
        w, h, nf, usec = MM.decode_avi_meta(b)
        assert (w, h) == MM._bmp_dims(len(text))
        assert nf == MM._avi_n_frames(len(text))
        assert usec == MM._AVI_USEC_PER_FRAME
        rs = MM._bmp_row_size(w)
        for k in range(nf):
            assert MM.avi_frame(b, k) == bytes(
                [MM._avi_frame_byte(len(text), k)]
            ) * (rs * h)
        with pytest.raises(IndexError):
            MM.avi_frame(b, nf)
    assert MM.encode_avi(None) == MM.encode_avi(b"")
    with pytest.raises(ValueError):
        MM.decode_avi_meta(b"RIFF\x00\x00\x00\x00WAVE")
    # corrupt strf width → dimension cross-check must fire
    good = bytearray(MM.encode_avi(b"abc"))
    idx = good.index(b"strf") + 8 + 4  # strf data: biSize then biWidth
    good[idx] ^= 0x01
    with pytest.raises(ValueError):
        MM.decode_avi_meta(bytes(good))


def test_video_frames_oracle(spark, sf_dir):
    df = MM.video_frames(spark, sf_dir)
    assert_matches_oracle(df, MM.video_frames_oracle_sql(), sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert df.count() == n_docs * 4


def test_decode_meta_mixed3_oracle_and_dispatch(spark, sf_dir):
    """All three real image codecs decode one mixed payload column;
    every mime actually appears and routes through decode_real."""
    df = MM.decode_meta_mixed3(spark, sf_dir)
    assert_matches_oracle(df, MM.DECODE_META_MIXED3_SQL, sf_dir)
    mimes = {r["mime"] for r in df.select("mime").distinct().collect()}
    assert mimes == {"image/bmp", "image/png", "image/jpeg"}


def test_png_grayscale_and_rgba_scanlines_exact():
    """r10 PNG breadth: color types 0 (grayscale) and 6 (RGBA) decode
    through the same CRC-verified chunk walk + all-five-filter
    unfilter path with exact scanline content (the filter cycler
    exercises every filter for every channel count)."""
    from flink_project_userbehavioranalysis_spark.operators.multimodal import (
        _bmp_dims,
        _bmp_row_byte,
        decode_png_meta,
        encode_png,
        png_scanlines,
    )

    for ct, ch in ((0, 1), (2, 3), (6, 4)):
        t = b"x" * 123
        w, h = _bmp_dims(123)
        p = encode_png(t, ct)
        assert decode_png_meta(p) == (w, h, 8, ct)
        rows = png_scanlines(p)
        assert len(rows) == h
        for r, row in enumerate(rows):
            assert row == bytes([_bmp_row_byte(123, r)]) * (ch * w), (ct, r)


def test_decode_real_png_breadth_and_mixed6_oracle(spark, sf_dir):
    from flink_project_userbehavioranalysis_spark.operators.multimodal import (
        DECODE_META_MIXED6_SQL,
        _bmp_dims,
        decode_meta_mixed6,
        decode_real,
        encode_png,
    )
    from tests.oracle import assert_matches_oracle

    w, h = _bmp_dims(57)
    assert decode_real(encode_png(b"y" * 57, 0), "image/png") == (
        w, h, 8, (w + 1) * h,
    )
    assert decode_real(encode_png(b"y" * 57, 6), "image/png") == (
        w, h, 32, (4 * w + 1) * h,
    )
    assert_matches_oracle(
        decode_meta_mixed6(spark, sf_dir), DECODE_META_MIXED6_SQL, sf_dir
    )


def test_wav_stereo_and_8bit_decode_exact():
    """r10 WAV breadth: stereo interleave and 8-bit unsigned PCM both
    decode to the exact closed-form signed samples."""
    import numpy as np

    from flink_project_userbehavioranalysis_spark.operators.multimodal import (
        _WAV_CH_SHIFT,
        _wav_n_samples,
        decode_wav_meta,
        encode_wav,
        wav_channel_samples,
    )

    n = 37
    t = b"z" * n
    for ch, bits in ((1, 8), (2, 16), (2, 8)):
        p = encode_wav(t, channels=ch, bits=bits)
        assert decode_wav_meta(p) == (ch, 8000, bits, _wav_n_samples(n))
        sig = wav_channel_samples(p)
        assert sig.shape == (_wav_n_samples(n), ch)
        i = np.arange(_wav_n_samples(n), dtype=np.int64)
        for c in range(ch):
            exp = (n + (i + _WAV_CH_SHIFT * c) * 7) % 251 - 125
            assert np.array_equal(sig[:, c], exp), (ch, bits, c)


def test_audio_features_stereo8_oracle(spark, sf_dir):
    from flink_project_userbehavioranalysis_spark.operators.multimodal import (
        audio_features_stereo8,
        audio_features_stereo8_oracle_sql,
    )
    from tests.oracle import assert_matches_oracle

    assert_matches_oracle(
        audio_features_stereo8(spark, sf_dir),
        audio_features_stereo8_oracle_sql(),
        sf_dir,
    )


def test_spread_contract(spark):
    """io.spread's two-sided contract: (a) a split-starved source fans
    out to the cluster parallelism via ONE explicit round-robin
    Exchange; (b) a source that already has >= parallelism partitions
    passes through IDENTICALLY — no Exchange, because at 100 TB the
    input has plentiful splits and shuffling payload bytes would be
    the real cost. Values are partitioning-invariant either way."""
    par = spark.sparkContext.defaultParallelism

    starved = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "doc_id")
    out = spread(starved)
    assert out.rdd.getNumPartitions() == par
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "roundrobin" in plan.lower()
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(1000))

    plentiful = spark.range(0, 1000, 1, par).withColumnRenamed("id", "doc_id")
    same = spread(plentiful)
    assert same is plentiful  # identity, not a rebuilt frame


def test_gif_roundtrip_oracle(spark, sf_dir):
    """Every doc's GIF roundtrips bit-exactly (odd ids interlaced) and
    the first decoded row maps through the closed-form palette."""
    df = MM.gif_roundtrip(spark, sf_dir)
    assert_matches_oracle(df, MM.GIF_ROUNDTRIP_SQL, sf_dir)
    assert df.filter(~F.col("rows_exact")).count() == 0
    assert df.filter(F.col("interlaced")).count() > 0


def test_decode_meta_mixed7_oracle(spark, sf_dir):
    """Seven encodings in one payload column, each through its real
    parser — GIF rows through the full LZW decode."""
    df = MM.decode_meta_mixed7(spark, sf_dir)
    assert_matches_oracle(df, MM.DECODE_META_MIXED7_SQL, sf_dir)
    assert {r["mime"] for r in df.select("mime").distinct().collect()} == {
        "image/bmp", "image/png", "image/jpeg", "image/gif",
    }


def test_mjpeg_avi_container_properties():
    """MJPEG AVI: header tree declares MJPG, frame chunks are '00dc'
    carrying complete JPEGs whose SOF0 dims match the AVI header."""
    import struct

    from flink_project_userbehavioranalysis_spark.operators.jpeg_codec import (
        decode_jpeg, decode_jpeg_meta,
    )

    for n in [0, 7, 48, 257]:
        b = MM.encode_avi_mjpeg(b"x" * n)
        w, h, nf, usec = MM.decode_avi_meta(b)
        assert (w, h) == MM._bmp_dims(n)
        assert nf == MM._avi_n_frames(n)
        # strf biCompression must be the MJPG fourcc
        assert b"MJPG" in b
        for k in range(nf):
            fr = MM.avi_frame(b, k)
            jw, jh, _prec, ncomp = decode_jpeg_meta(fr)
            assert (jw, jh, ncomp) == (w, h, 1)
            out = decode_jpeg(fr)
            src = MM._mjpeg_frame_image(n, k, w, h)
            import numpy as np

            assert int(np.abs(out.astype(np.int64) - src.astype(np.int64)).max()) <= 4


def test_video_frames_mjpeg_oracle(spark, sf_dir):
    df = MM.video_frames_mjpeg(spark, sf_dir)
    assert_matches_oracle(df, MM.video_frames_mjpeg_oracle_sql(), sf_dir)
    assert df.filter(~F.col("max_err_le_4")).count() == 0


def test_color_jpeg_restart_intervals_cycle_in_every_zoo():
    """The color-JPEG slot of the mixed4, mixed6 and mixed7 zoos emits
    all four restart intervals (no DRI, RSTm every 1, 2 or 3 MCUs) over
    doc_id < 200: the interval cycles on the row's turn in its slot, so
    no zoo length pins it to one value."""
    import struct

    from flink_project_userbehavioranalysis_spark.operators.jpeg_codec import (
        _walk_segments,
    )

    def restart_interval(payload):
        for marker, start, _ln in _walk_segments(payload):
            if marker == 0xFFDD:
                return struct.unpack_from(">H", payload, start)[0]
        return 0

    for zoo in (MM._MIXED4_ZOO, MM._MIXED6_ZOO, MM._MIXED7_ZOO):
        seen = {
            restart_interval(MM._encode_row(zoo, d, b"t" * d)[2])
            for d in range(200)
            if zoo[d % len(zoo)] == "jpeg_color"
        }
        assert seen == {0, 1, 2, 3}, zoo
