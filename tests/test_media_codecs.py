"""Real pure-Python media codecs: BMP/PPM/PGM/WAV round trips with exact
pixel/sample values, resize, feature pooling, and the multimodal
operators' decode path end-to-end through mapInPandas."""

from __future__ import annotations

import numpy as np
import pytest

from stglib_spark.functions.media import (
    UnsupportedMediaError,
    audio_features,
    decode_bmp,
    decode_features_real,
    decode_image,
    decode_pnm,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_wav,
    image_features,
    resize_nearest,
    sniff,
)


def _gradient(h=5, w=7):
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[..., 0] = np.arange(w, dtype=np.uint8)[None, :] * 30
    img[..., 1] = np.arange(h, dtype=np.uint8)[:, None] * 40
    img[..., 2] = 200
    return img


def test_bmp_roundtrip_exact():
    img = _gradient()
    back = decode_bmp(encode_bmp(img))
    np.testing.assert_array_equal(back, img)


def test_bmp_row_padding():
    # width 3 → 9 bytes/row, padded to 12: exercise the pad path
    img = _gradient(4, 3)
    np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)


def test_ppm_roundtrip_exact():
    img = _gradient(3, 4)
    back = decode_pnm(encode_ppm(img))
    np.testing.assert_array_equal(back, img)


def test_pgm_with_comment():
    gray = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    payload = b"P5\n# a comment\n4 3\n255\n" + gray.tobytes()
    np.testing.assert_array_equal(decode_pnm(payload), gray)


def test_wav_roundtrip():
    t = np.arange(800) / 8000.0
    x = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    back, rate = decode_wav(encode_wav(x, 8000))
    assert rate == 8000
    np.testing.assert_allclose(back, x, atol=1e-4)


def test_wav_stereo_averages_to_mono():
    import struct

    left = np.array([0.5, 0.5, -0.5], dtype=np.float32)
    right = np.array([-0.5, 0.5, 0.5], dtype=np.float32)
    inter = np.empty(6, dtype=np.float32)
    inter[0::2], inter[1::2] = left, right
    pcm = (inter * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    mono, _ = decode_wav(payload)
    np.testing.assert_allclose(mono, [0.0, 0.5, 0.0], atol=1e-3)


def test_sniff_and_unsupported():
    assert sniff(encode_bmp(_gradient())) == "bmp"
    assert sniff(encode_wav(np.zeros(4), 8000)) == "wav"
    assert sniff(b"\xff\xd8\xff\xe0rest") == "jpeg"
    # JPEG decodes natively now, but a truncated stream is still an error
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0rest")
    with pytest.raises(UnsupportedMediaError):
        decode_features_real(b"random garbage bytes", 8)


def test_resize_nearest_known_values():
    img = np.array([[0, 10], [20, 30]], dtype=np.uint8)
    out = resize_nearest(img, 4, 4)
    assert out.shape == (4, 4)
    np.testing.assert_array_equal(out[:2, :2], [[0, 0], [0, 0]])
    np.testing.assert_array_equal(out[2:, 2:], [[30, 30], [30, 30]])


def test_image_features_deterministic():
    # constant image → every feature slot equals the gray level / 255
    img = np.full((8, 8, 3), 90, dtype=np.uint8)
    f = image_features(img, 16)
    np.testing.assert_allclose(f, 90 / 255.0, atol=1e-6)
    assert f.dtype == np.float32


def test_audio_features_envelope():
    # first half silent, second half full-scale square → step envelope
    x = np.concatenate([np.zeros(1000), np.ones(1000)]).astype(np.float32)
    f = audio_features(x, 4)
    np.testing.assert_allclose(f, [0.0, 0.0, 1.0, 1.0], atol=1e-3)


def test_decode_features_real_in_spark(spark):
    """Real decode end-to-end: BMP + WAV payloads through
    mapInPandas match the locally-computed features exactly."""
    from stglib_spark.operators.multimodal import decode_features

    img = _gradient(16, 16)
    bmp = encode_bmp(img)
    wav = encode_wav(np.linspace(-0.5, 0.5, 4000).astype(np.float32), 8000)
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(wav))],
        "media_id long, content binary",
    )
    out = {
        r["media_id"]: r
        for r in decode_features(df, feature_dim=16).collect()
    }
    assert out[1]["n_bytes"] == len(bmp)
    np.testing.assert_allclose(
        out[1]["feature"], image_features(img, 16), rtol=1e-6
    )
    x, _ = decode_wav(wav)
    np.testing.assert_allclose(
        out[2]["feature"], audio_features(x, 16), rtol=1e-5
    )


# --------------------------------------------------------------------------
# PNG (zlib DEFLATE) — round trips plus hand-FORWARD-filtered fixtures so
# every unfilter branch (Sub/Up/Average/Paeth) is inverted against an
# independent construction, not the encoder's own filter-0 output.
# --------------------------------------------------------------------------


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _handmade_png(img: np.ndarray, ftypes, ctype=2, plte=None) -> bytes:
    import struct
    import zlib

    h, w = img.shape[:2]
    ch = img.shape[2] if img.ndim == 3 else 1
    flat = img.reshape(h, w * ch).astype(np.int32)
    prev = np.zeros(w * ch, np.int32)
    raw = b""
    for y, ft in enumerate(ftypes):
        cur = flat[y]
        a = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        b = prev
        c = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = cur - a
        elif ft == 2:
            enc = cur - b
        elif ft == 3:
            enc = cur - (a + b) // 2
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            enc = cur - pred
        raw += bytes([ft]) + (enc & 0xFF).astype(np.uint8).tobytes()
        prev = cur
    import struct

    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    )
    if plte is not None:
        out += _png_chunk(b"PLTE", plte.tobytes())
    return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")


def test_png_roundtrip_exact():
    from stglib_spark.functions.media import decode_png, encode_png

    rng = np.random.RandomState(3)
    for shape in [(13, 17, 3), (9, 5)]:
        img = rng.randint(0, 256, shape, dtype=np.uint8)
        out = decode_png(encode_png(img))
        np.testing.assert_array_equal(out, img)
    assert sniff(encode_png(np.zeros((2, 2), np.uint8))) == "png"


def test_png_unfilters_all_filter_types():
    from stglib_spark.functions.media import decode_png

    rng = np.random.RandomState(4)
    img = rng.randint(0, 256, (8, 6, 3), dtype=np.uint8)
    for ftypes in ([1] * 8, [2] * 8, [3] * 8, [4] * 8, [0, 1, 2, 3, 4, 4, 3, 1]):
        got = decode_png(_handmade_png(img, ftypes))
        np.testing.assert_array_equal(got, img)


def test_png_palette_and_alpha_variants():
    from stglib_spark.functions.media import decode_png

    rng = np.random.RandomState(5)
    pal = rng.randint(0, 256, (4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, (5, 7), dtype=np.uint8)
    np.testing.assert_array_equal(
        decode_png(_handmade_png(idx, [0] * 5, ctype=3, plte=pal)), pal[idx]
    )
    rgba = rng.randint(0, 256, (4, 3, 4), dtype=np.uint8)
    np.testing.assert_array_equal(
        decode_png(_handmade_png(rgba, [2] * 4, ctype=6)), rgba[..., :3]
    )
    ga = rng.randint(0, 256, (4, 3, 2), dtype=np.uint8)
    np.testing.assert_array_equal(
        decode_png(_handmade_png(ga, [1] * 4, ctype=4)), ga[..., 0]
    )


def test_png_decode_through_decode_image_and_features():
    from stglib_spark.functions.media import decode_png, encode_png

    img = np.full((8, 8, 3), 131, dtype=np.uint8)
    png = encode_png(img)
    np.testing.assert_array_equal(decode_image(png), img)
    feat = decode_features_real(png, 16)
    np.testing.assert_allclose(feat, np.full(16, 131 / 255.0, np.float32), rtol=1e-6)


def test_png_unsupported_variants_raise():
    import struct
    import zlib

    from stglib_spark.functions.media import decode_png

    # 16-bit depth
    bad = b"\x89PNG\r\n\x1a\n" + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    ) + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 26)) + _png_chunk(b"IEND", b"")
    with pytest.raises(UnsupportedMediaError, match="bit depth"):
        decode_png(bad)
    # interlaced
    bad = b"\x89PNG\r\n\x1a\n" + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    ) + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 14)) + _png_chunk(b"IEND", b"")
    with pytest.raises(UnsupportedMediaError, match="interlaced"):
        decode_png(bad)


# --------------------------------------------------------------------------
# AVI (uncompressed-DIB frames)
# --------------------------------------------------------------------------


def test_avi_roundtrip_exact():
    from stglib_spark.functions.media import decode_avi, encode_avi

    rng = np.random.RandomState(11)
    frames = [rng.randint(0, 256, (6, 10, 3), dtype=np.uint8) for _ in range(5)]
    payload = encode_avi(frames, fps=4.0)
    assert sniff(payload) == "avi"
    out, fps = decode_avi(payload)
    assert fps == pytest.approx(4.0) and len(out) == 5
    for a, b in zip(frames, out):
        np.testing.assert_array_equal(a, b)


def test_avi_frame_sampling_timing():
    from stglib_spark.functions.media import encode_avi, sample_avi_frames

    frames = [np.full((4, 4, 3), 10 * k, np.uint8) for k in range(8)]
    payload = encode_avi(frames, fps=4.0)
    # t = i*500ms, source frame = floor(t*fps) = 2i
    sampled = sample_avi_frames(payload, 4, duration_ms=2000)
    assert [(t, int(f[0, 0, 0])) for t, f in sampled] == [
        (0, 0), (500, 20), (1000, 40), (1500, 60)
    ]
    # container-fps timing when no duration override (8 frames / 4 fps = 2 s)
    sampled = sample_avi_frames(payload, 4)
    assert [t for t, _ in sampled] == [0, 500, 1000, 1500]


def test_avi_compressed_codec_raises():
    import struct

    from stglib_spark.functions.media import decode_avi, encode_avi

    payload = bytearray(encode_avi([np.zeros((2, 2, 3), np.uint8)], fps=2.0))
    i = payload.find(b"strf")
    # biCompression field inside BITMAPINFOHEADER ('H264' — MJPG is
    # supported natively now)
    struct.pack_into("<I", payload, i + 8 + 16, 0x34363248)
    with pytest.raises(UnsupportedMediaError, match="biCompression"):
        decode_avi(bytes(payload))


# --------------------------------------------------------------------------
# Baseline JFIF JPEG (huffman + dequant + iDCT + YCbCr)
# --------------------------------------------------------------------------


def test_jpeg_constant_gray_even_offset_exact():
    """Even offsets from 128 survive the quality-50 round trip exactly:
    quantized DC = (c-128)/2 with ~0.5 float margin at every rounding —
    the invariant the mm_decode_real_jpeg oracle rides."""
    from stglib_spark.functions.media import decode_jpeg, encode_jpeg_baseline

    for c in range(28, 229, 2):
        img = np.full((8, 8, 3), c, np.uint8)
        out = decode_jpeg(encode_jpeg_baseline(img))
        assert out.shape == (8, 8, 3)
        assert (out == c).all(), c


def test_jpeg_roundtrip_error_bounded():
    """Lossy but sane: random noise at q90 within DCT-quantization error,
    smooth gradients at q50 nearly exact, non-multiple-of-8 sizes pad and
    crop correctly."""
    from stglib_spark.functions.media import decode_jpeg, encode_jpeg_baseline

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (24, 17, 3), np.uint8)
    out = decode_jpeg(encode_jpeg_baseline(img, quality=90))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 64 and err.mean() < 12

    x = np.linspace(0, 255, 32)
    grad = np.stack([np.tile(x, (32, 1))] * 3, -1).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_baseline(grad, quality=50))
    assert np.abs(out.astype(int) - grad.astype(int)).max() <= 4


def test_jpeg_dispatch_and_features():
    from stglib_spark.functions.media import (
        decode_features_real,
        decode_image,
        encode_jpeg_baseline,
    )

    payload = encode_jpeg_baseline(np.full((8, 8, 3), 130, np.uint8))
    assert sniff(payload) == "jpeg"
    img = decode_image(payload)
    assert (img == 130).all()
    feats = decode_features_real(payload, 16)
    np.testing.assert_allclose(feats, 130.0 / 255.0, rtol=1e-6)


def test_jpeg_420_subsampled_stream():
    """Hand-built single-MCU 4:2:0 stream (four Y blocks + one Cb + one
    Cr per MCU) exercises the sampling-factor/upsample path the 4:4:4
    encoder never produces."""
    import struct as _struct

    from stglib_spark.functions.media import (
        _HUFF_AC_CHROM,
        _HUFF_AC_LUM,
        _HUFF_DC_CHROM,
        _HUFF_DC_LUM,
        _BitWriter,
        _huff_codes,
        _Q_CHROM,
        _Q_LUM,
        _ZIGZAG,
        decode_jpeg,
    )

    def seg(marker, body):
        return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body

    def dqt(tid, t):
        return seg(0xDB, bytes([tid]) + bytes(t.reshape(-1)[_ZIGZAG].tolist()))

    def dht(tc, th, spec):
        bits, vals = spec
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    # 16x16 image, Y sampling 2x2, chroma 1x1
    sof = seg(
        0xC0,
        bytes([8]) + _struct.pack(">HH", 16, 16) + bytes([3])
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1]),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    dc_lum = _huff_codes(*_HUFF_DC_LUM)
    ac_lum = _huff_codes(*_HUFF_AC_LUM)
    dc_chr = _huff_codes(*_HUFF_DC_CHROM)
    ac_chr = _huff_codes(*_HUFF_AC_CHROM)
    bw = _BitWriter()
    # constant gray c = 128 + 2*10: Y DC diff = +10 for the first block,
    # 0 after; chroma DC 0. Category-coded per T.81.
    first = 10
    bw.write(*dc_lum[first.bit_length()])
    bw.write(first, first.bit_length())
    bw.write(*ac_lum[0x00])  # EOB
    for _ in range(3):
        bw.write(*dc_lum[0])
        bw.write(*ac_lum[0x00])
    for t in (dc_chr, dc_chr):
        bw.write(*t[0])
        bw.write(*ac_chr[0x00])
    scan = bw.flush()
    payload = (
        b"\xff\xd8" + dqt(0, np.clip(_Q_LUM, 1, 255)) + dqt(1, np.clip(_Q_CHROM, 1, 255))
        + dht(0, 0, _HUFF_DC_LUM) + dht(1, 0, _HUFF_AC_LUM)
        + dht(0, 1, _HUFF_DC_CHROM) + dht(1, 1, _HUFF_AC_CHROM)
        + sof + sos + scan + b"\xff\xd9"
    )
    out = decode_jpeg(payload)
    assert out.shape == (16, 16, 3)
    # DC 10 dequantized by q=16 -> 160/8 = +20 around 128
    assert (out == 148).all()


def test_jpeg_progressive_raises():
    from stglib_spark.functions.media import decode_jpeg, encode_jpeg_baseline

    payload = bytearray(encode_jpeg_baseline(np.zeros((8, 8, 3), np.uint8)))
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
    with pytest.raises(UnsupportedMediaError, match="SOF2"):
        decode_jpeg(bytes(payload))


def test_avi_mjpg_roundtrip():
    """MJPG AVI: each frame is a baseline JPEG; constant even-offset
    frames decode exactly, and frame sampling timing is unchanged."""
    from stglib_spark.functions.media import decode_avi, encode_avi

    frames = [np.full((8, 8, 3), v, np.uint8) for v in (10, 100, 200)]
    payload = encode_avi(frames, fps=4.0, codec="MJPG")
    out, fps = decode_avi(payload)
    assert fps == pytest.approx(4.0)
    assert [int(np.unique(f)[0]) for f in out] == [10, 100, 200]


def test_jpeg_multi_scan_rejected():
    """A baseline JPEG whose first SOS covers fewer components than the
    frame declares (a multi-scan file) must raise UnsupportedMediaError
    instead of silently decoding the first scan as if it were all three
    (ADVICE r6)."""
    from stglib_spark.functions.media import (
        UnsupportedMediaError,
        decode_jpeg,
        encode_jpeg_baseline,
    )

    payload = bytearray(
        encode_jpeg_baseline(np.full((8, 8, 3), 130, np.uint8))
    )
    i = bytes(payload).index(b"\xff\xda")
    # 3-component SOS: FFDA Ls=000C Ns=03 (Cs,Tt)x3 Ss Se AhAl -> keep
    # only component 1, shrinking Ls to 8 (the first scan of a
    # non-interleaved multi-scan stream)
    assert payload[i + 2 : i + 5] == b"\x00\x0c\x03"
    comp1 = bytes(payload[i + 5 : i + 7])
    tail = bytes(payload[i + 11 : i + 14])
    patched = (
        bytes(payload[:i])
        + b"\xff\xda\x00\x08\x01" + comp1 + tail
        + bytes(payload[i + 14 :])
    )
    with pytest.raises(UnsupportedMediaError, match="multi-scan"):
        decode_jpeg(patched)
