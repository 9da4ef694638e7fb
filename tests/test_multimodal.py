"""Multimodal plumbing: schemas, mapInPandas batch shapes, determinism,
and the codec seam (unsupported payloads raise at the decode point)."""

from __future__ import annotations

import pytest

from stglib_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_features,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (0, "image", b"\x89PNG-fake-0", "image/png", 640, 480, None),
        (1, "image", b"\x89PNG-fake-1", "image/png", 800, 600, None),
        (2, "audio", b"RIFF-fake", "audio/wav", None, None, 2000),
        (3, "video", b"ftyp-fake", "video/mp4", 1920, 1080, 4000),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _constant_bmp(color: int, w: int = 8, h: int = 8) -> bytes:
    import numpy as np

    from stglib_spark.functions.media import encode_bmp

    return encode_bmp(np.full((h, w, 3), color, np.uint8))


def test_decode_features_contract(spark):
    """Output contract on real BMP payloads: one fixed-width feature row
    per input, n_bytes is the payload length, a constant image's every
    slot is color/255, and equal payloads give equal features."""
    colors = {0: 10, 1: 200, 2: 10}
    payloads = {k: _constant_bmp(c) for k, c in colors.items()}
    df = spark.createDataFrame(
        [
            (k, "image", bytearray(p), "image/bmp", 8, 8, None)
            for k, p in payloads.items()
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in decode_features(df, feature_dim=32).collect()}
    assert set(rows) == {0, 1, 2}
    assert all(len(r.feature) == 32 for r in rows.values())
    assert rows[0].n_bytes == len(payloads[0])
    for k, color in colors.items():
        assert all(abs(x - color / 255.0) < 1e-6 for x in rows[k].feature)
    assert rows[0].feature == rows[2].feature


def test_video_frame_sampling(spark):
    """Frame sampling on a real AVI: only video rows are sampled,
    ``duration_ms`` sets the evenly spaced timestamps, and each sampled
    frame becomes a 64-float feature."""
    import numpy as np

    from stglib_spark.functions.media import encode_avi

    avi = encode_avi(
        [np.full((8, 8, 3), 25 * k, np.uint8) for k in range(4)], fps=1.0
    )
    df = spark.createDataFrame(
        [
            (3, "video", bytearray(avi), "video/avi", 8, 8, 4000),
            (4, "image", bytearray(_constant_bmp(5)), "image/bmp", 8, 8, None),
        ],
        MEDIA_SCHEMA,
    )
    rows = sample_video_frames(df, n_frames=4).orderBy("frame_idx").collect()
    assert len(rows) == 4
    assert {r.media_id for r in rows} == {3}
    assert [r.t_ms for r in rows] == [0, 1000, 2000, 3000]
    for r, color in zip(rows, [0, 25, 50, 75]):
        assert len(r.feature) == 64
        assert all(abs(f - color / 255.0) < 1e-6 for f in r.feature)


def test_real_decode_seam_raises_on_unsupported(spark, media_df):
    """decode_features really decodes BMP/PPM/PGM/PNG/WAV
    (tests/test_media_codecs.py); payloads in no recognized container
    raise at the plug point, naming the supported set."""
    with pytest.raises(Exception) as exc:
        decode_features(media_df).collect()
    msg = str(exc.value)
    assert "UnsupportedMediaError" in msg or "BMP/PPM/PGM/WAV" in msg


def test_video_frame_sampling_real_avi(spark):
    """sample_video_frames really parses the AVI container: constant-color
    frames make every feature slot color/255 exactly."""
    import numpy as np

    from stglib_spark.functions.media import encode_avi

    payload = encode_avi(
        [np.full((8, 8, 3), 10 * k, np.uint8) for k in range(8)], fps=4.0
    )
    df = spark.createDataFrame(
        [(7, "video", bytearray(payload), "video/avi", 8, 8, 2000)],
        MEDIA_SCHEMA,
    )
    rows = (
        sample_video_frames(df, n_frames=4)
        .orderBy("frame_idx")
        .collect()
    )
    assert [(r.frame_idx, r.t_ms) for r in rows] == [
        (0, 0), (1, 500), (2, 1000), (3, 1500)
    ]
    for r, color in zip(rows, [0, 20, 40, 60]):
        assert len(r.feature) == 64
        assert all(abs(f - color / 255.0) < 1e-6 for f in r.feature)


def test_video_real_path_raises_on_non_avi(spark, media_df):
    with pytest.raises(Exception) as exc:
        sample_video_frames(media_df, n_frames=2).collect()
    assert "AVI" in str(exc.value) or "ValueError" in str(exc.value)


def test_audio_stats_sine_golden(spark):
    """audio_stats on a synthesized 5 Hz sine (a=0.25, fs=1000, phase
    pi/7 so no sample lands on a zero): RMS = a/sqrt(2) within 16-bit
    quantization, exactly 10 zero crossings, spectral peak at 5 Hz."""
    import numpy as np

    from stglib_spark.functions.media import encode_wav
    from stglib_spark.operators.multimodal import audio_stats

    n = np.arange(1000)
    wav = encode_wav(0.25 * np.sin(2 * np.pi * 5 * n / 1000 + np.pi / 7), 1000)
    df = spark.createDataFrame([(3, bytearray(wav))], "media_id long, content binary")
    r = audio_stats(df).collect()[0]
    assert (r.media_id, r.n_samples, r.sample_rate) == (3, 1000, 1000)
    assert abs(r.rms - 0.25 / np.sqrt(2)) < 1e-4
    assert r.zero_crossings == 10
    assert r.dominant_freq_hz == 5


def test_audio_stats_empty_payload_raises(spark):
    """A non-WAV payload fails loudly (decode seam), never silently."""
    import pytest as _pytest

    from stglib_spark.operators.multimodal import audio_stats

    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav"))], "media_id long, content binary"
    )
    with _pytest.raises(Exception) as exc:
        audio_stats(df).collect()
    assert "RIFF" in str(exc.value) or "WAVE" in str(exc.value)


def test_perceptual_hash_invariant_across_containers(spark):
    """The whole point of a pixel-level hash: the SAME picture re-encoded
    into different containers (PGM vs BMP vs PNG) must produce the SAME
    60-bit dHash, while undecodable payloads and off-grid dimensions
    yield NULL."""
    import numpy as np

    from stglib_spark.functions.media import encode_bmp, encode_png
    from stglib_spark.operators.multimodal import perceptual_hash

    r = np.arange(12).reshape(12, 1)
    c = np.arange(22).reshape(1, 22)
    gray = ((r * 13 + c * 7) % 256).astype(np.uint8)
    rgb = np.repeat(gray[..., None], 3, axis=2)
    pgm = b"P5\n22 12\n255\n" + gray.tobytes()
    rows = [
        (0, bytearray(pgm)),
        (1, bytearray(encode_bmp(rgb))),
        (2, bytearray(encode_png(rgb))),
        (3, bytearray(b"not an image")),
        (4, None),
        # 10x10: not an integer multiple of the 6x11 grid
        (5, bytearray(b"P5\n10 10\n255\n" + bytes(100))),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r["phash"] for r in perceptual_hash(df).collect()}
    assert got[0] is not None
    assert got[0] == got[1] == got[2], got
    assert got[3] is None and got[4] is None and got[5] is None


def test_perceptual_hash_string_ids(spark):
    """The output id dtype follows the input schema: string media ids
    work."""
    import numpy as np

    from stglib_spark.operators.multimodal import perceptual_hash

    r = np.arange(12).reshape(12, 1)
    c = np.arange(22).reshape(1, 22)
    gray = ((r * 13 + c * 7) % 256).astype(np.uint8)
    pgm = b"P5\n22 12\n255\n" + gray.tobytes()
    df = spark.createDataFrame(
        [("img-a", bytearray(pgm)), ("img-b", None)],
        "media_id string, content binary",
    )
    out = perceptual_hash(df)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "bigint"
    ]
    rows = {r["media_id"]: r["phash"] for r in out.collect()}
    assert rows["img-a"] is not None
    assert rows["img-b"] is None


def test_video_phash_near_pairs_rejects_max_hamming_past_pigeonhole(spark):
    """Hamming ≤ blocks−1 is what guarantees two close frames share a
    block; above it qualifying frame pairs would be silently missed, so
    the operator raises instead of answering."""
    from stglib_spark.operators.multimodal import video_phash_near_pairs

    # frames at Hamming 4: one differing bit in each 16-bit block, so
    # no block is shared and the block join cannot find the pair
    fh = spark.createDataFrame(
        [(1, 0, 0), (2, 0, 1 | 1 << 16 | 1 << 32 | 1 << 48)],
        "media_id long, frame_idx int, phash long",
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        video_phash_near_pairs(fh, max_hamming=4, blocks=4)
    rows = video_phash_near_pairs(fh, max_hamming=4, blocks=8).collect()
    assert [(r.vid_a, r.vid_b, r.min_hamming) for r in rows] == [(1, 2, 4)]
