"""Multimodal columns: images/audio/video as opaque binary columns with
typed metadata, processed via Arrow-batched ``mapInPandas``.

North-star component (BASELINE.json): a 100 TB training-data pipeline
carries media as ``binary`` columns next to structured metadata. The
Spark-side plumbing — schemas, batch iteration, partition sizing, UDF
signatures — is real and tested. Decoding runs pure-Python codecs
(:mod:`stglib_spark.functions.media`) for BMP / PPM / PGM / PNG images,
PCM WAV audio and uncompressed AVI video; any other payload raises
``UnsupportedMediaError`` at the exact point an external codec
(PIL/ffmpeg) plugs in.

Scale notes: mapInPandas streams Arrow batches — peak memory is one batch
of binary payloads per core, so ``spark.sql.files.maxPartitionBytes`` (and
``maxRecordsPerBatch``) bound executor memory, not file count; feature
outputs are fixed-width arrays so downstream shuffles carry features, not
payloads.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from stglib_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    _capped_join_sides,
    _pigeonhole_block_rows,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: dHash luminance grid (rows × columns): 6 × (11 − 1) gradient bits make
#: the 60-bit hash of the engine's portable-hash convention.
_GRID_H, _GRID_W = 6, 11
#: audio dHash frames: 61 energies → a 60-bit hash.
_AUDIO_FRAMES = 61

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def decode_features(df: DataFrame, feature_dim: int = 64) -> DataFrame:
    """binary column → fixed-width float feature vector via mapInPandas:
    decode (``functions.media.decode_features_real``), then mean-pool.
    Output (media_id, n_bytes, feature[float xD]); an unsupported
    payload raises ``UnsupportedMediaError``."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("feature", ArrayType(FloatType())),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from stglib_spark.functions.media import decode_features_real

        for pdf in batches:
            ids, sizes, feats = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content) if content is not None else b""
                feat = decode_features_real(payload, feature_dim)
                ids.append(mid)
                sizes.append(len(payload))
                feats.append(feat.tolist())
            yield pd.DataFrame(
                {"media_id": ids, "n_bytes": sizes, "feature": feats}
            )

    return df.select("media_id", "content").mapInPandas(fn, out_schema)


def audio_stats(df: DataFrame) -> DataFrame:
    """WAV binary column → per-clip signal statistics via mapInPandas:
    (media_id, n_samples, sample_rate, rms, zero_crossings,
    dominant_freq_hz). The audio-corpus curation filter set — silence /
    clipping gates on RMS, noisiness on zero-crossing count, tonal
    content on the spectral peak (rfft argmax, DC excluded). Kernel:
    functions/media.audio_stats_real (pure-Python RIFF/PCM decode).

    Scale shape: payloads stay inside the Arrow batch — the output is
    six scalars per clip, so downstream shuffles never carry audio
    bytes; peak executor memory is one batch of payloads per core.
    """
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("n_samples", LongType()),
            StructField("sample_rate", IntegerType()),
            StructField("rms", FloatType()),
            StructField("zero_crossings", IntegerType()),
            StructField("dominant_freq_hz", IntegerType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from stglib_spark.functions.media import audio_stats_real

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                payload = bytes(content) if content is not None else b""
                n, rate, rms, zc, dom = audio_stats_real(payload)
                rows.append((mid, n, rate, rms, zc, dom))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_samples",
                    "sample_rate",
                    "rms",
                    "zero_crossings",
                    "dominant_freq_hz",
                ],
            )

    return df.select("media_id", "content").mapInPandas(fn, out_schema)


def sample_video_frames(
    df: DataFrame,
    n_frames: int = 8,
) -> DataFrame:
    """video binary → n_frames evenly-spaced frame features, one row per
    (media_id, frame_idx) — the explode-to-frames shape a video training
    pipeline needs. Decodes uncompressed-DIB AVI natively
    (functions/media.py decode_avi) and mean-pools each sampled frame
    to a 64-float feature; compressed codecs (MJPG/H.264…) raise
    UnsupportedMediaError at the plug point ffmpeg would slot into."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("t_ms", IntegerType()),
            StructField("feature", ArrayType(FloatType())),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from stglib_spark.functions.media import (
            image_features,
            sample_avi_frames,
        )

        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "t_ms": [], "feature": []}
            for mid, content, dur in zip(
                pdf["media_id"], pdf["content"], pdf["duration_ms"]
            ):
                payload = bytes(content) if content is not None else b""
                dur = int(dur) if dur is not None else 1000
                sampled = [
                    (t_ms, image_features(frame, 64))
                    for t_ms, frame in sample_avi_frames(
                        payload, n_frames, duration_ms=dur
                    )
                ]
                for i, (t_ms, feat) in enumerate(sampled):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["t_ms"].append(t_ms)
                    rows["feature"].append(np.asarray(feat, np.float32).tolist())
            yield pd.DataFrame(rows)

    return df.filter(F.col("kind") == "video").select(
        "media_id", "content", "duration_ms"
    ).mapInPandas(fn, out_schema)


def perceptual_hash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Pixel-level dHash per image — the perceptual fingerprint that
    dedupes RE-ENCODED images (same picture, different container /
    byte stream) without an embedding model, which byte-digest exact
    dedup cannot do by construction.

    Kernel (Arrow-batched ``mapInPandas``, payloads never shuffled):
    real codec decode (BMP/PNM/PNG, :mod:`stglib_spark.functions.media`),
    integer grayscale (``(r+g+b)//3``), box-filter downsample to a
    6 × 11 luminance grid (exact integer block means,
    ``sum // (bw·bh)`` — deterministic across engines, unlike float
    area resampling), then the dHash gradient: bit ``gr·10+gc``
    is 1 iff the cell right of ``(gr, gc)`` is strictly brighter. The
    6×11 grid yields 60 bits — the engine's portable-hash
    convention (simhash/hash60), always non-negative in a BIGINT.

    Undecodable / null payloads and images whose dimensions are not
    integer multiples of the grid yield a NULL hash (a production
    deployment would area-resample first; the exact-integer contract
    here is what makes the operator oracle-checkable). Output:
    (id, phash) — 16 bytes/row; at 100 TB every downstream join
    shuffles hashes, never pixels."""
    # the id dtype follows the input (string/int media ids both work —
    # a hardcoded LongType broke a configurable media_id_col)
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("phash", LongType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from stglib_spark.functions.media import (
            decode_bmp,
            decode_png,
            decode_pnm,
            sniff,
        )

        def one(payload: bytes):
            kind = sniff(payload)
            try:
                if kind == "bmp":
                    img = decode_bmp(payload)
                elif kind == "png":
                    img = decode_png(payload)
                elif kind in ("ppm", "pgm", "pnm"):
                    img = decode_pnm(payload)
                else:
                    return None
            except Exception:
                return None
            px = np.asarray(img, dtype=np.int64)
            if px.ndim == 3:  # integer luminance, replayable exactly
                px = (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) // 3
            h, w = px.shape
            if h % _GRID_H or w % _GRID_W:
                return None
            bh, bw = h // _GRID_H, w // _GRID_W
            g = (
                px.reshape(_GRID_H, bh, _GRID_W, bw).sum(axis=(1, 3))
                // (bh * bw)
            )
            bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
            ks = np.arange(_GRID_H * (_GRID_W - 1), dtype=np.int64)
            return int((bits.reshape(-1) << ks).sum())

        for pdf in batches:
            hashes = [
                one(bytes(c)) if c is not None else None
                for c in pdf[content_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "phash": hashes})

    return df.select(id_col, content_col).mapInPandas(fn, out_schema)


def phash_near_pairs(
    hashed: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_col: str = "phash",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """Near-duplicate image pairs from perceptual hashes: the SimHash
    pigeonhole machinery verbatim (``dedup.simhash_near_pairs``) on the
    60-bit dHash — block equi-join candidates (identical 16-bit block
    guaranteed for Hamming ≤ blocks−1), ``bit_count(xor)`` verify,
    NEVER an all-pairs comparison. NULL hashes (undecodable images)
    are dropped before pairing."""
    from stglib_spark.operators.dedup import simhash_near_pairs

    # Lazy-materialize the 16-byte/row hash table: the bucket census
    # prunes the hash payload below its exchange, so the census and
    # pair-join subtrees canonicalize differently and AQE would execute
    # the media decode kernel once PER BRANCH (measured r14: twice per
    # mm_*_neardup query). eager=False keeps the materialization inside
    # the consuming action.
    fps = (
        hashed.filter(F.col(hash_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.col(hash_col).alias("simhash"))
        .localCheckpoint(eager=False)
    )
    pairs = simhash_near_pairs(
        fps, id_col="doc_id", max_hamming=max_hamming, blocks=blocks,
        max_bucket_size=max_bucket_size, observation=observation,
    )
    return pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        "hamming",
    )


def video_phash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-frame perceptual hashes for a video binary column — the
    frame-level extension of :func:`perceptual_hash` that video
    near-dedup builds on (a re-encoded / re-containered clip shares
    its frames' dHashes even when its byte stream is new).

    Kernel (Arrow-batched ``mapInPandas``): real uncompressed-DIB AVI
    decode (:func:`stglib_spark.functions.media.decode_avi` — MJPG and
    external codecs plug in at the same point), then the EXACT
    integer dHash pipeline per frame (grayscale ``//3``, block-mean
    downsample, row gradients, 60-bit pack). Output one row per
    (media_id, frame_idx, phash); undecodable clips or off-grid frames
    emit no rows. Video payloads never shuffle — downstream pairing
    carries 20-byte rows."""
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("frame_idx", IntegerType()),
            StructField("phash", LongType()),
        ]
    )
    ks = np.arange(_GRID_H * (_GRID_W - 1), dtype=np.int64)

    def hash_frame(frame: np.ndarray):
        px = np.asarray(frame, dtype=np.int64)
        if px.ndim == 3:
            px = (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) // 3
        h, w = px.shape
        if h % _GRID_H or w % _GRID_W:
            return None
        bh, bw = h // _GRID_H, w // _GRID_W
        g = px.reshape(_GRID_H, bh, _GRID_W, bw).sum(axis=(1, 3)) // (bh * bw)
        bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
        return int((bits.reshape(-1) << ks).sum())

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from stglib_spark.functions.media import decode_avi

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                if content is None:
                    continue
                try:
                    frames, _fps = decode_avi(bytes(content))
                except Exception:
                    continue
                for fi, frame in enumerate(frames):
                    ph = hash_frame(frame)
                    if ph is None:
                        continue
                    ids.append(mid)
                    idxs.append(fi)
                    hashes.append(ph)
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "phash": hashes}
            )

    return df.select(id_col, content_col).mapInPandas(fn, out_schema)


def video_phash_near_pairs(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """Cross-video near-duplicate pairs from per-frame dHashes: frame
    hashes band into 16-bit pigeonhole blocks, candidate FRAME pairs
    come from the block equi-join restricted to ``vid_a < vid_b``
    (never within one video, never all-pairs), exact Hamming verifies
    each frame pair once (distinct before aggregation — a pair sharing
    k blocks must count once), and videos aggregate to
    (vid_a, vid_b, min_hamming, n_close) over their frame pairs within
    ``max_hamming``. The pigeonhole guarantee makes min_hamming exact:
    any frame pair at Hamming ≤ blocks−1 shares a block, so no
    qualifying pair can be missed; a ``max_hamming`` above blocks−1
    raises ``ValueError`` (``dedup._pigeonhole_block_rows``). Blocks
    whose bucket exceeds ``max_bucket_size`` frames are star reduced on
    the two smallest (vid, frame) members, as in
    ``dedup.simhash_near_pairs``."""
    # lazy-materialize the per-frame hash table: the bucket census and
    # the pair join prune different columns below their exchanges, so
    # without this the video decode kernel executes once per branch
    # (same finding as phash_near_pairs' checkpoint)
    frame_hashes = frame_hashes.localCheckpoint(eager=False)
    stacked = _pigeonhole_block_rows(
        frame_hashes, "phash", blocks, max_hamming, keep=(id_col, "frame_idx")
    ).select(
        F.col(id_col).alias("vid"), F.col("frame_idx").alias("f"),
        "phash", "blk", "bh",
    )
    # members are (vid, frame); a pair must join two different videos
    left, right, cond = _capped_join_sides(
        stacked, ["blk", "bh"], ["vid", "f"], "vid", max_bucket_size,
        observation,
    )
    frame_pairs = left.join(
        right,
        (F.col("l.blk") == F.col("r.blk"))
        & (F.col("l.bh") == F.col("r.bh"))
        & cond,
    ).select(
        F.col("l.vid").alias("vid_a"),
        F.col("l.f").alias("fa"),
        F.col("r.vid").alias("vid_b"),
        F.col("r.f").alias("fb"),
        F.bit_count(
            F.col("l.phash").bitwiseXOR(F.col("r.phash"))
        ).cast("long").alias("hamming"),
    )
    # filter BEFORE distinct (VERDICT r8 #1): hamming is a pure function
    # of the frame pair, so the dedup exchange carries qualifying rows only
    frame_pairs = frame_pairs.filter(F.col("hamming") <= F.lit(max_hamming)).distinct()
    return frame_pairs.groupBy("vid_a", "vid_b").agg(
        F.min("hamming").alias("min_hamming"),
        F.count(F.lit(1)).alias("n_close"),
    )


def audio_phash(media: DataFrame) -> DataFrame:
    """Audio perceptual hash — the acoustic member of the dHash family
    (`perceptual_hash` for images, `video_phash` for frame sets): the
    clip partitions into 61 equal spans (sample i → frame
    (i·61)//n, the exact-integer rule an oracle replays), each
    frame's ENERGY is the integer sum of squared 16-bit PCM codes, and
    bit k of the 60-bit hash is energy[k+1] > energy[k].
    Energy-delta signs survive re-encoding, small clicks, and DC
    offsets the way pixel-gradient signs survive JPEG noise — and a
    constant gain change scales every energy by the same factor, so
    the hash is volume-invariant for exact scaling. Clips shorter than
    61 samples and undecodable payloads hash NULL (dropped
    before pairing, the perceptual_hash convention).

    Pairing reuses `phash_near_pairs` unchanged (pass
    ``hash_col='aphash'``): the SimHash pigeonhole machinery is hash-
    source agnostic. The id column keeps the caller's type (string or
    numeric media ids both work — the family contract
    `perceptual_hash`/`video_phash` honor). Scale shape: decode + hash run inside ONE
    `mapInPandas` projection — audio payloads never shuffle; 16-byte
    (id, hash) rows are all that moves afterwards. 61 frames →
    a 60-bit hash, matching the 60-bit block layout the portable
    pairing path uses."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        from stglib_spark.functions.media import decode_wav

        for pdf in batches:
            ids, hashes = [], []
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                try:
                    x, _rate = decode_wav(bytes(payload))
                    n = len(x)
                    if n < _AUDIO_FRAMES:
                        raise ValueError("clip shorter than frame count")
                    # recover exact PCM codes: decode yields k/32768 in
                    # float32, exact for |k| < 2^24, so round() is k
                    pcm = np.round(
                        x.astype(np.float64) * 32768.0
                    ).astype(np.int64)
                    idx = (np.arange(n, dtype=np.int64) * _AUDIO_FRAMES) // n
                    e = np.zeros(_AUDIO_FRAMES, dtype=np.int64)
                    np.add.at(e, idx, pcm * pcm)
                    bits = (e[1:] > e[:-1]).astype(np.int64)
                    h = int(
                        (bits << np.arange(_AUDIO_FRAMES - 1, dtype=np.int64))
                        .sum()
                    )
                    ids.append(mid)
                    hashes.append(h)
                except Exception:
                    ids.append(mid)
                    hashes.append(None)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "aphash": pd.array(hashes, dtype="Int64"),
                }
            )

    id_type = media.schema["media_id"].dataType.simpleString()
    return media.mapInPandas(fn, f"media_id {id_type}, aphash long")
