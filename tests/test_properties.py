"""Property-based invariants (reference test strategy, SURVEY §5:
variance preservation, conversion roundtrips, golden identities).

Pure NumPy kernels get hypothesis-generated inputs; Column-expression
operators get batched seeded-random inputs through one Spark evaluation
per test (hypothesis-per-example with a SparkSession would re-plan per
example).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

G = 9.81


# --------------------------------------------------------------------------
# hypothesis on pure kernels
# --------------------------------------------------------------------------


@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_any_shape(h, w, seed):
    """BMP encode→decode is the identity for any (h, w, 3) uint8 image,
    including widths needing row padding."""
    from stglib_spark.functions.media import decode_bmp, encode_bmp

    img = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)


@given(
    n=st.integers(1, 2000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_any_signal(n, rate, seed):
    """16-bit PCM WAV roundtrip: samples recovered within one quantization
    step, rate exact."""
    from stglib_spark.functions.media import decode_wav, encode_wav

    x = (np.random.RandomState(seed).rand(n).astype(np.float32) * 2 - 1) * 0.99
    back, r = decode_wav(encode_wav(x, rate))
    assert r == rate and len(back) == n
    np.testing.assert_allclose(back, x, atol=1.0 / 32767)


@given(
    nt=st.integers(1, 20),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_nc3_roundtrip_any_1d(nt, seed, tmp_path_factory):
    """Classic-nc3 write→read is the identity for float64/int32/strings
    on a shared time dim, attrs included."""
    from stglib_spark.functions.netcdf3 import read_nc3, write_nc3

    rng = np.random.RandomState(seed)
    d = tmp_path_factory.mktemp("nc3")
    p = str(d / "r.nc")
    f64 = rng.randn(nt)
    i32 = rng.randint(-1000, 1000, nt).astype(np.int32)
    strs = np.array(["s%d" % v for v in rng.randint(0, 99, nt)])
    write_nc3(
        p,
        dims={"time": nt},
        variables={
            "a": {"dims": ("time",), "data": f64, "attrs": {"units": "1"}},
            "b": {"dims": ("time",), "data": i32, "attrs": {}},
            "c": {"dims": ("time",), "data": strs, "attrs": {}},
        },
        global_attrs={"title": "prop"},
    )
    nc = read_nc3(p)
    np.testing.assert_allclose(nc["variables"]["a"]["data"], f64)
    np.testing.assert_array_equal(nc["variables"]["b"]["data"], i32)
    assert list(nc["variables"]["c"]["data"]) == list(strs)
    assert nc["variables"]["a"]["attrs"]["units"] == "1"


@given(
    omega=st.floats(0.15, 3.0),
    h=st.floats(1.0, 200.0),
)
@settings(max_examples=200, deadline=None)
def test_qkfs_satisfies_dispersion_relation(omega, h):
    """qkfs (Wiberg & Sherwood 2009, core/waves.py:988-1007) must return k
    with ω² = g·k·tanh(k·h)."""
    from stglib_spark.operators.waves import qkfs_np

    k = qkfs_np(np.array([omega]), h)[0]
    residual = omega**2 - G * k * np.tanh(k * h)
    assert abs(residual) / omega**2 < 1e-3


@given(
    cutoff_frac=st.floats(0.05, 0.45),
    dc=st.floats(-5.0, 5.0),
    seed=st.integers(0, 2**16),
)
@settings(max_examples=25, deadline=None)
def test_butterworth_lowpass_preserves_dc_kills_nyquist(cutoff_frac, dc, seed):
    """Zero-phase Butterworth (core/filter.py semantics): DC passes
    unchanged; a Nyquist-frequency tone is crushed."""
    from stglib_spark.functions.signal import butter_ba, filtfilt

    n = 512
    nyq_tone = np.cos(np.pi * np.arange(n))  # f = fs/2
    x = dc + nyq_tone
    b, a = butter_ba(4, cutoff_frac)
    y = filtfilt(b, a, x)
    mid = y[100:-100]
    assert np.allclose(mid.mean(), dc, atol=5e-2)
    # Nyquist amplitude reduced by >100× in the interior
    assert np.abs(mid - dc).max() < 1e-2


@given(seed=st.integers(0, 2**32 - 1))
@settings(max_examples=20, deadline=None)
def test_welch_variance_preservation(seed):
    """PUV invariant (test_puv_quick.py): ∫PSD df ≈ time-domain variance."""
    from stglib_spark.functions.signal import welch_psd

    x = np.random.RandomState(seed).randn(4096)
    f, pxx = welch_psd(x, fs=2.0, nperseg=256)
    assert abs(np.trapz(pxx, f) - x.var()) / x.var() < 0.15


@given(
    data=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=40
    ),
    name=st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu")),
        min_size=1,
        max_size=10,
    ),
)
@settings(max_examples=50, deadline=None)
def test_mat5_roundtrip(tmp_path_factory, data, name):
    """Pure-Python MAT5 writer/reader roundtrip (functions/mat5.py)."""
    from stglib_spark.functions.mat5 import loadmat, savemat

    path = str(tmp_path_factory.mktemp("mat") / "t.mat")
    arr = np.asarray(data, dtype=np.float64)
    savemat(path, {name: arr})
    back = loadmat(path)
    np.testing.assert_allclose(np.ravel(back[name]), arr)


@given(
    n=st.integers(16, 200),
    kernel=st.sampled_from([3, 5, 7]),
    seed=st.integers(0, 2**16),
)
@settings(max_examples=30, deadline=None)
def test_medfilt_idempotent_on_monotone(n, kernel, seed):
    """A k-point median filter leaves a monotone ramp unchanged away from
    the zero-padded edges (scipy.signal.medfilt parity property)."""
    from stglib_spark.functions.signal import medfilt

    x = np.linspace(0, 1, n) + seed * 0.0
    y = medfilt(x, kernel)
    half = kernel // 2
    np.testing.assert_allclose(y[half:-half], x[half:-half], atol=1e-12)


# --------------------------------------------------------------------------
# batched seeded-random properties through Spark column expressions
# --------------------------------------------------------------------------


T_NORTEK = [
    [2896 / 4096, 2896 / 4096, 0.0],
    [-2896 / 4096, 2896 / 4096, 0.0],
    [-2896 / 4096, -2896 / 4096, 5792 / 4096],
]


@pytest.mark.parametrize("down", [False, True])
def test_beam_enu_roundtrip_random_attitudes(spark, down):
    """BEAM→ENU→BEAM is identity for any attitude, both orientations
    (test_stglib.py:239-261 roundtrip, generalized to 200 random draws)."""
    from stglib_spark.operators.transforms import (
        beam2enu_columns,
        enu2beam_columns,
    )

    rng = np.random.RandomState(11)
    n = 200
    pdf = pd.DataFrame(
        {
            "h": rng.uniform(0, 360, n),
            "p": rng.uniform(-25, 25, n),
            "r": rng.uniform(-25, 25, n),
            "b1": rng.uniform(-2, 2, n),
            "b2": rng.uniform(-2, 2, n),
            "b3": rng.uniform(-2, 2, n),
        }
    )
    df = spark.createDataFrame(pdf)
    enu = beam2enu_columns(
        [F.col("b1"), F.col("b2"), F.col("b3")],
        F.col("h"), F.col("p"), F.col("r"), T_NORTEK, down,
    )
    mid = df.select(
        "h", "p", "r", "b1", "b2", "b3",
        enu[0].alias("u"), enu[1].alias("v"), enu[2].alias("w"),
    )
    beam = enu2beam_columns(
        [F.col("u"), F.col("v"), F.col("w")],
        F.col("h"), F.col("p"), F.col("r"), T_NORTEK, down,
    )
    got = mid.select(
        "b1", "b2", "b3",
        beam[0].alias("r1"), beam[1].alias("r2"), beam[2].alias("r3"),
    ).toPandas()
    np.testing.assert_allclose(got["r1"], got["b1"], atol=1e-9)
    np.testing.assert_allclose(got["r2"], got["b2"], atol=1e-9)
    np.testing.assert_allclose(got["r3"], got["b3"], atol=1e-9)


def test_spd2uv_roundtrip_random(spark):
    """spd/dir → u/v → spd/dir identity over random draws
    (utils.py:1881-1904 conventions)."""
    from stglib_spark.operators.transforms import spd2uv, uv2spd

    rng = np.random.RandomState(5)
    n = 500
    pdf = pd.DataFrame(
        {"spd": rng.uniform(0.01, 3.0, n), "dir": rng.uniform(0, 360, n)}
    )
    df = spark.createDataFrame(pdf)
    u, v = spd2uv(F.col("spd"), F.col("dir"))
    df2 = df.select("spd", "dir", u.alias("u"), v.alias("v"))
    s2, d2 = uv2spd(F.col("u"), F.col("v"))
    got = df2.select("spd", "dir", s2.alias("s2"), d2.alias("d2")).toPandas()
    np.testing.assert_allclose(got["s2"], got["spd"], rtol=1e-9)
    dd = (got["d2"] - got["dir"] + 180) % 360 - 180
    np.testing.assert_allclose(dd, np.zeros(n), atol=1e-9)


def test_epic_time_codec_roundtrip_random(spark):
    """CF datetime → EPIC (julian day, ms-of-day) → CF datetime is the
    identity for ms-precision timestamps (utils.py:879-929; same
    expressions as the ts_epic_time_codec registry query)."""
    rng = np.random.RandomState(3)
    base = pd.Timestamp("2000-01-01")
    ts = [
        base + pd.Timedelta(seconds=int(s), milliseconds=int(ms))
        for s, ms in zip(rng.randint(0, 10**9, 300), rng.randint(0, 1000, 300))
    ]
    df = spark.createDataFrame(pd.DataFrame({"time": ts}))
    us = F.unix_micros(F.col("time"))
    day_us = F.lit(86400000000).cast("long")
    epic_day = (us / day_us).cast("long") + 2440588
    ms_of_day = ((us % day_us) / 1000).cast("long")
    # decode: (julian day − epoch offset)·day + ms-of-day
    decoded = F.timestamp_micros(
        (F.col("epic_day") - 2440588) * day_us + F.col("time2") * 1000
    )
    enc = df.select(
        "time", epic_day.alias("epic_day"), ms_of_day.alias("time2")
    )
    back = enc.select("time", decoded.alias("rt")).toPandas()
    assert (back["time"] == back["rt"]).all()


def test_hash60_spark_duckdb_parity_random(spark):
    """The portable hash family underpinning the dedup oracles: hash60 in
    Spark (conv(substring(md5,1,15),16,10)) must equal DuckDB's
    ('0x'||substring(md5,1,15))::UBIGINT for arbitrary strings, including
    unicode, whitespace runs, and empties."""
    import duckdb

    from stglib_spark.operators.dedup import hash60

    rng = np.random.RandomState(77)
    alphabet = list("abc XYZ 012 \t\n.,;!?éüñ中文🌊")
    samples = [""] + [
        "".join(rng.choice(alphabet, size=rng.randint(1, 60)))
        for _ in range(300)
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {
        r["s"]: r["h"]
        for r in sdf.select("s", hash60(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for s in samples:
        d = con.execute(
            "select (('0x' || substring(md5(?), 1, 15))::UBIGINT)::BIGINT", [s]
        ).fetchone()[0]
        assert got[s] == d, repr(s)
    con.close()


@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    gray=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_any_shape(h, w, gray, seed):
    """PNG encode→decode is the identity for any uint8 image, gray or RGB."""
    from stglib_spark.functions.media import decode_png, encode_png

    shape = (h, w) if gray else (h, w, 3)
    img = np.random.RandomState(seed).randint(0, 256, shape, dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(img)), img)


@given(
    h=st.integers(1, 8),
    w=st.integers(1, 8),
    nframes=st.integers(1, 6),
    fps=st.sampled_from([2.0, 4.0, 24.0]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_avi_roundtrip_any_shape(h, w, nframes, fps, seed):
    """AVI encode→decode is the identity for any frame stack, including
    widths needing DIB row padding, and preserves fps."""
    from stglib_spark.functions.media import decode_avi, encode_avi

    rng = np.random.RandomState(seed)
    frames = [
        rng.randint(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(nframes)
    ]
    out, got_fps = decode_avi(encode_avi(frames, fps=fps))
    assert got_fps == pytest.approx(fps, rel=1e-4)
    assert len(out) == nframes
    for a, b in zip(frames, out):
        np.testing.assert_array_equal(a, b)


def test_pack_sequences_tiling_random(spark):
    """Property: for ANY document set, the pack spans exactly tile each
    shard's token stream (no gaps, no overlap, pack ids consistent with
    offsets), zero-token docs never appear, and totals are conserved.
    Batched seeded-random input through one Spark evaluation."""
    from stglib_spark.operators import corpus

    rng = np.random.RandomState(7)
    rows = [
        (int(i), " ".join("w" * 1 for _ in range(int(n))) if n else "")
        for i, n in enumerate(rng.randint(0, 40, size=400))
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seq_len = 37
    out = corpus.pack_sequences(df, seq_len=seq_len, n_shards=5).collect()
    n_nonzero = sum(1 for _, t in rows if t)
    assert len(out) == n_nonzero
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.doc_id)
        offset = 0
        for r in rs:
            assert r.start_offset == offset
            assert r.start_pack == r.start_offset // seq_len
            assert r.end_pack == (r.start_offset + r.n_tokens - 1) // seq_len
            assert r.start_pack <= r.end_pack
            offset += r.n_tokens
    total_tokens = sum(r.n_tokens for r in out)
    expected = sum(len(t.split()) for _, t in rows if t.strip())
    assert total_tokens == expected


@given(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
        min_size=2,
        max_size=300,
    ),
    st.sampled_from([1000, 8000, 44100]),
)
@settings(max_examples=40, deadline=None)
def test_audio_stats_real_bounds(samples, rate):
    """audio_stats_real on arbitrary PCM: exact sample/rate accounting,
    RMS within [0, 1], crossing count < n, and the spectral peak below
    Nyquist (rfft argmax excludes DC, bins cap at n//2)."""
    import numpy as np

    from stglib_spark.functions.media import audio_stats_real, encode_wav

    x = np.asarray(samples, dtype=np.float64)
    n, r, rms, zc, dom = audio_stats_real(encode_wav(x, rate))
    assert (n, r) == (len(x), rate)
    assert 0.0 <= rms <= 1.0
    assert 0 <= zc < len(x)
    assert 0 <= dom <= rate // 2 + 1


@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=60, deadline=None)
def test_seq_sq_dists_bit_identical_to_sequential_fold(n, k, d, seed):
    """The Arrow-batch distance kernel must reproduce the HOF fold's
    EXACT accumulation order ((0 + t0) + t1 + ...) per (row, centroid) —
    the property the pq_encode/ivf_assign oracles rest on. A pairwise
    np.sum would fail this on the last ulp."""
    import numpy as np

    from stglib_spark.operators.similarity import _seq_sq_dists

    rng = np.random.default_rng(seed)
    mat = rng.uniform(-10, 10, size=(n, d))
    cb = rng.uniform(-10, 10, size=(k, d))
    got = _seq_sq_dists(mat, cb)
    for r in range(n):
        for c in range(k):
            acc = 0.0
            for i in range(d):
                t = mat[r, i] - cb[c, i]
                acc = acc + t * t
            assert got[r, c] == acc, (r, c)


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=2, max_value=5),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_seq_sq_dists_argmin_matches_lexicographic_tiebreak(n, k, seed):
    """First-minimum argmin over the kernel's distances == the
    (distance, code) lexicographic min of the old native array_min form,
    including on exact ties (duplicated centroids)."""
    import numpy as np

    from stglib_spark.operators.similarity import _seq_sq_dists

    rng = np.random.default_rng(seed)
    d = 4
    cb = rng.uniform(-2, 2, size=(k, d))
    cb[k - 1] = cb[0]  # exact duplicate -> guaranteed distance tie
    mat = rng.uniform(-2, 2, size=(n, d))
    dist = _seq_sq_dists(mat, cb)
    got = np.argmin(dist, axis=1)
    for r in range(n):
        best = min(range(k), key=lambda c: (dist[r, c], c))
        assert got[r] == best
        assert got[r] != k - 1 or dist[r, 0] != dist[r, k - 1]


def test_bucket_cap_star_reduction_properties(spark):
    """Property check for the LSH/pigeonhole bucket-size guard on random
    fingerprint corpora: for ANY cap, (a) capped pairs are a SUBSET of
    the uncapped candidate pairs (star edges are genuine co-bucketed
    candidates), (b) duplicate-cluster connectivity is IDENTICAL, and
    (c) the winnow join, which drops oversize buckets, returns exactly
    the uncapped pairs counted over the fingerprints held by at most
    ``cap`` documents — a subset of the uncapped pairs."""
    import random
    from collections import Counter
    from itertools import combinations

    from stglib_spark.operators.dedup import (
        duplicate_clusters,
        simhash_near_pairs,
        winnow_candidate_pairs,
    )

    rng = random.Random(1789)
    # a few mega-duplicate groups + noise so buckets of many sizes occur
    rows = []
    doc = 0
    for g in range(4):
        base = rng.getrandbits(60)
        for _ in range(rng.randint(2, 12)):
            fp = base ^ (1 << rng.randrange(60) if rng.random() < 0.5 else 0)
            rows.append((doc, fp))
            doc += 1
    for _ in range(20):
        rows.append((doc, rng.getrandbits(60)))
        doc += 1
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")

    full = simhash_near_pairs(fps, max_bucket_size=None)
    full_pairs = {(r["doc_a"], r["doc_b"]) for r in full.collect()}
    clusters_of = lambda pairs_df: {  # noqa: E731
        (r["doc_id"], r["canonical_id"])
        for r in duplicate_clusters(pairs_df.select("doc_a", "doc_b")).collect()
    }
    full_clusters = clusters_of(full)

    for cap in (1, 2, 5, 4096):
        capped = simhash_near_pairs(fps, max_bucket_size=cap)
        capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
        assert capped_pairs <= full_pairs, cap
        assert clusters_of(capped) == full_clusters, cap
        # canonical orientation must survive the second star center
        assert all(a < b for a, b in capped_pairs), cap

    # winnow fingerprints: each doc holds a distinct set drawn from a
    # small pool, so document frequencies span 1 to ~15
    fp_sets = {
        d: set(rng.sample(range(40), rng.randint(1, 12))) for d in range(50)
    }
    fp_df = spark.createDataFrame(
        [(d, fp) for d, fps_ in fp_sets.items() for fp in fps_],
        "doc_id long, fp long",
    )
    doc_freq = Counter(fp for fps_ in fp_sets.values() for fp in fps_)

    def shared_counts(cap):
        holders = {}
        for d, fps_ in fp_sets.items():
            for fp in fps_:
                if cap is None or doc_freq[fp] <= cap:
                    holders.setdefault(fp, []).append(d)
        return Counter(
            pair
            for docs in holders.values()
            for pair in combinations(sorted(docs), 2)
        )

    uncapped = shared_counts(None)
    for cap in (1, 2, 5, 10, 4096):
        got = {
            (r["doc_a"], r["doc_b"]): r["n_shared"]
            for r in winnow_candidate_pairs(
                fp_df, min_shared=1, max_bucket_size=cap
            ).collect()
        }
        assert got == dict(shared_counts(cap)), cap
        assert set(got) <= set(uncapped), cap


def test_star_center_verify_severing_and_second_center_rescue(spark):
    """The documented star-center verify-severing case, constructed
    (VERDICT r10 task #3): an oversize pigeonhole bucket whose MINIMUM
    member is a chance block-collider — it shares a 16-bit block with
    the genuine duplicates (so it co-buckets) but fails the exact
    Hamming verify. A single star center would lose every verified
    edge of the bucket and silently sever the real duplicate pair; with
    TWO centers the second-smallest member is one of the genuine
    duplicates, its star edge verifies, and the cluster survives.
    Severing then requires BOTH centers to be chance colliders — pinned
    by the control at the end, where both are."""
    from stglib_spark.operators.dedup import simhash_near_pairs

    h = 0x0123456789ABCDEF

    def collider(block: int, salt: int) -> int:
        # identical 16-bit `block`, >=4 flipped bits in every other
        # block (Hamming > 3 vs h, so the exact verify rejects it)
        mask = 0
        for b in range(4):
            if b != block:
                mask |= (0xF0F0 ^ (salt << 1)) << (16 * b)
        v = h ^ mask
        return v - (1 << 64) if v >= (1 << 63) else v

    # docs 0..3 = one chance collider per block (each becomes its
    # bucket's minimum), docs 10/11 = real dups. EVERY bucket holding
    # the dup pair also holds a collider, so under cap 2 every such
    # bucket is oversize with a collider as its min.
    rows = [(b, collider(b, b)) for b in range(4)] + [(10, h), (11, h)]
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    k2 = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(
            fps, max_hamming=3, blocks=4, max_bucket_size=2
        ).collect()
    }
    assert k2 == {(10, 11)}, k2  # second center rescues the real pair
    # uncapped control: the pair was genuine
    full = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(fps, max_bucket_size=None).collect()
    }
    assert (10, 11) in full
    # residual caveat: BOTH centers chance colliders -> still severed
    rows2 = [(2 * b, collider(b, b)) for b in range(4)]
    rows2 += [(2 * b + 1, collider(b, b + 7)) for b in range(4)]
    rows2 += [(10, h), (11, h)]
    fps2 = spark.createDataFrame(rows2, "doc_id long, simhash long")
    k2b = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(
            fps2, max_hamming=3, blocks=4, max_bucket_size=3
        ).collect()
    }
    assert not any({a, b} & {10, 11} for a, b in k2b), k2b


def test_video_star_mode_min_n_close_interaction(spark):
    """Pin the star-mode × video_min_n_close recall interaction
    (VERDICT r9 what's-wrong #2 / ADVICE r9): two recall mechanisms
    compose multiplicatively for duplicate clips whose qualifying
    frames all land in oversize pigeonhole buckets.

    Case 1 — three identical clips M < A < B under a cap smaller than
    the bucket: the two star centers are M's and A's frames, so the
    star emits M→A, M→B and A→B frame edges, each of which must clear
    the n_close floor on its own, and all three clips end in one
    cluster.

    Case 2 — rescue by the second center: every bucket containing A
    and B is oversize and every bucket-MIN member is a chance
    block-collider (shares a 16-bit block, fails exact Hamming), so
    every min-center star edge fails verification. The second-smallest
    member is the genuine duplicate A, whose edge to B verifies at
    Hamming 0; the uncapped run proves the pair was real. Severing
    needs both centers to be colliders (SCALE.md)."""
    from stglib_spark.operators.dedup import duplicate_clusters
    from stglib_spark.operators.multimodal import video_phash_near_pairs

    h1 = 0x0123456789ABCDEF
    h2 = 0x0FEDCBA987654321

    # --- case 1: M(0), A(1), B(2) identical 2-frame clips, cap 2
    rows = [
        (vid, f, h)
        for vid in (0, 1, 2)
        for f, h in ((0, h1), (1, h2))
    ]
    fh = spark.createDataFrame(rows, "vid long, frame_idx long, phash long")
    # 2-center star: besides the bucket-min clip 0, the second center
    # (clip 1's frames) adds the direct 1<->2 edge; every edge clears
    # the default floor least(2, frames)=2 -> one cluster
    got2 = {
        (r.vid_a, r.vid_b): r.n_close
        for r in video_phash_near_pairs(
            fh.withColumnRenamed("vid", "media_id"),
            id_col="media_id", max_hamming=3, blocks=4, max_bucket_size=2,
        ).collect()
    }
    assert set(got2) == {(0, 1), (0, 2), (1, 2)}, got2
    assert all(n >= 2 for n in got2.values()), got2
    edges = spark.createDataFrame(
        [(a, b) for (a, b) in got2], "doc_a long, doc_b long"
    )
    clusters = {
        r.doc_id: r.canonical_id
        for r in duplicate_clusters(edges).collect()
    }
    assert clusters == {0: 0, 1: 0, 2: 0}, clusters

    # --- case 2: four chance colliders C0..C3 (one per 16-bit block,
    # Hamming > 3 vs the dup pair), A(4) and B(5) exact dups, 1 frame
    # each, cap 2: every bucket holding A/B is oversize with a
    # collider as its min -> every min-center star edge fails Hamming
    def collider(block: int, salt: int) -> int:
        # keep `block` identical to h1, flip >=4 bits in the others
        mask = 0
        for b in range(4):
            if b != block:
                mask |= (0xF0F0 ^ (salt << 1)) << (16 * b)
        v = h1 ^ mask
        return v - (1 << 64) if v >= (1 << 63) else v  # signed int64

    rows2 = [(i, 0, collider(i, i)) for i in range(4)]
    rows2 += [(4, 0, h1), (5, 0, h1)]
    fh2 = spark.createDataFrame(rows2, "vid long, frame_idx long, phash long")
    # the 2-center star rescues the pair: the second-smallest member of
    # every oversize bucket is genuine duplicate A(4)
    rescued = video_phash_near_pairs(
        fh2.withColumnRenamed("vid", "media_id"),
        id_col="media_id", max_hamming=3, blocks=4, max_bucket_size=2,
    ).collect()
    assert any(
        (r.vid_a, r.vid_b) == (4, 5) and r.min_hamming == 0 for r in rescued
    ), rescued
    # uncapped control: the duplicate was real
    uncapped = video_phash_near_pairs(
        fh2.withColumnRenamed("vid", "media_id"),
        id_col="media_id", max_hamming=3, blocks=4, max_bucket_size=None,
    ).collect()
    assert any((r.vid_a, r.vid_b) == (4, 5) and r.min_hamming == 0
               for r in uncapped), uncapped

    # --- short-clip floor (ADVICE r9): a 1-frame clip pair passes the
    # default gate at least(2, 1, 1) = 1 — replicate run_media_dedup's
    # effective floor arithmetic on the uncapped pair
    one_frame = [r for r in uncapped if (r.vid_a, r.vid_b) == (4, 5)][0]
    assert one_frame.n_close >= min(2, 1, 1)


def test_winnow_span_coverage_random_plants(spark):
    """Winnowing coverage theorem, span-level, over random plants: a
    shared run of length L ≥ k + 2w − 1 has ≥ w+1 interior windows, so
    BOTH documents select ≥ 2 identical (hash, run-relative position)
    fingerprints inside it (each selected key is the minimum of ≤ w
    windows), consecutive interior selections sit ≤ w apart, and
    `winnow_match_spans` (gap = w+k−1 > w) must therefore report, for
    every planted pair, a span with n_fps ≥ 2 on the correct diagonal
    overlapping the run in both docs. Also pins value-set parity
    between the positions producer and the set-only variant on every
    random document."""
    from stglib_spark.operators.dedup import winnow_match_spans
    from stglib_spark.operators.text import (
        winnow_fingerprint_positions,
        winnow_fingerprints,
    )

    k, w = 15, 8
    rng = np.random.RandomState(11)
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz .,"))

    def rand_text(n):
        return "".join(rng.choice(alphabet, n))

    rows, plants = [], {}
    doc_id = 0
    for case in range(12):
        run_len = int(rng.randint(k + 2 * w - 1, 120))
        shared = rand_text(run_len)
        pre_a, pre_b = rand_text(int(rng.randint(0, 80))), rand_text(
            int(rng.randint(0, 80))
        )
        a, b = doc_id, doc_id + 1
        rows.append((a, pre_a + shared + rand_text(int(rng.randint(0, 60)))))
        rows.append((b, pre_b + shared + rand_text(int(rng.randint(0, 60)))))
        # 1-based run starts and the diagonal the span must sit on
        plants[(a, b)] = (len(pre_a) + 1, len(pre_b) + 1, run_len)
        doc_id += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pos = winnow_fingerprint_positions(df, k=k, w=w)
    # value-set parity with the set-only variant
    vals = {
        r.doc_id: set(r.fingerprints)
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    got_vals: dict = {}
    for r in pos.collect():
        got_vals.setdefault(r.doc_id, set()).add(r.fp)
    assert got_vals == {d: v for d, v in vals.items() if v}

    spans = winnow_match_spans(
        pos, k=k, w=w, min_shared=2, max_doc_freq=64
    ).collect()
    by_pair: dict = {}
    for s in spans:
        by_pair.setdefault((s.doc_a, s.doc_b), []).append(s)
    for (a, b), (sa, sb, run_len) in plants.items():
        diag = sa - sb
        cands = [
            s
            for s in by_pair.get((a, b), [])
            if s.start_a - s.start_b == diag
            # overlaps the planted run in doc a (1-based inclusive)
            and s.start_a <= sa + run_len - 1
            and s.end_a >= sa
        ]
        assert cands, (
            f"pair {(a, b)}: no span on diag {diag} overlapping the "
            f"planted run (run_len={run_len}); got {by_pair.get((a, b))}"
        )
        assert max(s.n_fps for s in cands) >= 2


def test_hll_bucket_rank_spark_duckdb_python_parity(spark):
    """The HLL register arithmetic must agree across all three
    implementations for arbitrary strings: Spark's hll_bucket_rank
    columns, the DuckDB oracle's shift/bin replay, and a pure-Python
    bit model (the ground truth for 'leading zeros of the w-bit
    remainder + 1'). Pinning all three kills the two failure modes a
    register mismatch could hide in: engine bin() disagreement and an
    off-by-one in the rank convention."""
    import duckdb
    import hashlib

    from stglib_spark.operators.sketches import hll_bucket_rank

    p = 8
    w = 60 - p
    rng = np.random.RandomState(123)
    alphabet = list("abc XYZ 012 \t\n.,;!?éüñ中文🌊")
    samples = [
        "".join(rng.choice(alphabet, size=rng.randint(1, 40)))
        for _ in range(200)
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], ["s"])
    b, r = hll_bucket_rank(F.col("s"), p, "hll")
    got = {
        row["s"]: (row["b"], row["r"])
        for row in sdf.select("s", b.alias("b"), r.alias("r")).collect()
    }
    con = duckdb.connect()
    mask = (1 << w) - 1
    for s in samples:
        # pure-Python model
        h = int(hashlib.md5(("hll" + s).encode()).hexdigest()[:15], 16)
        rem = h & mask
        py = (h >> w, (w + 1) if rem == 0 else w - rem.bit_length() + 1)
        dd = con.execute(
            f"""SELECT hh >> {w},
                   CASE WHEN (hh & {mask}) = 0 THEN {w + 1}
                        ELSE {w + 1} - length(bin(hh & {mask})) END
            FROM (SELECT (('0x' || substring(md5('hll' || ?), 1, 15))
                          ::UBIGINT)::BIGINT AS hh)""",
            [s],
        ).fetchone()
        assert got[s] == py == tuple(dd), repr(s)
    con.close()


def test_bloom_no_false_negative_property(spark):
    """The Bloom contract under randomized parameters: for random value
    sets, k, and bit-space sizes, EVERY indexed value must probe
    positive — false negatives are structurally impossible, and this
    must hold even at saturating fill factors where false positives
    approach 100%."""
    from stglib_spark.operators.sketches import bloom_bits, bloom_probe

    rng = np.random.RandomState(9)
    for trial in range(4):
        k = int(rng.randint(1, 5))
        m = 64 << int(rng.randint(0, 4))  # 64..512 bits, incl. saturated
        n = int(rng.randint(5, 120))
        vals = [
            (i, f"v{rng.randint(0, 10**9)}_{i}") for i in range(n)
        ]
        df = spark.createDataFrame(vals, "doc_id long, v string")
        bits = bloom_bits(df, "v", k=k, m_bits=m, seed=f"t{trial}")
        hit = {
            r.doc_id: r.bloom_hit
            for r in bloom_probe(
                df, bits, "v", "doc_id", k=k, m_bits=m, seed=f"t{trial}"
            ).collect()
        }
        assert all(hit.values()), (trial, k, m, n)


@settings(max_examples=40, deadline=None)
@given(
    nf=st.integers(6, 24),
    nd=st.integers(3, 12),
    ti=st.integers(1, 23),
    seed=st.integers(0, 10_000),
)
def test_dspec_tail_integrates_to_tailed_fspec(nf, nd, ti, seed):
    """The docstring contract of make_dspec_tail_np: because every
    direction column scales by the SAME (f/f_ti)^-4 ratios, the tailed
    directional spectrum still integrates (over direction, any
    quadrature) to the tail of the integrated 1-D spectrum — i.e.
    tail(integrate(D)) == integrate(tail(D)) whenever the 1-D base row
    is the integral of the dspec base row. Linearity, for ANY spectrum
    shape and cutoff index."""
    from stglib_spark.operators.waves import make_dspec_tail_np, make_tail_np

    rng = np.random.RandomState(seed)
    ti = min(ti, nf - 1)
    f = np.linspace(0.05, 1.0, nf)
    dspec = rng.rand(nf, nd) * 10.0
    w = rng.rand(nd) + 0.1  # arbitrary positive quadrature weights
    fspec = dspec @ w
    lhs = make_tail_np(f, fspec, float(ti))
    rhs = make_dspec_tail_np(f, dspec, float(ti)) @ w
    np.testing.assert_allclose(lhs, rhs, rtol=1e-12)
