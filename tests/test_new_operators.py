"""Unit tests for the velocity-trim, profile, geometry, and sonar
operators added after the first coverage pass."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stglib_spark.operators import physics, profiles, velocity
from stglib_spark.operators.sonar import _interp_regular_2d


def test_interp_regular_2d_exact_nodes():
    theta = np.array([0.0, 10.0, 20.0])
    rng = np.array([1.0, 2.0])
    img = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])
    # at grid nodes the interpolant reproduces the image
    tg = np.array([0.0, 10.0, 20.0, 20.0])
    rg = np.array([1.0, 2.0, 1.0, 2.0])
    out = _interp_regular_2d(tg, rg, theta, rng, img)
    np.testing.assert_allclose(out, [1.0, 4.0, 5.0, 6.0])


def test_interp_regular_2d_midpoint_and_oob():
    theta = np.array([0.0, 10.0])
    rng = np.array([0.0, 1.0])
    img = np.array([[0.0, 1.0], [2.0, 3.0]])
    tg = np.array([5.0, 15.0, -1.0])
    rg = np.array([0.5, 0.5, 0.5])
    out = _interp_regular_2d(tg, rg, theta, rng, img)
    assert out[0] == pytest.approx(1.5)  # mean of 4 corners
    assert np.isnan(out[1]) and np.isnan(out[2])  # outside hull → NaN


def test_trim_vel_water_level_sl(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "bindist": [0.5, 1.0, 1.5, 2.0],
                "P_1ac": [2.0, 2.0, 2.0, 2.0],
                "U": [1.0, 2.0, 3.0, 4.0],
            }
        )
    )
    out = velocity.trim_vel(
        df,
        {
            "orientation": "UP",
            "trim_method": "water level sl",
            "beam_angle": 60.0,  # cos = 0.5 → cutoff = 2*0.5 - 0 = 1.0
            "bin_size": 0.25,
            "trim_surf_bins": 0,
        },
        data_vars=["U"],
    ).orderBy("bindist")
    vals = [r["U"] for r in out.collect()]
    # cutoff = 2·cos(60°) = 1.0000000000000002 in IEEE doubles (same as the
    # reference's np.cos(np.deg2rad(60))), so bindist 1.0 survives too
    assert vals == [1.0, 2.0, None, None]


def test_ragged_index(spark):
    df = spark.createDataFrame(
        [(1, i) for i in range(3)] + [(2, i) for i in range(5)] + [(4, 0)],
        "profile INT, obs INT",
    )
    out = {
        r["profile"]: (r["row_size"], r["row_start"])
        for r in profiles.ragged_index(df).collect()
    }
    assert out == {1: (3, 0), 2: (5, 3), 4: (1, 8)}


def test_boundary_elevation_conventions():
    import pandas as pd

    # column-math check via a tiny local DataFrame is overkill; validate
    # the sign conventions symbolically through the generated expressions
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame(pd.DataFrame({"brange": [2.0]}))
    up = df.select(
        physics.boundary_elevation(
            F.col("brange"),
            {"NAVD88_ref": -1.0, "initial_instrument_height": 0.5, "orientation": "UP"},
        ).alias("b")
    ).collect()[0]["b"]
    down = df.select(
        physics.boundary_elevation(
            F.col("brange"),
            {"WATER_DEPTH": 10.0, "initial_instrument_height": 0.5, "orientation": "DOWN"},
        ).alias("b")
    ).collect()[0]["b"]
    assert up == pytest.approx(-1.0 + 2.0 + 0.5)
    assert down == pytest.approx(10.0 + 2.0 - 0.5)


def test_mean_minf_gate(spark):
    from stglib_spark.operators.aggregations import mean_minf

    df = spark.createDataFrame(
        [(1, 1.0), (1, 3.0), (1, None), (1, None)]
        + [(2, None), (2, None), (2, None), (2, 5.0)],
        "g INT, v DOUBLE",
    )
    out = {
        r["g"]: r["m"]
        for r in df.groupBy("g")
        .agg(mean_minf(F.col("v"), 0.5, F.count(F.lit(1))).alias("m"))
        .collect()
    }
    assert out[1] == pytest.approx(2.0)  # 2 valid of 4, int(4·0.5)=2 → pass
    assert out[2] is None  # 1 valid of 4 < 2 → fill


def test_burst_nan_fill(spark):
    """core/waves.py:1992-2034: nearest-within-tolerance fill, skip bursts
    with too many NaNs, ties prefer the earlier sample."""
    import pyspark.sql.functions as F

    from stglib_spark.operators.timeops import burst_nan_fill

    rows = []
    # burst 0: 10 samples, 1 null at sample 4 (10% < 30%) -> filled from
    # nearest (sample 3 and 5 equidistant -> earlier wins)
    for s in range(10):
        rows.append((0, s, None if s == 4 else float(100 + s)))
    # burst 1: 10 samples, 5 nulls (50% >= 30%) -> untouched
    for s in range(10):
        rows.append((1, s, None if s % 2 == 0 else float(200 + s)))
    # burst 2: nulls at 0,1 (20% < 30%); nearest non-null is sample 2
    rows += [(2, 0, None), (2, 1, None)]
    rows += [(2, s, float(300 + s)) for s in range(2, 10)]
    # burst 3: single null at sample 0, nearest non-null at sample 3
    # (sample gap 3 > tol 2) -> stays null
    rows += [(3, 0, None)]
    rows += [(3, s, float(400 + s)) for s in range(3, 10)]
    df = spark.createDataFrame(rows, "burst INT, sample INT, value DOUBLE")
    out = burst_nan_fill(
        df, "value", tolerance_samples=2, max_nan_frac=0.3
    ).orderBy("burst", "sample")
    got = {(r["burst"], r["sample"]): r["value"] for r in out.collect()}
    assert got[(0, 4)] == 103.0  # tie -> earlier sample 3
    assert got[(1, 0)] is None and got[(1, 2)] is None  # 50% nulls: skip
    assert got[(2, 0)] == 302.0  # distance 2 <= tol
    assert got[(2, 1)] == 302.0  # distance 1 <= tol
    assert got[(3, 0)] is None  # nearest non-null beyond tolerance


def test_fill_vbper(spark):
    from stglib_spark.operators.velocity import fill_vbper

    df = spark.createDataFrame(
        [(1, 5.0, 25.0), (2, 6.0, 15.0), (3, 7.0, 20.0)],
        "id INT, Depth DOUBLE, VbPercentGood DOUBLE",
    )
    out = {r["id"]: r["Depth"] for r in fill_vbper(df, {"vbper_threshold": 20.0}).collect()}
    assert out[1] == 5.0
    assert out[2] is None
    assert out[3] is None  # strictly-greater keep, iq.py:731


def test_simhash_near_pairs_blocks_and_validation(spark):
    """Pigeonhole block join finds pairs within Hamming ≤ blocks−1 and
    rejects parameterizations that would silently lose recall."""
    import pytest as _pytest

    from stglib_spark.operators.dedup import simhash_near_pairs

    fps = spark.createDataFrame(
        [
            (1, 0b1111000011110000),
            (2, 0b1111000011110001),  # hamming 1 from doc 1
            (3, 0b0000111100001111),
        ],
        "doc_id long, simhash long",
    )
    pairs = simhash_near_pairs(fps, max_hamming=3, blocks=4).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [(1, 2, 1)]
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(fps, max_hamming=5, blocks=4)


def test_oversize_bucket_star_reduction_and_observation(spark):
    """VERDICT r8 task #2: a pigeonhole bucket larger than
    ``max_bucket_size`` star reduces — each member pairs with the
    bucket's two smallest members only (still linear output), cluster
    connectivity is identical to the uncapped quadratic join, and the
    capped-member count is surfaced through a Spark Observation (no
    silent caps). The winnow candidate join discards an oversize
    fingerprint bucket entirely, and counts it just the same."""
    from pyspark.sql import Observation

    from stglib_spark.operators.dedup import (
        duplicate_clusters,
        simhash_near_pairs,
        winnow_candidate_pairs,
    )

    # six exact dups (identical fingerprint → one mega-bucket per block)
    # plus an unrelated near-pair in its own small buckets
    rows = [(i, 4660) for i in range(6)] + [
        (10, 131072000000),
        (11, 131072000001),
    ]
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")

    uncapped = simhash_near_pairs(fps, max_bucket_size=None).collect()
    assert len(uncapped) == 16  # 6·5/2 mega-bucket pairs + (10, 11)

    obs = Observation("oversize")
    capped = simhash_near_pairs(fps, max_bucket_size=3, observation=obs)
    got = sorted((r["doc_a"], r["doc_b"], r["hamming"]) for r in capped.collect())
    # star edges: centers 0 and 1 to every greater member, still hamming 0
    assert got == (
        [(0, k, 0) for k in range(1, 6)]
        + [(1, k, 0) for k in range(2, 6)]
        + [(10, 11, 1)]
    )
    assert obs.get["oversize_members"] > 0

    pairs_of = lambda rws: spark.createDataFrame(  # noqa: E731
        [(r["doc_a"], r["doc_b"]) for r in rws], "doc_a long, doc_b long"
    )
    full = {
        (r["doc_id"], r["canonical_id"])
        for r in duplicate_clusters(pairs_of(uncapped)).collect()
    }
    star = {
        (r["doc_id"], r["canonical_id"])
        for r in duplicate_clusters(capped.select("doc_a", "doc_b")).collect()
    }
    assert full == star  # connectivity-equivalent

    # the winnow join drops oversize buckets entirely — and the
    # Observation STILL fires (the per-bucket aggregate stays in the
    # plan as the annotate-join build side): dropping is never silent.
    # Fingerprint 7 is held by six documents, 8 and 9 by docs 10 and 11.
    fp_rows = [(i, 7) for i in range(6)] + [
        (d, fp) for d in (10, 11) for fp in (7, 8, 9)
    ]
    fp_df = spark.createDataFrame(fp_rows, "doc_id long, fp long")
    obs2 = Observation("oversize_drop")
    dropped = winnow_candidate_pairs(
        fp_df, min_shared=1, max_bucket_size=3, observation=obs2
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["n_shared"]) for r in dropped] == [
        (10, 11, 2)
    ]
    assert obs2.get["oversize_members"] == 8
    assert obs2.get["oversize_buckets"] == 1


def test_lsh_oversize_bucket_star_reduction(spark):
    """The MinHash/LSH band self-join honors the same bucket cap: one
    band bucket holding every duplicate of a boilerplate page emits
    member→center star edges (the bucket's two smallest ids) instead
    of m²/2 pairs."""
    from stglib_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same boilerplate page body repeated verbatim") for i in range(8)]
        + [(100, "an entirely different document about spark shuffles")],
        "doc_id long, text string",
    )
    full = minhash_lsh_pairs(docs, max_bucket_size=None).collect()
    assert len(full) == 8 * 7 // 2
    capped = minhash_lsh_pairs(docs, max_bucket_size=4).collect()
    assert sorted((r["doc_a"], r["doc_b"]) for r in capped) == (
        [(0, k) for k in range(1, 8)] + [(1, k) for k in range(2, 8)]
    )


CC_PATHS = ("driver", "distributed")


def _clusters(pairs, path):
    """duplicate_clusters on one of its two paths: ``driver`` is what
    every small test graph selects, ``distributed`` is forced by
    dropping the edge threshold below 0. The path is chosen inside the
    call, so the frame may be collected after the patch is undone."""
    from stglib_spark.operators import dedup

    with pytest.MonkeyPatch.context() as mp:
        if path == "distributed":
            mp.setattr(dedup, "DRIVER_SOLVE_MAX_EDGES", -1)
        return dedup.duplicate_clusters(pairs)


def _cc_map(pairs, path):
    """``{doc_id: canonical_id}`` from `_clusters`."""
    return {
        r["doc_id"]: r["canonical_id"]
        for r in _clusters(pairs, path).collect()
    }


def test_duplicate_clusters_chain_triangle_singleton(spark):
    """Connected components over the duplicate-pair graph, on both
    paths: a 4-node chain (diameter 3, needs >1 propagation round), a
    triangle, and an isolated pair each collapse to the minimum member
    id; non-members never appear."""
    pairs = spark.createDataFrame(
        [
            # chain 10-11-12-13
            (10, 11), (11, 12), (12, 13),
            # triangle 20-21-22
            (20, 21), (21, 22), (20, 22),
            # isolated pair
            (30, 31),
        ],
        "doc_a long, doc_b long",
    )
    for path in CC_PATHS:
        assert _cc_map(pairs, path) == {
            10: 10, 11: 10, 12: 10, 13: 10,
            20: 20, 21: 20, 22: 20,
            30: 30, 31: 30,
        }, path


def test_duplicate_clusters_empty_and_nonconvergence_guard(spark, monkeypatch):
    """Empty pair set returns an empty frame on both paths; on the
    distributed path a graph that needs more FastSV rounds than the
    budget raises instead of returning a wrong partial labelling."""
    from stglib_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    for path in CC_PATHS:
        assert _cc_map(empty, path) == {}, path
        assert _cc_map(chain, path) == {i: 0 for i in range(7)}, path

    path60 = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "DRIVER_SOLVE_MAX_EDGES", -1)
    monkeypatch.setattr(dedup, "MAX_ITERATIONS", 2)
    with pytest.raises(RuntimeError, match="converge in 2 rounds"):
        dedup.duplicate_clusters(path60)


def test_duplicate_clusters_driver_string_ids(spark):
    """Both paths must preserve string ids exactly (content-addressed
    jsonl corpora cluster on hash strings, where a dtype coercion or
    ordering slip would silently re-key the canonical map); the driver
    path returns them through pandas/Arrow."""
    pairs = spark.createDataFrame(
        [("sha-b", "sha-a"), ("sha-c", "sha-b"), ("sha-x", "sha-y")],
        "doc_a string, doc_b string",
    )
    for path in CC_PATHS:
        out = _clusters(pairs, path)
        assert {r["doc_id"]: r["canonical_id"] for r in out.collect()} == {
            "sha-a": "sha-a", "sha-b": "sha-a", "sha-c": "sha-a",
            "sha-x": "sha-x", "sha-y": "sha-x",
        }, path
        assert [f.dataType.simpleString() for f in out.schema] == [
            "string", "string"
        ], path


def test_duplicate_clusters_star_deep_path(spark):
    """A 200-edge path graph (diameter 200) is the pathological case for
    diameter-bound propagation: both paths label every node with the
    path minimum — the driver union-find in one pass, the distributed
    star round plus FastSV pointer jumping (O(log n) rounds) well inside
    the default round budget."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
    )
    for cc_path in CC_PATHS:
        assert _cc_map(path, cc_path) == {i: 0 for i in range(201)}, cc_path


def test_duplicate_ngram_fraction_known_overlap(spark):
    """Two docs sharing one 3-gram score 1/2; an unrelated doc scores 0;
    a short (<3 token) doc degenerates to its whole text as the single
    gram."""
    from stglib_spark.operators.corpus import duplicate_ngram_fraction

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "b c d e"),
            (3, "x y z w"),
            (4, "hi there"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_gram_frac"])
        for r in duplicate_ngram_fraction(docs).collect()
    }
    assert got == {
        1: (2, 1, 0.5),
        2: (2, 1, 0.5),
        3: (2, 0, 0.0),
        4: (1, 0, 0.0),
    }


def test_repetition_stats_multiline_and_empty(spark):
    """dup-line metrics on a synthetic repetitious doc (the parquet corpus
    is single-line, so these paths need their own fixture): a doc with a
    repeated long line, a clean doc, and an empty doc."""
    from stglib_spark.operators.corpus import repetition_stats

    docs = spark.createDataFrame(
        [
            # 3 lines, "spam spam spam" twice (14 chars each), "ok" once
            (1, "spam spam spam\nspam spam spam\nok"),
            (2, "alpha beta\ngamma delta"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = got[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # duplicated mass: 2 lines x 14 chars out of 30 total line chars
    assert r1["dup_line_char_frac"] == pytest.approx(28 / 30, abs=1e-6)
    # 7 tokens, 'spam' x6
    assert r1["top_token_frac"] == pytest.approx(6 / 7, abs=1e-6)
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["n_lines"] == 0 and got[3]["dup_line_char_frac"] == 0.0


def test_stratified_sample_deterministic_and_bounded(spark):
    """Re-running yields the identical sample (hash keys, no rand) and
    per-stratum keep rates track the requested fractions."""
    from stglib_spark.operators.corpus import stratified_sample

    docs = spark.createDataFrame(
        [(i, "x " * (10 if i % 2 else 600)) for i in range(1000)],
        "doc_id long, text string",
    )
    strata = F.when(F.length("text") < 200, "short").otherwise("long")
    a = sorted(
        r["doc_id"]
        for r in stratified_sample(
            docs, strata, {"short": 0.1, "long": 0.9}
        ).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(
            docs, strata, {"short": 0.1, "long": 0.9}
        ).collect()
    )
    assert a == b
    short = sum(1 for i in a if i % 2 == 1)
    long_ = sum(1 for i in a if i % 2 == 0)
    assert 20 <= short <= 80  # 10% of 500 +/- noise
    assert 420 <= long_ <= 480  # 90% of 500 +/- noise
    # different seed -> different membership
    c = sorted(
        r["doc_id"]
        for r in stratified_sample(
            docs, strata, {"short": 0.1, "long": 0.9}, seed="other"
        ).collect()
    )
    assert a != c


def test_redact_pii_placeholders_and_order(spark):
    """Emails, IPs, phones, SSNs become [CATEGORY] placeholders; counts
    come from the original text; an email's digits are not re-matched as
    a phone after redaction."""
    from stglib_spark.operators.corpus import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "write to jane5551234567@corp.io today"),
            (2, "call +1 (555) 123-4567 or 555-123-4567"),
            (3, "host 192.168.0.1 ssn 123-45-6789"),
            (4, "clean document"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 0
    assert got[1]["text_redacted"] == "write to [EMAIL] today"
    assert got[2]["n_phone"] == 2
    assert got[2]["text_redacted"] == "call [PHONE] or [PHONE]"
    assert got[3]["n_ip"] == 1 and got[3]["n_ssn"] == 1
    assert got[3]["text_redacted"] == "host [IP] ssn [SSN]"
    assert got[4]["text_redacted"] == "clean document"
    assert all(got[4][c] == 0 for c in ("n_email", "n_ip", "n_phone", "n_ssn"))


def test_url_domain_stats(spark):
    """Hosts are lowercased, www-stripped, counted by doc and mention."""
    from stglib_spark.operators.corpus import url_domain_stats

    docs = spark.createDataFrame(
        [
            (1, "see https://WWW.Example.COM/a and https://example.com/b"),
            (2, "also http://example.com/c plus https://other.org/x"),
            (3, "no links"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["domain"]: (r["n_docs"], r["n_mentions"])
        for r in url_domain_stats(docs).collect()
    }
    assert got == {"example.com": (2, 3), "other.org": (1, 1)}


def test_duplicate_clusters_auto_paths_agree(spark):
    """The two paths duplicate_clusters picks by edge count — the driver
    union-find and the distributed star round plus FastSV — return the
    identical (doc_id, canonical_id) map on: the mixed fixture (chain,
    triangle, isolated pair, self-loop-only node, edges arriving
    big-id-first), a deep path, a clone-clique (the near-dup topology
    the star round targets), edges with a null endpoint, and seeded
    random graphs with self-loops."""
    import random

    mixed = [
        (10, 11), (11, 12), (12, 13),
        (20, 21), (21, 22), (20, 22),
        (30, 31),
        (40, 40),
        # order-insensitivity: edges arriving big-id-first
        (51, 50), (52, 51),
    ]
    fixtures = [
        mixed,
        # deep path (diameter 60)
        [(i, i + 1) for i in range(60)],
        # clone-clique
        [(a, b) for a in range(50, 60) for b in range(50, 60) if a < b],
        # edges with a null endpoint are ignored
        [(10, 11), (None, 12), (13, None)],
    ]
    rng = random.Random(7)
    for _ in range(3):
        fixtures.append(
            [(rng.randrange(40), rng.randrange(40)) for _ in range(50)]
        )
    for edges in fixtures:
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        driver = _cc_map(pairs, "driver")
        assert driver == _cc_map(pairs, "distributed"), edges
        if edges is mixed:
            assert driver == {
                10: 10, 11: 10, 12: 10, 13: 10,
                20: 20, 21: 20, 22: 20,
                30: 30, 31: 30,
                40: 40,
                50: 50, 51: 50, 52: 50,
            }


def test_duplicate_clusters_hybrid_matches_fastsv(spark):
    """The distributed path (one star-contraction round, then FastSV)
    labels the mixed fixture, a deep path, a clone-clique, random
    graphs, and degenerate inputs identically to FastSV alone on the
    uncontracted edges — including self-loop-only nodes, which the star
    round drops and the final node join keeps as singletons."""
    import random

    from stglib_spark.operators import dedup

    def fastsv(pairs):
        return {
            r["doc_id"]: r["canonical_id"]
            for r in dedup._duplicate_clusters_fastsv(pairs).collect()
        }

    fixtures = [
        # chain + triangle + isolated pair + self-loop-only node
        [(10, 11), (11, 12), (12, 13), (20, 21), (21, 22), (20, 22),
         (30, 31), (40, 40)],
        # deep path (diameter 60)
        [(i, i + 1) for i in range(60)],
        # clone-clique (the near-dup topology the star round targets)
        [(a, b) for a in range(50, 60) for b in range(50, 60) if a < b],
    ]
    rng = random.Random(7)
    for _ in range(3):
        n = 40
        fixtures.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        )
    for edges in fixtures:
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        assert _cc_map(pairs, "distributed") == fastsv(pairs), edges

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert _clusters(empty, "distributed").count() == 0


def test_duplicate_clusters_unlabelled_node_raises(spark, monkeypatch):
    """The distributed path's final label join must not map a node that
    FastSV failed to label onto itself: with one label dropped from the
    FastSV result, the query fails naming the node. A self-loop-only
    node (40) has no FastSV label by design and stays a singleton."""
    from pyspark.sql import functions as F

    from stglib_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (40, 40)], "doc_a long, doc_b long"
    )
    assert _cc_map(pairs, "distributed") == {10: 10, 11: 10, 12: 10, 40: 40}

    fastsv = dedup._duplicate_clusters_fastsv
    monkeypatch.setattr(
        dedup,
        "_duplicate_clusters_fastsv",
        lambda p: fastsv(p).filter(F.col("doc_id") != 12),
    )
    monkeypatch.setattr(dedup, "DRIVER_SOLVE_MAX_EDGES", -1)
    with pytest.raises(Exception, match="no component label for node 12"):
        dedup.duplicate_clusters(pairs).collect()


def test_sql_map_literal_escaping(spark):
    """The SQL-text model maps must survive hostile token content:
    single quotes, backslashes, and non-ASCII all round-trip through
    the F.expr parse (a vocab token like don't or a\\b must not break
    or silently re-key the literal map)."""
    from pyspark.sql import functions as F

    from stglib_spark.operators.text import _sql_map

    entries = [
        ("don't", -1.5),
        ("a\\b", -2.25),
        ("naïve", -3.0),
        ("it's\\'ok", -4.5),
        ("plain", -0.125),
    ]
    m = F.expr(_sql_map(entries))
    row = spark.range(1).select(
        *[F.element_at(m, F.lit(k)).alias(f"v{i}") for i, (k, _) in enumerate(entries)]
    ).collect()[0]
    assert [row[f"v{i}"] for i in range(len(entries))] == [v for _, v in entries]


def test_unigram_scorer_hostile_vocab(spark):
    """End-to-end: a vocabulary containing quote/backslash tokens scores
    documents identically to the hand-computed expectation."""
    import math

    from stglib_spark.operators.text import unigram_logprob_score

    docs = spark.createDataFrame(
        [(1, "don't panic"), (2, "a\\b don't")],
        "doc_id long, text string",
    )
    vocab = [("don't", 3), ("panic", 1), ("a\\b", 4)]
    total = 8.0
    lp = {t: math.log(c / total) for t, c in vocab}
    got = {
        r["doc_id"]: r["mean_logprob"]
        for r in unigram_logprob_score(docs, vocab).collect()
    }
    exp1 = round((lp["don't"] + lp["panic"]) / 2, 6)
    exp2 = round((lp["a\\b"] + lp["don't"]) / 2, 6)
    assert got == {1: exp1, 2: exp2}, got


def test_hist_percentiles_accuracy_and_merge(spark):
    """The fixed-grid histogram percentile must sit within one bin width
    of the exact percentile, and be PARTITION-INVARIANT (the mergeable
    property t-digest lacks): the same data in 1 vs 13 partitions gives
    the bit-identical sketch result."""
    from pyspark.sql import functions as F

    from stglib_spark.operators.sketches import hist_percentiles

    vals = [(i, (i * 37 % 1000) / 1000.0) for i in range(1000)]
    df = spark.createDataFrame(vals, "id long, v double")
    out = hist_percentiles(
        df, "v", None, lo=0.0, hi=1.0, n_bins=256,
        percentiles=(0.5, 0.9, 0.99),
    ).collect()[0]
    import numpy as np

    arr = np.sort([v for _, v in vals])
    width = 1.0 / 256
    for col, p in (("p0_5", 0.5), ("p0_9", 0.9), ("p0_99", 0.99)):
        exact = float(np.quantile(arr, p))
        assert abs(out[col] - exact) <= width, (col, out[col], exact)
    assert out["n"] == 1000

    re13 = hist_percentiles(
        df.repartition(13), "v", None, lo=0.0, hi=1.0, n_bins=256,
        percentiles=(0.5, 0.9, 0.99),
    ).collect()[0]
    assert (re13["p0_5"], re13["p0_9"], re13["p0_99"]) == (
        out["p0_5"], out["p0_9"], out["p0_99"],
    )


def test_incremental_near_dedup_rejects_near_copy(spark):
    """A batch doc that is a near-copy (one token changed) of an indexed
    doc must be rejected with high Jaccard; an unrelated doc must pass."""
    from pyspark.sql import functions as F

    from stglib_spark.operators.dedup import incremental_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    index_docs = spark.createDataFrame(
        [(3, base)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, base.replace("tonight", "today")),  # near-dup
            (11, "completely different content about spark plans"),
        ],
        "doc_id long, text string",
    )
    out = incremental_near_dedup(
        batch, index_docs, num_hashes=32, bands=8, shingle_n=2,
        portable=True, threshold=0.5,
    ).collect()
    rejected = {r["doc_id"]: (r["match_id"], r["jaccard"]) for r in out}
    assert 10 in rejected and rejected[10][0] == 3
    assert rejected[10][1] > 0.8
    assert 11 not in rejected


def test_winnow_fingerprints_reference_and_edges(spark):
    """Winnowing fingerprints (Schleimer et al. 2003) against a
    straightforward per-char reference implementation, including the
    documented edge cases: empty text, text shorter than k, exactly one
    k-gram, fewer k-grams than the window, and byte-identical documents
    producing identical fingerprint sets."""
    from stglib_spark.operators.dedup import winnow_candidate_pairs
    from stglib_spark.operators.text import (
        WINNOW_B,
        WINNOW_M,
        winnow_fingerprints,
    )

    k, w = 15, 8
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 3),
        (2, "abc"),                       # shorter than k
        (3, "exactly-15-char"),           # one k-gram
        (4, "just a few k-grams here"),   # fewer k-grams than w
        (5, ""),
        (6, "the quick brown fox jumps over the lazy dog " * 3),  # dup of 1
        (7, "completely different content with no shared runs at all x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: sorted(r.fingerprints)
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }

    def ref(text):
        cps = [ord(c) for c in text]
        n = len(cps)
        if n < k:
            return []
        hs = []
        for i in range(n - k + 1):
            acc = 0
            for c in cps[i : i + k]:
                acc = (acc * WINNOW_B + c) % WINNOW_M
            hs.append(acc)
        if len(hs) < w:
            return [min(hs)]
        return sorted({min(hs[i : i + w]) for i in range(len(hs) - w + 1)})

    for doc_id, text in rows:
        assert got[doc_id] == ref(text), doc_id
    assert got[1] == got[6] and got[1]  # identical docs -> identical sets
    assert got[2] == [] and got[5] == []
    assert len(got[3]) == 1 and len(got[4]) == 1

    # pairing: the duplicate pair shares every fingerprint; doc 7 pairs
    # with nothing
    pairs = winnow_candidate_pairs(
        winnow_fingerprints(df, k=k, w=w, exploded=True), min_shared=2
    ).collect()
    bym = {(r.doc_a, r.doc_b): r.n_shared for r in pairs}
    assert bym.get((1, 6)) == len(got[1])
    assert not any(7 in p for p in bym)


def test_winnow_match_spans_localize_shared_run(spark):
    """Position-carrying winnowing + span coalescing: a shared
    substring planted at DIFFERENT offsets in two documents must come
    back as one span whose [start, end] covers the planted run in each
    document (up to winnowing's boundary slack: the first/last selected
    gram may sit up to w+k−2 inside the run), value-set parity with the
    set-only variant must hold, and the positions-per-fingerprint cap
    must keep a periodic document from exploding the join."""
    from stglib_spark.operators.dedup import winnow_match_spans
    from stglib_spark.operators.text import (
        winnow_fingerprint_positions,
        winnow_fingerprints,
    )

    k, w = 15, 8
    shared = "an unmistakably duplicated passage of respectable length, " \
             "long enough to select several fingerprints in a row"
    a_pre, b_pre = "alpha " * 10, "omega filler text " * 7
    rows = [
        (1, a_pre + shared + " trailing tail one"),
        (2, b_pre + shared + " other ending entirely"),
        (3, "nothing in common with the others at all, none whatsoever"),
        (4, "ab" * 400),  # periodic: one hash at ~every offset
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pos = winnow_fingerprint_positions(df, k=k, w=w)

    # value-set parity with the set-only variant (coverage contract)
    vals = {
        r.doc_id: set(r.fingerprints)
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    got_vals = {}
    for r in pos.collect():
        got_vals.setdefault(r.doc_id, set()).add(r.fp)
        # pos is a real 1-based offset: the k-gram hash replays there
        text = rows[r.doc_id - 1][1]
        assert 1 <= r.pos <= len(text) - k + 1
    assert got_vals == {d: v for d, v in vals.items() if v}

    spans = winnow_match_spans(pos, k=k, w=w, min_shared=2).collect()
    by_pair = {}
    for s in spans:
        by_pair.setdefault((s.doc_a, s.doc_b), []).append(s)
    assert (1, 2) in by_pair
    assert not any(3 in p for p in by_pair)
    # the (1,2) span localizes the planted run in BOTH documents
    sa, sb = len(a_pre) + 1, len(b_pre) + 1  # 1-based run starts
    run_len = len(shared)
    slack = w + k - 2
    best = max(by_pair[(1, 2)], key=lambda s: s.n_fps)
    assert sa <= best.start_a <= sa + slack
    assert sa + run_len - slack <= best.end_a + 1 <= sa + run_len + k
    # same span, same diagonal: offsets differ by the prefix delta
    assert best.start_b - best.start_a == sb - sa
    assert best.end_b - best.end_a == sb - sa
    # periodic doc: ≤ 16 positions survive per (doc, fp) → no self-pair
    n_pos_doc4 = sum(1 for r in pos.collect() if r.doc_id == 4)
    assert n_pos_doc4 > 16  # the cap is actually being exercised
    assert not any(4 in p for p in by_pair)


def test_cms_sketch_overestimates_and_merges(spark):
    """Count-Min invariants: (a) point estimates are NEVER below the
    true count, and with a deliberately tiny width collisions make
    some estimates strictly larger; (b) sketches are mergeable -- the
    sketch of A union B equals summing A's and B's counter tables."""
    from pyspark.sql import functions as F
    from stglib_spark.operators.sketches import (
        cms_point_estimates,
        cms_sketch,
    )

    vals = (
        ["alpha"] * 30 + ["beta"] * 20 + ["gamma"] * 10
        + [f"noise{i}" for i in range(40)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "tok string")
    truth = {"alpha": 30, "beta": 20, "gamma": 10, "noise7": 1}
    d, w = 3, 8  # tiny width -> guaranteed collisions
    sk = cms_sketch(df, "tok", depth=d, width=w, seed="t")
    est = {
        r.probe: r.cms_est
        for r in cms_point_estimates(
            sk, list(truth), depth=d, width=w, seed="t"
        ).collect()
    }
    assert all(est[k] >= v for k, v in truth.items()), (est, truth)
    assert any(est[k] > v for k, v in truth.items())  # collisions real
    # total counter mass per depth row == n values
    per_d = {
        r.d: r.s
        for r in sk.groupBy("d").agg(F.sum("count").alias("s")).collect()
    }
    assert all(v == len(vals) for v in per_d.values()), per_d

    # mergeability: sum of half-sketches == whole sketch
    a = spark.createDataFrame([(v,) for v in vals[:50]], "tok string")
    b = spark.createDataFrame([(v,) for v in vals[50:]], "tok string")
    merged = (
        cms_sketch(a, "tok", depth=d, width=w, seed="t")
        .unionByName(cms_sketch(b, "tok", depth=d, width=w, seed="t"))
        .groupBy("d", "col")
        .agg(F.sum("count").alias("count"))
    )
    whole = {(r.d, r.col): r["count"] for r in sk.collect()}
    got = {(r.d, r.col): r["count"] for r in merged.collect()}
    assert got == whole


def test_hll_estimate_accuracy_merge_and_lc(spark):
    """HyperLogLog invariants: (a) at p=8 the raw estimate of 1000
    distincts lands within the ~6.5% relative-error regime (generous
    3-sigma bound); (b) registers merge by MAX -- the estimate from two
    half-sketches merged equals the one-shot estimate exactly; (c) a
    small set takes the linear-counting branch (n_zero > 0, raw below
    the 5m/2 threshold) and lands within +-2 of the true count;
    (d) duplicate values never move the registers."""
    from pyspark.sql import functions as F
    from stglib_spark.operators.sketches import hll_estimate, hll_registers

    vals = [f"v{i}" for i in range(1000)] + [f"v{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "tok string")
    one = hll_estimate(hll_registers(df, "tok", p=8), p=8).collect()[0]
    assert abs(one.raw_est - 1000) / 1000 < 0.20, one
    assert one.distinct_est == float(one.raw_est)  # past the LC regime

    # duplicates are invisible: distinct input -> identical registers
    dd = spark.createDataFrame(
        [(f"v{i}",) for i in range(1000)], "tok string"
    )
    same = hll_estimate(hll_registers(dd, "tok", p=8), p=8).collect()[0]
    assert (same.n_zero, same.raw_est) == (one.n_zero, one.raw_est)

    # merge = groupBy MAX over the union of register tables
    a = spark.createDataFrame([(v,) for v in vals[:700]], "tok string")
    b = spark.createDataFrame([(v,) for v in vals[700:]], "tok string")
    merged_regs = (
        hll_registers(a, "tok", p=8)
        .unionByName(hll_registers(b, "tok", p=8))
        .groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    merged = hll_estimate(merged_regs, p=8).collect()[0]
    assert (merged.n_zero, merged.raw_est, merged.distinct_est) == (
        one.n_zero,
        one.raw_est,
        one.distinct_est,
    )

    # linear-counting branch for a small set
    small = spark.createDataFrame(
        [(f"x{i}",) for i in range(30)], "tok string"
    )
    lc = hll_estimate(hll_registers(small, "tok", p=8), p=8).collect()[0]
    assert lc.n_zero > 0 and lc.raw_est <= 640
    assert abs(lc.distinct_est - 30) <= 2, lc

    import pytest as _pytest

    with _pytest.raises(ValueError):
        hll_registers(df, "tok", p=3)
    with _pytest.raises(ValueError):
        hll_estimate(hll_registers(df, "tok", p=6, seed="x"), p=6)


def test_hll_extra_aggs_fused_truth(spark):
    """The r15 one-pass estimate-vs-truth fusion (corpus_hll_distinct):
    (a) a per-bucket count(1) over a pre-distincted input, summed by
    hll_estimate's rollup, equals count_distinct exactly — per group;
    (b) the sketch columns (n_zero/raw_est/distinct_est) are bit-
    identical with and without extra_aggs riding the aggregates;
    (c) extra_aggs=None keeps the legacy column set (no schema drift
    for existing callers)."""
    from pyspark.sql import functions as F
    from stglib_spark.operators.sketches import hll_estimate, hll_registers

    rows = [
        ("a", f"v{i % 37}") for i in range(300)
    ] + [("b", f"w{i % 11}") for i in range(50)] + [("b", None)]
    df = spark.createDataFrame(rows, "g string, tok string")

    dt = df.distinct()
    regs = hll_registers(
        dt, "tok", ["g"], p=8,
        extra_aggs=[F.count(F.lit(1)).alias("__nt")],
    )
    fused = hll_estimate(
        regs, ["g"], p=8,
        extra_aggs=[F.sum("__nt").alias("true_distinct")],
    )
    got = {r.g: r for r in fused.collect()}
    truth = {
        r.g: r.td
        for r in df.groupBy("g")
        .agg(F.count_distinct("tok").alias("td"))
        .collect()
    }
    assert {g: r.true_distinct for g, r in got.items()} == truth

    plain = {
        r.g: r
        for r in hll_estimate(
            hll_registers(df, "tok", ["g"], p=8), ["g"], p=8
        ).collect()
    }
    assert set(plain) == set(got)
    for g in plain:
        assert (
            plain[g].n_zero, plain[g].raw_est, plain[g].distinct_est
        ) == (got[g].n_zero, got[g].raw_est, got[g].distinct_est)
    assert hll_estimate(
        hll_registers(df, "tok", ["g"], p=8), ["g"], p=8
    ).columns == ["g", "n_zero", "raw_est", "distinct_est"]


@pytest.mark.parametrize(
    "aliases",
    [
        ["n_zero"], ["raw_est"], ["distinct_est"], ["g"],
        ["__n_present"], ["__s_present"], ["t", "t"],
    ],
)
def test_hll_extra_aggs_alias_collision_raises(spark, aliases):
    """An ``extra_aggs`` alias that matches an output column, a group
    column, an internal sum or another extra would be silently
    duplicated or dropped from the result; it raises instead."""
    from pyspark.sql import functions as F
    from stglib_spark.operators.sketches import hll_estimate, hll_registers

    df = spark.createDataFrame([("a", "x"), ("b", "y")], "g string, tok string")
    regs = hll_registers(df, "tok", ["g"], p=8)
    with pytest.raises(ValueError, match="collide"):
        hll_estimate(
            regs, ["g"], p=8,
            extra_aggs=[F.max("max_rank").alias(a) for a in aliases],
        )


def test_bloom_filter_no_fn_fp_and_merge(spark):
    """Bloom-filter invariants: (a) NO false negatives ever -- every
    indexed value probes positive; (b) a deliberately tiny bit space
    forces measurable false positives (the gate's documented trade);
    (c) filters over disjoint halves merge by union+distinct into
    exactly the whole filter's bit set; (d) the bit table never
    exceeds m_bits rows."""
    from pyspark.sql import functions as F
    from stglib_spark.operators.sketches import bloom_bits, bloom_probe

    m = 1 << 8  # 256 bits, 100 indexed values * 3 hashes -> dense
    idx = spark.createDataFrame(
        [(i, f"val{i}") for i in range(0, 200, 2)], "doc_id long, v string"
    )
    allr = spark.createDataFrame(
        [(i, f"val{i}") for i in range(200)], "doc_id long, v string"
    )
    bits = bloom_bits(idx, "v", k=3, m_bits=m, seed="t")
    n_bits = bits.count()
    assert 0 < n_bits <= m
    hit = {
        r.doc_id: r.bloom_hit
        for r in bloom_probe(
            allr, bits, "v", "doc_id", k=3, m_bits=m, seed="t"
        ).collect()
    }
    assert all(hit[i] for i in range(0, 200, 2))  # no false negatives
    fps = sum(1 for i in range(1, 200, 2) if hit[i])
    assert fps > 0  # dense filter -> real false positives

    a = bloom_bits(idx.filter("doc_id < 100"), "v", k=3, m_bits=m, seed="t")
    b = bloom_bits(idx.filter("doc_id >= 100"), "v", k=3, m_bits=m, seed="t")
    merged = sorted(
        r.position for r in a.unionByName(b).distinct().collect()
    )
    assert merged == sorted(r.position for r in bits.collect())


def test_kmv_overlap_exact_when_unsaturated_and_estimates(spark):
    """Beyer et al. multiset-op invariants: (a) when the union holds
    fewer than k distinct values the sketch IS the full hash set and
    union/intersection/Jaccard are EXACT; (b) swapping the two sides
    changes nothing (the combined sketch is symmetric); (c) at
    saturation (union >> k) the estimates land within a generous
    3-sigma band of the truth."""
    from stglib_spark.operators.sketches import kmv_overlap

    # 60 + 60 values, 20 shared -> union 100, inter 20, all < k=256
    a = spark.createDataFrame(
        [(f"s{i}",) for i in range(20)] + [(f"a{i}",) for i in range(40)],
        "v string",
    )
    b = spark.createDataFrame(
        [(f"s{i}",) for i in range(20)] + [(f"b{i}",) for i in range(40)],
        "v string",
    )
    r = kmv_overlap(a, b, "v", k=256).collect()[0]
    assert (r.n_kept, r.kth_hash, r.n_inter) == (100, None, 20)
    assert (r.union_est, r.inter_est, r.jaccard_est) == (100.0, 20.0, 0.2)
    r2 = kmv_overlap(b, a, "v", k=256).collect()[0]
    assert r == r2

    # saturated: union 3000, inter 1000
    big_a = spark.createDataFrame(
        [(f"x{i}",) for i in range(2000)], "v string"
    )
    big_b = spark.createDataFrame(
        [(f"x{i}",) for i in range(1000, 3000)], "v string"
    )
    s = kmv_overlap(big_a, big_b, "v", k=256).collect()[0]
    assert s.n_kept == 256 and s.kth_hash is not None
    assert abs(s.union_est - 3000) / 3000 < 0.25, s
    assert abs(s.jaccard_est - 1000 / 3000) < 0.12, s
    assert abs(s.inter_est - 1000) / 1000 < 0.45, s


def test_token_freq_spectrum_partitions_vocabulary(spark):
    """The spectrum is a partition of the vocabulary: sum(n_types) =
    distinct tokens, sum(n_occurrences) = total tokens, occ_share sums
    to ~1, and the overflow bucket (max_f+1) holds exactly the tokens
    above max_f."""
    from pyspark.sql import functions as F
    from stglib_spark.operators.corpus import token_freq_spectrum

    # 1 token x20, 2 tokens x5, 3 hapaxes
    text = " ".join(["zz"] * 20 + ["aa"] * 5 + ["bb"] * 5 + ["x", "y", "w"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = {r.freq: r for r in token_freq_spectrum(df, max_f=10).collect()}
    assert rows[1].n_types == 3 and rows[1].n_occurrences == 3
    assert rows[5].n_types == 2 and rows[5].n_occurrences == 10
    assert rows[11].n_types == 1 and rows[11].n_occurrences == 20
    assert sum(r.n_types for r in rows.values()) == 6
    assert sum(r.n_occurrences for r in rows.values()) == 33
    assert abs(sum(r.occ_share for r in rows.values()) - 1.0) < 1e-5


def test_audio_phash_invariance_and_null_handling(spark):
    """Audio dHash invariants: (a) an exact 2x gain change scales every
    frame energy by 4 and leaves the hash IDENTICAL; (b) a one-code
    click leaves planted pairs within Hamming 3 of each other;
    (c) undecodable payloads and too-short clips hash NULL and are
    dropped by the pairing stage."""
    import numpy as np

    from stglib_spark.functions.media import encode_wav
    from stglib_spark.operators.multimodal import audio_phash, phash_near_pairs

    s = np.arange(1000)
    v = (((s * 13 + 7) % 97) - 48).astype(np.float64)
    rows = [
        (0, encode_wav(v / 32768.0, 8000)),
        (1, encode_wav(2 * v / 32768.0, 8000)),      # exact 2x gain
        (2, encode_wav((v + np.eye(1000)[17] * 1)[0:1000] / 32768.0, 8000)),
        (3, b"not a wav"),
        (4, encode_wav(v[:10] / 32768.0, 8000)),      # shorter than frames
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    hashed = {r.media_id: r.aphash for r in audio_phash(df).collect()}
    assert hashed[0] is not None and hashed[0] == hashed[1]  # gain-invariant
    assert hashed[3] is None and hashed[4] is None
    assert bin(hashed[0] ^ hashed[2]).count("1") <= 3  # click stays close

    pairs = phash_near_pairs(
        df.sparkSession.createDataFrame(
            [(k, h) for k, h in hashed.items()], "media_id long, aphash long"
        ),
        max_hamming=3,
        blocks=4,
        hash_col="aphash",
    ).collect()
    ids_in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert {0, 1} <= ids_in_pairs and 3 not in ids_in_pairs and 4 not in ids_in_pairs


def test_bloom_probe_duplicate_probe_rows_no_false_negative(spark):
    """Regression: a doc_id appearing in MULTIPLE probe rows must still
    probe positive when its value is indexed — the verdict runs over
    the distinct (id, position) set, so duplicate rows cannot
    double-count matches into a spurious miss, and n_hit_bits stays
    within 0..k."""
    from stglib_spark.operators.sketches import bloom_bits, bloom_probe

    idx = spark.createDataFrame([(0, "hello")], "doc_id long, v string")
    bits = bloom_bits(idx, "v", k=3, m_bits=1 << 12, seed="t")
    probes = spark.createDataFrame(
        [(0, "hello"), (0, "hello"), (1, "absent")],
        "doc_id long, v string",
    )
    rows = {
        r.doc_id: r
        for r in bloom_probe(
            probes, bits, "v", "doc_id", k=3, m_bits=1 << 12, seed="t"
        ).collect()
    }
    assert rows[0].bloom_hit and rows[0].n_hit_bits <= 3
    assert not rows[1].bloom_hit


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short document embedded whole inside a long one: containment_a
    reads ~1 while symmetric Jaccard on the same pair sits far below
    any dedup threshold -- the near-superset case the asymmetric
    verifier exists for. Also pins the threshold gate (an unrelated
    pair drops) and the no-candidates-no-crossjoin contract (only fed
    pairs are scored)."""
    from pyspark.sql import functions as F
    from stglib_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog near the river"
    long_ = short + " " + " ".join(f"filler{i} word{i*7%13}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "completely unrelated text here")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    cont = {
        (r.doc_a, r.doc_b): (r.containment_a, r.containment_b)
        for r in containment_pairs(
            docs, candidate_pairs=cands, shingle_n=1, threshold=0.8
        ).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)][0] == 1.0  # fully contained
    assert (1, 3) not in cont  # unrelated pair gated out
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, candidate_pairs=cands, shingle_n=1
        ).collect()
    }
    assert jac[(1, 2)] < 0.2  # Jaccard would never flag the pair


def test_script_counts_plan_is_single_projection(spark):
    """script_counts stays a pure codegen'd projection — no shuffle, no
    UDF, scan speed at 100 TB."""
    from stglib_spark.operators.text import script_counts
    from stglib_spark.session import load_table

    df = script_counts(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    plan = df._jdf.queryExecution().simpleString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_average_tide_bursts_matches_reference_pad_semantics(spark):
    """Replay the reference's avg_tide_bursts loop (sg/cdf2nc.py:149-196:
    NaN-pad each burst to ceil(SGBurstDuration/interval)*cols, np.mean —
    NOT nanmean — over the first values_avg samples of every window)
    in numpy and demand bit-identical output, including NaN windows from
    (a) a slice that runs into the padding, (b) fully-padded trailing
    windows, (c) a QA/QC-nulled sample inside the slice."""
    import math

    from stglib_spark.operators.timeops import average_tide_bursts

    rng = np.random.default_rng(7)
    for nsamps, interval, duration, burst_dur, rate, kill in [
        (250, 60.0, 30.0, 300.0, 1.0, (1, 70)),   # non-multiple + null
        (240, 60.0, 30.0, 240.0, 1.0, None),      # exact-multiple happy path
        (100, 60.0, 30.0, 300.0, 1.0, None),      # trailing windows all pad
        (120, 30.0, 40.0, 120.0, 1.0, None),      # duration > interval
        (200, 50.0, 25.0, 180.0, 2.0, (0, 3)),    # 2 Hz, null in window 0
    ]:
        n_bursts = 3
        t0 = 1622505600.0
        burst_gap = 3600.0
        data = rng.normal(size=(n_bursts, nsamps))
        if kill is not None:
            data[kill] = np.nan

        # --- reference replay (pad + reshape + np.mean over slice) ---
        cols = int(interval * rate)
        rows_per = math.ceil(burst_dur / interval)
        values_avg = int(duration * rate)
        expected = {}
        for b in range(n_bursts):
            no_pads = rows_per * cols - nsamps
            padded = np.pad(
                data[b], (0, no_pads), mode="constant",
                constant_values=np.nan,
            ).reshape(rows_per, cols)
            for j in range(rows_per):
                ts = t0 + b * burst_gap + j * interval
                expected[ts] = np.mean(padded[j, slice(0, values_avg)])

        # --- Spark ---
        recs = []
        for b in range(n_bursts):
            for i in range(nsamps):
                v = data[b, i]
                recs.append(
                    (t0 + b * burst_gap, i, None if np.isnan(v) else float(v))
                )
        df = spark.createDataFrame(
            recs, "burst_epoch double, sample long, P_1 double"
        ).select(
            F.timestamp_seconds("burst_epoch").alias("burst_time"),
            "sample",
            "P_1",
        )
        out = average_tide_bursts(
            df,
            interval_seconds=interval,
            duration_seconds=duration,
            sample_rate_hz=rate,
            value_cols=["P_1"],
            burst_duration_seconds=burst_dur,
        )
        got = {
            r["time"].timestamp(): r["P_1"] for r in out.collect()
        }
        assert set(got) == set(expected), (nsamps, interval)
        for ts, exp in expected.items():
            g = got[ts]
            if np.isnan(exp):
                assert g is None, (nsamps, interval, ts, g)
            else:
                # np.mean pairwise-sums, Spark avg sequential-sums — the
                # association differs at ~1 ulp on random doubles; the
                # NaN-ness and grid are the semantics under test
                assert g == pytest.approx(exp, rel=1e-12), (
                    nsamps, interval, ts, g, exp,
                )


# --- sonar sweep-average product (son/cdf2nc.py:103-131, r14) ---------------


def _sweep_fixture_rows():
    """(time, sweep, scan) cube with one poisoned heading and a null
    image element; angles on the 360/16384 vendor grid."""
    rows = []
    for t in range(2):
        for sw in range(1, 4):
            for sc in range(1, 3):
                hdg = (
                    None
                    if (t == 1 and sw == 2 and sc == 1)
                    else ((1000 + 311 * sw + 7 * sc) % 16384) * 360.0 / 16384
                )
                img = [
                    None if (sw == 3 and j == 2) else float(sw * 10 + j)
                    for j in range(4)
                ]
                rows.append(
                    (
                        t,
                        sw,
                        sc,
                        600 + 10 * t + sc + sw,
                        700 + 5 * t + sw,
                        hdg,
                        float(3 * sw + sc),
                        img,
                    )
                )
    return rows


def test_average_sweeps_reference_replay(spark):
    """Numpy replay of son/cdf2nc.py:103-131: xarray mean (skipna) for
    plain vars and per image element, vector_avg_angles with np.mean
    POISONING for headings, Head/Sonar angles recomputed at 0.3°/count
    from the AVERAGED positions."""
    from stglib_spark.operators.sonar import average_sweeps

    rows = _sweep_fixture_rows()
    df = spark.createDataFrame(
        rows,
        "t int, sweep int, scan int, HeadPosition int, SonarPosition int,"
        " Hdg_1215 double, Ptch_1216 double, sonar_image array<double>",
    )
    out = (
        average_sweeps(df, time_col="t")
        .orderBy("t", "scan")
        .toPandas()
        .set_index(["t", "scan"])
    )
    by_group: dict = {}
    for (t, sw, sc, hp, sp, hdg, ptch, img) in rows:
        by_group.setdefault((t, sc), []).append((hp, sp, hdg, ptch, img))
    for (t, sc), grp in by_group.items():
        hps = np.array([g[0] for g in grp], dtype=float)
        sps = np.array([g[1] for g in grp], dtype=float)
        hdgs = np.array(
            [np.nan if g[2] is None else g[2] for g in grp], dtype=float
        )
        r = out.loc[(t, sc)]
        np.testing.assert_allclose(r["HeadPosition"], hps.mean())
        # cdf2nc.py:109-110: recomputed, hard-coded 0.3
        np.testing.assert_allclose(r["HeadAngle"], 0.3 * (hps.mean() - 600))
        np.testing.assert_allclose(r["SonarAngle"], 0.3 * (sps.mean() - 600))
        # vector_avg_angles (cdf2nc.py:185-212): plain np.mean — NaN poisons
        a = np.radians(hdgs)
        expect = (
            np.degrees(np.arctan2(np.mean(np.sin(a)), np.mean(np.cos(a))))
            % 360
        )
        if np.isnan(expect):
            assert np.isnan(r["Hdg_1215"])
        else:
            np.testing.assert_allclose(r["Hdg_1215"], expect, rtol=1e-12)
        # image: xarray mean over sweep = per-element nanmean
        cube = np.array(
            [[np.nan if v is None else v for v in g[4]] for g in grp]
        )
        np.testing.assert_allclose(
            np.asarray(r["sonar_image"], dtype=float),
            np.nanmean(cube, axis=0),
        )


def test_correct_theta_matches_reference(spark):
    """son/cdf2nc.py:153-169: θ = deg2rad((−HeadAngle+90+(360−Hdg)) % 360)."""
    from stglib_spark.operators.sonar import correct_theta

    df = spark.createDataFrame(
        [(0.0, 35.0), (123.9, 359.9), (-30.0, 0.1)], "ha double, hdg double"
    )
    got = [
        r[0]
        for r in df.select(
            correct_theta(F.col("ha"), F.col("hdg"))
        ).collect()
    ]
    for (ha, hdg), g in zip([(0.0, 35.0), (123.9, 359.9), (-30.0, 0.1)], got):
        np.testing.assert_allclose(
            g, np.deg2rad((-ha + 90 + (360 - hdg)) % 360), rtol=1e-12
        )


def test_magvar_correct_heading_rounds_first(spark):
    """son/cdf2nc.py:136-150: heading+magvar ROUNDED to 1 dp, then %360."""
    from stglib_spark.operators.sonar import magvar_correct_heading

    df = spark.createDataFrame([(21.97265625,), (359.96,)], "h double")
    got = [
        r[0]
        for r in df.select(
            magvar_correct_heading(F.col("h"), 13.0)
        ).collect()
    ]
    np.testing.assert_allclose(got[0], round(21.97265625 + 13.0, 1) % 360)
    np.testing.assert_allclose(got[1], round(359.96 + 13.0, 1) % 360)


def test_assign_sweep_sets_trims_and_stamps(spark):
    """raw2cdf.py:145-205: basename[6:8] = sweep id, basename[:-6] =
    set; trailing files beyond whole sets are trimmed; each set is
    stamped with its first file's clock; sweeps dense-rank 1..n."""
    import os
    import tempfile

    from stglib_spark.sources.son import assign_sweep_sets, read_81r, write_81r

    d = tempfile.mkdtemp()
    for setc, clock in (("01", "2021063000.00"), ("02", "2021073015.50")):
        for sw in ("aa", "bb", "cc"):
            write_81r(
                os.path.join(d, f"0615{setc}{sw}.81R"),
                [dict(head_position=601, sonar_position=700, clock=clock)],
            )
    # one incomplete trailing set — must be trimmed
    write_81r(
        os.path.join(d, "061503aa.81R"),
        [dict(head_position=999, sonar_position=700, clock="2021083000.00")],
    )
    out = assign_sweep_sets(read_81r(spark, d)).toPandas()
    assert len(out) == 6
    assert 999 not in set(out["HeadPosition"])
    stamps = sorted(str(t) for t in out["time"].unique())
    assert stamps == ["2021-06-15 06:30:00", "2021-06-15 07:30:15.500000"]
    assert sorted(out["sweep"].unique()) == [1, 2, 3]


def test_interpolate_na_time_linear_no_extrapolate(spark):
    """xarray interpolate_na(dim='time') defaults (son/cdf2nc.py:27):
    interior nulls take the time-weighted blend, edges stay null."""
    import datetime as dt

    from stglib_spark.operators.timeops import interpolate_na_time

    t0 = dt.datetime(2021, 6, 1)
    rows = [
        (t0 + dt.timedelta(seconds=s), v)
        for s, v in [
            (0, None),
            (10, 1.0),
            (20, None),
            (40, 4.0),
            (50, None),
        ]
    ]
    df = spark.createDataFrame(rows, "time timestamp, v double")
    got = (
        interpolate_na_time(df, "v").orderBy("time").toPandas()["v"].tolist()
    )
    assert got[0] is None or np.isnan(got[0])
    np.testing.assert_allclose(got[1], 1.0)
    # 20 s is 1/3 of the way from 10 s to 40 s: 1 + (4-1)/3
    np.testing.assert_allclose(got[2], 2.0)
    np.testing.assert_allclose(got[3], 4.0)
    assert got[4] is None or np.isnan(got[4])


def test_slant_geometry_masks_below_bed(spark):
    """son/cdf2nc.py:49-70: slant_j = (j+1)·R/n, nulled at or below the
    bed height; horizontal = sqrt(slant² − hgt²)."""
    from stglib_spark.operators.sonar import slant_geometry

    df = spark.createDataFrame([(1.0,), (0.0,)], "sonar_hgt double")
    out = slant_geometry(df, total_range=5.0, npoints=5).toPandas()
    r = out[out["sonar_hgt"] == 1.0].iloc[0]
    s0 = r["SlantRange"][0]  # 1.0 m not > 1.0 m bed height → masked
    assert s0 is None or np.isnan(s0)
    np.testing.assert_allclose(r["SlantRange"][1:], [2.0, 3.0, 4.0, 5.0])
    np.testing.assert_allclose(
        [x for x in r["HorizontalRange"][1:]],
        np.sqrt(np.array([4.0, 9.0, 16.0, 25.0]) - 1.0),
    )
    r0 = out[out["sonar_hgt"] == 0.0].iloc[0]
    np.testing.assert_allclose(r0["HorizontalRange"], [1, 2, 3, 4, 5])


# --- interval_average reference-fidelity knobs (mar/sig variants, r14) ------


def test_interval_average_mar_poison_and_origin(spark):
    """mar.py:258-331 avg_cont replay: windows tile from the record's
    FIRST stamp (not the epoch), the NaN-padded tail and any nulled
    sample poison their window to a NULL row (emitted, not dropped)."""
    import datetime as dt

    from stglib_spark.operators.aggregations import interval_average

    t0 = dt.datetime(2021, 6, 1, 0, 0, 30)  # mid-minute: origin matters
    rows = [
        (
            t0 + dt.timedelta(seconds=i),
            None if i == 70 else float(20 + i % 7),
        )
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "time timestamp, T_28 double")
    out = (
        interval_average(
            df,
            time_col="time",
            interval_seconds=60,
            duration_seconds=None,
            value_cols=["T_28"],
            expected_n=60,
            origin_epoch_seconds=t0.replace(
                tzinfo=dt.timezone.utc
            ).timestamp(),
            poison=True,
        )
        .orderBy("time")
        .toPandas()
    )
    # reference: rows = ceil(150/60) = 3, stamps t0 + k*60
    assert len(out) == 3
    assert [str(t) for t in out["time"]] == [
        "2021-06-01 00:00:30",
        "2021-06-01 00:01:30",
        "2021-06-01 00:02:30",
    ]
    vals = [None if v is None or np.isnan(v) else v for v in out["T_28"]]
    expect0 = np.mean([20 + i % 7 for i in range(60)])
    np.testing.assert_allclose(vals[0], expect0)
    assert vals[1] is None  # nulled sample at i=70 poisons window 1
    assert vals[2] is None  # 30-sample tail NaN-padded to 60 -> NaN


def test_interval_average_sig_fixed_expected_gate(spark):
    """sig/cdf2nc.py:341-364: with expected_n, the minf gate compares
    against int(minf·expected_n) — a sparse interval whose own rows all
    validate must still fail (the legacy own-count gate would pass)."""
    import datetime as dt

    from stglib_spark.operators.aggregations import interval_average

    t0 = dt.datetime(2021, 6, 1)
    rows = [
        (t0 + dt.timedelta(seconds=s), float(s)) for s in (0, 1, 2, 3)
    ]  # 4 of an expected 10 samples, all valid
    df = spark.createDataFrame(rows, "time timestamp, v double")
    gated = interval_average(
        df,
        time_col="time",
        interval_seconds=10,
        duration_seconds=None,
        value_cols=["v"],
        minf=0.5,
        expected_n=10,
    ).toPandas()
    assert gated["v"].isna().all()  # 4 < int(0.5*10)
    legacy = interval_average(
        df,
        time_col="time",
        interval_seconds=10,
        duration_seconds=None,
        value_cols=["v"],
        minf=0.5,
    ).toPandas()
    np.testing.assert_allclose(legacy["v"].iloc[0], 1.5)
    # without expected_n the own-row gate truncates like mean_minf
    # (utils.py:2067 min_count = int(n·minf)): 2 valid of 5 rows, minf
    # 0.5 → 2 >= int(2.5) passes
    sparse = spark.createDataFrame(
        [
            (t0 + dt.timedelta(seconds=s), v)
            for s, v in enumerate([0.0, None, 1.0, None, None])
        ],
        "time timestamp, v double",
    )
    own = interval_average(
        sparse,
        time_col="time",
        interval_seconds=10,
        duration_seconds=None,
        value_cols=["v"],
        minf=0.5,
    ).toPandas()
    np.testing.assert_allclose(own["v"].iloc[0], 0.5)


def test_interval_average_vector_cols_unwrapped(spark):
    """utils.py:1907-1923 via sig/cdf2nc.py:334-350: attitude vars
    vector-average with skipna unit-vector means; the result stays in
    (−180, 180] — sig wraps only Hdg_1215 afterwards (the caller's
    job)."""
    import datetime as dt

    from stglib_spark.operators.aggregations import interval_average

    t0 = dt.datetime(2021, 6, 1)
    rows = [
        (t0 + dt.timedelta(seconds=s), p, r)
        for s, (p, r) in enumerate(
            [(-170.0, 10.0), (170.0, None), (-170.0, 30.0), (170.0, 20.0)]
        )
    ]
    df = spark.createDataFrame(
        rows, "time timestamp, Ptch_1216 double, Roll_1217 double"
    )
    out = interval_average(
        df,
        time_col="time",
        interval_seconds=60,
        duration_seconds=None,
        value_cols=["Ptch_1216", "Roll_1217"],
        vector_cols=["Ptch_1216", "Roll_1217"],
    ).toPandas()
    # ±170 pairs average to ±180, NOT 0 (the arithmetic-mean trap)
    assert abs(abs(out["Ptch_1216"].iloc[0]) - 180.0) < 1e-9
    # skipna: the None roll drops out of the unit-vector means
    a = np.radians([10.0, 30.0, 20.0])
    np.testing.assert_allclose(
        out["Roll_1217"].iloc[0],
        np.degrees(np.arctan2(np.mean(np.sin(a)), np.mean(np.cos(a)))),
        rtol=1e-12,
    )


def test_half_even_rounding_sites_match_numpy(spark):
    """r14 class-audit closure: every reference site that rounds with
    numpy/pandas HALF-EVEN semantics must use bround. Ties are the
    only inputs where the conventions differ — pin them."""
    from stglib_spark.operators.physics import boundary_elevation
    from stglib_spark.operators.transforms import wind_dir_correct

    # met.py:150: dir + a .5-ending declination ties on every degree;
    # numpy rounds 113.5 -> 114 (even) and 112.5 -> 112 (even)
    df = spark.createDataFrame(
        [(100.0,), (99.0,)], "d double"
    ).withColumn(
        "out",
        wind_dir_correct(F.col("d"), F.lit(None).cast("timestamp"), 13.5),
    )
    got = {r["d"]: r["out"] for r in df.collect()}
    assert got[100.0] == np.round(100.0 + 13.5)  # 114.0 (even)
    assert got[99.0] == np.round(99.0 + 13.5)  # 112.0 (even)

    # eofe.py:510: boundary elevation rounds to mm half-even; 0.0625
    # chains make exact .0005 ties representable
    cfg = {"WATER_DEPTH": 10.0, "initial_instrument_height": 0.0}
    bdf = spark.createDataFrame(
        [(0.9615,), (0.9625,)], "brange double"
    ).withColumn("be", boundary_elevation(F.col("brange"), cfg))
    vals = {r["brange"]: r["be"] for r in bdf.collect()}
    for b in (0.9615, 0.9625):
        np.testing.assert_allclose(vals[b], np.round(10.0 - b, 3))


def test_shift_time_drift_rounds_half_even(spark):
    """utils.py:1040 rounds the drift-shifted clock with pandas
    dt.round('1s') — half-even on the exact .5 s ties a linear drift
    ramp produces. 3 samples, drift 1 s → shifts 0, −0.5, −1 s; the
    middle sample's ±.5 tie must round to the EVEN second, exactly as
    pandas does."""
    import datetime as dt

    import pandas as pd

    from stglib_spark.operators.timeops import shift_time

    t0 = dt.datetime(2021, 6, 1, 0, 0, 1)  # odd second: tie rounds DOWN to 0
    rows = [(t0 + dt.timedelta(seconds=10 * i),) for i in range(3)]
    df = spark.createDataFrame(rows, "time timestamp")
    out = shift_time(df, clock_drift=1.0).orderBy("time").toPandas()
    expect = (
        pd.Series([pd.Timestamp(r[0]) for r in rows])
        + pd.to_timedelta([0.0, -0.5, -1.0], unit="s")
    ).dt.round("1s")
    got = [pd.Timestamp(t) for t in out["time"]]
    assert got == list(expect), (got, list(expect))
