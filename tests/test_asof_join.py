"""As-of join: bucketed (tolerance) strategy parity against pandas
merge_asof, all directions, plus the by-keyed and boundary cases.

The tolerance path is the 100 TB strategy (time-bucketed equi-join, no
global window); merge_asof is the behavioral oracle the reference's
reindex-nearest semantics correspond to (utils.py:1947-1954,
aqdutils.py:551-557).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from stglib_spark.operators.joins import asof_join


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.RandomState(0)
    base = pd.Timestamp("2024-01-01")
    lt = sorted(base + pd.to_timedelta(rng.uniform(0, 100000, 500), unit="s"))
    rt = sorted(base + pd.to_timedelta(rng.uniform(-5000, 105000, 120), unit="s"))
    vals = rng.randn(120)
    ldf = spark.createDataFrame(pd.DataFrame({"time": lt, "lid": range(500)}))
    rdf = spark.createDataFrame(pd.DataFrame({"time": rt, "val": vals}))
    lp = pd.DataFrame({"time": pd.to_datetime(lt).tz_localize(None), "lid": range(500)})
    rp = pd.DataFrame({"time": pd.to_datetime(rt).tz_localize(None), "val": vals})
    return ldf, rdf, lp, rp


@pytest.fixture(scope="module")
def keyed_frames(spark):
    """Three interleaved series: "a" and "b" on both sides with
    different densities, "c" only on the left (never matches)."""
    rng = np.random.RandomState(1)
    base = pd.Timestamp("2024-01-01")
    lt = (base + pd.to_timedelta(rng.uniform(0, 50000, 600), unit="s")).floor("us")
    lk = rng.choice(["a", "b", "c"], 600)
    rt = (base + pd.to_timedelta(rng.uniform(-2000, 52000, 150), unit="s")).floor("us")
    rk = rng.choice(["a", "b"], 150, p=[0.7, 0.3])
    vals = rng.randn(150)
    lp = pd.DataFrame({"time": lt, "k": lk, "lid": range(600)}).sort_values("time")
    rp = pd.DataFrame({"time": rt, "k": rk, "val": vals}).sort_values("time")
    ldf = spark.createDataFrame(lp)
    rdf = spark.createDataFrame(rp)
    return ldf, rdf, lp, rp


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_bucketed_matches_merge_asof(frames, keyed_frames, direction):
    ldf, rdf, lp, rp = keyed_frames
    got = (
        asof_join(ldf, rdf, by=["k"], direction=direction, tolerance_seconds=600)
        .orderBy("lid")
        .toPandas()["val"]
        .to_numpy()
    )
    exp = (
        pd.merge_asof(
            lp, rp, on="time", by="k", direction=direction,
            tolerance=pd.Timedelta(seconds=600),
        )
        .sort_values("lid")["val"]
        .to_numpy()
    )
    both_nan = np.isnan(got) & np.isnan(exp)
    assert (both_nan | (np.abs(got - exp) < 1e-12)).all()
    assert np.isnan(got).any() and not np.isnan(got).all()
    assert np.isnan(got[np.asarray(lp.sort_values("lid")["k"]) == "c"]).all()

    ldf, rdf, lp, rp = frames
    got = (
        asof_join(ldf, rdf, direction=direction, tolerance_seconds=600)
        .orderBy("lid")
        .toPandas()["val"]
        .to_numpy()
    )
    exp = pd.merge_asof(
        lp, rp, on="time", direction=direction, tolerance=pd.Timedelta(seconds=600)
    )["val"].to_numpy()
    both_nan = np.isnan(got) & np.isnan(exp)
    assert (both_nan | (np.abs(got - exp) < 1e-12)).all()
    assert np.isnan(got).any()  # tolerance actually excludes some rows


def test_exact_timestamp_match_within_tolerance(spark):
    """A right row exactly at the left time is distance 0 for both
    directions and always wins."""
    base = pd.Timestamp("2024-01-01")
    ldf = spark.createDataFrame(pd.DataFrame({"time": [base], "lid": [0]}))
    rdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "time": [base - pd.Timedelta(seconds=30), base, base + pd.Timedelta(seconds=30)],
                "val": [1.0, 2.0, 3.0],
            }
        )
    )
    for direction, want in (("backward", 2.0), ("forward", 2.0), ("nearest", 2.0)):
        got = asof_join(ldf, rdf, direction=direction, tolerance_seconds=60).first()["val"]
        assert got == want, direction


def test_by_keys_isolate_series(spark):
    """Series keys partition the lookup — values never leak across keys."""
    base = pd.Timestamp("2024-01-01")
    ldf = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["a", "b"], "time": [base, base], "lid": [0, 1]}
        )
    )
    rdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "b"],
                "time": [base - pd.Timedelta(seconds=5)] * 2,
                "val": [10.0, 20.0],
            }
        )
    )
    got = {
        r["k"]: r["val"]
        for r in asof_join(
            ldf, rdf, by=["k"], direction="backward", tolerance_seconds=60
        ).collect()
    }
    assert got == {"a": 10.0, "b": 20.0}


def test_no_tolerance_window_path_still_works(spark):
    """tolerance=None keeps the unbounded union+window semantics."""
    base = pd.Timestamp("2024-01-01")
    ldf = spark.createDataFrame(
        pd.DataFrame({"time": [base + pd.Timedelta(days=30)], "lid": [0]})
    )
    rdf = spark.createDataFrame(pd.DataFrame({"time": [base], "val": [7.0]}))
    got = asof_join(ldf, rdf, direction="backward", tolerance_seconds=None).first()
    assert got["val"] == 7.0
