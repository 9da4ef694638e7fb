"""AQUAscat1000R (ABSS) burst .mat ingest: fixture mirrors the
per-burst export layout (BurstTime/AbsBinRange/AbsMean/AuxData +
channel-name cells); expectations mirror abss.py:147-233."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest

from stglib_spark.functions.mat5 import savemat
from stglib_spark.sources.abss_mat import parse_abss_file, read_abss

NBIN, NTX, NAUX = 6, 2, 8


def _fixture(path: str, when: dt.datetime, burst: int):
    rng = np.random.RandomState(burst)
    binrange = np.outer(0.05 + 0.02 * np.arange(NBIN), np.ones(NTX))
    variables = {
        "BurstTime": when.strftime("%Y-%m-%d %H:%M:%S"),
        "BurstNumber": np.array([float(burst)]),
        "AbsBinRange": binrange,
        "AbsMean": rng.rand(NBIN, NTX) * 1e-3,
        "NumAuxSamples": np.array([float(NAUX)]),
        "AuxData": rng.rand(NAUX, 3),
        "AuxChannelName": ["Pressure ", "Temperature", "Battery Volts"],
        "AuxChannelUnit": ["dBar", "C", "V"],
    }
    savemat(path, variables, compress=True)
    return variables


def test_parse_abss_file(tmp_path):
    p = str(tmp_path / "b1.mat")
    v = _fixture(p, dt.datetime(2023, 8, 1, 12, 0, 0), 1)
    g = parse_abss_file(p)
    assert g["time"] == dt.datetime(2023, 8, 1, 12, 0, 0)
    assert g["burst_number"] == 1
    np.testing.assert_allclose(g["bindist"], v["AbsBinRange"])
    np.testing.assert_allclose(g["mean_abs"], v["AbsMean"])
    # aux channels keyed by space-stripped names with units
    assert set(g["aux"]) == {"Pressure", "Temperature", "BatteryVolts"}
    assert g["aux"]["Pressure"][0] == "dBar"
    np.testing.assert_allclose(g["aux"]["Temperature"][1], v["AuxData"][:, 1])


def test_read_abss_multifile(spark, tmp_path):
    d = str(tmp_path)
    v1 = _fixture(os.path.join(d, "b1.mat"), dt.datetime(2023, 8, 1, 12), 1)
    _fixture(os.path.join(d, "b2.mat"), dt.datetime(2023, 8, 1, 13), 2)
    df = read_abss(spark, d)
    rows = df.orderBy("time", "bin_number", "transducer_number").collect()
    assert len(rows) == 2 * NBIN * NTX
    r = rows[0]
    assert r["burst_number"] == 1 and r["bin_number"] == 1
    assert r["transducer_number"] == 1
    assert r["bindist"] == pytest.approx(0.05)
    assert r["mean_abs_data"] == pytest.approx(v1["AbsMean"][0, 0])
    # grain is unique
    assert df.select("time", "bin_number", "transducer_number").distinct().count() == len(rows)


def test_abss_adapter_registered(spark, tmp_path):
    from stglib_spark.sources import ingest, resolve_instrument

    assert resolve_instrument("abss") == "abss"
    _fixture(str(tmp_path / "b1.mat"), dt.datetime(2023, 8, 1, 12), 1)
    assert ingest(spark, "abss", str(tmp_path), {}).count() == NBIN * NTX


def test_parse_abss_rejects_non_abss(tmp_path):
    p = str(tmp_path / "x.mat")
    savemat(p, {"Whatever": np.arange(3.0)})
    with pytest.raises(ValueError, match="BurstTime"):
        parse_abss_file(p)


def test_burst_time_formats(tmp_path):
    """AQUAscat exports carry MATLAB datestr / serial datenum BurstTime
    values, not just ISO strings (reference: pd.to_datetime funnel)."""
    from stglib_spark.sources.abss_mat import _burst_time

    want = dt.datetime(2023, 3, 7, 14, 0, 0)
    datenum = want.toordinal() + 366 + 14 * 3600 / 86400.0
    assert _burst_time("07-Mar-2023 14:00:00") == want
    assert _burst_time("2023-03-07T14:00:00") == want
    assert _burst_time(np.array([datenum])) == want
    assert _burst_time(np.array([2023, 3, 7, 14, 0, 0])) == want
    with pytest.raises(ValueError):
        _burst_time("garbage")
