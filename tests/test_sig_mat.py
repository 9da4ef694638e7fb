"""Signature .mat multi-group ingest: fixture mirrors the structure the
Signature export software writes (Config/Data/Units/Descriptions structs,
{Group}_{Var} fields) and the expectations mirror sig/mat2cdf.py:22-710 —
group splitting gated by Config plan flags, bindist from blanking+cell
geometry, beam stacking, EPIC renames, sample_mode stamping, SIG attrs."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest

from stglib_spark.functions.mat5 import savemat
from stglib_spark.sources.sig_mat import (
    matlab2datetime,
    parse_sig_file,
    read_signature_mat,
)


def _datenum(d: dt.datetime) -> float:
    frac = (d - dt.datetime(d.year, d.month, d.day)).total_seconds() / 86400.0
    return d.toordinal() + 366 + frac


NT = 6


def _fixture(path: str, t0: dt.datetime = dt.datetime(2023, 5, 1, 12, 0, 0)):
    times = [_datenum(t0 + dt.timedelta(seconds=900 * i)) for i in range(NT)]
    rng = np.random.RandomState(7)
    config = {
        "Plan_BurstEnabled": "True",
        "Plan_AverageEnabled": "True",
        "Plan_BurstInterval": 600.0,
        "Burst_SamplingRate": 4.0,
        "Burst_NSample": 2048.0,  # 600*4 != 2048 -> BURST mode
        "Burst_HighResolution": "False",
        "Burst_HighResolution5": "False",
        "Burst_NBeams": 5.0,
        "Burst_NCells": 4.0,
        "Burst_BlankingDistance": 0.1,
        "Burst_CellSize": 0.5,
        "Burst_EchoSounder": "True",
        "Burst_RawAltimeter": 0.0,
        "Burst_Altimeter": "False",
        "Burst_Beam2xyz": np.eye(4),
        "Average_NCells": 2.0,
        "Average_BlankingDistance": 0.2,
        "Average_CellSize": 1.0,
        "EchoSounder_Frequency1": 500.0,
        "EchoSounder_NCells": 3.0,
        "EchoSounder_BlankingDistance": 0.0,
        "EchoSounder_CellSize": 0.2,
    }
    data = {
        "Burst_Time": np.array(times),
        "Burst_VelBeam1": rng.randn(NT, 4),
        "Burst_VelBeam2": rng.randn(NT, 4),
        "Burst_AmpBeam1": rng.rand(NT, 4) * 100,
        "Burst_Pressure": 10.0 + rng.rand(NT),
        "Burst_Heading": rng.rand(NT) * 360,
        "Burst_NCells": np.full(NT, 4.0),
        "Burst_AHRSRotationMatrix": rng.randn(NT, 9),
        "IBurst_Time": np.array(times),
        "IBurst_VelBeam5": rng.randn(NT, 4),
        "IBurst_NCells": np.full(NT, 4.0),
        "Average_Time": np.array(times[:3]),
        "Average_VelBeam1": rng.randn(3, 2),
        "Average_NCells": np.full(3, 2.0),
        "Echo1Bin1_500kHz_Time": np.array(times),
        "Echo1Bin1_500kHz_Echo": rng.rand(NT, 3) * 80,
        "Echo1Bin1_500kHz_NCells": np.full(NT, 3.0),
    }
    units = {"Burst_Pressure": "dBar", "Burst_VelBeam1": "m/s"}
    descs = {"Burst_Pressure": "Pressure", "Burst_VelBeam1": "Velocity beam 1"}
    savemat(
        path,
        {"Config": config, "Data": data, "Units": units, "Descriptions": descs},
        compress=True,
    )
    return data


def test_matlab2datetime_roundtrip():
    d = dt.datetime(2023, 5, 1, 12, 34, 56)
    back = matlab2datetime(_datenum(d))
    assert abs((back - d).total_seconds()) < 1e-3


def test_parse_groups_and_geometry(tmp_path):
    p = str(tmp_path / "sig_1.mat")
    data = _fixture(p)
    groups = parse_sig_file(p)
    assert set(groups) == {"burst", "iburst", "avgd", "echo1"}

    b = groups["burst"]
    assert b["data_type"] == "Burst"
    assert b["attrs"]["sample_mode"] == "BURST"
    np.testing.assert_allclose(b["bindist"], [0.35, 0.85, 1.35, 1.85])
    # beam stacking + EPIC renames
    assert set(b["profiles"]) == {"vel1", "vel2", "amp1"}
    assert {"P_1", "Hdg_1215", "NCells"} <= set(b["scalars"])
    assert "AHRSRotationMatrix" in b["extras"]
    np.testing.assert_allclose(b["profiles"]["vel1"], data["Burst_VelBeam1"])
    # Beam2xyz captured as matrix + SIG attr
    np.testing.assert_allclose(b["beam2xyz"], np.eye(4))
    assert "SIGBurst_Beam2xyz" in b["attrs"]
    assert b["attrs"]["SIGPlan_BurstEnabled"] == "True"
    # units/long_names keyed by the RENAMED variable
    assert b["units"]["P_1"] == "dBar"
    assert b["long_names"]["vel1"] == "Velocity beam 1"

    a = groups["avgd"]
    assert a["attrs"]["sample_mode"] == "AVERAGE"
    np.testing.assert_allclose(a["bindist"], [0.7, 1.7])

    e = groups["echo1"]
    assert e["data_type"] == "EchoSounder"
    np.testing.assert_allclose(e["bindist"], [0.1, 0.3, 0.5])
    assert "Echo" in e["profiles"]

    i = groups["iburst"]
    assert set(i["profiles"]) == {"vel5"}


def test_alt_instrument_groups(tmp_path):
    """Alt_ prefixed second-instrument groups (mat2cdf.py:223-345): the
    extra underscore in field names, separate plan gates, and their own
    bindist geometry."""
    times = [_datenum(dt.datetime(2023, 6, 1) + dt.timedelta(seconds=600 * i))
             for i in range(4)]
    rng = np.random.RandomState(3)
    config = {
        "Plan_BurstEnabled": "False",
        "Plan_AverageEnabled": "False",
        "Alt_Plan_BurstEnabled": "True",
        "Alt_Plan_AverageEnabled": "True",
        "Alt_Plan_BurstInterval": 300.0,
        "Alt_Burst_SamplingRate": 2.0,
        "Alt_Burst_NSample": 600.0,  # 300*2 == 600 -> CONTINUOUS
        "Alt_Burst_HighResolution": "False",
        "Alt_Burst_HighResolution5": "False",
        "Alt_Burst_NBeams": 4.0,
        "Alt_Burst_NCells": 3.0,
        "Alt_Burst_BlankingDistance": 0.4,
        "Alt_Burst_CellSize": 2.0,
        "Alt_Burst_EchoSounder": "False",
        "Alt_Burst_RawAltimeter": 0.0,
        "Alt_Burst_Altimeter": "False",
        "Alt_Average_NCells": 2.0,
        "Alt_Average_BlankingDistance": 0.1,
        "Alt_Average_CellSize": 0.5,
    }
    data = {
        "Alt_Burst_Time": np.array(times),
        "Alt_Burst_VelBeam1": rng.randn(4, 3),
        "Alt_Burst_Pressure": 5.0 + rng.rand(4),
        "Alt_Burst_NCells": np.full(4, 3.0),
        "Alt_Average_Time": np.array(times[:2]),
        "Alt_Average_VelBeam2": rng.randn(2, 2),
        "Alt_Average_NCells": np.full(2, 2.0),
    }
    p = str(tmp_path / "alt_1.mat")
    savemat(p, {"Config": config, "Data": data}, compress=True)

    groups = parse_sig_file(p)
    assert set(groups) == {"altburst", "altavgd"}
    ab = groups["altburst"]
    assert ab["data_type"] == "Alt_Burst"
    assert ab["attrs"]["sample_mode"] == "CONTINUOUS"  # interval*rate==nsample
    np.testing.assert_allclose(ab["bindist"], [1.4, 3.4, 5.4])
    assert set(ab["profiles"]) == {"vel1"}
    assert "P_1" in ab["scalars"]
    np.testing.assert_allclose(ab["profiles"]["vel1"], data["Alt_Burst_VelBeam1"])
    aa = groups["altavgd"]
    assert aa["attrs"]["sample_mode"] == "AVERAGE"
    np.testing.assert_allclose(aa["bindist"], [0.35, 0.85])


def test_read_signature_mat_long_form(spark, tmp_path):
    p = str(tmp_path / "sig_1.mat")
    data = _fixture(p)
    dfs = read_signature_mat(spark, p)
    burst = dfs["burst"]
    rows = burst.orderBy("time", "bin").collect()
    assert len(rows) == NT * 4
    cols = set(burst.columns)
    assert {"time", "bin", "bindist", "vel1", "vel2", "amp1", "P_1",
            "Hdg_1215", "AHRSRotationMatrix"} <= cols
    r0 = rows[0]
    assert r0["bin"] == 0 and r0["bindist"] == pytest.approx(0.35)
    assert r0["vel1"] == pytest.approx(data["Burst_VelBeam1"][0, 0])
    # scalars repeat across bins of the same timestamp
    assert rows[0]["P_1"] == rows[3]["P_1"] == pytest.approx(
        data["Burst_Pressure"][0]
    )
    assert rows[1]["vel2"] == pytest.approx(data["Burst_VelBeam2"][0, 1])
    # column metadata carries units
    meta = {f.name: dict(f.metadata) for f in burst.schema.fields if f.metadata}
    assert meta["P_1"]["units"] == "dBar"

    avgd = dfs["avgd"].collect()
    assert len(avgd) == 3 * 2


def test_read_signature_multifile_distributed(spark, tmp_path):
    base = str(tmp_path / "dep")
    _fixture(base + "_1.mat", dt.datetime(2023, 5, 1))
    _fixture(base + "_2.mat", dt.datetime(2023, 5, 2))
    dfs = read_signature_mat(spark, base)
    burst = dfs["burst"]
    assert burst.count() == 2 * NT * 4
    days = sorted(
        r["d"]
        for r in burst.selectExpr("date(time) AS d").distinct().collect()
    )
    assert [str(d) for d in days] == ["2023-05-01", "2023-05-02"]


def test_sig_through_pipeline(spark, tmp_path):
    """Signature ingest feeds the three-stage pipeline: sig → raw zone →
    clean zone with a QA/QC gate applied to the stacked vel1 column
    (mirrors runots sig mat2cdf → cdf2nc)."""
    from stglib_spark.pipeline import _zone_path, run_clean, run_ingest

    p = str(tmp_path / "sig_1.mat")
    _fixture(p)
    cfg = {
        "instrument": "sig",
        "input_path": p,
        "sig_group": "burst",
        "output_dir": str(tmp_path / "zones"),
        "filename": "sigdep",
        "vel1_max": 0.0,  # gate: positive beam-1 velocities flagged
    }
    run_ingest(spark, cfg)
    raw = spark.read.parquet(_zone_path(cfg, "raw"))
    assert raw.count() == NT * 4
    assert {"time", "bin", "bindist", "vel1", "P_1"} <= set(raw.columns)

    run_clean(spark, cfg)
    clean = spark.read.parquet(_zone_path(cfg, "clean"))
    rows = clean.collect()
    assert len(rows) == NT * 4
    flagged = [r for r in rows if r["vel1"] is None]
    kept = [r for r in rows if r["vel1"] is not None]
    assert flagged and kept  # gate really fired, and not on everything
    assert all(r["vel1"] <= 0.0 for r in kept)


def test_sig_adapter_registered(spark, tmp_path):
    from stglib_spark.sources import ingest

    p = str(tmp_path / "sig_1.mat")
    _fixture(p)
    df = ingest(spark, "sig", p, {"sig_group": "echo1"})
    assert df.count() == NT * 3
    with pytest.raises(KeyError):
        ingest(spark, "sig", p, {"sig_group": "nope"})


def test_multifile_schema_from_first_file_null_fills(spark, tmp_path):
    """Schema comes from the FIRST file; a later file missing a variable
    (or a whole group) must null-fill / emit nothing — and an extra
    variable the schema doesn't know must be dropped — instead of
    misaligning columns by per-file sort order."""
    base = str(tmp_path / "dep")
    _fixture(base + "_1.mat", dt.datetime(2023, 5, 1))
    # file 2: drop Burst_Heading (scalar) + the whole Average group,
    # add an unknown Burst_Zonk the first-file schema doesn't carry
    _fixture(base + "_2.mat", dt.datetime(2023, 5, 2))
    from stglib_spark.functions.mat5 import loadmat

    m2 = loadmat(base + "_2.mat")
    data2 = {
        k: v
        for k, v in m2["Data"].items()
        if k != "Burst_Heading" and not k.startswith("Average_")
    }
    data2["Burst_Zonk"] = np.full(NT, 777.0)
    savemat(
        base + "_2.mat",
        {"Config": m2["Config"], "Data": data2, "Units": m2["Units"],
         "Descriptions": m2["Descriptions"]},
        compress=True,
    )

    dfs = read_signature_mat(spark, base)
    burst = dfs["burst"]
    assert "Zonk" not in burst.columns  # unknown var dropped
    rows = burst.selectExpr(
        "date(time) AS d", "Hdg_1215", "P_1"
    ).collect()
    d1 = [r for r in rows if str(r["d"]) == "2023-05-01"]
    d2 = [r for r in rows if str(r["d"]) == "2023-05-02"]
    assert d1 and d2
    # file-1 rows keep heading; file-2 rows null-fill it, P_1 unshifted
    assert all(r["Hdg_1215"] is not None for r in d1)
    assert all(r["Hdg_1215"] is None for r in d2)
    assert all(r["P_1"] is not None and 10.0 <= r["P_1"] <= 11.0 for r in d2)
    # group absent from file 2 -> only file-1 rows, no KeyError
    assert dfs["avgd"].count() == 3 * 2
