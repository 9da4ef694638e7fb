"""End-to-end pipeline test: the reference's canonical demo — "RBR d|wave
deployment → significant wave height time series" (SURVEY §7.3,
tests/test_scripts.py:258-263) — on a synthetic F3-shaped burst CSV with a
KNOWN injected wave, through ingest → clean → waves, with the Hs oracle
(FIXTURES invariant 1, rtol 1e-2 on the spectral estimate)."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stglib_spark.operators.waves import qkfs_np
from stglib_spark.pipeline import _zone_path, run_all, run_clean
from stglib_spark.sources import ingest

@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipeline_test"))


@pytest.fixture(scope="module")
def burst_csv(fixture_dir):
    """F3 burst_pressure fixture: bursts of 512 samples at 0.5 s every
    1800 s; wave amplitude 0.4 m, T=8 s on 10 dbar mean; plus a spike for
    QA and rows outside the deployment window for clip."""
    fs, spb, n_bursts = 2.0, 512, 10
    rows = []
    t0 = pd.Timestamp("2024-06-01 00:00:00")
    a, T = 0.4, 8.0
    h = 10.0
    k = qkfs_np(np.array([2 * np.pi / T]), h + 0.5)[0]
    kp = np.cosh(k * 0.5) / np.cosh(k * (h + 0.5))
    for b in range(n_bursts):
        bt = t0 + pd.Timedelta(seconds=1800 * b)
        tt = np.arange(spb) / fs
        p = h + a * kp * np.sin(2 * np.pi / T * tt)
        temp = 12.0 + 0.01 * b + 0.001 * tt
        for s in range(spb):
            rows.append(
                {
                    "Time": (bt + pd.Timedelta(seconds=tt[s])).strftime(
                        "%Y-%m-%d %H:%M:%S.%f"
                    )[:-3],
                    "Pressure": p[s],
                    "Temperature": temp[s],
                }
            )
    # out-of-window rows (before deployment) + a spike
    rows.insert(0, {"Time": "2024-05-31 10:00:00.000", "Pressure": 0.1, "Temperature": 99.0})
    rows[100]["Temperature"] = 60.0  # T_28_max victim
    pdf = pd.DataFrame(rows)
    path = os.path.join(fixture_dir, "burst.csv")
    pdf.to_csv(path, index=False)
    return path


CONFIG = {
    "instrument": "rbr_csv",
    "filename": "rbrtest",
    "Deployment_date": "2024-06-01 00:00:00",
    "Recovery_date": "2024-06-02 00:00:00",
    "samples_per_burst": 512,
    "sample_interval": 0.5,
    "wave_interval": 1800,
    "pressure_sensor_height": 0.5,
    "initial_instrument_height": 0.5,
    "T_28_max": 50.0,
    "wave_Kpmin": 0.1,
    # nsegs=4 → nfft=128: the coarse default (16 → nfft=32) leaks enough
    # energy into high-1/Kp² bins to inflate Hs ~14% on a pure sine; the
    # reference exposes the same spec_nsegs knob for the same reason
    "spec_nsegs": 4,
    "wh_min": 0.05,
    "wh_max": 10.0,
}


def test_pipeline_end_to_end(spark, burst_csv, fixture_dir):
    cfg = dict(CONFIG, input_path=burst_csv, output_dir=fixture_dir)
    paths = run_all(spark, cfg)

    raw = spark.read.parquet(paths["raw"])
    assert "P_1" in raw.columns and "T_28" in raw.columns  # EPIC renames
    assert raw.count() == 10 * 512 + 1

    clean = spark.read.parquet(paths["clean"])
    # clip deleted the pre-deployment row
    assert clean.count() == 10 * 512
    # QA nulled the temperature spike but kept the row
    assert clean.filter(F.col("T_28").isNull()).count() == 1
    # audit sidecar recorded the affected count
    meta = json.load(open(paths["clean"] + ".meta.json"))
    assert any("1 values nulled" in n for n in meta["notes"].get("T_28", []))

    waves = spark.read.parquet(paths["waves"])
    rows = waves.orderBy("burst_time").collect()
    assert len(rows) == 10
    # cross-stage history carry (reference utils.py:238-250 append-only
    # contract): the waves sidecar holds ingest + clean + waves lines
    wmeta = json.load(open(paths["waves"] + ".meta.json"))
    whist = wmeta["history"]
    assert any(h.startswith("Ingested ") for h in whist)
    assert any("Clipped" in h for h in whist)
    assert any("QA/QC" in h for h in whist)
    assert any("wave statistics" in h for h in whist)
    # and the per-variable QA notes carried too
    assert any("values nulled" in n for n in wmeta["notes"].get("T_28", []))
    # Hs oracle: surface Hs = 4·sqrt(a²/2) = 1.131 (the injected pressure
    # was pre-attenuated by Kp, so the engine's Kp correction recovers the
    # surface amplitude)
    expected_hs = 4 * np.sqrt(0.4**2 / 2)
    for r in rows:
        assert r.wh_4061 == pytest.approx(expected_hs, rel=2e-2)
        assert r.wp_peak == pytest.approx(8.0, rel=0.05)


def test_generic_csv_adapter(spark, fixture_dir):
    path = os.path.join(fixture_dir, "generic.csv")
    pd.DataFrame(
        {
            "timestamp": pd.date_range("2024-01-01", periods=20, freq="1min").astype(str),
            "temperature": np.linspace(10, 12, 20),
            "conductivity": np.linspace(30, 35, 20),
        }
    ).to_csv(path, index=False)
    df = ingest(
        spark, "generic_csv", path, {"time_col": "timestamp"}
    )
    assert set(df.columns) >= {"time", "T_28", "C_51"}
    assert df.count() == 20


def test_zone_root_defaults_to_working_directory(
    spark, burst_csv, tmp_path, monkeypatch
):
    """Without ``output_dir`` a step writes its zone under the working
    directory, where the reference's ``runots`` writes its products."""
    from stglib_spark.pipeline import run_ingest

    monkeypatch.chdir(tmp_path)
    path = run_ingest(spark, dict(CONFIG, input_path=burst_csv, filename="cwd"))
    assert path == str(tmp_path / "cwd_raw")
    assert spark.read.parquet(path).count() == 5121


def test_run_diwasp_stage(spark, burst_csv, fixture_dir):
    """nc2diwasp stage on a pressure-only deployment: falls back to the
    'pres' estimator input and recovers the injected wave's Hs/Tp."""
    from stglib_spark.pipeline import run_clean, run_diwasp, run_ingest

    cfg = dict(
        CONFIG,
        input_path=burst_csv,
        output_dir=fixture_dir,
        filename="diwasptest",
        diwasp_method="DFTM",
        diwasp_nfreqs=24,
    )
    run_ingest(spark, cfg)
    run_clean(spark, cfg)
    path = run_diwasp(spark, cfg)
    out = spark.read.parquet(path)
    rows = out.orderBy("burst_time").collect()
    assert len(rows) == 10
    assert all(r.diwasp_type == "pres" for r in rows)
    expected_hs = 4 * np.sqrt(0.4**2 / 2)
    for r in rows:
        assert r.wh_4061 == pytest.approx(expected_hs, rel=0.15)
        assert r.wp_peak == pytest.approx(8.0, rel=0.1)
        assert len(r.diwasp_frequency) == 24
        assert len(r.diwasp_dspec) == 24


def test_run_waves_puv_branch(spark, burst_csv, fixture_dir):
    """puv: true joins PUV directional stats onto the wave table when
    velocity columns exist (sig/nc2waves.py:550-599 behavior)."""
    import pandas as _pd

    from stglib_spark.pipeline import _zone_path, run_waves

    cfg = dict(
        CONFIG,
        input_path=burst_csv,
        output_dir=fixture_dir,
        filename="puvtest",
        puv=True,
    )
    # synthesize a clean zone with u/v orbital velocities alongside P_1
    fs, spb, n_bursts = 2.0, 512, 10
    rows = []
    t0 = _pd.Timestamp("2024-06-01 00:00:00")
    for b in range(n_bursts):
        bt = t0 + _pd.Timedelta(seconds=1800 * b)
        tt = np.arange(spb) / fs
        p = 10.0 + 0.4 * np.sin(2 * np.pi / 8.0 * tt)
        u = 0.3 * np.sin(2 * np.pi / 8.0 * tt)
        v = 0.1 * np.sin(2 * np.pi / 8.0 * tt)
        for s in range(spb):
            rows.append(
                (
                    (bt + _pd.Timedelta(seconds=tt[s])).to_pydatetime(),
                    float(p[s]),
                    float(u[s]),
                    float(v[s]),
                )
            )
    spark.createDataFrame(
        rows, "time timestamp, P_1 double, u_1205 double, v_1206 double"
    ).write.mode("overwrite").parquet(_zone_path(cfg, "clean"))

    path = run_waves(spark, cfg)
    out = spark.read.parquet(path)
    assert out.count() == n_bursts
    cols = set(out.columns)
    assert {"wh_4061", "wp_peak"} <= cols
    # PUV fields joined on
    assert any(c.startswith("Hrms") or c == "azr" or c == "phir" for c in cols), cols


def test_run_xy_stage(spark, fixture_dir):
    """nc2xy: polar sweeps → cartesian images (son/nc2xy.py:67-123)."""
    import pandas as _pd

    from stglib_spark.pipeline import _zone_path, run_xy

    cfg = {"filename": "sonartest", "output_dir": fixture_dir, "sonar_range": 2.0, "sonar_dxy": 0.5}
    t = _pd.Timestamp("2024-06-01")
    rows = []
    for ti in range(2):
        for th in range(0, 360, 5):
            for r_i, rng_m in enumerate(np.arange(0.25, 2.25, 0.25)):
                rows.append(
                    (
                        (t + _pd.Timedelta(minutes=ti)).to_pydatetime(),
                        float(th),
                        float(rng_m),
                        float(th % 90 + r_i),
                    )
                )
    spark.createDataFrame(
        rows, "time timestamp, theta_deg double, horz_rng double, amp double"
    ).write.mode("overwrite").parquet(_zone_path(cfg, "clean"))

    path = run_xy(spark, cfg)
    out = spark.read.parquet(path)
    axis_len = len(np.arange(-2.0, 2.0 + 0.5, 0.5))
    assert out.count() == 2 * axis_len * axis_len
    assert {"time", "x", "y", "sonar_image"} <= set(out.columns)
    assert out.filter("sonar_image IS NOT NULL").count() > 0


def test_run_clean_velocity_stack(spark, fixture_dir):
    """Profile-velocity deployment (F5 shape) through run_clean: BEAM→ENU
    transform, AGC gate, water-level side-lobe trim, audit history."""
    import pandas as _pd

    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "filename": "veltest",
        "output_dir": fixture_dir,
        "Deployment_date": "2024-06-01 00:00:00",
        "Recovery_date": "2024-06-02 00:00:00",
        "AQDCoordinateSystem": "BEAM",
        "TransMatrix": [
            [2896 / 4096, 2896 / 4096, 0.0],
            [-2896 / 4096, 2896 / 4096, 0.0],
            [-2896 / 4096, -2896 / 4096, 5792 / 4096],
        ],
        "orientation": "UP",
        "beam_angle": 25.0,
        "bin_size": 0.5,
        "velocity_agc_min": 30.0,
        "trim_method": "water level",
    }
    t0 = _pd.Timestamp("2024-06-01 01:00:00")
    rows = []
    for ti in range(20):
        for b in range(10):
            bindist = 0.5 + 0.5 * b
            rows.append(
                (
                    (t0 + _pd.Timedelta(minutes=ti)).to_pydatetime(),
                    bindist,
                    0.1 * b, -0.05 * b, 0.02,
                    40.0 if b < 8 else 10.0,  # AGC fails for far bins
                    41.0, 39.0,
                    30.0, 2.0, -1.0,
                    4.0,  # pressure: water surface at 4 dbar ≈ 4 m
                )
            )
    spark.createDataFrame(
        rows,
        "time timestamp, bindist double, vel1 double, vel2 double, vel3 double, "
        "AMP1 double, AMP2 double, AMP3 double, "
        "Heading double, Pitch double, Roll double, P_1 double",
    ).write.mode("overwrite").parquet(_zone_path(cfg, "raw"))

    path = run_clean(spark, cfg)
    clean = spark.read.parquet(path)
    assert {"u_1205", "v_1206", "w_1204", "AGC_1202"} <= set(clean.columns)
    # AGC gate nulled far-bin velocities (AGC 10 < 30) where bindist < P kept them
    gated = clean.filter("bindist = 4.5")
    assert gated.filter("u_1205 IS NULL").count() == gated.count()
    # water-level trim nulled bins at/above the surface (bindist >= 4.0)
    surf = clean.filter("bindist >= 4.0")
    assert surf.filter("u_1205 IS NOT NULL").count() == 0
    near = clean.filter("bindist = 0.5")
    assert near.filter("u_1205 IS NOT NULL").count() == near.count()
    meta = json.load(open(path + ".meta.json"))
    hist = " ".join(meta["history"])
    assert "BEAM→ENU" in hist and "AGC" in hist and "water level" in hist


def test_split_profiles_partitioned_write(spark, fixture_dir):
    """split_profiles → clean zone partitioned per profile (the
    reference's one-nc-per-cast, rsk/cdf2nc.py:212-239)."""
    import pandas as _pd

    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {"filename": "proftest", "output_dir": fixture_dir, "split_profiles": True}
    t0 = _pd.Timestamp("2024-06-01")
    rows = [
        ((t0 + _pd.Timedelta(seconds=i)).to_pydatetime(), i // 10, 10.0 + i)
        for i in range(30)
    ]
    spark.createDataFrame(
        rows, "time timestamp, profile int, P_1 double"
    ).write.mode("overwrite").parquet(_zone_path(cfg, "raw"))
    path = run_clean(spark, cfg)
    subdirs = {d for d in os.listdir(path) if d.startswith("profile=")}
    assert subdirs == {"profile=0", "profile=1", "profile=2"}
    assert spark.read.parquet(path).count() == 30


def test_config_driven_filters_in_clean(spark, fixture_dir):
    """<var>_lowpass_filt and <var>_med_filt config keys smooth the
    variable in run_clean and keep the _unfiltered copy
    (core/filter.py:98-229 dispatch)."""
    import pandas as _pd

    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "filename": "filttest",
        "output_dir": fixture_dir,
        "sample_interval": 1.0,
        "T_28_lowpass_filt": 30.0,  # 30 s cutoff period
        "Turb_med_filt": 5,
    }
    t0 = _pd.Timestamp("2024-06-01")
    n = 600
    tt = np.arange(n)
    temp = 10.0 + np.sin(2 * np.pi * tt / 120) + 0.8 * np.sin(2 * np.pi * tt / 4)
    turb = np.full(n, 5.0)
    turb[100] = 50.0  # spike the median filter should remove
    rows = [
        ((t0 + _pd.Timedelta(seconds=int(i))).to_pydatetime(), float(temp[i]), float(turb[i]))
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "time timestamp, T_28 double, Turb double"
    ).write.mode("overwrite").parquet(_zone_path(cfg, "raw"))

    path = run_clean(spark, cfg)
    clean = spark.read.parquet(path).orderBy("time").toPandas()
    assert "T_28_unfiltered" in clean.columns and "Turb_unfiltered" in clean.columns
    # lowpass killed the 4-s tone in the interior, kept the 120-s tone
    # (convolve the FULL series before slicing — convolving a slice makes
    # its own zero-padding edge artifacts that dwarf the signal)
    y = clean["T_28"].to_numpy()
    u = clean["T_28_unfiltered"].to_numpy()
    hf_power = np.var((y - np.convolve(y, np.ones(9) / 9, "same"))[100:-100])
    hf_power_raw = np.var((u - np.convolve(u, np.ones(9) / 9, "same"))[100:-100])
    assert hf_power < 0.05 * hf_power_raw
    # median filter removed the spike, preserved the raw copy
    assert clean["Turb"].to_numpy()[100] == pytest.approx(5.0)
    assert clean["Turb_unfiltered"].to_numpy()[100] == pytest.approx(50.0)
    meta = json.load(open(path + ".meta.json"))
    hist = " ".join(meta["history"])
    assert "lowpass" in hist and "median" in hist


def test_aqdwvs_chain(spark, fixture_dir):
    """Reference aqdwvs chain (wad2cdf -> cdf2nc -> nc2waves) through the
    instrument alias: .whd/.wad ingest, EPIC renames at clean
    (aqdutils.py:10-58), Welch wave stats with the known injected wave
    (a=0.4, T=8 s at 2 Hz -> Tp == 8.0)."""
    base = os.path.join(fixture_dir, "WVS02")
    # fs=4 with 1024-sample bursts puts the 0.125 Hz wave exactly on a
    # Welch bin with little Kp² amplification of window leakage (at low
    # fs / deep sensor the 1/Kp² correction can raise the leakage bin
    # above the true peak — a property of the method, reference included)
    fs, spb, n_bursts = 4.0, 1024, 3
    with open(base + ".hdr", "w") as f:
        f.write("Wave measurements                     ENABLED\n")
        f.write(f"Wave - Number of samples              {spb}\n")
        f.write(f"Wave - Sampling rate                  {int(fs)} Hz\n")
        f.write("Coordinate system                     BEAM\n")
    with open(base + ".whd", "w") as f:
        for b in range(n_bursts):
            f.write(
                f"6 1 2024 {10 + b} 0 0.0000 {b + 1} {spb} 0.41 12.5 1500.0 "
                f"{100.0 + b} 1.5 -0.5 10.0 0 18.5 0.5 120 121 122\n"
            )
    tt = np.arange(spb) / fs
    with open(base + ".wad", "w") as f:
        for b in range(n_bursts):
            p = 10.0 + 0.4 * np.sin(2 * np.pi / 8.0 * tt)
            for s in range(spb):
                f.write(
                    f"{b + 1} {s + 1} {p[s]:.5f} 0 0 0.01 0.02 0.03 0 140 141 142\n"
                )
    cfg = {
        "instrument": "aqdwvs",
        "input_path": base,
        "output_dir": os.path.join(fixture_dir, "wvs_out"),
        "filename": "WVS02",
        "wave_interval": 3600,
        "sample_interval": 1 / fs,
        "initial_instrument_height": 0.5,
        "Deployment_date": "2024-06-01 00:00",
        "Recovery_date": "2024-06-02 00:00",
    }
    from stglib_spark.pipeline import run_clean, run_ingest, run_waves

    run_ingest(spark, cfg)
    clean = spark.read.parquet(run_clean(spark, cfg))
    # EPIC renames applied at clean, reference ds_rename semantics
    assert "P_1" in clean.columns
    assert "vel1_1277" in clean.columns and "Hdg_1215" in clean.columns
    # velocity stack ran BEFORE the renames (aqd/cdf2nc.py order): the
    # beam-average AGC was computed from the vendor AMP1-3 names
    assert "AGC_1202" in clean.columns
    r0 = clean.limit(1).collect()[0]
    assert r0["AGC_1202"] == pytest.approx((140 + 141 + 142) / 3)
    waves = spark.read.parquet(run_waves(spark, cfg)).orderBy("burst_time").collect()
    assert len(waves) == n_bursts
    for w in waves:
        assert w["wp_peak"] == pytest.approx(8.0, rel=1e-6)
        assert w["wh_4061"] > 0


def test_sgwvs_chain(spark, fixture_dir):
    """Reference sgwvs chain (wb2cdf -> cdf2nc -> nc2waves): Seagauge .wb
    wave bursts stamp every sample with the burst start time, so this
    exercises the same sample-order tiebreak as the .wad path. Injected
    a=0.5, T=8 s at fs=4 -> Tp == 8.0 exactly."""
    fs, spb, n_bursts = 4.0, 1024, 2
    p = os.path.join(fixture_dir, "dep.wb")
    tt = np.arange(spb) / fs
    wave = 10.0 + 0.5 * np.sin(2 * np.pi / 8.0 * tt)
    with open(p, "w") as f:
        f.write("SBE 26plus\n")
        for b in range(n_bursts):
            f.write(f"* {b} {757382400 + 3600 * b} x {spb} y\n")
            for i in range(0, spb, 4):
                f.write(" ".join(f"{v:.5f}" for v in wave[i : i + 4]) + "\n")
    cfg = {
        "instrument": "sgwvs",
        "input_path": p,
        "output_dir": os.path.join(fixture_dir, "sgwvs_out"),
        "filename": "SG01",
        "wave_interval": 3600,
        "sample_interval": 1 / fs,
        "initial_instrument_height": 0.5,
    }
    from stglib_spark.pipeline import run_clean, run_ingest, run_waves

    run_ingest(spark, cfg)
    run_clean(spark, cfg)
    waves = spark.read.parquet(run_waves(spark, cfg)).orderBy("burst_time").collect()
    assert len(waves) == n_bursts
    for w in waves:
        assert w["wp_peak"] == pytest.approx(8.0, rel=1e-6)
        assert w["wh_4061"] > 0


def test_ssc_calibration_key(spark, fixture_dir):
    """<VAR>_ssc_calibration (doc/config.rst; utils.py:2006-2041): polyval
    of any named variable into a new `ssc` variable at the clean stage."""
    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "instrument": "generic_csv",
        "filename": "ssctest",
        "output_dir": fixture_dir,
        "AnalogInput1_ssc_calibration": [0.55, -0.02],
    }
    pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=10, freq="1min"),
            "AnalogInput1": np.linspace(1.0, 2.0, 10),
        }
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    out = spark.read.parquet(run_clean(spark, cfg)).orderBy("time").collect()
    assert out[0]["ssc"] == pytest.approx(0.55 * 1.0 - 0.02)
    assert out[-1]["ssc"] == pytest.approx(0.55 * 2.0 - 0.02)


def test_wave_start_time_alignment(spark, fixture_dir):
    """wave_start_time (doc/config.rst; glx.py:158-165): the continuous
    record is trimmed to the given start and bursts tile from it, not
    from the epoch grid."""
    from stglib_spark.pipeline import _burst_keyed

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "time": pd.date_range("2024-06-01 00:10:00", periods=120, freq="1min"),
                "P_1": np.arange(120.0),
            }
        )
    )
    cfg = {"wave_interval": 1800, "wave_start_time": "2024-06-01 00:15:00"}
    out = _burst_keyed(df, cfg)
    bts = sorted(r[0] for r in out.select("burst_time").distinct().collect())
    # rows before the start time are gone; bursts begin exactly at :15/:45
    assert bts[0].minute == 15 and bts[1].minute == 45
    assert out.agg(F.min("time")).collect()[0][0].minute == 15


def test_filtered_wl_and_turb_std_max(spark, fixture_dir):
    """filtered_wl creates water_level_filt; Turb_std_max maps to the
    generic max-std gate (NTU spelling, doc/config.rst)."""
    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "instrument": "generic_csv",
        "filename": "wlfilt",
        "output_dir": fixture_dir,
        "sample_interval": 60.0,
        "initial_instrument_height": 0.5,
        "NAVD88_ref": -1.0,
        "filtered_wl": True,
        "Turb_std_max": 5.0,
    }
    n = 256
    pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "P_1": 10.0 + 0.5 * np.sin(np.arange(n) * 2 * np.pi / 12),
            "Turb": np.linspace(1, 2, n),
            "Turb_std": [1.0] * (n - 3) + [9.0] * 3,
        }
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    out = spark.read.parquet(run_clean(spark, cfg))
    assert "water_level_filt" in out.columns
    # the 12-min oscillation is attenuated by the 6-min lowpass cutoff...
    # (it passes: period 12 min > 6 min cutoff), so just check non-null
    assert out.filter(F.col("water_level_filt").isNotNull()).count() > 0
    # 3 rows had Turb_std over the gate -> Turb nulled there
    assert out.filter(F.col("Turb").isNull()).count() == 3


def test_trim_ast_threshold(spark, fixture_dir):
    """trim_ast/ast_qual_sf (sig/cdf2nc.py:1808-1865): brangeAST nulled
    where ast_quality < 0.85 x mean(top third)."""
    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "instrument": "generic_csv",
        "filename": "asttest",
        "output_dir": fixture_dir,
        "trim_ast": True,
    }
    q = np.array([100.0] * 60 + [30.0] * 30)  # top third mean=100, thr=85
    pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=90, freq="1s"),
            "brangeAST": np.linspace(9, 11, 90),
            "ast_quality": q,
        }
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    out = spark.read.parquet(run_clean(spark, cfg))
    assert out.filter(F.col("brangeAST").isNull()).count() == 30


def test_average_interval_companion_product(spark, fixture_dir):
    """average_interval/average_duration (doc/config.rst; the reference's
    '-a.nc' companion): clean zone plus a tumbling-interval averaged zone,
    means restricted to the first average_duration seconds."""
    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "instrument": "generic_csv",
        "filename": "avgtest",
        "output_dir": fixture_dir,
        "average_interval": 600,
        "average_duration": 300,
    }
    n = 40  # 40 minutes at 1/min -> 4 intervals of 10 min
    pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "v": np.arange(n, dtype=float),
        }
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    run_clean(spark, cfg)
    avg = spark.read.parquet(_zone_path(cfg, "avg")).orderBy("time").collect()
    assert len(avg) == 4
    # duration=300 s -> only the first 5 of each 10 samples averaged
    assert avg[0]["v"] == pytest.approx(np.arange(0, 5).mean())
    assert avg[1]["v"] == pytest.approx(np.arange(10, 15).mean())


def test_rbr_profile_feature_type(spark, fixture_dir):
    """featureType: 'profile' (rsk/csv2cdf.py:117-215): Ruskin events file
    segments the record into casts; observations get profile ids and the
    per-profile latitude/longitude from config; split_profiles partitions
    the clean zone per cast."""
    from stglib_spark.pipeline import run_clean, run_ingest, _zone_path

    base = os.path.join(fixture_dir, "ctd")
    times = pd.date_range("2024-03-01 10:00:00", periods=30, freq="10s")
    pd.DataFrame(
        {
            "Time": times.strftime("%Y-%m-%d %H:%M:%S.%f").str[:-3],
            "Pressure": np.concatenate(
                [np.linspace(0, 5, 10), np.linspace(0, 6, 10), np.linspace(0, 4, 10)]
            ),
        }
    ).to_csv(base + ".csv", index=False)
    pd.DataFrame(
        {
            "Time": [
                # leading pause from instrument setup (dropped)
                "2024-03-01 09:59:00",
                "2024-03-01 10:00:00",
                "2024-03-01 10:01:20",
                "2024-03-01 10:02:00",
                "2024-03-01 10:03:20",
            ],
            "Type": [
                "sampling paused",
                "sampling started",
                "sampling paused",
                "sampling started",
                "sampling paused",
            ],
        }
    ).to_csv(base + "_events.txt", index=False)
    cfg = {
        "instrument": "rbr",
        "input_path": base + ".csv",
        "basefile": base,
        "output_dir": fixture_dir,
        "filename": "ctdtest",
        "featureType": "profile",
        "latitude": [36.9, 41.5],
        "longitude": [-122.0, -70.6],
        "split_profiles": True,
    }
    run_ingest(spark, cfg)
    raw = spark.read.parquet(_zone_path(cfg, "raw"))
    got = raw.groupBy("profile").count().orderBy("profile").collect()
    # profile 0: 10:00:00-10:01:20 -> 9 samples; profile 1: 10:02:00-10:03:20 -> 9
    assert [(r["profile"], r["count"]) for r in got if r["profile"] is not None] == [
        (0, 9),
        (1, 9),
    ]
    lat0 = raw.filter("profile = 0").select("latitude").first()[0]
    assert lat0 == pytest.approx(36.9)
    run_clean(spark, cfg)
    import glob as _glob

    parts = _glob.glob(_zone_path(cfg, "clean") + "/profile=*")
    assert len(parts) >= 2


def test_water_level_var_brange_ast(spark, fixture_dir):
    """water_level_var: 'brangeAST' (doc/config.rst; utils.py:1650-1712):
    the AST range is used directly (no pressure-to-depth conversion)."""
    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "instrument": "generic_csv",
        "filename": "wlvtest",
        "output_dir": fixture_dir,
        "water_level_var": "brangeAST",
        "height_above_geopotential_datum": -2.0,
    }
    pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=5, freq="1min"),
            "brangeAST": [10.0, 10.1, 10.2, 10.3, 10.4],
        }
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    out = spark.read.parquet(run_clean(spark, cfg)).orderBy("time").collect()
    assert out[0]["water_level"] == pytest.approx(10.0 - 2.0)
    assert out[-1]["water_level"] == pytest.approx(10.4 - 2.0)


def test_pres2dep_full_when_companions_exist(spark, fixture_dir):
    """With S_41/T_28 companions the clean stage computes depth via the
    EOS-80 density path (utils.py:1926-1985), which differs measurably
    from the constant-density fallback for salty warm water."""
    from stglib_spark.pipeline import _zone_path, run_clean
    from stglib_spark.operators.physics import pres2dep_simple

    cfg = {
        "instrument": "generic_csv",
        "filename": "deptest",
        "output_dir": fixture_dir,
        "latitude": 45.0,
    }
    pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=3, freq="1min"),
            "P_1": [10.0, 20.0, 30.0],
            "S_41": [35.0] * 3,
            "T_28": [15.0] * 3,
        }
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    out = spark.read.parquet(run_clean(spark, cfg)).orderBy("time").collect()
    # EOS-80 at S=35, T=15: rho ~ 1026 kg/m3 -> depth near but NOT equal
    # to the rho=1025 constant fallback
    for r, p in zip(out, [10.0, 20.0, 30.0]):
        const = p * 1.0e4 / (1025.0 * 9.80665)
        assert r["depth_m"] == pytest.approx(const, rel=0.01)
        assert abs(r["depth_m"] - const) > 1e-4


def test_profile_vertical_coordinates(spark, fixture_dir):
    """Profile deployments get z (datum-relative, orientation-signed) and
    bin_depth (pressure ± bindist) columns at clean
    (utils.py:1178-1262, aqdutils.py:337-369)."""
    from stglib_spark.pipeline import _zone_path, run_clean

    cfg = {
        "instrument": "generic_csv",
        "filename": "ztest",
        "output_dir": fixture_dir,
        "initial_instrument_height": 1.0,
        "height_above_geopotential_datum": -10.0,
        "orientation": "UP",
    }
    pd.DataFrame(
        {
            "time": pd.date_range("2024-01-01", periods=4, freq="1min").repeat(2),
            "bindist": [0.5, 1.5] * 4,
            "P_1": [8.0] * 8,
        }
    ).pipe(spark.createDataFrame).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    out = spark.read.parquet(run_clean(spark, cfg)).orderBy("time", "bindist").collect()
    # z = datum + iih + bindist (UP)
    assert out[0]["z"] == pytest.approx(-10.0 + 1.0 + 0.5)
    assert out[1]["z"] == pytest.approx(-10.0 + 1.0 + 1.5)
    # bin_depth = P - bindist (UP)
    assert out[0]["bin_depth"] == pytest.approx(8.0 - 0.5)


def test_wavedat_tolerance_prefill(spark, burst_csv, fixture_dir):
    """wavedat_tolerance (waves.py:1992-2034): null samples within
    tolerance are nearest-filled before the spectral chain, so a burst
    with a few nulled samples still yields the injected wave stats."""
    from stglib_spark.pipeline import _zone_path, run_clean, run_ingest, run_waves

    cfg = dict(
        CONFIG,
        input_path=burst_csv,
        output_dir=fixture_dir,
        filename="wavetol",
        wavedat_tolerance=2.0,
    )
    run_ingest(spark, cfg)
    run_clean(spark, cfg)
    # null a couple of pressure samples inside the first burst
    clean = spark.read.parquet(_zone_path(cfg, "clean"))
    poked = clean.withColumn(
        "P_1",
        F.when(
            (F.col("time") >= F.lit("2024-06-01 00:00:10"))
            & (F.col("time") < F.lit("2024-06-01 00:00:11")),
            F.lit(None).cast("double"),
        ).otherwise(F.col("P_1")),
    )
    poked.write.mode("overwrite").parquet(_zone_path(cfg, "clean") + "_poked")
    import shutil as _sh

    _sh.rmtree(_zone_path(cfg, "clean"))
    _sh.move(_zone_path(cfg, "clean") + "_poked", _zone_path(cfg, "clean"))
    waves = spark.read.parquet(run_waves(spark, cfg)).orderBy("burst_time").collect()
    assert len(waves) == 10
    expected_hs = 4 * np.sqrt(0.4**2 / 2)
    for r in waves:
        assert r.wh_4061 == pytest.approx(expected_hs, rel=3e-2)


def test_run_dedup_shares_one_shingle_pass(spark, fixture_dir, monkeypatch):
    """VERDICT r3 item 5: the dedup pipeline stage materializes a shingle
    zone and an LSH candidates zone once; BOTH the pair report and the
    Jaccard verifier consume those zones — the corpus text is shingled
    exactly one time, and the result matches the single-shot
    minhash_lsh_pairs → ngram_jaccard_pairs chain."""
    from stglib_spark.operators import dedup as dedup_ops
    from stglib_spark.pipeline import run_dedup

    docs_path = os.path.join(fixture_dir, "dedup_docs.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .write.mode("overwrite")
        .parquet(docs_path)
    )

    calls = {"n": 0}
    real_shingles = dedup_ops.word_shingles

    def counting_shingles(text, n=3):
        calls["n"] += 1
        return real_shingles(text, n)

    monkeypatch.setattr(dedup_ops, "word_shingles", counting_shingles)

    cfg = {
        "documents_path": docs_path,
        "output_dir": fixture_dir,
        "filename": "deduptest",
        "jaccard_threshold": 0.5,
    }
    paths = run_dedup(spark, cfg)
    # one shingle pass: word_shingles was planned exactly once (for the
    # shingle zone); MinHash, LSH, and the verifier all read the zone
    assert calls["n"] == 1
    assert set(paths) == {"shingles", "candidates", "dedup"}

    monkeypatch.setattr(dedup_ops, "word_shingles", real_shingles)
    docs = spark.read.parquet(docs_path)
    direct_pairs = dedup_ops.minhash_lsh_pairs(docs)
    direct = dedup_ops.ngram_jaccard_pairs(
        docs, candidate_pairs=direct_pairs, threshold=0.5
    )
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.read.parquet(paths["dedup"]).collect()
    }
    want = {(r.doc_a, r.doc_b, r.jaccard) for r in direct.collect()}
    assert got == want and len(want) > 0

    # candidates zone == the pair report the sibling query produces
    cand = {
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(paths["candidates"]).collect()
    }
    assert cand == {(r.doc_a, r.doc_b) for r in direct_pairs.collect()}


def test_run_dedup_storage_lean_path(spark, fixture_dir):
    """dedup_materialize_shingles=false: no shingle zone is written; the
    verifier re-shingles only candidate docs (semi-join pushdown) and the
    verified pairs still match the materialized path."""
    from stglib_spark.operators import dedup as dedup_ops
    from stglib_spark.pipeline import run_dedup

    docs_path = os.path.join(fixture_dir, "dedup_docs.parquet")
    cfg = {
        "documents_path": docs_path,
        "output_dir": fixture_dir,
        "filename": "deduplean",
        "jaccard_threshold": 0.5,
        "dedup_materialize_shingles": False,
    }
    paths = run_dedup(spark, cfg)
    assert "shingles" not in paths

    docs = spark.read.parquet(docs_path)
    direct = dedup_ops.ngram_jaccard_pairs(
        docs,
        candidate_pairs=dedup_ops.minhash_lsh_pairs(docs),
        threshold=0.5,
    )
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in spark.read.parquet(paths["dedup"]).collect()
    }
    assert got == {(r.doc_a, r.doc_b, r.jaccard) for r in direct.collect()}


def test_run_media_dedup_image_and_video_zones(spark, fixture_dir):
    """The media dedup stage writes phash / pairs / clusters zones for
    both image and video corpora; planted one-pixel re-encodes cluster
    with their originals and the clean item stays unclustered."""
    import numpy as np

    from stglib_spark.functions.media import encode_avi
    from stglib_spark.pipeline import run_media_dedup

    r = np.arange(12).reshape(12, 1)
    c = np.arange(22).reshape(1, 22)

    def gray(base, flip=False):
        px = ((base * 37 + r * 13 + c * 7 + (base % 11) * r * c) % 256).astype(
            np.uint8
        )
        if flip:
            px = px.copy()
            px[3, 4] = min(int(px[3, 4]) + 60, 255)
        return px

    def pgm(px):
        return b"P5\n22 12\n255\n" + px.tobytes()

    img_rows = [
        (0, bytearray(pgm(gray(0)))),
        (1, bytearray(pgm(gray(0, flip=True)))),  # near-dup of 0
        (2, bytearray(pgm(gray(7)))),             # unrelated
    ]
    img_path = os.path.join(fixture_dir, "media_imgs.parquet")
    spark.createDataFrame(
        img_rows, "media_id long, content binary"
    ).write.mode("overwrite").parquet(img_path)
    cfg = {
        "media_path": img_path,
        "output_dir": fixture_dir,
        "filename": "mediadedup_img",
    }
    paths = run_media_dedup(spark, cfg)
    assert set(paths) == {"phash", "pairs", "clusters"}
    clusters = {
        row["doc_id"]: row["canonical_id"]
        for row in spark.read.parquet(paths["clusters"]).collect()
    }
    assert clusters == {0: 0, 1: 0}  # 2 forms no pair, no cluster row

    def avi(base, flip=False):
        frames = [
            np.repeat(gray(base + f, flip and f == 0)[..., None], 3, axis=2)
            for f in range(3)
        ]
        return encode_avi(frames, fps=4.0)

    vid_rows = [
        (10, bytearray(avi(0))),
        (11, bytearray(avi(0, flip=True))),  # near-dup of 10
        (12, bytearray(avi(40))),            # unrelated
    ]
    vid_path = os.path.join(fixture_dir, "media_vids.parquet")
    spark.createDataFrame(
        vid_rows, "media_id long, content binary"
    ).write.mode("overwrite").parquet(vid_path)
    cfg = {
        "media_path": vid_path,
        "output_dir": fixture_dir,
        "filename": "mediadedup_vid",
        "media_kind": "video",
    }
    paths = run_media_dedup(spark, cfg)
    fh = spark.read.parquet(paths["phash"])
    assert set(fh.columns) == {"media_id", "frame_idx", "phash"}
    assert fh.count() == 9  # 3 clips x 3 frames
    clusters = {
        row["doc_id"]: row["canonical_id"]
        for row in spark.read.parquet(paths["clusters"]).collect()
    }
    assert clusters == {10: 10, 11: 10}


def test_run_media_dedup_video_black_frame_does_not_merge(spark, fixture_dir):
    """ADVICE r8: one shared constant-luminance frame (black intro —
    dHash 0) must NOT merge two otherwise-unrelated clips. The stage
    drops constant frames before pairing AND requires
    ``video_min_n_close`` (default 2) qualifying frame pairs per edge;
    disabling both guards reproduces the spurious merge."""
    import os

    import numpy as np

    from stglib_spark.functions.media import encode_avi
    from stglib_spark.pipeline import run_media_dedup

    r = np.arange(12).reshape(12, 1)
    c = np.arange(22).reshape(1, 22)

    def gray(base):
        return (
            (base * 37 + r * 13 + c * 7 + (base % 11) * r * c) % 256
        ).astype(np.uint8)

    black = np.zeros((12, 22), dtype=np.uint8)

    def avi(frames):
        return encode_avi(
            [np.repeat(f[..., None], 3, axis=2) for f in frames], fps=4.0
        )

    rows = [
        (20, bytearray(avi([black, gray(5), gray(6)]))),
        (21, bytearray(avi([black, gray(60), gray(61)]))),  # unrelated
    ]
    path = os.path.join(fixture_dir, "media_vids_black.parquet")
    spark.createDataFrame(rows, "media_id long, content binary").write.mode(
        "overwrite"
    ).parquet(path)
    cfg = {
        "media_path": path,
        "output_dir": fixture_dir,
        "filename": "mediadedup_black",
        "media_kind": "video",
    }
    paths = run_media_dedup(spark, cfg)
    assert spark.read.parquet(paths["clusters"]).count() == 0

    unguarded = dict(
        cfg,
        filename="mediadedup_black_off",
        video_drop_constant_frames=False,
        video_min_n_close=1,
    )
    paths = run_media_dedup(spark, unguarded)
    clusters = {
        row["doc_id"]: row["canonical_id"]
        for row in spark.read.parquet(paths["clusters"]).collect()
    }
    assert clusters == {20: 20, 21: 20}  # the failure mode, reproduced


def test_e2e_queries_leave_session_confs_untouched(spark):
    """VERDICT r8 task #4: the e2e stage queries drive the CLI `main()`
    in-process, whose `get_spark()` would overwrite runtime confs on the
    live session (shuffle.partitions, timezone, AQE, Arrow). The
    `_session_conf_guard` wrapper must leave the session exactly as it
    entered, so the driver's grading order is irrelevant."""
    from stglib_spark.queries import QUERIES

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
    )
    # capture the suite's value BEFORE mutating, and restore THAT — a
    # hardcoded restore couples this test to an assumed suite default
    # and leaks state if the default changes (ADVICE r9)
    pre_test = spark.conf.get("spark.sql.shuffle.partitions")
    # a deliberately NON-default value so a get_spark() overwrite is visible
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        before = {k: spark.conf.get(k) for k in keys}
        for name in ("e2e_glx_waves_roundtrip", "e2e_cli_export_nc_roundtrip"):
            QUERIES[name](spark, "/root/testdata/sf0.001").collect()
        after = {k: spark.conf.get(k) for k in keys}
        assert after == before
        # the session timezone is a separate, DOCUMENTED contract:
        # epoch-sensitive queries pin UTC idempotently (session.pin_utc) —
        # absolute and order-independent, never a relative mutation
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", pre_test)
        spark.conf.set("spark.sql.session.timeZone", "UTC")



def test_scale_offset_calibration(spark, tmp_path):
    """<FAMILY>_offset / <FAMILY>_scale (abss scale_vars semantics):
    v' = (v - offset) * scale, applied at clean with history + note."""
    cfg = {
        "output_dir": str(tmp_path),
        "filename": "cal",
        "P_1_offset": 2.0,
        "P_1_scale": 1.5,
        "Tx_offset": 0.5,
    }
    raw = spark.createDataFrame(
        [("2021-06-01 00:00:00", 10.0, 20.0), ("2021-06-01 00:01:00", 12.0, 21.0)],
        "ts string, Pressure double, Tx_1211 double",
    ).select(F.col("ts").cast("timestamp").alias("time"), "Pressure", "Tx_1211")
    raw.write.mode("overwrite").parquet(_zone_path(cfg, "raw"))
    path = run_clean(spark, cfg)
    rows = {r["time"].minute: r for r in spark.read.parquet(path).collect()}
    assert rows[0]["Pressure"] == (10.0 - 2.0) * 1.5
    assert rows[1]["Pressure"] == (12.0 - 2.0) * 1.5
    assert rows[0]["Tx_1211"] == 20.0 - 0.5
    meta = json.load(open(path + ".meta.json"))
    hist = " ".join(meta["history"])
    assert "offset of 2.0 and scale factor of 1.5" in hist
    assert any("offset" in n for n in meta["notes"].get("Pressure", []))


def test_drop_vars_leave_the_clean_zone(spark, tmp_path):
    """drop_vars (core/qaqc.py:677-693): a listed variable the zone
    carries is gone from the clean zone; the History names it and the
    listed name the zone does not carry."""
    cfg = {
        "output_dir": str(tmp_path),
        "filename": "drop",
        "drop_vars": ["Tx_1211", "Turb"],
    }
    raw = spark.createDataFrame(
        [("2021-06-01 00:00:00", 10.0, 20.0), ("2021-06-01 00:01:00", 12.0, 21.0)],
        "ts string, Pressure double, Tx_1211 double",
    ).select(F.col("ts").cast("timestamp").alias("time"), "Pressure", "Tx_1211")
    raw.write.mode("overwrite").parquet(_zone_path(cfg, "raw"))
    path = run_clean(spark, cfg)
    cols = spark.read.parquet(path).columns
    assert "Tx_1211" not in cols and "Pressure" in cols
    meta = json.load(open(path + ".meta.json"))
    line = next(h for h in meta["history"] if "drop_vars" in h)
    assert "['Tx_1211']" in line and "['Turb']" in line


def test_marotte_clean_spd2uv_and_correct_mag_var(spark, tmp_path):
    """Tilt-current-meter clean path (mar.py:88-96): u/v from
    speed/heading, CF renames, magvar ONLY when correct_mag_var TRUE."""
    import math

    raw = spark.createDataFrame(
        [("2021-06-01 00:00:00", 1.0, 90.0, 15.0)],
        "ts string, speed double, heading double, temp double",
    ).select(
        F.col("ts").cast("timestamp").alias("time"), "speed", "heading", "temp"
    )
    for flag, magvar, expect_rot in (
        ("TRUE", 10.0, True),
        ("FALSE", 10.0, False),
    ):
        cfg = {
            "output_dir": str(tmp_path),
            "filename": f"mar{flag}",
            "correct_mag_var": flag,
            "magnetic_variation": magvar,
        }
        raw.write.mode("overwrite").parquet(_zone_path(cfg, "raw"))
        path = run_clean(spark, cfg)
        row = spark.read.parquet(path).collect()[0]
        assert {"u_1205", "v_1206", "CS_300", "CD_310", "T_28"} <= set(
            spark.read.parquet(path).columns
        )
        # speed 1 @ heading 90 -> u = 1, v = 0 (oceanographic to-dir)
        if expect_rot:
            th = math.radians(magvar)
            assert row["u_1205"] == pytest.approx(math.cos(th), abs=1e-12)
            assert row["v_1206"] == pytest.approx(-math.sin(th), abs=1e-12)
            assert row["CD_310"] == pytest.approx(100.0)
        else:
            assert row["u_1205"] == pytest.approx(1.0, abs=1e-12)
            assert abs(row["v_1206"]) < 1e-12
            assert row["CD_310"] == pytest.approx(90.0)


def test_filtered_wl_tolerance_fills_small_gaps(spark, tmp_path):
    """wlfilt_tolerance (glx.py:335-355): NaN gaps within tolerance are
    nearest-filled before the lowpass so neighbours stay finite, and
    the gap cells re-null after; gaps beyond tolerance leave the IIR
    output NaN around them."""
    import numpy as np
    import pandas as pd

    t0 = pd.Timestamp("2021-06-01")
    n = 240
    vals = [float(np.sin(i / 20.0)) for i in range(n)]
    vals[100] = None  # single small gap (fillable within 60 s)
    pdf = pd.DataFrame(
        {
            "time": [t0 + pd.Timedelta(seconds=60 * i) for i in range(n)],
            "water_level": vals,
        }
    )
    cfg = {
        "output_dir": str(tmp_path),
        "filename": "wlf",
        "filtered_wl": True,
        "sample_interval": 60.0,
    }
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        _zone_path(cfg, "raw")
    )
    path = run_clean(spark, cfg)
    out = spark.read.parquet(path).orderBy("time").collect()
    # the gap cell itself re-nulls...
    assert out[100]["water_level_filt"] is None
    # ...but its neighbours got a finite filtered value (the fill kept
    # the recursion alive through the gap)
    assert out[101]["water_level_filt"] is not None
    assert out[150]["water_level_filt"] is not None


def test_average_wave_interval_subdivides_bursts(spark, tmp_path):
    """average_wave_interval (sg/wvsnc2waves.py:16-18 make_wave_bursts):
    a long recorded burst splits into smaller analysis bursts keyed
    from the sample index (burst-header formats stamp all samples with
    the burst start)."""
    from stglib_spark.pipeline import _burst_keyed

    t0 = 1622505600
    df = spark.range(512).select(
        F.timestamp_seconds(F.lit(t0)).alias("burst_time"),
        F.timestamp_seconds(F.lit(t0)).alias("time"),
        F.col("id").cast("long").alias("sample"),
        (F.col("id").cast("double") / 512.0).alias("P_1"),
    )
    cfg = {"average_wave_interval": 128, "sample_interval": 1.0}
    out = _burst_keyed(df, cfg)
    bursts = sorted(
        r["burst_time"].timestamp() for r in
        out.select("burst_time").distinct().collect()
    )
    assert bursts == [t0, t0 + 128, t0 + 256, t0 + 384]
    # within-subburst sample indexes restart at 0
    firsts = out.filter(F.col("sample") == 0).count()
    assert firsts == 4


def test_average_tide_bursts_zone(spark, tmp_path):
    """average_tide_interval/duration (sg/cdf2nc.py:147-205
    avg_tide_bursts): tide zone averages only the first duration
    seconds of each interval window, stamped burst+k*interval."""
    cfg = {
        "output_dir": str(tmp_path),
        "filename": "sgt",
        "average_tide_interval": 60.0,
        "average_tide_duration": 30.0,
        "sample_rate": 1.0,
    }
    t0 = 1622505600
    raw = spark.range(240).select(
        F.timestamp_seconds(F.lit(t0)).alias("burst_time"),
        F.timestamp_seconds(F.lit(t0)).alias("time"),
        F.col("id").cast("long").alias("sample"),
        F.col("id").cast("double").alias("P_1"),
    )
    raw.write.mode("overwrite").parquet(_zone_path(cfg, "raw"))
    run_clean(spark, cfg)
    import os

    tide_path = _zone_path(cfg, "tide")
    assert os.path.isdir(tide_path)
    rows = {
        r["time"].timestamp(): r["P_1"]
        for r in spark.read.parquet(tide_path).collect()
    }
    # window k averages samples [60k, 60k+30): mean = 60k + 14.5
    assert len(rows) == 4
    for k in range(4):
        assert rows[t0 + 60.0 * k] == 60.0 * k + 14.5
    meta = json.load(open(tide_path + ".meta.json"))
    assert any("tide bursts" in h for h in meta["history"])


def test_average_tide_bursts_zone_full_grid_and_nan_gate(spark, tmp_path):
    """With SGBurstDuration set, run_clean's tide zone emits the
    reference's FULL ceil(duration/interval) window grid (sg/cdf2nc.py:
    149-196): trailing windows whose slice runs into the NaN padding
    are null rows, and a QA/QC-nulled sample poisons its window."""
    cfg = {
        "output_dir": str(tmp_path),
        "filename": "sgt2",
        "average_tide_interval": 60.0,
        "average_tide_duration": 30.0,
        "sample_rate": 1.0,
        "SGBurstDuration": 300.0,
        # null one sample inside window 1's averaged slice [60, 90)
        "P_1_min": 1.0,
    }
    t0 = 1622505600
    # 250 samples (not a multiple of 60): window 4's slice [240, 270)
    # has only 10 recorded samples; sample 70 gets value 0.5 -> nulled
    # by the min rule
    raw = spark.range(250).select(
        F.timestamp_seconds(F.lit(t0)).alias("burst_time"),
        F.timestamp_seconds(F.lit(t0)).alias("time"),
        F.col("id").cast("long").alias("sample"),
        F.when(F.col("id") == 70, 0.5)
        .otherwise(F.col("id").cast("double") + 10.0)
        .alias("P_1"),
    )
    raw.write.mode("overwrite").parquet(_zone_path(cfg, "raw"))
    run_clean(spark, cfg)
    rows = {
        r["time"].timestamp(): r["P_1"]
        for r in spark.read.parquet(_zone_path(cfg, "tide")).collect()
    }
    # full 5-window grid emitted
    assert sorted(rows) == [t0 + 60.0 * k for k in range(5)]
    # windows 0, 2, 3: plain means of samples [60k, 60k+30) (+10 offset)
    for k in (0, 2, 3):
        assert rows[t0 + 60.0 * k] == 60.0 * k + 14.5 + 10.0
    # window 1: poisoned by the QA/QC-nulled sample 70
    assert rows[t0 + 60.0] is None
    # window 4: slice runs into the padding (10 of 30 samples)
    assert rows[t0 + 240.0] is None


def test_burst_keyed_truncates_bursts_to_wave_duration(spark):
    """``wave_duration`` truncates every burst to its first
    ``wave_duration / sample_interval`` samples in time order
    (rsk/nc2waves.py:33-42, ``timeops.wave_duration_trim``); a burst
    already shorter is kept whole."""
    import datetime as _dt

    from stglib_spark.pipeline import _burst_keyed

    t0 = _dt.datetime(2024, 6, 1)
    lengths = {0: 12, 1: 9, 2: 5}  # samples recorded per 60 s burst
    rows = [
        (t0 + _dt.timedelta(seconds=60 * b + 2 * s), float(100 * b + s))
        for b, n in lengths.items()
        for s in range(n)
    ]
    df = spark.createDataFrame(rows[::-1], "time timestamp, P_1 double")
    cfg = {"wave_interval": 60, "sample_interval": 2.0, "wave_duration": 14}
    got = _burst_keyed(df, cfg).select("burst_time", "sample", "P_1").collect()
    nsamps = 7
    want = {
        (t0 + _dt.timedelta(seconds=60 * b), s, float(100 * b + s))
        for b, n in lengths.items()
        for s in range(min(n, nsamps))
    }
    assert len(got) == len(want)
    assert {(r.burst_time, r.sample, r.P_1) for r in got} == want


def test_run_clean_job_count_with_spark_written_met(spark, tmp_path, jobs_launched):
    """cdf2nc on an RBR deployment with a Spark-written met file runs
    the atmospheric as-of correction and ``_max`` QA/QC gates in at most
    three Spark jobs: the bucket table's aggregation and broadcast and
    the clean-zone write. No job re-scans the raw zone for its bucket
    keys and no zone or met read infers its schema with a job."""
    from stglib_spark.pipeline import run_ingest

    lines = ["Time,Pressure,Temperature,Turbidity"]
    for i in range(600):
        lines.append(
            f"2021-09-01 {i // 60:02d}:{i % 60:02d}:00,"
            f"{14 + (i % 97) * 0.25:.2f},{18 + (i % 41) * 0.125:.3f},"
            f"{(i % 80) * 0.5:.1f}"
        )
    csv = tmp_path / "deployment.csv"
    csv.write_text("\n".join(lines) + "\n")
    met = str(tmp_path / "met")
    spark.range(61).select(
        F.timestamp_micros(
            F.lit(1630454400000000) + (F.col("id") * 600 + 13) * F.lit(1000000)
        ).alias("time"),
        (10 + (F.col("id") % 16) * 0.0625).alias("atmpres"),
    ).write.parquet(met)
    cfg = {
        "instrument": "rbr_csv",
        "input_path": str(csv),
        "output_dir": str(tmp_path),
        "filename": "jobs",
        "good_dates": [("2021-09-01 00:30:00", "2021-09-01 09:30:00")],
        "atmpres_path": met,
        "initial_instrument_height": 0.5,
        "T_28_max": 22.0,
        "Turb_max": 30.0,
    }
    run_ingest(spark, cfg)
    path, jobs = jobs_launched(lambda: run_clean(spark, cfg))
    clean = spark.read.parquet(path)
    assert clean.count() == 541
    assert clean.filter(F.col("P_1ac").isNull()).count() == 0
    assert jobs <= 3, jobs


def test_registry_query_reads_its_zones_back_without_inference(spark, sf_dir, jobs_launched):
    """``dedup_cluster_quality`` reads back the verified-pair and
    component zones ``run_dedup`` wrote through ``session.read_parquet``:
    at most 19 construction jobs, where two schema-inference reads made
    21."""
    from stglib_spark.queries import QUERIES

    df, jobs = jobs_launched(lambda: QUERIES["dedup_cluster_quality"](spark, sf_dir))
    assert jobs <= 19, jobs
    assert df.count() > 0
