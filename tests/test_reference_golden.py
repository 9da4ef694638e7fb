"""Golden-value tests replicating the reference's own fixtures
(tests/test_stglib.py, tests/test_utils.py) — numeric parity on coordinate
transforms, clip, clock shifts, salinity roundtrips, and the wave-stats
invariant."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stglib_spark.operators import clip as clip_ops
from stglib_spark.operators import physics, timeops, transforms

T_NORTEK = [
    [2896 / 4096, 2896 / 4096, 0.0],
    [-2896 / 4096, 2896 / 4096, 0.0],
    [-2896 / 4096, -2896 / 4096, 5792 / 4096],
]


@pytest.fixture(scope="module")
def vel_df(spark):
    rows = [
        (0.23, -0.52, 0.12, 0.0, 0.0, 0.0),
        (0.23, -0.52, 0.12, 10.0, -5.0, 3.0),
        (0.23, -0.52, 0.12, 230.0, 5.0, -3.0),
        (0.23, -0.52, 0.12, 230.0, 5.0, -3.0),
    ]
    return spark.createDataFrame(
        rows, "vel1 double, vel2 double, vel3 double, h double, p double, r double"
    )


def test_beam2enu_golden(spark, vel_df):
    """Nortek MATLAB example golden values (test_stglib.py:98-124)."""
    enu = transforms.beam2enu_columns(
        [F.col("vel1"), F.col("vel2"), F.col("vel3")],
        F.col("h"),
        F.col("p"),
        F.col("r"),
        T_NORTEK,
    )
    got = vel_df.select(
        enu[0].alias("u"), enu[1].alias("v"), enu[2].alias("w")
    ).toPandas()
    expected = np.array(
        [
            [0.530273437500000, -0.205039062500000, 0.374726562500000],
            [0.510589752632478, -0.266778740685713, 0.363012589777355],
            [-0.144471300248944, 0.544447107731532, 0.382565448778586],
            [-0.144471300248944, 0.544447107731532, 0.382565448778586],
        ]
    )
    np.testing.assert_allclose(got.to_numpy(), expected, rtol=1e-12)


def test_beam2enu_4beam_signature(spark):
    """4-beam (Signature/RDI Janus) BEAM→ENU: the 4×4 Beam2xyz matrix
    contributes its XYZ rows; results match an independent NumPy
    H·P·T₃ₓ₄ computation, and with H=P=identity the transform IS T₃ₓ₄."""
    th = np.radians(25.0)
    a, b = 1 / (2 * np.sin(th)), 1 / (4 * np.cos(th))
    T4 = [
        [a, -a, 0.0, 0.0],
        [0.0, 0.0, -a, a],
        [b, b, b, b],
        [b, b, -b, -b],  # error-velocity row — must be ignored
    ]
    T3 = np.array(T4[:3])
    xyz_true = np.array([0.3, -0.2, 0.1])
    beams = np.linalg.pinv(T3) @ xyz_true  # consistent 4-beam solution

    rows = [tuple(float(x) for x in beams) + (h, p, r) for h, p, r in
            [(90.0, 0.0, 0.0), (37.0, -4.0, 2.5)]]
    df = spark.createDataFrame(
        rows,
        "b1 double, b2 double, b3 double, b4 double, "
        "h double, p double, r double",
    )
    enu = transforms.beam2enu_columns(
        [F.col("b1"), F.col("b2"), F.col("b3"), F.col("b4")],
        F.col("h"), F.col("p"), F.col("r"), T4,
    )
    got = df.select(
        enu[0].alias("u"), enu[1].alias("v"), enu[2].alias("w")
    ).toPandas().to_numpy()

    # heading=90 → H = I; pitch=roll=0 → P = I; so ENU == T3·beams == xyz
    np.testing.assert_allclose(got[0], xyz_true, rtol=1e-12)

    # general attitude vs independent NumPy rotation
    hh = np.radians(37.0 - 90.0)
    pp, rr = np.radians(-4.0), np.radians(2.5)
    H = np.array([[np.cos(hh), np.sin(hh), 0],
                  [-np.sin(hh), np.cos(hh), 0], [0, 0, 1]])
    P = np.array([
        [np.cos(pp), -np.sin(pp) * np.sin(rr), -np.sin(pp) * np.cos(rr)],
        [0, np.cos(rr), -np.sin(rr)],
        [np.sin(pp), np.cos(pp) * np.sin(rr), np.cos(pp) * np.cos(rr)],
    ])
    expected = H @ P @ T3 @ beams
    np.testing.assert_allclose(got[1], expected, rtol=1e-12)

    with pytest.raises(ValueError, match="beam columns"):
        transforms.beam2enu_columns(
            [F.col("b1"), F.col("b2"), F.col("b3")],
            F.col("h"), F.col("p"), F.col("r"), T4,
        )


def test_enu2beam_roundtrip(spark, vel_df):
    """ENU→BEAM→ENU is identity (test_stglib.py:239-261)."""
    enu = transforms.beam2enu_columns(
        [F.col("vel1"), F.col("vel2"), F.col("vel3")],
        F.col("h"),
        F.col("p"),
        F.col("r"),
        T_NORTEK,
    )
    named = vel_df.select(
        "h", "p", "r", enu[0].alias("u"), enu[1].alias("v"), enu[2].alias("w")
    )
    beams = transforms.enu2beam_columns(
        [F.col("u"), F.col("v"), F.col("w")],
        F.col("h"),
        F.col("p"),
        F.col("r"),
        T_NORTEK,
    )
    back = named.select(
        beams[0].alias("b1"), beams[1].alias("b2"), beams[2].alias("b3")
    ).toPandas()
    np.testing.assert_allclose(
        back.to_numpy(),
        np.tile([0.23, -0.52, 0.12], (4, 1)),
        rtol=1e-10,
        atol=1e-12,
    )


@pytest.fixture(scope="module")
def time_df(spark):
    times = pd.date_range("2000-01-01 00:00", "2000-01-30 00:00", freq="15min")
    pdf = pd.DataFrame({"time": times})
    return spark.createDataFrame(pdf)


def test_clip_deployment_window(spark, time_df):
    """test_utils.py:68-77: clip to [00:05, 23:00] keeps 00:15..29T23:00."""
    out = clip_ops.clip_ds(
        time_df,
        {"Deployment_date": "2000-01-01 00:05", "Recovery_date": "2000-01-29 23:00"},
    )
    got = sorted(r[0] for r in out.collect())
    expected = pd.date_range("2000-01-01 00:15", "2000-01-29 23:00", freq="15min")
    assert got[0] == expected[0].to_pydatetime()
    assert got[-1] == expected[-1].to_pydatetime()
    assert len(got) == len(expected)


def test_clip_good_dates_multi(spark, time_df):
    """test_utils.py:90-110: two good_dates ranges OR'd."""
    out = clip_ops.clip_ds(
        time_df,
        {
            "good_dates": [
                ("2000-01-10 15:41", "2000-01-19 00:00"),
                ("2000-01-21 15:41", "2000-01-23 00:00"),
            ]
        },
    )
    got = sorted(r[0] for r in out.collect())
    e1 = pd.date_range("2000-01-10 15:45", "2000-01-19 00:00", freq="15min")
    e2 = pd.date_range("2000-01-21 15:45", "2000-01-23 00:00", freq="15min")
    assert len(got) == len(e1) + len(e2)
    assert got[0] == e1[0].to_pydatetime()
    assert got[-1] == e2[-1].to_pydatetime()


def test_clip_good_ens(spark, time_df):
    """test_utils.py:113-121: good_ens [1,3] keeps rows 1..2 (0-based,
    end-exclusive) → times 00:15 and 00:30."""
    out = clip_ops.clip_ds(time_df, {"good_ens": [(1, 3)]})
    got = sorted(r[0] for r in out.collect())
    assert got == [
        dt.datetime(2000, 1, 1, 0, 15),
        dt.datetime(2000, 1, 1, 0, 30),
    ]


def test_clock_shift_and_error(spark, time_df):
    """test_utils.py:135-151: +shift seconds; −ClockError seconds."""
    out = timeops.shift_time(time_df, shift_seconds=60, clock_error=10)
    got = sorted(r[0] for r in out.collect())
    base = pd.date_range("2000-01-01 00:00", "2000-01-30 00:00", freq="15min")
    assert got[0] == (base[0] + pd.Timedelta(seconds=50)).to_pydatetime()
    assert got[-1] == (base[-1] + pd.Timedelta(seconds=50)).to_pydatetime()


def test_clock_drift(spark, time_df):
    """test_utils.py:153-158: drift ramp 0 → −ClockDrift; first time
    unchanged, last time − drift."""
    out = timeops.shift_time(time_df, clock_drift=30)
    got = sorted(r[0] for r in out.collect())
    base = pd.date_range("2000-01-01 00:00", "2000-01-30 00:00", freq="15min")
    assert got[0] == base[0].to_pydatetime()
    assert got[-1] == (base[-1] - pd.Timedelta(seconds=30)).to_pydatetime()


def test_salinity_spcon_roundtrip(spark):
    """test_utils.py:37-56: Schemel conversions, rtol 1e-3."""
    df = spark.createDataFrame(
        [(10000.0, 5.63), (20000.0, 11.92)], "spcon double, sal double"
    )
    got = df.select(
        physics.salinity_from_spcon(F.col("spcon")).alias("sal_out"),
        physics.spcon_from_salinity(F.col("sal")).alias("spcon_out"),
        physics.spcon_from_salinity(
            physics.salinity_from_spcon(F.col("spcon"))
        ).alias("roundtrip"),
    ).toPandas()
    np.testing.assert_allclose(got["sal_out"], [5.63, 11.92], rtol=1e-3)
    np.testing.assert_allclose(got["spcon_out"], [10000, 20000], rtol=1e-3)
    np.testing.assert_allclose(got["roundtrip"], [10000, 20000], rtol=1e-3)


def test_wave_stats_recovers_known_hs():
    """FIXTURES invariant 1: Welch→Hs on a monochromatic wave recovers the
    injected significant height within rtol 1e-2 (test_stglib.py:338-343
    tolerance); Tp exact."""
    from stglib_spark.operators.waves import qkfs_np, waves_body

    fs, T, a = 4.0, 8.0, 0.5
    t = np.arange(4096) / fs
    p = 10.0 + a * np.sin(2 * np.pi / T * t)
    body = waves_body(
        {"sample_interval": 1 / fs, "pressure_sensor_height": 0.5, "wave_Kpmin": 0.1}
    )
    out = body(p)
    h = 10.5
    k = qkfs_np(np.array([2 * np.pi / T]), h)[0]
    kp = np.cosh(k * 0.5) / np.cosh(k * h)
    expected_hs = 4 * np.sqrt(a**2 / 2) / kp
    assert abs(out["wh_4061"] - expected_hs) / expected_hs < 1e-2
    assert out["wp_peak"] == pytest.approx(T)


def test_puv_variance_preservation():
    """test_puv_quick.py invariant: time-domain variance ≈ ∫PSD df for the
    Welch kernel (boxcar equivalence checked via full-series hann PSD on
    stochastic data at 5% tolerance)."""
    from stglib_spark.functions.signal import welch_psd

    rng = np.random.RandomState(7)
    x = rng.randn(8192)
    f, pxx = welch_psd(x, fs=2.0, nperseg=512)
    var_spec = np.trapz(pxx, f)
    assert abs(var_spec - x.var()) / x.var() < 0.05


def test_wave_stats_elev_recovers_known_hs():
    """Elevation branch (core/waves.py:684-743): no Kp transfer, so a
    monochromatic surface elevation of amplitude a gives Hs = 4·√(a²/2)
    directly; Tp exact; frequency band clipped to ≥32 periods per burst
    and ≤ min(2 Hz, Nyquist)."""
    from stglib_spark.operators.waves import waves_elev_body

    fs, T, a = 4.0, 8.0, 0.5
    t = np.arange(4096) / fs
    e = a * np.sin(2 * np.pi / T * t)
    out = waves_elev_body({"sample_interval": 1 / fs})(e)
    expected_hs = 4 * np.sqrt(a**2 / 2)
    assert abs(out["wh_4061"] - expected_hs) / expected_hs < 1e-2
    assert out["wp_peak"] == pytest.approx(T)
    f = np.array(out["frequency"])
    assert f.min() >= 1.0 / (4096 / fs / 32.0) - 1e-9
    assert f.max() <= 2.0
