"""PUV kernel invariants (reference: tests/test_puv_quick.py, variance
preservation core/waves.py:1772-1828) on a physically consistent linear
wave."""

from __future__ import annotations

import numpy as np
import pytest

from stglib_spark.operators.waves import puv_quick_np, qkfs_np


def _linear_wave(a=0.4, T=8.0, h=10.0, zp=0.5, zuv=1.0, fs=4.0, n=4096, theta=30.0):
    t = np.arange(n) / fs
    om = 2 * np.pi / T
    k = qkfs_np(np.array([om]), h)[0]
    kp = np.cosh(k * zp) / np.cosh(k * h)
    eta = a * np.cos(om * t)
    p = 10.0 + eta * kp  # dbar ≈ m head, as the reference assumes
    uamp = a * om * np.cosh(k * zuv) / np.sinh(k * h)
    u = uamp * np.cos(om * t) * np.cos(np.radians(theta))
    v = uamp * np.cos(om * t) * np.sin(np.radians(theta))
    return p, u, v, h


def test_puv_hrms_parity_and_peak():
    p, u, v, h = _linear_wave()
    out = puv_quick_np(p, u, v, h, 0.5, 1.0, 4.0, fft_length=1024)
    # Hrms = 2a for a monochromatic wave of amplitude a
    assert out["Hrmsp"] == pytest.approx(0.8, rel=0.05)
    assert out["Hrmsu"] == pytest.approx(0.8, rel=0.05)
    # pressure- and velocity-derived heights agree (the method's core claim)
    assert out["Hrmsp"] == pytest.approx(out["Hrmsu"], rel=0.03)
    assert out["Tpp"] == pytest.approx(8.0, rel=0.1)
    assert out["Tpu"] == pytest.approx(8.0, rel=0.1)
    assert out["Tr"] == pytest.approx(8.0, rel=0.1)
    # representative orbital velocity ubr = sqrt(2·var(u)+2·var(v)) for a
    # narrow-band wave = amplitude of the combined orbital motion
    uv_var = np.var(u) + np.var(v)
    assert out["ubr"] == pytest.approx(np.sqrt(2 * uv_var), rel=0.05)


def test_puv_direction_energy_ratio():
    # the PUV direction uses energy ratios: phir = atan2(±∫Gvv, ∫Guu)
    # = atan(tan²θ) for a unidirectional wave at angle θ
    theta = 30.0
    p, u, v, h = _linear_wave(theta=theta)
    out = puv_quick_np(p, u, v, h, 0.5, 1.0, 4.0, fft_length=1024)
    expected_phir = np.arctan(np.tan(np.radians(theta)) ** 2)
    assert out["phir"] == pytest.approx(expected_phir, abs=0.05)
    assert out["azr"] == pytest.approx(90 - np.degrees(expected_phir), abs=3.0)


def test_puv_variance_preservation():
    # random-sea variance check (test_puv_quick.py:24-45 spirit):
    # Hrmsp from the band-limited spectrum stays below the total-variance
    # bound and above half of it for a band-centered sea
    rng = np.random.RandomState(11)
    n, fs = 8192, 4.0
    t = np.arange(n) / fs
    # band-limited random sea in 0.08..0.18 Hz
    eta = np.zeros(n)
    for f0 in np.linspace(0.08, 0.18, 12):
        eta += rng.rand() * 0.1 * np.cos(2 * np.pi * f0 * t + rng.rand() * 6.28)
    h, zp, zuv = 10.0, 0.5, 1.0
    k0 = qkfs_np(np.array([2 * np.pi * 0.13]), h)[0]
    kp0 = np.cosh(k0 * zp) / np.cosh(k0 * h)
    p = 10.0 + eta * kp0
    u = np.gradient(eta, 1 / fs) * 0.5
    v = 0.5 * u
    out = puv_quick_np(p, u, v, h, zp, zuv, fs, fft_length=1024)
    hrms_expected = 2 * np.sqrt(2 * np.var(eta))
    assert out["Hrmsp"] == pytest.approx(hrms_expected, rel=0.15)


def _puv_bursts(spark):
    """Four bursts of (burst, sample, p, u, v) at 2 Hz: two full ones, one
    of 20 samples (the wave chain keeps it, PUV needs 32) and one with
    all-NaN pressure (both skip it)."""
    import pandas as pd

    frames = []
    for b, (n, nan_p) in enumerate([(256, False), (256, False), (20, False), (64, True)]):
        p, u, v, _ = _linear_wave(fs=2.0, n=n, theta=30.0 + 40 * b)
        frames.append(
            pd.DataFrame(
                {
                    "burst_time": pd.Timestamp("2024-06-01") + pd.Timedelta(hours=b),
                    "sample": np.arange(n),
                    "P_1ac": np.full(n, np.nan) if nan_p else p,
                    "u_1205": u,
                    "v_1206": v,
                }
            )
        )
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def test_fused_waves_puv_equals_waves_left_join_puv(spark):
    """One Arrow stage computes what make_waves_ds LEFT JOIN make_puv_ds
    on the burst key computed: same columns in the same order, same
    values, and null PUV columns on the burst PUV skips."""
    from stglib_spark.operators.waves import (
        _PUV_FIELDS,
        make_puv_ds,
        make_waves_ds,
        make_waves_puv_ds,
    )

    df = _puv_bursts(spark)
    cfg = {"sample_interval": 0.5, "pressure_sensor_height": 0.5,
           "velocity_sample_volume_height": 1.0, "puv_fft_length": 64,
           "wave_Kpmin": 0.2}
    joined = make_waves_ds(df, cfg).join(make_puv_ds(df, cfg), "burst_time", "left")
    fused = make_waves_puv_ds(df, cfg)
    assert fused.schema == joined.schema

    want = [r.asDict() for r in joined.orderBy("burst_time").collect()]
    got = [r.asDict() for r in fused.orderBy("burst_time").collect()]
    assert len(got) == 3  # the all-NaN burst is skipped by both
    short = got[2]
    assert all(short[c] is None for c in _PUV_FIELDS)
    assert short["wh_4061"] is not None
    assert all(got[0][c] is not None for c in ("Hrmsp", "azr", "ubr"))
    for g, w in zip(got, want):
        assert g.keys() == w.keys()
        for c in g:
            if isinstance(g[c], float) and isinstance(w[c], float):
                assert g[c] == w[c] or (np.isnan(g[c]) and np.isnan(w[c])), c
            else:
                assert g[c] == w[c], c


@pytest.mark.parametrize("kind", ["pressure", "elevation", "diwasp_pres"])
def test_gap_gate_shared_by_the_bodies(kind):
    """The pressure, elevation and DIWASP ``pres`` bodies share one gap
    gate: a burst with 15% NaN samples yields no row, and one with 5%
    NaN yields the row of its linearly filled series."""
    from stglib_spark.operators.dirspec import diwasp_body
    from stglib_spark.operators.waves import waves_body, waves_elev_body

    cfg = {
        "sample_interval": 0.5,
        "pressure_sensor_height": 0.5,
        "wave_Kpmin": 0.2,
        "diwasp": "pres",
        "diwasp_method": "DFTM",
        "diwasp_nfft": 64,
        "diwasp_nfreqs": 16,
        "diwasp_ndirs": 12,
        "diwasp_dres": 36,
    }
    n = 512
    x = 0.5 * np.cos(2 * np.pi * np.arange(n) * 0.5 / 8.0)
    if kind == "elevation":
        body = waves_elev_body(cfg)
    else:
        x = x + 9.5
        body = waves_body(cfg)
    if kind == "diwasp_pres":
        fit, still = diwasp_body(cfg), np.zeros(n)
        body = lambda p: fit(p, still, still)  # noqa: E731
    rng = np.random.default_rng(3)
    idx = np.arange(n)

    def holed(frac):
        y = x.copy()
        y[rng.choice(idx[1:-1], int(frac * n), replace=False)] = np.nan
        return y

    assert body(holed(0.15)) is None
    y = holed(0.05)
    good = np.isfinite(y)
    row = body(y)
    assert row is not None
    np.testing.assert_equal(row, body(np.interp(idx, idx[good], y[good])))
