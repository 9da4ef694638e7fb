"""Directional spectrum estimator checks: a unidirectional linear wave
must produce a spectrum peaking at its travel direction and frequency,
with Hs matching the wave amplitude (DIWASP semantics; the reference
golden-tests its estimators against published spectra, test_stglib.py)."""

from __future__ import annotations

import numpy as np
import pytest

from stglib_spark.functions.diwasp import csd_matrix, dirspec, wavenumber
from stglib_spark.operators.dirspec import make_mwd


def _puv_wave(a=0.5, T=8.0, h=10.0, zp=0.5, zuv=1.0, fs=4.0, n=4096, theta_deg=60.0):
    t = np.arange(n) / fs
    om = 2 * np.pi / T
    k = wavenumber(np.array([om]), np.array([h]))[0]
    th = np.radians(theta_deg)
    eta = a * np.cos(om * t)
    p = 10.0 + eta * np.cosh(k * zp) / np.cosh(k * h)
    uamp = a * om * np.cosh(k * zuv) / np.sinh(k * h)
    u = uamp * np.cos(om * t) * np.cos(th)
    v = uamp * np.cos(om * t) * np.sin(th)
    return np.column_stack([p, u, v])


@pytest.mark.parametrize("method", ["DFTM", "IMLM"])
def test_dirspec_recovers_direction_and_frequency(method):
    theta = 60.0
    data = _puv_wave(theta_deg=theta)
    layout = np.array([[0.0, 0, 0], [0.0, 0, 0], [0.5, 1.0, 1.0]])
    freqs = np.linspace(0.02, 0.5, 25)
    dirs = np.arange(0.0, 360.0, 10.0)
    res = dirspec(
        data,
        ["pres", "velx", "vely"],
        layout,
        10.25,
        4.0,
        freqs,
        dirs,
        method=method,
        nfft=512,
        dres=90,
        miter=20,
        dunit="cart",  # assertions below are in the cartesian frame
    )
    assert res["tp"] == pytest.approx(8.0, rel=0.15)
    # peak direction within one grid step of the true travel direction
    d_err = min(abs(res["dp_deg"] - theta), 360 - abs(res["dp_deg"] - theta))
    assert d_err <= 20.0
    # Hs ≈ 4·sqrt(a²/2) = 1.414 for a=0.5. Both estimators conserve
    # energy: IMLM clamps negative relaxation lobes AND renormalizes each
    # frequency slice to the observed autospectrum (m0-preserving by
    # construction — unlike the reference, which clamps without
    # renormalizing, dirspec.py:158, and inflates Hs on narrow spectra).
    expected_hs = 4 * np.sqrt(0.5**2 / 2)
    assert res["hs"] == pytest.approx(expected_hs, rel=0.1)
    dm = make_mwd(res["freqs"], res["dirs_deg"], res["S"])
    dm_err = min(abs(dm - theta), 360 - abs(dm - theta))
    assert dm_err <= 25.0


def _spread_sea(seed=5, fs=4.0, n=4096, h=10.0, zp=0.5, zuv=1.0):
    """Directionally-spread random sea, per-component linear-wave
    consistent (p, u, v all derived from each component's own k)."""
    rng = np.random.RandomState(seed)
    t = np.arange(n) / fs
    eta = np.zeros(n)
    u = np.zeros(n)
    v = np.zeros(n)
    p = np.zeros(n)
    en_sin = en_cos = 0.0
    for f0 in np.linspace(0.08, 0.2, 10):
        a = 0.08 * (1 + rng.rand())
        th = np.radians(60.0 + rng.randn() * 15)
        ph = rng.rand() * 2 * np.pi
        om = 2 * np.pi * f0
        k = wavenumber(np.array([om]), np.array([h]))[0]
        eta += a * np.cos(om * t + ph)
        p += a * np.cos(om * t + ph) * np.cosh(k * zp) / np.cosh(k * h)
        uamp = a * om * np.cosh(k * zuv) / np.sinh(k * h)
        u += uamp * np.cos(om * t + ph) * np.cos(th)
        v += uamp * np.cos(om * t + ph) * np.sin(th)
        en_sin += a * a * np.sin(th)
        en_cos += a * a * np.cos(th)
    mean_dir = np.degrees(np.arctan2(en_sin, en_cos))
    return np.column_stack([10.0 + p, u, v]), eta, mean_dir


@pytest.mark.parametrize(
    "method,hs_rtol,dir_tol", [("DFTM", 0.1, 20.0), ("IMLM", 0.1, 25.0)]
)
def test_spread_sea_energy_and_direction(method, hs_rtol, dir_tol):
    """Energy conservation + mean direction on a realistic spread sea.
    Both estimators conserve m0 (IMLM renormalizes after the clamp)."""
    data, eta, mean_dir = _spread_sea()
    layout = np.array([[0.0, 0, 0], [0.0, 0, 0], [0.5, 1.0, 1.0]])
    freqs = np.linspace(0.02, 0.5, 25)
    dirs = np.arange(0.0, 360.0, 10.0)
    res = dirspec(
        data, ["pres", "velx", "vely"], layout, 10.25, 4.0, freqs, dirs,
        method=method, nfft=512, dres=90, miter=20, dunit="cart",
    )
    expected_hs = 4 * np.sqrt(np.var(eta))
    assert res["hs"] == pytest.approx(expected_hs, rel=hs_rtol)
    d_err = min(abs(res["dp_deg"] - mean_dir), 360 - abs(res["dp_deg"] - mean_dir))
    assert d_err <= dir_tol


def test_csd_matrix_auto_spectrum_is_psd():
    rng = np.random.RandomState(3)
    x = rng.randn(4096)
    data = np.column_stack([x, x])
    xps, f = csd_matrix(data, 256, 2.0)
    # auto-spectrum integrates to the variance (Parseval), and the
    # cross-spectrum of identical signals equals the auto-spectrum
    var_est = np.sum(np.real(xps[0, 0])) * (f[1] - f[0])
    assert var_est == pytest.approx(x.var(), rel=0.1)
    np.testing.assert_allclose(np.real(xps[0, 1]), np.real(xps[0, 0]), rtol=1e-10)


def test_wavenumber_satisfies_dispersion():
    om = np.array([0.5, 1.0, 2.0])
    h = np.array([10.0, 10.0, 10.0])
    k = wavenumber(om, h)
    np.testing.assert_allclose(9.81 * k * np.tanh(k * h), om**2, rtol=1e-6)


def test_smoothspec_kernel_semantics():
    """private/smoothspec.py semantics: interior 5x5 cross average with
    (1, .5, .25) weights, 2-cell margins untouched, NaN as zero."""
    from stglib_spark.functions.diwasp import smoothspec

    S = np.zeros((9, 9))
    S[4, 4] = 1.0  # delta with a full interior neighborhood
    out = smoothspec(S)
    tot = 2 * 0.25 + 2 * 0.5 + 1 + 2 * 0.25 + 2 * 0.5 + 1  # 4.5
    assert out[4, 4] == pytest.approx(2.0 / tot)  # f3 + d3 at center
    assert out[3, 4] == pytest.approx(0.5 / tot)  # f2, one freq step
    assert out[4, 6] == pytest.approx(0.25 / tot)  # d1, two dir steps
    # margins untouched
    np.testing.assert_array_equal(out[:2], S[:2])
    np.testing.assert_array_equal(out[:, :2], S[:, :2])
    # energy in the interior is conserved by the normalized kernel
    assert out[2:-2, 2:-2].sum() == pytest.approx(1.0)
    # NaN treated as zero, not propagated
    S2 = np.full((9, 9), np.nan)
    S2[4, 4] = 1.0
    out2 = smoothspec(S2)
    assert np.isfinite(out2[2:-2, 2:-2]).all()


def test_make_dspec_tail_np_matches_per_column_make_tail():
    """make_dspec_tail (core/waves.py:900-909) is make_tail applied to
    each direction column; the vectorized kernel must match exactly,
    and NaN tailind must NaN the whole spectrum (the reference's
    no-valid-cutoff branch)."""
    from stglib_spark.operators.waves import make_dspec_tail_np, make_tail_np

    rng = np.random.RandomState(7)
    f = np.linspace(0.1, 1.0, 10)
    dspec = rng.rand(10, 6)
    ti = 4.0
    out = make_dspec_tail_np(f, dspec, ti)
    for d in range(6):
        np.testing.assert_allclose(out[:, d], make_tail_np(f, dspec[:, d], ti))
    # below the cutoff untouched; above it the f^-4 splice off row ti
    np.testing.assert_array_equal(out[:4], dspec[:4])
    np.testing.assert_allclose(out[7, 2], dspec[4, 2] * (f[7] / f[4]) ** -4)
    assert np.isnan(make_dspec_tail_np(f, dspec, float("nan"))).all()


def _diwasp_burst_df(spark, with_ast=None, n=512, fs=2.0, h=10.0, zp=0.5,
                     T=8.0, a=0.5, theta_deg=60.0, n_bursts=1):
    """Monochromatic linear-wave PUV burst(s) as a Spark DataFrame in
    make_diwasp_ds's input shape; optional per-burst AST column
    (with_ast: list of 'clean'|'nan' per burst)."""
    import pandas as pd

    t = np.arange(n) / fs
    om = 2 * np.pi / T
    k = wavenumber(np.array([om]), np.array([h]))[0]
    th = np.radians(theta_deg)
    frames = []
    for b in range(n_bursts):
        eta = a * np.cos(om * t + 0.3 * b)
        p = (h - zp) + eta * np.cosh(k * zp) / np.cosh(k * h)
        uamp = a * om * np.cosh(k * 1.0) / np.sinh(k * h)
        u = uamp * np.cos(om * t + 0.3 * b) * np.cos(th)
        v = uamp * np.cos(om * t + 0.3 * b) * np.sin(th)
        pdf = pd.DataFrame(
            {
                "burst_time": pd.Timestamp("2024-03-01") + pd.Timedelta(hours=b),
                "sample": np.arange(n),
                "P_1ac": p,
                "u_1205": u,
                "v_1206": v,
            }
        )
        if with_ast is not None:
            ast = h - zp + eta
            if with_ast[b] == "nan":
                ast[5] = np.nan
            pdf["brange"] = ast
        frames.append(pdf)
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))


def test_make_diwasp_ds_tail_branch(spark):
    """The pres/puv DIWASP chain must apply the post-estimation cutoff +
    f^-4 tail (reference core/waves.py:479-527): above the wave_fcut
    index the 1-D spectrum follows the canonical rolloff, every
    direction column of the dspec is the scaled base row, and
    Hs/Tp/Tm recompute from moments of the TAILED spectrum."""
    from stglib_spark.operators.dirspec import make_diwasp_ds

    # output grid must RESOLVE the internal estimation grid (nfreqs ≥
    # nfft/2) or the reference's output-grid moments inflate on narrow
    # spectra — the interpspec >2% Hs-drift warning in the reference
    cfg = {
        "sample_interval": 0.5,
        "pressure_sensor_height": 0.5,
        "diwasp": "puv",
        "diwasp_method": "DFTM",
        "diwasp_nfft": 64,
        "diwasp_dres": 36,
        "diwasp_nfreqs": 32,
        "diwasp_ndirs": 12,
    }
    df = _diwasp_burst_df(spark)
    row_auto = make_diwasp_ds(df, cfg).collect()[0]
    row_cut = make_diwasp_ds(df, {**cfg, "wave_fcut": 0.5}).collect()[0]

    f = np.asarray(row_cut["diwasp_frequency"])
    fspec = np.asarray(row_cut["diwasp_fspec"])
    dspec = np.asarray(row_cut["diwasp_dspec"])
    ti = int(np.searchsorted(f, 0.5))
    # f^-4 splice in the 1-D spectrum and in every direction column
    np.testing.assert_allclose(
        fspec[ti:], fspec[ti] * (f[ti:] / f[ti]) ** -4, rtol=1e-12
    )
    for j in range(ti, len(f)):
        np.testing.assert_allclose(
            dspec[j], dspec[ti] * (f[j] / f[ti]) ** -4, rtol=1e-12
        )
    # stats from moments of the TAILED output-grid spectrum
    m0 = np.trapz(fspec, f)
    m2 = np.trapz(fspec * f**2, f)
    assert row_cut["wh_4061"] == pytest.approx(4 * np.sqrt(m0), rel=1e-12)
    assert row_cut["wp_4060"] == pytest.approx(np.sqrt(m0 / m2), rel=1e-12)
    assert row_cut["wp_peak"] == pytest.approx(
        1.0 / f[int(np.argmax(fspec))], rel=1e-12
    )
    # physics: the monochromatic Hs stays near 4·sqrt(a^2/2)
    assert row_cut["wh_4061"] == pytest.approx(4 * np.sqrt(0.5**2 / 2), rel=0.15)
    # the auto-cutoff (J&M) branch also runs without user fcut and
    # either tails or rejects — it must not crash and must keep Tp
    assert row_auto["wp_peak"] == pytest.approx(8.0, rel=0.2)


def test_make_diwasp_ds_optimized_nd(spark):
    """optimized-nd input selection (reference core/waves.py:433-445):
    per burst, elevation when the AST trace is clean, pressure when it
    carries NaNs — recorded in diwasp_type; the pres-selected burst
    additionally rides the tail branch."""
    from stglib_spark.operators.dirspec import make_diwasp_ds

    cfg = {
        "sample_interval": 0.5,
        "pressure_sensor_height": 0.5,
        "diwasp": "optimized-nd",
        "diwasp_method": "DFTM",
        "diwasp_nfft": 64,
        "diwasp_dres": 36,
        "diwasp_nfreqs": 32,
        "diwasp_ndirs": 12,
        "wave_fcut": 0.5,
    }
    df = _diwasp_burst_df(spark, with_ast=["clean", "nan"], n_bursts=2)
    rows = {
        r["diwasp_type"]: r
        for r in make_diwasp_ds(df, cfg, ast_col="brange")
        .orderBy("burst_time")
        .collect()
    }
    assert set(rows) == {"elev", "pres"}
    # the pres burst got the tail; the elev burst did not
    f = np.asarray(rows["pres"]["diwasp_frequency"])
    fs_p = np.asarray(rows["pres"]["diwasp_fspec"])
    ti = int(np.searchsorted(f, 0.5))
    np.testing.assert_allclose(
        fs_p[ti:], fs_p[ti] * (f[ti:] / f[ti]) ** -4, rtol=1e-12
    )
    fs_e = np.asarray(rows["elev"]["diwasp_fspec"])
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = fs_e[ti + 1 :] / (fs_e[ti] * (f[ti + 1 :] / f[ti]) ** -4)
    assert not np.allclose(ratio, 1.0)
    # both recover the monochromatic wave
    for r in rows.values():
        assert r["wp_peak"] == pytest.approx(8.0, rel=0.2)
        assert r["wh_4061"] == pytest.approx(4 * np.sqrt(0.5**2 / 2), rel=0.2)


def test_make_diwasp_ds_reference_default_freq_grid(spark):
    """With neither diwasp_freqs nor diwasp_nfreqs configured, the
    output frequency axis must follow the reference default
    (core/waves.py:101-111): nfft/2 bins on an arange grid from
    round(32/burst_duration, 3) to min(2 Hz, Nyquist); an explicit
    diwasp_freqs list must pass through verbatim."""
    from stglib_spark.operators.dirspec import make_diwasp_ds

    cfg = {
        "sample_interval": 0.5,  # fs = 2 -> nyq = 1 -> fhi = 1
        "pressure_sensor_height": 0.5,
        "diwasp": "puv",
        "diwasp_method": "DFTM",
        "diwasp_nfft": 64,
        "diwasp_dres": 36,
        "diwasp_ndirs": 12,
        "wave_fcut": 0.5,
    }
    df = _diwasp_burst_df(spark)  # 512 samples at 2 Hz -> 256 s burst
    f = np.asarray(
        make_diwasp_ds(df, cfg).collect()[0]["diwasp_frequency"]
    )
    nsamps, fs = 512, 2.0
    flo = float(np.round(1.0 / (nsamps / fs / 32.0), 3))  # 0.125
    fhi = 1.0
    expected = np.arange(flo, fhi, (fhi - flo) / 32.0)  # nfft/2 bins
    np.testing.assert_allclose(f, expected)
    # with diwasp_nfft ALSO unset, nfft follows the reference wrapper:
    # next_power_of_2(nsamps/nsegs) = next_pow2(512/16) = 32 -> 16 bins
    cfg_nodefaults = {k: v for k, v in cfg.items() if k != "diwasp_nfft"}
    f3 = np.asarray(
        make_diwasp_ds(df, cfg_nodefaults).collect()[0]["diwasp_frequency"]
    )
    assert len(f3) == 16
    np.testing.assert_allclose(f3, np.arange(flo, fhi, (fhi - flo) / 16.0))
    # explicit grid passes through
    grid = [0.1, 0.2, 0.3, 0.4]
    f2 = np.asarray(
        make_diwasp_ds(df, {**cfg, "diwasp_freqs": grid})
        .collect()[0]["diwasp_frequency"]
    )
    np.testing.assert_allclose(f2, grid)


def test_dirspec_nautical_basis_vs_cartesian():
    """The reference-default NAUTICAL output basis (spectobasis,
    xaxisdir=90): output label D carries the internal cartesian angle
    270-D, the density converts to per-(Hz*degree) (x pi/180), fspec
    integrates by trapezoid over the degree axis, and peak directions
    convert to the compass frame — energy (Hs) is basis-invariant."""
    theta = 60.0
    data = _puv_wave(theta_deg=theta)
    layout = np.array([[0.0, 0, 0], [0.0, 0, 0], [0.5, 1.0, 1.0]])
    freqs = np.linspace(0.02, 0.5, 25)
    dirs = np.arange(0.0, 360.0, 10.0)
    # smooth=False: smoothspec's untouched 2-cell margins live at
    # FIXED axis indexes, so post-smooth spectra are not pure
    # permutations of each other (true of the reference as well) —
    # the basis relation is exact on the unsmoothed regrid
    kw = dict(method="DFTM", nfft=512, dres=36, miter=20, smooth=False)
    cart = dirspec(data, ["pres", "velx", "vely"], layout, 10.25, 4.0,
                   freqs, dirs, dunit="cart", **kw)
    naut = dirspec(data, ["pres", "velx", "vely"], layout, 10.25, 4.0,
                   freqs, dirs, dunit="naut", **kw)
    # axis relabeling: naut spectrum at D equals cart spectrum at
    # (270 - D) % 360, scaled by the per-degree Jacobian
    d_map = [int(((270.0 - d) % 360.0) / 10.0) for d in dirs]
    # atol floor: one wrap-point cell interpolates to ~1e-17 with a
    # different rounding path between the two evaluation angle sets
    np.testing.assert_allclose(
        naut["S"], cart["S"][:, d_map] * (np.pi / 180.0),
        rtol=1e-10, atol=1e-15,
    )
    # energy is basis-invariant (trapezoid vs rect differ only by the
    # open circular endpoints at this resolution)
    m0_c = np.sum(cart["fspec"]) * (freqs[1] - freqs[0])
    m0_n = np.sum(naut["fspec"]) * (freqs[1] - freqs[0])
    assert m0_n == pytest.approx(m0_c, rel=0.05)
    assert naut["hs"] == cart["hs"]  # internal-grid Hs untouched
    # peak directions land in the compass frame
    assert naut["dp_deg"] == pytest.approx((270.0 - cart["dp_deg"]) % 360.0)
    assert naut["dtp_deg"] == pytest.approx(
        (270.0 - cart["dtp_deg"]) % 360.0
    )


def test_write_read_spec_text_roundtrip(tmp_path):
    """DIWASP V1.4 text container: header triple, axes, 999 separator,
    row-major S; full-precision roundtrip for arbitrary doubles."""
    import numpy as np
    import pytest

    from stglib_spark.functions.diwasp import read_spec_text, write_spec_text

    rng = np.random.default_rng(7)
    freqs = rng.random(6) * 0.5
    dirs = np.arange(9) * 40.0
    S = rng.random((6, 9)) * 1e-3
    path = str(tmp_path / "burst.spec")
    write_spec_text(path, 90.0, freqs, dirs, S)
    xaxisdir, f2, d2, S2 = read_spec_text(path)
    assert xaxisdir == 90.0
    assert np.array_equal(f2, freqs)  # bit-exact through %.18e
    assert np.array_equal(d2, dirs)
    assert np.array_equal(S2, S)
    # layout: one value per line, sentinel where the format demands it
    lines = open(path).read().split()
    assert len(lines) == 3 + 6 + 9 + 1 + 54
    assert float(lines[3 + 6 + 9]) == 999.0
    with pytest.raises(ValueError):
        write_spec_text(str(tmp_path / "bad.spec"), 90.0, freqs, dirs, S.T)
    # corrupt the separator -> reader refuses
    lines[3 + 6 + 9] = "0.0"
    bad = str(tmp_path / "corrupt.spec")
    open(bad, "w").write("\n".join(lines) + "\n")
    with pytest.raises(ValueError):
        read_spec_text(bad)


def test_export_diwasp_spec_stage(spark, tmp_path):
    """pipeline.export_diwasp_spec: one <filename>_<burstISO>.spec per
    burst from the diwasp zone, re-readable with the production
    reader."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from stglib_spark import pipeline
    from stglib_spark.functions.diwasp import read_spec_text

    d = str(tmp_path)
    zone = spark.range(3).select(
        F.timestamp_seconds(F.lit(1622505600) + F.col("id") * 1800).alias(
            "burst_time"
        ),
        F.expr(
            "transform(sequence(0, 3),"
            " k -> CAST(k + 1 AS DOUBLE) / CAST(8 AS DOUBLE))"
        ).alias("diwasp_frequency"),
        F.expr(
            "transform(sequence(0, 5),"
            " d -> CAST(d AS DOUBLE) * CAST(60 AS DOUBLE))"
        ).alias("diwasp_direction"),
        F.expr(
            "transform(sequence(0, 3), k -> transform(sequence(0, 5),"
            " d -> CAST(k * 6 + d + id AS DOUBLE) / CAST(3 AS DOUBLE)))"
        ).alias("diwasp_dspec"),
    )
    zone.write.mode("overwrite").parquet(os.path.join(d, "dep_diwasp"))
    out_dir = pipeline.export_diwasp_spec(
        spark, {"output_dir": d, "filename": "dep", "diwasp_xdir": 45.0}
    )
    names = sorted(os.listdir(out_dir))
    assert names == [
        "dep_20210601T000000.spec",
        "dep_20210601T003000.spec",
        "dep_20210601T010000.spec",
    ]
    xaxisdir, freqs, dirs, S = read_spec_text(os.path.join(out_dir, names[2]))
    assert xaxisdir == 45.0
    assert np.array_equal(freqs, (np.arange(4) + 1) / 8.0)
    assert S.shape == (4, 6)
    assert S[1, 2] == (1 * 6 + 2 + 2) / 3.0


def test_spec_text_roundtrip_property():
    """Property: any finite-double spectrum survives the text container
    bit-exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from stglib_spark.functions.diwasp import read_spec_text, write_spec_text

    finite = st.floats(
        allow_nan=False, allow_infinity=False, width=64,
        min_value=-1e12, max_value=1e12,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        nf=st.integers(min_value=1, max_value=6),
        nd=st.integers(min_value=1, max_value=6),
        data=st.data(),
    )
    def check(nf, nd, data):
        import tempfile

        freqs = np.array(
            data.draw(st.lists(finite, min_size=nf, max_size=nf))
        )
        dirs = np.array(data.draw(st.lists(finite, min_size=nd, max_size=nd)))
        S = np.array(
            data.draw(
                st.lists(
                    st.lists(finite, min_size=nd, max_size=nd),
                    min_size=nf, max_size=nf,
                )
            )
        )
        with tempfile.NamedTemporaryFile(suffix=".spec") as f:
            write_spec_text(f.name, 90.0, freqs, dirs, S)
            _, f2, d2, S2 = read_spec_text(f.name)
        assert np.array_equal(f2, freqs)
        assert np.array_equal(d2, dirs)
        assert np.array_equal(S2, S)

    check()


def test_diwasp_nsamps_pow2_and_px_py_offsets(spark):
    """diwasp_nsamps / diwasp_pow2 truncate each burst before analysis
    (core/waves.py:130-140); px/py offsets move the pressure sensor in
    the layout (vec/nc2waves.py:380-415) and change the directional
    result while leaving the non-directional spectrum intact."""
    import numpy as np
    from pyspark.sql import functions as F

    from stglib_spark.operators import dirspec as ds_ops

    b = (F.col("id") / 100).cast("long")
    i = F.pmod(F.col("id"), 100)
    clean = spark.range(100).select(
        b.alias("burst"),
        i.cast("long").alias("sample"),
        F.timestamp_seconds(F.lit(1622505600) + b * 3600 + i.cast("double"))
        .alias("time"),
        (F.lit(10.0) + (F.pmod(7 * i, 16) - 8) / 64.0).alias("P_1ac"),
        ((F.pmod(5 * i + 4, 16) - 8) / 64.0).alias("u_1205"),
        ((F.pmod(3 * i + 9, 16) - 8) / 64.0).alias("v_1206"),
    ).withColumn("burst_time", F.timestamp_seconds(F.lit(1622505600)))
    base_cfg = {
        "sample_interval": 1.0,
        "pressure_sensor_height": 0.5,
        "diwasp": "puv",
        "diwasp_method": "DFTM",
        "diwasp_nfft": 16,
        "diwasp_nfreqs": 6,
        "diwasp_ndirs": 8,
        "diwasp_dres": 8,
        "wave_fcut": 0.45,
    }
    # pow2: 100 samples -> 64 used; nsamps: explicit 64 -> identical
    r_pow2 = ds_ops.make_diwasp_ds(
        clean, {**base_cfg, "diwasp_pow2": "true"}
    ).collect()[0]
    r_n64 = ds_ops.make_diwasp_ds(
        clean, {**base_cfg, "diwasp_nsamps": 64}
    ).collect()[0]
    assert r_pow2["diwasp_fspec"] == r_n64["diwasp_fspec"]
    r_all = ds_ops.make_diwasp_ds(clean, base_cfg).collect()[0]
    assert r_all["diwasp_fspec"] != r_pow2["diwasp_fspec"]

    # px/py offsets: the directional spectrum moves materially; the
    # integrated 1-D spectrum only drifts at the estimator's
    # redistribution level (<1% here — DFTM re-spreads energy under the
    # phase-shifted co-array)
    r_off = ds_ops.make_diwasp_ds(
        clean, {**base_cfg, "px_offset": 0.4, "py_offset": -0.2}
    ).collect()[0]
    assert np.allclose(
        np.array(r_all["diwasp_fspec"], dtype=float),
        np.array(r_off["diwasp_fspec"], dtype=float),
        rtol=1e-2, atol=1e-12, equal_nan=True,
    )
    assert not np.allclose(
        np.array(r_all["diwasp_dspec"], dtype=float),
        np.array(r_off["diwasp_dspec"], dtype=float),
        rtol=1e-6, atol=1e-12, equal_nan=True,
    )


def _imlm_per_frequency(xps, trm, kx, ss, ddir, miter=50, gamma=0.1, alpha=0.1):
    """The per-frequency IMLM loop the batched ``imlm`` replaced: one
    3x3 inverse and two einsums per bin and iteration."""
    szd, _, nf = xps.shape
    nd = trm.shape[2]
    expx = np.exp(1j * kx)
    htemp = np.einsum("nfd,mfd,mnfd->fmnd", trm, np.conj(trm), expx)
    ihtemp = np.einsum("nfd,mfd,mnfd->fmnd", trm, np.conj(trm), np.conj(expx))

    def inv(mat):
        try:
            return np.linalg.inv(mat)
        except np.linalg.LinAlgError:
            return np.linalg.pinv(mat)

    S = np.zeros((nf, nd), dtype=complex)
    for ff in range(nf):
        sftmp = np.einsum("mn,mnd->d", inv(xps[:, :, ff]), htemp[ff])
        with np.errstate(divide="ignore", invalid="ignore"):
            eo = 1.0 / sftmp
        eo = eo / (ddir * np.sum(eo))
        e = eo.copy()
        t = eo.copy()
        for _ in range(miter):
            ixps = np.einsum("mnd,d->mn", ihtemp[ff], e) * ddir
            sftmp = np.einsum("mn,mnd->d", inv(ixps), htemp[ff])
            told = t
            with np.errstate(divide="ignore", invalid="ignore"):
                t = 1.0 / sftmp
            t = t / (ddir * np.sum(t))
            e = e + gamma * ((eo - t) + alpha * (t - told))
            e = e / (ddir * np.sum(e))
        er = np.real(np.conj(e))
        er[~np.isfinite(er) | (er < 0)] = 0.0
        tot = ddir * er.sum()
        if tot > 0:
            er = er / tot
        S[ff, :] = np.real(ss[0, ff]) * er
    return S


def _imlm_inputs(seed, szd=3, nf=30, nd=36):
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((nf, szd, szd)) + 1j * rng.standard_normal((nf, szd, szd))
    # Hermitian positive-definite cross spectra, as csd_matrix makes
    xps = np.moveaxis(a @ np.conj(np.swapaxes(a, 1, 2)), 0, 2)
    trm = rng.uniform(0.1, 2.0, (szd, nf, nd))
    kx = rng.uniform(-3.0, 3.0, (szd, szd, nf, nd))
    ss = rng.uniform(0.0, 5.0, (szd, nf)).astype(complex)
    return xps, trm, kx, ss, 2 * np.pi / nd


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_batched_imlm_equals_per_frequency_loop(seed):
    from stglib_spark.functions.diwasp import imlm

    args = _imlm_inputs(seed)
    np.testing.assert_array_equal(
        imlm(*args, miter=20), _imlm_per_frequency(*args, miter=20)
    )


def test_batched_imlm_singular_bin_takes_the_pinv_path():
    from stglib_spark.functions.diwasp import imlm

    xps, trm, kx, ss, ddir = _imlm_inputs(3)
    # a dead third sensor at bin 7: its row and column are zero
    xps[2, :, 7] = 0.0
    xps[:, 2, 7] = 0.0
    with pytest.raises(np.linalg.LinAlgError):
        np.linalg.inv(xps[:, :, 7])
    got = imlm(xps, trm, kx, ss, ddir, miter=20)
    np.testing.assert_array_equal(
        got, _imlm_per_frequency(xps, trm, kx, ss, ddir, miter=20)
    )
    assert np.isfinite(got).all()


def test_make_diwasp_ds_failed_fit_raises_with_burst_time(spark):
    """A frequency grid above Nyquist fails the fit of every burst; that
    must raise, naming the burst, not write an empty zone that looks
    complete."""
    from stglib_spark.operators.dirspec import make_diwasp_ds

    cfg = {
        "sample_interval": 0.5,
        "pressure_sensor_height": 0.5,
        "diwasp": "puv",
        "diwasp_method": "IMLM",
        "diwasp_freqs": [5.0, 6.0],
    }
    df = _diwasp_burst_df(spark, n_bursts=2)
    with pytest.raises(Exception, match=r"burst 2024-03-01 0\d:00:00 failed"):
        make_diwasp_ds(df, cfg).collect()
