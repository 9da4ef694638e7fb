"""Wave statistics — Welch PSD per burst → dispersion → pressure
transfer → elevation spectra → Jones & Monismith cutoff → f⁻⁴ tail →
spectral moments → Hs/Tm/Tp.

Reference semantics: ``stglib/core/waves.py`` — ``make_waves_ds``
(:571-681), ``pressure_spectra`` (:746-770, scipy.welch hann
nperseg=next_pow2(nsamps/nsegs), nsegs default 16), ``elevation_spectra``
(:773-775, Pnn = Pxx/Kp²), ``transfer_function`` (:778-803),
``define_cutoff`` (:806-864, noise floor 12×mean of top-(1−noise) band;
1.1·f_peak; Kp>0.1), ``make_user_cutoff`` (:2117-2152), ``make_tail``
(:867-897), moments/stats (:936-961: m_n = ∫Pnn·fⁿ df trapezoid,
Hs = 4√m0, Tm = √(m0/m2), Tp = 1/f_peak with 0-frequency guarded).

One burst at a time. Every wave product — waves, elevation waves, PUV,
fused waves+PUV and DIWASP (``operators/dirspec.py``) — is a *body*
built once from ``config``: it maps one burst's value arrays, sorted by
``SAMPLE``, to a dict of output fields, or to ``None`` to skip the
burst. ``per_burst`` runs a body as one ``applyInPandas`` over the burst
key and fixes its output by the schema; the streaming twins
(``streaming/bursts.py``) call the same body on the arrays of a burst
the watermark closed. One body call per burst is the reference's one
parallel axis (its dask Client fans out one future per burst,
core/waves.py:263-306); Spark's shuffle on the burst key spreads the
bursts over the executors the same way.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)

from stglib_spark.session import pin_grouping
from stglib_spark.functions.signal import next_power_of_2, welch_psd

# the clean zone's burst key and within-burst sample index
BURST, SAMPLE = "burst_time", "sample"

G = 9.81


def per_burst(
    df: DataFrame,
    value_cols: list[str],
    body: Callable[..., dict | None],
    schema: StructType,
) -> DataFrame:
    """Run ``body`` once per burst of ``df``. Only ``BURST``, ``SAMPLE``
    and ``value_cols`` cross into Python; each burst's samples are sorted
    by ``SAMPLE`` and handed to ``body`` as float arrays in
    ``value_cols`` order. The body's dict becomes the burst's one row of
    ``schema``; a ``None`` gives no row. A body that raises fails the
    stage naming the burst: skipping it would write a zone that looks
    complete."""
    names = schema.fieldNames()

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(SAMPLE)
        bt = pdf[BURST].iloc[0]
        row = None
        if not pd.isna(bt):  # samples with no burst key form no burst
            try:
                row = body(*(pdf[c].to_numpy(dtype=float) for c in value_cols))
            except Exception as exc:
                raise ValueError(f"burst {bt} failed: {exc}") from exc
        rows = [] if row is None else [{BURST: bt, **row}]
        return pd.DataFrame(rows, columns=names)

    slim = df.select(BURST, SAMPLE, *value_cols)
    return pin_grouping(slim, BURST).groupBy(BURST).applyInPandas(apply_fn, schema)


def gap_filled(x: np.ndarray) -> np.ndarray | None:
    """``x`` with its NaN samples linearly interpolated, or ``None`` when
    over 10% of them are NaN: the reference fills gaps within a burst
    (core/waves.py:1992-2034) and rejects a burst with more."""
    if not np.isnan(x).any():
        return x
    good = np.isfinite(x)
    if good.mean() < 0.9:
        return None
    idx = np.arange(len(x))
    return np.interp(idx, idx[good], x[good])


def welch_nperseg(nsamps: int, nsegs: int) -> int:
    """The reference's Welch segment length for a burst of ``nsamps``
    samples: next_pow2(nsamps/nsegs) (core/waves.py:95-99, :746-770),
    at least 8."""
    return max(next_power_of_2(int(nsamps / nsegs)), 8)


def spectral_stats(f: np.ndarray, pspec: np.ndarray, water_depth: float) -> dict:
    """One burst's ``wave_stats_schema`` fields from its spectrum
    (core/waves.py:936-961): m_n = ∫pspec·fⁿ df by trapezoid,
    Hs = 4√m0, Tm = √(m0/m2), Tp = 1/f_peak with a 0-frequency peak
    guarded. An all-NaN spectrum gives NaN statistics."""
    m0 = float(np.trapz(pspec, f))
    m2 = float(np.trapz(pspec * f**2, f))
    fp = f[int(np.argmax(np.nan_to_num(pspec, nan=0.0)))]
    return {
        "frequency": f.tolist(),
        "pspec": pspec.tolist(),
        "m0": m0,
        "m2": m2,
        "wh_4061": 4.0 * np.sqrt(m0),
        "wp_4060": np.sqrt(m0 / m2) if m2 and np.isfinite(m2) else float("nan"),
        "wp_peak": 1.0 / fp if fp > 0 else float("nan"),
        "water_depth": water_depth,
    }


def qkfs_np(omega: np.ndarray, h: float) -> np.ndarray:
    """Dispersion ω,h → k (Wiberg & Sherwood 2009; core/waves.py:988-1007):
    3 Newton iterations from kh₀ = √x (x<1) else x."""
    with np.errstate(invalid="ignore", divide="ignore"):
        x = omega**2 * h / G
        y = np.sqrt(x) * (x < 1) + x * (x >= 1)
        for _ in range(3):
            t = np.tanh(y)
            y = y - ((y * t - x) / (t + y * (1 - t**2)))
        return y / h


def define_cutoff_np(
    f: np.ndarray, pxx: np.ndarray, kp: np.ndarray, noise: float = 0.9
) -> float:
    """Jones & Monismith (2007) tail index (core/waves.py:806-864).
    Returns NaN when no valid cutoff exists (burst becomes all-NaN
    spectra, matching make_tail's NaN branch)."""
    noisecut = 12.0 * np.mean(pxx[f >= noise * f[-1]])
    above = np.where(pxx > noisecut)[0]
    noisecutind = above[-1] if len(above) else 0
    fpeakcut = 1.1 * f[np.argmax(pxx)]
    fpeakcutind = int(np.searchsorted(f, fpeakcut))
    kp_ok = np.nonzero(kp > 0.1)[0]
    kpcutind = (kp_ok[-1] + 1) if len(kp_ok) else 0
    if noisecutind > fpeakcutind and noisecutind <= kpcutind:
        return float(noisecutind)
    elif noisecutind > fpeakcutind and noisecutind > kpcutind:
        return float(kpcutind)
    return float("nan")


def make_user_cutoff_np(
    f: np.ndarray, kp: np.ndarray, fcut: float | None = None, kpmin: float | None = None
) -> float:
    """User cutoff override (core/waves.py:2117-2152): index of wave_fcut
    in f, or last index with Kp >= kpmin (kpmin validated into [0.1, 0.6])."""
    if fcut is not None:
        return float(np.searchsorted(f, fcut))
    kpmin = min(max(float(kpmin), 0.1), 0.6)
    ok = np.nonzero(kp >= kpmin)[0]
    return float(ok[-1] + 1) if len(ok) else float("nan")


def make_tail_np(f: np.ndarray, pnn: np.ndarray, tailind: float) -> np.ndarray:
    """Splice an f⁻⁴ tail above tailind (core/waves.py:867-897)."""
    if np.isnan(tailind):
        return np.full_like(f, np.nan)
    ti = int(tailind)
    out = pnn.copy()
    if ti < len(f):
        with np.errstate(divide="ignore", invalid="ignore"):
            out[ti:] = pnn[ti] * (f[ti:] / f[ti]) ** -4
        if f[ti] == 0:
            out[ti:] = np.nan
    return out


def make_dspec_tail_np(
    f: np.ndarray, dspec: np.ndarray, tailind: float
) -> np.ndarray:
    """f⁻⁴ tail spliced into every direction column of a directional
    spectrum (core/waves.py:900-909 make_dspec_tail — the reference
    loops make_tail per direction; vectorized here as one outer
    product). ``dspec`` is (n_freq, n_dir); rows at index ≥ tailind are
    replaced by dspec[tailind, :] scaled by (f/f_tail)⁻⁴, so the tailed
    directional spectrum still integrates (over direction) to the
    tailed 1-D spectrum when the base row does."""
    if np.isnan(tailind):
        return np.full_like(dspec, np.nan)
    ti = int(tailind)
    out = dspec.copy()
    if ti < dspec.shape[0]:
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = (f[ti:] / f[ti]) ** -4
        out[ti:, :] = dspec[ti, :][None, :] * ratio[:, None]
        if f[ti] == 0:
            out[ti:, :] = np.nan
    return out


def waves_body(config: dict) -> Callable[[np.ndarray], dict | None]:
    """The per-burst body of ``make_waves_ds`` (core/waves.py:571-681):
    pressure → gap fill → Welch PSD → depth = mean pressure + sensor
    height → Kp = cosh(k·z)/cosh(k·h) → Pnn = Pxx/Kp² → user cutoff or
    Jones & Monismith cutoff → f⁻⁴ tail → ``spectral_stats``. A burst
    under 8 samples or over 10% NaN is skipped."""
    sample_rate = 1.0 / float(config.get("sample_interval", 1.0))
    z, _ = sensor_heights(config)
    nsegs = int(config.get("spec_nsegs", 16))
    noise = float(config.get("wave_fractional_noise", 0.9))
    fcut = config.get("wave_fcut")
    kpmin = config.get("wave_Kpmin")

    def body(p: np.ndarray) -> dict | None:
        if len(p) < 8:
            return None
        p = gap_filled(p)
        if p is None:
            return None
        f, pxx = welch_psd(p, fs=sample_rate, nperseg=welch_nperseg(len(p), nsegs))
        h = float(np.mean(p)) + z
        k = qkfs_np(2 * np.pi * f, h)
        with np.errstate(invalid="ignore", over="ignore"):
            kp = np.cosh(k * z) / np.cosh(k * h)
        kp[np.isnan(k)] = 1.0
        with np.errstate(divide="ignore", invalid="ignore"):
            pnn = pxx / kp**2
        if fcut is not None or kpmin is not None:
            tailind = make_user_cutoff_np(f, kp, fcut, kpmin)
        else:
            tailind = define_cutoff_np(f, pxx, kp, noise)
        return spectral_stats(f, make_tail_np(f, pnn, tailind), h)

    return body


def waves_elev_body(config: dict) -> Callable[[np.ndarray], dict | None]:
    """The per-burst body of ``make_waves_ds_elev`` (core/waves.py:684-743):
    surface elevation → gap fill → Welch PSD band-limited to
    [1/(burst_duration/32), min(2 Hz, Nyquist)] (:709-722) → Pnn = Pxx
    directly, with no Kp transfer, cutoff or f⁻⁴ tail →
    ``spectral_stats``. A burst under 8 samples, over 10% NaN or with no
    frequency in the band is skipped."""
    sample_rate = 1.0 / float(config.get("sample_interval", 1.0))
    nsegs = int(config.get("spec_nsegs", 16))

    def body(e: np.ndarray) -> dict | None:
        if len(e) < 8:
            return None
        e = gap_filled(e)
        if e is None:
            return None
        f, pxx = welch_psd(e, fs=sample_rate, nperseg=welch_nperseg(len(e), nsegs))
        flo = np.round(1.0 / (len(e) / sample_rate / 32.0), 3)
        fhi = min(2.0, sample_rate / 2.0)
        ind = (f >= flo) & (f <= fhi)
        if not ind.any():
            return None
        return spectral_stats(f[ind], pxx[ind], float("nan"))

    return body


def make_waves_ds_elev(
    df: DataFrame,
    config: dict,
    elev_col: str = "elev",
) -> DataFrame:
    """Distributed make_waves_ds_elev (core/waves.py:684-743): wave
    statistics from a direct surface-elevation measurement (Geolux radar
    ``elev``, Signature ``brangeAST``, ABSS ``brange``), ``waves_elev_body``
    per burst."""
    return per_burst(df, [elev_col], waves_elev_body(config), wave_stats_schema())


def puv_quick_np(
    p: np.ndarray,
    u: np.ndarray,
    v: np.ndarray,
    depth: float,
    height_of_pressure: float,
    height_of_velocity: float,
    fs: float,
    fft_length: int = 512,
    rho: float = 1025.0,
    first_frequency_cutoff: float = 1 / 50,
    infra_gravity_cutoff: float = 0.05,
    last_frequency_cutoff: float = 1 / 5,
) -> dict:
    """PUV directional wave parameters for ONE burst (Madsen 1994 /
    Thornton & Guza), replicating ``core/waves.py:1024-1351``
    (puv_quick_vectorized) step-for-step: linear detrend → Welch of
    ρg·p, u, v → k(ω, depth) → transfer functions Hp = ρg·cosh(kzp)/cosh(kh),
    Huv = ω·cosh(kzuv)/sinh(kh) → band-limited Snp/Snu → Hrms = 2√(2ΣS df),
    ubr/omegar/Tr, peak periods, direction φr from sign(corr(u,v)) and the
    Gvv/Guu band integrals, azimuth = 90 − φr·180/π, band-split
    ublo/ubig/ubhi, f⁻⁴-tail variants via the J&M cutoff."""
    from stglib_spark.functions.signal import detrend_linear

    g = 9.81
    p = detrend_linear(np.asarray(p, dtype=float))
    u = detrend_linear(np.asarray(u, dtype=float))
    v = detrend_linear(np.asarray(v, dtype=float))
    fft_length = int(min(fft_length, len(p)))

    f, gpp = welch_psd(rho * g * p, fs=fs, nperseg=fft_length)
    _, guu = welch_psd(u, fs=fs, nperseg=fft_length)
    _, gvv = welch_psd(v, fs=fs, nperseg=fft_length)
    df = f[2] - f[1]
    omega = 2 * np.pi * f
    k = qkfs_np(omega, float(depth))

    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        kh = k * depth
        hp = rho * g * (np.cosh(k * height_of_pressure) / np.cosh(kh))
        huv = omega * (np.cosh(k * height_of_velocity) / np.sinh(kh))
    if np.isnan(omega[0]) or omega[0] <= 0:
        hp[0] = 1.0
        huv[0] = 1.0
    if np.isnan(k[0]):
        hp[0] = 1.0
        huv[0] = 1.0

    guv = guu + gvv
    ff = int(np.argmax(f > first_frequency_cutoff)) - 1
    lf = int(np.argmax(f > last_frequency_cutoff))
    if lf == 0:
        lf = len(f)
    ff = max(ff, 1)

    with np.errstate(divide="ignore", invalid="ignore"):
        snp = gpp[ff:lf] / hp[ff:lf] ** 2
        snu = guv[ff:lf] / huv[ff:lf] ** 2
    fclip = f[ff:lf]

    # tails (J&M cutoff on the untransformed spectra)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        kp = np.cosh(k * height_of_pressure) / np.cosh(kh)
        kp[np.isnan(k)] = 1.0
        tailind = define_cutoff_np(f, gpp, kp)
        snp_tail = make_tail_np(f, gpp / hp**2, tailind)
        kp_u = np.cosh(k * height_of_velocity) / np.cosh(kh)
        kp_u[np.isnan(k)] = 1.0
        tailind_u = define_cutoff_np(f, guv, kp_u)
        snu_tail = make_tail_np(f, guv / huv**2, tailind_u)
    snp_tail[0] = np.nan
    snu_tail[0] = np.nan

    hrmsu = 2 * np.sqrt(2 * np.sum(snu * df))
    hrmsp = 2 * np.sqrt(2 * np.sum(snp * df))
    hrmsu_tail = 2 * np.sqrt(2 * np.nansum(snu_tail[1:] * df))
    hrmsp_tail = 2 * np.sqrt(2 * np.nansum(snp_tail[1:] * df))

    ubr = np.sqrt(2 * np.sum(guv[ff:lf] * df))
    denom = np.sum(guv[ff:lf] * df)
    omegar = (
        np.sum(omega[ff:lf] * guv[ff:lf] * df) / denom if denom > 0 else np.nan
    )
    tr = 2 * np.pi / omegar if omegar and np.isfinite(omegar) else np.nan

    tpp = 1.0 / fclip[int(np.argmax(snp))] if len(snp) else np.nan
    tpu = 1.0 / fclip[int(np.argmax(snu))] if len(snu) else np.nan

    su, sv = np.std(u), np.std(v)
    rr = float(np.corrcoef(u, v)[0, 1]) if su > 0 and sv > 0 else 0.0
    ortest = np.sign(rr) if rr != 0 else 1.0
    phir = np.arctan2(ortest * np.sum(gvv[ff:lf] * df), np.sum(guu[ff:lf] * df))
    phir_tail = np.arctan2(ortest * np.sum(gvv * df), np.sum(guu * df))
    azr = 90.0 - np.degrees(phir)
    azr_tail = 90.0 - np.degrees(phir_tail)

    ig_idx = np.where(f <= infra_gravity_cutoff)[0]
    ig = int(ig_idx.max()) if len(ig_idx) else 0
    ublo = np.sqrt(2 * np.sum(guv[1:ff] * df)) if ff > 1 else 0.0
    ubig = np.sqrt(2 * np.sum(guv[ff:ig] * df)) if ig > ff else 0.0
    ubhi = np.sqrt(2 * np.sum(guv[lf:] * df)) if lf < len(f) else 0.0

    return {
        "Hrmsp": float(hrmsp),
        "Hrmsu": float(hrmsu),
        "ubr": float(ubr),
        "omegar": float(omegar),
        "Tr": float(tr),
        "Tpp": float(tpp),
        "Tpu": float(tpu),
        "phir": float(phir),
        "azr": float(azr),
        "ublo": float(ublo),
        "ubig": float(ubig),
        "ubhi": float(ubhi),
        "Hrmsp_tail": float(hrmsp_tail),
        "Hrmsu_tail": float(hrmsu_tail),
        "phir_tail": float(phir_tail),
        "azr_tail": float(azr_tail),
    }


_PUV_FIELDS = [
    "Hrmsp",
    "Hrmsu",
    "ubr",
    "omegar",
    "Tr",
    "Tpp",
    "Tpu",
    "phir",
    "azr",
    "ublo",
    "ubig",
    "ubhi",
    "Hrmsp_tail",
    "Hrmsu_tail",
    "phir_tail",
    "azr_tail",
]


def puv_schema() -> StructType:
    return StructType(
        [StructField(BURST, TimestampType())]
        + [StructField(name, DoubleType()) for name in _PUV_FIELDS]
    )


def sensor_heights(config: dict) -> tuple[float, float]:
    """``(pressure, velocity)`` sensor heights above the bed in metres:
    pressure is ``pressure_sensor_height``, else
    ``initial_instrument_height``, else 0.0; velocity is
    ``velocity_sample_volume_height``, else the pressure height. The
    chains test ``is None``: a height of 0.0 (at the bed) is valid."""
    zp = config.get("pressure_sensor_height")
    if zp is None:
        zp = config.get("initial_instrument_height")
    zp = float(zp) if zp is not None else 0.0
    zuv = config.get("velocity_sample_volume_height")
    return zp, float(zuv) if zuv is not None else zp


def puv_body(config: dict) -> Callable[..., dict | None]:
    """The per-burst body of ``make_puv_ds``: ``puv_quick_np`` on
    (p, u, v) with depth = mean pressure + sensor height, NaN pressure
    filled with that mean and NaN velocity with 0. A burst under 32
    samples or with all-NaN pressure is skipped."""
    fs = 1.0 / float(config.get("sample_interval", 1.0))
    zp, zuv = sensor_heights(config)
    fft_length = int(config.get("puv_fft_length", 512))

    def body(p: np.ndarray, u: np.ndarray, v: np.ndarray) -> dict | None:
        if len(p) < 32 or np.isnan(p).all():
            return None
        p_mean = float(np.nanmean(p))
        return puv_quick_np(
            np.nan_to_num(p, nan=p_mean),
            np.nan_to_num(u),
            np.nan_to_num(v),
            p_mean + zp,
            zp,
            zuv,
            fs,
            fft_length=fft_length,
        )

    return body


def make_puv_ds(df: DataFrame, config: dict) -> DataFrame:
    """Distributed PUV (wrapper semantics of waves.py:1847-1989 /
    sig/nc2waves.py:550-599): ``puv_body`` per burst."""
    cols = ["P_1ac", "u_1205", "v_1206"]
    return per_burst(df, cols, puv_body(config), puv_schema())


def wave_stats_schema() -> StructType:
    return StructType(
        [
            StructField(BURST, TimestampType()),
            StructField("frequency", ArrayType(DoubleType())),
            StructField("pspec", ArrayType(DoubleType())),
            StructField("m0", DoubleType()),
            StructField("m2", DoubleType()),
            StructField("wh_4061", DoubleType()),
            StructField("wp_4060", DoubleType()),
            StructField("wp_peak", DoubleType()),
            StructField("water_depth", DoubleType()),
        ]
    )


def make_waves_ds(df: DataFrame, config: dict, pressure_col: str = "P_1ac") -> DataFrame:
    """Distributed make_waves_ds (core/waves.py:571-681): ``waves_body``
    per burst; only the (burst, sample, pressure) columns cross into
    Python."""
    return per_burst(df, [pressure_col], waves_body(config), wave_stats_schema())


def waves_puv_body(config: dict) -> Callable[..., dict | None]:
    """The per-burst body of ``make_waves_puv_ds``: the ``waves_body``
    fields merged with the ``puv_body`` fields, or with NaN PUV fields
    (null in the zone) when PUV skips a burst the wave chain keeps."""
    waves, puv = waves_body(config), puv_body(config)
    no_puv = dict.fromkeys(_PUV_FIELDS, float("nan"))

    def body(p: np.ndarray, u: np.ndarray, v: np.ndarray) -> dict | None:
        row = waves(p)
        if row is None:
            return None
        return {**row, **(puv(p, u, v) or no_puv)}

    return body


def make_waves_puv_ds(df: DataFrame, config: dict, pressure_col: str = "P_1ac") -> DataFrame:
    """``make_waves_ds`` LEFT JOIN ``make_puv_ds`` on ``burst_time`` as
    one shuffle and one Arrow stage (the reference's nc2waves with
    ``puv: true``, sig/nc2waves.py:550-599): ``waves_puv_body`` per
    burst. Only the pressure column varies between callers; the others
    are the clean zone's fixed names."""
    cols = [pressure_col, "u_1205", "v_1206"]
    schema = StructType(wave_stats_schema().fields + puv_schema().fields[1:])
    return per_burst(df, cols, waves_puv_body(config), schema)
