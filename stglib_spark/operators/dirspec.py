"""Directional wave spectra operator — DIWASP per burst, distributed.

Reference flow: ``stglib/core/waves.py`` — inputs builder (:15-126),
per-burst wrapper make_diwasp_dict (:309-568), dask Client fan-out with
one future per burst (:263-306 — the reference's ONLY process-parallel
axis), assembler make_diwasp_ds (:135-260), mean wave direction make_mwd
(:912-933), EPIC renames (Hs→wh_4061, Tp→wp_peak, DTp→wvdir, Dp→dwvdir,
Dm→wd_4062).

Spark-first: the dask Client is replaced by ``waves.per_burst``, a
shuffle on the burst key + ``applyInPandas`` — identical embarrassing
parallelism, but elastic to cluster size and with Arrow-batched
transfer. Input selection per burst ('optimized': AST when clean else
pressure, waves.py:391-453; 'optimized-nd': the non-directional
elev/pres variant, waves.py:433-445) happens inside the body and is
recorded in the ``diwasp_type`` column.

For pressure-derived inputs (puv/pres, directly or selected by an
optimized mode) the reference restores the pressure-attenuated
high-frequency energy AFTER the estimator (core/waves.py:479-527): a
Kp-based cutoff (user wave_fcut/wave_Kpmin or the Jones & Monismith
auto-cutoff) splices an f⁻⁴ tail into the 1-D spectrum (make_tail) and
into every direction column of the directional spectrum
(make_dspec_tail, :900-909), and Hs/Tp/Tm then come from moments of the
TAILED spectrum (:529-535). That block runs inside the body here.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from stglib_spark.functions.diwasp import dirspec
from stglib_spark.operators.waves import (
    BURST,
    define_cutoff_np,
    gap_filled,
    make_dspec_tail_np,
    make_tail_np,
    make_user_cutoff_np,
    per_burst,
    qkfs_np,
    sensor_heights,
    welch_nperseg,
)


def make_mwd(freqs: np.ndarray, dirs_deg: np.ndarray, dspec: np.ndarray) -> float:
    """Mean wave direction Dm (EPIC 4062) from the directional spectrum
    (waves.py:912-933): double-integrated sin/cos with quadrant-corrected
    arctan."""
    dirs = np.radians(dirs_deg)
    sx = np.trapz(np.trapz(dspec * np.sin(dirs)[None, :], dirs, axis=1), freqs)
    cx = np.trapz(np.trapz(dspec * np.cos(dirs)[None, :], dirs, axis=1), freqs)
    if cx == 0:
        # due east / due west depending on the sine term's sign
        return 90.0 if sx >= 0 else 270.0
    dm = np.degrees(np.arctan(np.abs(sx / cx)))
    if sx > 0 and cx < 0:
        dm = 180 - dm
    elif sx < 0 and cx < 0:
        dm = 180 + dm
    elif sx < 0 and cx > 0:
        dm = 360 - dm
    return float(dm)


def diwasp_schema() -> StructType:
    return StructType(
        [
            StructField(BURST, TimestampType()),
            StructField("diwasp_frequency", ArrayType(DoubleType())),
            StructField("diwasp_direction", ArrayType(DoubleType())),
            StructField("diwasp_fspec", ArrayType(DoubleType())),
            StructField("diwasp_dspec", ArrayType(ArrayType(DoubleType()))),
            StructField("wh_4061", DoubleType()),
            StructField("wp_peak", DoubleType()),
            StructField("wp_4060", DoubleType()),
            StructField("wvdir", DoubleType()),
            StructField("dwvdir", DoubleType()),
            StructField("wd_4062", DoubleType()),
            StructField("diwasp_type", StringType()),
        ]
    )


def diwasp_body(config: dict) -> Callable[..., dict | None]:
    """The per-burst body of ``make_diwasp_ds`` (the reference's
    make_diwasp_dict, core/waves.py:309-568): (p, u, v[, ast]) →
    input selection → gap fill for pressure-derived inputs → ``dirspec``
    → f⁻⁴ tail for pressure-derived inputs → the ``diwasp_schema``
    fields. A burst under 64 samples, or with a pressure-derived input
    over 10% NaN, is skipped.

    Config keys mirror the reference's (doc/config.rst:118-137):
    ``diwasp`` data type (puv/suv/pres/elev/optimized), ``diwasp_method``
    (IMLM/DFTM), ``diwasp_nfft``, ``diwasp_iter``, ``diwasp_dres``,
    ``diwasp_xdir``, ``wave_interval``, sensor heights.
    """
    fs = 1.0 / float(config.get("sample_interval", 1.0))
    zp, zuv = sensor_heights(config)
    # pressure-sensor horizontal offsets (vec/nc2waves.py:380-415
    # make_diwasp_layout): enter the puv/pres layout x/y rows, feeding
    # the estimator's co-array phase terms
    px = float(config.get("px_offset", 0) or 0)
    py = float(config.get("py_offset", 0) or 0)
    # per-burst sample-count conditioning (core/waves.py:130-140):
    # explicit diwasp_nsamps wins; diwasp_pow2: 'true' floors each
    # burst to its largest power of 2
    nsamps_cfg = config.get("diwasp_nsamps")
    nsamps_cfg = int(nsamps_cfg) if nsamps_cfg is not None else None
    pow2 = str(config.get("diwasp_pow2", "")).lower() == "true"
    method = str(config.get("diwasp_method", "IMLM"))
    nfft = config.get("diwasp_nfft")
    # reference default nfft: next power of 2 of nsamps/nsegs
    # (core/waves.py:95-99, nsegs default 16) — applied per burst
    # when diwasp_nfft is not configured
    nsegs = int(config.get("diwasp_nsegs", 16))
    miter = int(config.get("diwasp_iter", 50))
    dres = int(config.get("diwasp_dres", 180))  # reference default
    data_type = str(config.get("diwasp", "puv"))
    # frequency grid (core/waves.py:101-111): an explicit diwasp_freqs
    # list wins; diwasp_nfreqs keeps this engine's linspace grid; with
    # NEITHER set the reference default applies per burst — nfreqs =
    # nfft/2 bins from flo = round(32/burst_duration, 3) up to
    # fhi = min(2 Hz, Nyquist) on an arange grid
    freqs_cfg = config.get("diwasp_freqs")
    freqs_cfg = (
        np.asarray(freqs_cfg, dtype=float) if freqs_cfg is not None else None
    )
    nfreqs_cfg = config.get("diwasp_nfreqs")
    nfreqs = int(nfreqs_cfg) if nfreqs_cfg is not None else 32
    ndirs = int(config.get("diwasp_ndirs", 36))
    # tail controls (core/waves.py:497-520): explicit user cutoff wins,
    # else the J&M auto-cutoff with the fractional-noise knob
    fcut = config.get("wave_fcut")
    fcut = float(fcut) if fcut is not None else None
    kpmin = config.get("wave_Kpmin")
    kpmin = float(kpmin) if kpmin is not None else None
    noise = float(config.get("wave_fractional_noise", 0.9))
    # reference default EP['smooth']='ON', overridable via diwasp_smooth
    # (core/waves.py:28,54-55)
    smooth = str(config.get("diwasp_smooth", "ON")).upper() == "ON"
    # output x-axis direction of the nautical basis (core/waves.py:45-46)
    xaxisdir = float(config.get("diwasp_xdir", 90.0))

    def body(
        p: np.ndarray, u: np.ndarray, v: np.ndarray, ast: np.ndarray | None = None
    ) -> dict | None:
        if nsamps_cfg or pow2:
            use = (
                min(nsamps_cfg, len(p))
                if nsamps_cfg
                else 2 ** int(np.log2(len(p)))
            )
            p, u, v = p[:use], u[:use], v[:use]
            ast = ast[:use] if ast is not None else None
        if len(p) < 64:
            return None

        dtype_used = data_type
        if data_type == "optimized":
            dtype_used = (
                "suv" if ast is not None and not np.isnan(ast).any() else "puv"
            )
        elif data_type == "optimized-nd":
            # non-directional per-burst selection (waves.py:433-445):
            # elevation when the AST trace is clean, pressure when it
            # carries any NaN (or is absent entirely)
            dtype_used = (
                "elev"
                if ast is not None and not np.isnan(ast).any()
                else "pres"
            )
        if dtype_used in ("puv", "pres"):
            p = gap_filled(p)
            if p is None:
                return None
        u = np.nan_to_num(u)
        v = np.nan_to_num(v)

        # nanmean: pressure is only gap-filled for the puv/pres data
        # types; an AST-selected burst may still carry NaN pressure
        depth = float(np.nanmean(p)) + zp
        if dtype_used == "puv":
            data = np.column_stack([p, u, v])
            datatypes = ["pres", "velx", "vely"]
            layout = np.array([[px, 0, 0], [py, 0, 0], [zp, zuv, zuv]])
        elif dtype_used == "suv":
            data = np.column_stack([ast, u, v])
            datatypes = ["elev", "velx", "vely"]
            layout = np.array([[0.0, 0, 0], [0.0, 0, 0], [depth, zuv, zuv]])
        elif dtype_used == "pres":
            data = p[:, None]
            datatypes = ["pres"]
            layout = np.array([[px], [py], [zp]])
        elif dtype_used == "elev":
            data = ast[:, None]
            datatypes = ["elev"]
            layout = np.array([[0.0], [0.0], [depth]])
        else:
            raise ValueError(f"unknown diwasp data type {dtype_used}")

        nyq = fs / 2.0
        # per-burst nfft: explicit diwasp_nfft wins, else the
        # reference wrapper's next_power_of_2(nsamps/nsegs)
        # (core/waves.py:98-99) — never dirspec's internal default
        nsamps = len(p)
        nf_burst = int(nfft) if nfft else welch_nperseg(nsamps, nsegs)
        if freqs_cfg is not None:
            freqs_out = freqs_cfg
        elif nfreqs_cfg is not None:
            freqs_out = np.linspace(nyq / nfreqs, nyq * 0.95, nfreqs)
        else:
            # reference default grid (core/waves.py:101-111)
            nf = min(nf_burst, nsamps)
            nf -= nf % 2
            nfr = nf / 2
            flo = float(np.round(1.0 / (nsamps / fs / 32.0), 3))
            fhi = 2.0 if nyq > 2 else nyq
            freqs_out = np.arange(flo, fhi, (fhi - flo) / nfr)
        dirs_out = np.arange(0.0, 360.0, 360.0 / ndirs)
        res = dirspec(
            data,
            datatypes,
            layout,
            depth,
            fs,
            freqs_out,
            dirs_out,
            method=method,
            nfft=nf_burst,
            dres=dres,
            miter=miter,
            smooth=smooth,
            xaxisdir=xaxisdir,
        )
        f_out = res["freqs"]
        fspec = res["fspec"]
        S = res["S"]
        hs, tp = res["hs"], res["tp"]
        if dtype_used in ("puv", "pres"):
            # post-estimation cutoff + f⁻⁴ tail (core/waves.py:
            # 479-527): pressure attenuates high frequencies by
            # Kp = cosh(k·z)/cosh(k·h); above the cutoff the
            # deattenuated spectrum is noise-dominated, so the
            # reference splices a canonical f⁻⁴ rolloff into BOTH
            # the 1-D and the directional spectrum
            k = qkfs_np(2 * np.pi * f_out, depth)
            with np.errstate(invalid="ignore", over="ignore"):
                kp = np.cosh(k * zp) / np.cosh(k * depth)
            kp[np.isnan(k)] = 1.0
            if fcut is not None or kpmin is not None:
                tailind = make_user_cutoff_np(f_out, kp, fcut, kpmin)
            else:
                # reference passes the pressure-equivalent spectrum
                # Snn·Kp² to the J&M cutoff (waves.py:520)
                tailind = define_cutoff_np(
                    f_out, fspec * kp**2, kp, noise
                )
            if not np.isnan(tailind):
                fspec = make_tail_np(f_out, fspec, tailind)
                S = make_dspec_tail_np(f_out, S, tailind)
                # moments of the TAILED spectrum on the output grid
                # (waves.py:529-535 make_moment/make_Hs/make_Tp)
                m0t = float(np.trapz(fspec, f_out))
                hs = 4.0 * np.sqrt(m0t)
                fpk = f_out[int(np.argmax(np.nan_to_num(fspec)))]
                tp = 1.0 / fpk if fpk > 0 else float("nan")
        # mean period Tm = √(m0/m2) from the final (possibly tailed)
        # output-grid spectrum (waves.py:531 make_Tm); untailed types
        # keep Hs/Tp from dirspec's estimation grid (pyDIWASP
        # infospec.py:6-57): a near-delta IMLM spectrum loses energy
        # under the regrid, which the reference's interpspec warns of
        m0 = float(np.trapz(fspec, f_out))
        m2 = float(np.trapz(fspec * f_out**2, f_out))
        tm = float(np.sqrt(m0 / m2)) if m2 > 0 else float("nan")
        # the reference assembler stores diwasp_dm rounded to whole
        # degrees (core/waves.py:219 np.round(Dm, 0))
        dm = float(np.round(make_mwd(f_out, res["dirs_deg"], S), 0))
        return {
            "diwasp_frequency": f_out.tolist(),
            "diwasp_direction": res["dirs_deg"].tolist(),
            "diwasp_fspec": fspec.tolist(),
            "diwasp_dspec": [row.tolist() for row in S],
            "wh_4061": hs,
            "wp_peak": tp,
            "wp_4060": tm,
            "wvdir": res["dtp_deg"],
            "dwvdir": res["dp_deg"],
            "wd_4062": dm,
            "diwasp_type": dtype_used,
        }

    return body


def make_diwasp_ds(
    df: DataFrame,
    config: dict,
    pressure_col: str = "P_1ac",
    ast_col: str | None = None,
) -> DataFrame:
    """Distributed directional wave spectra: ``diwasp_body`` per burst,
    fed the AST trace too when ``ast_col`` names one."""
    cols = [pressure_col, "u_1205", "v_1206"] + ([ast_col] if ast_col else [])
    return per_burst(df, cols, diwasp_body(config), diwasp_schema())
