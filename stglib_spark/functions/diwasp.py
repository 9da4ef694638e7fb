"""Directional wave spectrum estimation (DIWASP-equivalent), from scratch
in vectorized NumPy.

Implements the published algorithms the reference's bundled pyDIWASP uses
(Hashimoto, N. 1997, "Analysis of the directional wave spectrum from field
data", Advances in Coastal Engineering Vol.3): cross-power spectral matrix
→ per-sensor transfer functions → DFTM (direct Fourier transform method)
or IMLM (iterated maximum likelihood method) estimator → directional
spectrum on a user grid. Reference behavior anchors (semantics, not code):
``stglib/lib/pyDIWASP/dirspec.py:23-189``, ``private/IMLM.py``,
``private/DFTM.py``, ``private/diwasp_csd.py``, ``private/pres.py`` /
``velx.py`` / ``vely.py`` / ``elev.py`` (Kz floor 0.1),
``private/wavenumber.py`` (Dalrymple converging Newton),
``infospec.py:6-57`` (Hs/Tp/DTp/Dp).

Differences by design (this is not a port): the m×n×direction loops are
einsum-vectorized, IMLM is batched over frequencies (each relaxation
iteration is one stacked inverse and two einsums over every bin, not a
per-bin loop), and the final (freq, dir) regrid is separable bilinear
interpolation on the polar grid with circular wraparound in direction
instead of scipy ``griddata`` scatter interpolation (scipy is unavailable;
the grids are regular so separable interpolation is exact to the same
order).
"""

from __future__ import annotations

import numpy as np

G = 9.81


def hamming_periodic(n: int) -> np.ndarray:
    k = np.arange(n)
    return 0.54 - 0.46 * np.cos(2.0 * np.pi * k / n)


def csd_matrix(data: np.ndarray, nfft: int, fs: float) -> tuple[np.ndarray, np.ndarray]:
    """Cross-power spectral density matrix of the data columns.

    Matches scipy.signal.csd(window='hamming', noverlap=0, detrend=False)
    as called by diwasp_csd: segments of length nfft, no overlap, one-sided
    density scaling; xps[m, n] = E[conj(X_m) · X_n]. Returns
    (xps (szd, szd, nfft//2), F (nfft//2,)) dropping the DC bin, like
    dirspec.py:106-111.
    """
    ndat, szd = data.shape
    nseg = max(ndat // nfft, 1)
    w = hamming_periodic(nfft)
    scale = 1.0 / (fs * (w * w).sum())

    segs = data[: nseg * nfft].reshape(nseg, nfft, szd)
    spec = np.fft.rfft(segs * w[None, :, None], n=nfft, axis=1)  # (nseg,nf+1,szd)
    # cross spectra: conj(X_m)·X_n averaged over segments
    xps_full = np.einsum("sfm,sfn->mnf", np.conj(spec), spec) * scale / nseg
    # one-sided doubling except DC and Nyquist
    xps_full[..., 1:-1] *= 2.0
    f_full = np.fft.rfftfreq(nfft, d=1.0 / fs)
    return xps_full[..., 1 : nfft // 2 + 1], f_full[1 : nfft // 2 + 1]


def wavenumber(sigma: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Converging Newton dispersion solve (Dalrymple), semantics of
    private/wavenumber.py: iterate to |Δ/a| < 1e-8."""
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        a0 = sigma * sigma * h / G
        b1 = 1.0 / np.tanh(a0**0.75)
        a1 = a0 * b1**0.666
        for _ in range(100):
            th = np.tanh(a1)
            ch = np.cosh(a1)
            f1 = a0 - a1 * th
            f2 = -a1 * (1.0 / ch) ** 2 - th
            da1 = -f1 / f2
            a1 = a1 + da1
            if np.all(np.abs(da1 / np.where(a1 == 0, 1, a1)) < 1e-8):
                break
        return a1 / h


def transfer_fn(
    kind: str,
    omega: np.ndarray,
    dirs: np.ndarray,
    wns: np.ndarray,
    z: float,
    depth: float,
) -> np.ndarray:
    """Per-sensor transfer function (nf, ndirs). Kz floored at 0.1 for
    pres/velx/vely (private/pres.py etc.)."""
    nf, nd = len(omega), len(dirs)
    with np.errstate(over="ignore", invalid="ignore"):
        if kind == "elev":
            return np.ones((nf, nd))
        if kind == "pres":
            kz = np.cosh(z * wns) / np.cosh(depth * wns)
            kz = np.where(kz < 0.1, 0.1, kz)
            return kz[:, None] * np.ones(nd)[None, :]
        if kind == "velx":
            kz = np.cosh(z * wns) / np.sinh(depth * wns)
            kz = np.where(kz < 0.1, 0.1, kz)
            return (omega * kz)[:, None] * np.cos(dirs)[None, :]
        if kind == "vely":
            kz = np.cosh(z * wns) / np.sinh(depth * wns)
            kz = np.where(kz < 0.1, 0.1, kz)
            return (omega * kz)[:, None] * np.sin(dirs)[None, :]
    raise ValueError(f"unknown datatype {kind!r}")


def dftm(xps, trm, kx, ss, ddir):
    """Direct Fourier transform estimator, vectorized over directions
    (private/DFTM.py semantics): S[f,:] ∝ Σ_mn xps[m,n,f]·H_n·H_m*·e^{i kx}."""
    # xps: (m,n,f); trm: (m,f,d); kx: (m,n,f,d)
    ht = np.einsum("nfd,mfd,mnfd->fdmn", trm, np.conj(trm), np.exp(1j * kx))
    sf = np.einsum("mnf,fdmn->fd", xps, ht)
    e = np.conj(sf)
    norm = ddir * np.sum(e, axis=1, keepdims=True)
    with np.errstate(divide="ignore", invalid="ignore"):
        e = np.where(norm != 0, e / norm, 0)
    return ss[0][:, None] * e


def _inv_stack(mats: np.ndarray) -> np.ndarray:
    """Inverse of every matrix in a (..., m, m) stack in one LAPACK
    call; when any one is singular, each slice is inverted on its own
    and a singular one falls back to ``pinv``."""
    try:
        return np.linalg.inv(mats)
    except np.linalg.LinAlgError:
        out = np.empty_like(mats)
        for i, mat in enumerate(mats):
            try:
                out[i] = np.linalg.inv(mat)
            except np.linalg.LinAlgError:
                out[i] = np.linalg.pinv(mat)
        return out


def imlm(xps, trm, kx, ss, ddir, miter=50, gamma=0.1, alpha=0.1):
    """Iterated maximum likelihood estimator (private/IMLM.py semantics),
    batched over frequencies: MLE seed from the inverse cross-spectral
    matrix of every bin, then `miter` relaxation iterations toward
    consistency, each one stacked inverse and einsum over all bins."""
    expx = np.exp(1j * kx)  # (m,n,f,d)
    htemp = np.einsum("nfd,mfd,mnfd->fmnd", trm, np.conj(trm), expx)
    ihtemp = np.einsum("nfd,mfd,mnfd->fmnd", trm, np.conj(trm), np.conj(expx))

    invcps = _inv_stack(np.moveaxis(xps, 2, 0))  # (f,m,n)
    sftmp = np.einsum("fmn,fmnd->fd", invcps, htemp)
    with np.errstate(divide="ignore", invalid="ignore"):
        eo = 1.0 / sftmp
    eo = eo / (ddir * np.sum(eo, axis=1, keepdims=True))
    e = eo.copy()
    t = eo.copy()
    for _ in range(miter):
        ixps = np.einsum("fmnd,fd->fmn", ihtemp, e) * ddir
        invi = _inv_stack(ixps)
        sftmp = np.einsum("fmn,fmnd->fd", invi, htemp)
        told = t
        with np.errstate(divide="ignore", invalid="ignore"):
            t = 1.0 / sftmp
        t = t / (ddir * np.sum(t, axis=1, keepdims=True))
        e = e + gamma * ((eo - t) + alpha * (t - told))
        e = e / (ddir * np.sum(e, axis=1, keepdims=True))
    # energy conservation: the relaxation can leave negative side
    # lobes; the downstream clamp (S<0 → 0) would then ADD energy.
    # Clamp here and renormalize the spreading function to unit
    # integral so each frequency slice conserves the observed
    # autospectrum level ss[0,f] by construction (m0-preserving;
    # the reference clamps without renormalizing, dirspec.py:158,
    # which is the known IMLM Hs-inflation artifact).
    er = np.real(np.conj(e))
    er[~np.isfinite(er) | (er < 0)] = 0.0
    tot = ddir * er.sum(axis=1, keepdims=True)
    er = np.divide(er, tot, out=er, where=tot > 0)
    return (np.real(ss[0])[:, None] * er).astype(complex)


def interp_spectrum(
    S: np.ndarray,
    f_in: np.ndarray,
    d_in: np.ndarray,
    f_out: np.ndarray,
    d_out: np.ndarray,
) -> np.ndarray:
    """Separable bilinear regrid of a directional spectrum from
    (f_in, d_in[rad]) to (f_out, d_out[rad]), circular in direction.
    Replaces interpspec's cartesian griddata with an equivalent
    regular-grid interpolation; out-of-range frequencies → 0."""
    S = np.real(S)
    # frequency interpolation (rows), 0 outside range
    Sf = np.empty((len(f_out), S.shape[1]))
    for j in range(S.shape[1]):
        Sf[:, j] = np.interp(f_out, f_in, S[:, j], left=0.0, right=0.0)
    # direction: circular interp
    order = np.argsort(d_in)
    d_sorted = d_in[order]
    period = 2 * np.pi
    d_ext = np.concatenate([d_sorted, [d_sorted[0] + period]])
    out = np.empty((len(f_out), len(d_out)))
    d_out_wrapped = (d_out - d_sorted[0]) % period + d_sorted[0]
    for i in range(len(f_out)):
        row = Sf[i, order]
        row_ext = np.concatenate([row, [row[0]]])
        out[i, :] = np.interp(d_out_wrapped, d_ext, row_ext)
    return out


def smoothspec(S: np.ndarray) -> np.ndarray:
    """5×5 separable cross smoothing of a (freq, dir) spectrum —
    private/smoothspec.py semantics: interior cells only (2-cell margin
    untouched), NaNs treated as zero, (center, ±1, ±2) weights
    (1, 0.5, 0.25) along frequency and along direction."""
    f3, f2, f1 = d3, d2, d1 = 1.0, 0.5, 0.25
    tot = 2 * f1 + 2 * f2 + f3 + 2 * d1 + 2 * d2 + d3
    out = np.array(S, dtype=float, copy=True)
    sin = np.nan_to_num(out)
    nf, nd = sin.shape
    if nf > 4 and nd > 4:
        out[2 : nf - 2, 2 : nd - 2] = (
            f1 * sin[: nf - 4, 2 : nd - 2]
            + f2 * sin[1 : nf - 3, 2 : nd - 2]
            + f3 * sin[2 : nf - 2, 2 : nd - 2]
            + f2 * sin[3 : nf - 1, 2 : nd - 2]
            + f1 * sin[4:nf, 2 : nd - 2]
            + d1 * sin[2 : nf - 2, : nd - 4]
            + d2 * sin[2 : nf - 2, 1 : nd - 3]
            + d3 * sin[2 : nf - 2, 2 : nd - 2]
            + d2 * sin[2 : nf - 2, 3 : nd - 1]
            + d1 * sin[2 : nf - 2, 4:nd]
        ) / tot
    return out


def dirspec(
    data: np.ndarray,
    datatypes: list[str],
    layout: np.ndarray,
    depth: float,
    fs: float,
    freqs_out: np.ndarray,
    dirs_out_deg: np.ndarray,
    method: str = "IMLM",
    nfft: int | None = None,
    dres: int = 180,
    miter: int = 50,
    smooth: bool = True,
    dunit: str = "naut",
    xaxisdir: float = 90.0,
) -> dict:
    """Full directional-spectrum estimation for one burst
    (dirspec.py:23-189 flow): detrend → csd matrix → wavenumber →
    transfer functions + phase lags → estimator → regrid → info stats.

    Returns dict with 'S' (nfout, ndout), 'freqs', 'dirs_deg', 'fspec',
    'hs', 'tp', 'dtp_deg', 'dp_deg'.
    """
    from stglib_spark.functions.signal import detrend_linear

    data = np.column_stack([detrend_linear(data[:, i]) for i in range(data.shape[1])])
    ndat, szd = data.shape
    if nfft is None:
        nfft = int(2 ** (8 + np.round(np.log2(fs))))
    nfft = int(min(nfft, ndat))
    nfft -= nfft % 2  # even for clean one-sided split

    xps, F = csd_matrix(data, nfft, fs)
    wns = wavenumber(2 * np.pi * F, depth * np.ones_like(F))
    pidirs = np.linspace(-np.pi, np.pi - 2 * np.pi / dres, num=dres)
    ddir = 2 * np.pi / dres

    trm = np.zeros((szd, len(F), dres))
    kx = np.zeros((szd, szd, len(F), dres))
    for m in range(szd):
        trm[m] = transfer_fn(
            datatypes[m], 2 * np.pi * F, pidirs, wns, layout[2, m], depth
        )
        for n in range(szd):
            kx[m, n] = wns[:, None] * (
                (layout[0, n] - layout[0, m]) * np.cos(pidirs)[None, :]
                + (layout[1, n] - layout[1, m]) * np.sin(pidirs)[None, :]
            )

    # per-sensor surface-equivalent auto-spectra (dirspec.py:133-140)
    ss = np.zeros((szd, len(F)), dtype=complex)
    for m in range(szd):
        tmax = np.max(np.conj(trm[m]).T, axis=0)
        with np.errstate(divide="ignore", invalid="ignore"):
            ss[m] = xps[m, m, :] / (tmax * np.conj(tmax))

    ffs = (F >= freqs_out.min()) & (F <= freqs_out.max())
    if method.upper() == "IMLM":
        S1 = imlm(xps[:, :, ffs], trm[:, ffs, :], kx[:, :, ffs, :], ss[:, ffs], ddir, miter)
    elif method.upper() == "DFTM":
        S1 = dftm(xps[:, :, ffs], trm[:, ffs, :], kx[:, :, ffs, :], ss[:, ffs], ddir)
    else:
        raise ValueError(f"unknown method {method!r}")
    S1 = np.real(S1)
    S1[np.isnan(S1) | (S1 < 0)] = 0.0

    # output direction basis (private/spectobasis.py): the reference
    # DEFAULT axis is NAUTICAL compass degrees with xaxisdir=90 — the
    # output label D samples the internal cartesian angle
    # 270 − D − (90 − xaxisdir) degrees, and the density converts to
    # per-(Hz·degree) via the π/180 Jacobian (interpspec scales by
    # 1/facout BEFORE dirspec's smoothspec call — same order here).
    # dunit='cart' keeps this engine's earlier cartesian-radians axis.
    naut = str(dunit).lower().startswith("nau")
    if naut:
        d_eval = np.radians(270.0 - (dirs_out_deg + (90.0 - xaxisdir)))
        dens = np.pi / 180.0
    else:
        d_eval = np.radians(dirs_out_deg)
        dens = 1.0
    S = interp_spectrum(S1, F[ffs], pidirs, freqs_out, d_eval)
    if naut:
        S = S * dens
    if smooth:
        # reference default EP['smooth']='ON' (core/waves.py:28,
        # dirspec.py:165-168): smooth the REGRIDDED output spectrum
        S = smoothspec(S)

    # info stats (infospec.py:6-57) — computed on the INTERNAL estimation
    # grid, not the regridded one: a narrow (near-delta) IMLM spectrum
    # loses/gains energy under any regrid (the reference's interpspec
    # warns at >2% Hsig drift for exactly this reason)
    fint = F[ffs]
    df_int = fint[1] - fint[0] if len(fint) > 1 else 1.0
    hs = 4.0 * np.sqrt(np.sum(S1) * df_int * ddir)
    fspec_int = np.sum(S1, axis=1) * ddir
    ipk = int(np.argmax(fspec_int))
    tp = 1.0 / fint[ipk] if fint[ipk] > 0 else np.nan
    dirs_int_deg = np.degrees(pidirs) % 360.0
    dtp = dirs_int_deg[int(np.argmax(S1[ipk, :]))]
    dp = dirs_int_deg[int(np.argmax(np.sum(S1, axis=0)))]
    if naut:
        # internal-grid peak directions converted to the output frame
        # (D = 180 + xaxisdir − θ mod 360), so every direction output
        # shares the reference's compass convention
        dtp = float(np.mod(180.0 + xaxisdir - dtp, 360.0))
        dp = float(np.mod(180.0 + xaxisdir - dp, 360.0))
    # fspec on the output frequency grid for the assembled dataset:
    # trapezoid over the degree axis for the nautical basis (the
    # reference's Snn = trapezoid(Dnn, x=dirs), core/waves.py:478);
    # rectangular radian sum for the legacy cartesian basis
    if naut:
        fspec = np.trapz(S, dirs_out_deg, axis=1)
    else:
        dd_out = (
            np.radians(dirs_out_deg[1] - dirs_out_deg[0])
            if len(dirs_out_deg) > 1
            else 1.0
        )
        fspec = np.sum(S, axis=1) * dd_out
    return {
        "S": S,
        "freqs": freqs_out,
        "dirs_deg": dirs_out_deg,
        "fspec": fspec,
        "hs": float(hs),
        "tp": float(tp),
        "dtp_deg": float(dtp),
        "dp_deg": float(dp),
    }


def write_spec_text(path, xaxisdir, freqs, dirs, S):
    """Serialize one directional spectrum to the DIWASP V1.4 text
    container (reference ``lib/pyDIWASP/writespec.py:23-37``): a single
    column of numbers — ``xaxisdir``, ``nf``, ``nd``, the frequency
    axis, the direction axis, a ``999`` separator, then the real part
    of S flattened row-major (frequency-major). One value per line in
    exponential notation, full double precision (``%.18e``, the
    np.savetxt default the format was defined with), so the file
    round-trips bit-exactly."""
    freqs = np.asarray(freqs, dtype=float).ravel()
    dirs = np.asarray(dirs, dtype=float).ravel()
    S = np.real(np.asarray(S))
    nf, nd = len(freqs), len(dirs)
    if S.shape != (nf, nd):
        raise ValueError(f"S shape {S.shape} != (nf={nf}, nd={nd})")
    stream = np.concatenate(
        [
            np.array([float(xaxisdir), float(nf), float(nd)]),
            freqs,
            dirs,
            np.array([999.0]),
            S.ravel(),
        ]
    )
    with open(path, "w", encoding="ascii") as f:
        for v in stream:
            f.write("%.18e\n" % v)


def read_spec_text(path):
    """Parse a DIWASP V1.4 spectrum file back into
    ``(xaxisdir, freqs, dirs, S)``; validates the header lengths and
    the 999 separator. Inverse of :func:`write_spec_text`."""
    vals = np.loadtxt(path, dtype=float).ravel()
    if len(vals) < 4:
        raise ValueError(f"{path}: truncated DIWASP spec file")
    xaxisdir = float(vals[0])
    nf, nd = int(vals[1]), int(vals[2])
    want = 3 + nf + nd + 1 + nf * nd
    if len(vals) != want:
        raise ValueError(
            f"{path}: expected {want} values for nf={nf} nd={nd}, "
            f"got {len(vals)}"
        )
    freqs = vals[3:3 + nf]
    dirs = vals[3 + nf:3 + nf + nd]
    if vals[3 + nf + nd] != 999.0:
        raise ValueError(f"{path}: missing 999 separator")
    S = vals[3 + nf + nd + 1:].reshape(nf, nd)
    return xaxisdir, freqs, dirs, S
