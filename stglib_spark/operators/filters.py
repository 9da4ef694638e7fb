"""Smoothing filters: Butterworth (lowpass/highpass/bandpass, zero-phase)
and N-point median, applied per series / per burst / per bin.

Reference semantics: ``stglib/core/filter.py`` — ``butter_filt`` (:6-25,
order-4 sosfiltfilt), ``make_butter_filt`` (:28-100, loops bursts/bins),
config surface ``<var>_lowpass_filt`` / ``_highpass_filt`` /
``_bandpass_filt`` (:103-154), ``apply_med_filt`` (:157-229, keeps a
``<var>_unfiltered`` copy); filtered water level ``utils.py:1715-1756``
(4th-order lowpass, 6-min cutoff).

Spark-first: zero-phase IIR filtering is inherently sequential over a full
series, so it is FENCED into per-group ``applyInPandas`` exactly along the
reference's own group boundaries (whole series per deployment, per burst,
per vertical bin) — groups are bounded, so memory per task is bounded; the
shuffle key is the same (series/burst) key every other ordered operator
uses. The kernels are the pure-NumPy implementations in
:mod:`stglib_spark.functions.signal` (scipy is unavailable here).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructType

from stglib_spark.functions.signal import butter_ba, filtfilt, medfilt


def _butter_apply(
    values: np.ndarray, sr: float, cutfreq, ftype: str, ford: int
) -> np.ndarray:
    if ftype == "bandpass":
        wn = (cutfreq[0] / (sr / 2.0), cutfreq[1] / (sr / 2.0))
    else:
        wn = float(cutfreq) / (sr / 2.0)
    b, a = butter_ba(ford, wn, ftype)
    return filtfilt(b, a, values)


def butter_filter(
    df: DataFrame,
    var: str,
    sample_rate: float,
    cutfreq,
    ftype: str = "lowpass",
    order: int = 4,
    group_cols: Sequence[str] = (),
    time_col: str = "time",
    keep_unfiltered: bool = False,
) -> DataFrame:
    """Zero-phase Butterworth filter of ``var`` within each group
    (filter.py:28-100: per series / burst / bin)."""
    out_schema = StructType(df.schema.fields)
    if keep_unfiltered:
        out_schema = StructType(
            df.schema.fields + [df.schema[var].__class__(f"{var}_unfiltered", df.schema[var].dataType)]
        )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        vals = pdf[var].to_numpy(dtype=float)
        if keep_unfiltered:
            pdf[f"{var}_unfiltered"] = vals
        good = np.isfinite(vals)
        if good.sum() > 3 * (order + 1):
            # filter over the finite values only (reference filters the raw
            # array; NaNs propagate there — here we fill-by-interp first to
            # keep the IIR stable, then restore NaNs)
            idx = np.arange(len(vals))
            filled = vals.copy()
            if (~good).any():
                filled[~good] = np.interp(idx[~good], idx[good], vals[good])
            filt = _butter_apply(filled, sample_rate, cutfreq, ftype, order)
            filt[~good] = np.nan
            pdf[var] = filt
        return pdf

    return _apply_grouped(df, fn, out_schema, group_cols)


def _apply_grouped(df, fn, out_schema, group_cols):
    """applyInPandas over group_cols, or over one synthetic group when the
    caller filters a whole (bounded) deployment series at once."""
    if group_cols:
        return df.groupBy(*[F.col(c) for c in group_cols]).applyInPandas(
            fn, out_schema
        )
    from pyspark.sql.types import IntegerType, StructField, StructType

    tagged = df.withColumn("__g", F.lit(0))
    schema_g = StructType(
        list(out_schema.fields) + [StructField("__g", IntegerType())]
    )

    def fn_g(pdf: pd.DataFrame) -> pd.DataFrame:
        out = fn(pdf)
        out["__g"] = 0
        return out

    return tagged.groupBy("__g").applyInPandas(fn_g, schema_g).drop("__g")


def med_filter(
    df: DataFrame,
    var: str,
    kernel_size: int,
    group_cols: Sequence[str] = (),
    keep_unfiltered: bool = True,
) -> DataFrame:
    """N-point median smoother with the ``<var>_unfiltered`` copy
    (filter.py:157-229). kernel_size must be odd (reference raises)."""
    if kernel_size % 2 != 1:
        raise ValueError(
            f"kernel size {kernel_size} is not an odd whole number"
        )
    fields = list(df.schema.fields)
    if keep_unfiltered:
        fields = fields + [df.schema[var].__class__(f"{var}_unfiltered", df.schema[var].dataType)]
    out_schema = StructType(fields)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time")
        vals = pdf[var].to_numpy(dtype=float)
        if keep_unfiltered:
            pdf[f"{var}_unfiltered"] = vals
        pdf[var] = medfilt(vals, kernel_size)
        return pdf

    return _apply_grouped(df, fn, out_schema, group_cols)


def filtered_water_level(
    df: DataFrame,
    var: str = "water_level",
    sample_interval_seconds: float = 60.0,
    cutoff_seconds: float = 360.0,
    fill_tolerance_seconds: float | None = None,
) -> DataFrame:
    """create_filtered_water_level_var (utils.py:1715-1756): 4th-order
    lowpass Butterworth at a 6-minute (360 s) default cutoff, written to
    ``<var>_filt``.

    ``fill_tolerance_seconds`` (glx.py:335-355, ``wlfilt_tolerance``,
    reference default "60 s"): NaN gaps in the input are temporarily
    filled with the NEAREST valid sample within the tolerance so the
    IIR recursion doesn't poison everything downstream of a small gap;
    after filtering, cells where the ORIGINAL input was null are
    re-nulled. Both passes are window expressions — no extra shuffle
    beyond the filter's own per-group ordering."""
    sr = 1.0 / float(sample_interval_seconds)
    cut = 1.0 / float(cutoff_seconds)
    src = F.col(var)
    if fill_tolerance_seconds is not None and fill_tolerance_seconds > 0:
        w = Window.orderBy(F.col("time"))
        wdesc = Window.orderBy(F.col("time").desc())
        ts = F.col("time").cast("double")
        prev_v = F.last(F.when(src.isNotNull(), src), True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        prev_t = F.last(F.when(src.isNotNull(), ts), True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        next_v = F.last(F.when(src.isNotNull(), src), True).over(
            wdesc.rowsBetween(Window.unboundedPreceding, -1)
        )
        next_t = F.last(F.when(src.isNotNull(), ts), True).over(
            wdesc.rowsBetween(Window.unboundedPreceding, -1)
        )
        tol = float(fill_tolerance_seconds)
        d_prev = F.when(prev_t.isNotNull(), ts - prev_t)
        d_next = F.when(next_t.isNotNull(), next_t - ts)
        nearest = F.when(
            d_prev.isNotNull()
            & (d_prev <= tol)
            & (d_next.isNull() | (d_prev <= d_next)),
            prev_v,
        ).when(d_next.isNotNull() & (d_next <= tol), next_v)
        src = F.coalesce(F.col(var), nearest)
    tagged = df.withColumn(f"{var}_filt", src)
    out = butter_filter(
        tagged,
        f"{var}_filt",
        sample_rate=sr,
        cutfreq=cut,
        ftype="lowpass",
        order=4,
    )
    if fill_tolerance_seconds is not None and fill_tolerance_seconds > 0:
        # reference re-nulls where the raw series was null (glx.py:352)
        out = out.withColumn(
            f"{var}_filt",
            F.when(F.col(var).isNotNull(), F.col(f"{var}_filt")),
        )
    return out


def apply_config_filters(
    df: DataFrame,
    config: dict,
    variables: Sequence[str],
    group_cols: Sequence[str] = (),
) -> tuple[DataFrame, list[str]]:
    """Config-driven filter dispatch (filter.py:98-229; called at the top
    of the reference's QA/QC loop, core/qaqc.py:19-20): per variable,
    ``<var>_lowpass_filt`` / ``_highpass_filt`` (cutoff period seconds) /
    ``_bandpass_filt`` ([lo, hi] periods) / ``_med_filt`` (kernel size).
    Butterworth keeps an ``_unfiltered`` copy like the reference; returns
    (df, audit messages)."""
    notes: list[str] = []
    if "sample_rate" in config:
        sr = float(config["sample_rate"])
    elif "sample_interval" in config:
        sr = 1.0 / float(config["sample_interval"])
    else:
        sr = None
    for var in variables:
        if var not in df.columns:
            continue
        band = next(
            (
                (ft, config[f"{var}_{ft}_filt"])
                for ft in ("lowpass", "highpass", "bandpass")
                if config.get(f"{var}_{ft}_filt") is not None
            ),
            None,
        )
        if band is not None:
            if sr is None:
                raise ValueError(
                    "sample_rate or sample_interval do not exist in global "
                    f"attributes, cannot apply {band[0]} filter to {var}."
                )
            ftype, period = band
            cutfreq = (
                [1.0 / float(period[0]), 1.0 / float(period[1])]
                if ftype == "bandpass"
                else 1.0 / float(period)
            )
            df = butter_filter(
                df, var, sr, cutfreq, ftype,
                order=int(config.get("filter_order", 4)),
                group_cols=group_cols, keep_unfiltered=True,
            )
            notes.append(f"Applied {ftype} filter to {var} (cutoff {period} s).")
        if config.get(f"{var}_med_filt") is not None:
            k = int(config[f"{var}_med_filt"])
            df = med_filter(
                df, var, k, group_cols=group_cols,
                keep_unfiltered=f"{var}_unfiltered" not in df.columns,
            )
            notes.append(f"Applied {k}-point median filter to {var}.")
    return df, notes
