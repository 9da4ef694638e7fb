"""Velocity profile trims and signal-quality gates.

Reference: ``stglib/aqd/aqdutils.py`` — ``trim_vel`` :435-658 (water-level /
side-lobe / brange / inst-height / bin-range trims),
``fill_agc``/``fill_cor`` :1631-1714 (AGC & correlation gates),
and the SNR gates ``stglib/iq.py:661-708`` / ``stglib/vec/cdf2nc.py:628-675``.

Spark-first shape: data is long-form — one row per (time, bindist) with
velocity value columns; the instrument pressure / boundary range is a plain
column on the row (broadcast-joined beforehand if it came from a companion
table). Every trim is then a single ``when(keep, v)`` projection over the
scan — no shuffle at any scale.
"""

from __future__ import annotations

import math
from typing import Any
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def _null_unless(df: DataFrame, keep: Column, variables: list[str]) -> DataFrame:
    """Null listed columns where ``keep`` is false or unevaluable (NaN
    comparisons in the reference collapse to False → filled)."""
    df = df.withColumn("__keep", F.coalesce(keep, F.lit(False)))
    for v in variables:
        if v in df.columns:
            df = df.withColumn(
                v, F.when(F.col("__keep"), F.col(v)).otherwise(F.lit(None))
            )
    return df.drop("__keep")


def trim_vel(
    df: DataFrame,
    config: dict[str, Any],
    data_vars: list[str] | None = None,
    pressure_col: str | None = None,
) -> DataFrame:
    """Side-lobe / water-level / boundary-range bin trimming
    (aqdutils.py:435-658).

    UP-looking (surface is the contaminant, range limit = pressure P):
      ``water level``     keep where bindist < P
      ``water level sl``  keep where bindist < P·cos(beam_angle) − bin_size·trim_surf_bins
    DOWN-looking (boundary is the contaminant, range limit = brange R or
    initial_instrument_height):
      ``brange``          keep where bindist < R
      ``brange sl``       keep where bindist < R·cos(beam_angle) − bin_size·trim_bottom_bins
      ``inst_ht``         keep where bindist < initial_instrument_height
      ``inst_ht sl``      same with cos(beam_angle) and trim_bottom_bins
    Either orientation:
      ``bin range``       keep bins with good_bins[0] <= bin_index < good_bins[1]
                          (index = dense rank of bindist; this DELETES rows,
                          matching the reference's isel)
    """
    data_vars = data_vars or [v for v in ("U", "V", "W", "AGC") if v in df.columns]
    method = (config.get("trim_method") or "none").lower()
    if method == "none":
        return df
    orientation = (config.get("orientation") or "UP").upper()
    beam = float(config.get("beam_angle", 25.0))
    cosb = math.cos(math.radians(beam))
    bd = F.col("bindist")

    if method == "bin range":
        lo, hi = config["good_bins"]
        # positional bin index from bindist: bins form a small regular
        # grid, so (bindist − first_bindist)/bin_size is exact. The grid
        # origin comes from the data (min bindist, broadcast single-row
        # aggregate) unless configured — defaulting to 0 would misalign
        # every deployment with a blanking distance.
        bin_size = float(config["bin_size"])
        if config.get("first_bindist") is not None:
            first: Column = F.lit(float(config["first_bindist"]))
        else:
            first_df = df.agg(F.min(bd).alias("__first_bd"))
            df = df.crossJoin(F.broadcast(first_df))
            first = F.col("__first_bd")
        # sig/cdf2nc.py:1826 snaps bin indices with numpy HALF-EVEN
        # rounding; exact half-bin geometry ties are representable
        idx = F.bround((bd - first) / F.lit(bin_size)).cast("int")
        return df.filter(
            (idx >= F.lit(int(lo))) & (idx < F.lit(int(hi)))
        ).drop("__first_bd")

    if orientation == "UP":
        p = F.col(pressure_col or "P_1ac")
        if method == "water level":
            keep = bd < p
        elif method == "water level sl":
            surf = float(config.get("trim_surf_bins", 0) or 0)
            keep = bd < (p * F.lit(cosb) - F.lit(float(config["bin_size"]) * surf))
        else:
            return df
    else:  # DOWN
        if method in ("inst_ht", "inst_ht sl"):
            r: Column = F.lit(float(config["initial_instrument_height"]))
        else:
            r = F.col("brange")
        if method in ("brange", "inst_ht"):
            keep = bd < r
        elif method in ("brange sl", "inst_ht sl"):
            bot = float(config.get("trim_bottom_bins", 0) or 0)
            keep = bd < (r * F.lit(cosb) - F.lit(float(config["bin_size"]) * bot))
        else:
            return df
    return _null_unless(df, keep, data_vars)


def fill_agc(df: DataFrame, config: dict[str, Any]) -> DataFrame:
    """AGC gates (aqdutils.py:1631-1664): null transformed velocities where
    average echo intensity AGC_1202 is outside [velocity_agc_min,
    velocity_agc_max]. Plain predicates — whole-stage-codegen projection."""
    uvw = ["u_1205", "v_1206", "w_1204", "w2_1204", "vel_b5"]
    out = df
    if config.get("velocity_agc_min") is not None:
        out = _null_unless(
            out, F.col("AGC_1202") > F.lit(config["velocity_agc_min"]), uvw
        )
    if config.get("velocity_agc_max") is not None:
        out = _null_unless(
            out, F.col("AGC_1202") < F.lit(config["velocity_agc_max"]), uvw
        )
    return out


def fill_cor(df: DataFrame, config: dict[str, Any]) -> DataFrame:
    """Correlation gates (aqdutils.py:1668-1714): null velocities where the
    average beam correlation is below velocity_cor_min (vel_b5 pairs with
    cor_b5, everything else with cor_avg); optionally gate echo-intensity
    vars on agc_cor_min the same way."""
    out = df

    def gate(variables: list[str], key: str) -> DataFrame:
        o = out
        for v in variables:
            if v not in o.columns:
                continue
            cor = "cor_b5" if v.endswith("_b5") else "cor_avg"
            if cor not in o.columns:
                continue
            o = _null_unless(o, F.col(cor) > F.lit(config[key]), [v])
        return o

    if config.get("velocity_cor_min") is not None:
        out = gate(["u_1205", "v_1206", "w_1204", "w2_1204", "vel_b5"], "velocity_cor_min")
    if config.get("agc_cor_min") is not None:
        out = gate(["AGC_1202", "amp_avg", "amp_b5"], "agc_cor_min")
    return out


def fill_snr(
    df: DataFrame,
    config: dict[str, Any],
    vel_vars: list[str] | None = None,
    snr_vars: list[str] | None = None,
) -> DataFrame:
    """Per-beam SNR gate (iq.py:661-708, vec/cdf2nc.py:628-675): null each
    velocity component where its beam's SNR is below ``snr_min``; a combined
    mean velocity requires ALL beams to pass (mask-AND, iq.py:744-768)."""
    snr_min = config.get("snr_min")
    if snr_min is None:
        return df
    vel_vars = vel_vars or [c for c in df.columns if c.startswith("vel_")]
    snr_vars = snr_vars or [c.replace("vel_", "snr_") for c in vel_vars]
    out = df
    all_pass: Column | None = None
    for v, s in zip(vel_vars, snr_vars):
        if v not in out.columns or s not in out.columns:
            continue
        ok = F.col(s) >= F.lit(snr_min)
        out = _null_unless(out, ok, [v])
        all_pass = ok if all_pass is None else (all_pass & ok)
    if all_pass is not None and "vel_mean" in out.columns:
        out = _null_unless(out, all_pass, ["vel_mean"])
    return out


def fill_vbper(
    df: DataFrame,
    config: dict[str, Any],
    variables: Sequence[str] = ("Depth", "Stage", "Area", "Range"),
) -> DataFrame:
    """Vertical-beam percent-good gate (iq.py:711-741 fill_vbper): null
    stage/area/range/depth where VbPercentGood fails the
    ``vbper_threshold`` config. Keep-condition is strictly-greater, as in
    the reference's ``.where(ds.VbPercentGood > threshold)``."""
    thr = config.get("vbper_threshold")
    if thr is None or "VbPercentGood" not in df.columns:
        return df
    keep = F.col("VbPercentGood") > F.lit(float(thr))
    return _null_unless(df, keep, [v for v in variables if v in df.columns])
