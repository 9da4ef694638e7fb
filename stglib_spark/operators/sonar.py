"""Imagenex sonar polar→cartesian resampling.

Reference: ``stglib/son/nc2xy.py:60-125`` (``convert_to_xy``) — per time
step the sweep image on its (theta, horizontal-range) polar grid is
re-sampled onto a square x/y grid: build the grid, convert to polar
(compass convention: north up, clockwise), sort theta ascending, drop NaN
ranges, bilinear-interpolate (scipy RegularGridInterpolator,
bounds_error=False → NaN outside the hull).

Spark-first: each time step is independent — ``applyInPandas`` per time
key, exactly the per-burst parallelism pattern of the wave stack. The
interpolator is re-implemented with plain NumPy searchsorted + bilinear
weights (scipy is not a dependency); long-form output (time, x, y, value)
so downstream ops stay relational.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from stglib_spark.session import pin_grouping
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
    TimestampType,
)


def _interp_regular_2d(
    tg: np.ndarray, rg: np.ndarray, theta: np.ndarray, rng: np.ndarray, img: np.ndarray
) -> np.ndarray:
    """Bilinear interpolation of img[theta, rng] at scattered (tg, rg)
    points; NaN outside the grid hull (RegularGridInterpolator with
    bounds_error=False, fill_value=nan)."""
    out = np.full(tg.shape, np.nan)
    ok = (
        (tg >= theta[0]) & (tg <= theta[-1]) & (rg >= rng[0]) & (rg <= rng[-1])
    )
    if not ok.any():
        return out
    t, r = tg[ok], rg[ok]
    it = np.clip(np.searchsorted(theta, t) - 1, 0, len(theta) - 2)
    ir = np.clip(np.searchsorted(rng, r) - 1, 0, len(rng) - 2)
    wt = (t - theta[it]) / (theta[it + 1] - theta[it])
    wr = (r - rng[ir]) / (rng[ir + 1] - rng[ir])
    v00 = img[it, ir]
    v01 = img[it, ir + 1]
    v10 = img[it + 1, ir]
    v11 = img[it + 1, ir + 1]
    out[ok] = (
        v00 * (1 - wt) * (1 - wr)
        + v01 * (1 - wt) * wr
        + v10 * wt * (1 - wr)
        + v11 * wt * wr
    )
    return out


def polar_to_xy(df: DataFrame, total_range: float, dxy: float) -> DataFrame:
    """Long-form polar sweep rows (time, theta_deg, horz_rng, amp) → long
    cartesian image rows (time, x, y, sonar_image).

    Per reference: x = y = arange(−R, R+dxy, dxy); grid theta =
    (−degrees(atan2(y,x)) + 90) mod 360 (compass), rho = hypot; theta
    sorted ascending; NaN ranges dropped; bilinear resample, NaN outside.
    """
    schema = StructType(
        [
            StructField("time", TimestampType()),
            StructField("x", DoubleType()),
            StructField("y", DoubleType()),
            StructField("sonar_image", DoubleType()),
        ]
    )
    axis = np.arange(-total_range, total_range + dxy, dxy)
    xg, yg = np.meshgrid(axis, axis)
    theta_grid = (-np.degrees(np.arctan2(yg, xg)) + 90.0) % 360.0
    rho_grid = np.hypot(xg, yg)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = pdf["time"].iloc[0]
        # pivot long rows → dense (theta, range) image
        piv = pdf.pivot_table(
            index="theta_deg", columns="horz_rng", values="amp", aggfunc="first"
        ).sort_index()
        theta = piv.index.to_numpy(dtype=float)
        rng = piv.columns.to_numpy(dtype=float)
        img = piv.to_numpy(dtype=float)
        keep = ~np.isnan(rng)
        rng, img = rng[keep], img[:, keep]
        new_img = _interp_regular_2d(theta_grid, rho_grid, theta, rng, img)
        return pd.DataFrame(
            {
                "time": t0,
                "x": np.broadcast_to(xg.ravel(), new_img.size),
                "y": yg.ravel(),
                "sonar_image": new_img.ravel(),
            }
        )

    slim = df.select("time", "theta_deg", "horz_rng", "amp")
    return (
        pin_grouping(slim, "time")
        .groupBy("time")
        .applyInPandas(apply_fn, schema)
    )


# attitude spellings: vendor name ↔ post-ds_rename_vars EPIC name
# (son/cdf2nc.py:172-182) — the averager accepts either
_ANGLE_FAMILIES = (
    ("Hdg_1215", "Heading"),
    ("GyroHeading",),
    ("Ptch_1216", "Pitch"),
    ("Roll_1217", "Roll"),
)


def correct_theta(head_angle: Column, heading: Column) -> Column:
    """Image angle → compass radians (son/cdf2nc.py:153-169
    correct_theta): reverse and add 90° (math → north-up compass),
    add the heading offset 360 − Hdg to point north, wrap to [0, 360),
    convert to radians."""
    deg = -head_angle + 90.0 + (360.0 - heading)
    return F.radians(F.pmod(deg, F.lit(360.0)))


def magvar_correct_heading(heading: Column, magvar: float) -> Column:
    """Sonar heading magnetic-variation correction (son/cdf2nc.py:
    136-150 magvar_correct): heading + magvar, ROUNDED TO 1 DP, wrapped
    to [0, 360). numpy's ``.round(1)`` is HALF-EVEN, so ``bround`` —
    F.round (half-up) diverges on representable midpoints (e.g. the
    vendor grid's 512·45/2048 = 11.25 plus an integral magvar)."""
    return F.pmod(F.bround(heading + F.lit(float(magvar)), 1), F.lit(360.0))


def average_sweeps(df: DataFrame, time_col: str = "time") -> DataFrame:
    """Sweep-averaged sonar product (son/cdf2nc.py:103-131: ``ds.mean(
    dim="sweep")`` + recomputed angles + vector-averaged attitudes) —
    the reference's second ``b_<R>m-a.nc`` output of the son cdf2nc
    stage. Per (time, scan) group over the sweep rows:

    - plain numeric vars: xarray ``mean`` skips NaN → ``F.avg`` matches;
    - ``HeadAngle``/``SonarAngle``: RECOMPUTED from the averaged
      positions with the reference's hard-coded 0.3°/count factor
      (cdf2nc.py:109-110), not averaged themselves;
    - Hdg/Gyro/Ptch/Roll: vector mean of unit vectors
      (cdf2nc.py:185-212 vector_avg_angles) with ``np.mean``
      POISONING semantics — np.mean (not nanmean) over the sweep axis
      NaNs the whole average when any sweep's angle is missing, so the
      mean is gated ``when(count(a) == count(*), …)``; result wrapped
      to [0, 360) like the reference's ``% 360``;
    - array columns (the echo trace, SlantRange/HorizontalRange):
      element-wise mean across sweeps, computed with nested
      higher-order functions over ``collect_list`` so the whole
      product stays ONE map-side-combinable groupBy — no second
      shuffle, no UDF, no explode of the points axis.

    Scale shape: one hash aggregate on (time, scan); state per group is
    n_sweeps echo arrays (the reference holds the full cube in RAM).
    """
    numeric_elems = ("tinyint", "smallint", "int", "bigint", "float", "double")
    array_cols = [
        c
        for c, t in df.dtypes
        if t.startswith("array<") and t[6:-1] in numeric_elems
    ]
    if "sonar_image" in df.columns and "sonar_image" not in array_cols:
        array_cols.append("sonar_image")
    scalar_specials = {time_col, "scan", "sweep", *array_cols}
    angle_cols = []
    for fam in _ANGLE_FAMILIES:
        col = next((c for c in fam if c in df.columns), None)
        if col is not None:
            angle_cols.append(col)
    scalar_specials.update(angle_cols)
    numeric = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
    }
    plain = [
        c
        for c, t in df.dtypes
        if t in numeric and c not in scalar_specials
    ]
    aggs = [F.avg(c).alias(c) for c in plain]
    for a in angle_cols:
        rad = F.radians(F.col(a))
        vec = F.degrees(F.atan2(F.avg(F.sin(rad)), F.avg(F.cos(rad))))
        aggs.append(
            F.when(
                F.count(a) == F.count(F.lit(1)), F.pmod(vec, F.lit(360.0))
            ).alias(a)
        )
    for ac in array_cols:
        aggs.append(F.collect_list(ac).alias(f"__arr_{ac}"))
    out = df.groupBy(time_col, "scan").agg(*aggs)
    recompute = {}
    if "HeadPosition" in plain:
        recompute["HeadAngle"] = 0.3 * (F.col("HeadPosition") - 600.0)
    if "SonarPosition" in plain:
        recompute["SonarAngle"] = 0.3 * (F.col("SonarPosition") - 600.0)
    if recompute:
        out = out.withColumns(recompute)
    for ac in array_cols:
        out = out.withColumn(
            ac, _elementwise_mean(F.col(f"__arr_{ac}"))
        ).drop(f"__arr_{ac}")
    return out


def _elementwise_mean(lst: Column) -> Column:
    """array-of-arrays → element-wise mean over the outer axis, null
    elements skipped per position (xarray ``mean`` over a collapsing
    dim); pure nested higher-order functions, no UDF."""

    def per_index(i: Column) -> Column:
        acc = F.aggregate(
            lst,
            F.struct(
                F.lit(0.0).alias("s"), F.lit(0).cast("long").alias("c")
            ),
            lambda a, arr: F.struct(
                (
                    a["s"]
                    + F.coalesce(F.get(arr, i).cast("double"), F.lit(0.0))
                ).alias("s"),
                (
                    a["c"]
                    + F.when(F.get(arr, i).isNotNull(), 1)
                    .otherwise(0)
                    .cast("long")
                ).alias("c"),
            ),
        )
        return F.when(acc["c"] > 0, acc["s"] / acc["c"])

    width = F.size(F.element_at(lst, 1))
    return F.transform(F.sequence(F.lit(0), width - 1), per_index)


def slant_geometry(
    df: DataFrame,
    total_range: float,
    npoints: int,
) -> DataFrame:
    """Per-point slant/horizontal range arrays (son/cdf2nc.py:49-70):
    slant_j = (j+1)·R/n for the n echo points (the reference's
    ``np.arange(first, last, step)`` with first = step = R/n), nulled
    where not strictly greater than the height above bed (side of the
    cone inside the bed), and horizontal = sqrt(slant² − hgt²) — the
    rho axis the polar→cartesian regrid consumes. One codegen'd
    projection; the arrays are per-ROW, derived, never shuffled."""
    step = float(total_range) / int(npoints)
    slant = F.transform(
        F.sequence(F.lit(1), F.lit(int(npoints))),
        lambda j: F.when(
            j.cast("double") * step > F.col("sonar_hgt"),
            j.cast("double") * step,
        ),
    )
    out = df.withColumn("SlantRange", slant)
    horz = F.transform(
        F.col("SlantRange"),
        lambda s: F.sqrt(s * s - F.col("sonar_hgt") * F.col("sonar_hgt")),
    )
    return out.withColumn("HorizontalRange", horz)
