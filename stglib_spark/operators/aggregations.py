"""Aggregation operators: interval averaging, gated means, circular
means, boundary detection.

Reference semantics:
- ``ds_mean_count_minf`` — mean gated on a minimum valid fraction
  (``core/utils.py:2044-2086``): if count(valid) < minf·n → null.
- vector (circular) mean of angles (``utils.py:1907-1923``).
- interval averaging with duration subsetting (``mar.py:259-331``,
  ``sig/cdf2nc.py:320-379``): average only the first D seconds of each
  interval window.
- ``brange`` boundary detection: argmax of amplitude over bins
  (``sig/cdf2nc.py:1728-1777``) → ``max_by``.

All are single groupBy aggregations → map-side partial aggregation +
one shuffle on the group key; at 100 TB this is the minimal-movement plan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def mean_minf(value: Column, minf: float, n: Column | int) -> Column:
    """Mean gated on minimum valid fraction (utils.py:2044-2086):
    null unless count(valid) >= int(n * minf) — the reference truncates
    the threshold to an integer (min_count, utils.py:2067)."""
    n_col = F.lit(n) if isinstance(n, int) else n
    min_count = F.floor(F.lit(float(minf)) * n_col)
    return F.when(F.count(value) >= min_count, F.avg(value)).otherwise(F.lit(None))


def _vector_mean_deg(angle_deg: Column) -> Column:
    """Vector mean of angles in degrees, atan2(mean sin, mean cos), in
    (−180, 180] (utils.py:1907-1923)."""
    rad = F.radians(angle_deg)
    return F.degrees(F.atan2(F.avg(F.sin(rad)), F.avg(F.cos(rad))))


def circular_mean_deg(angle_deg: Column) -> Column:
    """Vector mean of angles in degrees → [0, 360) (utils.py:1907-1923):
    atan2(mean sin, mean cos), wrapped positive."""
    return (_vector_mean_deg(angle_deg) + 360.0) % 360.0


def interval_average(
    df: DataFrame,
    time_col: str,
    interval_seconds: int,
    duration_seconds: int | None,
    value_cols: Sequence[str],
    minf: float | None = None,
    expected_n: int | None = None,
    origin_epoch_seconds: float | None = None,
    poison: bool = False,
    vector_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling-interval average, restricted to the first
    ``duration_seconds`` of each interval (mar.py:259-331,
    sig/cdf2nc.py:320-379). The duration restriction is a filter inside the
    window, not a second pass.

    Reference-fidelity knobs (r14 — the mar/sig variants differ):

    - ``origin_epoch_seconds``: tile windows from the record's first
      timestamp instead of the epoch — mar.py:268-274 builds its
      date_range from ``ds.time[0]``, so a deployment that starts
      mid-interval gets t0-aligned windows, not clock-aligned ones.
    - ``expected_n``: the a-priori samples-per-interval (interval·rate,
      or duration·rate). With ``minf``, the valid-count gate compares
      against ``int(minf · expected_n)`` — sig/cdf2nc.py:341/360 gates
      on the FIXED per-burst sample count (the reference gap-fills
      first so every interval has the full slot count), not on the
      interval's own row count. Without it the gate is
      ``int(minf · rows in the interval)`` (irregular series). Both are
      :func:`mean_minf`.
    - ``poison``: mar.py:279-315 ``avg_cont`` semantics — the record is
      NaN-padded to whole intervals and averaged with plain ``np.mean``
      (not nanmean), so an incomplete final interval or any nulled
      sample inside the averaged slice yields a NULL row (emitted, not
      dropped). Implemented as ``when(count(v) == expected_n, avg(v))``;
      requires ``expected_n``.
    - ``vector_cols``: attitude variables vector-averaged instead
      (utils.py:1907-1923 make_vector_average_vars — xarray skipna
      means of the unit vectors, result in (−180, 180]; sig wraps ONLY
      Hdg_1215 to [0, 360) afterwards, cdf2nc.py:350 — that wrap is
      the caller's).
    """
    if poison and expected_n is None:
        raise ValueError("poison=True requires expected_n")
    start_clause = "0 seconds"
    if origin_epoch_seconds is not None:
        off_ms = int(
            round((float(origin_epoch_seconds) % float(interval_seconds)) * 1000)
        )
        start_clause = f"{off_ms} milliseconds"
    win = F.window(
        F.col(time_col),
        f"{int(interval_seconds)} seconds",
        f"{int(interval_seconds)} seconds",
        start_clause,
    )
    out = df.withColumn("__win", win)
    if duration_seconds is not None:
        in_dur = (
            F.col(time_col).cast("double") - F.col("__win.start").cast("double")
        ) < F.lit(float(duration_seconds))
        out = out.filter(in_dur)
    aggs = []
    for v in value_cols:
        c = F.col(v)
        if v in vector_cols:
            aggs.append(_vector_mean_deg(c).alias(v))
        elif poison:
            aggs.append(
                F.when(F.count(c) == F.lit(int(expected_n)), F.avg(c)).alias(v)
            )
        elif minf is not None:
            # without an a-priori slot count (irregular series) the
            # interval's own row count stands in: null values count
            # against the fraction, as in ds_mean_count_minf
            n = int(expected_n) if expected_n is not None else F.count(F.lit(1))
            aggs.append(mean_minf(c, minf, n).alias(v))
        else:
            aggs.append(F.avg(c).alias(v))
    return (
        out.groupBy(F.col("__win"))
        .agg(*aggs)
        .withColumn(time_col, F.col("__win.start"))
        .drop("__win")
    )


def top_third_mean_threshold(
    df: DataFrame, value_col: str, factor: float = 0.85
) -> float:
    """Data-derived AST quality threshold (sig/cdf2nc.py:1808-1830): mean
    of the top third of values × factor. Two-pass: percentile then
    conditional mean."""
    p67 = df.agg(
        F.percentile_approx(F.col(value_col), 2.0 / 3.0, 10000).alias("p")
    ).collect()[0]["p"]
    m = df.filter(F.col(value_col) >= F.lit(p67)).agg(F.avg(value_col)).collect()[0][0]
    return float(m) * factor
