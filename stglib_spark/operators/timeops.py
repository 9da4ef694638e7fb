"""Time toolkit: clock corrections, burst keys, gap-fill, dedup.

Reference semantics:
- ``shift_time`` — burst-center offset; −ClockError; linear ClockDrift ramp
  over the record, rounded to 1 s (``stglib/core/utils.py:997-1049``).
- continuous→burst derived keys (``core/waves.py:2037-2091``
  make_wave_bursts_mi) — here pure column math: tumbling-window start +
  within-window index; no physical reshape, no extra shuffle beyond the
  window partition.
- gap-fill to a regular grid (``sig/cdf2nc.py:1553-1594``, ``mar.py:190-209``)
  — ``sequence()`` time grid + left join.
- ``drop_duplicates(dim="time")`` (``sig/cdf2nc.py:1582``).
- burst boundary detection from sample markers (``sig/cdf2nc.py:1597-1643``
  ds_make_burst_shape) — running sum of boundary flags.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def shift_time(
    df: DataFrame,
    shift_seconds: float = 0.0,
    clock_error: float | None = None,
    clock_drift: float | None = None,
) -> DataFrame:
    """Apply burst-center shift, ClockError, and linear ClockDrift ramp.

    utils.py:997-1049 exactly:
      1. time += int(shift) s  (truncated, with the reference's warning for
         non-integer shifts);
      2. time += −ClockError s;
      3. time += linspace(0, −ClockDrift, n) s, then the TIMESTAMP is
         rounded to 1 s (the drift ramp is the only fractional part).
    In long form the linspace fraction is (row_number−1)/(count−1).
    """
    t = F.col("time")
    whole = int(shift_seconds) - int(clock_error or 0)
    out = df
    if whole:
        t = t + F.make_dt_interval(secs=F.lit(whole))
    if clock_drift:
        w = Window.orderBy("time")
        wall = Window.partitionBy()
        frac = (F.row_number().over(w) - F.lit(1)).cast("double") / F.greatest(
            F.count(F.lit(1)).over(wall) - F.lit(1), F.lit(1)
        )
        drift_us = F.bround(-float(clock_drift) * frac * 1e6, 0).cast("long")
        # apply drift then round the timestamp to the nearest second
        shifted_us = F.unix_micros(t) + drift_us
        t = F.timestamp_seconds(
            # utils.py:1040 ds.time.dt.round("1s") is pandas HALF-EVEN
            # on the .5 s ties a drift ramp produces — bround
            F.bround(shifted_us.cast("double") / 1e6, 0).cast("long")
        )
    return out.withColumn("time", t)


def burst_keys(
    df: DataFrame,
    time_col: str = "time",
    interval_seconds: int = 3600,
    burst_col: str = "burst_time",
    tiebreak_col: str | None = None,
    start_offset_seconds: int = 0,
) -> DataFrame:
    """Derive (burst_time, sample) keys from a continuous series.

    Continuous→burst reshape (waves.py:2037-2091) without any physical
    reshape: burst_time = tumbling-window start, sample = 0-based index
    within the window. One shuffle on the burst window, shared by
    every downstream per-burst operator. ``tiebreak_col`` stabilizes the
    within-window order when timestamps repeat (burst-header formats
    stamp all samples with the burst start time);
    ``start_offset_seconds`` shifts the window grid so bursts tile from a
    user ``wave_start_time`` instead of the epoch.
    """
    win = F.window(
        F.col(time_col),
        f"{interval_seconds} seconds",
        f"{interval_seconds} seconds",
        f"{start_offset_seconds} seconds",
    )
    out = df.withColumn(burst_col, win.start)
    order = [F.col(time_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(F.col(burst_col)).orderBy(*order)
    return out.withColumn("sample", F.row_number().over(w) - 1)


def wave_duration_trim(df: DataFrame, nsamps: int) -> DataFrame:
    """Truncate each burst to its first nsamps samples
    (rsk/nc2waves.py:33-42)."""
    return df.filter(F.col("sample") < F.lit(int(nsamps)))


def fill_time_gaps(
    df: DataFrame,
    time_col: str = "time",
    step_seconds: int = 60,
    series_cols: Sequence[str] = (),
) -> DataFrame:
    """Reindex onto a regular time grid, filling gaps with null rows.

    sig/cdf2nc.py:1553-1594: build the regular grid from min..max at the
    sampling interval and left-join the observed rows onto it. The grid is
    generated distributed (sequence + explode per series), so no driver
    materialization; join is sort-merge on (series, time).
    """
    keys = [F.col(c) for c in series_cols]
    bounds = df.groupBy(*keys).agg(
        F.min(time_col).alias("__t0"), F.max(time_col).alias("__t1")
    )
    grid = bounds.select(
        *[F.col(c) for c in series_cols],
        F.explode(
            F.sequence(
                F.col("__t0"),
                F.col("__t1"),
                F.expr(f"INTERVAL {int(step_seconds)} SECONDS"),
            )
        ).alias(time_col),
    )
    return grid.join(df, [*series_cols, time_col], "left")


def burst_nan_fill(
    df: DataFrame,
    value_col: str,
    burst_col: str = "burst",
    sample_col: str = "sample",
    tolerance_samples: int = 8,
    max_nan_frac: float = 0.1,
    series_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-burst NaN fill before wave analysis
    (core/waves.py:1992-2034 var_wave_burst_fill_nans): a null sample is
    replaced by the value of the NEAREST non-null sample in the same
    burst, but only when it lies within ``tolerance_samples`` (the
    reference's ``wavedat_tolerance`` × sample_rate) AND the burst has
    fewer than ``max_nan_frac`` (default 10%) null samples — bursts above
    the threshold are left untouched, exactly as the reference declines
    to fill them.

    Pure window functions over (series, burst) ordered by sample — no
    UDF, no reshape; the partition key bounds the window state so it
    scales with burst size, not series length. Ties (equidistant
    neighbours) take the earlier sample, matching nearest-reindex
    behaviour on a regular grid.
    """
    keys = [F.col(c) for c in series_cols] + [F.col(burst_col)]
    v = F.col(value_col)
    wb = Window.partitionBy(*keys)
    asc = Window.partitionBy(*keys).orderBy(sample_col)
    desc = Window.partitionBy(*keys).orderBy(F.col(sample_col).desc())

    nan_ok = (
        F.sum(v.isNull().cast("long")).over(wb)
        < F.count(F.lit(1)).over(wb) * F.lit(float(max_nan_frac))
    )

    prev_s = F.last(F.when(v.isNotNull(), F.col(sample_col)), ignorenulls=True).over(
        asc.rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_v = F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(
        asc.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_s = F.last(F.when(v.isNotNull(), F.col(sample_col)), ignorenulls=True).over(
        desc.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_v = F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(
        desc.rowsBetween(Window.unboundedPreceding, 0)
    )

    d_prev = F.col(sample_col) - prev_s
    d_next = next_s - F.col(sample_col)
    tol = F.lit(int(tolerance_samples))

    prev_ok = prev_s.isNotNull() & (d_prev <= tol)
    next_ok = next_s.isNotNull() & (d_next <= tol)

    filled = (
        F.when(v.isNotNull(), v)
        .when(~nan_ok, v)
        .when(prev_ok & (~next_ok | (d_prev <= d_next)), prev_v)
        .when(next_ok, next_v)
        .otherwise(v)
    )
    return df.withColumn(value_col, filled)


def sessionize(df: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization (the event-analytics reshape run before
    per-visit rollups): a silence longer than ``gap_seconds`` starts a
    new per-user session. Emits one row per event with an ordinal
    ``session_id`` per user plus epoch-µs helper columns — callers
    aggregate to per-session stats (see queries.ts_sessionize for the
    oracle-checked rollup).

    One window over (user, time, event_id) — a single series
    exchange, the same shape the QA/QC diff rules share — so at 100 TB
    this is one shuffle keyed by user, with AQE handling hot users.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(
        gap.isNull() | (gap > int(gap_seconds) * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("__us", us)
        .withColumn(
            "session_id",
            F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "__user_min_us",
            F.min("__us").over(Window.partitionBy("user_id")),
        )
    )


def session_stats(df: DataFrame, value_col: str | None = "value") -> DataFrame:
    """Per-session rollup over a ``sessionize`` frame: event count,
    ABSOLUTE session start (``start_us``, epoch-µs — the column users
    key dashboards on), start relative to the user's first event
    (``start_rel_us``, the timezone-invariant twin), duration, and the
    value sum in integer cents (order-independent across engines)."""
    aggs = [
        F.count(F.lit(1)).cast("int").alias("n_events"),
        F.min("__us").alias("start_us"),
        (F.min("__us") - F.min("__user_min_us")).alias("start_rel_us"),
        (F.max("__us") - F.min("__us")).alias("duration_us"),
    ]
    if value_col is not None:
        cents = (
            F.signum(value_col)
            * F.floor(F.abs(F.col(value_col)) * 100 + F.lit(0.5))
        ).cast("long")
        aggs.append(F.sum(cents).alias("value_cents"))
    return (
        df.groupBy("user_id", "session_id")
        .agg(*aggs)
        .withColumn("session_id", F.col("session_id").cast("int"))
    )


def subdivide_bursts(
    df: DataFrame,
    samples_per_subburst: int,
    sub_interval_seconds: float,
) -> DataFrame:
    """Split long recorded bursts into smaller analysis bursts — the
    Seagauge ``average_wave_interval`` reshape (sg/wvsnc2waves.py:59-108
    make_wave_bursts): burst-header formats stamp every sample with the
    burst START time, so the subdivision derives from the recorded
    sample index, not the clock. New burst_time = old + (sample // n) ·
    sub_interval; new sample = sample % n. Pure column math — no
    shuffle, no reshape. Off the divisible path the reference CRASHES
    (its ``np.reshape(..., (-1, n))`` over the whole flattened cube
    needs total%n == 0 and exactly SGBurstDuration/interval rows per
    burst, else the dim lengths mismatch); here a non-divisible burst
    yields a well-defined partial final sub-burst, which the
    downstream spectral kernels' min-sample gates then reject —
    graceful superset, never silently different numbers."""
    n = int(samples_per_subburst)
    sub = (F.col("sample") / n).cast("long")
    return df.withColumns(
        {
            "burst_time": F.timestamp_seconds(
                F.col("burst_time").cast("double")
                + sub * float(sub_interval_seconds)
            ),
            "sample": F.pmod(F.col("sample"), F.lit(n)).cast(
                df.schema["sample"].dataType.simpleString()
            ),
        }
    )


def average_tide_bursts(
    df: DataFrame,
    interval_seconds: float,
    duration_seconds: float,
    sample_rate_hz: float,
    value_cols: list[str],
    burst_col: str = "burst_time",
    sample_col: str = "sample",
    time_col: str = "time",
    burst_duration_seconds: float | None = None,
) -> DataFrame:
    """Seagauge tide averaging from wave bursts (sg/cdf2nc.py:147-205
    avg_tide_bursts): subdivide each recorded burst into
    ``average_tide_interval`` windows and average only the FIRST
    ``average_tide_duration`` seconds of each window. The reference
    pads each burst to ``ceil(SGBurstDuration/interval)·cols`` with
    NaN and takes ``np.mean`` (NaN-poisoning, not nanmean) over the
    first ``values_avg`` samples of every window, so:

    - a window whose averaged slice runs past the recorded samples
      (sample count not a multiple of interval·rate) averages NaN
      padding → NaN;
    - fully-padded trailing windows are still EMITTED, as NaN rows;
    - any nulled sample (e.g. from QA/QC) inside the averaged slice
      poisons the whole window to NaN.

    Replayed here without a physical reshape: one map-side-combinable
    groupBy on derived keys computing ``(count, avg)`` per variable,
    then the mean is gated ``when(count == values_avg, avg)`` — a
    missing or null sample anywhere in the slice nulls the window,
    exactly np.mean over the padded row. When ``burst_duration_seconds``
    (the reference's SGBurstDuration attr) is given, the full
    ``ceil(burst_duration/interval)`` window grid is emitted per burst
    via a post-aggregation left join (both sides are burst-count-sized,
    so the join is broadcastable and never touches sample-level data).
    Emitted time = burst start + window index · interval."""
    cols_per = int(round(float(interval_seconds) * float(sample_rate_hz)))
    values_avg = int(round(float(duration_seconds) * float(sample_rate_hz)))
    # np.mean over slice(0, values_avg) of a cols_per-wide row can see
    # at most cols_per entries
    gate_n = min(values_avg, cols_per)
    sub = (F.col(sample_col) / cols_per).cast("long")
    within = F.pmod(F.col(sample_col), F.lit(cols_per))
    slim = df.filter(within < values_avg).withColumn("__sub", sub)
    aggs = []
    for c in value_cols:
        aggs.append(F.count(c).alias(f"__n_{c}"))
        aggs.append(F.avg(c).alias(f"__a_{c}"))
    agg = slim.groupBy(burst_col, "__sub").agg(*aggs)
    if burst_duration_seconds is not None:
        import math

        n_windows = math.ceil(
            float(burst_duration_seconds) / float(interval_seconds)
        )
        grid = (
            df.select(burst_col)
            .distinct()
            .select(
                burst_col,
                F.explode(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.lit(n_windows - 1).cast("long"),
                    )
                ).alias("__sub"),
            )
        )
        agg = grid.join(F.broadcast(agg), [burst_col, "__sub"], "left")
    gated = [
        F.when(F.col(f"__n_{c}") == gate_n, F.col(f"__a_{c}")).alias(c)
        for c in value_cols
    ]
    return agg.select(
        F.timestamp_seconds(
            F.col(burst_col).cast("double")
            + F.col("__sub") * float(interval_seconds)
        ).alias(time_col),
        *gated,
    )


def interpolate_na_time(df: DataFrame, value_col: str) -> DataFrame:
    """Linear time interpolation of nulls — xarray's
    ``interpolate_na(dim="time")`` with its defaults (the sonar height
    series, son/cdf2nc.py:27): a null between two valid samples takes
    the time-weighted linear blend; leading/trailing nulls STAY null
    (xarray does not extrapolate without fill_value). Window
    expressions over the existing time order — last/first non-null
    value-and-stamp on each side, one projection over the time order."""
    w_prev = Window.orderBy("time").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("time").rowsBetween(0, Window.unboundedFollowing)
    v = F.col(value_col)
    stamped = F.when(
        v.isNotNull(),
        F.struct(F.col("time").cast("double").alias("t"), v.alias("x")),
    )
    prev = F.last(stamped, ignorenulls=True).over(w_prev)
    nxt = F.first(stamped, ignorenulls=True).over(w_next)
    t = F.col("time").cast("double")
    frac = (t - prev["t"]) / (nxt["t"] - prev["t"])
    filled = F.when(v.isNotNull(), v).otherwise(
        F.when(
            prev.isNotNull() & nxt.isNotNull(),
            F.when(
                nxt["t"] == prev["t"], prev["x"]
            ).otherwise(prev["x"] + (nxt["x"] - prev["x"]) * frac),
        )
    )
    return df.withColumn(value_col, filled)
