"""Streaming burst aggregation with watermarks.

Scale shape: tumbling-window aggregation with a watermark is Spark's
incremental, state-bounded operator — state per (window, series) key only
until the watermark passes, so an unbounded 100 TB/day feed runs in
constant memory per executor. The duration-subsetting filter
(``average_duration``, mar.py:259-331) happens before aggregation, so
state never holds out-of-duration rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Open the events table as a file stream (one parquet per micro-batch
    in tests; in production this is a Kafka/file-drop source with the same
    schema). Handles the nanosecond-timestamp parquet the same way
    load_table does."""
    from ..session import normalize_ntz, pin_utc

    pin_utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # file-stream sources need a directory; glob-filter to the events table
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # NTZ is illegal as a watermark/event-time column; cast (UTC pinned above)
    return normalize_ntz(stream)


def streaming_burst_average(
    events: DataFrame,
    interval_seconds: int = 3600,
    duration_seconds: int | None = None,
    watermark: str = "2 hours",
    min_count: int | None = None,
) -> DataFrame:
    """Tumbling-window burst average with late-data watermark —
    streaming twin of interval_average's epoch-tiled row-count-gated
    path (utils.py:2044-2086 min-valid gate). The batch operator's r14
    fidelity knobs (mar.py:258-331 np.mean poisoning, t0-tiled origin,
    sig's fixed expected_n gate) are batch-side config — a poison twin
    would gate ``count(value) == expected_n`` the same way the tide
    twin does (streaming_tide_average)."""
    win = F.window(F.col("ts"), f"{int(interval_seconds)} seconds")
    src = events.withWatermark("ts", watermark)
    if duration_seconds is not None:
        in_dur = (
            F.col("ts").cast("double") - win.start.cast("double")
        ) < F.lit(float(duration_seconds))
        src = src.filter(in_dur)
    agg = src.groupBy(win.alias("w")).agg(
        F.avg("value").alias("value_avg"), F.count(F.lit(1)).alias("n")
    )
    if min_count is not None:
        agg = agg.withColumn(
            "value_avg",
            F.when(F.col("n") >= min_count, F.col("value_avg")),
        )
    return agg.select(F.col("w.start").alias("burst_time"), "value_avg", "n")


def streaming_tide_average(
    samples: DataFrame,
    interval_seconds: float,
    duration_seconds: float,
    sample_rate_hz: float,
    value_col: str = "P_1",
    burst_col: str = "burst_time",
    sample_col: str = "sample",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``timeops.average_tide_bursts`` (Seagauge tide
    averaging, sg/cdf2nc.py:149-196): a tumbling aggregate on the
    DERIVED window start ``burst + (sample // cols_per) · interval``,
    averaging only the first ``values_avg`` samples of each window,
    with the reference's np.mean-over-pad gate — a window whose slice
    is short (samples past the recorded burst) or contains a nulled
    sample emits a NULL mean, exactly the batch operator's
    ``when(count == values_avg, avg)``.

    State bound: one (count, sum) pair per open window per value
    column — windows close when the watermark passes their derived
    start, so state is O(open windows), never O(samples). The batch
    operator's full ``ceil(burst_duration/interval)`` grid (trailing
    windows that contain NO samples at all) is a batch-side
    completion: a stream has no row to trigger an empty window, the
    same way the reference's in-memory pad has no streaming analogue
    — parity is over windows with at least one in-slice sample."""
    cols_per = int(round(float(interval_seconds) * float(sample_rate_hz)))
    values_avg = int(round(float(duration_seconds) * float(sample_rate_hz)))
    gate_n = min(values_avg, cols_per)
    sub = (F.col(sample_col) / cols_per).cast("long")
    wstart = F.timestamp_seconds(
        F.col(burst_col).cast("double") + sub * float(interval_seconds)
    )
    within = F.pmod(F.col(sample_col), F.lit(cols_per))
    src = (
        samples.withColumn("__wstart", wstart)
        .withWatermark("__wstart", watermark)
        .filter(within < values_avg)
    )
    agg = src.groupBy("__wstart").agg(
        F.count(value_col).alias("__n"), F.avg(value_col).alias("__a")
    )
    return agg.select(
        F.col("__wstart").alias("time"),
        F.when(F.col("__n") == gate_n, F.col("__a")).alias(value_col),
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ts_sessionize via Spark's NATIVE session window:
    ``session_window(ts, gap)`` merges a user's events separated by less
    than ``gap`` into one growing window, closing it (and emitting the
    row) once the watermark passes the gap — the engine keeps one open
    session per active user in state, not the events. Same output
    contract as the batch query: per (user, session) count, start, and
    duration in exact microseconds.

    Batch/stream parity note: the batch query derives an ordinal
    session_id per user from the same gap rule; the streaming emission
    keys sessions by start time instead (ordinals need total per-user
    history, which a stream by definition doesn't hold)."""
    sw = F.session_window(F.col("ts"), gap)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), sw.alias("w"))
        .agg(F.count(F.lit(1)).cast("int").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            (
                F.unix_micros(F.col("w.end")) - F.unix_micros(F.col("w.start"))
            ).alias("window_us"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Duplicate-timestamp suppression within the watermark horizon —
    streaming twin of drop_duplicates(dim='time') (sig/cdf2nc.py:1582).
    State is bounded by the watermark (old keys evicted)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "ts"]
    )


def streaming_gap_fill(
    events: DataFrame,
    step_seconds: int = 3600,
    series_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the regular-grid reindex
    (``timeops.fill_time_gaps``, sig/cdf2nc.py:1553-1594): one output row
    per grid tick per series between its first and last observation —
    observed ticks carry (n, avg), missing ticks are emitted with n=0 and
    a null average, exactly what the batch grid + left join produces.

    ``applyInPandasWithState`` with an **event-time timeout**. State per
    series: the last emitted tick plus accumulators for every tick the
    watermark has NOT yet passed — a tick is emitted only once its end is
    behind the watermark, so late-but-admissible events always land in
    the correct tick (emitting on the mere arrival of newer data would
    mis-assign them; the watermark exists to wait for exactly this).
    ``last_emitted`` persists across dropouts, so when a silent series
    resumes, the gap ticks in between are emitted like the batch grid.
    Open state is bounded by the watermark horizon (ticks per horizon ×
    ~32 B), not by the stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    step_us = int(step_seconds) * 1_000_000
    out_schema = StructType(
        [
            StructField(series_col, LongType()),
            StructField("tick", TimestampType()),
            StructField("n", LongType()),
            StructField("avg_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_emitted", LongType()),
            StructField("ticks", ArrayType(LongType())),
            StructField("sums", ArrayType(DoubleType())),
            StructField("nvals", ArrayType(LongType())),
            StructField("nrows", ArrayType(LongType())),
        ]
    )

    def row_for(key, tick_us, n_rows, acc_sum, n_vals):
        return {
            series_col: key,
            "tick": pd.Timestamp(tick_us * 1000),
            "n": n_rows,
            "avg_value": (acc_sum / n_vals) if n_vals else None,
        }

    def fill(key, pdf_iter, state):
        if state.exists:
            last_emitted, ticks, sums, nvals, nrows = state.get
            pending = {
                t: [s, v, r] for t, s, v, r in zip(ticks, sums, nvals, nrows)
            }
        else:
            last_emitted, pending = None, {}

        for pdf in pdf_iter:
            tick_series = (pdf[time_col].astype("int64") // 1000 // step_us) * step_us
            vals = pd.to_numeric(pdf[value_col], errors="coerce")
            for tick_us, grp in vals.groupby(tick_series):
                acc = pending.setdefault(int(tick_us), [0.0, 0, 0])
                finite = grp.dropna()
                acc[0] += float(finite.sum())
                acc[1] += len(finite)
                acc[2] += len(grp)

        wm_us = state.getCurrentWatermarkMs() * 1000
        out = []
        if pending:
            start = (
                last_emitted + step_us if last_emitted is not None else min(pending)
            )
            horizon = max(pending)
            t = start
            while t <= horizon and t + step_us <= wm_us:
                acc = pending.pop(t, None)
                if acc is None:
                    out.append(row_for(key[0], t, 0, 0.0, 0))  # gap tick
                else:
                    out.append(row_for(key[0], t, acc[2], acc[0], acc[1]))
                last_emitted = t
                t += step_us
        if out:
            yield pd.DataFrame(out)

        ticks = sorted(pending)
        state.update(
            (
                last_emitted,
                ticks,
                [pending[t][0] for t in ticks],
                [pending[t][1] for t in ticks],
                [pending[t][2] for t in ticks],
            )
        )
        if ticks:
            # wake when the watermark passes the earliest unemitted tick
            state.setTimeoutTimestamp((ticks[0] + step_us) // 1000)

    return (
        events.withWatermark(time_col, watermark)
        .groupBy(series_col)
        .applyInPandasWithState(
            fill,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_diff_gate(
    events: DataFrame,
    max_diff: float,
    value_col: str = "value",
    series_col: str = "user_id",
    time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming twin of the ``<v>_max_diff`` QA/QC rule
    (core/qaqc.py:120-130): null any value whose first difference from the
    previous value in its series exceeds ``max_diff`` — with the previous
    RAW value carried across micro-batch boundaries in keyed state, so the
    gate behaves identically to the batch rule over an unbounded feed.

    ``applyInPandasWithState`` per series key: state is one (ts, value)
    pair per series — constant memory per key regardless of feed volume.
    Idle keys are evicted by an event-time timeout (one watermark-delay
    past their last event): with NoTimeout, state for every key that ever
    appeared would live forever and the state store would grow without
    bound on a churning key population. Within a micro-batch rows are
    sorted by event time, matching the batch rule's
    ``Window.orderBy(time)``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField(time_col, TimestampType()),
            StructField(series_col, LongType()),
            StructField(value_col, DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("last_ts", LongType()), StructField("last_value", DoubleType())]
    )

    def gate(key, pdf_iter, state):
        if state.hasTimedOut:
            # idle key: the watermark is a full delay past its last
            # event, so no admissible row can reference this state
            state.remove()
            return
        last_ts, last_value = state.get if state.exists else (None, None)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(time_col)
            raw = pdf[value_col].to_numpy(copy=True)
            gated = raw.copy()
            for i in range(len(raw)):
                if (
                    last_value is not None
                    and raw[i] == raw[i]  # not NaN
                    and abs(raw[i] - last_value) > max_diff
                ):
                    gated[i] = float("nan")
                if raw[i] == raw[i]:
                    last_value = float(raw[i])
            ts_ns = pdf[time_col].astype("int64")
            if len(ts_ns):
                last_ts = int(ts_ns.iloc[-1])
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    time_col: pdf[time_col],
                    series_col: key[0],
                    value_col: gated,
                }
            )
        state.update((last_ts, last_value))
        if last_ts is not None:
            # evict once the watermark passes one delay beyond the last
            # event (must be strictly ahead of the current watermark)
            evict_ms = max(
                last_ts // 1_000_000 + 1, state.getCurrentWatermarkMs() + 1
            )
            state.setTimeoutTimestamp(evict_ms)

    return (
        events.withWatermark(time_col, watermark)
        .groupBy(series_col)
        .applyInPandasWithState(
            gate,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _burst_window_kernel(
    events: DataFrame,
    value_cols: list[str],
    kernel: Callable,
    out_schema: StructType,
    burst_seconds: int,
    watermark: str,
    time_col: str,
) -> DataFrame:
    """The state machinery of the per-burst twins: each burst's
    (``time_col``, *``value_cols``) samples accumulate in keyed state
    per ``burst_seconds`` window; when the watermark passes the burst
    end, ``kernel`` — a batch operator's per-burst body — runs once
    over them as one pandas batch (``burst_time`` = window start,
    ``sample`` = rank in event time, one column per ``value_cols``)
    and its rows are projected onto ``out_schema`` with ``n``, the
    number of samples held. A burst the kernel skips emits nothing,
    exactly as in batch.

    Scale shape: state per open burst = that burst's samples (bounded by
    burst length × sample rate, the same bound the batch Arrow group
    has); closed bursts are evicted on event-time timeout, so an
    unbounded feed holds only the bursts still inside the watermark
    horizon."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField

    state_schema = StructType(
        [StructField("ts_us", ArrayType(LongType()))]
        + [StructField(f"v{i}", ArrayType(DoubleType())) for i in range(len(value_cols))]
    )
    step_us = int(burst_seconds) * 1_000_000

    def close(key, pdf_iter, state):
        burst_us = int(key[0])  # numpy int64 breaks the JSON state codec
        if state.hasTimedOut:
            ts_us, *vals = state.get
            order = np.argsort(np.asarray(ts_us))
            pdf = pd.DataFrame(
                {
                    "burst_time": pd.to_datetime(burst_us, unit="us"),
                    "sample": np.arange(len(order)),
                    **{
                        c: np.asarray(v, dtype=float)[order]
                        for c, v in zip(value_cols, vals)
                    },
                }
            )
            state.remove()
            out = kernel(pdf).assign(n=len(order))
            yield out[out_schema.fieldNames()]
            return
        ts_us, *vals = state.get if state.exists else ([],) * (1 + len(value_cols))
        ts_us, vals = list(ts_us), [list(v) for v in vals]
        for pdf in pdf_iter:
            # plain Python ints/floats: numpy scalars break the JSON
            # state serializer
            ts_us.extend(int(x) for x in pdf[time_col].astype("int64") // 1000)
            for c, v in zip(value_cols, vals):
                v.extend(float(x) for x in pdf[c].astype(float))
        state.update((ts_us, *vals))
        # emit once the watermark passes the burst end
        burst_end_ms = (burst_us + step_us) // 1000
        state.setTimeoutTimestamp(
            max(burst_end_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield from ()

    keyed = events.withWatermark(time_col, watermark).withColumn(
        "__burst_us",
        (F.unix_micros(F.col(time_col)) / step_us).cast("long") * step_us,
    )
    return keyed.groupBy("__burst_us").applyInPandasWithState(
        close, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_wave_stats(
    events: DataFrame,
    config: dict | None = None,
    burst_seconds: int = 3600,
    watermark: str = "2 hours",
    time_col: str = "ts",
    pressure_col: str = "value",
) -> DataFrame:
    """Streaming twin of the per-burst spectral wave statistics
    (``make_waves_ds``, core/waves.py:571-681): samples accumulate in
    keyed state per burst window (``_burst_window_kernel``); when the
    watermark passes the burst end the batch body
    ``waves.make_waves_kernel`` runs over them and one row of wave
    statistics (burst_time, wh_4061, wp_4060, wp_peak, m0, n) is
    emitted — batch/stream parity by construction, not by
    re-implementation."""
    from pyspark.sql.types import DoubleType, LongType, StructField, TimestampType

    from stglib_spark.operators.waves import make_waves_kernel

    out_schema = StructType(
        [StructField("burst_time", TimestampType())]
        + [StructField(c, DoubleType()) for c in ("wh_4061", "wp_4060", "wp_peak", "m0")]
        + [StructField("n", LongType())]
    )
    kernel = make_waves_kernel(config or {}, pressure_col)
    return _burst_window_kernel(
        events, [pressure_col], kernel, out_schema, burst_seconds, watermark, time_col
    )


def streaming_puv(
    events: DataFrame,
    config: dict | None = None,
    burst_seconds: int = 3600,
    watermark: str = "2 hours",
    time_col: str = "ts",
    pressure_col: str = "p",
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Streaming twin of the PUV directional wave analysis
    (``make_puv_ds`` / core/waves.py:1024-1351): p/u/v triplets
    accumulate in keyed state per burst (``_burst_window_kernel``); the
    batch body ``waves.make_puv_kernel`` — its burst guard included —
    runs when the watermark closes the burst. Same state bound as
    ``streaming_wave_stats`` (one open burst's samples × 3 channels)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, TimestampType

    from stglib_spark.operators.waves import _PUV_FIELDS, make_puv_kernel

    out_schema = StructType(
        [StructField("burst_time", TimestampType()), StructField("n", LongType())]
        + [StructField(name, DoubleType()) for name in _PUV_FIELDS]
    )
    kernel = make_puv_kernel(config or {}, pressure_col, u_col, v_col)
    return _burst_window_kernel(
        events, [pressure_col, u_col, v_col], kernel, out_schema,
        burst_seconds, watermark, time_col,
    )


def streaming_atmos_correct(
    events: DataFrame,
    met: DataFrame,
    time_col: str = "ts",
    pressure_col: str = "value",
    atmpres_col: str = "atmpres",
    offset: float = 0.0,
    bucket_seconds: int = 600,
    met_time_col: str = "time",
) -> DataFrame:
    """Stream-static atmospheric correction (utils.py:1386-1414 on a live
    feed): the met table is the static side of a stream-static equi-join
    on a coarse time bucket — Spark broadcasts the static side into every
    micro-batch, so the correction adds no streaming state at all. The
    met series is deduplicated to one reading per bucket (latest wins)
    driver-side of the join; exact-nearest semantics belong to the batch
    as-of path, this is the bounded-staleness streaming variant (reading
    within the same ``bucket_seconds`` bucket)."""
    bucket = (F.col(time_col).cast("long") / bucket_seconds).cast("long")
    met_b = (
        met.withColumn(
            "__b", (F.col(met_time_col).cast("long") / bucket_seconds).cast("long")
        )
        .groupBy("__b")
        # max_by, not last(): last() after a shuffle is arbitrary, which
        # would break batch/stream parity for multi-reading buckets
        .agg(F.max_by(atmpres_col, F.col(met_time_col)).alias(atmpres_col))
    )
    return (
        events.withColumn("__b", bucket)
        .join(F.broadcast(met_b), "__b", "left")
        .withColumn(
            pressure_col + "_ac",
            F.col(pressure_col) - F.col(atmpres_col) - F.lit(float(offset)),
        )
        .drop("__b")
    )


def export_nc_batch_writer(
    output_dir: str,
    attrs: dict | None = None,
    time_col: str = "burst_time",
    prefix: str = "burst",
):
    """foreachBatch sink closing the streaming→product edge: one classic
    netCDF file per watermark-closed burst window (reference contract: one
    product file per deployment window, ``runots … exportnc``;
    core/utils.py:352-749 attribute layer).

    Exactly-once by idempotence: an append-mode windowed aggregate emits a
    window only once its watermark closes it, and the filename here is a
    pure function of the window start — so when Structured Streaming
    replays a micro-batch after a failure, the replay rewrites
    byte-identical files instead of duplicating bursts. This is the
    documented exactly-once recipe for non-transactional sinks
    (deterministic batch content + idempotent writes).

    Usage::

        (bursts.writeStream.outputMode("append")
            .foreachBatch(export_nc_batch_writer(out_dir))
            .option("checkpointLocation", ckpt).start())
    """
    import os

    from pyspark.sql import functions as F

    from stglib_spark.sources.netcdf import write_netcdf

    os.makedirs(output_dir, exist_ok=True)

    def _write(batch_df, batch_id: int) -> None:
        # the batch holds only windows the watermark just closed — a
        # handful of rows; per-window filtering is driver-cheap. The
        # collect is bounded BY CONTRACT (one row per closed burst per
        # trigger); the cap below turns a contract violation (e.g. a
        # caller feeding raw samples instead of windowed aggregates)
        # into a loud error instead of a silent driver OOM + file storm
        max_windows = 10_000
        wins = [
            r[0]
            for r in batch_df.select(time_col)
            .distinct()
            .limit(max_windows + 1)
            .collect()
            if r[0] is not None
        ]
        if len(wins) > max_windows:
            raise ValueError(
                f"export_nc_batch_writer: >{max_windows} distinct burst "
                f"windows in one micro-batch — input is not a "
                f"watermark-closed windowed aggregate"
            )
        for w in sorted(wins):
            name = f"{prefix}_{w.strftime('%Y%m%d%H%M%S')}.nc"
            one = batch_df.filter(F.col(time_col) == F.lit(w)).withColumnRenamed(
                time_col, "time"
            )
            gattrs = dict(attrs or {})
            gattrs.setdefault("Conventions", "CF-1.11")
            gattrs["burst_window_start"] = w.isoformat()
            write_netcdf(one, os.path.join(output_dir, name), attrs=gattrs)

    return _write


def streaming_qaqc_audit(
    events: DataFrame,
    config: dict,
    value_col: str = "value",
    series_col: str = "user_id",
    time_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of the QA/QC per-rule audit (`qaqc_notes_audit` /
    `QaqcResult.audit_counts`, reference utils.py:1361-1373 note
    counts): live cumulative affected-cell counters per (series, rule)
    over an ingest feed — the table an operator watches to see a gate
    suddenly start tripping (sensor failure) without re-running the
    batch audit.

    Supports the rules whose state is BOUNDED per series: the value
    gates ``<v>_min`` / ``<v>_max`` (stateless) and the first-difference
    gates ``<v>_maxabs_diff`` / ``<v>_min_diff`` / ``<v>_max_diff``
    (state = the previous RAW row value carried across micro-batch
    boundaries, exactly the batch rule's lag). Rules needing lookahead
    or rolling windows (blip, med_diff) belong to the batch/windowed
    path. State per series is one double + one counter per rule —
    constant memory regardless of feed volume.

    Emits cumulative (series, var, rule, affected) rows per trigger;
    after the stream drains, the last emission per series sums across
    series to the batch ``apply_qaqc`` audit counts bit for bit (the
    parity test's contract), provided the feed is in series-time order
    like the batch window."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    v = value_col
    rules: list[tuple[str, float]] = []
    for key in ("min", "max", "min_diff", "max_diff", "maxabs_diff"):
        if config.get(f"{v}_{key}") is not None:
            rules.append((key, float(config[f"{v}_{key}"])))
    if not rules:
        raise ValueError(f"no supported {v}_* rules in config")

    out_schema = StructType(
        [
            StructField(series_col, StringType()),
            StructField("var", StringType()),
            StructField("rule", StringType()),
            StructField("affected", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_val", DoubleType()),
            StructField("has_prev", LongType()),
            StructField("counts", ArrayType(LongType())),
        ]
    )

    def fold(key, pdf_iter, state):
        if state.exists:
            last_val, has_prev, stored = state.get
            counts = np.asarray(stored, dtype=np.int64)
        else:
            last_val, has_prev, counts = math.nan, 0, np.zeros(
                len(rules), dtype=np.int64
            )
        for pdf in pdf_iter:
            pdf = pdf.sort_values([time_col, order_col])
            vals = pdf[v].to_numpy(dtype=float)
            if not len(vals):
                continue
            prev = np.empty_like(vals)
            prev[0] = last_val if has_prev else math.nan
            prev[1:] = vals[:-1]
            # reference ediff1d(to_begin=0): the series' very first row
            # has diff 0; later batch heads diff against the carried
            # previous raw value — identical to the batch window's lag
            diff = np.where(np.isnan(prev), 0.0, vals - prev)
            was_valid = ~np.isnan(vals)
            for i, (rule, t) in enumerate(rules):
                if rule == "min":
                    bad = vals < t
                elif rule == "max":
                    bad = vals > t
                elif rule == "min_diff":
                    bad = diff < t
                elif rule == "max_diff":
                    bad = diff > t
                else:  # maxabs_diff rides the RAW lag (batch rule
                    # qaqc.py: abs(c - prev) >= t; NaN compares False)
                    with np.errstate(invalid="ignore"):
                        bad = np.abs(vals - prev) >= t
                counts[i] += int(np.sum(was_valid & bad))
            last_val, has_prev = float(vals[-1]), 1
        state.update((last_val, has_prev, counts.tolist()))
        yield pd.DataFrame(
            {
                series_col: [key[0]] * len(rules),
                "var": [v] * len(rules),
                "rule": [r for r, _ in rules],
                "affected": pd.array(counts, dtype="int64"),
            }
        )

    keyed = events.select(
        F.col(series_col).cast("string").alias(series_col),
        F.col(time_col),
        F.col(order_col),
        F.col(v).cast("double").alias(v),
    )
    return keyed.groupBy(series_col).applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_qaqc_lookahead_audit(
    events: DataFrame,
    config: dict,
    value_col: str = "value",
    series_col: str = "user_id",
    time_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Streaming twin for the LOOKAHEAD QA/QC rules that
    ``streaming_qaqc_audit`` deliberately excludes (VERDICT r12 task
    #8): single-sample blips ``<v>_max_blip[_pct]`` (needs the NEXT
    value) and centered rolling-median gates ``<v>_med_diff[_pct]``
    (needs k//2 future values).

    Bounded-buffer contract: a row's verdict is deferred until L =
    max(k//2, 1) successors have arrived, then scored with exactly the
    batch window — the centered k-frame truncates only at the true
    series head, blip neighbours are positional, NaN cells never count
    (the batch ``collect_list`` drops nulls; lead/lag comparisons on
    null are false). State per series is H + L doubles (H = history
    depth = L) plus one counter per rule — constant regardless of feed
    volume, the same bounded-state argument as the first-difference
    twin. On an unbounded production stream every row eventually
    resolves; a finite replay resolves its tail by feeding L null
    heartbeat rows per series, which provably cannot change any real
    row's verdict (positional frames drop nulls; comparisons against
    NaN are false) — the parity test pins that neutrality.

    Emits cumulative (series, var, rule, affected) counter rows per
    trigger; after a drained replay the last emission per series sums
    across series to ``apply_qaqc``'s audit counts bit for bit."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    v = value_col
    rules: list[tuple[str, float, float]] = []  # (rule, k_or_0, thresh)
    for key in ("med_diff", "med_diff_pct"):
        if config.get(f"{v}_{key}") is not None:
            kernel, thresh = config[f"{v}_{key}"]
            k = int(kernel)
            if k % 2 == 0 or k < 3:
                raise ValueError(f"{v}_{key}: kernel must be odd >= 3")
            rules.append((key, float(k), float(thresh)))
    for key in ("max_blip", "max_blip_pct"):
        if config.get(f"{v}_{key}") is not None:
            rules.append((key, 0.0, float(config[f"{v}_{key}"])))
    if not rules:
        raise ValueError(f"no supported lookahead {v}_* rules in config")
    # lookahead L: rows resolve once L successors arrived; history H=L
    lookahead = max(
        [int(k) // 2 for r, k, _ in rules if r.startswith("med_diff")] + [1]
    )

    out_schema = StructType(
        [
            StructField(series_col, StringType()),
            StructField("var", StringType()),
            StructField("rule", StringType()),
            StructField("affected", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("context", ArrayType(DoubleType())),
            StructField("pending", ArrayType(DoubleType())),
            StructField("counts", ArrayType(LongType())),
        ]
    )

    def _median_dropnan(win: np.ndarray) -> float:
        vals = np.sort(win[~np.isnan(win)])
        n = len(vals)
        if n == 0:
            return math.nan
        if n % 2 == 1:
            return float(vals[n // 2])
        return float((vals[n // 2 - 1] + vals[n // 2]) / 2.0)

    def fold(key, pdf_iter, state):
        if state.exists:
            context, pending, stored = state.get
            context = [math.nan if x is None else x for x in context]
            pending = [math.nan if x is None else x for x in pending]
            counts = np.asarray(stored, dtype=np.int64)
        else:
            context, pending = [], []
            counts = np.zeros(len(rules), dtype=np.int64)
        for pdf in pdf_iter:
            pdf = pdf.sort_values([time_col, order_col])
            new = pdf[v].to_numpy(dtype=float)
            if not len(new):
                continue
            arr = np.concatenate(
                [np.asarray(context, dtype=float),
                 np.asarray(pending, dtype=float), new]
            )
            n_ctx = len(context)
            # resolve rows [n_ctx, len(arr) - lookahead): each now has a
            # complete right frame; left frame truncates only when the
            # series genuinely starts inside the buffer (i < window)
            hi = len(arr) - lookahead
            with np.errstate(invalid="ignore"):
                for i in range(n_ctx, hi):
                    c = arr[i]
                    if np.isnan(c):
                        continue  # only valid cells null -> count
                    prev = arr[i - 1] if i >= 1 else math.nan
                    nxt = arr[i + 1]
                    for ri, (rule, kf, t) in enumerate(rules):
                        if rule == "max_blip":
                            bad = (c - prev > t) and (nxt - c < -t)
                        elif rule == "max_blip_pct":
                            up = (
                                100.0 * (c - prev) / prev
                                if prev != 0 and not np.isnan(prev)
                                else math.nan
                            )
                            down = (
                                100.0 * (nxt - c) / c if c != 0 else math.nan
                            )
                            bad = up > t and down < -t
                        else:  # med_diff / med_diff_pct
                            half = int(kf) // 2
                            med = _median_dropnan(
                                arr[max(0, i - half): i + half + 1]
                            )
                            if rule == "med_diff":
                                bad = abs(c - med) > t
                            else:
                                pct = (
                                    abs(100.0 * (c - med) / med)
                                    if med != 0 and not np.isnan(med)
                                    else 0.0
                                )
                                bad = pct > t
                        counts[ri] += bool(bad)
            # resolved-through index R never moves backwards: a batch
            # smaller than the lookahead resolves nothing and must not
            # requeue already-scored context rows
            resolved = max(hi, n_ctx)
            context = [
                float(x) for x in arr[max(0, resolved - lookahead):resolved]
            ]
            pending = [float(x) for x in arr[resolved:]]
        state.update((context, pending, counts.tolist()))
        yield pd.DataFrame(
            {
                series_col: [key[0]] * len(rules),
                "var": [v] * len(rules),
                "rule": [r for r, _, _ in rules],
                "affected": pd.array(counts, dtype="int64"),
            }
        )

    keyed = events.select(
        F.col(series_col).cast("string").alias(series_col),
        F.col(time_col),
        F.col(order_col),
        F.col(v).cast("double").alias(v),
    )
    return keyed.groupBy(series_col).applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_quality_class_counts(
    docs: DataFrame,
    time_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of the quality-score evaluator inputs
    (`corpus.ranking_auc`/`threshold_sweep`, r13 held-out-label
    re-plan): live per-score (positives, negatives) class counters
    over an ingest feed — the running table a curation dashboard folds
    into a ROC-AUC/PR sweep without re-scanning the corpus.

    Scale shape mirrors the batch argument exactly: the score and the
    held-out label compute STATELESSLY per arriving row (the same
    single-projection `quality_score` + `heldout_label` expressions,
    JVM-side), and the only state is one (np, nn) counter pair per
    DISTINCT 6-dp score — bounded by the score's codomain (≤ 1e6+1
    keys, a few hundred in practice) regardless of feed volume.
    Counters add across micro-batches, so the drained emission per
    score equals the batch per-score aggregate bit for bit; folding
    the final emissions through the batch AUC formula reproduces
    `ranking_auc` exactly (integer arithmetic end to end) — the parity
    test's contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from stglib_spark.operators.corpus import heldout_label
    from stglib_spark.operators.text import quality_score

    scored = heldout_label(
        quality_score(docs, text_col=text_col), text_col=text_col
    ).select(
        F.col(time_col),
        F.col("quality_score").alias("__s"),
        F.col("label_clean").cast("int").alias("__lab"),
    )

    out_schema = StructType(
        [
            StructField("quality_score", DoubleType()),
            StructField("n_pos", LongType()),
            StructField("n_neg", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("np_", LongType()), StructField("nn_", LongType())]
    )

    def fold(key, pdf_iter, state):
        np_, nn_ = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            lab = pdf["__lab"].to_numpy(dtype=np.int64)
            np_ += int(lab.sum())
            nn_ += int(len(lab) - lab.sum())
        state.update((np_, nn_))
        yield pd.DataFrame(
            {"quality_score": [key[0]], "n_pos": [np_], "n_neg": [nn_]}
        )

    return scored.groupBy("__s").applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_content_dedup(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact corpus dedup: documents arriving with the same
    normalized-content digest within the watermark horizon are suppressed
    after the first (the live-ingest twin of ``dedup.exact_dedup`` — a
    crawler front-end dropping refetched pages before they reach the
    corpus). State is the digest → seen map, bounded by the watermark
    (old digests evicted), so memory is proportional to the arrival rate
    × horizon, not the corpus."""
    from stglib_spark.operators.dedup import normalize_text
    from pyspark.sql import functions as F

    return (
        docs.withColumn("__digest", F.md5(normalize_text(F.col(text_col))))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


def streaming_pack_sequences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    seq_len: int = 512,
    n_shards: int = 8,
    seed: str = "pack1",
) -> DataFrame:
    """Streaming twin of ``corpus.pack_sequences``: documents are mapped
    to fixed-length training-sequence spans AS THEY ARRIVE, so a live
    ingest can emit ready-to-train packs without re-scanning the corpus.

    Each shard's running token offset is the ONLY state — one long per
    shard key, and the key domain is the fixed ``n_shards``, so the state
    store is O(n_shards) forever regardless of feed volume. No timeout
    eviction on purpose: an evicted offset would restart packing at 0 and
    overwrite earlier spans; persistence is the semantics here, and
    boundedness comes from the finite key domain instead (the opposite
    trade from streaming_diff_gate's churning per-series keys).

    Arrival order replaces the batch operator's id order: within a
    micro-batch rows are sorted by (event time, id); across micro-batches
    the offset carries. Output schema matches the batch operator, so the
    two are interchangeable downstream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from stglib_spark.operators.dedup import hash60
    from stglib_spark.operators.text import token_count

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("shard", LongType()),
            StructField("n_tokens", LongType()),
            StructField("start_offset", LongType()),
            StructField("start_pack", LongType()),
            StructField("end_pack", LongType()),
        ]
    )
    state_schema = StructType([StructField("offset", LongType())])

    def pack(key, pdf_iter, state):
        offset = state.get[0] if state.exists else 0
        # Materialize the whole micro-batch group before sorting: the
        # iterator yields Arrow chunks (split at arrow.maxRecordsPerBatch)
        # in arbitrary physical order, and a per-chunk sort would assign
        # offsets by chunk accident instead of (event time, id) — breaking
        # batch parity and replay determinism for shards larger than one
        # chunk. Only (id, ts, n_tokens) rows are held, never text.
        chunks = [c for c in pdf_iter]
        if not chunks:
            state.update((int(offset),))
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        ).sort_values([time_col, id_col])
        n = pdf["__n_tokens"].to_numpy()
        pdf = pdf[n > 0]
        n = n[n > 0]
        starts = offset + n.cumsum() - n
        ends = starts + n - 1
        if len(n):
            offset = int(ends[-1] + 1)
        yield pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "shard": key[0],
                "n_tokens": n.astype("int64"),
                "start_offset": starts.astype("int64"),
                "start_pack": (starts // seq_len).astype("int64"),
                "end_pack": (ends // seq_len).astype("int64"),
            }
        )
        state.update((int(offset),))

    keyed = docs.select(
        F.col(id_col),
        F.col(time_col),
        token_count(F.col(text_col)).alias("__n_tokens"),
        (hash60(F.col(id_col).cast("string"), seed=seed) % n_shards)
        .cast("long")
        .alias("shard"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        pack,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


#: Row budget of a static index side the streaming dedup gates
#: broadcast to every micro-batch. Past it the stream-static join runs
#: shuffled on the join key: the index grows without bound as ingest
#: runs, so the broadcast is gated, never forced.
STREAM_BROADCAST_MAX_ROWS = 2_000_000


def _broadcast_if_small(side: DataFrame, rows: int) -> DataFrame:
    """``side`` marked for broadcast when ``rows``, the number of rows
    ``side`` itself holds (or an upper bound on it), is within
    ``STREAM_BROADCAST_MAX_ROWS``; otherwise unchanged."""
    return F.broadcast(side) if rows <= STREAM_BROADCAST_MAX_ROWS else side


def streaming_near_dedup(
    docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
    threshold: float = 0.5,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``dedup.incremental_near_dedup`` — the live
    crawl front door: every arriving document is LSH-matched against
    the STATIC banded corpus index and rejected rows (doc_id, match_id,
    jaccard ≥ threshold) are emitted as they happen.

    Stream-side signatures are computed STATELESSLY with array
    higher-order functions (min over the same h1 + i·h2 hash family the
    batch explode+groupBy path uses, so the signatures — and therefore
    the candidates — are value-identical to the batch operator): the
    batch shape would be a streaming aggregate with per-doc state,
    while a projection needs none. Both sides band through the batch
    operators' ``dedup._lsh_band_rows``; the stream's band rows then
    stream-static equi-join the index, token Jaccard is verified inline
    with array set ops (stateless again), and the only streaming state
    is the watermark-bounded (doc, match) dedup that collapses
    multi-band hits.

    The index side GROWS WITHOUT BOUND as ingest runs, so each static
    side is broadcast only within ``STREAM_BROADCAST_MAX_ROWS`` of ITS
    OWN rows: the index documents are counted once at plan build, the
    banded table holds ``bands`` rows per document and the token table
    one. Past the gate the stream-static join runs shuffled on its key
    — the stream side re-partitions per micro-batch, the static side is
    a plain hash-join build."""
    from stglib_spark.operators.dedup import (
        _lsh_band_rows,
        minhash_signatures,
        word_shingles,
    )

    m = F.lit(4294967291)
    sh = word_shingles(F.col(text_col), shingle_n)
    hs = F.transform(
        sh,
        lambda s: F.struct(
            F.pmod(F.xxhash64(s), m).alias("h1"),
            F.pmod(F.xxhash64(F.lit("mh2"), s), m).alias("h2"),
        ),
    )
    # Per-i min-hash transforms are SQL text with UNIQUE lambda variable
    # names: nesting Python-lambda transforms inside a lambda-produced
    # array mis-binds the shared `x` NamedLambdaVariable across the
    # sibling expressions (all num_hashes minima silently collapse to
    # one hash — caught by the batch-parity test), while explicit
    # x0..x{n-1} variables analyze correctly.
    sigs = [
        F.expr(
            f"array_min(transform(__hs, x{i} -> "
            f"pmod(x{i}.h1 + {i} * x{i}.h2, 4294967291)))"
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    stream_sig = docs.withColumn("__hs", hs).select(
        F.col(id_col),
        F.col(time_col),
        word_shingles(F.col(text_col), 1).alias("__tok"),
        *sigs,
    )
    stream_banded = _lsh_band_rows(
        stream_sig, id_col, num_hashes, bands, False, keep=(time_col, "__tok")
    )

    # static side: the persisted banded index + per-doc token sets (in
    # production both are parquet zones maintained by the batch ingest)
    isig = minhash_signatures(
        index_docs, text_col, id_col, num_hashes, shingle_n, portable=False
    )
    index_banded = (
        _lsh_band_rows(isig, id_col, num_hashes, bands, False)
        .withColumnRenamed(id_col, "match_id")
        .distinct()
    )
    index_tok = index_docs.select(
        F.col(id_col).alias("match_id"),
        word_shingles(F.col(text_col), 1).alias("__itok"),
    )

    n_index = index_docs.count()
    index_banded = _broadcast_if_small(index_banded, n_index * bands)
    index_tok = _broadcast_if_small(index_tok, n_index)
    cand = stream_banded.join(index_banded, ["band", "bh"]).join(
        index_tok, "match_id"
    )
    inter = F.size(F.array_intersect(F.col("__tok"), F.col("__itok")))
    union = F.size("__tok") + F.size("__itok") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        cand.select(
            F.col(id_col),
            F.col(time_col),
            F.col("match_id"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([id_col, "match_id"])
    )


def streaming_kmv_distinct(
    docs: DataFrame,
    value_col: str = "text",
    group_col: str = "source",
    time_col: str = "ts",
    k: int = 64,
    seed: str = "kmv1",
) -> DataFrame:
    """Streaming twin of ``sketches.kmv_distinct`` — live per-source
    distinct-count monitoring over an ingest feed (crawl dashboards,
    dedup-rate alerting) without re-scanning the corpus.

    KMV sketches merge associatively: the union of two sketches'
    hash sets, truncated to the k smallest, IS the sketch of the union.
    So per-group state is just the k smallest distinct 60-bit hashes
    seen so far (bounded: k longs per group, independent of stream
    length), each micro-batch folds its arrivals in, and the emitted
    estimate after the final batch is bit-identical to the batch
    operator on the same rows — the parity test's contract. Hashing
    runs JVM-side (the same ``hash60`` chain as the batch sketch and
    its DuckDB oracle) BEFORE the stateful stage; Python only maintains
    the sorted slot array. Estimator arithmetic mirrors the batch
    operator exactly: (k-1) · 2^60 / kth as one multiply + divide, the
    exact count while the sketch is unsaturated."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from stglib_spark.operators.dedup import hash60
    from stglib_spark.operators.sketches import _HASH_SPACE

    out_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("n_kept", IntegerType()),
            StructField("kth_hash", LongType()),
            StructField("distinct_est", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("hashes", ArrayType(LongType())),
            StructField("n_seen", LongType()),
        ]
    )

    def fold(key, pdf_iter, state):
        if state.exists:
            slots, seen = state.get
            cur = set(int(x) for x in slots)
            seen = int(seen)
        else:
            cur, seen = set(), 0
        for pdf in pdf_iter:
            seen += len(pdf)
            cur.update(int(x) for x in pdf["__h"])
            if len(cur) > k:
                cur = set(sorted(cur)[:k])
        arr = sorted(cur)[:k]
        state.update((list(arr), seen))
        n = len(arr)
        kth = int(arr[k - 1]) if n == k else None
        est = (
            float(k - 1) * _HASH_SPACE / float(kth)
            if kth is not None
            else float(n)
        )
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_seen": [seen],
                "n_kept": [n],
                "kth_hash": pd.array([kth], dtype="Int64"),
                "distinct_est": [est],
            }
        )

    hashed = docs.select(
        F.col(group_col),
        hash60(F.col(value_col).cast("string"), seed=seed).alias("__h"),
    )
    return hashed.groupBy(group_col).applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_hist_percentiles(
    docs: DataFrame,
    value_col: str,
    group_col: str = "source",
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 256,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Streaming twin of ``sketches.hist_percentiles`` — live per-source
    latency/quality percentile monitoring. A fixed-grid histogram is a
    count vector, and count vectors merge associatively, so per-group
    state is ``n_bins`` longs (bounded, stream-length independent);
    each micro-batch adds its bin counts and re-emits the closed-form
    interpolated percentiles. The bin assignment and the estimator
    reproduce the batch operator's IEEE double ops EXACTLY —
    floor((v-lo)/width) clamped, h = p·(n-1) in micro-integer rank
    units, bin-midpoint convention, micro-weight interpolation — so the
    final streamed row per group is bit-identical to the batch sketch
    (the parity test's contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    width = (float(hi) - float(lo)) / int(n_bins)
    pcols = [f"p{str(p).replace('.', '_')}" for p in percentiles]
    out_schema = StructType(
        [StructField(group_col, StringType()), StructField("n", LongType())]
        + [StructField(c, DoubleType()) for c in pcols]
    )
    state_schema = StructType([StructField("counts", ArrayType(LongType()))])

    def fold(key, pdf_iter, state):
        counts = (
            np.array(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(n_bins, dtype=np.int64)
        )
        for pdf in pdf_iter:
            v = pdf["__v"].to_numpy(dtype=np.float64)
            b = np.floor((v - lo) / width)  # same IEEE ops as the batch bin
            b = np.clip(b, 0, n_bins - 1).astype(np.int64)
            counts += np.bincount(b, minlength=n_bins)
        state.update((counts.tolist(),))
        n = int(counts.sum())
        cum = np.cumsum(counts)

        def rank_value_bin(rank: int) -> int:
            return int(np.searchsorted(cum, rank + 1))

        def mid(b: int) -> float:
            return float(lo) + (float(b) + 0.5) * width

        row = {group_col: [key[0]], "n": [n]}
        for p, c in zip(percentiles, pcols):
            pm = int(round(p * 1_000_000))
            h_lo, h_rem = divmod((n - 1) * pm, 1_000_000)
            if n > 1:
                a = mid(rank_value_bin(h_lo))
                b2 = mid(rank_value_bin(h_lo + 1))
                est = (
                    a * float(1_000_000 - h_rem) + b2 * float(h_rem)
                ) / 1_000_000.0
            else:
                est = mid(rank_value_bin(0)) if n else None
            row[c] = [est]
        yield pd.DataFrame(row)

    keyed = docs.select(
        F.col(group_col), F.col(value_col).cast("double").alias("__v")
    )
    return keyed.groupBy(group_col).applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_hll_distinct(
    docs: DataFrame,
    value_col: str = "text",
    group_col: str = "source",
    p: int = 8,
    seed: str = "hll",
) -> DataFrame:
    """Streaming twin of ``sketches.hll_registers``/``hll_estimate`` —
    live per-source distinct-count monitoring with the sketch whose
    state is a FIXED 2^p-int register array per group (256 ints at
    p=8), merged by elementwise MAX: bounded, stream-length
    independent, and cheaper to hold than the KMV twin's hash set once
    k grows. Bucket/rank compute JVM-side with the SAME column
    expressions as the batch operator (`sketches.hll_bucket_rank`);
    Python only folds the per-batch maxima and replays the batch
    estimate arithmetic in arbitrary-precision integers
    (`hll_estimate_py` — bit-identical to the decimal(38,0) plan and
    its linear-counting literals). After the stream drains, each
    group's last emission equals the batch hll_estimate on the same
    rows bit for bit — the parity test's contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from stglib_spark.operators.sketches import (
        hll_bucket_rank,
        hll_estimate_py,
    )

    # same envelope as the batch pair (hll_registers 4..16 AND
    # hll_estimate 7..16): the alpha rational assumes m >= 128, and a p
    # the batch path rejects has no batch-parity contract to satisfy
    if not 7 <= p <= 16:
        raise ValueError(f"p must be in [7, 16], got {p}")
    m = 1 << p
    out_schema = StructType(
        [
            StructField(group_col, StringType()),
            StructField("n_seen", LongType()),
            StructField("n_zero", IntegerType()),
            StructField("raw_est", LongType()),
            StructField("distinct_est", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("regs", ArrayType(IntegerType())),
            StructField("n_seen", LongType()),
        ]
    )

    def fold(key, pdf_iter, state):
        if state.exists:
            stored, seen = state.get
            regs = np.asarray(stored, dtype=np.int32)
            seen = int(seen)
        else:
            regs, seen = np.zeros(m, dtype=np.int32), 0
        for pdf in pdf_iter:
            seen += len(pdf)
            np.maximum.at(
                regs,
                pdf["__b"].to_numpy(dtype=np.int64),
                pdf["__r"].to_numpy(dtype=np.int32),
            )
        state.update((regs.tolist(), seen))
        n_zero, raw, est = hll_estimate_py(regs, p)
        yield pd.DataFrame(
            {
                group_col: [key[0]],
                "n_seen": [seen],
                "n_zero": [n_zero],
                "raw_est": [raw],
                "distinct_est": [est],
            }
        )

    bucket, rank = hll_bucket_rank(
        F.col(value_col).cast("string"), p, seed
    )
    # NULL values hash to a NULL bucket that would NaN-poison the
    # register fold (to_numpy(int64) raises) — and the batch operator
    # skips them too, so dropping them here preserves parity
    hashed = docs.where(F.col(value_col).isNotNull()).select(
        F.col(group_col), bucket.alias("__b"), rank.alias("__r")
    )
    return hashed.groupBy(group_col).applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_bloom_gate(
    docs: DataFrame,
    value_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    m_bits: int = 1 << 14,
    seed: str = "bloom",
    n_shards: int = 4,
) -> DataFrame:
    """Streaming twin of ``sketches.bloom_bits``/``bloom_probe`` — a
    live membership gate over an ingest feed: every arriving document
    probes the Bloom bit state built from PRIOR micro-batches
    (all probed bits set = "probably seen before"; a miss is
    GUARANTEED new — the no-false-negative contract survives
    streaming), then the batch's own bits fold into the state.
    Probe-then-insert runs at micro-batch granularity, so two copies
    arriving in the SAME micro-batch both pass the gate — within-batch
    collapse is the batch-local dedup's job, the same split as the
    batch ``incremental_dedup``.

    The state story is the whole point: the bit space is SHARDED into
    ``n_shards`` contiguous position ranges, one state key per range,
    so the stateful stage parallelizes across executors instead of
    serializing on a single shared bitset; each shard's state packs
    its slice into (m_bits/n_shards)/64 longs — bounded and
    STREAM-LENGTH INDEPENDENT, the property the kept-fingerprint /
    digest-set gates in this module can only approximate with count
    guards. Shards own DISJOINT bit ranges, so per-shard
    probe-then-insert composes to exactly the unsharded semantics.
    The trade is false positives (rate grows with fill; size m for
    the expected corpus) — acceptable when hits fall through to an
    exact check downstream.

    Returns PER-(id, shard) partial verdicts — ``n_probe_bits`` of the
    doc's distinct positions landed in this shard, ``n_hit_bits`` of
    them were set, ``shard_hit`` = all of them set. Reassemble per-doc
    verdicts with ``bloom_gate_verdicts`` (a doc's positions partition
    across shards, so bloom_hit = every shard partial hit and
    n_hit_bits = the partial sum). ``id_col`` keeps the caller's
    column type, matching batch ``bloom_probe`` (and its one-value-
    per-id contract).

    Bit positions are computed JVM-side with the SAME portable
    ``hash60`` chain as the batch operator, so a drained stream's
    reassembled verdicts equal the micro-batch-sequential batch replay
    bit for bit — the parity test's contract; Python only tests/sets
    bits."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if n_shards < 1 or m_bits % n_shards:
        raise ValueError(f"n_shards must divide m_bits, got {n_shards}")
    shard_w = m_bits // n_shards
    if shard_w % 64:
        raise ValueError(
            f"m_bits/n_shards must be a multiple of 64, got {shard_w}"
        )
    out_schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("shard", IntegerType()),
            StructField("n_probe_bits", IntegerType()),
            StructField("n_hit_bits", IntegerType()),
            StructField("shard_hit", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("words", ArrayType(LongType()))]
    )

    def fold(key, pdf_iter, state):
        shard = int(key[0])
        if state.exists:
            words = np.asarray(state.get[0], dtype=np.int64)
        else:
            words = np.zeros(shard_w // 64, dtype=np.int64)
        base = shard * shard_w
        ids, n_probe, n_hits, hits, fresh = [], [], [], [], []
        for pdf in pdf_iter:
            for did, grp in pdf.groupby(id_col, sort=False):
                # unique: the verdict is over the SET of positions
                # (hash-collision bits test once), matching the batch
                # probe's distinct semantics bit for bit
                pos = np.unique(grp["__pos"].to_numpy(dtype=np.int64)) - base
                bit = (words[pos >> 6] >> (pos & 63)) & 1
                ids.append(did)
                n_probe.append(len(pos))
                n_hits.append(int(bit.sum()))
                hits.append(bool(bit.all()))
                fresh.append(pos)
        # insert AFTER the whole batch probes: batch-granular
        # probe-then-insert, order-free within the trigger.
        # bitwise_or.at handles duplicate word indexes (plain |= fancy
        # indexing would drop all but one bit per word).
        for pos in fresh:
            np.bitwise_or.at(
                words, pos >> 6, np.int64(1) << (pos & 63)
            )
        state.update((words.tolist(),))
        yield pd.DataFrame(
            {
                id_col: ids,
                "shard": pd.array([shard] * len(ids), dtype="int32"),
                "n_probe_bits": pd.array(n_probe, dtype="int32"),
                "n_hit_bits": pd.array(n_hits, dtype="int32"),
                "shard_hit": hits,
            }
        )

    from stglib_spark.operators.sketches import bloom_positions

    val = F.col(value_col).cast("string")
    keyed = docs.select(
        F.col(id_col),
        F.explode(bloom_positions(val, k, m_bits, seed)).alias("__pos"),
    ).withColumn(
        "__shard", (F.col("__pos") / F.lit(shard_w)).cast("int")
    )
    return keyed.groupBy("__shard").applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def bloom_gate_verdicts(partials: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Reassemble ``streaming_bloom_gate``'s per-(id, shard) partials
    into per-doc verdicts: positions partition across disjoint shard
    ranges, so bloom_hit = EVERY shard partial all-hit and n_hit_bits
    is the partial sum — identical to batch ``bloom_probe``'s columns.
    Runs on the drained output (or inside foreachBatch)."""
    return (
        partials.groupBy(id_col)
        .agg(
            F.sum("n_hit_bits").cast("int").alias("n_hit_bits"),
            F.min("shard_hit").alias("bloom_hit"),
        )
    )


def streaming_cms_counts(
    docs: DataFrame,
    value_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    seed: str = "cms",
) -> DataFrame:
    """Streaming twin of ``sketches.cms_sketch`` — live frequency-audit
    counters over an ingest feed. A Count–Min sketch is a grid of
    counters and counters merge by ADDITION, so per-depth-row state is
    ``width`` longs (bounded, stream-length independent); each
    micro-batch adds its hash-column counts and re-emits the row's
    nonzero counters. After the stream drains the (d, col, count) set
    is bit-identical to the batch sketch on the same rows — the parity
    test's contract; ``n_seen`` is the monotone update counter the
    consumer uses to keep each row's LAST emission. Hashing runs
    JVM-side (the same portable ``hash60`` chain as the batch sketch
    and its DuckDB oracle) BEFORE the stateful stage; Python only adds
    into the count vector."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from stglib_spark.operators.dedup import hash60

    out_schema = StructType(
        [
            StructField("d", IntegerType()),
            StructField("col", IntegerType()),
            StructField("count", LongType()),
            StructField("n_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("counts", ArrayType(LongType())),
            StructField("n_seen", LongType()),
        ]
    )

    def fold(key, pdf_iter, state):
        if state.exists:
            stored, seen = state.get
            counts = np.asarray(stored, dtype=np.int64)
            seen = int(seen)
        else:
            counts, seen = np.zeros(width, dtype=np.int64), 0
        for pdf in pdf_iter:
            seen += len(pdf)
            np.add.at(counts, pdf["col"].to_numpy(dtype=np.int64), 1)
        state.update((counts.tolist(), seen))
        nz = np.nonzero(counts)[0]
        yield pd.DataFrame(
            {
                "d": np.full(len(nz), key[0], dtype=np.int32),
                "col": nz.astype(np.int32),
                "count": counts[nz],
                "n_seen": np.full(len(nz), seen, dtype=np.int64),
            }
        )

    val = F.col(value_col).cast("string")
    hashed = docs.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (hash60(val, seed=f"{seed}{d}") % width).alias(
                            "col"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("dc")
    ).select(F.col("dc.d").alias("d"), F.col("dc.col").alias("col"))
    return hashed.groupBy("d").applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_topk_cosine(
    vecs: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental exact top-k similarity search over an arriving vector
    stream (the EDBT 2020 incremental-top-k pattern from PAPERS.md): the
    result set of "top-k most query-similar vectors seen so far" is an
    associative merge — union the candidate sets, keep the k best — so
    state is k (cosine, id) pairs TOTAL and each micro-batch re-emits
    the refreshed ranking without ever re-scanning history.

    The cosine (including the round-to-6 output convention) is computed
    JVM-side with the SAME column expression as the batch
    ``similarity.brute_force_topk``, so merged scores are bit-identical
    to a batch run over the union of all arrivals — the parity test's
    contract. Python only maintains the k-element heap. Scale: the
    per-batch work is one codegen'd projection; the stateful stage sees
    k' ≤ batch-local candidates per trigger (a `limit` inside the
    foreach would break update semantics, so all scored rows reach the
    single state key — for wide streams, pre-reduce per partition with
    a batch-side orderBy().limit() in a foreachBatch variant)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from stglib_spark.operators.similarity import _darr_sql, cosine

    q = F.expr(_darr_sql(query_vec))
    sim = cosine(F.col(vec_col).cast("array<double>"), q)
    scored = vecs.select(
        F.lit(0).alias("__g"),
        F.col(id_col),
        F.round(sim, 6).alias("__cos"),
    )
    out_schema = StructType(
        [
            StructField("rank", IntegerType()),
            StructField(id_col, LongType()),
            StructField("cosine", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("cosines", ArrayType(DoubleType())),
        ]
    )

    def fold(key, pdf_iter, state):
        if state.exists:
            ids, cs = state.get
            best = list(zip(list(cs), list(ids)))
        else:
            best = []
        for pdf in pdf_iter:
            best.extend(
                (float(c), int(i))
                for c, i in zip(pdf["__cos"], pdf[id_col])
                if c == c  # NaN cosine (zero vector) never ranks
            )
        # ORDER BY cosine DESC, id ASC — the batch tie-break
        best.sort(key=lambda t: (-t[0], t[1]))
        best = best[:k]
        state.update(([i for _, i in best], [c for c, _ in best]))
        yield pd.DataFrame(
            {
                "rank": range(1, len(best) + 1),
                id_col: [i for _, i in best],
                "cosine": [c for c, _ in best],
            }
        )

    return scored.groupBy("__g").applyInPandasWithState(
        fold,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    ngram: int = 13,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``corpus.contaminated_ids`` — the live-ingest
    benchmark-decontamination gate: every arriving document's word
    n-grams probe the STATIC benchmark gram set and contaminated
    documents are emitted the moment they arrive, one row each.

    Eval sets are tiny next to a crawl, so the gram set almost always
    broadcasts — but "almost always" is a measurement, not a plan
    invariant, so the broadcast is size-gated exactly like
    ``streaming_near_dedup``: the gram set is counted ONCE at plan
    build, shuffled stream-static join past
    ``STREAM_BROADCAST_MAX_ROWS``.

    Stateless except the watermark-bounded per-doc dedup that collapses
    multi-gram hits (a doc sharing 40 benchmark grams must alert once):
    explode → gated equi-join → dropDuplicatesWithinWatermark.
    Same gram definition as the batch operator (word_shingles over the
    shared normalizer), so the streamed contaminated-id set equals the
    batch detection on the same rows — the parity test's contract."""
    from stglib_spark.operators.dedup import word_shingles

    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), ngram)).alias("gram")
        )
        .distinct()
    )
    bench_grams = _broadcast_if_small(bench_grams, bench_grams.count())
    doc_grams = docs.select(
        F.col(id_col),
        F.col(time_col),
        F.explode(word_shingles(F.col(text_col), ngram)).alias("gram"),
    )
    return (
        doc_grams.join(bench_grams, "gram")
        .select(id_col, time_col)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([id_col])
    )


def streaming_winnow_gate(
    docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    k: int = 15,
    w: int = 8,
    max_df: int = 64,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the winnow candidate stage
    (``dedup.winnow_candidate_pairs`` vs a STATIC corpus index): every
    arriving document's winnowing fingerprints (Karp–Rabin k-grams +
    window minima, `text.winnow_fingerprints` — the same exact-integer
    kernel) probe the index's fingerprint set, and a document sharing
    ANY kept fingerprint — i.e. a ≥ w+k−1-char run also present in the
    index — is emitted the moment it arrives, one row each.

    The index set applies MOSS's common-match exclusion first:
    fingerprints held by more than ``max_df`` index documents are
    boilerplate stop-fingerprints, which kills the false-alert
    firehose. Note the df-cut bounds each fingerprint's document
    FREQUENCY, not the set's cardinality — the kept set is the
    rare-fingerprint majority and grows linearly with index volume
    (~2/(w+1) fingerprints per char), so it must NOT be broadcast
    unconditionally. The broadcast is size-gated exactly like
    ``streaming_near_dedup``: ``kept`` is counted ONCE at plan build
    and past ``STREAM_BROADCAST_MAX_ROWS`` the probe falls back to a
    shuffled stream-static join. Stateless except the watermark-bounded
    per-doc dedup that collapses multi-fingerprint hits — the identical
    shape to
    ``streaming_decontaminate``; the parity test pins streamed ids
    == the batch detection on the same rows."""
    from stglib_spark.operators.text import winnow_fingerprints

    # exploded producers: the Arrow winnow kernel runs ONCE per side —
    # exploding the array form re-evaluates it through an inferred
    # Generate filter (see winnow_fingerprints' docstring)
    idx = winnow_fingerprints(
        index_docs, text_col, id_col, k, w, exploded=True
    ).select("fp")
    kept = (
        idx.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") <= max_df)
        .select("fp")
    )
    kept = _broadcast_if_small(kept, kept.count())
    hits = winnow_fingerprints(
        docs, text_col, id_col, k, w, keep_cols=(time_col,), exploded=True
    ).join(kept, "fp")
    return (
        hits.select(id_col, time_col)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([id_col])
    )


def streaming_phash_gate(
    media: DataFrame,
    index_media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    time_col: str = "ts",
    max_hamming: int = 3,
    blocks: int = 4,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``multimodal.phash_near_pairs`` between a live
    media feed and a static corpus — the image front door next to
    ``streaming_near_dedup``'s text gate: every arriving image is
    perceptual-hashed (``multimodal.perceptual_hash``'s exact-integer
    dHash — a STATELESS mapInPandas projection, payloads never enter
    state or shuffle), its hash blocks probe the static index's banded
    table, and re-encoded duplicates (Hamming ≤ ``max_hamming``) are
    emitted as (media_id, match_id, hamming) the moment they arrive.

    Both sides cut their hashes into blocks with the batch operators'
    ``dedup._pigeonhole_block_rows``, so the pigeonhole guarantee
    carries over unchanged: Hamming ≤ blocks−1 implies an identical
    16-bit block, so the block equi-join loses no true pair, and a
    ``max_hamming`` above blocks−1 raises ``ValueError``. The index
    broadcast is size-gated exactly like ``streaming_near_dedup``: the
    banded index holds ``blocks`` rows per index image (counted once at
    plan build), and past ``STREAM_BROADCAST_MAX_ROWS`` of them the
    stream-static join runs shuffled. Only streaming state: the
    watermark-bounded (doc, match) dedup collapsing multi-block hits.
    Batch parity: the emitted pair set equals ``phash_near_pairs``
    restricted to (stream × index) pairs on the same rows — the parity
    test's contract."""
    from stglib_spark.operators.dedup import _pigeonhole_block_rows
    from stglib_spark.operators.multimodal import perceptual_hash

    # stream side: the event-time column rides THROUGH the stateless
    # hash projection (perceptual_hash keep_cols) — never a
    # stream-stream self-join, which without watermarks on both inputs
    # would buffer every row in state forever (ADVICE r8)
    stream_hashed = perceptual_hash(
        media.select(id_col, time_col, content_col),
        id_col=id_col,
        keep_cols=[time_col],
    )
    sb = _pigeonhole_block_rows(
        stream_hashed, "phash", blocks, max_hamming, keep=(id_col, time_col)
    ).withColumnRenamed("phash", "__ph_s")

    idx_hashed = perceptual_hash(
        index_media.select(
            F.col(id_col).alias("match_id"), content_col
        ),
        id_col="match_id",
    )
    ib = _pigeonhole_block_rows(
        idx_hashed, "phash", blocks, max_hamming, keep=("match_id",)
    ).withColumnRenamed("phash", "__ph_i")
    ib = _broadcast_if_small(ib, index_media.count() * blocks)

    hamming = F.bit_count(
        F.col("__ph_s").bitwiseXOR(F.col("__ph_i"))
    )
    return (
        sb.join(ib, ["blk", "bh"])
        .select(
            F.col(id_col),
            F.col(time_col),
            F.col("match_id"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([id_col, "match_id"])
    )
