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
    body: Callable,
    out_schema: StructType,
    burst_seconds: int,
    watermark: str,
    time_col: str,
) -> DataFrame:
    """The state machinery of the per-burst twins: each burst's
    (``time_col``, *``value_cols``) samples accumulate in keyed state
    per ``burst_seconds`` window; when the watermark passes the burst
    end, ``body`` — a batch operator's per-burst body — runs once on
    them, one float array per ``value_cols`` in event-time order, and
    its fields become one ``out_schema`` row with ``burst_time`` = the
    window start and ``n``, the number of samples held. A burst the
    body skips emits nothing, exactly as in batch.

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
    names = out_schema.fieldNames()

    def close(key, pdf_iter, state):
        burst_us = int(key[0])  # numpy int64 breaks the JSON state codec
        if state.hasTimedOut:
            ts_us, *vals = state.get
            order = np.argsort(np.asarray(ts_us))
            state.remove()
            row = body(*(np.asarray(v, dtype=float)[order] for v in vals))
            if row is not None:
                burst_time = pd.to_datetime(burst_us, unit="us")
                row = {**row, "burst_time": burst_time, "n": len(order)}
                yield pd.DataFrame([row], columns=names)
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
    watermark passes the burst end the batch body ``waves.waves_body``
    runs on them and one row of wave statistics (burst_time, wh_4061,
    wp_4060, wp_peak, m0, n) is emitted — batch/stream parity by
    construction, not by re-implementation."""
    from pyspark.sql.types import DoubleType, LongType, StructField, TimestampType

    from stglib_spark.operators.waves import waves_body

    out_schema = StructType(
        [StructField("burst_time", TimestampType())]
        + [StructField(c, DoubleType()) for c in ("wh_4061", "wp_4060", "wp_peak", "m0")]
        + [StructField("n", LongType())]
    )
    return _burst_window_kernel(
        events, [pressure_col], waves_body(config or {}), out_schema,
        burst_seconds, watermark, time_col,
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
    batch body ``waves.puv_body`` — its burst guard included — runs when
    the watermark closes the burst. Same state bound as
    ``streaming_wave_stats`` (one open burst's samples × 3 channels)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, TimestampType

    from stglib_spark.operators.waves import _PUV_FIELDS, puv_body

    out_schema = StructType(
        [StructField("burst_time", TimestampType()), StructField("n", LongType())]
        + [StructField(name, DoubleType()) for name in _PUV_FIELDS]
    )
    return _burst_window_kernel(
        events, [pressure_col, u_col, v_col], puv_body(config or {}), out_schema,
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
