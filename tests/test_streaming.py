"""Structured Streaming surface: the streaming burst average must produce
the same result as the batch interval_average when the stream is drained
with an availableNow trigger (SURVEY §2.13 — streaming/batch parity is the
point of reusing the engine for live feeds)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from stglib_spark.session import load_table
from stglib_spark.streaming import (
    read_events_stream,
    streaming_burst_average,
    streaming_dedup,
)


@pytest.fixture()
def checkpoint_dir():
    d = tempfile.mkdtemp(prefix="ckpt", dir="/root/repo/.tmp")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(stream_df, checkpoint_dir, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name == "bursts" else "append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_burst_average_matches_batch(spark, sf_dir, checkpoint_dir):
    stream = read_events_stream(spark, sf_dir)
    out = streaming_burst_average(stream, interval_seconds=3600, min_count=2)
    _drain(out, checkpoint_dir, "bursts")
    streamed = {
        r["burst_time"]: (r["value_avg"], r["n"])
        for r in spark.sql("SELECT * FROM bursts").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    batch = {
        r["burst_time"]: (r["value_avg"], r["n"])
        for r in ev.groupBy(
            F.window("ts", "3600 seconds").start.alias("burst_time")
        )
        .agg(
            F.when(F.count(F.lit(1)) >= 2, F.avg("value")).alias("value_avg"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert streamed.keys() == batch.keys()
    for k in batch:
        sb, bb = streamed[k], batch[k]
        assert sb[1] == bb[1]
        if bb[0] is None:
            assert sb[0] is None
        else:
            assert abs(sb[0] - bb[0]) < 1e-9


def test_streaming_dedup_runs(spark, sf_dir, checkpoint_dir):
    stream = read_events_stream(spark, sf_dir)
    out = streaming_dedup(stream)
    _drain(out, checkpoint_dir, "deduped")
    n = spark.sql("SELECT count(*) c FROM deduped").collect()[0]["c"]
    total = load_table(spark, sf_dir, "events").count()
    distinct = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts")
        .distinct()
        .count()
    )
    assert n == distinct <= total


def test_streaming_diff_gate_matches_batch(spark, sf_dir, checkpoint_dir):
    """The stateful gate must null exactly the rows the batch max_diff
    rule nulls (diff computed against the previous RAW value per series,
    qaqc.py:120-130)."""
    from stglib_spark.streaming import streaming_diff_gate
    from pyspark.sql import Window

    MAXD = 20.0
    stream = read_events_stream(spark, sf_dir)
    out = streaming_diff_gate(stream, MAXD)
    _drain(out, checkpoint_dir, "diffgated")
    streamed = {
        r["event_id"]: r["value"]
        for r in spark.sql("SELECT * FROM diffgated").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("value").over(w)
    batch = {
        r["event_id"]: r["gated"]
        for r in ev.withColumn(
            "gated",
            F.when(
                prev.isNotNull() & (F.abs(F.col("value") - prev) > MAXD), None
            ).otherwise(F.col("value")),
        ).collect()
    }
    assert streamed.keys() == batch.keys()
    nulled = 0
    for k, bv in batch.items():
        sv = streamed[k]
        if bv is None:
            assert sv is None or sv != sv
            nulled += 1
        else:
            assert abs(sv - bv) < 1e-9
    assert nulled > 0  # the rule actually fired on this data


def test_streaming_gap_fill_matches_batch(spark, sf_dir, checkpoint_dir):
    """The stateful grid fill must emit the same per-series hourly grid
    (observed ticks with n/avg, gap ticks with n=0/null) as the batch
    sequence+left-join, for every tick whose end the watermark passed.
    The final open tick per series flushes on event-time timeout, which
    availableNow may or may not trigger — so parity is asserted on all
    ticks strictly before each series' last observed hour."""
    from stglib_spark.streaming import streaming_gap_fill

    stream = read_events_stream(spark, sf_dir)
    out = streaming_gap_fill(stream, step_seconds=3600, watermark="1 minute")
    _drain(out, checkpoint_dir, "gapfill")
    streamed = {
        (r["user_id"], r["tick"]): (r["n"], r["avg_value"])
        for r in spark.sql("SELECT * FROM gapfill").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("user_id"), F.date_trunc("hour", F.col("ts")).alias("tick")
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
    from stglib_spark.operators.timeops import fill_time_gaps

    grid = fill_time_gaps(
        hourly, time_col="tick", step_seconds=3600, series_cols=["user_id"]
    )
    last_tick = {
        r["user_id"]: r["t1"]
        for r in hourly.groupBy("user_id").agg(F.max("tick").alias("t1")).collect()
    }
    batch = {
        (r["user_id"], r["tick"]): (r["n"] or 0, r["avg_value"])
        for r in grid.collect()
        if r["tick"] < last_tick[r["user_id"]]
    }
    assert batch, "expected at least one closed tick"
    missing = set(batch) - set(streamed)
    assert not missing, f"{len(missing)} ticks missing from stream output"
    for k, (bn, bavg) in batch.items():
        sn, savg = streamed[k]
        assert sn == bn, k
        if bavg is None:
            assert savg is None, k
        else:
            assert abs(savg - bavg) < 1e-9, k
    # gap ticks (n=0) exist in this dataset and were emitted as nulls
    assert any(n == 0 for n, _ in batch.values())


def test_streaming_atmos_correct_matches_batch(spark, sf_dir, checkpoint_dir):
    """Stream-static met join: draining the stream gives the same
    corrected pressures as running the same bucket-join in batch."""
    from stglib_spark.streaming.bursts import (
        read_events_stream,
        streaming_atmos_correct,
    )

    ev_static = load_table(spark, sf_dir, "events")
    # synthetic met series: one reading per hour over the event span
    span = ev_static.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    # 5-minute cadence: every 600 s bucket holds TWO readings, so the
    # latest-wins dedup (max_by) is actually exercised, and nearly every
    # event gets a non-null correction
    met = spark.sql(
        f"""
        SELECT explode(sequence(timestamp'{span["lo"]}', timestamp'{span["hi"]}',
                       interval 5 minutes)) AS time
        """
    ).withColumn(
        "atmpres", F.lit(10.13) + F.minute("time") / 100.0 + F.dayofmonth("time") / 10.0
    )

    stream = read_events_stream(spark, sf_dir)
    out = streaming_atmos_correct(stream, met)
    q = (
        out.writeStream.format("memory")
        .queryName("atmos")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select event_id, round(value_ac, 6) as value_ac from atmos"
    ).toPandas().set_index("event_id").sort_index()
    expect = (
        streaming_atmos_correct(ev_static, met)
        .select("event_id", F.round("value_ac", 6).alias("value_ac"))
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    assert len(got) == len(expect) > 0
    # most rows must be genuinely corrected, not trivially null==null
    assert got["value_ac"].notna().mean() > 0.9
    assert (got["value_ac"].fillna(-999) == expect["value_ac"].fillna(-999)).all()


def test_streaming_too_late_rows_dropped_match_batch(
    spark, checkpoint_dir, tmp_path
):
    """Shuffled/late-arrival replay: a row arriving BEYOND the watermark
    for an already-closed window is dropped, and the streamed result
    equals the batch aggregate over the admitted rows (batch-minus-dropped
    parity) — while the full batch including the too-late row differs,
    proving the drop really happened."""
    import os
    import time as _time

    import pandas as pd

    from stglib_spark.streaming import streaming_burst_average

    d = str(tmp_path / "feed")
    os.makedirs(d)
    # batch 0: two rows in the 10:00 window + a 13:30 row that will set
    # the 2 h watermark to 11:30 for the NEXT batch
    fileA = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": [
                pd.Timestamp("2024-05-01 10:05:00"),
                pd.Timestamp("2024-05-01 10:40:00"),
                pd.Timestamp("2024-05-01 13:30:00"),
            ],
            "value": [2.0, 4.0, 9.0],
        }
    )
    # batch 1: advancer only — runs with watermark 11:30, which EVICTS
    # and emits the closed 10:00-11:00 window (n=2)
    fileB = pd.DataFrame(
        {"user_id": [1], "ts": [pd.Timestamp("2024-05-01 13:45:00")],
         "value": [9.0]}
    )
    # batch 2: a TOO-late row for the already-evicted 10:00 window (must
    # be dropped, not re-emitted) + another advancer
    fileC = pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts": [
                pd.Timestamp("2024-05-01 10:20:00"),
                pd.Timestamp("2024-05-01 16:00:00"),
            ],
            "value": [100.0, 1.0],
        }
    )
    spark.createDataFrame(fileA).coalesce(1).write.parquet(d + "/a")
    _time.sleep(1.1)  # file-source orders batches by modification time
    spark.createDataFrame(fileB).coalesce(1).write.parquet(d + "/b")
    _time.sleep(1.1)
    spark.createDataFrame(fileC).coalesce(1).write.parquet(d + "/c")
    schema = spark.read.parquet(d + "/a").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_burst_average(
        stream, interval_seconds=3600, watermark="2 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("latedrop")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM latedrop").collect()
    t10 = pd.Timestamp("2024-05-01 10:00:00").to_pydatetime()
    ten = [r for r in emitted if r["burst_time"] == t10]
    # emitted exactly once, from the on-time rows only
    assert len(ten) == 1, emitted
    assert ten[0]["n"] == 2 and abs(ten[0]["value_avg"] - 3.0) < 1e-9

    # batch parity: admitted rows (all minus the dropped 10:20) reproduce
    # the streamed window; the full set (with the late row) does NOT
    all_rows = pd.concat([fileA, fileB, fileC])
    admitted = all_rows[all_rows["value"] != 100.0]
    adm = spark.createDataFrame(admitted)
    batch = {
        r["burst_time"]: (r["n"], r["value_avg"])
        for r in adm.groupBy(F.window("ts", "3600 seconds").start.alias("burst_time"))
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("value_avg"))
        .collect()
    }
    assert batch[t10] == (2, 3.0)
    full = spark.createDataFrame(all_rows)
    full_t10 = (
        full.filter(F.date_trunc("hour", F.col("ts")) == F.lit("2024-05-01 10:00:00"))
        .count()
    )
    assert full_t10 == 3  # late row exists in the data but not the stream


def test_streaming_wave_stats_matches_batch(spark, checkpoint_dir, tmp_path):
    """Streaming per-burst spectral wave statistics: samples accumulate in
    keyed state across micro-batches and the BATCH kernel runs when the
    watermark closes the burst — streamed Hs/Tp must equal make_waves_ds
    on the same rows (parity by construction). A burst the batch kernel
    skips (over 10% NaN pressure) is not emitted by the stream either."""
    import os
    import time as _time

    import numpy as np
    import pandas as pd

    from stglib_spark.operators.waves import make_waves_ds
    from stglib_spark.streaming import streaming_wave_stats

    cfg = {
        "sample_interval": 0.25,  # 4 Hz
        "initial_instrument_height": 0.5,
        "spec_nsegs": 8,
        "wave_fcut": 0.4,
    }
    # one 512-sample monochromatic burst (a=0.5 m, T=8 s) + an advancer
    # event far enough ahead to close the burst's window
    t0 = pd.Timestamp("2024-06-01 00:00:00")
    n = 512
    ts = [t0 + pd.Timedelta(seconds=0.25 * i) for i in range(n)]
    p = 10.0 + 0.5 * np.cos(2 * np.pi * np.arange(n) * 0.25 / 8.0)
    burst = pd.DataFrame({"ts": ts, "value": p})
    # a second burst the batch kernel rejects: 40 of its 64 samples NaN
    t1 = pd.Timestamp("2024-06-01 02:00:00")
    skipped = pd.DataFrame(
        {
            "ts": [t1 + pd.Timedelta(seconds=0.25 * i) for i in range(64)],
            "value": np.where(np.arange(64) < 40, np.nan, 10.0),
        }
    )

    d = str(tmp_path / "feed")
    os.makedirs(d)
    # split the burst across two files → state must carry across batches
    spark.createDataFrame(burst.iloc[:300]).coalesce(1).write.parquet(d + "/a")
    _time.sleep(1.1)
    spark.createDataFrame(
        pd.concat([burst.iloc[300:], skipped], ignore_index=True)
    ).coalesce(1).write.parquet(d + "/b")
    _time.sleep(1.1)
    adv = pd.DataFrame(
        {"ts": [pd.Timestamp("2024-06-01 06:00:00")], "value": [10.0]}
    )
    spark.createDataFrame(adv).coalesce(1).write.parquet(d + "/c")

    schema = spark.read.parquet(d + "/a").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_wave_stats(
        stream, cfg, burst_seconds=3600, watermark="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wstats")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM wstats").collect()
    t_burst = t0.to_pydatetime()
    got = {r["burst_time"]: r for r in rows}
    assert t_burst in got, rows
    s = got[t_burst]
    assert s["n"] == n

    # batch twin over the identical samples
    bdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "burst_time": [t0] * n,
                "sample": np.arange(n),
                "P_1ac": p,
            }
        )
    )
    b = make_waves_ds(bdf, cfg).collect()[0]
    assert s["wh_4061"] == pytest.approx(b["wh_4061"], rel=1e-9)
    assert s["wp_peak"] == pytest.approx(b["wp_peak"], rel=1e-9)
    assert s["wp_4060"] == pytest.approx(b["wp_4060"], rel=1e-9)
    assert s["m0"] == pytest.approx(b["m0"], rel=1e-9)
    # physics sanity: monochromatic a=0.5 → Hs ≈ 4·sqrt(a²/2)/Kp ≥ 1.4
    assert s["wh_4061"] > 1.0
    assert s["wp_peak"] == pytest.approx(8.0, rel=0.1)

    # the stream emits exactly the bursts make_waves_ds emits over every
    # streamed row: the NaN burst and the advancer's one-sample burst
    # are skipped by both
    every = pd.concat([burst, skipped, adv], ignore_index=True)
    every["burst_time"] = every["ts"].dt.floor("h")
    every["sample"] = every.groupby("burst_time").cumcount()
    allb = make_waves_ds(
        spark.createDataFrame(
            every[["burst_time", "sample", "value"]].rename(
                columns={"value": "P_1ac"}
            )
        ),
        cfg,
    ).collect()
    assert [r["burst_time"] for r in allb] == list(got) == [t_burst]
    assert allb[0]["wh_4061"] == pytest.approx(s["wh_4061"], rel=1e-9)


def test_streaming_puv_matches_batch(spark, checkpoint_dir, tmp_path):
    """Streaming PUV directional analysis: p/u/v accumulate in state and
    the batch puv_quick kernel runs at burst close — streamed Hrms and
    azimuth equal make_puv_ds on the same rows. Bursts the batch kernel
    skips (under 32 samples, all-NaN pressure) are not emitted by the
    stream either."""
    import os
    import time as _time

    import numpy as np
    import pandas as pd

    from stglib_spark.functions.diwasp import wavenumber
    from stglib_spark.operators.waves import make_puv_ds
    from stglib_spark.streaming import streaming_puv

    cfg = {"sample_interval": 0.25, "initial_instrument_height": 0.5,
           "puv_fft_length": 256}
    # linear wave a=0.4, T=8 s travelling at 60°, depth ~10 m
    t0 = pd.Timestamp("2024-06-02 00:00:00")
    n = 512
    fs = 4.0
    a, T, h, zp = 0.4, 8.0, 10.0, 0.5
    om = 2 * np.pi / T
    k = wavenumber(np.array([om]), np.array([h]))[0]
    th = np.radians(60.0)
    tt = np.arange(n) / fs
    eta = a * np.cos(om * tt)
    p = (h - zp) + eta * np.cosh(k * zp) / np.cosh(k * h)
    uamp = a * om * np.cosh(k * zp) / np.sinh(k * h)
    u = uamp * np.cos(om * tt) * np.cos(th)
    v = uamp * np.cos(om * tt) * np.sin(th)
    burst = pd.DataFrame(
        {"ts": [t0 + pd.Timedelta(seconds=x) for x in tt],
         "p": p, "u": u, "v": v}
    )
    # two bursts the batch kernel skips: 20 samples at 02:00, and 64
    # samples of all-NaN pressure at 03:00
    short = burst.iloc[:20].assign(ts=burst["ts"].iloc[:20] + pd.Timedelta(hours=2))
    nan_p = burst.iloc[:64].assign(
        ts=burst["ts"].iloc[:64] + pd.Timedelta(hours=3), p=np.nan
    )

    d = str(tmp_path / "feed")
    os.makedirs(d)
    spark.createDataFrame(burst.iloc[:250]).coalesce(1).write.parquet(d + "/a")
    _time.sleep(1.1)
    spark.createDataFrame(
        pd.concat([burst.iloc[250:], short, nan_p], ignore_index=True)
    ).coalesce(1).write.parquet(d + "/b")
    _time.sleep(1.1)
    adv = pd.DataFrame(
        {"ts": [pd.Timestamp("2024-06-02 06:00:00")],
         "p": [9.5], "u": [0.0], "v": [0.0]}
    )
    spark.createDataFrame(adv).coalesce(1).write.parquet(d + "/c")

    schema = spark.read.parquet(d + "/a").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_puv(stream, cfg, burst_seconds=3600, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("puvstream")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["burst_time"]: r for r in spark.sql("SELECT * FROM puvstream").collect()}
    s = got[t0.to_pydatetime()]
    assert s["n"] == n

    bdf = spark.createDataFrame(
        pd.DataFrame(
            {"burst_time": [t0] * n, "sample": np.arange(n),
             "P_1ac": p, "u_1205": u, "v_1206": v}
        )
    )
    b = make_puv_ds(bdf, cfg).collect()[0]
    for fld in ("Hrmsp", "Hrmsu", "ubr", "omegar", "Tr", "phir", "azr"):
        assert s[fld] == pytest.approx(b[fld], rel=1e-9, abs=1e-12), fld
    # physics sanity: azimuth near the travel direction (mod 180 ambiguity
    # resolved by the u-v correlation sign), Tr ≈ 8 s
    assert s["Tr"] == pytest.approx(8.0, rel=0.15)

    # the stream emits exactly the bursts make_puv_ds emits over every
    # streamed row: the short, all-NaN and advancer bursts are skipped
    every = pd.concat([burst, short, nan_p, adv], ignore_index=True)
    every["burst_time"] = every["ts"].dt.floor("h")
    every["sample"] = every.groupby("burst_time").cumcount()
    allb = make_puv_ds(
        spark.createDataFrame(
            every[["burst_time", "sample", "p", "u", "v"]].rename(
                columns={"p": "P_1ac", "u": "u_1205", "v": "v_1206"}
            )
        ),
        cfg,
    ).collect()
    assert [r["burst_time"] for r in allb] == list(got) == [t0.to_pydatetime()]
    assert allb[0]["azr"] == pytest.approx(s["azr"], rel=1e-9)


def test_streaming_gap_fill_late_data_lands_in_correct_tick(
    spark, checkpoint_dir, tmp_path
):
    """A late-but-admissible event (within the watermark) must be counted
    in ITS tick, not merged into the newest open tick — ticks are only
    emitted once the watermark passes their end."""
    import os
    import time as _time

    import pandas as pd

    from stglib_spark.streaming import streaming_gap_fill

    d = str(tmp_path / "feed")
    os.makedirs(d)
    t0 = pd.Timestamp("2024-05-01 10:05:00")
    fileA = pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts": [t0, pd.Timestamp("2024-05-01 11:10:00")],
            "value": [2.0, 4.0],
        }
    )
    fileB = pd.DataFrame(
        {
            "user_id": [1, 1],
            # late event for the 10:00 tick + an advancer for the watermark
            "ts": [pd.Timestamp("2024-05-01 10:30:00"), pd.Timestamp("2024-05-01 14:20:00")],
            "value": [6.0, 8.0],
        }
    )
    spark.createDataFrame(fileA).coalesce(1).write.parquet(d + "/a")
    _time.sleep(1.1)  # file-source orders batches by modification time
    spark.createDataFrame(fileB).coalesce(1).write.parquet(d + "/b")
    schema = spark.read.parquet(d + "/a").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_gap_fill(stream, step_seconds=3600, watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("latefill")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["tick"]: (r["n"], r["avg_value"])
        for r in spark.sql("SELECT * FROM latefill WHERE user_id = 1").collect()
    }
    t10 = pd.Timestamp("2024-05-01 10:00:00").to_pydatetime()
    t11 = pd.Timestamp("2024-05-01 11:00:00").to_pydatetime()
    assert rows[t10] == (2, 4.0), rows  # late 10:30 event counted at 10:00
    assert rows[t11] == (1, 4.0), rows


def test_streaming_export_nc_exactly_once(spark, checkpoint_dir, tmp_path):
    """VERDICT r3 item 7: foreachBatch → per-burst-window netCDF export.
    One product file per watermark-closed window; a replayed micro-batch
    rewrites byte-identical files (idempotent sink ⇒ exactly-once); a
    resumed query with new data adds only the newly closed window and
    leaves earlier products untouched; a too-late row never lands in a
    product file."""
    import hashlib
    import os
    import time as _time

    import pandas as pd

    from stglib_spark.functions.netcdf3 import read_nc3
    from stglib_spark.streaming import (
        export_nc_batch_writer,
        streaming_burst_average,
    )

    d = str(tmp_path / "feed")
    out = str(tmp_path / "products")
    os.makedirs(d)
    fileA = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": [
                pd.Timestamp("2024-05-01 10:05:00"),
                pd.Timestamp("2024-05-01 10:40:00"),
                pd.Timestamp("2024-05-01 13:30:00"),
            ],
            "value": [2.0, 4.0, 9.0],
        }
    )
    fileB = pd.DataFrame(
        {"user_id": [1], "ts": [pd.Timestamp("2024-05-01 13:45:00")],
         "value": [9.0]}
    )
    spark.createDataFrame(fileA).coalesce(1).write.parquet(d + "/a")
    _time.sleep(1.1)
    spark.createDataFrame(fileB).coalesce(1).write.parquet(d + "/b")
    schema = spark.read.parquet(d + "/a").schema

    def run_query():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d + "/*")
        )
        bursts = streaming_burst_average(
            stream, interval_seconds=3600, watermark="2 hours"
        )
        q = (
            bursts.writeStream.outputMode("append")
            .foreachBatch(
                export_nc_batch_writer(out, attrs={"title": "stream export"})
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def nc_files():
        return sorted(f for f in os.listdir(out) if f.endswith(".nc"))

    run_query()
    # watermark reached 11:45 -> only the 10:00 window is closed
    files = nc_files()
    assert files == ["burst_20240501100000.nc"]
    nc = read_nc3(os.path.join(out, files[0]))
    assert nc["attrs"]["burst_window_start"] == "2024-05-01T10:00:00"
    assert float(nc["variables"]["value_avg"]["data"][0]) == 3.0
    digest0 = hashlib.md5(
        open(os.path.join(out, files[0]), "rb").read()
    ).hexdigest()

    # restart with NO new data: checkpoint says everything is committed —
    # nothing is rewritten, nothing duplicated
    mtime0 = os.path.getmtime(os.path.join(out, files[0]))
    run_query()
    assert nc_files() == files
    assert os.path.getmtime(os.path.join(out, files[0])) == mtime0

    # failure replay: re-running the SAME deterministic batch through the
    # sink rewrites a byte-identical file — the idempotence exactly-once
    # relies on
    writer = export_nc_batch_writer(out, attrs={"title": "stream export"})
    replay = spark.createDataFrame(
        [(pd.Timestamp("2024-05-01 10:00:00").to_pydatetime(), 3.0, 2)],
        "burst_time timestamp, value_avg double, n bigint",
    )
    writer(replay, batch_id=0)
    writer(replay, batch_id=0)
    assert nc_files() == files
    assert (
        hashlib.md5(open(os.path.join(out, files[0]), "rb").read()).hexdigest()
        == digest0
    )

    # resume with a late row for the CLOSED 10:00 window plus an advancer
    # that closes 13:00: exactly one new product appears, the late row is
    # dropped, and the 10:00 product is untouched
    _time.sleep(1.1)
    fileC = pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts": [
                pd.Timestamp("2024-05-01 10:20:00"),
                pd.Timestamp("2024-05-01 16:30:00"),
            ],
            "value": [100.0, 1.0],
        }
    )
    spark.createDataFrame(fileC).coalesce(1).write.parquet(d + "/c")
    run_query()
    files2 = nc_files()
    assert files2 == ["burst_20240501100000.nc", "burst_20240501130000.nc"]
    assert (
        hashlib.md5(open(os.path.join(out, files2[0]), "rb").read()).hexdigest()
        == digest0
    )
    nc13 = read_nc3(os.path.join(out, files2[1]))
    # 13:00 window = 13:30 + 13:45 rows (avg 9.0), never the late 100.0
    assert float(nc13["variables"]["value_avg"]["data"][0]) == 9.0
    assert int(nc13["variables"]["n"]["data"][0]) == 2


def test_streaming_content_dedup(spark, checkpoint_dir, tmp_path):
    """Exact content dedup on a live document stream: a re-arriving text
    (same normalized content, different id/punctuation) within the
    watermark is suppressed; distinct content passes."""
    import os
    import time as _time

    import pandas as pd

    from stglib_spark.streaming import streaming_content_dedup

    d = str(tmp_path / "docs")
    os.makedirs(d)
    t0 = pd.Timestamp("2024-05-01 10:00:00")
    fileA = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "ts": [t0, t0 + pd.Timedelta(minutes=1)],
            "text": ["Hello, World!", "something else"],
        }
    )
    # same normalized content as doc 1 (case/punctuation differ) + new doc
    fileB = pd.DataFrame(
        {
            "doc_id": [3, 4],
            "ts": [t0 + pd.Timedelta(minutes=2), t0 + pd.Timedelta(minutes=3)],
            "text": ["hello world", "genuinely new content"],
        }
    )
    spark.createDataFrame(fileA).coalesce(1).write.parquet(d + "/a")
    _time.sleep(1.1)
    spark.createDataFrame(fileB).coalesce(1).write.parquet(d + "/b")
    schema = spark.read.parquet(d + "/a").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_content_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("contentdedup")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id FROM contentdedup").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 4]


def test_streaming_pack_sequences_matches_batch(spark, checkpoint_dir, tmp_path):
    """Offsets must tile each shard's token stream across micro-batch
    boundaries (state carries the running offset), and when arrival order
    equals id order the stream reproduces the batch packer exactly."""
    import os
    import time as _time

    import pandas as pd

    from stglib_spark.operators import corpus
    from stglib_spark.streaming import streaming_pack_sequences

    d = str(tmp_path / "docs")
    os.makedirs(d)
    t0 = pd.Timestamp("2024-05-01 10:00:00")
    texts = [f"{'tok ' * (20 + 7 * i)}end" for i in range(8)]
    fileA = pd.DataFrame(
        {
            "doc_id": list(range(1, 5)),
            "ts": [t0 + pd.Timedelta(minutes=i) for i in range(4)],
            "text": texts[:4],
        }
    )
    fileB = pd.DataFrame(
        {
            "doc_id": list(range(5, 9)),
            "ts": [t0 + pd.Timedelta(minutes=4 + i) for i in range(4)],
            "text": texts[4:],
        }
    )
    spark.createDataFrame(fileA).coalesce(1).write.parquet(d + "/a")
    _time.sleep(1.1)
    spark.createDataFrame(fileB).coalesce(1).write.parquet(d + "/b")
    schema = spark.read.parquet(d + "/a").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_pack_sequences(stream, seq_len=64, n_shards=2)
    q = (
        out.writeStream.format("memory")
        .queryName("packstream")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: (
            r["shard"],
            r["n_tokens"],
            r["start_offset"],
            r["start_pack"],
            r["end_pack"],
        )
        for r in spark.sql("SELECT * FROM packstream").collect()
    }
    # ids ascend with arrival time, so the batch packer (id order within
    # shard) must agree with the stream, including across the two
    # micro-batches (doc 5-8 continue doc 1-4's shard offsets)
    batch_df = spark.createDataFrame(pd.concat([fileA, fileB]))
    batch = {
        r["doc_id"]: (
            r["shard"],
            r["n_tokens"],
            r["start_offset"],
            r["start_pack"],
            r["end_pack"],
        )
        for r in corpus.pack_sequences(batch_df, seq_len=64, n_shards=2).collect()
    }
    assert streamed == batch
    assert len(streamed) == 8


def test_streaming_pack_sequences_multichunk_group(spark, checkpoint_dir, tmp_path):
    """A shard larger than one Arrow chunk must still assign offsets in
    (event time, id) order: with maxRecordsPerBatch=3 the group arrives
    as several chunks whose physical order need not match event time, and
    a per-chunk sort would misassign spans (the round-4 review finding)."""
    import os

    import pandas as pd

    from stglib_spark.operators import corpus
    from stglib_spark.streaming import streaming_pack_sequences

    d = str(tmp_path / "docs")
    os.makedirs(d)
    t0 = pd.Timestamp("2024-05-01 10:00:00")
    # 20 docs, ts DESCENDING with doc_id ascending → physical order (by
    # id) disagrees with event-time order everywhere
    n = 20
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(1, n + 1)),
            "ts": [t0 + pd.Timedelta(minutes=n - i) for i in range(n)],
            "text": [f"{'w ' * (3 + i)}end" for i in range(n)],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(d + "/a")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        schema = spark.read.parquet(d + "/a").schema
        stream = spark.readStream.schema(schema).parquet(d + "/*")
        out = streaming_pack_sequences(stream, seq_len=16, n_shards=1)
        q = (
            out.writeStream.format("memory")
            .queryName("packchunks")
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = {
            r["doc_id"]: (r["start_offset"], r["n_tokens"])
            for r in spark.sql("SELECT * FROM packchunks").collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # expected: offsets assigned by (ts, id) — ts descending in id, so
    # doc n packs first
    order = sorted(range(n), key=lambda i: (pdf["ts"][i], pdf["doc_id"][i]))
    offset = 0
    for i in order:
        did = int(pdf["doc_id"][i])
        ntok = len(pdf["text"][i].split())
        assert streamed[did] == (offset, ntok), did
        offset += ntok


def test_streaming_sessionize_matches_batch(spark, sf_dir, checkpoint_dir):
    """Native session_window twin of ts_sessionize: draining the stream
    with availableNow must produce the same (user, session-start) →
    (n_events, duration) map the batch gap rule derives — with the
    session_window end = last event + gap accounted for."""
    from stglib_spark.streaming import streaming_sessionize

    gap_us = 30 * 60 * 1_000_000
    stream = read_events_stream(spark, sf_dir)
    out = streaming_sessionize(stream, gap="30 minutes", watermark="10 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # The batch query reports session starts RELATIVE to each user's
    # first event; the stream emits absolute session_window starts.
    # Recompute relative starts on the streamed side: sessions close in
    # time order under a global watermark, so if ANY session for a user
    # was emitted, the user's FIRST session was — per-user min(start_us)
    # over emitted rows equals the true first-event micros.
    streamed_rows = spark.sql("SELECT * FROM sessions").collect()
    user_min: dict = {}
    for r in streamed_rows:
        u = r["user_id"]
        user_min[u] = min(user_min.get(u, r["start_us"]), r["start_us"])
    streamed = {
        (r["user_id"], r["start_us"] - user_min[r["user_id"]]): (
            r["n_events"],
            r["window_us"] - gap_us,
            r["start_us"],
        )
        for r in streamed_rows
    }

    from stglib_spark.queries import QUERIES

    # batch now exposes BOTH the absolute start_us (restored r8) and
    # start_rel_us; the stream's session_window start must equal the
    # batch absolute epoch exactly, not just the relative offset
    batch = {
        (r["user_id"], r["start_rel_us"]): (
            r["n_events"],
            r["duration_us"],
            r["start_us"],
        )
        for r in QUERIES["ts_sessionize"](spark, sf_dir).collect()
    }
    # the stream only emits sessions the watermark has CLOSED; every
    # emitted session must match the batch result exactly, and the
    # stream must have closed most of them
    assert streamed
    for k, v in streamed.items():
        assert batch[k] == v, (k, v, batch[k])
    assert len(streamed) >= len(batch) * 0.5


def test_streaming_near_dedup_matches_batch(spark, checkpoint_dir, tmp_path):
    """The streaming near-dup gate must reject exactly the (doc, match)
    pairs the batch incremental_near_dedup operator finds on the same
    batch/index split — the HOF stream-side signatures use the same
    hash family as the batch explode+groupBy path, so candidates and
    Jaccard values agree pair for pair."""
    import os

    import pandas as pd

    from stglib_spark.operators.dedup import incremental_near_dedup
    from stglib_spark.streaming import streaming_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    other = (
        "completely unrelated prose about catalyst optimizer internals "
        "and adaptive query execution stages in a distributed engine"
    )
    index_docs = spark.createDataFrame(
        [(3, base), (6, other)], "doc_id long, text string"
    )
    t0 = pd.Timestamp("2024-05-01 10:00:00")
    arriving = pd.DataFrame(
        {
            "doc_id": [10, 11, 12],
            "ts": [t0, t0 + pd.Timedelta(minutes=1), t0 + pd.Timedelta(minutes=2)],
            "text": [
                base.replace("tonight", "today"),  # near-dup of 3
                "fresh content that matches nothing in the corpus",
                other + " with one extra clause",  # near-dup of 6
            ],
        }
    )
    d = str(tmp_path / "arrv")
    os.makedirs(d)
    spark.createDataFrame(arriving).coalesce(1).write.parquet(d + "/a")
    schema = spark.read.parquet(d + "/a").schema
    stream = spark.readStream.schema(schema).parquet(d + "/*")
    out = streaming_near_dedup(
        stream, index_docs, num_hashes=32, bands=8, shingle_n=2,
        threshold=0.5, watermark="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("neardedup")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["match_id"]): r["jaccard"]
        for r in spark.sql("SELECT * FROM neardedup").collect()
    }
    batch_df = spark.createDataFrame(arriving).drop("ts")
    batch = {
        (r["doc_id"], r["match_id"]): r["jaccard"]
        for r in incremental_near_dedup(
            batch_df, index_docs, num_hashes=32, bands=8, shingle_n=2,
            portable=False, threshold=0.5,
        ).collect()
    }
    assert streamed == batch
    assert (10, 3) in streamed and (12, 6) in streamed
    assert all(did != 11 for did, _ in streamed)


def test_streaming_kmv_distinct_matches_batch(spark, checkpoint_dir, tmp_path):
    """KMV sketches merge associatively, so after the stream drains the
    per-group (n_kept, kth_hash, distinct_est) must equal the batch
    sketch on the same rows bit-for-bit — one group saturated past k
    (estimator path), one below k (exact path) — across a forced
    multi-micro-batch replay (maxFilesPerTrigger=1)."""
    import os

    import pandas as pd

    from stglib_spark.operators.sketches import kmv_distinct
    from stglib_spark.streaming import streaming_kmv_distinct

    k = 16
    t0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = []
    for i in range(180):
        # group A: 30 distinct values (> k, saturates the sketch);
        # group B: 9 distinct (< k, exact path); heavy duplication both
        src = "A" if i % 3 else "B"
        val = f"doc {i % 45}" if src == "A" else f"page {(i // 3) % 9}"
        rows.append((src, val, t0 + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["source", "text", "ts"])
    d = str(tmp_path / "kmvstream")
    os.makedirs(d)
    for j in range(3):  # three files -> three micro-batches
        spark.createDataFrame(pdf.iloc[j * 60 : (j + 1) * 60]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_kmv_distinct(stream, value_col="text", k=k)
    q = (
        out.writeStream.format("memory")
        .queryName("kmvstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM kmvstream").collect()
    # multiple micro-batches really happened: group A emitted >1 update
    assert sum(1 for r in emitted if r["source"] == "A") > 1
    final = {}
    for r in emitted:  # last update per group = max n_seen
        cur = final.get(r["source"])
        if cur is None or r["n_seen"] > cur["n_seen"]:
            final[r["source"]] = r
    batch = {
        r["source"]: r
        for r in kmv_distinct(
            spark.createDataFrame(pdf).drop("ts"),
            "text",
            ["source"],
            k=k,
        ).collect()
    }
    assert set(final) == set(batch) == {"A", "B"}
    for src in ("A", "B"):
        assert final[src]["n_kept"] == batch[src]["n_kept"], src
        assert final[src]["kth_hash"] == batch[src]["kth_hash"], src
        assert final[src]["distinct_est"] == batch[src]["distinct_est"], src
    assert final["A"]["n_kept"] == k  # saturated -> estimator path
    assert final["B"]["n_kept"] == 9 and final["B"]["distinct_est"] == 9.0


def test_streaming_hist_percentiles_matches_batch(spark, checkpoint_dir, tmp_path):
    """Histogram count vectors merge associatively and the streamed
    estimator reproduces the batch operator's exact IEEE ops, so after
    the stream drains each group's (n, p50, p90, p99) must equal the
    batch sketch bit-for-bit across a forced multi-micro-batch replay."""
    import os

    import pandas as pd

    from stglib_spark.operators.sketches import hist_percentiles
    from stglib_spark.streaming import streaming_hist_percentiles

    rows = []
    for i in range(240):
        src = "A" if i % 3 else "B"
        # values spread over [0, 1) with duplication and clustering
        val = ((i * 37) % 199) / 199.0 if src == "A" else ((i * 11) % 53) / 60.0
        rows.append((src, val))
    pdf = pd.DataFrame(rows, columns=["source", "score"])
    d = str(tmp_path / "histstream")
    os.makedirs(d)
    for j in range(3):
        spark.createDataFrame(pdf.iloc[j * 80 : (j + 1) * 80]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_hist_percentiles(stream, "score", n_bins=64)
    q = (
        out.writeStream.format("memory")
        .queryName("histstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM histstream").collect()
    assert sum(1 for r in emitted if r["source"] == "A") > 1  # real multi-batch
    final = {}
    for r in emitted:
        cur = final.get(r["source"])
        if cur is None or r["n"] > cur["n"]:
            final[r["source"]] = r
    batch = {
        r["source"]: r
        for r in hist_percentiles(
            spark.createDataFrame(pdf), "score", ["source"], n_bins=64
        ).collect()
    }
    assert set(final) == set(batch) == {"A", "B"}
    for src in ("A", "B"):
        assert final[src]["n"] == batch[src]["n"], src
        for c in ("p0_5", "p0_9", "p0_99"):
            assert final[src][c] == batch[src][c], (src, c)


def test_streaming_topk_cosine_matches_batch(spark, checkpoint_dir, tmp_path):
    """Top-k result sets merge associatively (union, keep k best), and
    the streamed cosine uses the batch operator's exact column
    expression, so after the stream drains the final ranking must equal
    brute_force_topk over the union of all arrivals — same scores, same
    DESC-cosine/ASC-id tie-break — across forced multi-batch replay."""
    import math
    import os

    import pandas as pd

    from stglib_spark.operators.similarity import brute_force_topk
    from stglib_spark.streaming import streaming_topk_cosine

    dim, k = 8, 5
    query = [round(math.cos(0.3 * i), 6) for i in range(dim)]
    rows = []
    for i in range(90):
        vec = [round(math.cos(0.3 * j + i * 0.17), 6) for j in range(dim)]
        if i == 40:
            vec = [0.0] * dim  # zero vector: NaN cosine, must never rank
        rows.append((i, vec))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    d = str(tmp_path / "topkstream")
    os.makedirs(d)
    for j in range(3):
        spark.createDataFrame(pdf.iloc[j * 30 : (j + 1) * 30]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_topk_cosine(stream, query, k=k)
    q = (
        out.writeStream.format("memory")
        .queryName("topkstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM topkstream").collect()
    assert len(emitted) > k  # >1 micro-batch really emitted
    # the final ranking = the k rows from the LAST emission; reconstruct
    # it as the lexicographically-best (cosine DESC, id ASC) k seen —
    # merges only improve, so the last emission IS the best k overall
    best = sorted(
        {(r["vec_id"], r["cosine"]) for r in emitted},
        key=lambda t: (-t[1], t[0]),
    )[:k]
    batch = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            spark.createDataFrame(pdf), query, k=k, vec_col="embedding"
        ).collect()
    ]
    assert best == batch
    assert all(vid != 40 for vid, _ in best)


def test_streaming_decontaminate_matches_batch(spark, checkpoint_dir, tmp_path):
    """The streamed contaminated-id set must equal the batch
    contaminated_ids detection on the same rows — same normalizer, same
    word n-grams — and a doc sharing many benchmark grams must alert
    exactly once."""
    import os

    import pandas as pd

    from stglib_spark.operators.corpus import contaminated_ids
    from stglib_spark.streaming import streaming_decontaminate

    bench_text = (
        "what is the boiling point of water at sea level in degrees "
        "celsius under standard atmospheric pressure conditions today"
    )
    benchmark = spark.createDataFrame(
        [(1, bench_text)], "doc_id long, text string"
    )
    t0 = pd.Timestamp("2024-07-01 09:00:00")
    arriving = pd.DataFrame(
        {
            "doc_id": [20, 21, 22],
            "ts": [t0, t0 + pd.Timedelta(minutes=1), t0 + pd.Timedelta(minutes=2)],
            "text": [
                "intro paragraph then " + bench_text + " then more prose "
                "continuing the contaminated passage with extra words",
                "entirely novel training document with no benchmark overlap "
                "whatsoever in any thirteen gram window of its text body "
                "because every window here is fresh original material",
                bench_text,  # verbatim benchmark copy
            ],
        }
    )
    d = str(tmp_path / "decon")
    os.makedirs(d)
    spark.createDataFrame(arriving).coalesce(1).write.parquet(d + "/a")
    schema = spark.read.parquet(d + "/a").schema
    stream = spark.readStream.schema(schema).parquet(d + "/*")
    out = streaming_decontaminate(stream, benchmark, ngram=13)
    q = (
        out.writeStream.format("memory")
        .queryName("deconstream")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM deconstream").collect()
    streamed = sorted(r["doc_id"] for r in rows)
    assert streamed == sorted(set(streamed))  # one alert per doc
    batch = sorted(
        r["doc_id"]
        for r in contaminated_ids(
            spark.createDataFrame(arriving).drop("ts"), benchmark, ngram=13
        ).collect()
    )
    assert streamed == batch == [20, 22]


def test_streaming_phash_gate_matches_batch(spark, checkpoint_dir, tmp_path):
    """The streaming image gate must emit exactly the (media, match)
    pairs the batch phash machinery finds between the same stream rows
    and static index — identical dHash bits (same exact-integer kernel)
    and the pigeonhole block join on both sides."""
    import os

    import numpy as np
    import pandas as pd

    from stglib_spark.functions.media import encode_bmp
    from stglib_spark.operators.multimodal import (
        perceptual_hash,
        phash_near_pairs,
    )
    from stglib_spark.streaming import streaming_phash_gate

    r = np.arange(12).reshape(12, 1)
    c = np.arange(22).reshape(1, 22)

    def img(base, flip=False):
        px = ((base * 37 + r * 13 + c * 7 + (base % 11) * r * c) % 256).astype(
            np.uint8
        )
        if flip:
            px = px.copy()
            px[3, 4] = min(int(px[3, 4]) + 60, 255)
        return b"P5\n22 12\n255\n" + px.tobytes()

    index_rows = [(100, bytearray(img(0))), (200, bytearray(img(5)))]
    index_media = spark.createDataFrame(
        index_rows, "media_id long, content binary"
    )
    t0 = pd.Timestamp("2024-06-01 09:00:00")
    # 10 = re-encode of index 100 (BMP container, one pixel brightened),
    # 11 = unrelated, 12 = exact container re-encode of index 200
    rgb5 = np.repeat(
        (((5 * 37 + r * 13 + c * 7 + (5 % 11) * r * c) % 256).astype(np.uint8))[
            ..., None
        ],
        3,
        axis=2,
    )
    arriving = pd.DataFrame(
        {
            "media_id": [10, 11, 12],
            "ts": [t0, t0 + pd.Timedelta(minutes=1), t0 + pd.Timedelta(minutes=2)],
            "content": [
                img(0, flip=True),
                img(9),
                encode_bmp(rgb5),
            ],
        }
    )
    d = str(tmp_path / "imgs")
    os.makedirs(d)
    spark.createDataFrame(arriving).coalesce(1).write.parquet(d + "/a")
    schema = spark.read.parquet(d + "/a").schema
    stream = spark.readStream.schema(schema).parquet(d + "/*")
    out = streaming_phash_gate(stream, index_media, max_hamming=3, blocks=4)
    q = (
        out.writeStream.format("memory")
        .queryName("phashgate")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["media_id"], r["match_id"]): r["hamming"]
        for r in spark.sql("SELECT * FROM phashgate").collect()
    }

    # batch reference: hash both sides, pair across the union, restrict
    # to (stream id, index id) pairs
    both = spark.createDataFrame(
        [(int(m), bytearray(p)) for m, p in zip(arriving["media_id"], arriving["content"])]
        + index_rows,
        "media_id long, content binary",
    )
    pairs = phash_near_pairs(perceptual_hash(both), max_hamming=3, blocks=4)
    batch = {}
    for row in pairs.collect():
        a, b = row["id_a"], row["id_b"]
        lo, hi = (a, b) if a < 100 else (b, a)
        if lo < 100 <= hi:  # stream × index only
            batch[(lo, hi)] = row["hamming"]
    assert streamed == batch, (streamed, batch)
    assert (10, 100) in streamed and (12, 200) in streamed
    assert streamed[(12, 200)] == 0
    assert all(mid != 11 for mid, _ in streamed)


def test_streaming_phash_gate_rejects_max_hamming_past_pigeonhole(spark):
    """Hamming ≤ blocks−1 is what guarantees a shared block; a gate
    asked for more would silently miss qualifying pairs, so it raises
    at construction — before the index is counted or any query runs."""
    from stglib_spark.streaming import streaming_phash_gate

    stream = (
        spark.readStream.format("rate").load()
        .select(
            F.col("value").alias("media_id"),
            F.col("timestamp").alias("ts"),
            F.lit(b"").cast("binary").alias("content"),
        )
    )
    index_media = spark.createDataFrame([], "media_id long, content binary")
    with pytest.raises(ValueError, match="pigeonhole"):
        streaming_phash_gate(stream, index_media, max_hamming=4, blocks=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        streaming_phash_gate(stream, index_media, max_hamming=2, blocks=2)
    assert streaming_phash_gate(stream, index_media, max_hamming=7, blocks=8).isStreaming


def test_streaming_winnow_gate_matches_batch(spark, checkpoint_dir, tmp_path):
    """The streamed winnow-gate id set must equal the batch detection
    (docs sharing >= 1 kept fingerprint with the index, after the
    stop-fingerprint df-cut) on the same rows — same exact-integer
    Karp-Rabin/winnowing kernel on both sides — and a doc sharing many
    fingerprints must alert exactly once."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from stglib_spark.operators.text import winnow_fingerprints
    from stglib_spark.streaming import streaming_winnow_gate

    shared_run = (
        "this exact boilerplate sentence appears verbatim in the index "
        "corpus and in some arriving documents word for word"
    )
    index = spark.createDataFrame(
        [
            (1, "index document one containing " + shared_run + " plus tail"),
            (2, "second index doc, entirely unrelated content throughout"),
        ],
        "doc_id long, text string",
    )
    t0 = pd.Timestamp("2024-07-01 09:00:00")
    arriving = pd.DataFrame(
        {
            "doc_id": [30, 31, 32],
            "ts": [t0, t0 + pd.Timedelta(minutes=1), t0 + pd.Timedelta(minutes=2)],
            "text": [
                "prefix words then " + shared_run + " then suffix words",
                "completely fresh original material with no overlapping "
                "twenty-two character runs against either index document",
                shared_run,
            ],
        }
    )
    d = str(tmp_path / "winnowgate")
    os.makedirs(d)
    spark.createDataFrame(arriving).coalesce(1).write.parquet(d + "/a")
    schema = spark.read.parquet(d + "/a").schema
    stream = spark.readStream.schema(schema).parquet(d + "/*")
    q = (
        streaming_winnow_gate(stream, index)
        .writeStream.format("memory")
        .queryName("winnowgate")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM winnowgate").collect()
    )
    assert streamed == sorted(set(streamed))  # one alert per doc

    # batch detection: same kernel, same df-cut, >= 1 shared fingerprint
    idx_fp = winnow_fingerprints(index).select(
        F.explode("fingerprints").alias("fp")
    )
    kept = (
        idx_fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") <= 64)
        .select("fp")
    )
    batch = sorted(
        r["doc_id"]
        for r in winnow_fingerprints(
            spark.createDataFrame(arriving).drop("ts")
        )
        .select("doc_id", F.explode("fingerprints").alias("fp"))
        .join(kept, "fp")
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert streamed == batch == [30, 32]


def test_streaming_winnow_gate_shuffled_past_broadcast_gate(
    spark, checkpoint_dir, tmp_path, monkeypatch
):
    """Past ``STREAM_BROADCAST_MAX_ROWS`` the kept-fingerprint probe must fall
    back to a shuffled stream-static join (the kept set grows linearly
    with index volume — a 100 TB index cannot broadcast), and the
    detection must be identical to the broadcast path. Pins the
    shuffled plan: with the gate tripped and auto-broadcast disabled
    (mimicking an index whose stats exceed the threshold), the executed
    micro-batch plan contains NO BroadcastHashJoin."""
    import contextlib
    import io
    import os

    import pandas as pd

    from stglib_spark.streaming import bursts, streaming_winnow_gate

    shared_run = (
        "this exact boilerplate sentence appears verbatim in the index "
        "corpus and in some arriving documents word for word"
    )
    index = spark.createDataFrame(
        [
            (1, "index document one containing " + shared_run + " plus tail"),
            (2, "second index doc, entirely unrelated content throughout"),
        ],
        "doc_id long, text string",
    )
    t0 = pd.Timestamp("2024-07-01 09:00:00")
    arriving = pd.DataFrame(
        {
            "doc_id": [30, 31, 32],
            "ts": [t0, t0 + pd.Timedelta(minutes=1), t0 + pd.Timedelta(minutes=2)],
            "text": [
                "prefix words then " + shared_run + " then suffix words",
                "completely fresh original material with no overlapping "
                "twenty-two character runs against either index document",
                shared_run,
            ],
        }
    )
    d = str(tmp_path / "winnowshuf")
    os.makedirs(d)
    spark.createDataFrame(arriving).coalesce(1).write.parquet(d + "/a")
    schema = spark.read.parquet(d + "/a").schema
    stream = spark.readStream.schema(schema).parquet(d + "/*")
    monkeypatch.setattr(bursts, "STREAM_BROADCAST_MAX_ROWS", 0)
    abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = (
            streaming_winnow_gate(stream, index)
            .writeStream.format("memory")
            .queryName("winnowshuf")
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    streamed = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM winnowshuf").collect()
    )
    assert streamed == [30, 32]


def test_streaming_near_dedup_gates_the_banded_side_on_its_rows(
    spark, checkpoint_dir, tmp_path, monkeypatch
):
    """The broadcast gate counts the rows each static side actually
    holds: with N index documents and ``bands`` bands the banded index
    holds N×bands rows and the token table N. A row budget between the
    two must broadcast the token table and shuffle the band join — a
    gate that counted only the N documents would broadcast N×bands
    rows under an N-row budget. Auto-broadcast is disabled so only the
    gate's hints can broadcast, and detection is unchanged."""
    import contextlib
    import io
    import os
    import re

    import pandas as pd

    from stglib_spark.streaming import bursts, streaming_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    other = (
        "completely unrelated prose about catalyst optimizer internals "
        "and adaptive query execution stages in a distributed engine"
    )
    index_docs = spark.createDataFrame(
        [(3, base), (6, other)], "doc_id long, text string"
    )
    n_docs, bands = 2, 8
    t0 = pd.Timestamp("2024-05-01 10:00:00")
    arriving = pd.DataFrame(
        {
            "doc_id": [10, 11],
            "ts": [t0, t0 + pd.Timedelta(minutes=1)],
            "text": [
                base.replace("tonight", "today"),  # near-dup of 3
                "fresh content that matches nothing in the corpus",
            ],
        }
    )
    d = str(tmp_path / "neargate")
    os.makedirs(d)
    spark.createDataFrame(arriving).coalesce(1).write.parquet(d + "/a")
    schema = spark.read.parquet(d + "/a").schema
    stream = spark.readStream.schema(schema).parquet(d + "/*")
    monkeypatch.setattr(bursts, "STREAM_BROADCAST_MAX_ROWS", n_docs * bands - 1)
    abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = (
            streaming_near_dedup(
                stream, index_docs, num_hashes=32, bands=bands,
                shingle_n=2, threshold=0.5,
            )
            .writeStream.format("memory")
            .queryName("neargate")
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin) \[band#\d+, bh#\d+L\]", plan
    ), plan
    assert re.search(r"BroadcastHashJoin \[match_id#\d+L\]", plan), plan
    streamed = {
        (r["doc_id"], r["match_id"])
        for r in spark.sql("SELECT * FROM neargate").collect()
    }
    assert streamed == {(10, 3)}


def test_streaming_cms_counts_matches_batch(spark, checkpoint_dir, tmp_path):
    """Count-Min counters merge by addition, so after the stream drains
    the nonzero (d, col, count) set must equal the batch cms_sketch on
    the same rows bit-for-bit, across a forced multi-micro-batch replay
    (maxFilesPerTrigger=1)."""
    import os

    import pandas as pd

    from stglib_spark.operators.sketches import cms_sketch
    from stglib_spark.streaming import streaming_cms_counts

    d_, w_ = 3, 64
    t0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = [
        (f"tok{i % 23}", t0 + pd.Timedelta(seconds=i)) for i in range(180)
    ]
    pdf = pd.DataFrame(rows, columns=["text", "ts"])
    d = str(tmp_path / "cmsstream")
    os.makedirs(d)
    for j in range(3):
        spark.createDataFrame(pdf.iloc[j * 60 : (j + 1) * 60]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_cms_counts(stream, value_col="text", depth=d_, width=w_)
    q = (
        out.writeStream.format("memory")
        .queryName("cmsstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM cmsstream").collect()
    # multi-batch replay really happened: some (d, col) emitted >1 update
    from collections import Counter

    assert Counter((r["d"], r["col"]) for r in emitted).most_common(1)[0][1] > 1
    final = {}
    for r in emitted:  # last update per (d, col) = max n_seen
        k = (r["d"], r["col"])
        if k not in final or r["n_seen"] > final[k]["n_seen"]:
            final[k] = r
    streamed = {k: r["count"] for k, r in final.items()}
    batch_df = spark.createDataFrame(pdf)
    batch = {
        (r["d"], r["col"]): r["count"]
        for r in cms_sketch(
            batch_df, "text", depth=d_, width=w_, seed="cms"
        ).collect()
    }
    assert streamed == batch


def test_streaming_bloom_gate_matches_batch(spark, checkpoint_dir, tmp_path):
    """The streaming Bloom gate's REASSEMBLED verdicts must equal a
    micro-batch-sequential batch replay bit for bit: probe each
    trigger's docs against bloom_bits of all PRIOR triggers, then fold
    the trigger's bits in. Repeated values across triggers must hit;
    first sightings must miss unless the (deliberately small) bit
    space already false-positives them — and the batch replay
    reproduces even those. The gate runs SHARDED (4 disjoint bit
    ranges, one state key each — the parallel-state design), so the
    test also pins that the partials really spread across ≥4 shards
    and that the caller's id type survives untouched."""
    import os

    import pandas as pd

    from pyspark.sql import functions as F
    from stglib_spark.operators.sketches import bloom_bits, bloom_probe
    from stglib_spark.streaming import (
        bloom_gate_verdicts,
        streaming_bloom_gate,
    )

    k_, m_ = 3, 1 << 10
    t0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = [
        (i, f"tok{i % 23}", t0 + pd.Timedelta(seconds=i)) for i in range(90)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    d = str(tmp_path / "bloomstream")
    os.makedirs(d)
    for j in range(3):
        spark.createDataFrame(pdf.iloc[j * 30 : (j + 1) * 30]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_bloom_gate(
        stream, "text", "doc_id", k=k_, m_bits=m_, n_shards=4
    )
    q = (
        out.writeStream.format("memory")
        .queryName("bloomstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    partials = spark.sql("SELECT * FROM bloomstream")
    # the state really sharded: partials from ≥4 distinct bit ranges,
    # and the id column kept the source's long type (no silent cast)
    assert partials.select("shard").distinct().count() >= 4
    assert dict(partials.dtypes)["doc_id"] == dict(stream.dtypes)["doc_id"]
    streamed = {
        r["doc_id"]: (r["n_hit_bits"], r["bloom_hit"])
        for r in bloom_gate_verdicts(partials, "doc_id").collect()
    }
    assert len(streamed) == 90  # every doc verdicts exactly once

    # batch replay at micro-batch granularity
    batch_verdicts = {}
    bits_so_far = None
    for j in range(3):
        bdf = spark.createDataFrame(pdf.iloc[j * 30 : (j + 1) * 30])
        if bits_so_far is None:
            # empty filter: zero positions set
            bits_so_far = bloom_bits(bdf.limit(0), "text", k=k_, m_bits=m_)
        probed = bloom_probe(
            bdf, bits_so_far, "text", "doc_id", k=k_, m_bits=m_
        )
        for r in probed.collect():
            batch_verdicts[r["doc_id"]] = (r["n_hit_bits"], r["bloom_hit"])
        bits_so_far = (
            bits_so_far.unionByName(bloom_bits(bdf, "text", k=k_, m_bits=m_))
            .distinct()
            .localCheckpoint()
        )
    assert streamed == batch_verdicts
    # the gate did real work: later copies of batch-0 tokens hit
    assert any(hit for _, hit in streamed.values())
    assert not all(hit for _, hit in streamed.values())


def test_streaming_hll_distinct_matches_batch(spark, checkpoint_dir, tmp_path):
    """After the stream drains, each group's last HLL emission
    (n_zero, raw_est, distinct_est) must equal the batch
    hll_registers -> hll_estimate on the same rows bit for bit; the
    small group must exit through the linear-counting branch in both
    paths."""
    import os

    import pandas as pd

    from stglib_spark.operators.sketches import hll_estimate, hll_registers
    from stglib_spark.streaming import streaming_hll_distinct

    t0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = [
        ("big", f"tok{i % 2000}", t0 + pd.Timedelta(seconds=i))
        for i in range(2400)
    ] + [
        ("small", f"w{i % 12}", t0 + pd.Timedelta(seconds=i))
        for i in range(60)
    ]
    pdf = pd.DataFrame(rows, columns=["source", "text", "ts"])
    d = str(tmp_path / "hllstream")
    os.makedirs(d)
    third = len(pdf) // 3
    for j in range(3):
        spark.createDataFrame(
            pdf.iloc[j * third : (j + 1) * third if j < 2 else len(pdf)]
        ).coalesce(1).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_hll_distinct(stream, "text", "source", p=8)
    q = (
        out.writeStream.format("memory")
        .queryName("hllstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM hllstream").collect()
    final = {}
    for r in emitted:  # last update per group = max n_seen
        if r["source"] not in final or r["n_seen"] > final[r["source"]]["n_seen"]:
            final[r["source"]] = r
    batch = {
        r["source"]: r
        for r in hll_estimate(
            hll_registers(spark.createDataFrame(pdf), "text", ["source"], p=8),
            ["source"],
            p=8,
        ).collect()
    }
    assert set(final) == {"big", "small"}
    for g in ("big", "small"):
        assert (
            final[g]["n_zero"],
            final[g]["raw_est"],
            final[g]["distinct_est"],
        ) == (batch[g]["n_zero"], batch[g]["raw_est"], batch[g]["distinct_est"]), g
    # the small group exercised linear counting, the big one did not
    assert final["small"]["distinct_est"] != float(final["small"]["raw_est"])
    assert final["big"]["distinct_est"] == float(final["big"]["raw_est"])


def test_streaming_qaqc_audit_matches_batch(spark, checkpoint_dir, tmp_path):
    """After the stream drains, the cumulative per-series rule counters
    summed across series must equal the batch apply_qaqc audit counts
    bit for bit — including first-differences that SPAN micro-batch
    boundaries (the carried last-raw-value state)."""
    import os

    import pandas as pd

    from stglib_spark.operators import qaqc as qaqc_ops
    from stglib_spark.streaming import streaming_qaqc_audit

    t0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = []
    for i in range(120):
        u = f"u{i % 3}"
        # a sawtooth with occasional spikes so every rule trips somewhere
        val = float((i * 7) % 100) + (400.0 if i % 37 == 0 else 0.0)
        rows.append((i, u, val, t0 + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "value", "ts"])
    d = str(tmp_path / "qaqcauditstream")
    os.makedirs(d)
    for j in range(3):
        spark.createDataFrame(pdf.iloc[j * 40 : (j + 1) * 40]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    cfg = {"value_min": 5.0, "value_max": 95.0, "value_maxabs_diff": 60.0}
    out = streaming_qaqc_audit(stream, cfg)
    q = (
        out.writeStream.format("memory")
        .queryName("qaqcauditstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM qaqcauditstream").collect()
    # cumulative counters: keep the max per (series, rule)
    final = {}
    for r in emitted:
        k = (r["user_id"], r["rule"])
        final[k] = max(final.get(k, 0), r["affected"])
    streamed = {}
    for (u, rule), n in final.items():
        streamed[rule] = streamed.get(rule, 0) + n

    res = qaqc_ops.apply_qaqc(
        spark.createDataFrame(pdf),
        cfg,
        ["value"],
        qaqc_ops.SeriesSpec(
            time_col="ts", series_cols=("user_id",), order_cols=("ts", "event_id")
        ),
        keep_audit_cols=True,
    )
    batch = {
        k.split(":")[1]: v for k, v in res.audit_counts().items()
    }
    assert streamed == batch
    assert sum(batch.values()) > 0  # every family really tripped
    assert all(v > 0 for v in batch.values())


def test_streaming_qaqc_lookahead_audit_matches_batch(
    spark, checkpoint_dir, tmp_path
):
    """Bounded-buffer lookahead twin (blip + centered rolling median):
    after the replay drains — including L null heartbeat rows per
    series that resolve the tail — the cumulative counters equal the
    batch apply_qaqc audit counts bit for bit, including windows that
    SPAN micro-batch boundaries. The null padding is provably neutral:
    batch counts on the padded frame equal batch counts on the raw
    frame (asserted below)."""
    import os

    import pandas as pd

    from stglib_spark.operators import qaqc as qaqc_ops
    from stglib_spark.streaming import streaming_qaqc_lookahead_audit

    t0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = []
    for i in range(120):
        u = f"u{i % 3}"
        val = float((i * 7) % 100)
        if i % 23 == 0:
            val += 300.0  # isolated blip: up then immediately down
        if i % 31 == 0:
            val = None  # NULL cells: dropped from median, never counted
        rows.append((i, u, val, t0 + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "value", "ts"])
    cfg = {"value_max_blip": 150.0, "value_med_diff": (5, 80.0)}
    lookahead = 2  # max(5 // 2, 1)

    # heartbeat tail: L null rows per series resolve the pending buffer
    pad = []
    for j, u in enumerate(sorted(pdf["user_id"].unique())):
        for m in range(lookahead):
            pad.append(
                (
                    1000 + j * lookahead + m,
                    u,
                    None,
                    t0 + pd.Timedelta(seconds=500 + j * lookahead + m),
                )
            )
    padded = pd.concat(
        [pdf, pd.DataFrame(pad, columns=pdf.columns)], ignore_index=True
    )

    d = str(tmp_path / "qaqclookstream")
    os.makedirs(d)
    n_parts = 3
    step = (len(padded) + n_parts - 1) // n_parts
    for j in range(n_parts):
        spark.createDataFrame(padded.iloc[j * step : (j + 1) * step]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_qaqc_lookahead_audit(stream, cfg)
    q = (
        out.writeStream.format("memory")
        .queryName("qaqclookstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM qaqclookstream").collect()
    final = {}
    for r in emitted:
        k = (r["user_id"], r["rule"])
        final[k] = max(final.get(k, 0), r["affected"])
    streamed = {}
    for (u, rule), n in final.items():
        streamed[rule] = streamed.get(rule, 0) + n

    spec = qaqc_ops.SeriesSpec(
        time_col="ts", series_cols=("user_id",), order_cols=("ts", "event_id")
    )

    def batch_counts(frame):
        res = qaqc_ops.apply_qaqc(
            spark.createDataFrame(frame),
            cfg,
            ["value"],
            spec,
            keep_audit_cols=True,
        )
        return {k.split(":")[1]: v for k, v in res.audit_counts().items()}

    batch_padded = batch_counts(padded)
    assert streamed == batch_padded
    # the heartbeat padding changed nothing on the real rows
    assert batch_padded == batch_counts(pdf)
    assert all(v > 0 for v in batch_padded.values())


def test_streaming_qaqc_lookahead_single_row_batches(
    spark, checkpoint_dir, tmp_path
):
    """Degenerate replay: every micro-batch delivers ONE row, so each
    trigger resolves at most one pending row and tiny batches smaller
    than the lookahead must not requeue already-scored context rows
    (the resolved-index-never-moves-backwards guard)."""
    import os

    import pandas as pd

    from stglib_spark.operators import qaqc as qaqc_ops
    from stglib_spark.streaming import streaming_qaqc_lookahead_audit

    t0 = pd.Timestamp("2024-06-01 08:00:00")
    vals = [10.0, 12.0, 250.0, 11.0, 14.0, None, 13.0, 15.0, 260.0, 12.0,
            None, None]  # trailing heartbeats resolve the tail (L=2)
    pdf = pd.DataFrame(
        {
            "event_id": range(len(vals)),
            "user_id": ["u0"] * len(vals),
            "value": vals,
            "ts": [t0 + pd.Timedelta(seconds=i) for i in range(len(vals))],
        }
    )
    cfg = {"value_max_blip": 100.0, "value_med_diff": (5, 90.0)}
    d = str(tmp_path / "qaqclook1row")
    os.makedirs(d)
    for j in range(len(pdf)):
        spark.createDataFrame(pdf.iloc[j : j + 1]).coalesce(1).write.parquet(
            f"{d}/part{j:02d}"
        )
    schema = spark.read.parquet(f"{d}/part00").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_qaqc_lookahead_audit(stream, cfg)
    q = (
        out.writeStream.format("memory")
        .queryName("qaqclook1row")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM qaqclook1row").collect()
    streamed = {}
    for r in emitted:
        streamed[r["rule"]] = max(streamed.get(r["rule"], 0), r["affected"])

    res = qaqc_ops.apply_qaqc(
        spark.createDataFrame(pdf),
        cfg,
        ["value"],
        qaqc_ops.SeriesSpec(
            time_col="ts", series_cols=("user_id",),
            order_cols=("ts", "event_id"),
        ),
        keep_audit_cols=True,
    )
    batch = {k.split(":")[1]: v for k, v in res.audit_counts().items()}
    assert streamed == batch
    assert batch["max_blip"] == 2


def test_streaming_quality_class_counts_auc_parity(
    spark, checkpoint_dir, tmp_path
):
    """Drained per-score class counters folded through the batch AUC
    formula reproduce corpus.ranking_auc bit for bit (integer
    arithmetic end to end), and the per-score rows equal the batch
    aggregate."""
    import os

    import pandas as pd

    from stglib_spark.operators.corpus import heldout_label, ranking_auc
    from stglib_spark.operators.text import quality_score
    from stglib_spark.streaming import streaming_quality_class_counts

    t0 = pd.Timestamp("2024-06-01 08:00:00")
    texts = []
    for i in range(90):
        if i % 4 == 0:
            texts.append("the quick brown fox jumps over the lazy dog " * 3)
        elif i % 4 == 1:
            texts.append(("word " * (20 + i)).strip())  # repetitive
        elif i % 4 == 2:
            texts.append(
                "alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa is of the and to " + f"suffix{i}"
            )
        else:
            texts.append("x" * (10 + i % 7))  # short / odd shape
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "ts": [t0 + pd.Timedelta(seconds=i) for i in range(len(texts))],
        }
    )
    d = str(tmp_path / "qualstream")
    os.makedirs(d)
    for j in range(3):
        spark.createDataFrame(pdf.iloc[j * 30 : (j + 1) * 30]).coalesce(
            1
        ).write.parquet(f"{d}/part{j}")
    schema = spark.read.parquet(f"{d}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_quality_class_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("qualstream")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM qualstream").collect()
    final = {}
    for r in emitted:  # cumulative counters: last emission per score wins
        k = r["quality_score"]
        cur = final.get(k, (0, 0))
        final[k] = (max(cur[0], r["n_pos"]), max(cur[1], r["n_neg"]))

    batch = heldout_label(quality_score(spark.createDataFrame(pdf)))
    agg = {
        r["quality_score"]: (r["np"], r["nn"])
        for r in batch.groupBy("quality_score")
        .agg(
            F.sum(F.col("label_clean").cast("int")).alias("np"),
            F.sum(1 - F.col("label_clean").cast("int")).alias("nn"),
        )
        .collect()
    }
    assert final == agg
    assert len(agg) >= 3  # several distinct scores actually occurred

    # fold the drained counters through the batch AUC formula
    items = sorted(final.items())
    cumneg, num, n_pos, n_neg = 0, 0, 0, 0
    for s_, (np_, nn_) in items:
        num += np_ * (2 * cumneg + nn_)
        cumneg += nn_
        n_pos += np_
        n_neg += nn_
    streamed_auc = round(num / (2.0 * n_pos * n_neg), 6)
    batch_auc = ranking_auc(
        batch, "quality_score", "label_clean"
    ).collect()[0]
    assert (n_pos, n_neg) == (batch_auc["n_pos"], batch_auc["n_neg"])
    assert streamed_auc == batch_auc["auc"]


def test_streaming_tide_average_matches_batch(spark, checkpoint_dir):
    """streaming_tide_average must reproduce the batch
    average_tide_bursts bit-exactly across micro-batch boundaries —
    including the np.mean-over-pad count-gate (null window for a short
    slice and for a QA/QC-nulled sample). Files are cut INSIDE window
    2's averaged slice so its (count, sum) state must merge across two
    micro-batches."""
    import os

    from stglib_spark.operators.timeops import average_tide_bursts
    from stglib_spark.streaming import streaming_tide_average

    d = tempfile.mkdtemp(prefix="tide", dir="/root/repo/.tmp")
    src_dir = os.path.join(d, "samples")
    t0 = 1622505600
    # 3 bursts x 250 samples (non-multiple of the 60-sample window),
    # exact 1/16-grid values, one nulled sample inside burst 1 window 1
    b = (F.col("id") / 250).cast("long")
    i = F.pmod(F.col("id"), 250)
    p = ((7 * i + 13 * b).cast("double") - 800.0) / 16.0
    # one file per (burst, half) — the cut at sample 125 lands inside
    # window 2's slice [120, 150)
    half = (i / 125).cast("long")
    rows = spark.range(750).select(
        F.timestamp_seconds(F.lit(t0) + b * 3600).alias("burst_time"),
        i.cast("long").alias("sample"),
        F.when(~((b == 1) & (i == 70)), p).alias("P_1"),
        (b * 2 + half).alias("__f"),
    )
    rows.repartition(1).write.partitionBy("__f").mode(
        "overwrite"
    ).parquet(src_dir)

    kw = dict(
        interval_seconds=60.0,
        duration_seconds=30.0,
        sample_rate_hz=1.0,
    )
    batch = {
        r["time"].timestamp(): r["P_1"]
        for r in average_tide_bursts(
            spark.read.parquet(src_dir).drop("__f"),
            value_cols=["P_1"],
            **kw,
        ).collect()
    }

    schema = "burst_time timestamp, sample long, P_1 double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = streaming_tide_average(stream, value_col="P_1", **kw)
    q = (
        out.writeStream.format("memory")
        .queryName("tide_avg")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["time"].timestamp(): r["P_1"]
        for r in spark.sql("SELECT * FROM tide_avg").collect()
    }
    assert streamed.keys() == batch.keys()
    for k, exp in batch.items():
        if exp is None:
            assert streamed[k] is None, k
        else:
            # 1/16-grid fixture: sums are exact, parity is bit-exact
            assert streamed[k] == exp, (k, streamed[k], exp)
    # the gate actually fired: burst 1 window 1 (nulled sample) and
    # every burst's short window 4 are null
    assert streamed[t0 + 3600 + 60.0] is None
    for bb in range(3):
        assert streamed[t0 + bb * 3600 + 240.0] is None
