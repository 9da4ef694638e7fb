"""Structured Streaming surface: the streaming burst average must produce
the same result as the batch interval_average when the stream is drained
with an availableNow trigger (SURVEY §2.13 — streaming/batch parity is the
point of reusing the engine for live feeds)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stglib_spark.session import load_table
from stglib_spark.streaming import (
    read_events_stream,
    streaming_burst_average,
    streaming_dedup,
)


@pytest.fixture()
def checkpoint_dir(tmp_path):
    return str(tmp_path / "ckpt")


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


def test_streaming_tide_average_matches_batch(spark, checkpoint_dir, tmp_path):
    """streaming_tide_average must reproduce the batch
    average_tide_bursts bit-exactly across micro-batch boundaries —
    including the np.mean-over-pad count-gate (null window for a short
    slice and for a QA/QC-nulled sample). Files are cut INSIDE window
    2's averaged slice so its (count, sum) state must merge across two
    micro-batches."""
    import os

    from stglib_spark.operators.timeops import average_tide_bursts
    from stglib_spark.streaming import streaming_tide_average

    src_dir = str(tmp_path / "samples")
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
