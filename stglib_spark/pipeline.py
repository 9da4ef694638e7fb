"""The three-stage pipeline driver — the engine's ``runots`` equivalent.

Reference lifecycle (SURVEY §3): ``runots <instrument> <step>`` dispatches
(instrument, step) through a registry (``core/runcmd.py:527-613``); the
merged gatts+YAML metadata dict drives every operator. Here:

    run_ingest(spark, config)  — vendor format → raw zone Parquet
    run_clean(spark, config)   — clip → atmos-correct → derives → QA/QC →
                                 clean zone Parquet
    run_waves(spark, config)   — burst keys → spectral chain → wave
                                 products Parquet

Each stage reads the previous stage's Parquet zone, so stages restart
independently (same contract as the reference's -raw.cdf → b.nc → s-a.nc
files). The History log mirrors the reference's append-only ``history``
attr (utils.py:238-250) and is persisted as a JSON sidecar next to each
zone.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from stglib_spark.config import History
from stglib_spark.operators import clip as clip_ops
from stglib_spark.operators import joins, physics, qaqc, timeops, transforms
from stglib_spark.operators import waves as wave_ops
from stglib_spark.session import read_parquet
from stglib_spark.sources import ingest


def _output_path(config: dict[str, Any], suffix: str) -> str:
    """``<output_dir>/<filename><suffix>``: every zone and product lands
    here. ``output_dir`` defaults to the working directory, where the
    reference's ``runots`` writes its products."""
    return os.path.join(
        config.get("output_dir") or os.getcwd(),
        config.get("filename", "deployment") + suffix,
    )


def _zone_path(config: dict[str, Any], zone: str) -> str:
    return _output_path(config, f"_{zone}")


def _write_zone(
    df: DataFrame,
    config: dict[str, Any],
    zone: str,
    history: History,
    partition_by: str | None = None,
    post_write=None,
) -> str:
    path = _zone_path(config, zone)
    writer = df.write.mode("overwrite")
    if partition_by and partition_by in df.columns:
        # one directory per key — the reference's split-per-profile files
        # (rsk/cdf2nc.py:212-239) as partitioned parquet
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    if post_write is not None:
        # history lines that depend on metrics the write itself computed
        # (Observation-attached audit counts) land between the parquet
        # write and the sidecar dump, so the sidecar carries them exactly
        # as the sequential formulation did
        post_write()
    sidecar = {
        "history": history.entries,
        "notes": history.notes,
        "config": {k: v for k, v in config.items() if isinstance(v, (str, int, float, bool))},
    }
    with open(path + ".meta.json", "w", encoding="utf-8") as f:
        json.dump(sidecar, f, indent=2, default=str)
    return path


def _load_history(config: dict[str, Any], zone: str) -> History:
    """Seed a stage's History from the SOURCE zone's sidecar — the
    reference's append-only cross-stage history contract (each stage
    opens the previous netCDF, whose ``history`` attr already carries
    every earlier line, and appends; utils.py:238-250). Missing sidecar
    (stage run standalone on a foreign zone) → empty log, same as the
    reference on a file with no history attr."""
    h = History()
    sidecar = _zone_path(config, zone) + ".meta.json"
    if os.path.exists(sidecar):
        with open(sidecar, encoding="utf-8") as f:
            meta = json.load(f)
        h.entries = list(meta.get("history", []))
        h.notes = {k: list(v) for k, v in meta.get("notes", {}).items()}
    return h


def run_ingest(spark: SparkSession, config: dict[str, Any]) -> str:
    """Stage 1 (*2cdf): vendor file → raw zone (SURVEY §3.1)."""
    history = History()
    from stglib_spark.sources import resolve_instrument

    adapter = resolve_instrument(config["instrument"])
    df = ingest(spark, adapter, config["input_path"], config)
    if config.get("ClockError") or config.get("ClockDrift") or config.get("time_shift"):
        df = timeops.shift_time(
            df,
            shift_seconds=float(config.get("time_shift", 0) or 0),
            clock_error=config.get("ClockError"),
            clock_drift=config.get("ClockDrift"),
        )
        history.insert_history("Applied clock corrections.")
    history.insert_history(
        f"Ingested {os.path.basename(config['input_path'])} "
        f"with adapter {config['instrument']}."
    )
    return _write_zone(df, config, "raw", history)


def run_clean(spark: SparkSession, config: dict[str, Any]) -> str:
    """Stage 2 (cdf2nc): raw zone → clean zone (SURVEY §3.2 order:
    clip → atmos correct → derives → QA/QC → audit)."""
    history = _load_history(config, "raw")
    df = read_parquet(spark, _zone_path(config, "raw"))

    df = clip_ops.clip_ds(df, config)
    history.insert_history("Clipped to deployment window / good ranges.")

    # linear sensor recalibration <FAMILY>_offset / <FAMILY>_scale
    # (abss.py:274-333 scale_vars): v' = (v - offset) * scale, recorded
    # in history; family names resolve to whichever spelling the zone
    # carries (vendor or EPIC)
    for fam, cands in (
        ("P_1", ("P_1", "Pressure", "pressure")),
        ("Tx", ("Tx_1211", "Temperature")),
        ("Bat", ("Bat_106", "Battery", "batt")),
    ):
        off = float(config.get(f"{fam}_offset", 0) or 0)
        scale = float(config.get(f"{fam}_scale", 1) or 1)
        if off == 0 and scale == 1:
            continue
        col = next((c for c in cands if c in df.columns), None)
        if col is None:
            continue
        df = df.withColumn(col, (F.col(col) - F.lit(off)) * F.lit(scale))
        history.insert_history(
            f"{col} data corrected using an offset of {off} and scale "
            f"factor of {scale}."
        )
        history.insert_note(
            col, f"offset {off}, scale {scale} applied."
        )

    raw_pcol = next(
        (c for c in ("P_1", "Pressure", "pressure") if c in df.columns), None
    )
    if config.get("atmpres_path") and raw_pcol:
        # external parquet ingress: may carry TIMESTAMP_NTZ (driver testdata)
        from stglib_spark.session import normalize_ntz, pin_utc

        pin_utc(spark)
        met = normalize_ntz(read_parquet(spark, config["atmpres_path"]))
        df = joins.atmos_correct(df, met, config, pressure_col=raw_pcol)
        history.insert_history("Atmospherically corrected pressure (P_1ac).")

    # pressure fallback chain (utils.py:1058-1065): corrected first,
    # then raw, vendor or EPIC spelling
    pcol = next(
        (
            c
            for c in ("Pressure_ac", "P_1ac", "Pressure", "pressure", "P_1")
            if c in df.columns
        ),
        None,
    )
    if pcol:
        # pres2dep (utils.py:1926-1985): full EOS-80 density when salinity
        # and temperature companions exist (water_level_salinity_var /
        # water_level_temperature_var select them); scalar-density
        # fallback otherwise (the average_salinity path)
        scol = config.get("water_level_salinity_var", "S_41")
        tcol = config.get("water_level_temperature_var", "T_28")
        if scol in df.columns and tcol in df.columns:
            df = physics.pres2dep_full(
                df,
                pcol,
                scol,
                tcol,
                latitude=float(config.get("latitude", 30.0))
                if not isinstance(config.get("latitude"), (list, tuple))
                else 30.0,
            )
        else:
            df = df.withColumn(
                "depth_m", physics.pres2dep_simple(F.col(pcol))
            )
        if config.get("initial_instrument_height") is not None:
            df = df.withColumn(
                "water_depth",
                physics.water_depth(
                    F.col("depth_m"), float(config["initial_instrument_height"])
                ),
            )
    if config.get("NAVD88_ref") is not None or config.get(
        "height_above_geopotential_datum"
    ) is not None:
        # first non-null key wins (a present-but-empty NAVD88_ref in a
        # YAML template must not shadow the geopotential-datum key)
        datum = float(
            config["NAVD88_ref"]
            if config.get("NAVD88_ref") is not None
            else config["height_above_geopotential_datum"]
        )
        # water_level_var (doc/config.rst; utils.py:1650-1712): a
        # non-pressure variable (brangeAST) is used directly as the
        # sensor-relative height; pressure goes through depth first
        wlv = config.get("water_level_var", pcol)
        if wlv in ("P_1ac", "Pressure_ac", "Pressure", "P_1", pcol) and pcol:
            src = F.col("depth_m")
        elif wlv and wlv in df.columns:
            src = F.col(wlv)
        else:
            src = None
        if src is not None:
            df = df.withColumn("water_level", physics.water_level(src, datum))
    if "Turb" in df.columns and config.get("Turb_ssc_coeffs"):
        df = df.withColumn(
            "SSC_791",
            physics.turbidity_to_ssc(F.col("Turb"), list(config["Turb_ssc_coeffs"])),
        )
    # <VAR>_ssc_calibration (doc/config.rst, utils.py:2006-2041): polyval
    # of the named turbidity variable → new `ssc` variable, any source var
    ssc_keys = [
        k
        for k in config
        if isinstance(k, str) and k.endswith("_ssc_calibration")
    ]
    if len(ssc_keys) > 1:
        raise ValueError(
            f"multiple *_ssc_calibration keys {ssc_keys} would overwrite "
            "one another's `ssc` output; configure one"
        )
    for key in ssc_keys:
        coef = config[key]
        turbvar = key[: -len("_ssc_calibration")]
        if turbvar not in df.columns:
            raise KeyError(
                f"SSC generation requested for {turbvar} but {turbvar} "
                "does not exist in the dataset"
            )
        df = df.withColumn(
            "ssc", physics.turbidity_to_ssc(F.col(turbvar), list(coef))
        )
        history.insert_history(
            f"SSC variable created: ssc = polyval({list(coef)}, {turbvar})"
        )

    if "bindist" in df.columns:
        # vertical coordinates for profile data (utils.py:1178-1262,
        # aqdutils.py:337-369): z relative to the geopotential datum when
        # datum + instrument height exist; bin_depth needs only pressure
        # (the reference computes it regardless of instrument height)
        if config.get("initial_instrument_height") is not None and (
            config.get("NAVD88_ref") is not None
            or config.get("height_above_geopotential_datum") is not None
        ):
            df = df.withColumn("z", physics.create_z(config, F.col("bindist")))
            history.insert_history("Created z coordinate for profile bins.")
        if pcol:
            df = df.withColumn(
                "bin_depth",
                physics.make_bin_depth(
                    F.col(pcol),
                    F.col("bindist"),
                    str(config.get("orientation", "UP")),
                ),
            )

    df = _velocity_stack(df, config, history, pcol)

    if (
        "speed" in df.columns
        and "heading" in df.columns
        and "u_1205" not in df.columns
    ):
        # tilt-current-meter clean path (mar.py:88-96 + ds_rename_vars
        # :334-346): u/v from speed/heading, CF renames, then magnetic
        # variation ONLY when correct_mag_var is TRUE
        u, v = transforms.spd2uv(F.col("speed"), F.col("heading"))
        df = df.withColumns({"u_1205": u, "v_1206": v})
        ren = {"speed": "CS_300", "heading": "CD_310", "temp": "T_28"}
        df = df.withColumnsRenamed(
            {k: t for k, t in ren.items() if k in df.columns}
        )
        history.insert_history(
            "Computed u/v from speed/heading; renamed to CF names."
        )
        if (
            str(config.get("correct_mag_var", "")).upper() == "TRUE"
            and config.get("magnetic_variation") is not None
        ):
            magvar = float(config["magnetic_variation"])
            ru, rv = transforms.magvar_rotate(
                F.col("u_1205"), F.col("v_1206"), magvar
            )
            df = df.withColumns(
                {
                    "u_1205": ru,
                    "v_1206": rv,
                    "CD_310": transforms.magvar_correct_heading(
                        F.col("CD_310"), magvar
                    ),
                }
            )
            history.insert_history(
                f"Corrected horizontal velocities and direction for "
                f"magnetic variation of {magvar}."
            )

    from stglib_spark.sources import resolve_instrument

    if resolve_instrument(str(config.get("instrument", ""))) in (
        "aqd",
        "vec",
        "aqd_wad",
    ):
        # EPIC renames for the Nortek family come AFTER the velocity
        # stack and BEFORE QA/QC, the reference's exact order
        # (aqd/cdf2nc.py:64-105: magvar/trims → ds_rename → qaqc loop;
        # map at aqd/aqdutils.py:10-58)
        from stglib_spark.attrs import AQD_EPIC_RENAMES

        mapping = {c: AQD_EPIC_RENAMES[c] for c in df.columns if c in AQD_EPIC_RENAMES}
        if mapping:
            df = df.withColumnsRenamed(mapping)
            history.insert_history("Renamed variables to EPIC codes.")

    from stglib_spark.operators import filters as filter_ops

    if config.get("filtered_wl") and "water_level" in df.columns:
        # filtered_wl: "true" (doc/config.rst; utils.py:1715-1756):
        # 4th-order 6-min lowpass water level → water_level_filt;
        # wlfilt_tolerance (glx.py:335-355, default "60 s") nearest-fills
        # small gaps before the IIR pass and re-nulls them after
        tol_raw = str(config.get("wlfilt_tolerance", "60 s"))
        tol_s = float(tol_raw.split()[0]) if tol_raw.split() else 60.0
        df = filter_ops.filtered_water_level(
            df,
            "water_level",
            sample_interval_seconds=float(config.get("sample_interval", 60.0)),
            fill_tolerance_seconds=tol_s,
        )
        history.insert_history("Created filtered water level (6-min lowpass).")

    vfm = config.get("vel_filter_method")
    if vfm and config.get("vel_filter_cut"):
        # vel_filter_method/vel_filter_cut (doc/config.rst;
        # core/filter.py:232-275 velocity variant)
        period = config["vel_filter_cut"]
        cut = (
            [1.0 / float(period[0]), 1.0 / float(period[1])]
            if isinstance(period, (list, tuple))
            else 1.0 / float(period)
        )
        sr = 1.0 / float(config.get("sample_interval", 1.0))
        filtered = []
        # both pre- and post-rename spellings: the Nortek EPIC rename has
        # already run by this point (vel1_1277 family), but non-Nortek
        # sources may carry ENU or vendor beam names
        for vcol in (
            "u_1205", "v_1206", "w_1204",
            "vel1_1277", "vel2_1278", "vel3_1279",
            "VEL1", "VEL2", "VEL3",
        ):
            if vcol in df.columns:
                df = filter_ops.butter_filter(
                    df, vcol, sr, cut, str(vfm),
                    order=int(config.get("filter_order", 4)),
                    group_cols=["burst"] if "burst" in df.columns else (),
                )
                filtered.append(vcol)
        if filtered:
            history.insert_history(
                f"Applied {vfm} filter to velocity variables "
                f"({', '.join(filtered)})."
            )

    if (
        config.get("trim_ast")
        and "brangeAST" in df.columns
        and "ast_quality" in df.columns
    ):
        # trim_ast / ast_qual_sf (sig/cdf2nc.py:1808-1865): threshold =
        # mean of top-third ast_quality × scale factor; null brangeAST
        # below it (config-scale two-pass aggregate)
        from stglib_spark.operators.aggregations import top_third_mean_threshold

        thr = top_third_mean_threshold(
            df, "ast_quality", float(config.get("ast_qual_sf", 0.85))
        )
        df = df.withColumn(
            "brangeAST",
            F.when(F.col("ast_quality") >= F.lit(thr), F.col("brangeAST")),
        )
        history.insert_history(
            f"Trimmed brangeAST below ast_quality threshold {thr:.4g}."
        )

    if "sonar_image" in df.columns:
        # Imagenex sonar clean block (son/cdf2nc.py:19-77): EPIC
        # renames, height above bed from the companion brange file,
        # per-point slant/horizontal range, heading magvar (with the
        # reference's .round(1)), compass theta
        from stglib_spark.operators import sonar as sonar_ops

        for old, new in (
            ("Pitch", "Ptch_1216"),
            ("Roll", "Roll_1217"),
            ("Heading", "Hdg_1215"),
        ):
            if old in df.columns:
                df = df.withColumnRenamed(old, new)
        if config.get("brange_file") and config.get("height_var"):
            # nearest-time reindex of the other instrument's bed range
            # onto the sonar clock, linear-filled, offset by the two
            # initial heights (son/cdf2nc.py:19-44)
            from stglib_spark.operators.joins import asof_join

            hght = read_parquet(spark, config["brange_file"]).select(
                "time", F.col(config["height_var"]).alias("__bed")
            )
            hght_diff = float(
                config.get("brange_initial_instrument_height", 0.0)
            ) - float(config.get("initial_instrument_height", 0.0))
            df = asof_join(
                df, hght, on="time", value_cols=["__bed"],
                direction="nearest",
            )
            df = timeops.interpolate_na_time(df, "__bed")
            df = df.withColumn(
                "sonar_hgt", F.col("__bed") - F.lit(hght_diff)
            ).drop("__bed")
            history.insert_note(
                "sonar_hgt",
                f"sonar height calculated from {config['height_var']} "
                f"variable in {config['brange_file']} using initial "
                f"height offset of {hght_diff:.2f}",
            )
            if config.get("sonar_range") and config.get("SONNDataPoints"):
                df = sonar_ops.slant_geometry(
                    df,
                    total_range=float(config["sonar_range"]),
                    npoints=int(config["SONNDataPoints"]),
                )
        if config.get("magnetic_variation") and "Hdg_1215" in df.columns:
            magvar = float(config["magnetic_variation"])
            df = df.withColumn(
                "Hdg_1215",
                sonar_ops.magvar_correct_heading(F.col("Hdg_1215"), magvar),
            )
            history.insert_history(
                f"Heading rotated using magnetic variation of {magvar}."
            )
        if "HeadAngle" in df.columns and "Hdg_1215" in df.columns:
            df = df.withColumn(
                "theta",
                sonar_ops.correct_theta(
                    F.col("HeadAngle"), F.col("Hdg_1215")
                ),
            )

    if "Turb_std_max" in config:
        # NTU spelling (doc/config.rst) of the generic max-std gate
        config = {**config, "Turb_max_std": config["Turb_std_max"]}

    value_cols = [
        c for c, t in df.dtypes if t in ("double", "float") and not c.startswith("__")
    ]

    # config-driven smoothing/filtering runs before the rules, matching
    # the top of the reference's QA/QC loop (core/qaqc.py:19-20)

    fgroups = ["burst"] if "burst" in df.columns else []
    df, filter_notes = filter_ops.apply_config_filters(
        df, config, value_cols, group_cols=fgroups
    )
    for note in filter_notes:
        history.insert_history(note)

    spec = qaqc.SeriesSpec(
        time_col="time",
        sample_col="sample" if "sample" in df.columns else None,
        burst_col="burst" if "burst" in df.columns else None,
    )
    result = qaqc.apply_qaqc(df, config, value_cols, spec, keep_audit_cols=True)
    # the per-rule affected counts ride the clean-zone write as an
    # Observation (r15): audit_counts() re-ran the entire QA/QC
    # projection as a second aggregation job just to count — at 100 TB
    # that is a second full pass of the clean chain. Identical counts,
    # identical sidecar (the notes land via post_write, between the
    # parquet write and the sidecar dump).
    observed, get_counts = result.observed_audit()
    clean = observed.select(
        *[c for c in result.df.columns if not c.startswith("__")]
    )
    # drop_vars (core/qaqc.py:677-693): the listed variables leave the
    # zone after the rule engine; a name the zone lacks is recorded
    drop_vars = config.get("drop_vars") or []
    if isinstance(drop_vars, str):
        drop_vars = [drop_vars]
    dropped = [c for c in drop_vars if c in clean.columns]
    if dropped:
        clean = clean.drop(*dropped)

    def _audit_notes() -> None:
        for key, count in get_counts().items():
            var, rule = key.split(":", 1)
            history.insert_note(var, f"{rule}: {count} values nulled.")
        history.insert_history("Applied QA/QC rule engine.")
        if drop_vars:
            absent = [c for c in drop_vars if c not in dropped]
            history.insert_history(
                f"Dropped variables {dropped} (drop_vars); not in the "
                f"dataset: {absent}."
            )

    split = "profile" if config.get("split_profiles") else None
    path = _write_zone(
        clean, config, "clean", history, partition_by=split,
        post_write=_audit_notes,
    )

    if "sweep" in clean.columns and "scan" in clean.columns and (
        "sonar_image" in clean.columns
    ):
        # sweep-averaged companion product (son/cdf2nc.py:103-131 —
        # the reference's second b_<R>m-a.nc): mean over the sweep dim,
        # recomputed Head/Sonar angles, vector-averaged attitudes,
        # theta recomputed from the AVERAGED angles
        from stglib_spark.operators import sonar as sonar_ops

        clean_out = read_parquet(spark, path)
        avg = sonar_ops.average_sweeps(clean_out.drop("theta"))
        if "HeadAngle" in avg.columns and "Hdg_1215" in avg.columns:
            avg = avg.withColumn(
                "theta",
                sonar_ops.correct_theta(
                    F.col("HeadAngle"), F.col("Hdg_1215")
                ),
            )
        son_history = history.copy()
        son_history.insert_history("Averaged sonar sweeps.")
        _write_zone(avg, config, "sonavg", son_history)

    if (
        config.get("average_tide_interval")
        and config.get("average_tide_duration")
        and "burst_time" in clean.columns
        and "sample" in clean.columns
    ):
        # Seagauge tide averaging from wave bursts (sg/cdf2nc.py:147-205
        # avg_tide_bursts): companion 'tide' zone of interval-averaged
        # pressure at burst + k*interval stamps
        sr = config.get("sample_rate")
        sr = (
            float(sr)
            if sr is not None
            else 1.0 / float(config.get("sample_interval", 1.0))
        )
        pcols = [c for c in ("P_1ac", "P_1") if c in clean.columns]
        if pcols:
            # SGBurstDuration drives the reference's full padded window
            # grid (rows = ceil(SGBurstDuration/interval), trailing
            # windows emitted as NaN — sg/cdf2nc.py:149-196)
            burst_dur = config.get("SGBurstDuration")
            tides = timeops.average_tide_bursts(
                clean,
                interval_seconds=float(config["average_tide_interval"]),
                duration_seconds=float(config["average_tide_duration"]),
                sample_rate_hz=sr,
                value_cols=pcols,
                burst_duration_seconds=(
                    float(burst_dur) if burst_dur is not None else None
                ),
            )
            tide_history = history.copy()
            tide_history.insert_history(
                f"Averaged tide bursts over "
                f"{config['average_tide_interval']} s intervals "
                f"({config['average_tide_duration']} s duration)."
            )
            _write_zone(tides, config, "tide", tide_history)

    if config.get("average_interval"):
        # the reference's "-a.nc" averaged companion product
        # (sig/cdf2nc.py:320-379, mar.py:258-331): tumbling-interval means
        # of every numeric variable, restricted to average_duration, with
        # the optional min-valid-fraction gate
        from stglib_spark.operators.aggregations import interval_average

        # read the zone just written — re-using `clean` would re-execute
        # the whole raw→QA/QC lineage a second time
        clean_out = read_parquet(spark, path)
        avg_vals = [
            c
            for c, t in clean_out.dtypes
            if t in ("double", "float") and c != "time"
        ]
        interval_s = int(config["average_interval"])
        duration_s = (
            int(config["average_duration"])
            if config.get("average_duration")
            else None
        )
        sr = config.get("sample_rate")
        if sr is None and config.get("sample_interval"):
            sr = 1.0 / float(config["sample_interval"])
        expected_n = None
        if sr is not None:
            # sig/cdf2nc.py:329-331 / mar.py:262,300-303: the a-priori
            # samples-per-interval the valid-count gates compare against
            expected_n = int(
                (float(duration_s) if duration_s else float(interval_s))
                * float(sr)
            )
        inst = str(config.get("instrument", "")).lower()
        # mar.py:258-331 avg_cont (tilt current meter, continuous):
        # windows tile from the record's FIRST stamp, the tail is
        # NaN-padded, and plain np.mean poisons — any nulled sample or
        # short final interval emits a NULL row
        poison = inst in ("mar", "tcm") and expected_n is not None
        origin = None
        if poison:
            t0_row = clean_out.agg(F.min("time").alias("t0")).collect()[0]
            if t0_row["t0"] is not None:
                origin = t0_row["t0"].timestamp()
        # sig/cdf2nc.py:334-350: attitude variables vector-average
        # (skipna unit-vector means); only Hdg_1215 wraps to [0, 360)
        vector_cols = [
            c
            for c in ("Hdg_1215", "Ptch_1216", "Roll_1217")
            if c in avg_vals
        ]
        averaged = interval_average(
            clean_out,
            time_col="time",
            interval_seconds=interval_s,
            duration_seconds=duration_s,
            value_cols=avg_vals,
            minf=(
                float(config["mean_minf"]) if config.get("mean_minf") else None
            ),
            expected_n=expected_n,
            origin_epoch_seconds=origin,
            poison=poison,
            vector_cols=vector_cols,
        )
        if "Hdg_1215" in vector_cols:
            averaged = averaged.withColumn(
                "Hdg_1215", F.pmod(F.col("Hdg_1215"), F.lit(360.0))
            )
        avg_history = history.copy()
        histtext = f"Averaged over {config['average_interval']} s intervals."
        if config.get("mean_minf") and expected_n is not None:
            # the reference's audit sentence (sig/cdf2nc.py:358-364)
            histtext += (
                f" Mean of data set computed where valid points >= "
                f"{int(expected_n * float(config['mean_minf']))} out of "
                f"possible {expected_n} per average, otherwise set mean "
                f"to fill value."
            )
        if vector_cols:
            histtext += (
                f" Data variables {vector_cols} averaged using vector "
                f"averaging"
            )
        avg_history.insert_history(histtext)
        _write_zone(averaged, config, "avg", avg_history)
    return path


def _velocity_stack(
    df: DataFrame, config: dict[str, Any], history: History, pcol: str | None
) -> DataFrame:
    """The aqd/vec cdf2nc velocity path (aqd/cdf2nc.py:60-110): beam
    averages, BEAM/XYZ→ENU + magvar, AGC/correlation/SNR gates, side-lobe
    and water-level bin trims. Applied only when the deployment carries
    velocity columns; every step is config-gated like the reference."""
    from stglib_spark.operators import transforms, velocity

    vel_cols = [c for c in ("vel1", "vel2", "vel3") if c in df.columns]
    if len(vel_cols) != 3:
        vel_cols = [c for c in ("VEL1", "VEL2", "VEL3") if c in df.columns]
    heading = next((c for c in ("Heading", "Hdg_1215") if c in df.columns), None)
    pitch = next((c for c in ("Pitch", "Ptch_1216") if c in df.columns), None)
    roll = next((c for c in ("Roll", "Roll_1217") if c in df.columns), None)

    # beam averages (aqd/cdf2nc.py:66; sig/cdf2nc.py:111-114)
    if "AGC_1202" not in df.columns and all(
        f"AMP{i}" in df.columns for i in (1, 2, 3)
    ):
        df = df.withColumn(
            "AGC_1202", (F.col("AMP1") + F.col("AMP2") + F.col("AMP3")) / 3.0
        )
    if "cor_avg" not in df.columns and all(
        f"COR{i}" in df.columns for i in (1, 2, 3)
    ):
        df = df.withColumn(
            "cor_avg", (F.col("COR1") + F.col("COR2") + F.col("COR3")) / 3.0
        )

    system = config.get("AQDCoordinateSystem") or config.get("VECCoordinateSystem")
    if len(vel_cols) == 3 and heading and pitch and roll and system:
        df = transforms.transform_velocities(
            df,
            {**config, "AQDCoordinateSystem": system},
            vel_cols=vel_cols,
            heading_col=heading,
            pitch_col=pitch,
            roll_col=roll,
        )
        history.insert_history(
            f"Transformed velocities {system}→ENU"
            + (
                f"; rotated by magnetic variation {config['magnetic_variation']}."
                if config.get("magnetic_variation")
                else "."
            )
        )
    if "u_1205" in df.columns:
        if "AGC_1202" in df.columns and (
            config.get("velocity_agc_min") is not None
            or config.get("velocity_agc_max") is not None
        ):
            df = velocity.fill_agc(df, config)
            history.insert_history("Applied AGC velocity gates.")
        if config.get("velocity_cor_min") is not None or config.get("agc_cor_min") is not None:
            df = velocity.fill_cor(df, config)
            history.insert_history("Applied correlation velocity gates.")
        if config.get("snr_min") is not None:
            df = velocity.fill_snr(df, config)
            history.insert_history("Applied SNR velocity gates.")
        if config.get("trim_method") and "bindist" in df.columns:
            df = velocity.trim_vel(
                df,
                config,
                data_vars=["u_1205", "v_1206", "w_1204", "AGC_1202"],
                pressure_col=pcol,
            )
            history.insert_history(
                f"Trimmed velocity bins ({config['trim_method']})."
            )
    return df


def run_waves(spark: SparkSession, config: dict[str, Any]) -> str:
    """Stage 3 (nc2waves): clean zone → wave statistics product
    (SURVEY §3.3)."""
    history = _load_history(config, "clean")
    # burst keys re-derived from the clock even when ingest marked bursts:
    # clipping may have removed leading rows and shifted count-based
    # burst boundaries (waves.py:2037-2091)
    df = _burst_keyed(read_parquet(spark, _zone_path(config, "clean")), config)
    # direct surface-elevation branch (waves.py:684-743): forced by
    # wave_data_type: elev, or taken when no pressure column exists and
    # an elevation/boundary-range variable does (elev probe chain)
    ecol = next((c for c in ("elev", "brange", "brangeAST") if c in df.columns), None)
    has_p = "P_1ac" in df.columns or "P_1" in df.columns
    use_elev = bool(ecol) and (config.get("wave_data_type") == "elev" or not has_p)
    if config.get("wavedat_tolerance") is not None:
        # nearest-neighbour gap fill within tolerance before the spectra
        # (waves.py:1992-2034; wavedat_tolerance in seconds, default 2 s);
        # the fill targets the column the chosen branch will analyze
        tol_samples = max(
            1,
            int(
                float(config["wavedat_tolerance"])
                / float(config.get("sample_interval", 1.0))
            ),
        )
        if use_elev:
            target = ecol
        else:
            target = (
                "P_1ac"
                if "P_1ac" in df.columns
                else ("P_1" if "P_1" in df.columns else None)
            )
        if target:
            df = timeops.burst_nan_fill(
                df,
                target,
                burst_col="burst_time",
                tolerance_samples=tol_samples,
            )
            history.insert_history(
                f"Filled {target} gaps within {config['wavedat_tolerance']} s "
                "(nearest sample) before wave analysis."
            )
    if config.get("wave_data_type") == "elev" and not ecol:
        raise ValueError(
            "wave_data_type: elev requested but no elev/brange/brangeAST "
            "column exists in the clean zone"
        )
    if use_elev:
        waves = wave_ops.make_waves_ds_elev(df, config, elev_col=ecol)
        waves = clip_ops.trim_max_wp(waves, config)
        history.insert_history(
            f"Computed wave statistics from surface elevation ({ecol})."
        )
        return _write_zone(waves, config, "waves", history)
    pcol = "P_1ac" if "P_1ac" in df.columns else "P_1"
    puv = bool(config.get("puv")) and "u_1205" in df.columns and "v_1206" in df.columns
    if puv:
        # PUV directional statistics on the wave table, one Arrow stage
        # (the reference computes both in vec/sig nc2waves when puv:
        # true, sig/nc2waves.py:550-599); trim_max_wp touches only wave
        # columns, so it commutes with the merge
        waves = wave_ops.make_waves_puv_ds(df, config, pressure_col=pcol)
    else:
        waves = wave_ops.make_waves_ds(df, config, pressure_col=pcol)
    waves = clip_ops.trim_max_wp(waves, config)
    history.insert_history("Computed wave statistics (Welch spectral chain).")
    if puv:
        history.insert_history("Computed PUV directional wave statistics.")
    return _write_zone(waves, config, "waves", history)


def run_xy(spark: SparkSession, config: dict[str, Any]) -> str:
    """Stage 3 variant (nc2xy): clean sonar sweeps → cartesian images
    (son/nc2xy.py:67-123)."""
    from stglib_spark.operators import sonar

    history = _load_history(config, "clean")
    df = read_parquet(spark, _zone_path(config, "clean"))
    out = sonar.polar_to_xy(
        df,
        total_range=float(config["sonar_range"]),
        dxy=float(config.get("sonar_dxy", 0.1)),
    )
    history.insert_history("Resampled polar sweeps to cartesian images.")
    return _write_zone(out, config, "xy", history)


def _burst_keyed(df: DataFrame, config: dict[str, Any]) -> DataFrame:
    """Shared front half of the analyze stages: derive burst keys and trim
    to wave_duration (SURVEY §3.3 steps 2-3)."""
    if (
        config.get("average_wave_interval")
        and config.get("sample_interval")
        and "burst_time" in df.columns
        and "sample" in df.columns
    ):
        # Seagauge long-burst subdivision (sg/wvsnc2waves.py:16-18,
        # 59-108): split each recorded burst into average_wave_interval
        # analysis bursts before the spectral chain
        spb = int(
            float(config["average_wave_interval"])
            / float(config["sample_interval"])
        )
        df = timeops.subdivide_bursts(
            df,
            samples_per_subburst=spb,
            sub_interval_seconds=float(config["average_wave_interval"]),
        )
    if config.get("wave_interval"):
        # wave_start_time (doc/config.rst; glx.py:158-165): trim the
        # continuous record to the given start and tile bursts from it
        start_offset = 0
        if config.get("wave_start_time"):
            start = str(config["wave_start_time"])
            df = df.filter(F.col("time") >= F.lit(start).cast("timestamp"))
            import datetime as _dt

            # naive timestamps are UTC in the engine's session; anchor the
            # window grid on the same basis Spark's window() uses
            epoch = (
                _dt.datetime.fromisoformat(start)
                .replace(tzinfo=_dt.timezone.utc)
                .timestamp()
            )
            start_offset = int(epoch) % int(config["wave_interval"])
        # keep any ingest-recorded sample index as the ordering tiebreak:
        # burst-header formats (.wad, .wb) stamp every sample with the
        # burst START time, so ordering by time alone would scramble the
        # within-burst sequence the spectra depend on
        tiebreak = None
        if "sample" in df.columns:
            df = df.withColumnRenamed("sample", "__ingest_sample")
            tiebreak = "__ingest_sample"
        df = df.drop("burst", "burst_time")
        df = timeops.burst_keys(
            df,
            time_col="time",
            interval_seconds=int(config["wave_interval"]),
            burst_col="burst_time",
            tiebreak_col=tiebreak,
            start_offset_seconds=start_offset,
        )
        if tiebreak:
            df = df.drop(tiebreak)
    elif "burst" in df.columns:
        df = df.withColumn(
            "burst_time", F.min("time").over(Window.partitionBy("burst"))
        )
    if config.get("wave_duration") and config.get("sample_interval"):
        nsamps = int(
            float(config["wave_duration"]) / float(config["sample_interval"])
        )
        df = timeops.wave_duration_trim(df, nsamps)
    return df


def run_diwasp(spark: SparkSession, config: dict[str, Any]) -> str:
    """Stage 3 variant (nc2diwasp): clean zone → directional wave spectra
    product (SURVEY §3.3 DIWASP branch; reference fan-out
    core/waves.py:263-306 replaced by per-burst applyInPandas)."""
    from stglib_spark.operators import dirspec

    history = _load_history(config, "clean")
    df = _burst_keyed(read_parquet(spark, _zone_path(config, "clean")), config)
    pcol = "P_1ac" if "P_1ac" in df.columns else "P_1"
    if "u_1205" not in df.columns or "v_1206" not in df.columns:
        # pressure-only deployment: fall back to the 'pres' estimator
        # input (reference: diwasp data-type selection, doc/config.rst:118)
        config = {**config, "diwasp": config.get("diwasp", "pres")}
        for c in ("u_1205", "v_1206"):
            if c not in df.columns:
                df = df.withColumn(c, F.lit(0.0))
    # optimized / optimized-nd per-burst input selection reads the AST
    # trace when the clean zone carries one (reference core/waves.py:
    # 339-346 ds["brangeAST"])
    acol = next(
        (c for c in ("brangeAST", "brange") if c in df.columns), None
    )
    out = dirspec.make_diwasp_ds(df, config, pressure_col=pcol, ast_col=acol)
    # diwasp_inputs attr parity (core/waves.py:233-245): record what fed
    # the estimator; per-burst selections land in the diwasp_type column
    dtype = str(config.get("diwasp", "puv"))
    inputs = {
        "optimized": "optimized for ['elev', 'velx', 'vely'] or "
                     "['pres', 'velx', 'vely']",
        "optimized-nd": "optimized for ['elev'] or ['pres']",
        "puv": "['pres', 'velx', 'vely']",
        "suv": "['elev', 'velx', 'vely']",
        "pres": "['pres']",
        "elev": "['elev']",
    }.get(dtype, dtype)
    config = {**config, "diwasp_inputs": inputs}
    # ds_add_pydiwasp_history parity (core/utils.py:295-309): the
    # history line names the input data, the cutoff mode, and the tail
    dtype_h = config.get("diwasp", "puv")
    if config.get("wave_fcut") is not None:
        cut_h = (
            f"assigning cutoff using user specified f < "
            f"{config['wave_fcut']}Hz (note: this is outside the Jones & "
            f"Monismith (2007) method and should used with caution)"
        )
    elif config.get("wave_Kpmin") is not None:
        cut_h = (
            f"assigning cutoff using user specified Kp > "
            f"{config['wave_Kpmin']} (note: this is outside the Jones & "
            f"Monismith (2007) method and should used with caution)"
        )
    else:
        cut_h = "assigning cutoff following Jones & Monismith (2007)"
    history.insert_history(
        f"Directional Wave statistics computed using pyDIWASP with "
        f"{dtype_h} input data "
        f"({config.get('diwasp_method', 'IMLM')} estimator, inputs "
        f"{inputs}), {cut_h}, and applying f^-4 tail past cutoff."
    )
    return _write_zone(out, config, "diwasp", history)


def export_diwasp_spec(spark: SparkSession, config: dict[str, Any]) -> str:
    """Export the diwasp zone's per-burst directional spectra as DIWASP
    V1.4 text files (the reference's ``writespec`` output contract,
    lib/pyDIWASP/writespec.py) — one ``<filename>_<burst ISO>.spec``
    per burst under ``<output_dir>/<filename>_spec/``. Collect-to-driver
    is the per-deployment export edge, same contract as run_export_nc;
    the zone stays the scale artifact."""
    from stglib_spark.functions.diwasp import write_spec_text

    zone_path = _zone_path(config, "diwasp")
    rows = (
        read_parquet(spark, zone_path)
        .select(
            "burst_time",
            "diwasp_frequency",
            "diwasp_direction",
            "diwasp_dspec",
        )
        .orderBy("burst_time")
        .collect()
    )
    xaxisdir = float(config.get("diwasp_xdir", 90.0))
    out_dir = _output_path(config, "_spec")
    os.makedirs(out_dir, exist_ok=True)
    name = config.get("filename", "deployment")
    for r in rows:
        stamp = r["burst_time"].strftime("%Y%m%dT%H%M%S")
        write_spec_text(
            os.path.join(out_dir, f"{name}_{stamp}.spec"),
            xaxisdir,
            r["diwasp_frequency"],
            r["diwasp_direction"],
            r["diwasp_dspec"],
        )
    return out_dir


def run_export_nc(
    spark: SparkSession, config: dict[str, Any], zone: str = "clean"
) -> str:
    """Export a Parquet zone as a CF netCDF file — the reference's final
    output contract (``<filename>-a.nc`` / ``s-a.nc``, core/utils.py:352-
    749 attribute layer; write + compliance check rsk/cdf2nc.py:127-148).
    Written by the classic-nc3 writer; global attributes
    come from the merged gatts+YAML config (write_metadata semantics,
    utils.py:831-853) plus the standard CF trio, and the zone's history
    sidecar becomes the ``history`` attribute."""
    from stglib_spark.attrs import apply_var_attrs
    from stglib_spark.sources.netcdf import write_netcdf

    zone_path = _zone_path(config, zone)
    df = read_parquet(spark, zone_path)
    if "time" not in df.columns and "burst_time" in df.columns:
        # wave products: the burst start IS the product's time axis
        # (the reference's s-a.nc time dimension)
        df = df.withColumnRenamed("burst_time", "time")
    df = apply_var_attrs(df)

    history = ""
    sidecar = zone_path + ".meta.json"
    if os.path.exists(sidecar):
        with open(sidecar, encoding="utf-8") as f:
            history = "; ".join(json.load(f).get("history", []))

    gattrs: dict[str, Any] = {
        k: v
        for k, v in config.items()
        if isinstance(v, (str, int, float, bool))
        and k not in ("input_path", "output_dir")
    }
    gattrs.setdefault("Conventions", "CF-1.11")
    gattrs.setdefault("title", config.get("title", config.get("filename", "deployment")))
    gattrs.setdefault("institution", config.get("institution", "unknown"))
    gattrs["history"] = history or "exported by stglib_spark"

    # reference filename suffixes incl. the diwasp product
    # (rsk/cdf2nc.py:130-147; sig/cdf2nc.py:233-266 s_diwasp-a.nc)
    suffix = {
        "clean": "-a.nc",
        "raw": "-raw.cdf.nc",
        "waves": "s-a.nc",
        "diwasp": "s_diwasp-a.nc",
    }.get(zone, f"-{zone}.nc")
    out = _output_path(config, suffix)
    write_netcdf(df, out, attrs=gattrs)
    return out


def run_dedup(spark: SparkSession, config: dict[str, Any]) -> dict[str, str]:
    """Corpus dedup stage with shared intermediates (VERDICT r3 item 5).

    The naive chain runs the shingle→MinHash→LSH computation twice — once
    to report candidate pairs and again inside the Jaccard verifier. This
    stage walks the corpus text ONCE:

        documents → shingles zone            (one shingle pass, parquet)
        shingles  → MinHash → LSH → candidates zone
        candidates + shingles → verified-pairs zone (exact Jaccard)

    Both downstream consumers — the candidate-pair report and the
    verifier — read the materialized zones instead of recomputing. Scale
    note (SCALE.md §dedup): the shingle zone is ~n_gram× the text bytes
    before parquet dictionary/zstd compression; when storage is tighter
    than compute, set ``dedup_materialize_shingles: false`` to keep the
    candidates zone but re-shingle only the docs that appear in a
    candidate pair (semi-join pushdown) during verification.
    """
    from stglib_spark.operators import dedup as dedup_ops

    id_col = config.get("doc_id_col", "doc_id")
    text_col = config.get("text_col", "text")
    shingle_n = int(config.get("shingle_n", 3))
    # verification may gate on a different gram size than the LSH sketch
    # (e.g. 2-gram MinHash candidates verified by unigram Jaccard);
    # defaults to the sketch size so the shingle zone is reused
    verify_n = int(config.get("verify_shingle_n", shingle_n))
    num_hashes = int(config.get("num_hashes", 64))
    bands = int(config.get("bands", 16))
    threshold = float(config.get("jaccard_threshold", 0.0))
    portable = bool(config.get("dedup_portable", False))
    materialize = config.get("dedup_materialize_shingles", True)
    max_bucket = config.get("max_bucket_size", dedup_ops.DEFAULT_MAX_BUCKET_SIZE)

    history = History()
    docs = read_parquet(spark, config["documents_path"]).select(id_col, text_col)
    paths: dict[str, str] = {}

    from stglib_spark.session import spread

    if materialize:
        sh = spread(docs).select(
            F.col(id_col),
            dedup_ops.word_shingles(F.col(text_col), shingle_n).alias("shingles"),
        )
        history.insert_history(
            f"Shingled corpus once ({shingle_n}-gram) into shingle zone."
        )
        paths["shingles"] = _write_zone(sh, config, "shingles", history)
        sh = read_parquet(spark, paths["shingles"])
        sigs = dedup_ops.minhash_from_shingles(
            sh, id_col, "shingles", num_hashes, portable
        )
        pairs = dedup_ops.lsh_pairs_from_signatures(
            sigs, id_col, num_hashes, bands, portable,
            max_bucket_size=max_bucket,
        )
    else:
        # no zone to read from: use the fused explode(word_shingles(...))
        # chain — running minhash_from_shingles over an unmaterialized
        # shingle projection double-computes the shingling (see
        # minhash_signatures)
        pairs = dedup_ops.minhash_lsh_pairs(
            docs, text_col, id_col, num_hashes, bands, shingle_n, portable,
            max_bucket_size=max_bucket,
        )
    history.insert_history(
        f"MinHash({num_hashes})+LSH({bands} bands) candidate pairs."
    )
    if config.get("dedup_materialize_candidates", True):
        paths["candidates"] = _write_zone(pairs, config, "candidates", history)
        cand = read_parquet(spark, paths["candidates"])
    else:
        # a consumer that only needs the VERIFIED pairs (e.g. the
        # cluster-quality audit) can skip the candidate zone round-trip;
        # checkpoint so the LSH chain still runs exactly once even when
        # the verifier's semi-join pulls candidate ids a second time
        cand = pairs.localCheckpoint()

    if materialize and verify_n == shingle_n:
        verify_shingles = sh
    else:
        # storage-lean path (or a verify-gram size differing from the
        # sketch's): re-shingle only docs that appear in a pair
        cand_ids = (
            cand.select(F.col("doc_a").alias(id_col))
            .union(cand.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        verify_shingles = spread(
            docs.join(cand_ids, id_col, "left_semi")
        ).select(
            F.col(id_col),
            dedup_ops.word_shingles(F.col(text_col), verify_n).alias("shingles"),
        )
        # The verifier references this subtree once per pair SIDE, and
        # the two joins key on different columns, so nothing below them
        # canonicalizes — without a materialization barrier the
        # candidate-doc text is semi-joined and shingled TWICE (profiled
        # as twin 32-task stages). The checkpoint must be EAGER: the two
        # join sides launch as concurrent query stages, and a lazy
        # checkpoint would be computed by both before either persists
        # it. State is bounded by the candidate docs' shingles
        # (disk-spillable, candidates ≪ corpus behind a selective LSH) —
        # one extra write of that slice buys back a full text walk.
        verify_shingles = verify_shingles.localCheckpoint(eager=True)

    verified = dedup_ops.ngram_jaccard_pairs(
        docs,
        candidate_pairs=cand,
        id_col=id_col,
        threshold=threshold,
        shingles_df=verify_shingles,
    )
    history.insert_history(
        f"Verified candidates with exact {shingle_n}-gram Jaccard "
        f"(threshold {threshold})."
    )
    paths["dedup"] = _write_zone(verified, config, "dedup", history)
    if config.get("dedup_components"):
        # opt-in components zone: cluster the PERSISTED verified pairs
        # (read data, not lineage — the FastSV iterations re-read their
        # input, so clustering the zone avoids re-running the whole
        # LSH→verify chain per iteration) and keep the (doc_id,
        # canonical_id) map as its own artifact for downstream audits
        ver = read_parquet(spark, paths["dedup"])
        clusters = dedup_ops.duplicate_clusters(ver.select("doc_a", "doc_b"))
        history.insert_history(
            "Resolved duplicate clusters (connected components) "
            "into components zone."
        )
        paths["components"] = _write_zone(
            clusters, config, "components", history
        )
    return paths


def run_corpus(spark: SparkSession, config: dict[str, Any]) -> dict[str, str]:
    """Training-corpus curation stage (north-star): the post-dedup half of
    a pretraining-data pipeline, each step reading the previous step's
    zone so per-document language / token counts are derived ONCE:

        documents → quality zone   (lang-id + token/quality metrics/bucket)
        [opt-in: cleaned zone (boilerplate lines) and despanned zone
         (cross-document duplicate spans) feed quality instead]
        quality   → census zone    (per-language docs/tokens data card)
        quality   → mix zone       (deterministic stratified sample by
                                    quality bucket — hash membership,
                                    reproducible and resumable)
        mix       → packs zone     (token-offset training-sequence spans,
                                    sharded, no global sequential state)

    Config knobs: ``mix_fractions`` {bucket: keep-fraction} over buckets
    high (quality ≥ 0.75) / mid (≥ 0.5) / low, ``pack_seq_len``,
    ``pack_shards``, ``mix_seed``.
    """
    from stglib_spark.operators import corpus as corpus_ops
    from stglib_spark.operators import text as text_ops
    from stglib_spark.session import spread

    id_col = config.get("doc_id_col", "doc_id")
    text_col = config.get("text_col", "text")
    seq_len = int(config.get("pack_seq_len", 2048))
    n_shards = int(config.get("pack_shards", 32))
    seed = str(config.get("mix_seed", "mix1"))
    fractions = config.get(
        "mix_fractions", {"high": 1.0, "mid": 0.5, "low": 0.1}
    )

    history = History()
    if config.get("documents_format", "parquet") == "jsonl":
        from stglib_spark.sources.jsonl import read_jsonl_corpus

        base = read_jsonl_corpus(
            spark,
            config["documents_path"],
            id_field=config.get("jsonl_id_field"),
        )
        history.insert_history("Ingested jsonl corpus (content-addressed ids).")
    else:
        base = read_parquet(spark, config["documents_path"])
    docs = spread(base.select(id_col, text_col))
    paths: dict[str, str] = {}

    bp_frac = config.get("boilerplate_min_doc_frac")
    if bp_frac:
        # C4-style cleaning BEFORE scoring: frequent lines (threshold a
        # fraction of the corpus, so it scales) are stripped and the
        # cleaned zone feeds everything downstream
        bp = corpus_ops.frequent_lines(
            docs,
            min_docs=int(config.get("boilerplate_min_docs", 10)),
            min_doc_frac=float(bp_frac),
            text_col=text_col,
            id_col=id_col,
        )
        cleaned = corpus_ops.remove_boilerplate_lines(
            docs, bp, text_col=text_col, id_col=id_col
        ).select(F.col(id_col), F.col("text_clean").alias(text_col))
        history.insert_history(
            f"Stripped boilerplate lines (>= {bp_frac} of docs)."
        )
        paths["cleaned"] = _write_zone(cleaned, config, "cleaned", history)
        docs = read_parquet(spark, paths["cleaned"])

    span_n = config.get("dup_span_ngram")
    if span_n:
        # ExactSubstr-style cross-document span excision (opt-in): any
        # span_n-token span occurring in >= dup_span_min_docs documents
        # survives only in its minimum-doc_id canonical occurrence; the
        # despanned zone feeds everything downstream
        despanned = corpus_ops.remove_duplicate_spans(
            docs,
            text_col=text_col,
            id_col=id_col,
            ngram=int(span_n),
            min_docs=int(config.get("dup_span_min_docs", 2)),
        ).select(F.col(id_col), F.col("cleaned_text").alias(text_col))
        history.insert_history(
            f"Excised duplicate {span_n}-token spans (canonical kept)."
        )
        paths["despanned"] = _write_zone(despanned, config, "despanned", history)
        docs = read_parquet(spark, paths["despanned"])

    quality = text_ops.quality_score(
        text_ops.lang_id(docs, text_col), text_col
    ).withColumn(
        "quality_bucket",
        F.when(F.col("quality_score") >= 0.75, "high")
        .when(F.col("quality_score") >= 0.5, "mid")
        .otherwise("low"),
    )
    history.insert_history(
        "Scored language, tokens, and quality per document (one scan)."
    )
    paths["quality"] = _write_zone(quality, config, "quality", history)
    qz = read_parquet(spark, paths["quality"])

    if config.get("hard_gates"):
        # opt-in Gopher-style hard cuts between scoring and sampling:
        # the funnel zone records per-gate drop counts (nothing deleted
        # silently — QA/QC philosophy), and census/mix/packs see only
        # survivors
        gated = corpus_ops.gate_documents(qz, text_col=text_col, id_col=id_col)
        # ONE corpus scan (r10): appending the 'kept' label to surviving
        # rows folds the old per-gate/kept union — which ran the full
        # gate projection once per branch, i.e. two corpus scans — into
        # a single explode + aggregate. The literal zero row keeps the
        # 'kept' count present even when every document fails (the old
        # global-agg branch always emitted it); the re-aggregate runs on
        # ≤ 7 rows.
        labels = F.when(
            F.col("keep"),
            F.concat(F.col("fail_reasons"), F.array(F.lit("kept"))),
        ).otherwise(F.col("fail_reasons"))
        per_label = (
            gated.select(F.explode(labels).alias("gate"))
            .groupBy("gate")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        kept_zero = spark.createDataFrame(
            [("kept", 0)], "gate string, n_docs long"
        )
        funnel = (
            per_label.unionByName(kept_zero)
            .groupBy("gate")
            .agg(F.sum("n_docs").alias("n_docs"))
        )
        paths["funnel"] = _write_zone(funnel, config, "funnel", history)
        qz = gated.filter(F.col("keep")).drop("fail_reasons", "keep")
        history.insert_history(
            "Applied hard quality gates (per-gate funnel written)."
        )

    census = corpus_ops.token_census(
        qz, lang_col="lang_pred", tokens_col="n_tokens"
    )
    history.insert_history("Per-language token census from the quality zone.")
    # The census zone and the mix→packs chain both read ONLY the
    # materialized quality zone and never each other, so the census
    # write runs on a driver thread while the main thread proceeds to
    # mix/packs (guide §2.6 — concurrent independent jobs back-fill the
    # tail of each other's stages instead of serializing ~0.3-0.5 s of
    # fixed write latency). The thread snapshots History at this point,
    # so the census sidecar carries exactly the entries it does on the
    # sequential path.
    import copy as _copy
    from concurrent.futures import ThreadPoolExecutor

    census_hist = _copy.deepcopy(history)
    with ThreadPoolExecutor(max_workers=1) as _pool:
        census_fut = _pool.submit(
            _write_zone, census, config, "census", census_hist
        )
        paths.update(
            _run_corpus_mix_packs(
                spark, config, qz, history, seq_len, n_shards, seed,
                fractions, id_col, text_col,
            )
        )
        paths["census"] = census_fut.result()
    return paths


def _run_corpus_mix_packs(
    spark: SparkSession,
    config: dict[str, Any],
    qz: DataFrame,
    history: History,
    seq_len: int,
    n_shards: int,
    seed: str,
    fractions: dict,
    id_col: str,
    text_col: str,
) -> dict[str, str]:
    """Mix → packs tail of run_corpus (split out so the census write can
    overlap it; same operations in the same order)."""
    from stglib_spark.operators import corpus as corpus_ops

    paths: dict[str, str] = {}
    mix = corpus_ops.stratified_sample(
        qz,
        strata=F.col("quality_bucket"),
        fractions=fractions,
        id_col=id_col,
        seed=seed,
    )
    history.insert_history(
        f"Stratified training mix {fractions} (deterministic hash membership)."
    )
    budget = config.get("mix_token_budget")
    if budget:
        # cap the mix at a token budget in deterministic hash-priority
        # order (the "N-billion-token source" knob); re-uses the quality
        # zone's token counts, joins the winners back for full rows
        # INDEPENDENT seed: ordering the budget cut by the same key that
        # decided mix membership would over-retain low-fraction strata
        # (their keys all sit below the stratum fraction, sorting ahead
        # of most high-fraction docs) and silently undo mix_fractions
        picked = corpus_ops.budget_sample(
            mix,
            token_budget=int(budget),
            n_shards=n_shards,
            id_col=id_col,
            seed=f"{seed}-budget",
            tokens_col="n_tokens",
        )
        mix = mix.join(picked.select(id_col), id_col, "left_semi")
        history.insert_history(
            f"Capped mix at {budget} tokens across {n_shards} shards."
        )
    paths["mix"] = _write_zone(mix, config, "mix", history)

    packs = corpus_ops.pack_sequences(
        read_parquet(spark, paths["mix"]),
        id_col=id_col,
        seq_len=seq_len,
        n_shards=n_shards,
        tokens_col="n_tokens",
    )
    history.insert_history(
        f"Packed mix into {seq_len}-token sequence spans over {n_shards} shards."
    )
    paths["packs"] = _write_zone(packs, config, "packs", history)

    if config.get("pack_materialize"):
        # trainer-ready rows: concatenated token streams per (shard, pack)
        seqs = corpus_ops.build_packed_sequences(
            read_parquet(spark, paths["mix"]),
            text_col=text_col,
            id_col=id_col,
            seq_len=seq_len,
            n_shards=n_shards,
        )
        history.insert_history(
            f"Materialized {seq_len}-token training sequences."
        )
        paths["sequences"] = _write_zone(seqs, config, "sequences", history)
    return paths


def run_media_dedup(spark: SparkSession, config: dict[str, Any]) -> dict[str, str]:
    """Media dedup stage — the image/video companion to :func:`run_dedup`:

        media (id, content [, kind]) → phash zone      (hashes, 16 B/row)
        phash zone → near-pairs zone                   (pigeonhole join)
        near-pairs → clusters zone                     (connected comps)

    Images hash with :func:`operators.multimodal.perceptual_hash`, AVI
    clips (``media_kind: video``) with :func:`video_phash` reduced to a
    per-clip hash SET; both zones persist so downstream consumers (keep
    one per cluster, audit reports) never re-decode payloads. The pair
    stage reads the hash ZONE, so at 100 TB the pixels decode exactly
    once and everything after moves 16-byte rows.

    Video cluster edges require ``video_min_n_close`` (default 2)
    qualifying frame pairs — floored per pair at
    ``least(video_min_n_close, frames_a, frames_b)`` so a 1-frame clip
    is gated at its own frame count: one shared frame must never merge
    whole MULTI-frame clips, because constant-luminance frames (black
    intros — every gradient bit zero, dHash 0) collide across unrelated
    videos. Those frames are additionally dropped before pairing
    (``video_drop_constant_frames: false`` to keep them). Pigeonhole
    buckets above ``max_bucket_size`` star reduce on their two
    smallest (vid, frame) members (see
    ``dedup.lsh_pairs_from_signatures``). Note the star × gate recall
    interaction: in an oversize bucket only the two center members emit
    edges, so a duplicate pair whose shared frames ALL sit in oversize
    buckets, and neither of whose videos holds a center, has no direct
    edge and merges only transitively through a center video — and
    each transitive leg must itself clear the n_close floor (pinned by
    ``test_properties.test_video_star_mode_min_n_close_interaction``;
    recall trade recorded in SCALE.md)."""
    from stglib_spark.operators import dedup as dedup_ops
    from stglib_spark.operators import multimodal as mm

    id_col = config.get("media_id_col", "media_id")
    content_col = config.get("content_col", "content")
    max_hamming = int(config.get("phash_max_hamming", 3))
    blocks = int(config.get("phash_blocks", 4))
    kind = str(config.get("media_kind", "image"))
    max_bucket = config.get("max_bucket_size", dedup_ops.DEFAULT_MAX_BUCKET_SIZE)

    history = History()
    media = read_parquet(spark, config["media_path"])
    paths: dict[str, str] = {}

    if kind == "video":
        hashed = mm.video_phash(media, id_col=id_col, content_col=content_col)
        history.insert_history("Hashed video frames (per-frame dHash).")
        paths["phash"] = _write_zone(hashed, config, "phash", history)
        fh = read_parquet(spark, paths["phash"])
        if config.get("video_drop_constant_frames", True):
            fh = fh.filter(F.col("phash") != 0)
        pairs = mm.video_phash_near_pairs(
            fh, id_col=id_col, max_hamming=max_hamming, blocks=blocks,
            max_bucket_size=max_bucket,
        )
        min_n_close = int(config.get("video_min_n_close", 2))
        if min_n_close > 1:
            # effective per-pair floor least(min_n_close, frames_a,
            # frames_b): n_close counts DISTINCT qualifying frame pairs
            # (which can exceed either clip's frame count — two 2-frame
            # clips can reach n_close 4), but a 1-frame clip facing the
            # default floor of 2 could never exceed 1 against another
            # 1-frame clip, so short clips are floored at their own
            # (non-constant) frame count instead of being unclusterable
            # (ADVICE r9). Only permissive: pairs passing the old global
            # floor still pass. The per-video frame-count table is one
            # tiny aggregate over the hash zone; AQE broadcasts it when
            # small.
            nf = fh.groupBy(F.col(id_col).alias("__vid")).agg(
                F.count_distinct("frame_idx").alias("__nf")
            )
            pairs = (
                pairs.join(
                    nf.select(
                        F.col("__vid").alias("vid_a"),
                        F.col("__nf").alias("__nfa"),
                    ),
                    "vid_a",
                )
                .join(
                    nf.select(
                        F.col("__vid").alias("vid_b"),
                        F.col("__nf").alias("__nfb"),
                    ),
                    "vid_b",
                )
                .filter(
                    F.col("n_close")
                    >= F.least(
                        F.lit(min_n_close), F.col("__nfa"), F.col("__nfb")
                    )
                )
                .drop("__nfa", "__nfb")
            )
        pair_cols = ("vid_a", "vid_b")
    else:
        hashed = mm.perceptual_hash(
            media, id_col=id_col, content_col=content_col
        )
        history.insert_history("Hashed images (exact-integer dHash).")
        paths["phash"] = _write_zone(hashed, config, "phash", history)
        fh = read_parquet(spark, paths["phash"])
        pairs = mm.phash_near_pairs(
            fh, id_col=id_col, max_hamming=max_hamming, blocks=blocks,
            max_bucket_size=max_bucket,
        )
        pair_cols = ("id_a", "id_b")
    history.insert_history(
        f"Paired near-duplicates (Hamming ≤ {max_hamming}, "
        f"{blocks}-block pigeonhole)."
    )
    paths["pairs"] = _write_zone(pairs, config, "pairs", history)

    edge = read_parquet(spark, paths["pairs"]).select(
        F.col(pair_cols[0]).alias("doc_a"), F.col(pair_cols[1]).alias("doc_b")
    )
    clusters = dedup_ops.duplicate_clusters(edge)
    history.insert_history("Resolved duplicate clusters (canonical ids).")
    paths["clusters"] = _write_zone(clusters, config, "clusters", history)
    return paths


def run_corpus_all(
    spark: SparkSession, config: dict[str, Any]
) -> dict[str, str]:
    """Raw documents → training packs in ONE command: the dedup stage
    (shingles/candidates/verified-pairs zones, one shingle pass), then
    duplicate-cluster resolution keeping one document per connected
    component (the minimum id), then the curation stage (quality/census/
    mix/packs) over the deduped corpus. Each zone is materialized
    parquet, so later stages read data, not lineage.

    ``jaccard_threshold`` defaults to 0.8 HERE (unlike the standalone
    dedup stage, whose 0.0 default reports every LSH candidate): this
    stage DELETES the non-canonical side of each pair, and clustering
    unfiltered candidates would remove documents that merely collided in
    one MinHash band."""
    from stglib_spark.operators import dedup as dedup_ops

    id_col = config.get("doc_id_col", "doc_id")
    cfg = dict(config)
    cfg.setdefault("jaccard_threshold", 0.8)
    threshold = float(cfg["jaccard_threshold"])
    paths = run_dedup(spark, cfg)

    history = History()
    # belt-and-braces: never cluster below the deletion bar even if a
    # caller passed an explicit lower reporting threshold
    pairs = read_parquet(spark, paths["dedup"]).filter(
        F.col("jaccard") >= threshold
    )
    # the verified duplicate graph is ~0.1-1% of docs, so at or below
    # duplicate_clusters' edge threshold components resolve in
    # ONE exact union-find pass instead of O(log n) checkpointed FastSV
    # join rounds — each round is 2-3 sequential jobs of pure scheduler
    # latency at this edge scale (profiled: the FastSV tail was ~15 of
    # e2e_corpus_all_packs' 54 stages). Above the threshold the same
    # call falls back to distributed FastSV; identical component-minimum
    # output either way.
    clusters = dedup_ops.duplicate_clusters(pairs)
    losers = clusters.filter(
        F.col("doc_id") != F.col("canonical_id")
    ).select(F.col("doc_id").alias(id_col))
    docs = read_parquet(spark, config["documents_path"])
    survivors = docs.join(losers, id_col, "left_anti")
    history.insert_history(
        "Removed non-canonical duplicates (one doc per verified cluster)."
    )
    paths["deduped"] = _write_zone(survivors, cfg, "deduped", history)

    curation = dict(cfg)
    curation["documents_path"] = paths["deduped"]
    paths.update(run_corpus(spark, curation))
    return paths


def run_all(spark: SparkSession, config: dict[str, Any]) -> dict[str, str]:
    """Full runots chain: ingest → clean → waves."""
    paths = {"raw": run_ingest(spark, config), "clean": run_clean(spark, config)}
    if config.get("wave_interval") or config.get("samples_per_burst"):
        paths["waves"] = run_waves(spark, config)
    return paths
