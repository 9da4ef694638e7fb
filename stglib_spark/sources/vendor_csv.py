"""Dedicated vendor CSV/text readers (SURVEY §2.1 'EXO/HOBO/TCM/troll/met/
eco/LISST/mar/tb/mc CSV readers' row).

Reference semantics per instrument:
- HOBO pressure logger  — hobo.py:11-44 (named cols, skiprows) and unit
  conversions + EPIC renames hobo.py:96-156.
- Lowell TCM tilt meter — tcm.py:13-49.
- TruBlue 255           — tb.py:9-68 (header key/value parse + quoted time).
- EnviroDIY Mayfly / Campbell met loggers — met.py:9-48.
- WET Labs ECO PAR/NTU  — eco.py:8-97 (tab-sep, date+time merge, optional
  samples-per-burst reshape with the burst middle time as the burst label).
- Marotte current meter — mar.py:12-40.
- SBE 37 MicroCAT .asc  — mc.py:7-57 ('*'-prefixed header, Date+Time cols).
- Sequoia LISST         — lisst.py:92-165 (36 volume-concentration ring
  columns folded into one array column + Y/M/D/H/M/S time build).
- In-Situ Aqua TROLL    — troll.py:118-259 (metadata preamble sniff, column
  renames, per-second time de-jitter, linear-average centre shift).

Spark-first design: every reader is a distributed ``spark.read.csv`` with
explicit column names; preamble/header/footer lines are eliminated by a
*time-parse filter* (rows whose time column fails ``to_timestamp`` are
dropped) instead of driver-side skiprows, so a directory of thousands of
deployment files ingests in parallel with no driver materialization. Only
tiny metadata sniffs (serial numbers, sample intervals) read the first KB
of one file at the driver.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from stglib_spark.sources import register_adapter


def _local(path: str) -> str:
    return path.replace("file://", "").replace("file:", "")


def _named_csv(
    spark: SparkSession,
    path: str,
    names: list[str],
    sep: str = ",",
) -> DataFrame:
    """Read a headerless delimited file with explicit column names, all
    STRING (callers cast).  Explicit schema keeps the scan single-pass
    (no inferSchema job) — at 100 TB an infer pass doubles the IO."""
    schema = ", ".join(f"`{n}` STRING" for n in names)
    return (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def _keep_timed(df: DataFrame) -> DataFrame:
    """Drop preamble/header/footer rows: anything whose time failed to
    parse. Distributed equivalent of pandas skiprows/skipfooter."""
    return df.filter(F.col("time").isNotNull())


def _cast_doubles(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.withColumns(
        {c: F.col(c).try_cast("double") for c in cols if c in df.columns}
    )


# ---------------------------------------------------------------- HOBO


@register_adapter("hobo")
def read_hobo(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """Onset HOBO .csv (hobo.py:11-44). Default columns
    ``# , DateTime, AbsPres_kPa, Temp_C``; kPa→dbar (/10) and EPIC renames
    ``AbsPres_dbar→P_1``, ``Temp_C→T_28`` (hobo.py:96-134)."""
    names = list(config.get("names", ["#", "DateTime", "AbsPres_kPa", "Temp_C"]))
    df = _named_csv(spark, path, names)
    # HOBOware exports US-style stamps ('06/20/18 01:00:00 PM'); the
    # reference's pd.to_datetime auto-parses them (hobo.py:40) — try the
    # common spellings, ISO first
    df = df.withColumn(
        "time",
        F.coalesce(
            F.try_to_timestamp("DateTime"),
            F.try_to_timestamp("DateTime", F.lit("MM/dd/yy hh:mm:ss a")),
            F.try_to_timestamp("DateTime", F.lit("MM/dd/yyyy hh:mm:ss a")),
            F.try_to_timestamp("DateTime", F.lit("MM/dd/yy HH:mm:ss")),
            F.try_to_timestamp("DateTime", F.lit("MM/dd/yyyy HH:mm")),
        ),
    )
    df = _keep_timed(df)
    df = _cast_doubles(df, [n for n in names if n not in ("#", "DateTime")])
    df = df.drop("#", "DateTime")
    if "AbsPres_kPa" in df.columns:  # kPa → decibar, hobo.py:113-115
        df = df.withColumn("P_1", F.col("AbsPres_kPa") / 10.0).drop("AbsPres_kPa")
    if "Temp_C" in df.columns:
        df = df.withColumnRenamed("Temp_C", "T_28")
    return df


def read_hobo_serial(path: str) -> str | None:
    """Driver-side sniff of the 'LGR S/N: nnn' token in the HOBO plot
    title line (hobo.py get_serial_number)."""
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        head = f.read(4096)
    for marker in ("LGR S/N: ", "Serial Number:"):
        if marker in head:
            tail = head.split(marker, 1)[1]
            return tail.split(",")[0].split(")")[0].strip()
    return None


# ---------------------------------------------------------------- TCM


@register_adapter("tcm")
def read_tcm(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """Lowell TCM _CR.txt (tcm.py:13-49): DateTime, Speed, Bearing,
    Velocity-N, Velocity-E."""
    names = list(
        config.get(
            "names", ["DateTime", "Speed", "Bearing", "Velocity-N", "Velocity-E"]
        )
    )
    df = _named_csv(spark, path, names)
    df = df.withColumn("time", F.try_to_timestamp("DateTime"))
    df = _keep_timed(df)
    df = _cast_doubles(df, [n for n in names if n != "DateTime"])
    return df.drop("DateTime")


# ---------------------------------------------------------------- TruBlue


TB_NAMES = ["ID", "Name", "Address", "time_str", "Elapsed", "P_1", "T_28"]


@register_adapter("tb")
def read_trublue(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """TruBlue 255 .csv (tb.py:48-66): quoted timestamps stripped of
    leading apostrophes; P_1/T_28 named directly."""
    df = _named_csv(spark, path, TB_NAMES)
    df = df.withColumn(
        "time", F.try_to_timestamp(F.regexp_replace(F.trim(F.col("time_str")), "'", ""))
    )
    df = _keep_timed(df).drop("time_str")
    return _cast_doubles(df, ["Elapsed", "P_1", "T_28"])


def read_trublue_header(path: str) -> dict[str, str]:
    """Driver-side key/value header parse (tb.py:9-46)."""
    header: dict[str, str] = {}
    keymap = {
        "Transducer Model": ("TransducerModel", 3),
        "Transducer Serial": ("serial_number", 3),
        "Scan Type": ("ScanType", 2),
        "Firmware Version": ("FirmwareVersion", 2),
    }
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        for row in f:
            if "ID,Name,Address" in row:
                break
            col = row.split()
            for marker, (key, idx) in keymap.items():
                if marker in row and len(col) > idx:
                    header[key] = col[idx]
    return header


# ---------------------------------------------------------------- met


@register_adapter("met_mayfly")
def read_mayfly(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """EnviroDIY Mayfly logger csv (met.py:9-28): header row sniffed at
    the driver ('Date and Time in UTC' line), −9999 sentinel → null."""
    header = None
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        for line in f:
            if "Date and Time in UTC" in line:
                header = [c.strip() for c in line.rstrip("\n").split(",")]
                break
    if header is None:
        raise ValueError(f"no 'Date and Time in UTC' header line in {path}")
    df = _named_csv(spark, path, header)
    df = df.withColumn("time", F.try_to_timestamp("Date and Time in UTC"))
    df = _keep_timed(df).drop("Date and Time in UTC")
    datacols = [c for c in df.columns if c != "time"]
    df = _cast_doubles(df, datacols)
    # -9999 → null (met.py:22 na_values)
    return df.withColumns(
        {c: F.when(F.col(c) == -9999, None).otherwise(F.col(c)) for c in datacols}
    )


@register_adapter("met_campbell")
def read_campbell(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """Campbell Scientific .dat (met.py:31-46): header on line 2, units
    rows skipped, 'NAN' strings → null, TIMESTAMP → time."""
    header = None
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        for line in f:
            if "TIMESTAMP" in line:
                header = [c.strip().strip('"') for c in line.rstrip("\n").split(",")]
                break
    if header is None:
        raise ValueError(f"no TIMESTAMP header line in {path}")
    df = _named_csv(spark, path, header)
    df = df.withColumn(
        "time", F.try_to_timestamp(F.regexp_replace(F.col("TIMESTAMP"), '"', ""))
    )
    df = _keep_timed(df).drop("TIMESTAMP")
    datacols = [c for c in df.columns if c != "time"]
    return df.withColumns(
        {
            c: F.when(F.upper(F.col(c)) == "NAN", None)
            .otherwise(F.col(c))
            .try_cast("double")
            for c in datacols
        }
    )


# ---------------------------------------------------------------- ECO


@register_adapter("eco_par")
def read_eco_par(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """WET Labs ECO PAR (eco.py:8-33): tab-separated date, time, counts."""
    return _read_eco(spark, path, ["date", "clock", "counts"], config)


@register_adapter("eco_ntu")
def read_eco_ntu(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """WET Labs ECO NTU (eco.py:36-61): date, time, a, counts, b."""
    return _read_eco(spark, path, ["date", "clock", "a", "counts", "b"], config)


def _read_eco(
    spark: SparkSession, path: str, names: list[str], config: dict[str, Any]
) -> DataFrame:
    df = _named_csv(spark, path, names, sep="\t")
    df = df.withColumn(
        "time",
        F.try_to_timestamp(F.concat_ws(" ", "date", "clock"), F.lit("MM/dd/yy HH:mm:ss")),
    )
    df = _keep_timed(df).drop("date", "clock")
    df = _cast_doubles(df, ["a", "counts", "b"])
    spb = config.get("spb") or config.get("samples_per_burst")
    if spb:
        # burst reshape with the burst's middle sample as its time label
        # (eco.py:79-92); long-form: derive burst/sample keys, then join
        # the middle time back per burst — no driver reshape.
        from pyspark.sql import Window

        w = Window.orderBy("time")
        rn = F.row_number().over(w) - 1
        df = (
            df.withColumn("burst", (rn / int(spb)).cast("long"))
            .withColumn("sample", (rn % int(spb)).cast("int"))
        )
        mid = (
            df.filter(F.col("sample") == int(spb) // 2)
            .select("burst", F.col("time").alias("burst_time"))
        )
        df = df.join(F.broadcast(mid), "burst", "left")
    if config.get("user_ntucal_coeffs") and "counts" in df.columns:
        # NTU calibration (eco.py:165-176): Turb = polyval(coeffs, counts)
        # collapsed to per-burst mean + std (the std feeds Turb_std_max QA)
        coeffs = [float(c) for c in config["user_ntucal_coeffs"]]
        turb = F.lit(0.0)
        for c in coeffs:
            turb = turb * F.col("counts") + F.lit(c)
        df = df.withColumn("__turb", turb)
        if "burst" in df.columns:
            df = (
                df.groupBy("burst")
                .agg(
                    F.first("burst_time").alias("time"),
                    F.avg("__turb").alias("Turb"),
                    # population std: xarray's .std() default ddof=0
                    F.stddev_pop("__turb").alias("Turb_std"),
                )
                .drop("burst")
            )
        else:
            df = df.withColumnRenamed("__turb", "Turb")
    return df


# ---------------------------------------------------------------- Marotte


MAR_NAMES = [
    "datetime",
    "speed",
    "heading",
    "speed_upper",
    "speed_lower",
    "tilt",
    "direction",
    "batt",
    "temp",
]


@register_adapter("mar")
def read_marotte(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """Marotte HS tilt current meter csv (mar.py:12-40)."""
    df = _named_csv(spark, path, MAR_NAMES)
    df = df.withColumn("time", F.try_to_timestamp("datetime"))
    df = _keep_timed(df).drop("datetime")
    return _cast_doubles(df, MAR_NAMES[1:])


# ---------------------------------------------------------------- MicroCAT


MC_NAMES = ["Temp", "Cond", "Sal", "Date", "Clock"]


@register_adapter("mc")
def read_microcat(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """SBE 37 MicroCAT .asc (mc.py:7-37): Temp, Cond, Sal plus
    'dd MMM yyyy' date and time columns; '*'-prefixed header lines are
    dropped by the time-parse filter."""
    df = _named_csv(spark, path, MC_NAMES)
    df = df.withColumn(
        "time",
        F.try_to_timestamp(
            F.concat_ws(" ", F.trim("Date"), F.trim("Clock")), F.lit("dd MMM yyyy HH:mm:ss")
        ),
    )
    df = _keep_timed(df).drop("Date", "Clock")
    return _cast_doubles(df, ["Temp", "Cond", "Sal"])


def read_microcat_header(path: str) -> dict[str, str]:
    """Driver-side '*' header parse (mc.py:40-56): serial number,
    instrument type, sample interval."""
    header: dict[str, str] = {}
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        for line in f:
            if "*" not in line:
                break
            col = line.split()
            if "SERIAL NO." in line and len(col) > 6:
                header["serial_number"] = col[6]
                header["instrument_type"] = col[1]
            elif "sample interval" in line and len(col) > 4:
                header["sample_interval"] = col[4]
    return header


# ---------------------------------------------------------------- LISST


LISST_COLS = [
    "LaserTransmissionSensor",
    "SupplyVoltage",
    "AnalogInput1",
    "LaserReferenceSensor",
    "Depth",
    "Temperature",
    "Year",
    "Month",
    "Day",
    "Hour",
    "Minute",
    "Second",
    "AnalogInput2",
    "MeanDiameter",
    "TotalVolumeConcentration",
    "RelativeHumidity",
    "AccelerometerX",
    "AccelerometerY",
    "AccelerometerZ",
    "RawPressureMSB",
    "RawPressureLSBs",
    "AmbientLight",
    "AnalogInput3",
    "ComputedOpticalTransmissionOverPath",
    "BeamAttenuation",
]


@register_adapter("lisst")
def read_lisst(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """Sequoia LISST export (lisst.py:92-165): 36 volume-concentration
    ring columns vc01..vc36 + instrument columns; time assembled from
    Y/M/D/H/M/S integer columns. The 36 ring columns become ONE
    ``vc array<double>`` column — the idiomatic Spark stand-in for the
    reference's (time, ring) 2-D variable."""
    vcs = [f"vc{n:02d}" for n in range(1, 37)]
    df = _named_csv(spark, path, vcs + LISST_COLS)
    df = df.withColumn(
        "time",
        F.try_to_timestamp(
            F.format_string(
                "%s-%s-%s %s:%s:%s",
                F.trim("Year"),
                F.trim("Month"),
                F.trim("Day"),
                F.trim("Hour"),
                F.trim("Minute"),
                F.trim("Second"),
            ),
            F.lit("yyyy-M-d H:m:s"),
        ),
    )
    df = _keep_timed(df)
    df = _cast_doubles(df, vcs + LISST_COLS)
    df = df.withColumn("vc", F.array(*vcs)).drop(*vcs)
    df = df.drop("Year", "Month", "Day", "Hour", "Minute", "Second")
    if str(config.get("operating_mode", "")).lower() == "burst":
        df = lisst_burst_keys(df)
    return df


def lisst_burst_keys(df: DataFrame) -> DataFrame:
    """LISST burst inference from timestamps (lisst.py:428-482): the
    within-burst cadence is the record's first time delta; any other
    delta starts a new burst. Long-form equivalent of the reference's
    reshape — burst = running count of cadence breaks, sample = index
    within burst, burst start time as `time`; partial bursts (leading,
    mid-record dropout, or trailing — any burst shorter than the full
    burst size) are dropped, a strict superset of the reference's
    truncate-to-last-full-burst."""
    from pyspark.sql import Window

    w = Window.orderBy("time")
    diff = F.col("time").cast("double") - F.lag(F.col("time").cast("double")).over(w)
    df = df.withColumn("__d", diff)
    dt0 = F.first("__d", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    boundary = F.when(F.col("__d").isNull() | (F.col("__d") != dt0), 1).otherwise(0)
    df = df.withColumn("burst", F.sum(boundary).over(w) - 1)
    wb = Window.partitionBy("burst").orderBy("time")
    df = df.withColumn("sample", F.row_number().over(wb) - 1)
    df = df.withColumn(
        "burst_time", F.min("time").over(Window.partitionBy("burst"))
    )
    counts = df.groupBy("burst").agg(F.count(F.lit(1)).alias("__n"))
    # full burst size = the modal/maximal burst length, NOT the first
    # burst's (a record that starts mid-burst would otherwise keep only
    # its leading fragment and drop every complete burst)
    spb = counts.agg(F.max("__n").alias("__spb"))
    return (
        df.join(F.broadcast(counts), "burst")
        .crossJoin(F.broadcast(spb))
        .filter(F.col("__n") == F.col("__spb"))
        .drop("__d", "__n", "__spb")
    )


# ---------------------------------------------------------------- TROLL


TROLL_RENAMES = {
    "Temperature (C)": "temperature",
    "Actual Conductivity (µS/cm)": "conductivity",
    "Pressure (kPa)": "pressure",
    "Pressure (PSI)": "pressure",
    "Date and Time (UTC)": "time_str",
    "Date and Time": "time_str",
}

# seconds offsets that indicate sensor clock jitter (troll.py:196-201)
TROLL_JITTER_SECONDS = [1, 2, 5, 9, 15, 45]


def read_troll_metadata(path: str) -> dict[str, Any]:
    """Driver-side preamble sniff (troll.py:219-243): device, serial,
    sampling type, sample interval, samples averaged."""
    md: dict[str, Any] = {"sn": 0, "ss": "", "si": 0.0, "siu": "", "sa": 0.0}
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        for line in f:
            cleanline = line.rstrip().split(",")
            if "Device," in line and len(cleanline) > 1:
                md["de"] = cleanline[1]
            elif "Serial Number," in line and len(cleanline) > 1:
                md["sn"] = cleanline[1]
            elif "Type," in line and len(cleanline) > 2:
                md["ss"] = cleanline[2]
            elif "Sample Interval," in line and len(cleanline) > 3:
                md["si"] = float(cleanline[2])
                md["siu"] = cleanline[3]
            elif "Samples Averaged," in line and len(cleanline) > 2:
                md["sa"] = float(cleanline[2])
            if "Date and Time" in line:
                break
    return md


@register_adapter("troll")
def read_troll(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """In-Situ Aqua TROLL csv (troll.py:118-216): header sniffed at the
    driver, vendor column renames, clock de-jitter (timestamps landing on
    known bad seconds pulled back to the minute), and the linear-average
    centre-of-window shift (sa/si/2 seconds) when the preamble says the
    sampling type is 'Linear Average'."""
    header = None
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        for line in f:
            if "Date and Time" in line:
                header = [c.strip() for c in line.rstrip("\n").split(",")]
                break
    if header is None:
        raise ValueError(f"no 'Date and Time' header line in {path}")
    names = [TROLL_RENAMES.get(c, c) for c in header]
    df = _named_csv(spark, path, names)
    df = df.withColumn("time", F.try_to_timestamp("time_str"))
    df = _keep_timed(df).drop("time_str")
    df = _cast_doubles(df, [c for c in names if c != "time_str"])

    # de-jitter: subtract the seconds offset where it matches a known
    # jitter value (troll.py:194-201) — pure column expression.
    sec = F.second("time")
    df = df.withColumn(
        "time",
        F.when(
            sec.isin(TROLL_JITTER_SECONDS),
            F.col("time") - sec.cast("int") * F.expr("INTERVAL 1 SECOND"),
        ).otherwise(F.col("time")),
    )

    md = config.get("troll_metadata") or read_troll_metadata(path)
    if md.get("ss") == "Linear Average" and md.get("si"):
        if md.get("siu", "").strip() != "secs":
            raise NotImplementedError(
                f"can only shift time by seconds, not {md.get('siu')!r}"
            )
        toshift = float(md["sa"]) / float(md["si"]) / 2.0
        df = df.withColumn(
            "time", F.col("time") + F.lit(toshift) * F.expr("INTERVAL 1 SECOND")
        )
    return df


# ---------------------------------------------------------------- Geolux / Argonaut


@register_adapter("glx")
def read_glx(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """Geolux wave radar .dat/.txt (glx.py:12-60): TOA5-style — header on
    line 2 with TIMESTAMP, two metadata rows below it, RECORD counters
    int, everything else float. ``path`` may be a glob (the reference
    concatenates ``basefile*.dat`` + ``basefile*.txt``); Spark's csv
    reader globs natively, so multi-file deployments scale out instead of
    concatenating driver-side."""
    import glob as _glob

    local = _local(path)
    candidates = sorted(_glob.glob(local)) if any(ch in local for ch in "*?[") else [local]
    if not candidates:
        raise ValueError(f"no files match {path}")
    header = None
    with open(candidates[0], encoding="utf-8", errors="ignore") as f:
        for line in f:
            if "TIMESTAMP" in line:
                header = [c.strip().strip('"') for c in line.rstrip("\n").split(",")]
                break
    if header is None:
        raise ValueError(f"no TIMESTAMP header line in {candidates[0]}")
    df = _named_csv(spark, path, header)
    df = df.withColumn(
        "time", F.try_to_timestamp(F.regexp_replace(F.col("TIMESTAMP"), '"', ""))
    )
    df = _keep_timed(df).drop("TIMESTAMP")
    casts = {}
    for c in df.columns:
        if c == "time":
            continue
        casts[c] = (
            F.col(c).try_cast("long") if "RECORD" in c else F.col(c).try_cast("double")
        )
    return df.withColumns(casts).orderBy("time")


@register_adapter("argonaut_dat")
def read_argonaut_dat(
    spark: SparkSession, path: str, config: dict[str, Any]
) -> DataFrame:
    """SonTek Argonaut whitespace .dat (argonaut.py:15-28): header line
    of column names, Year/Month/Day/Hour/Minute/Second date parts →
    time, remaining columns numeric. Whitespace-delimited files have no
    fixed separator for the csv reader, so rows are split distributed
    with a regex over spark.read.text."""
    with open(_local(path), encoding="utf-8", errors="ignore") as f:
        names = f.readline().split()
    date_parts = ["Year", "Month", "Day", "Hour", "Minute", "Second"]
    missing = [p for p in date_parts if p not in names]
    if missing:
        raise ValueError(f"argonaut header missing {missing} in {path}")
    txt = spark.read.text(str(path))
    parts = F.split(F.trim(F.col("value")), r"\s+")
    df = txt.select(*[parts[i].alias(n) for i, n in enumerate(names)])
    ints = {p: F.col(p).try_cast("int") for p in date_parts}
    df = df.withColumns(ints).withColumn(
        "time",
        F.try_make_timestamp(
            F.col("Year"), F.col("Month"), F.col("Day"),
            F.col("Hour"), F.col("Minute"), F.col("Second").cast("double"),
        ),
    )
    df = _keep_timed(df).drop(*date_parts)
    return _cast_doubles(df, [c for c in df.columns if c != "time"]).orderBy("time")
