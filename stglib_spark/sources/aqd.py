"""Nortek Aquadopp text-file ingest (.hdr/.sen/.a1-3/.v1-3).

Reference: ``stglib/aqd/hdr2cdf.py:8-160`` (``load_sen`` fixed column
positions, ``load_amp_vel`` per-beam profile matrices) and the .hdr
metadata scan ``stglib/aqd/aqdutils.py:675-921``.

Spark shape: every data file goes ``binaryFile → mapPartitions`` emitting
(row_idx, tokens) so line order is explicit and per-file parallel; the
.sen system file stays one-row-per-timestep while each .aN/.vN profile
matrix melts to long form (row_idx, bin, value) via per-line token
explode. Beams and sensors then JOIN on row_idx — the same alignment the
reference gets implicitly from DataFrame row order, made explicit and
shuffle-partitioned. The .hdr scan is driver-side config."""

from __future__ import annotations

import re
from typing import Any, Iterator

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_LINES_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("row_idx", LongType()),
        StructField("tok", ArrayType(StringType())),
    ]
)


def _read_tokens(spark: SparkSession, path: str) -> DataFrame:
    """Whitespace file → (row_idx, tokens[]) with per-file row numbering."""

    def parse_partition(rows) -> Iterator[Row]:
        for r in rows:
            text = bytes(r.content).decode("utf-8", errors="replace")
            i = 0
            for line in text.splitlines():
                toks = line.split()
                if not toks:
                    continue
                yield Row(source_file=r.path, row_idx=i, tok=toks)
                i += 1

    binary = spark.read.format("binaryFile").load(path)
    return binary.select("path", "content").rdd.mapPartitions(
        parse_partition
    ).toDF(_LINES_SCHEMA)


def read_aqd_sen(spark: SparkSession, path: str) -> DataFrame:
    """.sen system file (hdr2cdf.py:68-114): fixed positional columns —
    month day year hour min sec, battery@8, heading@10 pitch@11 roll@12
    pressure@13 temperature@14, analog1@15 analog2@16 (scaled 5/65535)."""
    t = _read_tokens(spark, path)
    c = lambda i: F.element_at(F.col("tok"), i + 1)  # noqa: E731
    return t.select(
        "source_file",
        "row_idx",
        F.make_timestamp(
            c(2).cast("int"),
            c(0).cast("int"),
            c(1).cast("int"),
            c(3).cast("int"),
            c(4).cast("int"),
            c(5).cast("decimal(10,4)"),
        ).alias("time"),
        c(8).cast("double").alias("Battery"),
        c(10).cast("double").alias("Heading"),
        c(11).cast("double").alias("Pitch"),
        c(12).cast("double").alias("Roll"),
        c(13).cast("double").alias("Pressure"),
        c(14).cast("double").alias("Temperature"),
        (c(15).cast("double") * 5 / 65535).alias("AnalogInput1"),
        (c(16).cast("double") * 5 / 65535).alias("AnalogInput2"),
    )


def read_aqd_profile_matrix(
    spark: SparkSession, path: str, value_name: str
) -> DataFrame:
    """.aN/.vN profile matrix (hdr2cdf.py:117-145): one line per time
    step, one token per bin → long form (row_idx, bin, value)."""
    t = _read_tokens(spark, path)
    return t.select(
        "row_idx",
        F.posexplode(F.col("tok")).alias("bin", "__s"),
    ).select("row_idx", "bin", F.col("__s").cast("double").alias(value_name))


# coordinate system → component names per beam file (hdr2cdf.py:135-143)
_COORD_VARS = {
    "BEAM": {1: "VEL1", 2: "VEL2", 3: "VEL3"},
    "ENU": {1: "U", 2: "V", 3: "W"},
    "XYZ": {1: "X", 2: "Y", 3: "Z"},
}


def read_aquadopp(
    spark: SparkSession, basefile: str, config: dict[str, Any]
) -> DataFrame:
    """Full Aquadopp deployment: .sen sensors × (.a1-3 amplitude,
    .v1-3 velocity) joined on (row_idx[, bin]) → canonical profile long
    form with bindist from blanking distance + cell size."""
    # merge .hdr metadata under the config (config wins) so cell size,
    # blanking distance, and coordinate system come from the instrument
    # file when the user didn't spell them out
    if _exists(basefile + ".hdr"):
        merged = dict(read_aqd_hdr_meta(basefile + ".hdr"))
        merged.update(config)
        config = merged
    coord = str(config.get("AQDCoordinateSystem", "BEAM")).upper()
    names = _COORD_VARS[coord]
    sen = read_aqd_sen(spark, basefile + ".sen")

    prof: DataFrame | None = None
    for n in (1, 2, 3):
        a = read_aqd_profile_matrix(spark, f"{basefile}.a{n}", f"AMP{n}")
        v = read_aqd_profile_matrix(spark, f"{basefile}.v{n}", names[n])
        nv = a.join(v, ["row_idx", "bin"])
        prof = nv if prof is None else prof.join(nv, ["row_idx", "bin"])

    blank = float(config.get("AQDBlankingDistance", 0.0))
    cell = float(config.get("AQDCellSize_m", config.get("bin_size", 1.0)))
    out = sen.join(prof, "row_idx")
    return out.withColumn(
        "bindist", F.lit(blank + cell / 2) + F.col("bin") * F.lit(cell)
    )


# ---------------------------------------------------------------------------
# Aquadopp HR (HIGH RESOLUTION, pulse-coherent) — burst-sampled profiles
# Reference: stglib/aqd/hrhdr2cdf.py:9-201 (load_sen :67-137,
# load_amp_vel_cor :140-201 — the .cN correlation files ride alongside
# .aN/.vN and are optional per-beam)
# ---------------------------------------------------------------------------


def read_aqd_hr_sen(spark: SparkSession, path: str) -> DataFrame:
    """HR .sen layout differs from continuous mode (hrhdr2cdf.py:72-114):
    burst@6 ensemble@7, battery@10 soundspeed@11, heading@12 pitch@13
    roll@14 pressure@15 temperature@16, analog@17-18 (scaled 5/65535)."""
    t = _read_tokens(spark, path)
    c = lambda i: F.element_at(F.col("tok"), i + 1)  # noqa: E731
    return t.select(
        "source_file",
        "row_idx",
        F.make_timestamp(
            c(2).cast("int"),
            c(0).cast("int"),
            c(1).cast("int"),
            c(3).cast("int"),
            c(4).cast("int"),
            c(5).cast("decimal(10,4)"),
        ).alias("time"),
        c(6).cast("int").alias("BurstCounter"),
        c(7).cast("int").alias("Ensemble"),
        c(10).cast("double").alias("Battery"),
        c(11).cast("double").alias("Soundspeed"),
        c(12).cast("double").alias("Heading"),
        c(13).cast("double").alias("Pitch"),
        c(14).cast("double").alias("Roll"),
        c(15).cast("double").alias("Pressure"),
        c(16).cast("double").alias("Temperature"),
        (c(17).cast("double") * 5 / 65535).alias("AnalogInput1"),
        (c(18).cast("double") * 5 / 65535).alias("AnalogInput2"),
    )


def read_aqd_hr_profile_matrix(
    spark: SparkSession, path: str, value_name: str
) -> DataFrame:
    """HR .aN/.vN/.cN matrix (hrhdr2cdf.py:144-156): each line leads with
    burst + ensemble counters, then one token per bin (the reference's
    ``values[:, 2:]`` slice) → long form (row_idx, bin, value)."""
    t = _read_tokens(spark, path)
    return t.select(
        "row_idx",
        F.posexplode(F.slice(F.col("tok"), 3, 2_000_000)).alias("bin", "__s"),
    ).select("row_idx", "bin", F.col("__s").cast("double").alias(value_name))


def read_aquadopp_hr(
    spark: SparkSession, basefile: str, config: dict[str, Any]
) -> DataFrame:
    """Full Aquadopp HR deployment: HR .sen burst samples × per-beam
    (.aN amplitude, .vN velocity, .cN correlation — correlation optional,
    hrhdr2cdf.py:178-199) joined on (row_idx[, bin]).

    Burst shape (hrhdr2cdf.py:115-136): rows truncate to whole bursts of
    AQDHRSamplesPerBurst, burst/sample keys derive from the row index,
    and ``burst_time`` is the burst's first sample timestamp — carried by
    an equi-join against the sample-0 projection (one row per burst,
    broadcast), never a global window over fact rows.

    bindist uses the hdr's vertical cell-center distance table (AQDCCD,
    aqdutils.py:898-901) when present — for pulse-coherent HR the beam
    and vertical distances differ — else blank + cell (center_first_bin,
    aqdutils.py:963-968)."""
    if _exists(basefile + ".hdr"):
        merged = dict(read_aqd_hdr_meta(basefile + ".hdr"))
        merged.update(config)
        config = merged
    spb = int(config.get("samples_per_burst", config.get("AQDHRSamplesPerBurst", 1)))
    coord = str(config.get("AQDHRCoordinateSystem",
                           config.get("AQDCoordinateSystem", "BEAM"))).upper()
    names = _COORD_VARS[coord]

    sen = read_aqd_hr_sen(spark, basefile + ".sen")
    # whole bursts only (hrhdr2cdf.py:115-122): bound via a broadcast
    # single-row aggregate, no driver collect
    bound = sen.agg(
        (F.floor(F.count(F.lit(1)) / spb) * spb).alias("__nrows")
    )
    sen = sen.crossJoin(F.broadcast(bound)).filter(
        F.col("row_idx") < F.col("__nrows")
    ).drop("__nrows")
    sen = sen.withColumn(
        "burst", (F.col("row_idx") / spb).cast("long")
    ).withColumn("sample", F.pmod(F.col("row_idx"), F.lit(spb)).cast("int"))
    starts = sen.filter(F.col("sample") == 0).select(
        "burst", F.col("time").alias("burst_time")
    )
    sen = sen.join(F.broadcast(starts), "burst")

    prof: DataFrame | None = None
    for n in (1, 2, 3):
        a = read_aqd_hr_profile_matrix(spark, f"{basefile}.a{n}", f"AMP{n}")
        v = read_aqd_hr_profile_matrix(spark, f"{basefile}.v{n}", names[n])
        nv = a.join(v, ["row_idx", "bin"])
        if _exists(f"{basefile}.c{n}"):
            c = read_aqd_hr_profile_matrix(spark, f"{basefile}.c{n}", f"COR{n}")
            nv = nv.join(c, ["row_idx", "bin"], "left")
        else:
            nv = nv.withColumn(f"COR{n}", F.lit(None).cast("double"))
        prof = nv if prof is None else prof.join(nv, ["row_idx", "bin"])

    out = sen.join(prof, "row_idx")
    ccd = config.get("AQDCCD")
    if isinstance(ccd, (list, tuple)) and ccd:
        # F.get is 0-based and NULL-safe out of bounds (element_at throws
        # under the driver's ANSI session)
        out = out.withColumn(
            "bindist",
            F.get(F.array(*[F.lit(float(x)) for x in ccd]), F.col("bin")),
        )
    else:
        blank = float(config.get("AQDHRBlankingDistance", 0.0))
        cell = float(config.get("AQDHRCellSize_m", config.get("bin_size", 0.03)))
        # HR center of first bin = blanking + one full cell (aqdutils.py:963)
        out = out.withColumn(
            "bindist", F.lit(blank + cell) + F.col("bin") * F.lit(cell)
        )
    return out


_HDR_KEYS = [
    ("Measurement/Burst interval", "AQDMeasurementBurstInterval", r"([\d.]+)\s*sec"),
    ("Cell size", "AQDCellSize", r"([\d.]+)\s*(?:mm|cm|m)"),
    ("Number of cells", "AQDNumberOfCells", r"(\d+)"),
    ("Blanking distance", "AQDBlankingDistance", r"([\d.]+)\s*m"),
    ("Coordinate system", "AQDCoordinateSystem", r"(\w+)"),
    ("Serial number", "AQDSerial_Number", r"(\S+)"),
    ("Number of measurements", "AQDNumberOfMeasurements", r"(\d+)"),
    ("Compass update rate", "AQDCompassUpdateRate", r"([\d.]+)\s*sec"),
    ("Transmit pulse length", "AQDTransmitPulseLength", r"([\d.]+)\s*m"),
    # wave-burst keys (aqdutils.py:762-775)
    ("Wave measurements", "WaveMeasurements", r"(\w+)"),
    ("Wave - Interval", "WaveInterval", r"([\d.]+)\s*sec"),
    ("Wave - Number of samples", "WaveNumberOfSamples", r"(\d+)"),
    ("Wave - Sampling rate", "WaveSampleRate", r"([\d.]+)\s*Hz"),
    ("Wave - Cell size", "WaveCellSize", r"([\d.]+)\s*m"),
]


def read_aqd_hdr_meta(path: str) -> dict[str, Any]:
    """Driver-side .hdr metadata scan (aqdutils.py:675-921): label up to
    column ~38, value after — parsed here label-prefix + regex so it
    tolerates format drift between firmware versions. Cell size is also
    normalized to metres (``AQDCellSize_m``) from whatever unit the
    firmware printed — the raw number alone is 10× ambiguous between
    mm and cm."""
    meta: dict[str, Any] = {}
    with open(path, errors="replace") as f:
        for line in f:
            line = line.rstrip()
            for label, key, pat in _HDR_KEYS:
                if line.startswith(label) and key not in meta:
                    m = re.search(pat, line[len(label):])
                    if m:
                        v = m.group(1)
                        try:
                            meta[key] = int(v)
                        except ValueError:
                            try:
                                meta[key] = float(v)
                            except ValueError:
                                meta[key] = v
                    if key == "AQDCellSize" and m:
                        um = re.search(r"[\d.]+\s*(mm|cm|m)\b", line[len(label):])
                        if um:
                            scale = {"mm": 1e-3, "cm": 1e-2, "m": 1.0}[um.group(1)]
                            meta["AQDCellSize_m"] = float(m.group(1)) * scale
    _hdr_hr_meta(path, meta)
    return meta


# HR (HIGH RESOLUTION / pulse-coherent) deployments reuse the same hdr
# labels with different units/meaning — the reference keys them AQDHR*
# (aqdutils.py:698-745) and flips on "Extended velocity range" presence
# (aqdutils.py:683-686).
_HDR_HR_KEYS = [
    ("Measurement/Burst interval", "AQDHRMeasurementBurstInterval", r"([\d.]+)\s*sec"),
    ("Cell size", "AQDHRCellSize", r"([\d.]+)\s*mm"),
    ("Number of cells", "AQDHRNumberOfCells", r"(\d+)"),
    ("Blanking distance", "AQDHRBlankingDistance", r"([\d.]+)\s*m"),
    ("Samples per burst", "AQDHRSamplesPerBurst", r"(\d+)"),
    ("Sampling rate", "AQDHRSamplingRate", r"([\d.]+)\s*Hz"),
    ("Coordinate system", "AQDHRCoordinateSystem", r"(\w+)"),
    ("Extended velocity range", "AQDHRExtendedVelocityRange", r"(\w+)"),
    ("Pulse distance (Lag1)", "AQDHRPulseLag1", r"([\d.]+)\s*m"),
    ("Pulse distance (Lag2)", "AQDHRPulseLag2", r"([\d.]+)\s*m"),
]


def _hdr_hr_meta(path: str, meta: dict[str, Any]) -> None:
    """Add AQDHR* keys + the cell-center distance table when the hdr is a
    HIGH RESOLUTION one. The distance table (bin → beam-distance,
    vertical-distance) becomes AQDCCDBEAM/AQDCCD exactly as the reference
    keeps it (aqdutils.py:880-901); non-HR hdrs get AQDCCD from the
    single-distance column."""
    with open(path, errors="replace") as f:
        content = f.read()
    hr = "Extended velocity range" in content
    lines = [ln.rstrip() for ln in content.splitlines()]
    if hr:
        meta["AQDHR"] = True
        for line in lines:
            for label, key, pat in _HDR_HR_KEYS:
                if line.startswith(label) and key not in meta:
                    m = re.search(pat, line[len(label):])
                    if m:
                        v = m.group(1)
                        try:
                            meta[key] = int(v)
                        except ValueError:
                            try:
                                meta[key] = float(v)
                            except ValueError:
                                meta[key] = v
        if "AQDHRCellSize" in meta:
            meta["AQDHRCellSize_m"] = float(meta["AQDHRCellSize"]) / 1000.0
    # cell-center distance table: numeric rows between "Distances" and
    # "Data file format"
    bd: list[float] = []
    bdv: list[float] = []
    in_table = False
    for line in lines:
        if "Distances" in line:
            in_table = True
            continue
        if in_table:
            if "Data file format" in line:
                break
            toks = line.split()
            if len(toks) >= 2 and toks[0].isdigit():
                try:
                    bd.append(float(toks[1]))
                    if hr and len(toks) >= 3:
                        bdv.append(float(toks[2]))
                except ValueError:
                    continue
    if bd:
        if hr and bdv:
            meta["AQDCCD"] = bdv
            meta["AQDCCDBEAM"] = bd
        else:
            meta["AQDCCD"] = bd


# ---------------------------------------------------------------------------
# Aquadopp wave bursts (.whd/.wad) — aqdwvs/wvs wad2cdf
# Reference: stglib/aqd/wvswad2cdf.py:9-206 (load_whd :72-134,
# load_wad :137-206)
# ---------------------------------------------------------------------------


def read_aqd_whd(spark: SparkSession, path: str) -> DataFrame:
    """.whd per-burst header file (wvswad2cdf.py:72-134): one line per
    wave burst — timestamp components, burst counter, cell position,
    battery, attitude, temperature, per-beam average amplitude. The
    reference drops minpressure/cellsize/nrecs/soundspeed after load; we
    never select them."""
    t = _read_tokens(spark, path)
    c = lambda i: F.element_at(F.col("tok"), i + 1)  # noqa: E731
    return t.select(
        "source_file",
        "row_idx",
        F.make_timestamp(
            c(2).cast("int"),
            c(0).cast("int"),
            c(1).cast("int"),
            c(3).cast("int"),
            c(4).cast("int"),
            c(5).cast("decimal(10,4)"),
        ).alias("time"),
        c(6).cast("int").alias("burst"),
        c(8).cast("double").alias("cellpos"),
        c(9).cast("double").alias("Battery"),
        c(11).cast("double").alias("Heading"),
        c(12).cast("double").alias("Pitch"),
        c(13).cast("double").alias("Roll"),
        c(16).cast("double").alias("Temperature"),
        c(18).cast("double").alias("avgamp1"),
        c(19).cast("double").alias("avgamp2"),
        c(20).cast("double").alias("avgamp3"),
    )


def read_aqd_wad(
    spark: SparkSession, path: str, samples_per_burst: int, coord: str = "BEAM"
) -> DataFrame:
    """.wad wave-burst samples (wvswad2cdf.py:137-206): flat rows in
    burst-major order; columns 2,5,6,7 = pressure + three velocity
    components (named per coordinate system), 9,10,11 = per-beam
    amplitudes. Burst/sample keys are derived from the file row index —
    the reference's (time, sample) reshape as column arithmetic, no
    physical reshape — and the tail partial burst is truncated like
    wvswad2cdf.py:167-176."""
    names = _COORD_VARS[coord.upper()]
    t = _read_tokens(spark, path)
    c = lambda i: F.element_at(F.col("tok"), i + 1)  # noqa: E731
    n = F.lit(int(samples_per_burst))
    return t.select(
        "source_file",
        (F.col("row_idx") / n).cast("long").alias("burst_idx"),
        F.pmod(F.col("row_idx"), n).cast("int").alias("sample"),
        c(2).cast("double").alias("Pressure"),
        c(5).cast("double").alias(names[1]),
        c(6).cast("double").alias(names[2]),
        c(7).cast("double").alias(names[3]),
        c(9).cast("double").alias("AMP1"),
        c(10).cast("double").alias("AMP2"),
        c(11).cast("double").alias("AMP3"),
    )


def read_aquadopp_waves(
    spark: SparkSession, basefile: str, config: dict[str, Any]
) -> DataFrame:
    """Full Aquadopp wave deployment (wvswad2cdf.py:9-69): .hdr metadata
    scan (driver-side) + .whd burst headers × .wad samples joined on the
    burst index. Burst truncation: a trailing partial burst in the .wad
    is dropped, and ``num_wave_bursts`` in the config caps the burst
    count (wvswad2cdf.py:158-176). Returns canonical burst long form
    (time = burst start from .whd, sample within burst)."""
    meta = dict(read_aqd_hdr_meta(basefile + ".hdr")) if _exists(
        basefile + ".hdr"
    ) else {}
    meta.update(config)
    nsamps = int(meta.get("WaveNumberOfSamples", meta.get("samples_per_burst", 1024)))
    coord = str(meta.get("AQDCoordinateSystem", "BEAM"))
    whd = read_aqd_whd(spark, basefile + ".whd")
    wad = read_aqd_wad(spark, basefile + ".wad", nsamps, coord).drop("source_file")
    # whole bursts only (wvswad2cdf.py:167-176): bound = floor(rows/nsamps),
    # carried as a broadcast single-row aggregate, no driver collect.
    # num_wave_bursts additionally CAPS the burst count — it does not
    # waive the partial-tail truncation
    bound = wad.agg(
        ((F.count(F.lit(1)) / nsamps).cast("long")).alias("__nburst")
    )
    wad = wad.crossJoin(F.broadcast(bound)).filter(
        F.col("burst_idx") < F.col("__nburst")
    ).drop("__nburst")
    if "num_wave_bursts" in meta:
        whd = whd.filter(F.col("row_idx") < int(meta["num_wave_bursts"]))
    joined = whd.join(wad, whd["row_idx"] == wad["burst_idx"]).drop("burst_idx")
    if "WaveSampleRate" in meta:
        fs = float(str(meta["WaveSampleRate"]).split()[0])
        joined = joined.withColumn("sample_interval", F.lit(1.0 / fs))
    return joined


def _exists(path: str) -> bool:
    import os

    return os.path.exists(path)


# ---------------------------------------------------------------------------
# Nortek Vector (.dat/.sen/.vhd) — point velocimeter burst data
# Reference: stglib/vec/dat2cdf.py:11-443 (load_vhd :103-137,
# load_sen :139-170, load_dat :183-240)
# ---------------------------------------------------------------------------

_VEC_DAT_COLS = [
    "Burst", "Ensemble", "VEL1", "VEL2", "VEL3", "AMP1", "AMP2", "AMP3",
    "SNR1", "SNR2", "SNR3", "COR1", "COR2", "COR3", "Pressure",
    "AnalogInput1", "AnalogInput2", "Checksum",
]


def read_vec_vhd(spark: SparkSession, path: str) -> DataFrame:
    """.vhd burst headers → (Burst, time, nsamp) (dat2cdf.py:103-137)."""
    t = _read_tokens(spark, path)
    c = lambda i: F.element_at(F.col("tok"), i + 1)  # noqa: E731
    return t.select(
        F.make_timestamp(
            c(2).cast("int"), c(0).cast("int"), c(1).cast("int"),
            c(3).cast("int"), c(4).cast("int"), c(5).cast("decimal(10,4)"),
        ).alias("time"),
        c(6).cast("long").alias("Burst"),
        c(7).cast("int").alias("nsamp"),
    )


def read_vector(
    spark: SparkSession, basefile: str, config: dict[str, Any]
) -> DataFrame:
    """Vector burst data: .dat sample rows joined to .vhd burst start
    times; per-sample time = burst_start + (Ensemble − 1)/sampling_rate
    (dat2cdf.py:207-228). The join is broadcast (burst headers are tiny);
    sample timing is pure column arithmetic."""
    t = _read_tokens(spark, basefile + ".dat")
    cols = [
        F.element_at(F.col("tok"), i + 1).cast(
            "long" if name in ("Burst", "Ensemble", "Checksum") else "double"
        ).alias(name)
        for i, name in enumerate(_VEC_DAT_COLS)
    ]
    dat = t.select(*cols)
    vhd = read_vec_vhd(spark, basefile + ".vhd").select(
        "Burst", F.col("time").alias("burst_start")
    )
    rate = float(config.get("VECSamplingRate", 32))
    out = dat.join(F.broadcast(vhd), "Burst", "left")
    us_per_sample = int(round(1_000_000 / rate))
    return out.withColumn(
        "time",
        F.timestamp_micros(
            F.unix_micros(F.col("burst_start"))
            + (F.col("Ensemble") - 1) * F.lit(us_per_sample)
        ),
    ).drop("burst_start").withColumnRenamed("Ensemble", "sample")
