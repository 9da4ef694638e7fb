"""Imagenex 881A-GS sonar ``.81R`` ingest.

Reference: ``stglib/son/raw2cdf.py:13-139`` + ``stglib/son/sonutils.py``
(field layout per the Imagenex 881A-GS manual: fixed-size ping records =
1024 B ping header + 1024 B device list + switch command + return data
header + echo bytes; 14-bit angle fields packed across byte pairs with
the high bit reserved).

Spark shape: ping records are fixed-size, so a file maps to rows with
pure offset arithmetic — ``binaryFile → mapPartitions`` walks records and
emits one row per scan with the echo trace as an array column plus
attitude scalars; ``explode`` melts to (scan, point) long form when the
polar→cartesian regrid (operators/sonar.py) needs it."""

from __future__ import annotations

import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PING_HEADER_BYTES = 1024
DEVICE_LIST_BYTES = 1024
# 881A-GS (model index 1): 40-byte switch command, 32-byte return header
SWITCH_BYTES = {0: 128, 1: 40}
RETURN_BYTES = {0: 256, 1: 32}
MODELS = ["881L-GS", "881A-GS", "882L", "882A"]

SON_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("scan", LongType()),  # 1-based, matching reference
        StructField("ping_number", LongType()),
        StructField("HeadPosition", IntegerType()),
        StructField("HeadAngle", DoubleType()),
        StructField("StepDirection", IntegerType()),
        StructField("ProfileRange", IntegerType()),
        StructField("SonarPosition", IntegerType()),
        StructField("SonarAngle", DoubleType()),
        StructField("Pitch", DoubleType()),
        StructField("Roll", DoubleType()),
        StructField("Heading", DoubleType()),
        StructField("GyroHeading", DoubleType()),
        StructField("sonar_image", ArrayType(IntegerType())),
        # the FILE's first-ping clock: mmdd from the file name +
        # %Y%H%M%S.%f ASCII at header bytes 14:27 (sonutils.py:73-77);
        # None when the header carries no parseable stamp
        StructField("file_time_epoch", DoubleType()),
    ]
)


def _u14(lo: int, hi: int) -> int:
    """Unpack the manual's 14-bit little-endian field: 7 data bits per
    byte, high bit reserved."""
    hb = (hi & 0x7E) >> 1
    lb = ((hi & 0x01) << 7) | (lo & 0x7F)
    return (hb << 8) | lb


def parse_file_header(buf: bytes) -> dict[str, Any]:
    """File/ping universal header (sonutils.py:25-77)."""
    model_idx = buf[3]
    h: dict[str, Any] = {
        "SONReturnDataHeaderType": buf[0:3].decode("ascii", errors="replace"),
        "SONSonarType": "Imagenex " + MODELS[model_idx],
        "SONSwitchCommandBytes": SWITCH_BYTES[model_idx % 2],
        "SONReturnHeaderBytes": RETURN_BYTES[model_idx % 2],
        "SONTotalBytes": struct.unpack_from("<I", buf, 4)[0],
        "SONOrientation": "Up" if (buf[319] & 0x01) else "Down",
        "SONMode": ["Sector", "Polar", "Sidescan"][buf[324]]
        if buf[324] < 3
        else "Unknown",
        "SONRangeOffset": struct.unpack_from("<f", buf, 325)[0],
        "SONSoundVelocity": struct.unpack_from("<f", buf, 338)[0],
        "SONTransmitFrequency": struct.unpack_from("<f", buf, 342)[0],
        "SONPingRepetitionRate": struct.unpack_from("<f", buf, 346)[0],
        "SONSamplesPerPing": struct.unpack_from("<L", buf, 353)[0],
        "SONRangeResolution": struct.unpack_from("<f", buf, 373)[0],
        "SONPingNumber": struct.unpack_from("<L", buf, 377)[0],
    }
    return h


def parse_switch_command(buf: bytes) -> dict[str, Any]:
    """881A-GS switch-command block (sonutils.py:80-108); conversions per
    the manual (gain counts, 0.3°/step train angle, absorption /100…)."""
    return {
        "SONHeadID": buf[2],
        "SONRange": buf[3],
        "SONStartGain": buf[8],
        "SONAbsorption": buf[10] / 100,
        "SONTrainAngle": 3 * buf[11] - 180,
        "SONSectorWidth": 3 * buf[12],
        "SONStepSize": 0.3 * buf[13],
        "SONPulseLength": 10 * buf[14],
        "SONDataBits": buf[20],
        "SONProfile": "ON" if buf[23] else "OFF",
        "SONFrequency": 175 + buf[25] * 5,
    }


# (header type, data bits) → bytes of echo data per ping (manual table)
_RETURN_SIZE = {
    ("INA", 4): 128,
    ("INA", 8): 252,
    ("INA", 16): 500,
    ("INB", 4): 252,
    ("INB", 8): 500,
    ("INB", 16): 500,
}


def parse_return_header(buf: bytes, step_size: float) -> dict[str, Any]:
    """Return-data header (sonutils.py:111-207): packed head position,
    profile range, attitude angles scaled 360/16384."""
    head_pos = (63 & buf[6]) * 128 + (127 & buf[5])
    pitch_raw = _u14(buf[14], buf[15])
    # the vendor scheme uses byte15's LSB both as value bit 7 and as the
    # pitch sign flag — intentional, mirrored bit-for-bit from the
    # reference (son/sonutils.py:156-161)
    pitch_sign = buf[15] & 0x01
    return {
        "ReturnDataHeaderType": buf[0:3].decode("ascii", errors="replace"),
        "HeadPosition": head_pos,
        "HeadAngle": (head_pos - 600) * step_size,
        "StepDirection": (buf[6] & 64) >> 6,
        "ProfileRange": _u14(buf[8], buf[9]),
        "SonarPosition": _u14(buf[12], buf[13]),
        "SonarAngle": 0.3 * (_u14(buf[12], buf[13]) - 600),
        "Pitch": (pitch_raw - 16384 * pitch_sign) * 360 / 16384,
        "Roll": _u14(buf[16], buf[17]) * 360 / 16384,
        "Heading": _u14(buf[18], buf[19]) * 360 / 16384,
        "GyroHeading": _u14(buf[21], buf[22]) * 360 / 16384,
    }


def parse_file_time(buf: bytes, source: str) -> float | None:
    """First-ping clock (sonutils.py:73-77): '%m%d' from the file name's
    chars [-12:-8] + the ASCII '%Y%H%M%S.%f' stamp at header bytes
    14:27. Returns epoch seconds (UTC), or None when either piece is
    absent/corrupt — synthetic fixtures leave the stamp zeroed."""
    import datetime as dt

    try:
        dstr = source[-12:-8] + buf[14:27].decode("ascii").replace(
            "\x00", ""
        )
        t = dt.datetime.strptime(dstr, "%m%d%Y%H%M%S.%f")
        return t.replace(tzinfo=dt.timezone.utc).timestamp()
    except (ValueError, UnicodeDecodeError, IndexError):
        return None


def parse_81r(content: bytes, source: str) -> Iterator[Row]:
    header = parse_file_header(content[:PING_HEADER_BYTES])
    total = header["SONTotalBytes"]
    sw_bytes = header["SONSwitchCommandBytes"]
    rh_bytes = header["SONReturnHeaderBytes"]
    npings = len(content) // total
    data_off = PING_HEADER_BYTES + DEVICE_LIST_BYTES + sw_bytes + rh_bytes
    file_time = parse_file_time(content[:PING_HEADER_BYTES], source)

    for i in range(npings):
        rec = content[i * total : (i + 1) * total]
        ping = parse_file_header(rec[:PING_HEADER_BYTES])
        sw = parse_switch_command(
            rec[
                PING_HEADER_BYTES
                + DEVICE_LIST_BYTES : PING_HEADER_BYTES
                + DEVICE_LIST_BYTES
                + sw_bytes
            ]
        )
        rh = parse_return_header(
            rec[
                PING_HEADER_BYTES + DEVICE_LIST_BYTES + sw_bytes : PING_HEADER_BYTES
                + DEVICE_LIST_BYTES
                + sw_bytes
                + rh_bytes
            ],
            sw["SONStepSize"],
        )
        echo = list(rec[data_off:-1])  # trailing terminator byte dropped
        yield Row(
            source_file=source,
            scan=i + 1,
            ping_number=ping["SONPingNumber"],
            HeadPosition=rh["HeadPosition"],
            HeadAngle=rh["HeadAngle"],
            StepDirection=rh["StepDirection"],
            ProfileRange=rh["ProfileRange"],
            SonarPosition=rh["SonarPosition"],
            SonarAngle=rh["SonarAngle"],
            Pitch=rh["Pitch"],
            Roll=rh["Roll"],
            Heading=rh["Heading"],
            GyroHeading=rh["GyroHeading"],
            sonar_image=echo,
            file_time_epoch=file_time,
        )


def read_81r(spark: SparkSession, path: str) -> DataFrame:
    """.81R sweep files → one row per scan with echo array + attitude."""

    def parse_partition(rows) -> Iterator[Row]:
        for r in rows:
            yield from parse_81r(bytes(r.content), r.path)

    binary = spark.read.format("binaryFile").load(path)
    return binary.select("path", "content").rdd.mapPartitions(
        parse_partition
    ).toDF(SON_SCHEMA)


# ---------------------------------------------------------------------------
# Fixture writer (round-trip tests only)
# ---------------------------------------------------------------------------


def _enc14(v: int) -> tuple[int, int]:
    lb, hb = v & 0xFF, (v >> 8) & 0x3F
    return lb & 0x7F, ((lb >> 7) & 0x01) | (hb << 1)


def encode_81r(scans: list[dict[str, Any]], data_bits: int = 8) -> bytes:
    """Minimal layout-conformant .81R (881A-GS, INA) byte stream — the
    in-memory twin of ``write_81r`` used by the src_son_roundtrip
    driver oracle (synthesize → parse_81r → closed form, the PD0
    playbook)."""
    nret = _RETURN_SIZE[("INA", data_bits)]
    sw_bytes, rh_bytes = SWITCH_BYTES[1], RETURN_BYTES[1]
    total = PING_HEADER_BYTES + DEVICE_LIST_BYTES + sw_bytes + rh_bytes + nret + 1
    out = bytearray()
    for s in scans:
        ph = bytearray(PING_HEADER_BYTES)
        ph[0:3] = b"81R"
        ph[3] = 1  # 881A-GS
        struct.pack_into("<I", ph, 4, total)
        ph[319] = 0x01 if s.get("up", True) else 0x00
        if s.get("clock"):  # '%Y%H%M%S.%f'-style 13-char ASCII stamp
            ph[14:27] = s["clock"].encode("ascii")[:13].ljust(13, b"\x00")
        ph[324] = 1  # polar
        struct.pack_into("<f", ph, 338, s.get("sound_velocity", 1500.0))
        struct.pack_into("<f", ph, 373, s.get("range_resolution", 0.02))
        struct.pack_into("<L", ph, 377, s.get("ping_number", 0))

        sw = bytearray(sw_bytes)
        sw[13] = s.get("step_counts", 10)  # step = 3.0°
        sw[20] = data_bits
        sw[25] = 141  # 880 kHz

        rh = bytearray(rh_bytes)
        rh[0:3] = b"INA"
        hp = s["head_position"]
        rh[5] = hp & 0x7F
        rh[6] = ((hp >> 7) & 0x3F) | (s.get("step_dir", 0) << 6)
        rh[8], rh[9] = _enc14(s.get("profile_range", 0))
        rh[12], rh[13] = _enc14(s.get("sonar_position", 600))
        rh[14], rh[15] = _enc14(s.get("pitch_raw", 0))
        rh[16], rh[17] = _enc14(s.get("roll_raw", 0))
        rh[18], rh[19] = _enc14(s.get("heading_raw", 0))
        rh[21], rh[22] = _enc14(s.get("gyro_raw", 0))

        echo = bytes(s.get("echo", [0] * nret))[:nret].ljust(nret, b"\x00")
        out += (
            bytes(ph) + bytes(DEVICE_LIST_BYTES) + bytes(sw) + bytes(rh)
            + echo + b"\xfc"
        )
    return bytes(out)


def write_81r(path: str, scans: list[dict[str, Any]]) -> None:
    """File-based .81R fixture writer (round-trip tests)."""
    with open(path, "wb") as f:
        f.write(encode_81r(scans))


def assign_sweep_sets(df: DataFrame) -> DataFrame:
    """File-name → (time, sweep) keys, the reference's sweep-set
    grouping (son/raw2cdf.py:145-205): a deployment folder holds
    ``<prefix><NN><ss>.81R`` files where the basename's chars [6:8]
    are the sweep id and the basename minus its last 6 chars names the
    sweep SET; each set becomes one time step (dims (time, sweep,
    scan, points)), stamped with the set's first file's header clock.
    Trailing files beyond a whole number of sets are dropped
    (raw2cdf.py:150-155 trims the listing tail; files are taken in
    sorted-name order here — os.listdir order is not reproducible).
    Sweep ids dense-rank to 1..n (the reference's coord is also 1..n
    but in Python-set order — averaging is order-invariant).

    Scale shape: every derived frame is one row per FILE (thousands at
    most, ~10^5 smaller than scan rows), so the trim window and both
    key joins broadcast; sample-level data never shuffles here."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = F.element_at(F.split(F.col("source_file"), "/"), -1)
    rows = df.withColumn("__basename", base)
    # localCheckpoint the per-file table (r15): four key-derivation
    # branches (stats, trim ranking, set times, sweep ranks) reference
    # this aggregate, and its input is the Python binary parse — an RDD
    # leaf that RE-EXECUTES per referencing branch (profiled: the .81R
    # files were parsed ~5x per ingest, each paying a Python-worker
    # round trip). Materializing the tiny one-row-per-FILE table caps
    # the parse count at two (this aggregate + the final sample-level
    # join); state is bounded by the deployment's file count.
    files = (
        rows.groupBy("__basename")
        .agg(F.min("file_time_epoch").alias("__ft"))
        .withColumn("__sweep_id", F.substring(F.col("__basename"), 7, 2))
        .withColumn(
            "__set",
            F.expr(
                "substring(__basename, 1, length(__basename) - 6)"
            ),
        )
        .localCheckpoint(eager=True)
    )
    stats = files.agg(
        F.countDistinct("__sweep_id").alias("__ns"),
        F.count(F.lit(1)).alias("__nf"),
    )
    ranked = files.crossJoin(F.broadcast(stats)).withColumn(
        "__rn",
        F.row_number().over(Window.orderBy("__basename")),
    )
    kept = ranked.filter(
        F.col("__rn") <= F.col("__nf") - F.pmod(F.col("__nf"), F.col("__ns"))
    )
    set_times = kept.groupBy("__set").agg(
        F.min(F.struct("__basename", "__ft")).getField("__ft").alias(
            "__set_epoch"
        )
    )
    sweep_rank = (
        kept.select("__sweep_id")
        .distinct()
        .withColumn(
            "sweep",
            F.row_number().over(Window.orderBy("__sweep_id")).cast("int"),
        )
    )
    keys = (
        kept.join(F.broadcast(set_times), "__set")
        .join(F.broadcast(sweep_rank), "__sweep_id")
        .select(
            "__basename",
            F.timestamp_seconds(F.col("__set_epoch")).alias("time"),
            "sweep",
        )
    )
    return (
        rows.join(F.broadcast(keys), "__basename")
        .drop("__basename", "file_time_epoch")
    )
