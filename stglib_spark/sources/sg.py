"""SBE 26plus Seagauge ingest: .wb wave-burst files.

Reference: ``stglib/sg/sgutils.py:102-176`` — ``read_wb`` (burst text: a
``*`` header line per burst carrying burst number, start time in seconds
since 2000-01-01, and sample count, followed by rows of 4 pressure
values), ``int_to_date`` epoch-2000 seconds. The ``.hex`` metadata scan
(``read_hex``, :13-101) is not ported: its SG* attributes come in
through the config.

Spark shape: burst data go ``binaryFile → mapPartitions`` so each
deployment file is one task and rows come out in canonical burst long
form (time, burst_number, sample, P_1) — no driver row handling, same
scale pattern as the PD0 reader.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EPOCH_2000 = dt.datetime(2000, 1, 1)

SG_WB_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("time", TimestampType()),  # burst start
        StructField("burst_number", LongType()),
        StructField("sample", IntegerType()),  # 1-based, matching reference
        StructField("P_1", DoubleType()),
    ]
)


def parse_wb(content: str, source: str) -> Iterator[Row]:
    """Walk a .wb text body: '*' header rows start a burst
    (col1 burst_no, col2 epoch-2000 seconds, col4 sample count); data rows
    carry 4 pressure samples each."""
    burst_no: int | None = None
    t0: dt.datetime | None = None
    expected = 0
    sample = 0
    for line in content.splitlines():
        if "SBE" in line:
            continue
        if "*" in line:
            col = line.split()
            if len(col) >= 5:
                burst_no = int(col[1])
                t0 = EPOCH_2000 + dt.timedelta(seconds=int(col[2]))
                expected = int(col[4])
                sample = 0
            continue
        if burst_no is None or sample >= expected:
            continue
        for tok in line.split():
            sample += 1
            if sample > expected:
                break
            yield Row(
                source_file=source,
                time=t0,
                burst_number=burst_no,
                sample=sample,
                P_1=float(tok),
            )


def read_sg_wb(spark: SparkSession, path: str) -> DataFrame:
    """Seagauge .wb wave bursts → canonical burst long form."""

    def parse_partition(rows) -> Iterator[Row]:
        for r in rows:
            yield from parse_wb(
                bytes(r.content).decode("utf-8", errors="replace"), r.path
            )

    binary = spark.read.format("binaryFile").load(path)
    return binary.select("path", "content").rdd.mapPartitions(
        parse_partition
    ).toDF(SG_WB_SCHEMA)


def read_sg_tid(spark: SparkSession, path: str) -> DataFrame:
    """SBE 26plus Seagauge .tid tide file (sg/tid2cdf.py:7-21): whitespace
    rows ``sample MM/DD/YYYY HH:MM:SS pressure_psia temperature``.
    Pressure is converted psia → dbar on read (tid2cdf.py:44-45), the
    reference's first transform after load."""
    lines = spark.read.text(path)
    tok = F.split(F.trim(F.col("value")), r"\s+")
    c = lambda i: F.element_at(tok, i + 1)  # noqa: E731
    # try_* variants: under ANSI mode a stray header/footer line must
    # drop through the time filter, not kill the job
    out = lines.filter(F.trim(F.col("value")) != "").select(
        F.expr("try_cast(" + "element_at(split(trim(value), '\\\\s+'), 1)" + " as int)").alias("sample"),
        F.try_to_timestamp(
            F.concat_ws(" ", c(1), c(2)), F.lit("MM/dd/yyyy HH:mm:ss")
        ).alias("time"),
        (F.expr("try_cast(element_at(split(trim(value), '\\\\s+'), 4) as double)") / 14.503773800722 * 10).alias("P_1"),
        F.expr("try_cast(element_at(split(trim(value), '\\\\s+'), 5) as double)").alias("Temp"),
    )
    return out.filter(F.col("time").isNotNull())
