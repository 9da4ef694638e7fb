"""AQUAscat1000R (ABSS) ``.mat`` burst-file ingest.

Reference semantics: ``stglib/abss.py:14-233`` — one MAT file per burst,
concatenated along ``time``:

- ``BurstTime`` (datetime string) → the burst timestamp; ``BurstNumber``
  rides along (``abss.py:163-169``);
- ``AbsBinRange`` (bin × transducer) → per-transducer ``bindist``
  (``abss.py:193-195``);
- ``AbsMean`` (bin × transducer) → mean backscatter (``abss.py:211-213``);
- ``AuxData`` (aux_sample × channel) with names/units from
  ``AuxChannelName`` / ``AuxChannelUnit`` cells, spaces stripped from
  names (``abss.py:197-205``).

Spark shape: the acoustic product is long form — one row per
(burst, bin, transducer) with its own bindist. The auxiliary channels
are parsed but not ingested: they sit at (burst, aux_sample) grain, and
different grains never share a frame. Many-burst deployments parse one
file per executor task, replacing the reference's serial tqdm loop +
concat.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

ABSS_SCHEMA = StructType(
    [
        StructField("time", TimestampType(), False),
        StructField("burst_number", LongType(), True),
        StructField("bin_number", IntegerType(), False),  # 1-based, ref dims
        StructField("transducer_number", IntegerType(), False),  # 1-based
        StructField("bindist", DoubleType(), True),
        StructField("mean_abs_data", DoubleType(), True),
    ]
)


def _burst_time(v: Any) -> dt.datetime:
    """BurstTime arrives in whatever format the AQUAscat export used:
    ISO-8601, MATLAB datestr ('07-Mar-2023 14:00:00'), a 6-element
    datevec, or a scalar datenum — the reference funnels them all through
    ``pd.to_datetime`` (abss/mat2cdf.py)."""
    if isinstance(v, str):
        s = v.strip()
        try:
            return dt.datetime.fromisoformat(s)
        except ValueError:
            pass
        for fmt in ("%d-%b-%Y %H:%M:%S", "%d-%b-%Y %H:%M:%S.%f", "%d-%b-%Y"):
            try:
                return dt.datetime.strptime(s, fmt)
            except ValueError:
                continue
        raise ValueError(f"unrecognized BurstTime string {v!r}")
    arr = np.ravel(np.asarray(v, dtype=np.float64))
    if arr.size == 6:  # matlab datevec
        return dt.datetime(
            int(arr[0]), int(arr[1]), int(arr[2]),
            int(arr[3]), int(arr[4]), int(arr[5]),
        )
    if arr.size == 1 and arr[0] > 365:  # matlab serial datenum (day 1 = 0000-01-01)
        days = float(arr[0])
        t = dt.datetime.fromordinal(int(days)) + dt.timedelta(
            days=days % 1
        ) - dt.timedelta(days=366)
        # datenum floats carry ~µs noise at 2020-era magnitudes; snap to ms
        us = round(t.microsecond / 1000) * 1000
        if us == 1000000:
            t, us = t + dt.timedelta(seconds=1), 0
        return t.replace(microsecond=us)
    raise ValueError(f"unrecognized BurstTime value {v!r}")


def parse_abss_file(path: str) -> dict[str, Any]:
    """One burst MAT → {"time", "burst_number", "bindist" (bin×tx),
    "mean_abs" (bin×tx), "aux": {name: (unit, values)}}. Pure."""
    from stglib_spark.functions.mat5 import loadmat

    mat = loadmat(path)
    for req in ("BurstTime", "AbsBinRange", "AbsMean"):
        if req not in mat:
            raise ValueError(f"{path}: missing {req} — not an ABSS burst file")
    time = _burst_time(mat["BurstTime"])
    burst = int(np.ravel(np.asarray(mat.get("BurstNumber", 0))).item(0))
    bindist = np.asarray(mat["AbsBinRange"], dtype=np.float64)
    mean_abs = np.asarray(mat["AbsMean"], dtype=np.float64)

    aux: dict[str, tuple[str | None, np.ndarray]] = {}
    names = mat.get("AuxChannelName") or []
    units = mat.get("AuxChannelUnit") or []
    aux_data = mat.get("AuxData")
    if isinstance(aux_data, np.ndarray) and aux_data.ndim == 2 and len(names):
        for k, name in enumerate(names):
            if k >= aux_data.shape[1]:
                break
            label = str(name).replace(" ", "")
            unit = str(units[k]) if k < len(units) else None
            aux[label] = (unit, aux_data[:, k].astype(np.float64))
    return {
        "time": time,
        "burst_number": burst,
        "bindist": bindist,
        "mean_abs": mean_abs,
        "aux": aux,
    }


def _abss_paths(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.mat")))
    return sorted(glob.glob(path)) or [path]


def _burst_rows(parsed: dict[str, Any]) -> list[tuple]:
    nbin, ntx = parsed["bindist"].shape
    rows = []
    for b in range(nbin):
        for t in range(ntx):
            rows.append(
                (
                    parsed["time"],
                    parsed["burst_number"],
                    b + 1,
                    t + 1,
                    float(parsed["bindist"][b, t]),
                    float(parsed["mean_abs"][b, t]),
                )
            )
    return rows


def read_abss(
    spark: SparkSession, path: str, config: dict[str, Any] | None = None
) -> DataFrame:
    """ABSS burst directory/glob → long (time, bin, transducer) frame.
    One executor task per burst file."""
    from stglib_spark.session import ensure_package_shipped

    paths = _abss_paths(path)
    if len(paths) == 1:
        return spark.createDataFrame(
            _burst_rows(parse_abss_file(paths[0])), ABSS_SCHEMA
        )
    ensure_package_shipped(spark)
    rdd = spark.sparkContext.parallelize(paths, len(paths)).flatMap(
        lambda p: _burst_rows(parse_abss_file(p))
    )
    return spark.createDataFrame(rdd, ABSS_SCHEMA)
