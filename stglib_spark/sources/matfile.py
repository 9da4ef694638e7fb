"""Matlab ``.mat`` vendor-export ingest (Signature/RDI/IQ/ABSS families).

Reference: ``stglib/core/utils.py:1612-1647`` (loadmat + struct
flattening), consumed by ``sig/mat2cdf.py``, ``rdi/mat2cdf.py``,
``iq.py:172-446``, ``abss.py:14-57``.

Uses the scipy-free MAT v5 reader (:mod:`stglib_spark.functions.mat5`);
structs flatten to ``<struct>_<field>`` keys exactly like the reference's
flattening loop. Parsing is driver-side (vendor exports are config-scale);
rows reach Spark via createDataFrame. Many-file drops parallelize by
calling the adapter per file path inside a task (the mat5 reader is plain
bytes-in/dict-out), mirroring the binaryFile pattern of the other readers.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def flatten_mat(variables: dict[str, Any]) -> dict[str, Any]:
    """Struct fields → ``<name>_<field>`` flat keys (utils.py:1630-1641)."""
    out: dict[str, Any] = {}
    for name, v in variables.items():
        if isinstance(v, dict):
            for f, fv in v.items():
                out[f"{name}_{f}"] = fv
        else:
            out[name] = v
    return out


def read_mat(spark: SparkSession, path: str) -> DataFrame:
    """Read a .mat vendor export → long DataFrame.

    Array variables sharing the longest leading dimension become columns
    (one row per index); everything else (scalars, strings) is attached as
    constant metadata columns."""
    from stglib_spark.functions.mat5 import loadmat

    flat = flatten_mat(loadmat(path))

    arrays: dict[str, np.ndarray] = {}
    scalars: dict[str, Any] = {}
    for k, v in flat.items():
        if isinstance(v, np.ndarray):
            sq = np.squeeze(v)
            if sq.ndim == 1 and sq.size > 1:
                arrays[k] = sq
            elif sq.ndim == 0:
                scalars[k] = float(sq)
            else:  # 2-D profile matrices → one array column per row later;
                arrays[k] = sq.reshape(sq.shape[0], -1) if sq.ndim > 1 else sq
        else:
            scalars[k] = v

    n = max((a.shape[0] for a in arrays.values()), default=0)
    rows = []
    for i in range(n):
        rec: dict[str, Any] = {"idx": i}
        for k, a in arrays.items():
            if a.shape[0] != n:
                continue
            val = a[i]
            rec[k] = val.tolist() if isinstance(val, np.ndarray) else float(val)
        rec.update(scalars)
        rows.append(rec)
    return spark.createDataFrame(rows)
