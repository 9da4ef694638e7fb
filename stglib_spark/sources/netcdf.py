"""netCDF edge adapters — import/export at the boundary only.

The reference's inter-stage format is netCDF (``-raw.cdf`` / ``b.nc``);
this engine's inter-stage format is Parquet (SURVEY §7.1 three-zone
design), with netCDF only at the edges for interop with existing stglib
consumers. Both directions go through the pure-Python classic netCDF-3
codec (:mod:`stglib_spark.functions.netcdf3`); the CF attribute layer
(units/long_name/standard_name per variable, global
Conventions/title/history, ``core/utils.py:352-749``) rides as column
metadata.
"""

from __future__ import annotations

from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from stglib_spark.sources import register_adapter

_TIME_UNITS = "seconds since 1970-01-01 00:00:00 +00:00"


def numeric_cell(v) -> "np.ndarray":
    """One toPandas cell of an array column → float ndarray (1-D for
    array<double>, 2-D for array<array<double>>). Arrow-enabled
    ``toPandas`` delivers nested cells as OBJECT ndarrays of float64
    arrays, which numpy ≥ 2 refuses to coerce in one
    ``np.asarray(cell, dtype=float64)`` call ("setting an array element
    with a sequence") even when the nesting is perfectly rectangular —
    the same cell as a plain list of lists (Arrow off) converts fine.
    Convert row-wise so both spellings work; ragged nesting still
    raises ValueError (np.stack) for callers that gate on it."""
    if len(v) and isinstance(v[0], (list, np.ndarray)):
        return np.stack([np.asarray(r, dtype=np.float64) for r in v])
    return np.asarray(v, dtype=np.float64)


_CF_UNIT_SECONDS = {
    "microseconds": 1e-6,
    "milliseconds": 1e-3,
    "seconds": 1.0,
    "minutes": 60.0,
    "hours": 3600.0,
    "days": 86400.0,
}


def _decode_cf_time(values: "np.ndarray", units: str) -> list:
    """CF '<unit> since <epoch>' → datetimes. The unit word and epoch both
    come from the variable's units attribute (reference outputs commonly
    use 'days since 1990-01-01' etc., not epoch-1970 seconds)."""
    import datetime as dt
    import re as _re

    m = _re.match(r"\s*(\w+)\s+since\s+(.+)", units)
    if not m:
        raise ValueError(f"unparseable CF time units {units!r}")
    unit, epoch_s = m.group(1).lower(), m.group(2).strip()
    scale = _CF_UNIT_SECONDS.get(unit)
    if scale is None:
        raise ValueError(f"unsupported CF time unit {unit!r}")
    epoch_s = _re.sub(r"\s*(UTC|Z|\+00:?00?)\s*$", "", epoch_s, flags=_re.I)
    epoch_s = epoch_s.replace("T", " ").strip()
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            epoch = dt.datetime.strptime(epoch_s, fmt)
            break
        except ValueError:
            continue
    else:
        raise ValueError(f"unparseable CF epoch {units!r}")
    return [epoch + dt.timedelta(seconds=float(v) * scale) for v in values]


@register_adapter("netcdf")
def read_netcdf(spark: SparkSession, path: str, config: dict[str, Any]) -> DataFrame:
    """netCDF → DataFrame via a driver-side load (edge-only; fine for the
    reference's single-deployment file sizes) with the classic-netCDF3
    codec."""
    from stglib_spark.functions.netcdf3 import read_nc3

    nc = read_nc3(path)
    variables = nc["variables"]
    # 1-D time-indexed variables become columns; 2-D (time, second dim)
    # variables explode to long form with a `bin` index
    time_var = variables.get("time")
    if time_var is None:
        raise ValueError(f"{path}: no 'time' variable")
    times = _decode_cf_time(
        np.asarray(time_var["data"]),
        str(time_var["attrs"].get("units", _TIME_UNITS)),
    )
    nt = len(times)
    one_d = {
        name: np.asarray(v["data"])
        for name, v in variables.items()
        if name != "time" and v["dims"] == ("time",)
    }
    two_d = {
        name: (v["dims"], np.asarray(v["data"]))
        for name, v in variables.items()
        if len(v["dims"]) == 2 and v["dims"][0] == "time"
    }
    rows = []
    if two_d:
        second_dim = next(iter(two_d.values()))[0][1]
        axis = variables.get(second_dim)
        nbins = next(iter(two_d.values()))[1].shape[1]
        axis_vals = (
            np.asarray(axis["data"]) if axis is not None else np.arange(nbins)
        )
        for i in range(nt):
            for b in range(nbins):
                rec: dict[str, Any] = {
                    "time": times[i],
                    "bin": b,
                    second_dim: float(axis_vals[b]),
                }
                for name, (_d, arr) in two_d.items():
                    rec[name] = float(arr[i, b])
                for name, arr in one_d.items():
                    rec[name] = arr[i].item() if arr.dtype.kind != "U" else str(arr[i])
                rows.append(rec)
    else:
        for i in range(nt):
            rec = {"time": times[i]}
            for name, arr in one_d.items():
                rec[name] = arr[i].item() if arr.dtype.kind != "U" else str(arr[i])
            rows.append(rec)
    return spark.createDataFrame(rows)


def write_netcdf(
    df: DataFrame,
    path: str,
    attrs: dict[str, Any] | None = None,
) -> None:
    """DataFrame → CF netCDF (export edge; collect-to-driver is acceptable
    only for final per-deployment products, mirroring the reference's
    one-file-per-deployment outputs). Column metadata attached by
    ``stglib_spark.attrs.apply_var_attrs`` becomes per-variable netCDF
    attributes. Long-form profile frames (a ``bin`` index column +
    ``bindist`` axis) pivot back to 2-D (time, bindist) variables, the
    reference's native shape. A column is 2-D when its values vary across
    bins for some timestamp — deterministic for a given frame, though a
    bin-constant profile exports 1-D."""
    from stglib_spark.attrs import collect_var_attrs

    var_attrs = collect_var_attrs(df)
    _write_netcdf3(df.toPandas(), path, var_attrs, attrs or {})

    # post-write CF check, like the reference's check_compliance call
    # after every nc write (rsk/cdf2nc.py:148); non-fatal by design
    from stglib_spark.cf import check_netcdf

    check_netcdf(path)


def _write_netcdf3(
    pdf,
    path: str,
    var_attrs: dict[str, dict[str, Any]],
    global_attrs: dict[str, Any],
) -> None:
    from stglib_spark.functions.netcdf3 import write_nc3

    if "time" not in pdf.columns:
        raise ValueError("netCDF export requires a 'time' column")

    profile = "bin" in pdf.columns and "bindist" in pdf.columns
    variables: dict[str, dict[str, Any]] = {}

    if profile:
        piv = pdf.sort_values(["time", "bin"])
        times = piv["time"].drop_duplicates().to_numpy()
        bins = np.sort(piv["bin"].unique())
        nt, nb = len(times), len(bins)
        dims = {"time": nt, "bindist": nb}
        bindist_axis = (
            piv.drop_duplicates("bin").sort_values("bin")["bindist"].to_numpy()
        )
        variables["bindist"] = {
            "dims": ("bindist",),
            "data": bindist_axis.astype(np.float64),
            "attrs": {"units": "m", "long_name": "distance from transducer head",
                      **var_attrs.get("bindist", {})},
        }
        skip = {"time", "bin", "bindist"}
        for col in pdf.columns:
            if col in skip:
                continue
            series = piv[col]
            if series.dtype == object and not all(
                isinstance(v, str) for v in series
            ):
                continue  # array columns are not representable in classic nc3
            per_time_count = piv.groupby("time", sort=True)[col].nunique(
                dropna=False
            )
            is_2d = series.dtype != object and (per_time_count > 1).any()
            if is_2d:
                mat = (
                    piv.pivot_table(index="time", columns="bin", values=col,
                                    sort=True, dropna=False)
                    .reindex(index=times, columns=bins)
                    .to_numpy()
                )
                variables[col] = {
                    "dims": ("time", "bindist"),
                    "data": mat.astype(np.float64),
                    "attrs": var_attrs.get(col, {}),
                }
            else:
                first = piv.drop_duplicates("time").sort_values("time")[col]
                data = first.to_numpy()
                if data.dtype == object:
                    data = data.astype("U")
                variables[col] = {
                    "dims": ("time",),
                    "data": data,
                    "attrs": var_attrs.get(col, {}),
                }
    else:
        pdf = pdf.sort_values("time")
        times = pdf["time"].to_numpy()
        dims = {"time": len(times)}
        # per-row numeric arrays of one shared length (wave spectra:
        # frequency/pspec from the burst kernels) export as 2-D
        # (time, frequency) variables, the reference's s-a.nc shape;
        # the 'frequency' column doubles as the axis variable. Nested
        # arrays of one shared (frequency, direction) shape export as
        # 3-D variables — the reference's dspec in s_diwasp-a.nc
        # (rsk/nc2waves.py:85-211) — keyed off the direction axis
        # column. Ragged arrays (per-burst nfft) stay parquet-only.
        # Detection is whole-column, not first-row (a column mixing
        # scalars and arrays stays parquet-only).
        array_cols = {}
        nested_cols = {}
        for col in pdf.columns:
            series = pdf[col]
            if series.dtype != object or not len(series):
                continue
            is_arr = [
                isinstance(v, (list, np.ndarray)) for v in series
            ]
            if not any(is_arr):
                continue
            if not all(is_arr):
                continue  # mixed scalar/null/array rows: parquet-only
            lens = {len(v) for v in series}
            if len(lens) != 1:
                continue
            try:
                mat = np.stack([numeric_cell(v) for v in series])
            except (TypeError, ValueError):
                continue  # non-numeric/ragged arrays: stay parquet-only
            if mat.ndim == 2:
                array_cols[col] = mat
            elif mat.ndim == 3:
                nested_cols[col] = mat
        axis_name = next(
            (
                c
                for c in ("frequency", "diwasp_frequency")
                if c in array_cols
            ),
            None,
        )
        if axis_name is not None:
            # export the family sharing the axis width; other-width
            # array columns stay parquet-only unless they serve as
            # the direction axis of a 3-D spectrum
            width = array_cols[axis_name].shape[1]
            dims[axis_name] = width
            variables[axis_name] = {
                "dims": (axis_name,),
                "data": array_cols[axis_name][0],
                "attrs": var_attrs.get(axis_name, {}),
            }
            dir_name = next(
                (
                    c
                    for c in ("direction", "diwasp_direction")
                    if c in array_cols
                ),
                None,
            )
            dir_width = (
                array_cols[dir_name].shape[1]
                if dir_name is not None
                else None
            )
            dir_used = dir_name is not None and any(
                cube.shape[1:] == (width, dir_width)
                for cube in nested_cols.values()
            )
            if dir_used:
                dims[dir_name] = dir_width
                variables[dir_name] = {
                    "dims": (dir_name,),
                    "data": array_cols[dir_name][0],
                    "attrs": var_attrs.get(dir_name, {}),
                }
            for col, mat in array_cols.items():
                if col == axis_name or mat.shape[1] != width:
                    continue
                if dir_used and col == dir_name:
                    continue
                variables[col] = {
                    "dims": ("time", axis_name),
                    "data": mat,
                    "attrs": var_attrs.get(col, {}),
                }
            if dir_used:
                for col, cube in nested_cols.items():
                    if cube.shape[1:] != (width, dir_width):
                        continue  # unmatched shape: parquet-only
                    variables[col] = {
                        "dims": ("time", axis_name, dir_name),
                        "data": cube,
                        "attrs": var_attrs.get(col, {}),
                    }
        for col in pdf.columns:
            if col == "time" or col in array_cols or col in nested_cols:
                continue
            series = pdf[col]
            if series.dtype == object and len(series) and not all(
                isinstance(v, str) for v in series
            ):
                continue
            data = series.to_numpy()
            if data.dtype == object:
                data = data.astype("U")
            variables[col] = {
                "dims": ("time",),
                "data": data,
                "attrs": var_attrs.get(col, {}),
            }

    epoch = np.asarray(times, dtype="datetime64[us]").astype("int64") / 1e6
    # reference time-encoding contract (utils.py:1545-1569
    # check_time_fits_in_int32 / check_time_encoding): CF-prefer i4
    # seconds when every stamp is whole-second and fits in int32; keep
    # double (with the reference's overflow warning) otherwise
    time_data = epoch.astype(np.float64)
    if len(epoch) and np.all(epoch == np.floor(epoch)):
        if np.nanmax(np.abs(epoch)) > (2**31 - 1):
            import warnings

            warnings.warn(
                "32-bit integer overflow on time; "
                "setting encoding to i4 will fail"
            )
        else:
            time_data = epoch.astype(np.int32)
    variables = {
        "time": {
            "dims": ("time",),
            "data": time_data,
            "attrs": {
                "units": _TIME_UNITS,
                "standard_name": "time",
                "calendar": "proleptic_gregorian",
                **var_attrs.get("time", {}),
            },
        },
        **variables,
    }
    write_nc3(path, dims, variables, global_attrs)
