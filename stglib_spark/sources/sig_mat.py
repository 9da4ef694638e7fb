"""Nortek Signature ``.mat`` multi-group ingest.

Reference semantics: ``stglib/sig/mat2cdf.py:22-710`` — a Signature
deployment exports numbered MAT v5 files (``basefile_1.mat`` …) whose
``Data`` struct mixes several concurrently-sampled groups (Burst, IBurst,
BurstHR, EchoSounder, Average, BurstRawAltimeter, plus ``Alt_``-prefixed
second-instrument variants). The reference splits them into one xarray
Dataset per group gated by ``Config`` plan flags, builds a per-group
``bindist`` axis from blanking distance + cell size, maps each
``{Group}_{Var}`` Matlab field to a variable, special-cases the 2-D IMU
fields (AHRSRotationMatrix 9-wide, Magnetometer/Accelerometer 3-wide),
stamps ``sample_mode`` (BURST / CONTINUOUS / AVERAGE,
``mat2cdf.py:633-658``), attaches every Config entry as a ``SIG``-prefixed
attr (``read_config_mat``), per-variable units/long_names
(``add_units`` / ``add_descriptions``), and the ``Beam2xyz`` matrix
(``add_transmatrix``) — then writes one raw file per group
(``mat_to_cdf``, ftype table at ``mat2cdf.py:744-767``).

Spark-first shape: each group becomes ONE DataFrame — profile groups in
long form (one row per (time, bin), ``bindist`` as a real column, beams
stacked into ``vel1..velN`` / ``amp..`` / ``cor..`` columns so the
existing BEAM→ENU transform applies directly), scalar groups one row per
time. Parsing is a pure bytes→rows function, so a many-file deployment
fans out one task per file (``parallelize(paths).flatMap``) instead of
the reference's serial tqdm loop; schema and attrs come from parsing the
first file on the driver (config-scale, O(KB)).
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import re
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
    TimestampType,
)

# (prefix, split index for "{Group}_{Var}" field names); Alt_ groups carry
# one extra underscore (mat2cdf.py:505+ uses k.split("_")[2])
_FTYPE_BY_DTYPE = {
    "Burst": "burst",
    "BurstHR": "burst",
    "IBurst": "iburst",
    "IBurstHR": "iburst",
    "EchoSounder": "echo1",
    "BurstRawAltimeter": "burstrawalt",
    "Average": "avgd",
    "Alt_Average": "altavgd",
    "Alt_Burst": "altburst",
    "Alt_BurstHR": "altburst",
    "Alt_IBurst": "altiburst",
    "Alt_IBurstHR": "altiburst",
    "Alt_EchoSounder": "altecho1",
    "Alt_BurstRawAltimeter": "altburstrawalt",
}

# beam-suffixed Matlab names → stacked engine columns; then EPIC names
# (aqd/aqdutils.py:10-55 ds_rename)
_SIG_EPIC = {
    "Pressure": "P_1",
    "Temperature": "Tx_1211",
    "Heading": "Hdg_1215",
    "Pitch": "Ptch_1216",
    "Roll": "Roll_1217",
    "Battery": "Bat_106",
    "Soundspeed": "SV_80",
}

_IMU_WIDE = {"AHRSRotationMatrix": 9, "Magnetometer": 3, "Accelerometer": 3}


def matlab2datetime(datenum: float) -> dt.datetime:
    """Matlab serial datenum → datetime (mat2cdf.py:16-19)."""
    day = dt.datetime.fromordinal(int(datenum))
    frac = dt.timedelta(days=float(datenum) % 1) - dt.timedelta(days=366)
    return day + frac


def _truthy(cfg: dict, key: str) -> bool:
    v = cfg.get(key)
    if isinstance(v, str):
        return v == "True"
    if v is None:
        return False
    return bool(np.asarray(v).ravel()[0])


def _scalar(cfg: dict, key: str) -> float | None:
    v = cfg.get(key)
    if v is None:
        return None
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return float(np.asarray(v).ravel()[0])


def _bindist(cfg: dict, stem: str) -> np.ndarray | None:
    """blanking + cell/2 + cell·arange(ncells) (mat2cdf.py:28-98)."""
    blank = _scalar(cfg, f"{stem}_BlankingDistance")
    cell = _scalar(cfg, f"{stem}_CellSize")
    ncells = _scalar(cfg, f"{stem}_NCells")
    if blank is None or cell is None or ncells is None:
        return None
    return blank + cell / 2.0 + cell * np.arange(int(ncells))


def _col1d(v: Any) -> np.ndarray:
    return np.asarray(v, dtype=np.float64).ravel()


def _beam_stack_name(var: str) -> str:
    """VelBeam1→vel1, AmpBeam2→amp2, CorBeam3→cor3 (beam stacking);
    then the EPIC map (Pressure→P_1 …)."""
    m = re.fullmatch(r"(Vel|Amp|Cor)Beam(\d)", var)
    if m:
        return f"{m.group(1).lower()}{m.group(2)}"
    return _SIG_EPIC.get(var, var)


def _detect_groups(cfg: dict, data_keys: set[str]) -> list[dict[str, Any]]:
    """Which groups exist in this export, per the Config gates
    (mat2cdf.py:102-345). Returns specs: data_type, Matlab field prefix,
    time key, bindist stem, NCells data key."""
    specs: list[dict[str, Any]] = []
    for alt in ("", "Alt_"):
        plan_burst = _truthy(cfg, f"{alt}Plan_BurstEnabled")
        plan_avg = _truthy(cfg, f"{alt}Plan_AverageEnabled")
        hr = _truthy(cfg, f"{alt}Burst_HighResolution")
        hr5 = _truthy(cfg, f"{alt}Burst_HighResolution5")

        if (
            plan_burst
            and _scalar(cfg, f"{alt}Burst_RawAltimeter") == 1
            and _truthy(cfg, f"{alt}Burst_Altimeter")
            and f"{alt}BurstRawAltimeter_Time" in data_keys
        ):
            specs.append(
                dict(
                    data_type=f"{alt}BurstRawAltimeter",
                    prefix=f"{alt}BurstRawAltimeter_",
                    time_key=f"{alt}BurstRawAltimeter_Time",
                    bindist=None,
                    ncells_key=None,
                )
            )

        if plan_burst and _scalar(cfg, f"{alt}Burst_NBeams") == 5:
            if hr5 and f"{alt}IBurstHR_Time" in data_keys:
                specs.append(
                    dict(
                        data_type=f"{alt}IBurstHR",
                        prefix=f"{alt}IBurstHR_",
                        time_key=f"{alt}IBurstHR_Time",
                        bindist=_bindist(cfg, f"{alt}BurstHR"),
                        ncells_key=f"{alt}IBurstHR_NCells",
                    )
                )
            elif f"{alt}IBurst_Time" in data_keys:
                specs.append(
                    dict(
                        data_type=f"{alt}IBurst",
                        prefix=f"{alt}IBurst_",
                        time_key=f"{alt}IBurst_Time",
                        bindist=_bindist(cfg, f"{alt}Burst"),
                        ncells_key=f"{alt}IBurst_NCells",
                    )
                )

        if plan_burst:
            if hr and f"{alt}BurstHR_Time" in data_keys:
                specs.append(
                    dict(
                        data_type=f"{alt}BurstHR",
                        prefix=f"{alt}BurstHR_",
                        time_key=f"{alt}BurstHR_Time",
                        bindist=_bindist(cfg, f"{alt}BurstHR"),
                        ncells_key=f"{alt}BurstHR_NCells",
                    )
                )
            elif f"{alt}Burst_Time" in data_keys:
                specs.append(
                    dict(
                        data_type=f"{alt}Burst",
                        prefix=f"{alt}Burst_",
                        time_key=f"{alt}Burst_Time",
                        bindist=_bindist(cfg, f"{alt}Burst"),
                        ncells_key=f"{alt}Burst_NCells",
                    )
                )

        if plan_burst and _truthy(cfg, f"{alt}Burst_EchoSounder"):
            freq1 = _scalar(cfg, f"{alt}EchoSounder_Frequency1")
            if freq1 is not None:
                fkey = f"{alt}Echo1Bin1_{int(freq1)}kHz"
                if f"{fkey}_Time" in data_keys:
                    specs.append(
                        dict(
                            data_type=f"{alt}EchoSounder",
                            prefix=f"{fkey}_",
                            time_key=f"{fkey}_Time",
                            bindist=_bindist(cfg, f"{alt}EchoSounder"),
                            ncells_key=f"{fkey}_NCells",
                        )
                    )

        if plan_avg and f"{alt}Average_Time" in data_keys:
            specs.append(
                dict(
                    data_type=f"{alt}Average",
                    prefix=f"{alt}Average_",
                    time_key=f"{alt}Average_Time",
                    bindist=_bindist(cfg, f"{alt}Average"),
                    ncells_key=f"{alt}Average_NCells",
                )
            )
    return specs


def _sample_mode(cfg: dict, data_type: str) -> str:
    """BURST vs CONTINUOUS vs AVERAGE (mat2cdf.py:633-658)."""
    if data_type.endswith("Average"):
        return "AVERAGE"
    alt = "Alt_" if data_type.startswith("Alt_") else ""
    interval = _scalar(cfg, f"{alt}Plan_BurstInterval")
    rate = _scalar(cfg, f"{alt}Burst_SamplingRate")
    nsamp = _scalar(cfg, f"{alt}Burst_NSample")
    if interval is not None and rate is not None and interval * rate == nsamp:
        return "CONTINUOUS"
    return "BURST"


def parse_sig_file(path: str) -> dict[str, dict[str, Any]]:
    """One Signature ``.mat`` file → {ftype: parsed group} with numpy
    payloads. Pure (path in, dict out) so it runs inside an executor task
    for many-file deployments."""
    from stglib_spark.functions.mat5 import loadmat

    mat = loadmat(path)
    cfg = mat.get("Config") or {}
    data = mat.get("Data") or {}
    units = mat.get("Units") or {}
    descs = mat.get("Descriptions") or {}

    groups: dict[str, dict[str, Any]] = {}
    for spec in _detect_groups(cfg, set(data)):
        dtype = spec["data_type"]
        prefix = spec["prefix"]
        time = [matlab2datetime(x) for x in _col1d(data[spec["time_key"]])]
        ncells = None
        if spec["ncells_key"] and spec["ncells_key"] in data:
            ncells = int(_col1d(data[spec["ncells_key"]])[0])
        elif spec["bindist"] is not None:
            ncells = len(spec["bindist"])

        scalars: dict[str, np.ndarray] = {}
        profiles: dict[str, np.ndarray] = {}
        extras: dict[str, np.ndarray] = {}
        var_units: dict[str, str] = {}
        var_longnames: dict[str, str] = {}
        for k, v in data.items():
            if not k.startswith(prefix) or k.endswith("_Time"):
                continue
            var = k[len(prefix):]
            if not isinstance(v, np.ndarray):
                continue
            arr = np.asarray(v)
            name = _beam_stack_name(var)
            if arr.ndim == 1:
                scalars[name] = _col1d(arr)
            elif arr.ndim == 2:
                # order matters: an (nt, ncells) matrix is a profile even
                # when nt==1 or ncells==1 — squeezing first (the obvious
                # shortcut) silently demotes single-cell groups and
                # single-burst files to scalars, breaking the multi-file
                # schema contract
                if var in _IMU_WIDE and arr.shape[1] == _IMU_WIDE[var]:
                    extras[name] = arr.astype(np.float64)
                elif (
                    ncells is not None
                    and arr.shape[1] == ncells
                    and arr.shape[0] == len(time)
                ):
                    profiles[name] = arr.astype(np.float64)
                elif 1 in arr.shape:
                    scalars[name] = _col1d(arr)  # MATLAB row/col vector
                # else: cell-count mismatch — dropped, like the reference's
                # "still need to process" branch
            for src, dst in ((units, "units"), (descs, "long_name")):
                mk = prefix + var
                if mk in src and isinstance(src[mk], str):
                    if dst == "units":
                        var_units[name] = src[mk]
                    else:
                        var_longnames[name] = src[mk]

        attrs: dict[str, Any] = {
            "data_type": dtype,
            "sample_mode": _sample_mode(cfg, dtype),
        }
        beam2xyz = None
        for ck, cv in cfg.items():
            if re.search("_Beam2xyz$", ck):
                attrs[f"SIG{ck}"] = str(cv)
                # exact match: substring containment (the reference's own
                # test, sig/mat2cdf.py:695) lets 'Burst' capture
                # 'Alt_Burst_Beam2xyz' on dual-instrument exports
                if ck == f"{dtype}_Beam2xyz" and isinstance(cv, np.ndarray):
                    beam2xyz = np.asarray(cv, dtype=np.float64)
            elif isinstance(cv, np.ndarray):
                sq = np.squeeze(cv)
                attrs[f"SIG{ck}"] = (
                    float(sq) if sq.ndim == 0 else sq.ravel().tolist()
                )
            else:
                attrs[f"SIG{ck}"] = cv

        groups[_FTYPE_BY_DTYPE.get(dtype, dtype.lower())] = dict(
            data_type=dtype,
            time=time,
            bindist=spec["bindist"],
            scalars=scalars,
            profiles=profiles,
            extras=extras,
            attrs=attrs,
            units=var_units,
            long_names=var_longnames,
            beam2xyz=beam2xyz,
        )
    return groups


def _group_schema(g: dict[str, Any]) -> StructType:
    fields = [StructField("time", TimestampType(), False)]
    if g["profiles"]:
        fields.append(StructField("bin", IntegerType(), False))
        fields.append(StructField("bindist", DoubleType(), True))
        for name in sorted(g["profiles"]):
            fields.append(StructField(name, DoubleType(), True))
    for name in sorted(g["scalars"]):
        fields.append(StructField(name, DoubleType(), True))
    for name in sorted(g["extras"]):
        fields.append(StructField(name, ArrayType(DoubleType()), True))
    return StructType(fields)


def _group_rows(
    g: dict[str, Any],
    names: tuple[list[str], list[str], list[str]] | None = None,
) -> list[tuple]:
    """Long-form rows: (time, bin) grain when profile variables exist
    (scalars repeat per bin — relational twin of xarray broadcasting),
    else one row per time.

    ``names`` is the (profile, scalar, extra) column order the SCHEMA was
    built from — i.e. the first file's variable sets. Later files in a
    multi-file deployment null-fill variables they lack and drop variables
    the schema doesn't know; aligning by each file's own sort order would
    silently shift values into the wrong columns whenever the sets differ."""
    time = g["time"]
    nt = len(time)
    if names is None:
        prof_names = sorted(g["profiles"])
        scal_names = sorted(g["scalars"])
        extra_names = sorted(g["extras"])
    else:
        prof_names, scal_names, extra_names = names
    profiles, scalars, extras = g["profiles"], g["scalars"], g["extras"]
    bindist = g["bindist"]
    rows: list[tuple] = []

    def _scal(i: int) -> list:
        return [
            float(scalars[s][i]) if s in scalars and i < len(scalars[s]) else None
            for s in scal_names
        ]

    def _extr(i: int) -> list:
        return [
            extras[e][i].tolist() if e in extras and i < len(extras[e]) else None
            for e in extra_names
        ]

    if prof_names:
        present = [p for p in prof_names if p in profiles]
        if present:
            ncells = profiles[present[0]].shape[1]
        elif bindist is not None:
            ncells = len(bindist)
        else:
            ncells = 0
        for i in range(nt):
            scal, extr = _scal(i), _extr(i)
            for b in range(ncells):
                prof = [
                    float(profiles[p][i, b])
                    if p in profiles and i < len(profiles[p]) and b < profiles[p].shape[1]
                    else None
                    for p in prof_names
                ]
                bd = float(bindist[b]) if bindist is not None and b < len(bindist) else None
                rows.append(tuple([time[i], b, bd] + prof + scal + extr))
    else:
        for i in range(nt):
            rows.append(tuple([time[i]] + _scal(i) + _extr(i)))
    return rows


def read_signature_mat(
    spark: SparkSession,
    path: str,
    config: dict[str, Any] | None = None,
) -> dict[str, DataFrame]:
    """Signature deployment → {ftype: DataFrame}, ftypes per the
    reference's output-file table (burst/iburst/echo1/avgd/altavgd/
    altburst/altiburst/altecho1/burstrawalt/altburstrawalt,
    mat2cdf.py:744-767).

    ``path`` is a single ``.mat`` file or a basefile: ``basefile_*.mat``
    are globbed and sorted by name length then name (the reference's
    ``sorted(key=len)`` numeric-suffix trick, mat2cdf.py:722-727). The
    first file parses on the driver (schema + attrs); all files then parse
    in parallel, one executor task each — rows never funnel through a
    driver-side concat."""
    from stglib_spark.session import ensure_package_shipped

    if os.path.isfile(path):
        paths = [path]
    else:
        paths = sorted(glob.glob(f"{path}_*.mat"), key=lambda p: (len(p), p))
    if not paths:
        raise FileNotFoundError(f"no Signature .mat files match {path!r}")

    first = parse_sig_file(paths[0])
    out: dict[str, DataFrame] = {}
    ensure_package_shipped(spark)
    sc = spark.sparkContext
    for ftype, g in first.items():
        schema = _group_schema(g)
        names = (sorted(g["profiles"]), sorted(g["scalars"]), sorted(g["extras"]))
        if len(paths) == 1:
            df = spark.createDataFrame(_group_rows(g, names), schema)
        else:
            # schema comes from the FIRST file; thread its variable-name
            # lists into every task so a later file missing the group (or
            # carrying a different variable set) null-fills instead of
            # raising / misaligning (row builder contract, _group_rows).
            rdd = sc.parallelize(paths, len(paths)).flatMap(
                lambda p, _ft=ftype, _nm=names: (
                    _group_rows(grp, _nm)
                    if (grp := parse_sig_file(p).get(_ft)) is not None
                    else []
                )
            )
            df = spark.createDataFrame(rdd, schema)
        extra = {
            v: {
                k: val
                for k, val in (
                    ("units", g["units"].get(v)),
                    ("long_name", g["long_names"].get(v)),
                )
                if val
            }
            for v in set(g["units"]) | set(g["long_names"])
        }
        from stglib_spark.attrs import apply_var_attrs

        df = apply_var_attrs(df, {k: v for k, v in extra.items() if v})
        out[ftype] = df
    return out
