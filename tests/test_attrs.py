"""CF/EPIC variable-attribute layer (stglib/core/attrs.py equivalent).

The reference attaches units/standard_name/epic_code to every output
variable; our carrier is StructField.metadata. These tests assert the
attrs survive apply → parquet round-trip → collect, and that the netCDF
edge adapter copies them onto the exported file's variables.
"""

import os

import pytest

from stglib_spark.attrs import (
    ALIASES,
    VAR_ATTRS,
    apply_var_attrs,
    attrs_for,
    collect_var_attrs,
)


def test_attrs_for_alias():
    assert attrs_for("Pressure") == VAR_ATTRS["P_1"]
    assert attrs_for("T_28")["epic_code"] == 28
    assert attrs_for("no_such_var") is None


def test_apply_collect_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1.0, 20.0, 99.0)], ["P_1", "T_28", "unknown_var"]
    )
    tagged = apply_var_attrs(df, extra={"P_1": {"note": "Trimmed 3 values"}})
    meta = collect_var_attrs(tagged)
    assert meta["P_1"]["units"] == "dbar"
    assert meta["P_1"]["note"] == "Trimmed 3 values"
    assert meta["T_28"]["standard_name"] == "sea_water_temperature"
    assert "unknown_var" not in meta

    # parquet round-trip preserves column metadata
    out = os.path.join(tmp_path, "attrs.parquet")
    tagged.write.mode("overwrite").parquet(out)
    back = collect_var_attrs(spark.read.parquet(out))
    assert back["P_1"]["units"] == "dbar"
    assert back["T_28"]["epic_code"] == 28


def test_netcdf_export_carries_attrs(spark, tmp_path):
    """The classic-nc3 export carries global and per-variable attrs."""
    import datetime

    from stglib_spark.functions.netcdf3 import read_nc3
    from stglib_spark.sources.netcdf import write_netcdf

    rows = [
        (datetime.datetime(2024, 1, 1, 0, 0, i), 10.0 + i, 20.0) for i in range(4)
    ]
    df = apply_var_attrs(
        spark.createDataFrame(rows, ["time", "P_1", "T_28"])
    )
    path = os.path.join(tmp_path, "out.nc")
    write_netcdf(df, path, attrs={"MOORING": "1076"})
    nc = read_nc3(path)
    gattrs = nc["attrs"]
    p1 = nc["variables"]["P_1"]["attrs"]
    t28 = nc["variables"]["T_28"]["attrs"]
    assert gattrs["MOORING"] == "1076"
    assert p1["units"] == "dbar"
    assert t28["standard_name"] == "sea_water_temperature"


def test_aliases_resolve_to_known_vars():
    for alias, canonical in ALIASES.items():
        assert canonical in VAR_ATTRS
