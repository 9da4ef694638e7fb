"""CF compliance linting (the reference's post-write check,
stglib/core/utils.py:44-70, which shells out to the IOOS
compliance-checker and saves ``<file>.cfcheck.txt``).

The full checker isn't available here, so this is a first-party lint of
the checks that matter for our outputs — attribute completeness against
the CF-1.11 conventions the reference targets (stglib/__init__.py:38) —
run against the DataFrame + its column metadata BEFORE export, which
catches the same problems one stage earlier than a file checker. When
the real ``compliance_checker`` package is importable, ``check_netcdf``
delegates to it exactly like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, TimestampType

from stglib_spark.attrs import collect_var_attrs

#: global attributes CF expects on every output (reference writes these
#: via write_metadata, utils.py:831-853)
REQUIRED_GLOBALS = ("Conventions", "title", "history", "institution")

#: key columns that are coordinates, not data variables
_COORD_COLS = {"time", "sample", "bindist", "z", "depth", "latitude", "longitude",
               "frequency", "direction", "profile", "burst", "burst_time", "x", "y"}


def check_dataframe(
    df: DataFrame, global_attrs: dict | None = None
) -> list[str]:
    """Lint a DataFrame destined for netCDF export; returns violations
    (empty list = clean). Checks:

    - a ``time`` column exists and is TimestampType;
    - every non-coordinate data column carries ``units`` and one of
      ``long_name``/``standard_name`` in its column metadata;
    - required global attributes are present and non-empty;
    - ``Conventions`` names a CF version.
    """
    problems: list[str] = []
    fields = {f.name: f for f in df.schema.fields}
    # wave/burst products carry their time axis as burst_time (the
    # reference's s-a.nc time dim is the burst start); either name
    # satisfies the axis requirement, but it must be a real timestamp
    tcol = "time" if "time" in fields else (
        "burst_time" if "burst_time" in fields else None
    )
    if tcol is None:
        problems.append("missing 'time' column")
    elif not isinstance(fields[tcol].dataType, TimestampType):
        problems.append(
            f"'{tcol}' must be TIMESTAMP, got {fields[tcol].dataType.simpleString()}"
        )

    meta = collect_var_attrs(df)
    for name in df.columns:
        if name in _COORD_COLS or name.startswith("__"):
            continue
        attrs = meta.get(name, {})
        # CF units apply to numeric data variables; character/label
        # variables (e.g. diwasp_type) carry only a long_name — the
        # reference writes them exactly so (utils.py diwasp_type attrs)
        is_string = isinstance(fields[name].dataType, StringType) if (
            name in fields
        ) else False
        if "units" not in attrs and not is_string:
            problems.append(f"variable '{name}': missing units attribute")
        if "long_name" not in attrs and "standard_name" not in attrs:
            problems.append(
                f"variable '{name}': missing long_name/standard_name"
            )

    ga = global_attrs or {}
    for key in REQUIRED_GLOBALS:
        if not ga.get(key):
            problems.append(f"missing global attribute '{key}'")
    conventions = str(ga.get("Conventions", ""))
    if conventions and "CF-" not in conventions:
        problems.append(
            f"Conventions '{conventions}' does not name a CF version"
        )
    return problems


def write_report(problems: list[str], out_path: str) -> None:
    """Persist the lint result next to the export, mirroring the
    reference's ``<file>.cfcheck.txt`` (utils.py:52-58)."""
    with open(out_path, "w", encoding="utf-8") as f:
        if problems:
            f.write("\n".join(problems) + "\n")
        else:
            f.write("OK: no CF lint violations\n")


def check_netcdf(nc_file: str) -> list[str]:
    """Post-write file check. Uses the IOOS compliance-checker when
    installed (reference behavior, utils.py:44-70); otherwise re-reads
    the file with the classic-netCDF3 codec and lints attribute
    completeness the same way ``check_dataframe`` does."""
    try:
        from compliance_checker.runner import CheckSuite, ComplianceChecker
    except ImportError:
        pass
    else:
        check_suite = CheckSuite()
        check_suite.load_all_available_checkers()
        output = f"{nc_file}.cfcheck.txt"
        ComplianceChecker.run_checker(
            str(nc_file),
            ["cf:1.11"],
            1,
            "normal",
            output_filename=output,
            output_format="text",
        )
        with open(output, encoding="utf-8") as f:
            return [line.rstrip() for line in f if line.strip()]

    from stglib_spark.functions.netcdf3 import read_nc3

    # the check is documented non-fatal, so an unreadable container
    # (netCDF-4/HDF5) reports rather than raises
    try:
        nc = read_nc3(str(nc_file))
    except Exception as exc:
        problems = [f"cannot check: {exc}"]
        write_report(problems, f"{nc_file}.cfcheck.txt")
        return problems
    problems: list[str] = []
    for key in REQUIRED_GLOBALS:
        if not nc["attrs"].get(key):
            problems.append(f"missing global attribute '{key}'")
    dim_like = set(nc["dims"]) | {"time"}
    for name, var in nc["variables"].items():
        if name in dim_like or name in _COORD_COLS:
            continue
        if "units" not in var["attrs"]:
            problems.append(f"variable '{name}': missing units attribute")
        if "long_name" not in var["attrs"] and "standard_name" not in var["attrs"]:
            problems.append(f"variable '{name}': missing long_name/standard_name")
    write_report(problems, f"{nc_file}.cfcheck.txt")
    return problems
