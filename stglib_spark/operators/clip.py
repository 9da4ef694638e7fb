"""Row-selection operators: deployment clipping and trims.

Reference semantics: ``stglib/core/utils.py:73-180`` (``clip_ds``: keep rows
in [Deployment_date, Recovery_date], or index ranges ``good_ens``, or
multi-range ``good_dates``), ``utils.py:1812-1854`` (``clip_ds_prf``
vertical clip). Whole-profile selection (``rsk/cdf2nc.py:396-438``) is
:func:`stglib_spark.operators.profiles.profile_clip`.

These and ``profile_clip`` are the ONLY operators that delete rows —
QA/QC rules null cells (see :mod:`stglib_spark.operators.qaqc`). All
compile to plain filters so Catalyst pushes them into the parquet scan
(partition pruning + min/max row-group skipping at scale).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window, functions as F


def _ts(value: Any) -> Column:
    """Literal → timestamp-typed Column (strings cast explicitly so the
    comparison is unambiguous under ANSI mode)."""
    lit = F.lit(value)
    return lit.cast("timestamp") if isinstance(value, str) else lit


def clip_ds(
    df: DataFrame,
    config: dict[str, Any],
    time_col: str = "time",
) -> DataFrame:
    """Clip to the deployment window / good ensembles / good date ranges.

    Precedence mirrors utils.py:73-180: ``good_ens`` (index pairs) >
    ``good_dates`` (multi-range OR) > [Deployment_date, Recovery_date].
    """
    if config.get("good_ens") is not None:
        pairs = config["good_ens"]
        w = Window.orderBy(time_col)
        idx = F.row_number().over(w) - 1  # 0-based like the reference's isel
        cond = F.lit(False)
        for start, end in pairs:
            cond = cond | (
                (F.col("__idx") >= F.lit(int(start)))
                & (F.col("__idx") < F.lit(int(end)))
            )
        return df.withColumn("__idx", idx).filter(cond).drop("__idx")
    if config.get("good_dates") is not None:
        cond = F.lit(False)
        for start, end in config["good_dates"]:
            cond = cond | F.col(time_col).between(_ts(start), _ts(end))
        return df.filter(cond)
    dep = config.get("Deployment_date")
    rec = config.get("Recovery_date")
    if dep is not None and rec is not None:
        return df.filter(F.col(time_col).between(_ts(dep), _ts(rec)))
    return df


def clip_ds_prf(
    df: DataFrame, config: dict[str, Any], bindist_col: str = "bindist"
) -> DataFrame:
    """Vertical clip by ``good_bindist`` [lo, hi] (utils.py:1812-1854)."""
    if config.get("good_bindist") is None:
        return df
    lo, hi = config["good_bindist"]
    return df.filter(F.col(bindist_col).between(F.lit(lo), F.lit(hi)))


def trim_max_wp(df: DataFrame, config: dict[str, Any]) -> DataFrame:
    """Wave-stats QA (utils.py:752-828): four sequential keep-where rules,
    each nulling its own variable list. Order matters — a stat nulled by an
    earlier rule makes a later rule's condition unevaluable (NULL), which
    nulls the cell, exactly like the reference's NaN-comparison → False →
    ``.where`` fill. Nulls cells, never deletes rows.

      wp_max   : null wp_peak, wp_4060 unless wp_peak < m AND wp_4060 < m
      wh_min   : null wp_peak, wh_4061, wp_4060 unless wh_4061 > m
      wh_max   : null wp_peak, wh_4061, wp_4060 unless wh_4061 < m
      wp_ratio : null wp_peak, wp_4060 unless wp_peak/wp_4060 < m
    """

    def keep(out: DataFrame, cond, variables: list[str]) -> DataFrame:
        # materialize the condition BEFORE nulling: every var in the list
        # must be judged against the rule-start values, not ones already
        # nulled by this same rule
        out = out.withColumn("__keep", F.coalesce(cond, F.lit(False)))
        for s in variables:
            if s in out.columns:
                out = out.withColumn(
                    s, F.when(F.col("__keep"), F.col(s)).otherwise(F.lit(None))
                )
        return out.drop("__keep")

    out = df
    if config.get("wp_max") is not None:
        m = F.lit(config["wp_max"])
        out = keep(
            out,
            (F.col("wp_peak") < m) & (F.col("wp_4060") < m),
            ["wp_peak", "wp_4060"],
        )
    if config.get("wh_min") is not None:
        out = keep(
            out,
            F.col("wh_4061") > F.lit(config["wh_min"]),
            ["wp_peak", "wh_4061", "wp_4060"],
        )
    if config.get("wh_max") is not None:
        out = keep(
            out,
            F.col("wh_4061") < F.lit(config["wh_max"]),
            ["wp_peak", "wh_4061", "wp_4060"],
        )
    if config.get("wp_ratio") is not None:
        out = keep(
            out,
            F.col("wp_peak") / F.col("wp_4060") < F.lit(config["wp_ratio"]),
            ["wp_peak", "wp_4060"],
        )
    return out
