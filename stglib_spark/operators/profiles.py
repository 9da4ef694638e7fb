"""Ragged-profile (CTD cast) bookkeeping and profile-level selection.

Reference: CF contiguous-ragged-array construction for RBR profile mode —
``stglib/rsk/csv2cdf.py:117-215`` (profile/obs dims, ``row_size``
``row_start``), re-derivation after clipping ``stglib/rsk/cdf2nc.py:94-113``,
whole-profile selection ``stglib/rsk/cdf2nc.py:396-438`` (profile_clip_ds).

Spark-first shape: profiles ARE the natural long form — one row per
observation with a ``profile_id`` column; the ragged-array index
(``row_size`` per cast, ``row_start`` exclusive prefix sum) is one count
aggregation plus one ordered window over the tiny per-profile table (one
row per cast, thousands at most), never over the observations themselves.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame, Window, functions as F


def ragged_index(
    df: DataFrame,
    profile_col: str = "profile",
) -> DataFrame:
    """CF contiguous-ragged-array bookkeeping (rsk/csv2cdf.py:157-164):
    per-profile ``row_size`` (observation count) and ``row_start``
    (exclusive prefix sum in profile order). Returns ONE ROW PER PROFILE —
    the index table netCDF writers need; join back to the observations on
    ``profile_col`` (broadcast: the index is tiny) when materializing."""
    sizes = df.groupBy(profile_col).agg(F.count(F.lit(1)).alias("row_size"))
    w = (
        Window.orderBy(profile_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return sizes.withColumn(
        "row_start", F.coalesce(F.sum("row_size").over(w), F.lit(0))
    )


def profile_clip(
    df: DataFrame,
    config: dict[str, Any],
    profile_col: str = "profile",
) -> DataFrame:
    """Whole-profile selection by ``good_profs`` index ranges
    (rsk/cdf2nc.py:396-438): keep profiles whose number falls in any
    [start, end] pair (inclusive). Deletes rows — this is a clip, not a
    QA/QC null."""
    pairs: Sequence[tuple[int, int]] = config.get("good_profs") or ()
    if not pairs:
        return df
    cond = F.lit(False)
    for lo, hi in pairs:
        cond = cond | F.col(profile_col).between(F.lit(int(lo)), F.lit(int(hi)))
    return df.filter(cond)
