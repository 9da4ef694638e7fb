"""Join operators: as-of (nearest / backward / forward, with tolerance)
and the atmospheric-correction join built on it.

The reference has four hard-coded join patterns (SURVEY §2.6), all
time-alignment joins of a big fact series against a small companion
series: met pressure (``utils.py:1386-1414``), salinity/temperature
companion (``reindex_like nearest``, ``utils.py:1947-1954``), brange height
file (nearest within tolerance, ``aqdutils.py:551-557``), per-profile met
lookup (``rsk/cdf2nc.py:188-193``).

Spark-first design, one physical shape for both strategies: the right
side is pre-aggregated into per-bucket sorted candidate arrays and the
fact side makes exactly ONE equi-join against that bucket table; no
window ever runs over fact rows. Candidate selection is a single-pass
``F.aggregate`` over the (already sorted) candidate array — one
comparison per element, no intermediate array allocation, no
per-element timestamp casts (``__rt`` is stored as epoch-seconds double
inside the struct).

- **tolerance given (the engine default)** — bucket = floor(time/tol);
  any candidate within ±tol lives in the row's bucket or an adjacent
  one, so each right row is exploded into its bucket and both
  neighbours before the per-bucket collect, and the ±tol predicate
  inside the scan discards everything else. The bucket table is built
  from the right side alone (no scan of the fact side for its bucket
  keys, no window); the join is equi-join shaped and broadcast when the
  companion is small — this is the 100 TB path.
- **no tolerance** — same bucketed join with an adaptive width plus a
  bucket-level carry (last-preceding / first-following right struct per
  bucket) seeding the scan, giving exact unbounded-lookback semantics.
  The carry is computed by windowing over the TINY bucket-summary table
  (left ∪ right bucket keys), never over fact rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "time",
    by: Sequence[str] = (),
    value_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the right row's values whose
    time is nearest at-or-before (backward), at-or-after (forward), or
    nearest-either-side (nearest), optionally within a tolerance.

    With a tolerance the search window is ±tolerance and buckets are
    sized to it; without one, buckets are sized adaptively from the right
    side's span and a bucket-level carry (computed over the tiny bucket
    summary table) supplies the "nearest match in some earlier/later
    bucket" fallback — no window ever runs over the fact table.
    """
    value_cols = list(
        value_cols
        if value_cols is not None
        else [c for c in right.columns if c != on and c not in by]
    )
    by = list(by)

    if tolerance_seconds is not None:
        return _asof_join_bucketed(
            left, right, on, by, value_cols, direction,
            float(tolerance_seconds),
        )
    return _asof_join_unbounded(left, right, on, by, value_cols, direction)


def _rstruct(on: str, value_cols: list[str]) -> Column:
    """Candidate struct: epoch-seconds double first (sort key + compare
    key — storing the double once avoids a per-element cast inside every
    scan lambda), then the carried values."""
    return F.struct(
        F.col(on).cast("double").alias("__rt"),
        *[F.col(c).alias(f"__rv_{c}") for c in value_cols],
    )


def _scan_back(cand: Column, init: Column, t: Column, tol: float | None) -> Column:
    """Last candidate with __rt <= t (and within tol if given): one
    forward pass over the ascending array, keeping the newest match."""
    if tol is None:
        pred = lambda x: x["__rt"] <= t  # noqa: E731
    else:
        pred = lambda x: (x["__rt"] <= t) & (t - x["__rt"] <= F.lit(tol))  # noqa: E731
    return F.aggregate(cand, init, lambda acc, x: F.when(pred(x), x).otherwise(acc))


def _scan_fwd(
    cand: Column, fallback: Column, t: Column, tol: float | None, null_init: Column
) -> Column:
    """First candidate with __rt >= t (and within tol if given): one
    forward pass keeping the first match, falling through to
    ``fallback`` (the carried struct or null) when the bucket has
    none. ``null_init`` is a null literal typed as the candidate
    struct (F.aggregate requires a typed accumulator)."""
    if tol is None:
        pred = lambda x: x["__rt"] >= t  # noqa: E731
    else:
        pred = lambda x: (x["__rt"] >= t) & (x["__rt"] - t <= F.lit(tol))  # noqa: E731
    first = F.aggregate(
        cand,
        null_init,
        lambda acc, x: F.when(acc.isNotNull(), acc).when(pred(x), x),
    )
    return F.coalesce(first, fallback)


def _pick(direction: str, back: Column, fwd: Column, t: Column) -> Column:
    if direction == "backward":
        return back
    if direction == "forward":
        return fwd
    if direction == "nearest":
        bdist = t - back["__rt"]
        fdist = fwd["__rt"] - t
        return F.when(
            back.isNotNull() & (fwd.isNull() | (bdist <= fdist)), back
        ).otherwise(fwd)
    raise ValueError(f"unknown direction {direction!r}")


def _asof_join_unbounded(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
    direction: str,
) -> DataFrame:
    """Unbounded as-of as bucketed join + bucket-level carry.

    1. Bucket both sides on an adaptive width (right-side span / ~8×
       parallelism — one tiny agg job at plan build).
    2. Right side → per (by, bucket) sorted candidate array, plus a
       bucket summary (first/last struct per bucket).
    3. Carry: union the summary bucket keys with the left side's distinct
       bucket keys (small: O(#buckets)), window over THAT table to find
       each bucket's last-preceding / first-following right struct. The
       only unbounded window in the plan runs over this summary table —
       thousands of rows — never over the fact rows.
    4. Fact rows equi-join the merged bucket table ONCE (array + carry
       travel together); the in-array scan is seeded with the carried
       struct, so in-bucket candidates win by construction (they are
       strictly nearer than any carried struct on that side).
    """
    stats = right.select(
        F.min(on).alias("t0"), F.max(on).alias("t1"), F.count(F.lit(1)).alias("n")
    ).first()
    result_left = [F.col(c) for c in left.columns]
    if stats["n"] == 0:
        nulls = [
            F.lit(None).cast(right.schema[c].dataType).alias(c)
            for c in value_cols
        ]
        return left.select(*result_left, *nulls)
    span = max(
        (stats["t1"] - stats["t0"]).total_seconds()
        if hasattr(stats["t1"] - stats["t0"], "total_seconds")
        else float(stats["t1"] - stats["t0"]),
        0.0,
    )
    parallelism = left.sparkSession.sparkContext.defaultParallelism
    # bucket count scales with BOTH parallelism and right-side density:
    # candidate selection is an interpreted scan per left row, so the
    # per-bucket array must stay small — targeting ~8 right rows per
    # bucket cut the sf1 as-of query 2× (the parallelism-only width left
    # ~340-element arrays → hundreds of millions of interpreted struct
    # compares). The bucket summary stays O(#buckets), far below fact
    # cardinality, so the carry window is still cheap.
    n_buckets = max(parallelism * 8, int(stats["n"] / 8) or 1)
    width = max(span / n_buckets, 1e-6)

    def bucket(t: Column) -> Column:
        return F.floor(t.cast("double") / F.lit(width)).cast("long")

    rb = (
        right.select(
            *[F.col(c) for c in by], F.col(on), _rstruct(on, value_cols).alias("__s")
        )
        .withColumn("__bk", bucket(F.col(on)))
        .groupBy(*[F.col(c) for c in by], F.col("__bk"))
        .agg(
            F.sort_array(F.collect_list("__s")).alias("__arr"),
            F.min("__s").alias("__first"),
            F.max("__s").alias("__last"),
        )
    )
    arr_type = rb.schema["__arr"].dataType

    # bucket-key universe: every bucket either side touches
    lkeys = (
        left.select(*[F.col(c) for c in by], bucket(F.col(on)).alias("__bk"))
        .distinct()
    )
    keys = lkeys.unionByName(
        rb.select(*[F.col(c) for c in by], F.col("__bk"))
    ).distinct()
    summaries = keys.join(
        rb.select(*[F.col(c) for c in by], "__bk", "__arr", "__first", "__last"),
        [*by, "__bk"],
        "left",
    )
    carry_cols = [*[F.col(c) for c in by], F.col("__bk"), F.col("__arr")]
    if direction in ("backward", "nearest"):
        w_prev = (
            Window.partitionBy(*[F.col(c) for c in by])
            .orderBy("__bk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry_cols.append(
            F.last("__last", ignorenulls=True).over(w_prev).alias("__carry_back")
        )
    if direction in ("forward", "nearest"):
        w_next = (
            Window.partitionBy(*[F.col(c) for c in by])
            .orderBy("__bk")
            .rowsBetween(1, Window.unboundedFollowing)
        )
        carry_cols.append(
            F.first("__first", ignorenulls=True).over(w_next).alias("__carry_fwd")
        )
    buckets_tbl = summaries.select(*carry_cols)

    out = left.withColumn("__bk", bucket(F.col(on))).join(
        buckets_tbl, [*by, "__bk"], "left"
    )
    cand = F.coalesce(F.col("__arr"), F.array().cast(arr_type))
    t = F.col(on).cast("double")
    null_init = F.lit(None).cast(arr_type.elementType)
    back = (
        _scan_back(cand, F.col("__carry_back"), t, None)
        if direction in ("backward", "nearest")
        else None
    )
    fwd = (
        _scan_fwd(cand, F.col("__carry_fwd"), t, None, null_init)
        if direction in ("forward", "nearest")
        else None
    )
    picked = _pick(direction, back, fwd, t)

    return out.select(
        *result_left,
        *[picked[f"__rv_{c}"].alias(c) for c in value_cols],
    )


def _asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
    direction: str,
    tol: float,
) -> DataFrame:
    """Tolerance-bounded as-of join as a time-bucketed equi-join.

    Bucket = floor(t/tol), so any candidate within ±tol of a left row
    lives in the left row's bucket or an adjacent one. Each right row is
    exploded into its own bucket and both neighbours (b-1, b, b+1) and
    collected into one sorted candidate array per (by, bucket): built
    from the right side alone, with no scan of the fact side for its
    bucket keys and no window. Buckets are disjoint time ranges, so the
    array equals the concatenation of the sorted arrays of buckets
    b-1, b and b+1; a right row further than one bucket away is never a
    candidate (its distance exceeds tol). The fact side is scanned once
    and makes a SINGLE equi-join against the bucket table, which Spark
    broadcasts whenever its size estimate, that of the right side, is
    small. Per-bucket arrays are bounded by 3 × tol × the right side's
    sample rate — the companion series by construction (SURVEY §2.6:
    met/salinity/brange lookups).
    """

    def bucket(t: Column) -> Column:
        return F.floor(t.cast("double") / F.lit(tol)).cast("long")

    b = bucket(F.col(on))
    buckets_tbl = (
        right.select(
            *[F.col(c) for c in by],
            _rstruct(on, value_cols).alias("__s"),
            F.explode(F.array(b - 1, b, b + 1)).alias("__bk"),
        )
        .groupBy(*[F.col(c) for c in by], F.col("__bk"))
        .agg(F.sort_array(F.collect_list("__s")).alias("__cand"))
    )
    arr_type = buckets_tbl.schema["__cand"].dataType

    out = left.withColumn("__bk", bucket(F.col(on))).join(
        buckets_tbl, [*by, "__bk"], "left"
    )
    cand = F.coalesce(F.col("__cand"), F.array().cast(arr_type))
    t = F.col(on).cast("double")
    null_init = F.lit(None).cast(arr_type.elementType)
    back = (
        _scan_back(cand, null_init, t, tol)
        if direction in ("backward", "nearest")
        else None
    )
    fwd = (
        _scan_fwd(cand, null_init, t, tol, null_init)
        if direction in ("forward", "nearest")
        else None
    )
    picked = _pick(direction, back, fwd, t)

    result_cols = [F.col(c) for c in left.columns] + [
        picked[f"__rv_{c}"].alias(c) for c in value_cols
    ]
    return out.select(*result_cols)


def atmos_correct(
    df: DataFrame,
    met: DataFrame,
    config: dict | None = None,
    pressure_col: str = "P_1",
) -> DataFrame:
    """``P_1ac = P_1 − atmpres(t) − offset`` with the met series aligned
    by nearest-time within tolerance (utils.py:1386-1414; the legacy
    10-minute reindex tolerance at utils.py:1405-1412).
    """
    offset = float((config or {}).get("atmpres_offset", 0.0))
    joined = asof_join(
        df,
        met.select("time", "atmpres"),
        direction="nearest",
        tolerance_seconds=600.0,
    )
    return joined.withColumn(
        "P_1ac", F.col(pressure_col) - F.col("atmpres") - F.lit(offset)
    )
