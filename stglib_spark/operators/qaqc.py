"""Config-driven QA/QC rule engine compiled to Column expressions.

Reference semantics: ``stglib/core/qaqc.py`` (orchestrator ``call_qaqc``
:12-60; rules :63-693). Every rule NULLS failing cells — it never deletes
rows (deletes happen only in clip/trim operators) — and the engine records
an audit note with the affected count per rule (utils.py:1361-1373).

Spark-first design: the whole rule set for a variable compiles into ONE
``when(bad, NULL).otherwise(col)`` chain inside a single ``select`` so
Catalyst fuses it into one whole-stage-codegen projection; ordered rules
(first differences, rolling medians, blips, flier runs) use window
functions partitioned by the series key and ordered by time — at 100 TB the
shuffle is one exchange on the series key shared by every ordered rule.

Rules (config key → semantics, all per-variable ``<v>_...``):
  min / max              null where v < m / v > m          (qaqc.py:63-86)
  min_diff / max_diff    null where v - prev(v) < / > t    (qaqc.py:89-130; ediff1d to_begin=0 → first row diff 0)
  min_diff_pct / max_diff_pct  same on 100*(v-prev)/prev   (qaqc.py:102-148)
  med_diff               null where |v - rolling_median_k(v)| > t  (qaqc.py:151-235)
  med_diff_pct           percent version                   (qaqc.py:238-255)
  max_blip[_pct]         single-sample spike: diff_prev > t AND diff_next < -t  (qaqc.py:359-396)
  maxabs_diff            null where |v - prev(v)| >= t     (qaqc.py:605-633)
  max_std / std_ratio    companion <v>_std gates           (qaqc.py:339-356,636-659)
  bad_ens                null in [start,end] ranges        (qaqc.py:258-286)
  bad_ens_indiv          null at listed instants           (qaqc.py:289-312)
  fliers                 null runs of <= N consecutive valid values bounded by nulls  (qaqc.py:399-455)
  mask                   null where any listed var is null (qaqc.py:496-522)
  mask_expr              predicate mini-DSL                (qaqc.py:525-602)
  warmup_samples         null first N samples per burst    (qaqc.py:662-674 trim_warmup)
  burst_min_kill         any sample in burst < m → null whole burst (rsk/cdf2nc.py:242-262)
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Window, functions as F


@dataclass
class SeriesSpec:
    """How a long-form table is keyed: series identity, time order, and
    optional within-burst structure. ``order_cols`` adds tie-breakers after
    the time column so window frames are deterministic when timestamps can
    repeat."""

    time_col: str = "time"
    series_cols: tuple[str, ...] = ()
    burst_col: str | None = None
    sample_col: str | None = None
    order_cols: tuple[str, ...] | None = None
    bin_col: str | None = None  # vertical/profile dim (bindist/z) for 2-D rules

    def ordering(self) -> list:
        return [F.col(c) for c in (self.order_cols or (self.time_col,))]

    def ordered_window(self) -> Window:
        return Window.partitionBy(*[F.col(c) for c in self.series_cols]).orderBy(
            *self.ordering()
        )

    def burst_window(self) -> Window:
        keys = [*self.series_cols]
        if self.burst_col:
            keys.append(self.burst_col)
        return Window.partitionBy(*[F.col(c) for c in keys])


@dataclass
class CompiledRule:
    rule: str
    var: str
    bad: Column  # true where the cell fails and must be nulled


@dataclass
class QaqcResult:
    df: DataFrame
    rules: list[CompiledRule] = field(default_factory=list)

    def audit_counts(self) -> dict[str, int]:
        """Affected-cell count per rule (newly nulled, i.e. was valid and
        failed) — one aggregation job for all rules, mirroring the
        reference's per-rule notes (utils.py:1361-1373). Requires
        ``apply_qaqc(..., keep_audit_cols=True)``."""
        if self.rules and f"__was_valid_0" not in self.df.columns:
            raise ValueError(
                "audit columns were stripped; call "
                "apply_qaqc(..., keep_audit_cols=True) to use audit_counts()"
            )
        aggs = [
            F.sum(
                F.when(F.col(f"__was_valid_{i}") & F.col(f"__bad_{i}"), 1).otherwise(0)
            ).alias(f"{r.var}:{r.rule}")
            for i, r in enumerate(self.rules)
        ]
        if not aggs:
            return {}
        row = self.df.agg(*aggs).collect()[0]
        return {k: int(v or 0) for k, v in row.asDict().items()}

    def observed_audit(self):
        """Affected-cell counts WITHOUT a separate aggregation pass:
        returns ``(df, get_counts)`` where ``df`` carries the same
        per-rule aggregates as :meth:`audit_counts` attached as a
        ``pyspark.sql.Observation`` — they are computed for free during
        the caller's next action on ``df`` (e.g. the clean-zone write),
        instead of re-running the whole QA/QC projection just to count
        (one full extra pass per run_clean, guide §1.2 "don't compute
        things twice"). ``get_counts()`` blocks until that action has
        run and returns the identical {var:rule -> n} map."""
        from pyspark.sql import Observation

        if self.rules and "__was_valid_0" not in self.df.columns:
            raise ValueError(
                "audit columns were stripped; call "
                "apply_qaqc(..., keep_audit_cols=True) to use observed_audit()"
            )
        aggs = [
            F.sum(
                F.when(F.col(f"__was_valid_{i}") & F.col(f"__bad_{i}"), 1).otherwise(0)
            ).alias(f"{r.var}:{r.rule}")
            for i, r in enumerate(self.rules)
        ]
        if not aggs:
            return self.df, dict
        obs = Observation()
        return (
            self.df.observe(obs, *aggs),
            lambda: {k: int(v or 0) for k, v in obs.get.items()},
        )


def translate_mask_expr(expr: str) -> str:
    """Translate the reference's mask-expression mini-DSL to ANSI SQL.

    Grammar per ``qaqc.py:525-602``: clauses ``(VAR op LITERAL)`` with ops
    ``> < >= <= == !=``, the special literal ``nan`` (meaning missing), and
    ``&`` / ``|`` chaining. Output is valid in both Spark SQL and DuckDB.
    """
    s = expr
    # `X == nan` → `X IS NULL`; `X != nan` → `X IS NOT NULL`
    s = re.sub(r"(\w+)\s*==\s*nan", r"\1 IS NULL", s)
    s = re.sub(r"(\w+)\s*!=\s*nan", r"\1 IS NOT NULL", s)
    return s.replace("==", "=").replace("&", " AND ").replace("|", " OR ")


def _rolling_median(var: str, k: int, spec: SeriesSpec) -> Column:
    """Exact k-point centered rolling median along the series order.

    Spark's ``median`` aggregate cannot take a window frame, so the frame's
    values are gathered with ``collect_list`` (nulls excluded, matching SQL
    median semantics), sorted, and the middle element(s) interpolated —
    still fully JVM-side. Edge frames are shorter than k (no zero-padding;
    the reference's scipy ``medfilt`` zero-pads edges — interior cells, the
    ones that matter, agree exactly)."""
    half = k // 2
    w = spec.ordered_window().rowsBetween(-half, half)
    arr = F.array_sort(F.collect_list(F.col(var)).over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    odd_mid = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even_lo = F.element_at(arr, (n / 2).cast("int"))
    return F.when(n == 0, F.lit(None)).when(
        n % 2 == 1, odd_mid
    ).otherwise((even_lo + mid_hi) / 2.0)


def compile_rules(
    config: dict[str, Any], variables: list[str], spec: SeriesSpec
) -> tuple[list[CompiledRule], list[tuple[str, Column]]]:
    """Compile config keys → (rules, prep columns).

    ``prep`` is an ordered list of intermediate columns that must be
    materialized (withColumn) before rule predicates can reference them —
    needed when a window function feeds another window's partitioning
    (fliers' gaps-and-islands). Order matches the reference's call_qaqc
    ordering: value gates, diffs, medians, blips, ranges, fliers, masks,
    trims."""
    rules: list[CompiledRule] = []
    prep: list[tuple[str, Column]] = []

    def add(rule: str, var: str, bad: Column) -> None:
        rules.append(CompiledRule(rule, var, bad))

    # Every Column below costs py4j round trips to build, so the ordered
    # window and each variable's lag/lead/diff Columns are built on first
    # use, once, and shared by the rules that use them; a variable with
    # only value gates builds none of them.
    @functools.cache
    def w() -> Window:
        return spec.ordered_window()

    for v in variables:
        c = F.col(v)

        @functools.cache
        def prev() -> Column:
            return F.lag(c).over(w())

        @functools.cache
        def nxt() -> Column:
            return F.lead(c).over(w())

        @functools.cache
        def diff() -> Column:
            # ediff1d to_begin=0
            return F.when(prev().isNull(), F.lit(0.0)).otherwise(c - prev())

        @functools.cache
        def diff_pct() -> Column:
            return F.when(
                prev().isNull() | (prev() == 0), F.lit(0.0)
            ).otherwise(100.0 * (c - prev()) / prev())

        def has(key: str) -> bool:
            return f"{v}_{key}" in config and config[f"{v}_{key}"] is not None

        def val(key: str) -> Any:
            return config[f"{v}_{key}"]

        if has("min"):
            add("min", v, c < F.lit(val("min")))
        if has("max"):
            add("max", v, c > F.lit(val("max")))
        if has("min_diff"):
            add("min_diff", v, diff() < F.lit(val("min_diff")))
        if has("max_diff"):
            add("max_diff", v, diff() > F.lit(val("max_diff")))
        if has("min_diff_pct"):
            add("min_diff_pct", v, diff_pct() < F.lit(val("min_diff_pct")))
        if has("max_diff_pct"):
            add("max_diff_pct", v, diff_pct() > F.lit(val("max_diff_pct")))
        if has("med_diff"):
            kernel, thresh = val("med_diff")
            med = _rolling_median(v, int(kernel), spec)
            add("med_diff", v, F.abs(c - med) > F.lit(thresh))
        if has("med_diff_pct"):
            kernel, thresh = val("med_diff_pct")
            med = _rolling_median(v, int(kernel), spec)
            add(
                "med_diff_pct",
                v,
                F.when(med != 0, F.abs(100.0 * (c - med) / med)).otherwise(F.lit(0.0))
                > F.lit(thresh),
            )
        if has("max_blip"):
            t = val("max_blip")
            add("max_blip", v, ((c - prev()) > F.lit(t)) & ((nxt() - c) < F.lit(-t)))
        if has("max_blip_pct"):
            t = val("max_blip_pct")
            up = F.when(prev() != 0, 100.0 * (c - prev()) / prev())
            down = F.when(c != 0, 100.0 * (nxt() - c) / c)
            add("max_blip_pct", v, (up > F.lit(t)) & (down < F.lit(-t)))
        if has("maxabs_diff"):
            add("maxabs_diff", v, F.abs(c - prev()) >= F.lit(val("maxabs_diff")))
        if has("maxabs_diff_2d") and spec.bin_col:
            # (val_along_time, val_along_bin); bad where |diff| ≥ t along
            # EITHER dim (reference applies the two wheres sequentially =
            # OR; first element of each dim padded not-bad, qaqc.py:458-493)
            t1, t2 = val("maxabs_diff_2d")
            w_time = Window.partitionBy(
                *[F.col(x) for x in spec.series_cols], F.col(spec.bin_col)
            ).orderBy(*spec.ordering())
            w_bin = Window.partitionBy(
                *[F.col(x) for x in spec.series_cols], F.col(spec.time_col)
            ).orderBy(F.col(spec.bin_col))
            d1 = F.abs(c - F.lag(c).over(w_time)) >= F.lit(t1)
            d2 = F.abs(c - F.lag(c).over(w_bin)) >= F.lit(t2)
            add(
                "maxabs_diff_2d",
                v,
                F.coalesce(d1, F.lit(False)) | F.coalesce(d2, F.lit(False)),
            )
        if has("max_std"):
            add("max_std", v, F.col(f"{v}_std") > F.lit(val("max_std")))
        if has("std_ratio"):
            add("std_ratio", v, F.when(c != 0, F.col(f"{v}_std") / c).otherwise(F.lit(0.0)) > F.lit(val("std_ratio")))
        if has("bad_ens"):
            pairs = val("bad_ens")
            cond = F.lit(False)
            tcol = F.col(spec.time_col)
            for start, end in pairs:
                cond = cond | tcol.between(F.lit(start), F.lit(end))
            add("bad_ens", v, cond)
        if has("bad_ens_indiv"):
            add("bad_ens_indiv", v, F.col(spec.time_col).isin(list(val("bad_ens_indiv"))))
        if has("fliers"):
            n = int(val("fliers"))
            # gaps-and-islands: group id increments at each null → contiguous
            # valid runs share a group; runs with count <= n are fliers.
            grp_name = f"__grp_{v}"
            prep.append(
                (
                    grp_name,
                    F.sum(F.when(c.isNull(), 1).otherwise(0)).over(
                        w().rowsBetween(Window.unboundedPreceding, 0)
                    ),
                )
            )
            run_w = Window.partitionBy(
                *[F.col(x) for x in spec.series_cols], F.col(grp_name)
            )
            run_len = F.sum(F.when(c.isNotNull(), 1).otherwise(0)).over(run_w)
            add("fliers", v, c.isNotNull() & (run_len <= F.lit(n)))
        if has("mask"):
            masks = val("mask")
            if isinstance(masks, str):
                masks = [masks]
            cond = F.lit(False)
            for m in masks:
                cond = cond | F.col(m).isNull()
            add("mask", v, cond)
        if has("mask_expr"):
            add("mask_expr", v, F.expr(translate_mask_expr(val("mask_expr"))))
        if has("trim_single_bins") and spec.bin_col:
            # null cells at times where exactly ONE valid bin remains in the
            # profile (aqdutils.py:661-672: keep where count(valid over z) != 1)
            w_prof = Window.partitionBy(
                *[F.col(x) for x in spec.series_cols], F.col(spec.time_col)
            )
            nvalid = F.sum(F.when(c.isNotNull(), 1).otherwise(0)).over(w_prof)
            add("trim_single_bins", v, nvalid == 1)
        # trim_by_<trimvar>: null v where the sentinel variable is null,
        # unless v is excluded (qaqc.py:315-336 trim_by_any)
        for key, enabled in config.items():
            if not key.startswith("trim_by_") or key.endswith("_exclude"):
                continue
            if not enabled or str(enabled).lower() == "false":
                continue
            trimvar = key[len("trim_by_"):]
            excl = config.get(f"{key}_exclude") or ()
            if v in excl:
                continue
            add("trim_by", v, F.col(trimvar).isNull())
        if has("warmup_samples") and spec.sample_col:
            add("warmup_samples", v, F.col(spec.sample_col) < F.lit(int(val("warmup_samples"))))
        if has("burst_min_kill"):
            bw = spec.burst_window()
            add("burst_min_kill", v, F.min(c).over(bw) < F.lit(val("burst_min_kill")))

    return rules, prep


def apply_qaqc(
    df: DataFrame,
    config: dict[str, Any],
    variables: list[str],
    spec: SeriesSpec | None = None,
    keep_audit_cols: bool = False,
) -> QaqcResult:
    """Run the compiled rule set: null failing cells, never delete rows.

    All rules for all variables evaluate against the ORIGINAL values (the
    reference applies each rule to the pre-rule array within one call),
    then a single projection nulls each variable where any of its rules
    tripped.
    """
    spec = spec or SeriesSpec()
    rules, prep = compile_rules(config, variables, spec)

    work = df
    for name, col in prep:
        work = work.withColumn(name, col)
    for i, r in enumerate(rules):
        work = work.withColumn(f"__bad_{i}", F.coalesce(r.bad, F.lit(False)))
        if keep_audit_cols:
            work = work.withColumn(f"__was_valid_{i}", F.col(r.var).isNotNull())

    out_cols: list[Column] = []
    for name in df.columns:
        bad_any: Column | None = None
        for i, r in enumerate(rules):
            if r.var == name:
                bad_any = F.col(f"__bad_{i}") if bad_any is None else (bad_any | F.col(f"__bad_{i}"))
        if bad_any is None:
            out_cols.append(F.col(name))
        else:
            out_cols.append(F.when(bad_any, F.lit(None)).otherwise(F.col(name)).alias(name))
    if keep_audit_cols:
        extra = [F.col(f"__bad_{i}") for i in range(len(rules))] + [
            F.col(f"__was_valid_{i}") for i in range(len(rules))
        ]
        return QaqcResult(work.select(*out_cols, *extra), rules)
    return QaqcResult(work.select(*out_cols), rules)
