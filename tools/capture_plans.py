#!/usr/bin/env python3
"""Capture .explain("formatted") for bench queries into plans/<tag>/,
normalized so that two captures of the same plan are identical text.

Usage:
    python tools/capture_plans.py --tag one_kernel --suffix _before \
        [--only name1,name2] [--sf-dir /root/testdata/sf0.1]

Driver-side only (no jobs run, apart from the ones a query runs eagerly
while it is built); plans are the pre-execution AQE plans
(`AdaptiveSparkPlan isFinalPlan=false`).

Volatile text is rewritten: the `--sf-dir` path becomes `<sf-dir>`,
expression ids (`#123`) become `#N`, `plan_id=123` becomes `plan_id=N`,
RDD ids (`MapPartitionsRDD[141]`) become `RDD[N]`, UUIDs (the id of a
`CollectMetrics` observation) become `<uuid>`, and per-process scratch
directories (`.../stglib_spark_scratch/pid42/clusterq_ab12cd34/`) become
`<scratch>/clusterq_*/`. A before/after check of a change is then
a plain `diff -r` of the two captures. One line per query prints the
plan's Exchange, BroadcastExchange and Python-UDF node counts.

A query that runs pipeline stages while it is built (the `e2e_*`
chains) returns a plan that only reads the last zone back; the plan of
each zone it writes is captured too, as `<query>.<zone><suffix>.txt`
(a zone written twice gets `.<zone>.2`).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: plan nodes whose counts print per query: shuffles, broadcasts and
#: the Arrow boundaries into Python workers
COUNTED = (
    "Exchange",
    "BroadcastExchange",
    "MapInPandas",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
)


def normalize(plan: str, sf_dir: str) -> str:
    """``plan`` with the volatile text described in the module
    docstring replaced by fixed placeholders."""
    plan = plan.replace(os.path.abspath(sf_dir).rstrip("/"), "<sf-dir>")
    plan = re.sub(
        r"[^\s\[\]:]*stglib_spark_scratch/pid\d+/([^/\]\s]*?)[a-z0-9_]{8}/",
        r"<scratch>/\1*/",
        plan,
    )
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(
        r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b",
        "<uuid>",
        plan,
    )
    return re.sub(r"\w*RDD\[\d+\]", "RDD[N]", plan)


def node_counts(plan: str) -> Counter:
    """Operator counts from the formatted plan's numbered node list
    (``(12) Exchange``), one entry per physical node."""
    return Counter(re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, help="output directory plans/<tag>/")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import bench
    from stglib_spark import pipeline, queries as registry
    from stglib_spark.session import get_spark

    names = bench.HEADLINE + bench.E2E_STAGE
    if args.only:
        names = args.only.split(",")

    out_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    def explain(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    zone_plans: list[tuple[str, str]] = []
    write_zone = pipeline._write_zone

    def recording_write_zone(df, config, zone, *a, **k):
        zone_plans.append((zone, explain(df)))
        return write_zone(df, config, zone, *a, **k)

    pipeline._write_zone = recording_write_zone
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        zone_plans.clear()
        try:
            plan = explain(registry.QUERIES[name](spark, args.sf_dir))
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {e!r}"
        captures = [(name, plan)]
        seen: Counter = Counter()
        for zone, zplan in zone_plans:
            seen[zone] += 1
            label = f"{name}.{zone}" + (f".{seen[zone]}" if seen[zone] > 1 else "")
            captures.append((label, zplan))
        for label, text in captures:
            text = normalize(text, args.sf_dir)
            path = os.path.join(out_dir, f"{label}{args.suffix}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            counts = node_counts(text)
            print(
                label,
                " ".join(f"{node}={counts[node]}" for node in COUNTED),
                os.path.relpath(path, REPO),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
