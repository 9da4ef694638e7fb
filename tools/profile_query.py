"""Per-query profiler: run registry queries through the noop sink on an
event-logged session, then report per-stage wall time, task time,
shuffle bytes and Python-worker time, plus the FINAL adaptive plan
(after AQE re-optimization, including ReusedExchange/ReusedQueryStage
nodes that the pre-execution ``explain`` hides).

``pyRun`` sums a stage's "time to run Python workers" over its tasks.
Python-worker init time is not reported: a reused worker stamps its boot
time before it blocks for its next task, so that metric sums idle wait
between queries and cannot show a per-task init cost.

``codegen`` counts the classes Janino compiled for the query and their
compile time, once for the warm run and once summed over the timed runs,
from the JVM's own counters. A timed run that compiles again means the
query's generated classes fell out of Spark's class cache
(``spark.sql.codegen.cache.maxEntries``).

Usage: python tools/profile_query.py QUERY [QUERY...] [--sf-dir DIR]
       [--runs N] [--plan]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-profile"


def _log_files():
    out = []
    for p in glob.glob(os.path.join(EVDIR, "**", "*"), recursive=True):
        b = os.path.basename(p)
        if os.path.isfile(p) and "appstatus" not in b and not b.endswith(".crc"):
            out.append(p)
    return out


def build_session(cpus: int):
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
        f"spark.eventLog.enabled=true;spark.eventLog.dir={EVDIR};"
        "spark.eventLog.compress=false"
    )
    from stglib_spark.session import get_spark

    return get_spark("stglib-profile")


# Python-worker SQL metrics (ms) as Spark 4 names them in a stage's
# accumulables; a stage with several Python operators carries one each
PY_RUN = "time to run Python workers"


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started: the count of
    Spark's ``CodegenMetrics`` compile-time histogram and
    ``CodeGenerator``'s compile-time accumulator (ns)."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return compiles.getCount(), ns / 1e6


def _delta(before: tuple[int, float], after: tuple[int, float]) -> str:
    return f"{after[0] - before[0]} classes / {after[1] - before[1]:.0f} ms"


def parse_eventlog(job_window: tuple[float, float]):
    """Stage rows (name, wall ms, task-time ms, shuffle read/write MB,
    Python-worker run ms, tasks) for stages submitted inside the
    [t0, t1] window (epoch ms)."""
    rows = []
    for path in _log_files():
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerStageCompleted":
                    continue
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                if not sub or not comp:
                    continue
                if not (job_window[0] <= sub <= job_window[1]):
                    continue
                # a key can exist with a null Value — `or 0` (not
                # .get default) keeps the metric sums numeric
                acc = {
                    a.get("Name"): (a.get("Value") or 0)
                    for a in si.get("Accumulables", [])
                }
                py_run = sum(
                    float(a.get("Value") or 0)
                    for a in si.get("Accumulables", [])
                    if a.get("Name") == PY_RUN
                )
                rows.append(
                    {
                        "stage": si["Stage ID"],
                        "name": si.get("Details", "").split("\n")[0][:60]
                        or si.get("Name", "")[:60],
                        "sname": si.get("Name", "")[:70],
                        "wall_ms": comp - sub,
                        "task_ms": acc.get("internal.metrics.executorRunTime", 0),
                        "sh_read_mb": round(
                            (acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
                             + acc.get("internal.metrics.shuffle.read.localBytesRead", 0))
                            / 1e6, 2),
                        "sh_write_mb": round(
                            acc.get("internal.metrics.shuffle.write.bytesWritten", 0)
                            / 1e6, 2),
                        "py_run_ms": round(py_run),
                        "tasks": si.get("Number of Tasks"),
                    }
                )
    return sorted(rows, key=lambda r: r["stage"])


def last_final_plan() -> str:
    """Physical plan of the most recent SQL execution, AFTER AQE
    re-optimization (shows ReusedExchange / reused stage nodes)."""
    best = (None, "")
    for path in _log_files():
        with open(path, encoding="utf-8") as f:
            for line in f:
                if "SparkListenerSQLAdaptiveExecutionUpdate" not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                eid = ev.get("executionId", -1)
                if best[0] is None or eid >= best[0]:
                    best = (eid, ev.get("physicalPlanDescription", ""))
    return best[1][:12000]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--runs",
        type=lambda v: max(1, int(v)),
        default=3,
        help="timed runs per query (floored at 1: window/best are "
        "unbound otherwise)",
    )
    ap.add_argument("--plan", action="store_true", help="print final plan")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from stglib_spark import queries as registry

    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    for name in args.queries:
        fn = registry.QUERIES[name]
        # warm codegen at small scale
        cg0 = codegen_counters(spark)
        fn(spark, args.warm_dir).write.format("noop").mode("overwrite").save()
        cg1 = codegen_counters(spark)
        best = None
        spark.sparkContext.setJobDescription(f"profile:{name}")
        window = None
        for _ in range(args.runs):
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            window = (t0 * 1000, time.time() * 1000)  # last run's window
            best = dt if best is None else min(best, dt)
        spark.sparkContext.setJobDescription(None)
        cg2 = codegen_counters(spark)
        print(f"\n===== {name}: best-of-{args.runs} {best:.3f}s =====")
        print(f"codegen: warm run {_delta(cg0, cg1)}; timed runs {_delta(cg1, cg2)}")
        # give the event log writer a beat
        time.sleep(0.5)
        stages = parse_eventlog(window)
        total_task = sum(s["task_ms"] for s in stages)
        print(
            f"last-run stages={len(stages)} sum_stage_wall="
            f"{sum(s['wall_ms'] for s in stages)/1000:.3f}s "
            f"sum_task_time={total_task/1000:.3f}s "
            f"sum_py_run={sum(s['py_run_ms'] for s in stages)}ms"
        )
        for s in stages:
            print(
                f"  st{s['stage']:>4} wall={s['wall_ms']:>6}ms "
                f"task={s['task_ms']:>7}ms n={s['tasks']:>3} "
                f"shR={s['sh_read_mb']:>8}MB shW={s['sh_write_mb']:>8}MB "
                f"pyRun={s['py_run_ms']:>6}ms "
                f" {s['sname']}"
            )
        if args.plan:
            print(last_final_plan())
    spark.stop()


if __name__ == "__main__":
    main()
