"""One fresh benchmark process: build the session and run a workload.

    python3 perfbench/worker.py <spec.json> <workload|traced> <out.json>

``workload`` times ``get_spark`` (imports, JVM, package ship, warm-up
jobs), runs one untimed warm pass (the registry's is its verification
pass), then the spec's number of timed passes. ``traced`` does the same
with spans, job groups and the Spark event log on, adds one untraced pass
after the traced ones, and derives the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import sys
import time

T0 = time.perf_counter()

import spans  # noqa: E402
import workloads  # noqa: E402
from workloads import REGISTRY  # noqa: E402

PHASES = ("construct", "plan", "exec")


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """VmHWM of ``root`` and all its live descendants (the main Python process,
    the Spark JVM and the Python workers), summed per kind of process."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    out: dict[str, float] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                status = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            kind = "jvm" if name.startswith("java") else "python" if name.startswith("python") else "other"
            out[kind] = out.get(kind, 0.0) + int(status["VmHWM"].split()[0]) / 1024.0
    return out


def stolen_s() -> float:
    """CPU time the host has taken from the machine's virtual CPUs (the
    steal column of /proc/stat), summed over CPUs, in seconds."""
    with open("/proc/stat", encoding="utf-8") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def zone_stats(spec: dict) -> dict:
    """Bytes, files and rows of every zone the last deployment pass wrote."""
    import pyarrow.dataset as ds

    out = {}
    if spec["workload"] != "deployment":
        return out
    d, r = spec["deployment"]["output_dir"], spec["directional"]["config"]["output_dir"]
    for name, path in (
        ("raw", f"{d}/dep_raw"),
        ("clean", f"{d}/dep_clean"),
        ("waves", f"{d}/dep_waves"),
        ("puv_waves", f"{r}/dir_waves"),
        ("diwasp", f"{r}/dir_diwasp"),
    ):
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
        out[name] = {
            "mb": sum(os.path.getsize(f) for f in files) / 1e6,
            "files": len(files),
            "rows": ds.dataset(path, format="parquet").count_rows(),
        }
    return out


def layer_metrics(spec, tracer, log, n_passes, get_spark_s, get_spark_end, zones, cores) -> dict:
    """Per-layer metrics, per timed pass, from spans plus event-log stages."""
    all_spans = tracer.spans
    passes = [s["id"] for s in all_spans if s["layer"] == "pass"]
    timed = spans.descendants(all_spans, passes)
    span_jobs = spans.jobs_by_span(log)

    def layer(name):
        lst = [s for s in all_spans if s["id"] in timed and s["layer"] == name]
        ids = spans.descendants(all_spans, [s["id"] for s in lst])
        r = spans.rollup(log, [j for sid in ids for j in span_jobs.get(sid, [])])
        r["s"] = sum(spans.duration(s) for s in lst)
        return {k: v / n_passes for k, v in r.items()}

    z = lambda r, k: r.get(k, 0.0)  # noqa: E731
    warm = spans.rollup(log, [j for j in span_jobs.get(None, []) if log["jobs"][j]["submitted"] <= get_spark_end])
    m = {
        "session.get_spark_s": get_spark_s,
        "session.warm_jobs": warm["jobs"],
        "session.warm_task_s": z(warm, "task_s"),
    }
    src = layer("sources")
    m.update(
        {
            "sources.ingest_s": src["s"],
            "sources.rows_out": zones.get("raw", {}).get("rows", 0),
            "sources.tasks": z(src, "tasks"),
            "sources.task_s": z(src, "task_s"),
            "sources.core_util": z(src, "task_s") / (src["s"] * cores) if src["s"] else 0.0,
        }
    )
    ops = layer("operators")
    m.update({"operators.clean_s": ops["s"], "operators.clean_jobs": ops["jobs"]})
    for k in ("stages", "task_s", "shuffle_mb", "spill_mb"):
        m[f"operators.clean_{k}"] = z(ops, k)
    wv = layer("waves")
    m["waves.s"] = wv["s"]
    for k in ("task_s", "python_s", "arrow_sent_mb"):
        m[f"waves.{k}"] = z(wv, k)
    dsp = layer("dirspec")
    m["dirspec.s"] = dsp["s"]
    for k in ("tasks", "task_s", "python_s", "arrow_sent_mb"):
        m[f"dirspec.{k}"] = z(dsp, k)
    m["dirspec.bursts_out"] = zones.get("diwasp", {}).get("rows", 0)
    input_mb = spec.get("input_bytes", 0) / 1e6
    for name in ("raw", "clean", "waves", "puv_waves", "diwasp"):
        m[f"pipeline.zone_write_mb.{name}"] = zones.get(name, {}).get("mb", 0.0)
        m[f"pipeline.zone_files.{name}"] = zones.get(name, {}).get("files", 0)
    zone_mb = sum(v["mb"] for v in zones.values())
    m["pipeline.write_amp"] = zone_mb / input_mb if zones and input_mb else 0.0
    m["export.nc_s"] = layer("export")["s"]
    nc = os.path.join(spec["deployment"]["output_dir"], "dep-a.nc") if "deployment" in spec else ""
    m["export.nc_mb"] = os.path.getsize(nc) / 1e6 if nc and os.path.exists(nc) else 0.0
    m["export.rows_collected"] = workloads.nc_dim(nc, "time") if m["export.nc_mb"] else 0
    for fam in REGISTRY:
        con, plan, ex = (layer(f"queries.{fam}.{p}") for p in PHASES)
        m[f"queries.{fam}.construct_s"] = con["s"]
        m[f"queries.{fam}.eager_jobs"] = con["jobs"]
        m[f"queries.{fam}.plan_s"] = plan["s"]
        m[f"queries.{fam}.exec_s"] = ex["s"]
        m[f"queries.{fam}.exec_task_s"] = z(ex, "task_s")
        m[f"queries.{fam}.shuffle_mb"] = z(ex, "shuffle_mb")
        m[f"queries.{fam}.spill_mb"] = z(ex, "spill_mb")
    whole = layer("pass")
    for k in ("jobs", "stages", "tasks", "gc_s"):
        m[f"spark.{k}"] = z(whole, k)
    own = spans.self_times(all_spans)
    m["cli.self_s"] = sum(own[s["id"]] for s in all_spans if s["id"] in timed and s["layer"] == "cli") / n_passes
    m["trace.coverage"] = spans.coverage(all_spans)
    return m


def run_workload(spark, spec: dict, tracer) -> dict:
    """Warm pass, then ``spec['passes']`` closed-loop timed passes. A traced
    run adds one untraced pass after its traced ones, so the tracing
    overhead is measured in the same process; the untraced pass runs
    warmer, so the overhead is an upper bound."""
    kind, plant = spec["workload"], spec.get("plant_wrong", False)
    checked, observed = [], {}
    if kind == "deployment":
        checked = workloads.deployment_pass(spark, spec, plant_wrong=plant)
        one_pass = lambda t: workloads.deployment_pass(spark, spec, t, plant)  # noqa: E731
    else:
        checked, observed = workloads.registry_verify(spark, spec, spec.get("record", False), plant)
        one_pass = lambda t: workloads.registry_pass(spark, spec, spec["order"], t)  # noqa: E731

    passes, untraced = [], []
    stolen = stolen_s()
    for _ in range(spec["passes"]):
        if tracer:
            with tracer.span(f"pass{len(passes)}", "pass"):
                passes.append(one_pass(tracer))
        else:
            passes.append(one_pass(None))
    stolen = stolen_s() - stolen
    if tracer:
        tracer.active = False
        untraced.append(one_pass(None))
    as_dicts = lambda ops: [op.__dict__ for op in ops]  # noqa: E731
    return {
        "warm": as_dicts(checked),
        "passes": [as_dicts(p) for p in passes],
        "untraced": [as_dicts(p) for p in untraced],
        "observed": observed,
        "steal_s": stolen,
    }


def main(argv: list[str]) -> int:
    spec_path, role, out_path = argv
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    from stglib_spark import pipeline, session

    tracer = None
    if role == "traced":
        tracer = spans.Tracer(f"{spec['workload']}-seed{spec['seed']}")
        tracer.install(pipeline, session)
    t1 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=spec["cores"])
    t2 = time.perf_counter()
    result = {"setup_s": t2 - T0, "get_spark_s": t2 - t1}
    get_spark_end = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    if tracer:
        tracer.sc = spark.sparkContext
    result.update(run_workload(spark, spec, tracer))
    result["rss_mb"] = tree_peak_rss_mb(os.getpid())
    zones = zone_stats(spec)
    spark.stop()
    if tracer:
        log = spans.read_event_log(spec["event_dir"])
        result["layers"] = layer_metrics(
            spec, tracer, log, len(result["passes"]), result["get_spark_s"], get_spark_end, zones, spec["cores"]
        )
        tracer.dump(spec["trace_path"])
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
