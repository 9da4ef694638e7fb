"""Spans around layer calls, Spark job-group tags, and event-log rollups.

A traced run wraps the public entry points of each layer from outside the
program (``session.get_spark``, ``pipeline.run_*``, the CLI ``main`` and
the registry callables). Each span records name, layer, start, end,
parent and run id in memory and tags the Spark jobs it launches with
``setJobGroup(<span id>)``; the spans are written out when the run ends.
Per-layer counts then come from the Spark event log: every job carries its
span's group id, every completed stage carries its task metrics and the
SQL metrics of its operators (including the Python-worker ones).
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from collections import defaultdict

# pipeline entry point -> layer it belongs to
PIPELINE_LAYERS = {
    "run_ingest": "sources",
    "run_clean": "operators",
    "run_waves": "waves",
    "run_diwasp": "dirspec",
    "run_export_nc": "export",
}


class Tracer:
    """In-memory span recorder; also tags Spark jobs once ``sc`` is set."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.sc = None
        self.active = True
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self._tag(None, None)
            else:
                self._tag(parent, self.spans[parent]["name"])

    def _tag(self, span_id, name) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(span_id), name)

    def wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self, pipeline_module, session_module) -> None:
        """Route the layer entry points through spans for this process."""
        for attr, layer in PIPELINE_LAYERS.items():
            setattr(
                pipeline_module,
                attr,
                self.wrap(getattr(pipeline_module, attr), f"pipeline.{attr}", layer),
            )
        session_module.get_spark = self.wrap(session_module.get_spark, "session.get_spark", "session")

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    own = {s["id"]: duration(s) for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= duration(s)
    return own


def coverage(spans: list[dict]) -> float:
    """Share of the operations' wall time (the direct children of the
    ``pass`` spans) that their own child spans, the layer calls, cover."""
    passes = {s["id"] for s in spans if s["layer"] == "pass"}
    ops = {s["id"]: s for s in spans if s["parent"] in passes}
    wall = sum(duration(s) for s in ops.values())
    covered = sum(duration(s) for s in spans if s["parent"] in ops)
    return covered / wall if wall else 0.0


def descendants(spans: list[dict], roots) -> set[int]:
    """Ids of ``roots`` and every span below them."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s["id"])
    out, todo = set(), list(roots)
    while todo:
        sid = todo.pop()
        if sid not in out:
            out.add(sid)
            todo.extend(children[sid])
    return out


# SQL metric names as Spark 4 labels them in the event log
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def read_event_log(event_dir: str) -> dict:
    """Jobs (with group and stage ids) and completed stages (with task and
    SQL metric totals) from the one application log in ``event_dir``."""
    paths = glob.glob(f"{event_dir}/*")
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    jobs, stages = {}, {}
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submitted": ev["Submission Time"] / 1000.0,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {}
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                stages[info["Stage ID"]] = {
                    "tasks": info["Number of Tasks"],
                    "task_s": acc.get("internal.metrics.executorRunTime", 0.0) / 1000.0,
                    "gc_s": acc.get("internal.metrics.jvmGCTime", 0.0) / 1000.0,
                    "shuffle_mb": acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0) / 1e6,
                    "spill_mb": acc.get("internal.metrics.diskBytesSpilled", 0.0) / 1e6,
                    "python_s": acc.get(PY_TIME, 0.0) / 1000.0,
                    "arrow_sent_mb": acc.get(PY_SENT, 0.0) / 1e6,
                }
    return {"jobs": jobs, "stages": stages}


def rollup(log: dict, job_ids) -> dict:
    """Totals over the completed stages of the given jobs."""
    out = defaultdict(float)
    seen = set()
    job_ids = list(job_ids)
    for j in job_ids:
        for sid in log["jobs"][j]["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen:
                continue  # skipped (reused) or already counted
            seen.add(sid)
            out["stages"] += 1
            for k, v in st.items():
                out[k] += v
    out["jobs"] = len(job_ids)
    return dict(out)


def jobs_by_span(log: dict) -> dict[int | None, list[int]]:
    """Job ids grouped by the span id they were tagged with."""
    out: dict[int | None, list[int]] = defaultdict(list)
    for j, job in log["jobs"].items():
        group = job["group"]
        out[int(group) if group is not None and group.isdigit() else None].append(j)
    return out
