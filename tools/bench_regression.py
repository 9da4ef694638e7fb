#!/usr/bin/env python
"""Per-query bench regression diff.

Compares two bench results (a driver capture ``{"rc":..,"parsed":{...}}``,
raw ``bench.py`` one-line JSON output, or ``BENCH_FULL_latest.json``,
which holds every headline query) and flags queries slower than
``--threshold`` (default 1.5x). Exit code 1 when any regression is
flagged, so it can gate CI.

Usage (run ``bench.py`` on both commits, keep each full map):
    python bench.py && cp BENCH_FULL_latest.json /tmp/before.json
    python bench.py && cp BENCH_FULL_latest.json /tmp/after.json
    python tools/bench_regression.py /tmp/before.json /tmp/after.json -t 1.3

Adjudication mode (VERDICT r12 task #3 — ambient-drift control): with
``--adjudicate OUT.json --sf-dir DIR``, every flagged query is re-timed
in-process (interleaved passes, median), and the machine-written verdict
— {query, t_prev, t_now, rerun_times, rerun_median, verdict} — lands in
OUT.json. Run it on an otherwise idle box (never concurrently with the
driver sim or pytest).
"""

from __future__ import annotations

import argparse
import json
import sys


def load_bench(path: str) -> dict:
    """Accept either the driver artifact ({"rc":..,"parsed":{...}}) or the
    raw bench.py JSON line ({"metric":...,"queries":{...}})."""
    with open(path, encoding="utf-8") as f:
        text = f.read().strip()
    doc = json.loads(text)
    if "parsed" in doc:
        if doc.get("rc", 0) != 0 or not doc.get("parsed"):
            raise SystemExit(
                f"{path}: bench run crashed (rc={doc.get('rc')}); no metrics"
            )
        doc = doc["parsed"]
    if "queries" not in doc:
        raise SystemExit(f"{path}: no 'queries' map found")
    return doc


def compare(base: dict, new: dict, threshold: float) -> tuple[list[tuple], int]:
    rows = []
    flagged = 0
    bq, nq = base["queries"], new["queries"]
    for name in nq:
        t_new = nq[name]
        t_base = bq.get(name)
        if t_base is None:
            rows.append((name, None, t_new, None, "NEW"))
            continue
        ratio = t_new / t_base if t_base > 0 else float("inf")
        mark = ""
        if ratio > threshold:
            mark = "REGRESSION"
            flagged += 1
        elif ratio < 1 / threshold:
            mark = "improved"
        rows.append((name, t_base, t_new, ratio, mark))
    for name in bq:
        if name not in nq:
            rows.append((name, bq[name], None, None, "REMOVED"))
    return rows, flagged


def classify(
    med_now: float | None,
    med_prev_code: float | None,
    t_prev: float | None,
    threshold: float,
    same_band: float = 1.15,
) -> str:
    """Three-way verdict separating code from environment (VERDICT r13
    task #4). With a previous-code median measured INTERLEAVED in the
    same session:

    - current code slower than previous code by > threshold in the same
      environment → ``code-regression`` (only code differs);
    - the two code versions within ``same_band`` of each other →
      ``environment`` when both reproduce the slow number (the whole box
      is slower — r13's concurrent-tenant case) or ``ambient-noise``
      when the rerun lands back within threshold of the committed
      baseline (the flagged capture was a one-off);
    - anything in between → ``inconclusive``.

    Without a previous-code median (no --prev-ref), falls back to the
    r12 two-way logic: rerun within threshold of t_prev =
    ambient-noise, else confirmed-regression (which cannot distinguish
    code from environment — hence --prev-ref).
    """
    if med_now is None:
        return "not-rerunnable"
    if med_prev_code is None:
        if t_prev and med_now / t_prev <= threshold:
            return "ambient-noise"
        return "confirmed-regression"
    ratio = med_now / med_prev_code if med_prev_code > 0 else float("inf")
    if ratio > threshold:
        return "code-regression"
    if ratio <= same_band:
        if t_prev and med_now / t_prev <= threshold:
            return "ambient-noise"
        return "environment"
    return "inconclusive"


def _purge_and_import(repo_root: str, known_roots: list[str]):
    """Swap which checkout's stglib_spark is imported. The SparkSession
    (JVM) survives the swap — queries receive it as an argument."""
    import importlib

    for m in list(sys.modules):
        if m == "stglib_spark" or m.startswith("stglib_spark."):
            del sys.modules[m]
    sys.path[:] = [p for p in sys.path if p not in known_roots]
    sys.path.insert(0, repo_root)
    importlib.invalidate_caches()
    from stglib_spark import queries as registry

    return registry


def adjudicate(
    flagged: list[tuple], sf_dir: str, reruns: int, threshold: float,
    baseline_file: str, current_file: str, prev_ref: str | None = None,
) -> dict:
    """Re-time each flagged query with bench.py's protocol (noop sink,
    sf0.01 warm pass, interleaved passes, per-query median) in ONE
    session. With ``prev_ref`` (a git ref of the previous round's
    code), each pass also times the query against a detached worktree
    of that ref — same session, same JVM, interleaved — so the verdict
    can separate code from environment: {code-regression, environment,
    ambient-noise, inconclusive}. 1/5/15-min load averages are
    recorded at start and end so a contaminated box is visible in the
    artifact. Machine-written so the committed adjudication can't
    drift from what actually ran."""
    import os
    import statistics
    import subprocess
    import tempfile
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    record = {
        "baseline_file": baseline_file,
        "current_file": current_file,
        "sf_dir": sf_dir,
        "threshold": threshold,
        "reruns": reruns,
        "prev_ref": prev_ref,
        "loadavg_start": list(os.getloadavg()),
        "rows": [],
    }
    if not flagged:
        return record
    sys.path.insert(0, repo)
    from stglib_spark.session import get_spark

    spark = get_spark("bench-adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    worktree = None
    roots = [repo]
    if prev_ref:
        worktree = tempfile.mkdtemp(prefix="bench-adj-prev-")
        subprocess.run(
            ["git", "-C", repo, "worktree", "add", "--detach", "--force",
             worktree, prev_ref],
            check=True, capture_output=True,
        )
        roots.append(worktree)

    def _time_pass(registry, names, runs):
        for name in names:
            if name not in registry.QUERIES:
                continue
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs[name].append(round(time.perf_counter() - t0, 3))

    try:
        names = [name for name, _, _ in flagged]
        # warm both code versions once
        for root in roots:
            reg = _purge_and_import(root, roots)
            for name in names:
                if name in reg.QUERIES:
                    reg.QUERIES[name](spark, warm_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
        runs_now: dict[str, list[float]] = {n: [] for n in names}
        runs_prev: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(max(1, reruns)):
            _time_pass(_purge_and_import(repo, roots), names, runs_now)
            if worktree:
                _time_pass(
                    _purge_and_import(worktree, roots), names, runs_prev
                )
        spark.stop()
    finally:
        if worktree:
            subprocess.run(
                ["git", "-C", repo, "worktree", "remove", "--force",
                 worktree],
                capture_output=True,
            )
        # leave the current repo importable for any caller after us
        _purge_and_import(repo, roots)

    record["loadavg_end"] = list(os.getloadavg())
    for name, t_prev, t_now in flagged:
        times = runs_now.get(name, [])
        med = round(statistics.median(times), 3) if times else None
        ptimes = runs_prev.get(name, []) if worktree else []
        pmed = round(statistics.median(ptimes), 3) if ptimes else None
        record["rows"].append(
            {
                "query": name,
                "t_prev": t_prev,
                "t_now": t_now,
                "rerun_times": times,
                "rerun_median": med,
                "prev_code_times": ptimes,
                "prev_code_median": pmed,
                "verdict": classify(med, pmed, t_prev, threshold),
            }
        )
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("baseline", help="older bench JSON")
    ap.add_argument("current", help="newer bench JSON")
    ap.add_argument("-t", "--threshold", type=float, default=1.5,
                    help="flag ratio above this (default 1.5)")
    ap.add_argument("--adjudicate", default=None, metavar="OUT_JSON",
                    help="re-time every flagged query in-process and write "
                         "the machine adjudication record to OUT_JSON")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1",
                    help="data dir for --adjudicate reruns")
    ap.add_argument("--reruns", type=int, default=3,
                    help="interleaved rerun passes per flagged query")
    ap.add_argument("--prev-ref", default=None, metavar="GIT_REF",
                    help="git ref of the previous round's code; flagged "
                         "queries are also re-timed against a detached "
                         "worktree of this ref, interleaved in the same "
                         "warm session, so the verdict separates "
                         "code-regression from environment")
    ap.add_argument("--expect-scale", type=float, default=None,
                    help="scale-gate mode: `current` ran on N x the data of "
                         "`baseline` (e.g. 10 for sf1 vs sf0.1); a query is "
                         "flagged when its time grew more than N x threshold, "
                         "i.e. worse than linear-in-data by the threshold "
                         "margin — the per-query superlinear-scaling gate")
    args = ap.parse_args(argv)

    base = load_bench(args.baseline)
    new = load_bench(args.current)
    threshold = args.threshold
    if args.expect_scale:
        threshold = args.expect_scale * args.threshold
    rows, flagged = compare(base, new, threshold)

    w = max(len(r[0]) for r in rows) if rows else 10
    print(f"{'query':<{w}}  {'base':>8}  {'now':>8}  {'ratio':>6}  flag")
    for name, t_base, t_new, ratio, mark in sorted(rows):
        tb = f"{t_base:.3f}" if t_base is not None else "-"
        tn = f"{t_new:.3f}" if t_new is not None else "-"
        rt = f"{ratio:.2f}x" if ratio is not None else "-"
        print(f"{name:<{w}}  {tb:>8}  {tn:>8}  {rt:>6}  {mark}")
    tb, tn = base.get("value"), new.get("value")
    if tb and tn:
        print(f"{'TOTAL':<{w}}  {tb:>8.3f}  {tn:>8.3f}  {tn / tb:>5.2f}x")
    if args.adjudicate:
        flagged_rows = [
            (name, t_base, t_new)
            for name, t_base, t_new, ratio, mark in rows
            if mark == "REGRESSION"
        ]
        record = adjudicate(
            flagged_rows, args.sf_dir, args.reruns, threshold,
            args.baseline, args.current, prev_ref=args.prev_ref,
        )
        with open(args.adjudicate, "w", encoding="utf-8") as f:
            json.dump(record, f, indent=2)
        print(f"adjudication -> {args.adjudicate} "
              f"({len(record['rows'])} rows)", file=sys.stderr)
        for r in record["rows"]:
            print(f"  {r['query']}: median {r['rerun_median']}s vs "
                  f"prev {r['t_prev']}s -> {r['verdict']}", file=sys.stderr)
        # reruns settle the question; exit red only on rows the code
        # itself (or a two-way fallback rerun) confirms
        return 1 if any(
            r["verdict"] in ("confirmed-regression", "code-regression")
            for r in record["rows"]
        ) else 0
    if flagged:
        kind = "scaled superlinearly" if args.expect_scale else "regressed"
        print(f"\n{flagged} quer{'y' if flagged == 1 else 'ies'} {kind} "
              f">{threshold}x", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
