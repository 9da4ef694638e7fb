#!/usr/bin/env python3
"""Measure how the heavy dedup/corpus tier actually scales (VERDICT r13
task #6): time each query at sf0.1 / sf1 / sf10 and fit the scaling
exponent b in t = a * data^b (log-log least squares over the measured
points). b ~= 1 is linear-in-data — the plan-shape audits' claim, now
measured instead of argued. b >> 1 means a superlinear stage (an
all-pairs join, a non-combinable shuffle) hiding behind a small
fixture.

Usage:
    python tools/make_sf1.py                                   # sf1
    python tools/make_sf1.py --k 100 --dst .tmp/sf10
    python tools/measure_scaling.py --out /tmp/scaling.json

Protocol: one warm pass at sf0.01 (codegen+JIT), then N timed passes
per (query, sf) — smallest sf first so page cache favors the LARGE
runs least — median reported. Run on an idle box; load averages are
recorded so contamination is visible in the artifact.
"""
import argparse
import json
import math
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    # the top-5 sf1 rows by cost (VERDICT r13 plan audit) + minhash
    "dedup_minhash_lsh",
    "dedup_token_jaccard",
    "dedup_winnow_candidates",
    "dedup_winnow_spans",
    "dedup_cluster_quality",
    "e2e_corpus_all_packs",
]
DEFAULT_POINTS = [
    ("/root/testdata/sf0.1", 0.1),
    (os.path.join(REPO, ".tmp", "sf1"), 1.0),
    (os.path.join(REPO, ".tmp", "sf10"), 10.0),
]


def fit_exponent(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of log(t) vs log(sf)."""
    xs = [math.log(sf) for sf, _ in points]
    ys = [math.log(t) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, metavar="OUT_JSON")
    ap.add_argument("--queries", nargs="*", default=DEFAULT_QUERIES)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--sf-dirs", nargs="*", default=None,
                    help="dir:scale pairs, e.g. .tmp/sf1:1.0")
    ap.add_argument("--append", action="store_true",
                    help="append rows to an existing --out artifact "
                         "(replacing same-named queries) — used to "
                         "re-run rows that died, e.g. under a larger "
                         "heap")
    args = ap.parse_args()

    points = DEFAULT_POINTS
    if args.sf_dirs:
        points = []
        for spec in args.sf_dirs:
            d, s = spec.rsplit(":", 1)
            points.append((d, float(s)))
    for d, _ in points:
        if not os.path.isdir(d):
            raise SystemExit(f"missing data dir {d} — generate it with "
                             f"tools/make_sf1.py first")

    from stglib_spark import queries as registry
    from stglib_spark.session import get_spark

    spark = get_spark("measure-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    record = {
        "points": [{"dir": d, "sf": s} for d, s in points],
        "passes": args.passes,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "loadavg_start": list(os.getloadavg()),
        "rows": [],
    }
    if args.append and args.out and os.path.exists(args.out):
        with open(args.out) as f:
            prior = json.load(f)
        keep = [r for r in prior.get("rows", [])
                if r["query"] not in args.queries]
        record["rows"] = keep

    def _flush():
        if args.out:
            with open(args.out, "w") as f:
                json.dump(record, f, indent=2)
    warm_dir = "/root/testdata/sf0.01"
    for name in args.queries:
        fn = registry.QUERIES[name]
        times = {}
        err = None
        try:
            fn(spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:
            err = f"warm: {type(e).__name__}: {str(e)[:200]}"
            print(f"ROW {name}: ERROR {err}", flush=True)
        for d, s in points if err is None else []:  # smallest first
            per = []
            try:
                for _ in range(max(1, args.passes)):
                    t0 = time.perf_counter()
                    fn(spark, d).write.format("noop").mode("overwrite").save()
                    per.append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # record (e.g. OOM at sf10), move on
                err = f"sf{s}: {type(e).__name__}: {str(e)[:200]}"
                print(f"ROW {name}: ERROR {err}", flush=True)
                break
            times[s] = per
        if err is not None or len(times) < 2:
            record["rows"].append(
                {"query": name,
                 "times": {str(s): per for s, per in times.items()},
                 "error": err or "fewer than 2 points"}
            )
            _flush()
            continue
        fitted = fit_exponent(
            [(s, statistics.median(per)) for s, per in times.items()]
        )
        # the large-end exponent is the one that predicts 100 TB: the
        # slope between the two largest points only
        top2 = sorted(times)[-2:]
        tail = fit_exponent(
            [(s, statistics.median(times[s])) for s in top2]
        )
        row = {
            "query": name,
            "times": {str(s): per for s, per in times.items()},
            "medians": {
                str(s): round(statistics.median(per), 3)
                for s, per in times.items()
            },
            "exponent": round(fitted, 3),
            "exponent_tail": round(tail, 3),
        }
        record["rows"].append(row)
        _flush()
        print(f"ROW {name}: medians={row['medians']} "
              f"b={row['exponent']} b_tail={row['exponent_tail']}",
              flush=True)
    spark.stop()
    record["loadavg_end"] = list(os.getloadavg())
    _flush()
    if args.out:
        print(f"-> {args.out}")


if __name__ == "__main__":
    main()
