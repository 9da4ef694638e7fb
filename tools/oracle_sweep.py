#!/usr/bin/env python3
"""Run every (or a subset of) registry query side-by-side against the
DuckDB oracle at a given scale factor — the local replica of the
driver's correctness gate, runnable as one script.

Usage:
    python tools/oracle_sweep.py [--sf-dir /root/testdata/sf0.01] \
        [--only name1,name2] [--start-at name]

Prints one line per query: `ok <name>`, `FAIL <name>: <problems>`,
`rows-only <name> (<rows>)` for rows without an oracle entry, or
`red-ok <name>` for a `*_probe_hugeint` query whose oracle mismatches by
design (as `tests/test_oracle_parity.py` requires). Exits 1 when any
query FAILs — a probe that stops mismatching counts as a FAIL — and 2
when `--only` or `--start-at` names a query the registry does not have.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--start-at", default="")
    args = ap.parse_args()

    from stglib_spark import queries as registry
    from stglib_spark.session import get_spark
    from tests.oracle_harness import compare, duck_connection

    qs = registry.QUERIES
    oracle = registry.ORACLES
    names = list(qs)
    if args.only:
        keep = set(args.only.split(","))
        unknown = sorted(keep - set(names))
        if unknown:
            ap.error(f"--only names unknown queries: {', '.join(unknown)}")
        names = [n for n in names if n in keep]
    if args.start_at:
        if args.start_at not in names:
            ap.error(f"--start-at names no selected query: {args.start_at}")
        names = names[names.index(args.start_at):]

    spark = get_spark("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(args.sf_dir)

    n_ok = n_fail = n_rows = n_red = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            sdf = qs[name](spark, args.sf_dir)
            if name not in oracle:
                rows = sdf.count()
                if rows > 0:
                    n_rows += 1
                    print(f"rows-only {name} ({rows}) "
                          f"[{time.perf_counter() - t0:.1f}s]", flush=True)
                else:
                    n_fail += 1
                    print(f"FAIL {name}: rows-only query returned 0 rows",
                          flush=True)
                continue
            ddf = con.execute(oracle[name]).df()
            problems = compare(sdf, ddf, name)
            if name.endswith("_probe_hugeint"):
                if problems and "dtype mismatch" in problems[0]:
                    n_red += 1
                    print(f"red-ok {name}", flush=True)
                else:
                    n_fail += 1
                    print(f"FAIL {name}: probe no longer mismatches: "
                          f"{problems[:1]}", flush=True)
            elif problems:
                n_fail += 1
                print(f"FAIL {name}: {problems[:3]}", flush=True)
            else:
                n_ok += 1
                print(f"ok {name} [{time.perf_counter() - t0:.1f}s]",
                      flush=True)
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"FAIL {name}: exception {e!r}", flush=True)
            traceback.print_exc(file=sys.stderr)
    print(f"TOTAL ok={n_ok} fail={n_fail} rows_only={n_rows} red_ok={n_red}",
          flush=True)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
