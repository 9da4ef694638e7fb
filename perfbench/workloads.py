"""The benchmark workloads: one pass each, plus the output checks.

A pass is a closed loop run by one caller: each CLI step, pipeline stage or
registry query starts only after the previous one has returned. Every call
is one *operation*; it fails when it raises, returns a non-zero exit code,
or its output disagrees with the expectation computed from the seed (or,
for the registry, with the digest recorded when the benchmark landed).
Output checks read the zones with pyarrow after the timed call, so they
launch no Spark jobs and stay outside the timings.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import os
import struct
import time
import warnings
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as ds

# A systematic quarter of the 54 bench.py headline queries, by family (their
# name prefixes): each family's queries sorted by their bench.py time at
# sf0.1 on 4 cores, then every fourth one from the third. Each family keeps
# about its share of the headline set, and the picks spread over its range
# of per-query cost. Their time splits into construction, planning and
# execution like that of all 54: 54/4/42% against 53/3/43% on the
# benchmark's tables, 45/3/52% against 41/2/56% at sf0.1. The e2e family
# has one query, so no pick; its pipeline stages are what the deployment
# workload measures.
REGISTRY = {
    "q": ["q5_nation_revenue"],
    "qaqc": ["qaqc_diff_rules"],
    "ts": ["ts_gap_fill_hourly"],
    "phys_coord_wave": ["coord_beam2enu"],
    "text": ["text_lang_id"],
    "dedup": ["dedup_bloom_gate", "dedup_incremental_near", "dedup_cluster_quality"],
    "sim": ["sim_embedding_neardup"],
    "corpus": ["corpus_token_spectrum", "corpus_hll_distinct", "corpus_quality_auc"],
    "mm": ["mm_video_phash_neardup"],
}

EXPECTED_REGISTRY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_registry.json")


@dataclass
class Op:
    """One timed call and its verdict."""

    name: str
    seconds: float
    ok: bool
    why: str = ""


def _timed(name, fn, check, tracer=None, layer="stage") -> Op:
    span = tracer.span(name, layer) if tracer else contextlib.nullcontext()
    t0 = time.perf_counter()
    try:
        with span:
            result = fn()
    except Exception as exc:  # a failed operation is counted, not fatal
        return Op(name, time.perf_counter() - t0, False, f"{type(exc).__name__}: {exc}"[:300])
    dt = time.perf_counter() - t0
    try:
        why = check(result)
    except Exception as exc:
        why = f"check raised {type(exc).__name__}: {exc}"[:300]
    return Op(name, dt, not why, why or "")


def _rows(path: str, columns=None):
    return ds.dataset(path, format="parquet").to_table(columns=columns)


def nc_dim(path: str, dim: str) -> int:
    """Length of one dimension from a classic netCDF header."""
    with open(path, "rb") as f:
        head = f.read(1 << 16)
    if head[:3] != b"CDF":
        raise ValueError(f"{path} is not a classic netCDF file")
    numrecs, tag, count = struct.unpack(">III", head[4:16])
    if tag != 0x0A:
        raise ValueError("no dimension list")
    pos = 16
    for _ in range(count):
        (n,) = struct.unpack(">I", head[pos : pos + 4])
        name = head[pos + 4 : pos + 4 + n].decode()
        pos += 4 + n + (-n % 4)
        (length,) = struct.unpack(">I", head[pos : pos + 4])
        pos += 4
        if name == dim:
            return length or numrecs
    raise ValueError(f"no dimension {dim!r}")


def _angle_diff(a, b):
    return np.abs((np.asarray(a) - np.asarray(b) + 180.0) % 360.0 - 180.0)


def deployment_pass(spark, spec: dict, tracer=None, plant_wrong: bool = False) -> list[Op]:
    """csv2cdf -> cdf2nc --atmpres -> nc2waves -> exportnc through the CLI,
    then the PUV waves and IMLM DIWASP stages on the directional zone."""
    from stglib_spark import pipeline
    from stglib_spark.__main__ import main

    dep, dirn = spec["deployment"], spec["directional"]
    out = dep["output_dir"]
    common = [dep["gatts"], dep["config"], "--output-dir", out]
    zone = lambda name: os.path.join(out, f"dep_{name}")  # noqa: E731
    clean_rows = dep["clean_rows"] + (1 if plant_wrong else 0)

    def cli(step, extra):
        def call():
            with warnings.catch_warnings(), contextlib.redirect_stdout(io.StringIO()):
                warnings.simplefilter("ignore")
                return main(["rbr_csv", step, *common, *extra])

        return call

    def check_raw(rc):
        n = _rows(zone("raw"), ["time"]).num_rows
        return "" if rc == 0 and n == dep["samples"] else f"rc={rc} raw rows {n} != {dep['samples']}"

    def check_clean(rc):
        t = _rows(zone("clean"), list(dep["nulled"]))
        nulled = {c: t.column(c).null_count for c in dep["nulled"]}
        if rc != 0 or t.num_rows != clean_rows or nulled != dep["nulled"]:
            return f"rc={rc} clean rows {t.num_rows} != {clean_rows} or nulled {nulled} != {dep['nulled']}"
        return ""

    def check_waves(path, bursts):
        t = _rows(path, ["wh_4061", "wp_4060"]).to_pandas()
        finite = np.isfinite(t.to_numpy(dtype=float)).all()
        return "" if len(t) == bursts and finite else f"waves rows {len(t)} != {bursts} or non-finite"

    def check_export(rc):
        n = nc_dim(os.path.join(out, "dep-a.nc"), "time")
        return "" if rc == 0 and n == clean_rows else f"rc={rc} exported time {n} != {clean_rows}"

    def check_diwasp(path):
        # IMLM puts the peak 2-4 direction bins off the planted swell on
        # about one burst in 250 (it splits the peak into two lobes), so a
        # quarter of the bursts may miss; a wrong direction convention or
        # estimator moves all of them
        t = _rows(path, ["burst_time", "dwvdir"]).to_pandas().sort_values("burst_time")
        if len(t) != dirn["bursts"]:
            return f"diwasp rows {len(t)} != {dirn['bursts']}"
        bin_deg = 360.0 / float(dirn["config"].get("diwasp_ndirs", 36))
        miss = int((_angle_diff(t["dwvdir"], dirn["direction_deg"]) > bin_deg).sum())
        return f"{miss} of {len(t)} bursts off the planted direction" if miss > len(t) // 4 else ""

    cfg = dict(dirn["config"])
    return [
        _timed("csv2cdf", cli("csv2cdf", ["--input", dep["csv"]]), check_raw, tracer, "cli"),
        _timed("cdf2nc", cli("cdf2nc", ["--atmpres", dep["met"]]), check_clean, tracer, "cli"),
        _timed("nc2waves", cli("nc2waves", []), lambda rc: check_waves(zone("waves"), dep["bursts"]) if rc == 0 else f"rc={rc}", tracer, "cli"),
        _timed("exportnc", cli("exportnc", []), check_export, tracer, "cli"),
        _timed("waves_puv", lambda: pipeline.run_waves(spark, cfg), lambda p: check_waves(p, dirn["bursts"]), tracer),
        _timed("diwasp", lambda: pipeline.run_diwasp(spark, cfg), check_diwasp, tracer),
    ]


def digest(rows) -> str:
    """Order-insensitive digest of a collected result, floats to 6
    significant digits."""

    def canon(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
        if isinstance(v, (bytes, bytearray)):
            return hashlib.sha256(v).hexdigest()[:16]
        return str(v)

    lines = sorted("|".join(canon(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def load_expected() -> dict:
    with open(EXPECTED_REGISTRY, encoding="utf-8") as f:
        return json.load(f)


def registry_verify(spark, spec: dict, record: bool = False, plant_wrong: bool = False) -> tuple[list[Op], dict]:
    """Untimed pass: collect each query through Arrow, compare its row
    count and digest with the recorded ones."""
    from stglib_spark import queries

    expected = {} if record else load_expected()
    if plant_wrong:
        name = spec["queries"][0]
        expected[name] = {**expected[name], "rows": expected[name]["rows"] + 1}
    observed, ops = {}, []
    for name in spec["queries"]:
        t0 = time.perf_counter()
        try:
            table = queries.QUERIES[name](spark, spec["tables"]).toArrow()
            rows = [tuple(r.values()) for r in table.to_pylist()]
        except Exception as exc:
            ops.append(Op(name, time.perf_counter() - t0, False, f"{type(exc).__name__}: {exc}"[:300]))
            continue
        got = {"rows": len(rows), "digest": digest(rows)}
        observed[name] = got
        want = got if record else expected.get(name)
        ok = want == got
        why = "" if ok else f"no recorded expectation for {name}" if want is None else f"{got} != {want}"
        ops.append(Op(name, time.perf_counter() - t0, ok, why))
    return ops, observed


def registry_pass(spark, spec: dict, order: list[str], tracer=None) -> list[Op]:
    """Each query: construct its DataFrame and run it into the noop sink,
    as ``bench.py`` does. A traced pass puts each phase in its own span and
    forces the physical plan in between, so planning gets a span of its
    own; the noop save then plans the query again, inside ``exec``."""
    from stglib_spark import queries

    family = {q: f for f, qs in REGISTRY.items() for q in qs}
    ops = []
    for name in order:
        fam = family[name]

        def run():
            if tracer is None:
                queries.QUERIES[name](spark, spec["tables"]).write.format("noop").mode("overwrite").save()
                return
            with tracer.span(f"{name}.construct", f"queries.{fam}.construct"):
                df = queries.QUERIES[name](spark, spec["tables"])
            with tracer.span(f"{name}.plan", f"queries.{fam}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"{name}.exec", f"queries.{fam}.exec"):
                df.write.format("noop").mode("overwrite").save()

        ops.append(_timed(name, run, lambda _: "", tracer, f"queries.{fam}"))
    return ops
