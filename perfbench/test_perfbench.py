"""Smoke tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs twice through the real command: once untraced with a
planted wrong expectation, which must be counted as a failed operation,
and once traced, which must print every per-layer metric with no failure.
Both must print exactly the metrics BENCHMARK.json declares, with its units.
A registry query with no recorded expectation must count as failed too.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(key: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def run(workload: str, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["deployment", "registry"])
def test_untraced_metrics_and_planted_failure(workload):
    out = run(workload, "--trace", "0", "--plant-wrong")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert out["attempted"] >= 1
    assert out["failed"] >= 1 and out["correct"] is False


@pytest.mark.parametrize("workload", ["deployment", "registry"])
def test_traced_metrics(workload):
    out = run(workload, "--trace", "1")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared("per_layer")
    assert out["failed"] == 0 and out["correct"] is True
    assert 0.95 <= out["metrics"]["trace.coverage"]["value"] <= 1.0


def test_refuses_without_program(tmp_path):
    """Outside a checkout of the program it exits non-zero, printing no result."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "registry",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_unrecorded_query_fails(monkeypatch):
    """A registry query missing from expected_registry.json is a failure."""
    import pyarrow as pa

    monkeypatch.syspath_prepend(ROOT)
    monkeypatch.syspath_prepend(os.path.join(ROOT, "perfbench"))
    import workloads
    from stglib_spark import queries

    table = pa.table({"x": [1.0, 2.0]})
    monkeypatch.setitem(queries.QUERIES, "unrecorded", lambda spark, tables: types.SimpleNamespace(toArrow=lambda: table))
    ops, observed = workloads.registry_verify(None, {"queries": ["unrecorded"], "tables": ""})
    assert observed["unrecorded"]["rows"] == 2
    assert not ops[0].ok and "no recorded expectation" in ops[0].why
