"""bench_regression tool: artifact/raw-format loading, ratio math,
threshold flags, crashed-run rejection."""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from bench_regression import compare, load_bench, main


def _write(tmp_path, name, doc):
    p = str(tmp_path / name)
    with open(p, "w") as f:
        json.dump(doc, f)
    return p


RAW_BASE = {"metric": "m", "value": 10.0, "unit": "sec",
            "queries": {"a": 1.0, "b": 2.0, "c": 3.0}}
RAW_NOW = {"metric": "m", "value": 12.0, "unit": "sec",
           "queries": {"a": 1.1, "b": 4.0, "d": 0.5}}


def test_load_raw_and_artifact(tmp_path):
    raw = _write(tmp_path, "raw.json", RAW_BASE)
    art = _write(tmp_path, "art.json", {"rc": 0, "parsed": RAW_BASE})
    assert load_bench(raw)["queries"] == RAW_BASE["queries"]
    assert load_bench(art)["queries"] == RAW_BASE["queries"]


def test_crashed_artifact_rejected(tmp_path):
    art = _write(tmp_path, "crash.json", {"rc": 1, "parsed": None})
    with pytest.raises(SystemExit, match="crashed"):
        load_bench(art)


def test_compare_flags_and_markers():
    rows, flagged = compare(RAW_BASE, RAW_NOW, threshold=1.5)
    by_name = {r[0]: r for r in rows}
    assert flagged == 1
    assert by_name["b"][4] == "REGRESSION" and by_name["b"][3] == pytest.approx(2.0)
    assert by_name["a"][4] == ""  # 1.1x within threshold
    assert by_name["d"][4] == "NEW"
    assert by_name["c"][4] == "REMOVED"


def test_main_exit_codes(tmp_path, capsys):
    base = _write(tmp_path, "b.json", RAW_BASE)
    now = _write(tmp_path, "n.json", RAW_NOW)
    assert main([base, now]) == 1  # b regressed
    assert main([base, base]) == 0  # identical = clean
    out = capsys.readouterr().out
    assert "TOTAL" in out and "REGRESSION" in out


def test_classify_three_way_verdicts():
    """--prev-ref verdicts (VERDICT r13 task #4): interleaved
    previous-code medians separate code from environment."""
    from bench_regression import classify

    # current code 2x slower than previous code in the SAME session
    assert classify(2.0, 1.0, 1.0, 1.3) == "code-regression"
    # both code versions equally slow now, and slow vs the committed
    # number -> the box, not the code
    assert classify(2.0, 1.95, 1.0, 1.3) == "environment"
    # both versions equal and the rerun lands back near the committed
    # baseline -> the flagged capture was a one-off
    assert classify(1.1, 1.05, 1.0, 1.3) == "ambient-noise"
    # between the same-band and the threshold -> inconclusive
    assert classify(1.25, 1.0, 1.0, 1.3) == "inconclusive"
    # no previous-code median -> legacy two-way fallback
    assert classify(1.1, None, 1.0, 1.3) == "ambient-noise"
    assert classify(2.0, None, 1.0, 1.3) == "confirmed-regression"
    assert classify(None, None, 1.0, 1.3) == "not-rerunnable"


def test_purge_and_import_swaps_checkouts(tmp_path):
    """The worktree swap must import the other checkout's registry and
    restore the main one afterwards. The ORIGINAL module objects (and
    sys.path) are snapshotted and restored verbatim — re-importing on
    cleanup would leave every already-imported test module holding
    stale class objects (pytest.raises against a superseded exception
    class, unpicklable closures), which broke 4 unrelated tests in the
    full-suite order when this test first landed."""
    import subprocess
    import sys

    from bench_regression import _purge_and_import

    repo = REPO
    wt = str(tmp_path / "wt")
    saved_modules = {
        m: mod
        for m, mod in sys.modules.items()
        if m == "stglib_spark" or m.startswith("stglib_spark.")
    }
    saved_path = list(sys.path)
    subprocess.run(
        ["git", "-C", repo, "worktree", "add", "--detach", "--force",
         wt, "HEAD"],
        check=True, capture_output=True,
    )
    try:
        reg_wt = _purge_and_import(wt, [repo, wt])
        assert reg_wt.__file__.startswith(wt), reg_wt.__file__
        reg_main = _purge_and_import(repo, [repo, wt])
        assert reg_main.__file__.startswith(repo + "/"), reg_main.__file__
        assert "q1_pricing_summary" in reg_main.QUERIES
    finally:
        subprocess.run(
            ["git", "-C", repo, "worktree", "remove", "--force", wt],
            capture_output=True,
        )
        for m in list(sys.modules):
            if m == "stglib_spark" or m.startswith("stglib_spark."):
                del sys.modules[m]
        sys.modules.update(saved_modules)
        sys.path[:] = saved_path
