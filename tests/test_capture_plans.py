"""capture_plans tool: plan-text normalization (pure Python, no Spark)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from capture_plans import normalize

_COLLECT_METRICS = """\
(18) CollectMetrics
Input [2]: [time#{a}, __bad_0#{b}]
Arguments: {uuid}, [sum(CASE WHEN __bad_0#{b} THEN 1 ELSE 0 END) AS T_28:min#{c}L]
"""


def test_two_captures_of_one_plan_normalize_equal():
    """A ``CollectMetrics`` observation gets a fresh UUID per build, as
    expression ids get fresh numbers: two builds of the same plan must
    normalize to the same text."""
    one = _COLLECT_METRICS.format(
        a=12, b=40, c=77, uuid="16c95f76-9e72-4e43-b379-7f6770506f86"
    )
    two = _COLLECT_METRICS.format(
        a=512, b=540, c=577, uuid="98400f44-0b1e-4c55-a7d2-3f0c1e9b2a61"
    )
    assert normalize(one, "/data/sf") == normalize(two, "/data/sf")
    assert "Arguments: <uuid>, [sum(" in normalize(one, "/data/sf")
