"""The registry is a fixed contract: exactly 235 queries, returned in
registration order with the two deliberate-RED probes last, so no sweep
over a prefix of the registry starts with an expected red.

The census line above the probes in ``stglib_spark/queries.py`` must
state the same count, so a registration or retirement that changes it
also updates the one place the number is written.
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_registry_comment_census_matches_len_queries():
    import __spark_entry__ as em

    actual = len(em.queries())
    src = open(os.path.join(REPO, "stglib_spark", "queries.py")).read()
    m = re.search(r"Current census: (\d+) registered", src)
    assert m, "queries.py must state 'Current census: N registered'"
    stated = int(m.group(1))
    assert stated == actual, (
        f"registry comment says census {stated} but len(queries()) is "
        f"{actual} — update the 'Current census' line above the probes"
    )


def test_registry_under_cap():
    import __spark_entry__ as em

    # The fixed contract: exactly 235 (within the former 250-entry cap).
    assert len(em.queries()) == 235, len(em.queries())


def test_registry_probes_last():
    import __spark_entry__ as em

    names = list(em.queries())
    assert names[-2:] == [
        "ts_sessionize_probe_hugeint",
        "corpus_datacard_probe_hugeint",
    ], names[-2:]
    early = [n for n in names[:50] if n.endswith("_probe_hugeint")]
    assert not early, early
