"""The main correctness gate, run locally: every queries() entry with an
oracle must hash-match DuckDB on the same tables (the driver's
correctness check); oracle-less entries must at least run and return a
stable schema."""

from __future__ import annotations

import pytest

from stglib_spark import queries as registry
from tests.oracle_harness import compare, duck_connection

# The *_probe_hugeint queries are DELIBERATE NEGATIVES for the r7 driver
# bisection: their oracles intentionally leave a sum un-CAST so DuckDB
# returns HUGEINT (→ float64 under pandas export), which must MISMATCH.
PROBES = sorted(n for n in registry.ORACLES if n.endswith("_probe_hugeint"))
ORACLED = sorted(set(registry.ORACLES) - set(PROBES))
ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, sf_dir, duck, name):
    sdf = registry.QUERIES[name](spark, sf_dir)
    ddf = duck.sql(registry.ORACLES[name]).df()
    problems = compare(sdf, ddf, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", PROBES)
def test_probe_mismatches_by_design(spark, sf_dir, duck, name):
    """Each negative probe MUST trip the harness's dtype check — if it
    stops failing, either the harness lost its guard or DuckDB changed
    its HUGEINT export, and the probe no longer proves anything."""
    sdf = registry.QUERIES[name](spark, sf_dir)
    ddf = duck.sql(registry.ORACLES[name]).df()
    problems = compare(sdf, ddf, name)
    assert problems and "dtype mismatch" in problems[0], problems


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    sdf = registry.QUERIES[name](spark, sf_dir)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.schema.fields) > 0
