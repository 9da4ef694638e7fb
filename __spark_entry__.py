"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship end-to-end slice (clip → QA/QC → burst keys →
Welch spectral chain → wave statistics) on sf0.001. ``queries`` /
``oracle_sql`` expose every implemented operator from SURVEY.md §2 plus
the north-star pipeline extensions; see ``stglib_spark/queries.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stglib_spark import queries as _registry

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _registry.QUERIES["wave_stats_welch"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order (the deliberate-RED probes last)."""
    return dict(_registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted only for non-SQL-
    expressible operators — spectral/FFT chains, IIR filtering, and the
    multimodal/sonar kernels; the dedup/LSH family is fully oracled via a
    DuckDB-reproducible hash)."""
    return dict(_registry.ORACLES)
