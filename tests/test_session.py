"""Unit tests for the session helpers that need no running Spark: the
byte-size conf parser and the once-per-SparkContext guards."""

from types import SimpleNamespace

import pytest

from stglib_spark import session


def _with_conf(**confs):
    # spark.conf.get(key, default) has dict.get's signature
    return SimpleNamespace(conf=dict(confs))


@pytest.mark.parametrize(
    "raw, want",
    [
        ("134217728b", 134217728),
        ("4m", 4 << 20),
        ("64k", 64 << 10),
        ("not-a-size", 12345),
    ],
)
def test_conf_bytes_suffixes_and_fallback(raw, want):
    spark = _with_conf(**{"spark.sql.files.maxPartitionBytes": raw})
    assert session._conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 12345
    ) == want


def test_conf_bytes_unset_key_uses_default():
    assert session._conf_bytes(_with_conf(), "spark.x", 4 << 20) == 4 << 20


class _Context:
    """SparkContext stand-in: an applicationId that can fail to resolve
    (None), and a record of the shipped py-files."""

    def __init__(self, app_id):
        self._app_id = app_id
        self.py_files = []

    @property
    def applicationId(self):
        if self._app_id is None:
            raise RuntimeError("applicationId unavailable")
        return self._app_id

    def addPyFile(self, path):
        self.py_files.append(path)


class _Session:
    def __init__(self, app_id):
        self.sparkContext = _Context(app_id)
        self.warm_queries = 0

    def sql(self, _query):
        self.warm_queries += 1
        return SimpleNamespace(collect=list)


@pytest.fixture
def guards(monkeypatch, tmp_path):
    """Fresh guard sets, the package zip in a temp dir, and the worker
    warm-up replaced by a recorder."""
    monkeypatch.setattr(session, "_WARMED", set())
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    warmed = []
    monkeypatch.setattr(session, "_warm_python_workers", warmed.append)
    return warmed


def _start(spark):
    session.ensure_package_shipped(spark)
    session._warm_collation_support(spark)


def test_second_context_is_shipped_and_warmed_again(guards):
    spark = _Session("local-1")
    _start(spark)
    _start(spark)
    assert len(spark.sparkContext.py_files) == 1
    assert spark.warm_queries == 1

    # __main__.main stops the context and builds a new one in the same
    # process, and the new context may get the collected one's id();
    # keeping the object and changing its applicationId models that
    spark.sparkContext._app_id = "local-2"
    _start(spark)
    assert len(spark.sparkContext.py_files) == 2
    assert spark.warm_queries == 2
    assert guards == [spark, spark]


def test_failed_context_lookup_records_nothing(guards):
    # the second context's lookup fails too: it must still be shipped
    # and warmed, not skipped on a key the first one recorded
    for _ in range(2):
        lost = _Session(None)
        _start(lost)
        assert len(lost.sparkContext.py_files) == 1
        assert lost.warm_queries == 1
    assert session._WARMED == set() and session._SHIPPED == set()
    assert len(guards) == 2
