"""Unit tests for the session helpers: the byte-size conf parser, the
once-per-SparkContext package-ship guard, the warnings of the
best-effort session steps and the Python workers' zip-invalidation
guard."""

import importlib
import logging
import sys
import zipfile
import zipimport
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


@pytest.fixture
def shipped(monkeypatch, tmp_path):
    """A fresh guard set and the package zip in a temp dir."""
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setenv("TMPDIR", str(tmp_path))


def test_second_context_is_shipped_and_warmed_again(shipped):
    spark = _Session("local-1")
    session.ensure_package_shipped(spark)
    session.ensure_package_shipped(spark)
    assert len(spark.sparkContext.py_files) == 1

    # __main__.main stops the context and builds a new one in the same
    # process, and the new context may get the collected one's id();
    # keeping the object and changing its applicationId models that
    spark.sparkContext._app_id = "local-2"
    session.ensure_package_shipped(spark)
    assert len(spark.sparkContext.py_files) == 2


def test_failed_context_lookup_records_nothing(shipped):
    # the second context's lookup fails too: it must still be shipped,
    # not skipped on a key the first one recorded
    for _ in range(2):
        lost = _Session(None)
        session.ensure_package_shipped(lost)
        assert len(lost.sparkContext.py_files) == 1
    assert session._SHIPPED == set()


class _Broken:
    """A session whose every Spark call raises."""

    def __init__(self):
        self.sparkContext = _Context("local-broken")
        self.sparkContext.addPyFile = self._fail
        self.conf = SimpleNamespace(set=self._fail)

    def _fail(self, *_args, **_kwargs):
        raise RuntimeError("boom")


@pytest.mark.parametrize("site", ["ensure_package_shipped", "pin_utc"])
def test_failed_session_step_logs_one_warning(site, monkeypatch, tmp_path, caplog):
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    step = getattr(session, site)
    caplog.set_level(logging.WARNING, logger=session.logger.name)
    step(_Broken())
    records = [
        r for r in caplog.records
        if r.name == session.logger.name and r.levelno == logging.WARNING
    ]
    assert len(records) == 1, [r.getMessage() for r in records]
    assert "boom" in records[0].getMessage()


def test_zip_invalidation_guard_rereads_only_a_changed_archive(
    monkeypatch, tmp_path
):
    """``importlib.invalidate_caches()`` must still expose a module added
    to a zip already on ``sys.path``; with the guard, an unchanged archive
    is not re-read. The guard is installed on a monkeypatched attribute,
    so the test process's import system is restored afterwards."""
    archive = tmp_path / "guarded.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("_zipguard_first.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("_zipguard_first", "_zipguard_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    guarded = session.guard_zip_invalidation()
    assert guarded == (sys.version_info < (3, 12))
    assert session.guard_zip_invalidation() == guarded  # idempotent

    assert importlib.import_module("_zipguard_first").VALUE == 1
    # the first invalidation re-reads and records the signature
    importlib.invalidate_caches()
    before = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if guarded:
        assert len(reads) == before
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("_zipguard_second.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("_zipguard_second").VALUE == 2
    if guarded:
        assert len(reads) == before + 1
    sys.path_importer_cache.pop(str(archive), None)


def test_warmed_workers_install_the_zip_guard(spark):
    """A Python worker that imports the package installs the guard, and
    this process's ``zipimporter`` stays untouched."""
    import pandas as pd

    def probe(pdf):
        import zipimport as zi

        import stglib_spark.session as s

        flag = getattr(zi.zipimporter.invalidate_caches, s._ZIP_SIGNATURE, False)
        return pd.DataFrame({"guarded": [bool(flag)]})

    rows = (
        spark.range(1).groupBy("id").applyInPandas(probe, "guarded boolean")
        .collect()
    )
    assert [r.guarded for r in rows] == [sys.version_info < (3, 12)]
    assert not getattr(
        zipimport.zipimporter.invalidate_caches, session._ZIP_SIGNATURE, False
    )


def test_read_parquet_spark_written_zone_launches_no_job(spark, tmp_path, jobs_launched):
    """A zone Spark wrote is read with the row schema in its footer: no
    schema-inference job, and the schema (names, types, nullability,
    field metadata) equals the one ``spark.read.parquet`` infers."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "zone")
    spark.range(40, numPartitions=3).select(
        F.col("id"),
        F.timestamp_seconds("id").alias("time"),
        F.col("id").cast("int").alias("n"),
        F.lit(None).cast("double").alias("empty"),
        F.array(F.col("id").cast("double")).alias("arr"),
        F.lit("x").alias("s"),
    ).withMetadata("n", {"units": "1"}).write.parquet(path)
    schema, jobs = jobs_launched(lambda: session.read_parquet(spark, path).schema)
    assert jobs == 0
    inferred = spark.read.parquet(path).schema
    assert schema == inferred
    assert schema.jsonValue() == inferred.jsonValue()
    got = session.read_parquet(spark, path).collect()
    assert sorted(got) == sorted(spark.read.parquet(path).collect())


def test_read_parquet_other_writers_and_partitions_are_inferred(spark, tmp_path):
    """Files without Spark's footer schema (pyarrow's TIMESTAMP_NTZ) and
    a ``split_profiles`` zone, partitioned per profile, are read through
    schema inference as before, the partition column included."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    from stglib_spark.config import History
    from stglib_spark.pipeline import _write_zone

    met = str(tmp_path / "met.parquet")
    pq.write_table(
        pa.table({
            "time": pa.array(
                pd.date_range("2024-06-01", periods=4, freq="10min").to_numpy(),
                pa.timestamp("us"),
            ),
            "atmpres": [10.1, 10.2, 10.3, 10.4],
        }),
        met,
    )
    got = session.read_parquet(spark, met)
    assert got.schema == spark.read.parquet(met).schema
    assert isinstance(got.schema["time"].dataType, TimestampNTZType)
    assert got.count() == 4

    cfg = {"filename": "prof", "output_dir": str(tmp_path)}
    zone = _write_zone(
        spark.range(30).select(
            (F.col("id") % 3).cast("int").alias("profile"),
            F.col("id").cast("double").alias("P_1"),
        ),
        cfg, "clean", History(), partition_by="profile",
    )
    got = session.read_parquet(spark, zone)
    assert got.schema == spark.read.parquet(zone).schema
    assert "profile" in got.columns
    assert sorted(r.profile for r in got.select("profile").distinct().collect()) == [0, 1, 2]
