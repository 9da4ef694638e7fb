"""Unit tests for the session helpers: the byte-size conf parser, the
once-per-SparkContext package-ship guard and its content-named zip, the
warnings of the best-effort session steps, the Python workers'
zip-invalidation guard, the session confs and the driver JVM's
class-data-sharing archive."""

import importlib
import logging
import os
import subprocess
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


def test_package_zip_is_named_by_its_contents(tmp_path):
    """Two package trees never share a zip path; the same tree maps to
    the same zip, which holds its ``.py`` files under ``stglib_spark/``
    and leaves no temp file behind."""
    out = tmp_path / "out"
    out.mkdir()
    trees = []
    for body in ("A = 1\n", "A = 2\n"):
        tree = tmp_path / f"pkg{len(trees)}"
        (tree / "sub").mkdir(parents=True)
        (tree / "__init__.py").write_text("")
        (tree / "sub" / "mod.py").write_text(body)
        (tree / "notes.txt").write_text("not shipped")
        trees.append(tree)
    first, second = (session._package_zip(str(t), str(out)) for t in trees)
    assert first != second
    assert session._package_zip(str(trees[0]), str(out)) == first
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == ["stglib_spark/__init__.py", "stglib_spark/sub/mod.py"]
        assert zf.read("stglib_spark/sub/mod.py") == b"A = 1\n"
    assert sorted(p.name for p in out.iterdir()) == sorted(
        [os.path.basename(first), os.path.basename(second)]
    )


def test_extra_conf_appends_to_the_driver_java_options(monkeypatch):
    """A ``spark.driver.extraJavaOptions`` entry in the measurement hook
    goes after the fixed JVM options and the archive's, instead of
    replacing them; other entries override, the sized codegen cache
    included."""
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        "spark.driver.extraJavaOptions=-Xlog:class+load; spark.ui.enabled=true;"
        "spark.sql.codegen.cache.maxEntries=100",
    )
    confs = session._session_confs(4, "-XX:SharedArchiveFile=/a.jsa")
    assert confs["spark.driver.extraJavaOptions"] == (
        f"{session._DRIVER_JAVA_OPTIONS} -XX:SharedArchiveFile=/a.jsa -Xlog:class+load"
    )
    assert confs["spark.ui.enabled"] == "true"
    assert confs["spark.sql.codegen.cache.maxEntries"] == "100"
    assert confs["spark.master"] == "local[4]"
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF")
    confs = session._session_confs(2)
    assert confs["spark.driver.extraJavaOptions"] == session._DRIVER_JAVA_OPTIONS
    assert confs["spark.sql.codegen.cache.maxEntries"] == "4096"


def test_generated_classes_are_reused_above_the_default_cache_size(spark):
    """60 distinct projections generate 120 classes, more than Spark's
    default cache of 100 holds; run twice, the second round compiles
    nothing (a 100-entry cache recompiles ~96 of them)."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_round():
        before = compiles.getCount()
        for k in range(60):
            spark.range(8).selectExpr(f"id * {k} + {k + 1} AS x").write.format(
                "noop"
            ).mode("overwrite").save()
        return compiles.getCount() - before

    assert run_round() > 100
    assert run_round() == 0


# -- the driver JVM's class-data-sharing archive ---------------------------


@pytest.fixture
def launch(monkeypatch, tmp_path):
    """``get_spark`` with no gateway yet, a cache under ``tmp_path``, a
    conf dir of templates, and ``_build`` replaced by a recorder of the
    launch environment: no JVM starts."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("# spark.master local\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setattr(session, "ensure_package_shipped", lambda spark: None)
    hooks = []
    monkeypatch.setattr(session.atexit, "register", lambda *a: hooks.append(a))
    calls = []

    def build(app_name, confs):
        calls.append(
            {"conf_dir": os.environ.get("SPARK_CONF_DIR"),
             "java": confs["spark.driver.extraJavaOptions"]}
        )
        if state.fail_first and len(calls) == 1:
            from pyspark.errors import PySparkRuntimeError

            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        monkeypatch.setattr(SparkContext, "_gateway", SimpleNamespace(proc="jvm"))
        return "session"

    monkeypatch.setattr(session, "_build", build)
    from pyspark.find_spark_home import _find_spark_home

    state = SimpleNamespace(
        calls=calls, hooks=hooks, conf_dir=conf_dir, fail_first=False,
        cds=tmp_path / "cache" / "stglib_spark" / "cds",
        key=session._archive_key(_find_spark_home()),
    )
    return state


def _plant(cds, name, size):
    cds.mkdir(parents=True, exist_ok=True)
    (cds / name).write_bytes(b"\0" * size)
    return cds / name


def test_templates_only_conf_dir_launches_with_the_archive(launch):
    archive = _plant(launch.cds, f"{launch.key}-64.jsa", 64)
    assert session.get_spark("t", cpus=2) == "session"
    [call] = launch.calls
    assert call["conf_dir"] == str(launch.cds / "conf")
    assert os.listdir(call["conf_dir"]) == []
    assert f"-XX:SharedArchiveFile={archive}" in call["java"]
    assert "-Xlog:cds=off -Xlog:cds+dynamic=off" in call["java"]
    assert call["java"].startswith(session._DRIVER_JAVA_OPTIONS)
    assert os.environ["SPARK_CONF_DIR"] == str(launch.conf_dir)
    assert launch.hooks == []  # nothing to record


def test_real_conf_file_launches_plain(launch):
    (launch.conf_dir / "spark-defaults.conf").write_text("spark.master local\n")
    _plant(launch.cds, f"{launch.key}-64.jsa", 64)
    session.get_spark("t", cpus=2)
    [call] = launch.calls
    assert call == {"conf_dir": str(launch.conf_dir), "java": session._DRIVER_JAVA_OPTIONS}


def test_no_archive_flags_when_a_gateway_exists(launch, monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", SimpleNamespace(proc=None))
    assert session._ClassDataArchive.for_launch() is None
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "4711")
    assert session._ClassDataArchive.for_launch() is None


def test_archive_key_follows_the_jars(tmp_path, monkeypatch):
    monkeypatch.delenv("JAVA_HOME", raising=False)
    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"PK")
    key = session._archive_key(str(tmp_path))
    assert key is not None and key == session._archive_key(str(tmp_path))
    st = (jars / "b.jar").stat()
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert session._archive_key(str(tmp_path)) != key


class _Jvm:
    """A recording driver JVM stand-in: on EOF it writes ``dump`` and
    exits with ``code``."""

    def __init__(self, dump, code=0):
        self.stdin = SimpleNamespace(close=lambda: None)
        self.dump, self.code = dump, code

    def wait(self, timeout=None):
        if self.code == 0:
            self.dump.write_bytes(b"\1" * 100)
        return self.code


def test_recording_installs_the_archive_at_exit(launch):
    """No archive: the JVM records into a per-process temp file, and the
    exit hook installs it under its size, removes another key's archive
    and a dead process's temp file, and keeps a live process's."""
    stale = _plant(launch.cds, "0123456789abcdef-64.jsa", 64)
    dead = _plant(launch.cds, f"{launch.key}.jsa.999999999.tmp", 8)
    live = _plant(launch.cds, f"{launch.key}.jsa.1.tmp", 8)
    session.get_spark("t", cpus=2)
    [call] = launch.calls
    dump = launch.cds / f"{launch.key}.jsa.{os.getpid()}.tmp"
    assert f"-XX:ArchiveClassesAtExit={dump}" in call["java"]
    [(hook, jvm)] = launch.hooks
    assert jvm == "jvm"
    hook(_Jvm(dump))
    assert sorted(p.name for p in launch.cds.iterdir()) == sorted(
        ["conf", f"{launch.key}-100.jsa", live.name]
    )
    assert not stale.exists() and not dead.exists()


def test_failed_recording_installs_nothing(launch):
    session.get_spark("t", cpus=2)
    assert launch.cds.stat().st_mode & 0o777 == 0o700
    [(hook, _)] = launch.hooks
    dump = launch.cds / f"{launch.key}.jsa.{os.getpid()}.tmp"
    dump.write_bytes(b"partial")
    hook(_Jvm(dump, code=-9))
    assert sorted(p.name for p in launch.cds.iterdir()) == ["conf"]


def test_wrong_size_archive_is_never_launched(launch, caplog):
    """A truncated archive would crash the JVM with its report on
    stdout: one whose size is not the one in its name is removed and
    this process launches plain."""
    archive = _plant(launch.cds, f"{launch.key}-4096.jsa", 1024)
    caplog.set_level(logging.WARNING, logger=session.logger.name)
    session.get_spark("t", cpus=2)
    [call] = launch.calls
    assert call == {"conf_dir": str(launch.conf_dir), "java": session._DRIVER_JAVA_OPTIONS}
    assert not archive.exists()
    assert [r.levelno for r in caplog.records if r.name == session.logger.name] == [
        logging.WARNING
    ]


def test_jvm_that_fails_with_the_archive_is_relaunched_without_it(launch):
    archive = _plant(launch.cds, f"{launch.key}-64.jsa", 64)
    launch.fail_first = True
    assert session.get_spark("t", cpus=2) == "session"
    first, second = launch.calls
    assert "-XX:SharedArchiveFile" in first["java"]
    assert second == {"conf_dir": str(launch.conf_dir), "java": session._DRIVER_JAVA_OPTIONS}
    assert not archive.exists()
    assert os.environ["SPARK_CONF_DIR"] == str(launch.conf_dir)
    assert launch.hooks == []


def test_truncated_archive_still_answers_select_1(tmp_path):
    """End to end in a fresh process: a truncated archive is removed,
    the session answers, and the CLI-visible stdout carries only the
    answer."""
    from pyspark.find_spark_home import _find_spark_home

    key = session._archive_key(_find_spark_home())
    cds = tmp_path / "cache" / "stglib_spark" / "cds"
    archive = _plant(cds, f"{key}-137482240.jsa", 4096)
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"), TMPDIR=str(tmp_path))
    env.pop("SPARK_CONF_DIR", None)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    code = (
        "from stglib_spark.session import get_spark\n"
        "print(get_spark('cds-test', cpus=1).sql('select 1 as x').collect()[0].x)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout == "1\n"
    assert not archive.exists()
    assert sorted(p.name for p in cds.iterdir()) == ["conf"]
    assert not list(tmp_path.glob("hs_err_pid*"))
