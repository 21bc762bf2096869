"""The engine's Python worker daemon: stat-checked zipimporter invalidation
and a frozen heap for the workers it forks.

Spark-free tests drive ``importlib.invalidate_caches()`` on a temp zip that
is on ``sys.path``, and run ``worker_daemon.prepare()`` in a fresh
interpreter; the Spark tests check that the session's workers run the
daemon and inherit its frozen heap.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stream_reader_mzxml_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_zip_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; the daemon leaves it",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``m_a`` on ``sys.path``, imported, with the patch on."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m_a"])
    # registers the stock method for restore, then lets install() patch it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    monkeypatch.syspath_prepend(archive)
    for name in ("m_a", "m_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import m_a  # noqa: F401  (creates the path's zipimporter)

    yield archive
    for name in ("m_a", "m_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    worker_daemon._invalidate_caches.stamps.pop(archive, None)


def _count_reads(monkeypatch, archive):
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_zip_patch
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()  # first stamped read in this process
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files is zipimport._zip_directory_cache[zip_on_path]


@needs_zip_patch
def test_rewritten_archive_is_reread(zip_on_path):
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["m_a", "m_b"])
    importlib.invalidate_caches()
    import m_b

    assert m_b.NAME == "m_b"


@needs_zip_patch
def test_deleted_archive_yields_empty_table(zip_on_path):
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[zip_on_path]
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        import m_b  # noqa: F401


@needs_zip_patch
def test_session_workers_run_engine_daemon(spark):
    @F.pandas_udf("string")
    def stamped_archives(s: pd.Series) -> pd.Series:
        import zipimport

        stamps = getattr(zipimport.zipimporter.invalidate_caches, "stamps", None)
        return s.map(lambda _: "stock" if stamps is None else ",".join(stamps))

    rows = spark.range(2).select(stamped_archives("id").alias("a")).collect()
    for r in rows:
        assert r.a != "stock", "workers run Spark's default daemon"
        assert any(a.endswith("pyspark.zip") for a in r.a.split(","))


_PREPARED = """
import gc, json, sys, weakref
from stream_reader_mzxml_spark import worker_daemon

worker_daemon.prepare()
frozen, tracked = gc.get_freeze_count(), len(gc.get_objects())
gc.disable()  # only the explicit collect below may free the cycle


class Task:
    pass


t = Task()
t.self = t
ref = weakref.ref(t)
del t
alive = ref() is not None
gc.collect()
print(json.dumps({
    "frozen": frozen,
    "tracked": tracked,
    "imported": [m for m in ("pandas", "pyarrow") if m in sys.modules],
    "cycle_alive_before": alive,
    "cycle_freed": ref() is None,
}))
"""


def test_prepare_freezes_imported_heap():
    out = subprocess.run(
        [sys.executable, "-c", _PREPARED], cwd=REPO, check=True,
        capture_output=True, text=True, timeout=120,
    )
    r = json.loads(out.stdout.splitlines()[-1])
    assert r["imported"] == ["pandas", "pyarrow"]
    assert r["frozen"] > 0
    # a forked worker's full collection walks only what it made after this
    assert r["tracked"] < r["frozen"] // 20
    # task garbage is still collected
    assert r["cycle_alive_before"] and r["cycle_freed"]


def test_session_workers_inherit_frozen_heap(spark):
    @F.pandas_udf("string")
    def gc_counts(s: pd.Series) -> pd.Series:
        import gc

        counts = f"{gc.get_freeze_count()},{len(gc.get_objects())}"
        return s.map(lambda _: counts)

    rows = spark.range(2).select(gc_counts("id").alias("c")).collect()
    for r in rows:
        frozen, tracked = map(int, r.c.split(","))
        assert frozen > 0, "workers fork from an unfrozen daemon"
        assert frozen > tracked


# A driver that runs one pandas UDF and prints what its Python worker saw.
# argv[1], when given, is put on the driver's sys.path (and nowhere else);
# argv[2], when given, is deleted once the session is up.
_PROBE = """
import json, os, sys
if len(sys.argv) > 1:
    sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import functions as F
from stream_reader_mzxml_spark.session import get_spark

spark = get_spark(app_name="probe")
if len(sys.argv) > 2:
    os.remove(sys.argv[2])


@F.pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import gc, json, zipimport
    import stream_reader_mzxml_spark as pkg

    stamps = getattr(zipimport.zipimporter.invalidate_caches, "stamps", None)
    seen = json.dumps({
        "frozen": gc.get_freeze_count(),
        "stamps": "stock" if stamps is None else sorted(stamps),
        "pkg": pkg.__file__,
    })
    return s.map(lambda _: seen)


print(json.dumps({
    "task": json.loads(spark.range(1).select(probe("id")).first()[0]),
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "pythonpath": spark.sparkContext.environment["PYTHONPATH"],
    "checkpoint_manager": spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass", None
    ),
}))
"""


def test_spark_submit_workers_run_engine_daemon(spark_submit, tmp_path):
    """``get_spark`` under ``spark-submit --py-files deps.zip``: the workers
    fork from the engine daemon, which imports the shipped zip, and
    spark-submit's topology flags and worker ``PYTHONPATH`` survive. The
    checkpoint manager stays Spark's default (the checkpoint may not be
    local)."""
    (tmp_path / "probe.py").write_text(_PROBE)
    (out,) = spark_submit([
        "--master", "local[2]", "--conf", "spark.sql.shuffle.partitions=7",
        "--conf", "spark.executorEnv.PYTHONPATH=extra", "probe.py",
    ])
    r = json.loads(out.splitlines()[-1])
    assert r["master"] == "local[2]"
    assert r["shuffle_partitions"] == "7"
    assert r["checkpoint_manager"] is None
    assert r["pythonpath"].split(os.pathsep) == [
        "extra", str(tmp_path / "deps.zip"), "deps.zip"
    ]
    assert r["task"]["frozen"] > 0, "workers fork from an unfrozen daemon"
    if sys.version_info < (3, 13):
        assert r["task"]["stamps"] not in ("stock", [])
    assert os.path.join("deps.zip", "stream_reader_mzxml_spark") in r["task"]["pkg"]


def test_cluster_executor_finds_shipped_zip(spark_submit, tmp_path):
    """On a ``local-cluster`` master the executor is its own JVM whose cwd
    is its work dir. With the driver's copy of the package gone (as on
    another host), its daemon imports the ``--py-files`` zip it fetched."""
    (tmp_path / "probe.py").write_text(_PROBE)
    (tmp_path / "driver").mkdir()
    shutil.copy(tmp_path / "deps.zip", tmp_path / "driver" / "deps.zip")
    (out,) = spark_submit([
        "--master", "local-cluster[1,1,1024]",
        "probe.py", "driver/deps.zip", "driver/deps.zip",
    ])
    task = json.loads(out.splitlines()[-1])["task"]
    assert task["frozen"] > 0, "workers fork from an unfrozen daemon"
    work = os.path.realpath(tmp_path / "spark" / "work")
    assert os.path.realpath(task["pkg"]).startswith(work + os.sep), task["pkg"]
    assert os.path.join("deps.zip", "stream_reader_mzxml_spark") in task["pkg"]


@pytest.mark.spark
def test_driver_outside_repo_gets_python_workers(tmp_path):
    """A plain driver whose cwd is outside the repo, with no ``PYTHONPATH``
    and only a ``sys.path`` entry for the package, still starts the daemon."""
    (tmp_path / "probe.py").write_text(_PROBE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "probe.py", REPO], cwd=tmp_path, env=env,
        check=True, capture_output=True, text=True, timeout=300,
    )
    r = json.loads(out.stdout.splitlines()[-1])
    assert r["checkpoint_manager"].endswith(".FileSystemBasedCheckpointFileManager")
    assert r["task"]["frozen"] > 0
    assert r["task"]["pkg"].startswith(os.path.join(REPO, "stream_reader_mzxml_spark"))
