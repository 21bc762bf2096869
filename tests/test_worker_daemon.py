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
