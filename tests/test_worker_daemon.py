"""The engine's Python worker daemon: stat-checked zipimporter invalidation.

Spark-free tests drive ``importlib.invalidate_caches()`` on a temp zip that
is on ``sys.path``; the Spark test checks that the session's workers run the
daemon at all.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stream_reader_mzxml_spark import worker_daemon

pytestmark = pytest.mark.skipif(
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


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()  # first stamped read in this process
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files is zipimport._zip_directory_cache[zip_on_path]


def test_rewritten_archive_is_reread(zip_on_path):
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["m_a", "m_b"])
    importlib.invalidate_caches()
    import m_b

    assert m_b.NAME == "m_b"


def test_deleted_archive_yields_empty_table(zip_on_path):
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[zip_on_path]
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert zip_on_path not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        import m_b  # noqa: F401


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
