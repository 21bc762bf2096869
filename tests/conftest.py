"""Shared pytest fixtures: one SparkSession, tiny/small sequences tables."""

from __future__ import annotations

import glob
import itertools
import os
import subprocess
import sys
import zipfile

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from stream_reader_mzxml_spark.datagen import write_sequences  # noqa: E402
from stream_reader_mzxml_spark.session import get_spark  # noqa: E402


def pytest_collection_modifyitems(items):
    # every test that takes the session or spark-submit carries the ``spark``
    # marker, so ``-m "not spark"`` is a lane that never starts a JVM
    for item in items:
        if {"spark", "spark_submit"} & set(getattr(item, "fixturenames", ())):
            item.add_marker(pytest.mark.spark)


@pytest.fixture(scope="session")
def spark():
    conf = {"spark.sql.streaming.stateStore.stateSchemaCheck": "false"}
    # SPARK_GRAFT_STATESTORE=rocksdb runs the whole suite on the production
    # state backend (state >> heap at 10^12-sequence scale); the default
    # on-heap provider stays for speed at test/bench state sizes.
    if os.environ.get("SPARK_GRAFT_STATESTORE", "").lower() == "rocksdb":
        conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    s = get_spark(
        app_name="tests",
        cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")),
        shuffle_partitions=8,
        extra_conf=conf,
    )
    yield s


@pytest.fixture(scope="session")
def tiny_seq_path(tmp_path_factory):
    """~200-row sequences table (comparable to the 99-scan LTQ fixture)."""
    p = tmp_path_factory.mktemp("seq_tiny") / "sequences"
    return write_sequences(str(p), 200, seed=42, rows_per_file=50)


@pytest.fixture(scope="session")
def small_seq_path(tmp_path_factory):
    """~5k-row sequences table for e2e / streaming tests."""
    p = tmp_path_factory.mktemp("seq_small") / "sequences"
    return write_sequences(str(p), 5000, seed=42, rows_per_file=1000)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def spark_submit(tmp_path):
    """Run ``spark-submit --py-files deps.zip <argv>`` as a cluster user would.

    pyspark's bundled ``bin/spark-submit``, the cwd ``tmp_path`` outside the
    repo, no ``PYTHONPATH``, and ``deps.zip`` zipped there from the package.
    ``SPARK_HOME`` is ``tmp_path/spark`` of links to pyspark's, so a
    ``local-cluster`` worker's ``work/`` dir lands in ``tmp_path``.
    ``run(*argvs)`` starts one run per argv at once, waits for all, fails the
    test on a non-zero exit with the run's log tail, and returns their stdouts.
    """
    with zipfile.ZipFile(tmp_path / "deps.zip", "w") as z:
        pattern = os.path.join(REPO, "stream_reader_mzxml_spark", "**", "*.py")
        for path in sorted(glob.glob(pattern, recursive=True)):
            z.write(path, os.path.relpath(path, REPO))
    home = tmp_path / "spark"
    home.mkdir()
    for name in ("bin", "jars", "python", "sbin"):
        (home / name).symlink_to(os.path.join(os.path.dirname(pyspark.__file__), name))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_HOME=str(home), PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    n_logs = itertools.count()

    def run(*argvs):
        procs = []
        try:
            for argv in argvs:
                log = tmp_path / f"spark-submit-{next(n_logs)}.log"
                with open(log, "w") as err:
                    procs.append((log, subprocess.Popen(
                        [os.path.join(home, "bin", "spark-submit"),
                         "--py-files", "deps.zip", *argv],
                        cwd=tmp_path, env=env, stdout=subprocess.PIPE,
                        stderr=err, text=True,
                    )))
            outs = [p.communicate(timeout=600)[0] for _, p in procs]
        finally:
            for _, p in procs:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        for (log, p), argv in zip(procs, argvs):
            if p.returncode:
                pytest.fail(f"spark-submit {argv} exited {p.returncode}:\n"
                            + log.read_text()[-4000:])
        return outs

    return run
