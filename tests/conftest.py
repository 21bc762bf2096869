"""Shared pytest fixtures: one SparkSession, tiny/small sequences tables."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stream_reader_mzxml_spark.datagen import write_sequences  # noqa: E402
from stream_reader_mzxml_spark.session import get_spark  # noqa: E402


def pytest_collection_modifyitems(items):
    # every test that takes the session carries the ``spark`` marker, so
    # ``-m "not spark"`` is a lane that never starts a JVM
    for item in items:
        if "spark" in getattr(item, "fixturenames", ()):
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
