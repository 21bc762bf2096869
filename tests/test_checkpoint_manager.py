"""The checkpoint manager of a launched session.

``get_spark`` pins ``FileSystemBasedCheckpointFileManager`` when it starts
the JVM itself: checkpoint and state-store files are renamed by one
``FileSystem.rename``, so Hadoop forks no ``readlink`` for them (it does for
every rename under Spark's FileContext default when libhadoop is absent).
Each test drains the windowed aggregate through the exactly-once sink
in a fresh driver whose ``PATH`` starts with a ``readlink`` that logs its
argument, then resumes it on the same checkpoint with the rest of the input.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys

import pytest

from stream_reader_mzxml_spark.datagen import write_sequences

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "spark.sql.streaming.checkpointFileManagerClass"
MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."
STORES = "org.apache.spark.sql.execution.streaming.state."

# argv: staged input dir, work dir, extra_conf as JSON. Drains half the
# input files, then the rest on the same checkpoint, and prints what the
# session ran with and the committed rows next to the batch oracle's.
_DRAIN = """
import json, os, shutil, sys
from stream_reader_mzxml_spark.session import get_spark
from stream_reader_mzxml_spark.sources import read_sequences, read_sequences_stream
from stream_reader_mzxml_spark.streaming import windows
from stream_reader_mzxml_spark.streaming.sink import read_output, start_exactly_once

staged, work, extra = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
spark = get_spark(app_name="ckpt", cpus=2, shuffle_partitions=2, extra_conf=extra)
inp, out, ckpt = (os.path.join(work, d) for d in ("input", "out", "ckpt"))
os.mkdir(inp)
files = sorted(os.listdir(staged))
for part in (files[: len(files) // 2], files[len(files) // 2 :]):
    for name in part:  # copy2 keeps the write order's mtimes
        shutil.copy2(os.path.join(staged, name), inp)
    stream = read_sequences_stream(spark, inp, max_files_per_trigger=1)
    q = start_exactly_once(
        windows.salted_tumbling_token_stats(stream), out, ckpt,
        token_col=None, id_col="source",
    )
    q.awaitTermination(300)
    assert q.exception() is None, q.exception()
# a readlink outside the checkpoint shows that the JVM's forks reach the shim
jvm = spark._jvm
jvm.org.apache.hadoop.fs.FileUtil.readLink(jvm.java.io.File(os.path.join(work, "probe")))
oracle = windows.tumbling_token_stats(read_sequences(spark, inp)).collect()
print(json.dumps({
    "manager": spark.conf.get("%s", None),
    "rows": [[r.ws, r.source, r.n_rows, r.n_tokens] for r in read_output(spark, out).collect()],
    "oracle": [[r.ws, r.source, r.n_rows, r.n_tokens] for r in oracle],
}))
""" % KEY


@pytest.fixture(scope="module")
def staged(tmp_path_factory):
    p = tmp_path_factory.mktemp("ckpt_staged") / "sequences"
    return write_sequences(str(p), 2000, seed=7, rows_per_file=500)


def _drain(staged, work, extra_conf):
    """Run ``_DRAIN`` under the ``readlink`` shim; return its result and the
    paths the JVM's ``readlink`` forks were asked for."""
    shim, log = work / "shim", work / "readlink.log"
    shim.mkdir()
    (shim / "readlink").write_text(
        f'#!/bin/sh\nprintf "%s\\n" "$1" >> "{log}"\nexec {shutil.which("readlink")} "$@"\n'
    )
    (shim / "readlink").chmod(stat.S_IRWXU)
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PATH"] = f"{shim}{os.pathsep}{env.get('PATH', '')}"
    out = subprocess.run(
        [sys.executable, "-c", _DRAIN, staged, str(work), json.dumps(extra_conf)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.splitlines()[-1])
    # Hadoop passes a checkpoint path as a ``file:`` URI
    links = [p.removeprefix("file:") for p in log.read_text().split()]
    assert str(work / "probe") in links, "the JVM's readlink bypassed the shim"
    return result, links


def _assert_matches_oracle(result):
    exp = {(ws, src): (n, t) for ws, src, n, t in result["oracle"]}
    assert result["rows"]
    for ws, src, n, t in result["rows"]:
        assert (n, t) == exp[(ws, src)], (ws, src)
    assert len({(ws, src) for ws, src, _, _ in result["rows"]}) == len(result["rows"])


@pytest.mark.spark
@pytest.mark.parametrize(
    "store, versioned",
    [("HDFSBackedStateStoreProvider", ".delta"), ("RocksDBStateStoreProvider", ".zip")],
    ids=["hdfs", "rocksdb"],
)
def test_launched_session_renames_checkpoints_without_readlink(
    staged, tmp_path, store, versioned
):
    result, links = _drain(
        staged, tmp_path, {"spark.sql.streaming.stateStore.providerClass": STORES + store}
    )
    ckpt = str(tmp_path / "ckpt")
    assert [p for p in links if p.startswith(ckpt)] == []
    assert result["manager"] == MANAGERS + "FileSystemBasedCheckpointFileManager"
    _assert_matches_oracle(result)

    # every state file keeps its Hadoop ``.crc``, and each version file
    # (``N.delta``, or RocksDB's ``N.zip``) its Spark checksum ``N.delta.crc``
    versions = 0
    for root, _, names in os.walk(tmp_path / "ckpt" / "state"):
        for name in names:
            if name.endswith(versioned):
                versions += 1
                assert f"{name}.crc" in names, os.path.join(root, name)
            if not name.startswith("."):
                assert f".{name}.crc" in names, os.path.join(root, name)
    assert versions > 0


@pytest.mark.spark
def test_extra_conf_keeps_callers_checkpoint_manager(staged, tmp_path):
    default = MANAGERS + "FileContextBasedCheckpointFileManager"
    result, links = _drain(staged, tmp_path, {KEY: default})
    assert result["manager"] == default
    # the caller's manager is the one that renames: its forks are back
    assert any(p.startswith(str(tmp_path / "ckpt")) for p in links)
    _assert_matches_oracle(result)
