"""The spark-submit launch mode: ``jobs/streaming_job.py`` under pyspark's
bundled ``bin/spark-submit``, with only ``deps.zip`` on ``--py-files`` and a
cwd outside the repo.

Each suite drains the first half of the input files, then the rest arrives
and the same command reruns on the same checkpoint. The committed output is
checked against the batch oracles: lineage accounts for every row, no key is
written twice, and the rows equal what the batch plans compute.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from stream_reader_mzxml_spark.datagen import write_sequences
from stream_reader_mzxml_spark.sources import read_sequences
from stream_reader_mzxml_spark.streaming import stateful, windows
from stream_reader_mzxml_spark.streaming.sink import read_lineage, read_output

JOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "streaming_job.py"
)
SUITES = ("sink", "windowed_agg", "stateful_join")
KEYS = {
    "sink": ["doc_id"],
    "windowed_agg": ["ws", "source"],
    "stateful_join": ["ms2_doc_id"],
}


def _rows(df, cols):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(*cols).collect()
    )


def test_suites_drain_and_resume(spark, spark_submit, tmp_path):
    staged = write_sequences(str(tmp_path / "staged"), 2000, seed=7, rows_per_file=500)
    files = sorted(os.listdir(staged))
    inp = tmp_path / "input"
    inp.mkdir()

    def run_suites(names):
        for name in names:  # copy2 keeps the write order's mtimes
            shutil.copy2(os.path.join(staged, name), inp / name)
        spark_submit(*(
            ["--master", "local[2]", "--conf", "spark.sql.shuffle.partitions=2",
             JOB, "--input", "input", "--output", f"out_{suite}",
             "--checkpoint", f"ckpt_{suite}", "--suite", suite]
            for suite in SUITES
        ))
        return {s: read_output(spark, str(tmp_path / f"out_{s}")).count() for s in SUITES}

    first = run_suites(files[: len(files) // 2])
    last = run_suites(files[len(files) // 2 :])

    batch = read_sequences(spark, str(inp))
    for suite in SUITES:
        out_dir = str(tmp_path / f"out_{suite}")
        got = read_output(spark, out_dir)
        assert 0 < first[suite] < last[suite], suite
        lineage = read_lineage(spark, os.path.join(out_dir, "_lineage"))
        assert lineage.agg(F.sum("n_rows")).first()[0] == last[suite], suite
        assert got.select(*KEYS[suite]).distinct().count() == last[suite], suite

    got = read_output(spark, str(tmp_path / "out_sink"))
    assert _rows(got, batch.columns) == _rows(batch, batch.columns)

    cols = ["ms1_doc_id", "ms2_doc_id", "ms2_source", "dt_seconds", "clean_tokens", "n_clean"]
    got = read_output(spark, str(tmp_path / "out_stateful_join"))
    assert _rows(got, cols) == _rows(stateful.shard_join_batch_oracle(batch), cols)

    exp = {
        (r.ws, r.source): (r.n_rows, r.n_tokens)
        for r in windows.tumbling_token_stats(batch).collect()
    }
    for r in read_output(spark, str(tmp_path / "out_windowed_agg")).collect():
        assert (r.n_rows, r.n_tokens) == exp[(r.ws, r.source)], (r.ws, r.source)
