"""Datagen invariants — the FIXTURES.md §4 goldens carried from the reference tests."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from stream_reader_mzxml_spark.datagen import (
    HOT_SOURCE,
    SOURCES,
    generate_sequences,
)


def test_deterministic():
    a = generate_sequences(500, seed=42)
    b = generate_sequences(500, seed=42)
    assert a.equals(b)
    c = generate_sequences(500, seed=43)
    assert not a.equals(c)


def test_size_matches_n_tok():
    """size(tokens) == n_tok for every non-null row (MzXMLTagsTest.scala:254 analog)."""
    t = generate_sequences(1000, seed=42)
    tokens = t.column("tokens")
    n_tok = t.column("n_tok").to_numpy()
    for i in range(t.num_rows):
        v = tokens[i]
        if v.is_valid:
            assert len(v) == n_tok[i]


def test_hot_source_skew():
    t = generate_sequences(5000, seed=42)
    src = t.column("source").to_pylist()
    share = src.count(HOT_SOURCE) / len(src)
    assert 0.3 < share < 0.5  # ~40% hot key


def test_event_time_monotone_per_source_bounded_disorder():
    t = generate_sequences(3000, seed=42)
    src = np.array(t.column("source").to_pylist())
    et = t.column("event_time").cast("int64").to_numpy() // 1_000_000
    for s in SOURCES:
        times = et[src == s]
        assert (np.diff(times) >= 0).all(), f"non-monotone within {s}"
    # cross-source disorder bounded by 10 s
    assert (et[:-1] - et[1:]).max() <= 10


def test_precursor_ref_within_2s():
    t = generate_sequences(2000, seed=42)
    doc = t.column("doc_id").to_pylist()
    et = dict(zip(doc, t.column("event_time").cast("int64").to_numpy() // 1_000_000))
    src = t.column("source").to_pylist()
    refs = t.column("precursor_ref").to_pylist()
    n_refs = 0
    for d, s, r in zip(doc, src, refs):
        if r is not None:
            assert s.startswith("ms2-")
            assert r.startswith("ms1-")
            assert abs(et[d] - et[r]) <= 2
            n_refs += 1
    assert n_refs > 100  # joins have real work


def test_write_slices_roundtrip(tmp_path):
    from stream_reader_mzxml_spark.datagen import write_sequences

    p = write_sequences(str(tmp_path / "seq"), 250, seed=42, rows_per_file=100)
    t = pq.read_table(p)
    assert t.num_rows == 250
    full = generate_sequences(250, seed=42)
    assert t.equals(full)


@pytest.mark.spark
class TestReportSinks:
    def test_csv_and_text_roundtrip(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from stream_reader_mzxml_spark.sources.sinks import (
            write_csv_report,
            write_text_lines,
        )

        df = spark.createDataFrame(
            [(1, 2.5, "a"), (2, 3.5, "b")], ["k", "v", "s"]
        )
        csv_dir = str(tmp_path / "rep_csv")
        write_csv_report(df, csv_dir, single_file=True)
        back = spark.read.option("header", True).option("sep", ";").csv(csv_dir)
        assert back.columns == ["k", "v", "s"]
        assert back.count() == 2

        txt_dir = str(tmp_path / "rep_txt")
        write_text_lines(
            df.select(F.concat_ws(";", "k", "v", "s").alias("line")), txt_dir,
            single_file=True,
        )
        lines = {r.value for r in spark.read.text(txt_dir).collect()}
        assert lines == {"1;2.5;a", "2;3.5;b"}


def test_rechunk_tables_preserves_values(tmp_path):
    """bench.rechunk_tables must change only file boundaries, never values:
    same rows, same schema, many files, and the scaled-corpus writer's
    one-row-group-per-file layout (each file is one atomic scan unit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import os

    from bench import rechunk_tables

    src = tmp_path / "sfx"
    src.mkdir()
    t = pa.table(
        {
            "doc_id": pa.array(range(1000), type=pa.int64()),
            "text": pa.array([f"w{i} w{i+1}" for i in range(1000)]),
        }
    )
    pq.write_table(t, src / "documents.parquet")
    assert pq.ParquetFile(src / "documents.parquet").metadata.num_row_groups == 1

    out, _build = rechunk_tables(str(src), out_base=str(tmp_path / "cache"))
    dst = os.path.join(out, "documents.parquet")
    assert os.path.isdir(dst)
    parts = sorted(os.listdir(dst))
    assert len(parts) > 1
    back = pq.read_table(dst)
    assert back.schema.equals(t.schema)
    assert sorted(back.column("doc_id").to_pylist()) == list(range(1000))
    assert (
        sorted(back.column("text").to_pylist())
        == sorted(t.column("text").to_pylist())
    )
    # cached second call is a no-op
    out2, build2 = rechunk_tables(str(src), out_base=str(tmp_path / "cache"))
    assert out2 == out and build2 == 0.0


@pytest.mark.spark
class TestStdoutReportSink:
    def test_show_report_prints_all_rows(self, spark, capfd):
        """S12 — the stdout top-K report must print every row untruncated
        (MainDistribution*.scala println loops print full values)."""
        from stream_reader_mzxml_spark.sources.sinks import show_report

        df = spark.createDataFrame(
            [(i, f"value_{i}_{'x' * 30}") for i in range(5)], ["k", "s"]
        )
        show_report(df, k=5)
        out = capfd.readouterr().out
        for i in range(5):
            assert f"value_{i}_" in out
        assert "x" * 30 in out  # truncate=False: long cells stay whole


class TestBenchCli:
    def test_conf_validation_rejects_bad_kv(self):
        """S14 — the CLI argument scan must reject malformed --conf."""
        import subprocess
        import sys as _sys

        r = subprocess.run(
            [_sys.executable, "bench.py", "--conf", "not_a_kv"],
            capture_output=True, text=True,
        )
        assert r.returncode != 0
        assert "--conf expects K=V" in (r.stderr + r.stdout)
