"""Streaming e2e tests (SURVEY.md §5 plan (c)/(d)): micro-batch pipelines over
the fixture table, row-for-row equality vs batch oracles under the same
watermark, and the exactly-once kill/resume contract."""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.sources import read_sequences, read_sequences_stream
from stream_reader_mzxml_spark.streaming import stateful, windows
from stream_reader_mzxml_spark.streaming.sink import (
    read_lineage,
    read_output,
    start_exactly_once,
)


def _run_to_memory(stream_df, name: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def _sorted_rows(df, cols):
    return sorted([tuple(r) for r in df.select(*cols).collect()])


@pytest.mark.spark
class TestWindows:
    def test_tumbling_matches_batch(self, spark, small_seq_path, tmp_path):
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=2)
        out = windows.tumbling_token_stats(stream, "10 seconds", "30 seconds")
        name = f"tumb_{uuid.uuid4().hex[:8]}"
        _run_to_memory(out, name)
        got = spark.sql(f"SELECT * FROM {name}")

        batch = read_sequences(spark, small_seq_path)
        # batch oracle: same plan on the batch frame (watermark is a no-op in batch)
        oracle = windows.tumbling_token_stats(batch, "10 seconds", "30 seconds")
        # append mode only emits windows closed by the final watermark:
        # watermark = max(event_time) - 30 s; window closed iff ws + 10 <= wm
        max_et = batch.agg(F.max(F.unix_timestamp("event_time"))).collect()[0][0]
        wm = max_et - 30
        oracle = oracle.filter(F.col("ws") + 10 <= wm)
        cols = ["ws", "source", "n_rows", "n_tokens", "sum_tokens", "min_doc_id", "max_doc_id"]
        assert _sorted_rows(got, cols) == _sorted_rows(oracle, cols)
        assert got.count() > 50  # real work happened

    def test_sliding_matches_batch(self, spark, small_seq_path):
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=2)
        out = windows.sliding_token_stats(stream, "4 seconds", "1 second", "30 seconds")
        name = f"slide_{uuid.uuid4().hex[:8]}"
        _run_to_memory(out, name)
        got = spark.sql(f"SELECT * FROM {name}")

        batch = read_sequences(spark, small_seq_path)
        oracle = windows.sliding_token_stats(batch, "4 seconds", "1 second", "30 seconds")
        # every row lands in 4 overlapping windows; append mode emits a
        # window once the final watermark (max(event_time) - 30 s) passes its end
        max_et = batch.agg(F.max(F.unix_timestamp("event_time"))).collect()[0][0]
        oracle = oracle.filter(F.col("ws") + 4 <= max_et - 30)
        cols = ["ws", "source", "n_rows", "n_tokens_raw"]
        assert _sorted_rows(got, cols) == _sorted_rows(oracle, cols)
        assert got.count() > 200  # real work happened

    def test_session_windows_emit(self, spark, small_seq_path):
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=5)
        out = windows.session_token_stats(stream, gap="5 seconds", watermark="30 seconds")
        name = f"sess_{uuid.uuid4().hex[:8]}"
        _run_to_memory(out, name)
        got = spark.sql(f"SELECT * FROM {name}")
        # sources emit continuously (≥1 row per ~2 s), so sessions are long runs:
        # every closed session must span > gap and hold many rows
        rows = got.collect()
        assert len(rows) >= 1
        assert all(r.n_rows >= 1 for r in rows)
        # all 16 sources, no session overlap per source
        per_src = {}
        for r in rows:
            per_src.setdefault(r.source, []).append((r.session_start, r.session_end))
        for s, spans in per_src.items():
            spans.sort()
            for (s1, e1), (s2, _) in zip(spans, spans[1:]):
                assert e1 <= s2, f"overlapping sessions in {s}"

    def test_session_window_equals_lag_cumsum(self, spark):
        # ties W3's two forms together: Spark's session_window (the streaming
        # form) must equal the lag+cumsum sessionization (the q10 batch/oracle
        # form) on the same input and gap. An event arriving exactly `gap`
        # after the previous one MERGES (next.start <= prev.start + gap), so
        # both forms break only on delta > gap — the same comparator q10 uses.
        # Fixture plants that exact boundary.
        gap = 5
        rows = [
            ("a", 0), ("a", 3), ("a", 7),      # one session (deltas 3, 4)
            ("a", 12),                          # delta == gap → merges
            ("a", 20),                          # delta > gap → new session
            ("b", 100), ("b", 104),             # independent key
        ]
        df = spark.createDataFrame(rows, ["source", "t"]).select(
            "source", F.col("t").cast("timestamp").alias("event_time")
        )
        sw = (
            df.groupBy(F.session_window("event_time", f"{gap} seconds").alias("w"), "source")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(
                "source",
                F.unix_timestamp("w.start").alias("session_start"),
                F.unix_timestamp("w.end").alias("session_end"),
                "n_rows",
            )
        )
        from pyspark.sql import Window

        t = F.unix_timestamp("event_time")
        lc = (
            df.select("source", t.alias("t"))
            .withColumn(
                "brk",
                F.when(F.col("t") - F.lag("t").over(
                    Window.partitionBy("source").orderBy("t")
                ) > gap, 1).otherwise(0),
            )
            .withColumn(
                "sid",
                F.sum("brk").over(
                    Window.partitionBy("source").orderBy("t")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .groupBy("source", "sid")
            .agg(
                F.min("t").alias("session_start"),
                (F.max("t") + gap).alias("session_end"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .drop("sid")
        )
        cols = ["source", "session_start", "session_end", "n_rows"]
        assert _sorted_rows(sw, cols) == _sorted_rows(lc, cols)

    def test_salted_equals_unsalted(self, spark, small_seq_path):
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=5)
        salted = windows.salted_tumbling_token_stats(stream, "10 seconds", "30 seconds")
        name = f"salt_{uuid.uuid4().hex[:8]}"
        q = _run_to_memory(salted, name)
        got = spark.sql(f"SELECT * FROM {name}")
        # one stateful aggregate: Catalyst's partial aggregate is the first phase
        assert q.recentProgress
        assert all(len(p.stateOperators) == 1 for p in q.recentProgress)

        batch = read_sequences(spark, small_seq_path)
        plain = (
            windows.prepare(batch, "30 seconds")
            .groupBy(F.window("event_time", "10 seconds").alias("w"), "source")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.size("clean_tokens")).alias("n_tokens"),
            )
            .select(F.unix_timestamp("w.start").alias("ws"), "source", "n_rows", "n_tokens")
        )
        max_et = batch.agg(F.max(F.unix_timestamp("event_time"))).collect()[0][0]
        plain = plain.filter(F.col("ws") + 10 <= max_et - 30)
        cols = ["ws", "source", "n_rows", "n_tokens"]
        # salted streaming result must be a subset-equal of closed windows
        got_rows = _sorted_rows(got, cols)
        exp_rows = _sorted_rows(plain, cols)
        assert got_rows == exp_rows

    def test_two_stage_checkpoint_fails_loudly(self, spark, small_seq_path, tmp_path):
        """A checkpoint written by the earlier two-stage form (a salted
        (window, source, salt) aggregate re-windowed through ``window_time``)
        is refused on resume by the state metadata check, not re-aggregated
        by the one-stage plan."""
        import shutil

        from pyspark.errors import StreamingQueryException

        src_dir = str(tmp_path / "seq")
        os.makedirs(src_dir)
        files = sorted(f for f in os.listdir(small_seq_path) if f.endswith(".parquet"))
        ckpt = str(tmp_path / "ckpt")

        def start(df):
            return (
                df.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        for f in files[:2]:
            shutil.copy(os.path.join(small_seq_path, f), src_dir)
        stream = read_sequences_stream(spark, src_dir, max_files_per_trigger=1)
        two_stage = (
            windows.prepare(stream, "30 seconds")
            .withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(8)))
            .groupBy(F.window("event_time", "10 seconds").alias("w"), "source", "salt")
            .agg(
                F.count(F.lit(1)).alias("p_rows"),
                F.sum(F.size("clean_tokens")).alias("p_tokens"),
            )
            .groupBy(F.window(F.window_time("w"), "10 seconds").alias("w2"), "source")
            .agg(F.sum("p_rows").alias("n_rows"), F.sum("p_tokens").alias("n_tokens"))
            .select(F.unix_timestamp("w2.start").alias("ws"), "source", "n_rows", "n_tokens")
        )
        q = start(two_stage)
        q.awaitTermination(300)
        assert q.exception() is None
        assert len(q.lastProgress.stateOperators) == 2

        for f in files[2:]:
            shutil.copy(os.path.join(small_seq_path, f), src_dir)
        stream = read_sequences_stream(spark, src_dir, max_files_per_trigger=1)
        q = start(windows.salted_tumbling_token_stats(stream))
        with pytest.raises(
            StreamingQueryException,
            match="STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA",
        ):
            q.awaitTermination(300)


@pytest.mark.spark
class TestStatefulJoin:
    def _oracle_rows(self, spark, path):
        batch = read_sequences(spark, path)
        oracle = stateful.shard_join_batch_oracle(batch)
        return sorted(
            (r.ms1_doc_id, r.ms2_doc_id, r.ms2_source, r.dt_seconds, tuple(r.clean_tokens), r.n_clean)
            for r in oracle.collect()
        )

    def test_native_interval_join(self, spark, small_seq_path, tmp_path):
        """The batch oracle (Spark's native interval join), which every J3
        test and the join benchmark trust, against the ±2 s parent join
        computed in pandas straight from the parquet data. The fixture's
        parents sit 0-1 s away, so ms2 rows are shifted by -3..+3 s first:
        the ±2 s bound then both keeps and drops pairs, edges included."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(small_seq_path)
        is_ms2 = pc.starts_with(t["source"], "ms2-").to_numpy(zero_copy_only=False)
        shift_us = np.where(is_ms2, np.arange(t.num_rows) % 7 - 3, 0) * 1_000_000
        t = t.set_column(
            t.schema.get_field_index("event_time"),
            "event_time",
            pc.add(t["event_time"], pa.array(shift_us, pa.duration("us"))),
        )
        path = str(tmp_path / "shifted_seq")
        os.makedirs(path)
        pq.write_table(t, os.path.join(path, "part-00000.parquet"))

        df = t.to_pandas()
        df = df[df["tokens"].notna()]
        df = df.assign(t=df["event_time"].to_numpy(dtype="datetime64[s]").astype(np.int64))
        ms1 = df[df["source"].str.startswith("ms1-")]
        ms2 = df[df["source"].str.startswith("ms2-") & df["precursor_ref"].notna()]
        j = ms2.merge(ms1, left_on="precursor_ref", right_on="doc_id", suffixes=("", "_p"))
        dt = j["t"] - j["t_p"]
        assert dt.abs().max() > stateful.DELTA_SECONDS  # some pairs fall outside
        j = j[dt.abs() <= stateful.DELTA_SECONDS]
        assert set(j["t"] - j["t_p"]) >= {-stateful.DELTA_SECONDS, stateful.DELTA_SECONDS}
        exp = sorted(
            (r.doc_id_p, r.doc_id, r.source, r.t - r.t_p, clean, len(clean))
            for r in j.itertuples()
            for clean in [tuple(int(x) for x in r.tokens if x != 0)]
        )
        got = self._oracle_rows(spark, path)
        assert len(exp) > 100
        assert got == exp  # per-row token-array equality (BASELINE invariant)

    def test_duplicate_ms1_delivery_is_idempotent(self, spark, small_seq_path, tmp_path):
        """Duplicate delivery of the probe (ms1) side — the at-least-once
        case any source replay on recovery can produce. The state
        buffer dedups ms1 on doc id before the merge, so matches emit ONCE
        and the positional unmatched mask cannot length-mismatch; output
        must equal the batch oracle over the ORIGINAL (unduplicated) data."""
        import shutil

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        dup_dir = str(tmp_path / "dup_ms1_seq")
        os.makedirs(dup_dir)
        files = sorted(
            f for f in os.listdir(small_seq_path) if f.endswith(".parquet")
        )
        for i, f in enumerate(files):
            src = os.path.join(small_seq_path, f)
            shutil.copy(src, f"{dup_dir}/a-{i:03d}.parquet")
            t = pq.read_table(src)
            ms1_only = t.filter(
                pc.starts_with(pc.field("source"), "ms1-")
            )
            if ms1_only.num_rows:
                pq.write_table(ms1_only, f"{dup_dir}/b-{i:03d}.parquet")

        stream = read_sequences_stream(spark, dup_dir, max_files_per_trigger=4)
        out = stateful.stateful_shard_join(stream, watermark="30 seconds")
        name = f"dupms1_{uuid.uuid4().hex[:8]}"
        _run_to_memory(out, name)
        got = sorted(
            (r.ms1_doc_id, r.ms2_doc_id, r.ms2_source, r.dt_seconds, tuple(r.clean_tokens), r.n_clean)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )
        exp = self._oracle_rows(spark, small_seq_path)
        assert len(exp) > 100
        assert got == exp  # duplicates neither crash nor double-emit

    def test_stateful_shard_join(self, spark, small_seq_path):
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=2)
        out = stateful.stateful_shard_join(stream, watermark="30 seconds")
        name = f"ssj_{uuid.uuid4().hex[:8]}"
        _run_to_memory(out, name)
        got = sorted(
            (r.ms1_doc_id, r.ms2_doc_id, r.ms2_source, r.dt_seconds, tuple(r.clean_tokens), r.n_clean)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )
        exp = self._oracle_rows(spark, small_seq_path)
        assert got == exp  # same rows as the batch oracle (native interval join)

    def _drain_with_state(self, spark, out, ckpt):
        """Drain ``out`` to a memory table; return its sorted join rows and
        the ``(partition_id, key)`` of every group the state store holds
        after the last committed trigger."""
        name = f"ssjk_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert q.exception() is None
        rows = sorted(
            (r.ms1_doc_id, r.ms2_doc_id, r.ms2_source, r.dt_seconds, tuple(r.clean_tokens), r.n_clean)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )
        state = spark.read.format("statestore").load(ckpt)
        groups = sorted((r.partition_id, r.key[0]) for r in state.select("partition_id", "key").collect())
        return rows, groups

    def test_one_state_group_per_partition(self, spark, small_seq_path, tmp_path):
        """Key g is aligned to state partition g: the state store holds one
        group in each of the P = ``spark.sql.shuffle.partitions`` partitions
        and no other, and the rows are the batch oracle's."""
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=2)
        out = stateful.stateful_shard_join(stream, watermark="30 seconds")
        rows, groups = self._drain_with_state(spark, out, str(tmp_path / "ckpt"))
        assert rows == self._oracle_rows(spark, small_seq_path)
        assert [p for p, _ in groups] == list(range(n_parts))
        assert [k for _, k in groups] == list(stateful.partition_keys(n_parts))

    def test_state_groups_bounded_by_salts(self, spark, small_seq_path, tmp_path):
        """``n_salts`` caps the groups: 4 salts under 8 state partitions are
        4 keys, each alone in its own partition."""
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=2)
        out = stateful.stateful_shard_join(stream, watermark="30 seconds", n_salts=4)
        rows, groups = self._drain_with_state(spark, out, str(tmp_path / "ckpt"))
        assert rows == self._oracle_rows(spark, small_seq_path)
        assert [p for p, _ in groups] == [0, 1, 2, 3]

    def test_spark_hash_long_matches_f_hash(self, spark):
        """The key table's Murmur3 is Spark's: ``F.hash`` over BIGINTs 0..9,999
        and over 10,000 64-bit values spread by ``xxhash64``."""
        ids = spark.range(10_000)
        df = ids.select("id").union(ids.select(F.xxhash64("id").alias("id")))
        got = df.select("id", F.hash("id").alias("h")).collect()
        assert len(got) == 20_000
        assert [r.h for r in got] == [stateful.spark_hash_long(r.id) for r in got]

    def test_late_child_dropped_by_watermark(self, spark, tmp_path):
        """A child behind the watermark is dropped even though its parent is
        still in state. One file per trigger, watermark 5 s: the parent
        (294 s) and an ms1 row at 300 s; an ms1 row at 301 s; then the ms2
        child at 294 s, behind the previous trigger's watermark (295 s).
        Spark filters such late input only under an event-time timeout."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from stream_reader_mzxml_spark.datagen import SEQUENCES_SCHEMA

        parent = "ms1-00-000000001"
        files = [
            [(parent, "ms1-00", 294, None), ("ms1-00-000000002", "ms1-00", 300, None)],
            [("ms1-00-000000003", "ms1-00", 301, None)],
            [("ms2-01-000000001", "ms2-01", 294, parent)],
        ]
        path = tmp_path / "late_child"
        path.mkdir()
        for i, rows in enumerate(files):
            doc, src, sec, ref = zip(*rows)
            t = pa.table(
                {
                    "doc_id": doc,
                    "tokens": [[7, 0, 9]] * len(rows),
                    "n_tok": [3] * len(rows),
                    "source": src,
                    "event_time": [s * 1_000_000 for s in sec],
                    "precursor_ref": ref,
                },
                schema=SEQUENCES_SCHEMA,
            )
            f = path / f"part-{i:05d}.parquet"
            pq.write_table(t, f)
            os.utime(f, (1_000 + i, 1_000 + i))  # the source lists by mtime

        stream = read_sequences_stream(spark, str(path), max_files_per_trigger=1)
        out = stateful.stateful_shard_join(stream, watermark="5 seconds")
        name = f"ssjlate_{uuid.uuid4().hex[:8]}"
        q = _run_to_memory(out, name)
        assert spark.sql(f"SELECT * FROM {name}").count() == 0
        data = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert [p["numInputRows"] for p in data] == [2, 1, 1]
        dropped = [p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in data]
        assert dropped == [0, 0, 1]

    def test_steady_triggers_compile_at_most_one_class(self, spark, small_seq_path):
        """The operator's state encoder is built once per plan, not compiled
        again every trigger: after two warm-up triggers each data trigger
        compiles at most one class (a nested ``ArrayType`` state made Spark
        recompile its ``MapObjects`` projections, three classes a trigger)."""
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        compiled = {}

        def drain(df, batch_id):
            df.collect()
            compiled[batch_id] = codegen.METRIC_COMPILATION_TIME().getCount()

        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=1)
        q = (
            stateful.stateful_shard_join(stream, watermark="30 seconds")
            .writeStream.foreachBatch(drain)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert q.exception() is None
        # data triggers only: the closing no-data trigger runs the timeouts
        data = sorted(p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0)
        assert data == list(range(5))
        per_trigger = {b: compiled[b] - compiled[b - 1] for b in data[2:]}
        assert max(per_trigger.values()) <= 1, per_trigger


@pytest.mark.spark
class TestStreamingDedup:
    def test_duplicates_dropped_exactly_once(self, spark, small_seq_path, tmp_path):
        """Replay the stream UNION itself (every doc twice, same event time):
        dedup must emit each doc_id exactly once."""
        import shutil

        dup_dir = str(tmp_path / "dup_seq")
        os.makedirs(dup_dir)
        files = sorted(
            f for f in os.listdir(small_seq_path) if f.endswith(".parquet")
        )
        for i, f in enumerate(files):
            shutil.copy(os.path.join(small_seq_path, f), f"{dup_dir}/a-{i:03d}.parquet")
            shutil.copy(os.path.join(small_seq_path, f), f"{dup_dir}/b-{i:03d}.parquet")

        stream = read_sequences_stream(spark, dup_dir, max_files_per_trigger=4)
        out = windows.streaming_dedup(stream, watermark="60 seconds")
        name = f"dedup_{uuid.uuid4().hex[:8]}"
        _run_to_memory(out, name)
        got = spark.sql(f"SELECT doc_id FROM {name}")
        base = read_sequences(spark, small_seq_path)
        assert got.count() == base.count()  # every doc exactly once
        assert got.distinct().count() == base.count()


@pytest.mark.spark
class TestLateData:
    def test_watermark_drops_late_rows(self, spark, small_seq_path):
        """W4 — watermark-driven late-data drop. With a watermark (5 s)
        smaller than the cross-source disorder (≤ 10 s), rows later than the
        watermark at their arrival batch are excluded from closed windows.

        Oracle: replay the per-batch watermark protocol over the files in
        commit order (watermark after batch k = max event time seen − delay;
        a row is dropped iff its window end ≤ watermark at its batch), then
        aggregate the survivors in batch mode."""
        import pyarrow.parquet as pq

        files = sorted(
            os.path.join(small_seq_path, f)
            for f in os.listdir(small_seq_path)
            if f.endswith(".parquet")
        )
        delay, win = 5, 10
        wm = None  # watermark BEFORE each batch (Spark updates after)
        surviving = []  # (ws, source) keyed rows that stateful agg accepts
        seen_max = None
        for fp in files:
            t = pq.read_table(fp, columns=["event_time", "source", "tokens"])
            ts = [int(v.value // 1_000_000) for v in t.column("event_time")]
            toks = t.column("tokens").to_pylist()
            srcs = t.column("source").to_pylist()
            batch_max = None
            for et, src, tk in zip(ts, srcs, toks):
                if tk is None:
                    continue  # filtered before the watermark node in prepare()
                batch_max = et if batch_max is None else max(batch_max, et)
                ws = et - (et % win)
                if wm is None or ws + win > wm:
                    surviving.append((ws, src, sum(1 for x in tk if x != 0)))
            if batch_max is not None:
                seen_max = (
                    batch_max if seen_max is None else max(seen_max, batch_max)
                )
            wm = None if seen_max is None else seen_max - delay
        # windows closed by the final watermark (append-mode emission rule)
        final_wm = seen_max - delay
        expected = {}
        for ws, src, ntok in surviving:
            if ws + win <= final_wm:
                k = (ws, src)
                n, s = expected.get(k, (0, 0))
                expected[k] = (n + 1, s + ntok)

        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=1)
        out = (
            windows.prepare(stream, f"{delay} seconds")
            .groupBy(F.window("event_time", f"{win} seconds").alias("w"), "source")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.size("clean_tokens")).alias("n_tokens"),
            )
            .select(
                F.unix_timestamp("w.start").alias("ws"), "source", "n_rows", "n_tokens"
            )
        )
        name = f"late_{uuid.uuid4().hex[:8]}"
        _run_to_memory(out, name)
        got = {
            (r.ws, r.source): (r.n_rows, r.n_tokens)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got == expected


@pytest.mark.spark
class TestExactlyOnce:
    def test_sink_complete_and_lineage(self, spark, small_seq_path, tmp_path):
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=1)
        q = start_exactly_once(stream, out_dir, ckpt)
        q.awaitTermination(300)

        batch = read_sequences(spark, small_seq_path)
        got = read_output(spark, out_dir)
        assert got.count() == batch.count()
        # row-for-row token-array equality
        g = {r.doc_id: (None if r.tokens is None else tuple(r.tokens)) for r in got.collect()}
        b = {r.doc_id: (None if r.tokens is None else tuple(r.tokens)) for r in batch.collect()}
        assert g == b

        lin = read_lineage(spark, os.path.join(out_dir, "_lineage"))
        assert lin.agg(F.sum("n_rows")).collect()[0][0] == batch.count()
        assert lin.select("batch_id").distinct().count() >= 5  # one per file

        # A6 observe() metrics: per-batch row counts sum to the input size
        obs = [
            p["observedMetrics"]["rates"]
            for p in q.recentProgress
            if "rates" in p.get("observedMetrics", {})
        ]
        assert sum(m["n_rows"] for m in obs) == batch.count()

    def test_sink_on_file_uris(self, spark, small_seq_path, tmp_path, monkeypatch):
        """Markers, the batch listing and lineage go through Hadoop
        ``FileSystem``: ``file://`` URIs drain like local paths, and nothing
        lands in the cwd as a ``file:`` directory."""
        monkeypatch.chdir(tmp_path)
        out_dir = (tmp_path / "uri_out").as_uri()
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=2)
        q = start_exactly_once(stream, out_dir, (tmp_path / "uri_ckpt").as_uri())
        q.awaitTermination(300)
        assert q.exception() is None

        batch = read_sequences(spark, small_seq_path)
        got = read_output(spark, out_dir)
        g = {r.doc_id: (None if r.tokens is None else tuple(r.tokens)) for r in got.collect()}
        b = {r.doc_id: (None if r.tokens is None else tuple(r.tokens)) for r in batch.collect()}
        assert got.count() == len(b)
        assert g == b
        lin = read_lineage(spark, out_dir + "/_lineage")
        assert lin.agg(F.sum("n_rows")).collect()[0][0] == len(b)
        assert os.listdir(tmp_path / "uri_out" / "batch_id=0").count("_COMMITTED") == 1
        assert not (tmp_path / "file:").exists()

    def test_kill_resume_no_dups_no_loss(self, spark, small_seq_path, tmp_path):
        out_dir = str(tmp_path / "out2")
        ckpt = str(tmp_path / "ckpt2")
        stream = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=1)
        # phase 1: processingTime trigger, kill after ≥2 batches committed
        q = start_exactly_once(
            stream, out_dir, ckpt, trigger={"processingTime": "1 second"}
        )
        deadline = time.time() + 120
        done = []
        while time.time() < deadline:
            if os.path.isdir(out_dir):  # the first batch's write creates it
                done = [
                    d
                    for d in os.listdir(out_dir)
                    if d.startswith("batch_id=")
                    and os.path.exists(os.path.join(out_dir, d, "_COMMITTED"))
                ]
                if len(done) >= 2:
                    break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination(60)
        assert len(done) >= 2, "never committed 2 batches before kill"

        # phase 2: resume from the same checkpoint, drain the rest
        stream2 = read_sequences_stream(spark, small_seq_path, max_files_per_trigger=1)
        q2 = start_exactly_once(stream2, out_dir, ckpt)
        q2.awaitTermination(300)

        batch = read_sequences(spark, small_seq_path)
        got = read_output(spark, out_dir)
        # exactly-once: no duplicates, no losses
        assert got.count() == batch.count()
        assert got.select("doc_id").distinct().count() == batch.count()


@pytest.mark.spark
class TestStatefulKillResume:
    def test_state_store_recovery_no_dups_no_loss(
        self, spark, small_seq_path, tmp_path
    ):
        """Exactly-once THROUGH applyInPandasWithState: kill the stateful
        shard join mid-stream (after ≥1 committed batch, with live join
        state in the store), resume from the same checkpoint, and assert the
        committed output equals the batch oracle row-for-row — the
        state-store recovery path, not just the sink's idempotence."""
        out_dir = str(tmp_path / "ssj_out")
        ckpt = str(tmp_path / "ssj_ckpt")

        def joined_stream():
            stream = read_sequences_stream(
                spark, small_seq_path, max_files_per_trigger=1
            )
            return stateful.stateful_shard_join(stream, watermark="30 seconds")

        # phase 1: processingTime trigger; kill once ≥1 batch is committed
        q = start_exactly_once(
            joined_stream(), out_dir, ckpt,
            token_col="clean_tokens", id_col="ms2_doc_id",
            trigger={"processingTime": "1 second"},
        )
        deadline = time.time() + 120
        done = []
        while time.time() < deadline:
            if os.path.isdir(out_dir):
                done = [
                    d
                    for d in os.listdir(out_dir)
                    if d.startswith("batch_id=")
                    and os.path.exists(os.path.join(out_dir, d, "_COMMITTED"))
                ]
                if len(done) >= 1:
                    break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination(60)
        assert len(done) >= 1, "never committed a batch before the kill"

        # phase 2: resume from the same checkpoint — the state store must
        # restore the ms1/ms2 buffers so matches spanning the kill point
        # still emit exactly once
        q2 = start_exactly_once(
            joined_stream(), out_dir, ckpt,
            token_col="clean_tokens", id_col="ms2_doc_id",
        )
        q2.awaitTermination(300)

        got = sorted(
            (
                r.ms1_doc_id, r.ms2_doc_id, r.ms2_source, r.dt_seconds,
                tuple(r.clean_tokens), r.n_clean,
            )
            for r in read_output(spark, out_dir).collect()
        )
        batch = read_sequences(spark, small_seq_path)
        exp = sorted(
            (
                r.ms1_doc_id, r.ms2_doc_id, r.ms2_source, r.dt_seconds,
                tuple(r.clean_tokens), r.n_clean,
            )
            for r in stateful.shard_join_batch_oracle(batch).collect()
        )
        assert len(exp) > 100
        assert got == exp

    @pytest.fixture
    def state_schema_check(self, spark):
        """Spark's state-schema check, which the tests' session turns off."""
        key = "spark.sql.streaming.stateStore.stateSchemaCheck"
        prev = spark.conf.get(key)
        spark.conf.set(key, "true")
        yield
        spark.conf.set(key, prev)

    @staticmethod
    def _split_input(small_seq_path, tmp_path):
        """An empty input dir, and a ``feed(first)`` that copies the fixture's
        first two files into it (``first=True``) or the rest."""
        import shutil

        src_dir = str(tmp_path / "seq")
        os.makedirs(src_dir)
        files = sorted(f for f in os.listdir(small_seq_path) if f.endswith(".parquet"))

        def feed(first):
            for f in files[:2] if first else files[2:]:
                shutil.copy(os.path.join(small_seq_path, f), src_dir)

        return src_dir, feed

    def test_checkpoint_of_another_state_layout_fails_loudly(
        self, spark, small_seq_path, tmp_path, monkeypatch, state_schema_check
    ):
        """A checkpoint whose shard-join state was written under another
        (array-typed) state schema is refused on resume with Spark's
        state-schema error, not read as the current two-blob layout."""
        from pyspark.errors import StreamingQueryException
        from pyspark.sql.types import ArrayType, StringType, StructField, StructType

        src_dir, feed = self._split_input(small_seq_path, tmp_path)
        ckpt = str(tmp_path / "ckpt")

        def start():
            stream = read_sequences_stream(spark, src_dir, max_files_per_trigger=1)
            return (
                stateful.stateful_shard_join(stream, watermark="30 seconds")
                .writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        def docs_only(key, pdfs, state):
            docs = list(state.get[0]) if state.exists else []
            for pdf in pdfs:
                docs += pdf["doc_id"].tolist()
            state.update((docs,))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 60_000)
            return iter(())

        feed(first=True)
        monkeypatch.setattr(stateful, "_shard_join_fn", docs_only)
        monkeypatch.setattr(
            stateful,
            "STATE_SCHEMA",
            StructType([StructField("docs", ArrayType(StringType()))]),
        )
        q = start()
        q.awaitTermination(300)
        assert q.exception() is None
        monkeypatch.undo()

        feed(first=False)
        q = start()
        with pytest.raises(
            StreamingQueryException, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"
        ):
            q.awaitTermination(300)

    def test_int_salt_checkpoint_fails_loudly(
        self, spark, small_seq_path, tmp_path, state_schema_check
    ):
        """A checkpoint of the earlier plan, keyed by an INT salt
        ``pmod(hash(parent), 32)``, is refused on resume by the key-schema
        check: its buffered parents sit under keys no new row maps to."""
        from pyspark.errors import StreamingQueryException
        from pyspark.sql.streaming.state import GroupStateTimeout

        src_dir, feed = self._split_input(small_seq_path, tmp_path)
        ckpt = str(tmp_path / "ckpt")

        def start(df):
            return (
                df.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        feed(first=True)
        stream = read_sequences_stream(spark, src_dir, max_files_per_trigger=1)
        int_salted = (
            stream.filter(F.col("tokens").isNotNull())
            .filter(F.col("source").startswith("ms1-") | F.col("precursor_ref").isNotNull())
            .withColumn("salt", F.pmod(F.hash(F.coalesce("precursor_ref", "doc_id")), F.lit(32)))
            .withWatermark("event_time", "30 seconds")
            .select("salt", "doc_id", "source", "event_time", "tokens", "precursor_ref")
            .groupBy("salt")
            .applyInPandasWithState(
                stateful._shard_join_fn,
                outputStructType=stateful.JOIN_OUTPUT_SCHEMA,
                stateStructType=stateful.STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
        q = start(int_salted)
        q.awaitTermination(300)
        assert q.exception() is None
        assert q.lastProgress["stateOperators"][0]["numRowsTotal"] > 0

        feed(first=False)
        stream = read_sequences_stream(spark, src_dir, max_files_per_trigger=1)
        q = start(stateful.stateful_shard_join(stream, watermark="30 seconds"))
        with pytest.raises(
            StreamingQueryException, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"
        ):
            q.awaitTermination(300)

    def test_resume_under_another_partition_count_fails_loudly(
        self, spark, small_seq_path, tmp_path
    ):
        """Spark resumes a checkpoint with the partition count it was written
        with; a plan built under another session count aligns its keys to
        partitions they do not run in. The first resumed trigger stops with
        ``StatePartitionsChanged`` before emitting a row."""
        from pyspark.errors import StreamingQueryException

        src_dir, feed = self._split_input(small_seq_path, tmp_path)
        ckpt = str(tmp_path / "ckpt")
        emitted = {}

        def start():
            stream = read_sequences_stream(spark, src_dir, max_files_per_trigger=1)
            return (
                stateful.stateful_shard_join(stream, watermark="30 seconds")
                .writeStream.foreachBatch(
                    lambda df, batch_id: emitted.update({batch_id: df.count()})
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        key = "spark.sql.shuffle.partitions"
        prev = spark.conf.get(key)
        feed(first=True)
        q = start()
        q.awaitTermination(300)
        assert q.exception() is None
        written = dict(emitted)
        assert sum(written.values()) > 0

        feed(first=False)
        spark.conf.set(key, str(int(prev) // 2))
        try:
            q = start()
            with pytest.raises(StreamingQueryException, match="StatePartitionsChanged"):
                q.awaitTermination(300)
        finally:
            spark.conf.set(key, prev)
        assert emitted == written  # the resumed query emitted nothing

    def test_replayed_committed_batch_commits_state(
        self, spark, small_seq_path, tmp_path
    ):
        """The kill window the test above hits only by timing, made
        deterministic: the sink has written ``_COMMITTED`` for the last batch
        but Spark's commit log has not recorded it, so resume replays that
        batch through a stateful operator. The sink skips the write, and the
        replayed batch must still commit every state store."""
        out_dir = str(tmp_path / "replay_out")
        ckpt = str(tmp_path / "replay_ckpt")

        def dedup_stream():
            stream = read_sequences_stream(
                spark, small_seq_path, max_files_per_trigger=2
            )
            return windows.streaming_dedup(stream, watermark="60 seconds")

        start_exactly_once(dedup_stream(), out_dir, ckpt).awaitTermination(300)
        commits = os.path.join(ckpt, "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        assert os.path.exists(
            os.path.join(out_dir, f"batch_id={last}", "_COMMITTED")
        )
        for f in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, f)):
                os.remove(os.path.join(commits, f))

        q = start_exactly_once(dedup_stream(), out_dir, ckpt)
        q.awaitTermination(300)
        assert q.exception() is None
        assert os.path.exists(os.path.join(commits, str(last)))

        got = read_output(spark, out_dir)
        n = read_sequences(spark, small_seq_path).count()
        assert got.count() == n
        assert got.select("doc_id").distinct().count() == n


@pytest.mark.spark
class TestStreamingManifestExactlyOnce:
    """Round-5: the ingest-time manifest through the exactly-once sink with
    a mid-stream kill — the dedup state (dropDuplicatesWithinWatermark)
    must restore from checkpoint so resume neither re-emits first-seen
    docs nor loses in-flight ones."""

    def test_kill_resume_manifest(self, spark, tmp_path):
        from stream_reader_mzxml_spark.pipeline import curation, mixing
        from stream_reader_mzxml_spark.streaming.sink import (
            read_output,
            start_exactly_once,
        )

        base = [
            (
                i,
                f"s{i % 4}",
                # u{i} keeps every base text unique: the only content dups
                # are the explicit re-ingestions, which arrive strictly
                # later — so stream first-arrived == batch min-event-time
                f"u{i} " + " ".join(f"w{(i * 5 + j) % 31}" for j in range((i % 13) + 2)),
                f"2024-01-01 00:{(i // 60) % 60:02d}:{i % 60:02d}",
            )
            for i in range(600)
        ]
        dups = [(i, s, t, "2024-01-01 01:00:00") for (i, s, t, _) in base[:200]]
        schema = "doc_id BIGINT, source STRING, text STRING, event_time STRING"
        to_df = lambda rows: spark.createDataFrame(rows, schema).withColumn(
            "event_time", F.to_timestamp("event_time")
        )
        df_base, df_dups = to_df(base), to_df(dups)
        totals = (
            df_base.select("source", mixing._ws_tokens("text").alias("n"))
            .groupBy("source")
            .agg(F.sum("n").alias("src_tokens"))
        )
        src = str(tmp_path / "manifest_eo_src")
        # 12 base files in arrival order, then 4 dup files
        df_base.repartition(12).write.parquet(src)
        df_dups.repartition(4).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(
                "doc_id BIGINT, source STRING, text STRING, event_time TIMESTAMP"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        # dups are re-ingested 1 h after the originals; the dedup horizon
        # must cover that gap or their state legitimately expires
        manifest = curation.streaming_manifest(stream, totals, watermark="2 hours")
        out_dir = str(tmp_path / "manifest_eo_out")
        ckpt = str(tmp_path / "manifest_eo_ckpt")

        q = start_exactly_once(
            manifest, out_dir, ckpt, token_col=None,
            trigger={"processingTime": "1 second"},
        )
        deadline = time.time() + 120
        done = []
        while time.time() < deadline:
            done = [
                d
                for d in os.listdir(out_dir)
                if d.startswith("batch_id=")
                and os.path.exists(os.path.join(out_dir, d, "_COMMITTED"))
            ] if os.path.isdir(out_dir) else []
            if len(done) >= 2:
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination(60)
        assert len(done) >= 2, "never committed 2 batches before kill"

        stream2 = (
            spark.readStream.schema(
                "doc_id BIGINT, source STRING, text STRING, event_time TIMESTAMP"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q2 = start_exactly_once(
            curation.streaming_manifest(stream2, totals, watermark="2 hours"),
            out_dir, ckpt, token_col=None,
        )
        q2.awaitTermination(300)

        got = read_output(spark, out_dir).drop("batch_id")
        exp = curation.ingest_manifest_batch(
            df_base.unionByName(df_dups), totals
        )
        # exactly-once + dedup-state restore: one row per first-seen content —
        # all 600 unique base docs survive, all 200 re-ingestions collapse
        g = sorted(map(tuple, got.collect()))
        e = sorted(map(tuple, exp.collect()))
        assert len(e) == 600
        assert len(g) == len(set(g)) == len(e)
        assert g == e
