"""The benchmark's workloads: seeded inputs, the streaming job, its oracle.

Every workload reads the synthetic ``sequences`` table that
``datagen.write_sequences`` writes for the run's seed (cached per seed, so
generation stays out of the timed window). A file of that table is one unit
of input; a file's latency runs from the moment it was due (the start of a
drain, or its slot in the open-loop schedule) to the commit of the
micro-batch that holds it.

- ``agg_drain``  closed loop: drains the whole table through
  ``salted_tumbling_token_stats`` in equal triggers. JVM only.
- ``join_drain`` closed loop: the same drain through ``stateful_shard_join``
  (32 salts). Dominated by the Python boundary and the per-group state.
- ``sink_live``  open loop: a separate feeder process moves the files into a
  watched directory on a fixed schedule; ``start_exactly_once`` writes them.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException

ROWS_PER_FILE = 2_000
WARM_FILES = 90  # files in the fixed-seed warm-up table
CACHE_KEEP = 24  # seeded tables kept on disk (LRU by mtime)

HERE = os.path.dirname(os.path.abspath(__file__))


def _evict(cache_dir: str, keep: int) -> None:
    tables = sorted(
        (e for e in os.scandir(cache_dir) if e.is_dir() and e.name.startswith("seq-")),
        key=lambda e: e.stat().st_mtime,
    )
    for e in tables[: max(0, len(tables) - keep + 1)]:
        shutil.rmtree(e.path, ignore_errors=True)


def stage_table(cache_dir: str, seed: int, n_rows: int) -> tuple[str, list[dict]]:
    """Return ``(dir, files)`` for the seeded table, writing it on first use.

    ``files`` lists each part file in time order with its row count and its
    clean-token count (non-null arrays, pad tokens dropped), which is what
    the throughput metrics count.
    """
    from stream_reader_mzxml_spark.datagen import PAD_TOKEN, write_sequences

    path = os.path.join(cache_dir, f"seq-s{seed}-r{n_rows}")
    meta = path + ".json"
    if os.path.exists(meta):
        os.utime(path)
        with open(meta) as fh:
            return path, json.load(fh)
    os.makedirs(cache_dir, exist_ok=True)
    _evict(cache_dir, CACHE_KEEP)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_sequences(tmp, n_rows, seed=seed, rows_per_file=ROWS_PER_FILE)
    files = []
    for name in sorted(os.listdir(tmp)):
        toks = pq.read_table(os.path.join(tmp, name), columns=["tokens"]).column(0)
        flat = pc.list_flatten(toks)
        clean = len(flat) - pc.sum(pc.equal(flat, PAD_TOKEN)).as_py()
        files.append({"name": name, "rows": len(toks), "clean_tokens": clean})
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    with open(meta, "w") as fh:
        json.dump(files, fh)
    return path, files


def batch_of_file(checkpoint: str) -> dict[str, int]:
    """Map each input file name to the micro-batch that read it, from the
    file source's offset log in the checkpoint."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir) if os.path.isdir(log_dir) else []:
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def digest(df, cols: list[str]) -> tuple[int, int]:
    """Order-independent digest of a DataFrame: (row count, sum of xxhash64)."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .first()
    )
    return int(row["n"]), int(row["s"] or 0)


class Measured:
    """What one measured phase produced, before any metric is derived."""

    def __init__(self, query, due: dict[str, float], committed_at: dict[int, float],
                 batch_of: dict[str, int], missing: int = 0):
        self.progress = list(query.recentProgress)
        self.due = due                    # file name -> due time (epoch s)
        self.committed_at = committed_at  # batch id -> commit time (epoch s)
        self.batch_of = batch_of          # file name -> batch id
        self.missing = missing            # files never committed


class Workload:
    name = ""
    output_cols: list[str] = []
    # input rows per second of --seconds: on a 4-CPU host a drain of this
    # size takes about --seconds
    rows_per_second = 30_000
    files_per_trigger = 15  # also the size of a warm-up trigger
    # triggers in the first (cold) warm-up: the JIT keeps speeding the query
    # up for several seconds of work
    cold_triggers = 6
    open_loop = False

    def __init__(self, work: str, table: str, files: list[dict], warm: str, cold: str,
                 tracer):
        self.work, self.table, self.files = work, table, files
        self.warm, self.cold = warm, cold
        self.tracer = tracer
        self.n_runs = 0

    def _fresh(self, label: str) -> str:
        self.n_runs += 1
        path = os.path.join(self.work, f"{label}{self.n_runs}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def tokens_by_batch(self, m: Measured) -> dict[int, int]:
        out: dict[int, int] = {}
        for f in self.files:
            b = m.batch_of.get(f["name"])
            if b is not None:
                out[b] = out.get(b, 0) + f["clean_tokens"]
        return out


class Drain(Workload):
    """Closed loop: the whole table is due at once and drained with
    ``availableNow`` in triggers of ``files_per_trigger`` files; the output is
    digested by a single-action ``foreachBatch``."""

    timeout_s = 90.0  # a run must end within 180 s

    def job(self, stream):
        raise NotImplementedError

    def expected(self, spark, m: Measured):
        raise NotImplementedError

    def collect(self, df, batch_id: int) -> None:
        n, s = digest(df, self.output_cols)
        self.rows_out += n
        self.hash_sum += s

    def _run(self, spark, src: str, files_per_trigger: int):
        from stream_reader_mzxml_spark.sources.readers import read_sequences_stream

        self.rows_out, self.hash_sum = 0, 0
        ckpt = self._fresh("ckpt")
        t0 = time.time()
        with self.tracer.span("read_sequences_stream"):
            stream = read_sequences_stream(spark, src, files_per_trigger)
        with self.tracer.span(f"{self.name}.job"):
            out = self.job(stream)
        with self.tracer.span("start"):
            query = (
                out.writeStream.foreachBatch(self.collect)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        return query, ckpt, t0

    def warm_up(self, spark, cold: bool) -> None:
        query, _, _ = self._run(spark, self.cold if cold else self.warm, self.files_per_trigger)
        if not query.awaitTermination(90) or not query.recentProgress:
            query.stop()
            raise RuntimeError(f"{self.name} warm-up did not finish its triggers")

    def measure(self, spark, on_start=None) -> Measured:
        query, ckpt, t0 = self._run(spark, self.table, self.files_per_trigger)
        if on_start:
            on_start(query)
        with self.tracer.span("awaitTermination"):
            try:
                if not query.awaitTermination(self.timeout_s):
                    query.stop()
            except StreamingQueryException as exc:  # counted as failed batches
                print(f"perfbench: {self.name} query failed: {exc}", file=sys.stderr)
        batch_of = batch_of_file(ckpt)
        commits = os.path.join(ckpt, "commits")
        committed_at = {
            int(n): os.stat(os.path.join(commits, n)).st_mtime
            for n in (os.listdir(commits) if os.path.isdir(commits) else []) if n.isdigit()
        }
        due = {f["name"]: t0 for f in self.files}
        return Measured(query, due, committed_at, batch_of)

    def operations(self, m: Measured) -> tuple[int, int]:
        """(attempted, failed) micro-batches; a batch not committed failed."""
        attempted = math.ceil(len(self.files) / self.files_per_trigger)
        done = {b for b in m.batch_of.values() if b in m.committed_at}
        return attempted, attempted - len(done)

    def check(self, spark, m: Measured) -> bool:
        return digest(self.expected(spark, m), self.output_cols) == (self.rows_out, self.hash_sum)


class AggDrain(Drain):
    name = "agg_drain"
    output_cols = ["ws", "source", "n_rows", "n_tokens"]
    window_s = 10

    def job(self, stream):
        from stream_reader_mzxml_spark.streaming.windows import salted_tumbling_token_stats

        return salted_tumbling_token_stats(stream, window=f"{self.window_s} seconds")

    def expected(self, spark, m: Measured):
        """Batch ``tumbling_token_stats`` over the same files, restricted to the
        windows the final watermark has closed (append mode emits no others)."""
        from pyspark.sql import functions as F

        from stream_reader_mzxml_spark.sources.readers import read_sequences
        from stream_reader_mzxml_spark.streaming.windows import tumbling_token_stats

        wm = final_watermark_s(m.progress)
        return tumbling_token_stats(
            read_sequences(spark, self.table), window=f"{self.window_s} seconds"
        ).filter(F.col("ws") + self.window_s <= F.lit(wm))


class JoinDrain(Drain):
    name = "join_drain"
    output_cols = ["ms1_doc_id", "ms2_doc_id", "ms2_source", "dt_seconds",
                   "clean_tokens", "n_clean"]
    n_salts = 32
    rows_per_second = 5_000
    files_per_trigger = 4
    cold_triggers = 2

    def job(self, stream):
        from stream_reader_mzxml_spark.streaming.stateful import stateful_shard_join

        return stateful_shard_join(stream, n_salts=self.n_salts)

    def expected(self, spark, m: Measured):
        from stream_reader_mzxml_spark.sources.readers import read_sequences
        from stream_reader_mzxml_spark.streaming.stateful import shard_join_batch_oracle

        return shard_join_batch_oracle(read_sequences(spark, self.table))


def final_watermark_s(progress: list) -> int:
    wm = progress[-1]["eventTime"]["watermark"]
    return int(datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp())


class SinkLive(Workload):
    """Open loop: ``feeder.py`` (a separate process) moves the seeded files
    into the watched directory at ``len(files) / seconds`` files per second;
    ``start_exactly_once`` consumes them with a zero-interval trigger."""

    name = "sink_live"
    open_loop = True
    lead_s = 0.5   # the feeder's first slot, after the query is polling
    grace_s = 20.0  # how long after the last slot a file may still commit

    def __init__(self, work, table, files, warm, cold, tracer, seconds: float):
        super().__init__(work, table, files, warm, cold, tracer)
        self.seconds = seconds

    def _start(self, spark, watched: str):
        from stream_reader_mzxml_spark.sources.readers import read_sequences_stream
        from stream_reader_mzxml_spark.streaming.sink import start_exactly_once

        out, ckpt = self._fresh("out"), self._fresh("ckpt")
        with self.tracer.span("read_sequences_stream"):
            stream = read_sequences_stream(spark, watched, max_files_per_trigger=100_000)
        with self.tracer.span("start_exactly_once"):
            query = start_exactly_once(stream, out, ckpt,
                                       trigger={"processingTime": "0 seconds"})
        return query, out, ckpt

    def warm_up(self, spark, cold: bool) -> None:
        watched = self._fresh("watched")
        shutil.copytree(self.cold if cold else self.warm, watched)
        query, _, _ = self._start(spark, watched)
        try:
            deadline = time.time() + 60
            rows = len(os.listdir(watched)) * ROWS_PER_FILE
            while sum(p["numInputRows"] for p in query.recentProgress) < rows:
                if time.time() > deadline or query.exception() is not None:
                    raise RuntimeError("sink_live warm-up did not commit its input")
                time.sleep(0.05)
        finally:
            query.stop()

    def measure(self, spark, on_start=None) -> Measured:
        staged, self.watched = self._fresh("staged"), self._fresh("watched")
        os.makedirs(staged)
        os.makedirs(self.watched)
        for f in self.files:  # hard links: staging costs no copy
            os.link(os.path.join(self.table, f["name"]), os.path.join(staged, f["name"]))
        query, self.out, ckpt = self._start(spark, self.watched)
        if on_start:
            on_start(query)
        rate = len(self.files) / self.seconds
        t0 = time.time() + self.lead_s
        due = {f["name"]: t0 + i / rate for i, f in enumerate(self.files)}
        report = os.path.join(self.work, "feeder.json")
        feeder = subprocess.Popen([
            sys.executable, os.path.join(HERE, "feeder.py"), "--staged", staged,
            "--watched", self.watched, "--start", repr(t0), "--rate", repr(rate),
            "--report", report,
        ])
        total_rows = sum(f["rows"] for f in self.files)
        deadline = t0 + self.seconds + self.grace_s
        try:
            while time.time() < deadline and query.exception() is None:
                if sum(p["numInputRows"] for p in query.recentProgress) >= total_rows:
                    break
                time.sleep(0.05)
        finally:
            query.stop()
            try:
                feeder.wait(timeout=self.seconds + 30)
            finally:
                if feeder.poll() is None:
                    feeder.kill()
                    feeder.wait()
        with open(report) as fh:
            moved = json.load(fh)
        self.late_s = [moved[name] - due[name] for name in moved]
        batch_of = batch_of_file(ckpt)
        committed_at = {}
        for b in set(batch_of.values()):
            marker = os.path.join(self.out, f"batch_id={b}", "_COMMITTED")
            if os.path.exists(marker):
                committed_at[b] = os.stat(marker).st_mtime
        missing = sum(1 for f in self.files if batch_of.get(f["name"]) not in committed_at)
        return Measured(query, due, committed_at, batch_of, missing)

    def operations(self, m: Measured) -> tuple[int, int]:
        """(attempted, failed) files; a file not committed by the deadline failed."""
        return len(self.files), m.missing

    def check(self, spark, m: Measured) -> bool:
        """Output equals input doc_id by doc_id (token arrays included), and
        the lineage table accounts for every input row."""
        from pyspark.sql import functions as F

        from stream_reader_mzxml_spark.sources.readers import read_sequences
        from stream_reader_mzxml_spark.streaming.sink import read_lineage, read_output

        cols = ["doc_id", "tokens"]
        got = digest(read_output(spark, self.out), cols)
        want = digest(read_sequences(spark, self.watched), cols)
        lineage_rows = read_lineage(spark, os.path.join(self.out, "_lineage")).agg(
            F.sum("n_rows")).first()[0]
        return got == want and lineage_rows == sum(f["rows"] for f in self.files)


WORKLOADS = {w.name: w for w in (AggDrain, JoinDrain, SinkLive)}


def _n_files(rows_per_second: int, seconds: float) -> int:
    return max(2, round(seconds * rows_per_second / ROWS_PER_FILE))


def make(name: str, work: str, cache: str, seed: int, seconds: float, tracer) -> Workload:
    """Stage the seeded inputs (cached) and return the workload over them.

    All workloads of one seed share one table, sized for the largest; a
    workload that needs fewer files reads hard links to the first ones."""
    cls = WORKLOADS[name]
    largest = max(w.rows_per_second for w in WORKLOADS.values())
    table, files = stage_table(cache, seed, _n_files(largest, seconds) * ROWS_PER_FILE)
    n = _n_files(cls.rows_per_second, seconds)
    if n < len(files):
        files = files[:n]
        prefix = os.path.join(work, "input")
        os.makedirs(prefix)
        for f in files:
            os.link(os.path.join(table, f["name"]), os.path.join(prefix, f["name"]))
        table = prefix
    warm_table = os.path.join(cache, "warm")
    if not os.path.exists(warm_table + ".done"):
        from stream_reader_mzxml_spark.datagen import write_sequences

        shutil.rmtree(warm_table, ignore_errors=True)
        write_sequences(warm_table, WARM_FILES * ROWS_PER_FILE, seed=0,
                        rows_per_file=ROWS_PER_FILE)
        open(warm_table + ".done", "w").close()
    # a warm-up trigger is of the measured size
    warm_files = sorted(os.listdir(warm_table))
    warm, cold = os.path.join(work, "warm"), os.path.join(work, "cold")
    for path, n in ((warm, cls.files_per_trigger),
                    (cold, cls.files_per_trigger * cls.cold_triggers)):
        os.makedirs(path)
        for name in warm_files[:n]:
            os.link(os.path.join(warm_table, name), os.path.join(path, name))
    if cls is SinkLive:
        return cls(work, table, files, warm, cold, tracer, seconds)
    return cls(work, table, files, warm, cold, tracer)
