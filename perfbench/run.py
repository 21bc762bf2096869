#!/usr/bin/env python3
"""Run one benchmark workload; print its result as the last line of stdout.

    python3 perfbench/run.py --workload agg_drain --seed 1 --seconds 8 --trace 0

Run it from the root of a checkout: it benchmarks the
``stream_reader_mzxml_spark`` package next to this directory and exits with an
error if there is none. Each run is one fresh process with its own Spark
session on ``local[nproc]``. Inputs come from ``--seed`` and are cached under
``perfbench/.run/cache``; checkpoints, outputs and Spark's scratch files live
under ``perfbench/.run`` and are removed when the run ends.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the workload
with per-layer collection and reports the per-layer metrics, plus its own
end-to-end numbers as ``traced.*`` (their distance from an untraced run's is
the tracing overhead). Spans go to ``perfbench/.run/traces/``. The line
before the result stamps the run environment.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import bisect  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402

import harvest  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = os.path.join(REPO, "stream_reader_mzxml_spark")
RUN_DIR = os.path.join(HERE, ".run")
# A set-up is a session plus a warm-up drain of the workload's query. The
# first starts the JVM and drains ``cold_triggers`` triggers; the others open
# a new session on it and drain one. setup_s is their median.
SETUPS = 3
END_TO_END = {"setup_s": "s", "tok_per_cpu_s": "tok/cpu-s", "rss_peak_mb": "MB"}
# open-loop latency, reported by sink_live only
LATENCY = {"lat_p50_s": "s", "lat_p90_s": "s"}


def unit_of(name: str) -> str:
    base = name.split(".", 1)[1] if name.startswith("traced.") else name
    if base in END_TO_END:
        return END_TO_END[base]
    if base in LATENCY:
        return LATENCY[base]
    if base == "tok_per_s":
        return "tok/s"
    if base.endswith("_ms"):
        return "ms"
    if base.endswith("_s"):
        return "s"
    if "bytes" in base:
        return "B"
    return "count"


class ProcSampler:
    """Samples /proc every ``interval_s``: the peak resident memory of this
    process, the JVM and the Python workers under it, and the CPU time the
    JVM and every process under it have used. Other processes under the JVM
    are short-lived forks (``chmod``, ``readlink``) whose copy-on-write image
    would count the JVM twice, so they count for CPU time only."""

    interval_s = 0.1

    def __init__(self):
        self.jvm_pid: int | None = None
        self.peak = 0
        # (time, CPU seconds of the JVM tree, of which the JIT compiler's)
        self.cpu: list[tuple[float, float, float]] = []
        self._is_jit: dict[str, bool] = {}  # thread id -> is a JIT compiler thread
        self._jit_last: dict[str, float] = {}  # JIT thread id -> its CPU seconds
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _cpu_s(self, pid: int) -> float:
        """CPU seconds of ``pid`` and of its children it has reaped."""
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            return sum(int(x) for x in f[11:15]) / self._tick
        except (OSError, IndexError, ValueError):
            return 0.0

    def _jit_cpu_s(self, pid: int) -> float:
        """CPU seconds of the JVM's JIT compiler threads. The JVM starts and
        ends compiler threads as its queue grows and drains, so each keeps
        the last time read from it."""
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return sum(self._jit_last.values())
        for tid in tids:
            if tid not in self._is_jit:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        self._is_jit[tid] = "CompilerThre" in fh.read()
                except OSError:
                    self._is_jit[tid] = False
            if self._is_jit[tid]:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                        f = fh.read().rsplit(")", 1)[1].split()
                    self._jit_last[tid] = (int(f[11]) + int(f[12])) / self._tick
                except (OSError, IndexError, ValueError):
                    pass
        return sum(self._jit_last.values())

    def _tree(self, root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, stack = [], [root]
        while stack:
            pid = stack.pop()
            out.append(pid)
            stack.extend(children.get(pid, []))
        return out

    @staticmethod
    def _is_python(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                return fh.read().startswith("python")
        except OSError:
            return False

    def sample(self) -> None:
        total = self._rss(os.getpid())
        if self.jvm_pid is not None:
            tree = self._tree(self.jvm_pid)
            total += self._rss(self.jvm_pid) + sum(
                self._rss(p) for p in tree[1:] if self._is_python(p))
            self.cpu.append((time.time(), sum(self._cpu_s(p) for p in tree),
                             self._jit_cpu_s(self.jvm_pid)))
        self.peak = max(self.peak, total)

    def cpu_between(self, start: float, end: float, column: int = 1) -> float:
        """CPU seconds the JVM tree (``column`` 1) or its JIT compiler
        (``column`` 2) used from ``start`` to ``end`` (epoch seconds),
        interpolated between samples."""
        def at(t: float) -> float:
            i = bisect.bisect_left(self.cpu, (t,))
            if i == 0:
                return self.cpu[0][column]
            if i == len(self.cpu):
                return self.cpu[-1][column]
            a, b = self.cpu[i - 1], self.cpu[i]
            return a[column] + (b[column] - a[column]) * (t - a[0]) / (b[0] - a[0])

        return at(end) - at(start) if self.cpu else 0.0

    def _run(self) -> None:
        while not self._done.is_set():
            self.sample()
            self._done.wait(self.interval_s)

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=10)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    from stream_reader_mzxml_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=nproc(),
        extra_conf={
            # a fixed 1 GB heap: G1 does not resize it from run to run, so
            # the peak RSS and the GC load repeat
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            # snapshot maintenance stays out of the measured window
            "spark.sql.streaming.stateStore.maintenanceInterval": "600s",
        },
    )


def jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    proc = jvm_process()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to others (all CPUs), from
    /proc/stat; 0.0 where the kernel does not report it."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_sha256() -> str:
    """Hash of the package's Python sources: identifies the code under test
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(PACKAGE):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, PACKAGE).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def end_to_end(wl, m, setups: list[float], sampler: ProcSampler) -> tuple[dict, dict]:
    """The user-visible numbers of one run, and the figures behind them.

    Throughput counts the clean tokens of the steady triggers: a new query
    runs its first triggers slower, so the first third of the data triggers
    (at least the first one) is left out. ``tok_per_cpu_s`` divides those
    tokens by the CPU time the JVM and its Python workers used from the start
    of the first steady trigger to the end of the last, less that of the JIT
    compiler threads, which are still compiling then and vary from run to
    run; ``tok_per_s`` divides
    them by the triggers' summed execution time. On a shared host the
    hypervisor takes CPU time from the machine (``steal`` in /proc/stat) in
    bursts that last minutes and stretch wall time by up to a third; that
    time is not charged to the process, so ``tok_per_cpu_s`` is the gated
    throughput and ``tok_per_s`` is reported beside it."""
    tokens = wl.tokens_by_batch(m)
    data = [p for p in m.progress if p["numInputRows"] > 0]
    steady = data[max(1, len(data) // 3):]
    n_tok = sum(tokens.get(p["batchId"], 0) for p in steady)
    wall_s = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000
    window = (epoch_s(steady[0]["timestamp"]),
              epoch_s(steady[-1]["timestamp"])
              + steady[-1]["durationMs"]["triggerExecution"] / 1000) if steady else (0, 0)
    cpu_s = sampler.cpu_between(*window)
    jit_s = sampler.cpu_between(*window, column=2)
    out = {
        "setup_s": statistics.median(setups),
        "tok_per_cpu_s": n_tok / (cpu_s - jit_s) if cpu_s > jit_s else 0.0,
        "rss_peak_mb": sampler.peak / 2**20,
    }
    lat = sorted(
        m.committed_at[m.batch_of[name]] - due
        for name, due in m.due.items()
        if m.batch_of.get(name) in m.committed_at
    )
    if wl.open_loop:
        out["lat_p50_s"] = statistics.median(lat) if lat else 0.0
        out["lat_p90_s"] = (statistics.quantiles(lat, n=10, method="inclusive")[8]
                            if len(lat) > 1 else 0.0)
    behind = {"tok_per_s": n_tok / wall_s if wall_s else 0.0, "steady_triggers": len(steady),
              "steady_cpu_s": cpu_s, "steady_jit_s": jit_s, "latency_samples": len(lat)}
    return out, behind


def set_up(wl, work: str, tracer, sampler: ProcSampler, stage_s: float):
    """Run the set-ups; return the session and each set-up's
    (session seconds, warm-up seconds)."""
    spark, times = None, []
    for i in range(SETUPS):
        t0 = time.time()
        if spark is None:
            with tracer.span("get_spark"):
                spark = start_session(work)
            proc = jvm_process()
            sampler.jvm_pid = proc.pid if proc is not None else None
            # the first set-up counts from process start, less input staging
            t0 = PROCESS_START + stage_s
        else:
            with tracer.span("newSession"):
                spark = spark.newSession()
        t1 = time.time()
        with tracer.span("warm_up"):
            wl.warm_up(spark, cold=i == 0)
        times.append((t1 - t0, time.time() - t1))
    return spark, times


def measure(spark, wl, tracer, sampler: ProcSampler, times) -> tuple[dict, dict]:
    first_exec = harvest.last_execution_id(spark) if tracer.enabled else None
    recorder = None

    def on_start(query):
        nonlocal recorder
        if tracer.enabled:
            recorder = harvest.PlanRecorder(query)

    with tracer.span("measure") as measure_span:
        m = wl.measure(spark, on_start)
    if recorder is not None:
        recorder.stop()
    sampler.stop()
    setups = [a + b for a, b in times]
    e2e, behind = end_to_end(wl, m, setups, sampler)
    attempted, failed = wl.operations(m)
    with tracer.span("oracle"):
        try:
            correct = wl.check(spark, m)
        except Exception:  # an unreadable output fails the run, not the benchmark
            traceback.print_exc()
            correct = False
    if not correct:
        failed = attempted

    metrics = e2e
    if tracer.enabled:
        t = time.time()
        layer = {k: 0.0 for k in harvest.LAYER_METRICS}
        harvest.progress_metrics(m.progress, layer)
        harvest.plan_metrics(recorder.plans if recorder else {}, layer)
        harvest.write_metrics(spark, first_exec, layer)
        layer["session.start_s"] = statistics.median(a for a, _ in times)
        layer["session.warmup_s"] = statistics.median(b for _, b in times)
        layer["session.cold_s"] = setups[0]
        layer["jvm.jit_cpu_s"] = behind["steady_jit_s"]
        layer["feeder.late_max_ms"] = max(getattr(wl, "late_s", None) or [0.0]) * 1000
        tracer.trigger_spans(m.progress, measure_span)
        layer["trace.harvest_s"] = time.time() - t
        traced = {**e2e, "tok_per_s": behind["tok_per_s"]}
        metrics = {**layer, **{f"traced.{k}": v for k, v in traced.items()}}

    tokens = wl.tokens_by_batch(m)
    stats = {**behind, "setups_s": setups,
             "triggers": [(p["batchId"], p["durationMs"]["triggerExecution"],
                           tokens.get(p["batchId"], 0)) for p in m.progress]}
    if hasattr(wl, "late_s"):
        stats["feeder_late_max_s"] = max(wl.late_s, default=0.0)
    result = {
        "correct": bool(correct and failed == 0),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    return result, stats


def run(args, work: str, tracer, sampler: ProcSampler) -> tuple[dict, dict]:
    with tracer.span("stage_inputs"):
        t = time.time()
        wl = workloads.make(args.workload, work, os.path.join(RUN_DIR, "cache"),
                            args.seed, args.seconds, tracer)
        stage_s = time.time() - t
    spark = None
    try:
        spark, times = set_up(wl, work, tracer, sampler, stage_s)
        result, stats = measure(spark, wl, tracer, sampler, times)
    finally:
        if spark is not None:
            stop_jvm(spark)
    return result, {"stage_s": stage_s, **stats}


def prepare() -> str:
    """Make the package importable here and in the Python workers (which
    unpickle its functions by module path), and give the run a scratch
    directory inside the checkout. Returns that directory."""
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(RUN_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    return work


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: no stream_reader_mzxml_spark package in {REPO}", file=sys.stderr)
        return 2
    work = prepare()

    import pandas
    import pyarrow
    import pyspark

    load_before, steal_before = os.getloadavg()[0], cpu_steal_s()
    tracer = harvest.Tracer(args.trace == 1)
    sampler = ProcSampler()
    try:
        with tracer.span("run"):
            result, stats = run(args, work, tracer, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": args.trace == 1, "nproc": nproc(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg()[0],
        "cpu_steal_s": cpu_steal_s() - steal_before,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "git_commit": git_commit(),
        "source_sha256": source_sha256(), **stats,
    }
    if tracer.enabled:
        traces = os.path.join(RUN_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
