"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, exits 0, passes its oracle and
   prints exactly the metrics BENCHMARK.json names for it, each with its
   unit (``sink_live``, which BENCHMARK.json does not list, adds its two
   latency percentiles).
2. A deliberately corrupted output, one dropped row, fails the oracle, so
   the run would count every operation as failed.

Exits non-zero on the first failure. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import harvest
import run
import workloads

SECONDS = 2  # two triggers per drain: one steady trigger to rate


def expected(bench: dict, workload: str, traced: bool) -> dict[str, str]:
    if traced:
        names = {m["name"]: m["unit"] for m in bench["per_layer"]}
        extra = {f"traced.{k}": v for k, v in run.LATENCY.items()}
    else:
        names = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        extra = run.LATENCY
    return {**names, **extra} if workload == "sink_live" else names


def check_emission(bench: dict) -> None:
    for workload in sorted(workloads.WORKLOADS):
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                 "--seed", "7", "--seconds", str(SECONDS), "--trace", str(trace)],
                capture_output=True, text=True, timeout=300, cwd=run.REPO,
            )
            label = f"{workload} trace={trace}"
            if proc.returncode != 0:
                sys.exit(f"FAIL {label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                sys.exit(f"FAIL {label}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                sys.exit(f"FAIL {label}: {result['attempted']} attempted, "
                         f"{result['failed']} failed, correct={result['correct']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = expected(bench, workload, trace == 1)
            if got != want:
                diff = sorted(set(got.items()) ^ set(want.items()))
                sys.exit(f"FAIL {label}: metric names or units differ: {diff}")
            if not all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
                sys.exit(f"FAIL {label}: a metric value is not a number")
            print(f"ok   {label}: {len(got)} metrics, {result['attempted']} operations")


def drop_one_row(wl: workloads.Drain) -> None:
    """Make the drain lose one output row of its first non-empty batch."""
    collect = wl.collect
    dropped = []

    def tampered(df, batch_id):
        if not dropped:
            df = df.persist()  # the limit and the digest see the same rows
            if df.limit(1).count():
                dropped.append(batch_id)
                df = df.exceptAll(df.limit(1))
        collect(df, batch_id)

    wl.collect = tampered


def drop_one_output_row(out_dir: str) -> None:
    batch = sorted(d for d in os.listdir(out_dir) if d.startswith("batch_id="))[0]
    part = sorted(f for f in os.listdir(os.path.join(out_dir, batch)) if f.endswith(".parquet"))[0]
    path = os.path.join(out_dir, batch, part)
    pq.write_table(pq.read_table(path).slice(1), path)
    # drop the local filesystem's checksum sidecar, so the rewrite reaches
    # the oracle instead of failing the read
    os.remove(os.path.join(out_dir, batch, f".{part}.crc"))


def check_corruption() -> None:
    work = run.prepare()
    spark = run.start_session(work)
    try:
        for name in sorted(workloads.WORKLOADS):
            wl = workloads.make(name, os.path.join(work, name), os.path.join(run.RUN_DIR, "cache"),
                                7, SECONDS, harvest.Tracer(False))
            if isinstance(wl, workloads.Drain):
                drop_one_row(wl)
                m = wl.measure(spark)
            else:
                m = wl.measure(spark)
                drop_one_output_row(wl.out)
            if wl.check(spark, m):
                sys.exit(f"FAIL {name}: a dropped output row passed the oracle")
            print(f"ok   {name}: a dropped output row fails the oracle")
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    with open(os.path.join(run.REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_emission(bench)
    check_corruption()
    print("selftest passed")


if __name__ == "__main__":
    main()
