"""SparkSession factory.

One place to pin every config that matters for correctness and scale:

- ``spark.sql.session.timeZone=UTC`` — oracle (DuckDB) timestamps are UTC-naive.
- Arrow on — every array kernel is a vectorized pandas UDF (input_hint: never
  per-row Python).
- AQE on (incl. skew join) — runtime re-planning; explicit salting is still used
  for streaming stateful aggs where AQE cannot help (SURVEY.md §4).
- ``spark.sql.shuffle.partitions`` defaults to the core count, not 200 — on a
  real cluster this is set per-deploy (≈2-3× total cores); locally 200 partitions
  over tiny data is pure scheduling overhead.
- ``spark.python.daemon.module`` — Python workers fork from
  :mod:`.worker_daemon`, which stops each call's ``importlib.invalidate_caches()``
  from re-reading ``pyspark.zip`` and the spark-core jar and freezes the
  imported heap the workers fork from. The package must be importable from
  the driver's cwd or ``PYTHONPATH`` (as it must be to unpickle the UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stream_reader_mzxml_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 12g, not "as much as the box has": GC logs across the full bench
        # suite show ~1.6g live / 11.6g peak committed. An oversized max
        # lets G1 grow the heap in large increments, and each expansion is
        # a page-commit + THP-compaction storm (observed: 4-5 cores of
        # kernel time for tens of seconds, stalling whichever query
        # triggered it — the round-3 "random mid-suite stall"). A bounded
        # max caps expansion size; pre-touch was measured WORSE (one giant
        # storm at startup, ~240MB/s under kcompactd on this kernel).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # The generated-class cache defaults to 100 entries — a query battery
        # (or any workload with many distinct projections) thrashes it, and a
        # miss re-runs Janino PER TASK: measured 4-10× wall-time inflation on
        # the md5/higher-order-heavy queries once an earlier query had filled
        # the cache (q26 42s -> 9.8s, q35 26s -> 6.2s with the cache sized).
        # Thread dumps show the signature: executor threads in
        # GenerateUnsafeProjection$.create / CodeFormatter instead of data
        # processing. 10k entries ≈ a few hundred MB of class metadata, cheap
        # vs recompilation; same conf applies executor-side on a cluster.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Python workers fork from worker_daemon.py (see the module docstring)
        .config("spark.python.daemon.module", "stream_reader_mzxml_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
