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
  imported heap the workers fork from.
- ``spark.executorEnv.PYTHONPATH`` — any spark-submit value, then the dir or
  zip this package was imported from, so the daemon imports it from any cwd
  (``--py-files`` reach a worker's path only per task). A zip is also listed
  by basename: a cluster executor fetches ``--py-files`` into its cwd.

Topology (``master``, shuffle partitions, ``spark.driver.memory``) is set only
when this call launches the JVM; under spark-submit (``PYSPARK_GATEWAY_PORT``
set) it is spark-submit's, and ``cpus``/``shuffle_partitions`` are ignored.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# the sys.path entry this package was imported from: a directory or a zip
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath() -> str:
    """The daemon's ``PYTHONPATH``: spark-submit's value, then this package."""
    paths = [_IMPORT_ROOT]
    if os.path.isfile(_IMPORT_ROOT):  # a zip, also where an executor fetches it
        paths.append(os.path.basename(_IMPORT_ROOT))
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # read spark-submit's --conf
        SparkContext._ensure_initialized()
        paths.insert(0, SparkConf().get("spark.executorEnv.PYTHONPATH", ""))
    return os.pathsep.join(filter(None, paths))


def get_spark(
    app_name: str = "stream_reader_mzxml_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores;
    it and ``shuffle_partitions`` apply only when this call starts the JVM.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # The generated-class cache defaults to 100 entries; a query battery
        # thrashes it and each miss re-runs Janino per task (q26 42 -> 9.8 s,
        # q35 26 -> 6.2 s once sized; thread dumps sit in
        # GenerateUnsafeProjection$.create). 10k entries ≈ a few hundred MB.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Python workers fork from worker_daemon.py (see the module docstring)
        .config("spark.python.daemon.module", "stream_reader_mzxml_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
    )
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        if cpus is None:
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
        builder = (
            builder.master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
            # 12g, not the whole box: the bench suite peaks at ~1.6g live /
            # 11.6g committed. A larger max lets G1 grow in big steps, each a
            # page-commit + THP-compaction storm (4-5 cores of kernel time for
            # tens of seconds); pre-touch was worse (one storm at startup).
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
