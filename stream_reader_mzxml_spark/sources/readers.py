"""Batch + rate-limited micro-batch readers (S1-S6 analogs).

The reference's source chain — 1 KiB byte chunks → utf8/lines → XML events →
XPath subtree filter → record deserialization (XmlStreamRequest.scala:17-27,
SpectrumRequest.scala:18-30) — collapses into a columnar scan: the input is
already structured (parquet locally; Iceberg on a cluster), so S2-S6 are the
format's schema application, and S4's predicate pushdown is Catalyst's.

Rate limiting (the graft's "rate-limited micro-batch stream"): the file source
option ``maxFilesPerTrigger`` caps each micro-batch at N files — the datagen
writes fixed-row-count files precisely so files ≈ bounded record chunks, the
analog of the reference's 1 KiB read chunks.

On a real cluster with an Iceberg catalog the same call becomes
``spark.readStream.format("iceberg").option("streaming-max-rows-per-micro-batch",
…)``; the sandbox has no Iceberg jars, so the parquet file source is the
tested implementation and Iceberg is gated behind a format probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEQUENCES_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("precursor_ref", T.StringType(), True),
    ]
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided testdata table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_sequences(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of a sequences table directory (parquet; Iceberg on cluster)."""
    return spark.read.schema(SEQUENCES_SPARK_SCHEMA).parquet(path)


def read_sequences_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Rate-limited micro-batch stream over the sequences table (S1 graft).

    ``maxFilesPerTrigger`` bounds per-batch volume; on Iceberg this maps to
    ``streaming-max-rows-per-micro-batch``. The reference's seekable byte
    index (MzXMLTags.scala:455-471) maps to the checkpointed file-source
    offsets — resume-from-offset comes free with ``checkpointLocation``.
    """
    return (
        spark.readStream.schema(SEQUENCES_SPARK_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def sequences_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic sequences-shaped table from the driver-provided
    ``events`` table — used by `queries()` entries that need token arrays at
    sf_dir scale without shipping synthetic data.

    Tokens are a pure function of (event_id, position): JVM-side
    ``sequence + transform(pmod(hash(...)))`` — deterministic, no Python, and
    scale-linear (no shuffle; generated in the scan's project).
    """
    ev = read_table(spark, sf_dir, "events")
    n_tok = (F.pmod(F.col("event_id"), F.lit(96)) + 8).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: F.pmod(F.hash(F.col("event_id"), i), F.lit(50000)).cast("int"),
    )
    return ev.select(
        F.concat(F.col("event_type"), F.lit("-"), F.lpad(F.col("event_id").cast("string"), 9, "0")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.col("event_type").alias("source"),
        F.col("ts").alias("event_time"),
        F.col("value"),
        F.col("user_id"),
    )


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin a narrow scan across ``defaultParallelism`` tasks before a
    per-row-heavy projection.

    Why this exists: higher-order array expressions and md5-based hashing are
    ``CodegenFallback`` — they run in the interpreted expression evaluator,
    10-50× slower per row than codegen'd exprs. A local single-file parquet
    table gives the scan ONE split, so that interpreted projection serializes
    on one core while 31 idle. One round-robin exchange of the narrow source
    rows (ids + text, never derived arrays) buys full-width parallelism for
    the expensive projection that follows.

    On a real 100-TB table the scan already arrives in thousands of splits
    and the exchange is pure cost (AQE can coalesce but never elide a user
    repartition). A metadata probe (``df.rdd.getNumPartitions()``) is
    deliberately NOT used to decide: it forces a driver-side conversion of
    the analyzed plan, costing more than the exchange it would save.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
