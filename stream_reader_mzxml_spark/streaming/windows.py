"""Event-time windowed aggregations (SURVEY.md §2.5 W1-W4, M4/M6).

The reference's RT range gates and proximity windows (F3/W1/W2) become
watermarked event-time windows; the SubScan parent-session nesting (W3,
MzXMLTags.scala:414-442) becomes ``session_window`` keyed by ``source``.

The reference never drops late data (single ordered file ⇒ no lateness,
SURVEY §2.5 W4); the watermark delay here is configurable so that at test
parallelism "no late data" holds and row-for-row equality with the batch
oracle is exact — while the same code bounds state at 10^12-row scale.

Skew: the hot source owns ~40 % of rows. For streaming stateful aggs AQE
cannot re-plan (SURVEY §4), so ``salted_tumbling_token_stats`` does an
explicit two-phase aggregation: partial on (window, source, salt), final on
(window, source) — Spark ≥3.4 allows chained windowed aggs in append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.operators.filters import defined_filter, drop_pad_tokens


def token_stats_columns() -> list:
    """The per-window aggregate set: row count, token count (post-pad-drop),
    sum/min/max of token values — the A1/A2-family stats (two-phase partial →
    final automatically via HashAggregate)."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.size("clean_tokens")).alias("n_tokens"),
        F.sum(F.expr("aggregate(clean_tokens, 0L, (a, x) -> a + x)")).alias(
            "sum_tokens"
        ),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    ]


def prepare(stream: DataFrame, watermark: str = "30 seconds") -> DataFrame:
    """Common prefix: fail-soft defined filter (F2), pad drop (S8), watermark.

    All expressions are Catalyst built-ins — the scan-side filter pushes down;
    nothing leaves the JVM.
    """
    return (
        defined_filter(stream, "tokens")
        .withColumn("clean_tokens", drop_pad_tokens(F.col("tokens")))
        .withWatermark("event_time", watermark)
    )


def tumbling_token_stats(
    stream: DataFrame, window: str = "10 seconds", watermark: str = "30 seconds"
) -> DataFrame:
    """W1 — tumbling event-time windows per source."""
    return (
        prepare(stream, watermark)
        .groupBy(F.window("event_time", window).alias("w"), "source")
        .agg(*token_stats_columns())
        .select(
            F.unix_timestamp("w.start").alias("ws"),
            "source",
            "n_rows",
            "n_tokens",
            "sum_tokens",
            "min_doc_id",
            "max_doc_id",
        )
    )


def sliding_token_stats(
    stream: DataFrame,
    window: str = "4 seconds",
    slide: str = "1 second",
    watermark: str = "30 seconds",
) -> DataFrame:
    """W2 — sliding windows (the ±2 s RT proximity analog, libCandidateIons.sc:128)."""
    return (
        prepare(stream, watermark)
        .groupBy(F.window("event_time", window, slide).alias("w"), "source")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").alias("n_tokens_raw"))
        .select(
            F.unix_timestamp("w.start").alias("ws"),
            "source",
            "n_rows",
            "n_tokens_raw",
        )
    )


def session_token_stats(
    stream: DataFrame, gap: str = "5 seconds", watermark: str = "30 seconds"
) -> DataFrame:
    """W3 — session windows keyed by source (SubScan parent-session analog)."""
    return (
        prepare(stream, watermark)
        .groupBy(F.session_window("event_time", gap).alias("w"), "source")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum(F.size("clean_tokens")).alias("n_tokens"))
        .select(
            F.unix_timestamp("w.start").alias("session_start"),
            F.unix_timestamp("w.end").alias("session_end"),
            "source",
            "n_rows",
            "n_tokens",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key within the watermark
    horizon (the pipeline.dedup.exact_dedup analog for unbounded streams).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the first-seen event time + delay — state is O(keys per
    horizon), not O(stream), which is what makes exact dedup feasible on an
    unbounded 10^12-row stream. Keys default to ``doc_id`` (idempotent
    re-ingestion guard); pass ``[md5(text)]``-style content hashes for
    content dedup."""
    keys = keys or ["doc_id"]
    return stream.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def salted_tumbling_token_stats(
    stream: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    n_salts: int = 8,
) -> DataFrame:
    """M6 — explicit two-phase salted windowed aggregation for hot sources.

    Phase 1 groups on (window, source, salt) where salt = hash(doc_id) % n —
    the hot source's rows spread over ``n_salts`` state partitions; phase 2
    re-aggregates the ≤ n_salts partials per (window, source) using
    ``window_time`` to chain the windowed aggs in append mode.
    Deterministic under retry: the salt is a pure function of doc_id.
    """
    partial = (
        prepare(stream, watermark)
        .withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(n_salts)))
        .groupBy(F.window("event_time", window).alias("w"), "source", "salt")
        .agg(
            F.count(F.lit(1)).alias("p_rows"),
            F.sum(F.size("clean_tokens")).alias("p_tokens"),
        )
    )
    return (
        partial.groupBy(
            F.window(F.window_time("w"), window).alias("w2"), "source"
        )
        .agg(F.sum("p_rows").alias("n_rows"), F.sum("p_tokens").alias("n_tokens"))
        .select(
            F.unix_timestamp("w2.start").alias("ws"),
            "source",
            "n_rows",
            "n_tokens",
        )
    )
