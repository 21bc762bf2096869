"""Event-time windowed aggregations (SURVEY.md §2.5 W1-W4, M4/M6).

The reference's RT range gates and proximity windows (F3/W1/W2) become
watermarked event-time windows; the SubScan parent-session nesting (W3,
MzXMLTags.scala:414-442) becomes ``session_window`` keyed by ``source``.

The reference never drops late data (single ordered file ⇒ no lateness,
SURVEY §2.5 W4); the watermark delay here is configurable so that at test
parallelism "no late data" holds and row-for-row equality with the batch
oracle is exact — while the same code bounds state at 10^12-row scale.

Skew: the hot source owns ~40 % of rows, and AQE cannot re-plan a
streaming stateful aggregate (SURVEY §4). The windowed aggregates need no
salt for it: Catalyst's partial aggregate runs before the shuffle, and the
window in the state key spreads a hot source over state partitions
(``salted_tumbling_token_stats``). The stateful shard join, which holds rows
rather than partials, spreads its parents by hash over one group per state
partition (``streaming/stateful.py``).
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
    stream: DataFrame, window: str = "10 seconds", watermark: str = "30 seconds"
) -> DataFrame:
    """M6 — the north-rule windowed aggregate: ``(ws, source, n_rows,
    n_tokens)`` of ``tumbling_token_stats``, one stateful aggregate on
    (window, source).

    The salt lives in Catalyst's partial aggregate: ``count`` and ``sum`` run
    map-side before the one ``Exchange``, and the window in the key spreads
    the hot source over state partitions. An explicit (window, source, salt)
    stage re-aggregated through ``window_time`` held 3× the state rows, ran a
    second shuffle and state store, and drained ~30 % fewer tokens per
    CPU-second on 40 %- and 90 %-hot streams alike (BASELINE.md "One
    windowed aggregate").
    Column pruning drops the other aggregates of ``tumbling_token_stats``.
    """
    return tumbling_token_stats(stream, window, watermark).select(
        "ws", "source", "n_rows", "n_tokens"
    )
