#!/usr/bin/env python
"""spark-submit entrypoint for the streaming engine (north-rule launch mode).

Cluster launch (the master/executors come from spark-submit, not the code):

    zip -r deps.zip stream_reader_mzxml_spark
    spark-submit --py-files deps.zip jobs/streaming_job.py \\
        --input  <sequences table path (parquet dir or Iceberg table)> \\
        --output <exactly-once sink dir> \\
        --checkpoint <checkpoint dir> \\
        --suite windowed_agg|stateful_join|sink --continuous

Local smoke: spark-submit --master 'local[8]' --py-files deps.zip ...

``--continuous`` uses a processingTime trigger (long-running service);
default is availableNow (drain pending input, then exit 0) — the mode the
kill/resume contract is tested under. Resuming after a kill is just
re-running the same command with the same --checkpoint.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument(
        "--suite",
        default="sink",
        choices=["windowed_agg", "stateful_join", "sink"],
    )
    ap.add_argument("--watermark", default="30 seconds")
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--continuous", action="store_true")
    ap.add_argument("--trigger-interval", default="10 seconds")
    args = ap.parse_args()

    # master / executor topology comes from spark-submit; only pin the
    # semantics-critical session configs here. (Async progress tracking is
    # NOT offered: in OSS Spark 4.1 it is Kafka-sink-only — it rejects
    # ForeachBatch sinks and AvailableNow triggers, i.e. both modes this
    # job runs. The exactly-once contract here rests on the batch-id-
    # idempotent foreachBatch commits instead.)
    # Not session.get_spark: its daemon module must be importable when the
    # daemon starts, but --py-files deps.zip reaches a worker's path only per
    # task, so this job keeps Spark's default daemon (no zip patch, no freeze).
    spark = (
        SparkSession.builder.appName(f"token-stream-{args.suite}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from stream_reader_mzxml_spark.sources.readers import read_sequences_stream
    from stream_reader_mzxml_spark.streaming.sink import start_exactly_once
    from stream_reader_mzxml_spark.streaming.stateful import stateful_shard_join
    from stream_reader_mzxml_spark.streaming.windows import (
        salted_tumbling_token_stats,
    )

    stream = read_sequences_stream(
        spark, args.input, max_files_per_trigger=args.max_files_per_trigger
    )
    trigger = (
        {"processingTime": args.trigger_interval}
        if args.continuous
        else {"availableNow": True}
    )

    if args.suite == "sink":
        q = start_exactly_once(
            stream, args.output, args.checkpoint, trigger=trigger
        )
    else:
        df = (
            salted_tumbling_token_stats(stream, watermark=args.watermark)
            if args.suite == "windowed_agg"
            else stateful_shard_join(stream, watermark=args.watermark)
        )
        q = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", args.output)
            .option("checkpointLocation", args.checkpoint)
            .trigger(**trigger)
            .start()
        )
    q.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
