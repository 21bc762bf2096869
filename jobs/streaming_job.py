#!/usr/bin/env python
"""spark-submit entrypoint for the streaming engine (north-rule launch mode).

Cluster launch (the master/executors come from spark-submit, not the code):

    zip -r deps.zip stream_reader_mzxml_spark
    spark-submit --py-files deps.zip jobs/streaming_job.py \\
        --input  <sequences table path (parquet dir or Iceberg table)> \\
        --output <exactly-once sink dir> \\
        --checkpoint <checkpoint dir> \\
        --suite windowed_agg|stateful_join|sink --continuous

Local smoke (Spark's default of 200 shuffle partitions is slow for small
stateful runs): spark-submit --master 'local[8]' --conf
spark.sql.shuffle.partitions=8 --py-files deps.zip ...

``spark.sql.shuffle.partitions`` also sets the ``stateful_join`` suite's
state groups: one group per partition (200 under Spark's default). A
checkpoint pins that count; resumed under another ``--conf`` value, the job
stops in its first trigger with ``StatePartitionsChanged``, except at a
value of 1 or 2: a value of 1 over a checkpoint of 5, 103, 515, … partitions,
or 2 over one of 4, is not caught, and the parents buffered in the other
partitions are stranded. Resume with the count the checkpoint was written
with, or start a fresh checkpoint.
With a local ``--checkpoint`` it may also pass the checkpoint manager that a
launched session uses (``session.py``; it renames without forking
``readlink``):

    --conf spark.sql.streaming.checkpointFileManagerClass=org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

The session is ``session.get_spark``'s (topology stays spark-submit's), and
every suite writes through the exactly-once sink, so each one leaves
``batch_id=N`` output with ``_COMMITTED`` markers and ``_lineage`` tables.
On a cluster, ship the package as a zip on ``--py-files`` or install it on
the executors: their Python workers fork from its daemon (``session.py``).

``--continuous`` uses a processingTime trigger (long-running service);
default is availableNow (drain pending input, then exit 0) — the mode the
kill/resume contract is tested under. Resuming after a kill is just
re-running the same command with the same --checkpoint. (Async progress
tracking is not offered: in OSS Spark 4.1 it is Kafka-sink-only and rejects
ForeachBatch sinks and AvailableNow triggers.)
"""

from __future__ import annotations

import argparse
import sys

from stream_reader_mzxml_spark.session import get_spark
from stream_reader_mzxml_spark.sources.readers import read_sequences_stream
from stream_reader_mzxml_spark.streaming.sink import start_exactly_once
from stream_reader_mzxml_spark.streaming.stateful import stateful_shard_join
from stream_reader_mzxml_spark.streaming.windows import salted_tumbling_token_stats


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

    spark = get_spark(app_name=f"token-stream-{args.suite}")
    stream = read_sequences_stream(
        spark, args.input, max_files_per_trigger=args.max_files_per_trigger
    )
    trigger = (
        {"processingTime": args.trigger_interval}
        if args.continuous
        else {"availableNow": True}
    )

    if args.suite == "sink":
        df, sink_cols = stream, {}
    elif args.suite == "windowed_agg":
        df = salted_tumbling_token_stats(stream, watermark=args.watermark)
        sink_cols = {"token_col": None, "id_col": "source"}
    else:
        df = stateful_shard_join(stream, watermark=args.watermark)
        sink_cols = {"token_col": "clean_tokens", "id_col": "ms2_doc_id"}
    q = start_exactly_once(
        df, args.output, args.checkpoint, trigger=trigger, **sink_cols
    )
    q.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
