"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (the A2/M1 pipeline of SURVEY.md §7) on
sf0.001. ``queries()`` / ``oracle_sql()`` — the operator battery from
``stream_reader_mzxml_spark.plans.entry_queries``, checked against DuckDB at
sf0.01 by the driver (and locally by ``tools/check_oracle.py``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the M1 end-to-end slice (SURVEY.md §7).

    Derives a sequences-shaped token stream from sf0.001 events, then runs the
    A2 pipeline — shard filter (F1) → defined filter (F2) → pad-drop (S8) →
    explode → quantized occurrence count (A2/F7, two-phase agg) → HAVING (A4)
    → top-40 (O2).
    """
    from stream_reader_mzxml_spark.operators.filters import drop_pad_tokens
    from stream_reader_mzxml_spark.sources import sequences_from_events

    seq = sequences_from_events(spark, "/root/testdata/sf0.001")
    toks = (
        seq.filter(F.col("tokens").isNotNull())
        .select(F.explode(drop_pad_tokens(F.col("tokens"))).alias("token"))
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 2)
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(40)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from stream_reader_mzxml_spark.plans.entry_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from stream_reader_mzxml_spark.plans.entry_queries import ORACLES

    return dict(ORACLES)
