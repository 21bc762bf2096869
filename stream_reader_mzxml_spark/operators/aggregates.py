"""Aggregation operators (SURVEY.md §2.4, A1-A10) + two-phase ranking.

Every reference aggregation is "per-record partial map, then global fold of
partials" — exactly Catalyst's partial→final HashAggregate, which we get for
free by writing ``groupBy().agg()``; a salted count would only repeat that
map-side partial. What Catalyst does NOT split is a window partition: the
two-phase forms here bound the per-task sort of a hot group (``salted_top_k``)
and of a global rank (``distributed_rank``). The streaming windowed aggregate
gets the same partial→final split from Catalyst; only the stateful shard join,
which buffers rows rather than partials, salts its state
(``streaming/stateful.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def threshold_histogram(
    df: DataFrame, thresholds: list, value_col: str = "token"
) -> DataFrame:
    """A1 — count elements ≥ each of a fixed list of thresholds.

    Reference: per-spectrum ``foldLeft(Map[Double,Int])`` incrementing every
    threshold ≤ intensity, then a global merge fold
    (MainDistributionIntensityIons.scala:42-89; 31 fixed thresholds).

    Plan: exploded values × broadcast threshold literals → groupBy(threshold).
    The cross join is against a tiny in-plan array (|thresholds| ≈ 31) and the
    count is partial-aggregated map-side before the single shuffle on the
    31-value key — at 100 TB this shuffles 31 rows per task, not the data.
    """
    th_arr = F.array(*[F.lit(float(t)) for t in sorted(thresholds)])
    return (
        df.select(
            F.explode(
                F.filter(th_arr, lambda t: t <= F.col(value_col))
            ).alias("threshold")
        )
        .groupBy("threshold")
        .agg(F.count("*").alias("cnt"))
    )


def salted_top_k(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    k: int,
    n_salts: int = 32,
    rank_col: str = "rank",
) -> DataFrame:
    """W5 at scale — per-group top-K without a single-task sort per group.

    A plain ``row_number() OVER (PARTITION BY key)`` shuffles every row of a
    group into ONE task: with a 3-value key (q13) or a handful of probe ids
    (q29) the whole table serializes through ≤ |keys| tasks. Two-phase form:

      phase 1: rank within (key, salt) — the shuffle key has |keys|·n_salts
               values, so a hot group spreads over n_salts tasks; keep ≤ k
               rows per (key, salt).
      phase 2: re-rank the ≤ k·n_salts survivors per key — bounded input,
               the singleton-task sort is now O(k·n_salts), not O(group).

    Equality with the single-phase window holds because any row in the true
    global top-k is also in the top-k of its own salt partition (its rank
    within any subset is ≤ its global rank). Proven against the plain-window
    oracle by q36. Salt is ``pmod(spark_partition_id(), n_salts)`` — free,
    retry-stable, no physical-partitioning dependence needed here (batch only;
    streaming state keys use content hashes instead).
    """
    salted = df.withColumn("__salt", F.pmod(F.spark_partition_id(), F.lit(n_salts)))
    from pyspark.sql import Window

    w1 = Window.partitionBy(*keys, "__salt").orderBy(*order)
    partial = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        partial.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )


def distributed_rank(
    df: DataFrame,
    order: list[Column],
    bucket: Column,
    rank_col: str = "rank",
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY ...)`` without the single-task
    window (Spark warns "Moving all data to a single partition" — the classic
    global-rank scale hazard). Two-level decomposition, the rank analog of
    ``pipeline/mixing.py``'s distributed prefix sum:

      1. per-bucket row counts — a tiny aggregate (#buckets rows);
      2. cumulative bucket offsets — an ordered window over the PARTIALS
         table only, never the data;
      3. within-bucket ``row_number`` — partitions bounded by bucket
         population — plus the broadcast offset.

    ``bucket`` must be order-aligned: non-decreasing along the global sort
    order (e.g. ``floor(-mz0)`` for a ``desc(mz0)`` sort). Rows that tie on
    the bucket value are ordered by the within-bucket ``order``, so ties
    never straddle the decomposition. Equality with the plain global window
    is pinned by a pytest oracle (test_operators_rank)."""
    from pyspark.sql import Window

    b = df.withColumn("__b", bucket)
    counts = b.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    ow = (
        Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__b", F.coalesce(F.sum("__n").over(ow), F.lit(0)).alias("__off")
    )
    ww = Window.partitionBy("__b").orderBy(*order)
    return (
        b.join(F.broadcast(offsets), ["__b"])
        .withColumn(rank_col, (F.col("__off") + F.row_number().over(ww)).cast("int"))
        .drop("__b", "__off")
    )
