"""Aggregation operators (SURVEY.md §2.4, A1-A10) + ranking.

Every reference aggregation is "per-record partial map, then global fold of
partials" — exactly Catalyst's partial→final HashAggregate, which we get for
free by writing ``groupBy().agg()``; a salted count would only repeat that
map-side partial. A per-group top-k gets the same split from Catalyst's
``WindowGroupLimit`` Partial/Final pair (``top_k``), so it is not salted
either. What Catalyst does NOT split is a global rank, an unpartitioned
window: ``distributed_rank`` is the two-level form of it. The streaming
windowed aggregate gets the partial→final split from Catalyst too; only the
stateful shard join, which buffers rows rather than partials, salts its
state (``streaming/stateful.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
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


def top_k(df: DataFrame, keys: list[str], order: list[Column], k: int) -> DataFrame:
    """W5 — per-group top-``k``: ``row_number()`` over ``keys`` in ``order``
    into a ``rank`` column, keeping ``rank <= k``.

    A hot group does not funnel through one task: Spark 4's
    ``InsertWindowGroupLimit`` rule (SPARK-37099) plans this filter as
    ``WindowGroupLimit Partial → Exchange → WindowGroupLimit Final``, so each
    input partition ships at most ``k`` rows per group to the shuffle — the
    two phases a salted form would spell out (BASELINE.md "One per-group
    top-k"). ``tests/test_plan_shapes.py`` pins that plan at every caller.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


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
