"""Join operators (SURVEY.md §2.3, J1-J5).

The reference implements all join semantics as nested loops over in-memory
``Seq``s; here each becomes a shuffle-aware Spark plan:

- **band join** (J2): tolerance/theta join with no native Spark operator —
  expanded to an equi-join on a bucketized key (``floor(v / tol)``), probing
  buckets {b-1, b, b+1}, plus the exact residual predicate. This turns an
  O(N·M) theta join into a hash join on bucket — the difference between
  "cross join at 100 TB" and "shuffle join at 100 TB".
- **as-of join** (J1 across rows): band join + a per-probe ``top_k`` of 1.
- **interval join** (J3): event-time range + value tolerance, the
  MS1⋈MS2 precursor join; batch form here, stateful streaming form in
  ``streaming/stateful.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stream_reader_mzxml_spark.operators.aggregates import top_k


def _bucketize(col: Column, tol: float) -> Column:
    return F.floor(col / F.lit(tol)).cast("long")


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    tol: float,
    how: str = "inner",
    broadcast_right: bool = False,
    extra_cond: Column | None = None,
) -> DataFrame:
    """J2 — tolerance (band) join: match rows with ``|l - r| < tol``.

    Reference semantics: ``∃ ref: abs(ref - v) < tol``
    (IonEligibleGlucosinolate.scala:42-59, databaseIons.sc:46-53).

    Each left row's value lands in bucket b = floor(v/tol); any right value
    within tol of it lands in bucket b-1, b, or b+1. The right side is
    exploded to its 3 candidate buckets (3× duplication of the SMALLER side by
    convention — pass the dim as ``right``), then a plain equi-join on bucket
    + residual ``abs(l-r) < tol``. Catalyst turns this into a broadcast or
    sort-merge hash join — never a cartesian.
    """
    lb = _bucketize(left[left_on], tol).alias("__band_bucket")
    l2 = left.withColumn("__band_bucket", lb)
    r2 = right.withColumn(
        "__band_bucket",
        F.explode(
            F.array(
                _bucketize(right[right_on], tol) - 1,
                _bucketize(right[right_on], tol),
                _bucketize(right[right_on], tol) + 1,
            )
        ),
    )
    if broadcast_right:
        r2 = F.broadcast(r2)
    cond = (l2["__band_bucket"] == r2["__band_bucket"]) & (
        F.abs(l2[left_on] - r2[right_on]) < F.lit(tol)
    )
    if extra_cond is not None:
        cond = cond & extra_cond
    joined = l2.join(r2, cond, how)
    return joined.drop("__band_bucket")


def band_semi_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    tol: float,
    broadcast_right: bool = True,
) -> DataFrame:
    """J2 semi form — keep left rows having ≥1 right value within tol."""
    r2 = right.withColumn(
        "__band_bucket",
        F.explode(
            F.array(
                _bucketize(right[right_on], tol) - 1,
                _bucketize(right[right_on], tol),
                _bucketize(right[right_on], tol) + 1,
            )
        ),
    )
    if broadcast_right:
        r2 = F.broadcast(r2)
    l2 = left.withColumn("__band_bucket", _bucketize(left[left_on], tol))
    cond = (l2["__band_bucket"] == r2["__band_bucket"]) & (
        F.abs(l2[left_on] - r2[right_on]) < F.lit(tol)
    )
    return l2.join(r2, cond, "left_semi").drop("__band_bucket")


def asof_nearest_join(
    probes: DataFrame,
    values: DataFrame,
    probe_on: str,
    value_on: str,
    tol: float,
    probe_key: str,
    order_tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """J1 across rows — for each probe row, the nearest value row within tol.

    Reference: ``peaks.minBy(abs(peak.mz - mz))`` (Spectrum.scala:39-41) lifted
    to a relational as-of join: band join for candidates, then the per-probe
    ``top_k`` of 1 by ``abs(delta)``.
    Scala ``minBy`` keeps the first minimum in input order — reproduced by the
    ``order_tiebreak`` column (a deterministic input-order key) as the
    secondary sort.
    """
    cand = band_join(probes, values, probe_on, value_on, tol, "inner")
    delta = F.abs(F.col(probe_on) - F.col(value_on))
    order = [delta.asc()]
    if order_tiebreak is not None:
        cols = [order_tiebreak] if isinstance(order_tiebreak, str) else order_tiebreak
        order.extend(F.col(c).asc() for c in cols)
    return top_k(cand, [probe_key], order, 1).drop("rank")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_time: str,
    right_time: str,
    delta_seconds: float,
    value_cond: Column | None = None,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """J3 — event-time interval join: |t_l - t_r| ≤ delta (+ value predicate).

    Reference: MS1 peaks ⋈ MS2 precursors with ``rt ∈ [prec.rt-2, prec.rt+2]``
    AND ``abs(prec.m0 - mz) < 0.01`` (libCandidateIons.sc:124-137). Same
    bucketization trick as the band join, on epoch seconds, so the range
    condition rides a hash join instead of a cartesian. Streaming form (true
    stream-stream with watermarked state) lives in streaming/stateful.py.
    """
    # microsecond integer arithmetic: exact, and NTZ-safe (cast through
    # session-TZ timestamp — UTC by session contract, so NTZ → LTZ is identity)
    delta_us = int(round(float(delta_seconds) * 1_000_000))
    lus = F.unix_micros(F.col(left_time).cast("timestamp"))
    rus = F.unix_micros(F.col(right_time).cast("timestamp"))
    bucket = delta_us if delta_us > 0 else 1
    l2 = left.withColumn("__t_bucket", F.floor(lus / F.lit(bucket)).cast("long"))
    rb = F.floor(rus / F.lit(bucket)).cast("long")
    r2 = right.withColumn("__t_bucket", F.explode(F.array(rb - 1, rb, rb + 1)))
    if broadcast_right:
        r2 = F.broadcast(r2)
    cond = (l2["__t_bucket"] == r2["__t_bucket"]) & (
        F.abs(
            F.unix_micros(l2[left_time].cast("timestamp"))
            - F.unix_micros(r2[right_time].cast("timestamp"))
        )
        <= F.lit(delta_us)
    )
    if value_cond is not None:
        cond = cond & value_cond
    return l2.join(r2, cond, how).drop("__t_bucket")
