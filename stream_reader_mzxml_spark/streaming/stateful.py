"""Stateful stream-stream shard join (SURVEY.md §2.3 J3, M5).

Reproduces the reference's MS1⋈MS2 precursor join (libCandidateIons.sc:124-137):
each ms2 record names its parent ms1 record (``precursor_ref``) and must match
within a ±2 s event-time interval. Two implementations:

1. ``interval_join_stream`` — Spark's native watermarked stream-stream join
   with an event-time range condition (the idiomatic path; state eviction is
   driven by the watermark + time bound, Catalyst handles symmetric hash join).

2. ``stateful_shard_join`` — ``applyInPandasWithState`` (per north_rule): the
   stream is keyed by the *ms1 source shard* (plus a salt on the parent doc to
   split the hot shard), so each group holds many docs and the per-group logic
   is a numpy index probe — one Arrow batch per (shard, salt), never one
   Python call per doc, and no pandas frame but the output. Per-key state
   buffers the shard's recent ms1 rows and any early-arriving ms2 rows;
   matches emit as both sides arrive and ``EventTimeTimeout`` + inline
   watermark purging bound the state. This is
   the reference's "collect MS2 side then probe" (glucosinolateIons.sc:28-29)
   re-expressed with bounded per-shard state instead of a full materialization.

Both emit the same rows for in-watermark data; the per-row token-array
invariant is carried by ``clean_tokens`` (pad-dropped ms2 tokens — the S8
kernel applied on the streaming path).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DELTA_SECONDS = 2  # the reference's ±2 s interval (libCandidateIons.sc:128)

JOIN_OUTPUT_SCHEMA = StructType(
    [
        StructField("ms1_doc_id", StringType()),
        StructField("ms2_doc_id", StringType()),
        StructField("ms2_source", StringType()),
        StructField("dt_seconds", LongType()),
        StructField("clean_tokens", ArrayType(IntegerType())),
        StructField("n_clean", IntegerType()),
    ]
)

# state: the shard's buffered ms1 rows + early ms2 arrivals, per (shard, salt)
STATE_SCHEMA = StructType(
    [
        StructField("ms1_docs", ArrayType(StringType())),
        StructField("ms1_times_us", ArrayType(LongType())),
        StructField("ms2_docs", ArrayType(StringType())),
        StructField("ms2_times_us", ArrayType(LongType())),
        StructField("ms2_sources", ArrayType(StringType())),
        StructField("ms2_refs", ArrayType(StringType())),
        StructField("ms2_tokens", ArrayType(ArrayType(IntegerType()))),
    ]
)


def split_shards(stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F1 — msLevel 1/2 shard split on the source prefix."""
    from stream_reader_mzxml_spark.operators.filters import shard_filter

    return shard_filter(stream, 1), shard_filter(stream, 2)


def interval_join_stream(
    stream: DataFrame,
    watermark: str = "30 seconds",
    delta_seconds: int = DELTA_SECONDS,
) -> DataFrame:
    """Native watermarked stream-stream join, equi on precursor_ref + interval.

    State on both sides is bounded by (watermark + delta): Spark derives
    eviction from the time-range condition — exactly the "state sizing"
    requirement of SURVEY §7 (J3 buffers the whole MS2 side in the reference;
    here state is O(keys within the watermark horizon)).
    """
    ms1, ms2 = split_shards(stream)
    ms1 = (
        ms1.filter(F.col("tokens").isNotNull())
        .select(
            F.col("doc_id").alias("ms1_doc_id"),
            F.col("event_time").alias("ms1_time"),
        )
        .withWatermark("ms1_time", watermark)
    )
    ms2 = (
        ms2.filter(F.col("tokens").isNotNull() & F.col("precursor_ref").isNotNull())
        .select(
            F.col("doc_id").alias("ms2_doc_id"),
            F.col("source").alias("ms2_source"),
            F.col("precursor_ref"),
            F.col("event_time").alias("ms2_time"),
            F.filter("tokens", lambda x: x != F.lit(0)).alias("clean_tokens"),
        )
        .withWatermark("ms2_time", watermark)
    )
    cond = (
        (ms2["precursor_ref"] == ms1["ms1_doc_id"])
        & (ms2["ms2_time"] >= ms1["ms1_time"] - F.expr(f"INTERVAL {delta_seconds} SECONDS"))
        & (ms2["ms2_time"] <= ms1["ms1_time"] + F.expr(f"INTERVAL {delta_seconds} SECONDS"))
    )
    return ms2.join(ms1, cond, "inner").select(
        "ms1_doc_id",
        "ms2_doc_id",
        "ms2_source",
        (
            F.unix_timestamp("ms2_time") - F.unix_timestamp("ms1_time")
        ).alias("dt_seconds"),
        "clean_tokens",
        F.size("clean_tokens").alias("n_clean"),
    )


_EMPTY_STATE = ([], [], [], [], [], [], [])


def _shard_join_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-(shard, salt) stateful join — numpy arrays over all docs of the group.

    State holds the shard's live ms1 rows (probe side) and parent-absent ms2
    rows (early arrivals) as parallel columns, read straight into numpy
    arrays. Each ms2 row (buffered + new) looks up its named parent in one
    ``pd.Index.get_indexer`` over the ms1 doc ids: a found parent either emits
    (interval holds) or kills the row (the parent's event time is fixed, so
    the interval can never hold later); only parent-absent rows stay buffered.
    Duplicate ms1 delivery keeps the last copy of a doc id.

    Both buffers are purged by the watermark: an ms1 row older than
    ``wm - delta`` can never match an in-watermark ms2 row again, and a
    buffered ms2 row older than ``wm - delta`` can only be completed by an ms1
    row that would itself be beyond-watermark late. EventTimeTimeout fires a
    final purge once the shard goes quiet (SURVEY §7: bound state via
    watermark + event-time timeout without changing emitted rows). A call
    that emits nothing yields nothing.
    """
    delta_us = DELTA_SECONDS * 1_000_000
    wm_ms = state.getCurrentWatermarkMs()
    floor_us = wm_ms * 1000 - delta_us

    # state columns: ms1 (doc, t_us); ms2 (doc, t_us, source, ref, tokens)
    s = state.get if state.exists else _EMPTY_STATE
    ms1 = [np.array(s[0], dtype=object), np.array(s[1], dtype=np.int64)]
    ms2 = [np.array(s[2], dtype=object), np.array(s[3], dtype=np.int64)]
    ms2 += [np.array(s[4], dtype=object), np.array(s[5], dtype=object)]
    # fromiter, not array: equal-length token lists must stay one object each
    ms2.append(np.fromiter(s[6], dtype=object, count=len(s[6])))

    if state.hasTimedOut:
        # purge-only invocation: no new data; drop everything the watermark
        # has passed, keep (and re-arm) only if something may still match
        live1, live2 = ms1[1] >= floor_us, ms2[1] >= floor_us
        if live1.any() or live2.any():
            _save(state, [c[live1] for c in ms1], [c[live2] for c in ms2])
            state.setTimeoutTimestamp(wm_ms + 1000)
        else:
            state.remove()
        return

    frames = list(pdfs)
    new = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    # normalize to µs regardless of pandas' ns/us datetime64 resolution
    t_us = new["event_time"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    doc, src = new["doc_id"].to_numpy(), new["source"].to_numpy()
    # source.startswith("ms1-") as one numpy op: truncate to 4 chars, compare
    is_ms1 = src.astype("U4") == "ms1-"
    is_ms2 = ~is_ms1
    ref, toks = new["precursor_ref"].to_numpy(), new["tokens"].to_numpy()
    ms1 = [np.concatenate((c, a[is_ms1])) for c, a in zip(ms1, (doc, t_us))]
    ms2 = [
        np.concatenate((c, a[is_ms2]))
        for c, a in zip(ms2, (doc, t_us, src, ref, toks))
    ]

    # probe ALL pending ms2 (buffered + new) against the updated ms1 table
    ms1_doc, ms1_t = ms1
    ms2_doc, ms2_t, ms2_src, ms2_ref, ms2_toks = ms2
    parents = pd.Index(ms1_doc)
    last = ~parents.duplicated(keep="last")
    pos = parents[last].get_indexer(ms2_ref)
    known = pos >= 0
    dt_us = ms2_t[known] - ms1_t[last][pos[known]]
    ok = np.abs(dt_us) <= delta_us
    emit = np.flatnonzero(known)[ok]

    # watermark purge (same predicate as the timeout path)
    pending = ~known & (ms2_t >= floor_us)
    _save(state, [c[ms1_t >= floor_us] for c in ms1], [c[pending] for c in ms2])
    state.setTimeoutTimestamp(
        max(int(t_us.max()) // 1000, wm_ms) + (DELTA_SECONDS + 1) * 1000
    )

    if len(emit) == 0:
        return
    # tokens arrive pre-cleaned (JVM-side pad-drop in stateful_shard_join)
    toks = ms2_toks[emit]
    yield pd.DataFrame(
        {
            "ms1_doc_id": ms2_ref[emit],
            "ms2_doc_id": ms2_doc[emit],
            "ms2_source": ms2_src[emit],
            "dt_seconds": dt_us[ok] // 1_000_000,
            "clean_tokens": toks,
            "n_clean": np.fromiter(map(len, toks), dtype=np.int64, count=len(toks)),
        },
        copy=False,  # columns are fresh arrays: skip pandas' block consolidation
    )


def _save(state: GroupState, ms1: list[np.ndarray], ms2: list[np.ndarray]) -> None:
    # plain-python values: numpy scalars don't survive the state round-trip;
    # only tokens of ms2 rows that arrived this batch are still ndarrays
    *cols, toks = ms1 + ms2
    state.update(
        tuple(c.tolist() for c in cols)
        + ([t.tolist() if isinstance(t, np.ndarray) else t for t in toks],)
    )


def stateful_shard_join(
    stream: DataFrame, watermark: str = "30 seconds", n_salts: int = 8
) -> DataFrame:
    """J3 via ``applyInPandasWithState``: one pass over the unified stream.

    Group key = (ms1 source shard, salt). The shard is the parent doc's source
    — for ms1 rows their own ``source``, for ms2 rows the source prefix of
    ``precursor_ref`` (doc_id layout ``{source}-{seq:09d}``) — so a parent and
    its children always co-locate. The salt is a pure function of the parent
    doc id, splitting the hot shard (~40 % of rows) across ``n_salts`` state
    partitions: the explicit skew handling the north_rule requires where AQE
    cannot help (stateful streaming).
    """
    parent = F.coalesce("precursor_ref", "doc_id")
    keyed = (
        stream.filter(F.col("tokens").isNotNull())
        .filter(F.col("source").startswith("ms1-") | F.col("precursor_ref").isNotNull())
        .withColumn("shard", F.substring_index(parent, "-", 2))
        .withColumn("salt", F.pmod(F.hash(parent), F.lit(n_salts)))
        .withWatermark("event_time", watermark)
        # probe-side (ms1) rows never use their tokens — null them out so
        # they don't ride the Arrow transfer into Python (≈ half the volume);
        # ms2 tokens are pad-dropped (S8) HERE, JVM-side in the scan project,
        # so the Python operator only routes already-clean arrays instead of
        # re-cleaning them per batch (codegen'd filter vs numpy reduceat)
        .select(
            "shard",
            "salt",
            "doc_id",
            "source",
            "event_time",
            F.when(
                F.col("precursor_ref").isNotNull(),
                F.filter("tokens", lambda x: x != F.lit(0)),
            ).alias("tokens"),
            "precursor_ref",
        )
    )
    return keyed.groupBy("shard", "salt").applyInPandasWithState(
        _shard_join_fn,
        outputStructType=JOIN_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def shard_join_batch_oracle(df: DataFrame, delta_seconds: int = DELTA_SECONDS) -> DataFrame:
    """Batch re-statement of the same semantics (the test oracle): ms2 rows
    joined to their named ms1 parent within ±delta, pad-dropped tokens."""
    ms1, ms2 = split_shards(df)
    ms1 = ms1.filter(F.col("tokens").isNotNull()).select(
        F.col("doc_id").alias("ms1_doc_id"), F.col("event_time").alias("ms1_time")
    )
    ms2 = ms2.filter(
        F.col("tokens").isNotNull() & F.col("precursor_ref").isNotNull()
    ).select(
        F.col("doc_id").alias("ms2_doc_id"),
        F.col("source").alias("ms2_source"),
        "precursor_ref",
        F.col("event_time").alias("ms2_time"),
        F.filter("tokens", lambda x: x != F.lit(0)).alias("clean_tokens"),
    )
    j = ms2.join(ms1, ms2["precursor_ref"] == ms1["ms1_doc_id"], "inner").filter(
        F.abs(F.unix_timestamp("ms2_time") - F.unix_timestamp("ms1_time"))
        <= delta_seconds
    )
    return j.select(
        "ms1_doc_id",
        "ms2_doc_id",
        "ms2_source",
        (F.unix_timestamp("ms2_time") - F.unix_timestamp("ms1_time")).alias(
            "dt_seconds"
        ),
        "clean_tokens",
        F.size("clean_tokens").alias("n_clean"),
    )
