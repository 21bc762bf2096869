"""Stateful stream-stream shard join (SURVEY.md §2.3 J3, M5).

Reproduces the reference's MS1⋈MS2 precursor join (libCandidateIons.sc:124-137):
each ms2 record names its parent ms1 record (``precursor_ref``) and must match
within a ±2 s event-time interval.

``stateful_shard_join`` runs it with ``applyInPandasWithState`` (per
north_rule): the stream is keyed by a hash of the parent doc id alone, so
each group holds many docs from every source shard and the per-group logic is
a numpy index probe — one Arrow batch per group, never one Python call per
doc, and no pandas frame but the output. Per-key state buffers the group's
recent ms1 rows and any early-arriving ms2 rows; matches emit as both sides
arrive and ``EventTimeTimeout`` + inline watermark purging bound the state.
This is the reference's "collect MS2 side then probe"
(glucosinolateIons.sc:28-29) re-expressed with bounded per-group state
instead of a full materialization.

One group per state partition. Spark places a stateful operator's key in
partition ``pmod(hash(key), P)`` (Murmur3, seed 42, the function behind
``F.hash``), P being ``spark.sql.shuffle.partitions``. ``partition_keys(P)``
picks, for each partition g, a ``BIGINT`` key that lands in g, so the P
groups fill the P partitions one each: P group calls per trigger, each over
1/P of the parents. Every group call checks that it runs in the partition
its key was aligned to, which is what a checkpoint written under another
partition count breaks (Spark restores the checkpoint's count; the plan
reads the session's): the query then stops with ``StatePartitionsChanged``
instead of stranding buffered parents under keys no new row maps to. At a
session P ≤ 2 the check is blind to some counts, whose partitions keep all
of the session's keys in place (P = 1 over a checkpoint of 5, 103, 515, …
partitions; P = 2 over one of 4): such a resume strands parents without an
error.

The state key is one ``BIGINT``. A checkpoint of the earlier plan, keyed by
an ``INT`` salt ``pmod(hash(parent), n_salts)``, stops on resume with
``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``; restart it from a fresh
checkpoint.

The state row is two ``BinaryType`` fields, ``ms1`` and ``ms2``, each one
Arrow IPC stream of that side's buffered columns (``MS1_STATE``,
``MS2_STATE``). Binary, not nested arrays: Spark builds a nested
``ArrayType`` state's encoder from ``MapObjects``, which the analyzer
resolves again for every copy of the operator made while planning and whose
projections miss the codegen cache, so Janino recompiled them every trigger.
The blobs stay data (no pickle in the checkpoint), and a blob with another
Arrow layout raises on read instead of decoding wrongly. A checkpoint written
under the earlier 7-array state schema stops on resume with
``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``; restart it from a fresh
checkpoint.

``shard_join_batch_oracle`` re-states the same semantics as Spark's native
batch interval join; for in-watermark data both emit the same rows. The
per-row token-array invariant is carried by ``clean_tokens`` (pad-dropped ms2
tokens — the S8 kernel applied on the streaming path).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
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

# state: the group's buffered ms1 rows + early ms2 arrivals, per key, as one
# Arrow IPC stream per side; binary fields keep Spark's state encoder flat
MS1_STATE = pa.schema([("doc", pa.string()), ("t_us", pa.int64())])
MS2_STATE = pa.schema(
    [
        ("doc", pa.string()),
        ("t_us", pa.int64()),
        ("source", pa.string()),
        ("ref", pa.string()),
        ("tokens", pa.list_(pa.int32())),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("ms1", BinaryType()), StructField("ms2", BinaryType())]
)


def split_shards(stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F1 — msLevel 1/2 shard split on the source prefix."""
    from stream_reader_mzxml_spark.operators.filters import shard_filter

    return shard_filter(stream, 1), shard_filter(stream, 2)


def _write_side(cols: list[np.ndarray], schema: pa.Schema) -> bytes:
    """One side's buffered columns as an Arrow IPC stream: the schema, then
    one batch unless the side holds no rows (most groups buffer no ms2)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, schema) as writer:
        if len(cols[0]):
            arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
            writer.write_batch(pa.RecordBatch.from_arrays(arrays, schema=schema))
    return sink.getvalue().to_pybytes()


def _read_side(blob: bytes, schema: pa.Schema) -> list[np.ndarray]:
    """Numpy columns of a ``_write_side`` blob; raises on another layout."""
    with pa.ipc.open_stream(blob) as reader:
        if not reader.schema.equals(schema):
            raise ValueError(
                f"shard-join state holds Arrow schema {reader.schema}, "
                f"expected {schema}"
            )
        table = reader.read_all()
    # strings read as object arrays of str, tokens as one int32 array per row
    return [c.to_numpy(zero_copy_only=False) for c in table.columns]


_EMPTY_STATE = (
    _write_side([[] for _ in MS1_STATE], MS1_STATE),
    _write_side([[] for _ in MS2_STATE], MS2_STATE),
)


def _shard_join_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-group stateful join — numpy arrays over all docs of the group.

    State holds the group's live ms1 rows (probe side) and parent-absent ms2
    rows (early arrivals) as parallel columns, one Arrow stream per side,
    read straight into numpy arrays. Each ms2 row (buffered + new) looks up
    its named parent in one ``pd.Index.get_indexer`` over the ms1 doc ids: a
    found parent either emits (interval holds) or kills the row (the parent's
    event time is fixed, so the interval can never hold later); only
    parent-absent rows stay buffered.
    Duplicate ms1 delivery keeps the last copy of a doc id.

    Both buffers are purged by the watermark: an ms1 row older than
    ``wm - delta`` can never match an in-watermark ms2 row again, and a
    buffered ms2 row older than ``wm - delta`` can only be completed by an ms1
    row that would itself be beyond-watermark late. EventTimeTimeout fires a
    final purge once the group goes quiet (SURVEY §7: bound state via
    watermark + event-time timeout without changing emitted rows). A call
    that emits nothing yields nothing.
    """
    delta_us = DELTA_SECONDS * 1_000_000
    wm_ms = state.getCurrentWatermarkMs()
    floor_us = wm_ms * 1000 - delta_us

    # state columns: ms1 (doc, t_us); ms2 (doc, t_us, source, ref, tokens)
    s = state.get if state.exists else _EMPTY_STATE
    ms1, ms2 = _read_side(s[0], MS1_STATE), _read_side(s[1], MS2_STATE)

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
    state.update((_write_side(ms1, MS1_STATE), _write_side(ms2, MS2_STATE)))


_M32 = 0xFFFFFFFF


def _murmur3_mix(h: int, k: int) -> int:
    """One 32-bit word of Murmur3_x86_32 (``mixK1`` then ``mixH1``)."""
    k = k * 0xCC9E2D51 & _M32
    k = ((k << 15 | k >> 17) & _M32) * 0x1B873593 & _M32
    h ^= k
    h = (h << 13 | h >> 19) & _M32
    return (h * 5 + 0xE6546B64) & _M32


def spark_hash_long(v: int) -> int:
    """``F.hash`` of a ``BIGINT``: Spark's Murmur3_x86_32 ``hashLong`` with
    seed 42 (low word, high word, then ``fmix`` of length 8), signed."""
    v &= (1 << 64) - 1
    h = _murmur3_mix(_murmur3_mix(42, v & _M32), v >> 32) ^ 8
    h = (h ^ h >> 16) * 0x85EBCA6B & _M32
    h = (h ^ h >> 13) * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache
def partition_keys(n_parts: int) -> tuple[int, ...]:
    """Key g is the least non-negative ``BIGINT`` that Spark's hash
    partitioning over ``n_parts`` partitions places in partition g."""
    keys: dict[int, int] = {}
    v = 0
    while len(keys) < n_parts:
        keys.setdefault(spark_hash_long(v) % n_parts, v)
        v += 1
    return tuple(keys[g] for g in range(n_parts))


class StatePartitionsChanged(RuntimeError):
    """A shard-join group ran outside the state partition its key was
    aligned to: the checkpoint was written under another
    ``spark.sql.shuffle.partitions`` than the session's."""


def _aligned(join_fn: Callable, n_parts: int) -> Callable:
    """``join_fn`` behind the check that each group runs in the state
    partition ``partition_keys(n_parts)`` aligned its key to.

    Run over another partition count, the keys misplace: for every P from
    3 to 128 and every other count up to 1,024, at least one of the P keys
    lands outside its partition (a spark-free test pins this). At P ≤ 2
    some counts keep every key in place, so the check cannot see them."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        aligned = spark_hash_long(int(key[0])) % n_parts
        ran = TaskContext.get().partitionId()
        if ran != aligned:
            raise StatePartitionsChanged(
                f"shard-join key {key[0]} is aligned to state partition "
                f"{aligned} of {n_parts} (the session's "
                f"spark.sql.shuffle.partitions) but runs in partition {ran}: "
                "the checkpoint holds another partition count. Resume with "
                "the count it was written with, or start a fresh checkpoint."
            )
        return join_fn(key, pdfs, state)

    return fn


def stateful_shard_join(
    stream: DataFrame, watermark: str = "30 seconds", n_salts: int | None = None
) -> DataFrame:
    """J3 via ``applyInPandasWithState``: one pass over the unified stream.

    The group key is a pure function of the parent doc id (an ms1 row's
    ``doc_id``, an ms2 row's ``precursor_ref``), so a parent and its children
    always co-locate; a doc id carries its source, so no shard key is needed.
    Parents spread by ``pmod(hash(parent), G)`` over G keys, key g being
    ``partition_keys(P)[g]``, with P read from ``spark.sql.shuffle.partitions``
    when the plan is built: one group per state partition, and all sources'
    parents (the hot one's ~40 % of rows too) split evenly over them — the
    explicit skew handling AQE cannot give stateful streaming. G = P;
    ``n_salts`` only caps it at ``min(n_salts, P)``.

    A checkpoint pins P: resumed under another session count P ≥ 3, the
    first group call raises ``StatePartitionsChanged``. At P ≤ 2 some counts
    go uncaught (P = 1 over a checkpoint of 5, 103, 515, … partitions; P = 2
    over one of 4), and the parents of the other partitions are stranded.
    """
    # driver-side imports: Python workers import this module for
    # _shard_join_fn and need none of the plan-building helpers
    from stream_reader_mzxml_spark.operators.filters import drop_pad_tokens

    n_parts = int(stream.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    keys = partition_keys(n_parts)[: min(n_salts or n_parts, n_parts)]
    parent = F.coalesce("precursor_ref", "doc_id")
    key_of = F.array(*(F.lit(k) for k in keys)).cast("array<bigint>")
    keyed = (
        stream.filter(F.col("tokens").isNotNull())
        .filter(F.col("source").startswith("ms1-") | F.col("precursor_ref").isNotNull())
        .withColumn(
            "part_key",
            F.element_at(key_of, F.pmod(F.hash(parent), F.lit(len(keys))) + 1),
        )
        .withWatermark("event_time", watermark)
        # probe-side (ms1) rows never use their tokens — null them out so
        # they don't ride the Arrow transfer into Python (≈ half the volume);
        # ms2 tokens are pad-dropped (S8) HERE, JVM-side in the scan project,
        # so the Python operator only routes already-clean arrays instead of
        # re-cleaning them per batch (codegen'd filter vs numpy reduceat)
        .select(
            "part_key",
            "doc_id",
            "source",
            "event_time",
            F.when(
                F.col("precursor_ref").isNotNull(),
                drop_pad_tokens(F.col("tokens")),
            ).alias("tokens"),
            "precursor_ref",
        )
    )
    return keyed.groupBy("part_key").applyInPandasWithState(
        _aligned(_shard_join_fn, n_parts),
        outputStructType=JOIN_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        # Spark drops input rows behind the previous trigger's watermark
        # (numRowsDroppedByWatermark) only under an event-time timeout; with
        # NoTimeout a late ms2 child would still join its parent. The price
        # is an empty timeout pass in every partition of every trigger.
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def shard_join_batch_oracle(df: DataFrame, delta_seconds: int = DELTA_SECONDS) -> DataFrame:
    """Batch re-statement of the same semantics (the test oracle): ms2 rows
    joined to their named ms1 parent within ±delta, pad-dropped tokens."""
    from stream_reader_mzxml_spark.operators.filters import drop_pad_tokens

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
        drop_pad_tokens(F.col("tokens")).alias("clean_tokens"),
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
