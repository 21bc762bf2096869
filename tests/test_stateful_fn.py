"""Spark-free tests of the shard-join group function (``_shard_join_fn``)
and of its partition-aligned keys.

The function is driven directly with ``GroupState`` objects over simulated
triggers and timeout passes of one group. Every
saved state takes the serializer's round trip
(``CPickleSerializer().dumps(STATE_SCHEMA.toInternal(...))``) and is read back
by an unpickler that, like the JVM's, knows no Python classes: anything but
the two Arrow IPC blobs leaking into state fails here, not in the state
store. The blobs are decoded by the module's own reader.
"""

from __future__ import annotations

import io
import pickle

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.serializers import CPickleSerializer
from pyspark.sql import Row
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stream_reader_mzxml_spark.streaming.stateful import (
    JOIN_OUTPUT_SCHEMA,
    MS1_STATE,
    MS2_STATE,
    STATE_SCHEMA,
    StatePartitionsChanged,
    _aligned,
    _read_side,
    _shard_join_fn,
    _write_side,
    partition_keys,
    spark_hash_long,
)

KEY = (3,)
T0_MS = int(pd.Timestamp("2026-01-01", tz="UTC").timestamp() * 1000)


def _ms(seconds: float) -> int:
    return T0_MS + int(seconds * 1000)


class _NoClassesUnpickler(pickle.Unpickler):
    """Reads builtins only (lists, tuples, str, int), as the JVM side does."""

    def find_class(self, module, name):
        raise pickle.UnpicklingError(f"state holds a {module}.{name}")


def _round_trip(state: GroupState) -> Row:
    blob = CPickleSerializer().dumps(STATE_SCHEMA.toInternal(state._value))
    return Row(*_NoClassesUnpickler(io.BytesIO(blob)).load())


def _state(value: Row | None, wm_ms: int, timed_out: bool = False) -> GroupState:
    return GroupState(
        optionalValue=value,
        batchProcessingTimeMs=0,
        eventTimeWatermarkMs=wm_ms,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
        hasTimedOut=timed_out,
        watermarkPresent=True,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=STATE_SCHEMA,
    )


def _ms1(doc: str, t: float, src: str = "ms1-00") -> dict:
    return {"doc_id": f"{src}-{doc}", "source": src, "t": t, "tokens": None, "ref": None}


def _ms2(
    doc: str,
    t: float,
    parent: str,
    tokens: list[int],
    src: str = "ms2-01",
    parent_src: str = "ms1-00",
) -> dict:
    return {
        "doc_id": f"{src}-{doc}",
        "source": src,
        "t": t,
        "tokens": np.array(tokens, dtype=np.int32),
        "ref": f"{parent_src}-{parent}",
    }


def _frame(rows: list[dict]) -> pd.DataFrame:
    """One input batch shaped as pyspark hands it to the group function."""
    return pd.DataFrame(
        {
            "salt": np.int32(KEY[0]),
            "doc_id": [r["doc_id"] for r in rows],
            "source": [r["source"] for r in rows],
            "event_time": pd.to_datetime([_ms(r["t"]) for r in rows], unit="ms"),
            "tokens": pd.Series([r["tokens"] for r in rows], dtype=object),
            "precursor_ref": pd.Series([r["ref"] for r in rows], dtype=object),
        }
    )


def _call(value: Row | None, wm_ms: int, rows: list[dict] | None):
    """Run one invocation; return (emitted rows, state, round-tripped value)."""
    timed_out = rows is None
    state = _state(value, wm_ms, timed_out)
    frames = iter([pd.DataFrame()] if timed_out else [_frame(rows)])
    out = []
    arrow_schema = to_arrow_schema(JOIN_OUTPUT_SCHEMA)
    for pdf in _shard_join_fn(KEY, frames, state):
        if len(pdf) == 0:
            continue
        # the emitted frame must convert to the declared output schema
        pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
        out += [
            (r.ms1_doc_id, r.ms2_doc_id, r.ms2_source, int(r.dt_seconds), tuple(r.clean_tokens), int(r.n_clean))
            for r in pdf.itertuples()
        ]
    saved = _round_trip(state) if state.exists else None
    return sorted(out), state, saved


def _ms1_cols(saved: Row) -> list[np.ndarray]:
    return _read_side(saved[0], MS1_STATE)


def _ms2_cols(saved: Row) -> list[np.ndarray]:
    return _read_side(saved[1], MS2_STATE)


def _ms1_docs(saved: Row) -> set[str]:
    return set(_ms1_cols(saved)[0])


def _ms2_docs(saved: Row) -> list[str]:
    return list(_ms2_cols(saved)[0])


class TestShardJoinFn:
    @pytest.fixture(scope="class")
    def run(self):
        """Three triggers and two timeout passes of one group, in order."""
        calls = {}
        # trigger 1, first batch: watermark still 0
        calls[1] = _call(
            None,
            0,
            [
                _ms1("A", 10),
                _ms1("A", 10),  # duplicate delivery of the parent
                _ms1("B", 20),
                _ms2("x", 11, "A", [5, 6]),  # parent here, within 2 s
                _ms2("y", 12, "C", [7]),  # parent not here yet
                _ms2("z", 25, "B", [8, 9]),  # parent here, 5 s away
            ],
        )
        # trigger 2: y's parent arrives; A is delivered a third time
        calls[2] = _call(
            calls[1][2],
            _ms(5),
            [
                _ms1("C", 13),
                _ms1("A", 10),
                _ms2("w", 9, "A", [1, 2, 3]),
            ],
        )
        # trigger 3: wm − 2 s = 30 s purges A, B, C and u; F sits on the edge
        calls[3] = _call(
            calls[2][2],
            _ms(32),
            [
                _ms1("D", 40),
                _ms1("F", 30),
                _ms2("v", 41, "E", [4]),
                _ms2("u", 29, "E", [4]),
            ],
        )
        # timeout passes: one over live rows, one over all-stale rows
        calls["t_live"] = _call(calls[3][2], _ms(35), None)
        calls["t_stale"] = _call(calls["t_live"][2], _ms(60), None)
        return calls

    def test_trigger1_emits_in_interval_match_once(self, run):
        out, state, saved = run[1]
        assert out == [("ms1-00-A", "ms2-01-x", "ms2-01", 1, (5, 6), 2)]
        assert state.exists
        assert _ms1_docs(saved) == {"ms1-00-A", "ms1-00-B"}

    def test_early_ms2_is_buffered_then_emitted(self, run):
        assert _ms2_docs(run[1][2]) == ["ms2-01-y"]
        doc, *_, toks = _ms2_cols(run[1][2])
        assert dict(zip(doc, map(list, toks))) == {"ms2-01-y": [7]}
        out, _, saved = run[2]
        assert ("ms1-00-C", "ms2-01-y", "ms2-01", -1, (7,), 1) in out
        assert _ms2_docs(saved) == []

    def test_parent_outside_interval_drops_row(self, run):
        emitted = [r[1] for k in (1, 2, 3) for r in run[k][0]]
        assert "ms2-01-z" not in emitted
        assert "ms2-01-z" not in _ms2_docs(run[1][2])

    def test_duplicate_ms1_emits_once(self, run):
        out, _, _ = run[2]
        assert out == sorted(
            [
                ("ms1-00-A", "ms2-01-w", "ms2-01", -1, (1, 2, 3), 3),
                ("ms1-00-C", "ms2-01-y", "ms2-01", -1, (7,), 1),
            ]
        )

    def test_watermark_purge(self, run):
        out, state, saved = run[3]
        assert out == []
        assert _ms1_docs(saved) == {"ms1-00-D", "ms1-00-F"}
        assert _ms2_docs(saved) == ["ms2-01-v"]
        assert list(_ms2_cols(saved)[1]) == [_ms(41) * 1000]
        # re-armed past the newest event time: max(41 s, wm) + 3 s
        assert state._timeout_timestamp == _ms(44)

    def test_timeout_over_live_rows_rearms(self, run):
        out, state, saved = run["t_live"]
        assert out == []
        assert state.exists and not state._removed
        assert _ms1_docs(saved) == {"ms1-00-D"}
        assert _ms2_docs(saved) == ["ms2-01-v"]
        assert state._timeout_timestamp == _ms(35) + 1000

    def test_timeout_over_stale_rows_removes(self, run):
        out, state, saved = run["t_stale"]
        assert out == []
        assert state._removed and not state.exists
        assert saved is None

    def test_state_holds_plain_python_values(self, run):
        for k in (1, 2, 3, "t_live"):
            saved = run[k][2]
            assert [type(c) for c in saved] == [bytes, bytes]
            for blob, schema in zip(saved, (MS1_STATE, MS2_STATE)):
                with pa.ipc.open_stream(blob) as reader:
                    assert reader.schema.equals(schema)

    def test_blob_of_another_layout_raises(self, run):
        saved = run[1][2]
        with pytest.raises(ValueError, match="shard-join state holds Arrow schema"):
            _read_side(saved[1], MS1_STATE)  # the ms2 blob read as ms1
        # same field names, tokens widened to int64
        wide = pa.schema(
            [f.with_type(pa.list_(pa.int64())) if f.name == "tokens" else f for f in MS2_STATE]
        )
        blob = _write_side(_ms2_cols(saved), wide)
        with pytest.raises(ValueError, match="shard-join state holds Arrow schema"):
            _read_side(blob, MS2_STATE)
        # the group function refuses the state rather than misreading it
        with pytest.raises(ValueError, match="shard-join state holds Arrow schema"):
            _call(Row(saved[0], blob), _ms(5), [_ms1("C", 13)])


class TestMixedShardGroup:
    """One salt group holds parents from two ms1 sources (ms1-00, ms1-02)
    and children of both: the group function never assumes one source."""

    @pytest.fixture(scope="class")
    def run(self):
        calls = {}
        calls[1] = _call(
            None,
            0,
            [
                _ms1("P", 10),
                _ms1("Q", 10, src="ms1-02"),
                _ms2("a", 11, "P", [1]),
                _ms2("b", 9, "Q", [2, 3], src="ms2-03", parent_src="ms1-02"),
                _ms2("c", 20, "R", [4]),  # early: ms1-00-R not here yet
                _ms2("d", 21, "S", [5], src="ms2-03", parent_src="ms1-02"),
                # parent in a third source that never arrives
                _ms2("e", 20, "X", [6], src="ms2-05", parent_src="ms1-04"),
            ],
        )
        calls[2] = _call(
            calls[1][2],
            _ms(5),
            [_ms1("R", 19), _ms1("S", 22, src="ms1-02")],
        )
        # wm − 2 s = 18 s keeps e (20 s); 28 s purges it and everything else
        calls["t_live"] = _call(calls[2][2], _ms(20), None)
        calls["t_stale"] = _call(calls["t_live"][2], _ms(30), None)
        return calls

    def test_first_call_emits_both_sources(self, run):
        out, _, saved = run[1]
        assert out == [
            ("ms1-00-P", "ms2-01-a", "ms2-01", 1, (1,), 1),
            ("ms1-02-Q", "ms2-03-b", "ms2-03", -1, (2, 3), 2),
        ]
        assert _ms1_docs(saved) == {"ms1-00-P", "ms1-02-Q"}
        assert _ms2_docs(saved) == ["ms2-01-c", "ms2-03-d", "ms2-05-e"]

    def test_early_children_complete_later(self, run):
        out, _, saved = run[2]
        assert out == [
            ("ms1-00-R", "ms2-01-c", "ms2-01", 1, (4,), 1),
            ("ms1-02-S", "ms2-03-d", "ms2-03", -1, (5,), 1),
        ]
        assert _ms2_docs(saved) == ["ms2-05-e"]

    def test_absent_parent_buffered_until_purged(self, run):
        out, state, saved = run["t_live"]
        assert out == []
        assert _ms2_docs(saved) == ["ms2-05-e"]
        assert state.exists and not state._removed
        out, state, saved = run["t_stale"]
        assert out == []
        assert state._removed and saved is None


class TestPartitionKeys:
    def test_hash_matches_frozen_spark_values(self):
        # F.hash of these BIGINT values, read from Spark 4.1.2
        spark_hash = {
            0: -1670924195,
            1: -1712319331,
            2: -797927272,
            -1: -939490007,
            7: 1293116811,
            123456789: 198011545,
            2**31: 238268309,
            -(2**31) - 1: -1945244161,
            2**40: -1596767687,
            2**63 - 1: -1604625029,
            -(2**63): -853646085,
        }
        assert {v: spark_hash_long(v) for v in spark_hash} == spark_hash

    @pytest.mark.parametrize("n_parts", [1, 2, 4, 8, 200])
    def test_key_g_lands_in_partition_g(self, n_parts):
        keys = partition_keys(n_parts)
        assert [spark_hash_long(k) % n_parts for k in keys] == list(range(n_parts))
        assert len(set(keys)) == n_parts

    def test_another_partition_count_misplaces_some_key(self):
        """What the resume guard relies on: for every plan over P ≥ 3
        partitions, running its P keys over any other count Q ≤ 1024 puts
        at least one key outside the partition it was aligned to."""
        for p in range(3, 129):
            hashes = [spark_hash_long(k) for k in partition_keys(p)]
            for q in range(1, 1025):
                if q != p:
                    assert any(h % q != g for g, h in enumerate(hashes)), (p, q)

    def test_group_outside_its_partition_raises(self, monkeypatch):
        import stream_reader_mzxml_spark.streaming.stateful as stateful

        class _Task:  # TaskContext.get() of a task in state partition 5
            @staticmethod
            def get():
                return _Task

            @staticmethod
            def partitionId():
                return 5

        keys = partition_keys(8)
        fn = _aligned(lambda key, pdfs, state: ["ran", key], 8)
        monkeypatch.setattr(stateful, "TaskContext", _Task)
        # keys arrive from Arrow as numpy ints
        assert fn((np.int64(keys[5]),), iter(()), None) == ["ran", (keys[5],)]
        with pytest.raises(StatePartitionsChanged, match="partition 3 of 8 .* partition 5"):
            fn((np.int64(keys[3]),), iter(()), None)
