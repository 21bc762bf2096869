"""Spark-free tests of the shard-join group function (``_shard_join_fn``).

The function is driven directly with ``GroupState`` objects over three
simulated triggers and two timeout passes of one (shard, salt) group. Every
saved state takes the serializer's round trip
(``CPickleSerializer().dumps(STATE_SCHEMA.toInternal(...))``) and is read back
by an unpickler that, like the JVM's, knows no Python classes: a numpy
scalar or array leaking into state fails here, not in the state store.
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
    STATE_SCHEMA,
    _shard_join_fn,
)

KEY = ("ms1-00", 3)
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


def _ms1(doc: str, t: float) -> dict:
    return {"doc_id": f"ms1-00-{doc}", "source": "ms1-00", "t": t, "tokens": None, "ref": None}


def _ms2(doc: str, t: float, parent: str, tokens: list[int]) -> dict:
    return {
        "doc_id": f"ms2-01-{doc}",
        "source": "ms2-01",
        "t": t,
        "tokens": np.array(tokens, dtype=np.int32),
        "ref": f"ms1-00-{parent}",
    }


def _frame(rows: list[dict]) -> pd.DataFrame:
    """One input batch shaped as pyspark hands it to the group function."""
    return pd.DataFrame(
        {
            "shard": KEY[0],
            "salt": np.int32(KEY[1]),
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


def _ms1_docs(saved: Row) -> set[str]:
    return set(saved[0])


def _ms2_docs(saved: Row) -> list[str]:
    return list(saved[2])


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
        buffered = dict(zip(run[1][2][2], run[1][2][6]))
        assert buffered["ms2-01-y"] == [7]
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
        assert list(saved[3]) == [_ms(41) * 1000]
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
            assert [type(c) for c in saved] == [list] * 7
            assert all(type(d) is str for c in (0, 2, 4, 5) for d in saved[c])
            assert all(type(t) is int for c in (1, 3) for t in saved[c])
            assert all(type(v) is int for toks in saved[6] for v in toks)
