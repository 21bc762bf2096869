"""Per-layer metrics and spans, collected from outside the engine.

Three sources, none of which needs a change inside the package:

- every ``StreamingQueryProgress`` of the measured query (``durationMs``,
  ``stateOperators``): fixed per-trigger cost, offsets, state stores;
- the executed plan of every micro-batch, captured while the query runs
  (``lastExecution()``) and walked afterwards for its SQL metrics: scan,
  exchange and the pandas-with-state node. Under ``foreachBatch`` the
  upstream plan's metrics exist only there, not in the SQL status store;
- the SQL status store, for the write commands a ``foreachBatch`` sink runs
  as separate executions.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from datetime import datetime

# progress stateOperators[].operatorName -> layer
STATE_LAYERS = {"stateStoreSave": "windows", "applyInPandasWithState": "stateful"}

# (plan node name prefix, metric key) -> (layer metric, scale to its unit)
PLAN_METRICS = {
    ("Scan", "scanTime"): ("sources.scan_ms", 1),
    ("Scan", "numFiles"): ("sources.files", 1),
    ("Scan", "filesSize"): ("sources.bytes", 1),
    ("ColumnarToRow", "numOutputRows"): ("sources.rows", 1),
    ("Exchange", "shuffleBytesWritten"): ("shuffle.bytes", 1),
    ("Exchange", "shuffleRecordsWritten"): ("shuffle.records", 1),
    ("Exchange", "shuffleWriteTime"): ("shuffle.write_ms", 1e-6),
    ("Exchange", "fetchWaitTime"): ("shuffle.fetch_wait_ms", 1),
    ("FlatMapGroupsInPandasWithState", "pythonBootTime"): ("stateful.python_boot_ms", 1),
    ("FlatMapGroupsInPandasWithState", "pythonInitTime"): ("stateful.python_init_ms", 1),
    ("FlatMapGroupsInPandasWithState", "pythonTotalTime"): ("stateful.python_run_ms", 1),
    ("FlatMapGroupsInPandasWithState", "pythonDataSent"): ("stateful.arrow_sent_bytes", 1),
    ("FlatMapGroupsInPandasWithState", "pythonDataReceived"): ("stateful.arrow_recv_bytes", 1),
    ("FlatMapGroupsInPandasWithState", "numOutputRows"): ("stateful.rows_out", 1),
}

# write-command metrics in the SQL status store (display name -> layer metric)
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
WRITE_METRICS = {
    "number of written files": "sink.files_written",
    "written output": "sink.bytes_written",
    "job commit time": "sink.job_commit_ms",
    "number of output rows": "sink.rows_out",
}

LAYER_METRICS = [
    "session.start_s", "session.warmup_s", "session.cold_s", "jvm.jit_cpu_s",
    "sources.scan_ms", "sources.files", "sources.bytes", "sources.rows", "sources.offset_ms",
    "shuffle.bytes", "shuffle.records", "shuffle.write_ms", "shuffle.fetch_wait_ms",
    "windows.state_rows", "windows.state_mem_bytes", "windows.state_update_ms",
    "windows.state_remove_ms", "windows.state_commit_ms", "windows.late_rows_dropped",
    "stateful.python_boot_ms", "stateful.python_init_ms", "stateful.python_run_ms",
    "stateful.arrow_sent_bytes", "stateful.arrow_recv_bytes", "stateful.rows_out",
    "stateful.state_rows", "stateful.state_mem_bytes", "stateful.state_update_ms",
    "stateful.state_commit_ms",
    "trigger.count", "trigger.plan_ms", "trigger.wal_ms", "trigger.commit_ms",
    "sink.add_batch_ms", "sink.files_written", "sink.bytes_written", "sink.job_commit_ms",
    "sink.rows_out",
    "feeder.late_max_ms", "trace.harvest_s",
]


class Tracer:
    """Spans at the benchmark's calls into each layer, kept in memory and
    written once when the run ends. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float | None, parent: int | None = None,
            **attrs) -> int:
        span_id = len(self.spans)
        if self.enabled:
            self.spans.append({"id": span_id, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return span_id

    @contextmanager
    def span(self, name: str):
        """Span around a block, child of the enclosing span; yields its id."""
        span_id = self.add(name, time.time(), None, self._stack[-1] if self._stack else None)
        self._stack.append(span_id)
        try:
            yield span_id
        finally:
            self._stack.pop()
            if self.enabled:
                self.spans[span_id]["end"] = time.time()

    def trigger_spans(self, progress: list, parent: int) -> None:
        """One child span per trigger, built from its progress event."""
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            dur = p["durationMs"]
            self.add("trigger", start, start + dur.get("triggerExecution", 0) / 1000, parent,
                     batch_id=p["batchId"], rows=p["numInputRows"],
                     duration_ms={k: v for k, v in dur.items()})

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as fh:
                json.dump(self.spans, fh)


class PlanRecorder:
    """Keeps a reference to each micro-batch's ``IncrementalExecution`` while
    the query runs (polling ``lastExecution()``), so every batch's executed
    plan can be walked after the run, outside the timed window."""

    interval_s = 0.02

    def __init__(self, query):
        self._exec = query._jsq.streamingQuery()
        self.plans: dict[int, object] = {}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _grab(self) -> None:
        ex = self._exec.lastExecution()
        if ex is not None:
            self.plans.setdefault(ex.currentBatchId(), ex)

    def _poll(self) -> None:
        while not self._done.is_set():
            self._grab()
            self._done.wait(self.interval_s)

    def stop(self) -> None:
        self._done.set()
        self._thread.join(timeout=10)
        self._grab()


def _plan_nodes(plan):
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def plan_metrics(plans: dict[int, object], out: dict[str, float]) -> None:
    for ex in plans.values():
        for node in _plan_nodes(ex.executedPlan()):
            name = node.nodeName()
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                for (prefix, key), (metric, scale) in PLAN_METRICS.items():
                    if kv._1() == key and name.startswith(prefix):
                        out[metric] += kv._2().value() * scale


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def parse_store_value(text: str) -> float:
    """Parse a status-store metric string: '4,000', '24 ms', '579.6 KiB' or
    'total (min, med, max ...)\\n33 ms (7 ms, ...)' (the total is taken)."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def write_metrics(spark, after_id: int, out: dict[str, float]) -> None:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    while it.hasNext():
        eid = it.next().executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() != WRITE_NODE:
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                metric = WRITE_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if metric and v.isDefined():
                    out[metric] += parse_store_value(v.get())


def progress_metrics(progress: list, out: dict[str, float]) -> None:
    out["trigger.count"] = len(progress)
    for p in progress:
        d = p["durationMs"]
        out["trigger.plan_ms"] += d.get("queryPlanning", 0)
        out["trigger.wal_ms"] += d.get("walCommit", 0)
        out["trigger.commit_ms"] += d.get("commitOffsets", 0)
        out["sources.offset_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["sink.add_batch_ms"] += d.get("addBatch", 0)
        # state size is a level, not a flow: report the largest seen
        rows: dict[str, int] = {}
        mem: dict[str, int] = {}
        for s in p["stateOperators"]:
            layer = STATE_LAYERS.get(s["operatorName"])
            if layer is None:
                continue
            out[f"{layer}.state_update_ms"] += s["allUpdatesTimeMs"]
            out[f"{layer}.state_commit_ms"] += s["commitTimeMs"]
            if layer == "windows":
                out["windows.state_remove_ms"] += s["allRemovalsTimeMs"]
                out["windows.late_rows_dropped"] += s["numRowsDroppedByWatermark"]
            rows[layer] = rows.get(layer, 0) + s["numRowsTotal"]
            mem[layer] = mem.get(layer, 0) + s["memoryUsedBytes"]
        for layer in rows:
            out[f"{layer}.state_rows"] = max(out[f"{layer}.state_rows"], rows[layer])
            out[f"{layer}.state_mem_bytes"] = max(out[f"{layer}.state_mem_bytes"], mem[layer])
