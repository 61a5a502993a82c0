"""In-memory spans and executed-plan counters for the traced run.

Spans are recorded by the benchmark around its calls into the engine's
public functions (nothing inside the engine is instrumented). A span
is (name, layer, start, end, parent, run id); a layer's self time is
the duration of its spans minus the part their child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute test per span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer over every finished span."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(i, []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"] or c["start"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _scala_items(jmap):
    it = jmap.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def plan_counters(df) -> dict[str, float]:
    """Counters summed over the executed (AQE-final) physical plan of a
    DataFrame that has run, walked the way ``tools/op_times.py`` does."""
    node = df._jdf.queryExecution().executedPlan()
    c = {
        "scan.rows_out": 0, "scan.bytes_read": 0, "generate.rows_out": 0,
        "agg.partial_rows_out": 0, "shuffle.bytes_written": 0,
        "shuffle.records_written": 0, "spill.bytes": 0,
        "python.rows_received": 0, "python.bytes_sent": 0, "python.eval_s": 0.0,
        "cache.inmemory_scans": 0,
    }

    def walk(n) -> None:
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(n.executedPlan())
            return
        m = {k: v.value() for k, v in _scala_items(n.metrics())}
        if name.startswith("Scan "):
            c["scan.rows_out"] += m.get("numOutputRows", 0)
            c["scan.bytes_read"] += m.get("filesSize", 0)
        elif name == "InMemoryTableScan":
            c["cache.inmemory_scans"] += 1
        elif name == "Generate":
            c["generate.rows_out"] += m.get("numOutputRows", 0)
        elif name.endswith("Aggregate") and "partial_" in n.toString():
            c["agg.partial_rows_out"] += m.get("numOutputRows", 0)
        elif name == "Exchange":
            c["shuffle.bytes_written"] += m.get("shuffleBytesWritten", 0)
            c["shuffle.records_written"] += m.get("shuffleRecordsWritten", 0)
        if "pythonTotalTime" in m:  # every Python-worker exec (PythonSQLMetrics)
            c["python.rows_received"] += m["pythonNumRowsReceived"]
            c["python.bytes_sent"] += m["pythonDataSent"]
            c["python.eval_s"] += m["pythonTotalTime"] / 1000.0
        c["spill.bytes"] += sum(v for k, v in m.items() if "spill" in k.lower())
        if "QueryStage" in name:
            walk(n.plan())
            return
        kids = n.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(node)
    return c


def tasks_in_group(sc, group: str) -> int:
    """Tasks launched by every job run under job group ``group`` (from
    the status tracker; stages skipped by shuffle reuse count 0)."""
    tracker = sc.statusTracker()
    n = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else []:
            stage = tracker.getStageInfo(stage_id)
            n += stage.numTasks if stage else 0
    return n
