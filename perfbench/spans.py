"""Spans and Spark counters for the perfbench measured process.

``Tracer`` records a span around each call the benchmark makes into an
arctic_spark public function and around each Spark action. Spans are
kept in memory and written out once, when the run ends; nothing here
reaches inside arctic_spark.

``SparkCounters`` reads what Spark itself records: per-stage task time
from the core status store, and per-plan-node SQL metrics (scan,
codegen, exchange, Python eval, write) from the SQL status store. A
span remembers which SQL executions ran inside it, so every action span
carries its own node metrics.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


class Tracer:
    """In-memory span recorder. ``enabled`` may be toggled between jobs;
    a disabled tracer records nothing and touches no Spark state."""

    def __init__(self, run_id, counters=None, enabled=False):
        self.run_id = run_id
        self.counters = counters
        self.enabled = enabled
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name, layer):
        if not self.enabled:
            yield None
            return
        sp = {"id": len(self.spans), "name": name, "layer": layer,
              "parent": self._stack[-1] if self._stack else None,
              "run": self.run_id, "start": time.perf_counter(),
              "end": None, "exec_range": None}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        mark = self.counters.execution_mark() if self.counters else None
        try:
            yield sp
        finally:
            if self.counters:
                sp["exec_range"] = [mark, self.counters.execution_mark()]
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, span_id):
        return [s for s in self.spans if s["parent"] == span_id]

    def subtree(self, span_id):
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(c["id"] for c in self.children(sid))
        return out

    def self_time(self, span):
        """Duration minus the part of it that child spans cover."""
        covered, cur = 0.0, None
        for a, b in sorted((c["start"], c["end"])
                           for c in self.children(span["id"])):
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        return (span["end"] - span["start"]) - covered

    def layer_self_times(self, root_id):
        """Self seconds per layer over the subtree of ``root_id``."""
        out = {}
        for s in self.subtree(root_id):
            out[s["layer"]] = out.get(s["layer"], 0.0) + self.self_time(s)
        return out

    def dump(self, path):
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _parse_metric_string(s):
    """Spark's formatted SQL metric ('1,234', '12.3 MiB', '1.2 s', or a
    'total (min, med, max ...)' block) -> number in bytes/ms/count."""
    if not s:
        return 0.0
    if "\n" in s:
        s = s.split("\n", 1)[1]
    s = s.split(" (", 1)[0].strip()
    m = re.match(r"^([-\d.,]+)\s*([A-Za-z]*)$", s)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkCounters:
    """Reads Spark's own status stores through the py4j gateway."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext

    def drain(self):
        """Wait until listeners have seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def execution_mark(self):
        self.drain()
        return int(self._sql.executionsCount())

    def node_metrics(self, exec_range):
        """[(execution index, node name, metric name, value)] over the SQL
        executions in ``[start, end)`` of the status store's list. Raw
        accumulator values are used while they are still registered;
        otherwise the store's formatted string is parsed."""
        start, end = exec_range
        if end <= start:
            return []
        out = []
        execs = self._sql.executionsList(start, end - start)
        for e in range(execs.size()):
            eid = execs.apply(e).executionId()
            pos = start + e
            formatted = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    acc = self._acc.get(m.accumulatorId())
                    if acc.isDefined():
                        value = float(acc.get().value())
                        if m.metricType() == "nsTiming":
                            value /= 1e6
                    else:
                        s = formatted.get(m.accumulatorId())
                        value = _parse_metric_string(
                            s.get() if s.isDefined() else "")
                    out.append((pos, name, m.name(), value))
        return out

    def _stages(self, group):
        self.drain()
        tracker = self.sc.statusTracker()
        stages = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.extend(info.stageIds)
        return sorted(set(stages))

    def task_seconds(self, group):
        """(executor task-seconds, JVM GC seconds) of every stage run
        under ``group``."""
        store = self._jsc.statusStore()
        run = gc = 0
        for s in self._stages(group):
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # skipped stages have no attempt data
                continue
            run += sd.executorRunTime()
            gc += sd.jvmGcTime()
        return run / 1000.0, gc / 1000.0

    def task_skew(self, group):
        """Max over median task run time of the group's busiest stage."""
        store = self._jsc.statusStore()
        best = None
        for s in self._stages(group):
            try:
                sd = store.lastStageAttempt(s)
            except Exception:
                continue
            if best is None or sd.executorRunTime() > best.executorRunTime():
                best = sd
        if best is None:
            return 1.0
        tasks = store.taskList(best.stageId(), best.attemptId(), 100_000)
        times = []
        for i in range(tasks.size()):
            tm = tasks.apply(i).taskMetrics()
            if tm.isDefined():
                times.append(tm.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med > 0 else 1.0


# Node-metric sums that make up the per-layer Spark figures:
# metric name -> [(node-name predicate, SQL metric name)].
_NODE_SUMS = {
    "scan.time_ms": [("Scan", "scan time")],
    "scan.bytes": [("Scan", "size of files read")],
    "scan.rows": [("Scan", "number of output rows")],
    "codegen.duration_ms": [("WholeStageCodegen", "duration")],
    "exchange.shuffle_write_bytes": [("Exchange", "shuffle bytes written")],
    "exchange.records": [("Exchange", "shuffle records written")],
    "exchange.fetch_wait_ms": [("Exchange", "fetch wait time")],
    "python.start_ms": [("", "time to start Python workers")],
    "python.init_ms": [("", "time to initialize Python workers")],
    "python.run_ms": [("", "time to run Python workers")],
    "python.bytes_sent": [("", "data sent to Python workers")],
    "python.bytes_returned": [("", "data returned from Python workers")],
    "write.bytes": [("", "written output")],
    "write.commit_ms": [("", "task commit time"), ("", "job commit time")],
    "join.output_rows": [("Join", "number of output rows")],
    "generate.output_rows": [("Generate", "number of output rows")],
}


def summarize_nodes(rows, exec_range=None):
    """Per-layer sums from ``SparkCounters.node_metrics`` rows, optionally
    only those of the executions in ``exec_range``."""
    out = {k: 0.0 for k in _NODE_SUMS}
    python_nodes = 0
    python_rows = 0.0
    for pos, node, metric, value in rows:
        if exec_range and not exec_range[0] <= pos < exec_range[1]:
            continue
        for key, preds in _NODE_SUMS.items():
            for needle, mname in preds:
                if metric == mname and needle in node:
                    out[key] += value
        if metric == "time to run Python workers":
            python_nodes += 1
        if "Python" in node and metric == "number of output rows":
            python_rows += value
    out["python.eval_nodes"] = float(python_nodes)
    out["python.rows"] = python_rows
    return out
