"""Spans around the benchmark's own calls into the engine, plus Spark
status-store counters read at the same boundaries.

A span records name, start, end, parent and op id. With counters off
(the untraced run) that is all it does, so end-to-end timings carry no
tracing cost. With counters on, each span gets its own Spark job group,
and on exit the tracer waits for the listener bus to drain and reads:

* from the core status store: jobs, stages run (skipped ones excluded),
  tasks, failed tasks, executor CPU and run time, JVM GC time, input,
  output and shuffle bytes, and the union of the stages' run intervals;
* from the SQL status store, for the SQL executions that started inside
  the span: the Python-operator metrics ("time to run / start /
  initialize Python workers", "data sent to / returned from Python
  workers") and the rows that entered each Python map operator.

Spans are kept in memory and written out by ``dump`` when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter
from contextlib import contextmanager

#: SQL metric name -> counter key (values parsed from the store's text)
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: the first number of its last
    line ('total (min, med, max ...)\\n12.4 s (...)' -> 12.4)."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


def _opt_ms(opt) -> int | None:
    """scala Option[java.util.Date] -> epoch ms."""
    return int(opt.get().getTime()) if opt.isDefined() else None


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


class Tracer:
    def __init__(self, counters: bool):
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = None
        self._execs_seen = 0
        self._next_id = 0

    def attach(self, spark) -> None:
        """Start reading counters from this session (after it exists)."""
        self._spark = spark
        if self.counters:
            self._execs_seen = self._sql_store().executionsCount()

    def _sql_store(self):
        return self._spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            **attrs,
        }
        live = self.counters and self._spark is not None
        t_in = time.perf_counter()
        if live:
            self._drain_executions()  # executions before the span are not its own
            self._spark.sparkContext.setJobGroup(f"perfbench-{rec['id']}", name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if live:
                rec.update(self._read_counters(rec))
                if parent is not None:
                    self._spark.sparkContext.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            # the tracer's own time just before and after the span: it
            # falls inside the parent span, so an op pays it for each child
            rec["trace_s"] = (rec["start"] - t_in) + (time.perf_counter() - rec["end"])
            self.spans.append(rec)

    def _drain_executions(self) -> list:
        store = self._sql_store()
        n = int(store.executionsCount())
        new = store.executionsList(self._execs_seen, n - self._execs_seen) if n > self._execs_seen else None
        self._execs_seen = n
        return [new.apply(i) for i in range(new.size())] if new is not None else []

    def _read_counters(self, rec: dict) -> dict:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        c: Counter = Counter()
        stages: set[int] = set()
        intervals = []
        for job_id in sc.statusTracker().getJobIdsForGroup(f"perfbench-{rec['id']}"):
            job = store.job(job_id)
            c["jobs"] += 1
            ids = job.stageIds()
            stages.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in stages:
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
            c["shuffle_bytes"] += st.shuffleWriteBytes()
            lo, hi = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if lo is not None and hi is not None:
                intervals.append((lo, hi))
        stage_s = union_length(intervals) / 1e3
        c["driver_gap_s"] = max(0.0, (rec["end"] - rec["start"]) - stage_s)
        for ex in self._drain_executions():
            self._read_sql(ex, c)
        return dict(c)

    def _read_sql(self, ex, c: Counter) -> None:
        store = self._sql_store()
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        seen = set()
        metrics = ex.metrics()
        for i in range(metrics.size()):
            m = metrics.apply(i)
            key = SQL_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                c[key] += parse_sql_metric(v.get())
        c["python_rows_in"] += self._python_rows_in(store.planGraph(eid), values)

    @staticmethod
    def _python_rows_in(graph, values) -> int:
        """Rows entering each MapInArrow node: the output-row count of the
        nearest descendant that records one (the blocks it decodes)."""
        nodes = {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            n = all_nodes.apply(i)
            nodes[n.id()] = n
        children: dict = {}
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            children.setdefault(e.toId(), []).append(e.fromId())
        total = 0
        for nid, node in nodes.items():
            if "MapInArrow" not in node.name():
                continue
            frontier = list(children.get(nid, []))
            while frontier:
                child = nodes.get(frontier.pop())
                if child is None:
                    continue
                rows = _output_rows(child, values)
                if rows is None:
                    frontier.extend(children.get(child.id(), []))
                else:
                    total += rows
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def _output_rows(node, values) -> int | None:
    """The node's 'number of output rows', 0 if recorded but never set,
    None if the node does not record one."""
    metrics = node.metrics()
    for i in range(metrics.size()):
        m = metrics.apply(i)
        if m.name() == "number of output rows":
            v = values.get(m.accumulatorId())
            return int(parse_sql_metric(v.get())) if v.isDefined() else 0
    return None
