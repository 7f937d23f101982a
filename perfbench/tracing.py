"""Spans and counters for the traced run, recorded from outside the engine.

The tracer wraps the engine's public layer functions at run time (it never
edits the package): ``sources.tables.table``, ``sources.fixtures.spark_df``
and ``DataFrame.localCheckpoint``/``checkpoint``.  The benchmark opens the
remaining spans (op, build, catalyst, exec, frame, write) in its own code.
Spans stay in memory; ``layer_metrics`` derives counts, totals and self
time from them once the run ends.

``ExecStats`` reads the SQL and application status stores after each
traced pass, so the per-node metrics (rows, shuffle, spill, broadcast,
join strategy) cost nothing inside the timed region.  In traced passes
each op runs under the job description ``OP_TAG + query``, which Spark
copies into the op's SQL executions; the newest one is the op's sink.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict

PKG = "fortisiem_clickhouse_monitor_spark"
OP_TAG = "perfbench op "


class Tracer:
    """In-memory span recorder.  A span is ``{id, parent, trace, name,
    start, end, **attrs}``; ``trace`` is the op it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self.trace_id: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer, dataframe_cls) -> None:
    """Route the engine's layer entry points through ``tracer``.

    Operator modules bind ``table`` with ``from ..sources.tables import
    table``, so every loaded module attribute that *is* the original
    function is replaced, not just the defining module's."""
    from fortisiem_clickhouse_monitor_spark.sources import fixtures, tables

    for original, name in ((tables.table, "sources.tables"), (fixtures.spark_df, "sources.fixtures")):
        wrapped = tracer.wrap(name, original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG):
                for attr, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, attr, wrapped)
    for method in ("localCheckpoint", "checkpoint"):
        setattr(dataframe_cls, method, tracer.wrap("checkpoint", getattr(dataframe_cls, method)))


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan, then read the QueryExecution's phase
    times (ms).  Without the forcing, a sink that builds its own
    QueryExecution leaves only ``analysis`` here."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.keySet().iterator()
    while it.hasNext():
        key = it.next()
        out[key] = float(phases.get(key).get().durationMs())
    return out


_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_PYTHON_NODE_MARKS = ("Pandas", "Python", "Arrow")
_JOIN_NODES = {
    "BroadcastHashJoin": "exec.broadcast_joins",
    "BroadcastNestedLoopJoin": "exec.broadcast_joins",
    "ShuffledHashJoin": "exec.shuffled_hash_joins",
    "SortMergeJoin": "exec.sort_merge_joins",
}


def parse_metric(text: str | None) -> float:
    """Numeric value of a SQL metric string: ``1,951``, ``1039.5 KiB``
    or the multi-task form ``total (min, med, max ...)\\n12.3 MiB (...)``."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.split(" (", 1)[0].split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    if len(parts) > 1:
        value *= _SIZE_UNITS.get(parts[1], 1)
    return value


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _window_is_unpartitioned(desc: str) -> bool:
    """True when the window spec starts with an ordering or the frame,
    i.e. has no partition columns, so the whole input runs in one task:
    ``windowspecdefinition(doc_id#0L ASC NULLS FIRST, specifiedwindowframe(...))``."""
    i = desc.find("windowspecdefinition(")
    if i < 0:
        return False
    first = desc[i + len("windowspecdefinition(") :].split(", ", 1)[0]
    return first.startswith("specifiedwindowframe") or " ASC" in first or " DESC" in first


class ExecStats:
    """Reads execution metrics for SQL executions started since the last call."""

    COUNTERS = (
        "exec.sql_executions",
        "exec.jobs",
        "exec.tasks",
        "exec.shuffle_read_bytes",
        "exec.shuffle_write_bytes",
        "exec.spill_bytes",
        "exec.peak_memory_bytes",
        "exec.broadcast_bytes",
        "exec.broadcast_joins",
        "exec.shuffled_hash_joins",
        "exec.sort_merge_joins",
        "exec.single_partition_window_rows",
        "exec.python_rows",
        "exec.rows_out",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()
        self._next_id = 0
        #: Rows out of each tagged op's sink in the last collected pass.
        self.rows_by_op: dict[str, float] = {}
        self.skip()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _new_executions(self):
        self._drain()
        execs = self._sql.executionsList()
        new = []
        i = execs.size() - 1
        while i >= 0:
            e = execs.apply(i)
            if e.executionId() < self._next_id:
                break
            new.append(e)
            i -= 1
        if new:
            self._next_id = max(e.executionId() for e in new) + 1
        return new

    def skip(self) -> None:
        """Advance past everything run so far (an untraced pass)."""
        self._new_executions()

    def collect(self) -> dict[str, float]:
        """Totals over the executions since the last call."""
        out = dict.fromkeys(self.COUNTERS, 0.0)
        self.rows_by_op = {}
        for e in self._new_executions():  # newest first
            out["exec.sql_executions"] += 1
            rows = self._plan_metrics(e.executionId(), out)
            desc = e.description()
            if desc.startswith(OP_TAG):
                self.rows_by_op.setdefault(desc[len(OP_TAG) :], rows)
            jobs = e.jobs().keySet().iterator()
            while jobs.hasNext():
                self._job_metrics(int(jobs.next()), out)
        out["exec.rows_out"] = sum(self.rows_by_op.values())
        return out

    def _job_metrics(self, job_id: int, out: dict) -> None:
        out["exec.jobs"] += 1
        for sid in _scala_seq(self._app.job(job_id).stageIds()):
            st = self._app.lastStageAttempt(int(sid))
            if str(st.status()) != "COMPLETE":
                continue
            out["exec.tasks"] += st.numTasks()
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled()
            out["exec.peak_memory_bytes"] = max(
                out["exec.peak_memory_bytes"], float(st.peakExecutionMemory())
            )

    def _plan_metrics(self, exec_id: int, out: dict) -> float:
        """Add the plan's node counters to ``out``; return the rows out of
        its root, the plan's first node that is not a codegen cluster."""
        graph = self._sql.planGraph(exec_id)
        values = self._sql.executionMetrics(exec_id)
        nodes = {}
        root = None
        for node in _scala_seq(graph.allNodes()):
            if node.getClass().getSimpleName() != "SparkPlanGraphCluster":
                root = node.id() if root is None else min(root, node.id())
            metrics = {}
            for m in _scala_seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes[node.id()] = (node.name(), node.desc(), metrics)
        children = defaultdict(list)
        for edge in _scala_seq(graph.edges()):
            children[edge.toId()].append(edge.fromId())

        def rows_out(node_id: int) -> float:
            metrics = nodes[node_id][2]
            if "number of output rows" in metrics:
                return metrics["number of output rows"]
            return rows_into(node_id)

        def rows_into(node_id: int) -> float:
            total = 0.0
            for child in children[node_id]:
                metrics = nodes[child][2]
                if "number of output rows" in metrics:
                    total += metrics["number of output rows"]
                elif "records read" in metrics:
                    total += metrics["records read"]
                else:
                    total += rows_into(child)
            return total

        for node_id, (name, desc, metrics) in nodes.items():
            if name in _JOIN_NODES:
                out[_JOIN_NODES[name]] += 1
            elif name == "BroadcastExchange":
                out["exec.broadcast_bytes"] += metrics.get("data size", 0.0)
            elif name == "Window" and _window_is_unpartitioned(desc):
                out["exec.single_partition_window_rows"] += rows_into(node_id)
            elif any(mark in name for mark in _PYTHON_NODE_MARKS) and name != "ColumnarToRow":
                out["exec.python_rows"] += rows_into(node_id)
        return rows_out(root) if root is not None else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span run one after another)."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}


def span_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total seconds and self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["s"] += s["end"] - s["start"]
        agg["self_s"] += selfs[s["id"]]
    return out
