"""Traced runs: layer spans from the benchmark side, plus Spark's own
status stores read over py4j.

Nothing here edits the engine. Spans come from wrapping the public
functions of each layer (``Tracer.wrap``); job, stage, task, shuffle and
Python-boundary numbers come from what Spark already records
(``statusTracker``, ``statusStore().stageData``, the SQL status store's
plan graphs and metrics, and ``queryExecution().tracker()``), which all
work with ``spark.ui.enabled=false``. Each unit of work (a batch key or
a service request) runs under its own job group and is read right after
it ends, before the status store's retention limits evict it.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")
PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowAggregatePython",
    "FlatMapGroupsInArrow",
)
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


class Tracer:
    """Span durations per name, kept in memory for the whole run.

    ``wrap`` replaces a function everywhere the package bound it (module
    attributes that are the same object), so calls made through
    ``from x import f`` names are timed too. Nested calls of the same
    span name count once (the outermost call)."""

    def __init__(self) -> None:
        self.total: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def record(self, name: str, seconds: float) -> None:
        with self._lock:
            self.total[name] += seconds

    def wrap(self, owner, attr: str, span: str, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            active = tracer._local.__dict__.setdefault("active", set())
            if span in active:
                return orig(*args, **kwargs)
            active.add(span)
            t0 = time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                active.discard(span)
                tracer.record(span, time.perf_counter() - t0)
            if on_result is not None:
                on_result(args, result)
            return result

        traced.__wrapped__ = orig
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith("distributedqueryengine_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, orig))
        if getattr(owner, attr) is orig:
            setattr(owner, attr, traced)
            self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def phases_ms(jdf) -> dict[str, float]:
    """Catalyst phase durations Spark's QueryPlanningTracker recorded
    for one Dataset's QueryExecution."""
    out = dict.fromkeys(PHASES, 0.0)
    phases = jdf.queryExecution().tracker().phases()
    for p in PHASES:
        if phases.contains(p):
            out[p] = float(phases.apply(p).durationMs())
    return out


class StatusReader:
    """Job/stage/task/shuffle/Python-boundary totals for job groups."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.sc._gateway.new_array(self.jvm.double, 0)
        self._no_status = self.jvm.java.util.ArrayList()

    def job_ids(self, group: str) -> list[int]:
        return sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids: list[int]) -> dict:
        """Totals over the given jobs, plus their [start, end] intervals
        in epoch ms."""
        tot = defaultdict(float)
        intervals = []
        for jid in job_ids:
            job = self.store.job(jid)
            tot["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            stage_ids = job.stageIds()
            for s in range(stage_ids.size()):
                sid = stage_ids.apply(s)
                attempts = self.store.stageData(sid, False, self._no_status, False, self._empty)
                n = attempts.size()
                ran = False
                for i in range(n):
                    st = attempts.apply(i)
                    if str(st.status().toString()) == "SKIPPED":
                        continue
                    ran = True
                    tot["stage_attempts"] += 1
                    tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    tot["failed_tasks"] += st.numFailedTasks()
                    tot["run_ms"] += st.executorRunTime()
                    tot["cpu_ms"] += st.executorCpuTime() / 1e6
                    tot["shuffle_read_b"] += st.shuffleReadBytes()
                    tot["shuffle_write_b"] += st.shuffleWriteBytes()
                    tot["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if ran:
                    tot["stages"] += 1
                else:
                    tot["skipped_stages"] += 1
        return {"totals": dict(tot), "intervals": intervals}

    def cursor(self) -> int:
        """Id of the newest SQL execution recorded so far (-1 if none);
        ``python_boundary`` looks only at executions after it."""
        n = int(self.sql_store.executionsCount())
        if n == 0:
            return -1
        return int(self.sql_store.executionsList(n - 1, 1).apply(0).executionId())

    def _executions_after(self, cursor: int) -> list:
        """SQL executions with id > cursor, newest first. Counted from
        the end of the store, so retention evicting old entries does not
        shift the window."""
        out = []
        n = int(self.sql_store.executionsCount())
        end = n
        while end > 0:
            start = max(0, end - 32)
            chunk = self.sql_store.executionsList(start, end - start)
            for i in range(chunk.size() - 1, -1, -1):
                ex = chunk.apply(i)
                if int(ex.executionId()) <= cursor:
                    return out
                out.append(ex)
            end = start
        return out

    def python_boundary(self, job_ids: list[int], cursor: int) -> dict:
        """Python/Arrow nodes of the SQL executions that ran these jobs:
        node count, rows they output, and the bytes Spark records going
        to and coming back from Python workers."""
        tot = defaultdict(float)
        if not job_ids:
            return dict(tot)
        wanted = set(job_ids)
        for ex in self._executions_after(cursor):
            if not {int(j) for j in _scala_keys(ex.jobs())} & wanted:
                continue
            graph = self.sql_store.planGraph(ex.executionId())
            nodes = graph.allNodes()
            values = None
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not str(node.name()).startswith(PY_NODES):
                    continue
                if values is None:
                    values = self.sql_store.executionMetrics(ex.executionId())
                tot["nodes"] += 1
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    name = str(metric.name())
                    raw = values.get(metric.accumulatorId())
                    if not raw.isDefined():
                        continue
                    v = parse_metric(str(raw.get()))
                    if name == "number of output rows":
                        tot["rows"] += v
                    elif name == "data sent to Python workers":
                        tot["sent_b"] += v
                    elif name == "data returned from Python workers":
                        tot["received_b"] += v
                    elif name == "time to run Python workers":
                        tot["run_ms"] += v
        return dict(tot)


def _scala_keys(m):
    it = m.keys().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def parse_metric(text: str) -> float:
    """A SQL metric as Spark formats it: "1,234", or "total (min, med,
    max ...)\\n12.5 MiB (...)" for size and timing metrics. Returns the
    total, in bytes for sizes."""
    line = text.strip().splitlines()
    body = line[1] if len(line) > 1 and line[0].startswith("total") else line[0]
    parts = body.split("(")[0].split()
    if not parts:
        return 0.0
    try:
        value = float(parts[0].replace(",", ""))
    except ValueError:
        return 0.0
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


def busy_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)
