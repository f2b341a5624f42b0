"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's own files: `Tracer.wrap`
replaces a public function or method of the engine with a timing shim
for the length of the run and `Tracer.restore` puts the original back.
Nothing under warp10_platform_spark/ is edited.  Spans stay in memory
and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import re
import threading
import time


class Tracer:
    """Span recorder.  One closed-loop client means at most one request
    is in flight, so the current request id is shared across the client
    thread and the server's handler thread; the parent of a span is the
    innermost open span on the same thread, else the open request span."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 1
        self._patched: list[tuple[object, str, object]] = []
        self.request: tuple[str, int] | None = None  # (request id, root span id)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self.request is not None and request is None:
            parent = self.request[1]
        else:
            parent = None
        req = request or (self.request[0] if self.request else None)
        rec = {"id": sid, "name": name, "parent": parent, "req": req, "attrs": attrs}
        if request is not None:
            self.request = (request, sid)
        stack.append(sid)
        rec["start_ms"] = (time.perf_counter() - self.t0) * 1e3
        try:
            yield rec
        finally:
            rec["end_ms"] = (time.perf_counter() - self.t0) * 1e3
            stack.pop()
            if request is not None:
                self.request = None
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Time every call of owner.attr as a span `name`; `after(rec,
        result)` may then add counts to the span's attrs."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def shim(*a, **kw):
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
            if after is not None:  # outside the span: its cost is not the layer's
                after(rec, out)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, shim)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end_ms"] - s["start_ms"] - child_ms.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, own)
        return {k: round(v, 3) for k, v in sorted(out.items())}


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_VALUE_RE = re.compile(r"^\s*(-?[0-9.]+)\s*([A-Za-z]+)?")

# SQL plan metric (node name prefix, metric name) -> benchmark counter;
# sizes are summed in bytes, timings in ms, the rest as counts
SQL_METRICS = {
    ("Scan", "size of files read"): "sql.scan_bytes",
    ("Scan", "number of files read"): "sql.files_read",
    ("Exchange", "shuffle bytes written"): "sql.shuffle_write_bytes",
    ("Exchange", "shuffle records written"): "sql.shuffle_records",
    ("*", "spill size"): "sql.spill_bytes",
    ("HashAggregate", "time in aggregation build"): "sql.agg_build_ms",
    ("WholeStageCodegen", "duration"): "sql.wscg_ms",
    ("*Python", "data sent to Python workers"): "python.bytes_to_python",
    ("*Python", "time to run Python workers"): "python.eval_ms",
}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
             "MapInPandas", "MapInArrow", "PythonMapInArrow", "AggregateInPandas", "WindowInPandas")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric → number (bytes, ms or count).  A
    multi-task metric reads 'total (min, med, max ...)\\n<total> (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2) or "", 1)


def _counter_for(node: str, metric: str) -> str | None:
    head = node.split(" ")[0]
    for (prefix, mname), counter in SQL_METRICS.items():
        if mname != metric:
            continue
        if prefix == "*" or head.startswith(prefix):
            return counter
        if prefix == "*Python" and head in _PY_NODES:
            return counter
    return None


class SparkProbe:
    """Reads Spark's own counters at span boundaries: the job group's
    jobs/stages/tasks from statusTracker(), per-operator metrics of the
    SQL executions from the shared status store (filled asynchronously,
    so read only once an execution's completionTime is set), codegen
    compiles and compile time, and JVM GC time."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cg_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gc = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self.next_execution = self._first_free_execution()

    def _first_free_execution(self) -> int:
        i = max(0, self._store.executionsCount() - 1)
        while not self._store.execution(i).isEmpty():
            i += 1
        return i

    def jvm_counters(self) -> dict[str, float]:
        return {
            "codegen.compiles": float(self._cg_hist.getCount()),
            "codegen.compile_ms": self._codegen.compileTime() / 1e6,
            "jvm.gc_ms": float(sum(g.getCollectionTime() for g in self._gc)),
        }

    def job_counts(self, group: str) -> dict[str, float]:
        self.drain()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si is not None else 0
        return {"spark.jobs": float(len(jobs)), "spark.stages": float(stages), "spark.tasks": float(tasks)}

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the status stores have seen the jobs just run."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def sql_counters(self, timeout_s: float = 5.0, with_jobs: bool = False) -> dict[str, float]:
        """Sum the plan metrics of every SQL execution started since the
        last call, plus their count as sql.executions; with_jobs also
        counts their jobs, stages and tasks (for work run on threads the
        harness cannot tag with a job group)."""
        self.drain()
        out = {c: 0.0 for c in set(SQL_METRICS.values())}
        out["sql.executions"] = 0.0
        if with_jobs:
            out.update({"spark.jobs": 0.0, "spark.stages": 0.0, "spark.tasks": 0.0})
            tracker = self.sc.statusTracker()
        i = self.next_execution
        while True:
            e = self._store.execution(i)
            if e.isEmpty():
                break
            deadline = time.perf_counter() + timeout_s
            while e.get().completionTime().isEmpty() and time.perf_counter() < deadline:
                time.sleep(0.005)
                e = self._store.execution(i)
            values = self._store.executionMetrics(i)
            nodes = self._store.planGraph(i).allNodes().iterator()
            seen = set()  # a cached plan shows its nodes once per reader
            while nodes.hasNext():
                node = nodes.next()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    counter = _counter_for(node.name(), m.name())
                    if counter is None or m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[counter] += parse_metric(v.get())
            out["sql.executions"] += 1
            if with_jobs:
                ui = e.get()
                out["spark.jobs"] += ui.jobs().size()
                stages = ui.stages().iterator()
                while stages.hasNext():
                    si = tracker.getStageInfo(stages.next())
                    out["spark.stages"] += 1
                    out["spark.tasks"] += si.numTasks if si is not None else 0
            i += 1
        self.next_execution = i
        return out
