"""Span tracer for the benchmark's traced runs.

Spans are recorded around calls into the engine's layers by wrappers
that this module installs at run time (the engine's source is not
edited). Each span records name, start, end, parent and operation id;
spans stay in memory and are written out when the run ends. Spark's
own execution statistics come from the AppStatusStore (jobs, stages,
tasks) and the SQL status store (plan descriptions, SQL metrics) over
py4j, keyed by the job group each operation is tagged with.
"""

from __future__ import annotations

import contextlib
import functools
import io
import re
import sys
import threading
import time
from collections import defaultdict

PKG = "clickhouse_25_5_3_75_stable_spark"


class Tracer:
    """In-memory spans plus per-operation counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: str | None = None
        self._root: int | None = None  # span id of the current op's root
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.last_registered: list[str] = []  # tables the last _register_dir registered

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        """Open a span; its parent is the innermost open span on this
        thread, or the current op's root for a thread's first span."""
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        stack.append(sid)
        self.spans.append({"id": sid, "name": name, "parent": parent, "op": self.op,
                           "start": time.perf_counter(), "end": None})
        return sid

    def end(self, sid: int) -> None:
        self._stack().pop()
        for sp in reversed(self.spans):
            if sp["id"] == sid:
                sp["end"] = time.perf_counter()
                return

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def start_op(self, op_id: str, name: str = "op") -> int:
        """Open the root span of one benchmark operation."""
        self.op = op_id
        self._root = None
        sid = self.begin(name)
        self._root = sid
        return sid

    def end_op(self, sid: int) -> None:
        self.end(sid)
        self._root = None

    def add(self, key: str, value: float) -> None:
        self.counts[self.op or "setup"][key] += value

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per operation: layer name -> span time not covered by child
        spans (children on other threads count against their parent)."""
        child: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None and sp["end"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if sp["end"] is None:
                continue
            out[sp["op"] or "setup"][sp["name"]] += sp["end"] - sp["start"] - child[sp["id"]]
        return out


def _wrap(tracer: Tracer, fn, name: str, after=None, before=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if before is not None:
            before(tracer, args, kwargs)
        with tracer.span(name):
            result = fn(*args, **kwargs)
        if after is not None:
            after(tracer, args, kwargs, result)
        return result

    return wrapper


def _replace_everywhere(original, wrapper) -> None:
    """Point every engine-module attribute bound to `original` (its home
    module and any `from x import f` copies) at `wrapper`."""
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def _after_register_dir(tracer, args, kwargs, names) -> None:
    tracer.add("main.tables_registered", len(names))
    tracer.last_registered = list(names)


def _before_run_local(tracer, args, kwargs) -> None:
    # tag on the calling thread: the HTTP server runs statements on its own
    if tracer.op is not None and kwargs.get("spark") is not None:
        kwargs["spark"].sparkContext.setJobGroup(tracer.op, tracer.op, interruptOnCancel=True)


def _after_run_local(tracer, args, kwargs, _rc) -> None:
    sql = args[0] if args else kwargs.get("sql", "")
    names = tracer.last_registered
    tracer.add("main.tables_referenced",
               sum(1 for n in names if re.search(rf"\b{re.escape(n)}\b", sql)))


def _after_load_table(tracer, *_a) -> None:
    tracer.add("catalog.load_table_calls", 1)


def _after_register_table_view(tracer, *_a) -> None:
    tracer.add("ddl.register_table_view_calls", 1)


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points and the Spark actions."""
    import importlib

    mods = {m: importlib.import_module(f"{PKG}.{m}") for m in (
        "session", "__main__", "chsql", "ddl", "sources.catalog",
        "sources.system_tables", "http_server")}
    targets = [
        ("session", "get_spark", "session.get_spark", None),
        ("session", "register_sql_udfs", "session.register_sql_udfs", None),
        ("__main__", "run_local", "main.run_local", _after_run_local),
        ("__main__", "_register_dir", "main.register_dir", _after_register_dir),
        ("chsql", "ch_sql", "chsql.ch_sql", None),
        ("chsql", "ch_sql_to_spark", "chsql.transpile", None),
        ("sources.catalog", "load_table", "catalog.load_table", _after_load_table),
        ("sources.catalog", "register_views", "catalog.register_views", None),
        ("sources.system_tables", "record_query", "system_tables.record_query", None),
        ("ddl", "append_to_table", "ddl.append", None),
        ("ddl", "register_table_view", "ddl.register_table_view", _after_register_table_view),
        ("ddl", "optimize_table", "ddl.optimize", None),
    ]
    for mod, attr, name, after in targets:
        original = getattr(mods[mod], attr)
        before = _before_run_local if attr == "run_local" else None
        _replace_everywhere(original, _wrap(tracer, original, name, after, before))

    emit = mods["__main__"]._emit

    def traced_emit(rows, cols, fmt, out):
        pos = out.tell() if isinstance(out, io.StringIO) else None
        with tracer.span("main.emit"):
            emit(rows, cols, fmt, out)
        if pos is not None:
            tracer.add("main.emit_bytes", len(out.getvalue()[pos:].encode()))

    mods["__main__"]._emit = traced_emit
    _wrap_spark_actions(tracer)


def _wrap_spark_actions(tracer: Tracer) -> None:
    """Planning is forced on the action's own QueryExecution inside a
    `catalyst` span, so the `exec` span that follows holds execution
    only; collect() then reuses the already-built physical plan."""
    from pyspark.sql.classic.dataframe import DataFrame

    collect = DataFrame.collect
    checkpoint = DataFrame.localCheckpoint

    def traced_collect(self):
        with tracer.span("catalyst.plan"):
            self._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            return collect(self)

    def traced_checkpoint(self, *a, **k):
        tracer.add("queries.local_checkpoints", 1)
        with tracer.span("exec"):
            return checkpoint(self, *a, **k)

    DataFrame.collect = traced_collect
    DataFrame.localCheckpoint = traced_checkpoint


# --- Spark status stores ---------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _parse_size(text: str) -> float:
    """First '<number> <unit>' in a SQL size-metric string."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class SparkStats:
    """Read job/stage/task and SQL-execution statistics over py4j."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished operation."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def last_execution_id(self) -> int:
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def executions_after(self, exec_id: int) -> list:
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())
                if execs.apply(i).executionId() > exec_id]

    def python_bytes(self, execs) -> float:
        store = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        for ex in execs:
            ms = ex.metrics()
            ids = [ms.apply(i).accumulatorId() for i in range(ms.size())
                   if ms.apply(i).name() in _PY_METRICS]
            if not ids:
                continue
            vals = store.executionMetrics(ex.executionId())
            for acc in ids:
                if vals.contains(acc):
                    total += _parse_size(vals.apply(acc))
        return total

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids: list[int]) -> dict[str, float]:
        store = self.jsc.statusStore()
        out = defaultdict(float)
        slowest = (-1.0, None)
        seen = set()
        for j in job_ids:
            sids = store.job(j).stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stages have no attempt
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numTasks()
                out["exec.executor_run_ms"] += st.executorRunTime()
                out["exec.gc_ms"] += st.jvmGcTime()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.executorRunTime() > slowest[0]:
                    slowest = (st.executorRunTime(), (sid, st.attemptId()))
        out["exec.jobs"] = len(job_ids)
        out["exec.task_skew"] = self._skew(store, slowest[1]) if slowest[1] else 1.0
        return dict(out)

    def _skew(self, store, stage) -> float:
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = store.taskSummary(stage[0], stage[1], q)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def plan_kinds(plan) -> list[str]:
    """Node names of a logical or physical plan tree (py4j object)."""
    out = [plan.nodeName()]
    ch = plan.children()
    for i in range(ch.size()):
        out.extend(plan_kinds(ch.apply(i)))
    return out


# Operator kinds whose removal changes the work a query does; the rest
# (exchanges, codegen stages, scans, projections) legitimately vary
# between a query's own plan and the plan of the action that runs it.
_KIND = [
    (re.compile(r"Aggregate"), "Aggregate"),
    (re.compile(r"Join|NestedLoop|CartesianProduct"), "Join"),
    (re.compile(r"Window"), "Window"),
    (re.compile(r"^(Sort|TakeOrderedAndProject)"), "Sort"),
    (re.compile(r"^Generate"), "Generate"),
    (re.compile(r"^Expand"), "Expand"),
    (re.compile(r"^Union"), "Union"),
    (re.compile(r"Python|InPandas|InArrow"), "Python"),
]


def work_kinds(names, projections: bool = False) -> set[str]:
    """Work kinds of plan node names; `projections` also counts Project
    (kept out of the action check: physical planning may drop a
    redundant projection)."""
    out = {"Project"} if projections and "Project" in names else set()
    for n in names:
        for rx, kind in _KIND:
            if rx.search(n):
                out.add(kind)
    return out


def physical_kinds(description: str) -> set[str]:
    """Work kinds in an executed plan's text description."""
    names = re.findall(r"^[\s:+\-*|()\d]*([A-Z][A-Za-z]+)", description, re.M)
    return work_kinds(names)
