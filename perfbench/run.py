#!/usr/bin/env python3
"""The engine's benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload serve_chsql --seed 1 --seconds 15 --trace 0

The run generates its tables from the seed, starts the engine's
SparkSession on local[<cores>], sets the session up several times
(setup_s is the once-per-process part plus the median session set-up),
warms up, then runs whole passes over the workload's operation list
until --seconds would be exceeded, checking every result. The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
engine's layers are wrapped at run time and the metrics are per layer.
The line before it is the environment block. Everything the run writes
lives under .perfbench_work/ (removed at exit) and .perfbench_out/
(trace files) in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "clickhouse_25_5_3_75_stable_spark"
WORKLOADS = ("serve_chsql", "batch_heavy")
SESSIONS = 3  # session set-ups per run; setup_s takes their median
DRIVER_MEMORY = "1g"  # the session default (24g) exceeds this machine class
DEFAULT_SF = 0.01

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "read_p50_s": "s",
              "pass_s": "s", "query_geomean_s": "s"}
# per-layer metric -> unit (see DESIGN.md for the layer -> end-to-end map)
PER_LAYER = {
    "session.get_spark_s": "s", "session.register_sql_udfs_s": "s",
    "session.udfs_registered": "count",
    "main.run_local_s": "s", "main.register_dir_s": "s",
    "main.tables_registered": "count", "main.tables_referenced": "count",
    "main.catalog_useful_ratio": "ratio", "main.emit_s": "s", "main.emit_bytes": "B",
    "http.overhead_s": "s",
    "chsql.ch_sql_s": "s", "chsql.transpile_s": "s",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "catalog.register_views_s": "s",
    "system_tables.record_query_s": "s",
    "catalyst.plan_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.local_checkpoints": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B", "exec.executor_run_ms": "ms", "exec.gc_ms": "ms",
    "exec.core_busy_ratio": "ratio", "exec.task_skew": "ratio", "exec.python_bytes": "B",
    "ddl.append_s": "s", "ddl.register_table_view_s": "s",
    "ddl.register_table_view_calls": "count", "ddl.optimize_s": "s", "ddl.parts": "count",
    "ddl.write_amplification": "ratio", "ddl.optimize_bytes_rewritten": "B",
    "ddl.stored_bytes_per_row": "B/row",
    "trace.other_s": "s", "trace.pass_s": "s", "trace.read_p50_s": "s",
}
# span name -> per-layer time metric (self time, summed per workload)
SPAN_METRIC = {
    "main.run_local": "main.run_local_s", "main.register_dir": "main.register_dir_s",
    "main.emit": "main.emit_s", "chsql.ch_sql": "chsql.ch_sql_s",
    "chsql.transpile": "chsql.transpile_s", "catalog.load_table": "catalog.load_table_s",
    "catalog.register_views": "catalog.register_views_s",
    "system_tables.record_query": "system_tables.record_query_s",
    "catalyst.plan": "catalyst.plan_s", "queries.build": "queries.build_s", "exec": "exec.s",
    "ddl.append": "ddl.append_s", "ddl.register_table_view": "ddl.register_table_view_s",
    "ddl.optimize": "ddl.optimize_s", "http.request": "http.overhead_s", "op": "trace.other_s",
}


class Clock:
    """Seconds since this process started, at perf_counter resolution."""

    def __init__(self) -> None:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        self.age0 = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        self.pc0 = time.perf_counter()

    def age(self) -> float:
        return self.age0 + time.perf_counter() - self.pc0


def _proc_field(pid: int, path: str, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(key):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _proc_field(int(entry), "status", "PPid")
            if ppid is not None:
                children.setdefault(int(ppid), []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def reap(pids: list[int], timeout: float = 15.0) -> None:
    """Wait until every process in `pids` has exited; kill stragglers."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its JVM child.
    The JVM's Python UDF workers are left out: how many of them are
    alive is a scheduling detail, not the footprint of the engine."""
    pids = [os.getpid()]
    for entry in os.listdir("/proc"):
        if entry.isdigit() and _proc_field(int(entry), "status", "PPid") == str(os.getpid()) \
                and _proc_field(int(entry), "status", "Name") == "java":
            pids.append(int(entry))
    return sum(int((_proc_field(p, "status", "VmHWM") or "0 kB").split()[0]) for p in pids) / 1024.0


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated tables (lineitem = 6M x sf rows)")
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, clock: Clock) -> None:
        self.args = args
        self.clock = clock
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.wl = None
        self.tracer = None
        self.stats = None
        self.notes: dict = {}
        self.op_kinds: dict[str, str] = {}

    # -- environment and session ------------------------------------------
    def prepare_env(self) -> None:
        for sub in ("data", "local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ.update({
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_CPUS": str(self.cores),
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
            "TMPDIR": os.path.join(self.work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # no /tmp/hsperfdata files from the launcher or driver JVMs
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            # Python workers import the engine (UDFs pickle by module path)
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        })
        os.chdir(self.work)
        sys.path[:0] = [ROOT, HERE]

    def start_session(self):
        from clickhouse_25_5_3_75_stable_spark import session

        spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            })
        spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            from spans import SparkStats

            self.stats = SparkStats(spark)
            n_udfs = len(spark.sql("SHOW USER FUNCTIONS").collect())
            self.tracer.counts["setup"]["session.udfs_registered"] = n_udfs
        return spark

    def stop(self) -> None:
        """Stop the workload, the SparkSession and the JVM, and wait
        until every process they started has exited."""
        if self.wl is not None:
            self.wl.close()
        from pyspark import SparkContext

        started = _descendants(os.getpid())  # the JVM and its Python workers
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        reap(started)

    # -- workload set-up ------------------------------------------------------
    def make_workload(self, tables, data_dir: str):
        import datagen
        import workloads as w

        if self.args.workload == "serve_chsql":
            return w.ServeChsql(data_dir, tables, datagen.row_counts(self.args.sf), self.args.seed)
        return w.BatchHeavy(data_dir, self.args.seed)

    def setup(self) -> float:
        """Everything before the first timed operation. Returns setup_s:
        the once-per-process part (imports, input generation, JVM
        launch, warm-up) plus the median of SESSIONS session set-ups
        (get_spark including register_sql_udfs, then workload set-up)."""
        import datagen

        if self.args.trace:
            import spans

            self.tracer = spans.Tracer()
            spans.install(self.tracer)
        from pyspark import java_gateway

        launch = java_gateway.launch_gateway
        launch_s = []

        def timed_launch(*a, **k):
            t = time.perf_counter()
            try:
                return launch(*a, **k)
            finally:
                launch_s.append(time.perf_counter() - t)

        java_gateway.launch_gateway = timed_launch
        import pyspark.core.context as ctx_mod  # SparkContext binds the name here

        ctx_mod.launch_gateway = timed_launch

        data_dir = os.path.join(self.work, "data")
        tables = datagen.make_tables(self.args.seed, self.args.sf)
        datagen.write_tables(tables, data_dir)
        self.wl = self.make_workload(tables, data_dir)
        # import-time work is paid once per process: keep it out of the
        # first session, whose one-off costs the median leaves out
        for mod in ("session", "queries", "__main__", "http_server"):
            importlib.import_module(f"{ENGINE}.{mod}")

        sessions = []
        for i in range(SESSIONS):
            t = time.perf_counter()
            if self.spark is not None:
                self.wl.close()
                self.spark.stop()
            self.spark = self.start_session()
            self.wl.setup(self.spark)
            sessions.append(time.perf_counter() - t - (launch_s[0] if i == 0 and launch_s else 0.0))
        self.warmup()
        once = self.clock.age() - sum(sessions)
        self.notes["setup_sessions_s"] = [round(s, 4) for s in sessions]
        self.notes["jvm_launch_s"] = round(launch_s[0], 4) if launch_s else None
        return once + statistics.median(sessions)

    def warmup(self) -> None:
        """Untimed: JIT, codegen and Python workers warm before timing;
        the warm-up results are checked and count as attempted ops.
        batch_heavy warms by checking every query against its oracle."""
        if self.args.workload == "batch_heavy":
            checked, failed, bad = self.wl.verify_against_oracles(self.spark)
            if bad:
                self.notes["oracle_mismatch"] = bad
            self.warm_attempted, self.warm_failed = checked, failed
            if self.tracer is not None:
                self.notes["count_plan_drops"] = self.count_plan_drops()
            return
        ops = self.wl.warmup_ops()
        self.warm_attempted, self.warm_failed = len(ops), 0
        for op in ops:
            out = self.wl.run(self.spark, op)
            if not self.wl.check(op, out):
                print(f"perfbench: warm-up {op.kind} result check failed: {out[:300]!r}",
                      file=sys.stderr)
                self.warm_failed += 1

    def count_plan_drops(self) -> dict:
        """Which batch queries a bare count() would under-measure: the
        operator kinds (projections included) of the query's own
        optimised plan that the count() plan no longer contains, and
        both plans' node counts."""
        from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY
        from spans import plan_kinds, work_kinds
        from workloads import BATCH_QUERIES

        out = {}
        for name in BATCH_QUERIES:
            df = REGISTRY[name].fn(self.spark, self.wl.data_dir)
            own = plan_kinds(df._jdf.queryExecution().optimizedPlan())
            cnt = plan_kinds(df.groupBy().count()._jdf.queryExecution().optimizedPlan())
            dropped = work_kinds(own, projections=True) - work_kinds(cnt, projections=True)
            if dropped:
                out[name] = {"dropped": sorted(dropped), "nodes": [len(own), len(cnt)]}
        return out

    # -- the timed loop -------------------------------------------------------
    def run_op(self, op, op_id: str) -> tuple[float, bool]:
        from clickhouse_25_5_3_75_stable_spark.session import tag_query

        tr = self.tracer
        if tr is not None:
            exec0 = self.stats.last_execution_id()
            parts0 = self._parts() if op.kind.startswith("select_") else None
            bytes0 = self._table_bytes()
            root = tr.start_op(op_id, "http.request" if self.args.workload == "serve_chsql" else "op")
        ok = True
        t = time.perf_counter()
        try:
            if self.args.workload == "batch_heavy":
                tag_query(self.spark, op_id)
                df = self._traced("queries.build", self.wl.build, self.spark, op)
                if tr is not None:
                    self.stats.drain()
                    tr.add("queries.build_jobs", len(self.stats.group_jobs(op_id)))
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                self._traced("exec", self.wl.materialise, df)
                out = None
            else:
                out = self.wl.run(self.spark, op)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            body = e.read().decode(errors="replace") if hasattr(e, "read") else ""
            print(f"perfbench: {op.kind} failed: {e!r} {body[:500]}", file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t
        if tr is not None:
            tr.end_op(root)
            self._collect_stats(op, op_id, exec0, parts0, bytes0)
        if ok and self.args.workload == "batch_heavy":
            # the plan check re-optimises the query: once per query is enough
            ok = op.kind in self.plan_checked or self._check(op, None, df)
            self.plan_checked.add(op.kind)
        elif ok:
            ok = self._check(op, out, None)
        return dt, ok

    def _traced(self, name, fn, *args):
        if self.tracer is None:
            return fn(*args)
        with self.tracer.span(name):
            return fn(*args)

    def _check(self, op, out, df) -> bool:
        try:
            ok = self._plan_keeps_work(df) if df is not None else self.wl.check(op, out)
        except Exception:  # noqa: BLE001 — a check that cannot run is a failure
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {op.kind} result check failed: {op.text[:300]!r} -> "
                  f"{(out or '')[:300]!r}", file=sys.stderr)
        return ok

    def _plan_keeps_work(self, df) -> bool:
        """The timed action must run every operator kind of the query's
        own optimised plan (a count() would not; see count_plan_drops)."""
        from spans import physical_kinds, plan_kinds, work_kinds

        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        desc = execs.apply(execs.size() - 1).physicalPlanDescription()
        own = work_kinds(plan_kinds(df._jdf.queryExecution().optimizedPlan()))
        return own <= physical_kinds(desc)

    def _parts(self):
        if self.args.workload != "serve_chsql":
            return None
        from workloads import parquet_files

        return parquet_files(self.wl.table_dir())

    def _table_bytes(self):
        if self.args.workload != "serve_chsql":
            return None
        from workloads import dir_bytes

        return dir_bytes(self.wl.table_dir())

    def _collect_stats(self, op, op_id, exec0, parts0, bytes0) -> None:
        tr, st = self.tracer, self.stats
        st.drain()
        for k, v in st.job_stats(st.group_jobs(op_id)).items():
            tr.counts[op_id][k] += v
        tr.counts[op_id]["exec.python_bytes"] += st.python_bytes(st.executions_after(exec0))
        if parts0 is not None:
            tr.counts[op_id]["ddl.parts"] += parts0
        if bytes0 is not None and op.kind == "optimize":
            # a FINAL merge rewrites every live row into new parts
            tr.counts[op_id]["ddl.optimize_bytes_rewritten"] += self._table_bytes()
        elif bytes0 is not None and not op.is_read:
            tr.counts[op_id]["ddl.bytes_added"] += self._table_bytes() - bytes0

    def timed_loop(self) -> dict:
        """Whole passes until --seconds would be exceeded (at least one)."""
        t0 = time.perf_counter()
        lat: dict[str, list[float]] = {}
        reads: list[float] = []
        passes: list[float] = []
        attempted = failed = 0
        n = 0
        self.plan_checked: set[str] = set()
        if self.args.workload == "serve_chsql":
            self.payload_mark = self.wl.ingest.payload_bytes
        for ops in self.wl.passes():
            elapsed = time.perf_counter() - t0
            if passes and elapsed + elapsed / len(passes) > self.args.seconds:
                break
            total = 0.0
            for op in ops:
                n += 1
                self.op_kinds[f"op{n}"] = op.kind
                dt, ok = self.run_op(op, f"op{n}")
                attempted += 1
                failed += not ok
                total += dt
                lat.setdefault(op.kind, []).append(dt)
                if op.is_read:
                    reads.append(dt)
            passes.append(total)
        return {"lat": lat, "reads": reads, "passes": passes,
                "attempted": attempted, "failed": failed}

    # -- results --------------------------------------------------------------
    def end_to_end(self, setup_s: float, loop: dict) -> dict:
        return {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb(),
            "read_p50_s": statistics.median(loop["reads"]),
            "pass_s": statistics.median(loop["passes"]),
            "query_geomean_s": geomean([statistics.median(v) for v in loop["lat"].values()]),
        }

    def per_layer(self, loop: dict) -> dict:
        tr = self.tracer
        selfs = tr.self_times()
        out = {k: 0.0 for k in PER_LAYER}
        ops = [op for op in selfs if op != "setup"]
        for op in ops:
            for span, secs in selfs[op].items():
                if span in SPAN_METRIC:
                    out[SPAN_METRIC[span]] += secs
            for k, v in tr.counts[op].items():
                if k in out and k != "exec.task_skew":
                    out[k] += v
        setup = selfs.get("setup", {})  # mean per session set-up
        out["session.get_spark_s"] = setup.get("session.get_spark", 0.0) / SESSIONS
        out["session.register_sql_udfs_s"] = setup.get("session.register_sql_udfs", 0.0) / SESSIONS
        out["session.udfs_registered"] = tr.counts["setup"].get("session.udfs_registered", 0.0)
        reg = out["main.tables_registered"]
        out["main.catalog_useful_ratio"] = out["main.tables_referenced"] / reg if reg else 0.0
        busy = out["exec.s"] * self.cores * 1000.0
        out["exec.core_busy_ratio"] = out["exec.executor_run_ms"] / busy if busy else 0.0
        skews = [tr.counts[op]["exec.task_skew"] for op in ops if "exec.task_skew" in tr.counts[op]]
        out["exec.task_skew"] = statistics.median(skews) if skews else 0.0
        if self.args.workload == "serve_chsql":
            added = sum(tr.counts[op].get("ddl.bytes_added", 0.0) for op in ops)
            payload = self.wl.ingest.payload_bytes - self.payload_mark
            out["ddl.write_amplification"] = added / payload if payload else 0.0
            out["ddl.stored_bytes_per_row"] = self.stored_bytes_per_row()
        out["trace.pass_s"] = statistics.median(loop["passes"])
        out["trace.read_p50_s"] = statistics.median(loop["reads"])
        return out

    def stored_bytes_per_row(self) -> float:
        """Untimed, after the loop: table bytes per live row once an
        OPTIMIZE ... FINAL has merged every part."""
        from workloads import dir_bytes

        self.wl.run(self.spark, self.wl.ingest.optimize())
        return dir_bytes(self.wl.table_dir()) / len(self.wl.ingest.state)

    def write_trace(self) -> str:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"spans": self.tracer.spans, "op_kinds": self.op_kinds,
                       "counts": {k: dict(v) for k, v in self.tracer.counts.items()},
                       "self_times": {k: dict(v) for k, v in self.tracer.self_times().items()}},
                      fh)
        return path

    def environment(self) -> dict:
        import platform

        import pyspark

        sc = self.spark.sparkContext
        java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
        return {
            "workload": self.args.workload, "seed": self.args.seed, "sf": self.args.sf,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "cpus": self.cores,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": next((ln for ln in java.splitlines() if " version " in ln), None),
            "probes_s": probes(self.spark),
            **self.notes,
        }


def probes(spark) -> dict[str, float]:
    """bench.py's fixed-plan probes probe_jvm4 and probe_pandas, one run
    each: they track machine speed, not engine code."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    py = pandas_udf(lambda v: (v * 0.5).pow(0.5) + (v % 97).astype("float64"), "double")
    out = {}
    t = time.perf_counter()
    spark.range(0, 50_000_000, 1, 4).selectExpr("sum(id * 2 + 1) AS s",
                                                "avg(pmod(id, 9973)) AS a").collect()
    out["probe_jvm4"] = round(time.perf_counter() - t, 4)
    t = time.perf_counter()
    spark.range(400_000).select(F.sum(py(F.col("id").cast("double"))).alias("s")).collect()
    out["probe_pandas"] = round(time.perf_counter() - t, 4)
    return out


def main(argv=None) -> int:
    clock = Clock()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: engine package {ENGINE}/ not found next to perfbench/ "
              "(run from a checkout of the repository)", file=sys.stderr)
        return 2
    bench = Bench(args, clock)
    try:
        bench.prepare_env()
        setup_s = bench.setup()
        loop = bench.timed_loop()
        loop["attempted"] += bench.warm_attempted
        loop["failed"] += bench.warm_failed
        if args.workload == "batch_heavy":
            bad = bench.wl.verify_stable(bench.spark)
            if bad:
                bench.notes["unstable"] = bad
            loop["attempted"] += len(bench.wl.reference)
            loop["failed"] += len(bad)
        if args.trace:
            metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                       for k, v in bench.per_layer(loop).items()}
            bench.notes["trace_file"] = os.path.relpath(bench.write_trace(), ROOT)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in bench.end_to_end(setup_s, loop).items()}
        env = bench.environment()
    finally:
        bench.stop()
        os.chdir(ROOT)
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps({"environment": env}))
    print(json.dumps({"correct": loop["failed"] == 0, "attempted": loop["attempted"],
                      "failed": loop["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
