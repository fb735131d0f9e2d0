"""Smoke test of the benchmark at sf0.001.

Every metric BENCHMARK.json names is printed with its unit on every
workload, every result checks out, the traced run records spans for
every engine layer, and a tree without the engine fails fast without a
result line.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# span names the traced runs must record, per workload: one per layer
# the workload exercises (see perfbench/DESIGN.md)
LAYER_SPANS = {
    "serve_chsql": {
        "session.get_spark", "session.register_sql_udfs", "http.request",
        "main.run_local", "main.register_dir", "main.emit", "chsql.ch_sql",
        "chsql.transpile", "catalog.load_table", "system_tables.record_query",
        "catalyst.plan", "exec", "ddl.append", "ddl.register_table_view", "ddl.optimize",
    },
    "batch_heavy": {
        "session.get_spark", "session.register_sql_udfs", "queries.build",
        "catalog.load_table", "catalyst.plan", "exec",
    },
}


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_metrics_printed_and_correct(workload: str, trace: int) -> None:
    proc = run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    env = json.loads(lines[-2])["environment"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
    for key in ("cpus", "default_parallelism", "shuffle_partitions", "driver_memory",
                "spark", "python", "java", "sf", "seed", "probes_s"):
        assert key in env
    if trace:
        with open(os.path.join(ROOT, env["trace_file"])) as fh:
            trace_out = json.load(fh)
        spans = trace_out["spans"]
        names = {s["name"] for s in spans}
        assert LAYER_SPANS[workload] <= names, LAYER_SPANS[workload] - names
        assert all(s["end"] is not None and s["end"] >= s["start"] for s in spans)
        if workload == "batch_heavy":
            q3 = [op for op, kind in trace_out["op_kinds"].items()
                  if kind == "q3_shipping_priority"]
            assert q3 and all(trace_out["counts"][op]["exec.shuffle_write_bytes"] > 0
                              for op in q3)


def test_fails_without_engine(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(SPEC["workloads"][0]["name"], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
