"""The catalog is the one table reader: registry builders (queries.t)
share the relation the SQL doors use, remembered while the table's
files are unchanged and read again when they change."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def, save_table_def
from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY, t
from tests.conftest import SF_GATE, SF_SMOKE


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_warm_registry_build_runs_no_spark_job(spark):
    """A second build of a registry query reads no footers: the tables'
    relations (schema and file listing) are the remembered ones."""
    sc = spark.sparkContext
    for name in ("q3_shipping_priority", "q7_nation_trade_flows"):
        fn = REGISTRY[name].fn
        first = _rows(fn(spark, SF_GATE))
        group = f"warm-build-{name}"
        sc.setJobGroup(group, group)
        try:
            df = fn(spark, SF_GATE)
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        assert _rows(df) == first, name


def test_table_follows_the_fingerprint(spark, tmp_path):
    """Files changed behind the engine's back (a new part and def in a
    DDL dir, a replaced flat file) show in the next t(): new columns and
    new rows."""
    d = str(tmp_path)
    shutil.copy(os.path.join(SF_SMOKE, "nation.parquet"), d)
    for stmt in ("CREATE TABLE kv (k Int64, s String) ENGINE = MergeTree ORDER BY k",
                 "INSERT INTO kv VALUES (1, 'a')"):
        ch_sql(spark, stmt, d)

    kv, nation = t(spark, d, "kv"), t(spark, d, "nation")
    assert t(spark, d, "kv") is kv and t(spark, d, "nation") is nation
    assert kv.columns == ["k", "s"] and _rows(kv) == [(1, "a")]
    assert nation.count() == 25

    pq.write_table(pa.table({"k": pa.array([2], pa.int64()), "s": ["b"], "extra": ["x"]}),
                   os.path.join(d, "kv", "part-out-of-band.parquet"))
    td = load_table_def(d, "kv")
    td.columns.append(("extra", "Nullable(String)"))
    save_table_def(d, td)
    pq.write_table(pa.table({"n_nationkey": pa.array([0, 1], pa.int32()),
                             "n_name": ["X", "Y"], "n_capital": ["x", "y"]}),
                   os.path.join(d, "nation.parquet"))

    kv, nation = t(spark, d, "kv"), t(spark, d, "nation")
    assert kv.columns == ["k", "s", "extra"]
    assert _rows(kv) == [(1, "a", None), (2, "b", "x")]
    assert nation.columns == ["n_nationkey", "n_name", "n_capital"]
    assert _rows(nation) == [(0, "X", "x"), (1, "Y", "y")]
