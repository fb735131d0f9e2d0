"""The system-table declaration (sources/system_tables.py SYSTEM_TABLES):
every table builds with its declared columns, a read runs no Spark job
(a driver-built table is a local relation), and the catalog tables read
a data dir's DDL tables through ch_sql."""

import io

from pyspark.sql import types as T

from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
    SYSTEM_TABLES,
    system_table,
)
from tests.conftest import SF_SMOKE

# lazy spark.range plans: the only tables whose read is a Spark job
_GENERATORS = {"numbers", "zeros", "numbers_mt", "zeros_mt"}


def test_every_system_table_builds_with_its_declared_columns(spark):
    for name, table in SYSTEM_TABLES.items():
        df = system_table(spark, name, SF_SMOKE)
        declared = T._parse_datatype_string(table.schema)
        assert [(f.name, f.dataType) for f in df.schema.fields] == [
            (f.name, f.dataType) for f in declared.fields], name
        if name not in _GENERATORS:
            df.collect()


def test_system_table_reads_run_no_spark_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    for name in sorted(set(SYSTEM_TABLES) - _GENERATORS):
        df = ch_sql(spark, f"SELECT * FROM system.{name}", SF_SMOKE)
        group = f"system-table-read-{name}"
        sc.setJobGroup(group, group)
        try:
            df.collect()
        finally:
            sc.setJobGroup(None, None)
        jobs[name] = len(tracker.getJobIdsForGroup(group))
    assert {n: j for n, j in jobs.items() if j} == {}


def test_catalog_tables_over_a_ddl_dir(spark, tmp_path):
    d = str(tmp_path)
    for stmt in (
        "CREATE TABLE t (k Int64, p Int64, s String) ENGINE = MergeTree "
        "ORDER BY k PARTITION BY p",
        "INSERT INTO t VALUES (1, 1, 'a'), (2, 1, 'b'), (3, 2, 'c')",
        "ALTER TABLE t DETACH PARTITION 2",
    ):
        assert run_local(stmt, d, spark=spark, out=io.StringIO()) == 0

    cols = ch_sql(spark, "SELECT column_name, pos, data_type FROM system.columns "
                  "WHERE table_name = 't' ORDER BY pos", d).collect()
    assert [tuple(r) for r in cols] == [
        ("k", 1, "bigint"), ("p", 2, "bigint"), ("s", 3, "string")]

    parts = ch_sql(spark, "SELECT partition, rows, active, bytes_on_disk "
                   "FROM system.parts WHERE table = 't'", d).collect()
    assert [(r.partition, r.rows, r.active) for r in parts] == [("p=1", 2, True)]
    assert parts[0].bytes_on_disk > 0

    det = ch_sql(spark, "SELECT name, partition_id, reason, bytes_on_disk "
                 "FROM system.detached_parts WHERE table = 't'", d).collect()
    assert [(r.name, r.partition_id, r.reason) for r in det] == [("p=2", "p=2", None)]
    assert det[0].bytes_on_disk > 0

    stats = ch_sql(spark, "SELECT partition, column, min(min_value) AS lo, "
                   "max(max_value) AS hi, sum(null_count) AS nulls "
                   "FROM system.parts_columns WHERE table = 't' "
                   "GROUP BY partition, column ORDER BY column", d).collect()
    assert [tuple(r) for r in stats] == [
        ("p=1", "k", "1", "2", 0), ("p=1", "s", "a", "b", 0)]
