"""CREATE TABLE DDL front door: CH declarations parse to typed Spark
schemas + layout contracts (reference ParserCreateQuery.cpp)."""

from __future__ import annotations

from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark.ddl import Database, parse_create_table

DDL = """
CREATE TABLE hits (
    event_date Date,
    user_id UInt64,
    url String,
    dur Nullable(Float64),
    tags Array(LowCardinality(String)),
    score Decimal(18, 4)
) ENGINE = ReplacingMergeTree(event_date)
PARTITION BY toYYYYMM(event_date)
ORDER BY (user_id, event_date)
TTL event_date + INTERVAL 90 DAY
"""


def test_parse_create_table():
    td = parse_create_table(DDL)
    assert td.name == "hits"
    assert td.engine == "ReplacingMergeTree"
    assert td.engine_args == ["event_date"]
    assert td.order_by == ["user_id", "event_date"]
    assert td.partition_by == "toYYYYMM ( event_date )".replace(" ( ", "(").replace(" )", ")") or "toYYYYMM" in td.partition_by
    assert "90 DAY" in td.ttl
    types = dict(td.columns)
    assert types["user_id"] == "UInt64"
    assert types["tags"] == "Array(LowCardinality(String))"
    schema = td.spark_schema()
    assert "user_id decimal(20,0)" in schema
    assert "tags array<string>" in schema
    assert "score decimal(18,4)" in schema
    assert "dur double" in schema


def test_parse_rejects_unknown_engine():
    import pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

    with pytest.raises(ChSqlError, match="unsupported engine"):
        parse_create_table("CREATE TABLE t (x Int8) ENGINE = Kafka()")


def test_database_create_insert_read(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    td = db.create_table(
        """CREATE TABLE ev (k UInt32, name String, v Float64)
           ENGINE = MergeTree() ORDER BY k"""
    )
    assert td.order_by == ["k"]
    assert spark.sql("SELECT count(*) c FROM ev").collect()[0].c == 0
    db.insert_into("ev", spark.createDataFrame(
        [(3, "c", 0.5), (1, "a", 1.5), (2, "b", 2.5)], td.spark_schema()
    ))
    rows = spark.sql("SELECT k, name FROM ev ORDER BY k").collect()
    assert [(r.k, r.name) for r in rows] == [(1, "a"), (2, "b"), (3, "c")]
    assert db.table("ev").count() == 3


def test_local_statement_surface(spark, tmp_path):
    """clickhouse-local statement routing: CREATE / INSERT VALUES /
    INSERT SELECT / SELECT / SHOW TABLES / DESCRIBE."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE kv (k UInt32, name String) ENGINE = MergeTree() ORDER BY k")
    assert "kv" in run("SHOW TABLES")
    desc = run("DESCRIBE kv FORMAT CSVWithNames")
    assert "k,bigint" in desc and "name,string" in desc
    run("INSERT INTO kv VALUES (1, 'one'), (2, 'two')")
    run("INSERT INTO kv SELECT 3, upper('three')")
    body = run("SELECT k, name FROM kv ORDER BY k FORMAT CSV")
    assert body.strip().splitlines() == ["1,one", "2,two", "3,THREE"]


def test_drop_truncate_rename(spark, tmp_path):
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE t1 (k UInt32) ENGINE = MergeTree() ORDER BY k")
    run("INSERT INTO t1 VALUES (1), (2)")
    run("RENAME TABLE t1 TO t2")
    assert run("SELECT count() AS c FROM t2 FORMAT CSV").strip() == "2"
    run("TRUNCATE TABLE t2")
    assert run("SELECT count() AS c FROM t2 FORMAT CSV").strip() == "0"
    run("DROP TABLE t2")
    assert "t2" not in run("SHOW TABLES")


def test_truncate_keeps_detached_partitions_and_snapshots(spark, tmp_path):
    """TRUNCATE removes the active parts only (the reference's
    truncate): a detached partition and a FREEZE snapshot survive it,
    and the detached partition attaches again."""
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue().strip()

    run("CREATE TABLE t (k UInt32, p UInt32) ENGINE = MergeTree() "
        "ORDER BY k PARTITION BY p")
    run("INSERT INTO t VALUES (1, 1), (2, 2)")
    run("ALTER TABLE t DETACH PARTITION 2")
    run("ALTER TABLE t FREEZE WITH NAME 'snap'")
    detached = "SELECT count() AS n FROM system.detached_parts WHERE table = 't' FORMAT CSV"
    assert run(detached) == "1"
    run("TRUNCATE TABLE t")
    assert run("SELECT count() AS n FROM t FORMAT CSV") == "0"
    assert run(detached) == "1"
    assert os.listdir(os.path.join(d, "t", "_shadow", "snap", "p=1"))
    run("ALTER TABLE t ATTACH PARTITION 2")
    run("INSERT INTO t VALUES (3, 1)")
    assert run("SELECT k, p FROM t ORDER BY k FORMAT CSV").splitlines() == ["2,2", "3,1"]


def test_parse_modifiers_and_nested_types():
    """DEFAULT/CODEC/COMMENT modifiers are skipped; nested Tuple/Map
    types with internal commas parse structurally."""
    td = parse_create_table(
        """
        CREATE TABLE t (
            a UInt8 DEFAULT 7,
            b String CODEC(ZSTD(3)),
            c Tuple(x UInt8, y String),
            d DateTime DEFAULT now() COMMENT 'ts col',
            e Map(String, Array(UInt32))
        ) ENGINE = MergeTree() ORDER BY a
        """
    )
    types = dict(td.columns)
    assert types["a"] == "UInt8" and types["b"] == "String" and types["d"] == "DateTime"
    schema = td.spark_schema()
    assert "c struct<x:smallint,y:string>" in schema
    assert "e map<string,array<bigint>>" in schema


def test_create_view_and_materialized_view(spark, tmp_path):
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE base (k UInt32, v Float64) ENGINE = MergeTree() ORDER BY k")
    run("INSERT INTO base VALUES (1, 1.5), (2, 2.5), (2, 3.5)")
    run("CREATE VIEW v_sum AS SELECT k, sum(v) AS s FROM base GROUP BY k")
    assert run("SELECT k, s FROM v_sum ORDER BY k FORMAT CSV").strip().splitlines() == [
        "1,1.5", "2,6.0",
    ]
    run("CREATE MATERIALIZED VIEW mv_sum AS SELECT k, count() AS n FROM base GROUP BY k")
    # materialized: stored on disk, survives as a table directory
    import os

    assert os.path.isdir(os.path.join(d, "mv_sum"))
    assert "mv_sum" in run("SHOW TABLES")
    # a plain view resolves its tables at each read (reference
    # StorageView): a later INSERT shows through
    run("CREATE VIEW v_n AS SELECT count() AS n FROM base")
    assert run("SELECT n FROM v_n FORMAT CSV").strip() == "3"
    run("INSERT INTO base VALUES (3, 4.5)")
    assert run("SELECT n FROM v_n FORMAT CSV").strip() == "4"


def test_optimize_final_replacing_and_summing(spark, tmp_path):
    """OPTIMIZE TABLE FINAL applies the engine's merge folding:
    Replacing keeps the latest version per key, Summing folds sums."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE r (k UInt32, ver UInt32, v Float64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k")
    run("INSERT INTO r VALUES (1, 1, 10.0), (1, 2, 20.0), (2, 1, 5.0)")
    run("OPTIMIZE TABLE r FINAL")
    rows = run("SELECT k, ver, v FROM r ORDER BY k FORMAT CSV").strip().splitlines()
    assert rows == ["1,2,20.0", "2,1,5.0"]  # latest version per key survived

    run("CREATE TABLE s (k UInt32, v Float64) ENGINE = SummingMergeTree() ORDER BY k")
    run("INSERT INTO s VALUES (1, 1.5), (1, 2.5), (2, 4.0)")
    run("OPTIMIZE TABLE s FINAL")
    rows = run("SELECT k, v FROM s ORDER BY k FORMAT CSV").strip().splitlines()
    assert rows == ["1,4.0", "2,4.0"]


def test_query_log(spark, tmp_path):
    """system.query_log: statements run through the CLI appear as
    QueryFinish rows with durations and row counts."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("SELECT 1 AS x")
    run("SELECT 2 AS y")
    body = run("SELECT query, result_rows, query_duration_ms > 0 "
               "FROM system.query_log WHERE type = 'QueryFinish' "
               "AND query IN ('SELECT 1 AS x', 'SELECT 2 AS y') "
               "ORDER BY query FORMAT CSV")
    lines = body.strip().splitlines()
    assert lines[-2:] == ["SELECT 1 AS x,1,true", "SELECT 2 AS y,1,true"]


def test_out_of_band_writes_seen_by_next_statement(spark, tmp_path):
    """The catalog reuses a table's view only while its files are
    unchanged: a part written behind the engine's back into a DDL table
    dir, and a replaced flat parquet table, show in the next statement."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue().strip()

    run("CREATE TABLE t (k Int64, v String) ENGINE = MergeTree ORDER BY k")
    run("INSERT INTO t VALUES (1, 'a')")
    pq.write_table(pa.table({"k": [2, 3], "v": ["b", "c"]}),
                   str(tmp_path / "t" / "part-oob.parquet"))
    assert run("SELECT count() FROM t FORMAT CSV") == "3"
    flat = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"x": [1]}), flat)
    assert run("SELECT sum(x) FROM f FORMAT CSV") == "1"
    pq.write_table(pa.table({"x": [1, 2, 3]}), flat)
    assert run("SELECT sum(x) FROM f FORMAT CSV") == "6"


def test_alter_add_drop_column(spark, tmp_path):
    """Metadata-only schema evolution: ADD COLUMN fills old rows with
    the default at read; DROP COLUMN hides immediately."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.ddl import (
        alter_add_column,
        alter_drop_column,
    )

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE t (k UInt32, v Float64) ENGINE = MergeTree() ORDER BY k")
    run("INSERT INTO t VALUES (1, 1.5)")
    alter_add_column(spark, d, "t", "tag", "String", default="none")
    got = spark.sql("SELECT k, v, tag FROM t").collect()
    assert [(r.k, r.v, r.tag) for r in got] == [(1, 1.5, "none")]
    alter_drop_column(spark, d, "t", "v")
    assert spark.table("t").columns == ["k", "tag"]


def test_backup_restore_roundtrip(spark, tmp_path):
    from clickhouse_25_5_3_75_stable_spark.ddl import (
        Database,
        backup_table,
        drop_table,
        restore_table,
    )
    import pytest

    base = str(tmp_path / "db")
    bk = str(tmp_path / "bk")
    import os

    os.makedirs(base), os.makedirs(bk)
    db = Database(spark, base)
    db.create_table(
        "CREATE TABLE bt (k Int64, v String) ENGINE = MergeTree ORDER BY k"
    )
    db.insert_into("bt", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))

    man = backup_table(base, "bt", bk)
    assert man["files"] > 0 and man["bytes"] > 0

    drop_table(spark, base, "bt")
    with pytest.raises(Exception):
        spark.table("bt").collect()

    restore_table(spark, base, "bt", bk)
    got = {(r.k, r.v) for r in spark.table("bt").collect()}
    assert got == {(1, "a"), (2, "b")}
    # DDL metadata travels with the backup
    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def

    td = load_table_def(base, "bt")
    assert td is not None and td.order_by == ["k"]

    # restore refuses to clobber
    with pytest.raises(FileExistsError):
        restore_table(spark, base, "bt", bk)


def test_optimize_deduplicate(spark, tmp_path):
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_script

    data = str(tmp_path / "od")
    os.makedirs(data)
    buf = io.StringIO()
    script = """
        CREATE TABLE dup (k Int64, v String) ENGINE = MergeTree ORDER BY k;
        INSERT INTO dup VALUES (1, 'a'), (1, 'a'), (2, 'b'), (2, 'b'), (3, 'c');
        OPTIMIZE TABLE dup DEDUPLICATE;
        SELECT count() AS n FROM dup;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    assert buf.getvalue().strip().splitlines()[-1] == "3"


def test_drop_if_exists_parses_table_name(spark, tmp_path):
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_script

    data = str(tmp_path / "die")
    os.makedirs(data)
    buf = io.StringIO()
    script = """
        CREATE TABLE gone (k Int64) ENGINE = MergeTree ORDER BY k;
        DROP TABLE IF EXISTS gone;
        DROP TABLE IF EXISTS never_existed;
        EXISTS TABLE gone;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    assert buf.getvalue().strip().splitlines()[-1] == "0"


def test_create_table_as_select(spark, tmp_path):
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_script

    data = str(tmp_path / "ctas")
    os.makedirs(data)
    buf = io.StringIO()
    script = """
        CREATE TABLE src (k Int64, v Int64) ENGINE = MergeTree ORDER BY k;
        INSERT INTO src VALUES (1, 10), (2, 20), (3, 30);
        CREATE TABLE agg ENGINE = MergeTree AS SELECT k % 2 AS parity, sum(v) AS s FROM src GROUP BY parity;
        SELECT count() AS n FROM agg;
        SELECT s FROM agg WHERE parity = 1;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    lines = buf.getvalue().strip().splitlines()
    assert "2" in lines  # two parity groups
    assert lines[-1] == "40"  # 10 + 30


def test_insert_inline_format_payload(spark, tmp_path, monkeypatch):
    """Inline rows are parsed in the JVM: no Python list is parallelized."""
    import io
    import os

    from pyspark import SparkContext

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local, run_script

    def no_rdd(*_a, **_k):
        raise AssertionError("inline rows went through a Python RDD")

    data = str(tmp_path / "inline")
    os.makedirs(data)
    buf = io.StringIO()
    run_local(
        "CREATE TABLE ev (k Int64, v String) ENGINE = MergeTree ORDER BY k",
        data, spark=spark, out=buf,
    )
    monkeypatch.setattr(SparkContext, "parallelize", no_rdd)
    stmt = 'INSERT INTO ev FORMAT JSONEachRow\n{"k": 1, "v": "a"}\n\n{"k": 2, "v": "b"}'
    assert run_local(stmt, data, spark=spark, out=buf) == 0
    stmt = "INSERT INTO ev FORMAT CSV\n3,c\n4,d"
    assert run_local(stmt, data, spark=spark, out=buf) == 0
    stmt = "INSERT INTO ev FORMAT CSVWithNames\nk,v\n5,e"
    assert run_local(stmt, data, spark=spark, out=buf) == 0
    buf = io.StringIO()
    run_local("SELECT k, v FROM ev ORDER BY k", data, spark=spark, out=buf)
    assert buf.getvalue().splitlines() == [
        "1\ta", "2\tb", "3\tc", "4\td", "5\te"]


def test_from_final_folds_replacing_table(spark, tmp_path):
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_script

    data = str(tmp_path / "final")
    os.makedirs(data)
    buf = io.StringIO()
    script = """
        CREATE TABLE rv (k Int64, ver Int64, v String)
            ENGINE = ReplacingMergeTree(ver) ORDER BY k;
        INSERT INTO rv VALUES (1, 1, 'old'), (1, 2, 'new'), (2, 1, 'only');
        SELECT count() AS n FROM rv;
        SELECT count() AS n FROM rv FINAL;
        SELECT v FROM rv FINAL WHERE k = 1;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    lines = buf.getvalue().strip().splitlines()
    assert "3" in lines          # raw read keeps both versions
    assert "2" in lines          # FINAL folds to latest per key
    assert lines[-1] == "new"    # latest version wins


def test_cli_alter_mutations(spark, tmp_path):
    """ALTER TABLE UPDATE/DELETE/ADD COLUMN/DROP COLUMN through the CLI
    (InterpreterAlterQuery -> MutationsInterpreter copy-on-write):
    mutations rewrite the DDL-managed directory with the staging-swap
    contract; expressions run through the CH dialect."""
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)
    out = io.StringIO()
    assert run_local(
        "CREATE TABLE mt (k Int64, v String, n Int64) "
        "ENGINE = MergeTree ORDER BY k",
        d, spark=spark, out=out,
    ) == 0
    assert run_local(
        "INSERT INTO mt VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)",
        d, spark=spark, out=out,
    ) == 0

    # UPDATE with a CH-dialect expression
    assert run_local(
        "ALTER TABLE mt UPDATE v = upper(v), n = n + 1 WHERE k <= 2",
        d, spark=spark, out=out,
    ) == 0
    rows = {r.k: (r.v, r.n) for r in spark.table("mt").collect()}
    assert rows == {1: ("A", 11), 2: ("B", 21), 3: ("c", 30)}

    # DELETE
    assert run_local(
        "ALTER TABLE mt DELETE WHERE k = 2", d, spark=spark, out=out
    ) == 0
    assert sorted(r.k for r in spark.table("mt").collect()) == [1, 3]

    # ADD COLUMN with default materializes at read
    assert run_local(
        "ALTER TABLE mt ADD COLUMN tag String DEFAULT 'x'",
        d, spark=spark, out=out,
    ) == 0
    assert {r.tag for r in spark.table("mt").collect()} == {"x"}

    # DROP COLUMN disappears immediately
    assert run_local(
        "ALTER TABLE mt DROP COLUMN n", d, spark=spark, out=out
    ) == 0
    assert "n" not in spark.table("mt").columns

    # both survive into later statements, which re-read the catalog
    def run(sql):
        buf = io.StringIO()
        assert run_local(sql, d, spark=spark, out=buf) == 0
        return buf.getvalue().strip().splitlines()

    assert run("SELECT * FROM mt ORDER BY k FORMAT CSV") == ["1,A,x", "3,c,x"]
    assert run("DESCRIBE mt FORMAT CSV") == [
        "k,bigint", "v,string", "tag,string"]
    run("ALTER TABLE mt ADD COLUMN c Int32 DEFAULT 5")
    run("INSERT INTO mt VALUES (4, 'd', 'y', 7)")
    assert run("SELECT k, c FROM mt ORDER BY k FORMAT CSV") == [
        "1,5", "3,5", "4,7"]

    # a dropped column's values stay dropped when the name is added back;
    # the rewrite keeps a FREEZE snapshot
    run("ALTER TABLE mt FREEZE WITH NAME 'before_drop'")
    run("ALTER TABLE mt DROP COLUMN v")
    assert os.path.isdir(os.path.join(d, "mt", "_shadow", "before_drop"))
    run("ALTER TABLE mt ADD COLUMN v String")
    assert run("SELECT k, v FROM mt ORDER BY k FORMAT CSV") == [
        "1,", "3,", "4,"]
    # a Nullable column's DEFAULT reaches the rows that predate it
    run("ALTER TABLE mt ADD COLUMN x Nullable(Int32) DEFAULT 5")
    run("INSERT INTO mt VALUES (5, 'e', 6, '', 7)")
    run("INSERT INTO mt VALUES (6, 'f', 6, '', NULL)")
    assert run("SELECT k, x FROM mt ORDER BY k FORMAT CSV") == [
        "1,5", "3,5", "4,5", "5,7", "6,"]
    # a non-Nullable column added without a DEFAULT reads its type's
    # zero, not NULL: the re-added v above, and the columns added now
    for c, ty in (("s", "String"), ("z", "Int32"), ("w", "Int128"),
                  ("u", "UInt128"), ("id", "UUID"), ("ip", "IPv4")):
        run(f"ALTER TABLE mt ADD COLUMN {c} {ty}")
    assert run("SELECT k, toUInt8(v IS NULL), toUInt8(s IS NULL), z, w, u, id, ip "
               "FROM mt WHERE k = 1 FORMAT TSV") == [
        "1\t0\t0\t0\t0\t0\t00000000-0000-0000-0000-000000000000\t0.0.0.0"]


def test_projection_ddl_and_auto_routing(spark, tmp_path):
    """ADD PROJECTION + automatic routing (the reference's
    optimizeUseAggregateProjection): a covered GROUP BY reads the
    projection states instead of the table; WHERE on keys filters the
    states; non-covered queries fall through; mutations rebuild."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.statements import _route_projection

    d = str(tmp_path)
    out = io.StringIO()
    assert run_local(
        "CREATE TABLE px (k Int64, g String, x Int64, y Float64) "
        "ENGINE = MergeTree ORDER BY k", d, spark=spark, out=out) == 0
    assert run_local(
        "INSERT INTO px VALUES (1,'a',10,1.5), (2,'a',20,2.5), (3,'b',30,3.5)",
        d, spark=spark, out=out) == 0
    assert run_local(
        "ALTER TABLE px ADD PROJECTION p1 "
        "(SELECT g, sum(x), min(y), max(y) GROUP BY g)",
        d, spark=spark, out=out) == 0

    q = "SELECT g, sum(x) AS sx, count() AS n FROM px GROUP BY g ORDER BY g"
    routed = _route_projection(spark, d, q)
    assert routed is not None  # covered -> routes
    got = [(r.g, r.sx, r.n) for r in routed.collect()]
    assert got == [("a", 30, 2), ("b", 30, 1)]
    # routed plan scans the projection STATES (the scan's ReadSchema
    # carries _rows/_sum_x), not the base table columns
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "_sum_x" in plan and "_rows" in plan

    # not covered (sum(y) not a stored state) -> falls through
    assert _route_projection(
        spark, d, "SELECT g, sum(y) AS s FROM px GROUP BY g") is None
    # WHERE on a non-key column -> falls through
    assert _route_projection(
        spark, d, "SELECT g, sum(x) AS s FROM px WHERE x > 5 GROUP BY g") is None
    # WHERE on a key -> routes and filters states
    r2 = _route_projection(
        spark, d, "SELECT g, sum(x) AS s FROM px WHERE g = 'a' GROUP BY g")
    assert r2 is not None and [(r.g, r.s) for r in r2.collect()] == [("a", 30)]

    # the CLI answers through the projection transparently
    out2 = io.StringIO()
    assert run_local(q + " FORMAT CSV", d, spark=spark, out=out2) == 0
    assert out2.getvalue().strip().splitlines() == ["a,30,2", "b,30,1"]

    # mutation rewrites parts -> projection rebuilt, stays consistent
    assert run_local("ALTER TABLE px DELETE WHERE k = 1",
                     d, spark=spark, out=out) == 0
    r3 = _route_projection(spark, d, "SELECT g, sum(x) AS s FROM px GROUP BY g")
    assert sorted((r.g, r.s) for r in r3.collect()) == [("a", 20), ("b", 30)]
    # so does MODIFY COLUMN, which rewrites every part
    assert run_local("ALTER TABLE px MODIFY COLUMN y Float32",
                     d, spark=spark, out=out) == 0
    r4 = _route_projection(spark, d, "SELECT g, sum(x) AS s FROM px GROUP BY g")
    assert sorted((r.g, r.s) for r in r4.collect()) == [("a", 20), ("b", 30)]

    # DROP PROJECTION -> no more routing
    assert run_local("ALTER TABLE px DROP PROJECTION p1",
                     d, spark=spark, out=out) == 0
    assert _route_projection(spark, d, q) is None


def test_system_projections_and_mutations(spark, tmp_path):
    """system.projections lists stored projections; system.mutations
    replays the journal mutate_table appends (journal survives the
    staging swap of later mutations and of OPTIMIZE)."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table

    d = str(tmp_path)
    out = io.StringIO()
    run_local("CREATE TABLE sm (k Int64, x Int64) ENGINE = MergeTree ORDER BY k",
              d, spark=spark, out=out)
    run_local("INSERT INTO sm VALUES (1, 10), (2, 20)", d, spark=spark, out=out)
    run_local("ALTER TABLE sm ADD PROJECTION p (SELECT k, sum(x) GROUP BY k)",
              d, spark=spark, out=out)
    run_local("ALTER TABLE sm UPDATE x = x + 1 WHERE k = 1",
              d, spark=spark, out=out)
    run_local("ALTER TABLE sm DELETE WHERE k = 2", d, spark=spark, out=out)
    run_local("OPTIMIZE TABLE sm FINAL", d, spark=spark, out=out)

    projs = system_table(spark, "projections", d).collect()
    assert [(r.table, r.name, r.sum_columns) for r in projs] == [("sm", "p", "x")]

    muts = [r.command for r in system_table(spark, "mutations", d)
            .orderBy("create_time", "mutation_id").collect()]
    assert muts == ["UPDATE x = x + 1 WHERE k = 1", "DELETE WHERE k = 2"]


def test_optimize_applies_ttl_and_modify_ttl(spark, tmp_path):
    """OPTIMIZE is the merge moment that applies TTL DELETE
    (TTLDeleteAlgorithm); ALTER MODIFY TTL rewrites the clause and
    REMOVE TTL clears it."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)
    out = io.StringIO()
    run_local("CREATE TABLE tt (d Date, v Int64) ENGINE = MergeTree "
              "ORDER BY d TTL d + INTERVAL 30 DAY",
              d, spark=spark, out=out)
    run_local("INSERT INTO tt VALUES ('2000-01-01', 1), ('2999-01-01', 2)",
              d, spark=spark, out=out)
    run_local("OPTIMIZE TABLE tt FINAL", d, spark=spark, out=out)
    assert [r.v for r in spark.table("tt").collect()] == [2]  # 2000 expired

    # REMOVE TTL: nothing expires on the next OPTIMIZE
    run_local("ALTER TABLE tt REMOVE TTL", d, spark=spark, out=out)
    run_local("INSERT INTO tt VALUES ('2001-01-01', 3)", d, spark=spark, out=out)
    run_local("OPTIMIZE TABLE tt FINAL", d, spark=spark, out=out)
    assert sorted(r.v for r in spark.table("tt").collect()) == [2, 3]

    # MODIFY TTL: re-arms expiry
    run_local("ALTER TABLE tt MODIFY TTL d + INTERVAL 30 DAY",
              d, spark=spark, out=out)
    run_local("OPTIMIZE TABLE tt FINAL", d, spark=spark, out=out)
    assert sorted(r.v for r in spark.table("tt").collect()) == [2]


def test_insert_from_infile(spark, tmp_path):
    """INSERT INTO t FROM INFILE 'path' FORMAT X — the reference's
    client-side bulk load (ParserInsertQuery.cpp infile branch) —
    roundtrips through Avro and RowBinary written by INTO OUTFILE."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)
    out = io.StringIO()
    run_local("CREATE TABLE src (k Int64, v String) ENGINE = MergeTree ORDER BY k",
              d, spark=spark, out=out)
    run_local("INSERT INTO src VALUES (1, 'a'), (2, 'b')", d, spark=spark, out=out)
    avro = str(tmp_path / "dump.avro")
    run_local(f"SELECT k, v FROM src INTO OUTFILE '{avro}' FORMAT Avro",
              d, spark=spark, out=out)
    rb = str(tmp_path / "dump.bin")
    run_local(f"SELECT k, v FROM src INTO OUTFILE '{rb}' FORMAT RowBinary",
              d, spark=spark, out=out)

    run_local("CREATE TABLE dst (k Int64, v String) ENGINE = MergeTree ORDER BY k",
              d, spark=spark, out=out)
    assert run_local(f"INSERT INTO dst FROM INFILE '{avro}' FORMAT Avro",
                     d, spark=spark, out=out) == 0
    assert run_local(f"INSERT INTO dst FROM INFILE '{rb}' FORMAT RowBinary",
                     d, spark=spark, out=out) == 0
    got = sorted((r.k, r.v) for r in spark.table("dst").collect())
    assert got == [(1, "a"), (1, "a"), (2, "b"), (2, "b")]


def test_normal_projection_routing(spark, tmp_path):
    """Normal (ORDER BY) projection: WHERE on the projection's leading
    sort key reads the sorted copy (inputFiles point into the
    projection dir) with the predicate pushed; values identical to the
    base table."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.statements import _route_projection

    d = str(tmp_path)
    out = io.StringIO()
    run_local("CREATE TABLE np (k Int64, s String) ENGINE = MergeTree ORDER BY s",
              d, spark=spark, out=out)
    run_local("INSERT INTO np VALUES " + ", ".join(
        f"({i}, 'v{i % 7}')" for i in range(100)), d, spark=spark, out=out)
    run_local("ALTER TABLE np ADD PROJECTION byk (SELECT * ORDER BY k)",
              d, spark=spark, out=out)

    q = "SELECT k, s FROM np WHERE k >= 90 ORDER BY k"
    routed = _route_projection(spark, d, q)
    assert routed is not None
    assert all("_projection_byk" in f for f in routed.inputFiles())
    assert [r.k for r in routed.collect()] == list(range(90, 100))
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(k,90)" in plan

    # WHERE off the sort prefix: no routing
    assert _route_projection(spark, d, "SELECT k FROM np WHERE s = 'v1'") is None


def test_partition_lifecycle_cli(spark, tmp_path):
    """ALTER TABLE DETACH/ATTACH/DROP PARTITION + DROP DETACHED +
    FREEZE (reference MergeTreeData partition ops): O(1) directory
    moves and hardlink snapshots, visible through SELECT immediately."""
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE pt (m UInt32, v Float64) ENGINE = MergeTree() "
        "ORDER BY v PARTITION BY m")
    run("INSERT INTO pt VALUES (1, 1.0), (1, 2.0), (2, 3.0), (3, 4.0)")
    assert run("SELECT count() AS n FROM pt FORMAT CSV").strip() == "4"

    run("ALTER TABLE pt DETACH PARTITION 1")
    assert run("SELECT count() AS n FROM pt FORMAT CSV").strip() == "2"
    assert os.path.isdir(os.path.join(d, "pt", "_detached", "m=1"))

    run("ALTER TABLE pt ATTACH PARTITION 1")
    assert run("SELECT count() AS n FROM pt FORMAT CSV").strip() == "4"

    # freeze everything, then a single partition with a name
    out1 = run("ALTER TABLE pt FREEZE")
    snap = out1.split()[-1]
    assert os.path.isdir(os.path.join(d, "pt", "_shadow", "1"))
    out2 = run("ALTER TABLE pt FREEZE PARTITION 2 WITH NAME 'pre-drop'")
    assert os.path.isdir(os.path.join(d, "pt", "_shadow", "pre-drop"))
    # hardlinks, not copies: same inode
    src = [f for f in os.listdir(os.path.join(d, "pt", "m=2"))
           if f.endswith(".parquet")][0]
    s1 = os.stat(os.path.join(d, "pt", "m=2", src))
    s2 = os.stat(os.path.join(d, "pt", "_shadow", "pre-drop", "m=2", src))
    assert s1.st_ino == s2.st_ino

    run("ALTER TABLE pt DROP PARTITION 2")
    assert run("SELECT count() AS n FROM pt FORMAT CSV").strip() == "3"
    # the frozen snapshot still holds the dropped partition's data
    assert os.listdir(os.path.join(d, "pt", "_shadow", "pre-drop", "m=2"))

    run("ALTER TABLE pt DETACH PARTITION 3")
    run("ALTER TABLE pt DROP DETACHED PARTITION 3")
    assert not os.path.isdir(os.path.join(d, "pt", "_detached", "m=3"))
    assert run("SELECT count() AS n FROM pt FORMAT CSV").strip() == "2"
    del snap, out2


def test_partition_move_replace_cli(spark, tmp_path):
    """MOVE PARTITION TO TABLE (O(1) directory move) and REPLACE
    PARTITION FROM (hardlink clone, source keeps its data) — reference
    MergeTreeData::movePartitionToTable / replacePartitionFrom."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    for t in ("pa", "pb"):
        run(f"CREATE TABLE {t} (m UInt32, v Float64) ENGINE = MergeTree() "
            "ORDER BY v PARTITION BY m")
    run("INSERT INTO pa VALUES (1, 1.0), (2, 2.0)")
    run("INSERT INTO pb VALUES (3, 30.0)")

    run("ALTER TABLE pa MOVE PARTITION 1 TO TABLE pb")
    assert run("SELECT count() AS n FROM pa FORMAT CSV").strip() == "1"
    assert run("SELECT count() AS n FROM pb FORMAT CSV").strip() == "2"

    # replace pb's partition 2 (absent -> created) from pa's
    run("ALTER TABLE pb REPLACE PARTITION 2 FROM pa")
    assert run("SELECT count() AS n FROM pb FORMAT CSV").strip() == "3"
    # source keeps its data
    assert run("SELECT count() AS n FROM pa FORMAT CSV").strip() == "1"

    # structure mismatch refuses
    run("CREATE TABLE pc (x String) ENGINE = MergeTree() ORDER BY x")
    out = io.StringIO()
    try:
        run_local("ALTER TABLE pa MOVE PARTITION 2 TO TABLE pc", d,
                  spark=spark, out=out)
        raised = False
    except Exception:
        raised = True
    assert raised


def test_exchange_tables(spark, tmp_path):
    """EXCHANGE TABLES a AND b (reference InterpreterRenameQuery
    exchange=true): atomic two-way swap, data and defs follow."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE ea (v UInt32) ENGINE = MergeTree() ORDER BY v")
    run("CREATE TABLE eb (v UInt32) ENGINE = MergeTree() ORDER BY v")
    run("INSERT INTO ea VALUES (1)")
    run("INSERT INTO eb VALUES (2), (3)")
    run("EXCHANGE TABLES ea AND eb")
    assert run("SELECT count() AS n FROM ea FORMAT CSV").strip() == "2"
    assert run("SELECT count() AS n FROM eb FORMAT CSV").strip() == "1"


def test_drop_undrop_detach_attach_table(spark, tmp_path):
    """Atomic-database drop semantics (reference InterpreterDropQuery /
    InterpreterUndropQuery): DROP parks for UNDROP, DROP SYNC deletes,
    DETACH/ATTACH TABLE hide and restore without touching data."""
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql, expect=0):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == expect
        return out.getvalue()

    run("CREATE TABLE ut (v UInt32) ENGINE = MergeTree() ORDER BY v")
    run("INSERT INTO ut VALUES (7), (8)")

    run("DETACH TABLE ut")
    assert os.path.isdir(os.path.join(d, "_detached_tables", "ut"))
    run("ATTACH TABLE ut")
    assert run("SELECT count() AS n FROM ut FORMAT CSV").strip() == "2"

    run("DROP TABLE ut")
    assert os.listdir(os.path.join(d, "_dropped"))
    run("UNDROP TABLE ut")
    assert run("SELECT count() AS n FROM ut FORMAT CSV").strip() == "2"

    run("DROP TABLE ut SYNC")
    assert not os.path.isdir(os.path.join(d, "ut"))
    # nothing new parked by SYNC
    assert not [x for x in os.listdir(os.path.join(d, "_dropped"))
                if x.startswith("ut.")]


def test_check_table(spark, tmp_path):
    """CHECK TABLE (reference InterpreterCheckQuery): parts must decode
    and match their footers; a corrupted file reports result=0."""
    import glob
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql, expect=0):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == expect
        return out.getvalue()

    run("CREATE TABLE ck (v UInt32) ENGINE = MergeTree() ORDER BY v")
    run("INSERT INTO ck VALUES (1), (2)")
    body = run("CHECK TABLE ck FORMAT CSV")
    assert ",1," in body  # result=1

    # corrupt a data file
    f = [p for p in glob.glob(os.path.join(d, "ck", "*.parquet"))][0]
    with open(f, "r+b") as fh:
        fh.write(b"\x00\x00\x00\x00")  # clobber the PAR1 magic
    body = run("CHECK TABLE ck FORMAT CSV", expect=1)
    assert ",0," in body  # result=0 with a message


def test_partitioned_insert_keeps_declared_column_order(spark, tmp_path):
    """Physical partitionBy writes move the partition column last in
    parquet's inferred schema; the view must re-order to the DECLARED
    order or a second positional INSERT corrupts columns
    (review-found)."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql, expect=0):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == expect
        return out.getvalue()

    run("CREATE TABLE po (m UInt32, v Float64) ENGINE = MergeTree() "
        "ORDER BY v PARTITION BY m")
    run("INSERT INTO po VALUES (1, 1.5)")
    run("INSERT INTO po VALUES (2, 3.5)")  # positional, post-partitioned-write
    body = run("SELECT m, v FROM po ORDER BY m FORMAT CSV").strip().splitlines()
    assert body == ["1,1.5", "2,3.5"]
    # SELECT * keeps declared order too
    hdr_rows = run("SELECT * FROM po ORDER BY m FORMAT CSV").strip().splitlines()
    assert hdr_rows == ["1,1.5", "2,3.5"]

    # zero-row INSERT must not strand the table unreadable (the marker
    # is only removed when partition dirs actually exist)
    run("CREATE TABLE pz (m UInt32, v Float64) ENGINE = MergeTree() "
        "ORDER BY v PARTITION BY m")
    run("INSERT INTO pz SELECT m, v FROM po WHERE m > 100")
    assert run("SELECT count() AS n FROM pz FORMAT CSV").strip() == "0"


def test_lifecycle_refusals(spark, tmp_path):
    """Review-found crash/corruption shapes now refuse cleanly."""
    import io

    import pytest

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        run_local(sql, d, spark=spark, out=out)
        return out.getvalue()

    run("CREATE TABLE la (m UInt32, x Float64) ENGINE = MergeTree() "
        "ORDER BY x PARTITION BY m")
    run("CREATE TABLE lb (m UInt32, y Float64) ENGINE = MergeTree() "
        "ORDER BY y PARTITION BY m")
    run("INSERT INTO la VALUES (1, 1.0)")
    # same types, different NAMES -> refuse (was silent corruption)
    with pytest.raises(ValueError, match="column names"):
        run("ALTER TABLE la MOVE PARTITION 1 TO TABLE lb")
    # MOVE ... TO VOLUME is not the table form -> clean refusal
    with pytest.raises(ValueError, match="ALTER PARTITION shape"):
        run("ALTER TABLE la MOVE PARTITION 1 TO VOLUME 'default'")
    # double DETACH TABLE must not nest (was corruption)
    run("DETACH TABLE la")
    run("CREATE TABLE la (m UInt32, x Float64) ENGINE = MergeTree() "
        "ORDER BY x PARTITION BY m")
    with pytest.raises(ValueError, match="earlier detached"):
        run("DETACH TABLE la")
    # UNDROP onto a live table refuses (was raw OSError)
    run("DROP TABLE lb")
    run("CREATE TABLE lb (m UInt32, y Float64) ENGINE = MergeTree() "
        "ORDER BY y PARTITION BY m")
    with pytest.raises(ValueError, match="live table"):
        run("UNDROP TABLE lb")


def test_unfreeze_and_detached_tables(spark, tmp_path):
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE uf (m UInt32, v Float64) ENGINE = MergeTree() "
        "ORDER BY v PARTITION BY m")
    run("INSERT INTO uf VALUES (1, 1.0)")
    run("ALTER TABLE uf FREEZE PARTITION 1 WITH NAME 'snapA'")
    assert os.path.isdir(os.path.join(d, "uf", "_shadow", "snapA"))
    run("SYSTEM UNFREEZE WITH NAME 'snapA'")
    assert not os.path.isdir(os.path.join(d, "uf", "_shadow", "snapA"))

    run("DETACH TABLE uf")
    body = run("SELECT database, table FROM system.detached_tables FORMAT CSV")
    assert "default,uf" in body
    run("ATTACH TABLE uf")
    body = run("SELECT count() AS n FROM system.detached_tables FORMAT CSV")
    assert body.strip() == "0"


def test_modify_and_rename_column(spark, tmp_path):
    """MODIFY COLUMN (cast-on-read type evolution) and RENAME COLUMN
    (metadata-only; old parts keep the old physical name and the view
    coalesces both) — reference AlterCommand MODIFY/RENAME_COLUMN."""
    import io

    import pytest

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE mc (k UInt32, price Float64) ENGINE = MergeTree() "
        "ORDER BY k")
    run("INSERT INTO mc VALUES (1, 10.5), (2, 20.25)")

    # type evolution: Float64 -> String; old files cast at read
    run("ALTER TABLE mc MODIFY COLUMN price String")
    body = run("SELECT price FROM mc ORDER BY k FORMAT CSV").strip().splitlines()
    assert body == ["10.5", "20.25"]
    desc = run("DESCRIBE mc FORMAT CSV")
    assert "price,string" in desc

    # rename: old parts keep physical 'price'; new INSERT writes 'cost'
    run("ALTER TABLE mc RENAME COLUMN price TO cost")
    run("INSERT INTO mc VALUES (3, '30.75')")
    body = run("SELECT k, cost FROM mc ORDER BY k FORMAT CSV").strip().splitlines()
    assert body == ["1,10.5", "2,20.25", "3,30.75"]
    # old name is gone from the logical schema
    desc = run("DESCRIBE mc FORMAT CSV")
    assert "cost,string" in desc and "price" not in desc

    # refusals
    with pytest.raises(ValueError, match="no column"):
        run("ALTER TABLE mc MODIFY COLUMN nope UInt64")
    with pytest.raises(ValueError, match="already exists"):
        run("ALTER TABLE mc RENAME COLUMN cost TO k")
    run("CREATE TABLE mp (m UInt32, v Float64) ENGINE = MergeTree() "
        "ORDER BY v PARTITION BY m")
    with pytest.raises(ValueError, match="partition column"):
        run("ALTER TABLE mp RENAME COLUMN m TO n")


def test_modify_column_then_insert_stays_readable(spark, tmp_path):
    """MODIFY COLUMN rewrites parts (reference: it IS a mutation) so a
    later INSERT never produces unmergeable physical types
    (review-found: double-vs-string parts broke every later read)."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE mi (k UInt32, price Float64) ENGINE = MergeTree() "
        "ORDER BY k")
    run("INSERT INTO mi VALUES (1, 10.5)")
    run("ALTER TABLE mi MODIFY COLUMN price String")
    run("INSERT INTO mi VALUES (2, 'xx')")
    body = run("SELECT k, price FROM mi ORDER BY k FORMAT CSV").strip().splitlines()
    assert body == ["1,10.5", "2,xx"]
    # bogus type refuses BEFORE touching disk metadata
    import pytest

    with pytest.raises(Exception, match="(?i)bogus|unmapped|unknown"):
        run("ALTER TABLE mi MODIFY COLUMN price Bogus")
    body = run("SELECT count() AS n FROM mi FORMAT CSV").strip()
    assert body == "2"  # table intact


def test_mutation_after_rename_preserves_data_and_layout(spark, tmp_path):
    """Mutations/OPTIMIZE read through the evolved view and keep the
    partition layout (review-found: a plain read after RENAME dropped
    the old parts' column data from the rewrite; rewrites flattened
    partition dirs)."""
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE mr (m UInt32, price Float64) ENGINE = MergeTree() "
        "ORDER BY price PARTITION BY m")
    run("INSERT INTO mr VALUES (1, 10.0), (2, 20.0)")
    run("ALTER TABLE mr RENAME COLUMN price TO cost")
    run("INSERT INTO mr VALUES (3, 30.0)")
    run("ALTER TABLE mr DELETE WHERE cost > 25.0")
    body = run("SELECT m, cost FROM mr ORDER BY m FORMAT CSV").strip().splitlines()
    assert body == ["1,10.0", "2,20.0"]  # old parts' data survived
    # partition layout survived the rewrite
    assert os.path.isdir(os.path.join(d, "mr", "m=1"))
    run("ALTER TABLE mr DETACH PARTITION 2")
    assert run("SELECT count() AS n FROM mr FORMAT CSV").strip() == "1"


def test_live_view_create_validates_and_drop_removes(spark, tmp_path):
    import io

    import pytest

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import LIVE_VIEWS

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    # bogus body refuses AT CREATE, registry stays clean
    with pytest.raises(Exception):
        run("CREATE LIVE VIEW badlv AS SELEC oops FROM nowhere")
    assert "badlv" not in LIVE_VIEWS
    # DROP removes the live view so a same-named table is reachable
    run("CREATE TABLE lvt (v UInt32) ENGINE = MergeTree() ORDER BY v")
    run("INSERT INTO lvt VALUES (5)")
    run("CREATE LIVE VIEW lvx AS SELECT count() AS n FROM lvt")
    run("DROP TABLE lvx")
    assert "lvx" not in LIVE_VIEWS
    run("CREATE TABLE lvx (w UInt32) ENGINE = MergeTree() ORDER BY w")
    run("INSERT INTO lvx VALUES (7)")
    assert run("SELECT w FROM lvx FORMAT CSV").strip() == "7"


def test_system_mutations_projections_sql_route(spark, tmp_path):
    """system.mutations / system.projections reachable through
    ClickHouse-dialect SQL in the CLI (dataDir conf)."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path)

    def run(sql):
        out = io.StringIO()
        assert run_local(sql, d, spark=spark, out=out) == 0
        return out.getvalue()

    run("CREATE TABLE sm (k UInt32, v Float64) ENGINE = MergeTree() ORDER BY k")
    run("INSERT INTO sm VALUES (1, 1.0), (2, 2.0)")
    run("ALTER TABLE sm DELETE WHERE v > 1.5")
    body = run("SELECT command FROM system.mutations FORMAT CSV")
    assert "DELETE WHERE" in body
    run("ALTER TABLE sm ADD PROJECTION p1 (SELECT k, sum(v) GROUP BY k)")
    body = run("SELECT table, name FROM system.projections FORMAT CSV")
    assert "sm,p1" in body


def test_alter_lifecycle_fuzz_refuses_cleanly(spark, tmp_path):
    """Crash-fuzz the round-6 statement surface (the select_parser_fuzzer
    tier): arbitrary ALTER/partition/lifecycle text must refuse with
    ValueError/ChSqlError (or succeed), never an internal error."""
    import io
    import itertools
    import random

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

    d = str(tmp_path)
    out = io.StringIO()
    run_local("CREATE TABLE fz (m UInt32, v Float64) ENGINE = MergeTree() "
              "ORDER BY v PARTITION BY m", d, spark=spark, out=out)
    run_local("INSERT INTO fz VALUES (1, 1.0)", d, spark=spark, out=out)

    rng = random.Random(42)
    verbs = ["DETACH", "ATTACH", "DROP", "DROP DETACHED", "MOVE", "REPLACE",
             "FREEZE", "MODIFY", "RENAME", "CLEAR", ""]
    tails = ["PARTITION", "PARTITION 1", "PARTITION 'x'", "PARTITION 1 TO",
             "PARTITION 1 TO TABLE", "PARTITION 1 TO VOLUME 'd'",
             "PARTITION 1 FROM", "COLUMN", "COLUMN v", "COLUMN v TO",
             "COLUMN v String Extra", "WITH NAME", "WITH NAME 'a' x", "1; --",
             "PARTITION (1,2)", "COLUMN v TO v"]
    stmts = [f"ALTER TABLE fz {a} {b}" for a, b in itertools.product(verbs, tails)]
    stmts += ["UNDROP TABLE", "DETACH TABLE", "ATTACH TABLE nope",
              "EXCHANGE TABLES fz", "EXCHANGE TABLES fz AND",
              "CHECK TABLE", "WATCH", "WATCH nope LIMIT x",
              "SYSTEM UNFREEZE WITH NAME", "CREATE LIVE VIEW x AS"]
    rng.shuffle(stmts)
    for st in stmts:
        try:
            run_local(st, d, spark=spark, out=io.StringIO())
        except (ValueError, ChSqlError, FileNotFoundError, FileExistsError):
            pass  # clean refusal contract
        except Exception as e:  # pragma: no cover
            raise AssertionError(f"{st!r} raised internal {type(e).__name__}: {e}")
