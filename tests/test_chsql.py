"""ClickHouse-SQL shim (chsql.py): translation unit tests + execution
smoke vs DataFrame equivalents at the smoke SF."""

from __future__ import annotations

import pytest

from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql, ch_sql_to_spark
from tests.conftest import SF_SMOKE


def test_prewhere_merges_into_where():
    out = ch_sql_to_spark(
        "SELECT x FROM t PREWHERE a > 1 WHERE b < 2"
    )
    assert "PREWHERE" not in out.upper()
    assert "WHERE (a > 1) AND (b < 2)" in out


def test_prewhere_without_where():
    out = ch_sql_to_spark("SELECT x FROM t PREWHERE a > 1")
    assert "WHERE a > 1" in out


def test_format_and_settings_stripped():
    out = ch_sql_to_spark(
        "SELECT 1 FROM t SETTINGS max_threads = 4 FORMAT JSONEachRow"
    )
    assert "FORMAT" not in out.upper() and "SETTINGS" not in out.upper()


def _flat(s: str) -> str:
    return (
        s.replace(" (", "(")
        .replace("( ", "(")
        .replace(" )", ")")
        .replace(", ", ",")
        .replace(" ,", ",")
    )


def test_cast_family():
    out = _flat(ch_sql_to_spark("SELECT toInt64(a), toFloat64OrNull(b), toStringOrZero(c)"))
    assert "CAST(a AS BIGINT)" in out
    assert "try_cast" in out


def test_count_if_and_zero_arg_count():
    out = _flat(ch_sql_to_spark("SELECT count(), countIf(a > 1) FROM t"))
    assert "count(*)" in out
    assert "CASE WHEN a > 1 THEN 1 END" in out


def test_quantile_parametric():
    flat = _flat(ch_sql_to_spark("SELECT quantile(0.9)(x) FROM t"))
    assert "percentile_approx(x,0.9)" in flat


def test_refused_function_raises():
    with pytest.raises(ChSqlError):
        ch_sql_to_spark("SELECT topK(5)(x) FROM t")


def test_multiif_becomes_case():
    out = ch_sql_to_spark("SELECT multiIf(a, 1, b, 2, 3)")
    assert "CASE WHEN a THEN 1 WHEN b THEN 2 ELSE 3 END" in out


def test_execution_matches_dataframe(spark):
    got = ch_sql(
        spark,
        """
        SELECT toYear(o_orderdate) AS y, count() AS n
        FROM orders PREWHERE o_totalprice > 1000
        GROUP BY y ORDER BY y
        """,
        SF_SMOKE,
    ).collect()
    want = spark.sql(
        """
        SELECT year(o_orderdate) AS y, count(*) AS n
        FROM orders WHERE o_totalprice > 1000
        GROUP BY y ORDER BY y
        """
    ).collect()
    assert got == want


def test_limit_by_execution(spark):
    rows = ch_sql(
        spark,
        """
        SELECT o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC LIMIT 2 BY o_custkey
        """,
        SF_SMOKE,
    ).collect()
    from collections import Counter

    per_key = Counter(r.o_custkey for r in rows)
    assert per_key and max(per_key.values()) <= 2


def test_create_function_macro_expansion():
    ch_sql_to_spark("CREATE FUNCTION plus_one AS (x) -> x + 1")
    flat = _flat(ch_sql_to_spark("SELECT plus_one(a * 2) FROM t"))
    assert "((a * 2) + 1)" in flat.replace("(  ", "(")


def test_create_function_uses_ch_dialect_in_body():
    ch_sql_to_spark("CREATE FUNCTION order_year AS (d) -> toYear(d)")
    flat = _flat(ch_sql_to_spark("SELECT order_year(o_orderdate) FROM orders"))
    assert "year((o_orderdate))" in flat


def test_create_function_nested_macros():
    ch_sql_to_spark("CREATE FUNCTION inc AS (x) -> x + 1")
    ch_sql_to_spark("CREATE FUNCTION inc2 AS (x) -> inc(inc(x))")
    flat = _flat(ch_sql_to_spark("SELECT inc2(7)"))
    assert flat.count("+ 1") == 2


def test_array_join_rewrite(spark):
    out = ch_sql_to_spark("SELECT x FROM t ARRAY JOIN arr AS x WHERE x > 1")
    assert "LATERAL VIEW explode" in out and "AS x" in out and "ARRAY" not in out.upper().replace("LATERAL","")
    out2 = ch_sql_to_spark("SELECT x FROM t LEFT ARRAY JOIN arr AS x")
    assert "LATERAL VIEW OUTER explode_outer" in out2


def test_array_join_executes(spark):
    spark.createDataFrame([(1, [10, 20]), (2, [])], "id int, arr array<int>").createOrReplaceTempView(
        "aj_t"
    )
    rows = spark.sql(ch_sql_to_spark("SELECT id, v FROM aj_t ARRAY JOIN arr AS v")).collect()
    assert sorted((r.id, r.v) for r in rows) == [(1, 10), (1, 20)]
    rows = spark.sql(ch_sql_to_spark("SELECT id, v FROM aj_t LEFT ARRAY JOIN arr AS v")).collect()
    assert sorted([(r.id, r.v) for r in rows], key=str) == sorted(
        [(1, 10), (1, 20), (2, None)], key=str
    )


def test_global_and_final_stripped(spark):
    out = ch_sql_to_spark("SELECT a FROM t FINAL WHERE a GLOBAL IN (SELECT a FROM u)")
    assert "FINAL" not in out.upper() and "GLOBAL" not in out.upper()


def test_date_preimage_rewrite_pushes_down(spark):
    """toYear(col)=N must become a sargable range so the parquet scan
    gets PushedFilters (reference OptimizeDateOrDateTimeConverterWith-
    PreimagePass)."""
    out = ch_sql_to_spark("SELECT count(*) AS n FROM orders WHERE toYear(o_orderdate) = 1996")
    assert ">=" in out and "<" in out and "toYear".lower() not in out.lower()
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    df = ch_sql(spark, "SELECT count(*) AS n FROM orders WHERE toYear(o_orderdate) = 1996",
                sf_dir="/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "IsNotNull(o_orderdate)" in plan
    # and the rewrite preserves semantics
    n = df.first().n
    want = spark.sql(
        "SELECT count(*) AS n FROM orders "
        "WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'"
    ).first().n
    assert n == want


def test_date_preimage_yyyymm_and_inequalities(spark):
    out = ch_sql_to_spark("SELECT 1 FROM t WHERE toYYYYMM(d) = 199612")
    assert "'1996-12-01'" in out and "'1997-01-01'" in out
    out2 = ch_sql_to_spark("SELECT 1 FROM t WHERE toYear(d) >= 1995")
    assert "d >= '1995-01-01'" in out2
    out3 = ch_sql_to_spark("SELECT 1 FROM t WHERE toYear(d) <= 1995")
    assert "d < '1996-01-01'" in out3


def test_final_global_as_identifiers_survive(spark):
    # bare column named `final` / alias named `global` must NOT be stripped
    out = ch_sql_to_spark("SELECT final FROM t")
    assert "final" in out.split()
    out2 = ch_sql_to_spark("SELECT a AS global FROM t")
    assert "global" in out2.split()
    # table FINAL and GLOBAL IN still stripped
    out3 = ch_sql_to_spark("SELECT a FROM t FINAL WHERE a GLOBAL IN (SELECT a FROM u)")
    assert "FINAL" not in out3.upper() and "GLOBAL" not in out3.upper()
    out4 = ch_sql_to_spark("SELECT a FROM t GLOBAL LEFT JOIN u ON t.a = u.a")
    assert "GLOBAL" not in out4.upper()


def test_array_join_multi_lockstep(spark):
    """ClickHouse multi-ARRAY JOIN zips the arrays (parallel iteration),
    it does not cross-product."""
    spark.createDataFrame(
        [(1, [10, 20], ["x", "y"])], "id int, a array<int>, b array<string>"
    ).createOrReplaceTempView("aj_multi")
    sql = ch_sql_to_spark("SELECT id, va, vb FROM aj_multi ARRAY JOIN a AS va, b AS vb")
    rows = spark.sql(sql).collect()
    assert sorted((r.id, r.va, r.vb) for r in rows) == [(1, 10, "x"), (1, 20, "y")]


def test_array_join_expression_requires_alias():
    import pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

    with pytest.raises(ChSqlError, match="explicit"):
        ch_sql_to_spark("SELECT v FROM t ARRAY JOIN splitByChar(',', s)")
    # with an alias it translates
    out = ch_sql_to_spark("SELECT v FROM t ARRAY JOIN splitByChar(',', s) AS v")
    assert "LATERAL VIEW" in out and "AS v" in out


def test_collate_rewrite_executes(spark):
    spark.createDataFrame(
        [("b",), ("A",), ("a",), ("B",)], ["s"]
    ).createOrReplaceTempView("col_t")
    sql = ch_sql_to_spark("SELECT s FROM col_t ORDER BY s COLLATE 'en', s")
    assert "collate" in sql and "'UNICODE_CI'" in sql
    rows = [r.s for r in spark.sql(sql).collect()]
    assert rows == ["A", "a", "B", "b"]


def test_ch_explain_modes(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_explain

    spark.range(10).selectExpr("id AS k", "id * 2 AS v").createOrReplaceTempView("ex_t")
    sql = "SELECT k, sum(v) FROM ex_t WHERE k > 2 GROUP BY k"
    assert "Aggregate" in ch_explain(spark, sql, "PLAN")
    pipe = ch_explain(spark, sql, "PIPELINE")
    assert "HashAggregate" in pipe
    assert "SELECT" in ch_explain(spark, sql, "SYNTAX")
    assert "Statistics" in ch_explain(spark, sql, "ESTIMATE")


def test_local_entrypoint_formats(spark):
    """clickhouse-local analogue (SURVEY §3 entry point C): CH-dialect
    SQL over a parquet dir, FORMAT suffix selects serialization."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from tests.conftest import SF_SMOKE

    out = io.StringIO()
    rc = run_local(
        "SELECT r_name, count() AS n FROM region GROUP BY r_name "
        "ORDER BY r_name FORMAT CSVWithNames",
        SF_SMOKE,
        spark=spark,
        out=out,
    )
    assert rc == 0
    lines = out.getvalue().strip().splitlines()
    assert lines[0] == "r_name,n"
    assert len(lines) == 6  # 5 regions + header

    out2 = io.StringIO()
    run_local(
        "SELECT n_name FROM nation ORDER BY n_name LIMIT 2 FORMAT JSONEachRow",
        SF_SMOKE,
        spark=spark,
        out=out2,
    )
    import json as _json

    recs = [_json.loads(line) for line in out2.getvalue().strip().splitlines()]
    assert len(recs) == 2 and "n_name" in recs[0]

    out3 = io.StringIO()
    run_local("SELECT 1 AS x FORMAT Pretty", SF_SMOKE, spark=spark, out=out3)
    assert "x" in out3.getvalue()

    # FORMAT is cut off the text as written: runs of spaces inside a
    # literal survive, and booleans print as the reference prints them
    out4 = io.StringIO()
    run_local("SELECT 'a  b' AS s, length('a  b') AS n,\n1 = 1 AS t FORMAT CSV",
              SF_SMOKE, spark=spark, out=out4)
    assert out4.getvalue().splitlines() == ["a  b,4,true"]
    out5 = io.StringIO()
    run_local("SELECT 1 = 2 AS f FORMAT TabSeparated", SF_SMOKE, spark=spark, out=out5)
    assert out5.getvalue() == "false\n"


@pytest.mark.parametrize("fmt, line", [
    ("TabSeparated", "[true,NULL]\t{'k':false}\t(1,'a')\t['x\\'y']\ttrue\tb\t"),
    ("CSV", "\"[true,NULL]\",{'k':false},\"(1,'a')\",['x\\'y'],true,b,"),
])
def test_emit_nested_cells(fmt, line):
    """Nested cells print as the reference prints them: booleans as
    true/false, NULL as NULL, strings single-quoted inside a container;
    top-level cells keep their plain text."""
    import io

    from pyspark.sql import Row

    from clickhouse_25_5_3_75_stable_spark.__main__ import _emit

    out = io.StringIO()
    _emit([([True, None], {"k": False}, Row(a=1, b="a"), ["x'y"], True, "b", None)],
          ["a", "m", "t", "s", "f", "v", "n"], fmt, out)
    assert out.getvalue().splitlines() == [line]


def test_statement_path_has_no_python_rdds_or_raising_conf_gets():
    """The modules every CLI/HTTP statement runs through parallelize no
    Python list (a Python worker per core) and read no conf without a
    default (an unset key raises through py4j, 20-30 ms each)."""
    import ast
    import pathlib

    import clickhouse_25_5_3_75_stable_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    bad = []
    for rel in ("__main__.py", "http_server.py", "chsql.py", "statements.py",
                "sources/catalog.py", "sources/table_functions.py",
                "sources/system_tables.py"):
        for node in ast.walk(ast.parse((root / rel).read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Attribute)):
                continue
            owner, attr = node.func.value.attr, node.func.attr
            if ((owner, attr) == ("sparkContext", "parallelize")
                    or ((owner, attr) == ("conf", "get")
                        and len(node.args) + len(node.keywords) < 2)):
                bad.append(f"{rel}:{node.lineno} {owner}.{attr}")
    assert bad == []


def test_one_table_reader():
    """A data-dir table is read only through sources/catalog.py (table,
    register), so every reader shares its remembered relation: no other
    engine module calls load_table."""
    import ast
    import pathlib

    import clickhouse_25_5_3_75_stable_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "sources" / "catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and "load_table" in (
                    getattr(node.func, "id", None), getattr(node.func, "attr", None)):
                bad.append(f"{path.relative_to(root)}:{node.lineno}")
    assert bad == []


def test_http_interface(spark):
    """HTTP entry point (SURVEY §3 B): /ping, GET ?query=, POST body,
    FORMAT honored, errors surface with 400."""
    import urllib.parse
    import urllib.request

    from clickhouse_25_5_3_75_stable_spark.http_server import serve_in_thread
    from tests.conftest import SF_SMOKE

    srv, port = serve_in_thread(spark, SF_SMOKE)
    try:
        base = f"http://127.0.0.1:{port}"
        assert urllib.request.urlopen(f"{base}/ping").read() == b"Ok\n"
        q = urllib.parse.quote("SELECT count() AS n FROM nation FORMAT CSVWithNames")
        body = urllib.request.urlopen(f"{base}/?query={q}").read().decode()
        assert body.splitlines() == ["n", "25"]
        # POST with the query as body
        req = urllib.request.Request(
            f"{base}/", data=b"SELECT 1 AS one FORMAT JSONEachRow", method="POST"
        )
        assert b'"one": 1' in urllib.request.urlopen(req).read()
        # bad query -> 400 with CH-style error prefix
        qbad = urllib.parse.quote("SELECT nosuchcol FROM nation")
        try:
            urllib.request.urlopen(f"{base}/?query={qbad}")
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"Code: 62" in e.read()
    finally:
        srv.shutdown()


def test_with_totals_rewrite(spark):
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "k string, v int"
    ).createOrReplaceTempView("tot_t")
    sql = ch_sql_to_spark("SELECT k, sum(v) AS s FROM tot_t GROUP BY k WITH TOTALS")
    assert "GROUPING SETS" in sql.upper()
    rows = {r.k: r.s for r in spark.sql(sql).collect()}
    assert rows == {"a": 3, "b": 10, None: 13}  # NULL key = totals row


def test_array_literals_and_hof_swap(spark):
    assert ch_sql(spark, "SELECT arrayMap(x -> x * 2, [1,2,3]) AS d").collect()[0].d == [2, 4, 6]
    assert ch_sql(spark, "SELECT arrayMap((x,y) -> x + y, [1,2], [10,20]) AS z").collect()[0].z == [11, 22]
    assert ch_sql(spark, "SELECT arrayFilter(x -> x > 1, [1,2,3]) AS f").collect()[0].f == [2, 3]
    assert ch_sql(spark, "SELECT arrayCount(x -> x > 1, [1,2,3]) AS c").collect()[0].c == 2
    assert ch_sql(spark, "SELECT arrayFirst(x -> x > 1, [1,2,3]) AS a").collect()[0].a == 2
    assert ch_sql(spark, "SELECT arrayFirstIndex(x -> x > 9, [1,2,3]) AS i").collect()[0].i == 0
    assert ch_sql(spark, "SELECT arraySum([1.5, 2.5]) AS s").collect()[0].s == 4.0
    assert ch_sql(spark, "SELECT [[1,2],[3]] AS n").collect()[0].n == [[1, 2], [3]]
    # indexing stays indexing
    row = ch_sql(spark, "SELECT ([5,6,7])[2] AS e").collect()[0]
    assert row.e == 6


def test_ternary_operator(spark):
    r = ch_sql(spark, "SELECT 2 > 1 ? 'big' : 'small' AS z").collect()[0]
    assert r.z == "big"
    # ternary binds loosest: condition spans the AND
    r = ch_sql(spark, "SELECT 1 = 1 AND 2 > 3 ? 'x' : 'y' AS z").collect()[0]
    assert r.z == "y"
    # nested in a function argument
    r = ch_sql(spark, "SELECT if(true, 2 > 1 ? 'a' : 'b', 'c') AS z").collect()[0]
    assert r.z == "a"


def test_tuple_positional_access(spark):
    assert ch_sql(spark, "SELECT tuple(1,'x').2 AS s").collect()[0].s == "x"
    assert ch_sql(spark, "SELECT tupleElement(tuple('a', 5), 2) AS e").collect()[0].e == 5
    assert ch_sql(spark, "SELECT tupleElement(named_struct('k', 9), 'k') AS v").collect()[0].v == 9


def test_widened_function_renames(spark):
    checks = [
        ("SELECT uniqExact(x) AS u FROM (SELECT explode(array(1,1,2)) AS x)", "u", 2),
        ("SELECT has([1,2], 2) AS h", "h", True),
        ("SELECT hasAll([1,2,3], [1,2]) AS h", "h", True),
        ("SELECT hasAny([1,2], [9,2]) AS h", "h", True),
        ("SELECT indexOf([9,8,7], 8) AS i", "i", 2),
        ("SELECT countEqual([1,2,2], 2) AS c", "c", 2),
        ("SELECT arrayUniq([1,1,2]) AS c", "c", 2),
        ("SELECT arrayPopBack([1,2,3]) AS a", "a", [1, 2]),
        ("SELECT arrayPopFront([1,2,3]) AS a", "a", [2, 3]),
        ("SELECT arrayStringConcat(['a','b'], '-') AS s", "s", "a-b"),
        ("SELECT extractAll('a1b22', '\\\\d+') AS e", "e", ["1", "22"]),
        ("SELECT extract('a1b2', '(\\\\d)') AS e", "e", "1"),
        ("SELECT exp10(2) AS e", "e", 100.0),
        ("SELECT isNull(NULL) AS a", "a", True),
        ("SELECT toYYYYMM(DATE'2024-03-05') AS m", "m", 202403),
        ("SELECT toDayOfWeek(DATE'2024-03-04') AS d", "d", 1),  # a Monday
        ("SELECT toLowCardinality('x') AS v", "v", "x"),
    ]
    for sql, col, want in checks:
        got = ch_sql(spark, sql).collect()[0][col]
        assert got == want, f"{sql}: {got!r} != {want!r}"


def test_interval_floor_and_timestampadd(spark):
    r = ch_sql(
        spark,
        "SELECT toStartOfInterval(TIMESTAMP'2024-03-05 10:47:33', INTERVAL 15 MINUTE) AS w",
    ).collect()[0]
    assert str(r.w) == "2024-03-05 10:45:00"
    r = ch_sql(
        spark, "SELECT toStartOfFiveMinutes(TIMESTAMP'2024-03-05 10:47:33') AS w"
    ).collect()[0]
    assert str(r.w) == "2024-03-05 10:45:00"
    r = ch_sql(
        spark, "SELECT addHours(TIMESTAMP'2024-03-05 10:00:00', 3) AS w"
    ).collect()[0]
    assert str(r.w) == "2024-03-05 13:00:00"
    r = ch_sql(
        spark, "SELECT subtractMinutes(TIMESTAMP'2024-03-05 10:10:00', 10) AS w"
    ).collect()[0]
    assert str(r.w) == "2024-03-05 10:00:00"


def test_unresolved_names_raise_chsql_error(spark):
    import pytest

    with pytest.raises(ChSqlError):
        ch_sql(spark, "SELECT sumMap(map('a', 1))")
    with pytest.raises(ChSqlError):
        ch_sql(spark, "SELECT untuple(tuple(1,2))")


def test_settings_clause(spark):
    import pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import (
        apply_settings,
        restore_settings,
        settings_snapshot,
    )

    # max_result_rows default result_overflow_mode is THROW
    # (reference Settings.cpp:2606) — exceeding the cap errors;
    # result_overflow_mode='break' truncates instead
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(ChSqlError):
        ch_sql(
            spark,
            "SELECT explode(sequence(1, 100)) AS x SETTINGS max_result_rows = 7, max_threads = 4",
        ).collect()
    rows = ch_sql(
        spark,
        "SELECT explode(sequence(1, 100)) AS x "
        "SETTINGS max_result_rows = 7, max_threads = 4, result_overflow_mode = 'break'",
    ).collect()
    assert len(rows) == 7
    # under-cap results pass through untouched in throw mode
    rows = ch_sql(
        spark,
        "SELECT explode(sequence(1, 5)) AS x SETTINGS max_result_rows = 7",
    ).collect()
    assert len(rows) == 5
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    spark.conf.set("spark.sql.shuffle.partitions", before)
    spark.conf.unset("spark.chspark.maxResultRows")
    spark.conf.unset("spark.chspark.resultOverflowMode")

    # unknown settings raise like the reference's BAD_ARGUMENTS
    with pytest.raises(ChSqlError):
        ch_sql(spark, "SELECT 1 SETTINGS definitely_not_a_setting = 1")

    # explicit scoping helpers restore previous values
    restore = apply_settings(spark, {"max_threads": "9"})
    assert spark.conf.get("spark.sql.shuffle.partitions") == "9"
    restore_settings(spark, restore)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # a managed key unset before a snapshot is unset after its restore
    spark.conf.unset("spark.chspark.maxResultRows")
    spark.conf.unset("spark.chsql.dialect")
    snap = settings_snapshot(spark)
    apply_settings(spark, {"max_result_rows": "3", "dialect": "kusto"})
    assert spark.conf.get("spark.chsql.dialect") == "kusto"
    restore_settings(spark, snap)
    assert spark.conf.get("spark.chspark.maxResultRows", None) is None
    assert spark.conf.get("spark.chsql.dialect", None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_limit_offset_and_into_outfile(spark, tmp_path):
    import io

    import pytest

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark

    # MySQL-style LIMIT offset, count
    rows = ch_sql(
        spark, "SELECT explode(sequence(1, 10)) AS x ORDER BY x LIMIT 3, 4"
    ).collect()
    assert [r.x for r in rows] == [4, 5, 6, 7]

    # transpiler refuses INTO OUTFILE; the CLI honors it
    with pytest.raises(ChSqlError):
        ch_sql_to_spark("SELECT 1 INTO OUTFILE '/tmp/x.csv'")

    dest = str(tmp_path / "out.csv")
    buf = io.StringIO()
    rc = run_local(
        f"SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey "
        f"LIMIT 2 INTO OUTFILE '{dest}' FORMAT CSV",
        "/root/testdata/sf0.001",
        spark=spark,
        out=buf,
    )
    assert rc == 0
    with open(dest) as fh:
        lines = fh.read().strip().splitlines()
    assert len(lines) == 2 and lines[0].startswith("0,")


def test_cli_backup_restore_statements(spark, tmp_path):
    import io
    import os
    import shutil

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    data = str(tmp_path / "data")
    os.makedirs(data)
    shutil.copy("/root/testdata/sf0.001/region.parquet",
                os.path.join(data, "region.parquet"))
    # table dirs: copy region into a table directory form
    os.makedirs(os.path.join(data, "r2"))
    shutil.copy("/root/testdata/sf0.001/region.parquet",
                os.path.join(data, "r2", "part.parquet"))

    bk = str(tmp_path / "bk")
    os.makedirs(bk)
    buf = io.StringIO()
    assert run_local(f"BACKUP TABLE r2 TO '{bk}'", data, spark=spark, out=buf) == 0
    assert "r2" in buf.getvalue()
    shutil.rmtree(os.path.join(data, "r2"))
    buf = io.StringIO()
    assert run_local(f"RESTORE TABLE r2 FROM '{bk}'", data, spark=spark, out=buf) == 0
    buf = io.StringIO()
    assert run_local("SELECT count() AS n FROM r2", data, spark=spark, out=buf) == 0
    assert buf.getvalue().strip() == "5"


def test_cli_set_statement(spark, tmp_path):
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    before = spark.conf.get("spark.sql.shuffle.partitions")
    buf = io.StringIO()
    assert run_local("SET max_threads = 6", str(tmp_path), spark=spark, out=buf) == 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
    spark.conf.set("spark.sql.shuffle.partitions", before)
    import pytest

    with pytest.raises(Exception):
        run_local("SET bogus_setting = 1", str(tmp_path), spark=spark, out=buf)


def test_cli_multiquery_script(spark, tmp_path):
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_script

    data = str(tmp_path / "mq")
    os.makedirs(data)
    buf = io.StringIO()
    script = """
        CREATE TABLE kv (k Int64, v String) ENGINE = MergeTree ORDER BY k;
        INSERT INTO kv VALUES (1, 'a'), (2, 'b;c');
        SELECT count() AS n FROM kv;
        SELECT v FROM kv WHERE k = 2 FORMAT CSV;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    lines = buf.getvalue().strip().splitlines()
    assert "2" in lines  # count
    assert "b;c" in lines[-1]  # literal semicolon survived the split


def test_http_url_settings(spark):
    import urllib.request

    from clickhouse_25_5_3_75_stable_spark.http_server import serve_in_thread

    srv, port = serve_in_thread(spark, "/root/testdata/sf0.001")
    try:
        before = spark.conf.get("spark.sql.shuffle.partitions")
        url = (
            f"http://127.0.0.1:{port}/?query="
            + urllib.request.quote("SELECT count() AS n FROM region")
            + "&max_threads=3&max_result_rows=1"
        )
        body = urllib.request.urlopen(url, timeout=60).read().decode()
        assert body.strip() == "5"  # count() over the 5 regions
        # request-scoped: conf restored afterwards
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        # unknown settings in the URL are ignored (they're arbitrary
        # params in the reference too only when recognized)
    finally:
        srv.shutdown()


def test_json_extract_family_in_sql(spark):
    import pytest

    assert ch_sql(spark, "SELECT JSONExtractInt('{\"k\": 87}', 'k') AS v").collect()[0].v == 87
    assert ch_sql(spark, "SELECT JSONExtractString('{\"k\": \"x\"}', 'k') AS v").collect()[0].v == "x"
    assert ch_sql(spark, "SELECT JSONHas('{\"k\": 1}', 'z') AS v").collect()[0].v is False
    assert ch_sql(spark, "SELECT JSONLength('{\"k\": [1,2,3]}', 'k') AS v").collect()[0].v == 3
    # multi-segment literal paths translate since round-6-late; only
    # non-literal segments / negative indices still need the builder
    assert ch_sql(
        spark, "SELECT JSONExtractInt('{\"a\": {\"b\": 3}}', 'a', 'b') AS v"
    ).collect()[0].v == 3
    with pytest.raises(ChSqlError):
        ch_sql(spark, "SELECT JSONExtractInt('{}', 'a', k)")


def test_builder_only_constructs_refuse_with_pointer():
    import pytest

    for sql, frag in [
        ("SELECT n FROM t ORDER BY n WITH FILL FROM 1 TO 10", "fill"),
        ("SELECT a FROM t ASOF JOIN u ON t.k = u.k AND t.ts >= u.ts", "asof_join"),
        ("SELECT a FROM t PASTE JOIN u", "paste_join"),
        ("SELECT n FROM t ORDER BY n WITH FILL INTERPOLATE (v AS v + 1)", "fill"),
    ]:
        with pytest.raises(ChSqlError, match=frag):
            ch_sql_to_spark(sql)


def test_cli_show_statements(spark, tmp_path):
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_script

    data = str(tmp_path / "shows")
    os.makedirs(data)
    buf = io.StringIO()
    script = """
        CREATE TABLE st (k Int64, v String)
            ENGINE = ReplacingMergeTree ORDER BY k;
        SHOW CREATE TABLE st;
        EXISTS TABLE st;
        EXISTS TABLE nope;
        SHOW DATABASES;
        SHOW PROCESSLIST;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    text = buf.getvalue()
    assert "CREATE TABLE st" in text and "ReplacingMergeTree" in text
    assert ("CREATE TABLE st (k Int64, v String) ENGINE = ReplacingMergeTree "
            "ORDER BY k") in text.splitlines()
    lines = [l for l in text.splitlines() if l.strip() in ("0", "1")]
    assert "1" in [l.strip() for l in lines] and "0" in [l.strip() for l in lines]
    assert "default" in text


def test_intdiv_truncates_and_arrayslice_two_arg(spark):
    # reference DivisionUtils.h checkedDivision = C++ `a / b`:
    # truncation toward zero (the intDiv.cpp docstring claims floor
    # but the code truncates — round-3 advisor finding)
    assert ch_sql(spark, "SELECT intDiv(-7, 2) AS v").collect()[0].v == -3
    assert ch_sql(spark, "SELECT intDiv(7, -2) AS v").collect()[0].v == -3
    assert ch_sql(spark, "SELECT intDiv(-7, -2) AS v").collect()[0].v == 3
    assert ch_sql(spark, "SELECT intDiv(9223372036854775807, 1) AS v").collect()[0].v == 9223372036854775807
    assert ch_sql(spark, "SELECT intDiv(7.9, 2) AS v").collect()[0].v == 3
    # review finding: scale-9 decimal rounded 0.9999999999 up to 1
    assert ch_sql(spark, "SELECT intDiv(0.9999999999, 1) AS v").collect()[0].v == 0


def test_intdiv_orzero_ornull_fpe_cases(spark):
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.functions.dialect_extras import (
        CH_FUNCTIONS,
    )

    oz = CH_FUNCTIONS["intdivorzero"]
    on = CH_FUNCTIONS["intdivornull"]
    df = spark.createDataFrame(
        [(-9223372036854775808, -1), (7, 0), (-7, 2)], "a long, b long"
    )
    rows = {
        (r.a, r.b): (r.z, r.n)
        for r in df.select(
            "a", "b", oz(F.col("a"), F.col("b")).alias("z"),
            on(F.col("a"), F.col("b")).alias("n"),
        ).collect()
    }
    # INT64_MIN / -1 would ARITHMETIC_OVERFLOW under ANSI; the
    # reference's divisionLeadsToFPE returns the fallback instead
    assert rows[(-9223372036854775808, -1)] == (0, None)
    assert rows[(7, 0)] == (0, None)
    assert rows[(-7, 2)] == (-3, -3)  # truncation, not floor
    assert ch_sql(spark, "SELECT arraySlice([1,2,3,4,5], 2) AS v").collect()[0].v == [2, 3, 4, 5]
    assert ch_sql(spark, "SELECT arraySlice([1,2,3,4,5], -2) AS v").collect()[0].v == [4, 5]


def test_functional_arithmetic_forms(spark):
    assert ch_sql(spark, "SELECT plus(2, 3) AS v").collect()[0].v == 5
    assert ch_sql(spark, "SELECT modulo(-7, 3) AS v").collect()[0].v == -1
    assert ch_sql(spark, "SELECT negate(multiply(2, 3)) AS v").collect()[0].v == -6
    assert str(
        ch_sql(spark, "SELECT fromUnixTimestamp(0) AS v").collect()[0].v
    ).startswith("1970-01-01")


def test_scalar_with_macro(spark):
    assert ch_sql(spark, "WITH 5 AS k SELECT k * 2 AS v").collect()[0].v == 10
    assert ch_sql(spark, "WITH 2 + 3 AS k, 10 AS j SELECT k * j AS v").collect()[0].v == 50
    # mixing with standard CTEs
    assert ch_sql(
        spark, "WITH 7 AS k, t AS (SELECT 2 AS a) SELECT k * a AS v FROM t"
    ).collect()[0].v == 14
    # standard CTE alone is untouched
    assert ch_sql(spark, "WITH t AS (SELECT 1 AS a) SELECT a AS v FROM t").collect()[0].v == 1


def test_numbers_table_function_in_sql(spark):
    assert ch_sql(spark, "SELECT sum(number) AS v FROM numbers(10)").collect()[0].v == 45
    assert ch_sql(spark, "SELECT max(number) AS v FROM numbers(5, 10)").collect()[0].v == 14


def test_explain_analyze_metrics(spark):
    """EXPLAIN ANALYZE surface: per-operator metrics from the executed
    adaptive plan (ProfileEvents analogue)."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_explain
    from clickhouse_25_5_3_75_stable_spark.profiler import explain_analyze

    df = spark.sql(
        "SELECT id % 3 AS g, count(*) AS n FROM range(100) GROUP BY id % 3"
    )
    rows = explain_analyze(df)
    names = [name for _, name, _ in rows]
    assert any("HashAggregate" in n for n in names)
    assert any("Exchange" in n for n in names)
    scan = [m for _, n, m in rows if n == "Range"]
    assert scan and scan[0]["numOutputRows"] == 100
    final_agg = [m for _, n, m in rows if "HashAggregate" in n]
    assert final_agg[0]["numOutputRows"] == 3  # final: one row per group

    text = ch_explain(spark, "SELECT count() FROM numbers(50)", mode="ANALYZE")
    assert "numOutputRows" in text and "Range" in text


def test_order_by_defaults_nulls_last(spark):
    """CH default NULL ordering is LAST in either direction; Spark's
    ASC default is NULLS FIRST — the shim pins it explicitly."""
    spark.sql("SELECT * FROM VALUES (1), (NULL), (2) AS t(x)").createOrReplaceTempView("nt")
    assert [r.x for r in ch_sql(spark, "SELECT x FROM nt ORDER BY x").collect()] == [1, 2, None]
    assert [r.x for r in ch_sql(spark, "SELECT x FROM nt ORDER BY x DESC").collect()] == [2, 1, None]
    # explicit NULLS positioning is preserved
    assert [r.x for r in ch_sql(spark, "SELECT x FROM nt ORDER BY x NULLS FIRST").collect()] == [None, 1, 2]


def test_http_insert_body_payload(spark, tmp_path):
    import os
    import urllib.request

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.http_server import serve_in_thread

    import io

    data = str(tmp_path / "httpins")
    os.makedirs(data)
    run_local(
        "CREATE TABLE hv (k Int64, v String) ENGINE = MergeTree ORDER BY k",
        data, spark=spark, out=io.StringIO(),
    )
    srv, port = serve_in_thread(spark, data)
    try:
        stmt = urllib.request.quote("INSERT INTO hv FORMAT JSONEachRow")
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/?query={stmt}",
            data=b'{"k": 1, "v": "x"}\n{"k": 2, "v": "y"}',
            method="POST",
        )
        urllib.request.urlopen(req, timeout=60).read()
        got = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/?query="
            + urllib.request.quote("SELECT count() AS n FROM hv"),
            timeout=60,
        ).read().decode()
        assert got.strip() == "2"
    finally:
        srv.shutdown()


def test_with_fill_executes_in_ch_sql(spark):
    """ORDER BY ... WITH FILL runs through ch_sql (clause stripped,
    dense-axis join applied — reference FillingTransform semantics:
    TO exclusive, rows outside the range kept, default step 1)."""
    spark.sql(
        "SELECT * FROM VALUES (1, 10.0), (3, 30.0), (6, 60.0) AS t(n, v)"
    ).createOrReplaceTempView("ft")
    rows = ch_sql(spark, "SELECT n, v FROM ft ORDER BY n WITH FILL").collect()
    assert [(r.n, r.v) for r in rows] == [
        (1, 10.0), (2, None), (3, 30.0), (4, None), (5, None), (6, 60.0)
    ]
    ns = [r.n for r in ch_sql(
        spark, "SELECT n, v FROM ft ORDER BY n WITH FILL FROM 0 TO 9 STEP 2"
    ).collect()]
    assert ns == [0, 1, 2, 3, 4, 6, 8]  # grid 0,2,4,6,8 + original 1,3
    assert [r.n for r in ch_sql(
        spark, "SELECT n, v FROM ft ORDER BY n DESC WITH FILL"
    ).collect()] == [6, 5, 4, 3, 2, 1]
    # dates fill daily
    spark.sql(
        "SELECT * FROM VALUES (DATE'2024-01-01', 1), (DATE'2024-01-04', 4) AS t(d, v)"
    ).createOrReplaceTempView("fd")
    ds = [str(r.d) for r in ch_sql(spark, "SELECT d, v FROM fd ORDER BY d WITH FILL").collect()]
    assert ds == ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    # the bare transpiler still refuses (text-to-text has no executor)
    import pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark

    with pytest.raises(ChSqlError):
        ch_sql_to_spark("SELECT n FROM ft ORDER BY n WITH FILL")


def test_asof_join_executes_in_ch_sql(spark):
    """ASOF [LEFT] JOIN subset runs through ch_sql via the
    operators/joins builder (backward for >=, forward for <=)."""
    spark.sql("""SELECT * FROM VALUES
      (1, TIMESTAMP'2024-01-01 10:00:00'),
      (1, TIMESTAMP'2024-01-01 12:00:00'),
      (2, TIMESTAMP'2024-01-01 11:00:00') AS t(uid, ts)""").createOrReplaceTempView("asof_clicks")
    spark.sql("""SELECT * FROM VALUES
      (1, TIMESTAMP'2024-01-01 09:30:00', 100.0),
      (1, TIMESTAMP'2024-01-01 11:30:00', 110.0),
      (2, TIMESTAMP'2024-01-01 12:00:00', 200.0) AS t(uid, pts, price)""").createOrReplaceTempView("asof_prices")
    rows = ch_sql(spark, """
      SELECT c.uid, c.ts, p.price
      FROM asof_clicks AS c ASOF LEFT JOIN asof_prices AS p
      ON c.uid = p.uid AND c.ts >= p.pts
      ORDER BY c.uid, c.ts
    """).collect()
    assert [(r.uid, r.price) for r in rows] == [(1, 100.0), (1, 110.0), (2, None)]
    rows = ch_sql(spark, """
      SELECT c.uid, p.price
      FROM asof_clicks AS c ASOF LEFT JOIN asof_prices AS p
      ON c.uid = p.uid AND c.ts <= p.pts
      ORDER BY c.uid, c.ts
    """).collect()
    assert [(r.uid, r.price) for r in rows] == [(1, 110.0), (1, None), (2, 200.0)]
    # malformed ON raises the contract error
    import pytest

    with pytest.raises(ChSqlError):
        ch_sql(spark, "SELECT 1 FROM asof_clicks AS c ASOF JOIN asof_prices AS p ON c.uid = p.uid")


def test_paste_join_executes_in_ch_sql(spark):
    spark.sql("SELECT * FROM VALUES (3), (1), (2) AS t(a)").createOrReplaceTempView("pj_l")
    spark.sql("SELECT * FROM VALUES ('z'), ('x'), ('y') AS t(b)").createOrReplaceTempView("pj_r")
    rows = ch_sql(spark, "SELECT a, b FROM pj_l PASTE JOIN pj_r ORDER BY a").collect()
    # both sides sorted: (1,x),(2,y),(3,z)
    assert [(r.a, r.b) for r in rows] == [(1, "x"), (2, "y"), (3, "z")]


def test_sample_clause_refuses_with_pointer():
    import pytest

    with pytest.raises(ChSqlError, match="sample_by_key"):
        ch_sql_to_spark("SELECT count() FROM lineitem SAMPLE 0.1")


def test_review_findings_round3(spark, tmp_path):
    """Regression tests for the round-3 code-review findings."""
    import io
    import os

    import pytest

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local, run_script

    # 1. ASOF JOIN (inner) drops unmatched left rows
    spark.sql("""SELECT * FROM VALUES
      (1, TIMESTAMP'2024-01-01 10:00:00'),
      (2, TIMESTAMP'2024-01-01 11:00:00') AS t(uid, ts)""").createOrReplaceTempView("rf_l")
    spark.sql("""SELECT * FROM VALUES
      (1, TIMESTAMP'2024-01-01 09:00:00', 5.0) AS t(uid, pts, p)""").createOrReplaceTempView("rf_r")
    inner = ch_sql(spark, """
      SELECT l.uid, r.p FROM rf_l AS l ASOF JOIN rf_r AS r
      ON l.uid = r.uid AND l.ts >= r.pts""").collect()
    assert [(r.uid, r.p) for r in inner] == [(1, 5.0)]  # uid=2 dropped

    # 3+4. CLI honors SETTINGS (incl. unknown-name rejection) and
    # max_result_rows via SET
    data = str(tmp_path / "rf")
    os.makedirs(data)
    buf = io.StringIO()
    with pytest.raises(ChSqlError):
        run_local("SELECT 1 SETTINGS nonsense_setting = 1", data,
                  spark=spark, out=buf)
    buf = io.StringIO()
    script = """
        SET max_result_rows = 3;
        SET result_overflow_mode = 'break';
        SELECT number FROM numbers(10) ORDER BY number;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    nums = [l for l in buf.getvalue().splitlines() if l.strip().isdigit()]
    spark.conf.unset("spark.chspark.maxResultRows")
    spark.conf.unset("spark.chspark.resultOverflowMode")
    assert nums == ["0", "1", "2"]  # capped at 3 result rows (break mode)

    # 5. quoted date bounds in WITH FILL
    spark.sql(
        "SELECT * FROM VALUES (DATE'2024-01-01', 1), (DATE'2024-01-03', 3) AS t(d, v)"
    ).createOrReplaceTempView("rf_fill")
    ds = [str(r.d) for r in ch_sql(
        spark,
        "SELECT d, v FROM rf_fill ORDER BY d WITH FILL FROM '2024-01-01' TO '2024-01-05'",
    ).collect()]
    assert ds == ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]

    # 9. scalar WITH name reused as an output alias
    assert ch_sql(spark, "WITH 5 AS k SELECT 2 * k AS k").collect()[0].k == 10


def test_review_findings_round3b(spark, tmp_path):
    """Second review batch regressions."""
    import io
    import os

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_script

    # CTAS keeps ENGINE args: FINAL folds on the declared version col
    data = str(tmp_path / "rf2")
    os.makedirs(data)
    buf = io.StringIO()
    script = """
        CREATE TABLE src (id Int64, ver Int64, v String) ENGINE = MergeTree ORDER BY id;
        INSERT INTO src VALUES (1, 1, 'old'), (1, 2, 'new');
        CREATE TABLE rv ENGINE = ReplacingMergeTree(ver) ORDER BY id AS SELECT * FROM src;
        SELECT v FROM rv FINAL;
    """
    assert run_script(script, data, spark=spark, out=buf) == 0
    assert buf.getvalue().strip().splitlines()[-1] == "new"

    # FINAL after JOIN folds too
    buf = io.StringIO()
    script2 = """
        CREATE TABLE dim (id Int64, ver Int64, name String)
            ENGINE = ReplacingMergeTree(ver) ORDER BY id;
        INSERT INTO dim VALUES (1, 1, 'a'), (1, 2, 'b');
        SELECT count() AS n FROM src JOIN dim FINAL ON src.id = dim.id;
    """
    assert run_script(script2, data, spark=spark, out=buf) == 0
    assert buf.getvalue().strip().splitlines()[-1] == "2"  # 2 src rows x 1 folded dim

    # max_result_rows = 0 means unlimited
    buf = io.StringIO()
    assert run_script(
        "SET max_result_rows = 0; SELECT number FROM numbers(5);",
        data, spark=spark, out=buf,
    ) == 0
    spark.conf.unset("spark.chspark.maxResultRows")
    assert len([l for l in buf.getvalue().splitlines() if l.strip().isdigit()]) == 5

    # DESC WITH FILL FROM high TO low
    spark.sql("SELECT * FROM VALUES (9, 1.0), (6, 2.0) AS t(n, v)").createOrReplaceTempView("rfd")
    ns = [r.n for r in ch_sql(
        spark, "SELECT n, v FROM rfd ORDER BY n DESC WITH FILL FROM 9 TO 4"
    ).collect()]
    assert ns == [9, 8, 7, 6, 5]  # TO exclusive at the bottom

    # ASOF inner keeps matches whose first payload field is NULL
    spark.sql("SELECT * FROM VALUES (1, TIMESTAMP'2024-01-01 10:00:00') AS t(uid, ts)").createOrReplaceTempView("rfa_l")
    spark.sql("SELECT * FROM VALUES (1, TIMESTAMP'2024-01-01 09:00:00', CAST(NULL AS DOUBLE), 7) AS t(uid, pts, price, qty)").createOrReplaceTempView("rfa_r")
    rows = ch_sql(spark, """
      SELECT l.uid, r.price, r.qty FROM rfa_l AS l ASOF JOIN rfa_r AS r
      ON l.uid = r.uid AND l.ts >= r.pts""").collect()
    assert len(rows) == 1 and rows[0].qty == 7 and rows[0].price is None


def test_lake_and_file_table_functions(spark, tmp_path):
    """deltaLake()/file() in the FROM clause materialize through the
    Python readers (TableFunctionObjectStorage.cpp:354-360); string
    literals containing 'file(...)' must NOT be rewritten; schema-needing
    formats raise with a pointer to INSERT ... FROM INFILE."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    # file(): CSV with header through the format table's csv source
    csv = tmp_path / "pts.csv"
    csv.write_text("a,b\n1,x\n2,y\n3,z\n")
    r = ch_sql(
        spark, f"SELECT count(*) AS n, max(a) AS ma FROM file('{csv}', 'CSVWithNames')"
    ).collect()[0]
    assert r.n == 3 and r.ma == 3

    # deltaLake(): log replay via the fixture builder (import the
    # registry first — queries.py owns module-load order)
    from clickhouse_25_5_3_75_stable_spark import queries as _q  # noqa: F401
    from clickhouse_25_5_3_75_stable_spark.queries_lake_formats import (
        _delta_fixture_root,
    )

    root = _delta_fixture_root("/root/testdata/sf0.001")
    got = ch_sql(
        spark, f"SELECT count(*) AS n FROM deltaLake('{root}')"
    ).collect()[0]
    want = ch_sql(
        spark,
        "SELECT count(*) AS n FROM nation WHERE n_regionkey <= 2",
        sf_dir="/root/testdata/sf0.001",
    ).collect()[0]
    assert got.n == want.n > 0

    # not rewritten inside a string literal (no FROM/JOIN before it)
    lit = ch_sql(spark, "SELECT 'file(''x'')' AS s").collect()[0]
    assert lit.s == "file('x')"

    # schema-needing format -> ChSqlError naming the door that has one
    with _pytest.raises(ChSqlError, match="explicit schema"):
        ch_sql(spark, f"SELECT * FROM file('{csv}', 'RowBinary')")


def test_column_transformers(spark):
    """COLUMNS('re') / EXCEPT / REPLACE / APPLY select-list transformers
    (ASTColumnsTransformers.cpp) expand against the catalog schema;
    plain `* EXCEPT (a)` passes through to Spark's native form."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    spark.createDataFrame(
        [(1, 2.0, "x"), (4, 5.0, "y")], "a int, b double, c string"
    ).createOrReplaceTempView("t3_tx")

    assert ch_sql(spark, "SELECT COLUMNS('^[ab]$') FROM t3_tx").columns == ["a", "b"]

    r = ch_sql(spark, "SELECT * APPLY (max) FROM t3_tx").collect()[0]
    assert (r["max(a)"], r["max(c)"]) == (4, "y")

    r = ch_sql(
        spark, "SELECT COLUMNS('^[abc]$') EXCEPT (c) APPLY (sum) FROM t3_tx"
    ).collect()[0]
    assert (r["sum(a)"], r["sum(b)"]) == (5, 7.0)

    rows = ch_sql(
        spark,
        "SELECT * EXCEPT (b) REPLACE (a * 10 AS a) FROM t3_tx "
        "WHERE a > 0 ORDER BY a",
    ).collect()
    assert [(r.a, r.c) for r in rows] == [(10, "x"), (40, "y")]

    # native passthrough keeps Spark semantics
    assert ch_sql(spark, "SELECT * EXCEPT (b) FROM t3_tx").columns == ["a", "c"]

    with _pytest.raises(ChSqlError, match="removed every column"):
        ch_sql(spark, "SELECT COLUMNS('^zzz$') FROM t3_tx").collect()


def test_cli_outfile_binary_formats(spark, tmp_path):
    """INTO OUTFILE ... FORMAT <codec> encodes the collected rows with
    the format table's writer and the output decodes back exactly
    (reference: ParserQueryWithOutput.cpp accepts any registered output
    format)."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.sources.avro_fmt import read_avro
    from clickhouse_25_5_3_75_stable_spark.sources.rowbinary import read_rowbinary
    from tests.conftest import SF_SMOKE

    base = "SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS v FROM nation"

    avro_path = str(tmp_path / "n.avro")
    rc = run_local(
        f"{base} INTO OUTFILE '{avro_path}' FORMAT Avro",
        SF_SMOKE, spark=spark, out=io.StringIO(),
    )
    assert rc == 0
    back = {(r.k, r.v) for r in read_avro(spark, avro_path).collect()}

    rb_path = str(tmp_path / "n.bin")
    rc = run_local(
        f"{base} INTO OUTFILE '{rb_path}' FORMAT RowBinary",
        SF_SMOKE, spark=spark, out=io.StringIO(),
    )
    assert rc == 0
    back2 = {
        (r.k, r.v)
        for r in read_rowbinary(spark, rb_path, [("k", "Int64"), ("v", "String")]).collect()
    }
    want = {
        (int(r.n_nationkey), r.n_name)
        for r in spark.read.parquet(f"{SF_SMOKE}/nation.parquet").collect()
    }
    assert back == back2 == want

    pq_path = str(tmp_path / "n.parquet")
    rc = run_local(
        f"{base} INTO OUTFILE '{pq_path}' FORMAT Parquet",
        SF_SMOKE, spark=spark, out=io.StringIO(),
    )
    assert rc == 0
    assert {(r.k, r.v) for r in spark.read.parquet(pq_path).collect()} == want


def test_with_fill_interpolate_sql(spark):
    """INTERPOLATE in SQL text: identity form carries the previous
    output row's value into FILLED rows only — a real row's genuine
    NULL stays NULL and then propagates (FillingTransform.h evaluates
    over the previous result row, NULL included); expression form is
    refused toward the builder."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    spark.createDataFrame(
        [(1, 10.0, "a"), (4, None, "d"), (6, 60.0, "f")],
        "x int, v double, s string",
    ).createOrReplaceTempView("fi_t")
    rows = ch_sql(
        spark,
        "SELECT x, v, s FROM fi_t ORDER BY x WITH FILL FROM 1 TO 8 "
        "INTERPOLATE (v, s)",
    ).collect()
    assert [tuple(r) for r in rows] == [
        (1, 10.0, "a"), (2, 10.0, "a"), (3, 10.0, "a"),
        (4, None, "d"), (5, None, "d"),
        (6, 60.0, "f"), (7, 60.0, "f"),
    ]
    with _pytest.raises(ChSqlError, match="expression"):
        ch_sql(spark, "SELECT x, v FROM fi_t ORDER BY x WITH FILL "
                      "INTERPOLATE (v AS v + 1)")


def test_select_top_n(spark):
    """SELECT TOP n (ParserSelectQuery.cpp TOP branch) becomes LIMIT;
    TOP n WITH TIES refuses toward the builder."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    spark.createDataFrame(
        [(i,) for i in range(10)], "a int"
    ).createOrReplaceTempView("top_t")
    rows = ch_sql(spark, "SELECT TOP 3 a FROM top_t ORDER BY a DESC").collect()
    assert [r.a for r in rows] == [9, 8, 7]
    rows = ch_sql(spark, "SELECT TOP (2) a FROM top_t ORDER BY a").collect()
    assert [r.a for r in rows] == [0, 1]
    # TOP as an identifier must survive
    spark.createDataFrame([(1,)], "top int").createOrReplaceTempView("id_t")
    assert ch_sql(spark, "SELECT top FROM id_t").collect()[0].top == 1
    with _pytest.raises(ChSqlError, match="TIES"):
        ch_sql(spark, "SELECT TOP 3 WITH TIES a FROM top_t ORDER BY a")


def test_query_parameters(spark):
    """{name:Type} query parameters substitute as typed literals
    (ReplaceQueryParameterVisitor.h): scalars CAST, composites
    from_json, Identifier splices a validated bare name; unset
    parameters raise; non-type {..} text is untouched."""
    import io

    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql
    from tests.conftest import SF_SMOKE

    r = ch_sql(
        spark,
        "SELECT {a:Int64} + 1 AS x, {d:Date} AS d, {arr:Array(Int64)}[2] AS e",
        params={"a": 41, "d": "1996-07-04", "arr": "[10,20,30]"},
    ).collect()[0]
    assert r.x == 42 and str(r.d) == "1996-07-04" and r.e == 20

    # Identifier substitutes a table name
    n = ch_sql(
        spark, "SELECT count() AS n FROM {t:Identifier}",
        sf_dir=SF_SMOKE, params={"t": "region"},
    ).collect()[0].n
    assert n == 5

    with _pytest.raises(ChSqlError, match="not set"):
        ch_sql(spark, "SELECT {missing:Int64}")
    with _pytest.raises(ChSqlError, match="bare identifier"):
        ch_sql(spark, "SELECT 1 FROM {t:Identifier}",
               params={"t": "region; DROP"})
    # {x:notatype} is not a parameter — untouched (map-literal shapes)
    assert ch_sql(spark, "SELECT '{k:vvv}' AS s").collect()[0].s == "{k:vvv}"

    # CLI flag form
    out = io.StringIO()
    rc = run_local(
        "SELECT n_name FROM nation WHERE n_nationkey = {k:Int32} FORMAT CSV",
        SF_SMOKE, spark=spark, out=out, params={"k": "7"},
    )
    assert rc == 0 and len(out.getvalue().strip().splitlines()) == 1


def test_http_query_parameters(spark):
    """param_<name> URL parameters bind {name:Type} placeholders
    (HTTPHandler.cpp customizeContext)."""
    import urllib.parse
    import urllib.request

    from clickhouse_25_5_3_75_stable_spark.http_server import serve_in_thread
    from tests.conftest import SF_SMOKE

    srv, port = serve_in_thread(spark, SF_SMOKE)
    try:
        q = urllib.parse.quote(
            "SELECT count() AS n FROM nation WHERE n_regionkey = {r:Int32} FORMAT CSV"
        )
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/?query={q}&param_r=2"
        ).read().decode()
        assert body.strip() == "5"
        # unset parameter -> 400
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/?query={q}")
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"not set" in e.read()
    finally:
        srv.shutdown()


def test_quantified_any_all(spark):
    """op ANY/ALL (subquery) applies the reference's own
    transformQuantifiedComparison rewrite: = ANY -> IN, != ALL ->
    NOT IN, inequalities -> scalar MIN/MAX subqueries; the any()
    AGGREGATE is untouched."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    spark.createDataFrame([(1,), (3,), (5,)], "a int") \
        .createOrReplaceTempView("qt")
    spark.createDataFrame([(3,), (4,)], "b int") \
        .createOrReplaceTempView("qs")

    def vals(q):
        return sorted(r.a for r in ch_sql(spark, q).collect())

    assert vals("SELECT a FROM qt WHERE a > ANY (SELECT b FROM qs)") == [5]
    assert vals("SELECT a FROM qt WHERE a > ALL (SELECT b FROM qs)") == [5]
    assert vals("SELECT a FROM qt WHERE a < ANY (SELECT b FROM qs)") == [1, 3]
    assert vals("SELECT a FROM qt WHERE a < ALL (SELECT b FROM qs)") == [1]
    assert vals("SELECT a FROM qt WHERE a = ANY (SELECT b FROM qs)") == [3]
    assert vals("SELECT a FROM qt WHERE a != ALL (SELECT b FROM qs)") == [1, 5]
    with _pytest.raises(ChSqlError, match="unsupported combination"):
        ch_sql(spark, "SELECT a FROM qt WHERE a = ALL (SELECT b FROM qs)")
    # aggregate any() untouched
    assert ch_sql(spark, "SELECT any(a) AS a FROM qt").collect()[0].a in (1, 3, 5)


def test_use_query_cache_populates_process_cache(spark, sf_dir):
    """SETTINGS use_query_cache=1 routes the result through the
    process-wide QueryResultCache, so SYSTEM DROP QUERY CACHE acts on
    real state (round-6; the advisor found the CLI path never
    populated it)."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.operators.result_cache import (
        default_cache,
    )

    cache = default_cache()
    cache.clear()
    df = ch_sql(
        spark,
        "SELECT count() AS n FROM region SETTINGS use_query_cache = 1",
        sf_dir,
    )
    assert df.collect()[0].n >= 1
    assert len(cache) == 1
    # second run of the same plan hits the same entry (no growth)
    ch_sql(
        spark,
        "SELECT count() AS n FROM region SETTINGS use_query_cache = 1",
        sf_dir,
    ).collect()
    assert len(cache) == 1
    cache.clear()
    assert len(cache) == 0
    # settings are session-scoped by design — restore so later tests
    # don't persist every result
    spark.conf.set("spark.chspark.useQueryCache", "0")


def test_catalog_view_restored_after_shadowing(spark, monkeypatch):
    """ch_sql(..., sf_dir) syncs the catalog, which replaces a table's
    view only when its files changed or the session lost the view: a
    second sync of an unchanged dir replaces none, and a view shadowed
    with createOrReplaceTempView or dropped comes back."""
    from clickhouse_25_5_3_75_stable_spark.sources import catalog

    ch_sql(spark, "SELECT count() AS n FROM nation", SF_SMOKE).collect()
    replaced = []
    DataFrame = type(spark.range(0))  # the session's concrete class
    install = DataFrame.createOrReplaceTempView
    monkeypatch.setattr(DataFrame, "createOrReplaceTempView",
                        lambda df, name: (replaced.append(name), install(df, name)))
    assert catalog.sync(spark, SF_SMOKE) and replaced == []
    spark.range(3).createOrReplaceTempView("nation")
    rows = ch_sql(spark, "SELECT count() AS n FROM nation", SF_SMOKE).collect()
    assert rows[0].n == 25
    spark.catalog.dropTempView("nation")
    rows = ch_sql(spark, "SELECT count() AS n FROM nation", SF_SMOKE).collect()
    assert rows[0].n == 25
    assert replaced == ["nation", "nation", "nation"]  # the shadow + 2 restores


def test_system_tables_via_sql_text(spark, sf_dir):
    """`SELECT ... FROM system.<name>` works through ch_sql (round-6):
    known system tables rewrite to on-demand temp views; unknown ones
    pass through to a clear TABLE_NOT_FOUND; literals survive."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    rows = ch_sql(
        spark,
        "SELECT name, total_rows FROM system.tables "
        "WHERE name = 'nation'", sf_dir,
    ).collect()
    assert rows[0].name == "nation" and rows[0].total_rows == 25
    n = ch_sql(
        spark, "SELECT count() AS n FROM system.keywords"
    ).collect()[0].n
    assert n > 50
    # a literal containing 'system.' must not be rewritten
    lit = ch_sql(spark, "SELECT 'system.tables' AS s FROM system.one").collect()
    assert lit[0].s == "system.tables"


def test_round6_text_surface_tranche(spark):
    """Round-6-late SQL-text closures: bit ops, base64, basename,
    arrayWithConstant/arrayResize, multi-segment JSON paths, and the
    UNRESOLVED-name guard (case-folded registry lookup)."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    row = ch_sql(
        spark,
        "SELECT bitAnd(6, 3) AS a, bitOr(6, 1) AS b, bitXor(6, 3) AS c,"
        " bitNot(0) AS d, bitShiftLeft(1, 4) AS e, bitShiftRight(16, 2) AS f,"
        " bitCount(255) AS g, bitTest(5, 0) AS h,"
        " bitHammingDistance(5, 6) AS i",
    ).collect()[0]
    assert tuple(row) == (2, 7, 5, -1, 16, 4, 8, 1, 2)
    row = ch_sql(
        spark,
        "SELECT base64Encode('abc') AS a, base64Decode('YWJj') AS b,"
        " basename('/a/b/c.txt') AS c, basename('x\\\\y') AS d,"
        " arrayWithConstant(3, 7) AS e, arrayResize([1,2,3], 2) AS f,"
        " arrayResize([1], 3, 0) AS g",
    ).collect()[0]
    assert (row.a, row.b, row.c, row.d) == ("YWJj", "abc", "c.txt", "y")
    assert (row.e, row.f, row.g) == ([7, 7, 7], [1, 2], [1, 0, 0])
    # multi-segment JSON paths: keys and 1-based indices compose
    row = ch_sql(
        spark,
        "SELECT JSONExtractString('{\"a\":{\"b\":\"y\"}}', 'a', 'b') AS a,"
        " JSONExtractInt('{\"a\":[{\"n\":5},{\"n\":9}]}', 'a', 2, 'n') AS b,"
        " JSONExtractKeys('{\"a\":1,\"b\":2}') AS c",
    ).collect()[0]
    assert (row.a, row.b, row.c) == ("y", 9, ["a", "b"])
    # lambda renders bridge too once prefix ops and double-literal
    # suffixes are repaired
    assert ch_sql(
        spark, "SELECT arrayProduct([1.5, 2.0]) AS a"
    ).collect()[0].a == 3.0
    # literal fallback: impls demanding PYTHON literals (hasToken's
    # needle, dateTrunc's unit, multiSearch*'s needle lists) bridge
    # with the literal values baked into the template
    row = ch_sql(
        spark,
        "SELECT hasToken('a_b c', 'a') AS a, hasToken('abc', 'ab') AS b,"
        " multiSearchAny('hello', ['xx', 'll']) AS c,"
        " notLike('abc', 'a%') AS d,"
        " CAST(dateTrunc('month', toDate('2024-05-15')) AS DATE) AS e",
    ).collect()[0]
    import datetime as _dt

    assert (bool(row.a), bool(row.b), bool(row.c), bool(row.d), row.e) == (
        True, False, True, False, _dt.date(2024, 5, 1))
    assert ch_sql(
        spark,
        "SELECT multiSearchFirstIndex('hello', ['xx', 'll']) AS a",
    ).collect()[0].a == 2
    # registry names whose render can't bridge raise the pointed error
    # — camelCase names included (the guard was case-sensitive before)
    with _pytest.raises(ChSqlError, match="DataFrame"):
        ch_sql(spark, "SELECT mapApply((k, v) -> (k, v + 1), map('a', 1)) AS a")


def test_registry_expression_bridge(spark):
    """Round-6-late: registry Column-functions with no hand-written
    text mapping reach the SQL surface through the expression bridge
    (the function's own Column tree, rendered and re-parsed). Names
    whose render is not valid SQL keep the pointed DataFrame error;
    seed-baking renders re-render per query."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    row = ch_sql(
        spark,
        "SELECT bitmapBuild([3,1,2,1]) AS a,"
        " bitmapAnd(bitmapBuild([1,2,3]), bitmapBuild([2,3,4])) AS b,"
        " bitmapCardinality(bitmapBuild([1,1,2])) AS c,"
        " mapKeys(map('a', 1, 'b', 2)) AS d,"
        " cutQueryString('http://x.com/p?q=1') AS e,"
        " bitmapMax(bitmapBuild([5,9,2])) AS f",
    ).collect()[0]
    assert tuple(row) == ([1, 2, 3], [2, 3], 2, ["a", "b"],
                          "http://x.com/p", 9)
    # prefix-operator renders are NOT bridged — pointed error, never a
    # silent mistranslation
    with _pytest.raises(ChSqlError, match="DataFrame"):
        ch_sql(spark, "SELECT isFinite(1.5) AS a")
    # seed-bearing renders draw fresh randomness per query
    a = ch_sql(spark, "SELECT arrayRandomSample([1,2,3,4,5,6,7,8], 3) AS r")
    b = ch_sql(spark, "SELECT arrayRandomSample([1,2,3,4,5,6,7,8], 3) AS r")
    ra, rb = a.collect()[0].r, b.collect()[0].r
    assert len(ra) == 3 and len(rb) == 3


def test_system_numbers_zeros_and_mapfilter(spark):
    """system.numbers / system.zeros route through SQL text as LAZY
    ranges (LIMIT takes n rows without materializing the 2^40 bound);
    mapFilter arg-swaps onto Spark map_filter."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    rows = ch_sql(spark, "SELECT number FROM system.numbers LIMIT 3").collect()
    assert [r.number for r in rows] == [0, 1, 2]
    s = ch_sql(
        spark,
        "SELECT sum(number) AS s FROM "
        "(SELECT number FROM system.numbers LIMIT 100)",
    ).collect()[0].s
    assert s == 4950
    n = ch_sql(
        spark,
        "SELECT count() AS n FROM (SELECT zero FROM system.zeros LIMIT 5)",
    ).collect()[0].n
    assert n == 5
    m = ch_sql(
        spark,
        "SELECT mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS a",
    ).collect()[0].a
    assert m == {"b": 2}


def test_with_recursive_passthrough(spark):
    """Round-8: WITH RECURSIVE (reference supports recursive CTEs since
    24.4; Spark 4 natively) passes through the shim with CH dialect
    rewrites applied inside (count() -> count(*))."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    rows = ch_sql(spark, """
        WITH RECURSIVE t AS (
            SELECT 1 AS n
            UNION ALL
            SELECT n + 1 FROM t WHERE n < 10
        )
        SELECT sum(n) AS s, count() AS c FROM t
    """).collect()
    assert rows == [(55, 10)]
    # graph reachability: the canonical recursive shape
    spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4), (4, 5)], "src int, dst int"
    ).createOrReplaceTempView("rc_edges")
    rows = ch_sql(spark, """
        WITH RECURSIVE reach AS (
            SELECT dst AS node, 1 AS depth FROM rc_edges WHERE src = 1
            UNION ALL
            SELECT e.dst, r.depth + 1
            FROM reach r JOIN rc_edges e ON e.src = r.node
        )
        SELECT node, depth FROM reach ORDER BY depth, node
    """).collect()
    assert [tuple(r) for r in rows] == [(2, 1), (3, 2), (4, 2), (5, 3)]


def test_round8_aggregate_combinators_and_scalars(spark):
    """Round-8 SQL-route additions: quantileExact/quantilesExact/
    medianExact (exact percentile), anyIf/anyLastIf, -OrNull over
    plain aggregates, countDistinct, CH 3/4-arg transform (value
    mapping, optimizer-safe default path), age (complete units)."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 1.0), (2, "c", 3.0)],
        "k int, s string, v double",
    ).createOrReplaceTempView("r8_t")

    r = ch_sql(spark, """
        SELECT quantileExact(0.5)(v) AS q50,
               medianExact(v) AS med,
               anyIf(s, k = 2) AS ai,
               sumOrNull(v) AS so,
               countDistinct(s) AS cd
        FROM r8_t
    """).collect()[0]
    assert r.q50 == 2.5 and r.med == 2.5
    assert r.ai in ("b", "c") and r.so == 6.5 and r.cd == 3

    r = ch_sql(spark, """
        SELECT countOrNull(v) AS co, sumOrNull(v) AS so FROM r8_t WHERE k > 99
    """).collect()[0]
    assert r.co is None and r.so is None

    r = ch_sql(spark, """
        SELECT transform(2, [1,2,3], ['a','b','c'], 'z') AS hit,
               transform(9, [1,2,3], ['a','b','c'], 'z') AS miss,
               transform(9, [1,2,3], [10,20,30]) AS keep,
               age('hour', toDateTime('2024-01-01 00:00:00'),
                   toDateTime('2024-01-01 05:30:00')) AS ah,
               age('month', toDate('2024-01-15'), toDate('2024-03-14')) AS am,
               age('year', toDate('2020-03-01'), toDate('2024-02-28')) AS ay
    """).collect()[0]
    assert (r.hit, r.miss, r.keep) == ("b", "z", 9)
    assert (r.ah, r.am, r.ay) == (5, 1, 3)

    got = ch_sql(
        spark, "SELECT quantilesExact(0.0, 1.0)(v) AS q FROM r8_t"
    ).collect()[0].q
    assert list(got) == [1.0, 3.0]


def test_view_table_function(spark, sf_dir):
    """view(...) TF = subquery wrapper (TableFunctionView.cpp): bare,
    aliased, AS-aliased, nested, and join positions."""
    assert ch_sql(spark, "SELECT x FROM view(SELECT 1 AS x)").collect()[0].x == 1
    assert ch_sql(spark, "SELECT v.x FROM view(SELECT 2 AS x) AS v"
                  ).collect()[0].x == 2
    r = ch_sql(spark, """
        SELECT n FROM view(
            SELECT count() AS n FROM view(SELECT 1 AS a UNION ALL SELECT 2) q
        ) WHERE n = 2
    """).collect()
    assert r[0].n == 2
    joined = ch_sql(spark, """
        SELECT count() AS n
        FROM orders o JOIN view(SELECT c_custkey FROM customer) v
          ON o.o_custkey = v.c_custkey
    """, sf_dir=sf_dir).collect()
    assert joined[0].n > 0


def test_bare_select_list_apply(spark, sf_dir):
    """`a, b APPLY(f) APPLY(g)` applies the chain to every list item
    and names results f(g(col)) like the */COLUMNS transformer path."""
    row = ch_sql(spark, """
        SELECT o_custkey, o_totalprice APPLY(abs) APPLY(round)
        FROM orders WHERE o_orderkey = 1
    """, sf_dir=sf_dir).collect()[0]
    d = row.asDict()
    assert "round(abs(o_custkey))" in d and "round(abs(o_totalprice))" in d
    # strings containing APPLY stay untouched
    s = ch_sql(spark, "SELECT 'x APPLY(round) y' AS s").collect()[0].s
    assert s == "x APPLY(round) y"


def test_exists_table_statement(spark, sf_dir):
    assert ch_sql(spark, "EXISTS TABLE orders", sf_dir=sf_dir
                  ).collect()[0].result == 1
    assert ch_sql(spark, "EXISTS no_such_r9", sf_dir=sf_dir
                  ).collect()[0].result == 0


def test_show_statements_round9(spark, sf_dir, tmp_path):
    """SHOW PROCESSLIST / SHOW [CHANGED] SETTINGS [LIKE] / SHOW CREATE
    TABLE (InterpreterShow*Query.cpp): processlist = system.processes;
    settings filters; create-statement replay for DDL tables and
    schema synthesis for catalog views."""
    from clickhouse_25_5_3_75_stable_spark.ddl import Database

    assert "status" in ch_sql(spark, "SHOW PROCESSLIST").columns
    names = [r.name for r in
             ch_sql(spark, "SHOW SETTINGS LIKE 'max_result%'").collect()]
    assert "max_result_rows" in names
    stmt = ch_sql(spark, "SHOW CREATE TABLE orders",
                  sf_dir=sf_dir).collect()[0].statement
    assert stmt.startswith("CREATE TABLE orders (o_orderkey Nullable(Int64)")
    assert "ENGINE = MergeTree" in stmt
    db = Database(spark, str(tmp_path))
    db.create_table("CREATE TABLE sc9 (k Int32, v String) "
                    "ENGINE = ReplacingMergeTree PARTITION BY v ORDER BY k")
    spark.conf.set("spark.chspark.dataDir", str(tmp_path))
    try:
        stmt = ch_sql(spark, "SHOW CREATE TABLE sc9").collect()[0].statement
        assert stmt == ("CREATE TABLE sc9 (k Int32, v String) ENGINE = "
                        "ReplacingMergeTree PARTITION BY v ORDER BY k")
    finally:
        spark.conf.unset("spark.chspark.dataDir")


def test_arrayfold_sql_translation(spark):
    """round-9: arrayFold(lambda, arr, init) -> aggregate(arr, init,
    lambda); left fold, accumulator-first lambda both sides."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql

    r = ch_sql(spark, """
        SELECT arrayFold((acc, x) -> acc + x, [1,2,3], toInt64(10)) AS s,
               arrayFold((acc, x) -> concat(acc, toString(x)),
                         [1,2,3], '') AS cat,
               arrayFold((acc, x) -> acc * 2 + x,
                         arrayMap(i -> i + 1, [0,1,2]), toInt64(0)) AS horner
    """).collect()[0]
    assert (r.s, r.cat, r.horner) == (16, "123", 11)
    try:
        ch_sql(spark, "SELECT arrayFold((a,x,y) -> a, [1], [2], 0)")
        raise AssertionError("expected refusal")
    except ChSqlError as e:
        assert "ONE array" in str(e)


# Each case: statements run first through the door (`{door}` names what
# they create, so the two doors do not collide), then the statement whose
# rows are compared, and the rows both doors must give (None: parity only).
_DOOR_CASES = {
    "select_final": ([], "SELECT k, v FROM t FINAL ORDER BY k", [("1", "b")]),
    "insert_select_final": (
        ["CREATE TABLE u_{door} (k Int64, v String) ENGINE = MergeTree ORDER BY k",
         "INSERT INTO u_{door} SELECT k, v FROM t FINAL"],
        "SELECT k, v FROM u_{door} ORDER BY k", [("1", "b")]),
    "ctas_final": (
        ["CREATE TABLE w_{door} ENGINE = MergeTree ORDER BY k "
         "AS SELECT k, v FROM t FINAL"],
        "SELECT k, v FROM w_{door} ORDER BY k", [("1", "b")]),
    "materialized_view_final": (
        ["CREATE MATERIALIZED VIEW m_{door} AS SELECT k, v FROM t FINAL"],
        "SELECT k, v FROM m_{door} ORDER BY k", [("1", "b")]),
    "ctas_system_tables": (
        ["CREATE TABLE s_{door} AS SELECT name FROM system.tables "
         "WHERE name = 'region'"],
        "SELECT name FROM s_{door}", [("region",)]),
    "exists_view": (["CREATE VIEW vv_{door} AS SELECT k FROM t"],
                    "EXISTS vv_{door}", [("1",)]),
    "show_create_flat": ([], "SHOW CREATE TABLE region", None),
    "show_create_replacing": ([], "SHOW CREATE TABLE t", [(
        "CREATE TABLE t (k Int64, v String, ver Int64) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k",)]),
    "describe": ([], "DESCRIBE t",
                 [("k", "bigint"), ("v", "string"), ("ver", "bigint")]),
    "show_tables": ([], "SHOW TABLES", None),
}


@pytest.fixture(scope="module")
def door_dir(spark, tmp_path_factory):
    """A ReplacingMergeTree(ver) table `t` holding two unmerged versions
    of one key, next to a flat region.parquet."""
    import io
    import os
    import shutil

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    d = str(tmp_path_factory.mktemp("doors"))
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), d)
    for sql in ("CREATE TABLE t (k Int64, v String, ver Int64) "
                "ENGINE = ReplacingMergeTree(ver) ORDER BY k",
                "INSERT INTO t VALUES (1, 'a', 1)",
                "INSERT INTO t VALUES (1, 'b', 2)"):
        assert run_local(sql, d, spark=spark, out=io.StringIO()) == 0
    return d


@pytest.mark.parametrize("case", sorted(_DOOR_CASES))
def test_front_doors_agree(spark, door_dir, case):
    """run_local (the CLI/HTTP door) and ch_sql (the library door) give
    the same rows for every statement kind: both run it through ch_sql."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local

    setup, stmt, want = _DOOR_CASES[case]

    def cli(sql):
        out = io.StringIO()
        assert run_local(sql + " FORMAT TSV", door_dir, spark=spark, out=out) == 0
        return [tuple(line.split("\t")) for line in out.getvalue().splitlines()]

    def lib(sql):
        return [tuple("" if v is None else str(v) for v in r)
                for r in ch_sql(spark, sql, sf_dir=door_dir).collect()]

    got = {}
    for door, run in (("cli", cli), ("lib", lib)):
        for sql in setup:
            run(sql.format(door=door))
        got[door] = run(stmt.format(door=door))
    assert got["cli"] == got["lib"]
    if want is not None:
        assert got["cli"] == want
    if case == "show_create_flat":
        assert got["cli"][0][0].startswith(
            "CREATE TABLE region (r_regionkey Nullable(Int")
    if case == "show_tables":
        assert {("region",), ("t",)} <= set(got["cli"])
