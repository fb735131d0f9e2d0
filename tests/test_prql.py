"""PRQL dialect subset (prql.py; reference
src/Parsers/PRQL/ParserPRQLQuery.cpp defers to the prql-compiler's
prql_to_sql — this module is the in-repo PRQL -> SQL analogue)."""

import pytest

from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql


def test_transform_shapes():
    sql = prql_to_sql("""from t
filter x > 3 && s == "a"
derive {y = x * 2}
group {k} (aggregate {n = count this, s2 = sum y})
sort {-s2}
take 5""")
    assert "WHERE x > 3 AND s = 'a'" in sql
    assert "x * 2 AS y" in sql
    assert "count(*) AS n" in sql and "sum(y) AS s2" in sql
    assert "GROUP BY k" in sql and "ORDER BY s2 DESC" in sql
    assert sql.endswith("LIMIT 5")


def test_take_range_and_exclusion_select():
    sql = prql_to_sql("from t\ntake 5..10")
    assert "LIMIT 6 OFFSET 4" in sql  # inclusive range
    sql = prql_to_sql("from t\nselect !{a, b}")
    assert "EXCEPT (a, b)" in sql


def test_join_forms():
    sql = prql_to_sql("from t\njoin side:left u (==k)")
    assert "LEFT JOIN u AS __prql_r USING (k)" in sql
    sql = prql_to_sql("from t\njoin u (a == b)")
    assert "__prql_l.a = __prql_r.b" in sql


def test_group_take_per_group_topn():
    sql = prql_to_sql("""from t
group {k} (
  sort {-v}
  take 2
)""")
    assert "row_number()" in sql and "PARTITION BY k" in sql and "<= 2" in sql


def test_coalesce_and_refusals():
    sql = prql_to_sql("from t\nderive {z = a ?? 0}")
    assert "coalesce(a, 0) AS z" in sql
    with pytest.raises(ChSqlError, match="from"):
        prql_to_sql("select {a}")
    with pytest.raises(ChSqlError, match="window"):
        prql_to_sql("from t\nwindow rows:-2..0 (derive {m = average x})")
    # s-strings translate since round 7; f-strings still refuse
    assert "version() AS z" in prql_to_sql('from t\nderive {z = s"version()"}')
    with pytest.raises(ChSqlError, match="f-string"):
        prql_to_sql('from t\nderive {z = f"{a}-{b}"}')


def test_sstring_interpolation():
    sql = prql_to_sql(
        'from t\nderive {z = s"CAST(floor({a ?? 0} / {10}) AS BIGINT)"}')
    assert "CAST(floor(coalesce(a, 0) / 10) AS BIGINT) AS z" in sql


def test_group_window_nesting():
    sql = prql_to_sql("""from t
group {k} (
  sort {v}
  window rolling:3 (derive {r = sum v})
)""")
    assert ("sum(v) OVER (PARTITION BY k ORDER BY v ASC "
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS r") in sql
    sql2 = prql_to_sql("""from t
group {k} (
  sort {-v}
  window expanding:true (derive {r = count v})
)""")
    assert ("count(v) OVER (PARTITION BY k ORDER BY v DESC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r") in sql2
    with pytest.raises(ChSqlError, match="sort"):
        prql_to_sql("from t\ngroup {k} (window rolling:2 (derive {r = sum v}))")


def test_prql_executes(spark):
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql

    sf = "/root/testdata/sf0.001"
    for t in ("nation", "region", "events"):
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)
    got = prql_sql(spark, """from events
filter value > 100
derive {v2 = value * 2}
group {event_type} (aggregate {n = count this, s = sum v2})
sort {event_type}""").collect()
    want = spark.sql("""
        SELECT event_type, count(*) AS n, sum(value * 2) AS s
        FROM events WHERE value > 100
        GROUP BY event_type ORDER BY event_type
    """).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    got = prql_sql(spark, """from nation
join side:left region (n_regionkey == r_regionkey)
select {n_name, r_name}
sort {n_name}
take 3""").collect()
    assert len(got) == 3 and got[0].r_name is not None


# ---------------------------------------------------------------------------
# round-6: window functions + append
# ---------------------------------------------------------------------------

def test_window_derive_lowering():
    from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql

    sql = prql_to_sql(
        "from t\ngroup {k} (\n  sort {-v}\n  derive {r = rank, "
        "prev = lag v, ma = average v}\n)"
    )
    assert "rank() OVER (PARTITION BY k ORDER BY v DESC)" in sql
    assert "lag(v, 1) OVER" in sql
    assert "avg(v) OVER" in sql and "UNBOUNDED PRECEDING" in sql


def test_window_refusals():
    import pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql

    with pytest.raises(ChSqlError, match="window derive"):
        prql_to_sql("from t\ngroup {k} (\n  sort {v}\n  derive {x = ntile 4}\n)")
    with pytest.raises(ChSqlError, match="remove"):
        prql_to_sql("from t\nremove u")


def test_append_union_all(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql

    spark.createDataFrame([(1,), (2,)], "x int").createOrReplaceTempView("pa_t1")
    spark.createDataFrame([(2,), (3,)], "x int").createOrReplaceTempView("pa_t2")
    sql = prql_to_sql("from pa_t1\nappend pa_t2\nsort {x}")
    assert "UNION ALL" in sql
    got = [r.x for r in ch_sql(spark, sql).collect()]
    assert got == [1, 2, 2, 3]  # ALL semantics: the duplicate survives


def test_top_level_window_verbs(spark):
    """window rows:a..b / expanding:true / rolling:n over the
    pipeline's current sort (round-6)."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql

    spark.createDataFrame([(1, 10), (2, 20), (3, 30), (4, 40)],
                          "i int, v int").createOrReplaceTempView("prql_w_t")
    sql = prql_to_sql(
        "from prql_w_t\nsort {i}\nwindow rows:-1..0 (derive {ma = average v})"
    )
    got = [(r.i, r.ma) for r in ch_sql(spark, sql).orderBy("i").collect()]
    assert got == [(1, 10.0), (2, 15.0), (3, 25.0), (4, 35.0)]
    run = prql_to_sql(
        "from prql_w_t\nsort {i}\nwindow expanding:true (derive {s = sum v})"
    )
    assert [(r.i, r.s) for r in ch_sql(spark, run).orderBy("i").collect()] == [
        (1, 10), (2, 30), (3, 60), (4, 100)]
    roll = prql_to_sql(
        "from prql_w_t\nsort {i}\nwindow rolling:3 (derive {s = sum v})"
    )
    assert [(r.i, r.s) for r in ch_sql(spark, roll).orderBy("i").collect()] == [
        (1, 10), (2, 30), (3, 60), (4, 90)]
    import pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

    with pytest.raises(ChSqlError, match="preceding sort"):
        prql_to_sql("from prql_w_t\nwindow rows:-1..0 (derive {m = sum v})")


def test_prql_loop_semantics(spark, tmp_path):
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql

    spark.createDataFrame([(1,), (10,)], "n int").createOrReplaceTempView(
        "prql_loop_t")
    text = """
from prql_loop_t
loop (
  select {n = n * 2}
  filter n < 30
)
"""
    got = sorted(r.n for r in prql_sql(spark, text).collect())
    # 1 -> 2,4,8,16 (32 filtered); 10 -> 20 (40 filtered); plus base
    assert got == [1, 2, 4, 8, 10, 16, 20]
    # the CLI door (SET dialect = 'prql') runs it through the same prql_sql
    out = io.StringIO()
    out_csv = io.StringIO()
    run_local("SET dialect = 'prql'", str(tmp_path), spark=spark, out=io.StringIO())
    try:
        assert run_local(text, str(tmp_path), spark=spark, out=out) == 0
        # a trailing FORMAT comes off without joining the PRQL lines
        assert run_local(text + "FORMAT CSV", str(tmp_path), spark=spark,
                         out=out_csv) == 0
    finally:
        run_local("SET dialect = 'clickhouse'", str(tmp_path), spark=spark,
                  out=io.StringIO())
    assert sorted(int(v) for v in out.getvalue().split()) == got
    assert sorted(int(v) for v in out_csv.getvalue().split()) == got


def test_prql_loop_refusals(spark):
    import pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql, prql_to_sql

    # text-only path names the runtime route
    with pytest.raises(ChSqlError, match="loop"):
        prql_to_sql("from t\nloop (filter x > 1)")
    # loop with no initial relation
    with pytest.raises(ChSqlError, match="initial"):
        prql_sql(spark, "loop (filter x > 1)")
    # schema drift refuses
    spark.createDataFrame([(1,)], "n int").createOrReplaceTempView("prql_loop_t2")
    with pytest.raises(ChSqlError, match="schema"):
        prql_sql(spark, """
from prql_loop_t2
loop (
  derive {m = n + 1}
  filter n < 0
)
""")
    # non-terminating loop hits the iteration cap
    with pytest.raises(ChSqlError, match="terminate"):
        prql_sql(spark, """
from prql_loop_t2
loop (
  select {n = n + 0}
)
""")


def test_case_expression():
    sql = prql_to_sql(
        'from t\nderive {tier = case [v > 10 => "hi", v > 0 => "lo", '
        'true => "zero"]}')
    assert ("(CASE WHEN v > 10 THEN 'hi' WHEN v > 0 THEN 'lo' "
            "ELSE 'zero' END) AS tier") in sql
    # no true-arm -> NULL for unmatched (CASE default), nested s-string
    sql2 = prql_to_sql('from t\nderive {z = case [k == 1 => s"UPPER({s})"]}')
    assert "(CASE WHEN k = 1 THEN UPPER(s) END) AS z" in sql2
    with pytest.raises(ChSqlError, match="case arm"):
        prql_to_sql("from t\nderive {z = case [v 10]}")


def test_case_text_inside_string_literal_not_rewritten():
    """Round-8 advisor: `case [` INSIDE a string literal must pass
    through verbatim — the case pass runs before literal stashing, so
    its search must be quote-aware."""
    from clickhouse_25_5_3_75_stable_spark.prql import _expr

    assert _expr('s == "case [x => y]"') == "s = 'case [x => y]'"
    # a REAL case around a literal containing `case [` still lowers
    out = _expr('case [a == 1 => "case [inner]", true => "z"]')
    assert out == "(CASE WHEN a = 1 THEN 'case [inner]' ELSE 'z' END)"


def test_sstring_inside_plain_literal_not_interpolated():
    """Round-8 advisor: `s"..."` text inside an earlier plain string
    literal must not be treated as an s-string (single left-to-right
    literal pass)."""
    from clickhouse_25_5_3_75_stable_spark.prql import _expr

    out = _expr('t == "has s\\"x\\" inside"')
    assert out == "t = 'has s\"x\" inside'"
    # real s-string still interpolates
    assert _expr('s"round({x}, 2)"') == "round(x, 2)"


def test_let_functions_and_constants(spark):
    """Round-8 PRQL let bindings: functions expand at parenthesized
    application sites with defaults, constants substitute at bare
    uses, `(f + 2)` stays an expression over column f."""
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql, prql_to_sql

    spark.createDataFrame(
        [(1, 4), (2, 6), (3, 11)], "k int, v int"
    ).createOrReplaceTempView("prql_fn_t")
    got = [tuple(r) for r in prql_sql(spark, """
let double = x -> x * 2
let cut = 5
from prql_fn_t
filter v > cut
derive d = (double v)
select {k, d}
sort k
""").collect()]
    assert got == [(2, 12), (3, 22)]
    # default parameter
    got = [tuple(r) for r in prql_sql(spark, """
let addn = x n:100 -> x + n
from prql_fn_t
derive {a = (addn v), b = (addn v 1)}
select {k, a, b}
sort k
""").collect()]
    assert got == [(1, 104, 5), (2, 106, 7), (3, 111, 12)]
    # `(f + 2)`: f resolves to a COLUMN, not the function
    sql = prql_to_sql("let f = x -> x * 2\nfrom t\nderive y = (f + 2)")
    assert "(f + 2)" in sql


def test_let_relation_variable(spark):
    """Round-8 PRQL relation variables: `let rel = (from ...)` lowers
    to a CTE the main pipeline reads with `from rel`."""
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql

    spark.createDataFrame(
        [(1, 4), (2, 6), (3, 11)], "k int, v int"
    ).createOrReplaceTempView("prql_rel_t")
    got = [tuple(r) for r in prql_sql(spark, """
let big = (from prql_rel_t | filter v > 4)
from big
aggregate {n = count this, s = sum v}
""").collect()]
    assert got == [(2, 17)]


def test_let_function_refusals():
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql

    with pytest.raises(ChSqlError, match="depth"):
        prql_to_sql("let f = x -> (f x)\nfrom t\nderive y = (f v)")
    with pytest.raises(ChSqlError, match="argument"):
        prql_to_sql("let f = x y -> x + y\nfrom t\nderive z = (f v)")
    with pytest.raises(ChSqlError, match="must follow"):
        prql_to_sql("let f = x -> x * 2")


def test_stdlib_math_text_builtins(spark):
    """Round-8 prql-book stdlib: math.*/text.* module functions at
    parenthesized application sites (piped/main operand LAST, the prql
    convention); `(math.floor + 2)`-style expressions untouched."""
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql

    spark.createDataFrame(
        [(1, "Ab", 2.7), (2, "cd", 1.0)], "k int, s string, v double"
    ).createOrReplaceTempView("prql_std_t")
    got = [tuple(r) for r in prql_sql(spark, """
from prql_std_t
derive {lo = (math.floor v), r = (math.round 1 v), t = (text.upper s),
        n = (text.length s), e = (text.extract 1 1 s)}
select {k, lo, r, t, n, e}
sort k
""").collect()]
    assert got == [(1, 2.0, 2.7, "AB", 2, "A"), (2, 1.0, 1.0, "CD", 2, "c")]
    got = [tuple(r) for r in prql_sql(spark, """
from prql_std_t
filter (text.starts_with "A" s)
select {k}
""").collect()]
    assert got == [(1,)]
    import pytest as _p

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    with _p.raises(ChSqlError, match="argument"):
        prql_sql(spark, "from prql_std_t\nderive x = (math.floor v 2)")


def test_prql_date_literals_and_paren_agg(spark, sf_dir):
    """Round-9: @date/@datetime literals (prql-book) and the
    parenthesized aggregate application `(stddev x)`."""
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql
    from clickhouse_25_5_3_75_stable_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    n = prql_sql(spark, """
        from orders | filter o_orderdate > @1997-06-01 | aggregate {n = count this}
    """).collect()[0].n
    m = prql_sql(spark, """
        from orders | filter o_orderdate > @1997-06-01T00:00 | aggregate {n = count this}
    """).collect()[0].n
    assert n == m and n > 0
    # @ inside a string literal is untouched
    s = prql_sql(spark, 'from orders | derive lbl = "@1997-01-01" | take 1'
                 ).collect()[0].lbl
    assert s == "@1997-01-01"
    row = prql_sql(spark, """
        from orders | aggregate {s = (stddev o_totalprice), n = count this}
    """).collect()[0]
    assert row.s > 0 and row.n > 0


def test_prql_join_table_name_qualifier(spark, sf_dir):
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql
    from clickhouse_25_5_3_75_stable_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    a = prql_sql(spark, """
        from orders | join side:left customer (o_custkey == customer.c_custkey)
        | aggregate {n = count this}
    """).collect()[0].n
    b = prql_sql(spark, """
        from orders | join side:left customer (this.o_custkey == that.c_custkey)
        | aggregate {n = count this}
    """).collect()[0].n
    assert a == b and a > 0


def test_from_text_relation_literal(spark):
    """Round-9 `from_text`: inline csv (header + typed inference) and
    json relation literals compose with the pipeline; bad shapes
    refuse."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.prql import prql_sql

    df = prql_sql(spark, '''
from_text """
id,name,score
1,alice,9.5
2,bob,7.25
3,carol,8
"""
filter score > 7.5
sort name
select {name, score}
''')
    assert [tuple(r) for r in df.collect()] == [("alice", 9.5),
                                                ("carol", 8.0)]
    assert dict(df.dtypes)["score"] == "double"

    got = prql_sql(spark, '''
from_text format:json """
{"a": 1, "b": "x"}
{"a": 2, "b": "y"}
"""
aggregate {s = sum a}
''').collect()
    assert got[0][0] == 3

    with _pytest.raises(ChSqlError, match="header"):
        prql_sql(spark, 'from_text """\nonlyheader\n"""')
    with _pytest.raises(ChSqlError, match="csv/json"):
        prql_sql(spark, 'from_text format:xml """\na\n1\n"""')
