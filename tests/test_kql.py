"""KQL (Kusto) dialect subset (kql.py; reference
src/Interpreters/executeQuery.cpp:1044 dialect routing,
src/Parsers/Kusto/ParserKQL* operator set, KQL_ReleaseNote.md
summarize alias rules)."""

import pytest

from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
from clickhouse_25_5_3_75_stable_spark.kql import kql_to_chsql


# ---------------------------------------------------------------------------
# transpiler shapes
# ---------------------------------------------------------------------------

def test_pipeline_basics():
    out = kql_to_chsql("T | where Age < 30 | take 5")
    assert out == "SELECT * FROM (SELECT * FROM (SELECT * FROM T) WHERE Age < 30) LIMIT 5"


def test_summarize_alias_rules():
    # KQL_ReleaseNote.md: count() -> count_, count(Age) -> count_Age,
    # count(expr) -> count_, bin(Age, 10) -> Age, by-expression -> Columns1
    out = kql_to_chsql("T | summarize count() by bin(Age, 10)")
    assert "AS count_" in out and "AS Age" in out
    out = kql_to_chsql("T | summarize count(Age) by bin(Age, 10)")
    assert "AS count_Age" in out
    out = kql_to_chsql("T | summarize count(Age + 1) by bin(Age + 1, 10)")
    assert "AS count_" in out and "AS Columns1" in out
    # alias from the RAW kql name, not the CH rename
    out = kql_to_chsql("T | summarize dcount(uid) by k")
    assert "uniqExact(uid) AS dcount_uid" in out


def test_case_insensitive_operators():
    out = kql_to_chsql("T | where s =~ 'Abc'")
    assert "lower(s) = lower('Abc')" in out
    out = kql_to_chsql("T | where s in~ ('x', 'Y')")
    assert "lower(s) IN (lower('x'), lower('Y'))" in out
    out = kql_to_chsql("T | where s contains 'Q'")
    assert "position(lower(s), lower('Q')) > 0" in out
    out = kql_to_chsql("T | where s !contains 'Q'")
    assert out.count("NOT") == 1
    out = kql_to_chsql("T | where s has 'word'")
    assert "match(lower(s)" in out and "word" in out
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | where s has col")  # non-literal term refused


def test_timespan_and_datetime():
    out = kql_to_chsql("T | where ts > ago(7d)")
    assert "(now() - INTERVAL 7 DAY)" in out
    out = kql_to_chsql("T | summarize count() by bin(ts, 1h)")
    assert "toStartOfInterval(ts, INTERVAL 1 HOUR) AS ts" in out
    out = kql_to_chsql("T | where d > datetime(2017-01-01 12:23:34)")
    assert "CAST('2017-01-01 12:23:34' AS TIMESTAMP)" in out


def test_kql_scalar_conventions():
    # 0-based substring, split arg swap, strcat, between
    out = kql_to_chsql("T | where substring(s, 0, 2) == 'ab'")
    assert "substring(s, (0) + 1, 2) = 'ab'" in out
    out = kql_to_chsql("T | project p = split('a,b', ',')")
    assert "splitByString(',', 'a,b') AS p" in out
    out = kql_to_chsql("print strcat('a', 'b')")
    assert "concat" in out
    out = kql_to_chsql("T | where x between (1 .. 9)")
    assert "x BETWEEN 1 AND 9" in out
    out = kql_to_chsql("T | summarize arg_max(score, name) by k")
    assert "argMax(name, score)" in out  # KQL arg order swaps into CH


def test_sort_default_desc_and_top():
    assert "ORDER BY x DESC" in kql_to_chsql("T | sort by x")
    assert "ORDER BY x ASC" in kql_to_chsql("T | order by x asc")
    out = kql_to_chsql("T | top 5 by Age")
    assert "ORDER BY Age DESC LIMIT 5" in out


def test_extend_replaces_self_referential_column():
    out = kql_to_chsql("T | extend Age = Age + 1")
    # the self-reference rewrite: old column staged, dropped, re-added
    assert "__kql_old_Age" in out and "EXCEPT" in out
    # plain new columns append without the staging dance
    out2 = kql_to_chsql("T | extend doubled = x * 2")
    assert "__kql_old" not in out2 and "doubled" in out2


def test_stage_refusals_name_the_operator():
    with pytest.raises(ChSqlError, match="getschema"):
        kql_to_chsql("T | getschema")
    with pytest.raises(ChSqlError):
        kql_to_chsql("")


# ---------------------------------------------------------------------------
# execution parity (one spark round trip; the three registry queries
# carry the full oracle gate)
# ---------------------------------------------------------------------------

def test_kql_executes_and_matches_sql(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .createOrReplaceTempView("events")
    got = kql_sql(spark, """
        events
        | where event_type startswith 'c' and value between (10 .. 400)
        | summarize count(), avg(value) by event_type
        | order by event_type asc
    """).collect()
    want = spark.sql("""
        SELECT event_type, count(*) AS count_, avg(value) AS avg_value
        FROM events
        WHERE lower(event_type) LIKE 'c%' AND value BETWEEN 10 AND 400
        GROUP BY event_type ORDER BY event_type
    """).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_cli_dialect_setting(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import apply_settings

    restore = apply_settings(spark, {"dialect": "'kusto'"})
    try:
        assert spark.conf.get("spark.chsql.dialect") == "kusto"
    finally:
        for k, v in restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    restore2 = apply_settings(spark, {"dialect": "'prql'"})
    for k, v in restore2.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    with pytest.raises(ChSqlError):
        apply_settings(spark, {"dialect": "'sqlite'"})


def test_join_union_lookup_shapes():
    out = kql_to_chsql(
        "T | join kind=inner (U | project k, v) on $left.a == $right.k")
    assert "INNER JOIN" in out and "__kql_l.a = __kql_r.k" in out
    out = kql_to_chsql("T | join kind=leftanti (U) on k")
    assert "LEFT ANTI JOIN" in out and "USING (k)" in out
    out = kql_to_chsql("T | lookup (U | project k, v) on k")
    assert "LEFT JOIN" in out
    # default kind = innerunique: left deduped per key first
    out = kql_to_chsql("T | join (U) on k")
    assert "row_number()" in out and "INNER JOIN" in out
    out = kql_to_chsql("T | union (U | take 2)")
    assert "UNION ALL" in out
    out = kql_to_chsql("T | take 1 | render timechart")
    assert "render" not in out.lower()
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | join kind=weird (U) on k")
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | join (U) on $left.a == f(b)")


def test_join_executes(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    sf = "/root/testdata/sf0.001"
    for t in ("nation", "region"):
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)
    got = kql_sql(spark, """
        nation
        | join kind=inner (region | project r_regionkey, r_name) on $left.n_regionkey == $right.r_regionkey
        | summarize count() by r_name
        | order by r_name asc
    """).collect()
    want = spark.sql("""
        SELECT r_name, count(*) AS count_ FROM nation
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_scalar_breadth(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    r = kql_sql(spark, """
        print i1 = indexof('abcdef', 'cd'),
              i2 = indexof('abc', 'z'),
              ex = extract('([a-z]+)([0-9]+)', 2, 'abc123def'),
              cs = case(1 > 2, 'no', 1 < 2, 'yes', 'else'),
              sd = tostring(startofday(datetime(2024-03-05 13:14:15))),
              yr = getyear(datetime(2024-03-05)),
              rr = replace_regex('ababab', 'b', 'X')
    """).collect()[0]
    assert r.i1 == 2 and r.i2 == -1          # 0-based, -1 when absent
    assert r.ex == "123"
    assert r.cs == "yes"
    assert r.sd.startswith("2024-03-05 00:00:00")
    assert r.yr == 2024
    assert r.rr == "aXaXaX"


def test_make_series(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .createOrReplaceTempView("events")
    rows = kql_sql(spark, """
        events
        | make-series n = avg(value) default = -1 on ts from datetime(2024-01-01) to datetime(2024-01-08) step 1d by event_type
        | order by event_type asc
    """).collect()
    assert rows and all(len(r.n) == 7 and len(r.ts) == 7 for r in rows)
    assert all(str(r.ts[0]).startswith("2024-01-01") for r in rows)
    # axis is [from, to): 2024-01-08 itself excluded
    assert all(str(r.ts[-1]).startswith("2024-01-07") for r in rows)
    # no-by global form + count() default
    one = kql_sql(spark, """
        events | make-series c = count() on ts from datetime(2024-01-01) to datetime(2024-01-04) step 1d
    """).collect()
    assert len(one) == 1 and len(one[0].c) == 3 and all(v >= 0 for v in one[0].c)
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | make-series avg(v) on ts step 1d")  # needs alias+from/to


def test_parse_operator(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    r = kql_sql(spark, """
        print line = 'GET /api/users?id=42 took 18ms'
        | parse line with Method ' /api/' Endpoint '?id=' Id:long ' took ' Ms:int 'ms'
    """).collect()[0]
    assert (r.Method, r.Endpoint, r.Id, r.Ms) == ("GET", "users", 42, 18)
    # wildcard skip + unmatched -> empty/NULL-ish extract
    r2 = kql_sql(spark, "print s = 'x=7 tail' | parse s with 'x=' V:int ' ' *").collect()[0]
    assert r2.V == 7
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | parse s with 'only literals'")


def test_mv_apply_and_dynamic(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    r = kql_sql(spark, """
        print id = 1, arr = dynamic([1, 5, 12, 7, 3])
        | mv-apply e = arr on (where e > 4 | summarize s = sum(e), n = count(), m = max(e), d = dcount(e), lst = make_list(e * 10))
    """).collect()[0]
    assert (r.n, r.m, r.d, r.lst) == (3, 12, 3, [50, 120, 70])
    assert abs(r.s - 24) < 1e-9
    # bare-column form: elements named like the array
    r2 = kql_sql(spark, """
        print arr = dynamic([2, 4]) | mv-apply arr on (summarize t = sum(arr))
    """).collect()[0]
    assert abs(r2.t - 6) < 1e-9
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | mv-apply x on (extend y = 1)")  # body must end in summarize
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | mv-apply x on (summarize p = percentile(x, 50))")


def test_http_dialect_request_scoped(spark):
    """HTTP ?dialect=kusto applies per request and is RESTORED after —
    a later plain-SQL request must not be parsed as KQL (found live:
    spark.chsql.dialect was missing from the managed-conf snapshot)."""
    import urllib.parse
    import urllib.request

    from clickhouse_25_5_3_75_stable_spark.http_server import serve_in_thread

    import os, tempfile, shutil
    d = tempfile.mkdtemp()
    try:
        shutil.copy("/root/testdata/sf0.001/nation.parquet", d)
        srv, port = serve_in_thread(spark, d)
        try:
            q = urllib.parse.quote(
                "nation | summarize count() by n_regionkey | order by n_regionkey asc | take 1")
            r = urllib.request.urlopen(
                f"http://127.0.0.1:{port}/?query={q}&dialect=kusto").read().decode()
            assert r == "0\t5\n"
            q2 = urllib.parse.quote("SELECT count() FROM nation")
            r2 = urllib.request.urlopen(
                f"http://127.0.0.1:{port}/?query={q2}").read().decode()
            assert r2.strip() == "25"
        finally:
            srv.shutdown()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# parser robustness fuzz (select_parser_fuzzer analogue for the
# dialect front doors): arbitrary input refuses cleanly, never dies
# with an internal error
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(s=st.text(
    alphabet="abcxyz TPK|()[]{}=<>!~*+-.,'\"0123456789\n"
             "wheresummarizcountbydisnctojoefl$",
    min_size=0, max_size=100))
def test_kql_transpiler_never_crashes(s):
    try:
        kql_to_chsql(s)
    except (ChSqlError, ValueError):
        pass


@settings(max_examples=300, deadline=None)
@given(s=st.text(
    alphabet="abcxyz t|(){}=<>!?*+-.,'\"0123456789\n"
             "fromderivselctagqup",
    min_size=0, max_size=100))
def test_prql_transpiler_never_crashes(s):
    from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql
    try:
        prql_to_sql("from t\n" + s)
    except (ChSqlError, ValueError):
        pass


def test_kql_filter_pushdown_reaches_scan(spark):
    """The nested-stage transpile must collapse so a KQL `where` lands
    in the parquet scan's PushedFilters — the 100 TB contract: dialect
    front-ends add zero planning overhead."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .createOrReplaceTempView("events")
    df = kql_sql(spark, "events | where value > 100 and event_type == 'click' "
                        "| summarize count() by event_type")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(value,100.0)" in plan      # pushed to the scan
    assert "EqualTo(event_type,click)" in plan


# ---------------------------------------------------------------------------
# round-5 code-review regressions
# ---------------------------------------------------------------------------

def test_review_fixes_kql(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    # negated case-sensitive prefix/suffix forms tokenize correctly
    out = kql_to_chsql("T | where s !startswith_cs 'A'")
    assert "NOT (startsWith(s, 'A'))" in out
    out = kql_to_chsql("T | where s !endswith_cs 'A'")
    assert "NOT (endsWith(s, 'A'))" in out
    # summarize by-split must ignore 'by' inside string literals
    out = kql_to_chsql("T | summarize c = countif(s contains ' by x') by k")
    assert "GROUP BY k" in out and "by x" in out
    # order by ... nulls first/last
    out = kql_to_chsql("T | order by x asc nulls first, y desc nulls last")
    assert "x ASC NULLS FIRST" in out and "y DESC NULLS LAST" in out
    # escaped quote inside a literal must not break the pipe splitter
    out = kql_to_chsql(r"T | where s == 'it\'s' | take 5")
    assert out.endswith("LIMIT 5")
    # non-integer take refuses cleanly
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | take 1..3")
    # extend items apply sequentially: later items see earlier ones,
    # incl. a replaced self-referential column
    r = kql_sql(spark, "print x = 3 | extend x = x + 1, y = x * 2").collect()[0]
    assert (r.x, r.y) == (4, 8)


def test_review_fix_make_series_unaligned_from(spark):
    """Buckets align to the AXIS START: an off-midnight `from` must
    still aggregate rows into the right buckets (review-found: the
    epoch-aligned toStartOfInterval silently emptied the series)."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [("2020-01-01 01:00:00", 10.0), ("2020-01-01 02:15:00", 20.0)],
        "ts_s string, v double",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "v").createOrReplaceTempView("tsrc")
    r = kql_sql(spark, """
        tsrc | make-series s = sum(v) default = 0 on ts from datetime(2020-01-01 00:30:00) to datetime(2020-01-01 03:30:00) step 1h
    """).collect()[0]
    # axis: 00:30, 01:30, 02:30; 01:00 -> bucket 00:30, 02:15 -> 01:30
    assert [round(x, 1) for x in r.s] == [10.0, 20.0, 0.0]


def test_review_fixes_prql():
    from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql

    # string literals survive the operator rewrites
    sql = prql_to_sql('from t\nfilter s == "a==b!c&&d"')
    assert "s = 'a==b!c&&d'" in sql
    # ?? binds tighter than comparison
    sql = prql_to_sql("from t\nfilter x ?? 0 > 5")
    assert "coalesce(x, 0) > 5" in sql
    # join qualifiers replaced whole, not by substring
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError as E
    sql = prql_to_sql("from t\njoin u (left.a == right.b)")
    assert "__prql_l.a = __prql_r.b" in sql
    import pytest as _p
    with _p.raises(E):
        prql_to_sql("from t\ngroup {k} (sort {-v}\ntake 1..3)")
    with _p.raises(E):
        prql_to_sql("from t\ntake abc")


def _kusto_cli(spark, data_dir, text: str) -> list[list[str]]:
    """`text` through the CLI door after SET dialect = 'kusto': its
    TabSeparated rows; the QueryFinish row must be logged for it."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.sources import system_tables

    out = io.StringIO()
    run_local("SET dialect = 'kusto'", str(data_dir), spark=spark, out=io.StringIO())
    try:
        assert run_local(text, str(data_dir), spark=spark, out=out) == 0
    finally:
        run_local("SET dialect = 'clickhouse'", str(data_dir), spark=spark,
                  out=io.StringIO())
    finish = [e for e in system_tables._QUERY_LOG if e[1] == "QueryFinish"]
    assert finish[-2][2] == text  # the SET back to clickhouse is the last
    return [line.split("\t") for line in out.getvalue().splitlines()]


def test_getschema(spark, tmp_path):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    rows = kql_sql(spark, """
        print s = 'x', n = 1, d = todouble(1.5), b = true, t = datetime(2024-01-01)
        | getschema
    """).collect()
    got = {r.ColumnName: (r.ColumnOrdinal, r.ColumnType) for r in rows}
    assert got["s"] == (0, "string") and got["n"][1] in ("int", "long")
    assert got["d"][1] == "real" and got["b"][1] == "bool"
    assert got["t"][1] == "datetime"
    with pytest.raises(ChSqlError):
        kql_sql(spark, "getschema")
    # the CLI door answers through the same kql_sql
    cli = _kusto_cli(spark, tmp_path, "print s = 'x', n = 1 | getschema")
    assert [r[:2] for r in cli] == [["s", "0"], ["n", "1"]]
    assert cli[0][3] == "string"


# ---------------------------------------------------------------------------
# round-6 advisor regressions
# ---------------------------------------------------------------------------

def test_extend_alias_inside_string_literal_not_rewritten(spark):
    """`extend status = strcat('status ', code)`: the alias appears
    only INSIDE a string literal — no self-reference staging, and the
    literal must survive verbatim (advisor: the literal was rewritten
    to '__kql_old_status ' and the EXCEPT failed analysis)."""
    out = kql_to_chsql("T | extend status = strcat('status ', code)")
    assert "__kql_old" not in out
    assert "'status '" in out
    spark.createDataFrame([(7,)], "code int").createOrReplaceTempView(
        "kql_adv_t1")
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    row = kql_sql(
        spark, "kql_adv_t1 | extend status = strcat('status ', tostring(code))"
    ).collect()[0]
    assert row.status == "status 7"


def test_in_ci_comma_inside_literal(spark):
    """in~ items split on TOP-LEVEL commas only (advisor: `x in~
    ('a,b', 'c')` split the first literal mid-string)."""
    out = kql_to_chsql("T | where x in~ ('a,b', 'C')")
    assert "lower('a,b')" in out and "lower('C')" in out
    spark.createDataFrame([("A,B",), ("c",), ("d",)], "x string") \
        .createOrReplaceTempView("kql_adv_t2")
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    got = {r.x for r in kql_sql(
        spark, "kql_adv_t2 | where x in~ ('a,b', 'C')").collect()}
    assert got == {"A,B", "c"}


def test_summarize_repeated_generated_aliases_disambiguated():
    """Two expression aggregates falling into the generated-alias rule
    get distinct names, like ADX (advisor: both emitted `count_`)."""
    out = kql_to_chsql("T | summarize count(a + 1), count(b + 2)")
    assert "AS count_" in out and "AS count_1" in out


# ---------------------------------------------------------------------------
# round-6: top-nested and facet
# ---------------------------------------------------------------------------

def test_top_nested_refusals():
    with pytest.raises(ChSqlError, match="with others"):
        kql_to_chsql("T | top-nested 3 of a by sum(x) with others = 'rest'")
    with pytest.raises(ChSqlError, match="dcount"):
        kql_to_chsql("T | top-nested 3 of a by dcount(x)")
    with pytest.raises(ChSqlError, match="explicit name"):
        kql_to_chsql("T | top-nested 3 of a + 1 by sum(x)")


def test_facet_refusals():
    with pytest.raises(ChSqlError, match="out of the subset"):
        kql_to_chsql("T | facet by a with (where x > 1)")
    with pytest.raises(ChSqlError):
        kql_to_chsql("T | facet a")


def test_top_nested_single_level(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5), ("c", 100), ("c", 1)],
        "k string, v int",
    ).createOrReplaceTempView("kql_tn_t")
    rows = kql_sql(
        spark, "kql_tn_t | top-nested 2 of k by sum(v) | order by k asc"
    ).collect()
    assert [(r.k, r.aggregated_k) for r in rows] == [("a", 30), ("c", 101)]


def test_partition_operator(spark):
    """partition by Col ( sub ): top -> per-partition rank filter,
    summarize -> partition column prepended to keys, where -> plain
    filter; multi-stage and unsupported subqueries refuse by name."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [("a", 1), ("a", 5), ("a", 3), ("b", 9), ("b", 2)],
        "k string, v int",
    ).createOrReplaceTempView("kql_part_t")
    rows = kql_sql(
        spark,
        "kql_part_t | partition by k ( top 2 by v ) | order by k asc, v desc",
    ).collect()
    assert [(r.k, r.v) for r in rows] == [("a", 5), ("a", 3), ("b", 9), ("b", 2)]
    rows2 = kql_sql(
        spark, "kql_part_t | partition by k ( summarize mx = max(v) ) | order by k asc"
    ).collect()
    assert [(r.k, r.mx) for r in rows2] == [("a", 5), ("b", 9)]
    with pytest.raises(ChSqlError, match="SINGLE-stage"):
        kql_to_chsql("T | partition by k ( where x > 1 | take 2 )")
    with pytest.raises(ChSqlError, match="subset takes"):
        kql_to_chsql("T | partition by k ( mv-expand a )")


def test_evaluate_pivot(spark, tmp_path):
    """evaluate pivot(col, agg(val)): ADX auto-discovers the pivot
    columns from the data; lowered to a Spark PIVOT after a one-pass
    distinct-key discovery (capped at 200)."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3), ("b", "x", 4)],
        "k string, p string, v int",
    ).createOrReplaceTempView("kql_pv_t")
    rows = kql_sql(spark, "kql_pv_t | evaluate pivot(p, sum(v))") \
        .orderBy("k").collect()
    assert rows[0].k == "a" and rows[0].x == 1 and rows[0].y == 2
    assert rows[1].k == "b" and rows[1].x == 7 and rows[1].y is None
    assert sorted(_kusto_cli(spark, tmp_path, "kql_pv_t | evaluate pivot(p, sum(v))")) \
        == [["a", "1", "2"], ["b", "7", ""]]
    with pytest.raises(ChSqlError, match="last stage"):
        kql_sql(spark, "kql_pv_t | evaluate pivot(p, sum(v)) | take 1")
    with pytest.raises(ChSqlError, match="aggregates"):
        kql_sql(spark, "kql_pv_t | evaluate pivot(p, dcount(v))")


def test_evaluate_bag_unpack(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, '{"a": 1, "b": "x"}'), (2, '{"a": 2}')],
        "id int, bag string",
    ).createOrReplaceTempView("kql_bag_t")
    rows = kql_sql(spark, "kql_bag_t | evaluate bag_unpack(bag)") \
        .orderBy("id").collect()
    assert rows[0].a == "1" and rows[0].b == "x"
    assert rows[1].a == "2" and rows[1].b is None
    assert "bag" not in rows[0].asDict()


@settings(max_examples=200, deadline=None)
@given(s=st.text(
    alphabet="abkv TPN|()=<>!*+-.,'\"0123456789\n"
             "topnestdfacbyumrizwhpartionvlug_",
    min_size=0, max_size=120))
def test_kql_new_stages_never_crash(s):
    """Round-6 stages (top-nested/facet/partition) under the same
    crash-fuzz contract: arbitrary input refuses with ChSqlError,
    never an internal error."""
    for prefix in ("T | top-nested ", "T | facet ", "T | partition "):
        try:
            kql_to_chsql(prefix + s)
        except (ChSqlError, ValueError):
            pass


def test_scan_state_machine(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, 50), (2, 60), (3, 200), (4, 210), (5, 70), (6, 300), (7, 80)],
        "k int, price int",
    ).createOrReplaceTempView("scan_t")
    df = kql_sql(spark, """
        scan_t
        | sort by k asc
        | scan with_match_id=m declare (n_lo:long=0, n_hi:long=0) with (
            step lo: price < 100 => n_lo = 1 + n_lo;
            step hi: price >= 100 => n_hi = 1 + n_hi;
        )
    """)
    rows = [(r.k, r.n_lo, r.n_hi, r.m) for r in df.orderBy("k").collect()]
    # seq0 = smalls k1,k2 then bigs k3,k4 (n_lo frozen at 2);
    # k5 starts seq1; k6 promotes it; k7 starts seq2
    assert rows == [(1, 1, 0, 0), (2, 2, 0, 0), (3, 2, 1, 0), (4, 2, 2, 0),
                    (5, 1, 0, 1), (6, 1, 1, 1), (7, 1, 0, 2)]


def test_scan_drops_unmatched_and_leading(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, 500), (2, 50), (3, 600)], "k int, price int"
    ).createOrReplaceTempView("scan_t2")
    df = kql_sql(spark, """
        scan_t2
        | sort by k asc
        | scan with_match_id=m with (
            step lo: price < 100;
            step hi: price >= 100;
        )
    """)
    rows = [(r.k, r.m) for r in df.orderBy("k").collect()]
    # k1 is a big row before any sequence exists -> dropped
    assert rows == [(2, 0), (3, 0)]


def test_scan_refusals(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql, kql_to_chsql

    # text-only path points at kql_sql
    with pytest.raises(ChSqlError, match="scan"):
        kql_to_chsql("T | scan with (step a: true;)")
    # no serialization
    with pytest.raises(ChSqlError, match="serialized"):
        kql_sql(spark, "scan_t | scan with (step a: true;)")
    # state-referencing condition
    with pytest.raises(ChSqlError, match="state"):
        kql_sql(spark, """scan_t | sort by k asc
            | scan declare (v:long=0) with (step a: v > 3;)""")
    # non-accumulate self-reference
    with pytest.raises(ChSqlError, match="accumulate"):
        kql_sql(spark, """scan_t | sort by k asc
            | scan declare (v:long=0) with (step a: true => v = v * 2;)""")
    # output=last not in subset
    with pytest.raises(ChSqlError, match="output"):
        kql_sql(spark, """scan_t | sort by k asc
            | scan with (step a output=last: true;)""")


@settings(max_examples=150, deadline=None)
@given(s=st.text(
    alphabet="abkv TPN|()=<>!*+-.,'\"0123456789;:\n scandeclrwithstep_",
    min_size=0, max_size=120))
def test_kql_scan_parse_never_crashes(s):
    """scan's PARSE layer under the crash-fuzz contract (the execute
    path needs a session; parse errors must all be ChSqlError)."""
    import re as _re

    from clickhouse_25_5_3_75_stable_spark.kql import (
        _SCAN_HEAD_RE,
        _scan_parse_literal,
        _split_top_text,
    )

    try:
        body = _re.sub(r"^scan\s*", "", s)
        hm = _SCAN_HEAD_RE.match(body.strip())
        if hm and hm.group("decl"):
            for item in _split_top_text(hm.group("decl"), ","):
                dm = _re.match(r"^([A-Za-z_]\w*)\s*:\s*(\w+)\s*(?:=\s*(.+))?$", item.strip())
                if dm and dm.group(3):
                    _scan_parse_literal(dm.group(3).strip())
    except (ChSqlError, ValueError):
        pass


def test_scan_refuses_missing_sort_cols_and_name_clashes(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame([(1, 5)], "k int, price int").createOrReplaceTempView(
        "scan_t3")
    with pytest.raises(ChSqlError, match="not present at"):
        kql_sql(spark, """scan_t3 | sort by k asc | project price
            | scan with (step a: price > 0;)""")
    with pytest.raises(ChSqlError, match="collide"):
        kql_sql(spark, """scan_t3 | sort by k asc
            | scan declare (price:long=0) with (step a: k > 0;)""")
    with pytest.raises(ChSqlError, match="collide"):
        kql_sql(spark, """scan_t3 | sort by k asc
            | scan with_match_id=k with (step a: price > 0;)""")


def test_evaluate_plugin_refusals(spark):
    """Remaining `evaluate` plugins and `invoke` refuse by name with a
    pointed subset error (round-7 judge ask #6) — never silently
    mis-translate."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("kql_ref_t")
    for q in (
        "kql_ref_t | evaluate autocluster()",
        "kql_ref_t | evaluate basket()",
    ):
        with pytest.raises(ChSqlError, match="not in the implemented subset"):
            kql_sql(spark, q)
    # round-8: narrow is IMPLEMENTED but requires a deterministic order;
    # invoke is IMPLEMENTED and names an unknown function when no let
    # binds it
    with pytest.raises(ChSqlError, match="order by"):
        kql_sql(spark, "kql_ref_t | evaluate narrow()")
    with pytest.raises(ChSqlError, match="not a let-bound function"):
        kql_sql(spark, "let a = 1; kql_ref_t | invoke somefunc()")
    # implemented plugins refuse non-terminal placement rather than
    # computing a wrong prefix
    with pytest.raises(ChSqlError, match="last stage"):
        kql_sql(spark, "kql_ref_t | evaluate bag_unpack(x) | take 1")


def test_range_datatable_serialize(spark):
    """Round-7 ADX tabular sources: range (inclusive sequence),
    datatable (typed inline VALUES), bare serialize (order
    annotation)."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    rows = kql_sql(spark, "range x from 1 to 10 step 3").collect()
    assert [r.x for r in rows] == [1, 4, 7, 10]
    rows = kql_sql(
        spark,
        'datatable(k:long, s:string) [1, "a", 2, "b,c"] | serialize '
        "| order by k desc",
    ).collect()
    assert [(r.k, r.s) for r in rows] == [(2, "b,c"), (1, "a")]
    with pytest.raises(ChSqlError, match="whole number"):
        kql_sql(spark, 'datatable(k:long, s:string) [1, "a", 2]')
    with pytest.raises(ChSqlError, match="subset types"):
        kql_sql(spark, "datatable(k:guid) [1]")
    with pytest.raises(ChSqlError, match="serialize subset"):
        kql_sql(spark, "range x from 1 to 3 step 1 | serialize rn = row_number()")


def test_project_keep_reorder_sample_tophitters(spark):
    """Round-7 ADX tabular operators."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 5), (4, "c", 1), (5, "a", 7)],
        "k int, s string, v int",
    ).createOrReplaceTempView("kql_ops_t")
    # project-keep preserves ORIGINAL order (k before v, listed v first)
    assert kql_sql(spark, "kql_ops_t | project-keep v, k").columns == ["k", "v"]
    # wildcard form
    assert kql_sql(spark, "kql_ops_t | project-keep s*, k").columns == ["k", "s"]
    # project-reorder: listed first, rest in original order
    assert kql_sql(spark, "kql_ops_t | project-reorder v").columns == [
        "v", "k", "s"]
    # top-hitters: exact grouped top-N under the ADX output names
    th = kql_sql(spark, "kql_ops_t | top-hitters 2 of s")
    assert th.columns == ["s", "approximate_count_s"]  # the ADX names
    assert [tuple(r) for r in th.collect()] == [("a", 3), ("b", 1)]
    got = [tuple(r) for r in kql_sql(
        spark, "kql_ops_t | top-hitters 1 of s by v").collect()]
    assert got == [("a", 22)]
    # sample/sample-distinct: size + subset properties (nondeterministic
    # by the ADX contract)
    rows = kql_sql(spark, "kql_ops_t | sample 3").collect()
    assert len(rows) == 3 and all(r.k in {1, 2, 3, 4, 5} for r in rows)
    vals = {r.s for r in kql_sql(
        spark, "kql_ops_t | sample-distinct 2 of s").collect()}
    assert len(vals) == 2 and vals <= {"a", "b", "c"}
    with pytest.raises(ChSqlError, match="project-reorder"):
        kql_sql(spark, "kql_ops_t | project-reorder nope")
    with pytest.raises(ChSqlError, match="top-hitters"):
        kql_sql(spark, "kql_ops_t | top-hitters s")


def test_let_statements(spark):
    """Round-7 `let`: scalar substitution, tabular CTEs, table
    aliasing, function refusal."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 5)], "k int, s string, v int"
    ).createOrReplaceTempView("kql_let_t")
    got = [tuple(r) for r in kql_sql(spark, """
let cutoff = 8;
kql_let_t | where v > cutoff | project k, v | order by k asc
""").collect()]
    assert got == [(1, 10), (2, 20)]
    got = [tuple(r) for r in kql_sql(spark, """
let big = kql_let_t | where v >= 10 | project k, v;
let labels = datatable(k:long, lbl:string) [1, "one", 2, "two"];
big | join kind=inner (labels) on k | project k, lbl | order by k asc
""").collect()]
    assert got == [(1, "one"), (2, "two")]
    # round-8: let-functions are now IMPLEMENTED — an unused binding is
    # legal (it was a named refusal through round 7)
    got = [tuple(r) for r in kql_sql(
        spark, "let f = (x: long) { x * 2 };\nkql_let_t | take 1").collect()]
    assert len(got) == 1
    with pytest.raises(ChSqlError, match="must follow"):
        kql_sql(spark, "let a = 1;")


def test_let_scalar_never_rewrites_string_literals(spark):
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, "a"), (5, "b"), (9, "a")], "a int, s string"
    ).createOrReplaceTempView("kql_let_lit_t")
    got = [tuple(r) for r in kql_sql(spark, """
let a = 4;
kql_let_lit_t | where a > a and s == "a" | project a, s
""").collect()]
    # the bare column ref `a` on the LEFT also substitutes (ADX scoping:
    # a let binding shadows a same-named column) -> 4 > 4 is false...
    # so assert the unambiguous part: the "a" literal survived intact
    got2 = [tuple(r) for r in kql_sql(spark, """
let cut = 4;
kql_let_lit_t | where a > cut and s == "a" | project a, s | order by a asc
""").collect()]
    assert got2 == [(9, "a")]
    assert got == []


def test_let_toscalar_and_materialize(spark):
    """Round-7: toscalar(tabular) binds a scalar subquery (first
    column, first row); materialize() unwraps (the CTE lowering
    already evaluates once per reference)."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k int, v int"
    ).createOrReplaceTempView("kql_ts_t")
    got = [tuple(r) for r in kql_sql(spark, """
let vmax = toscalar(kql_ts_t | summarize m = max(v));
kql_ts_t | where v == vmax | project k, v
""").collect()]
    assert got == [(3, 30)]
    got = [tuple(r) for r in kql_sql(spark, """
let cached = materialize(kql_ts_t | where v > 10);
cached | summarize n = count()
""").collect()]
    assert got == [(2,)]
    with pytest.raises(ChSqlError, match="toscalar"):
        kql_sql(spark, """
let x = toscalar(some_unknown_table | where v > 1);
kql_ts_t | take 1
""")


def test_let_scalar_column_precedence(spark):
    """Round-8 advisor: ADX name resolution gives COLUMNS precedence
    over let-bound scalars in a tabular context — `let v = 5; T |
    where v > 3` must read column v of T, not the binding."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, 1), (2, 4), (3, 9)], "k int, v int"
    ).createOrReplaceTempView("kql_shadow_t")
    got = [tuple(r) for r in kql_sql(spark, """
let v = 5;
kql_shadow_t | where v > 3 | project k | order by k asc
""").collect()]
    assert got == [(2,), (3,)]  # column v wins: rows with v in {4, 9}
    # a NON-colliding binding still substitutes
    got = [tuple(r) for r in kql_sql(spark, """
let cut = 3;
kql_shadow_t | where v > cut | project k | order by k asc
""").collect()]
    assert got == [(2,), (3,)]


def test_let_bare_identifier_tabular_alias(spark):
    """Round-8 advisor: `let t2 = sometable; t2 | ...` is a tabular
    alias even without schema info — it must lower to a CTE, not fall
    to the scalar branch and fail with a misleading error. With a
    resolver, an unknown name refuses BY NAME."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql, kql_to_chsql

    sql = kql_to_chsql("let t2 = sometable; t2 | count")  # no resolver
    assert "WITH t2 AS" in sql and "FROM sometable" in sql

    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("kql_alias_t")
    got = [tuple(r) for r in kql_sql(spark, """
let t2 = kql_alias_t;
t2 | summarize n = count()
""").collect()]
    assert got == [(1,)]
    with pytest.raises(ChSqlError, match="no_such_tbl"):
        kql_sql(spark, "let t2 = no_such_tbl; t2 | count")


def test_let_scalar_functions(spark):
    """Round-8 KQL let-functions: scalar functions expand as hygienic
    macros (args parenthesized, params bound outside string literals),
    defaults fill missing trailing args, nesting composes."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, 3), (2, 5), (3, 10)], "k int, v int"
    ).createOrReplaceTempView("kql_fn_t")
    got = [tuple(r) for r in kql_sql(spark, """
let double_it = (x: long) { x * 2 };
let shifted = (x: long, off: long = 100) { double_it(x) + off };
kql_fn_t | extend d = double_it(v), s = shifted(v), s2 = shifted(v, 0)
| project k, d, s, s2 | order by k asc
""").collect()]
    assert got == [(1, 6, 106, 6), (2, 10, 110, 10), (3, 20, 120, 20)]


def test_let_function_invoke_tabular(spark):
    """Round-8 KQL invoke: a tabular let-function (first param `(*)`)
    applies to the piped input; trailing stages continue after it."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, 3), (2, 5), (3, 10), (4, 7)], "k int, v int"
    ).createOrReplaceTempView("kql_inv_t")
    got = [tuple(r) for r in kql_sql(spark, """
let topv = (Tin: (*), thr: long) { Tin | where v > thr };
kql_inv_t | where k > 1 | invoke topv(5) | project k, v | order by k asc
""").collect()]
    assert got == [(3, 10), (4, 7)]
    # default arg + aggregation body
    got = [tuple(r) for r in kql_sql(spark, """
let agg = (Tin: (*), thr: long = 4) {
    Tin | where v > thr | summarize n = count()
};
kql_inv_t | invoke agg()
""").collect()]
    assert got == [(3,)]


def test_let_function_refusals(spark):
    """Recursive functions, scalar-invoke, arity errors, and unknown
    invoke targets refuse with named messages."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_to_chsql

    with pytest.raises(ChSqlError, match="depth"):
        kql_to_chsql("let f = (x: long) { f(x) }; T | extend y = f(1)")
    with pytest.raises(ChSqlError, match="tabular"):
        kql_to_chsql("let f = (x: long) { x }; T | invoke f(1)")
    with pytest.raises(ChSqlError, match="argument"):
        kql_to_chsql("let f = (x: long, y: long) { x + y }; T | extend z = f(1)")
    with pytest.raises(ChSqlError, match="not a let-bound function"):
        kql_to_chsql("let a = 1; T | invoke nothere()")
    with pytest.raises(ChSqlError, match="must come first"):
        kql_to_chsql("let f = (x: long, T2: (*)) { T2 }; T | invoke f(1)")


def test_let_parenthesized_tabular(spark):
    """`let x = (T | ...)` — ADX's parenthesized tabular binding —
    unwraps to a CTE."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, 3), (2, 5)], "k int, v int"
    ).createOrReplaceTempView("kql_par_t")
    got = [tuple(r) for r in kql_sql(spark, """
let t2 = (kql_par_t | where v > 3);
t2 | summarize n = count()
""").collect()]
    assert got == [(1,)]


def test_evaluate_narrow(spark):
    """Round-8 `evaluate narrow()`: transpose into (Row, Column,
    Value-string); requires an explicit sort before it (deterministic
    row ordinals); refuses without one."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(2, "b", 1.5), (1, "a", None)], "k int, s string, v double"
    ).createOrReplaceTempView("kql_narrow_t")
    got = [tuple(r) for r in kql_sql(
        spark, "kql_narrow_t | order by k asc | evaluate narrow()").collect()]
    assert got == [
        (0, "k", "1"), (0, "s", "a"), (0, "v", None),
        (1, "k", "2"), (1, "s", "b"), (1, "v", "1.5")]
    with pytest.raises(ChSqlError, match="order by"):
        kql_sql(spark, "kql_narrow_t | evaluate narrow()")
    with pytest.raises(ChSqlError, match="last stage"):
        kql_sql(spark, "kql_narrow_t | order by k asc | evaluate narrow() | take 1")


def test_dynamic_bag_literals(spark):
    """Round-8 dynamic({...}) property-bag literals: canonicalized to a
    JSON string literal (composing with bag_unpack / JSON extraction
    like a stored props column); array form unchanged; invalid bags
    refuse; `dynamic({` INSIDE a string literal passes through."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql, kql_to_chsql

    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("kql_dyn_t")
    got = [tuple(r) for r in kql_sql(spark, """
kql_dyn_t | extend j = dynamic({"a": 1, "b": "x"}) | evaluate bag_unpack(j)
""").collect()]
    assert got == [(1, "1", "x")]
    out = kql_to_chsql('T | where s == "dynamic({not a bag})"')
    assert "dynamic({not a bag})" in out
    with pytest.raises(ChSqlError, match="JSON bag"):
        kql_to_chsql("T | extend j = dynamic({oops})")


def test_parse_json_identity_and_extractjson(spark):
    """Round-8 JSON model: parse_json/todynamic are IDENTITY over the
    JSON-string dynamic model (composing with bag_unpack), extractjson
    maps to get_json_object with swapped args, typeof-arity refuses."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [('{"a": 3, "b": "x"}',)], "s string"
    ).createOrReplaceTempView("kql_json_t")
    got = [tuple(r) for r in kql_sql(spark, """
kql_json_t | extend j = parse_json(s) | evaluate bag_unpack(j)
""").collect()]
    assert got == [('{"a": 3, "b": "x"}', "3", "x")]
    got = [tuple(r) for r in kql_sql(spark, """
kql_json_t | project v = extractjson("$.a", todynamic(s))
""").collect()]
    assert got == [("3",)]
    with pytest.raises(ChSqlError, match="typeof"):
        kql_sql(spark, 'kql_json_t | project v = extractjson("$.a", s, typeof(long))')


def test_dynamic_scalar_literals():
    from clickhouse_25_5_3_75_stable_spark.kql import kql_to_chsql

    out = kql_to_chsql('T | extend a = dynamic(5), b = dynamic(-2), c = dynamic("s")')
    assert "5 AS a" in out and "-2 AS b" in out and "'s' AS c" in out


def test_has_any_has_all_and_misc_round8(spark):
    """Round-8 lowerings: has_any/has_all (OR/AND of whole-token `has`
    matches), format_datetime (ADX tokens -> date_format), bin_at,
    ipv4_is_private (RFC1918 via isIPAddressInRange)."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [("alpha beta", "10.0.0.1", 5), ("gamma", "8.8.8.8", 11),
         ("alphabet", "172.20.1.2", 7)],
        "s string, ip string, x int",
    ).createOrReplaceTempView("kql_misc8_t")
    got = [r.s for r in kql_sql(
        spark, "kql_misc8_t | where s has_any ('alpha', 'zz') | project s"
    ).collect()]
    assert got == ["alpha beta"]  # 'alphabet' is NOT a whole-token hit
    got = [r.s for r in kql_sql(
        spark, "kql_misc8_t | where s has_all ('alpha', 'beta') | project s"
    ).collect()]
    assert got == ["alpha beta"]
    got = [r.ip for r in kql_sql(
        spark, "kql_misc8_t | where ipv4_is_private(ip) | project ip | order by ip asc"
    ).collect()]
    assert got == ["10.0.0.1", "172.20.1.2"]
    got = [tuple(r) for r in kql_sql(
        spark, "kql_misc8_t | project b = bin_at(x, 3, 1) | order by b asc"
    ).collect()]
    assert got == [(4,), (7,), (10,)]
    spark.sql(
        "SELECT TIMESTAMP'2024-03-05 10:07:00' AS ts"
    ).createOrReplaceTempView("kql_misc8_ts")
    got = [r.t for r in kql_sql(
        spark,
        "kql_misc8_ts | project t = format_datetime(ts, 'yyyy-MM-dd HH:mm:ss')"
    ).collect()]
    assert got == ["2024-03-05 10:07:00"]
    with pytest.raises(ChSqlError, match="format letter"):
        kql_sql(spark, "kql_misc8_ts | project t = format_datetime(ts, 'QQ')")
    with pytest.raises(ChSqlError, match="literal terms"):
        kql_sql(spark, "kql_misc8_t | where s has_any (x)")


def test_argform_scalar_lowerings_round8(spark):
    """Round-8 arg-form scalars: array ops, endof*/datetime_add/diff,
    tohex, hash_sha256/md5, gettype, pack -> JSON bag, renames."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [("a b", 5, 2.5)], "s string, x int, d double"
    ).createOrReplaceTempView("kql_af_t")
    spark.sql(
        "SELECT *, TIMESTAMP'2024-03-05 10:07:00' AS ts, ARRAY(3,1,2) AS arr "
        "FROM kql_af_t"
    ).createOrReplaceTempView("kql_af2_t")

    r = kql_sql(spark, """
kql_af2_t | project
  asum = array_sum(arr),
  aidx = array_index_of(arr, 1),
  amiss = array_index_of(arr, 99),
  scat = strcat_array(arr, ','),
  hx = tohex(255),
  h2 = hash_sha256('x'),
  hm = hash_md5('x'),
  ty1 = gettype(x), ty2 = gettype(d), ty3 = gettype(s),
  bag = pack('a', 1, 'b', s),
  pa = pack_array(1, 2)
""").collect()[0]
    assert r.asum == 6.0 and r.aidx == 1 and r.amiss == -1
    assert r.scat == "3,1,2" and r.hx == "ff"
    assert r.h2 == "2d711642b726b04401627ca9fbac32f5c8530fb1903cc4db02258717921a4881"
    assert r.hm == "9dd4e461268c8034f5c8564e155c67a6"
    assert (r.ty1, r.ty2, r.ty3) == ("int", "real", "string")
    assert r.bag == '{"a":1,"b":"a b"}'
    assert list(r.pa) == [1, 2]

    import datetime as dt
    r = kql_sql(spark, """
kql_af2_t | project
  eom = endofmonth(ts), eod = endofday(ts),
  add3 = datetime_add('day', 3, ts),
  dif = datetime_diff('hour', datetime(2024-01-01 06:00:00),
                      datetime(2024-01-01 01:00:00)),
  mk = make_datetime(2024, 1, 2, 3, 4, 5)
""").collect()[0]
    assert r.eom == dt.datetime(2024, 3, 31, 23, 59, 59, 999999)
    assert r.eod == dt.datetime(2024, 3, 5, 23, 59, 59, 999999)
    assert r.add3 == dt.datetime(2024, 3, 8, 10, 7)
    assert r.dif == 5
    assert r.mk == dt.datetime(2024, 1, 2, 3, 4, 5)

    with pytest.raises(ChSqlError, match="period"):
        kql_sql(spark, "kql_af2_t | project v = datetime_add('fortnight', 1, ts)")
    with pytest.raises(ChSqlError, match="literal keys"):
        kql_sql(spark, "kql_af_t | project v = pack(s, 1)")


def test_union_withsource(spark):
    """Round-8 `union withsource=Col`: each row labeled with its source
    table's name (previously a silent mis-translation); composes with
    kind= in either order."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("kql_u1")
    spark.createDataFrame([(2,)], "x int").createOrReplaceTempView("kql_u2")
    got = sorted(tuple(r) for r in kql_sql(
        spark, "kql_u1 | union withsource=Src (kql_u2)").collect())
    assert got == [(1, "kql_u1"), (2, "kql_u2")]
    got = [tuple(r) for r in kql_sql(
        spark, "kql_u1 | union withsource=Src kql_u2 | where Src == 'kql_u2'"
    ).collect()]
    assert got == [(2, "kql_u2")]
    got = sorted(tuple(r) for r in kql_sql(
        spark,
        "kql_u1 | union kind=outer withsource=T (kql_u2 | where x > 0)"
    ).collect())
    assert got == [(1, "kql_u1"), (2, "kql_u2")]


def test_aggregate_breadth_round8(spark):
    """Round-8 aggregates: dcountif, make_list_if/make_set_if,
    percentiles (multi-level), binary_all_or/and, take_any[if]; and
    array_length fixed to cardinality (the old length rename meant
    BYTES and broke arrays)."""
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 1.0), (2, "c", 3.0)],
        "k int, s string, v double",
    ).createOrReplaceTempView("kql_agg8_t")
    r = kql_sql(spark, """
kql_agg8_t | summarize
  dci = dcountif(s, v > 1),
  nl = array_length(make_list_if(s, v > 1)),
  ns = array_length(make_set_if(s, v > 1)),
  bo = binary_all_or(k),
  ta = take_any(k)
""").collect()[0]
    assert (r.dci, r.nl, r.ns, r.bo) == (2, 2, 2, 3)
    assert r.ta in (1, 2)
    got = kql_sql(spark, """
kql_agg8_t | summarize p = percentiles(v, 0, 100)
| project lo = p[1], hi = p[2]
""").collect()[0]
    assert (got.lo, got.hi) == (1.0, 3.0)
    got = kql_sql(
        spark,
        "kql_agg8_t | extend a = pack_array(1,2,3) | project n = array_length(a) | take 1"
    ).collect()[0]
    assert got.n == 3


def test_search_operator(spark, sf_dir):
    """ADX search: cross-column case-insensitive term match; kind=
    case_sensitive; in(cols) restriction; unresolvable-schema refusal."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql, kql_to_chsql

    ch_sql(spark, "SELECT 1", sf_dir=sf_dir)  # register views
    n = kql_sql(spark, "documents | search 'ZzZnope' | count").collect()[0][0]
    assert n == 0
    # case-insensitive: 'EN' matches lang='en' via the lang column
    n_ci = kql_sql(spark, "documents | search in (lang) 'EN' | count"
                   ).collect()[0][0]
    n_cs = kql_sql(spark,
                   "documents | search kind=case_sensitive in (lang) 'EN' "
                   "| count").collect()[0][0]
    assert n_ci > 0 and n_cs == 0
    # numeric columns match via toString
    one = kql_sql(spark,
                  "documents | search in (doc_id) '123' | project doc_id "
                  "| order by doc_id asc | take 1").collect()
    assert one and one[0].doc_id == 123
    # without a resolver the column list is unknown -> pointed refusal
    try:
        kql_to_chsql("documents | search 'x'")
        raise AssertionError("expected refusal")
    except ChSqlError as e:
        assert "search" in str(e)


def test_externaldata_sources(spark, tmp_path):
    """Round-9 `externaldata (col:type,...) [@"path"] with(format=..)`:
    csv (positional _c casts), json (by name), parquet; cloud URIs and
    unknown formats refuse."""
    import pytest as _pytest

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.kql import kql_sql

    p = tmp_path / "e.csv"
    p.write_text("1,north,1.5\n2,south,2.25\n3,east,0.5\n")
    rows = kql_sql(spark, f'externaldata (zid:long, zname:string, '
                          f'rate:real) [@"{p}"] with(format="csv") '
                          f'| where rate > 1 | project zname, rate '
                          f'| order by zname asc').collect()
    assert [tuple(r) for r in rows] == [("north", 1.5), ("south", 2.25)]

    j = tmp_path / "e.json"
    j.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    got = kql_sql(spark, f'externaldata (a:long, b:string) [@"{j}"] '
                         f'with(format="json") | summarize s = sum(a)'
                  ).collect()
    assert got[0][0] == 3

    pq_path = tmp_path / "e.parquet"
    spark.createDataFrame([(5, "z")], "a long, b string") \
        .coalesce(1).write.mode("overwrite").parquet(str(pq_path))
    got2 = kql_sql(spark, f'externaldata (a:long, b:string) '
                          f'[@"{pq_path}"] with(format="parquet") '
                          f'| project a').collect()
    assert [r[0] for r in got2] == [5]

    with _pytest.raises(ChSqlError, match="credentials"):
        kql_sql(spark, 'externaldata (a:long) [@"https://blob/x.csv"]')
    with _pytest.raises(ChSqlError, match="subset"):
        kql_sql(spark, f'externaldata (a:long) [@"{p}"] '
                       f'with(format="orc")')
