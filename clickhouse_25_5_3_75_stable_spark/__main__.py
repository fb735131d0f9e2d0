"""clickhouse-local-style embedded entry point (SURVEY §3 entry point
C: /root/reference/programs/local/ — run SQL over local files with no
server).

    python -m clickhouse_25_5_3_75_stable_spark \
        --data /root/testdata/sf0.001 \
        "SELECT toYear(o_orderdate) AS y, count() FROM orders GROUP BY y FORMAT CSV"

The statement is ClickHouse dialect (chsql shim); every parquet table
in --data registers under its file stem. The FORMAT suffix picks the
output serialization (TabSeparated by default) from the one format
table, `sources/formats.py`, which every door reads: this FORMAT and
INTO OUTFILE, INSERT ... FROM INFILE and INSERT ... FORMAT, file()/url(),
format() and system.formats. An unknown name raises (the reference's
UNKNOWN_FORMAT); a binary format writes only INTO OUTFILE.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from clickhouse_25_5_3_75_stable_spark.sources import formats


def _detect_format(sql: str) -> tuple[str, str]:
    """Split off a trailing FORMAT <name>, the output format, leaving the
    rest of the text as written (string literals and line breaks
    intact). An INSERT's FORMAT names its input encoding, so it stays
    with the statement."""
    m = re.search(r"\s+FORMAT\s+(\w+)\s*;?\s*$", sql, re.IGNORECASE)
    if m is None or sql.split(None, 1)[0].upper() == "INSERT":
        return sql, "TabSeparated"
    return sql[:m.start()], m.group(1)


def _emit(rows, cols, fmt: str, out) -> None:
    """Write collected rows in FORMAT `fmt` (its `formats.FORMATS`
    encoder) to `out`; `cols` is the result's schema, or for a text
    format just its column names."""
    out.write(formats.output(fmt).write(rows, cols))


def _register_dir(spark, data_dir: str) -> list[str]:
    from clickhouse_25_5_3_75_stable_spark.sources import catalog

    return catalog.sync(spark, data_dir)


def run_local(sql: str, data_dir: str, spark=None, out=sys.stdout,
              max_result_rows=None, params=None) -> int:
    """Execute one statement over the tables of `data_dir` and print its
    result — the clickhouse-local front door. ch_sql runs every
    statement kind; this adds the presentation: FORMAT and INTO OUTFILE,
    kusto/prql routing, the max_result_rows cap and the query log's
    QueryFinish row. Returns the exit code (1 when the statement reports
    a failure, as CHECK TABLE does for a bad part)."""
    import time

    from clickhouse_25_5_3_75_stable_spark import statements
    from clickhouse_25_5_3_75_stable_spark.chsql import (
        ch_sql,
        enforce_result_cap,
        extract_into_outfile,
    )
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import record_query

    own_session = spark is None
    if own_session:
        from clickhouse_25_5_3_75_stable_spark.session import get_spark

        spark = get_spark(app_name="ch-local")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        t0 = time.perf_counter()
        # ch_sql reads the data dir from the session conf, so the
        # catalog syncs once per statement (here)
        spark.conf.set("spark.chspark.dataDir", data_dir)
        _register_dir(spark, data_dir)
        sql, fmt = _detect_format(sql)
        sql, outfile = extract_into_outfile(sql)
        binary = formats.output(fmt, to_file=outfile is not None).binary
        # dialect routing (reference executeQuery.cpp:1044: the kusto
        # parser takes over when SET dialect = 'kusto'); statements
        # such as SET stay ClickHouse text
        run = ch_sql
        dialect = spark.conf.get("spark.chsql.dialect", "clickhouse")
        if dialect != "clickhouse" and not statements.is_statement(sql):
            if dialect == "kusto":
                from clickhouse_25_5_3_75_stable_spark.kql import kql_sql as run
            else:
                from clickhouse_25_5_3_75_stable_spark.prql import prql_sql as run
        df = run(spark, sql, params=params)
        # a result the dialect door builds itself (kql getschema, a prql
        # loop) carries no query id: the QueryFinish row takes the current one
        query_id = getattr(df, "_ch_query_id", None)
        rc = getattr(df, "_ch_exit_code", 0)
        if max_result_rows is None:
            max_result_rows = spark.conf.get("spark.chspark.maxResultRows", None)
        if max_result_rows is not None:
            cap = int(str(max_result_rows).strip("'\""))
            if cap > 0:  # reference: 0 means unlimited
                mode = spark.conf.get("spark.chspark.resultOverflowMode", "throw")
                df = enforce_result_cap(df, cap, mode)
        rows = df.collect()
        if outfile is None:
            _emit(rows, df.schema, fmt, out)
        else:
            with open(outfile, "wb" if binary else "w") as fh:
                _emit(rows, df.schema, fmt, fh)
            _emit([(outfile, len(rows))], ["outfile", "rows"], "TabSeparated", out)
        record_query(sql, kind="QueryFinish",
                     duration_ms=round((time.perf_counter() - t0) * 1000, 3),
                     result_rows=len(rows), query_id=query_id)
        return rc
    finally:
        if own_session:
            spark.stop()


def _split_statements(script: str) -> list[str]:
    """Split on top-level semicolons (string literals and backtick
    identifiers stay opaque) — clickhouse-local --multiquery."""
    stmts, cur, i, n = [], [], 0, len(script)
    while i < n:
        c = script[i]
        if c in ("'", "`"):
            q = c
            cur.append(c)
            i += 1
            while i < n:
                cur.append(script[i])
                if script[i] == "\\" and q == "'" and i + 1 < n:
                    cur.append(script[i + 1])
                    i += 2
                    continue
                if script[i] == q:
                    i += 1
                    break
                i += 1
            continue
        if c == ";":
            s = "".join(cur).strip()
            if s:
                stmts.append(s)
            cur = []
        else:
            cur.append(c)
        i += 1
    s = "".join(cur).strip()
    if s:
        stmts.append(s)
    return stmts


def run_script(script: str, data_dir: str, spark=None, out=sys.stdout) -> int:
    """Execute a ;-separated multi-statement script against one shared
    session (so CREATE/INSERT/SET state carries across statements)."""
    own_session = spark is None
    if own_session:
        from clickhouse_25_5_3_75_stable_spark.session import get_spark

        spark = get_spark(app_name="ch-local")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        for stmt in _split_statements(script):
            rc = run_local(stmt, data_dir, spark=spark, out=out)
            if rc != 0:
                return rc
        return 0
    finally:
        if own_session:
            spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="clickhouse_25_5_3_75_stable_spark")
    ap.add_argument(
        "sql",
        nargs="?",
        help="ClickHouse-dialect statement (FORMAT suffix honored); "
        "omit with --file to run a script",
    )
    ap.add_argument(
        "--data",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="directory of <table>.parquet files to register",
    )
    ap.add_argument("--multiquery", action="store_true",
                    help="treat the input as ;-separated statements")
    ap.add_argument("--file", help="read the statement(s) from a file")
    # clickhouse-client style query parameters: --param_<name>=<value>
    # (reference src/Client/ClientBase.cpp --param_ handling)
    argv = list(sys.argv[1:]) if argv is None else list(argv)
    cli_params: dict[str, str] = {}
    rest = []
    for a in argv:
        m = re.match(r"--param_(\w+)=(.*)$", a)
        if m:
            cli_params[m.group(1)] = m.group(2)
        else:
            rest.append(a)
    args = ap.parse_args(rest)
    sql = args.sql
    if args.file:
        with open(args.file) as fh:
            sql = fh.read()
    if sql is None:
        ap.error("provide SQL or --file")
    if args.multiquery or args.file or ";" in sql.rstrip().rstrip(";"):
        return run_script(sql, args.data)
    return run_local(sql, args.data, params=cli_params or None)


if __name__ == "__main__":
    sys.exit(main())
