"""clickhouse-local-style embedded entry point (SURVEY §3 entry point
C: /root/reference/programs/local/ — run SQL over local files with no
server).

    python -m clickhouse_25_5_3_75_stable_spark \
        --data /root/testdata/sf0.001 \
        "SELECT toYear(o_orderdate) AS y, count() FROM orders GROUP BY y FORMAT CSV"

The statement is ClickHouse dialect (chsql shim); every parquet table
in --data registers under its file stem. FORMAT suffix picks the
output serialization (TabSeparated default, CSV[WithNames], JSONEachRow,
Pretty), mirroring the reference's FORMAT clause behavior for the
supported subset.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import re
import sys


def _detect_format(sql: str) -> tuple[str, str]:
    """Split off a trailing FORMAT <name>, the output format, leaving the
    rest of the text as written (string literals and line breaks
    intact). An INSERT's FORMAT names its input encoding, so it stays
    with the statement."""
    m = re.search(r"\s+FORMAT\s+(\w+)\s*;?\s*$", sql, re.IGNORECASE)
    if m is None or sql.split(None, 1)[0].upper() == "INSERT":
        return sql, "TabSeparated"
    return sql[:m.start()], m.group(1)


def _text(v, nested: bool = False):
    """A cell's text value as the reference writes it: booleans as
    true/false, arrays as [a,b], maps as {k:v}, tuples as (a,b); inside
    those, NULL as NULL and strings and dates single-quoted. A top-level
    string or NULL is left to the format."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_text(k, True)}:{_text(x, True)}"
                              for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):  # a struct value is a Row, a tuple
        inner = ",".join(_text(x, True) for x in v)
        return f"[{inner}]" if isinstance(v, list) else f"({inner})"
    if not nested:
        return v
    if v is None:
        return "NULL"
    if isinstance(v, (str, datetime.date)):  # datetime is a date too
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(v)


def _emit(rows, cols, fmt: str, out) -> None:
    f = fmt.lower()
    if f in ("csv", "csvwithnames"):
        import csv

        w = csv.writer(out)
        if f == "csvwithnames":
            w.writerow(cols)
        for r in rows:
            w.writerow([_text(v) for v in r])
    elif f in ("jsoneachrow", "json"):
        for r in rows:
            out.write(json.dumps(dict(zip(cols, [getattr(v, "isoformat", lambda: v)() if hasattr(v, "isoformat") else v for v in r])), default=str) + "\n")
    elif f in ("pretty", "prettycompact"):
        cells = [[str(_text(v)) for v in r] for r in rows]
        widths = [max(len(str(c)), *(len(r[i]) for r in cells)) if cells else len(str(c)) for i, c in enumerate(cols)]
        out.write(" | ".join(str(c).ljust(w) for c, w in zip(cols, widths)) + "\n")
        out.write("-+-".join("-" * w for w in widths) + "\n")
        for r in cells:
            out.write(" | ".join(v.ljust(w) for v, w in zip(r, widths)) + "\n")
    else:  # TabSeparated / TSV
        for r in rows:
            out.write("\t".join("" if v is None else str(_text(v)) for v in r) + "\n")


def _write_binary_outfile(df, rows, fmt: str, outfile: str) -> bool:
    """INTO OUTFILE ... FORMAT <binary codec>: route through the
    hand-built writers (reference: any registered output format is
    valid after INTO OUTFILE — ParserQueryWithOutput.cpp). Returns False
    for text formats so the caller falls back to _emit."""
    f = fmt.lower()
    if f == "avro":
        from clickhouse_25_5_3_75_stable_spark.sources.avro_fmt import write_avro

        write_avro(df, outfile)
        return True
    if f == "bsoneachrow":
        from clickhouse_25_5_3_75_stable_spark.sources.bson_fmt import (
            write_bson_each_row,
        )

        write_bson_each_row(df, outfile)
        return True
    if f == "msgpack":
        from clickhouse_25_5_3_75_stable_spark.sources.msgpack_fmt import write_msgpack

        write_msgpack(df, outfile)
        return True
    if f in ("rowbinary", "native"):
        from clickhouse_25_5_3_75_stable_spark.sources.rowbinary import (
            encode_native,
            encode_rowbinary,
            wire_schema,
        )

        schema = wire_schema(df.schema.fields, f"FORMAT {fmt}")
        enc = encode_rowbinary if f == "rowbinary" else encode_native
        with open(outfile, "wb") as fh:
            fh.write(enc(rows, schema))
        return True
    if f == "parquet":
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.Table.from_pylist([dict(zip(df.columns, r)) for r in rows]),
            outfile,
        )
        return True
    return False


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
        rows = [tuple(r) for r in df.collect()]
        if outfile is None:
            _emit(rows, df.columns, fmt, out)
        else:
            if not _write_binary_outfile(df, rows, fmt, outfile):
                with open(outfile, "w") as fh:
                    _emit(rows, df.columns, fmt, fh)
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
