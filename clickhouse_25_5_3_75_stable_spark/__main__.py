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
import json
import os
import re
import sys
from collections import deque


def _detect_format(sql: str) -> tuple[str, str]:
    """Split off a trailing FORMAT <name>."""
    toks = sql.strip().rstrip(";").split()
    if len(toks) >= 2 and toks[-2].upper() == "FORMAT":
        return " ".join(toks[:-2]), toks[-1]
    return sql, "TabSeparated"


def _emit(rows, cols, fmt: str, out) -> None:
    f = fmt.lower()
    if f in ("csv", "csvwithnames"):
        import csv

        w = csv.writer(out)
        if f == "csvwithnames":
            w.writerow(cols)
        for r in rows:
            w.writerow(list(r))
    elif f in ("jsoneachrow", "json"):
        for r in rows:
            out.write(json.dumps(dict(zip(cols, [getattr(v, "isoformat", lambda: v)() if hasattr(v, "isoformat") else v for v in r])), default=str) + "\n")
    elif f in ("pretty", "prettycompact"):
        widths = [max(len(str(c)), *(len(str(r[i])) for r in rows)) if rows else len(str(c)) for i, c in enumerate(cols)]
        out.write(" | ".join(str(c).ljust(w) for c, w in zip(cols, widths)) + "\n")
        out.write("-+-".join("-" * w for w in widths) + "\n")
        for r in rows:
            out.write(" | ".join(str(v).ljust(w) for v, w in zip(r, widths)) + "\n")
    else:  # TabSeparated / TSV
        for r in rows:
            out.write("\t".join("" if v is None else str(v) for v in r) + "\n")


_CH_WIRE_TYPES = {  # Spark simpleString -> CH type for the wire codecs
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "String", "date": "Date", "timestamp": "DateTime",
    "decimal(20,0)": "UInt64",
}


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
        )

        schema = []
        for fld in df.schema.fields:
            t = fld.dataType.simpleString()
            if t not in _CH_WIRE_TYPES:
                raise ValueError(
                    f"FORMAT {fmt}: column {fld.name} type {t} has no CH "
                    "wire mapping — cast it or use Parquet"
                )
            schema.append((fld.name, _CH_WIRE_TYPES[t]))
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


# (statement_kind, query, duration_s, result_rows), newest last; capped
# like system_tables._QUERY_LOG so a long-running server stays bounded
_QUERY_LOG: deque = deque(maxlen=10_000)


def _log_query(kind: str, sql: str, dur: float, rows: int) -> None:
    """system.query_log analogue (reference
    src/Interpreters/QueryLog.h): per-statement audit rows, exposed as
    the `query_log` view to a later statement that names it."""
    _QUERY_LOG.append((kind, sql[:500], round(dur, 4), rows))


def _resolve_final(spark, data_dir: str, sql: str) -> str:
    """``FROM <t> FINAL`` on a DDL-created MergeTree-family table folds
    through operators/mergetree.py before the read (the chsql shim
    strips FINAL, which is only correct for plain parquet sources —
    a Replacing table with un-merged duplicates MUST fold here)."""
    import re as _re

    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def

    def fold_one(m: _re.Match) -> str:
        kw, tname = m.group(1), m.group(2)
        td = load_table_def(data_dir, tname)
        if td is None or not td.order_by:
            return m.group(0)  # plain source: strip-only semantics exact
        eng = td.engine.lower()
        df = spark.table(tname)
        if eng == "replacingmergetree":
            from clickhouse_25_5_3_75_stable_spark.operators.mergetree import (
                replacing_final,
            )

            version = td.engine_args[0] if td.engine_args else td.order_by[-1]
            folded = replacing_final(df, td.order_by, version=version, tiebreak=[])
        elif eng == "summingmergetree":
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            from clickhouse_25_5_3_75_stable_spark.operators.mergetree import (
                summing_final,
            )

            num = [f.name for f in df.schema.fields
                   if f.name not in td.order_by
                   and isinstance(f.dataType, T.NumericType)]
            folded = summing_final(df, td.order_by,
                                   [F.sum(c).alias(c) for c in num])
        else:
            return m.group(0)
        view = f"__{tname}_final"
        folded.createOrReplaceTempView(view)
        # alias back to the original name so qualified references
        # (t.col in ON/SELECT) keep resolving
        return f"{kw} {view} AS {tname}"

    # every occurrence — FINAL after a JOIN folds too (review-found:
    # only the first FROM was rewritten, the rest silently stripped)
    return _re.sub(r"\b(FROM|JOIN)\s+(\w+)\s+FINAL\b", fold_one, sql,
                   flags=_re.IGNORECASE)


_INT_CH = {"int8","int16","int32","int64","uint8","uint16","uint32"}


def _route_projection(spark, data_dir: str, sql: str):
    """Automatic aggregate-projection routing (the reference's
    optimizeUseAggregateProjection): a SELECT whose GROUP BY keys,
    WHERE columns, and aggregates are all covered by a stored
    projection re-aggregates the partial states instead of scanning
    the table. Returns a DataFrame or None (no match -> normal path)."""
    import re as _re

    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark
    from clickhouse_25_5_3_75_stable_spark.ddl import (
        _projection_path,
        load_table_def,
        match_projection,
    )

    m = _re.match(
        r"(?is)^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)"
        r"(?:\s+WHERE\s+(.+?))?\s+GROUP\s+BY\s+(.+?)"
        r"(?:\s+ORDER\s+BY\s+(.+?))?\s*;?\s*$",
        sql,
    )
    if m is None:
        return _route_normal_projection(spark, data_dir, sql)
    select_s, table, where_s, group_s, order_s = m.groups()
    td = load_table_def(data_dir, table)
    if td is None or not td.projections:
        return None
    group_keys = [g.strip() for g in group_s.split(",")]
    if not all(_re.fullmatch(r"\w+", g) for g in group_keys):
        return None
    items = [i.strip() for i in _re.split(r",(?![^()]*\))", select_s)]
    col_names = {c for c, _ in td.columns}
    where_cols = []
    if where_s:
        where_cols = [t for t in _re.findall(r"\w+", where_s) if t in col_names]
    routed = match_projection(td, items, group_keys, where_cols)
    if routed is None:
        return None
    proj, aggs = routed
    ch_types = dict(td.columns)
    df = spark.read.parquet(_projection_path(data_dir, table, proj["name"]))
    if where_s:
        translated = ch_sql_to_spark("SELECT " + where_s).split("SELECT", 1)[1]
        df = df.filter(F.expr(translated))
    agg_exprs = []
    raw_to_alias = {}
    for fn, col, alias, raw in aggs:
        raw_to_alias[raw] = alias
        if fn == "count":
            agg_exprs.append(F.sum("_rows").cast("long").alias(alias))
        elif fn == "sum":
            e = F.sum(f"_sum_{col}")
            t = ch_types.get(col, "").lower()
            if t in _INT_CH:
                e = e.cast("long")
            elif t in ("float32", "float64"):
                e = e.cast("double")
            agg_exprs.append(e.alias(alias))
        elif fn == "avg":
            agg_exprs.append(
                (F.sum(f"_sum_{col}").cast("double")
                 / F.sum(f"_cnt_{col}").cast("double")).alias(alias)
            )
        elif fn == "min":
            agg_exprs.append(F.min(f"_min_{col}").alias(alias))
        else:
            agg_exprs.append(F.max(f"_max_{col}").alias(alias))
    grouped = df.groupBy(*group_keys).agg(*agg_exprs)
    # project in the query's own column order, then apply ORDER BY
    out_cols = []
    for item in items:
        if item in raw_to_alias:
            out_cols.append(raw_to_alias[item])
        else:
            parts = _re.split(r"(?i)\s+AS\s+", item)
            src, alias = parts[0].strip(), parts[-1].strip()
            grouped = grouped.withColumnRenamed(src, alias) if src != alias else grouped
            out_cols.append(alias)
    result = grouped.select(*out_cols)
    if order_s:
        translated = ch_sql_to_spark("SELECT " + order_s).split("SELECT", 1)[1]
        order_exprs = []
        for t in translated.split(","):
            t = t.strip()
            if t.upper().endswith(" DESC"):
                order_exprs.append(F.expr(t[: -len(" DESC")].strip()).desc())
            else:
                order_exprs.append(F.expr(t.removesuffix(" ASC").strip()))
        result = result.orderBy(*order_exprs)
    return result


def _route_normal_projection(spark, data_dir: str, sql: str):
    """Normal-projection routing (optimizeUseNormalProjection.cpp): a
    plain SELECT whose WHERE hits a normal projection's leading sort
    key reads the SORTED copy — identical rows, but parquet min/max on
    the sort key prunes files the base order cannot."""
    import re as _re

    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark
    from clickhouse_25_5_3_75_stable_spark.ddl import (
        _projection_path,
        load_table_def,
    )

    m = _re.match(
        r"(?is)^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)"
        r"\s+WHERE\s+(.+?)(?:\s+ORDER\s+BY\s+(.+?))?\s*;?\s*$",
        sql,
    )
    if m is None:
        return None
    select_s, table, where_s, order_s = m.groups()
    if _re.search(r"(?i)\b(GROUP|JOIN|UNION|LIMIT)\b", sql):
        return None
    td = load_table_def(data_dir, table)
    if td is None:
        return None
    items = [i.strip() for i in select_s.split(",")]
    col_names = {c for c, _ in td.columns}
    if select_s.strip() != "*" and not all(i in col_names for i in items):
        return None  # expressions: normal path
    where_cols = {t for t in _re.findall(r"\w+", where_s) if t in col_names}
    for p in td.projections:
        if p.get("kind") != "normal":
            continue
        if p["keys"][0] not in where_cols:
            continue  # predicate misses the sort prefix: no pruning win
        df = spark.read.parquet(_projection_path(data_dir, table, p["name"]))
        translated = ch_sql_to_spark("SELECT " + where_s).split("SELECT", 1)[1]
        df = df.filter(F.expr(translated))
        if select_s.strip() != "*":
            df = df.select(*items)
        if order_s:
            tr = ch_sql_to_spark("SELECT " + order_s).split("SELECT", 1)[1]
            exprs = []
            for t in tr.split(","):
                t = t.strip()
                if t.upper().endswith(" DESC"):
                    exprs.append(F.expr(t[: -len(" DESC")].strip()).desc())
                else:
                    exprs.append(F.expr(t.removesuffix(" ASC").strip()))
            df = df.orderBy(*exprs)
        return df
    return None


def run_local(sql: str, data_dir: str, spark=None, out=sys.stdout,
              max_result_rows=None, params=None) -> int:
    """Execute one statement: SELECT (CH dialect), CREATE TABLE
    (ddl.py), INSERT INTO ... VALUES/SELECT, SHOW TABLES, DESCRIBE —
    the clickhouse-local statement surface."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark
    from clickhouse_25_5_3_75_stable_spark.sources import catalog

    own_session = spark is None
    if own_session:
        from clickhouse_25_5_3_75_stable_spark.session import get_spark

        spark = get_spark(app_name="ch-local")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        # publish the catalog dir for directory-backed system tables
        # BEFORE any dispatch (review-found: setting it only in the
        # SELECT tail left WATCH/LIVE VIEW materializations without it,
        # and a stale dir across run_local(data_dir=...) changes)
        spark.conf.set("spark.chspark.dataDir", data_dir)
        names = _register_dir(spark, data_dir)
        sql, fmt = _detect_format(sql)
        head = sql.strip().split(None, 2)
        kw = head[0].upper() if head else ""

        # lake time travel (round-9): `FROM <lake table> VERSION AS OF
        # n` (Delta versions) / `SNAPSHOT AS OF id` (Iceberg) rewrites
        # to a view over the historical replay
        tt = re.search(
            r"(?is)\bFROM\s+(\w+)\s+(VERSION|SNAPSHOT)\s+AS\s+OF\s+(\d+)",
            sql)
        if tt is not None:
            from clickhouse_25_5_3_75_stable_spark.sources import (
                datalake as _dl_tt,
            )

            tname = tt.group(1)
            if tname in _dl_tt.LAKE_TABLES:
                lfmt, lpath = _dl_tt.LAKE_TABLES[tname]
                n = int(tt.group(3))
                if lfmt == "delta":
                    hist = _dl_tt.read_delta(spark, lpath, version=n)
                elif lfmt == "iceberg":
                    hist = _dl_tt.read_iceberg(spark, lpath, snapshot_id=n)
                else:
                    raise ValueError(
                        "time travel on ENGINE = Hudi needs the connector")
                view = f"__tt_{tname}_{n}"
                hist.createOrReplaceTempView(view)
                sql = sql[:tt.start()] + f"FROM {view}" + sql[tt.end():]
                head = sql.strip().split(None, 2)

        if kw == "SHOW" and len(head) > 1 and head[1].upper().startswith("TABLE"):
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                LAKE_TABLES as _LAKE_SHOW,
            )

            _emit([(n,) for n in sorted({*names, *_LAKE_SHOW})],
                  ["name"], fmt, out)
            return 0
        if kw == "SHOW" and len(head) > 1 and head[1].upper().startswith("DATABASE"):
            from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
                system_databases,
            )

            _emit([(r.name,) for r in system_databases(spark).collect()],
                  ["name"], fmt, out)
            return 0
        if kw == "SHOW" and len(head) > 1 and head[1].upper() == "PROCESSLIST":
            from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
                system_processes,
            )

            rows = [tuple(r) for r in system_processes(spark).collect()]
            _emit(rows, ["job_id", "status", "n_stages"], fmt, out)
            return 0
        if kw == "SHOW" and len(head) > 2 and head[1].upper() == "CREATE":
            from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def

            tname = head[2].split()[-1].rstrip(";")
            td = load_table_def(data_dir, tname)
            if td is None:
                # plain parquet table without DDL metadata: synthesize
                df = spark.table(tname)
                cols = ",\n    ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
                )
                stmt = f"CREATE TABLE {tname}\n(\n    {cols}\n) ENGINE = MergeTree"
            else:
                cols = ",\n    ".join(f"{n} {t}" for n, t in td.columns)
                clauses = [f"ENGINE = {td.engine}"]
                if td.order_by:
                    clauses.append("ORDER BY (" + ", ".join(td.order_by) + ")")
                if td.partition_by:
                    clauses.append(f"PARTITION BY {td.partition_by}")
                if td.ttl:
                    clauses.append(f"TTL {td.ttl}")
                for pr in td.projections:
                    if pr.get("kind") == "normal":
                        body = "SELECT * ORDER BY " + ", ".join(pr["keys"])
                    else:
                        aggs = [f"sum({c})" for c in pr["sums"]] + [
                            f"min({c}), max({c})" for c in pr["minmaxs"]]
                        body = ("SELECT " + ", ".join(pr["keys"] + aggs)
                                + " GROUP BY " + ", ".join(pr["keys"]))
                    clauses.append(f"PROJECTION {pr['name']} ({body})")
                stmt = (
                    f"CREATE TABLE {tname}\n(\n    {cols}\n) " + "\n".join(clauses)
                )
            _emit([(stmt,)], ["statement"], fmt, out)
            return 0
        if kw == "EXPLAIN":
            from clickhouse_25_5_3_75_stable_spark.chsql import ch_explain

            em = re.match(
                r"(?is)^\s*EXPLAIN\s+(AST|SYNTAX|PLAN|PIPELINE|ESTIMATE)?\s*(.+?);?\s*$",
                sql,
            )
            if not em:
                raise ValueError("unsupported EXPLAIN shape")
            text = ch_explain(spark, em.group(2), (em.group(1) or "PLAN").upper())
            _emit([(ln,) for ln in text.splitlines()], ["explain"], fmt, out)
            return 0
        if (kw in ("GRANT", "REVOKE")
                or (len(head) > 1 and head[1].upper() in ("USER", "ROLE")
                    and kw in ("CREATE", "DROP"))
                or (kw == "SHOW" and len(head) > 1
                    and head[1].upper() in ("GRANTS", "USERS", "ROLES"))):
            # access statements route through ch_sql (round-9;
            # access.py)
            from clickhouse_25_5_3_75_stable_spark.chsql import (
                ch_sql as _acc_sql,
            )

            adf = _acc_sql(spark, sql)
            _emit([tuple(r) for r in adf.collect()], adf.columns, fmt, out)
            return 0
        if (len(head) > 1 and head[1].upper() == "DICTIONARY"
                and kw in ("CREATE", "DROP", "EXISTS")) or (
                kw == "SHOW" and len(head) > 1
                and head[1].upper().startswith("DICTIONAR")):
            # dictionary DDL/introspection routes through ch_sql
            # (round-9; dictionary_sql.py)
            from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

            ddf = ch_sql(spark, sql)
            _emit([tuple(r) for r in ddf.collect()], ddf.columns, fmt, out)
            return 0
        if kw == "EXISTS":
            tname = head[-1].rstrip(";")
            _emit([(1 if tname in names else 0,)], ["result"], fmt, out)
            return 0
        if kw in ("DESCRIBE", "DESC"):
            tname = head[-1].rstrip(";")
            df = spark.table(tname)
            rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
            _emit(rows, ["name", "type"], fmt, out)
            return 0
        if kw == "DROP":
            from clickhouse_25_5_3_75_stable_spark.ddl import drop_table
            from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
                LIVE_VIEWS,
                drop_live_view,
            )

            toks = sql.strip().rstrip(";").split()
            sync = toks[-1].upper() == "SYNC"
            if sync:
                toks = toks[:-1]
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                detach_lake_table,
            )

            if detach_lake_table(spark, toks[-1]):
                # lake tables DETACH from the catalog; files stay (the
                # log/snapshots are the table of record)
                _emit([(toks[-1], "Ok")], ["table", "status"], fmt, out)
                return 0
            # last token handles DROP TABLE [IF EXISTS] t
            if toks[-1] in LIVE_VIEWS:
                # a zombie registry entry would shadow same-named
                # tables in later SELECTs (review-found)
                drop_live_view(toks[-1])
                try:
                    spark.catalog.dropTempView(toks[-1])
                except Exception:
                    pass
            else:
                drop_table(spark, data_dir, toks[-1], sync=sync)
            _emit([(toks[-1], "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "WATCH":
            # WATCH lv [LIMIT n] (reference InterpreterWatchQuery):
            # stream (rows, _version) heartbeats; the CLI form emits
            # the collected heartbeats (initial state counts as one)
            from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
                LIVE_VIEWS,
            )

            wm = re.match(r"(?is)^\s*WATCH\s+(\w+)(?:\s+LIMIT\s+(\d+))?",
                          sql)
            if not wm or wm.group(1) not in LIVE_VIEWS:
                raise ValueError("WATCH <live view> [LIMIT n]")
            lvv = LIVE_VIEWS[wm.group(1)]
            n = int(wm.group(2)) if wm.group(2) else 1
            rows_out = []
            for rows, ver in lvv.watch(spark, limit=n, timeout_s=0.5):
                for r in rows:
                    rows_out.append(tuple(r) + (ver,))
            cols = list(lvv._cols) + ["_version"]
            _emit(rows_out, cols, fmt, out)
            return 0
        if kw == "CHECK":
            # CHECK TABLE (reference InterpreterCheckQuery): verify
            # every part is readable and footer-consistent — here each
            # parquet file's footer must parse and its row count must
            # equal what a full decode yields
            import glob as _glob

            import pyarrow.parquet as _pq

            cm = re.match(r"(?is)^\s*CHECK\s+TABLE\s+(\w+)", sql)
            if not cm:
                raise ValueError("unsupported CHECK shape (CHECK TABLE t)")
            tname = cm.group(1)
            tdir = os.path.join(data_dir, tname)
            if not os.path.isdir(tdir):
                raise ValueError(f"CHECK TABLE {tname}: no such table")
            bad = []
            total = 0
            for f in _glob.glob(os.path.join(tdir, "**", "*.parquet"),
                                recursive=True):
                rel = os.path.relpath(f, tdir)
                if rel.startswith(("_", ".")) or os.sep + "_" in os.sep + rel:
                    continue
                try:
                    with open(f, "rb") as fh:
                        if fh.read(4) != b"PAR1":
                            raise ValueError("bad leading PAR1 magic")
                    meta = _pq.read_metadata(f)
                    n = _pq.read_table(f).num_rows
                    if n != meta.num_rows:
                        bad.append((rel, "row count mismatch"))
                    total += 1
                except Exception as e:
                    bad.append((rel, str(e)[:80]))
            rows = ([(tname, 0, f"{p}: {why}") for p, why in bad]
                    or [(tname, 1, f"{total} parts ok")])
            _emit(rows, ["table", "result", "message"], fmt, out)
            return 0 if not bad else 1
        if kw == "UNDROP":
            from clickhouse_25_5_3_75_stable_spark.ddl import undrop_table

            tname = sql.strip().rstrip(";").split()[-1]
            undrop_table(spark, data_dir, tname)
            _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "DETACH":
            from clickhouse_25_5_3_75_stable_spark.ddl import detach_table

            tname = sql.strip().rstrip(";").split()[-1]
            detach_table(spark, data_dir, tname)
            _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "ATTACH":
            from clickhouse_25_5_3_75_stable_spark.ddl import attach_table

            tname = sql.strip().rstrip(";").split()[-1]
            attach_table(spark, data_dir, tname)
            _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "KILL":
            # KILL QUERY WHERE ... (InterpreterKillQueryQuery.cpp):
            # statements execute synchronously in library mode, so
            # there is never a running query to kill — the reference's
            # response shape with zero rows
            if len(head) > 1 and head[1].upper() == "QUERY":
                _emit([], ["kill_status", "query_id", "user", "query"],
                      fmt, out)
                return 0
            raise ValueError("KILL: only KILL QUERY is recognized")
        if kw == "TRUNCATE":
            from clickhouse_25_5_3_75_stable_spark.ddl import truncate_table

            tname = sql.strip().rstrip(";").split()[-1]
            truncate_table(spark, data_dir, tname)
            _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "ALTER":
            from clickhouse_25_5_3_75_stable_spark.ddl import (
                alter_add_column,
                alter_drop_column,
                mutate_table,
            )

            am = re.match(r"(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+(.*?);?\s*$", sql)
            if not am:
                raise ValueError("unsupported ALTER shape")
            tname, action = am.group(1), am.group(2).strip()
            up = action.upper()
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                LAKE_TABLES as _LAKE,
            )

            if tname in _LAKE and (up.startswith("DELETE")
                                   or up.startswith("UPDATE")):
                # round-9 lake DML: DELETE via deletion vectors,
                # UPDATE copy-on-write (Delta only)
                from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                    delete_delta,
                    refresh_lake_table,
                    update_delta,
                )

                lfmt, lpath = _LAKE[tname]
                if lfmt != "delta":
                    raise ValueError(
                        f"ALTER on ENGINE = {lfmt}: mutations need the "
                        "connector (Delta tables mutate natively)")
                if up.startswith("DELETE"):
                    dm = re.match(r"(?is)DELETE\s+WHERE\s+(.+)$", action)
                    if not dm:
                        raise ValueError("ALTER DELETE needs WHERE")
                    delete_delta(spark, lpath, dm.group(1))
                else:
                    um = re.match(r"(?is)UPDATE\s+(.+?)\s+WHERE\s+(.+)$",
                                  action)
                    if not um:
                        raise ValueError("ALTER UPDATE needs WHERE")
                    assigns = {}
                    for part in re.split(r",(?![^()]*\))", um.group(1)):
                        k, _, v = part.partition("=")
                        if not _:
                            raise ValueError(
                                f"bad UPDATE assignment: {part!r}")
                        assigns[k.strip()] = v.strip()
                    update_delta(spark, lpath, um.group(2), assigns)
                refresh_lake_table(spark, tname)
                _emit([(tname, "Ok")], ["table", "status"], fmt, out)
                return 0
            if up.startswith("ADD COLUMN"):
                cm = re.match(
                    r"(?is)ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
                    r"([\w]+(?:\([\w, ]*\))?)(?:\s+DEFAULT\s+(.+))?$",
                    action,
                )
                if not cm:
                    raise ValueError("unsupported ADD COLUMN shape")
                dflt = cm.group(3)
                if dflt is not None:
                    dflt = dflt.strip().strip("'")
                alter_add_column(
                    spark, data_dir, tname, cm.group(1), cm.group(2), default=dflt
                )
            elif up.startswith("DROP COLUMN"):
                col = action.split()[-1]
                alter_drop_column(spark, data_dir, tname, col)
            elif up.startswith("ADD PROJECTION"):
                from clickhouse_25_5_3_75_stable_spark.ddl import add_projection

                nm = re.match(
                    r"(?is)ADD\s+PROJECTION\s+(\w+)\s*\(\s*SELECT\s+\*\s+"
                    r"ORDER\s+BY\s+(.+?)\s*\)\s*$",
                    action,
                )
                if nm:
                    from clickhouse_25_5_3_75_stable_spark.ddl import (
                        add_normal_projection,
                    )

                    add_normal_projection(
                        spark, data_dir, tname, nm.group(1),
                        [k.strip() for k in nm.group(2).split(",")],
                    )
                    _emit([(tname, "Ok")], ["table", "status"], fmt, out)
                    return 0
                pm = re.match(
                    r"(?is)ADD\s+PROJECTION\s+(\w+)\s*\(\s*SELECT\s+(.+?)"
                    r"\s+GROUP\s+BY\s+(.+?)\s*\)\s*$",
                    action,
                )
                if not pm:
                    raise ValueError(
                        "unsupported ADD PROJECTION shape (need "
                        "(SELECT ... GROUP BY ...) or (SELECT * ORDER BY ...))"
                    )
                keys = [k.strip() for k in pm.group(3).split(",")]
                sums, minmaxs = [], []
                for it in re.split(r",(?![^()]*\))", pm.group(2)):
                    am2 = re.match(r"(?is)^\s*(sum|avg|min|max)\(\s*(\w+)\s*\)",
                                   it.strip())
                    if am2:
                        fn, c = am2.group(1).lower(), am2.group(2)
                        (sums if fn in ("sum", "avg") else minmaxs).append(c)
                add_projection(spark, data_dir, tname, pm.group(1), keys,
                               sorted(set(sums)), sorted(set(minmaxs)))
            elif up.startswith("MODIFY COLUMN"):
                from clickhouse_25_5_3_75_stable_spark.ddl import (
                    alter_modify_column,
                )

                mm = re.match(
                    r"(?is)MODIFY\s+COLUMN\s+(\w+)\s+([\w]+(?:\([\w, ]*\))?)\s*$",
                    action)
                if not mm:
                    raise ValueError("unsupported MODIFY COLUMN shape")
                alter_modify_column(spark, data_dir, tname,
                                    mm.group(1), mm.group(2))
            elif up.startswith("RENAME COLUMN"):
                from clickhouse_25_5_3_75_stable_spark.ddl import (
                    alter_rename_column,
                )

                rm = re.match(
                    r"(?is)RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$", action)
                if not rm:
                    raise ValueError("unsupported RENAME COLUMN shape")
                alter_rename_column(spark, data_dir, tname,
                                    rm.group(1), rm.group(2))
            elif up.startswith("MODIFY TTL") or up.startswith("REMOVE TTL"):
                from clickhouse_25_5_3_75_stable_spark.ddl import (
                    load_table_def,
                    save_table_def,
                )

                td = load_table_def(data_dir, tname)
                if td is None:
                    raise ValueError(f"{tname}: not a DDL-managed table")
                td.ttl = (None if up.startswith("REMOVE")
                          else action.split(None, 2)[2].strip())
                save_table_def(data_dir, td)
            elif up.startswith("DROP PROJECTION"):
                from clickhouse_25_5_3_75_stable_spark.ddl import drop_projection

                drop_projection(data_dir, tname, action.split()[-1])
            elif up.startswith("MATERIALIZE PROJECTION"):
                from clickhouse_25_5_3_75_stable_spark.ddl import (
                    materialize_projections,
                )

                materialize_projections(spark, data_dir, tname)
            elif re.match(r"(?is)^(DETACH|ATTACH|DROP(\s+DETACHED)?|MOVE|"
                          r"REPLACE)\s+PARTITION\b",
                          action) or up.startswith("FREEZE"):
                # partition lifecycle (reference
                # MergeTreeData::{dropDetached,freezePartition} +
                # alterPartition): O(1) directory moves / hardlink
                # snapshots, never a data rewrite
                from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def
                from clickhouse_25_5_3_75_stable_spark.sources.layout import (
                    attach_partition,
                    detach_partition,
                    drop_detached_partition,
                    drop_partition,
                    freeze_partition,
                )

                td = load_table_def(data_dir, tname)
                if td is None:
                    raise ValueError(f"{tname}: not a DDL-managed table")
                tpath = os.path.join(data_dir, tname)

                def _pval(raw: str):
                    raw = raw.strip()
                    if raw.startswith("'") and raw.endswith("'"):
                        return raw[1:-1]
                    if not re.match(r"^-?\d+$", raw):
                        raise ValueError(
                            f"unsupported PARTITION value {raw!r} (literal "
                            "number or quoted string)")
                    return raw

                if up.startswith("FREEZE"):
                    fm = re.match(
                        r"(?is)^FREEZE(?:\s+PARTITION\s+(?!WITH\b)(\S+))?"
                        r"(?:\s+WITH\s+NAME\s+'([^']+)')?\s*$", action)
                    if not fm:
                        raise ValueError("unsupported FREEZE shape")
                    val = _pval(fm.group(1)) if fm.group(1) else None
                    if val is not None and not td.partition_by:
                        raise ValueError(f"{tname} has no PARTITION BY")
                    snap = freeze_partition(
                        tpath, td.partition_by, val, fm.group(2))
                    _emit([(tname, snap)], ["table", "backup_path"], fmt, out)
                    return 0
                if not td.partition_by:
                    raise ValueError(f"{tname} has no PARTITION BY")
                mv = re.match(
                    r"(?is)^MOVE\s+PARTITION\s+(.+?)\s+TO\s+TABLE\s+(\w+)\s*$",
                    action)
                rp = re.match(
                    r"(?is)^REPLACE\s+PARTITION\s+(.+?)\s+FROM\s+(\w+)\s*$",
                    action)
                if mv or rp:
                    from clickhouse_25_5_3_75_stable_spark.sources.layout import (
                        move_partition_to_table,
                        replace_partition_from,
                    )

                    other = (mv or rp).group(2)
                    td2 = load_table_def(data_dir, other)
                    if td2 is None:
                        raise ValueError(f"{other}: not a DDL-managed table")
                    # NAMES and types must match — type-only comparison
                    # let partitions with differently-named columns mix
                    # into one tree (review-found silent corruption)
                    if td2.partition_by != td.partition_by or td2.columns != td.columns:
                        raise ValueError(
                            f"{tname} and {other} must share column names, "
                            "types and partition key (reference throws on "
                            "structure mismatch too)")
                    opath = os.path.join(data_dir, other)
                    if mv:
                        move_partition_to_table(
                            tpath, opath, td.partition_by, _pval(mv.group(1)))
                    else:
                        replace_partition_from(
                            tpath, opath, td.partition_by, _pval(rp.group(1)))
                    catalog.register(spark, data_dir, tname)
                    catalog.register(spark, data_dir, other)
                    _emit([(tname, "Ok")], ["table", "status"], fmt, out)
                    return 0
                pm2 = re.match(
                    r"(?is)^(DETACH|ATTACH|DROP\s+DETACHED|DROP)\s+"
                    r"PARTITION\s+(.+?)\s*$", action)
                if not pm2:
                    raise ValueError(
                        "unsupported ALTER PARTITION shape (DETACH/ATTACH/"
                        "DROP [DETACHED] PARTITION v, MOVE PARTITION v TO "
                        "TABLE t, REPLACE PARTITION v FROM t, FREEZE)")
                verb = re.sub(r"\s+", " ", pm2.group(1).upper())
                val = _pval(pm2.group(2))
                if verb == "DETACH":
                    detach_partition(tpath, td.partition_by, val)
                elif verb == "ATTACH":
                    attach_partition(tpath, td.partition_by, val)
                elif verb == "DROP DETACHED":
                    drop_detached_partition(tpath, td.partition_by, val)
                else:
                    drop_partition(tpath, td.partition_by, val)
                catalog.register(spark, data_dir, tname)
            elif up.startswith("DELETE"):
                dm = re.match(r"(?is)DELETE\s+WHERE\s+(.+)$", action)
                if not dm:
                    raise ValueError("ALTER DELETE needs WHERE")
                mutate_table(spark, data_dir, tname, "delete", dm.group(1))
            elif up.startswith("UPDATE"):
                um = re.match(r"(?is)UPDATE\s+(.+?)\s+WHERE\s+(.+)$", action)
                if not um:
                    raise ValueError("ALTER UPDATE needs WHERE")
                assigns = {}
                for part in re.split(r",(?![^()]*\))", um.group(1)):
                    k, _, v = part.partition("=")
                    if not _:
                        raise ValueError(f"bad UPDATE assignment: {part!r}")
                    assigns[k.strip()] = v.strip()
                mutate_table(spark, data_dir, tname, "update", um.group(2), assigns)
            else:
                raise ValueError(f"unsupported ALTER action: {action.split()[0]}")
            _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "OPTIMIZE":
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                LAKE_TABLES as _LAKE2,
            )

            om0 = re.match(r"(?is)^\s*OPTIMIZE\s+TABLE\s+(\w+)", sql)
            if om0 and om0.group(1) in _LAKE2:
                from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                    optimize_delta,
                    refresh_lake_table,
                )

                lfmt, lpath = _LAKE2[om0.group(1)]
                if lfmt != "delta":
                    raise ValueError(
                        f"OPTIMIZE on ENGINE = {lfmt} needs the connector")
                optimize_delta(spark, lpath)
                refresh_lake_table(spark, om0.group(1))
                _emit([(om0.group(1), "Ok")], ["table", "status"], fmt, out)
                return 0
            from clickhouse_25_5_3_75_stable_spark.ddl import optimize_table

            parts = sql.strip().rstrip(";").split()
            uppers = [p.upper() for p in parts]
            tname = parts[2] if len(parts) > 2 else parts[-1]
            optimize_table(
                spark, data_dir, tname,
                final="FINAL" in uppers,
                deduplicate="DEDUPLICATE" in uppers,
            )
            _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "RENAME":
            from clickhouse_25_5_3_75_stable_spark.ddl import rename_table

            import re as _re

            m = _re.match(r"RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)", sql, _re.IGNORECASE)
            if not m:
                raise ValueError("unsupported RENAME shape")
            rename_table(spark, data_dir, m.group(1), m.group(2))
            _emit([(m.group(2), "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "EXCHANGE":
            from clickhouse_25_5_3_75_stable_spark.ddl import exchange_tables

            import re as _re

            m = _re.match(r"\s*EXCHANGE\s+TABLES\s+(\w+)\s+AND\s+(\w+)",
                          sql, _re.IGNORECASE)
            if not m:
                raise ValueError("unsupported EXCHANGE shape "
                                 "(EXCHANGE TABLES a AND b)")
            exchange_tables(spark, data_dir, m.group(1), m.group(2))
            _emit([(m.group(1), "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "CREATE":
            import re as _re

            lv = _re.match(
                r"\s*CREATE\s+LIVE\s+VIEW\s+(\w+)\s+AS\s+(.*)",
                sql, _re.IGNORECASE | _re.DOTALL,
            )
            if lv:
                # reference StorageLiveView: continuously re-evaluated
                # result, version-bumped by INSERTs into source tables
                from clickhouse_25_5_3_75_stable_spark.chsql import (
                    ch_sql as _lv_sql,
                )
                from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
                    LiveView,
                )

                vname, body = lv.group(1), lv.group(2).strip().rstrip(";")
                if vname in names:
                    raise ValueError(
                        f"CREATE LIVE VIEW {vname}: a table with that name "
                        "exists")
                srcs = tuple(_re.findall(
                    r"(?is)\bFROM\s+(\w+)|\bJOIN\s+(\w+)", body))
                srcs = tuple({a or b for a, b in srcs})
                view = LiveView(vname, lambda sp, _b=body: _lv_sql(sp, _b),
                                source_tables=srcs)
                # validate + take the initial state NOW (the reference
                # analyzes at CREATE; a bogus body must not detonate
                # inside an unrelated later statement — review-found)
                try:
                    view.read(spark)
                except Exception:
                    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
                        drop_live_view,
                    )

                    drop_live_view(vname)
                    raise
                _emit([(vname, "Ok")], ["table", "status"], fmt, out)
                return 0
            mv = _re.match(
                r"CREATE\s+(MATERIALIZED\s+)?VIEW\s+(\w+)\s+AS\s+(.*)",
                sql, _re.IGNORECASE | _re.DOTALL,
            )
            if mv:
                vname, body = mv.group(2), mv.group(3)
                if mv.group(1):  # MATERIALIZED: persist the result
                    spark.sql(ch_sql_to_spark(body)).write.mode(
                        "overwrite").parquet(os.path.join(data_dir, vname))
                    catalog.register(spark, data_dir, vname)
                else:
                    # a plain view is its SQL text, resolved at each
                    # read like the reference's StorageView; a
                    # registered DataFrame would pin its tables' files
                    spark.sql(f"CREATE OR REPLACE TEMP VIEW {vname} AS "
                              + ch_sql_to_spark(body))
                _emit([(vname, "Ok")], ["table", "status"], fmt, out)
                return 0
            # lake ENGINEs (round-9; reference registerStorages.cpp
            # DeltaLake/Iceberg/Hudi): CREATE TABLE t ENGINE =
            # DeltaLake('path') attaches an existing table via the
            # metadata-replay readers; `... AS SELECT` CREATES the
            # table through the write path (Delta/Iceberg; the
            # reference is read-only — superset). INSERT INTO appends.
            lake = _re.match(
                r"CREATE\s+TABLE\s+(\w+)\s+ENGINE\s*=\s*"
                r"(DeltaLake|Iceberg|Hudi)\s*\(\s*'([^']+)'\s*\)"
                r"(?:\s+AS\s+(SELECT\b.*))?\s*;?\s*$",
                sql, _re.IGNORECASE | _re.DOTALL,
            )
            if lake:
                from clickhouse_25_5_3_75_stable_spark.sources import (
                    datalake as _dl,
                )

                tname, eng, lpath, body = lake.groups()
                eng = {"deltalake": "delta", "iceberg": "iceberg",
                       "hudi": "hudi"}[eng.lower()]
                if body:
                    if eng == "hudi":
                        raise ValueError(
                            "ENGINE = Hudi is read-only (attach an "
                            "existing table); writes need the "
                            "hudi-spark-bundle connector")
                    wdf = spark.sql(ch_sql_to_spark(body))
                    if eng == "delta":
                        _dl.write_delta(wdf, lpath)
                    else:
                        _dl.write_iceberg(wdf, lpath)
                _dl.attach_lake_table(spark, tname, eng, lpath)
                _emit([(tname, "Ok")], ["table", "status"], fmt, out)
                return 0
            # CTAS: CREATE TABLE t [ENGINE = ...] AS SELECT ... —
            # schema inferred from the query (reference
            # InterpreterCreateQuery create-as-select path)
            ctas = _re.match(
                r"CREATE\s+TABLE\s+(\w+)\s+(?:ENGINE\s*=\s*(\w+)(?:\(([^)]*)\))?\s+)?"
                r"(?:ORDER\s+BY\s+\(?([\w,\s]+?)\)?\s+)?AS\s+(SELECT\b.*)",
                sql, _re.IGNORECASE | _re.DOTALL,
            )
            if ctas:
                tname, engine, engine_args_raw, order_raw, body = ctas.groups()
                df = spark.sql(ch_sql_to_spark(body))
                order_by = (
                    [c.strip() for c in order_raw.split(",") if c.strip()]
                    if order_raw
                    else []
                )
                missing = [c for c in order_by if c not in df.columns]
                if missing:
                    raise ValueError(f"CTAS ORDER BY references {missing}")
                if order_by:
                    df = df.sortWithinPartitions(*order_by)
                path = os.path.join(data_dir, tname)
                df.write.mode("errorifexists").parquet(path)
                if engine or order_by:
                    # persist the declared contract so FINAL/OPTIMIZE
                    # see it, like the column-DDL path
                    from clickhouse_25_5_3_75_stable_spark.ddl import (
                        TableDef,
                        save_table_def,
                    )
                    from clickhouse_25_5_3_75_stable_spark.functions.typemap import (
                        spark_type_to_ch,
                    )

                    save_table_def(
                        data_dir,
                        TableDef(
                            name=tname,
                            columns=[
                                (f.name, spark_type_to_ch(f.dataType))
                                for f in df.schema.fields
                            ],
                            engine=engine or "MergeTree",
                            engine_args=[
                                a.strip()
                                for a in (engine_args_raw or "").split(",")
                                if a.strip()
                            ],
                            order_by=order_by,
                        ),
                    )
                catalog.register(spark, data_dir, tname)
                _emit([(tname, "Ok")], ["table", "status"], fmt, out)
                return 0

            from clickhouse_25_5_3_75_stable_spark.ddl import Database

            db = Database(spark, data_dir)
            td = db.create_table(sql)
            _emit([(td.name, "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "INSERT":
            # INSERT INTO <t> VALUES (...) | ... SELECT ... |
            # ... FORMAT JSONEachRow/CSV <inline rows> (the
            # clickhouse-local inline-data idiom)
            import re as _re

            m = _re.match(
                r"INSERT\s+INTO\s+(\w+)\s+(VALUES|SELECT|FORMAT|FROM)\s*(.*)",
                sql, _re.IGNORECASE | _re.DOTALL,
            )
            if not m:
                raise ValueError("unsupported INSERT shape")
            tname, mode_kw, rest = m.group(1), m.group(2).upper(), m.group(3)
            target = spark.table(tname)
            if mode_kw == "FROM":
                # INSERT INTO t FROM INFILE 'path' [FORMAT X] — the
                # reference's client-side bulk load
                # (ParserInsertQuery.cpp infile branch)
                im = _re.match(
                    r"(?is)^INFILE\s+'([^']+)'\s*(?:FORMAT\s+(\w+))?\s*;?\s*$",
                    rest.strip(),
                )
                if not im:
                    raise ValueError("unsupported INSERT FROM shape (need "
                                     "FROM INFILE '<path>' [FORMAT <name>])")
                # the trailing FORMAT of an INSERT..INFILE names the
                # INPUT encoding, but _detect_format already split it
                # off as the output format — recover it from there
                infile = im.group(1)
                in_fmt = (im.group(2)
                          or (fmt if fmt != "TabSeparated" else "Parquet")).lower()
                ddl_schema = ", ".join(
                    f"{f_.name} {f_.dataType.simpleString()}"
                    for f_ in target.schema.fields
                )
                if in_fmt == "parquet":
                    df = spark.read.schema(target.schema).parquet(infile)
                elif in_fmt in ("csv", "csvwithnames"):
                    df = (spark.read.schema(target.schema)
                          .option("header", in_fmt == "csvwithnames").csv(infile))
                elif in_fmt in ("jsoneachrow", "ndjson"):
                    df = spark.read.schema(target.schema).json(infile)
                elif in_fmt == "avro":
                    from clickhouse_25_5_3_75_stable_spark.sources.avro_fmt import (
                        read_avro,
                    )

                    df = read_avro(spark, infile)
                elif in_fmt == "bsoneachrow":
                    from clickhouse_25_5_3_75_stable_spark.sources.bson_fmt import (
                        read_bson_each_row,
                    )

                    df = read_bson_each_row(spark, infile, ddl_schema)
                elif in_fmt == "msgpack":
                    from clickhouse_25_5_3_75_stable_spark.sources.msgpack_fmt import (
                        read_msgpack,
                    )

                    df = read_msgpack(spark, infile, ddl_schema)
                elif in_fmt in ("rowbinary", "native"):
                    from clickhouse_25_5_3_75_stable_spark.sources.rowbinary import (
                        read_native,
                        read_rowbinary,
                    )

                    wire = []
                    for f_ in target.schema.fields:
                        t = f_.dataType.simpleString()
                        if t not in _CH_WIRE_TYPES:
                            raise ValueError(
                                f"INFILE FORMAT {in_fmt}: column {f_.name} "
                                f"type {t} has no CH wire mapping")
                        wire.append((f_.name, _CH_WIRE_TYPES[t]))
                    rd = read_rowbinary if in_fmt == "rowbinary" else read_native
                    df = rd(spark, infile, wire)
                else:
                    raise ValueError(
                        f"INSERT FROM INFILE FORMAT {in_fmt!r} unsupported")
            elif mode_kw == "VALUES":
                cols = ", ".join(target.columns)
                df = spark.sql(f"SELECT * FROM VALUES {rest} AS t({cols})")
            elif mode_kw == "FORMAT":
                fmt_name, _, payload = rest.partition("\n")
                fmt_name = fmt_name.strip().lower()
                lines = [ln for ln in payload.splitlines() if ln.strip()]
                if fmt_name in ("jsoneachrow", "jsonlines", "ndjson"):
                    df = spark.read.schema(target.schema).json(
                        spark.sparkContext.parallelize(lines)
                    )
                elif fmt_name in ("csv", "csvwithnames"):
                    df = (
                        spark.read.schema(target.schema)
                        .option("header", fmt_name == "csvwithnames")
                        .csv(spark.sparkContext.parallelize(lines))
                    )
                else:
                    raise ValueError(
                        f"inline INSERT FORMAT {fmt_name!r} unsupported "
                        "(JSONEachRow and CSV[WithNames] are)"
                    )
            else:
                df = spark.sql(ch_sql_to_spark("SELECT " + rest))
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                LAKE_TABLES,
                refresh_lake_table,
                write_delta,
                write_iceberg,
            )

            if tname in LAKE_TABLES:
                # round-9: INSERT appends a lake commit/snapshot
                lfmt, lpath = LAKE_TABLES[tname]
                from pyspark.sql import functions as F

                df = df.select(*[
                    F.col(c).cast(f_.dataType).alias(f_.name)
                    for c, f_ in zip(df.columns, target.schema.fields)
                ])
                if lfmt == "delta":
                    write_delta(df, lpath)
                elif lfmt == "iceberg":
                    write_iceberg(df, lpath)
                else:
                    raise ValueError(
                        "ENGINE = Hudi is read-only; writes need the "
                        "hudi-spark-bundle connector")
                refresh_lake_table(spark, tname)
                _emit([(tname, "Ok")], ["table", "status"], fmt, out)
                return 0
            path = os.path.join(data_dir, tname)
            if not os.path.isdir(path):
                raise ValueError(
                    f"{tname}: INSERT targets DDL-created table dirs, "
                    f"not single-file source parquet"
                )
            from pyspark.sql import functions as F

            df = df.select(
                *[
                    F.col(c).cast(f_.dataType).alias(f_.name)
                    for c, f_ in zip(df.columns, target.schema.fields)
                ]
            )
            from clickhouse_25_5_3_75_stable_spark.ddl import (
                append_to_table,
                load_table_def,
            )

            append_to_table(df, load_table_def(data_dir, tname), path)
            catalog.register(spark, data_dir, tname)
            from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
                notify_all_views,
            )

            notify_all_views(tname)
            _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0

        if kw == "DELETE":
            # lightweight DELETE statement (reference
            # InterpreterDeleteQuery.cpp: DELETE FROM t WHERE p) — same
            # visible semantics as the mutation; copy-on-write here
            # (parquet has no in-place mask write)
            from clickhouse_25_5_3_75_stable_spark.ddl import mutate_table

            dm = re.match(r"(?is)^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?);?\s*$",
                          sql)
            if not dm:
                raise ValueError("unsupported DELETE shape (need DELETE FROM t WHERE p)")
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                LAKE_TABLES,
                delete_delta,
                refresh_lake_table,
            )

            if dm.group(1) in LAKE_TABLES:
                # round-9: Delta tables delete via DELETION VECTORS —
                # no data-file rewrite (Iceberg/Hudi need the
                # connector's delete-file writer)
                lfmt, lpath = LAKE_TABLES[dm.group(1)]
                if lfmt == "hudi":
                    raise ValueError(
                        "DELETE on ENGINE = Hudi needs the "
                        "hudi-spark-bundle connector")
                from clickhouse_25_5_3_75_stable_spark.chsql import (
                    ch_sql_to_spark,
                )

                pred = ch_sql_to_spark(
                    f"SELECT * FROM __x WHERE {dm.group(2)}"
                ).split("WHERE", 1)[1]
                if lfmt == "delta":
                    delete_delta(spark, lpath, pred)
                else:
                    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
                        delete_iceberg,
                    )

                    delete_iceberg(spark, lpath, pred)
                refresh_lake_table(spark, dm.group(1))
                _emit([(dm.group(1), "Ok")], ["table", "status"], fmt, out)
                return 0
            mutate_table(spark, data_dir, dm.group(1), "delete", dm.group(2))
            _emit([(dm.group(1), "Ok")], ["table", "status"], fmt, out)
            return 0
        if kw == "SYSTEM":
            # InterpreterSystemQuery subset (src/Interpreters/
            # InterpreterSystemQuery.cpp): the commands with a real
            # analogue act; recognized-but-stateless ones return Ok;
            # everything else refuses by name.
            cmd = " ".join(sql.strip().rstrip(";").split()[1:]).upper()
            if cmd == "DROP QUERY CACHE":
                from clickhouse_25_5_3_75_stable_spark.operators.result_cache import (
                    default_cache,
                )

                default_cache().clear()
            elif cmd in ("DROP MARK CACHE", "DROP UNCOMPRESSED CACHE",
                         "DROP FILESYSTEM CACHE"):
                spark.catalog.clearCache()
            elif cmd == "STOP MERGES":
                spark.conf.set("spark.chspark.mergesStopped", "true")
            elif cmd == "START MERGES":
                spark.conf.set("spark.chspark.mergesStopped", "false")
            elif cmd in ("FLUSH LOGS", "RELOAD DICTIONARIES") or \
                    cmd.startswith("RELOAD DICTIONARY"):
                # logs are synchronous; view-backed lookups already see
                # live data, but SQL dictionaries' precomputed
                # hierarchy closures must rebuild (round-9)
                from clickhouse_25_5_3_75_stable_spark.dictionary_sql import (
                    SQL_DICTIONARIES,
                    register_dictionary,
                )

                target = (cmd.split("RELOAD DICTIONARY", 1)[1].strip()
                          .strip("'\"").lower()
                          if cmd.startswith("RELOAD DICTIONARY ") else None)
                for dn, dd in list(SQL_DICTIONARIES.items()):
                    if target is None or dn.lower() == target:
                        register_dictionary(spark, dd)
            elif cmd.startswith("UNFREEZE WITH NAME"):
                # reference InterpreterSystemQuery UNFREEZE: remove the
                # named FREEZE snapshot from every table's _shadow/
                import re as _re2
                import shutil as _sh

                # re-parse from the raw SQL: cmd was uppercased, which
                # would corrupt the quoted snapshot name
                um = _re2.match(
                    r"(?is)^\s*SYSTEM\s+UNFREEZE\s+WITH\s+NAME\s+'([^']+)'",
                    sql.strip().rstrip(";"))
                if not um:
                    raise ValueError("SYSTEM UNFREEZE WITH NAME 'backup'")
                removed = 0
                for tdir in os.listdir(data_dir):
                    snap = os.path.join(data_dir, tdir, "_shadow", um.group(1))
                    if os.path.isdir(snap):
                        _sh.rmtree(snap)
                        removed += 1
                _emit([(cmd, f"Ok ({removed} snapshots)")],
                      ["command", "status"], fmt, out)
                return 0
            else:
                raise ValueError(
                    f"SYSTEM {cmd}: no analogue in this engine (supported: "
                    "DROP QUERY/MARK/UNCOMPRESSED/FILESYSTEM CACHE, "
                    "STOP/START MERGES, FLUSH LOGS, RELOAD DICTIONARIES, "
                    "UNFREEZE WITH NAME)")
            _emit([(cmd, "Ok")], ["command", "status"], fmt, out)
            return 0

        if kw == "SET":
            import re as _re

            from clickhouse_25_5_3_75_stable_spark.chsql import apply_settings

            m = _re.match(r"SET\s+(\w+)\s*=\s*(.+)", sql.strip().rstrip(";"),
                          _re.IGNORECASE)
            if not m:
                raise ValueError("expected SET <name> = <value>")
            applied = apply_settings(spark, {m.group(1).lower(): m.group(2)})
            _emit([(m.group(1), m.group(2), len(applied))],
                  ["setting", "value", "confs_changed"], fmt, out)
            return 0

        if kw in ("BACKUP", "RESTORE"):
            import re as _re

            from clickhouse_25_5_3_75_stable_spark.ddl import (
                backup_table,
                restore_table,
            )

            m = _re.match(
                r"(BACKUP|RESTORE)\s+TABLE\s+(\w+)\s+(TO|FROM)\s+'([^']+)'",
                sql.strip().rstrip(";"),
                _re.IGNORECASE,
            )
            if not m:
                raise ValueError("expected BACKUP TABLE t TO '<dir>' / RESTORE TABLE t FROM '<dir>'")
            tname, path = m.group(2), m.group(4)
            if m.group(1).upper() == "BACKUP":
                man = backup_table(data_dir, tname, path)
                _emit([(tname, man["files"], man["bytes"])],
                      ["table", "files", "bytes"], fmt, out)
            else:
                restore_table(spark, data_dir, tname, path)
                _emit([(tname, "Ok")], ["table", "status"], fmt, out)
            return 0

        import time as _time

        from clickhouse_25_5_3_75_stable_spark.chsql import extract_into_outfile

        t0 = _time.perf_counter()
        # dialect routing (reference executeQuery.cpp:1044: the kusto
        # parser takes over when SET dialect = 'kusto')
        _dialect = spark.conf.get("spark.chsql.dialect", "clickhouse")
        if _dialect == "kusto":
            from clickhouse_25_5_3_75_stable_spark.kql import (
                kql_to_chsql,
                spark_columns_of,
            )

            sql = kql_to_chsql(sql, columns_of=spark_columns_of(spark))
        elif _dialect == "prql":
            from clickhouse_25_5_3_75_stable_spark.prql import prql_to_sql

            sql = prql_to_sql(sql)
        sql, outfile = extract_into_outfile(sql)
        sql = _resolve_final(spark, data_dir, sql)
        # ch_sql (not the bare transpiler): honors SETTINGS, executes
        # the ASOF/PASTE/WITH FILL builder paths, raises on unknown
        # settings like the reference
        from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql as _ch_sql

        # refresh any referenced LIVE VIEWs into temp views first
        # (SELECT * FROM lv sees the current result + _version)
        from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
            LIVE_VIEWS,
        )

        for _nm in list(LIVE_VIEWS):
            if re.search(rf"\b{_nm}\b", sql):
                LIVE_VIEWS[_nm].read(spark).createOrReplaceTempView(_nm)
        if re.search(r"\bquery_log\b", sql):
            spark.createDataFrame(
                list(_QUERY_LOG),
                "kind string, query string, duration_s double, result_rows long",
            ).createOrReplaceTempView("query_log")
        df = _route_projection(spark, data_dir, sql)
        if df is None:
            df = _ch_sql(spark, sql, params=params)
        if max_result_rows is None:
            max_result_rows = spark.conf.get("spark.chspark.maxResultRows", None)
        if max_result_rows is not None:
            cap = int(str(max_result_rows).strip("'\""))
            if cap > 0:  # reference: 0 means unlimited
                from clickhouse_25_5_3_75_stable_spark.chsql import (
                    enforce_result_cap as _cap,
                )

                mode = spark.conf.get("spark.chspark.resultOverflowMode", "throw")
                df = _cap(df, cap, mode)
        rows = [tuple(r) for r in df.collect()]
        if outfile is not None:
            if _write_binary_outfile(df, rows, fmt, outfile):
                pass  # routed through a codec writer
            else:
                with open(outfile, "w") as fh:
                    _emit(rows, df.columns, fmt, fh)
            _emit([(outfile, len(rows))], ["outfile", "rows"], "TabSeparated", out)
        else:
            _emit(rows, df.columns, fmt, out)
        _log_query("select", sql, _time.perf_counter() - t0, len(rows))
        return 0
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
