"""The statement table: every ClickHouse statement that is not a query
(reference src/Interpreters/InterpreterFactory.cpp — one dispatch for
every interface). DDL, INSERT, ALTER, SHOW/DESCRIBE/EXISTS, access
entities, dictionaries, SYSTEM and SET are keyed by their leading
keyword; ``chsql.ch_sql`` looks a statement up here before its query
path, so the CLI, HTTP and the library run the same code.

A handler runs its statement and returns the result as a DataFrame: a
one-row status for a write, the listing for SHOW/DESCRIBE. A query body
a statement carries (INSERT ... SELECT, CREATE ... AS SELECT,
MATERIALIZED VIEW, lake CTAS) runs through ``_Stmt.query``, the query
path a SELECT takes.

The query-path rewrites that read the data dir live here too
(``rewrite_query``, ``_route_projection``): lake time travel, LIVE VIEW
refresh, FINAL folding over MergeTree-family tables and projection
routing.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
from clickhouse_25_5_3_75_stable_spark.sources import catalog, formats
from clickhouse_25_5_3_75_stable_spark.sources.catalog import local_rows
from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table


class _Stmt:
    """One statement: its text (trailing ';' dropped), session, data dir
    and the query path for the bodies it carries."""

    def __init__(self, spark, sql: str, data_dir: str | None, query):
        self.spark = spark
        self.sql = sql.strip().rstrip(";").rstrip()
        self.words = self.sql.split(None, 3)
        self.data_dir = data_dir
        self.query = query

    def word(self, i: int) -> str:
        return self.words[i].upper() if len(self.words) > i else ""

    @property
    def last(self) -> str:
        return self.sql.split()[-1]

    @property
    def dir(self) -> str:
        if self.data_dir is None:
            raise ChSqlError(
                f"{self.word(0)} {self.word(1)}: needs a data directory — "
                "call ch_sql(spark, sql, sf_dir) or set spark.chspark.dataDir")
        return self.data_dir

    def ok(self, name: str) -> DataFrame:
        return local_rows(self.spark, [(name, "Ok")], "table string, status string")


def execute(spark, sql: str, data_dir: str | None, query) -> DataFrame | None:
    """Run `sql` if it is a statement; None sends it down the query path."""
    st = _Stmt(spark, sql, data_dir, query)
    handler = _HANDLERS.get(st.word(0))
    return None if handler is None else handler(st)


def is_statement(sql: str) -> bool:
    """Whether `sql` leads with a statement keyword (so it is
    ClickHouse text whatever the session's dialect)."""
    head = sql.split(None, 1)
    return bool(head) and head[0].upper() in _HANDLERS


def _assignments(text: str) -> dict[str, str]:
    """``a = x, b = f(y, z)`` of ALTER ... UPDATE."""
    out = {}
    for part in re.split(r",(?![^()]*\))", text):
        k, eq, v = part.partition("=")
        if not eq:
            raise ValueError(f"bad UPDATE assignment: {part!r}")
        out[k.strip()] = v.strip()
    return out


# --- SHOW / EXISTS / DESCRIBE / EXPLAIN -------------------------------------


def _show(st: _Stmt):
    spark = st.spark
    what = st.word(1)
    if what in ("GRANTS", "USERS", "ROLES"):
        return _access(st)
    if what.startswith("DICTIONAR") or (what == "CREATE"
                                        and st.word(2) == "DICTIONARY"):
        return _dictionary(st)
    if what.startswith("TABLE"):
        from clickhouse_25_5_3_75_stable_spark.sources.datalake import LAKE_TABLES

        names = sorted({*catalog.list_tables(st.dir), *LAKE_TABLES})
        return local_rows(spark, [(n,) for n in names], "name string")
    if what.startswith("DATABASE"):
        return system_table(spark, "databases").select("name")
    if what == "PROCESSLIST":
        # InterpreterShowProcesslistQuery.cpp: SELECT * FROM system.processes
        return system_table(spark, "processes")
    show_set = re.match(
        r"(?is)^SHOW\s+(CHANGED\s+)?SETTINGS(?:\s+(I?LIKE)\s+('[^']*'))?$",
        st.sql)
    if show_set is not None:
        return _show_settings(spark, *show_set.groups())
    create = re.match(r"(?is)^SHOW\s+CREATE\s+(?:TABLE\s+|VIEW\s+)?(\w+)$", st.sql)
    if create is not None:
        return _show_create_table(st, create.group(1))
    return None


def _show_settings(spark, changed, op, pattern):
    """SHOW [CHANGED] SETTINGS [LIKE|ILIKE 'p'] (InterpreterShowSettingQuery
    rewrite onto system.settings) over the engine's RECOGNIZED settings
    (the reference shows its Settings.cpp registry): current effective
    value from the conf key apply_settings maps each name to."""
    from clickhouse_25_5_3_75_stable_spark.chsql import _KNOWN_SETTINGS

    conf_of = {
        "max_threads": "spark.sql.shuffle.partitions",
        "max_result_rows": "spark.chspark.maxResultRows",
        "result_overflow_mode": "spark.chspark.resultOverflowMode",
        "use_query_cache": "spark.chspark.useQueryCache",
    }
    defaults = {
        "max_result_rows": "0", "result_overflow_mode": "throw",
        "use_query_cache": "0", "dialect": "clickhouse",
    }
    rows = []
    for s in sorted(_KNOWN_SETTINGS):
        cur = spark.conf.get(conf_of[s], None) if s in conf_of else None
        val = cur if cur is not None else defaults.get(s, "")
        changed_ = cur is not None and cur != defaults.get(s, cur)
        rows.append((s, str(val), bool(changed_)))
    df = local_rows(spark, rows, "name string, value string, changed boolean")
    if changed:
        df = df.filter("changed")
    if pattern:
        df = df.filter(f"name {op.upper()} {pattern}")
    return df


def _projection_sql(p: dict) -> str:
    if p.get("kind") == "normal":
        return "SELECT * ORDER BY " + ", ".join(p["keys"])
    aggs = [f"sum({c})" for c in p["sums"]] + [
        f"min({c}), max({c})" for c in p["minmaxs"]]
    return ("SELECT " + ", ".join(p["keys"] + aggs)
            + " GROUP BY " + ", ".join(p["keys"]))


def _show_create_table(st: _Stmt, name: str):
    """SHOW CREATE TABLE t (InterpreterShowCreateQuery.cpp): one String
    column `statement`, on one line. A DDL-managed table replays its
    stored definition; a flat parquet table synthesizes one from its
    schema with ClickHouse type names."""
    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def
    from clickhouse_25_5_3_75_stable_spark.functions.typemap import (
        spark_type_to_ch,
    )

    td = load_table_def(st.data_dir, name) if st.data_dir else None
    if td is not None:
        items = [f"{c} {t}" for c, t in td.columns] + [
            f"PROJECTION {p['name']} ({_projection_sql(p)})"
            for p in td.projections]
        engine = td.engine + (f"({', '.join(td.engine_args)})"
                              if td.engine_args else "")
        stmt = f"CREATE TABLE {name} ({', '.join(items)}) ENGINE = {engine}"
        if td.partition_by:
            stmt += f" PARTITION BY {td.partition_by}"
        if td.order_by:
            keys = ", ".join(td.order_by)
            stmt += f" ORDER BY {keys if len(td.order_by) == 1 else f'({keys})'}"
        if td.ttl:
            stmt += f" TTL {td.ttl}"
    else:
        if not st.spark.catalog.tableExists(name):
            raise ChSqlError(f"SHOW CREATE TABLE: unknown table {name!r}")
        cols = []
        for f in st.spark.table(name).schema.fields:
            t = spark_type_to_ch(f.dataType)
            if f.nullable and not t.startswith(("Array", "Map")):
                t = f"Nullable({t})"
            cols.append(f"{f.name} {t}")
        stmt = (f"CREATE TABLE {name} ({', '.join(cols)}) ENGINE = MergeTree "
                "ORDER BY tuple()")
    return local_rows(st.spark, [(stmt,)], "statement string")


def _exists(st: _Stmt):
    """EXISTS [TABLE|VIEW|DICTIONARY] t (InterpreterExistsQuery.cpp: one
    UInt8 column named `result`)."""
    if st.word(1) == "DICTIONARY":
        return _dictionary(st)
    m = re.match(r"(?is)^EXISTS\s+(?:TABLE\s+|VIEW\s+)?(\w+)$", st.sql)
    if m is None:
        raise ValueError("unsupported EXISTS shape (EXISTS [TABLE] t)")
    found = st.spark.catalog.tableExists(m.group(1))
    return local_rows(st.spark, [(int(found),)], "result tinyint")


def _describe(st: _Stmt):
    df = st.spark.table(st.last)
    return local_rows(
        st.spark, [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        "name string, type string")


def _explain(st: _Stmt):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_explain

    em = re.match(r"(?is)^EXPLAIN\s+(AST|SYNTAX|PLAN|PIPELINE|ESTIMATE)?\s*(.+)$",
                  st.sql)
    if not em:
        raise ValueError("unsupported EXPLAIN shape")
    text = ch_explain(st.spark, em.group(2), (em.group(1) or "PLAN").upper())
    return local_rows(st.spark, [(ln,) for ln in text.splitlines()],
                      "explain string")


# --- access entities and dictionaries ---------------------------------------


def _access(st: _Stmt):
    """CREATE/DROP USER/ROLE, GRANT/REVOKE, SHOW GRANTS/USERS/ROLES."""
    from clickhouse_25_5_3_75_stable_spark.access import handle_access_statement

    return handle_access_statement(st.spark, st.sql)


def _dictionary(st: _Stmt):
    """CREATE/DROP/EXISTS/SHOW CREATE DICTIONARY, SHOW DICTIONARIES
    (InterpreterCreateQuery dictionary branch; dictionary_sql.py)."""
    from clickhouse_25_5_3_75_stable_spark import dictionary_sql as ds

    spark = st.spark
    if st.word(0) == "CREATE":
        ds.register_dictionary(spark, ds.parse_create_dictionary(st.sql))
        return local_rows(spark, [("OK",)], "created string")
    m = re.match(r"(?is)^DROP\s+DICTIONARY\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)$",
                 st.sql)
    if m is not None:
        ds.drop_dictionary(spark, m.group(2), bool(m.group(1)))
        return local_rows(spark, [("OK",)], "dropped string")
    m = re.match(r"(?is)^EXISTS\s+DICTIONARY\s+([A-Za-z_]\w*)$", st.sql)
    if m is not None:
        return local_rows(
            spark, [(int(m.group(1) in ds.SQL_DICTIONARIES),)], "result tinyint")
    if re.match(r"(?is)^SHOW\s+DICTIONARIES$", st.sql):
        return local_rows(
            spark, [(n,) for n in sorted(ds.SQL_DICTIONARIES)], "name string")
    m = re.match(r"(?is)^SHOW\s+CREATE\s+DICTIONARY\s+([A-Za-z_]\w*)$", st.sql)
    if m is None:
        raise ValueError(f"unsupported dictionary statement: {st.sql[:60]!r}")
    # replayed from the stored definition
    d = ds.SQL_DICTIONARIES.get(m.group(1))
    if d is None:
        raise ChSqlError(f"SHOW CREATE DICTIONARY: unknown dictionary "
                         f"{m.group(1)!r}")
    attrs = ", ".join(
        f"{a} {t}"
        + (f" DEFAULT {dflt}" if dflt is not None else "")
        + (" HIERARCHICAL" if a == d.hier_attr else "")
        for a, (t, dflt) in d.attrs.items())
    if d.source_file is not None:
        src_txt = (f"FILE(PATH '{d.source_file[0]}' "
                   f"FORMAT '{d.source_file[1]}')")
    else:
        src_txt = f"CLICKHOUSE(TABLE '{d.source_table}')"
    stmt = (f"CREATE DICTIONARY {d.name} ({attrs}) "
            f"PRIMARY KEY {', '.join(d.keys)} "
            f"SOURCE({src_txt}) "
            f"LAYOUT({d.layout.upper()}())")
    if d.range_min:
        stmt += f" RANGE(MIN {d.range_min} MAX {d.range_max})"
    return local_rows(spark, [(stmt,)], "statement string")


# --- CREATE / DROP and table lifecycle ---------------------------------------


def _create(st: _Stmt):
    spark = st.spark
    what = st.word(1)
    if what in ("USER", "ROLE"):
        return _access(st)
    if what == "DICTIONARY":
        return _dictionary(st)
    if what == "FUNCTION":
        return None  # a SQL macro: the transpiler registers it
    lv = re.match(r"(?is)^CREATE\s+LIVE\s+VIEW\s+(\w+)\s+AS\s+(.*)$", st.sql)
    if lv:
        return _create_live_view(st, *lv.groups())
    mv = re.match(r"(?is)^CREATE\s+(MATERIALIZED\s+)?VIEW\s+(\w+)\s+AS\s+(.*)$",
                  st.sql)
    if mv:
        materialized, vname, body = mv.groups()
        if materialized:  # persist the result
            st.query(body).write.mode("overwrite").parquet(
                os.path.join(st.dir, vname))
            catalog.register(spark, st.dir, vname)
        else:
            # a plain view is its SQL text, resolved at each read like
            # the reference's StorageView; a registered DataFrame would
            # pin its tables' files
            from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark

            spark.sql(f"CREATE OR REPLACE TEMP VIEW {vname} AS "
                      + ch_sql_to_spark(body, spark))
        return st.ok(vname)
    # lake ENGINEs (reference registerStorages.cpp DeltaLake/Iceberg/
    # Hudi): CREATE TABLE t ENGINE = DeltaLake('path') attaches an
    # existing table via the metadata-replay readers; `... AS SELECT`
    # CREATES the table through the write path (Delta/Iceberg; the
    # reference is read-only — superset). INSERT INTO appends.
    lake = re.match(
        r"(?is)^CREATE\s+TABLE\s+(\w+)\s+ENGINE\s*=\s*"
        r"(DeltaLake|Iceberg|Hudi)\s*\(\s*'([^']+)'\s*\)"
        r"(?:\s+AS\s+(SELECT\b.*))?$", st.sql)
    if lake:
        from clickhouse_25_5_3_75_stable_spark.sources import datalake

        tname, eng, lpath, body = lake.groups()
        eng = {"deltalake": "delta", "iceberg": "iceberg",
               "hudi": "hudi"}[eng.lower()]
        if body:
            if eng == "hudi":
                raise ValueError(
                    "ENGINE = Hudi is read-only (attach an existing table); "
                    "writes need the hudi-spark-bundle connector")
            write = datalake.write_delta if eng == "delta" else datalake.write_iceberg
            write(st.query(body), lpath)
        datalake.attach_lake_table(spark, tname, eng, lpath)
        return st.ok(tname)
    # CTAS: CREATE TABLE t [ENGINE = ...] AS SELECT ... — schema inferred
    # from the query (reference InterpreterCreateQuery create-as-select)
    ctas = re.match(
        r"(?is)^CREATE\s+TABLE\s+(\w+)\s+(?:ENGINE\s*=\s*(\w+)(?:\(([^)]*)\))?\s+)?"
        r"(?:ORDER\s+BY\s+\(?([\w,\s]+?)\)?\s+)?AS\s+(SELECT\b.*)$", st.sql)
    if ctas:
        return _ctas(st, *ctas.groups())
    from clickhouse_25_5_3_75_stable_spark.ddl import Database

    return st.ok(Database(spark, st.dir).create_table(st.sql).name)


def _create_live_view(st: _Stmt, vname: str, body: str):
    """CREATE LIVE VIEW (reference StorageLiveView): a continuously
    re-evaluated result, version-bumped by INSERTs into its sources."""
    from clickhouse_25_5_3_75_stable_spark import chsql
    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
        LiveView,
        drop_live_view,
    )

    if st.data_dir is not None and vname in catalog.list_tables(st.data_dir):
        raise ValueError(
            f"CREATE LIVE VIEW {vname}: a table with that name exists")
    srcs = tuple({a or b for a, b in re.findall(
        r"(?is)\bFROM\s+(\w+)|\bJOIN\s+(\w+)", body)})
    view = LiveView(vname, lambda sp, _b=body: chsql.ch_sql(sp, _b),
                    source_tables=srcs)
    # validate + take the initial state NOW (the reference analyzes at
    # CREATE; a bogus body must not detonate inside an unrelated later
    # statement)
    try:
        view.read(st.spark)
    except Exception:
        drop_live_view(vname)
        raise
    return st.ok(vname)


def _ctas(st: _Stmt, tname, engine, engine_args_raw, order_raw, body):
    from clickhouse_25_5_3_75_stable_spark.ddl import TableDef, save_table_def
    from clickhouse_25_5_3_75_stable_spark.functions.typemap import (
        spark_type_to_ch,
    )

    df = st.query(body)
    order_by = [c.strip() for c in (order_raw or "").split(",") if c.strip()]
    missing = [c for c in order_by if c not in df.columns]
    if missing:
        raise ValueError(f"CTAS ORDER BY references {missing}")
    if order_by:
        df = df.sortWithinPartitions(*order_by)
    df.write.mode("errorifexists").parquet(os.path.join(st.dir, tname))
    if engine or order_by:
        # persist the declared contract so FINAL/OPTIMIZE see it, like
        # the column-DDL path
        save_table_def(st.dir, TableDef(
            name=tname,
            columns=[(f.name, spark_type_to_ch(f.dataType)) for f in df.schema.fields],
            engine=engine or "MergeTree",
            engine_args=[a.strip() for a in (engine_args_raw or "").split(",")
                         if a.strip()],
            order_by=order_by,
        ))
    catalog.register(st.spark, st.dir, tname)
    return st.ok(tname)


def _drop(st: _Stmt):
    spark = st.spark
    if st.word(1) in ("USER", "ROLE"):
        return _access(st)
    if st.word(1) == "DICTIONARY":
        return _dictionary(st)
    from clickhouse_25_5_3_75_stable_spark.ddl import drop_table
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import detach_lake_table
    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
        LIVE_VIEWS,
        drop_live_view,
    )

    # the last token names the table: DROP TABLE [IF EXISTS] t [SYNC]
    toks = st.sql.split()
    sync = toks[-1].upper() == "SYNC"
    name = toks[-2] if sync else toks[-1]
    if detach_lake_table(spark, name):
        # lake tables DETACH from the catalog; files stay (the log /
        # snapshots are the table of record)
        return st.ok(name)
    if name in LIVE_VIEWS:
        # a zombie registry entry would shadow same-named tables in
        # later SELECTs
        drop_live_view(name)
        spark.catalog.dropTempView(name)
    else:
        drop_table(spark, st.dir, name, sync=sync)
    return st.ok(name)


def _table_op(st: _Stmt):
    """UNDROP/DETACH/ATTACH/TRUNCATE TABLE t: one ddl.py call on the
    last token."""
    from clickhouse_25_5_3_75_stable_spark import ddl

    op = {"UNDROP": ddl.undrop_table, "DETACH": ddl.detach_table,
          "ATTACH": ddl.attach_table, "TRUNCATE": ddl.truncate_table}[st.word(0)]
    op(st.spark, st.dir, st.last)
    return st.ok(st.last)


def _rename(st: _Stmt):
    from clickhouse_25_5_3_75_stable_spark.ddl import rename_table

    m = re.match(r"(?is)^RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)", st.sql)
    if not m:
        raise ValueError("unsupported RENAME shape")
    rename_table(st.spark, st.dir, m.group(1), m.group(2))
    return st.ok(m.group(2))


def _exchange(st: _Stmt):
    from clickhouse_25_5_3_75_stable_spark.ddl import exchange_tables

    m = re.match(r"(?is)^EXCHANGE\s+TABLES\s+(\w+)\s+AND\s+(\w+)", st.sql)
    if not m:
        raise ValueError("unsupported EXCHANGE shape (EXCHANGE TABLES a AND b)")
    exchange_tables(st.spark, st.dir, m.group(1), m.group(2))
    return st.ok(m.group(1))


def _check(st: _Stmt):
    """CHECK TABLE (reference InterpreterCheckQuery): every part must be
    readable and footer-consistent — each parquet file's footer must
    parse and its row count must equal what a full decode yields. A bad
    part marks the result failed (the CLI exits 1)."""
    import glob

    import pyarrow.parquet as pq

    cm = re.match(r"(?is)^CHECK\s+TABLE\s+(\w+)", st.sql)
    if not cm:
        raise ValueError("unsupported CHECK shape (CHECK TABLE t)")
    tname = cm.group(1)
    tdir = os.path.join(st.dir, tname)
    if not os.path.isdir(tdir):
        raise ValueError(f"CHECK TABLE {tname}: no such table")
    bad = []
    total = 0
    for f in glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(f, tdir)
        if rel.startswith(("_", ".")) or os.sep + "_" in os.sep + rel:
            continue
        try:
            with open(f, "rb") as fh:
                if fh.read(4) != b"PAR1":
                    raise ValueError("bad leading PAR1 magic")
            meta = pq.read_metadata(f)
            if pq.read_table(f).num_rows != meta.num_rows:
                bad.append((rel, "row count mismatch"))
            total += 1
        except Exception as e:
            bad.append((rel, str(e)[:80]))
    rows = ([(tname, 0, f"{p}: {why}") for p, why in bad]
            or [(tname, 1, f"{total} parts ok")])
    df = local_rows(st.spark, rows, "table string, result int, message string")
    df._ch_exit_code = 1 if bad else 0
    return df


def _watch(st: _Stmt):
    """WATCH lv [LIMIT n] (reference InterpreterWatchQuery): the
    collected (rows, _version) heartbeats; the initial state counts as
    one."""
    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import LIVE_VIEWS

    wm = re.match(r"(?is)^WATCH\s+(\w+)(?:\s+LIMIT\s+(\d+))?", st.sql)
    if not wm or wm.group(1) not in LIVE_VIEWS:
        raise ValueError("WATCH <live view> [LIMIT n]")
    lvv = LIVE_VIEWS[wm.group(1)]
    n = int(wm.group(2)) if wm.group(2) else 1
    rows = [tuple(r) + (ver,)
            for rs, ver in lvv.watch(st.spark, limit=n, timeout_s=0.5)
            for r in rs]
    return local_rows(st.spark, rows, lvv._schema)


def _kill(st: _Stmt):
    """KILL QUERY WHERE ... (InterpreterKillQueryQuery.cpp): statements
    execute synchronously in library mode, so there is never a running
    query to kill — the reference's response shape with zero rows."""
    if st.word(1) != "QUERY":
        raise ValueError("KILL: only KILL QUERY is recognized")
    return local_rows(
        st.spark, [], "kill_status string, query_id string, user string, query string")


# --- writes -----------------------------------------------------------------


def _lake(name: str):
    """(format, path) of an attached lake table, else None."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import LAKE_TABLES

    return LAKE_TABLES.get(name)


def _insert(st: _Stmt):
    """INSERT INTO <t> VALUES (...) | SELECT ... | FROM INFILE 'p'
    [FORMAT X] (the reference's client-side bulk load; Parquet when no
    FORMAT is named) | FORMAT X <inline rows> (the clickhouse-local
    inline-data idiom). The format comes from `formats.FORMATS`."""
    from pyspark.sql import functions as F

    spark = st.spark
    m = re.match(r"(?is)^INSERT\s+INTO\s+(\w+)\s+(VALUES|SELECT|FORMAT|FROM)\s*(.*)$",
                 st.sql)
    if not m:
        raise ValueError("unsupported INSERT shape")
    tname, mode_kw, rest = m.group(1), m.group(2).upper(), m.group(3)
    target = spark.table(tname)
    if mode_kw == "FROM":
        im = re.match(r"(?is)^INFILE\s+'([^']+)'\s*(?:FORMAT\s+(\w+))?$", rest.strip())
        if not im:
            raise ValueError("unsupported INSERT FROM shape (need "
                             "FROM INFILE '<path>' [FORMAT <name>])")
        df = formats.read(spark, im.group(2) or "Parquet", im.group(1), target.schema,
                          sql=True)
    elif mode_kw == "VALUES":
        df = spark.sql(f"SELECT * FROM VALUES {rest} AS t({', '.join(target.columns)})")
    elif mode_kw == "FORMAT":
        fmt_name, _, payload = rest.partition("\n")
        df = formats.read_inline(spark, fmt_name.strip(), payload, target.schema)
    else:
        df = st.query("SELECT " + rest)
    df = df.select(*[F.col(c).cast(f.dataType).alias(f.name)
                     for c, f in zip(df.columns, target.schema.fields)])
    lake = _lake(tname)
    if lake is not None:
        # INSERT appends a lake commit/snapshot
        from clickhouse_25_5_3_75_stable_spark.sources import datalake

        if lake[0] == "delta":
            datalake.write_delta(df, lake[1])
        elif lake[0] == "iceberg":
            datalake.write_iceberg(df, lake[1])
        else:
            raise ValueError("ENGINE = Hudi is read-only; writes need the "
                             "hudi-spark-bundle connector")
        datalake.refresh_lake_table(spark, tname)
        return st.ok(tname)
    path = os.path.join(st.dir, tname)
    if not os.path.isdir(path):
        raise ValueError(f"{tname}: INSERT targets DDL-created table dirs, "
                         "not single-file source parquet")
    from clickhouse_25_5_3_75_stable_spark import ddl
    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import (
        notify_all_views,
    )

    ddl.append_to_table(df, ddl.load_table_def(st.dir, tname), path)
    catalog.register(spark, st.dir, tname)
    notify_all_views(tname)
    return st.ok(tname)


def _delete(st: _Stmt):
    """Lightweight DELETE FROM t WHERE p (reference
    InterpreterDeleteQuery.cpp) — the visible semantics of the mutation;
    copy-on-write here (parquet has no in-place mask write)."""
    dm = re.match(r"(?is)^DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+)$", st.sql)
    if not dm:
        raise ValueError("unsupported DELETE shape (need DELETE FROM t WHERE p)")
    tname, where = dm.groups()
    lake = _lake(tname)
    if lake is None:
        from clickhouse_25_5_3_75_stable_spark.ddl import mutate_table

        mutate_table(st.spark, st.dir, tname, "delete", where)
        return st.ok(tname)
    # Delta deletes via DELETION VECTORS — no data-file rewrite;
    # Iceberg writes a delete file; Hudi needs the connector
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark
    from clickhouse_25_5_3_75_stable_spark.sources import datalake

    if lake[0] == "hudi":
        raise ValueError("DELETE on ENGINE = Hudi needs the hudi-spark-bundle connector")
    pred = ch_sql_to_spark(f"SELECT * FROM __x WHERE {where}", st.spark).split("WHERE", 1)[1]
    delete = datalake.delete_delta if lake[0] == "delta" else datalake.delete_iceberg
    delete(st.spark, lake[1], pred)
    datalake.refresh_lake_table(st.spark, tname)
    return st.ok(tname)


def _optimize(st: _Stmt):
    m = re.match(r"(?is)^OPTIMIZE\s+TABLE\s+(\w+)", st.sql)
    lake = _lake(m.group(1)) if m else None
    if lake is not None:
        from clickhouse_25_5_3_75_stable_spark.sources import datalake

        if lake[0] != "delta":
            raise ValueError(f"OPTIMIZE on ENGINE = {lake[0]} needs the connector")
        datalake.optimize_delta(st.spark, lake[1])
        datalake.refresh_lake_table(st.spark, m.group(1))
        return st.ok(m.group(1))
    from clickhouse_25_5_3_75_stable_spark.ddl import optimize_table

    parts = st.sql.split()
    uppers = [p.upper() for p in parts]
    tname = parts[2] if len(parts) > 2 else parts[-1]
    optimize_table(st.spark, st.dir, tname, final="FINAL" in uppers,
                   deduplicate="DEDUPLICATE" in uppers)
    return st.ok(tname)


def _alter(st: _Stmt):
    from clickhouse_25_5_3_75_stable_spark import ddl

    spark = st.spark
    am = re.match(r"(?is)^ALTER\s+TABLE\s+(\w+)\s+(.*)$", st.sql)
    if not am:
        raise ValueError("unsupported ALTER shape")
    tname, action = am.group(1), am.group(2).strip()
    up = action.upper()
    lake = _lake(tname)
    if lake is not None and up.startswith(("DELETE", "UPDATE")):
        return _alter_lake(st, tname, lake, action)
    if up.startswith("ADD COLUMN"):
        cm = re.match(
            r"(?is)ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
            r"([\w]+(?:\([\w, ]*\))?)(?:\s+DEFAULT\s+(.+))?$", action)
        if not cm:
            raise ValueError("unsupported ADD COLUMN shape")
        dflt = cm.group(3)
        ddl.alter_add_column(spark, st.dir, tname, cm.group(1), cm.group(2),
                             default=None if dflt is None else dflt.strip().strip("'"))
    elif up.startswith("DROP COLUMN"):
        ddl.alter_drop_column(spark, st.dir, tname, action.split()[-1])
    elif up.startswith("ADD PROJECTION"):
        _add_projection(st, tname, action)
    elif up.startswith("MODIFY COLUMN"):
        mm = re.match(r"(?is)MODIFY\s+COLUMN\s+(\w+)\s+([\w]+(?:\([\w, ]*\))?)\s*$",
                      action)
        if not mm:
            raise ValueError("unsupported MODIFY COLUMN shape")
        ddl.alter_modify_column(spark, st.dir, tname, mm.group(1), mm.group(2))
    elif up.startswith("RENAME COLUMN"):
        rm = re.match(r"(?is)RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$", action)
        if not rm:
            raise ValueError("unsupported RENAME COLUMN shape")
        ddl.alter_rename_column(spark, st.dir, tname, rm.group(1), rm.group(2))
    elif up.startswith(("MODIFY TTL", "REMOVE TTL")):
        td = ddl.load_table_def(st.dir, tname)
        if td is None:
            raise ValueError(f"{tname}: not a DDL-managed table")
        td.ttl = None if up.startswith("REMOVE") else action.split(None, 2)[2].strip()
        ddl.save_table_def(st.dir, td)
    elif up.startswith("DROP PROJECTION"):
        ddl.drop_projection(st.dir, tname, action.split()[-1])
    elif up.startswith("MATERIALIZE PROJECTION"):
        ddl.materialize_projections(spark, st.dir, tname)
    elif (re.match(r"(?is)^(DETACH|ATTACH|DROP(\s+DETACHED)?|MOVE|REPLACE)\s+PARTITION\b",
                   action) or up.startswith("FREEZE")):
        return _alter_partition(st, tname, action)
    elif up.startswith("DELETE"):
        dm = re.match(r"(?is)DELETE\s+WHERE\s+(.+)$", action)
        if not dm:
            raise ValueError("ALTER DELETE needs WHERE")
        ddl.mutate_table(spark, st.dir, tname, "delete", dm.group(1))
    elif up.startswith("UPDATE"):
        um = re.match(r"(?is)UPDATE\s+(.+?)\s+WHERE\s+(.+)$", action)
        if not um:
            raise ValueError("ALTER UPDATE needs WHERE")
        ddl.mutate_table(spark, st.dir, tname, "update", um.group(2),
                         _assignments(um.group(1)))
    else:
        raise ValueError(f"unsupported ALTER action: {action.split()[0]}")
    return st.ok(tname)


def _alter_lake(st: _Stmt, tname: str, lake, action: str):
    """Lake DML: DELETE via deletion vectors, UPDATE copy-on-write
    (Delta only)."""
    from clickhouse_25_5_3_75_stable_spark.sources import datalake

    if lake[0] != "delta":
        raise ValueError(f"ALTER on ENGINE = {lake[0]}: mutations need the "
                         "connector (Delta tables mutate natively)")
    if action.upper().startswith("DELETE"):
        dm = re.match(r"(?is)DELETE\s+WHERE\s+(.+)$", action)
        if not dm:
            raise ValueError("ALTER DELETE needs WHERE")
        datalake.delete_delta(st.spark, lake[1], dm.group(1))
    else:
        um = re.match(r"(?is)UPDATE\s+(.+?)\s+WHERE\s+(.+)$", action)
        if not um:
            raise ValueError("ALTER UPDATE needs WHERE")
        datalake.update_delta(st.spark, lake[1], um.group(2), _assignments(um.group(1)))
    datalake.refresh_lake_table(st.spark, tname)
    return st.ok(tname)


def _add_projection(st: _Stmt, tname: str, action: str) -> None:
    from clickhouse_25_5_3_75_stable_spark import ddl

    nm = re.match(r"(?is)ADD\s+PROJECTION\s+(\w+)\s*\(\s*SELECT\s+\*\s+"
                  r"ORDER\s+BY\s+(.+?)\s*\)\s*$", action)
    if nm:
        ddl.add_normal_projection(st.spark, st.dir, tname, nm.group(1),
                                  [k.strip() for k in nm.group(2).split(",")])
        return
    pm = re.match(r"(?is)ADD\s+PROJECTION\s+(\w+)\s*\(\s*SELECT\s+(.+?)"
                  r"\s+GROUP\s+BY\s+(.+?)\s*\)\s*$", action)
    if not pm:
        raise ValueError(
            "unsupported ADD PROJECTION shape (need "
            "(SELECT ... GROUP BY ...) or (SELECT * ORDER BY ...))")
    keys = [k.strip() for k in pm.group(3).split(",")]
    sums, minmaxs = set(), set()
    for it in re.split(r",(?![^()]*\))", pm.group(2)):
        am = re.match(r"(?is)^\s*(sum|avg|min|max)\(\s*(\w+)\s*\)", it.strip())
        if am:
            (sums if am.group(1).lower() in ("sum", "avg") else minmaxs).add(am.group(2))
    ddl.add_projection(st.spark, st.dir, tname, pm.group(1), keys,
                       sorted(sums), sorted(minmaxs))


def _alter_partition(st: _Stmt, tname: str, action: str):
    """Partition lifecycle (reference MergeTreeData::{dropDetached,
    freezePartition} + alterPartition): O(1) directory moves / hardlink
    snapshots, never a data rewrite."""
    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def
    from clickhouse_25_5_3_75_stable_spark.sources import layout

    td = load_table_def(st.dir, tname)
    if td is None:
        raise ValueError(f"{tname}: not a DDL-managed table")
    tpath = os.path.join(st.dir, tname)

    def pval(raw: str):
        raw = raw.strip()
        if raw.startswith("'") and raw.endswith("'"):
            return raw[1:-1]
        if not re.match(r"^-?\d+$", raw):
            raise ValueError(f"unsupported PARTITION value {raw!r} (literal "
                             "number or quoted string)")
        return raw

    if action.upper().startswith("FREEZE"):
        fm = re.match(r"(?is)^FREEZE(?:\s+PARTITION\s+(?!WITH\b)(\S+))?"
                      r"(?:\s+WITH\s+NAME\s+'([^']+)')?\s*$", action)
        if not fm:
            raise ValueError("unsupported FREEZE shape")
        val = pval(fm.group(1)) if fm.group(1) else None
        if val is not None and not td.partition_by:
            raise ValueError(f"{tname} has no PARTITION BY")
        snap = layout.freeze_partition(tpath, td.partition_by, val, fm.group(2))
        return local_rows(st.spark, [(tname, snap)],
                          "table string, backup_path string")
    if not td.partition_by:
        raise ValueError(f"{tname} has no PARTITION BY")
    mv = re.match(r"(?is)^MOVE\s+PARTITION\s+(.+?)\s+TO\s+TABLE\s+(\w+)\s*$", action)
    rp = re.match(r"(?is)^REPLACE\s+PARTITION\s+(.+?)\s+FROM\s+(\w+)\s*$", action)
    if mv or rp:
        other = (mv or rp).group(2)
        td2 = load_table_def(st.dir, other)
        if td2 is None:
            raise ValueError(f"{other}: not a DDL-managed table")
        # NAMES and types must match — type-only comparison let
        # partitions with differently-named columns mix into one tree
        if td2.partition_by != td.partition_by or td2.columns != td.columns:
            raise ValueError(
                f"{tname} and {other} must share column names, types and "
                "partition key (reference throws on structure mismatch too)")
        opath = os.path.join(st.dir, other)
        if mv:
            layout.move_partition_to_table(tpath, opath, td.partition_by,
                                           pval(mv.group(1)))
        else:
            layout.replace_partition_from(tpath, opath, td.partition_by,
                                          pval(rp.group(1)))
        catalog.register(st.spark, st.dir, tname)
        catalog.register(st.spark, st.dir, other)
        return st.ok(tname)
    pm = re.match(r"(?is)^(DETACH|ATTACH|DROP\s+DETACHED|DROP)\s+PARTITION\s+(.+?)\s*$",
                  action)
    if not pm:
        raise ValueError(
            "unsupported ALTER PARTITION shape (DETACH/ATTACH/DROP "
            "[DETACHED] PARTITION v, MOVE PARTITION v TO TABLE t, REPLACE "
            "PARTITION v FROM t, FREEZE)")
    op = {"DETACH": layout.detach_partition, "ATTACH": layout.attach_partition,
          "DROP DETACHED": layout.drop_detached_partition,
          "DROP": layout.drop_partition}[re.sub(r"\s+", " ", pm.group(1).upper())]
    op(tpath, td.partition_by, pval(pm.group(2)))
    catalog.register(st.spark, st.dir, tname)
    return st.ok(tname)


def _backup(st: _Stmt):
    from clickhouse_25_5_3_75_stable_spark.ddl import backup_table, restore_table

    m = re.match(r"(?is)^(BACKUP|RESTORE)\s+TABLE\s+(\w+)\s+(TO|FROM)\s+'([^']+)'",
                 st.sql)
    if not m:
        raise ValueError("expected BACKUP TABLE t TO '<dir>' / RESTORE TABLE t "
                         "FROM '<dir>'")
    tname, path = m.group(2), m.group(4)
    if m.group(1).upper() == "RESTORE":
        restore_table(st.spark, st.dir, tname, path)
        return st.ok(tname)
    man = backup_table(st.dir, tname, path)
    return local_rows(st.spark, [(tname, man["files"], man["bytes"])],
                      "table string, files bigint, bytes bigint")


# --- session statements -------------------------------------------------------


def _system(st: _Stmt):
    """InterpreterSystemQuery subset (src/Interpreters/
    InterpreterSystemQuery.cpp): the commands with a real analogue act;
    recognized-but-stateless ones return Ok; everything else refuses by
    name."""
    spark = st.spark
    cmd = " ".join(st.sql.split()[1:]).upper()
    if cmd == "DROP QUERY CACHE":
        from clickhouse_25_5_3_75_stable_spark.operators.result_cache import (
            default_cache,
        )

        default_cache().clear()
    elif cmd in ("DROP MARK CACHE", "DROP UNCOMPRESSED CACHE",
                 "DROP FILESYSTEM CACHE"):
        spark.catalog.clearCache()
    elif cmd in ("STOP MERGES", "START MERGES"):
        spark.conf.set("spark.chspark.mergesStopped", str(cmd == "STOP MERGES").lower())
    elif cmd in ("FLUSH LOGS", "RELOAD DICTIONARIES") or cmd.startswith(
            "RELOAD DICTIONARY"):
        # logs are synchronous; view-backed lookups already see live
        # data, but SQL dictionaries' precomputed hierarchy closures must
        # rebuild
        from clickhouse_25_5_3_75_stable_spark.dictionary_sql import (
            SQL_DICTIONARIES,
            register_dictionary,
        )

        target = (cmd.split("RELOAD DICTIONARY", 1)[1].strip().strip("'\"").lower()
                  if cmd.startswith("RELOAD DICTIONARY ") else None)
        for dn, dd in list(SQL_DICTIONARIES.items()):
            if target is None or dn.lower() == target:
                register_dictionary(spark, dd)
    elif cmd.startswith("UNFREEZE WITH NAME"):
        # remove the named FREEZE snapshot from every table's _shadow/;
        # parsed from the raw text, as the uppercased cmd would corrupt
        # the quoted snapshot name
        import shutil

        um = re.match(r"(?is)^SYSTEM\s+UNFREEZE\s+WITH\s+NAME\s+'([^']+)'", st.sql)
        if not um:
            raise ValueError("SYSTEM UNFREEZE WITH NAME 'backup'")
        removed = 0
        for tdir in os.listdir(st.dir):
            snap = os.path.join(st.dir, tdir, "_shadow", um.group(1))
            if os.path.isdir(snap):
                shutil.rmtree(snap)
                removed += 1
        return local_rows(spark, [(cmd, f"Ok ({removed} snapshots)")],
                          "command string, status string")
    else:
        raise ValueError(
            f"SYSTEM {cmd}: no analogue in this engine (supported: "
            "DROP QUERY/MARK/UNCOMPRESSED/FILESYSTEM CACHE, "
            "STOP/START MERGES, FLUSH LOGS, RELOAD DICTIONARIES, "
            "UNFREEZE WITH NAME)")
    return local_rows(spark, [(cmd, "Ok")], "command string, status string")


def _set(st: _Stmt):
    from clickhouse_25_5_3_75_stable_spark.chsql import apply_settings

    m = re.match(r"(?is)^SET\s+(\w+)\s*=\s*(.+)$", st.sql)
    if not m:
        raise ValueError("expected SET <name> = <value>")
    applied = apply_settings(st.spark, {m.group(1).lower(): m.group(2)})
    return local_rows(
        st.spark, [(m.group(1), m.group(2), len(applied))],
        "setting string, value string, confs_changed int")


_HANDLERS = {
    "SHOW": _show, "EXISTS": _exists, "DESCRIBE": _describe, "DESC": _describe,
    "EXPLAIN": _explain, "GRANT": _access, "REVOKE": _access,
    "CREATE": _create, "DROP": _drop, "UNDROP": _table_op,
    "DETACH": _table_op, "ATTACH": _table_op, "TRUNCATE": _table_op,
    "RENAME": _rename,
    "EXCHANGE": _exchange, "CHECK": _check, "WATCH": _watch, "KILL": _kill,
    "INSERT": _insert, "DELETE": _delete, "OPTIMIZE": _optimize,
    "ALTER": _alter, "BACKUP": _backup, "RESTORE": _backup,
    "SYSTEM": _system, "SET": _set,
}


# --- query-path rewrites that read the data dir --------------------------------


def rewrite_query(spark, sql: str, data_dir: str | None) -> str:
    """Lake time travel, LIVE VIEW refresh and FINAL folding: each turns
    a table reference into a temp view the transpiled text can read."""
    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import LIVE_VIEWS

    # `FROM <lake table> VERSION AS OF n` (Delta versions) / `SNAPSHOT
    # AS OF id` (Iceberg) reads a view over the historical replay
    tt = re.search(r"(?is)\bFROM\s+(\w+)\s+(VERSION|SNAPSHOT)\s+AS\s+OF\s+(\d+)", sql)
    lake = _lake(tt.group(1)) if tt is not None else None
    if lake is not None:
        from clickhouse_25_5_3_75_stable_spark.sources import datalake

        tname, n = tt.group(1), int(tt.group(3))
        lfmt, lpath = lake
        if lfmt == "delta":
            hist = datalake.read_delta(spark, lpath, version=n)
        elif lfmt == "iceberg":
            hist = datalake.read_iceberg(spark, lpath, snapshot_id=n)
        else:
            raise ValueError("time travel on ENGINE = Hudi needs the connector")
        view = f"__tt_{tname}_{n}"
        hist.createOrReplaceTempView(view)
        sql = sql[:tt.start()] + f"FROM {view}" + sql[tt.end():]
    # a referenced LIVE VIEW reads as its current result + _version
    for name in list(LIVE_VIEWS):
        if re.search(rf"\b{name}\b", sql):
            LIVE_VIEWS[name].read(spark).createOrReplaceTempView(name)
    if data_dir is not None:
        sql = _resolve_final(spark, data_dir, sql)
    return sql


def _resolve_final(spark, data_dir: str, sql: str) -> str:
    """``FROM <t> FINAL`` on a DDL-created MergeTree-family table folds
    through operators/mergetree.py before the read (the transpiler
    strips FINAL, which is only correct for plain parquet sources — a
    Replacing table with un-merged duplicates MUST fold here)."""
    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def

    def fold_one(m: re.Match) -> str:
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

    # every occurrence — FINAL after a JOIN folds too
    return re.sub(r"\b(FROM|JOIN)\s+(\w+)\s+FINAL\b", fold_one, sql,
                  flags=re.IGNORECASE)


_INT_CH = {"int8", "int16", "int32", "int64", "uint8", "uint16", "uint32"}


def _order_exprs(spark, order_s: str):
    """An ORDER BY list of CH text as Column sort expressions."""
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark

    exprs = []
    for t in ch_sql_to_spark("SELECT " + order_s, spark).split("SELECT", 1)[1].split(","):
        t = t.strip()
        if t.upper().endswith(" DESC"):
            exprs.append(F.expr(t[: -len(" DESC")].strip()).desc())
        else:
            exprs.append(F.expr(t.removesuffix(" ASC").strip()))
    return exprs


def _where_expr(spark, where_s: str):
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark

    return F.expr(ch_sql_to_spark("SELECT " + where_s, spark).split("SELECT", 1)[1])


def _route_projection(spark, data_dir: str, sql: str):
    """Automatic aggregate-projection routing (the reference's
    optimizeUseAggregateProjection): a SELECT whose GROUP BY keys,
    WHERE columns, and aggregates are all covered by a stored
    projection re-aggregates the partial states instead of scanning
    the table. Returns a DataFrame or None (no match -> normal path)."""
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.ddl import (
        _projection_path,
        load_table_def,
        match_projection,
    )

    m = re.match(
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
    if not all(re.fullmatch(r"\w+", g) for g in group_keys):
        return None
    items = [i.strip() for i in re.split(r",(?![^()]*\))", select_s)]
    col_names = {c for c, _ in td.columns}
    where_cols = []
    if where_s:
        where_cols = [t for t in re.findall(r"\w+", where_s) if t in col_names]
    routed = match_projection(td, items, group_keys, where_cols)
    if routed is None:
        return None
    proj, aggs = routed
    ch_types = dict(td.columns)
    df = spark.read.parquet(_projection_path(data_dir, table, proj["name"]))
    if where_s:
        df = df.filter(_where_expr(spark, where_s))
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
            parts = re.split(r"(?i)\s+AS\s+", item)
            src, alias = parts[0].strip(), parts[-1].strip()
            grouped = grouped.withColumnRenamed(src, alias) if src != alias else grouped
            out_cols.append(alias)
    result = grouped.select(*out_cols)
    return result.orderBy(*_order_exprs(spark, order_s)) if order_s else result


def _route_normal_projection(spark, data_dir: str, sql: str):
    """Normal-projection routing (optimizeUseNormalProjection.cpp): a
    plain SELECT whose WHERE hits a normal projection's leading sort
    key reads the SORTED copy — identical rows, but parquet min/max on
    the sort key prunes files the base order cannot."""
    from clickhouse_25_5_3_75_stable_spark.ddl import (
        _projection_path,
        load_table_def,
    )

    m = re.match(
        r"(?is)^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)"
        r"\s+WHERE\s+(.+?)(?:\s+ORDER\s+BY\s+(.+?))?\s*;?\s*$",
        sql,
    )
    if m is None:
        return None
    select_s, table, where_s, order_s = m.groups()
    if re.search(r"(?i)\b(GROUP|JOIN|UNION|LIMIT)\b", sql):
        return None
    td = load_table_def(data_dir, table)
    if td is None:
        return None
    items = [i.strip() for i in select_s.split(",")]
    col_names = {c for c, _ in td.columns}
    if select_s.strip() != "*" and not all(i in col_names for i in items):
        return None  # expressions: normal path
    where_cols = {t for t in re.findall(r"\w+", where_s) if t in col_names}
    for p in td.projections:
        if p.get("kind") != "normal":
            continue
        if p["keys"][0] not in where_cols:
            continue  # predicate misses the sort prefix: no pruning win
        df = spark.read.parquet(_projection_path(data_dir, table, p["name"]))
        df = df.filter(_where_expr(spark, where_s))
        if select_s.strip() != "*":
            df = df.select(*items)
        return df.orderBy(*_order_exprs(spark, order_s)) if order_s else df
    return None
