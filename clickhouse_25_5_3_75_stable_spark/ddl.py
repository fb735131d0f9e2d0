"""CREATE TABLE DDL front door (reference parser:
/root/reference/src/Parsers/ParserCreateQuery.cpp; MergeTree engine
args at src/Storages/MergeTree/registerStorageMergeTree.cpp).

A migrating user's DDL runs unchanged:

    CREATE TABLE hits (
        event_date Date,
        user_id UInt64,
        url String,
        dur Nullable(Float64)
    ) ENGINE = MergeTree()
    PARTITION BY toYYYYMM(event_date)
    ORDER BY (user_id, event_date)
    TTL event_date + INTERVAL 90 DAY

parses to a TableDef: Spark schema via the explicit type map
(functions/typemap.py, exact mode), the ORDER BY/PARTITION BY layout
contract (sources/layout.py), and the TTL clause (operators/ttl.py).
`create_table` materializes an empty table at the path and registers
the view; `insert_into` appends honoring the layout.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, _tokenize
from clickhouse_25_5_3_75_stable_spark.functions.typemap import ch_type_to_spark
from clickhouse_25_5_3_75_stable_spark.sources import catalog

_ENGINE_FAMILY = {
    "mergetree", "replacingmergetree", "summingmergetree",
    "aggregatingmergetree", "collapsingmergetree",
    "versionedcollapsingmergetree", "graphitemergetree",
    "memory", "log", "tinylog", "null",
}


@dataclass
class TableDef:
    name: str
    columns: list[tuple[str, str]]  # (name, CH type string)
    engine: str = "MergeTree"
    engine_args: list[str] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    partition_by: str | None = None
    ttl: str | None = None
    # projections: [{name, keys, sums, minmaxs}] — ADD PROJECTION DDL
    projections: list = field(default_factory=list)
    # RENAME COLUMN history: declared name -> former physical names
    # (old parquet files keep writing-time names; reads coalesce)
    renames: dict = field(default_factory=dict)
    # ADD COLUMN ... DEFAULT: column -> default literal, filled at read
    # for parts written before the column existed
    defaults: dict = field(default_factory=dict)

    def spark_schema(self, mode: str = "exact") -> str:
        return ", ".join(
            f"{n} {ch_type_to_spark(t, mode)}" for n, t in self.columns
        )


def _collect_until(toks: list[str], i: int, stops: set[str]) -> tuple[list[str], int]:
    out: list[str] = []
    depth = 0
    while i < len(toks):
        tk = toks[i]
        if tk == "(":
            depth += 1
        elif tk == ")":
            if depth == 0:
                break
            depth -= 1
        if depth == 0 and tk.upper() in stops:
            break
        out.append(tk)
        i += 1
    return out, i


def parse_create_table(sql: str) -> TableDef:
    toks = _tokenize(sql)
    i = 0
    if not (len(toks) > 2 and toks[0].upper() == "CREATE" and toks[1].upper() == "TABLE"):
        raise ChSqlError("expected CREATE TABLE")
    i = 2
    if toks[i].upper() == "IF":  # IF NOT EXISTS
        i += 3
    name = toks[i]
    i += 1
    if i < len(toks) and toks[i] == ".":  # db.table
        name = toks[i + 1]
        i += 2
    if i >= len(toks) or toks[i] != "(":
        raise ChSqlError("expected column list")
    # columns: name Type [DEFAULT ...][CODEC(...)][COMMENT ...] , ...
    i += 1
    columns: list[tuple[str, str]] = []
    while i < len(toks) and toks[i] != ")":
        col = toks[i]
        i += 1
        # type = tokens until depth-0 comma / closing paren / modifier
        ty: list[str] = []
        depth = 0
        mods = {"DEFAULT", "MATERIALIZED", "ALIAS", "EPHEMERAL", "CODEC", "COMMENT", "TTL"}
        while i < len(toks):
            tk = toks[i]
            if tk == "(":
                depth += 1
            elif tk == ")":
                if depth == 0:
                    break
                depth -= 1
            if depth == 0 and (tk == "," or tk.upper() in mods):
                break
            ty.append(tk)
            i += 1
        # skip modifiers to the comma
        while i < len(toks) and toks[i] != "," and not (toks[i] == ")" and _depth_zero(toks, i)):
            if toks[i] == ")":
                break
            if toks[i] == ",":
                break
            # swallow modifier tokens at depth 0 (with their parens)
            d = 0
            tk = toks[i]
            if tk == "(":
                d += 1
            i += 1
            while i < len(toks) and d > 0:
                if toks[i] == "(":
                    d += 1
                elif toks[i] == ")":
                    d -= 1
                i += 1
            if i < len(toks) and toks[i] == "," or (i < len(toks) and toks[i] == ")"):
                break
        type_str = _join_type(ty)
        columns.append((col, type_str))
        if i < len(toks) and toks[i] == ",":
            i += 1
    if i < len(toks) and toks[i] == ")":
        i += 1
    out = TableDef(name=name, columns=columns)
    # clauses: ENGINE = X(...)  PARTITION BY expr  ORDER BY (...)  TTL ...
    while i < len(toks):
        up = toks[i].upper()
        if up == "ENGINE":
            i += 1
            if i < len(toks) and toks[i] == "=":
                i += 1
            out.engine = toks[i]
            i += 1
            if i < len(toks) and toks[i] == "(":
                args, j = _collect_until(toks, i + 1, set())
                out.engine_args = [a for a in args if a != ","]
                i = j + 1
            if out.engine.lower() not in _ENGINE_FAMILY:
                raise ChSqlError(f"unsupported engine {out.engine!r}")
        elif up == "PARTITION" and toks[i + 1].upper() == "BY":
            expr, i = _collect_until(toks, i + 2, {"ORDER", "TTL", "SETTINGS", "PRIMARY", "SAMPLE"})
            out.partition_by = " ".join(expr)
        elif up == "ORDER" and toks[i + 1].upper() == "BY":
            expr, i = _collect_until(toks, i + 2, {"PARTITION", "TTL", "SETTINGS", "PRIMARY", "SAMPLE"})
            keys = [t for t in expr if t not in ("(", ")", ",")]
            out.order_by = keys
        elif up == "TTL":
            expr, i = _collect_until(toks, i + 2 - 1, {"SETTINGS"})
            out.ttl = " ".join(expr[1:]) if expr and expr[0].upper() == "TTL" else " ".join(expr)
        elif up in ("SETTINGS", "PRIMARY", "SAMPLE", "COMMENT"):
            _, i = _collect_until(toks, i + 1, {"PARTITION", "ORDER", "TTL"})
        else:
            i += 1
    return out


def _depth_zero(toks: list[str], upto: int) -> bool:
    d = 0
    for t in toks[:upto]:
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
    return d == 0


def _join_type(ty: list[str]) -> str:
    # re-join type tokens: no space before ( ) , or after (
    out = ""
    for k, t in enumerate(ty):
        if k and t not in ("(", ")", ",") and out and not out.endswith("("):
            out += " " if t[0].isalnum() and out[-1].isalnum() else ""
        out += t
    return out


class Database:
    """A directory of CH-DDL-defined tables (the clickhouse-local data
    dir model): CREATE TABLE materializes the layout, INSERT appends
    honoring ORDER BY / PARTITION BY, reads register temp views."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        self.tables: dict[str, TableDef] = {}

    def create_table(self, ddl: str, mode: str = "exact") -> TableDef:
        td = parse_create_table(ddl)
        self.tables[td.name] = td
        path = os.path.join(self.base, td.name)
        empty = self.spark.createDataFrame([], td.spark_schema(mode))
        empty.write.mode("overwrite").parquet(path)
        save_table_def(self.base, td)
        catalog.register(self.spark, self.base, td.name)
        return td

    def insert_into(self, name: str, df: DataFrame) -> None:
        append_to_table(df, self.tables[name], os.path.join(self.base, name))
        catalog.register(self.spark, self.base, name)

    def table(self, name: str) -> DataFrame:
        return catalog.register(self.spark, self.base, name)


def append_to_table(df: DataFrame, td: "TableDef | None", path: str) -> None:
    """The one append-write path (CLI INSERT + Database.insert_into): a
    plain-column PARTITION BY lands as physical col=value dirs — which
    is what makes DETACH/ATTACH/DROP PARTITION O(1) moves. CREATE's
    zero-row root marker is removed AFTER the write and only when
    partition dirs actually exist, so a zero-row INSERT can never strand
    the table unreadable (review-found). Rows are sorted within files
    by the DDL's ORDER BY (the layout's sort contract)."""
    sortable = [c for c in (td.order_by if td else []) if c in df.columns]
    if sortable:
        df = df.sortWithinPartitions(*sortable)
    partitioned = bool(td and td.partition_by and td.partition_by in df.columns)
    writer = df.write.mode("append")
    if partitioned:
        writer = writer.partitionBy(td.partition_by)
    writer.parquet(path)
    if partitioned:
        import glob

        import pyarrow.parquet as pq

        has_dirs = any(
            os.path.isdir(os.path.join(path, d)) and "=" in d
            for d in os.listdir(path)
        )
        if has_dirs:
            for f in glob.glob(os.path.join(path, "part-*.parquet")):
                if pq.read_metadata(f).num_rows == 0:
                    os.remove(f)


def register_table_view(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Read a DDL table dir as its view (sources/catalog.py registers it
    under the table name): DECLARED columns in declared order, with
    cast-on-read type evolution, rename mapping and ADD COLUMN fill.

    - Physical partitionBy writes move the partition column to the end
      of the parquet-inferred schema; without the reorder, a later
      positional INSERT VALUES writes values into the wrong columns
      (review-found silent corruption).
    - MODIFY COLUMN records the new type in the def; files written
      before the change cast at read (the metadata-mutation model the
      repo uses for ADD COLUMN defaults; the reference rewrites via a
      mutation, same visible result).
    - RENAME COLUMN records former physical names; reads coalesce the
      declared name with its former names, so old and new parts serve
      one logical column.
    - ADD COLUMN leaves older parts without the column: they read its
      DEFAULT (ADD COLUMN records the type's zero for a non-Nullable
      column without one). A Nullable column with a DEFAULT is
      the exception — ADD COLUMN writes the default into the existing
      parts, since a read cannot tell a missing value from a NULL.
      DROP COLUMN rewrites the parts without the column, so a column
      added later under the same name never reads the dropped data."""
    from pyspark.sql import functions as F

    path = os.path.join(base_dir, name)
    td = load_table_def(base_dir, name)
    # schema evolution (ADD/RENAME COLUMN) leaves parts with different
    # physical schemas; without mergeSchema the read takes ONE file's
    # schema and silently drops the others' columns
    reader = spark.read.option("mergeSchema", "true") if td is not None else spark.read
    try:
        df = reader.parquet(path)
    except Exception:
        if td is None:
            raise
        # every partition detached/dropped: the dir holds no data files
        # — an empty view with the declared schema (fuzz-found: the
        # unguarded read surfaced UNABLE_TO_INFER_SCHEMA)
        return catalog.local_rows(spark, [], td.spark_schema())
    if td is None:
        return df
    phys = set(df.columns)
    sel = []
    for cname, chtype in td.columns:
        want = ch_type_to_spark(chtype)
        cols = [F.col(c).cast(want) for c in [cname] + td.renames.get(cname, [])
                if c in phys]
        if cname in td.defaults and not chtype.startswith("Nullable"):
            # a non-Nullable column holds no NULL: NULL is a part that
            # predates the column
            cols.append(F.lit(td.defaults[cname]).cast(want))
        expr = F.coalesce(*cols) if cols else F.lit(None).cast(want)
        sel.append(expr.alias(cname))
    return df.select(*sel)


def alter_modify_column(spark: SparkSession, base_dir: str, name: str,
                        col: str, new_type: str) -> None:
    """ALTER TABLE ... MODIFY COLUMN c Type (reference AlterCommand
    MODIFY_COLUMN → a data MUTATION, not metadata-only): the reference
    rewrites parts to the new type, and so do we — parquet's
    mergeSchema cannot reconcile contradictory physical types across
    parts (double vs string), so a metadata-only change would make the
    table unreadable after the next INSERT (review-found)."""
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.functions.typemap import (
        ch_type_to_spark,
    )

    td = load_table_def(base_dir, name)
    if td is None:
        raise ValueError(f"{name}: not a DDL-managed table")
    if col not in {c for c, _t in td.columns}:
        raise ValueError(f"MODIFY COLUMN: no column {col!r} in {name}")
    want = ch_type_to_spark(new_type)  # validate BEFORE any disk write
    df = catalog.register(spark, base_dir, name)
    td.columns = [(c, new_type if c == col else t) for c, t in td.columns]
    _rewrite(spark, base_dir, name, td, df.withColumn(col, F.col(col).cast(want)))


def alter_rename_column(spark: SparkSession, base_dir: str, name: str,
                        old: str, new: str) -> None:
    """ALTER TABLE ... RENAME COLUMN a TO b (reference
    AlterCommand::RENAME_COLUMN): metadata-only — old parts keep the
    old physical name, the view coalesces both under the new name."""
    td = load_table_def(base_dir, name)
    if td is None:
        raise ValueError(f"{name}: not a DDL-managed table")
    names = {c for c, _t in td.columns}
    if old not in names:
        raise ValueError(f"RENAME COLUMN: no column {old!r} in {name}")
    if new in names:
        raise ValueError(f"RENAME COLUMN: {new!r} already exists in {name}")
    if td.partition_by == old:
        raise ValueError(
            "RENAME COLUMN: cannot rename the partition column (physical "
            "col=value directories carry its name)")
    if td.ttl and re.search(rf"\b{re.escape(old)}\b", td.ttl):
        raise ValueError(
            f"RENAME COLUMN: the TTL expression references {old!r} — "
            "REMOVE TTL first (the reference rewrites dependent "
            "expressions; this engine refuses instead of going stale)")
    _refuse_projection_refs(td, old, "RENAME COLUMN")
    td.columns = [(new if c == old else c, t) for c, t in td.columns]
    td.order_by = [new if c == old else c for c in td.order_by]
    # the new name inherits the old name's full former-name chain
    td.renames[new] = [old] + td.renames.pop(old, [])
    if old in td.defaults:
        td.defaults[new] = td.defaults.pop(old)
    save_table_def(base_dir, td)
    catalog.register(spark, base_dir, name)


def _refuse_projection_refs(td: TableDef, col: str, what: str) -> None:
    for proj in td.projections:
        refs = ([proj.get("keys", [])] + [proj.get("sums", [])]
                + [proj.get("minmaxs", [])])
        if any(col in group for group in refs):
            raise ValueError(
                f"{what}: projection {proj.get('name')!r} references "
                f"{col!r} — DROP PROJECTION first")


def _ddl_extras():  # marker for coverage tooling
    return ("DROP TABLE", "TRUNCATE TABLE", "RENAME TABLE")


def drop_table(spark: SparkSession, base_dir: str, name: str,
               sync: bool = False) -> None:
    """DROP TABLE (reference InterpreterDropQuery over an Atomic
    database): the data moves to the _dropped/ parking area so UNDROP
    can restore it (the reference keeps dropped tables for
    database_atomic_delay_before_drop_table_sec); ``DROP ... SYNC``
    deletes immediately, exactly the reference's SYNC modifier. A
    library session has no background GC, so parked tables persist
    until UNDROP or a SYNC re-drop."""
    import shutil
    import time

    path = os.path.join(base_dir, name)
    if os.path.isdir(path):
        if sync:
            shutil.rmtree(path, ignore_errors=True)
        else:
            park = os.path.join(base_dir, "_dropped")
            os.makedirs(park, exist_ok=True)
            shutil.move(path, os.path.join(park, f"{name}.{time.time_ns()}"))
    catalog.forget(spark, base_dir, name)


def undrop_table(spark: SparkSession, base_dir: str, name: str) -> None:
    """UNDROP TABLE (reference InterpreterUndropQuery): restore the
    most recently dropped incarnation from the parking area."""
    park = os.path.join(base_dir, "_dropped")
    cands = sorted(
        (d for d in os.listdir(park) if d.rsplit(".", 1)[0] == name)
        if os.path.isdir(park) else [],
        key=lambda d: int(d.rsplit(".", 1)[1]),
    )
    if not cands:
        raise ValueError(f"UNDROP TABLE {name}: no dropped table to restore")
    if os.path.exists(os.path.join(base_dir, name)):
        raise ValueError(
            f"UNDROP TABLE {name}: a live table with that name exists "
            "(reference: TABLE_ALREADY_EXISTS)")
    os.rename(os.path.join(park, cands[-1]), os.path.join(base_dir, name))
    catalog.register(spark, base_dir, name)


def detach_table(spark: SparkSession, base_dir: str, name: str) -> None:
    """DETACH TABLE (reference InterpreterDropQuery kind=Detach): the
    data stays on disk but the table disappears from the session until
    ATTACH TABLE."""
    import shutil

    path = os.path.join(base_dir, name)
    if not os.path.isdir(path):
        raise ValueError(f"DETACH TABLE {name}: no such table")
    det = os.path.join(base_dir, "_detached_tables")
    os.makedirs(det, exist_ok=True)
    if os.path.exists(os.path.join(det, name)):
        # shutil.move would NEST the new dir inside the old one,
        # corrupting both incarnations (review-found)
        raise ValueError(
            f"DETACH TABLE {name}: an earlier detached incarnation exists "
            "— ATTACH or remove it first")
    shutil.move(path, os.path.join(det, name))
    catalog.forget(spark, base_dir, name)


def attach_table(spark: SparkSession, base_dir: str, name: str) -> None:
    """ATTACH TABLE (reference ASTCreateQuery attach=true): bring a
    detached table back."""
    import shutil

    src = os.path.join(base_dir, "_detached_tables", name)
    if not os.path.isdir(src):
        raise ValueError(f"ATTACH TABLE {name}: not detached")
    if os.path.exists(os.path.join(base_dir, name)):
        raise ValueError(
            f"ATTACH TABLE {name}: a live table with that name exists")
    shutil.move(src, os.path.join(base_dir, name))
    catalog.register(spark, base_dir, name)


def truncate_table(spark: SparkSession, base_dir: str, name: str) -> None:
    """TRUNCATE TABLE: empty the active parts; the def, detached
    partitions and FREEZE snapshots stay, as in the reference."""
    td = load_table_def(base_dir, name)
    if td is not None:
        td.name = name  # stay correct after RENAME
    _rewrite(spark, base_dir, name, td, catalog.table(spark, base_dir, name).limit(0))


def rename_table(spark: SparkSession, base_dir: str, old: str, new: str) -> None:
    """RENAME TABLE a TO b (atomic at the directory level)."""
    os.rename(os.path.join(base_dir, old), os.path.join(base_dir, new))
    td = load_table_def(base_dir, new)
    if td is not None:
        td.name = new
        save_table_def(base_dir, td)
    catalog.forget(spark, base_dir, old)
    catalog.register(spark, base_dir, new)


def exchange_tables(spark: SparkSession, base_dir: str, a: str, b: str) -> None:
    """EXCHANGE TABLES a AND b (reference InterpreterRenameQuery
    exchange=true: the atomic two-way swap that RENAME can't express
    without a third name). Directory-level swap via a temp name, then
    both defs and views re-point."""
    pa, pb = os.path.join(base_dir, a), os.path.join(base_dir, b)
    if not os.path.isdir(pa) or not os.path.isdir(pb):
        raise ValueError(f"EXCHANGE TABLES: both {a} and {b} must exist")
    tmp = os.path.join(base_dir, f"__exchange_tmp_{a}_{b}")
    os.rename(pa, tmp)
    os.rename(pb, pa)
    os.rename(tmp, pb)
    for name in (a, b):
        td = load_table_def(base_dir, name)
        if td is not None:
            td.name = name
            save_table_def(base_dir, td)
        catalog.register(spark, base_dir, name)


_DDL_META = "_ddl.json"


def save_table_def(base_dir: str, td: TableDef) -> None:
    import json

    meta = {
        "name": td.name, "columns": td.columns, "engine": td.engine,
        "engine_args": td.engine_args, "order_by": td.order_by,
        "partition_by": td.partition_by, "ttl": td.ttl,
        "projections": td.projections, "renames": td.renames,
        "defaults": td.defaults,
    }
    with open(os.path.join(base_dir, td.name, _DDL_META), "w") as fh:
        json.dump(meta, fh)


def load_table_def(base_dir: str, name: str) -> TableDef | None:
    import json

    path = os.path.join(base_dir, name, _DDL_META)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        m = json.load(fh)
    return TableDef(
        name=m["name"], columns=[tuple(c) for c in m["columns"]],
        engine=m["engine"], engine_args=m["engine_args"],
        order_by=m["order_by"], partition_by=m["partition_by"], ttl=m["ttl"],
        projections=m.get("projections", []), renames=m.get("renames", {}),
        defaults=m.get("defaults", {}),
    )


def _rewrite(spark: SparkSession, base_dir: str, name: str,
             td: "TableDef | None", out: DataFrame) -> None:
    """Replace a table's parts with `out` (OPTIMIZE, mutations, MODIFY
    and DROP COLUMN; the reference's part rewrite): write a staging dir
    in the table's partition layout, carry the DDL def, the mutation
    journal, detached partitions and FREEZE snapshots across, swap, then
    re-register and rebuild projections.
    Parts come out in the declared schema, so the rename history is
    spent."""
    import shutil

    path = os.path.join(base_dir, name)
    staging = path + "__rewriting"
    writer = out.write.mode("overwrite")
    if td is not None and td.partition_by and td.partition_by in out.columns:
        writer = writer.partitionBy(td.partition_by)  # keep the layout
    writer.parquet(staging)
    # the def, the mutation journal, detached partitions and FREEZE
    # snapshots outlive the rewrite; projections are rebuilt below
    for entry in os.listdir(path):
        if (entry.startswith("_") and not entry.startswith("_projection_")
                and not os.path.exists(os.path.join(staging, entry))):
            shutil.move(os.path.join(path, entry), os.path.join(staging, entry))
    shutil.rmtree(path)
    os.rename(staging, path)
    if td is not None:
        td.renames = {}
        save_table_def(base_dir, td)
    catalog.register(spark, base_dir, name)
    materialize_projections(spark, base_dir, name)


def optimize_table(
    spark: SparkSession,
    base_dir: str,
    name: str,
    final: bool = True,
    deduplicate: bool = False,
) -> None:
    """OPTIMIZE TABLE [FINAL] [DEDUPLICATE] (reference
    InterpreterOptimizeQuery → merge with engine folding): Replacing
    folds to the latest version per ORDER BY key, Summing sums numeric
    columns per key, others compact files; DEDUPLICATE additionally
    drops full-row duplicates (the reference's merge-time dedup). The
    rewrite stages then swaps (same atomicity contract as
    RefreshableMatView)."""
    # SYSTEM STOP MERGES (InterpreterSystemQuery): while stopped, a
    # requested merge refuses instead of running (the reference parks
    # background merges; OPTIMIZE is our only merge trigger)
    if spark.conf.get("spark.chspark.mergesStopped", "false") == "true":
        raise ValueError(
            "merges are stopped (SYSTEM STOP MERGES); run SYSTEM START "
            "MERGES first")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_25_5_3_75_stable_spark.operators.mergetree import (
        replacing_final,
        summing_final,
    )

    td = load_table_def(base_dir, name)
    # evolved read: see mutate_table (rename/cast normalization)
    df = catalog.register(spark, base_dir, name)
    out = df
    if deduplicate:
        out = out.dropDuplicates()
    if td is not None and td.ttl:
        # the reference applies TTL DELETE when a merge rewrites the
        # part (TTLDeleteAlgorithm) — OPTIMIZE is exactly that moment
        tm = re.match(r"(?is)^\s*(\w+)\s*\+\s*INTERVAL\s+(\d+\s+\w+)",
                      td.ttl)
        if tm is not None:
            from clickhouse_25_5_3_75_stable_spark.operators.ttl import (
                apply_row_ttl,
            )

            out = apply_row_ttl(out, tm.group(1), tm.group(2),
                                F.current_timestamp())
    if final and td is not None and td.order_by:
        eng = td.engine.lower()
        if eng == "replacingmergetree":
            version = td.engine_args[0] if td.engine_args else td.order_by[-1]
            out = replacing_final(out, td.order_by, version=version, tiebreak=[])
        elif eng == "summingmergetree":
            num = [
                f.name for f in df.schema.fields
                if f.name not in td.order_by
                and isinstance(f.dataType, (T.NumericType,))
            ]
            out = summing_final(
                out, td.order_by, [F.sum(c).alias(c) for c in num]
            )
    _rewrite(spark, base_dir, name, td, out)


_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")
_INTEGER_T = re.compile(r"^U?Int(8|16|32|64|128|256)$|^Decimal", re.IGNORECASE)
_STRING_ZEROS = {"uuid": "00000000-0000-0000-0000-000000000000",
                 "ipv4": "0.0.0.0", "ipv6": "::"}


def _zero_default(ch_type: str):
    """The reference's default for a non-Nullable column without a
    DEFAULT clause, as the literal a read coalesces with: 0, false, the
    epoch, '' for a string, the zero UUID / address; None where no zero
    is known here (a composite type, an Enum)."""
    want = ch_type_to_spark(ch_type)
    if want in _NUMERIC or want.startswith("decimal"):
        return 0
    if want == "boolean":
        return False
    if want == "date":
        return "1970-01-01"
    if want == "timestamp":
        return "1970-01-01 00:00:00"
    if want == "string":
        base = re.sub(r"^LowCardinality\((.*)\)$", r"\1", ch_type.strip())
        if base == "String" or base.startswith("FixedString"):
            return ""
        if _INTEGER_T.match(base):
            return "0"  # a 128/256-bit integer or wide decimal: string transport
        return _STRING_ZEROS.get(base.lower())
    return None


def alter_add_column(
    spark: SparkSession, base_dir: str, name: str, col: str, ch_type: str,
    default=None,
) -> None:
    """ALTER TABLE ADD COLUMN (reference InterpreterAlterQuery /
    MergeTree metadata-only ALTER): existing parquet files lack the
    column and reads fill the declared default (the type's zero without
    one; NULL for a Nullable or composite type), the reference's
    materialize-at-read until a merge writes it. A Nullable
    column with a DEFAULT rewrites the existing parts with the default
    instead: at read, a part that predates the column and a stored NULL
    look the same."""
    td = load_table_def(base_dir, name)
    if td is None:
        raise ValueError(f"{name}: not a DDL-managed table")
    if default is not None and ch_type.startswith("Nullable"):
        from pyspark.sql import functions as F

        df = catalog.register(spark, base_dir, name)
        td.columns.append((col, ch_type))
        td.defaults[col] = default
        _rewrite(spark, base_dir, name, td, df.withColumn(
            col, F.lit(default).cast(ch_type_to_spark(ch_type))))
        return
    if default is None and not ch_type.startswith("Nullable"):
        # the parts that predate a non-Nullable column read its type's
        # zero, the reference's default without a DEFAULT clause. It is
        # recorded here so reads coalesce only added columns: a coalesce
        # on every column would stop parquet filter and partition pushdown
        default = _zero_default(ch_type)
    td.columns.append((col, ch_type))
    if default is not None:
        td.defaults[col] = default
    save_table_def(base_dir, td)
    catalog.register(spark, base_dir, name)


def alter_drop_column(spark: SparkSession, base_dir: str, name: str, col: str) -> None:
    """ALTER TABLE DROP COLUMN (reference DROP_COLUMN mutation): the
    parts are rewritten without the column, so a later ADD COLUMN of
    the same name reads its default, not the dropped values."""
    td = load_table_def(base_dir, name)
    if td is None:
        raise ValueError(f"{name}: not a DDL-managed table")
    if col not in {n for n, _t in td.columns}:
        # fuzz-found: a silent no-op accepted garbage like DROP COLUMN v TO
        raise ValueError(f"DROP COLUMN: no column {col!r} in {name}")
    if col == td.partition_by or col in td.order_by:
        raise ValueError(
            f"DROP COLUMN: {col!r} is a key column of {name} "
            "(the reference refuses dropping partition/sorting keys too)")
    _refuse_projection_refs(td, col, "DROP COLUMN")
    df = catalog.register(spark, base_dir, name)
    td.columns = [(n, t) for n, t in td.columns if n != col]
    td.defaults.pop(col, None)
    _rewrite(spark, base_dir, name, td, df.drop(col))


# ---------------------------------------------------------------------------
# BACKUP / RESTORE (reference src/Backups/ — BACKUP TABLE t TO Disk(...);
# here the File() flavor: a consistent directory snapshot + DDL metadata)
# ---------------------------------------------------------------------------


# process-wide backup log feeding system.backups (reference
# src/Storages/System/StorageSystemBackups.cpp reads the BackupsWorker
# registry; statuses per src/Backups/BackupStatus.h)
BACKUP_LOG: list[dict] = []


def backup_table(base_dir: str, name: str, dest_dir: str) -> dict:
    """BACKUP TABLE <name> TO '<dest_dir>': copy the table's data files
    and DDL metadata into dest_dir/<name>/. O(files) copies, no engine
    involvement — same contract as the reference's File backup engine
    (a backup is a self-contained directory you can RESTORE anywhere).

    Returns a manifest {files, bytes} like the reference's backup log
    entry."""
    import shutil

    src = os.path.join(base_dir, name)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no such table directory: {src}")
    dst = os.path.join(dest_dir, name)
    if os.path.exists(dst):
        raise FileExistsError(f"backup target exists: {dst}")
    import datetime

    start = datetime.datetime.now()
    shutil.copytree(src, dst)
    n_files = n_bytes = 0
    for root, _dirs, files in os.walk(dst):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, f))
    BACKUP_LOG.append({
        "id": str(len(BACKUP_LOG) + 1),
        "name": f"File('{dst}')",
        "status": "BACKUP_CREATED",
        "error": "",
        "start_time": start,
        "end_time": datetime.datetime.now(),
        "num_files": n_files,
        "total_size": n_bytes,
    })
    return {"table": name, "files": n_files, "bytes": n_bytes, "path": dst}


def restore_table(
    spark: SparkSession, base_dir: str, name: str, backup_dir: str
) -> None:
    """RESTORE TABLE <name> FROM '<backup_dir>': copy the snapshot back
    and re-register the view. Refuses to clobber an existing table
    (drop it first — reference RESTORE has the same default)."""
    import shutil

    src = os.path.join(backup_dir, name)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no backup for {name!r} in {backup_dir}")
    dst = os.path.join(base_dir, name)
    if os.path.exists(dst):
        raise FileExistsError(
            f"table {name!r} already exists — DROP TABLE it before RESTORE"
        )
    import datetime

    start = datetime.datetime.now()
    shutil.copytree(src, dst)
    catalog.register(spark, base_dir, name)
    n_files = n_bytes = 0
    for root, _dirs, files in os.walk(dst):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, f))
    BACKUP_LOG.append({
        "id": str(len(BACKUP_LOG) + 1),
        "name": f"File('{src}')",
        "status": "RESTORED",
        "error": "",
        "start_time": start,
        "end_time": datetime.datetime.now(),
        "num_files": n_files,
        "total_size": n_bytes,
    })


def _expr_to_spark(spark, expr: str) -> str:
    """Translate one CH-dialect scalar expression via the transpiler."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql_to_spark

    translated = ch_sql_to_spark("SELECT " + expr, spark)
    return translated.split("SELECT", 1)[1].strip()


def mutate_table(
    spark: SparkSession,
    base_dir: str,
    name: str,
    kind: str,
    where: str,
    assignments: dict[str, str] | None = None,
) -> None:
    """ALTER TABLE ... UPDATE/DELETE mutation over a DDL-managed table
    (reference InterpreterAlterQuery -> MutationsInterpreter,
    copy-on-write part rewrite): applies the mutation operators then
    swaps the rewrite in with the same staging contract as
    optimize_table. Expressions are CH dialect."""
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.operators.mutations import (
        mutate_delete,
        mutate_update,
    )

    path = os.path.join(base_dir, name)
    if not os.path.isdir(path):
        raise ValueError(
            f"{name}: ALTER mutations need a DDL-managed table directory "
            "(plain parquet sources: use operators/mutations.py directly)"
        )
    td = load_table_def(base_dir, name)
    # read through the EVOLVED view (rename coalescing + cast-on-read):
    # a plain read after RENAME COLUMN took one part's physical schema
    # and silently dropped the other parts' data from the rewrite
    # (review-found); the rewrite normalizes parts to the declared
    # schema, so the rename history is spent afterwards
    df = catalog.register(spark, base_dir, name)
    pred = F.expr(_expr_to_spark(spark, where))
    if kind == "delete":
        out = mutate_delete(df, pred)
    elif kind == "update":
        exprs = {c: F.expr(_expr_to_spark(spark, e)) for c, e in (assignments or {}).items()}
        out = mutate_update(df, pred, exprs)
    else:
        raise ValueError(f"unknown mutation kind {kind!r}")
    _rewrite(spark, base_dir, name, td, out)
    # mutation journal for system.mutations (StorageSystemMutations.cpp)
    import json as _json
    import time as _time

    cmd = f"{kind.upper()} WHERE {where}"
    if kind == "update":
        sets = ", ".join(f"{c} = {e}" for c, e in (assignments or {}).items())
        cmd = f"UPDATE {sets} WHERE {where}"
    with open(os.path.join(path, "_mutations.json"), "a") as fh:
        fh.write(_json.dumps({
            "mutation_id": f"mutation_{int(_time.time() * 1000)}",
            "command": cmd,
            "create_time": _time.strftime("%Y-%m-%d %H:%M:%S", _time.gmtime()),
        }) + "\n")


# ---------------------------------------------------------------------------
# Projections (reference src/Processors/QueryPlan/Optimizations/
# optimizeUseAggregateProjection.cpp + ALTER ADD PROJECTION in
# InterpreterAlterQuery): per-table pre-aggregations materialized under
# the table directory (underscore-prefixed, so parquet discovery skips
# them) and re-aggregated at read when a GROUP BY matches.
# ---------------------------------------------------------------------------


def _projection_path(base_dir: str, table: str, proj: str) -> str:
    return os.path.join(base_dir, table, f"_projection_{proj}")


def add_projection(
    spark: SparkSession,
    base_dir: str,
    table: str,
    proj_name: str,
    keys: list[str],
    sum_cols: list[str],
    minmax_cols: list[str],
) -> None:
    """ALTER TABLE ADD PROJECTION + immediate MATERIALIZE: partial
    aggregate states grouped by `keys`, written beside the data."""
    from clickhouse_25_5_3_75_stable_spark.operators.projections import (
        build_aggregate_projection,
    )

    td = load_table_def(base_dir, table)
    if td is None:
        raise ValueError(f"{table}: not a DDL-managed table")
    if any(p["name"] == proj_name for p in td.projections):
        raise ValueError(f"projection {proj_name!r} already exists on {table}")
    df = catalog.register(spark, base_dir, table)
    proj = build_aggregate_projection(df, keys, sum_cols, minmax_cols)
    proj.write.mode("overwrite").parquet(_projection_path(base_dir, table, proj_name))
    td.projections.append({
        "name": proj_name, "keys": list(keys),
        "sums": list(sum_cols), "minmaxs": list(minmax_cols),
    })
    save_table_def(base_dir, td)


def add_normal_projection(
    spark: SparkSession,
    base_dir: str,
    table: str,
    proj_name: str,
    order_keys: list[str],
) -> None:
    """Normal (reordering) projection: a range-partitioned, sorted copy
    of the table (reference optimizeUseNormalProjection.cpp — a
    projection part sorted by a different key). Parquet min/max on the
    sort key then prunes files for WHERE predicates the base order
    can't."""
    td = load_table_def(base_dir, table)
    if td is None:
        raise ValueError(f"{table}: not a DDL-managed table")
    if any(p["name"] == proj_name for p in td.projections):
        raise ValueError(f"projection {proj_name!r} already exists on {table}")
    df = catalog.register(spark, base_dir, table)
    (df.repartitionByRange(*order_keys)
       .sortWithinPartitions(*order_keys)
       .write.mode("overwrite")
       .parquet(_projection_path(base_dir, table, proj_name)))
    td.projections.append({
        "name": proj_name, "kind": "normal", "keys": list(order_keys),
        "sums": [], "minmaxs": [],
    })
    save_table_def(base_dir, td)


def drop_projection(base_dir: str, table: str, proj_name: str) -> None:
    import shutil

    td = load_table_def(base_dir, table)
    if td is None:
        raise ValueError(f"{table}: not a DDL-managed table")
    td.projections = [p for p in td.projections if p["name"] != proj_name]
    save_table_def(base_dir, td)
    path = _projection_path(base_dir, table, proj_name)
    if os.path.isdir(path):
        shutil.rmtree(path)


def materialize_projections(spark: SparkSession, base_dir: str, table: str) -> None:
    """Rebuild every projection from the current data (the reference
    rebuilds projections when a part is rewritten by merge/mutation)."""
    from clickhouse_25_5_3_75_stable_spark.operators.projections import (
        build_aggregate_projection,
    )

    td = load_table_def(base_dir, table)
    if td is None or not td.projections:
        return
    df = catalog.register(spark, base_dir, table)
    for p in td.projections:
        if p.get("kind") == "normal":
            (df.repartitionByRange(*p["keys"])
               .sortWithinPartitions(*p["keys"])
               .write.mode("overwrite")
               .parquet(_projection_path(base_dir, table, p["name"])))
            continue
        proj = build_aggregate_projection(df, p["keys"], p["sums"], p["minmaxs"])
        proj.write.mode("overwrite").parquet(
            _projection_path(base_dir, table, p["name"])
        )


_PROJ_AGG_RE = re.compile(
    r"^(count\(\s*\)|(?:sum|min|max|avg)\(\s*(\w+)\s*\))"
    r"(?:\s+AS\s+(\w+))?$",
    re.IGNORECASE,
)


def match_projection(
    td: TableDef, select_items: list[str], group_keys: list[str],
    where_cols: list[str],
) -> tuple[dict, list[tuple[str, str, str, str]]] | None:
    """Route check (the reference's optimizeUseAggregateProjection
    candidate match): every GROUP BY key and WHERE column must be a
    projection key, and every aggregate must be answerable from the
    stored states. Returns (projection, parsed aggs) or None."""
    aggs: list[tuple[str, str, str, str]] = []  # (fn, col, alias, raw)
    plain: list[str] = []
    for item in select_items:
        item = item.strip()
        m = _PROJ_AGG_RE.match(item)
        if m:
            fn = m.group(1).split("(", 1)[0].lower()
            aggs.append((fn, m.group(2) or "", m.group(3) or item, item))
        else:
            plain.append(item.split(" AS ")[0].strip())
    for p in td.projections:
        if p.get("kind") == "normal":
            continue
        keyset = set(p["keys"])
        if not set(group_keys) <= keyset:
            continue
        if not set(plain) <= keyset:
            continue
        if not set(where_cols) <= keyset:
            continue
        ok = True
        for fn, col, _alias, _raw in aggs:
            if fn == "count" and not col:
                continue
            if fn in ("sum", "avg") and col not in p["sums"]:
                ok = False
            if fn in ("min", "max") and col not in p["minmaxs"]:
                ok = False
        if ok:
            return p, aggs
    return None
