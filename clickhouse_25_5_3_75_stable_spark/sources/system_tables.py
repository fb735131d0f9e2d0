"""``system.*`` introspection tables.

The reference declares each system table once, as an
IStorageSystemOneBlock (src/Storages/System/IStorageSystemOneBlock.h):
a column description plus a ``fillData`` row filler. Here every table
is one ``SYSTEM_TABLES`` row: its Spark DDL schema and a rows function
``(spark, data_dir) -> list[tuple]`` (an always-empty table has none).
``system_table`` reads a row as a local relation
(``catalog.local_rows``), so a system-table read runs no Spark job.
Rows come from parquet footers, the filesystem and the session's
registries — never a data scan — so these stay O(1) at any data scale.
The numbers/zeros generators are the exception: lazy ``spark.range``
plans.

``SELECT ... FROM system.<name>``: Spark temp views have no schema
qualifier, so ch_sql rewrites ``system.X`` to ``__system_X``
(``rewrite_system_refs``) and ``materialize_system_views`` backs each
referenced name with a temp view built on demand.
"""

from __future__ import annotations

import os
from collections import deque as _deque
from datetime import datetime as _dt
from datetime import timezone
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from clickhouse_25_5_3_75_stable_spark.sources import catalog


class SystemTable(NamedTuple):
    schema: str  # Spark DDL; UInt64 travels as BIGINT, UUIDs as strings
    # (spark, data_dir) -> list[tuple]; None: the table is always empty.
    # A generator's rows function returns its lazy DataFrame instead.
    rows: Callable | None = None
    needs_dir: bool = False  # rows read the data dir


# --- session registries -----------------------------------------------------

_QUERY_LOG: _deque = _deque(maxlen=10_000)
_EVENT_COUNTERS: dict[str, int] = {}

# the currently-executing query's identity, set by chsql.ch_sql before
# transpile so queryID()/initialQueryStartTime() inside the query text
# resolve to THIS query (reference: ClientInfo current_query_id /
# initial_query_start_time; a library session has no distributed
# initiator, so initial == current, same as on the initiating server)
_CURRENT_QUERY: dict = {"id": "", "start_time": None}

# <macros> analogue (reference Common/Macros.h, fed from server config;
# here fed by set_macro / the library user) — served by getMacro() and
# system.macros (StorageSystemMacros.cpp)
MACROS: dict[str, str] = {}

# session registry for CREATE NAMED COLLECTION (reference
# src/Common/NamedCollections/; StorageSystemNamedCollections.cpp)
NAMED_COLLECTIONS: dict[str, dict[str, str]] = {}

# session error registry: name -> [code, count, last_time_iso, last_msg]
_ERROR_COUNTERS: dict[str, list] = {}


def set_macro(name: str, value: str) -> None:
    MACROS[name] = value


def create_named_collection(name: str, kv: dict[str, str]) -> None:
    NAMED_COLLECTIONS[name] = dict(kv)


def drop_named_collection(name: str) -> None:
    NAMED_COLLECTIONS.pop(name, None)


def begin_query(query: str) -> str:
    """Assign a fresh query id + start time (ClientInfo semantics)."""
    import uuid

    _CURRENT_QUERY["id"] = str(uuid.uuid4())
    _CURRENT_QUERY["start_time"] = _dt.now()
    return _CURRENT_QUERY["id"]


def current_query_id() -> str:
    return _CURRENT_QUERY["id"]


def current_query_start_time() -> "_dt":
    return _CURRENT_QUERY["start_time"] or _dt.now()


def record_query(query: str, normalized: str | None = None,
                 kind: str = "QueryStart", duration_ms: float | None = None,
                 result_rows: int | None = None,
                 query_id: str | None = None) -> None:
    """Append to the session-local query log ring buffer (10k entries)
    and bump the event counters — called by chsql.ch_sql on transpile
    (QueryStart), and by the CLI/HTTP front door on a finished statement
    and profiler.explain_analyze on measured execution (QueryFinish,
    with duration and result rows). Deferred
    events (QueryFinish on a DataFrame built earlier) pass the
    originating query_id explicitly; otherwise the current scope's id
    applies."""
    _QUERY_LOG.append((
        _dt.now().isoformat(sep=" ", timespec="milliseconds"),
        kind, query, normalized, duration_ms, result_rows,
        query_id or _CURRENT_QUERY["id"],
    ))
    if kind == "QueryFinish":
        return  # counted at its start
    _EVENT_COUNTERS["Query"] = _EVENT_COUNTERS.get("Query", 0) + 1
    head = (query or "").lstrip()[:12].upper()
    key = ("SelectQuery" if head.startswith("SELECT") or head.startswith("WITH")
           else "InsertQuery" if head.startswith("INSERT") else "OtherQuery")
    _EVENT_COUNTERS[key] = _EVENT_COUNTERS.get(key, 0) + 1


def record_error(name: str, code: int, message: str) -> None:
    """Feed system.errors (called by record_chsql_error at the public
    API boundary — round-8: construction-time recording over-counted
    internal control-flow errors)."""
    ent = _ERROR_COUNTERS.setdefault(name, [code, 0, None, ""])
    ent[1] += 1
    ent[2] = _dt.now().isoformat(sep=" ", timespec="seconds")
    ent[3] = message[:500]


# --- the catalog: tables, columns, parts ------------------------------------


def _columns(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.columns (StorageSystemColumns.cpp): one row per column of
    every catalog table, with 1-based ordinal position and Spark type
    name."""
    return [
        (name, f.name, i, f.dataType.simpleString())
        for name in catalog.sync(spark, data_dir)
        for i, f in enumerate(spark.table(name).schema.fields, start=1)
    ]


def _table_parts(data_dir: str, name: str) -> list[tuple[str, list]]:
    """A catalog table's non-empty parts as (partition, [(file, footer
    metadata)]): a flat file is the one part `all`; a table dir has
    `all` for its root files plus one part per partition dir (names
    starting with `_` are detached parts and projections)."""
    import pyarrow.parquet as pq

    def files_of(d: str) -> list[str]:
        return [os.path.join(d, f) for f in sorted(os.listdir(d))
                if f.endswith(".parquet") and not f.startswith(("_", "."))]

    path = catalog.table_path(data_dir, name)
    if not os.path.isdir(path):
        groups = [("all", [path])]
    else:
        groups = [("all", files_of(path))] + [
            (d, files_of(os.path.join(path, d)))
            for d in sorted(os.listdir(path))
            if not d.startswith(("_", ".")) and os.path.isdir(os.path.join(path, d))
        ]
    parts = []
    for partition, files in groups:
        metas = [(f, pq.read_metadata(f)) for f in files]
        if sum(m.num_rows for _f, m in metas):
            parts.append((partition, metas))
    return parts


# the reference's full system.tables column list
# (StorageSystemTables.cpp ColumnsDescription, 25.5) plus its `table`
# alias of name
_TABLES_SCHEMA = (
    "database string, name string, uuid string, engine string, "
    "is_temporary tinyint, data_paths array<string>, "
    "metadata_path string, metadata_modification_time timestamp, "
    "metadata_version int, dependencies_database array<string>, "
    "dependencies_table array<string>, create_table_query string, "
    "engine_full string, as_select string, "
    "parameterized_view_parameters array<struct<name string, type string>>, "
    "partition_key string, sorting_key string, primary_key string, "
    "sampling_key string, storage_policy string, total_rows bigint, "
    "total_bytes bigint, total_bytes_uncompressed bigint, parts bigint, "
    "active_parts bigint, total_marks bigint, "
    "active_on_fly_data_mutations bigint, "
    "active_on_fly_alter_mutations bigint, "
    "active_on_fly_metadata_mutations bigint, lifetime_rows bigint, "
    "lifetime_bytes bigint, comment string, has_own_data tinyint, "
    "loading_dependencies_database array<string>, "
    "loading_dependencies_table array<string>, "
    "loading_dependent_database array<string>, "
    "loading_dependent_table array<string>, table string"
)

_NIL_UUID = "00000000-0000-0000-0000-000000000000"


def _tables(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.tables with the reference's full column set
    (StorageSystemTables.cpp:152-210). Values are engine facts from
    parquet FOOTER metadata (no data scan, the reference's own
    quick-stat contract for total_rows/total_bytes/total_marks):

    - engine/engine_full/keys come from stored DDL metadata when the
      table was CREATEd through ddl.py, else the catalog default
      (parquet tables present as plain MergeTree analogues);
    - total_rows = footer num_rows; total_bytes = bytes on disk;
      total_bytes_uncompressed = sum of row-group uncompressed sizes;
      total_marks = row-group count (the granule analogue);
    - uuid is the nil UUID (no Atomic database here),
      replication/buffer/mutation counters are 0/NULL exactly like the
      reference reports for engines without them.
    """
    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def

    rows = []
    for name in catalog.sync(spark, data_dir):
        path = catalog.table_path(data_dir, name)
        parts = _table_parts(data_dir, name)
        metas = [(f, m) for _p, fm in parts for f, m in fm]
        td = load_table_def(data_dir, name)
        engine = td.engine if td else "MergeTree"
        order_by = ", ".join(td.order_by) if td and td.order_by else ""
        cols_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.table(name).schema.fields
        )
        rows.append((
            "default", name, _NIL_UUID, engine, 0, [path],
            "", _dt.fromtimestamp(os.path.getmtime(path)), 0, [], [],
            f"CREATE TABLE default.{name} ({cols_ddl}) ENGINE = {engine}",
            engine + (f" ORDER BY ({order_by})" if order_by else ""), "", [],
            (td.partition_by or "") if td else "", order_by, order_by, "",
            "default",
            sum(m.num_rows for _f, m in metas),
            sum(os.path.getsize(f) for f, _m in metas),
            sum(m.row_group(g).total_byte_size
                for _f, m in metas for g in range(m.num_row_groups)),
            len(parts), len(parts), sum(m.num_row_groups for _f, m in metas),
            0, 0, 0, None, None, "", 1, [], [], [], [], name,
        ))
    return rows


def _parts(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.parts (StorageSystemParts.cpp, the user-facing core
    columns): one row per data part across the whole catalog. A flat
    parquet table is a single always-active part; a table directory
    contributes one part for its root files and one per partition
    directory."""
    rows = []
    for name in catalog.list_tables(data_dir):
        for partition, metas in _table_parts(data_dir, name):
            mtime = max(os.path.getmtime(f) for f, _m in metas)
            rows.append((
                "default", name, partition, f"{partition}_1_1_0", "Wide", True,
                sum(m.num_rows for _f, m in metas),
                sum(os.path.getsize(f) for f, _m in metas),
                sum(m.num_row_groups for _f, m in metas),
                _dt.fromtimestamp(mtime).isoformat(sep=" ", timespec="seconds"),
            ))
    return rows


def _ddl_tables(data_dir: str) -> list[tuple[str, str]]:
    """(name, dir) of every DDL-managed table in the catalog."""
    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def

    return [(n, os.path.join(data_dir, n)) for n in catalog.list_tables(data_dir)
            if load_table_def(data_dir, n) is not None]


# the detach-reason prefixes the reference parses off a detached part's
# directory name (DetachedPartInfo::DETACH_REASONS, MergeTreePartInfo.h)
_DETACH_REASONS = (
    "broken-on-start", "covered-by-broken", "merge-not-byte-identical",
    "mutate-not-byte-identical", "broken-from-backup", "broken",
    "unexpected", "noquorum", "ignored", "clone", "attaching",
    "deleting", "tmp-fetch",
)


def _detached_parts(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.detached_parts (StorageSystemDetachedParts.cpp:260-272)
    over every DDL-managed table. The reason comes from the
    directory-name prefix exactly like the reference's DetachedPartInfo
    parser (a healthy DETACH PARTITION writes no prefix -> NULL); block
    numbers/level are NULL — this engine's parts carry no merge lineage,
    the same NULL the reference emits for unparsable names."""
    rows = []
    for table, tdir in _ddl_tables(data_dir):
        det = os.path.join(tdir, "_detached")
        if not os.path.isdir(det):
            continue
        for part in sorted(os.listdir(det)):
            p = os.path.join(det, part)
            if not os.path.isdir(p):
                continue
            size = sum(os.path.getsize(os.path.join(p, f))
                       for f in os.listdir(p) if f.endswith(".parquet"))
            reason = next(
                (r for r in _DETACH_REASONS if part.startswith(r + "_")), None)
            rows.append((
                "default", table, part[len(reason) + 1:] if reason else part,
                part, size, _dt.fromtimestamp(os.path.getmtime(p)),
                "default", p, reason, None, None, None,
            ))
    return rows


def _footer_stats(pdir: str):
    """(file, row group, column, min, max, null count) of every parquet
    file directly in `pdir`, from the footers — the statistics MergeTree
    keeps per part, read without scanning data."""
    import pyarrow.parquet as pq

    for fname in sorted(os.listdir(pdir)):
        if not fname.endswith(".parquet"):
            continue
        meta = pq.read_metadata(os.path.join(pdir, fname))
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                yield (
                    fname, rg, col.path_in_schema,
                    str(st.min) if st and st.has_min_max else None,
                    str(st.max) if st and st.has_min_max else None,
                    int(st.null_count) if st and st.null_count is not None else None,
                )


def _parts_columns(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.parts_columns (StorageSystemPartsColumns.cpp core):
    per-partition per-column footer stats of every DDL-managed table."""
    return [
        ("default", table, part, *stats)
        for table, tdir in _ddl_tables(data_dir)
        for part in sorted(os.listdir(tdir))
        if not part.startswith("_") and os.path.isdir(os.path.join(tdir, part))
        for stats in _footer_stats(os.path.join(tdir, part))
    ]


def _projection_dirs(data_dir: str):
    """(table, projection name, dir) of every materialized projection —
    the `_projection_*` dirs ddl.add_projection writes beside the data."""
    for table, tdir in _ddl_tables(data_dir):
        for d in sorted(os.listdir(tdir)):
            if d.startswith("_projection_") and os.path.isdir(os.path.join(tdir, d)):
                yield table, d[len("_projection_"):], os.path.join(tdir, d)


def _projection_parts(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.projection_parts (StorageSystemProjectionParts.cpp,
    user-facing core columns): one row per materialized projection per
    table, from footer metadata."""
    import pyarrow.parquet as pq

    rows = []
    for table, name, pdir in _projection_dirs(data_dir):
        files = [os.path.join(pdir, f) for f in os.listdir(pdir)
                 if f.endswith(".parquet")]
        rows.append((
            name, "all_1_1_0", "default", table, "all", True,
            sum(pq.read_metadata(f).num_rows for f in files),
            sum(os.path.getsize(f) for f in files),
            _dt.fromtimestamp(os.path.getmtime(pdir)),
        ))
    return rows


def _projection_parts_columns(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.projection_parts_columns
    (StorageSystemProjectionPartsColumns.cpp core): per-projection
    per-column footer stats."""
    return [
        ("default", table, name, *stats[2:])
        for table, name, pdir in _projection_dirs(data_dir)
        for stats in _footer_stats(pdir)
    ]


def _projections(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.projections (StorageSystemProjections.cpp): one row per
    stored projection of every DDL-managed table in data_dir."""
    from clickhouse_25_5_3_75_stable_spark.ddl import load_table_def

    rows = []
    for entry in sorted(os.listdir(data_dir)):
        td = load_table_def(data_dir, entry)
        if td is None:
            continue
        for p in td.projections:
            rows.append((
                "default", entry, p["name"], "Aggregate",
                ",".join(p["keys"]), ",".join(p["sums"]),
                ",".join(p["minmaxs"]),
            ))
    return rows


def _mutations(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.mutations (StorageSystemMutations.cpp): the mutation
    journal ddl.mutate_table appends per table. Copy-on-write rewrites
    complete synchronously, so is_done is always 1 — the column exists
    for schema parity."""
    import json

    rows = []
    for entry in sorted(os.listdir(data_dir)):
        j = os.path.join(data_dir, entry, "_mutations.json")
        if not os.path.exists(j):
            continue
        with open(j) as fh:
            for line in fh:
                m = json.loads(line)
                rows.append(("default", entry, m["mutation_id"], m["command"],
                             m["create_time"], 1))
    return rows


def _detached_tables(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.detached_tables (StorageSystemDetachedTables.cpp): tables
    parked by DETACH TABLE, with their on-disk location."""
    det = os.path.join(data_dir, "_detached_tables")
    if not os.path.isdir(det):
        return []
    return [("default", name, os.path.join(det, name), 0)
            for name in sorted(os.listdir(det))]


def _dropped_tables(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.dropped_tables (StorageSystemDroppedTables.cpp): tables
    parked by a non-SYNC DROP awaiting UNDROP or GC — the
    `_dropped/<name>.<ns>` parking area ddl.drop_table writes."""
    park = os.path.join(data_dir, "_dropped")
    rows = []
    if os.path.isdir(park):
        for i, d in enumerate(sorted(os.listdir(park))):
            name, _, ns = d.rpartition(".")
            try:
                ts = _dt.fromtimestamp(int(ns) / 1e9, timezone.utc)
            except ValueError:
                name, ts = d, None
            rows.append((i, "default", name, "", "MergeTree",
                         os.path.join(park, d), ts))
    return rows


def _dropped_tables_parts(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.dropped_tables_parts (StorageSystemDroppedTablesParts.h —
    the system.parts column core over dropped-but-parked tables):
    parquet footers of the parts inside the `_dropped/<name>.<ns>`
    parking area."""
    import pyarrow.parquet as pq

    rows = []
    park = os.path.join(data_dir, "_dropped")
    if os.path.isdir(park):
        for d in sorted(os.listdir(park)):
            name = d.rpartition(".")[0] or d
            tdir = os.path.join(park, d)
            parts = [os.path.join(root, f)
                     for root, _dirs, fnames in os.walk(tdir)
                     for f in fnames if f.endswith(".parquet")]
            for i, p in enumerate(sorted(parts)):
                meta = pq.read_metadata(p)
                partition = (os.path.dirname(os.path.relpath(p, tdir))
                             or "all").replace(os.sep, "/")
                rows.append((
                    "default", name, partition, f"{partition}_{i+1}_{i+1}_0",
                    "Wide", True, meta.num_rows, os.path.getsize(p),
                    meta.num_row_groups,
                    _dt.fromtimestamp(os.path.getmtime(p))
                    .isoformat(sep=" ", timespec="seconds"),
                ))
    return rows


def _data_skipping_indices(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.data_skipping_indices (StorageSystemDataSkippingIndices.cpp):
    one row per tokenbf/ngrambf/gin sidecar directory
    (sources/text_index.py) next to a table. Sidecars are
    uncompressed-on-disk parquet, so compressed == on-disk; marks have
    no analogue and report 0 like the reference does for absent
    granules."""
    suffix_types = (
        ("__tokenbf", "tokenbf_v1", "tokenbf_v1(1024, 3, 0)"),
        ("__ngrambf", "ngrambf_v1", "ngrambf_v1(3, 1024, 3, 0)"),
        ("__gin", "gin", "gin(0)"),
    )
    rows = []
    if os.path.isdir(data_dir):
        for entry in sorted(os.listdir(data_dir)):
            for suffix, typ, type_full in suffix_types:
                if not entry.endswith(suffix):
                    continue
                sidecar = os.path.join(data_dir, entry)
                for col in sorted(os.listdir(sidecar)):
                    cdir = os.path.join(sidecar, col)
                    if not os.path.isdir(cdir):
                        continue
                    nbytes = sum(
                        os.path.getsize(os.path.join(r, f))
                        for r, _d, fs in os.walk(cdir) for f in fs)
                    rows.append(("default", entry[: -len(suffix)],
                                 f"{col}_{typ}", typ, type_full, col, 1,
                                 nbytes, nbytes, 0))
    return rows


def _iceberg_history(spark: SparkSession, data_dir: str) -> list[tuple]:
    """system.iceberg_history (StorageSystemIcebergHistory.cpp):
    snapshot history of every Iceberg table — any directory under the
    data dir with metadata/version-hint.text, plus CLI-attached
    ENGINE = Iceberg tables — replayed with its parent-chain ancestry."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
        LAKE_TABLES,
        iceberg_history_rows,
    )

    paths = []
    if os.path.isdir(data_dir):
        paths = [os.path.join(data_dir, e) for e in sorted(os.listdir(data_dir))
                 if os.path.exists(os.path.join(data_dir, e, "metadata",
                                                "version-hint.text"))]
    paths += [p for _n, (fmt, p) in sorted(LAKE_TABLES.items()) if fmt == "iceberg"]
    return [r for p in paths for r in iceberg_history_rows(p)]


# --- the engine's own surface -----------------------------------------------


def _functions(spark: SparkSession, data_dir) -> list[tuple]:
    """system.functions (StorageSystemFunctions.cpp): every ClickHouse
    function name this engine's dialect resolves, plus the excluded ones
    with the documented reason."""
    from clickhouse_25_5_3_75_stable_spark.functions.dialect import CH_FUNCTIONS
    from clickhouse_25_5_3_75_stable_spark.functions.dialect_extras import (
        CH_FUNCTIONS_EXCLUDED,
    )

    rows = [(name, "direct", None) for name in CH_FUNCTIONS]
    return rows + [(name, "excluded", reason)
                   for name, reason in CH_FUNCTIONS_EXCLUDED.items()
                   if name not in CH_FUNCTIONS]


def _data_type_families(spark: SparkSession, data_dir) -> list[tuple]:
    """system.data_type_families (StorageSystemDataTypeFamilies.cpp):
    every ClickHouse type name the engine's type map resolves, with the
    Spark type it maps to in 'exact' mode."""
    from clickhouse_25_5_3_75_stable_spark.functions.typemap import (
        _SCALARS,
        ch_type_to_spark,
    )

    canonical = {
        "int8": "Int8", "int16": "Int16", "int32": "Int32", "int64": "Int64",
        "int128": "Int128", "int256": "Int256", "uint8": "UInt8",
        "uint16": "UInt16", "uint32": "UInt32", "uint64": "UInt64",
        "uint128": "UInt128", "uint256": "UInt256", "float32": "Float32",
        "float64": "Float64", "bfloat16": "BFloat16", "bool": "Bool",
        "string": "String", "date": "Date", "date32": "Date32",
        "datetime": "DateTime", "datetime32": "DateTime32", "uuid": "UUID",
        "ipv4": "IPv4", "ipv6": "IPv6", "json": "JSON", "dynamic": "Dynamic",
        "nothing": "Nothing",
    }
    rows = [(canonical.get(name, name), 1, _SCALARS[name][0])
            for name in sorted(_SCALARS)]
    return rows + [
        (comp.split("(")[0], 1, ch_type_to_spark(comp))
        for comp in ("Array(Int64)", "Tuple(Int64, String)", "Map(String, Int64)",
                     "Nullable(Int64)", "LowCardinality(String)")
    ]


def _formats(spark: SparkSession, data_dir) -> list[tuple]:
    """system.formats (StorageSystemFormats.cpp): one row per name of
    the format table, `formats.FORMATS` — is_input/is_output say a
    reader/writer exists, exclusion_reason what the SQL doors cannot
    reach — plus the excluded reference formats. Protobuf is supported
    only when the spark-protobuf jar is loadable."""
    from clickhouse_25_5_3_75_stable_spark.sources import formats
    from clickhouse_25_5_3_75_stable_spark.sources.protobuf_shim import (
        protobuf_available,
    )

    rows = formats.system_rows()
    if protobuf_available(spark):
        return rows
    # without the jar, an is_input=1 row would point users at a
    # NotImplementedError
    why = "spark-protobuf jar not on the classpath (sources/protobuf_shim.py has the recipe)"
    return [(n, 0, 0, why) if n.startswith("Protobuf") else (n, i, o, r)
            for n, i, o, r in rows]


def _time_zones(spark: SparkSession, data_dir) -> list[tuple]:
    """system.time_zones (StorageSystemTimeZones.cpp): the IANA zone
    names available to toTimeZone()/convert_timezone."""
    import zoneinfo

    return [(z,) for z in sorted(zoneinfo.available_timezones())]


def _table_functions(spark: SparkSession, data_dir) -> list[tuple]:
    """system.table_functions (StorageSystemTableFunctions.cpp):
    introspected from the table_functions module."""
    import inspect

    from clickhouse_25_5_3_75_stable_spark.sources import table_functions as tf

    return [(name,) for name, fn in inspect.getmembers(tf, inspect.isfunction)
            if not name.startswith("_") and fn.__module__ == tf.__name__]


def _collations(spark: SparkSession, data_dir) -> list[tuple]:
    """system.collations (StorageSystemCollations.cpp): the collation
    names ORDER BY ... COLLATE accepts — engine aliases plus the Spark 4
    natives they resolve to."""
    from clickhouse_25_5_3_75_stable_spark.operators.collation import _ALIASES

    return sorted(_ALIASES.items()) + [
        (n, n) for n in ("UTF8_BINARY", "UTF8_LCASE", "UNICODE",
                         "UNICODE_CI", "UNICODE_AI", "UNICODE_CI_AI")]


_KEYWORDS = sorted({
    "SELECT", "FROM", "WHERE", "PREWHERE", "GROUP", "BY", "HAVING",
    "QUALIFY", "ORDER", "LIMIT", "OFFSET", "WITH", "TOTALS", "TIES",
    "DISTINCT", "ON", "AS", "JOIN", "INNER", "LEFT", "RIGHT", "FULL",
    "CROSS", "SEMI", "ANTI", "ANY", "ASOF", "PASTE", "USING", "UNION",
    "ALL", "INTERSECT", "EXCEPT", "ARRAY", "SAMPLE", "FINAL",
    "SETTINGS", "FORMAT", "INTO", "OUTFILE", "VALUES", "INSERT",
    "CREATE", "TABLE", "VIEW", "MATERIALIZED", "FUNCTION", "DROP",
    "ALTER", "UPDATE", "DELETE", "OPTIMIZE", "DEDUPLICATE", "TTL",
    "PARTITION", "PRIMARY", "KEY", "ENGINE", "IF", "NOT", "EXISTS",
    "AND", "OR", "IN", "BETWEEN", "LIKE", "ILIKE", "IS", "NULL",
    "CASE", "WHEN", "THEN", "ELSE", "END", "CAST", "INTERVAL",
    "ASC", "DESC", "NULLS", "FIRST", "LAST", "COLLATE", "FILL",
    "INTERPOLATE", "STEP", "ROLLUP", "CUBE", "GROUPING", "SETS",
    "WINDOW", "OVER", "ROWS", "RANGE", "GROUPS", "PRECEDING",
    "FOLLOWING", "CURRENT", "ROW", "UNBOUNDED",
})

# the engines sources/engines.py, operators/mergetree.py and ddl.py
# implement, with the reference's capability flags
_TABLE_ENGINES = [
    #  name, supports_ttl, supports_sort, supports_skip_idx, supports_dedup
    ("MergeTree", 1, 1, 1, 1),
    ("ReplacingMergeTree", 1, 1, 1, 1),
    ("SummingMergeTree", 1, 1, 1, 1),
    ("AggregatingMergeTree", 1, 1, 1, 1),
    ("CollapsingMergeTree", 1, 1, 1, 1),
    ("VersionedCollapsingMergeTree", 1, 1, 1, 1),
    ("GraphiteMergeTree", 1, 1, 1, 1),
    ("Memory", 0, 0, 0, 0),
    ("Set", 0, 0, 0, 0),
    ("Join", 0, 0, 0, 0),
    ("Buffer", 0, 0, 0, 0),
    ("Null", 0, 0, 0, 0),
    ("Merge", 0, 0, 0, 0),
    ("File", 0, 0, 0, 0),
    ("URL", 0, 0, 0, 0),
    ("Distributed", 0, 0, 0, 0),
    ("View", 0, 0, 0, 0),
    ("MaterializedView", 0, 0, 0, 0),
    ("Kafka", 0, 0, 0, 0),
]

# the layout knobs sources/layout.py honors, with their Spark-side meaning
_MERGE_TREE_SETTINGS = [
    ("index_granularity", "8192",
     "row-group size target passed to the parquet writer"),
    ("max_file_rows", "1048576",
     "rows per part file before the writer rolls (maxRecordsPerFile)"),
    ("partition_by", "", "directory-encoded partition expression of the layout"),
    ("order_by", "", "sortWithinPartitions order applied at layout-write time"),
    ("ttl_column", "", "TTL expression column consulted by operators/ttl.py"),
]

# the runtime dependencies of this engine and their public licenses
_LICENSES = [
    ("pyspark", "Apache-2.0"),
    ("pyarrow", "Apache-2.0"),
    ("pandas", "BSD-3-Clause"),
    ("numpy", "BSD-3-Clause"),
    ("duckdb (test oracle only)", "MIT"),
    ("CityHash v1.0.2 (algorithm)", "MIT"),
    ("SipHash (algorithm)", "CC0/public domain reference"),
    ("xxHash (algorithm)", "BSD-2-Clause"),
    ("S2 geometry (cell model)", "Apache-2.0"),
    ("H3 (index bit layout)", "Apache-2.0"),
]

# this engine's own monitoring set over the system tables it serves
# (StorageSystemDashboards.cpp shape)
_DASHBOARDS = [
    ("overview", "Queries over time",
     "SELECT event_time, query_duration_ms FROM system.query_log"),
    ("overview", "Error counts", "SELECT name, value FROM system.errors"),
    ("overview", "Profile events", "SELECT event, value FROM system.events"),
    ("storage", "Part sizes",
     "SELECT table, name, bytes_on_disk FROM system.parts"),
]

# The engine's own behaviour-affecting default changes, one entry per
# documented semantic pin (MIGRATION.md / round verdicts). The
# reference's table carries ITS release history out of
# Core/SettingsChangesHistory.cpp — same structure, per-version rows
# of (name, previous_value, new_value, reason) tuples.
_SETTINGS_CHANGES = [
    ("Session", "round-3", [
        ("intdiv_rounding", "floor", "truncate",
         "DivisionUtils.h checkedDivision is C++ integer division "
         "(truncates toward zero); the intDiv docstring claiming floor "
         "is wrong"),
        ("order_by_nulls", "nulls_first", "nulls_last",
         "ClickHouse ASC places NULLs last; Spark default is first"),
        ("to_start_of_week_mode", "monday", "sunday",
         "toStartOfWeek/toWeek default mode 0 is Sunday-first"),
    ]),
    ("Session", "round-5", [
        ("int128_transport", "double", "decimal38",
         "Int128 aggregates travel as DECIMAL(38) instead of lossy "
         "double"),
        ("uint64_transport", "bigint", "two_complement",
         "UInt64 values beyond 2^63 travel as BIGINT two's-complement"),
    ]),
    ("Session", "round-6", [
        ("length_unit", "characters", "bytes",
         "length(String) counts BYTES everywhere (octet_length); "
         "lengthUTF8 counts characters"),
    ]),
]


def _settings_changes(spark: SparkSession, data_dir) -> list[tuple]:
    """system.settings_changes (StorageSystemSettingsChanges.cpp — type,
    version, changes Array(Tuple(name, previous_value, new_value,
    reason))): this engine's documented behaviour pins in the structure
    the reference uses for its release history."""
    return [
        (typ, ver, [{"name": n, "previous_value": p, "new_value": v, "reason": r}
                    for n, p, v, r in changes])
        for typ, ver, changes in _SETTINGS_CHANGES
    ]


# --- the live session --------------------------------------------------------


def _processes(spark: SparkSession, data_dir) -> list[tuple]:
    """system.processes (StorageSystemProcesses.cpp): the Spark
    scheduler's currently-active jobs."""
    tracker = spark.sparkContext.statusTracker()
    infos = [(jid, tracker.getJobInfo(jid)) for jid in tracker.getActiveJobsIds()]
    return [(int(jid), str(info.status), len(info.stageIds))
            for jid, info in infos if info]


def _clusters(spark: SparkSession, data_dir) -> list[tuple]:
    """system.clusters (StorageSystemClusters.cpp): one row per executor
    of the live Spark application (local mode: the driver doubles as the
    single executor)."""
    sc = spark.sparkContext
    try:  # executor list via the JVM status tracker (cluster mode)
        infos = sc._jsc.sc().statusTracker().getExecutorInfos()
        return [("default", i + 1, e.host(), int(e.numRunningTasks()))
                for i, e in enumerate(infos)]
    except Exception:  # local fallback: the driver is the one executor
        return [("default", 1, sc.master, 0)]


def _build_options(spark: SparkSession, data_dir) -> list[tuple]:
    """system.build_options (StorageSystemBuildOptions.cpp): engine
    build/runtime identity."""
    import platform
    import sys

    import pyspark

    return [
        ("SPARK_VERSION", pyspark.__version__),
        ("PYTHON_VERSION", sys.version.split()[0]),
        ("PLATFORM", platform.platform()),
        ("REFERENCE", "ClickHouse-25.5.3.75-stable"),
    ]


def _disks(spark: SparkSession, data_dir) -> list[tuple]:
    """system.disks (StorageSystemDisks.cpp): free/total bytes of the
    storage path."""
    import shutil

    u = shutil.disk_usage("/")
    return [("default", "/", u.free, u.total)]


def _warnings(spark: SparkSession, data_dir) -> list[tuple]:
    """system.warnings (StorageSystemWarnings.cpp): environment
    capability warnings the session would surface at startup."""
    from clickhouse_25_5_3_75_stable_spark.sources.protobuf_shim import (
        protobuf_available,
    )

    if protobuf_available(spark):
        return []
    return [("spark-protobuf jar absent: Protobuf formats are "
             "capability-gated (sources/protobuf_shim.py has the recipe)",)]


def _metrics(spark: SparkSession, data_dir) -> list[tuple]:
    """system.metrics (StorageSystemMetrics.cpp): instantaneous
    scheduler gauges from the live SparkContext."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    return [
        ("ActiveJobs", len(tracker.getActiveJobsIds())),
        ("ActiveStages", len(tracker.getActiveStageIds())),
        ("DefaultParallelism", sc.defaultParallelism),
        ("QueryLogEntries", len(_QUERY_LOG)),
    ]


def _asynchronous_metrics(spark: SparkSession, data_dir) -> list[tuple]:
    """system.asynchronous_metrics (StorageSystemAsynchronousMetrics.cpp
    — metric/value/description): the host-level subset of the
    reference's periodically refreshed gauges measurable in-process
    (/proc + catalog), each under the reference's metric name."""
    import time

    rows: list[tuple[str, float, str]] = []

    def add(metric: str, value: float, desc: str) -> None:
        rows.append((metric, float(value), desc))

    try:
        with open("/proc/self/status") as fh:
            st = dict(
                (ln.split(":")[0], ln.split(":", 1)[1].strip())
                for ln in fh
                if ":" in ln
            )
        add("MemoryResident", int(st.get("VmRSS", "0 kB").split()[0]) * 1024,
            "The amount of physical memory used by the server process, in bytes.")
        add("MemoryVirtual", int(st.get("VmSize", "0 kB").split()[0]) * 1024,
            "The amount of virtual address space allocated by the server process, in bytes.")
    except OSError:
        pass
    try:
        la1, la5, la15 = os.getloadavg()
        add("LoadAverage1", la1, "The whole system load averaged over 1 minute.")
        add("LoadAverage5", la5, "The whole system load averaged over 5 minutes.")
        add("LoadAverage15", la15, "The whole system load averaged over 15 minutes.")
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            mem = dict(
                (ln.split(":")[0], int(ln.split(":", 1)[1].strip().split()[0]) * 1024)
                for ln in fh
                if ":" in ln
            )
        add("OSMemoryTotal", mem.get("MemTotal", 0),
            "The total amount of memory on the host system, in bytes.")
        add("OSMemoryAvailable", mem.get("MemAvailable", 0),
            "The amount of memory available to be used by programs, in bytes.")
    except OSError:
        pass
    try:
        with open("/proc/uptime") as fh:
            add("OSUptime", float(fh.read().split()[0]),
                "The uptime of the host server (the machine where ClickHouse is running), in seconds.")
    except OSError:
        pass
    add("Uptime", time.time() - spark.sparkContext.startTime / 1000.0,
        "The server uptime in seconds. It includes the time spent for server initialization before accepting connections.")
    add("NumberOfDatabases", 1.0, "Total number of databases on the server.")
    add("NumberOfTables",
        float(len(spark.catalog.listTables())),
        "Total number of tables summed across the databases on the server, excluding the databases that cannot contain MergeTree tables.")
    add("CPUCount", float(os.cpu_count() or 0),
        "The number of logical CPU cores available to the server.")
    return rows


def _server_settings(spark: SparkSession, data_dir) -> list[tuple]:
    """system.server_settings (StorageSystemServerSettings.cpp): the
    Spark session settings that play the reference's server-config
    role, with `changed` computed against the engine's documented
    defaults."""
    settings = {  # name: (default, description)
        "spark.sql.shuffle.partitions": (
            "32", "Partitions for shuffles (the reference's max_threads analogue)"),
        "spark.sql.session.timeZone": (
            "UTC", "Session time zone (reference: timezone)"),
        "spark.sql.adaptive.enabled": (
            "true", "Runtime re-optimization (AQE)"),
        "spark.sql.files.maxPartitionBytes": (
            "134217728b", "Max bytes per scan partition (reference: max_block_size analogue)"),
        "spark.sql.execution.arrow.pyspark.enabled": (
            "true", "Arrow transfer for Python UDFs"),
        "spark.sql.parquet.compression.codec": (
            "snappy", "Part compression codec (reference: compression method)"),
    }
    conf = spark._jsparkSession.conf()
    rows = []
    for name, (dflt, desc) in settings.items():
        # the value in effect, Spark's own default for an unset key; an
        # Option rather than a raising get, which crosses py4j as an
        # exception
        opt = conf.getOption(name)
        val = opt.get() if opt.isDefined() else dflt
        rows.append((name, str(val), dflt, int(str(val) != dflt), desc,
                     "String", "Yes", 0))
    return rows


def _contributors(spark: SparkSession, data_dir) -> list[tuple]:
    """system.contributors (the reference generates
    StorageSystemContributors.generated.cpp from its git history): this
    engine's authors from its own git log when available, else the
    static project author."""
    names = []
    try:
        import subprocess

        out = subprocess.run(
            ["git", "log", "--format=%an"], capture_output=True,
            text=True, timeout=10,
            cwd=os.path.dirname(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__)))),
        )
        if out.returncode == 0:
            names = sorted(set(out.stdout.split()))
    except Exception:
        pass
    return [(n,) for n in names or ["spark-graft"]]


def _backups(spark: SparkSession, data_dir) -> list[tuple]:
    """system.backups (StorageSystemBackups.cpp reads the BackupsWorker
    registry): one row per BACKUP/RESTORE this process ran — id, name =
    the File(...) spec, status per BackupStatus.h, error, start/end
    time, num_files, total_size."""
    from clickhouse_25_5_3_75_stable_spark.ddl import BACKUP_LOG

    return [(e["id"], e["name"], e["status"], e["error"], e["start_time"],
             e["end_time"], e["num_files"], e["total_size"]) for e in BACKUP_LOG]


def _dictionaries(spark: SparkSession, data_dir) -> list[tuple]:
    """system.dictionaries (StorageSystemDictionaries.cpp): the live
    named dictionary objects — layout, key, attribute names/types, the
    SOURCE of SQL-created ones, and the loaded row count (the count
    reflects the current source, computed on query like the reference's
    loaded state)."""
    from clickhouse_25_5_3_75_stable_spark.dictionary_sql import SQL_DICTIONARIES
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import (
        DICTIONARY_REGISTRY,
    )

    rows = []
    for nm in sorted(DICTIONARY_REGISTRY):
        d = DICTIONARY_REGISTRY[nm]
        fields = d.source.schema.fields
        sd = SQL_DICTIONARIES.get(nm)
        src = "" if sd is None else (f"File: {sd.source_file[0]}" if sd.source_file
                                     else f"ClickHouse: {sd.source_table}")
        rows.append((
            "default", nm, "LOADED", d.layout, d.key,
            next((f.dataType.simpleString() for f in fields if f.name == d.key), ""),
            ",".join(f.name for f in fields if f.name != d.key),
            ",".join(f.dataType.simpleString() for f in fields if f.name != d.key),
            d.source.count(), src,
        ))
    return rows


def _users(spark: SparkSession, data_dir) -> list[tuple]:
    """system.users (StorageSystemUsers.cpp): the live access registry
    (CREATE USER adds rows); the implicit default user matches the
    reference's fresh install."""
    from clickhouse_25_5_3_75_stable_spark.access import REGISTRY

    return [(u.name, u.auth_type, 1 if u.name == "default" else 0)
            for u in (REGISTRY.users[n] for n in sorted(REGISTRY.users))]


def _roles(spark: SparkSession, data_dir) -> list[tuple]:
    """system.roles (StorageSystemRoles.cpp): CREATE ROLE adds rows."""
    from clickhouse_25_5_3_75_stable_spark.access import REGISTRY

    return [(n, n) for n in sorted(REGISTRY.roles)]


def _grants(spark: SparkSession, data_dir) -> list[tuple]:
    """system.grants (StorageSystemGrants.cpp): the live GRANT registry;
    the implicit default user holds ALL on *.* (fresh-install reference
    semantics)."""
    from clickhouse_25_5_3_75_stable_spark.access import REGISTRY

    return sorted([("default", "ALL", "*", "*", 1)] + [
        (g.grantee, g.access_type, g.database, g.table, 1 if g.grant_option else 0)
        for g in REGISTRY.grants
    ])


def _role_grants(spark: SparkSession, data_dir) -> list[tuple]:
    """system.role_grants (StorageSystemRoleGrants.cpp): the live
    GRANT <role> TO <user> registry."""
    from clickhouse_25_5_3_75_stable_spark.access import REGISTRY

    return [(rg.user, None, rg.role, rg.role, True, rg.admin_option)
            for rg in sorted(REGISTRY.role_grants, key=lambda r: (r.user, r.role))]


def _quotas(spark: SparkSession, data_dir) -> list[tuple]:
    """system.quotas (StorageSystemQuotas.cpp): the users.xml `default`
    quota — keyed by user name, one 3600-second interval, applied to the
    default user. The UUID is deterministic (UUID5 over the quota name)
    since this engine has no access-entity store."""
    import uuid

    return [("default", str(uuid.uuid5(uuid.NAMESPACE_OID, "quota:default")),
             "users.xml", ["user_name"], [3600], False, ["default"], [])]


# Quota resource kinds (reference src/Access/Common/QuotaDefs.h:11-26,
# lowercased names per QuotaTypeInfo; execution_time renders as Float64
# seconds — output_denominator 1e9 — the rest as UInt64)
_QUOTA_TYPES = [
    ("queries", False), ("query_selects", False), ("query_inserts", False),
    ("errors", False), ("result_rows", False), ("result_bytes", False),
    ("read_rows", False), ("read_bytes", False), ("execution_time", True),
    ("written_bytes", False), ("failed_sequential_authentications", False),
]


def _quota_ddl(n: str, f: bool) -> str:
    return f"{n} {'double' if f else 'bigint'}"


_QUOTA_USAGE_SCHEMA = (
    "quota_name string, quota_key string, start_time timestamp, "
    "end_time timestamp, duration int, " + ", ".join(
        f"{_quota_ddl(n, f)}, {_quota_ddl('max_' + n, f)}" for n, f in _QUOTA_TYPES))


def _quota_usage(spark: SparkSession, data_dir) -> list[tuple]:
    """system.quota_usage (StorageSystemQuotaUsage.cpp): the session's
    consumption against its quota interval. queries/errors come from the
    live query log; byte/row counters this engine does not meter stay
    NULL (the reference also emits NULL for untracked kinds), and every
    max_<type> is unset on the default quota."""
    import datetime as dt

    now = dt.datetime.now(dt.timezone.utc)
    start = now.replace(minute=0, second=0, microsecond=0)
    used = {
        "queries": len(_QUERY_LOG),
        # log entries are tuples (ts, kind, query, ...); exception kinds
        # follow the reference's type names
        "errors": sum(1 for q in _QUERY_LOG if "Exception" in str(q[1])),
        "failed_sequential_authentications": 0,
    }
    vals = [v for n, _f in _QUOTA_TYPES for v in (used.get(n), None)]
    return [("default", "default", start, start + dt.timedelta(seconds=3600),
             3600, *vals)]


def _settings_profiles(spark: SparkSession, data_dir) -> list[tuple]:
    """system.settings_profiles (StorageSystemSettingsProfiles.cpp): the
    users.xml `default` profile (applied to the default user) and
    `readonly` (one element: readonly=1, applied to nobody), with
    deterministic UUID5 ids as in system.quotas."""
    import uuid

    return [
        ("default", str(uuid.uuid5(uuid.NAMESPACE_OID, "profile:default")),
         "users.xml", 0, False, ["default"], []),
        ("readonly", str(uuid.uuid5(uuid.NAMESPACE_OID, "profile:readonly")),
         "users.xml", 1, False, [], []),
    ]


def _errors(spark: SparkSession, data_dir) -> list[tuple]:
    """system.errors (StorageSystemErrors.cpp): per-error-code counters
    since session start. This engine's failure surface maps onto
    NOT_IMPLEMENTED(48) and SYNTAX_ERROR(62); traces stay empty (no
    physical addresses in a JVM/Python runtime) and remote is always
    false (no distributed exception transport)."""
    return [(name, ent[0], ent[1], ent[2], ent[3], [], False, current_query_id())
            for name, ent in sorted(_ERROR_COUNTERS.items())]


def _view_refreshes(spark: SparkSession, data_dir) -> list[tuple]:
    """system.view_refreshes (StorageSystemViewRefreshes.cpp, states
    from MaterializedView/RefreshTask.h RefreshState): the session's
    LIVE VIEW registry. A dirty view is 'Scheduled' (it refreshes on
    next read), a clean one 'Disabled' (insert-triggered, nothing
    pending)."""
    from clickhouse_25_5_3_75_stable_spark.streaming.liveview import LIVE_VIEWS

    return [("default", lv.name, "", "Scheduled" if lv._dirty else "Disabled",
             int(lv._version), None) for lv in LIVE_VIEWS.values()]


def _query_cache(spark: SparkSession, data_dir) -> list[tuple]:
    """system.query_cache (StorageSystemQueryResultCache.cpp column
    set): live entries of the process-wide result cache
    (operators/result_cache.py) that `SETTINGS use_query_cache=1`
    populates. result_size is the optimizer-estimated plan size (the
    engine keeps plans, not serialized blocks); key_hash is sipHash64 of
    the canonical plan key — the reference's AST-hash keying idea."""
    import datetime
    from decimal import Decimal

    from clickhouse_25_5_3_75_stable_spark.functions.siphash import siphash64_py
    from clickhouse_25_5_3_75_stable_spark.operators.result_cache import (
        default_cache,
    )

    cache = default_cache()
    rows = []
    now = datetime.datetime.now()
    for key, df in cache.entries():
        meta = cache.entry_meta(key)
        est = 0
        try:
            est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            pass
        expires = meta["inserted_at"] + datetime.timedelta(seconds=60)
        rows.append((
            meta.get("query", ""), meta.get("query_id", ""), est, "",
            now > expires, True, False, expires,
            Decimal(siphash64_py(key.encode())),
        ))
    return rows


def _named_collections(spark: SparkSession, data_dir) -> list[tuple]:
    """system.named_collections: the session's named-collection
    registry, values masked like the reference masks sensitive keys
    ([HIDDEN] for password-ish names)."""
    sensitive = ("password", "secret", "key", "token")
    return [
        (name,
         {k: "[HIDDEN]" if any(s in k.lower() for s in sensitive) else v
          for k, v in kv.items()},
         "SQL",
         "CREATE NAMED COLLECTION " + name + " AS " + ", ".join(
             f"{k} = '{v}'" for k, v in sorted(kv.items())))
        for name, kv in sorted(NAMED_COLLECTIONS.items())
    ]


def _asynchronous_inserts(spark: SparkSession, data_dir) -> list[tuple]:
    """system.asynchronous_inserts: pending RAM-buffered inserts. The
    Buffer engine (sources/engines.py BufferTable) is the async-insert
    analogue — each buffer with unflushed rows is one row here."""
    from clickhouse_25_5_3_75_stable_spark.sources.engines import BUFFER_TABLES

    return [
        ("", "default",
         os.path.basename(buf.target.rstrip("/")).removesuffix(".parquet"),
         "Native", buf._first_pending_at or _dt.now(), int(buf._pending_rows))
        for buf in BUFFER_TABLES if buf._pending_rows > 0
    ]


def _user_processes(spark: SparkSession, data_dir) -> list[tuple]:
    """system.user_processes: one row for the library process's user
    with real RSS readings."""
    import getpass
    import resource

    peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        with open("/proc/self/statm") as fh:
            rss = int(fh.read().split()[1]) * resource.getpagesize()
    except OSError:
        rss = peak_kb * 1024
    return [(getpass.getuser(), rss, peak_kb * 1024)]


def _stack_trace(spark: SparkSession, data_dir) -> list[tuple]:
    """system.stack_trace: the driver process's per-thread Python stacks
    (sys._current_frames) laid out as the reference lays out its
    server threads' — thread_name/thread_id/query_id/trace, the trace
    rendered as frame strings."""
    import sys
    import threading

    names = {t.ident: t.name for t in threading.enumerate()}
    rows = []
    for tid, frame in sys._current_frames().items():
        trace = []
        f = frame
        while f is not None and len(trace) < 64:
            trace.append(f"{f.f_code.co_filename}:{f.f_lineno} {f.f_code.co_name}")
            f = f.f_back
        rows.append((names.get(tid, ""), int(tid), "", trace))
    return rows


# The reference's bucket-bound tables for every latency event
# (src/Common/LatencyBuckets.cpp APPLY_FOR_LATENCY_EVENTS): columns
# are LatencyEvent_<name> Array(UInt64), one row of bounds.
_LATENCY_EVENTS = {
    name: bounds
    for name, bounds in (
        [(f"S3FirstByte{rw}Attempt{att}Microseconds",
          [100, 1000, 10000, 100000, 300000, 500000, 1000000, 2000000,
           5000000, 10000000, 15000000, 20000000, 25000000, 30000000,
           35000000])
         for rw in ("Read", "Write") for att in ("1", "2", "N")]
        + [("S3ConnectMicroseconds",
            [100, 1000, 10000, 100000, 200000, 300000, 500000, 1000000,
             1500000])]
        + [(f"DiskS3FirstByte{rw}Attempt{att}Microseconds",
            [100, 1000, 10000, 100000, 300000, 500000, 1000000, 2000000,
             5000000, 10000000, 15000000, 20000000, 25000000, 30000000,
             35000000])
           for rw in ("Read", "Write") for att in ("1", "2", "N")]
        + [("DiskS3ConnectMicroseconds",
            [100, 1000, 10000, 100000, 200000, 300000, 500000, 1000000,
             1500000])]
    )
}

# the reference's tables are UNBOUNDED (StorageSystemNumbers.cpp pulls
# blocks forever; queries pair them with LIMIT). spark.range is LAZY —
# LIMIT n takes n rows without materializing — so a very large bounded
# range gives the same usable contract; the bound exists only because
# Spark ranges need one (2^40 rows ~ 35 years of generation at 1M
# rows/s — beyond any non-LIMITed intent). Spark ranges are already
# parallel, so the *_mt variants (attachSystemTables.cpp:131-133; order
# not guaranteed) are the same plans.
_NUMBERS_BOUND = 1 << 40


def _numbers(spark: SparkSession, data_dir) -> DataFrame:
    return spark.range(_NUMBERS_BOUND).toDF("number")


def _zeros(spark: SparkSession, data_dir) -> DataFrame:
    return spark.range(_NUMBERS_BOUND).selectExpr("CAST(0 AS TINYINT) AS zero")


_T = SystemTable

# One row per system table on the SQL route; the reference's
# StorageSystem<Name>.cpp is named at the rows function. A table with no
# rows function serves the reference column set over zero rows: it is
# empty by construction in a single-process library engine (the comment
# says why). Arrays the reference types as Array travel as CSV strings
# where noted in the DDL.
SYSTEM_TABLES: dict[str, SystemTable] = {
    # StorageSystemOne.cpp: single row, single UInt8 zero — SELECT 1 support
    "one": _T("dummy tinyint not null", lambda spark, d: [(0,)]),
    "numbers": _T("number bigint not null", _numbers),
    "zeros": _T("zero tinyint not null", _zeros),
    "numbers_mt": _T("number bigint not null", _numbers),
    "zeros_mt": _T("zero tinyint not null", _zeros),
    "tables": _T(_TABLES_SCHEMA, _tables, True),
    "columns": _T(
        "table_name string not null, column_name string not null, "
        "pos int not null, data_type string not null", _columns, True),
    "parts": _T(
        "database string, table string, partition string, name string, "
        "part_type string, active boolean, rows bigint, "
        "bytes_on_disk bigint, marks bigint, modification_time string",
        _parts, True),
    "detached_parts": _T(
        "database string, table string, partition_id string, name string, "
        "bytes_on_disk bigint, modification_time timestamp, disk string, "
        "path string, reason string, min_block_number bigint, "
        "max_block_number bigint, level int", _detached_parts, True),
    "parts_columns": _T(
        "database string not null, table string not null, "
        "partition string, file string, "
        "row_group int, column string, min_value string, "
        "max_value string, null_count long", _parts_columns, True),
    "projection_parts": _T(
        "name string, parent_name string, database string, table string, "
        "partition string, active boolean, rows bigint, "
        "bytes_on_disk bigint, modification_time timestamp",
        _projection_parts, True),
    "projection_parts_columns": _T(
        "database string not null, table string not null, "
        "name string not null, column string, "
        "min_value string, max_value string, null_count long",
        _projection_parts_columns, True),
    "projections": _T(
        "database string, table string, name string, type string, "
        "sorting_key string, sum_columns string, minmax_columns string",
        _projections, True),
    "mutations": _T(
        "database string, table string, mutation_id string, "
        "command string, create_time string, is_done int", _mutations, True),
    "detached_tables": _T(
        "database string, table string, metadata_path string, "
        "is_permanently bigint", _detached_tables, True),
    "dropped_tables": _T(
        "index bigint, database string, table string, uuid string, "
        "engine string, metadata_dropped_path string, "
        "table_dropped_time timestamp", _dropped_tables, True),
    "dropped_tables_parts": _T(
        "database string, table string, partition string, name string, "
        "part_type string, active boolean, rows bigint, "
        "bytes_on_disk bigint, marks int, modification_time string",
        _dropped_tables_parts, True),
    "data_skipping_indices": _T(
        "database string, table string, name string, type string, "
        "type_full string, expr string, granularity bigint, "
        "data_compressed_bytes bigint, data_uncompressed_bytes bigint, "
        "marks_bytes bigint", _data_skipping_indices, True),
    "iceberg_history": _T(
        "database string, table string, made_current_at timestamp, "
        "snapshot_id long, parent_id long, is_current_ancestor boolean",
        _iceberg_history, True),
    # StorageSystemDatabases.cpp: the Spark catalog's database list
    "databases": _T("name string, data_path string", lambda spark, d: [
        (db.name, db.locationUri or "") for db in spark.catalog.listDatabases()]),
    "functions": _T("name string, origin string, exclusion_reason string",
                    _functions),
    "formats": _T(
        "name string, is_input int, is_output int, exclusion_reason string",
        _formats),
    # the live Spark conf: the engine's runtime settings surface
    "settings": _T("name string, value string", lambda spark, d: [
        tuple(kv) for kv in spark.sparkContext.getConf().getAll()]),
    "data_type_families": _T(
        "name string, case_sensitive int, spark_type string",
        _data_type_families),
    "table_functions": _T("name string", _table_functions),
    # StorageSystemAggregateFunctionCombinators.cpp: the combinator
    # suffixes the engine's aggregate layer supports
    "aggregate_function_combinators": _T(
        "name string, is_internal int", lambda spark, d: [
            ("-If", 0), ("-Array", 0), ("-Map", 0), ("-ForEach", 0),
            ("-Resample", 0), ("-State", 0), ("-Merge", 0), ("-Distinct", 0),
            ("-OrNull", 0), ("-SimpleState", 1), ("-MergeState", 1)]),
    "collations": _T("name string, resolves_to string", _collations),
    "backups": _T(
        "id string, name string, status string, error string, "
        "start_time timestamp, end_time timestamp, num_files bigint, "
        "total_size bigint", _backups),
    "time_zones": _T("time_zone string", _time_zones),
    "disks": _T(
        "name string, path string, free_space long, total_space long", _disks),
    "clusters": _T(
        "cluster string, shard_num int, host_name string, running_tasks int",
        _clusters),
    "build_options": _T("name string, value string", _build_options),
    "processes": _T("job_id int, status string, n_stages int", _processes),
    # StorageSystemKeywords.cpp: the keywords the chsql transpiler knows
    "keywords": _T("keyword string", lambda spark, d: [(k,) for k in _KEYWORDS]),
    "table_engines": _T(
        "name string, supports_ttl int, supports_sort_order int, "
        "supports_skipping_indices int, supports_deduplication int",
        lambda spark, d: _TABLE_ENGINES),
    "database_engines": _T("name string", lambda spark, d: [
        ("Atomic",), ("Memory",)]),
    "merge_tree_settings": _T(
        "name string, value string, description string",
        lambda spark, d: _MERGE_TREE_SETTINGS),
    "storage_policies": _T(
        "policy_name string, volume_name string, volume_priority int",
        lambda spark, d: [("default", "default", 0)]),
    "users": _T("name string, auth_type string, is_default int", _users),
    "roles": _T("name string, id string", _roles),
    "grants": _T(
        "user_name string, access_type string, database string, "
        "table string, grant_option int", _grants),
    # StorageSystemPrivileges.cpp: the access types the reference
    # models; none is enforced here (catalog-delegated)
    "privileges": _T("privilege string, enforced int", lambda spark, d: [
        (k, 0) for k in ("SELECT", "INSERT", "ALTER", "CREATE", "DROP",
                         "TRUNCATE", "OPTIMIZE", "SHOW", "KILL QUERY",
                         "ACCESS MANAGEMENT")]),
    "warnings": _T("message string", _warnings),
    "licenses": _T("library_name string, license_type string",
                   lambda spark, d: _LICENSES),
    # the session-local ring buffer of chsql/profiler activity (the
    # reference persists per-query rows via its log queue — here the
    # session IS the scope)
    "query_log": _T(
        "event_time string, type string, query string, "
        "normalized_query string, query_duration_ms double, "
        "result_rows bigint, query_id string",
        lambda spark, d: list(_QUERY_LOG)),
    # StorageSystemEvents.cpp: cumulative counters fed by record_query
    "events": _T("event string, value bigint",
                 lambda spark, d: sorted(_EVENT_COUNTERS.items())),
    "metrics": _T("metric string, value bigint", _metrics),
    "macros": _T("macro string, substitution string",
                 lambda spark, d: sorted(MACROS.items())),
    "dictionaries": _T(
        "database string, name string, status string, type string, "
        "key string, key_type string, attribute_names string, "
        "attribute_types string, element_count bigint, source string",
        _dictionaries),
    "asynchronous_metrics": _T(
        "metric string, value double, description string",
        _asynchronous_metrics),
    "settings_changes": _T(
        "type string, version string, changes array<struct<name:string,"
        "previous_value:string,new_value:string,reason:string>>",
        _settings_changes),
    "quotas": _T(
        "name string, id string, storage string, keys array<string>, "
        "durations array<int>, apply_to_all boolean, "
        "apply_to_list array<string>, apply_to_except array<string>", _quotas),
    # StorageSystemQuotaLimits.cpp: the default quota's one
    # non-randomized 3600 s interval with every limit unset
    "quota_limits": _T(
        "quota_name string, duration int, is_randomized_interval boolean, "
        + ", ".join(_quota_ddl("max_" + n, f) for n, f in _QUOTA_TYPES),
        lambda spark, d: [("default", 3600, False) + (None,) * len(_QUOTA_TYPES)]),
    "quota_usage": _T(_QUOTA_USAGE_SCHEMA, _quota_usage),
    # StorageSystemQuotasUsage.cpp: quota_usage per user, plus is_current
    "quotas_usage": _T(
        _QUOTA_USAGE_SCHEMA + ", is_current boolean not null",
        lambda spark, d: [r + (True,) for r in _quota_usage(spark, d)]),
    "settings_profiles": _T(
        "name string, id string, storage string, num_elements bigint, "
        "apply_to_all boolean, apply_to_list array<string>, "
        "apply_to_except array<string>", _settings_profiles),
    # the readonly profile's single readonly=1 element, writability
    # CONST (the reference's enum for unchangeable)
    "settings_profile_elements": _T(
        "profile_name string, user_name string, role_name string, "
        "index bigint, setting_name string, value string, min string, "
        "max string, writability string, inherit_profile string",
        lambda spark, d: [("readonly", None, None, 0, "readonly", "1", None,
                           None, "CONST", None)]),
    # no row policies on a default server
    "row_policies": _T(
        "name string, short_name string, database string, table string, "
        "id string, storage string, select_filter string, "
        "is_restrictive boolean, apply_to_all boolean, "
        "apply_to_list array<string>, apply_to_except array<string>"),
    "errors": _T(
        "name string, code int, value bigint, last_error_time string, "
        "last_error_message string, last_error_trace array<bigint>, "
        "remote boolean, query_id string", _errors),
    # OPTIMIZE rewrites run synchronously inside the statement
    "merges": _T(
        "database string, table string, elapsed double, progress double, "
        "num_parts bigint, result_part_name string, is_mutation boolean, "
        "total_size_bytes_compressed bigint, rows_read bigint, "
        "rows_written bigint"),
    "server_settings": _T(
        "name string, value string, default string, changed int, "
        "description string, type string, "
        "changeable_without_restart string, is_obsolete int", _server_settings),
    # the single implicit users.xml-equivalent directory
    "user_directories": _T(
        "name string, type string, params string, precedence bigint",
        lambda spark, d: [("users_xml", "users_xml", "{}", 0)]),
    "contributors": _T("name string", _contributors),
    # the implicit default user holds direct grants, no roles
    "current_roles": _T(
        "role_name string, with_admin_option boolean, is_default boolean"),
    "enabled_roles": _T(
        "role_name string, with_admin_option boolean, "
        "is_current boolean, is_default boolean"),
    "role_grants": _T(
        "user_name string, role_name string, granted_role_name string, "
        "granted_role_id string, granted_role_is_default boolean, "
        "with_admin_option boolean", _role_grants),
    # MOVE PARTITION is a synchronous O(1) directory move
    "moves": _T(
        "database string, table string, elapsed double, "
        "target_disk_name string, target_disk_path string, "
        "part_name string, part_size bigint, thread_id bigint"),
    "view_refreshes": _T(
        "database string, view string, uuid string, status string, "
        "refresh_count bigint, exception string", _view_refreshes),
    "query_cache": _T(
        "query string, query_id string, result_size bigint, tag string, "
        "stale boolean, shared boolean, compressed boolean, "
        "expires_at timestamp, key_hash decimal(20,0)", _query_cache),
    "named_collections": _T(
        "name string, collection map<string,string>, source string, "
        "create_query string", _named_collections),
    "asynchronous_inserts": _T(
        "query string, database string, table string, format string, "
        "first_update timestamp, total_bytes bigint", _asynchronous_inserts),
    "user_processes": _T(
        "user string, memory_usage bigint, peak_memory_usage bigint",
        _user_processes),
    "dashboards": _T("dashboard string, title string, query string",
                     lambda spark, d: _DASHBOARDS),
    "stack_trace": _T(
        "thread_name string, thread_id bigint, query_id string, "
        "trace array<string>", _stack_trace),
    # StorageSystemLatencyBuckets.cpp: one row of configured bounds
    "latency_buckets": _T(
        ", ".join(f"LatencyEvent_{n} array<bigint> not null"
                  for n in _LATENCY_EVENTS),
        lambda spark, d: [tuple(_LATENCY_EVENTS.values())]),
    # the library resolves via the OS, keeping no DNS cache
    "dns_cache": _T("hostname string, ip_address string, cached_at timestamp"),
    # no experimental transactions in library mode
    "transactions": _T(
        "tid string, tid_hash decimal(20,0), elapsed double, "
        "is_readonly boolean, state string"),
    # no Replicated* tables (StorageSystemReplicas.cpp column core)
    "replicas": _T(
        "database string, table string, engine string, is_leader boolean, "
        "can_become_leader boolean, is_readonly boolean, "
        "is_session_expired boolean, future_parts int, parts_to_check int, "
        "zookeeper_name string, zookeeper_path string, replica_name string, "
        "replica_path string, columns_version int, queue_size int, "
        "inserts_in_queue int, merges_in_queue int, "
        "part_mutations_in_queue int, queue_oldest_time timestamp, "
        "inserts_oldest_time timestamp, merges_oldest_time timestamp, "
        "part_mutations_oldest_time timestamp, oldest_part_to_get string, "
        "total_replicas int, active_replicas int"),
    # no replicas, so no replication queue
    "replication_queue": _T(
        "database string, table string, replica_name string, position int, "
        "node_name string, type string, create_time timestamp, "
        "required_quorum int, source_replica string, new_part_name string, "
        "parts_to_merge array<string>, is_detach boolean, "
        "is_currently_executing boolean, num_tries int, "
        "last_exception string, last_exception_time timestamp, "
        "last_attempt_time timestamp, num_postponed int, "
        "postpone_reason string, last_postpone_time timestamp, "
        "merge_type string"),
    # no interserver part fetches
    "replicated_fetches": _T(
        "database string, table string, elapsed double, progress double, "
        "result_part_name string, result_part_path string, "
        "partition_id string, total_size_bytes_compressed bigint, "
        "bytes_read_compressed bigint, source_replica_path string, "
        "source_replica_hostname string, source_replica_port int, "
        "interserver_scheme string, to_detached boolean, thread_id bigint"),
    # no Distributed tables, so no async send queue
    "distribution_queue": _T(
        "database string, table string, data_path string, "
        "is_blocked boolean, error_count bigint, data_files bigint, "
        "data_compressed_bytes bigint, broken_data_files bigint, "
        "broken_data_compressed_bytes bigint, last_exception string, "
        "last_exception_time timestamp"),
    # no shards
    "part_moves_between_shards": _T(
        "database string, table string, task_name string, task_uuid string, "
        "create_time timestamp, part_name string, part_uuid string, "
        "to_shard string, dst_part_name string, update_time timestamp, "
        "state string, rollback boolean, num_tries int, "
        "last_exception string"),
    # no [Zoo]Keeper
    "zookeeper_connection": _T(
        "name string, host string, port int, index int, "
        "connected_time timestamp, session_uptime_elapsed_seconds bigint, "
        "is_expired boolean, keeper_api_version int, client_id bigint, "
        "xid bigint, enabled_feature_flags array<string>, "
        "availability_zone string"),
    # no Kafka consumers outside the jar-gated Kafka shim
    "kafka_consumers": _T(
        "database string, table string, consumer_id string, "
        "assignments_topic array<string>, assignments_partition_id array<int>, "
        "assignments_current_offset array<bigint>, "
        "last_poll_time timestamp, num_messages_read bigint, "
        "last_commit_time timestamp, num_commits bigint, "
        "last_rebalance_time timestamp, num_rebalance_revocations bigint, "
        "num_rebalance_assignments bigint, is_currently_used boolean, "
        "last_used timestamp, rdkafka_stat string"),
    # no filesystem cache configured
    "filesystem_cache": _T(
        "cache_name string, cache_base_path string, cache_path string, "
        "key string, file_segment_range_begin bigint, "
        "file_segment_range_end bigint, size bigint, state string, "
        "cache_hits bigint, references bigint, downloaded_size bigint, "
        "kind string, unbound boolean, user_id string, file_size bigint"),
    # no TLS server, so no certificates
    "certificates": _T(
        "version int, serial_number string, signature_algo string, "
        "issuer string, not_before string, not_after string, "
        "subject string, pkey_algo string, path string, default boolean"),
    # no CatBoost models loaded
    "models": _T(
        "model_path string, type string, loading_start_time timestamp, "
        "loading_duration float"),
    # no remote (object-storage) disks
    "remote_data_paths": _T(
        "disk_name string, path string, cache_base_path string, "
        "local_path string, remote_path string, size bigint, "
        "common_prefix_for_blobs string, cache_paths array<string>"),
    # Spark's scan keeps no query condition cache
    "query_condition_cache": _T(
        "table_uuid string, part_name string, condition string, "
        "condition_hash decimal(20,0), entry_size bigint, "
        "matching_marks string"),
    # schemas come from parquet footers per read, never cached
    "schema_inference_cache": _T(
        "storage string, source string, format string, "
        "additional_format_info string, registration_time timestamp, "
        "schema string, number_of_rows bigint, "
        "schema_inference_mode string"),
    # tables load eagerly in library mode: no async loader jobs
    # (StorageSystemAsyncLoader.cpp; arrays as CSV)
    "asynchronous_loader": _T(
        "job string, job_id decimal(20,0), dependencies string, "
        "dependencies_left decimal(20,0), status string, "
        "is_executing boolean, is_blocked boolean, is_ready boolean, "
        "elapsed double, pool_id decimal(20,0), pool string, "
        "priority bigint, execution_pool_id decimal(20,0), "
        "execution_pool string, execution_priority bigint, "
        "ready_seqno decimal(20,0), waiters decimal(20,0), "
        "exception string, schedule_time timestamp, "
        "enqueue_time timestamp, start_time timestamp, "
        "finish_time timestamp"),
    # no ON CLUSTER coordination (StorageSystemDDLWorkerQueue.cpp)
    "distributed_ddl_queue": _T(
        "entry string, entry_version tinyint, initiator_host string, "
        "initiator_port int, cluster string, query string, "
        "settings map<string,string>, query_create_time timestamp, "
        "host string, port int, status string, exception_code int, "
        "exception_text string, query_finish_time timestamp, "
        "query_duration_ms decimal(20,0)"),
    # no filesystem cache configured (StorageSystemFilesystemCacheSettings
    # .cpp: cache_name + every FileCacheSettings field + size gauges)
    "filesystem_cache_settings": _T(
        "cache_name string, path string, max_size decimal(20,0), "
        "max_elements decimal(20,0), max_file_segment_size decimal(20,0), "
        "boundary_alignment decimal(20,0), "
        "cache_on_write_operations boolean, cache_policy string, "
        "slru_size_ratio double, background_download_threads decimal(20,0), "
        "background_download_queue_size_limit decimal(20,0), "
        "background_download_max_file_segment_size decimal(20,0), "
        "load_metadata_threads decimal(20,0), "
        "load_metadata_asynchronously boolean, "
        "keep_free_space_size_ratio double, "
        "keep_free_space_elements_ratio double, "
        "keep_free_space_remove_batch decimal(20,0), "
        "enable_filesystem_query_cache_limit boolean, "
        "cache_hits_threshold decimal(20,0), "
        "enable_bypass_cache_with_threshold boolean, "
        "bypass_cache_threshold decimal(20,0), "
        "write_cache_per_user_id_directory boolean, "
        "allow_dynamic_cache_resize boolean, "
        "max_size_ratio_to_total_space double, is_initialized boolean, "
        "current_size decimal(20,0), current_elements_num decimal(20,0)"),
    # no graphite_rollup config (StorageSystemGraphite.cpp; Tables.*
    # arrays as CSV)
    "graphite_retentions": _T(
        "config_name string, rule_type string, regexp string, "
        "function string, age decimal(20,0), precision decimal(20,0), "
        "priority int, is_default boolean, tables_database string, "
        "tables_table string"),
    # no keeper, so no histogram metrics are exported
    "histogram_metrics": _T(
        "metric string, value bigint, description string, "
        "labels map<string,string>"),
    # CPython/JVM allocators, not jemalloc
    "jemalloc_bins": _T(
        "index int, large boolean, size decimal(20,0), "
        "allocations bigint, deallocations bigint"),
    # no CREATE RESOURCE objects (disk arrays as CSV)
    "resources": _T(
        "name string, read_disks string, write_disks string, "
        "unit string, create_query string"),
    # no CREATE WORKLOAD objects
    "workloads": _T("name string, parent string, create_query string"),
    # Spark's own scheduler replaces the IO scheduling hierarchy; no
    # nodes without resources/workloads
    "scheduler": _T(
        "resource string, path string, type string, weight double, "
        "priority bigint, is_active boolean, "
        "active_children decimal(20,0), dequeued_requests decimal(20,0), "
        "canceled_requests decimal(20,0), dequeued_cost bigint, "
        "throughput double, canceled_cost bigint, "
        "busy_periods decimal(20,0), vruntime double, "
        "system_vruntime double, queue_length decimal(20,0), "
        "queue_cost bigint, budget bigint, is_satisfied boolean, "
        "inflight_requests bigint, inflight_cost bigint, "
        "max_requests bigint, max_cost bigint, max_speed double, "
        "max_burst double, throttling_us bigint, tokens double"),
    # no EmbeddedRocksDB tables
    "rocksdb": _T(
        "database string, table string, name string, value decimal(20,0)"),
    # a Python/JVM engine has no native symbol table to walk (the
    # reference reads the ELF of the running binary)
    "symbols": _T(
        "symbol string, address_begin decimal(20,0), "
        "address_end decimal(20,0)"),
    # no [Zoo]Keeper: every path (the reference requires a WHERE
    # path = ... filter) resolves to zero rows
    "zookeeper": _T(
        "name string, value string, czxid bigint, mzxid bigint, "
        "ctime timestamp, mtime timestamp, version int, cversion int, "
        "aversion int, ephemeralOwner bigint, dataLength int, "
        "numChildren int, pzxid bigint, path string"),
}


def system_table(spark: SparkSession, name: str, data_dir: str | None = None) -> DataFrame:
    """system.<name> as a DataFrame: its rows as a local relation (a
    generator's lazy range as it is)."""
    table = SYSTEM_TABLES[name]
    if table.needs_dir and data_dir is None:
        from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

        raise ChSqlError(f"system.{name} needs a data directory — call "
                         "ch_sql(spark, sql, sf_dir)")
    rows = table.rows(spark, data_dir) if table.rows else []
    if isinstance(rows, DataFrame):
        return rows
    return catalog.local_rows(spark, rows, table.schema)


def rewrite_system_refs(sql: str):
    """Rewrite `system.<name>` table references to `__system_<name>`
    (outside string literals), returning (sql, referenced names)."""
    import re as _re

    names: set[str] = set()

    def sub(m):
        name = m.group(1).lower()
        if name in SYSTEM_TABLES:
            names.add(name)
            return f"__system_{name}"
        return m.group(0)  # unknown system table: leave for a clear error

    parts = _re.split(r"('(?:[^']|'')*')", sql)  # keep literals intact
    for i in range(0, len(parts), 2):
        parts[i] = _re.sub(
            r"\bsystem\.([A-Za-z_]\w*)", sub, parts[i], flags=_re.IGNORECASE
        )
    return "".join(parts), names


def materialize_system_views(spark: SparkSession, names, sf_dir=None) -> None:
    for name in names:
        system_table(spark, name, sf_dir).createOrReplaceTempView(f"__system_{name}")
