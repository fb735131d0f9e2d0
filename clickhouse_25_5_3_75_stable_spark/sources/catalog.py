"""The catalog of a data dir: which tables it holds and what each one
reads as. It is the one table reader: every front door (CLI, HTTP,
``ch_sql(..., sf_dir)``), every registry builder (``queries.t``) and
every write reaches a data-dir table through ``table`` or ``register``.

The reference's table abstraction is IStorage + StorageMergeTree
(/root/reference/src/Storages/IStorage.h,
src/Storages/StorageMergeTree.h:27): immutable sorted parts, partition
pruning, PK-range scans. Spark equivalent: parquet (or Delta/Iceberg)
tables — min/max row-group stats + partition dirs give the same
pruning; `spark.read.parquet` is the ReadFromMergeTree analogue
(src/Processors/QueryPlan/ReadFromMergeTree.h:62).

A table's relation (``table``) is a DataFrame that holds the files'
schema (inferred from their footers by a Spark job) and their listing,
no data. Like the reference's DatabaseCatalog keeps each IStorage, it
is remembered per SparkSession under a fingerprint of the files and
read again only when a write changes them, so a warm build or statement
runs no read job; the relation pins its listing, so the fingerprint
(not a plain cache) is what keeps readers fresh. ``register`` installs
it as the session's temp view, replaced only when the relation changed
or the session lost the view installed here (dropped, or shadowed by
another view of that name): replacing costs a CreateViewCommand, about
10 ms a table, where checking costs well under 1 ms.

At 100 TB the layout contract is: partition by a coarse time/tenant
key, sort-within-files by the query's PK analogue so min/max pruning
fires, and size files ~128-512 MB. Locally we read the driver's single
parquet files as-is.

Tables the driver builds itself (statement results, system tables, LIVE
VIEW rows) become DataFrames through one builder, ``local_rows``.
"""

from __future__ import annotations

import datetime
import functools
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the registry's star schema (every sf<N> test dir holds these)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# SparkSession -> {(data_dir, name): [fingerprint, DataFrame, JVM view or None]}
_TABLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read the flat table ``<sf_dir>/<name>.parquet``."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects (PARQUET_TYPE_ILLEGAL). Read it as raw nanos and
        # truncate to µs — the same floor-truncation DuckDB applies when
        # casting TIMESTAMP_NS → TIMESTAMP, so oracles line up. Runtime
        # conf: works under any caller's session (the driver builds its
        # own), and is a no-op for non-NANOS columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        # Normalize ts to TIMESTAMP (with-tz) whichever way the reader
        # surfaced it: LongType nanos when the legacy conf took effect,
        # TIMESTAMP_NTZ otherwise. Under the engine's UTC session tz the
        # NTZ->TZ cast is wall-clock-identity, and event-time operators
        # (withWatermark, session_window) require the TZ type.
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def list_tables(data_dir: str) -> list[str]:
    """Table names in a data dir, sorted: ``<name>.parquet`` files, and
    dirs that hold parquet parts, ``_ddl.json`` or ``col=value``
    partition dirs (a partitioned table has no root-level parquet once
    CREATE's zero-row markers are gone). Names starting with ``_`` or
    ``.`` are parking areas (_dropped, _detached_tables, _shadow)."""
    names = []
    for f in sorted(os.listdir(data_dir)):
        if f.startswith(("_", ".")):
            continue
        path = os.path.join(data_dir, f)
        if f.endswith(".parquet"):
            if os.path.isfile(path):
                names.append(f[: -len(".parquet")])
        elif os.path.isdir(path) and any(
            p.endswith(".parquet") or p == "_ddl.json"
            or ("=" in p and os.path.isdir(os.path.join(path, p)))
            for p in os.listdir(path)
        ):
            names.append(f)
    return names


def table_path(data_dir: str, name: str) -> str:
    """A table's directory if it has one, else its flat parquet file."""
    path = os.path.join(data_dir, name)
    return path if os.path.isdir(path) else path + ".parquet"


def _fingerprint(path: str) -> tuple:
    """Sorted (relative path, size, mtime_ns) of every file under the
    table path, ``_ddl.json`` included."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((".", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def table(spark: SparkSession, data_dir: str, name: str) -> DataFrame:
    """One table's relation: the remembered DataFrame while the table's
    files are unchanged, else a fresh read — ``load_table`` for a flat
    file, ``ddl.register_table_view`` (declared columns, cast-on-read,
    rename coalescing) for a dir."""
    from clickhouse_25_5_3_75_stable_spark import ddl

    path = table_path(data_dir, name)
    # taken before the read: a write racing the read leaves a stale
    # fingerprint (a re-read next time), never a stale relation
    fp = _fingerprint(path)
    tables = _TABLES.setdefault(spark, {})
    key = (os.path.abspath(data_dir), name)
    hit = tables.get(key)
    if hit is None or hit[0] != fp:
        is_dir = os.path.isdir(os.path.join(data_dir, name))
        read = ddl.register_table_view if is_dir else load_table
        hit = tables[key] = [fp, read(spark, data_dir, name), None]
    return hit[1]


def register(spark: SparkSession, data_dir: str, name: str) -> DataFrame:
    """``table`` installed as the session's temp view, replaced only when
    the relation changed or the session lost the view installed here."""
    df = table(spark, data_dir, name)
    hit = _TABLES[spark][(os.path.abspath(data_dir), name)]
    temp_views = spark._jsparkSession.sessionState().catalog()
    # cheap: the case class's equals starts with an identity check
    if hit[2] is None or not temp_views.getRawTempView(name).contains(hit[2]):
        df.createOrReplaceTempView(name)
        hit[2] = temp_views.getRawTempView(name).get()
    return df


def forget(spark: SparkSession, data_dir: str, name: str) -> None:
    """Drop a table's view and its remembered DataFrame."""
    _TABLES.get(spark, {}).pop((os.path.abspath(data_dir), name), None)
    spark.catalog.dropTempView(name)


def sync(spark: SparkSession, data_dir: str) -> list[str]:
    """Register every table of a data dir; returns the registered names
    (every listed table, whether or not its view had to be replaced).
    An unreadable (corrupted) table is skipped: it must not take the
    whole session down, and CHECK TABLE needs to run to diagnose it."""
    names = []
    for name in list_tables(data_dir):
        try:
            register(spark, data_dir, name)
        except Exception:
            continue
        names.append(name)
    return names


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so SQL-path queries run."""
    sync(spark, sf_dir)


# --- driver-built tables ----------------------------------------------------


@functools.lru_cache(maxsize=None)
def _struct(ddl: str) -> T.StructType:
    return T._parse_datatype_string(ddl)


def _local_time(dtype: T.DataType):
    """A converter taking every datetime under `dtype` to UTC, a naive one
    read as process-local time (the instant createDataFrame of a Python
    list reads it as), or None when `dtype` holds no TIMESTAMP: Arrow
    keeps a datetime's wall clock and drops its zone."""
    if isinstance(dtype, T.TimestampType):
        return lambda v: v if v is None else v.astimezone(datetime.timezone.utc)
    if isinstance(dtype, T.ArrayType):
        el = _local_time(dtype.elementType)
        return el and (lambda v: v if v is None else [el(x) for x in v])
    if isinstance(dtype, T.MapType):
        val = _local_time(dtype.valueType)
        return val and (lambda v: v if v is None else {
            k: val(x) for k, x in dict(v).items()})
    if isinstance(dtype, T.StructType):  # a struct value is a tuple (a Row)
        fs = [_local_time(f.dataType) for f in dtype.fields]
        return any(fs) and (lambda v: v if v is None else tuple(
            f(x) if f else x for f, x in zip(fs, v)))
    return None


def local_rows(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """Driver-built rows (a statement's status, a system table, a LIVE
    VIEW's cached result) as a DataFrame. The rows reach the JVM as one
    Arrow table, which Spark keeps as a LocalRelation below
    spark.sql.execution.arrow.localRelationThreshold, so reading it runs
    no Spark job; a Python list would be parallelized over every core
    and read by a job (0.4-0.6 s at local[4], against 40-50 ms here).
    `schema` is a StructType or Spark DDL; the Arrow types come from it,
    not from the values, so an all-NULL column keeps its type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else _struct(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    arrays = []
    for f, col, typ in zip(struct.fields, cols, arrow.types):
        conv = _local_time(f.dataType)
        arrays.append(pa.array([conv(v) for v in col] if conv else col, type=typ))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


def read_text(spark: SparkSession, reader, fmt: str, text: str) -> DataFrame:
    """Inline rows (INSERT ... FORMAT <fmt>, the format() table function)
    read by `reader` — its schema and options set — as `fmt` ('json' or
    'csv'), one record per non-blank line. The lines reach the JVM as a
    Dataset[String] over a local relation, so parsing and schema
    inference run there; a parallelized Python list would start a Python
    worker on every core (100 rows parsed and collected at local[4]:
    about 950 ms that way, about 220 ms here)."""
    lines = [(ln,) for ln in text.splitlines() if ln.strip()]
    strings = spark._jvm.org.apache.spark.sql.Encoders.STRING()
    ds = getattr(local_rows(spark, lines, "value STRING")._jdf, "as")(strings)
    return DataFrame(getattr(reader._jreader, fmt)(ds), spark)
