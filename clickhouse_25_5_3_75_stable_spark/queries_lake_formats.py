"""Driver-gated oracle queries for the lake replay readers and the
pure-Python format codecs.

Each query hand-builds a tiny fixture table (from the 25-row `nation`
parquet at sf_dir) under a fresh temp dir, runs the reader end-to-end
through Spark, and returns a DataFrame that the ANSI oracle reproduces
straight from the `nation` view — so the driver's gate covers the
replay/decode logic itself, not just pytest.

Fixture building is deliberately driver-side (25 rows); the readers
under test scan through executors (parquet groups for the lakes,
binaryFile+mapInPandas for the codecs).

Reference parity targets:
- Delta log replay:   src/Storages/ObjectStorage/DataLakes (Delta)
- Iceberg metadata:   src/Storages/ObjectStorage/DataLakes (Iceberg)
- Hudi COW timeline:  src/Storages/ObjectStorage/DataLakes (Hudi)
- Avro container:     src/Processors/Formats/Impl/AvroRowInputFormat.cpp
- BSONEachRow:        src/Processors/Formats/Impl/BSONEachRowRowInputFormat.cpp
- MsgPack:            src/Processors/Formats/Impl/MsgPackRowInputFormat.cpp
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark.queries import register, t

_NATION_ORACLE = (
    "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, "
    "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation"
)


def _nation_pydict(sf_dir: str) -> list[dict]:
    """nation rows as python dicts with widened (BIGINT) key columns."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "nation.parquet"),
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    rows = tbl.to_pylist()
    for r in rows:
        r["n_nationkey"] = int(r["n_nationkey"])
        r["n_regionkey"] = int(r["n_regionkey"])
    return rows


def _write_rows_parquet(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("n_nationkey", pa.int64()), ("n_name", pa.string()), ("n_regionkey", pa.int64())]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _nation_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
            F.col("n_name"),
            F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
        )
    )


_DELTA_SCHEMA_STRING = json.dumps({
    "type": "struct",
    "fields": [
        {"name": "n_nationkey", "type": "long", "nullable": True, "metadata": {}},
        {"name": "n_name", "type": "string", "nullable": True, "metadata": {}},
        {"name": "n_regionkey", "type": "long", "nullable": True, "metadata": {}},
    ],
})


@register(
    "lake_delta_log_replay",
    oracle=(
        _NATION_ORACLE + " WHERE n_regionkey <= 2"
    ),
    bucket="light",
    tags=("datalake", "delta"),
)
def lake_delta_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta transaction-log replay, end-to-end: the fixture's commit 2
    is an OPTIMIZE rewrite (two files replaced by one, dataChange=false)
    and commit 3 deletes a file outright — a raw-parquet directory scan
    would double-count regions 0-1 and resurrect regions 3-4; only
    correct add/remove replay reproduces `nation WHERE n_regionkey<=2`."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_delta

    root = _delta_fixture_root(sf_dir)
    return read_delta(spark, root).select("n_nationkey", "n_name", "n_regionkey")


def _delta_fixture_root(sf_dir: str) -> str:
    """Build the replay-exercising Delta fixture (OPTIMIZE rewrite +
    file delete); its final state is `nation WHERE n_regionkey <= 2`."""
    rows = _nation_pydict(sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="chspark_delta_"), "t")
    os.makedirs(os.path.join(root, "_delta_log"))

    f0 = [r for r in rows if r["n_regionkey"] <= 1]
    f1 = [r for r in rows if r["n_regionkey"] == 2]
    f2 = [r for r in rows if r["n_regionkey"] >= 3]
    for rel, part in (("f0.parquet", f0), ("f1.parquet", f1),
                      ("f2.parquet", f2), ("f3.parquet", f0 + f1)):
        _write_rows_parquet(part, os.path.join(root, rel))

    def commit(v: int, actions: list[dict]) -> None:
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions))

    def add(rel: str, change: bool = True) -> dict:
        return {"add": {"path": rel, "partitionValues": {}, "size": 1,
                        "modificationTime": 1, "dataChange": change}}

    commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "nation-fixture", "format": {"provider": "parquet"},
                      "schemaString": _DELTA_SCHEMA_STRING,
                      "partitionColumns": [], "configuration": {}}},
        add("f0.parquet"), add("f1.parquet"),
    ])
    commit(1, [add("f2.parquet")])
    commit(2, [  # OPTIMIZE: f0+f1 compacted into f3
        add("f3.parquet", change=False),
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 3, "dataChange": False}},
        {"remove": {"path": "f1.parquet", "deletionTimestamp": 3, "dataChange": False}},
    ])
    commit(3, [  # DELETE of regions 3-4
        {"remove": {"path": "f2.parquet", "deletionTimestamp": 4, "dataChange": True}},
    ])
    return root


@register(
    "lake_iceberg_snapshot_read",
    oracle=(
        _NATION_ORACLE + " WHERE n_regionkey >= 1"
    ),
    bucket="light",
    tags=("datalake", "iceberg"),
)
def lake_iceberg_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg metadata replay, end-to-end: metadata JSON → manifest
    list (Avro, via the repo's own codec) → manifest → live files. The
    current snapshot carries a DELETED (status=2) entry for the region-0
    file, so only status-aware replay reproduces `n_regionkey >= 1`."""
    from clickhouse_25_5_3_75_stable_spark.sources.avro_fmt import _encode_container
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_iceberg

    rows = _nation_pydict(sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="chspark_ice_"), "t")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))

    f0 = [r for r in rows if r["n_regionkey"] == 0]
    f1 = [r for r in rows if r["n_regionkey"] >= 1]
    _write_rows_parquet(f0, os.path.join(root, "data", "f0.parquet"))
    _write_rows_parquet(f1, os.path.join(root, "data", "f1.parquet"))

    man_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ]}},
        ]}
    mlist_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
        ]}

    def data_file(rel: str, n: int) -> dict:
        return {"file_path": f"file://{root}/{rel}", "file_format": "PARQUET",
                "record_count": n}

    m1 = _encode_container(
        [{"status": 1, "data_file": data_file("data/f0.parquet", len(f0))},
         {"status": 1, "data_file": data_file("data/f1.parquet", len(f1))}],
        man_schema)
    m2 = _encode_container(
        [{"status": 2, "data_file": data_file("data/f0.parquet", len(f0))},
         {"status": 0, "data_file": data_file("data/f1.parquet", len(f1))}],
        man_schema)
    open(os.path.join(root, "metadata", "m1.avro"), "wb").write(m1)
    open(os.path.join(root, "metadata", "m2.avro"), "wb").write(m2)
    for name, man in (("ml1", "m1"), ("ml2", "m2")):
        open(os.path.join(root, "metadata", f"{name}.avro"), "wb").write(
            _encode_container(
                [{"manifest_path": f"file://{root}/metadata/{man}.avro",
                  "manifest_length": 1}], mlist_schema))

    meta = {
        "format-version": 1,
        "table-uuid": "nation-fixture",
        "location": f"file://{root}",
        "current-snapshot-id": 2,
        "schema": {"type": "struct", "fields": [
            {"id": 1, "name": "n_nationkey", "required": False, "type": "long"},
            {"id": 2, "name": "n_name", "required": False, "type": "string"},
            {"id": 3, "name": "n_regionkey", "required": False, "type": "long"},
        ]},
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1700000000000,
             "manifest-list": f"file://{root}/metadata/ml1.avro",
             "summary": {"operation": "append"}},
            {"snapshot-id": 2, "parent-snapshot-id": 1,
             "timestamp-ms": 1700000001000,
             "manifest-list": f"file://{root}/metadata/ml2.avro",
             "summary": {"operation": "delete"}},
        ],
    }
    json.dump(meta, open(os.path.join(root, "metadata", "v1.metadata.json"), "w"))
    open(os.path.join(root, "metadata", "version-hint.text"), "w").write("1")
    return read_iceberg(spark, root).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_hudi_cow_snapshot",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("datalake", "hudi"),
)
def lake_hudi_cow_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi copy-on-write timeline replay, end-to-end: file group 1 has
    a superseded base file holding MANGLED names (newest committed slice
    must win), and an extra file slice from an INFLIGHT instant carries
    phantom rows (must be invisible). Only correct timeline replay
    reproduces `nation` exactly."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_hudi

    rows = _nation_pydict(sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="chspark_hudi_"), "t")
    os.makedirs(os.path.join(root, ".hoodie"))
    os.makedirs(os.path.join(root, "p"))

    g1 = [r for r in rows if r["n_regionkey"] <= 1]
    g1_old = [{**r, "n_name": r["n_name"].lower() + "_stale"} for r in g1]
    g2 = [r for r in rows if r["n_regionkey"] >= 2]
    phantom = [{**r, "n_nationkey": r["n_nationkey"] + 1000} for r in g2]

    fid1, fid2 = "0001-aaaa", "0002-bbbb"
    _write_rows_parquet(
        g1_old, os.path.join(root, "p", f"{fid1}_0-1-0_20240101000000.parquet"))
    _write_rows_parquet(
        g1, os.path.join(root, "p", f"{fid1}_0-2-0_20240102000000.parquet"))
    _write_rows_parquet(
        g2, os.path.join(root, "p", f"{fid2}_0-1-0_20240101000000.parquet"))
    _write_rows_parquet(
        phantom, os.path.join(root, "p", f"{fid2}_0-9-0_20240103000000.parquet"))
    for inst in ("20240101000000", "20240102000000"):
        open(os.path.join(root, ".hoodie", f"{inst}.commit"), "w").write("{}")
    open(os.path.join(root, ".hoodie", "20240103000000.inflight"), "w").write("")
    return read_hudi(spark, root).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "format_avro_container_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "avro"),
)
def format_avro_container_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container roundtrip through the pure-Python codec
    (deflate blocks, schema embedded in the header, executor-side
    decode via binaryFile+mapInPandas)."""
    from clickhouse_25_5_3_75_stable_spark.sources import formats
    from clickhouse_25_5_3_75_stable_spark.sources.avro_fmt import read_avro

    path = os.path.join(tempfile.mkdtemp(prefix="chspark_avro_"), "nation.avro")
    formats.write(_nation_df(spark, sf_dir), path, "Avro")
    return read_avro(spark, path).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "format_bson_each_row_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "bson"),
)
def format_bson_each_row_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BSONEachRow roundtrip through the pure-Python codec built from
    the public BSON spec (one document per row, executor-side decode)."""
    from clickhouse_25_5_3_75_stable_spark.sources import formats
    from clickhouse_25_5_3_75_stable_spark.sources.bson_fmt import read_bson_each_row

    path = os.path.join(tempfile.mkdtemp(prefix="chspark_bson_"), "nation.bson")
    formats.write(_nation_df(spark, sf_dir), path, "BSONEachRow")
    return read_bson_each_row(
        spark, path, "n_nationkey bigint, n_name string, n_regionkey bigint"
    )


@register(
    "format_msgpack_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "msgpack"),
)
def format_msgpack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MsgPack roundtrip through the pure-Python codec built from the
    public MessagePack spec (CH MsgPackRow layout: consecutive values,
    executor-side decode)."""
    from clickhouse_25_5_3_75_stable_spark.sources import formats
    from clickhouse_25_5_3_75_stable_spark.sources.msgpack_fmt import read_msgpack

    path = os.path.join(tempfile.mkdtemp(prefix="chspark_msgpack_"), "nation.msgpack")
    formats.write(_nation_df(spark, sf_dir), path, "MsgPack")
    return read_msgpack(
        spark, path, "n_nationkey bigint, n_name string, n_regionkey bigint"
    )


_NATION_CH_SCHEMA = [
    ("n_nationkey", "Int64"), ("n_name", "String"), ("n_regionkey", "Int64"),
]


@register(
    "format_rowbinary_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "rowbinary"),
)
def format_rowbinary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RowBinary roundtrip (CH wire layout: LEB128-length strings,
    little-endian fixed-width ints; executor-side decode).
    Reference: src/Processors/Formats/Impl/BinaryRowInputFormat.cpp."""
    from clickhouse_25_5_3_75_stable_spark.sources.rowbinary import (
        encode_rowbinary,
        read_rowbinary,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chspark_rowbin_"), "nation.bin")
    rows = [tuple(r) for r in _nation_df(spark, sf_dir).collect()]
    with open(path, "wb") as fh:
        fh.write(encode_rowbinary(rows, _NATION_CH_SCHEMA))
    return read_rowbinary(spark, path, _NATION_CH_SCHEMA)


@register(
    "format_native_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "native"),
)
def format_native_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native columnar-block roundtrip (CH Native layout: per-block
    column count / row count / name / type / values).
    Reference: src/Formats/NativeReader.cpp."""
    from clickhouse_25_5_3_75_stable_spark.sources.rowbinary import (
        encode_native,
        read_native,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chspark_native_"), "nation.native")
    rows = [tuple(r) for r in _nation_df(spark, sf_dir).collect()]
    with open(path, "wb") as fh:
        fh.write(encode_native(rows, _NATION_CH_SCHEMA, block_rows=7))
    return read_native(spark, path, _NATION_CH_SCHEMA)


@register(
    "format_capnproto_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "capnproto"),
)
def format_capnproto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CapnProto framed-message roundtrip through the pure-Python codec
    (first-fit hole layout, XOR defaults, framed one-message-per-row).
    Reference: src/Processors/Formats/Impl/CapnProtoRowInputFormat.cpp."""
    from clickhouse_25_5_3_75_stable_spark.sources import formats
    from clickhouse_25_5_3_75_stable_spark.sources.capnproto_fmt import read_capnproto

    schema_text = """
    struct Nation {
      n_nationkey @0 :Int64;
      n_name @1 :Text;
      n_regionkey @2 :Int64;
    }
    """
    path = os.path.join(tempfile.mkdtemp(prefix="chspark_capnp_"), "nation.capnp.bin")
    formats.write(_nation_df(spark, sf_dir), path, "CapnProto",
                  schema_text=schema_text, root="Nation")
    return read_capnproto(spark, path, schema_text, "Nation")


@register(
    "format_template_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "template"),
)
def format_template_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template format roundtrip: CSV-quoted name between literal
    delimiters, resultset wrapper stripped on read.
    Reference: src/Processors/Formats/Impl/TemplateRowInputFormat.cpp."""
    from clickhouse_25_5_3_75_stable_spark.sources import formats
    from clickhouse_25_5_3_75_stable_spark.sources.template_fmt import read_template

    row_format = "key=${n_nationkey:Raw};name=${n_name:CSV};region=${n_regionkey:Raw}"
    path = os.path.join(tempfile.mkdtemp(prefix="chspark_tmpl_"), "nation.tpl")
    formats.write(
        _nation_df(spark, sf_dir), path, "Template", row_format=row_format,
        resultset_format="== nation ==\n${data}\n== end ==",
    )
    return read_template(
        spark, path, row_format,
        "n_nationkey bigint, n_name string, n_regionkey bigint",
        resultset_format="== nation ==\n${data}\n== end ==",
    )


@register(
    "external_sqlite_bridge_read",
    oracle=(
        "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, "
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation "
        "WHERE n_regionkey <> 3"
    ),
    bucket="light",
    tags=("external", "sqlite"),
)
def external_sqlite_bridge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE=SQLite analogue end-to-end: load nation into a sqlite
    database file, read it back through read_external with a predicate
    executed REMOTELY (inside sqlite, like the reference's
    transformQueryForExternalDatabase pushes WHERE to the engine).
    Reference: src/Storages/registerStorages.cpp:60-103, SQLite engine."""
    import sqlite3

    from clickhouse_25_5_3_75_stable_spark.sources.external import (
        ExternalEngine,
        read_external,
    )

    db = os.path.join(tempfile.mkdtemp(prefix="chspark_sqlite_"), "tpch.db")
    con = sqlite3.connect(db)
    try:
        con.execute(
            "CREATE TABLE nation (n_nationkey INTEGER, n_name TEXT, "
            "n_regionkey INTEGER)"
        )
        con.executemany(
            "INSERT INTO nation VALUES (?, ?, ?)",
            [(r["n_nationkey"], r["n_name"], r["n_regionkey"])
             for r in _nation_pydict(sf_dir)],
        )
        con.commit()
    finally:
        con.close()
    spec = ExternalEngine(kind="sqlite", table="nation", database=db)
    return read_external(spark, spec, predicate="n_regionkey <> 3")


@register(
    "executable_udtf_tokenize",
    oracle=(
        # no WITH ORDINALITY in DuckDB 1.0 — index the split list by an
        # unnested generate_series instead (version-stable primitives)
        "WITH ex AS ("
        "  SELECT n_nationkey, parts, "
        "         unnest(generate_series(1, len(parts))) AS i "
        "  FROM (SELECT n_nationkey, string_split("
        "          n_name || ' region_' || CAST(n_regionkey AS VARCHAR), ' ') "
        "          AS parts FROM nation) t"
        ") SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, "
        "         parts[i] AS token, CAST(i - 1 AS INT) AS pos "
        "FROM ex WHERE parts[i] <> ''"
    ),
    bucket="light",
    tags=("executable", "udtf"),
)
def executable_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable-UDF analogue end-to-end: the tokenizer UDTF (the
    reference's executable-script doc example) applied per nation name
    via LATERAL, one output row per token.
    Reference: src/Functions/UserDefined/
    UserDefinedExecutableFunctionFactory.h:16."""
    from clickhouse_25_5_3_75_stable_spark.sources.executable import TokenizeUDTF

    nation = _nation_df(spark, sf_dir).withColumn(
        "text",
        F.concat(F.col("n_name"), F.lit(" region_"),
                 F.col("n_regionkey").cast("string")),
    )
    nation.createOrReplaceTempView("nation_for_udtf")
    spark.udtf.register("ch_tokenize", TokenizeUDTF)
    return spark.sql(
        "SELECT n.n_nationkey, t.token, t.pos "
        "FROM nation_for_udtf n, LATERAL ch_tokenize(n.text) t"
    )


@register(
    "chsql_deltalake_table_function",
    oracle=(
        "SELECT CAST(n_regionkey AS BIGINT) AS region, "
        "CAST(COUNT(*) AS BIGINT) AS n, MIN(n_name) AS first_name "
        "FROM nation WHERE n_regionkey <= 2 GROUP BY 1"
    ),
    bucket="light",
    tags=("chsql", "datalake", "table_function"),
)
def chsql_deltalake_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's deltaLake() table function through plain chsql
    text: FROM deltaLake('<path>') materializes via the log-replay
    reader, then aggregates — so the SQL surface, not just the Python
    API, is gated. Reference:
    src/TableFunctions/TableFunctionObjectStorage.cpp:354-360."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    root = _delta_fixture_root(sf_dir)
    return ch_sql(spark, f"""
        SELECT CAST(n_regionkey AS BIGINT) AS region,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(n_name) AS first_name
        FROM deltaLake('{root}')
        GROUP BY region
    """)


@register(
    "format_tskv_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "tskv"),
)
def format_tskv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSKV roundtrip — fully JVM-side on both legs (text write with
    escaped key=value pairs, map_from_entries decode).
    Reference: src/Processors/Formats/Impl/TSKVRowInputFormat.cpp."""
    from clickhouse_25_5_3_75_stable_spark.sources.formats_longtail import (
        read_tskv,
        write_tskv,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chspark_tskv_"), "nation.tskv")
    write_tskv(_nation_df(spark, sf_dir), path)
    raw = read_tskv(spark, path, ["n_nationkey", "n_name", "n_regionkey"])
    return raw.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )


@register(
    "format_json_compact_each_row_roundtrip",
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("format", "json"),
)
def format_json_compact_each_row_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONCompactEachRow roundtrip — one JSON array per line,
    positional columns, fully JVM-side on both legs.
    Reference: src/Processors/Formats/Impl/JSONCompactEachRowRowInputFormat.cpp."""
    from clickhouse_25_5_3_75_stable_spark.sources.formats_longtail import (
        read_json_compact_each_row,
        write_json_compact_each_row,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="chspark_jcer_"), "nation.jsonl")
    write_json_compact_each_row(_nation_df(spark, sf_dir), path)
    return read_json_compact_each_row(
        spark, path, "n_nationkey bigint, n_name string, n_regionkey bigint"
    )


@register(
    "chsql_columns_apply_transformers",
    oracle=(
        'SELECT CAST(SUM(n_nationkey) AS BIGINT) AS "sum(n_nationkey)", '
        'CAST(SUM(n_regionkey) AS BIGINT) AS "sum(n_regionkey)" FROM nation'
    ),
    bucket="light",
    tags=("chsql", "transformers"),
)
def chsql_columns_apply_transformers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMNS('re') APPLY(f) select-list transformers through plain
    chsql text, expanded against the catalog schema.
    Reference: src/Parsers/ASTColumnsTransformers.cpp."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    return ch_sql(spark, "SELECT COLUMNS('key$') APPLY (sum) FROM nation", sf_dir)


@register(
    "chsql_with_fill_interpolate",
    oracle=(
        "SELECT CAST(r AS BIGINT) AS r, "
        "       LAST_VALUE(n IGNORE NULLS) OVER "
        "         (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n "
        "FROM (SELECT g.r, c.n "
        "      FROM (SELECT unnest(generate_series(0, 9)) AS r) g "
        "      LEFT JOIN (SELECT CAST(n_regionkey AS BIGINT) AS r, "
        "                        CAST(COUNT(*) AS BIGINT) AS n "
        "                 FROM nation GROUP BY 1) c ON c.r = g.r)"
    ),
    bucket="light",
    tags=("chsql", "fill"),
)
def chsql_with_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... WITH FILL ... INTERPOLATE through plain chsql text:
    the filled rows past the last real region carry the previous row's
    count (identity INTERPOLATE = carry-forward, FillingTransform.h)."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    return ch_sql(
        spark,
        "SELECT toInt64(n_regionkey) AS r, count() AS n FROM nation "
        "GROUP BY r ORDER BY r WITH FILL FROM 0 TO 10 INTERPOLATE (n)",
        sf_dir,
    )


@register(
    "storage_projection_auto_route",
    oracle=(
        "SELECT CAST(n_regionkey AS BIGINT) AS r, "
        "CAST(SUM(n_nationkey) AS BIGINT) AS sk, "
        "CAST(COUNT(*) AS BIGINT) AS n "
        "FROM nation GROUP BY 1"
    ),
    bucket="light",
    tags=("storage", "projection"),
)
def storage_projection_auto_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic aggregate-projection routing end-to-end: a DDL table
    built from nation gets an ADD PROJECTION, and the GROUP BY is
    answered from the stored partial states (the query RAISES if the
    router declines, so the gate covers the routing math, not a
    fallback scan). Reference: optimizeUseAggregateProjection.cpp."""
    import io

    from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
    from clickhouse_25_5_3_75_stable_spark.statements import _route_projection

    d = tempfile.mkdtemp(prefix="chspark_proj_")
    sink = io.StringIO()
    run_local(
        "CREATE TABLE pnation (n_nationkey Int64, n_name String, "
        "n_regionkey Int64) ENGINE = MergeTree ORDER BY n_nationkey",
        d, spark=spark, out=sink,
    )
    values = ", ".join(
        f"({r['n_nationkey']}, '{r['n_name']}', {r['n_regionkey']})"
        for r in _nation_pydict(sf_dir)
    )
    run_local(f"INSERT INTO pnation VALUES {values}", d, spark=spark, out=sink)
    run_local(
        "ALTER TABLE pnation ADD PROJECTION by_region "
        "(SELECT n_regionkey, sum(n_nationkey) GROUP BY n_regionkey)",
        d, spark=spark, out=sink,
    )
    routed = _route_projection(
        spark, d,
        "SELECT n_regionkey AS r, sum(n_nationkey) AS sk, count() AS n "
        "FROM pnation GROUP BY n_regionkey",
    )
    if routed is None:
        raise RuntimeError("projection router declined a covered GROUP BY")
    return routed


@register(
    "lake_iceberg_v2_mor_read",
    # position deletes remove every EVEN nationkey row; only exact
    # (file_path, pos) anti-join replay reproduces the odd rows
    oracle=_NATION_ORACLE + " WHERE n_nationkey % 2 = 1",
    bucket="light",
    tags=("datalake", "iceberg", "merge_on_read"),
)
def lake_iceberg_v2_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read, end-to-end (round-9): a delete
    manifest (content=1) points at a position-delete parquet of
    (file_path, pos) rows deleting every even-keyed row across two
    data files; the replay anti-joins on Spark's vectorized
    _metadata.row_index (reference positional-delete support,
    src/Storages/ObjectStorage/DataLakes/Iceberg)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_25_5_3_75_stable_spark.sources.avro_fmt import _encode_container
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_iceberg

    rows = _nation_pydict(sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="chspark_icemor_"), "t")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))

    f0 = [r for r in rows if r["n_regionkey"] <= 2]
    f1 = [r for r in rows if r["n_regionkey"] > 2]
    _write_rows_parquet(f0, os.path.join(root, "data", "f0.parquet"))
    _write_rows_parquet(f1, os.path.join(root, "data", "f1.parquet"))
    dels = [
        {"file_path": f"file://{root}/data/{rel}", "pos": i}
        for rel, part in (("f0.parquet", f0), ("f1.parquet", f1))
        for i, r in enumerate(part) if r["n_nationkey"] % 2 == 0
    ]
    pq.write_table(
        pa.Table.from_pylist(dels, schema=pa.schema(
            [("file_path", pa.string()), ("pos", pa.int64())])),
        os.path.join(root, "data", "del0.parquet"),
    )

    man_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                ]}},
        ]}
    mlist_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
        ]}

    def entry(rel: str, n: int, content: int = 0) -> dict:
        return {"status": 1, "data_file": {
            "content": content, "file_path": f"file://{root}/data/{rel}",
            "file_format": "PARQUET", "record_count": n}}

    open(os.path.join(root, "metadata", "m_data.avro"), "wb").write(
        _encode_container(
            [entry("f0.parquet", len(f0)), entry("f1.parquet", len(f1))],
            man_schema))
    open(os.path.join(root, "metadata", "m_del.avro"), "wb").write(
        _encode_container([entry("del0.parquet", len(dels), content=1)],
                          man_schema))
    open(os.path.join(root, "metadata", "ml.avro"), "wb").write(
        _encode_container(
            [{"manifest_path": f"file://{root}/metadata/m_data.avro",
              "manifest_length": 1, "content": 0},
             {"manifest_path": f"file://{root}/metadata/m_del.avro",
              "manifest_length": 1, "content": 1}], mlist_schema))

    meta = {
        "format-version": 2, "table-uuid": "nation-mor-fixture",
        "location": f"file://{root}", "current-snapshot-id": 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "n_nationkey", "required": False, "type": "long"},
            {"id": 2, "name": "n_name", "required": False, "type": "string"},
            {"id": 3, "name": "n_regionkey", "required": False, "type": "long"},
        ]}],
        "current-schema-id": 0,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1700000000000,
                       "manifest-list": f"file://{root}/metadata/ml.avro",
                       "summary": {"operation": "overwrite"}}],
    }
    json.dump(meta, open(os.path.join(root, "metadata", "v1.metadata.json"), "w"))
    open(os.path.join(root, "metadata", "version-hint.text"), "w").write("1")
    return read_iceberg(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_delta_column_mapping",
    # physical parquet names are opaque col-<n> ids; only columnMapping
    # resolution (PROTOCOL.md; DeltaLakeMetadata.cpp:366 reads physical
    # names the same way) reproduces the logical nation projection
    oracle=_NATION_ORACLE,
    bucket="light",
    tags=("datalake", "delta", "column_mapping"),
)
def lake_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta columnMapping=name, end-to-end (round-9): data parquet
    stores columns under physicalName ids; the log's schemaString maps
    them to the logical names; partitionValues are keyed by physical
    name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_delta

    rows = _nation_pydict(sf_dir)
    root = os.path.join(tempfile.mkdtemp(prefix="chspark_dlcm_"), "t")
    os.makedirs(os.path.join(root, "_delta_log"))

    sch = pa.schema([
        pa.field("col-1f0a", pa.int64()),
        pa.field("col-2b1c", pa.string()),
        pa.field("col-3c2d", pa.int64()),
    ])
    pq.write_table(
        pa.Table.from_pylist(
            [{"col-1f0a": r["n_nationkey"], "col-2b1c": r["n_name"],
              "col-3c2d": r["n_regionkey"]} for r in rows],
            schema=sch),
        os.path.join(root, "part0.parquet"))

    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "n_nationkey", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-1f0a"}},
        {"name": "n_name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-2b1c"}},
        {"name": "n_regionkey", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-3c2d"}},
    ]})
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "cm-fixture", "schemaString": schema_string,
                      "partitionColumns": [],
                      "format": {"provider": "parquet"},
                      "configuration": {
                          "delta.columnMapping.mode": "name"}}},
        {"add": {"path": "part0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    return read_delta(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_iceberg_equality_deletes",
    # a seq-2 equality delete on n_name removes three names from the
    # seq-1 file; a seq-3 file re-adds NATION_3 (nationkey+100) and
    # must survive the strictly-older scoping
    oracle=_NATION_ORACLE
    + " WHERE n_name NOT IN ('NATION_3','NATION_8','NATION_15') "
      "UNION ALL SELECT CAST(n_nationkey AS BIGINT)+100, n_name, "
      "CAST(n_regionkey AS BIGINT) FROM nation WHERE n_name='NATION_3'",
    bucket="light",
    tags=("datalake", "iceberg", "merge_on_read"),
)
def lake_iceberg_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 equality deletes end-to-end (round-9): an equality
    delete file (content=2, equality_ids=[n_name's field id]) at
    sequence 2 removes matching rows from the seq-1 data file but not
    from the seq-3 file that re-adds one of the names — the spec's
    strictly-older scan scoping (capability SUPERSET of the reference,
    which refuses all v2 deletes: DataLakes/Iceberg/ManifestFile.cpp:190)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_25_5_3_75_stable_spark.sources.avro_fmt import _encode_container
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_iceberg

    rows = _nation_pydict(sf_dir)
    gone = ("NATION_3", "NATION_8", "NATION_15")
    readd = [
        {**r, "n_nationkey": r["n_nationkey"] + 100}
        for r in rows if r["n_name"] == "NATION_3"
    ]
    if not readd:
        raise RuntimeError("fixture precondition: NATION_3 must exist")
    root = os.path.join(tempfile.mkdtemp(prefix="chspark_iceeq_"), "t")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))

    _write_rows_parquet(rows, os.path.join(root, "data", "f0.parquet"))
    _write_rows_parquet(readd, os.path.join(root, "data", "f1.parquet"))
    pq.write_table(
        pa.Table.from_pylist(
            [{"n_name": n} for n in gone],
            schema=pa.schema([("n_name", pa.string())])),
        os.path.join(root, "data", "eq0.parquet"))

    man_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}]},
                ]}},
        ]}
    mlist_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": "long"},
        ]}

    def entry(rel, n, content=0, seq=None, eq_ids=None):
        return {"status": 1, "sequence_number": seq, "data_file": {
            "content": content, "file_path": f"file://{root}/data/{rel}",
            "file_format": "PARQUET", "record_count": n,
            "equality_ids": eq_ids}}

    open(os.path.join(root, "metadata", "m_d1.avro"), "wb").write(
        _encode_container([entry("f0.parquet", len(rows))], man_schema))
    open(os.path.join(root, "metadata", "m_d3.avro"), "wb").write(
        _encode_container([entry("f1.parquet", len(readd), seq=3)],
                          man_schema))
    open(os.path.join(root, "metadata", "m_eq.avro"), "wb").write(
        _encode_container(
            [entry("eq0.parquet", len(gone), content=2, seq=2, eq_ids=[2])],
            man_schema))
    open(os.path.join(root, "metadata", "ml.avro"), "wb").write(
        _encode_container(
            [{"manifest_path": f"file://{root}/metadata/m_d1.avro",
              "manifest_length": 1, "content": 0, "sequence_number": 1},
             {"manifest_path": f"file://{root}/metadata/m_d3.avro",
              "manifest_length": 1, "content": 0, "sequence_number": 3},
             {"manifest_path": f"file://{root}/metadata/m_eq.avro",
              "manifest_length": 1, "content": 1, "sequence_number": 2}],
            mlist_schema))

    meta = {
        "format-version": 2, "table-uuid": "nation-eq-fixture",
        "location": f"file://{root}", "current-snapshot-id": 1,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "n_nationkey", "required": False, "type": "long"},
            {"id": 2, "name": "n_name", "required": False, "type": "string"},
            {"id": 3, "name": "n_regionkey", "required": False, "type": "long"},
        ]}],
        "current-schema-id": 0,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1700000000000,
                       "manifest-list": f"file://{root}/metadata/ml.avro",
                       "summary": {"operation": "overwrite"}}],
    }
    json.dump(meta, open(os.path.join(root, "metadata", "v1.metadata.json"), "w"))
    open(os.path.join(root, "metadata", "version-hint.text"), "w").write("1")
    return read_iceberg(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_delta_deletion_vectors",
    # a UUID-file DV deletes every even nationkey from f0; an inline
    # DV deletes row 0 of f1 (the lowest odd key, FRANCE's partition
    # slice) — only real roaring replay reproduces the survivors
    oracle=_NATION_ORACLE + " WHERE n_nationkey % 2 = 1 AND n_nationkey <> 1",
    bucket="light",
    tags=("datalake", "delta", "deletion_vectors"),
)
def lake_delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta deletion vectors end-to-end (round-9): the log's add
    actions carry DV descriptors ('u' UUID-named .bin with Z85 uuid +
    offset framing + CRC, and 'i' inline Z85); sources/roaring.py
    decodes the 64-bit RoaringBitmapArray portable format
    executor-side and the read anti-joins _metadata.row_index. The
    reference refuses DV tables (no DV path in its DeltaLakeMetadata
    replay) — capability superset."""
    import uuid

    from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_delta
    from clickhouse_25_5_3_75_stable_spark.sources.roaring import (
        dv_file_blob,
        rbm_array_serialize,
        z85_encode,
    )

    rows = sorted(_nation_pydict(sf_dir), key=lambda r: r["n_nationkey"])
    root = os.path.join(tempfile.mkdtemp(prefix="chspark_dldv_"), "t")
    os.makedirs(os.path.join(root, "_delta_log"))

    f0, f1 = rows[2:], rows[:2]  # f1 holds keys 0 and 1
    _write_rows_parquet(f0, os.path.join(root, "f0.parquet"))
    _write_rows_parquet(f1, os.path.join(root, "f1.parquet"))

    # 'u' DV over f0: positions of even nationkeys
    u = uuid.uuid4()
    even_pos = [i for i, r in enumerate(f0) if r["n_nationkey"] % 2 == 0]
    blob, offsets = dv_file_blob([rbm_array_serialize(even_pos)])
    open(os.path.join(root, f"deletion_vector_{u}.bin"), "wb").write(blob)
    dv_u = {"storageType": "u", "pathOrInlineDv": z85_encode(u.bytes),
            "offset": offsets[0], "sizeInBytes": len(blob) - 9,
            "cardinality": len(even_pos)}
    # inline DV over f1: delete BOTH rows' evens and key 1 (positions
    # of nationkey 0 and 1 -> 0 and 1)
    inline = rbm_array_serialize([0, 1])
    dv_i = {"storageType": "i", "pathOrInlineDv": z85_encode(inline),
            "sizeInBytes": len(inline), "cardinality": 2}

    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "n_nationkey", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "n_name", "type": "string", "nullable": True,
         "metadata": {}},
        {"name": "n_regionkey", "type": "long", "nullable": True,
         "metadata": {}},
    ]})
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "dv-nation", "schemaString": schema_string,
                      "partitionColumns": [],
                      "format": {"provider": "parquet"},
                      "configuration": {}}},
        {"add": {"path": "f0.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv_u}},
        {"add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv_i}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    return read_delta(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_delta_write_roundtrip",
    # create (partitioned) + append replay: nation plus the re-keyed
    # ASIA slice
    oracle=_NATION_ORACLE
    + " UNION ALL SELECT CAST(n_nationkey AS BIGINT)+200, n_name, "
      "CAST(n_regionkey AS BIGINT) FROM nation WHERE n_regionkey = 2",
    bucket="light",
    tags=("datalake", "delta", "write"),
)
def lake_delta_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta WRITE path end-to-end (round-9; write_delta — the
    reference's DeltaLake storage is read-only, so this is a
    capability superset): create a partitioned table (version 0 with
    protocol+metaData), append a second commit, replay through
    read_delta with partition columns restored from the hive dirs."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
        read_delta,
        write_delta,
    )

    root = os.path.join(tempfile.mkdtemp(prefix="chspark_dlw_"), "t")
    nation = _nation_df(spark, sf_dir)
    v0 = write_delta(nation, root, partition_by=["n_regionkey"])
    extra = (
        nation.filter(F.col("n_regionkey") == 2)
        .withColumn("n_nationkey", F.col("n_nationkey") + 200)
    )
    v1 = write_delta(extra, root)
    if (v0, v1) != (0, 1):
        raise RuntimeError(f"unexpected versions {(v0, v1)}")
    return read_delta(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_iceberg_write_roundtrip",
    # snapshot 1 = nation; snapshot 2 appends the re-keyed EUROPE
    # slice; the replay reads the union
    oracle=_NATION_ORACLE
    + " UNION ALL SELECT CAST(n_nationkey AS BIGINT)+300, n_name, "
      "CAST(n_regionkey AS BIGINT) FROM nation WHERE n_regionkey = 3",
    bucket="light",
    tags=("datalake", "iceberg", "write"),
)
def lake_iceberg_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg WRITE path end-to-end (round-9; write_iceberg — the
    reference's Iceberg storage is read-only, capability superset):
    snapshot 1 creates the v2 table (manifest Avro via the repo's own
    codec, parquet field ids embedded), snapshot 2 appends; replay
    through read_iceberg."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
        read_iceberg,
        write_iceberg,
    )

    root = os.path.join(tempfile.mkdtemp(prefix="chspark_icw_"), "t")
    nation = _nation_df(spark, sf_dir)
    s1 = write_iceberg(nation, root)
    extra = (
        nation.filter(F.col("n_regionkey") == 3)
        .withColumn("n_nationkey", F.col("n_nationkey") + 300)
    )
    s2 = write_iceberg(extra, root)
    if (s1, s2) != (1, 2):
        raise RuntimeError(f"unexpected snapshots {(s1, s2)}")
    return read_iceberg(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_delta_lightweight_delete",
    # two DV deletes (evens, then two odd names) merge; survivors only
    oracle=_NATION_ORACLE
    + " WHERE n_nationkey % 2 = 1 AND n_name NOT IN "
      "('NATION_3','NATION_7')",
    bucket="light",
    tags=("datalake", "delta", "delete", "deletion_vectors"),
)
def lake_delta_lightweight_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight DELETE on Delta via deletion vectors, end-to-end
    (round-9; delete_delta): write nation, delete even keys, then
    delete FRANCE/GERMANY — the second DV merges with the first,
    executor-side roaring serialization, no data-file rewrite. The
    reference's lightweight DELETE exists only on MergeTree; on lake
    tables it refuses — capability superset."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
        delete_delta,
        read_delta,
        write_delta,
    )

    root = os.path.join(tempfile.mkdtemp(prefix="chspark_dld_"), "t")
    write_delta(_nation_df(spark, sf_dir), root)
    v1 = delete_delta(spark, root, "n_nationkey % 2 = 0")
    v2 = delete_delta(spark, root, "n_name IN ('NATION_3', 'NATION_7')")
    if (v1, v2) != (1, 2):
        raise RuntimeError(f"unexpected versions {(v1, v2)}")
    return read_delta(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_delta_dml_cycle",
    # create -> UPDATE (+1000 on region-2 keys) -> DELETE (evens) ->
    # OPTIMIZE; survivors carry the update
    oracle="""
    SELECT CAST(CASE WHEN n_regionkey = 2 THEN n_nationkey + 1000
                     ELSE n_nationkey END AS BIGINT) AS n_nationkey,
           n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    WHERE (CASE WHEN n_regionkey = 2 THEN n_nationkey + 1000
                ELSE n_nationkey END) % 2 = 1
    ORDER BY n_nationkey
    """,
    bucket="light",
    tags=("datalake", "delta", "dml"),
)
def lake_delta_dml_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Delta DML cycle without any connector (round-9):
    write_delta CREATE -> update_delta copy-on-write -> delete_delta
    deletion-vectors -> optimize_delta compaction (DVs materialize) ->
    read_delta replay. The reference's lake engines are read-only —
    this is the complete mutation surface as a capability superset."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
        delete_delta,
        optimize_delta,
        read_delta,
        update_delta,
        write_delta,
    )

    root = os.path.join(tempfile.mkdtemp(prefix="chspark_dmlc_"), "t")
    write_delta(_nation_df(spark, sf_dir), root)
    update_delta(spark, root, "n_regionkey = 2",
                 {"n_nationkey": "n_nationkey + 1000"})
    delete_delta(spark, root, "n_nationkey % 2 = 0")
    optimize_delta(spark, root)
    return read_delta(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


@register(
    "lake_iceberg_lightweight_delete",
    oracle=_NATION_ORACLE
    + " WHERE n_nationkey % 2 = 1 AND n_nationkey NOT IN (3, 7)",
    bucket="light",
    tags=("datalake", "iceberg", "delete"),
)
def lake_iceberg_lightweight_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg lightweight DELETE end-to-end (round-9; delete_iceberg
    position-delete files — the Iceberg side of the lake-DML
    symmetry): write nation, delete evens, delete keys 3 and 7 in a
    second snapshot; both replay through the vectorized row_index
    anti-join. The reference's Iceberg storage is read-only —
    capability superset."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
        delete_iceberg,
        read_iceberg,
        write_iceberg,
    )

    root = os.path.join(tempfile.mkdtemp(prefix="chspark_icdel_"), "t")
    write_iceberg(_nation_df(spark, sf_dir), root)
    delete_iceberg(spark, root, "n_nationkey % 2 = 0")
    delete_iceberg(spark, root, "n_nationkey IN (3, 7)")
    return read_iceberg(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")


@register(
    "lake_delta_merge_upsert",
    # upsert: region-2 rows take price-like rekeys from the source,
    # two brand-new nations insert
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(CASE WHEN n_regionkey = 2 THEN 99 ELSE n_regionkey END
                AS BIGINT) AS n_regionkey
    FROM nation
    UNION ALL SELECT * FROM (VALUES
      (CAST(900 AS BIGINT), 'NEWLAND', CAST(9 AS BIGINT)),
      (CAST(901 AS BIGINT), 'OLDLAND', CAST(9 AS BIGINT)))
    """,
    bucket="light",
    tags=("datalake", "delta", "merge"),
)
def lake_delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert) into Delta end-to-end (round-9; merge_delta —
    the delta-spark MERGE INTO verb; the reference has no lake DML):
    matched target rows update from source columns, unmatched source
    rows insert, only affected files rewrite."""
    from clickhouse_25_5_3_75_stable_spark.sources.datalake import (
        merge_delta,
        read_delta,
        write_delta,
    )

    root = os.path.join(tempfile.mkdtemp(prefix="chspark_mrg_"), "t")
    nation = _nation_df(spark, sf_dir)
    write_delta(nation, root)
    src = (
        nation.filter(F.col("n_regionkey") == 2)
        .select("n_nationkey", "n_name",
                F.lit(99).cast("bigint").alias("n_regionkey"))
        .unionByName(spark.createDataFrame(
            [(900, "NEWLAND", 9), (901, "OLDLAND", 9)],
            "n_nationkey long, n_name string, n_regionkey long"))
    )
    merge_delta(spark, root, src, on=["n_nationkey"],
                update={"n_regionkey": "src_n_regionkey"})
    return read_delta(spark, root).select(
        "n_nationkey", "n_name", "n_regionkey")
