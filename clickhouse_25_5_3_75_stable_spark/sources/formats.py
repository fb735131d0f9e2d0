"""One format table, the analogue of the reference's FormatFactory
(src/Formats/registerFormats.cpp:26-105). A `FORMATS` row binds a
format's names (the ClickHouse name, then its aliases; lookups ignore
case) to ``spark``, a DataFrameReader source and options (it reads
files and, for csv and json, inline text); ``read``, a codec called as
``(spark, path)`` plus the schema in the form ``takes`` names ("ddl",
"columns" or the wire codecs' "wire" list; none means the codec
describes its own schema); ``write``, an encoder from collected rows
and the schema to str, or bytes when ``binary``; and ``df_write``, a
whole-DataFrame writer. ``sql`` names the directions ("r", "w") the SQL
doors reach and ``why`` why the rest is the Python API's only.

Every door reads it: FORMAT and INTO OUTFILE (`__main__._emit`),
INSERT ... FROM INFILE / FORMAT (`statements`), file()/url() (`chsql`),
format(), dictionary FILE sources, system.formats and `read`/`write`.
Codec modules load on first call: a TabSeparated or JSONEachRow
statement imports none of them.
"""

from __future__ import annotations

import csv
import datetime
import importlib
import io
import json
from functools import partial
from typing import Callable, NamedTuple

# the driver-side export writers collect at most this many rows
DRIVER_EXPORT_MAX_ROWS = 5_000_000

# reference formats with no reader or writer here, and why
FORMAT_EXCLUSIONS = {
    "ODBCDriver2": "wire protocol, not a file format",
    "MySQLWire": "wire protocol, not a file format (TCP scope note in MIGRATION.md)",
    "PostgreSQLWire": "wire protocol, not a file format",
    "DWARF": "ELF debug-info introspection (reference reads its own binary's symbols) — no analogue for a JVM/Python engine",
}


class Format(NamedTuple):
    names: tuple[str, ...]
    spark: tuple[str, dict] | None = None
    read: Callable | None = None
    takes: str | None = None
    write: Callable | None = None
    binary: bool = False
    df_write: Callable | None = None
    sql: str = "rw"
    why: str | None = None


def _codec(module: str, attr: str) -> Callable:
    """`attr` of sources/<module>.py, imported on the first call."""
    def call(*args, **kwargs):
        mod = importlib.import_module(f"clickhouse_25_5_3_75_stable_spark.sources.{module}")
        return getattr(mod, attr)(*args, **kwargs)

    return call


def _schema_as(form: str, schema, what: str):
    """A Spark schema in the form a codec takes."""
    if form == "ddl":
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    if form == "columns":
        return schema.names
    return _codec("rowbinary", "wire_schema")(schema.fields, what)


def _wire(attr: str, name: str) -> Callable:
    """A rowbinary encoder, given the result's (name, ClickHouse type) list."""
    return lambda rows, schema: _codec("rowbinary", attr)(
        rows, _schema_as("wire", schema, f"FORMAT {name}"))


# --- the text formats the front door prints ---------------------------------


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


def _names(schema) -> list[str]:
    """The column names of a StructType, or the names themselves."""
    return list(getattr(schema, "names", schema))


def _tab_separated(rows, schema, header: bool = False) -> str:
    lines = ["\t".join(_names(schema))] if header else []
    lines += ["\t".join("" if v is None else str(_text(v)) for v in r) for r in rows]
    return "".join(ln + "\n" for ln in lines)


def _csv(rows, schema, header: bool = False) -> str:
    buf = io.StringIO()
    w = csv.writer(buf)
    if header:
        w.writerow(_names(schema))
    w.writerows([_text(v) for v in r] for r in rows)
    return buf.getvalue()


def _json_each_row(rows, schema) -> str:
    names = _names(schema)
    return "".join(
        json.dumps(dict(zip(names, [v.isoformat() if hasattr(v, "isoformat") else v
                                    for v in r])), default=str) + "\n"
        for r in rows)


def _pretty(rows, schema) -> str:
    """A pipe table under a dashed rule (perfbench's parser reads this
    form: two header lines, then " | " rows)."""
    cols = _names(schema)
    cells = [[str(_text(v)) for v in r] for r in rows]
    widths = [max(len(str(c)), *(len(r[i]) for r in cells)) if cells else len(str(c))
              for i, c in enumerate(cols)]
    lines = [" | ".join(str(c).ljust(w) for c, w in zip(cols, widths)),
             "-+-".join("-" * w for w in widths)]
    lines += [" | ".join(v.ljust(w) for v, w in zip(r, widths)) for r in cells]
    return "".join(ln + "\n" for ln in lines)


_LT, _FX = "formats_longtail", "formats_extra"
_DIR = "output writes a Spark directory through the DataFrame API (formats.write); the SQL doors write one file"
_TEMPLATE = (_codec("template_fmt", "read_template"), _codec("template_fmt", "encode_template"))
_PROTOBUF = "needs its message name and descriptor file"

FORMATS = (
    Format(("TabSeparated", "TSV"), spark=("csv", {"sep": "\t"}), write=_tab_separated),
    Format(("TabSeparatedWithNames", "TSVWithNames"), spark=("csv", {"sep": "\t", "header": "true"}),
           write=partial(_tab_separated, header=True)),
    Format(("CSV",), spark=("csv", {}), write=_csv),
    Format(("CSVWithNames",), spark=("csv", {"header": "true"}), write=partial(_csv, header=True)),
    # JSON writes one object per line here, as JSONEachRow does
    Format(("JSONEachRow", "JSONLines", "NDJSON", "JSON"), spark=("json", {}), write=_json_each_row),
    Format(("Pretty", "PrettyCompact"), write=_pretty),
    Format(("Vertical",), write=_codec(_LT, "encode_vertical")),
    Format(("Markdown",), write=_codec(_LT, "encode_markdown")),
    Format(("SQLInsert",), write=_codec(_LT, "encode_sql_insert")),
    Format(("Prometheus",), write=_codec(_LT, "encode_prometheus")),
    Format(("Null",), write=lambda rows, schema: "", df_write=_codec(_LT, "write_null")),
    Format(("Parquet",), spark=("parquet", {}), write=_codec(_FX, "encode_parquet"), binary=True),
    Format(("ORC",), spark=("orc", {}), sql="r", why=_DIR),
    Format(("Arrow",), read=_codec(_FX, "read_arrow"), write=_codec(_FX, "encode_arrow"), binary=True),
    Format(("ArrowStream",), read=_codec(_FX, "read_arrow"), write=_codec(_FX, "encode_arrow"),
           binary=True, sql="", why="the Arrow IPC stream framing has no codec: this name "
                                    "reads and writes the IPC file format, in the Python API only"),
    Format(("Avro",), read=_codec("avro_fmt", "read_avro"), write=_codec("avro_fmt", "encode_avro"),
           binary=True),
    Format(("BSONEachRow",), read=_codec("bson_fmt", "read_bson_each_row"), takes="ddl",
           write=_codec("bson_fmt", "encode_bson_each_row"), binary=True),
    Format(("MsgPack",), read=_codec("msgpack_fmt", "read_msgpack"), takes="ddl",
           write=_codec("msgpack_fmt", "encode_msgpack"), binary=True),
    Format(("RowBinary",), read=_codec("rowbinary", "read_rowbinary"), takes="wire",
           write=_wire("encode_rowbinary", "RowBinary"), binary=True),
    Format(("Native",), read=_codec("rowbinary", "read_native"), takes="wire",
           write=_wire("encode_native", "Native"), binary=True),
    Format(("RawBLOB",), read=_codec(_LT, "read_raw_blob"), write=_codec(_LT, "encode_raw_blob"),
           binary=True),
    Format(("LineAsString",), spark=("text", {}), read=_codec(_LT, "read_line_as_string"), sql="r",
           why=_DIR),
    Format(("JSONAsString",), read=_codec(_LT, "read_json_as_string")),
    Format(("TSKV",), read=_codec(_LT, "read_tskv"), takes="columns",
           df_write=_codec(_LT, "write_tskv"), sql="r", why=_DIR),
    Format(("JSONCompactEachRow",), read=_codec(_LT, "read_json_compact_each_row"), takes="ddl",
           df_write=_codec(_LT, "write_json_compact_each_row"), sql="r", why=_DIR),
    Format(("JSONCompact",), read=_codec(_LT, "read_json_compact"), takes="ddl"),
    Format(("JSONColumns",), read=_codec(_LT, "read_json_columns"), takes="ddl"),
    Format(("JSONCompactColumns",), read=_codec(_LT, "read_json_compact_columns"), takes="ddl"),
    Format(("JSONObjectEachRow",), read=_codec(_LT, "read_json_object_each_row"), takes="ddl"),
    Format(("HiveText",), spark=("csv", {"sep": "\x01", "nullValue": "\\N"}), sql="r", why=_DIR),
    Format(("XML",), spark=("xml", {"rowTag": "row"}), sql="r", why=_DIR),
    Format(("One",), read=lambda spark, path: _codec(_LT, "read_one")(spark)),
    Format(("Form",), read=_codec(_LT, "read_form"), takes="columns"),
    Format(("ParquetMetadata",), read=_codec(_LT, "read_parquet_metadata")),
    Format(("MySQLDump",), read=_codec(_LT, "read_mysql_dump"), takes="ddl"),
    Format(("Npy",), read=_codec(_FX, "read_npy"), write=_codec(_FX, "encode_npy"), binary=True,
           sql="r", why="output needs the column to write (encode_npy's column argument)"),
    Format(("Regexp",), read=_codec(_FX, "read_regexp"), sql="",
           why="input needs its pattern and columns (read_regexp's arguments)"),
    Format(("Values",), read=_codec(_FX, "read_values"), sql="",
           why="read by INSERT ... VALUES: read_values parses a literal, not a file"),
    Format(("Template",), read=_TEMPLATE[0], write=_TEMPLATE[1], sql="",
           why="needs its row format (read_template/encode_template's row_format)"),
    Format(("CustomSeparated",), read=_TEMPLATE[0], write=_TEMPLATE[1], sql="",
           why="needs its delimiters: formats_longtail.custom_separated_rule builds "
               "the Template row format from them"),
    Format(("CapnProto",), read=_codec("capnproto_fmt", "read_capnproto"),
           write=_codec("capnproto_fmt", "encode_capnproto"), binary=True, sql="",
           why="needs its .capnp schema text and root struct"),
    Format(("Protobuf",), read=_codec("protobuf_shim", "read_protobuf"),
           df_write=_codec("protobuf_shim", "write_protobuf"), sql="", why=_PROTOBUF),
    Format(("ProtobufSingle",), read=_codec("protobuf_shim", "read_protobuf"), sql="", why=_PROTOBUF),
)

_BY_NAME = {n.lower(): f for f in FORMATS for n in f.names}


def lookup(name: str) -> Format:
    f = _BY_NAME.get(name.lower())
    if f is None:
        raise ValueError(f"Unknown format {name}")
    return f


def output(name: str, to_file: bool = True) -> Format:
    """The format the SQL doors write as `name`; a binary one only to a
    file (INTO OUTFILE), never to stdout or an HTTP response."""
    f = lookup(name)
    if f.write is None or "w" not in f.sql:
        raise ValueError(f"FORMAT {name}: {f.why or 'an input-only format'}")
    if f.binary and not to_file:
        raise ValueError(f"FORMAT {name} is binary: write it with INTO OUTFILE '<path>'")
    return f


def _reader(name: str, sql: bool) -> Format:
    f = lookup(name)
    if f.read is None and f.spark is None:
        raise ValueError(f"FORMAT {name} is an output-only format")
    if sql and "r" not in f.sql:
        raise ValueError(f"FORMAT {name}: {f.why}")
    return f


def _source(spark, f: Format, schema):
    """The format's Spark source and a reader with its options and the
    schema (csv infers one when none is given)."""
    src, opts = f.spark
    r = spark.read.options(**opts)
    if schema is not None:
        r = r.schema(schema)
    elif src == "csv":
        r = r.option("inferSchema", "true")
    return src, r


def read(spark, name: str, path: str, schema=None, *, sql: bool = False):
    """A file (or glob, or directory) read as format `name`, typed by
    `schema` (a StructType or DDL string) when given. A SQL door passes
    sql=True and is refused a reader that needs a codec argument."""
    from pyspark.sql.types import StructType

    f = _reader(name, sql)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if f.read is None:
        src, r = _source(spark, f, schema)
        return r.format(src).load(path)
    if f.takes is None:
        return f.read(spark, path.removeprefix("file://"))
    if schema is None:
        raise ValueError(f"FORMAT {name} needs an explicit schema: INSERT INTO <table> "
                         "FROM INFILE reads it with the table's")
    return f.read(spark, path.removeprefix("file://"),
                  _schema_as(f.takes, schema, f"FORMAT {name}"))


def read_inline(spark, name: str, text: str, schema=None):
    """Rows written inline (INSERT ... FORMAT <name> and its rows, the
    format() table function), parsed in the JVM by the format's csv or
    json source."""
    from clickhouse_25_5_3_75_stable_spark.sources import catalog

    f = _reader(name, True)
    if f.read is not None or f.spark[0] not in ("csv", "json"):
        raise ValueError(f"FORMAT {name} is not read inline: use INSERT ... FROM INFILE")
    src, r = _source(spark, f, schema)
    return catalog.read_text(spark, r, src, text)


def collect(df, what: str) -> list:
    """The export writers' one driver collection: at most
    DRIVER_EXPORT_MAX_ROWS rows, in a single execution."""
    rows = df.limit(DRIVER_EXPORT_MAX_ROWS + 1).collect()
    if len(rows) > DRIVER_EXPORT_MAX_ROWS:
        raise ValueError(
            f"{what}: result exceeds the driver-export cap of {DRIVER_EXPORT_MAX_ROWS} "
            "rows. These single-file formats are collected on the driver; use "
            "df.write.parquet(...) for large results.")
    return rows


def write(df, path: str, name: str, **options) -> None:
    """Write `df` as format `name`: a DataFrame writer when the format
    has one, else one file from one collection and the encoder, else
    the Spark source's directory. `options` go to the codec."""
    f = lookup(name)
    if f.df_write is not None:
        f.df_write(df, path, **options)
    elif f.write is not None:
        data = f.write(collect(df, f"FORMAT {name}"), df.schema, **options)
        with open(path, "wb") as fh:
            fh.write(data if isinstance(data, bytes) else data.encode())
    elif f.spark is not None:
        src, opts = f.spark
        df.write.format(src).options(**opts, **options).mode("overwrite").save(path)
    else:
        raise ValueError(f"FORMAT {name} is an input-only format")


def system_rows() -> list[tuple]:
    """system.formats: (name, is_input, is_output, exclusion_reason),
    one row per name."""
    rows = []
    for f in FORMATS:
        i = int(f.spark is not None or f.read is not None)
        o = int(f.spark is not None or f.write is not None or f.df_write is not None)
        rows += [(n, i, o, f.why) for n in f.names]
    return rows + [(n, 0, 0, why) for n, why in sorted(FORMAT_EXCLUSIONS.items())]
