"""Format long-tail batch: the remaining small text/JSON formats from
the reference registry (SURVEY §2.1; /root/reference/src/Formats/
registerFormats.cpp:26-105 — LineAsString, JSONAsString, TSKV,
JSONCompactEachRow, JSONCompact, JSONColumns, JSONCompactColumns,
JSONObjectEachRow, RawBLOB, One, Form, Null, Markdown, Vertical,
SQLInsert, ParquetMetadata, CustomSeparated). `sources/formats.py` binds
these codecs to their format names; HiveText is a csv-source row there.

Tiering follows the established format policy (formats_extra.py):

- **Distributed reads** where the format is line-delimited
  (LineAsString / JSONAsString / TSKV / JSONCompactEachRow):
  ``spark.read.text`` + JVM expressions — splittable, scan-tier, no
  Python in the row path.
- **Whole-document formats** (JSONCompact / JSONColumns /
  JSONCompactColumns / JSONObjectEachRow / Form): one document per
  FILE; read via binaryFile + executor-side decode (mapInPandas), so
  many files still parallelize — the same contract as RowBinary/
  MsgPack/Avro shims.
- **Output-only human formats** (Markdown / Vertical / SQLInsert /
  Prometheus): encoders of rows collected on the driver (the front
  door's result, or `formats.collect` under its row cap); these exist
  for result *presentation*, never for data interchange at scale (CH
  positions them identically).
- **Null** output -> Spark's native ``noop`` sink (runs the plan,
  discards rows — same semantics as the reference's Null format).
- **One** -> a literal 1-row/1-column (dummy UInt8=0) table, the
  format twin of system.one.
- **ParquetMetadata** -> footer stats per file via pyarrow, decoded
  executor-side over the file list (column subset of the reference's
  output schema, same names).
- **CustomSeparated** -> a Template rule built from the uniform
  delimiter options (bridges to template_fmt.py, which owns escaping).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Distributed line-delimited reads
# ---------------------------------------------------------------------------


def read_line_as_string(spark: SparkSession, path: str) -> DataFrame:
    """LineAsString: every line -> one row, single String column
    ``line`` (the reference's schema-reader column name)."""
    return spark.read.text(path).withColumnRenamed("value", "line")


def read_json_as_string(spark: SparkSession, path: str) -> DataFrame:
    """JSONAsString over line-delimited objects: each line is kept as
    the raw JSON text in column ``json``. (The reference also accepts
    multi-line pretty objects; line-delimited is the splittable form —
    pretty files go through read_json_compact-style whole-file shims.)
    """
    return (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .select(F.col("value").alias("json"))
    )


_TSKV_UNESC = [("\\\\t", "\t"), ("\\\\n", "\n"), ("\\\\r", "\r"),
               ("\\\\=", "="), ("\\\\\\\\", "\\\\")]


def read_tskv(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """TSKV: ``key=value<TAB>key=value`` lines (registerFormats.cpp
    TSKV entries). Missing keys -> NULL. Values unescape the TSKV set
    (\\t \\n \\r \\= \\\\) — done JVM-side after map extraction."""
    df = spark.read.text(path)
    # split on TABs, then each pair on the FIRST '=' (keys can't hold
    # '='; escaped '\=' inside values survives because we unescape
    # after the split)
    pairs = F.expr(
        "map_from_entries(transform(split(value, '\t'), "
        "p -> struct(substring_index(p, '=', 1), "
        "substring(p, length(substring_index(p, '=', 1)) + 2))))"
    )
    out = df.select(pairs.alias("m"))
    cols = []
    for c in columns:
        v = F.col("m").getItem(c)
        for esc, raw in _TSKV_UNESC:
            v = F.regexp_replace(v, esc, raw)
        cols.append(v.alias(c))
    return out.select(*cols)


def write_tskv(df: DataFrame, path: str) -> None:
    cols = []
    for c in df.columns:
        v = F.col(c).cast("string")
        v = F.regexp_replace(v, "\\\\", "\\\\\\\\")
        v = F.regexp_replace(v, "\t", "\\\\t")
        v = F.regexp_replace(v, "\n", "\\\\n")
        cols.append(F.concat(F.lit(c + "="), F.coalesce(v, F.lit(""))))
    df.select(F.concat_ws("\t", *cols).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def read_json_compact_each_row(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSONCompactEachRow: one JSON array per line, positional columns
    bound by the caller's schema string ('a int, b string, ...')."""
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(schema)
    arr = F.from_json(F.col("value"), "array<string>")
    cols = [
        F.element_at(arr, i + 1).cast(f.dataType).alias(f.name)
        for i, f in enumerate(target.fields)
    ]
    return spark.read.text(path).filter(F.trim("value") != "").select(*cols)


def write_json_compact_each_row(df: DataFrame, path: str) -> None:
    df.select(
        F.to_json(F.array(*[F.col(c).cast("string") for c in df.columns]))
        .alias("value")
    ).write.mode("overwrite").text(path)


def read_raw_blob(spark: SparkSession, path: str) -> DataFrame:
    """RawBLOB: the whole file is ONE value (binary column ``raw``)."""
    return spark.read.format("binaryFile").load(path).select(
        F.col("content").alias("raw")
    )


def encode_raw_blob(rows, schema) -> bytes:
    """RawBLOB output: the single binary/string cell, verbatim."""
    if len(rows) != 1 or len(rows[0]) != 1:
        raise ValueError("RawBLOB output needs exactly one row and one column")
    v = rows[0][0]
    return bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()


def read_one(spark: SparkSession) -> DataFrame:
    """One: a single row with ``dummy`` UInt8 0 — the format twin of
    system.one (registerWithNamesAndTypes One entry)."""
    return spark.range(1).select(F.lit(0).cast("tinyint").alias("dummy"))


# ---------------------------------------------------------------------------
# Whole-document-per-file JSON shims (binaryFile + executor decode)
# ---------------------------------------------------------------------------


def _per_file_json(spark: SparkSession, path: str, schema: str, decode):
    """binaryFile -> mapInPandas(decode(doc) -> list[dict]) with the
    caller's output schema; parallel across files."""
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches):
        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                out.extend(decode(json.loads(bytes(blob).decode("utf-8"))))
            yield pd.DataFrame(out, columns=[f.name for f in target.fields])

    return files.mapInPandas(gen, schema=target)


def read_json_compact(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONCompact: {"meta": [...], "data": [[row arrays]], ...} —
    one document per file."""
    from pyspark.sql.types import StructType

    names = [f.name for f in StructType.fromDDL(schema).fields]

    def decode(doc):
        return [dict(zip(names, row)) for row in doc["data"]]

    return _cast_all(_per_file_json(spark, path, schema, decode), schema)


def read_json_columns(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONColumns: {"col": [values...], ...} columnar document."""
    from pyspark.sql.types import StructType

    names = [f.name for f in StructType.fromDDL(schema).fields]

    def decode(doc):
        n = max((len(v) for v in doc.values()), default=0)
        return [{c: doc.get(c, [None] * n)[i] for c in names} for i in range(n)]

    return _cast_all(_per_file_json(spark, path, schema, decode), schema)


def read_json_compact_columns(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSONCompactColumns: [[col0 values], [col1 values], ...]."""
    from pyspark.sql.types import StructType

    names = [f.name for f in StructType.fromDDL(schema).fields]

    def decode(doc):
        n = max((len(v) for v in doc), default=0)
        return [
            {names[k]: doc[k][i] for k in range(len(names))} for i in range(n)
        ]

    return _cast_all(_per_file_json(spark, path, schema, decode), schema)


def read_json_object_each_row(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """JSONObjectEachRow: {"row_key": {...}, ...} — object-of-objects."""
    from pyspark.sql.types import StructType

    names = [f.name for f in StructType.fromDDL(schema).fields]

    def decode(doc):
        return [{c: row.get(c) for c in names} for row in doc.values()]

    return _cast_all(_per_file_json(spark, path, schema, decode), schema)


def read_form(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Form: application/x-www-form-urlencoded — ONE row per file
    (registerInputFormatForm); keys become columns, %XX decoded."""
    from urllib.parse import parse_qs

    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches):
        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                q = parse_qs(bytes(blob).decode("utf-8"), keep_blank_values=True)
                out.append({c: q.get(c, [None])[0] for c in columns})
            yield pd.DataFrame(out, columns=columns)

    return files.mapInPandas(gen, schema=", ".join(f"{c} string" for c in columns))


def _cast_all(df: DataFrame, schema: str) -> DataFrame:
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(schema)
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
    )


# ---------------------------------------------------------------------------
# Output-only presentation formats (encoders of collected rows)
# ---------------------------------------------------------------------------


def encode_markdown(rows, schema) -> str:
    """Markdown output format: a GitHub pipe table."""
    cols = schema.names
    lines = ["| " + " | ".join(cols) + " |",
             "|" + "|".join(":-:" for _ in cols) + "|"]
    for row in rows:
        lines.append(
            "| " + " | ".join("" if v is None else str(v) for v in row) + " |")
    return "\n".join(lines) + "\n"


def encode_vertical(rows, schema) -> str:
    """Vertical output: one ``col: value`` block per row (the \\G
    form)."""
    cols = schema.names
    w = max(len(c) for c in cols) if cols else 0
    blocks = []
    for k, row in enumerate(rows, 1):
        lines = [f"Row {k}:", "─" * 6]
        for c, v in zip(cols, row):
            lines.append(f"{c.rjust(w)}: {'ᴻᵁᴸᴸ' if v is None else v}")
        blocks.append("\n".join(lines))
    return "\n\n".join(blocks) + "\n"


def encode_sql_insert(rows, schema, table: str = "table", batch: int = 65505) -> str:
    """SQLInsert output: INSERT INTO tbl (cols) VALUES (...), ...;
    batches of ``batch`` rows (the reference's max_batch_size)."""

    def sql_lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "1" if v else "0"
        if isinstance(v, (int, float)):
            return str(v)
        if isinstance(v, (bytes, bytearray)):
            return "x'" + bytes(v).hex() + "'"
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

    head = f"INSERT INTO {table} ({', '.join(schema.names)}) VALUES "
    stmts, cur = [], []
    for row in rows:
        cur.append("(" + ", ".join(sql_lit(v) for v in row) + ")")
        if len(cur) >= batch:
            stmts.append(head + ", ".join(cur) + ";")
            cur = []
    if cur:
        stmts.append(head + ", ".join(cur) + ";")
    return "\n".join(stmts) + "\n"


def write_null(df: DataFrame, path: str | None = None) -> None:
    """Null output format -> Spark's native noop sink: executes the
    full plan distributed, discards every row (benchmarking sink); a
    path is ignored."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# ParquetMetadata (footers as a table) and CustomSeparated bridge
# ---------------------------------------------------------------------------

_PQMETA_SCHEMA = (
    "file string, num_columns bigint, num_rows bigint, num_row_groups bigint, "
    "format_version string, total_compressed_size bigint, "
    "total_uncompressed_size bigint, columns string"
)


def read_parquet_metadata(spark: SparkSession, path: str) -> DataFrame:
    """ParquetMetadata input format (reference ParquetMetadata entry):
    one row per parquet file with footer stats — the column subset of
    the reference's schema, same names. Footers decode executor-side
    over the file list (no data pages are read)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select("path")
    )

    def gen(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                local = p[len("file:"):] if p.startswith("file:") else p
                md = pq.ParquetFile(local).metadata
                comp = sum(
                    md.row_group(g).total_byte_size
                    for g in range(md.num_row_groups)
                )
                uncomp = 0
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    uncomp += sum(
                        rg.column(c).total_uncompressed_size
                        for c in range(rg.num_columns)
                    )
                out.append({
                    "file": p,
                    "num_columns": md.num_columns,
                    "num_rows": md.num_rows,
                    "num_row_groups": md.num_row_groups,
                    "format_version": md.format_version,
                    "total_compressed_size": comp,
                    "total_uncompressed_size": uncomp,
                    "columns": json.dumps(md.schema.names),
                })
            yield pd.DataFrame(
                out, columns=[c.split(" ")[0] for c in _PQMETA_SCHEMA.split(", ")]
            )

    return files.mapInPandas(gen, schema=_PQMETA_SCHEMA)


def custom_separated_rule(
    columns: list[str],
    field_delimiter: str = "\t",
    row_before: str = "",
    row_after: str = "",
    escaping: str = "Escaped",
) -> str:
    """CustomSeparated = Template with one uniform row rule
    (registerCustomSeparated; format_custom_* settings). Returns the
    Template row format string for template_fmt.read_template/
    encode_template, which own escaping-rule semantics and the
    BETWEEN-row delimiter (so row_after defaults empty here)."""
    body = field_delimiter.join(
        "${%s:%s}" % (c, escaping) for c in columns
    )
    return row_before + body + row_after


# ---------------------------------------------------------------------------
# MySQLDump input (reference MySQLDumpRowInputFormat) and Prometheus
# output (reference PrometheusTextOutputFormat)
# ---------------------------------------------------------------------------

_SQL_TUPLE_RE = None  # tokenizer below is stateful, regex won't do


def _parse_sql_values(text: str):
    """Yield value tuples from the body after VALUES: (v, v, ...),
    (...) — numbers, 'strings' (\\-escapes and '' doubling), NULL,
    0xHEX. A deliberate subset: the reference links a full MySQL
    parser; dumps produced by mysqldump stay within this."""
    i, n = 0, len(text)
    while i < n:
        while i < n and text[i] not in "(;":
            i += 1
        if i >= n or text[i] == ";":
            return
        i += 1  # past '('
        vals, cur = [], []

        def flush():
            s = "".join(cur).strip()
            cur.clear()
            if s.upper() == "NULL" or s == "":
                vals.append(None)
            elif s.startswith("0x"):
                vals.append(bytes.fromhex(s[2:]))
            else:
                try:
                    vals.append(int(s))
                except ValueError:
                    vals.append(float(s))

        while i < n:
            c = text[i]
            if c == "'":
                i += 1
                buf = []
                while i < n:
                    if text[i] == "\\" and i + 1 < n:
                        esc = text[i + 1]
                        buf.append({"n": "\n", "t": "\t", "r": "\r",
                                    "0": "\0"}.get(esc, esc))
                        i += 2
                    elif text[i] == "'" and i + 1 < n and text[i + 1] == "'":
                        buf.append("'")
                        i += 2
                    elif text[i] == "'":
                        i += 1
                        break
                    else:
                        buf.append(text[i])
                        i += 1
                vals.append("".join(buf))
                cur.clear()
            elif c == ",":
                if cur and "".join(cur).strip():
                    flush()
                i += 1
            elif c == ")":
                if cur and "".join(cur).strip():
                    flush()
                i += 1
                yield tuple(vals)
                break
            else:
                cur.append(c)
                i += 1


def read_mysql_dump(
    spark: SparkSession, path: str, schema: str, table: str | None = None
) -> DataFrame:
    """MySQLDump input format (reference MySQLDumpRowInputFormat;
    input_format_mysql_dump_table_name): extract the INSERT statements
    — optionally only those targeting ``table`` — and parse their
    VALUES tuples into the caller's schema. Each dump FILE parses in
    an executor (binaryFile + mapInPandas)."""
    import re as _re

    from pyspark.sql.types import StructType

    target = StructType.fromDDL(schema)
    names = [f.name for f in target.fields]
    files = spark.read.format("binaryFile").load(path).select("content")
    tbl_re = (_re.escape(table) if table else r"[^\s(]+")
    ins_re = _re.compile(
        r"INSERT\s+INTO\s+[`\"]?(" + tbl_re + r")[`\"]?"
        r"(?:\s*\([^)]*\))?\s*VALUES\s*",
        _re.IGNORECASE,
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                text = bytes(blob).decode("utf-8", errors="replace")
                for m in ins_re.finditer(text):
                    stop = text.find(";", m.end())
                    body = text[m.end(): stop if stop != -1 else len(text)]
                    for tup in _parse_sql_values(body):
                        tup = tup[: len(names)] + (None,) * (len(names) - len(tup))
                        # stringify for the uniform transfer schema; the
                        # typed cast below restores the caller's schema
                        rows.append(tuple(
                            None if v is None
                            else v.hex() if isinstance(v, bytes)
                            else str(v)
                            for v in tup
                        ))
            yield pd.DataFrame(rows, columns=names, dtype=object)

    df = files.mapInPandas(gen, schema=", ".join(f"{c} string" for c in names))
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
    )


def encode_prometheus(rows, schema) -> str:
    """Prometheus text exposition output (reference
    PrometheusTextOutputFormat): expects columns ``name`` and ``value``
    with optional ``help``/``type``/``labels`` (map) — the reference's
    column contract."""
    if not {"name", "value"} <= set(schema.names):
        raise ValueError("Prometheus output needs 'name' and 'value' columns")
    lines = []
    for row in rows:
        d = dict(zip(schema.names, row))
        if d.get("help"):
            lines.append(f"# HELP {d['name']} {d['help']}")
        if d.get("type"):
            lines.append(f"# TYPE {d['name']} {d['type']}")
        labels = d.get("labels") or {}
        lbl = ("{" + ",".join(f'{k}="{v}"' for k, v in sorted(labels.items()))
               + "}") if labels else ""
        lines.append(f"{d['name']}{lbl} {d['value']}")
    return "\n".join(lines) + "\n"
