"""FORMAT Template / CustomSeparated — placeholder-driven text format
(SURVEY §2.1 formats; reference /root/reference/src/Formats/
registerFormats.cpp:61-62,145 Template input/output + schema reader;
row syntax per src/Formats/ParsedTemplateFormatString.h).

A row format string contains literal text and ``${column:Escaping}``
placeholders; rows are joined by a delimiter; an optional resultset
format wraps the rows at the ``${data}`` placeholder. Supported
escaping rules (the reference's set, XML excluded — documented):

- ``Raw`` / ``None`` — verbatim
- ``Escaped``        — TSV escaping (backslash for \\t \\n \\\\)
- ``Quoted``         — SQL-style single quotes, backslash escapes
- ``CSV``            — RFC double-quote when needed
- ``JSON``           — json.dumps

Writes encode rows collected on the driver (`formats.collect`); reads
parse in EXECUTORS (binaryFile + mapInPandas) with a regex compiled
from the row format."""

from __future__ import annotations

import json
import re
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession

_PLACEHOLDER = re.compile(r"\$\{([^}:]*)(?::([A-Za-z]+))?\}")
_RULES = {"raw", "none", "escaped", "quoted", "csv", "json"}


def parse_row_format(fmt: str) -> list[tuple[str, str | None, str]]:
    """[(literal_before, column_or_None, rule), ...] + trailing literal
    encoded as (lit, None, 'raw')."""
    out: list[tuple[str, str | None, str]] = []
    pos = 0
    for m in _PLACEHOLDER.finditer(fmt):
        rule = (m.group(2) or "raw").lower()
        if rule not in _RULES:
            raise ValueError(f"Template: unsupported escaping rule {m.group(2)!r}")
        out.append((fmt[pos:m.start()], m.group(1) or None, rule))
        pos = m.end()
    out.append((fmt[pos:], None, "raw"))
    return out


def _escape(v, rule: str) -> str:
    if v is None:
        return "\\N" if rule == "escaped" else ("null" if rule == "json" else "NULL")
    if isinstance(v, (datetime, date)):
        v = str(v)
    if rule in ("raw", "none"):
        return str(v)
    if rule == "escaped":
        return str(v).replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    if rule == "quoted":
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return str(v)
    if rule == "csv":
        s = str(v)
        if any(c in s for c in ",\"\n"):
            return '"' + s.replace('"', '""') + '"'
        return s
    if rule == "json":
        return json.dumps(v)
    raise AssertionError(rule)


def _unescape(s: str, rule: str):
    if rule in ("raw", "none"):
        return s
    if rule == "escaped":
        if s == "\\N":
            return None
        return s.replace("\\n", "\n").replace("\\t", "\t").replace("\\\\", "\\")
    if rule == "quoted":
        if s == "NULL":
            return None
        if s.startswith("'") and s.endswith("'"):
            return s[1:-1].replace("\\'", "'").replace("\\\\", "\\")
        return s
    if rule == "csv":
        if s.startswith('"') and s.endswith('"'):
            return s[1:-1].replace('""', '"')
        return s
    if rule == "json":
        return json.loads(s)
    raise AssertionError(rule)


def format_row(row: dict, parts: list[tuple[str, str | None, str]]) -> str:
    out = []
    for lit, col, rule in parts:
        out.append(lit)
        if col is not None:
            out.append(_escape(row[col], rule))
    return "".join(out)


def encode_template(
    rows,
    schema,
    row_format: str,
    resultset_format: str = "${data}",
    row_delimiter: str = "\n",
) -> str:
    """FORMAT Template output of collected rows."""
    parts = parse_row_format(row_format)
    body = row_delimiter.join(
        format_row(dict(zip(schema.names, r)), parts) for r in rows
    )
    m = _PLACEHOLDER.search(resultset_format)
    if not m or m.group(1) != "data":
        raise ValueError("Template: resultset format needs a ${data} placeholder")
    return resultset_format[:m.start()] + body + resultset_format[m.end():]


def _row_regex(parts: list[tuple[str, str | None, str]]) -> re.Pattern:
    """Regex with one group per placeholder. Quoted/CSV/JSON strings
    match their delimited form; Raw/Escaped match lazily up to the next
    literal."""
    rx = []
    for i, (lit, col, rule) in enumerate(parts):
        rx.append(re.escape(lit))
        if col is None:
            continue
        if rule == "quoted":
            rx.append(r"((?:'(?:\\.|[^'])*')|NULL|[^,;\n]*)")
        elif rule == "csv":
            rx.append(r"((?:\"(?:[^\"]|\"\")*\")|[^,;\n]*?)")
        elif rule == "json":
            rx.append(r"((?:\"(?:\\.|[^\"])*\")|[-0-9.eE+]+|null|true|false)")
        else:
            rx.append(r"(.*?)")
    return re.compile("^" + "".join(rx) + "$", re.DOTALL)


def read_template(
    spark: SparkSession,
    path_glob: str,
    row_format: str,
    schema: str,
    resultset_format: str = "${data}",
    row_delimiter: str = "\n",
) -> DataFrame:
    """FORMAT Template input: strip the resultset wrapper, split rows on
    the delimiter, parse each with the compiled row regex, coerce to
    the Spark DDL `schema`. Parsing runs in EXECUTORS."""
    import pandas as pd
    from pyspark.sql.types import StructType

    parts = parse_row_format(row_format)
    cols_in_fmt = [c for _, c, _ in parts if c is not None]
    rules = {c: r for _, c, r in parts if c is not None}
    rx = _row_regex(parts)
    m = _PLACEHOLDER.search(resultset_format)
    if not m or m.group(1) != "data":
        raise ValueError("Template: resultset format needs a ${data} placeholder")
    prefix = resultset_format[:m.start()]
    suffix = resultset_format[m.end():]

    struct_t = StructType.fromDDL(schema)
    names = [f.name for f in struct_t.fields]
    kinds = {f.name: f.dataType.simpleString() for f in struct_t.fields}

    def _coerce(v, kind: str):
        if v is None:
            return None
        if kind in ("bigint", "int", "smallint", "tinyint"):
            return int(v)
        if kind in ("double", "float"):
            return float(v)
        if kind == "boolean":
            return v if isinstance(v, bool) else str(v).lower() in ("1", "true")
        if kind == "date":
            return date.fromisoformat(str(v))
        if kind == "timestamp":
            return datetime.fromisoformat(str(v))
        return v if isinstance(v, str) else str(v)

    files = spark.read.format("binaryFile").load(path_glob).select("content")

    def decode(it):
        for pdf in it:
            for buf in pdf["content"]:
                text = bytes(buf).decode("utf-8")
                if prefix and text.startswith(prefix):
                    text = text[len(prefix):]
                if suffix and text.endswith(suffix):
                    text = text[:len(text) - len(suffix)]
                rows = []
                for line in text.split(row_delimiter):
                    if not line:
                        continue
                    mm = rx.match(line)
                    if not mm:
                        raise ValueError(f"Template: row does not match format: {line!r}")
                    vals = {c: _unescape(g, rules[c])
                            for c, g in zip(cols_in_fmt, mm.groups())}
                    rows.append([_coerce(vals.get(n), kinds[n]) for n in names])
                if rows:
                    yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(decode, struct_t)
