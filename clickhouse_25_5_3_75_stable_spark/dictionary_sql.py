"""CREATE DICTIONARY + dictGet on the SQL-text surface.

Reference: `src/Interpreters/InterpreterCreateQuery.cpp` (dictionary
branch), `src/Dictionaries/getDictionaryConfigurationFromAST.cpp`
(the CREATE DICTIONARY grammar: attribute list with DEFAULT, PRIMARY
KEY, SOURCE(...), LAYOUT(...), LIFETIME(...), RANGE(MIN .. MAX ..)),
`src/Functions/FunctionsExternalDictionaries.h` (dictGet /
dictGetOrDefault / dictGetOrNull / dictHas and the typed
dictGet<Type> family).

Spark mapping: a dictionary over a catalog table is a broadcast-side
lookup — dictGet rewrites to a CORRELATED SCALAR AGGREGATE SUBQUERY
against a `__dict_<name>` temp view; Catalyst decorrelates it into a
left outer join and broadcasts the dictionary side (dimension-sized by
construction), which is exactly the hash-lookup plan the reference's
HashedDictionary executes. No driver-side map literal, no UDF: at
100 TB the fact side streams once past a broadcast dict.

Subset notes (each refusal names the builder API that covers it):
- SOURCE(CLICKHOUSE(TABLE 't')) reads the session catalog table `t`
  (any registered view — testdata, DDL tables, lake reads). Other
  sources (HTTP/MYSQL/FILE...) refuse toward sources/external.py.
- LAYOUT FLAT/HASHED/SPARSE_HASHED/COMPLEX_KEY_HASHED/DIRECT share
  the same Spark plan (one equi-lookup); RANGE_HASHED adds the
  BETWEEN predicate from RANGE(MIN .. MAX ..). IP_TRIE and POLYGON
  need the specialized operators (operators/dictionary.py) — refuse
  by name there.
- Duplicate source keys: the reference's build keeps one arbitrary
  row; this engine resolves with max() per attribute (deterministic
  everywhere), documented divergence.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class SqlDictionary:
    name: str
    source_table: str | None
    keys: list[str]
    # attr name -> (ch_type, default SQL literal or None)
    attrs: dict[str, tuple[str, str | None]] = field(default_factory=dict)
    layout: str = "hashed"
    range_min: str | None = None
    range_max: str | None = None
    hier_attr: str | None = None  # the HIERARCHICAL parent-key attribute
    source_file: tuple[str, str] | None = None  # (path, format)


SQL_DICTIONARIES: dict[str, SqlDictionary] = {}

_NUMERIC_T = re.compile(
    r"^(U?Int(8|16|32|64)|Float(32|64)|Decimal.*|Bool)$", re.IGNORECASE)

_LAYOUTS_OK = {
    "flat", "hashed", "sparse_hashed", "complex_key_hashed",
    "complex_key_sparse_hashed", "direct", "range_hashed", "hashed_array",
}
_LAYOUTS_SPECIAL = {
    "ip_trie": "operators/dictionary.IPTrieDictionary",
    "polygon": "operators/dictionary.PolygonDictionary",
    "polygon_simple": "operators/dictionary.PolygonDictionary",
}


def type_default_sql(ch_type: str) -> str:
    """The reference's zero default for an attribute type (absent
    DEFAULT clause): 0 for numerics, '' for strings, the epoch for
    date/datetime."""
    t = ch_type.strip()
    if _NUMERIC_T.match(t):
        return "0"
    if t.lower().startswith("datetime"):
        return "toDateTime(0)"
    if t.lower().startswith("date"):
        return "toDate(0)"
    return "''"


def parse_create_dictionary(sql: str):
    """Parse CREATE DICTIONARY; returns SqlDictionary or None when the
    statement is something else."""
    m = re.match(
        r"^\s*CREATE\s+DICTIONARY\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_]\w*)\s*\((?P<attrs>.*?)\)\s*"
        r"PRIMARY\s+KEY\s+(?P<keys>[\w\s,]+?)\s*"
        r"SOURCE\s*\(\s*(?P<src_kind>\w+)\s*\((?P<src>[^)]*)\)\s*\)\s*"
        r"(?P<tail>.*?);?\s*$",
        sql, re.IGNORECASE | re.DOTALL,
    )
    if m is None:
        if re.match(r"^\s*CREATE\s+DICTIONARY\b", sql, re.IGNORECASE):
            from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

            raise ChSqlError(
                "CREATE DICTIONARY: expected `CREATE DICTIONARY name "
                "(attr Type [DEFAULT lit], ...) PRIMARY KEY k "
                "SOURCE(CLICKHOUSE(TABLE 't')) LAYOUT(...) "
                "[RANGE(MIN c MAX c)] [LIFETIME(...)]`")
        return None
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

    name = m.group(1)
    src_kind = m.group("src_kind").upper()
    source_table = None
    source_file = None
    if src_kind == "CLICKHOUSE":
        tm = re.search(r"TABLE\s+'([^']+)'", m.group("src"), re.IGNORECASE)
        if tm is None:
            raise ChSqlError("SOURCE(CLICKHOUSE(...)): expected TABLE 'name'")
        source_table = tm.group(1)
    elif src_kind == "FILE":
        # reference FileDictionarySource: SOURCE(FILE(PATH 'p'
        # FORMAT 'CSVWithNames'))
        pm = re.search(r"PATH\s+'([^']+)'", m.group("src"), re.IGNORECASE)
        fm = re.search(r"FORMAT\s+'([^']+)'", m.group("src"), re.IGNORECASE)
        if pm is None:
            raise ChSqlError("SOURCE(FILE(...)): expected PATH 'path'")
        source_file = (pm.group(1),
                       (fm.group(1) if fm else "CSVWithNames").lower())
    else:
        raise ChSqlError(
            f"SOURCE({src_kind}(...)): CLICKHOUSE (catalog table) and "
            "FILE (local file) are served; other sources go through "
            "sources/external.py")

    tail = m.group("tail")
    lm = re.search(r"LAYOUT\s*\(\s*(\w+)\s*\(", tail, re.IGNORECASE)
    layout = (lm.group(1).lower() if lm else "hashed")
    if layout in _LAYOUTS_SPECIAL:
        raise ChSqlError(
            f"LAYOUT({layout.upper()}): use the specialized builder "
            f"({_LAYOUTS_SPECIAL[layout]}) — the SQL route serves the "
            "equi-lookup layouts")
    if layout not in _LAYOUTS_OK:
        raise ChSqlError(f"LAYOUT({layout.upper()}): unknown layout")

    range_min = range_max = None
    rm = re.search(r"RANGE\s*\(\s*MIN\s+(\w+)\s+MAX\s+(\w+)\s*\)",
                   tail, re.IGNORECASE)
    if rm is not None:
        range_min, range_max = rm.group(1), rm.group(2)
    if layout == "range_hashed" and range_min is None:
        raise ChSqlError("LAYOUT(RANGE_HASHED()) needs RANGE(MIN c MAX c)")

    keys = [k.strip() for k in m.group("keys").split(",") if k.strip()]
    attrs: dict[str, tuple[str, str | None]] = {}
    hier_attr = None
    for part in _split_top_commas(m.group("attrs")):
        am = re.match(
            r"^\s*([A-Za-z_]\w*)\s+([\w()0-9, ]+?)"
            r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?"
            r"(?P<hier>\s+HIERARCHICAL)?\s*$",
            part, re.IGNORECASE | re.DOTALL,
        )
        if am is None:
            raise ChSqlError(f"CREATE DICTIONARY: bad attribute {part!r}")
        attrs[am.group(1)] = (am.group(2).strip(), am.group("dflt"))
        if am.group("hier"):
            if hier_attr is not None:
                raise ChSqlError(
                    "CREATE DICTIONARY: at most one HIERARCHICAL attribute")
            hier_attr = am.group(1)
    for k in keys:
        attrs.pop(k, None)  # keys are not gettable attributes
    for r in (range_min, range_max):
        if r:
            attrs.pop(r, None)
    if not attrs:
        raise ChSqlError("CREATE DICTIONARY: no non-key attributes")
    if hier_attr and len(keys) != 1:
        raise ChSqlError("HIERARCHICAL needs a single-column key")
    return SqlDictionary(
        name=name, source_table=source_table, keys=keys, attrs=attrs,
        layout=layout, range_min=range_min, range_max=range_max,
        hier_attr=hier_attr, source_file=source_file,
    )


def _split_top_commas(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur))
    return out


def register_dictionary(spark: SparkSession, d: SqlDictionary) -> None:
    """Validate the source and publish: the SQL registry (dictGet
    rewrites), the live-object registry (system.dictionaries), and the
    `__dict_<name>` temp view the scalar subqueries read."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import (
        DICTIONARY_REGISTRY,
    )

    if d.source_file is not None:
        src = _read_file_source(spark, d)
    else:
        try:
            src = spark.table(d.source_table)
        except Exception:
            raise ChSqlError(
                f"CREATE DICTIONARY {d.name}: source table "
                f"{d.source_table!r} is not in the session catalog")
    missing = [c for c in (*d.keys, *d.attrs,
                           *(r for r in (d.range_min, d.range_max) if r))
               if c not in src.columns]
    if missing:
        raise ChSqlError(
            f"CREATE DICTIONARY {d.name}: source {d.source_table!r} "
            f"lacks columns {missing}")
    SQL_DICTIONARIES[d.name] = d
    src.createOrReplaceTempView(f"__dict_{d.name}")
    if d.hier_attr:
        _build_hierarchy_view(spark, d, src)

    # live-object registry entry (system.dictionaries): a thin shim
    # with the attributes the system table reads
    class _LiveDict:
        pass

    live = _LiveDict()
    live.name = d.name
    live.layout = d.layout
    live.key = ",".join(d.keys)
    live.source = src.select(*d.keys, *d.attrs)
    DICTIONARY_REGISTRY[d.name] = live


_CH_TO_SPARK_T = {
    "uint8": "int", "uint16": "int", "uint32": "bigint",
    "uint64": "bigint", "int8": "tinyint", "int16": "smallint",
    "int32": "int", "int64": "bigint", "float32": "float",
    "float64": "double", "string": "string", "date": "date",
    "datetime": "timestamp", "bool": "boolean",
}


def _read_file_source(spark: SparkSession, d: SqlDictionary):
    """SOURCE(FILE(PATH .. FORMAT ..)) — reference FileDictionarySource
    (src/Dictionaries/FileDictionarySource.cpp): the file reads through
    its format's Spark source in `formats.FORMATS` and every declared
    column casts to its declared type (the dict definition IS the
    schema, like the reference's attribute list)."""
    import os

    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.sources import formats

    path, fmt = d.source_file
    if not os.path.exists(path):
        raise ChSqlError(
            f"CREATE DICTIONARY {d.name}: source file {path!r} not found")
    # the format's Spark source, with no schema inference: a declared
    # String keeps its text as written (007 stays 007)
    spark_src = formats.lookup(fmt).spark
    if spark_src is None:
        raise ChSqlError(
            f"SOURCE(FILE(... FORMAT '{fmt}')): formats a Spark source reads "
            "(CSV, TabSeparated, JSONEachRow, Parquet, ... [WithNames]) are served")
    src = spark.read.options(**spark_src[1]).format(spark_src[0]).load(path)
    declared = {**{k: None for k in d.keys}, **d.attrs}
    for col in declared:
        if col not in src.columns:
            raise ChSqlError(
                f"CREATE DICTIONARY {d.name}: file lacks column {col!r} "
                f"(has {src.columns})")
    casts = []
    for col in src.columns:
        if col in d.attrs:
            ch_t = d.attrs[col][0]
            spark_t = _CH_TO_SPARK_T.get(ch_t.lower(), "string")
            casts.append(F.col(col).cast(spark_t).alias(col))
        elif col in d.keys or col in (d.range_min, d.range_max):
            casts.append(F.col(col).cast("bigint").alias(col)
                         if col in d.keys else F.col(col))
        else:
            casts.append(F.col(col))
    return src.select(*casts)


def _build_hierarchy_view(spark: SparkSession, d: SqlDictionary, src) -> None:
    """Precompute the hierarchy closure for HIERARCHICAL dictionaries
    (reference HierarchyDictionariesUtils.h walks parent pointers at
    query time over the in-memory dict): ancestors chain (key first,
    walk stops at 0/NULL/missing/cycle), direct children, and all
    descendants, one row per key in a `__dict_<name>__hier` view.
    Dictionaries are broadcast-sized by contract, so the closure
    builds driver-side from one bounded collect — the same memory
    class as the reference's in-memory hierarchy."""
    key, parent = d.keys[0], d.hier_attr
    pairs = {r[0]: r[1] for r in src.select(key, parent).collect()}

    ancestors: dict = {}
    for k in pairs:
        chain = [k]
        seen = {k}
        cur = pairs.get(k)
        while cur is not None and cur != 0 and cur in pairs and cur not in seen:
            chain.append(cur)
            seen.add(cur)
            cur = pairs.get(cur)
        if cur is not None and cur != 0 and cur not in pairs:
            chain.append(cur)  # parent outside the dict still reported
        ancestors[k] = chain

    children: dict = {k: [] for k in pairs}
    for k, p in pairs.items():
        if p is not None and p != 0 and p in children:
            children[p].append(k)
    descendants: dict = {}

    def desc(k, guard=None):
        if k in descendants:
            return descendants[k]
        guard = guard or set()
        if k in guard:
            return []
        guard.add(k)
        out = []
        for c in sorted(children.get(k, [])):
            out.append(c)
            out.extend(desc(c, guard))
        descendants[k] = out
        return out

    for k in pairs:
        desc(k)
    rows = [
        (k, ancestors[k], sorted(children[k]), descendants[k])
        for k in sorted(pairs)
    ]
    spark.createDataFrame(
        rows,
        f"__k long, ancestors array<long>, children array<long>, "
        f"descendants array<long>",
    ).createOrReplaceTempView(f"__dict_{d.name}__hier")


def drop_dictionary(spark: SparkSession, name: str, if_exists: bool) -> None:
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError
    from clickhouse_25_5_3_75_stable_spark.operators.dictionary import (
        DICTIONARY_REGISTRY,
    )

    if name not in SQL_DICTIONARIES:
        if if_exists:
            return
        raise ChSqlError(f"DROP DICTIONARY: unknown dictionary {name!r}")
    d = SQL_DICTIONARIES.pop(name)
    DICTIONARY_REGISTRY.pop(name, None)
    spark.catalog.dropTempView(f"__dict_{name}")
    if d.hier_attr:
        spark.catalog.dropTempView(f"__dict_{name}__hier")


_DICT_FN_RE = re.compile(
    r"\bdict(GetHierarchy|GetChildren|GetDescendants|GetOrDefault"
    r"|GetOrNull|GetString|GetInt8|GetInt16"
    r"|GetInt32|GetInt64|GetUInt8|GetUInt16|GetUInt32|GetUInt64"
    r"|GetFloat32|GetFloat64|GetDate|GetDateTime|Get|Has|IsIn)\s*\(",
)

_TYPED_CAST = {
    "getstring": "toString", "getint8": "toInt8", "getint16": "toInt16",
    "getint32": "toInt32", "getint64": "toInt64", "getuint8": "toUInt8",
    "getuint16": "toUInt16", "getuint32": "toUInt32",
    "getuint64": "toUInt64", "getfloat32": "toFloat32",
    "getfloat64": "toFloat64", "getdate": "toDate",
    "getdatetime": "toDateTime",
}


def rewrite_dict_calls(sql: str) -> str:
    """Rewrite dictGet-family calls to correlated scalar aggregate
    subqueries over `__dict_<name>` views (still CH-dialect text — the
    normal transpile runs afterwards). Processes innermost-first so
    nested dictGet chains compose."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError

    changed = True
    guard = 0
    while changed and guard < 50:
        changed = False
        guard += 1
        for m in list(_DICT_FN_RE.finditer(sql)):
            inner = _DICT_FN_RE.search(sql, m.start() + 1)
            if inner and inner.start() < _match_paren_str(sql, m.end() - 1):
                continue  # rewrite the innermost call first
            close = _match_paren_str(sql, m.end() - 1)
            args = _split_top_commas(sql[m.end():close])
            kind = m.group(1).lower()
            repl = _render_dict_call(kind, [a.strip() for a in args],
                                     ChSqlError)
            sql = sql[:m.start()] + repl + sql[close + 1:]
            changed = True
            break
    return sql


def _match_paren_str(s: str, open_i: int) -> int:
    depth = 0
    in_str = False
    for i in range(open_i, len(s)):
        ch = s[i]
        if in_str:
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ValueError("unbalanced parentheses in dictGet call")


def _render_dict_call(kind: str, args: list[str], ChSqlError) -> str:
    def lit_name(a: str, what: str) -> str:
        lm = re.match(r"^'([^']+)'$", a)
        if lm is None:
            raise ChSqlError(f"dict{kind}: {what} must be a string literal")
        return lm.group(1)

    min_args = {"has": 2, "gethierarchy": 2, "getchildren": 2,
                "getdescendants": 2, "isin": 3}.get(kind, 3)
    if len(args) < min_args:
        raise ChSqlError(f"dict{kind.capitalize()}: too few arguments")
    dname = lit_name(args[0], "dictionary name")
    d = SQL_DICTIONARIES.get(dname)
    if d is None:
        raise ChSqlError(
            f"unknown dictionary {dname!r} — CREATE DICTIONARY first "
            f"(known: {sorted(SQL_DICTIONARIES)})")
    if any("__dict_" in a for a in args[1:]):
        # a dictGet nested inside another's arguments would correlate
        # the fact column TWO subquery levels deep — Spark cannot
        # decorrelate that. One level per derived table works:
        raise ChSqlError(
            "nested dictGet chains: compute the inner lookup in a "
            "derived table first — SELECT dictGet('outer_dict', 'attr', x) "
            "FROM (SELECT dictGet('inner_dict', 'attr', k) AS x FROM t)")

    view = f"__dict_{dname}"

    def key_pred(key_expr: str) -> str:
        if len(d.keys) == 1:
            return f"{view}.{d.keys[0]} = ({key_expr})"
        tm = re.match(r"^\s*(?:tuple\s*)?\((.*)\)\s*$",
                      key_expr, re.IGNORECASE | re.DOTALL)
        parts = (_split_top_commas(tm.group(1)) if tm else None)
        if not parts or len(parts) != len(d.keys):
            raise ChSqlError(
                f"dictionary {dname!r} has composite key "
                f"({', '.join(d.keys)}) — pass tuple(...) with "
                f"{len(d.keys)} elements")
        return " AND ".join(
            f"{view}.{k} = ({p.strip()})" for k, p in zip(d.keys, parts))

    if kind == "has":
        return (f"(CASE WHEN (SELECT count(*) FROM {view} "
                f"WHERE {key_pred(args[1])}) > 0 THEN 1 ELSE 0 END)")

    if kind in ("gethierarchy", "getchildren", "getdescendants", "isin"):
        # reference FunctionsExternalDictionaries.h hierarchy family
        # over the precomputed closure view (_build_hierarchy_view)
        if d.hier_attr is None:
            raise ChSqlError(
                f"dictionary {dname!r} has no HIERARCHICAL attribute")
        hview = f"__dict_{dname}__hier"
        if kind == "isin":
            # child is (or descends from) ancestor; missing child: only
            # child == ancestor holds (the self chain)
            child, anc = args[1], args[2]
            return (
                f"(CASE WHEN coalesce((SELECT CASE WHEN "
                f"has({hview}.ancestors, ({anc})) THEN 1 ELSE 0 END "
                f"FROM {hview} WHERE {hview}.__k = ({child})), "
                f"CASE WHEN ({child}) = ({anc}) THEN 1 ELSE 0 END) = 1 "
                f"THEN 1 ELSE 0 END)")
        col = {"gethierarchy": "ancestors", "getchildren": "children",
               "getdescendants": "descendants"}[kind]
        sub = (f"(SELECT {hview}.{col} FROM {hview} "
               f"WHERE {hview}.__k = ({args[1]}))")
        if kind == "gethierarchy":
            # missing key: the walk reports just the key itself
            return f"coalesce({sub}, array(({args[1]})))"
        # missing key: no children/descendants — typed empty array
        return f"coalesce({sub}, arraySlice(array(({args[1]})), 1, 0))"

    attr = lit_name(args[1], "attribute name")
    if attr not in d.attrs:
        raise ChSqlError(
            f"dictionary {dname!r} has no attribute {attr!r} "
            f"(attributes: {sorted(d.attrs)})")
    ch_type, default = d.attrs[attr]

    range_arg = None
    default_arg = None
    if d.range_min:
        if len(args) < 4:
            raise ChSqlError(
                f"dictionary {dname!r} is RANGE_HASHED — dictGet needs "
                "a 4th range-point argument")
        range_arg = args[3]
        if kind == "getordefault":
            if len(args) < 5:
                raise ChSqlError("dictGetOrDefault(range dict): 5 args")
            default_arg = args[4]
    elif kind == "getordefault":
        if len(args) < 4:
            raise ChSqlError("dictGetOrDefault: 4 arguments")
        default_arg = args[3]

    pred = key_pred(args[2])
    if range_arg is not None:
        # reference RangeHashedDictionary: range_min <= x <= range_max
        pred += (f" AND {view}.{d.range_min} <= ({range_arg})"
                 f" AND ({range_arg}) <= {view}.{d.range_max}")
    # max() resolves duplicate keys deterministically (documented);
    # single-key dictionaries built from clean dims see one row anyway
    sub = f"(SELECT max({view}.{attr}) FROM {view} WHERE {pred})"
    if kind == "getornull":
        out = sub
    elif kind == "getordefault":
        out = f"coalesce({sub}, ({default_arg}))"
    else:
        fallback = default if default is not None else type_default_sql(ch_type)
        out = f"coalesce({sub}, {fallback})"
    cast = _TYPED_CAST.get(kind)
    if cast:
        out = f"{cast}({out})"
    return out
