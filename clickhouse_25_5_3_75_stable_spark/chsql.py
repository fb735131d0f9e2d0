"""ClickHouse-SQL → Spark-SQL translation shim (SURVEY §3).

The reference's query lifecycle (parse → analyze → plan → execute,
/root/reference/src/Interpreters/executeQuery.cpp:963) is Catalyst's
job in Spark; the piece a migrating user actually needs is the DIALECT:
ClickHouse SQL text with its non-standard clauses and function names
(/root/reference/src/Parsers/ParserSelectQuery.cpp keywords: PREWHERE,
QUALIFY, LIMIT..BY, WITH TOTALS, FORMAT, SETTINGS) run unchanged.

This module is a token-level transpiler for the pragmatic subset:

  clauses   PREWHERE → WHERE conjunct; QUALIFY → wrapping subquery
            filter; LIMIT n BY cols → row_number window wrap;
            FORMAT/SETTINGS suffixes stripped
  casts     toInt*/toFloat*/toString/toDate/toDateTime[OrNull/OrZero]
            → CAST / try_cast / coalesce(try_cast, 0)
  functions a function's SQL text is its Column door's render: a
            functions/dialect.py CH_FUNCTIONS name the session does not
            resolve is applied to placeholder columns, rendered and
            re-parsed at transpile time (_render_call; toYear(d) ->
            year(d)). _RENAMES keeps only the exceptions, each with its
            reason: names the registry lacks (uniq, argMax, numbers, ...)
            and calls the Column door cannot take from SQL text
  parametric  quantile(p)(x) → percentile_approx(x, p),
            quantiles(..)(x) → percentile_approx(x, array(..))
  combinators sumIf/countIf/avgIf/minIf/maxIf → agg(CASE WHEN)

Unsupported constructs raise ``ChSqlError`` with the construct name —
never silently mistranslate. Full coverage of exotic clauses lives in
the DataFrame builders (operators/); this shim is the SQL front door.
"""

from __future__ import annotations

import contextlib
import functools
import re
import weakref

__all__ = ["ch_sql_to_spark", "ch_sql", "ChSqlError"]


def records_errors(fn):
    """Public-API boundary decorator: a ChSqlError escaping `fn` ticks
    system.errors exactly once (see record_chsql_error)."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except ChSqlError as e:
            record_chsql_error(e)
            raise

    return wrapped


class ChSqlError(ValueError):
    """A ClickHouse construct this shim refuses to guess about.

    system.errors accounting happens at the PUBLIC API boundary via
    :func:`record_chsql_error` (round-8 advisor: construction-time
    recording over-counted — ChSqlError is also internal control flow,
    e.g. _match_paren raised and caught inside a rewrite pass, and
    the reference's ErrorCodes.cpp counters only tick for errors that
    actually surface to the client)."""


def record_chsql_error(exc: BaseException) -> None:
    """Feed system.errors for an error ESCAPING a public entry point
    (ch_sql / kql_sql / prql_sql / the CLI): subset refusals count as
    NOT_IMPLEMENTED(48), everything else as SYNTAX_ERROR(62) — the two
    reference codes this shim's failure modes map onto
    (src/Common/ErrorCodes.cpp increments per-code the same way).
    Idempotent per exception instance so nested boundaries (kql_sql
    delegating to ch_sql) count once."""
    if getattr(exc, "_ch_recorded", False):
        return
    try:
        from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
            record_error,
        )

        msg = str(exc.args[0]) if exc.args else ""
        low = msg.lower()
        if "subset" in low or "out of scope" in low or "not implemented" in low:
            record_error("NOT_IMPLEMENTED", 48, msg)
        else:
            record_error("SYNTAX_ERROR", 62, msg)
        exc._ch_recorded = True
    except Exception:  # the registry must never mask the real error
        pass


# ---------------------------------------------------------------------------
# Tokenizer: comments dropped; strings/backtick-idents kept opaque.
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<lcomment>--[^\n]*)
  | (?P<bcomment>/\*.*?\*/)
  | (?P<string>'(?:[^'\\]|\\.|'')*')
  | (?P<bident>`(?:[^`]|``)*`)
  | (?P<number>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?)
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>==|!=|<>|<=|>=|\|\||->|::|[-+*/%(),.<>=\[\]?:])
    """,
    re.VERBOSE | re.DOTALL,
)


def _tokenize(sql: str) -> list[str]:
    out: list[str] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise ChSqlError(f"cannot tokenize at: {sql[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "lcomment", "bcomment"):
            continue
        out.append(m.group())
    return out


# ---------------------------------------------------------------------------
# Rewrite tables
# ---------------------------------------------------------------------------

# 1:1 renames (same arity & argument semantics).
# server-info functions whose value is a TRANSPILE-TIME constant —
# inlined as SQL literals (round-6; the Column registry in
# dialect_extras holds the same facts). Each callable takes the raw
# argument token lists and returns a python value.
def _chconst_value(low: str, args):
    import platform
    import shutil

    # arity guard BEFORE any args[0] (review-found: getMacro() with
    # empty parens raised IndexError, breaking the ChSqlError-only
    # crash contract)
    needs_arg = {"getmaxtablenamelengthfordatabase", "globalvariable",
                 "getclienthttpheader", "getmacro"}
    if low in needs_arg and not args:
        raise ChSqlError(f"{low}: needs a literal string argument")

    def lit_str(a):
        tok = "".join(a).strip()
        if not (tok.startswith("'") and tok.endswith("'")):
            raise ChSqlError(f"{low}: needs a literal string argument")
        return tok[1:-1].replace("''", "'")

    if low in ("filesystemavailable", "filesystemunreserved"):
        return shutil.disk_usage(".").free
    if low == "filesystemcapacity":
        return shutil.disk_usage(".").total
    if low == "getoskernelversion":
        return f"{platform.system()} {platform.release()}"
    if low == "getmaxtablenamelengthfordatabase":
        from clickhouse_25_5_3_75_stable_spark.functions.dialect_extras import (
            _max_table_name_length_py,
        )

        return _max_table_name_length_py(lit_str(args[0]))
    if low == "globalvariable":
        from clickhouse_25_5_3_75_stable_spark.functions.dialect_extras import (
            _GLOBAL_VARIABLES,
        )

        entry = _GLOBAL_VARIABLES.get(lit_str(args[0]).lower())
        v = entry[0] if entry else 0
        return ("int32", v) if isinstance(v, int) else v
    if low == "getclienthttpheader":
        from clickhouse_25_5_3_75_stable_spark import http_server

        return http_server.CURRENT_HTTP_HEADERS.get(lit_str(args[0]), "")
    if low in ("queryid", "query_id", "currentqueryid", "current_query_id",
               "initialqueryid", "initial_query_id"):
        # ClientInfo current_query_id; a library session has no
        # distributed initiator so initial == current (exactly the
        # reference's value on the initiating server)
        from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
            current_query_id,
        )

        return current_query_id()
    if low in ("initialquerystarttime", "initial_query_start_time"):
        from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
            current_query_start_time,
        )

        return ("timestamp",
                current_query_start_time().isoformat(sep=" ", timespec="seconds"))
    if low == "getmacro":
        from clickhouse_25_5_3_75_stable_spark.sources.system_tables import MACROS

        name = lit_str(args[0])
        if name not in MACROS:
            raise ChSqlError(f"getMacro: no macro {name!r} in config")
        return MACROS[name]
    raise ChSqlError(f"unknown chconst {low}")


_CHCONST_FNS = {
    "filesystemavailable", "filesystemunreserved", "filesystemcapacity",
    "getoskernelversion", "getmaxtablenamelengthfordatabase",
    "globalvariable", "getclienthttpheader",
    "queryid", "query_id", "currentqueryid", "current_query_id",
    "initialqueryid", "initial_query_id",
    "initialquerystarttime", "initial_query_start_time", "getmacro",
}


# The exceptions to "a function's SQL text is its Column door's render"
# (_render_call): ClickHouse names CH_FUNCTIONS lacks, and names whose
# Column definition cannot be rendered from SQL text. A plain value is a
# 1:1 Spark rename; a value ending in __ is a structural rewrite in
# _rewrite_functions.
_RENAMES = {
    # aggregates and table functions: not in CH_FUNCTIONS
    "uniq": "approx_count_distinct",
    "uniqhll12": "approx_count_distinct",
    "uniqcombined": "approx_count_distinct",
    "uniqcombined64": "approx_count_distinct",
    "any": "any_value",
    "anylast": "last_value",
    "anyheavy": "mode",
    "argmin": "min_by",
    "argmax": "max_by",
    "grouparray": "collect_list",
    "groupuniqarray": "collect_set",
    "groupbitand": "bit_and",
    "groupbitor": "bit_or",
    "groupbitxor": "bit_xor",
    "stddevpop": "stddev_pop",
    "stddevsamp": "stddev_samp",
    "varpop": "var_pop",
    "varsamp": "var_samp",
    "covarpop": "covar_pop",
    "covarsamp": "covar_samp",
    "arrayjoin": "explode",
    "numbers": "numbers__",
    # CH_FUNCTIONS names the Column door cannot take from SQL text
    "arrayfold": "arrayfold__",  # a SQL lambda is not a Python callable
    "mapfilter": "mapfilter__",  # a SQL lambda is not a Python callable
    "mortonencode": "mortonencode__",  # a literal range-mask tuple argument
    "mortondecode": "mortondecode__",  # a literal range-mask tuple argument
    "hilbertencode": "hilbertencode__",  # a literal range-mask tuple argument
    "hilbertdecode": "hilbertdecode__",  # a literal range-mask tuple argument
    "tostartofinterval": "tostartofinterval__",  # INTERVAL n unit; the Column door takes seconds
    "extract": "extract__",  # also standard SQL EXTRACT(unit FROM x)
    "range": "range__",  # Spark's range() is a table function; adds the step form
    "empty": "empty__",  # arrays too; the Column door is string-only
    "notempty": "notempty__",  # arrays too; the Column door is string-only
    "length": "length__",  # arrays too; the Column door is string-only
}

# CH_FUNCTIONS names Spark also resolves, with other semantics: rendered
# through the Column door all the same (Spark's own function when the
# call does not fit the Column definition)
_SHADOWED = {
    "position",  # Spark's position(substr, str) takes the needle first
    "datediff",  # Spark's datediff(end, start) has no unit argument
    "date_diff",  # Spark's date_diff(end, start) has no unit argument
    "rand",  # Spark's rand() is a DOUBLE in [0, 1), the reference's a UInt32
}

# Lambda-first higher-order functions: CH puts the lambda FIRST
# (arrayMap(x -> ..., arr)), Spark puts it LAST (transform(arr, f)).
# Two array args map to zip_with.
_HOF_SWAP = {
    "arraymap": "transform",
    "arrayfilter": "filter",
    "arrayexists": "exists",
    "arrayall": "forall",
    "arraycount": "arraycount__",
    "arrayfirst": "arrayfirst__",
    "arrayfirstindex": "arrayfirstindex__",
}

# CAST targets for the to<Type>[OrNull|OrZero] conversion family
# (reference src/Functions/FunctionsConversion.cpp).
_CAST_TYPES = {
    "toint8": ("TINYINT", "0"),
    "toint16": ("SMALLINT", "0"),
    "toint32": ("INT", "0"),
    "toint64": ("BIGINT", "0"),
    "touint8": ("SMALLINT", "0"),
    "touint16": ("INT", "0"),
    "touint32": ("BIGINT", "0"),
    "touint64": ("BIGINT", "0"),
    "tofloat32": ("FLOAT", "0.0"),
    "tofloat64": ("DOUBLE", "0.0"),
    "tostring": ("STRING", "''"),
    "todate": ("DATE", "DATE'1970-01-01'"),
    "todate32": ("DATE", "DATE'1970-01-01'"),
    "todatetime": ("TIMESTAMP", "TIMESTAMP'1970-01-01 00:00:00'"),
    "todatetime64": ("TIMESTAMP", "TIMESTAMP'1970-01-01 00:00:00'"),
    "todecimal64": ("DECIMAL(18,6)", "0"),
    "todecimal128": ("DECIMAL(38,10)", "0"),
}

# -If combinator bases (single value arg + condition)
_IF_COMBINATORS = {
    "sumif": "sum",
    "avgif": "avg",
    "minif": "min",
    "maxif": "max",
    "countif": "count",
}

# parametric aggregates f(params)(args); the *exact variants lower to
# Spark's exact percentile (round-8)
_PARAMETRIC = {"quantile", "quantiles", "median",
               "quantileexact", "quantilesexact"}

_REFUSED = {
    "topk",
    "sequencematch",
    "sequencecount",
    "windowfunnel",
    "retention",
    "dictget",
    # map-merging aggregates need an explode+groupBy reshape, not a
    # scalar SQL call — operators/ has the DataFrame form
    "summap",
    "minmap",
    "maxmap",
    "untuple",
}


# ---------------------------------------------------------------------------
# Clause-level pass (paren-depth-aware keyword scan)
# ---------------------------------------------------------------------------


def _clause_bounds(toks: list[str], start: int) -> int:
    """End index (exclusive) of a clause starting at `start`."""
    stoppers = {
        "WHERE",
        "PREWHERE",
        "GROUP",
        "HAVING",
        "QUALIFY",
        "WINDOW",
        "ORDER",
        "LIMIT",
        "OFFSET",
        "FORMAT",
        "SETTINGS",
        "UNION",
        "INTERSECT",
        "EXCEPT",
    }
    depth = 0
    i = start + 1
    while i < len(toks):
        tk = toks[i]
        if tk == "(":
            depth += 1
        elif tk == ")":
            if depth == 0:
                return i
            depth -= 1
        elif depth == 0 and tk.upper() in stoppers:
            return i
        i += 1
    return len(toks)


def _strip_suffix_clauses(toks: list[str]) -> list[str]:
    """Drop top-level FORMAT <name> and SETTINGS k=v[, ...] suffixes."""
    return _split_suffix_clauses(toks)[0]


def _split_suffix_clauses(toks: list[str]) -> tuple[list[str], dict[str, str]]:
    """Like :func:`_strip_suffix_clauses`, but also parses the SETTINGS
    list into a dict (values kept as raw token text)."""
    out = list(toks)
    settings: dict[str, str] = {}
    for kw in ("FORMAT", "SETTINGS"):
        depth = 0
        for i, tk in enumerate(out):
            if tk == "(":
                depth += 1
            elif tk == ")":
                depth -= 1
            elif depth == 0 and tk.upper() == kw:
                if kw == "SETTINGS":
                    rest = out[i + 1:]
                    for item in _split_args(["("] + rest + [")"], 0, len(rest) + 1):
                        if len(item) >= 3 and item[1] == "=":
                            settings[item[0].lower()] = "".join(item[2:])
                out = out[:i]
                break
    return out, settings


# Recognized ClickHouse settings and how the Spark engine honors them;
# anything else raises (the reference rejects unknown settings too).
# join_algorithm note: 'hash'/'parallel_hash'/'grace_hash' are Spark's
# default shuffle-hash/broadcast choice, 'full_sorting_merge' and
# 'partial_merge' map to PREFER_SORTMERGEJOIN.
_KNOWN_SETTINGS = {
    "max_threads",
    "max_result_rows",
    "result_overflow_mode",    # 'throw' (reference default) | 'break'
    "max_rows_to_read",
    "join_algorithm",
    "max_memory_usage",        # advisory: executor memory is cluster conf
    "max_execution_time",      # advisory: no per-query timeout in Spark SQL
    "allow_experimental_analyzer",  # accepted no-op (Catalyst always on)
    "dialect",                 # 'clickhouse' (default) | 'kusto' (kql.py)
    "allow_experimental_kusto_dialect",  # accepted (subset always available)
    "allow_experimental_prql_dialect",   # accepted (subset always available)
    "insert_deduplicate",      # covered by streaming stream_dedup
    "optimize_read_in_order",  # Catalyst decides; accepted no-op
    "use_query_cache",         # routes results through the process cache
}


def apply_settings(spark, settings: dict[str, str]):
    """Apply recognized SETTINGS to the session, returning a dict of
    (conf_key -> previous value) so the caller can restore. Unknown
    settings raise ChSqlError (reference behavior: BAD_ARGUMENTS)."""
    restore: dict[str, str | None] = {}

    def set_conf(k: str, v: str) -> None:
        restore[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)

    for name, value in settings.items():
        if name not in _KNOWN_SETTINGS:
            raise ChSqlError(f"unknown setting {name!r} (reference: BAD_ARGUMENTS)")
        v = value.strip("'\"")
        if name == "max_threads":
            set_conf("spark.sql.shuffle.partitions", v)
        elif name == "max_result_rows":
            # session-scoped cap, honored by the CLI/HTTP result paths
            set_conf("spark.chspark.maxResultRows", v)
        elif name == "result_overflow_mode":
            if v not in ("throw", "break"):
                raise ChSqlError(
                    f"result_overflow_mode must be 'throw' or 'break', got {v!r}"
                )
            set_conf("spark.chspark.resultOverflowMode", v)
        elif name == "dialect":
            if v not in ("clickhouse", "kusto", "prql"):
                raise ChSqlError(f"unknown dialect {v!r}")
            set_conf("spark.chsql.dialect", v)
        elif name == "join_algorithm":
            prefer = v in ("full_sorting_merge", "partial_merge")
            set_conf("spark.sql.join.preferSortMergeJoin", str(prefer).lower())
            if v == "direct":
                # direct = key-value lookup join; closest is broadcast
                set_conf("spark.sql.autoBroadcastJoinThreshold", "128m")
        elif name == "use_query_cache":
            set_conf("spark.chspark.useQueryCache", v)
    return restore


def enforce_result_cap(df, cap: int, mode: str = "throw"):
    """max_result_rows per the reference default result_overflow_mode =
    THROW (Settings.cpp:2606 — the query ERRORS when the result exceeds
    the cap); 'break' truncates instead. The throw path materializes
    limit(cap+1) ONCE via an eager localCheckpoint and counts/serves
    rows from that — one execution total, no second run when the caller
    collects, and no count-vs-collect race on non-deterministic queries
    (review finding). Rows live on executors, bounded by cap+1."""
    if mode == "break":
        return df.limit(cap)
    capped = df.limit(cap + 1).localCheckpoint(eager=True)
    if capped.count() > cap:
        raise ChSqlError(
            f"max_result_rows exceeded: result has more than {cap} rows "
            "(reference: TOO_MANY_ROWS_OR_BYTES with result_overflow_mode="
            "'throw'; pass SETTINGS result_overflow_mode='break' to truncate)"
        )
    return capped


def restore_settings(spark, restore: dict[str, str | None]) -> None:
    for k, old in restore.items():
        if old is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, old)


# every Spark conf apply_settings may touch — multi-tenant callers
# (the HTTP server) snapshot these around a request so a SETTINGS
# clause inside query text cannot leak into other clients' sessions
_MANAGED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.chspark.maxResultRows",
    "spark.chspark.resultOverflowMode",
    # request-scoped dialect (HTTP ?dialect=kusto must NOT leak into
    # the next client's plain-SQL request)
    "spark.chsql.dialect",
)


def settings_snapshot(spark) -> dict[str, str | None]:
    """The managed confs' values, None for an unset one. A get without a
    default raises through py4j for an unset key, which costs 20-30 ms a
    key; a get with a default does not."""
    return {k: spark.conf.get(k, None) for k in _MANAGED_CONFS}


def _rewrite_prewhere(toks: list[str]) -> list[str]:
    """PREWHERE p [WHERE w] → WHERE (p) AND (w) — the reference runs
    PREWHERE as an early filter (MergeTreeWhereOptimizer.h:26); Spark's
    parquet pushdown does that automatically once it's a WHERE."""
    depth = 0
    pre_i = -1
    for i, tk in enumerate(toks):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and tk.upper() == "PREWHERE":
            pre_i = i
            break
    if pre_i < 0:
        return toks
    pre_end = _clause_bounds(toks, pre_i)
    pred = toks[pre_i + 1 : pre_end]
    rest = toks[:pre_i] + toks[pre_end:]
    # find a top-level WHERE in the remainder
    depth = 0
    for i, tk in enumerate(rest):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and tk.upper() == "WHERE":
            w_end = _clause_bounds(rest, i)
            wpred = rest[i + 1 : w_end]
            return (
                rest[:i]
                + ["WHERE", "("]
                + pred
                + [")", "AND", "("]
                + wpred
                + [")"]
                + rest[w_end:]
            )
    return toks[:pre_i] + ["WHERE"] + pred + toks[pre_end:]


def _rewrite_qualify(toks: list[str]) -> list[str]:
    """... QUALIFY pred [ORDER BY ...] [LIMIT ...] →
    SELECT * FROM ( ...select-without-qualify... ) WHERE pred [...]
    (reference parses QUALIFY at ParserSelectQuery.cpp:298; Spark has
    no QUALIFY — the window alias must appear in the SELECT list)."""
    depth = 0
    q_i = -1
    for i, tk in enumerate(toks):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and tk.upper() == "QUALIFY":
            q_i = i
            break
    if q_i < 0:
        return toks
    q_end = _clause_bounds(toks, q_i)
    pred = toks[q_i + 1 : q_end]
    inner = toks[:q_i]
    tail = toks[q_end:]
    return (
        ["SELECT", "*", "FROM", "("]
        + inner
        + [")", "__q", "WHERE"]
        + pred
        + tail
    )


def _rewrite_with_totals(toks: list[str]) -> list[str]:
    """``GROUP BY k1, k2 WITH TOTALS`` → ``GROUP BY GROUPING SETS
    ((k1, k2), ())`` (reference TotalsHavingStep.h:12: the totals row
    is the grand aggregate over all rows — exactly the empty grouping
    set; its key columns come back NULL, matching the reference's
    totals row representation here)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            toks[i].upper() == "GROUP"
            and i + 1 < len(toks)
            and toks[i + 1].upper() == "BY"
        ):
            # collect the key list up to WITH TOTALS / next clause
            j = i + 2
            depth = 0
            keys: list[str] = []
            stops = {"HAVING", "ORDER", "LIMIT", "OFFSET", "FORMAT",
                     "SETTINGS", "UNION", "QUALIFY", "WINDOW", "INTERSECT", "EXCEPT"}
            totals_at = -1
            while j < len(toks):
                tk = toks[j]
                if tk == "(":
                    depth += 1
                elif tk == ")":
                    if depth == 0:
                        break
                    depth -= 1
                if depth == 0 and tk.upper() == "WITH" and j + 1 < len(toks) and toks[j + 1].upper() == "TOTALS":
                    totals_at = j
                    break
                if depth == 0 and tk.upper() in stops:
                    break
                keys.append(tk)
                j += 1
            if totals_at >= 0:
                out += ["GROUP", "BY", "GROUPING", "SETS", "(", "("] + keys + [")", ",", "(", ")", ")"]
                i = totals_at + 2
                continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_collate(toks: list[str]) -> list[str]:
    """``expr COLLATE 'locale'`` (reference ParserSelectQuery ORDER BY
    collation, src/Columns/Collator.h) → ``collate(expr, 'UNICODE_CI')``
    — Spark 4's native collation. Any locale maps to case-insensitive
    root-ICU order, the dominant use of the clause; the expr is the
    single token (or parenthesized group) before COLLATE."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if toks[i].upper() == "COLLATE" and out and i + 1 < len(toks):
            # pull back the preceding expr: a ")"-terminated group or one token
            if out[-1] == ")":
                depth = 0
                j = len(out) - 1
                while j >= 0:
                    if out[j] == ")":
                        depth += 1
                    elif out[j] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                    j -= 1
                expr = out[j:]
                del out[j:]
            else:
                expr = [out.pop()]
            out += ["collate", "("] + expr + [",", "'UNICODE_CI'", ")"]
            i += 2  # skip COLLATE and its locale literal
            continue
        out.append(toks[i])
        i += 1
    return out


_QUANT_CMP = {  # (op, quantifier) -> scalar aggregate over the subquery
    (">", "ANY"): "MIN", (">=", "ANY"): "MIN",
    ("<", "ANY"): "MAX", ("<=", "ANY"): "MAX",
    (">", "ALL"): "MAX", (">=", "ALL"): "MAX",
    ("<", "ALL"): "MIN", ("<=", "ALL"): "MIN",
}


def _rewrite_quantified_comparison(toks: list[str]) -> list[str]:
    """op ANY/ALL (subquery) — Spark has no quantified comparisons, so
    apply the reference's own rewrite (ExpressionAnalyzer
    transformQuantifiedComparison): `= ANY` -> IN, `!= ALL` -> NOT IN,
    inequalities -> scalar MIN/MAX subquery. Same empty-set semantics
    as the reference's rewrite (MIN/MAX over empty is NULL). `= ALL` /
    `!= ANY` refuse, like the reference's unsupported combinations.
    The `any(x)` AGGREGATE stays: quantifiers only fire after a
    comparison op and before a parenthesized SELECT."""
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        tk = toks[i]
        up = tk.upper()
        if (
            up in ("ANY", "ALL")
            and out
            and out[-1] in ("=", "==", "!=", "<>", ">", ">=", "<", "<=")
            and i + 2 < n
            and toks[i + 1] == "("
            and toks[i + 2].upper() in ("SELECT", "WITH")
        ):
            op = "=" if out[-1] == "==" else out[-1]
            # balanced subquery group
            depth = 0
            j = i + 1
            while j < n:
                if toks[j] == "(":
                    depth += 1
                elif toks[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            sub = toks[i + 2 : j]  # without outer parens
            if op == "=" and up == "ANY":
                out[-1] = "IN"
                out += ["(", *sub, ")"]
            elif op in ("!=", "<>") and up == "ALL":
                out.pop()
                out += ["NOT", "IN", "(", *sub, ")"]
            elif (op, up) in _QUANT_CMP:
                agg = _QUANT_CMP[(op, up)]
                out += ["(", "SELECT", agg, "(", "__qc", ")", "FROM", "(",
                        *sub, ")", "AS", "__qsub", "(", "__qc", ")", ")"]
            else:
                raise ChSqlError(
                    f"{op} {up} (subquery): unsupported combination "
                    "(the reference rejects it too) — use IN/NOT IN or "
                    "an explicit aggregate subquery"
                )
            i = j + 1
            continue
        out.append(tk)
        i += 1
    return out


def _rewrite_limit_by(toks: list[str]) -> list[str]:
    """LIMIT n BY c1, c2 → row_number() wrap (reference
    src/Processors/QueryPlan/LimitByStep.h:8). Requires a top-level
    ORDER BY after the clause for determinism; uses it as the window
    order."""
    depth = 0
    l_i = -1
    for i, tk in enumerate(toks):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and tk.upper() == "LIMIT":
            # LIMIT n BY?
            if i + 2 < len(toks) and toks[i + 2].upper() == "BY":
                l_i = i
                break
    if l_i < 0:
        return toks
    n = toks[l_i + 1]
    by_end = _clause_bounds(toks, l_i + 2)
    by_cols = toks[l_i + 3 : by_end]
    inner = toks[:l_i]
    tail = toks[by_end:]
    # window order: reuse the query's top-level ORDER BY if present
    order = ["(", "SELECT", "NULL", ")"]
    depth = 0
    for i, tk in enumerate(inner):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and tk.upper() == "ORDER":
            o_end = _clause_bounds(inner, i)
            order = inner[i + 2 : o_end]
            break
    return (
        ["SELECT", "*", "EXCEPT", "(", "__rn", ")", "FROM", "(", "SELECT", "*", ",",
         "row_number", "(", ")", "OVER", "(", "PARTITION", "BY"]
        + by_cols
        + ["ORDER", "BY"]
        + order
        + [")", "AS", "__rn", "FROM", "("]
        + inner
        + [")", "__lb", ")", "__lbo", "WHERE", "__rn", "<=", n]
        + tail
    )


def _match_paren(toks: list[str], open_i: int) -> int:
    """Index of the ')' matching toks[open_i] == '('."""
    depth = 0
    for i in range(open_i, len(toks)):
        if toks[i] == "(":
            depth += 1
        elif toks[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ChSqlError("unbalanced parentheses")


def _split_top_args(toks: list[str]) -> list[list[str]]:
    """Split a call-argument token run on top-level commas."""
    out, cur, depth = [], [], 0
    for tk in toks:
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        if tk == "," and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(tk)
    if cur:
        out.append(cur)
    return out


def _rewrite_in_frame(toks: list[str]) -> list[str]:
    """lagInFrame / leadInFrame (reference WindowTransform.cpp:2698) →
    exact Spark lag/lead. Unlike standard lag/lead, the reference's
    pair respects the window FRAME: an offset row outside the frame
    yields the default. Frame bounds are literals, so membership
    resolves at TRANSPILE time for ROWS frames; the reference's
    default frame (RANGE ... CURRENT ROW) makes leadInFrame
    peer-bounded — realized with a runtime named_struct peer guard on
    the ORDER BY values. The 3-arg form is required: with the default
    omitted the reference fills with the COLUMN TYPE's default value
    (0, ''), which needs type information this text layer doesn't
    have. Differential-fuzz finding, round 6 (the names previously
    didn't translate at all)."""
    i = 0
    while i < len(toks):
        name = toks[i]
        if name not in ("lagInFrame", "leadInFrame") or \
                i + 1 >= len(toks) or toks[i + 1] != "(":
            i += 1
            continue
        is_lag = name == "lagInFrame"
        call_end = _match_paren(toks, i + 1)
        args = _split_top_args(toks[i + 2 : call_end])
        if len(args) != 3:
            raise ChSqlError(
                f"{name}: the 2-arg form fills out-of-frame rows with the "
                "column TYPE default (0, '') in the reference — spell the "
                f"default explicitly: {name}(x, offset, default)")
        x_t, n_t, d_t = args
        if len(n_t) != 1 or not re.match(r"^\d+$", n_t[0]):
            raise ChSqlError(f"{name}: offset must be an integer literal")
        n = int(n_t[0])
        if call_end + 1 >= len(toks) or toks[call_end + 1].upper() != "OVER" \
                or call_end + 2 >= len(toks) or toks[call_end + 2] != "(":
            raise ChSqlError(f"{name} needs an inline OVER (...) clause")
        over_end = _match_paren(toks, call_end + 2)
        over = toks[call_end + 3 : over_end]
        # split the OVER body: [PARTITION BY p] [ORDER BY o] [frame]
        mode_i, depth = None, 0
        for k, t in enumerate(over):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and t.upper() in ("ROWS", "RANGE"):
                mode_i = k
                break
        frame = over[mode_i:] if mode_i is not None else None
        head = over[:mode_i] if mode_i is not None else over
        o_i = next((k for k, t in enumerate(head) if t.upper() == "ORDER"), None)
        order_items: list[list[str]] = []
        if o_i is not None:
            for item in _split_top_args(head[o_i + 2:]):
                while item and item[-1].upper() in ("ASC", "DESC", "FIRST",
                                                    "LAST", "NULLS"):
                    item = item[:-1]
                order_items.append(item)

        def _bound(side: str) -> tuple[str, int | None]:
            """('unbounded'|'preceding'|'following'|'current', k)."""
            if frame is None:
                return ("unbounded", None) if side == "start" else ("current", None)
            f = [t.upper() for t in frame]
            if "BETWEEN" in f:
                a_i = f.index("AND")
                part = frame[2:a_i] if side == "start" else frame[a_i + 1:]
            else:
                part = frame[1:] if side == "start" else ["CURRENT", "ROW"]
            p = [t.upper() for t in part]
            if p[:2] == ["UNBOUNDED", "PRECEDING"]:
                return ("unbounded", None)
            if p[:2] == ["UNBOUNDED", "FOLLOWING"]:
                return ("unbounded_f", None)
            if p[:2] == ["CURRENT", "ROW"]:
                return ("current", None)
            if len(p) == 2 and re.match(r"^\d+$", part[0]):
                return ("preceding" if p[1] == "PRECEDING" else "following",
                        int(part[0]))
            raise ChSqlError(f"{name}: cannot parse frame bound {part!r}")

        is_range = frame is None or frame[0].upper() == "RANGE"
        plain = ["lag" if is_lag else "lead", "("] + x_t + [","] + n_t \
            + [","] + d_t + [")", "OVER", "("] + head + [")"]
        default_expr = ["("] + d_t + [")"]
        self_expr = ["("] + x_t + [")"]
        if is_lag:
            kind, k = _bound("start")
            if kind == "unbounded":
                repl = plain
            elif kind == "preceding" and not is_range:
                repl = plain if n <= k else default_expr
            elif kind == "current":
                repl = self_expr if n == 0 else default_expr
            else:
                raise ChSqlError(
                    f"{name}: RANGE offset frames are value-bounded — the "
                    "physical-offset membership test has no static answer")
        else:
            kind, k = _bound("end")
            if kind == "unbounded_f":
                repl = plain
            elif kind == "following" and not is_range:
                repl = plain if n <= k else default_expr
            elif kind == "current" and not is_range:
                repl = self_expr if n == 0 else default_expr
            elif kind == "current" and is_range:
                # default frame: the offset row is in frame iff it is a
                # PEER of the current row (same ORDER BY values)
                if not order_items:
                    repl = plain  # whole partition is one peer group
                else:
                    struct: list[str] = ["named_struct", "("]
                    for j, item in enumerate(order_items):
                        if j:
                            struct.append(",")
                        struct += [f"'o{j}'", ","] + item
                    struct.append(")")
                    probe = (["lead", "("] + struct + [",", str(n), ")",
                             "OVER", "("] + head + [")"])
                    repl = (["CASE", "WHEN"] + probe + ["<=>"] + struct
                            + ["THEN"] + plain + ["ELSE"] + default_expr
                            + ["END"])
            else:
                raise ChSqlError(
                    f"{name}: RANGE offset frames are value-bounded — the "
                    "physical-offset membership test has no static answer")
        toks = toks[:i] + repl + toks[over_end + 1:]
        i += 1
    return toks


def _rewrite_distinct_on(toks: list[str]) -> list[str]:
    """SELECT DISTINCT ON (k1, k2) ... → first-row-per-key window wrap
    (reference ParserSelectQuery.cpp parses DISTINCT ON into
    limit_by_length=1 + LIMIT BY — this emits the same row_number shape
    as _rewrite_limit_by with n=1). The query's top-level ORDER BY
    defines which row is "first" and stays outside for presentation;
    ORDER BY expressions must be selectable from the result (the same
    subset note as LIMIT BY). Differential-fuzz finding, round 6: the
    operator existed only as a DataFrame builder, not on the SQL text
    surface the reference accepts."""
    depth, s_i = 0, -1
    for i, tk in enumerate(toks):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif (depth == 0 and tk.upper() == "SELECT" and i + 3 < len(toks)
              and toks[i + 1].upper() == "DISTINCT"
              and toks[i + 2].upper() == "ON" and toks[i + 3] == "("):
            s_i = i
            break
    if s_i < 0:
        return toks
    kdepth, j = 0, s_i + 3
    while j < len(toks):
        if toks[j] == "(":
            kdepth += 1
        elif toks[j] == ")":
            kdepth -= 1
            if kdepth == 0:
                break
        j += 1
    if kdepth != 0:
        raise ChSqlError("DISTINCT ON: unbalanced key list")
    keys = toks[s_i + 4 : j]
    if not keys:
        raise ChSqlError("DISTINCT ON needs at least one key expression")
    sel = ["SELECT"] + toks[j + 1 :]
    depth, o_i = 0, -1
    for i2, tk in enumerate(sel):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and tk.upper() == "ORDER":
            o_i = i2
            break
    if o_i >= 0:
        o_end = _clause_bounds(sel, o_i)
        order = sel[o_i + 2 : o_end]
        inner, tail = sel[:o_i], sel[o_i:]
    else:
        # no ORDER BY: the surviving row is arbitrary (CH semantics);
        # any trailing LIMIT still applies AFTER the distinct
        order = ["(", "SELECT", "NULL", ")"]
        depth, l_i = 0, -1
        for i2, tk in enumerate(sel):
            if tk == "(":
                depth += 1
            elif tk == ")":
                depth -= 1
            elif depth == 0 and tk.upper() == "LIMIT":
                l_i = i2
                break
        inner, tail = (sel[:l_i], sel[l_i:]) if l_i >= 0 else (sel, [])
    return (
        toks[:s_i]
        + ["SELECT", "*", "EXCEPT", "(", "__don", ")", "FROM", "(",
           "SELECT", "*", ",", "row_number", "(", ")", "OVER", "(",
           "PARTITION", "BY"]
        + keys
        + ["ORDER", "BY"]
        + order
        + [")", "AS", "__don", "FROM", "("]
        + inner
        + [")", "__don_i", ")", "__don_o", "WHERE", "__don", "=", "1"]
        + tail
    )


# ---------------------------------------------------------------------------
# Function-level pass
# ---------------------------------------------------------------------------


# Spark call heads that produce arrays/maps — used to resolve CH's
# polymorphic length()/empty() to size() vs length() at token level
_ARRAY_PRODUCING = {
    "split", "array", "sequence", "array_distinct", "transform", "filter",
    "slice", "array_intersect", "array_except", "array_union", "arrays_zip",
    "flatten", "collect_list", "collect_set", "sort_array", "array_sort",
    "array_append", "array_prepend", "array_repeat", "array_remove",
    "map_keys", "map_values", "regexp_extract_all", "zip_with", "shuffle",
    "aggregate_keys",
}


def _len_fn(arg: list[str]) -> str:
    """Resolve CH's polymorphic length(): element count for arrays,
    BYTE count for strings (the reference's documented String
    semantics — lengthUTF8 is the character-count name; string-fn fuzz
    finding, round 6: this returned char count for strings)."""
    head = arg[0].lower() if arg else ""
    return "size" if head in _ARRAY_PRODUCING else "octet_length"


_EXTRACT_UNITS = {
    "YEAR", "QUARTER", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND",
    "DAYOFWEEK", "DOW", "DAYOFYEAR", "DOY", "EPOCH",
}

_INTERVAL_SECONDS = {
    "SECOND": 1, "SECONDS": 1,
    "MINUTE": 60, "MINUTES": 60,
    "HOUR": 3600, "HOURS": 3600,
    "DAY": 86400, "DAYS": 86400,
    "WEEK": 604800, "WEEKS": 604800,
}


def _interval_floor(ts: list[str], interval: list[str], fn: str) -> list[str]:
    """toStartOfInterval(ts, INTERVAL n unit) → epoch-floor formula
    (second-precision, matching the reference's DateTime semantics).
    Calendar units (MONTH/YEAR) are date_trunc-only and refused for
    n != 1."""
    iv = [t for t in interval if t.upper() != "INTERVAL"]
    if len(iv) != 2 or not iv[0].isdigit():
        raise ChSqlError(f"{fn}: expected INTERVAL <n> <unit>")
    n, unit = int(iv[0]), iv[1].upper()
    if unit in ("MONTH", "MONTHS", "QUARTER", "YEAR", "YEARS"):
        if n != 1:
            raise ChSqlError(f"{fn}: calendar intervals support n=1 only")
        u = {"MONTH": "month", "MONTHS": "month", "QUARTER": "quarter",
             "YEAR": "year", "YEARS": "year"}[unit]
        return ["date_trunc", "(", f"'{u}'", ",", *ts, ")"]
    if unit not in _INTERVAL_SECONDS:
        raise ChSqlError(f"{fn}: unsupported interval unit {unit}")
    s = n * _INTERVAL_SECONDS[unit]
    return [
        "timestamp_seconds", "(",
        "CAST", "(", "floor", "(", "unix_timestamp", "(", *ts, ")", "/",
        str(s), ")", "AS", "BIGINT", ")", "*", str(s), ")",
    ]


def _match_call(toks: list[str], i: int) -> bool:
    return (
        i + 1 < len(toks)
        and toks[i + 1] == "("
        and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", toks[i] or "") is not None
    )


def _call_end(toks: list[str], open_i: int) -> int:
    """Index of the ')' matching toks[open_i] == '('."""
    depth = 0
    for j in range(open_i, len(toks)):
        if toks[j] == "(":
            depth += 1
        elif toks[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    raise ChSqlError("unbalanced parentheses")


def _split_args(toks: list[str], open_i: int, close_i: int) -> list[list[str]]:
    args: list[list[str]] = []
    cur: list[str] = []
    depth = 0
    for j in range(open_i + 1, close_i):
        tk = toks[j]
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        if tk == "," and depth == 0:
            args.append(cur)
            cur = []
        else:
            cur.append(tk)
    if cur or args:
        args.append(cur)
    return args


def _literal_int_tuple(arg: list[str]) -> list[int] | None:
    """Parse a literal parenthesized int tuple like (1, 2) from
    rewritten tokens; None when the arg is anything else."""
    if len(arg) < 3 or arg[0] != "(" or arg[-1] != ")":
        return None
    vals: list[int] = []
    for t2 in arg[1:-1]:
        if t2 == ",":
            continue
        try:
            vals.append(int(t2))
        except ValueError:
            return None
    return vals or None


def _quantile_exact_tokens(x: list[str], p: list[str], fname: str) -> list[str]:
    """CH quantileExact as Spark tokens (round-8; reference
    QuantileExact.h:96): level < 1 -> sorted-array element at 0-based
    index floor(level * n); level >= 1 -> max. The level must be a
    numeric literal so the branch resolves at transpile time."""
    if len(p) == 1 or (len(p) == 2 and p[0] in "+-"):
        txt = "".join(p)
        try:
            level = float(txt)
        except ValueError:
            raise ChSqlError(
                f"{fname}: the level must be a numeric literal")
    else:
        raise ChSqlError(f"{fname}: the level must be a numeric literal")
    if not 0 <= level <= 1:
        raise ChSqlError(f"{fname}: level {level} out of [0, 1]")
    xt = " ".join(x)
    if level >= 1:
        return _tokenize(f"max({xt})")
    return _tokenize(
        f"element_at(array_sort(collect_list({xt})), "
        f"CAST(floor({level!r} * count({xt})) AS INT) + 1)")


def _rewrite_functions(toks: list[str], spark=None) -> list[str]:
    from clickhouse_25_5_3_75_stable_spark.functions import hashing, udfs

    out: list[str] = []
    i = 0
    while i < len(toks):
        tk = toks[i]
        low = tk.lower()
        if not _match_call(toks, i):
            out.append(tk)
            i += 1
            continue
        open_i = i + 1
        close_i = _call_end(toks, open_i)
        args = [_rewrite_functions(a, spark) for a in _split_args(toks, open_i, close_i)]

        if low == "count" and args == [[]] or low == "count" and not args:
            out += ["count", "(", "*", ")"]
            i = close_i + 1
            continue

        if low in _REFUSED:
            raise ChSqlError(
                f"{tk}: no SQL-shim translation — use the DataFrame builder "
                f"(operators/) for this operator"
            )

        # parametric: f(params)(real args)
        if low in _PARAMETRIC and close_i + 1 < len(toks) and toks[close_i + 1] == "(":
            close2 = _call_end(toks, close_i + 1)
            real = [_rewrite_functions(a, spark) for a in _split_args(toks, close_i + 1, close2)]
            x = real[0]
            if low in ("quantileexact", "quantilesexact"):
                # reference QuantileExact.h:96 — the element at index
                # floor(level * size) of the sorted array (0-based),
                # NOT an interpolated percentile
                exprs = [_quantile_exact_tokens(x, p, tk) for p in args]
                if low == "quantileexact":
                    out += exprs[0]
                else:
                    out += ["array", "("]
                    for k, e in enumerate(exprs):
                        if k:
                            out.append(",")
                        out += e
                    out += [")"]
            elif low in ("quantile", "median"):
                p = args[0] if low == "quantile" else [["0.5"]][0]
                out += ["percentile_approx", "("] + x + [","] + p + [")"]
            else:  # quantiles(p1, p2, ...)(x)
                out += ["percentile_approx", "(", *x, ",", "array", "("]
                for k, p in enumerate(args):
                    if k:
                        out.append(",")
                    out += p
                out += [")", ")"]
            i = close2 + 1
            continue

        if low == "median":
            out += ["percentile_approx", "(", *args[0], ",", "0.5", ")"]
            i = close_i + 1
            continue
        if low == "medianexact":
            out += _quantile_exact_tokens(args[0], ["0.5"], tk)
            i = close_i + 1
            continue

        if low in _IF_COMBINATORS:
            base = _IF_COMBINATORS[low]
            if base == "count":
                val, cond = ["1"], args[0]
            else:
                val, cond = args[0], args[1]
            out += [base, "(", "CASE", "WHEN", *cond, "THEN", *val, "END", ")"]
            i = close_i + 1
            continue
        if low in ("anyif", "anylastif"):
            # -If over any/anyLast (round-8): ignoreNulls flag skips the
            # CASE's non-matching NULLs so an arbitrary MATCHING row wins
            fn = "any_value" if low == "anyif" else "last"
            out += [fn, "(", "CASE", "WHEN", *args[1], "THEN", *args[0],
                    "END", ",", "true", ")"]
            i = close_i + 1
            continue
        if low.endswith("ornull") and low[:-6] in (
                "sum", "avg", "min", "max", "any", "anylast", "count"):
            # -OrNull combinator (round-8): Spark aggregates already
            # yield NULL on empty/all-NULL input; count needs nullif
            base = low[:-6]
            if base == "count":
                out += ["nullif", "(", "count", "(", *args[0], ")", ",", "0", ")"]
            else:
                spark_fn = {"any": "any_value", "anylast": "last"}.get(base, base)
                out += [spark_fn, "(", *args[0], ")"]
            i = close_i + 1
            continue
        if low in ("countdistinct", "uniqexact"):
            out += ["count", "(", "DISTINCT", *_join_args(args), ")"]
            i = close_i + 1
            continue
        if low == "transform" and len(args) in (3, 4):
            # CH transform(x, from_arr, to_arr[, default]) — a value
            # mapping; array_position=0 (absent) routes to the default
            # via nullif->NULL->coalesce. (The 2-arg Spark HOF form
            # passes through untouched.)
            x, frm, to = args[0], args[1], args[2]
            dflt = args[3] if len(args) == 4 else args[0]
            # explicit CASE, not coalesce(element_at(...,nullif(...)))
            # — Catalyst types element_at over a literal array as
            # non-nullable and PRUNES the coalesce (round-8 found)
            pos = ["CAST", "(", "array_position", "(", *frm, ",", *x,
                   ")", "AS", "INT", ")"]
            out += ["CASE", "WHEN", *pos, "=", "0", "THEN", *dflt,
                    "ELSE", "element_at", "(", *to, ",", *pos, ")", "END"]
            i = close_i + 1
            continue
        if low == "age" and len(args) == 3:
            # CH age(unit, a, b) = COMPLETE units between a and b
            # (dateDiff counts boundary crossings instead)
            unit_tok = args[0]
            if len(unit_tok) != 1 or not unit_tok[0].startswith("'"):
                raise ChSqlError("age(unit, a, b): unit must be a string literal")
            u = unit_tok[0].strip("'").lower()
            a_txt = " ".join(args[1])
            b_txt = " ".join(args[2])
            secs = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400, "week": 604800}
            if u in secs:
                rendered = (
                    f"CAST(floor((unix_micros(CAST({b_txt} AS TIMESTAMP)) - "
                    f"unix_micros(CAST({a_txt} AS TIMESTAMP))) / "
                    f"({secs[u]} * 1000000.0)) AS BIGINT)")
            elif u in ("month", "quarter", "year"):
                div = {"month": 1, "quarter": 3, "year": 12}[u]
                rendered = (
                    f"CAST(floor(months_between(CAST({b_txt} AS TIMESTAMP), "
                    f"CAST({a_txt} AS TIMESTAMP)) / {div}) AS BIGINT)")
            else:
                raise ChSqlError(f"age: unsupported unit {u!r}")
            out += _tokenize(rendered)
            i = close_i + 1
            continue

        if low in _CAST_TYPES:
            sqlt, _zero = _CAST_TYPES[low]
            out += ["CAST", "(", *args[0], "AS", sqlt, ")"]
            i = close_i + 1
            continue
        if low.endswith("ornull") and low[:-6] in _CAST_TYPES:
            sqlt, _zero = _CAST_TYPES[low[:-6]]
            out += ["try_cast", "(", *args[0], "AS", sqlt, ")"]
            i = close_i + 1
            continue
        if low.endswith("orzero") and low[:-6] in _CAST_TYPES:
            sqlt, zero = _CAST_TYPES[low[:-6]]
            out += ["coalesce", "(", "try_cast", "(", *args[0], "AS", sqlt, ")", ",",
                    zero, ")"]
            i = close_i + 1
            continue

        # lambda-first HOFs: CH arrayMap(f, a[, b]) → Spark
        # transform(a, f) / zip_with(a, b, f)
        if low in _HOF_SWAP or low == "arraysum":
            # the lambda arrow must sit at the TOP level of the first
            # argument — a nested, already-rewritten HOF contributes
            # arrows at depth > 0 (fuzz-found: arraySum([x,
            # arraySum([..])]) misread the inner lambda)
            def _top_arrow(arg: list[str]) -> bool:
                d = 0
                for t2 in arg:
                    if t2 == "(":
                        d += 1
                    elif t2 == ")":
                        d -= 1
                    elif t2 == "->" and d == 0:
                        return True
                return False

            has_lambda = bool(args) and _top_arrow(args[0])
            if low == "arraysum":
                # arraySum([f,] arr) → aggregate over DOUBLE (the one
                # deliberate type widening in the shim, documented)
                arr = args[1] if has_lambda else args[0]
                # NULL elements are SKIPPED (CH semantics; fuzz-found:
                # a bare s + x would NULL-poison the whole sum)
                step = ["(", "s", ",", "x", ")", "->", "s", "+",
                        "coalesce", "(", "CAST", "(", "x", "AS", "DOUBLE", ")",
                        ",", "CAST", "(", "0", "AS", "DOUBLE", ")", ")"]
                if has_lambda:
                    # aggregate(transform(arr, f), 0D, (s,x)->s+x)
                    out += ["aggregate", "(", "transform", "(", *arr, ",", *args[0],
                            ")", ",", "CAST", "(", "0", "AS", "DOUBLE", ")", ",",
                            *step, ")"]
                else:
                    out += ["aggregate", "(", *arr, ",",
                            "CAST", "(", "0", "AS", "DOUBLE", ")", ",",
                            *step, ")"]
                i = close_i + 1
                continue
            if not has_lambda:
                raise ChSqlError(f"{tk}: expected a lambda as the first argument")
            spark_name = _HOF_SWAP[low]
            if spark_name == "arraycount__":
                out += ["size", "(", "filter", "(", *args[1], ",", *args[0], ")", ")"]
            elif spark_name == "arrayfirst__":
                # NULL when nothing matches (CH returns the type's
                # default value; NULL is the Spark-idiomatic analogue)
                out += ["get", "(", "filter", "(", *args[1], ",", *args[0], ")",
                        ",", "0", ")"]
            elif spark_name == "arrayfirstindex__":
                # 1-based index of the first match, 0 when none (exact
                # CH semantics via array_position over the bool map)
                out += ["CAST", "(", "coalesce", "(", "array_position", "(",
                        "transform", "(", *args[1], ",", *args[0], ")", ",",
                        "true", ")", ",", "0", ")", "AS", "INT", ")"]
            elif len(args) == 3:
                out += ["zip_with", "(", *args[1], ",", *args[2], ",", *args[0], ")"]
            else:
                out += [spark_name, "(", *args[1], ",", *args[0], ")"]
            i = close_i + 1
            continue

        if low in _CHCONST_FNS:
            # transpile-time server-info constant -> SQL literal
            v = _chconst_value(low, args)
            if isinstance(v, tuple) and v[0] == "int32":
                out += ["CAST", "(", str(int(v[1])), "AS", "INT", ")"]
            elif isinstance(v, tuple) and v[0] == "timestamp":
                out += ["CAST", "(", "'" + v[1] + "'", "AS", "TIMESTAMP", ")"]
            elif isinstance(v, str):
                out.append("'" + v.replace("'", "''") + "'")
            else:
                out += ["CAST", "(", str(int(v)), "AS", "BIGINT", ")"]
            i = close_i + 1
            continue

        if low in hashing.SQL_NAMES:
            # every exact FunctionsHashing.h name: typed SQL text from the
            # hash-family table (functions/hashing.py)
            try:
                txt = hashing.sql_expr(low, [_join_tokens(a) for a in args])
            except ValueError as e:
                raise ChSqlError(str(e)) from None
            if txt is not None:
                out.append(txt)
                i = close_i + 1
                continue

        new = _RENAMES.get(low)
        row = udfs.BY_NAME.get(low)
        if row is not None and new is None:
            # a Python-UDF-backed function: its row of the UDF table
            # (functions/udfs.py) types every argument; a missing
            # optional one is a typed NULL
            if not row.required <= len(args) <= len(row.args):
                raise ChSqlError(f"{tk}: expected {udfs.arity(row)} arguments")
            out += [row.sql, "("]
            for k, t in enumerate(row.args):
                if k:
                    out.append(",")
                a = args[k] if k < len(args) else ["NULL"]
                out += ["CAST", "(", *a, "AS", t.upper(), ")"]
            out.append(")")
            i = close_i + 1
            continue
        if new is None:
            rendered = _render_call(spark, tk, args)
            out += rendered if rendered is not None else [tk, "(", *_join_args(args), ")"]
            i = close_i + 1
            continue

        # structural rewrites flagged with trailing __
        if new == "empty__":
            out += ["(", _len_fn(args[0]), "(", *args[0], ")", "=", "0", ")"]
        elif new == "notempty__":
            out += ["(", _len_fn(args[0]), "(", *args[0], ")", ">", "0", ")"]
        elif new == "length__":
            out += [_len_fn(args[0]), "(", *args[0], ")"]
        elif new == "range__":
            # CH range(n) = [0..n-1]; range(a, b[, step]) end-exclusive
            # → Spark sequence() is end-INCLUSIVE, so subtract one step
            if len(args) == 1:
                out += ["sequence", "(", "0", ",", "(", *args[0], ")", "-", "1", ")"]
            elif len(args) == 2:
                out += ["sequence", "(", *args[0], ",", "(", *args[1], ")", "-", "1", ")"]
            else:
                out += [
                    "sequence", "(", *args[0], ",",
                    "(", *args[1], ")", "-", "(", *args[2], ")", ",", *args[2], ")",
                ]
        elif new in ("mortonencode__", "hilbertencode__"):
            # mortonEncode(a, b, ...) / mortonEncode((r1, r2), a, b)
            # (src/Functions/mortonEncode.cpp, hilbertEncode.cpp) —
            # the range-mask must be a literal parenthesized tuple,
            # exactly the reference's constant-tuple requirement
            fn = udfs.BY_NAME[low].sql
            if not args:
                raise ChSqlError(f"{tk}: expected at least one argument")
            ratios = _literal_int_tuple(args[0]) if len(args) > 1 else None
            vals = args[1:] if ratios is not None else args
            if ratios is not None:
                rat = ["array", "(",
                       *sum(([str(r), ","] for r in ratios), [])[:-1], ")"]
            else:
                rat = ["CAST", "(", "NULL", "AS", "ARRAY<INT>", ")"]
            out += [fn, "(", *rat, ",", "array", "("]
            for k, a in enumerate(vals):
                if k:
                    out.append(",")
                out += ["CAST", "(", *a, "AS", udfs.U64.upper(), ")"]
            out += [")", ")"]
        elif new in ("mortondecode__", "hilbertdecode__"):
            # mortonDecode(n, code) / mortonDecode((r1, r2), code):
            # the first argument must be a literal count or tuple —
            # it fixes the OUTPUT TYPE (tuple arity), which cannot be
            # data-dependent (same rule as the reference)
            fn = udfs.BY_NAME[low].sql
            if len(args) != 2:
                raise ChSqlError(f"{tk}: expected exactly two arguments")
            ratios = _literal_int_tuple(args[0])
            if ratios is None:
                try:
                    n = int("".join(args[0]))
                except ValueError:
                    raise ChSqlError(
                        f"{tk}: the first argument must be a literal "
                        "dimension count or a literal range-mask tuple"
                    ) from None
                ratios = [1 if new == "mortondecode__" else 0] * n
            out += [fn, "(", "array", "(",
                    *sum(([str(r), ","] for r in ratios), [])[:-1], ")",
                    ",", "CAST", "(", *args[1], "AS", udfs.U64.upper(), ")", ")"]
        elif new == "numbers__":
            # table function: numbers(n) / numbers(offset, count) →
            # derived table over Spark's range() TVF, column renamed
            # to the reference's `number`
            if len(args) == 1:
                rng = ["range", "(", *args[0], ")"]
            else:
                rng = ["range", "(", *args[0], ",", "(", *args[0], ")", "+",
                       "(", *args[1], ")", ")"]
            out += ["(", "SELECT", "id", "AS", "number", "FROM", *rng, ")"]
        elif new == "mapfilter__":
            # CH arg order is (lambda, map); Spark map_filter is
            # (map, lambda)
            if len(args) != 2:
                raise ChSqlError("mapFilter takes ((k, v) -> pred, map)")
            out += ["map_filter", "(", *args[1], ",", *args[0], ")"]
        elif new == "arrayfold__":
            # CH arrayFold(lambda, arr, init) -> Spark
            # aggregate(arr, init, lambda) (round-9; arrayFold.cpp —
            # left fold, accumulator first in the lambda both sides)
            if len(args) != 3:
                raise ChSqlError(
                    "arrayFold: the SQL shim folds ONE array — "
                    "arrayFold(lambda, arr, init); zip arrays first "
                    "(arrayZip) or use the DataFrame builder")
            out += ["aggregate", "(", *args[1], ",", *args[2], ",",
                    *args[0], ")"]
        elif new == "extract__":
            # standard SQL EXTRACT(unit FROM x) must pass through; CH
            # extract(haystack, pattern) is the Column door's
            if any(a and a[0].upper() in _EXTRACT_UNITS for a in args[:1]) and any(
                t.upper() == "FROM" for t in args[0]
            ):
                out += ["extract", "(", *_join_args(args), ")"]
            else:
                out += (_render_call(spark, tk, args, force=True)
                        or [tk, "(", *_join_args(args), ")"])
        elif new == "tostartofinterval__":
            out += _interval_floor(args[0], args[1], tk)
        else:
            out += [new, "(", *_join_args(args), ")"]
        i = close_i + 1
    return out


def _join_args(args: list[list[str]]) -> list[str]:
    """Argument token lists joined with commas."""
    out: list[str] = []
    for k, a in enumerate(args):
        if k:
            out.append(",")
        out += a
    return out


# ---------------------------------------------------------------------------
# SQL-lambda user functions (reference
# src/Functions/UserDefined/UserDefinedSQLFunctionFactory.h:18 —
# `CREATE FUNCTION name AS (args) -> expr`). The reference stores the
# lambda and inlines it during analysis; this shim does the same as a
# translation-time macro registry — calls expand to the parenthesized
# body with arguments substituted, BEFORE the dialect passes run, so
# the body may itself use ClickHouse functions.
# ---------------------------------------------------------------------------

_SQL_FUNCTIONS: dict[str, tuple[list[str], list[str]]] = {}


def _parse_create_function(toks: list[str]) -> bool:
    """CREATE FUNCTION name AS (p1, p2) -> body — register and return
    True; False when the statement is not a CREATE FUNCTION."""
    if len(toks) < 6 or toks[0].upper() != "CREATE" or toks[1].upper() != "FUNCTION":
        return False
    name = toks[2].lower()
    if toks[3].upper() != "AS":
        raise ChSqlError("CREATE FUNCTION: expected AS")
    i = 4
    params: list[str] = []
    if toks[i] == "(":
        close = _call_end(toks, i)
        params = [a[0] for a in _split_args(toks, i, close) if a]
        i = close + 1
    else:  # single bare parameter
        params = [toks[i]]
        i += 1
    if toks[i] != "->":
        raise ChSqlError("CREATE FUNCTION: expected ->")
    body = toks[i + 1 :]
    _SQL_FUNCTIONS[name] = (params, body)
    return True


def _expand_sql_functions(toks: list[str], depth: int = 0) -> list[str]:
    if depth > 16:
        raise ChSqlError("SQL function expansion too deep (recursive macro?)")
    out: list[str] = []
    i = 0
    changed = False
    while i < len(toks):
        tk = toks[i]
        if _match_call(toks, i) and tk.lower() in _SQL_FUNCTIONS:
            params, body = _SQL_FUNCTIONS[tk.lower()]
            close_i = _call_end(toks, i + 1)
            args = _split_args(toks, i + 1, close_i)
            if len(args) != len(params):
                raise ChSqlError(
                    f"{tk}: expects {len(params)} argument(s), got {len(args)}"
                )
            sub = {p.lower(): ["("] + a + [")"] for p, a in zip(params, args)}
            out.append("(")
            for b in body:
                out += sub.get(b.lower(), [b])
            out.append(")")
            i = close_i + 1
            changed = True
            continue
        out.append(tk)
        i += 1
    return _expand_sql_functions(out, depth + 1) if changed else out


# ---------------------------------------------------------------------------
# Entry points
# ---------------------------------------------------------------------------


def _rewrite_array_join(toks: list[str]) -> list[str]:
    """``[LEFT] ARRAY JOIN e1 [AS a1], e2 [AS a2], ...`` → LATERAL
    VIEWs (reference ArrayJoinStep.h:11; LEFT keeps rows with empty
    arrays — explode_outer semantics).

    Multi-array form iterates the arrays IN LOCKSTEP (ClickHouse zips,
    it does not cross-product), so the first array posexplodes and
    every further array is indexed by the shared position:

        LATERAL VIEW [OUTER] posexplode(e1) _aj0 AS __aj_pos, a1
        LATERAL VIEW [OUTER] explode(array(e2[__aj_pos])) _aj1 AS a2

    A bare single-token item re-binds its own column name; an
    expression-valued item without AS is an error (the old code
    derived the alias from the last token, yielding ``)``)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        is_left = (
            toks[i].upper() == "LEFT"
            and i + 2 < len(toks)
            and toks[i + 1].upper() == "ARRAY"
            and toks[i + 2].upper() == "JOIN"
        )
        is_plain = (
            toks[i].upper() == "ARRAY" and i + 1 < len(toks) and toks[i + 1].upper() == "JOIN"
        )
        if not (is_left or is_plain):
            out.append(toks[i])
            i += 1
            continue
        i += 3 if is_left else 2
        # collect items: comma-separated [expr, alias] pairs at depth 0
        stops = {"WHERE", "PREWHERE", "GROUP", "ORDER", "LIMIT", "QUALIFY",
                 "HAVING", "SETTINGS", "FORMAT", "LEFT", "INNER", "JOIN", "ARRAY"}
        items: list[tuple[list[str], str | None]] = []
        expr: list[str] = []
        alias: str | None = None
        depth = 0
        while i < len(toks):
            tk = toks[i]
            if tk == "(":
                depth += 1
            elif tk == ")":
                depth -= 1
            if depth == 0 and tk.upper() in stops:
                break
            if depth == 0 and tk == ",":
                items.append((expr, alias))
                expr, alias = [], None
                i += 1
                continue
            if depth == 0 and tk.upper() == "AS":
                alias = toks[i + 1]
                i += 2
                continue
            expr.append(tk)
            i += 1
        items.append((expr, alias))
        resolved: list[tuple[list[str], str]] = []
        for expr, alias in items:
            if alias is None:
                if len(expr) == 1 and (expr[0][:1].isalpha() or expr[0][:1] == "_"):
                    alias = expr[0]  # bare column re-binds its own name
                else:
                    raise ChSqlError(
                        "ARRAY JOIN with an expression requires an explicit "
                        f"AS alias: {' '.join(expr)}"
                    )
            resolved.append((expr, alias))
        outer = ["OUTER"] if is_left else []
        if len(resolved) == 1:
            fn = "explode_outer" if is_left else "explode"
            e, a = resolved[0]
            out += ["LATERAL", "VIEW", *outer, fn, "("] + e + [")", "_aj", "AS", a]
        else:
            e0, a0 = resolved[0]
            out += (
                ["LATERAL", "VIEW", *outer, "posexplode", "("]
                + e0
                + [")", "_aj0", "AS", "__aj_pos", ",", a0]
            )
            for k, (e, a) in enumerate(resolved[1:], start=1):
                # try_element_at is 1-based; posexplode's position is
                # 0-based — +1 keeps lockstep (and survives the
                # subscript pass, which rewrites [ ] the same way)
                out += (
                    ["LATERAL", "VIEW", *outer, "explode", "(", "array", "(",
                     "try_element_at", "(", "("]
                    + e
                    + [")", ",", "__aj_pos", "+", "1", ")", ")", ")",
                       f"_aj{k}", "AS", a]
                )
    return out


def _rewrite_date_preimage(toks: list[str]) -> list[str]:
    """``toYear(col) = 1996`` → ``col >= '1996-01-01' AND col <
    '1997-01-01'`` (reference OptimizeDateOrDateTimeConverterWithPreimage
    pass, src/Analyzer/Passes/OptimizeDateOrDateTimeConverterWithPreimagePass.cpp).
    Catalyst has no such rule, and the function form defeats parquet
    min/max pruning and partition pruning; the range form pushes down.
    Handles =, <, <=, >, >= against integer literals for toYear and
    toYYYYMM."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        fn = toks[i].lower() if i < len(toks) else ""
        if fn in ("toyear", "toyyyymm") and i + 1 < len(toks) and toks[i + 1] == "(":
            close = _call_end(toks, i + 1)
            # only simple single-token column args; anything else passes through
            args = toks[i + 2 : close]
            op = toks[close + 1] if close + 1 < len(toks) else ""
            lit = toks[close + 2] if close + 2 < len(toks) else ""
            if len(args) == 1 and op in ("=", "<", "<=", ">", ">=") and lit.isdigit():
                col = args[0]
                v = int(lit)
                if fn == "toyear":
                    lo, hi = f"'{v:04d}-01-01'", f"'{v + 1:04d}-01-01'"
                else:  # toYYYYMM: v = yyyymm
                    y, m = divmod(v, 100)
                    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
                    lo, hi = f"'{y:04d}-{m:02d}-01'", f"'{ny:04d}-{nm:02d}-01'"
                if op == "=":
                    repl = ["(", col, ">=", lo, "AND", col, "<", hi, ")"]
                elif op == "<":
                    repl = [col, "<", lo]
                elif op == "<=":
                    repl = [col, "<", hi]
                elif op == ">":
                    repl = [col, ">=", hi]
                else:  # >=
                    repl = [col, ">=", lo]
                out += repl
                i = close + 3
                continue
        out.append(toks[i])
        i += 1
    return out


_GLOBAL_FOLLOWERS = {
    "IN", "NOT", "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
    "ANY", "ALL", "SEMI", "ANTI", "ASOF",
}

_KEYWORDISH = {
    "SELECT", "FROM", "WHERE", "PREWHERE", "GROUP", "BY", "ORDER", "HAVING",
    "QUALIFY", "LIMIT", "OFFSET", "AS", "ON", "USING", "AND", "OR", "NOT",
    "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS", "UNION", "ALL",
    "DISTINCT", "WITH", ",", "(", ")", "=", "<", ">", "<=", ">=", "<>", "!=",
    "+", "-", "*", "/", ".",
}


def _strip_modifiers(toks: list[str]) -> list[str]:
    """Drop GLOBAL (shuffle/broadcast is Catalyst's call) and FINAL
    (merge-time folding is exposed via operators/mergetree.py views;
    on plain parquet views the un-folded read is the table itself).

    Context-sensitive: a bare token spelled ``final`` or ``global``
    can be a column name or alias — FINAL is stripped only when it
    directly follows a table reference (identifier or closing paren),
    GLOBAL only when immediately followed by IN / NOT / a join
    keyword."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        tk = toks[i]
        up = tk.upper()
        if up == "GLOBAL":
            nxt = toks[i + 1].upper() if i + 1 < len(toks) else ""
            if nxt in _GLOBAL_FOLLOWERS:
                i += 1
                continue
        elif up == "FINAL":
            prev = out[-1] if out else ""
            prev_is_ref = prev == ")" or (
                prev not in _KEYWORDISH
                and prev.upper() not in _KEYWORDISH
                and (prev[:1].isalpha() or prev[:1] == "_")
            )
            if prev_is_ref:
                i += 1
                continue
        out.append(tk)
        i += 1
    return out


_EXPR_BOUNDARY = {
    "SELECT", "FROM", "WHERE", "PREWHERE", "HAVING", "QUALIFY", "THEN",
    "WHEN", "ELSE", "BY", "ON", "AS", "SETTINGS", "LIMIT", "RETURN",
    "(", ",", "[",
}


def _primary_start(out: list[str]) -> int:
    """Index in ``out`` where the trailing primary expression begins —
    an identifier/dot chain, call, or bracketed group (used to wrap a
    subscripted expression into try_element_at)."""
    i = len(out)
    while True:
        j = i - 1
        if j < 0:
            break
        tk = out[j]
        if tk == ")":
            d = 0
            while j >= 0:
                if out[j] == ")":
                    d += 1
                elif out[j] == "(":
                    d -= 1
                    if d == 0:
                        break
                j -= 1
            if (
                j > 0
                and re.fullmatch(r"[A-Za-z_]\w*", out[j - 1] or "")
                and out[j - 1].upper() not in _KEYWORDISH
                and out[j - 1].upper() not in _EXPR_BOUNDARY
            ):
                j -= 1  # call: include the function name
            i = j
        elif re.fullmatch(r"[A-Za-z_]\w*", tk) or tk.startswith("`"):
            i = j
        else:
            break
        if i > 0 and out[i - 1] == ".":
            i -= 1
            continue
        break
    return i


def _rewrite_array_literals(toks: list[str]) -> list[str]:
    """CH ``[e1, e2, ...]`` array literals → ``array(e1, e2, ...)``,
    and CH subscripts ``x[i]`` → ``try_element_at(x, i)`` — CH arrays
    are 1-BASED while Spark's native ``[i]`` is 0-based, so passing
    subscripts through would silently shift every element (the
    reference returns the type default out of range; try_element_at's
    NULL is the Spark-idiomatic analogue). Map subscripts get the same
    rewrite (try_element_at works on both)."""
    out: list[str] = []
    stack: list[bool] = []  # True = literal array(); False = subscript
    for tk in toks:
        if tk == "[":
            prev = out[-1] if out else ""
            is_index = prev == ")" or (
                prev.upper() not in _EXPR_BOUNDARY
                and prev not in ("", "?", ":")
                and not prev.upper() in _KEYWORDISH
                and (prev[:1].isalnum() or prev[:1] in "_`")
            )
            stack.append(not is_index)
            if is_index:
                p = _primary_start(out)
                expr = out[p:]
                del out[p:]
                out += ["try_element_at", "(", *expr, ","]
            else:
                out += ["array", "("]
        elif tk == "]":
            if not stack:
                raise ChSqlError("unbalanced ']'")
            stack.pop()
            out.append(")")
        else:
            out.append(tk)
    return out


def _rewrite_ternary(toks: list[str]) -> list[str]:
    """CH ``cond ? a : b`` → ``if(cond, a, b)``. Ternary binds loosest
    (C-style), so the condition extends left and the else-branch right
    to the nearest same-depth expression boundary."""
    def depth_at(ts: list[str]) -> list[int]:
        ds, d = [], 0
        for t in ts:
            if t in ("(", "["):
                d += 1
            ds.append(d)
            if t in (")", "]"):
                d -= 1
        return ds

    guard = 0
    while "?" in toks:
        guard += 1
        if guard > 100:
            raise ChSqlError("ternary rewrite did not converge")
        ds = depth_at(toks)
        q = toks.index("?")
        dq = ds[q]
        # matching ':' at the same depth, skipping nested '?'
        nest, colon = 0, -1
        for j in range(q + 1, len(toks)):
            if ds[j] != dq:
                continue
            if toks[j] == "?":
                nest += 1
            elif toks[j] == ":":
                if nest == 0:
                    colon = j
                    break
                nest -= 1
        if colon < 0:
            raise ChSqlError("'?' without matching ':'")
        # condition start: nearest boundary to the left at this depth
        start = 0
        for j in range(q - 1, -1, -1):
            if ds[j] < dq or (ds[j] == dq and toks[j].upper() in _EXPR_BOUNDARY):
                start = j + 1
                break
        # else end: nearest boundary to the right of ':' at this depth
        end = len(toks)
        for j in range(colon + 1, len(toks)):
            if ds[j] < dq or (
                ds[j] == dq
                and (toks[j] == ","
                     or (toks[j].upper() in _EXPR_BOUNDARY and toks[j] != "("))
            ):
                end = j
                break
        cond, then, els = toks[start:q], toks[q + 1:colon], toks[colon + 1:end]
        if not cond or not then or not els:
            raise ChSqlError("malformed ternary expression")
        toks = (
            toks[:start]
            + ["if", "(", *cond, ",", *then, ",", *els, ")"]
            + toks[end:]
        )
    return toks


def _rewrite_tuple_access(toks: list[str]) -> list[str]:
    """CH positional tuple access ``t.1`` (lexed as the number token
    ``.1``) → ``._1``, matching the named_struct('_1', ...) fields the
    tuple() rewrite emits."""
    out: list[str] = []
    for tk in toks:
        if re.fullmatch(r"\.\d+", tk) and out and (
            out[-1] == ")" or out[-1][:1].isalpha() or out[-1][:1] == "_"
        ):
            out += [".", "_" + tk[1:]]
        else:
            out.append(tk)
    return out


def _rewrite_order_by_nulls(toks: list[str]) -> list[str]:
    """ClickHouse sorts NULLs LAST by default in either direction
    (reference SortDescription nulls_direction); Spark's ASC default
    is NULLS FIRST. Append an explicit NULLS LAST to every top-level
    ORDER BY item that doesn't already pin a NULLS position."""
    depth = 0
    ob = -1
    for i, tk in enumerate(toks):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and tk.upper() == "ORDER" and i + 1 < len(toks) \
                and toks[i + 1].upper() == "BY":
            ob = i
            break
    if ob < 0:
        return toks
    stops = {"LIMIT", "OFFSET", "SETTINGS", "FORMAT", "UNION", "INTERSECT",
             "EXCEPT"}
    end = len(toks)
    depth = 0
    for i in range(ob + 2, len(toks)):
        tk = toks[i]
        if tk == "(":
            depth += 1
        elif tk == ")":
            if depth == 0:
                end = i
                break
            depth -= 1
        elif depth == 0 and tk.upper() in stops:
            end = i
            break
    items: list[list[str]] = []
    cur: list[str] = []
    depth = 0
    for i in range(ob + 2, end):
        tk = toks[i]
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        if depth == 0 and tk == ",":
            items.append(cur)
            cur = []
        else:
            cur.append(tk)
    if cur:
        items.append(cur)
    new_items: list[str] = []
    for k, item in enumerate(items):
        if k:
            new_items.append(",")
        new_items += item
        if not any(t.upper() == "NULLS" for t in item):
            new_items += ["NULLS", "LAST"]
    return toks[:ob + 2] + new_items + toks[end:]


def _rewrite_limit_offset(toks: list[str]) -> list[str]:
    """MySQL-style ``LIMIT offset, count`` (CH supports both spellings)
    → ``LIMIT count OFFSET offset``; runs after the LIMIT..BY pass so
    only the plain suffix form remains."""
    depth = 0
    for i, tk in enumerate(toks):
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif (
            depth == 0
            and tk.upper() == "LIMIT"
            and i + 3 < len(toks)
            and toks[i + 1].isdigit()
            and toks[i + 2] == ","
            and toks[i + 3].isdigit()
        ):
            off, cnt = toks[i + 1], toks[i + 3]
            return toks[:i] + ["LIMIT", cnt, "OFFSET", off] + toks[i + 4:]
    return toks


def extract_into_outfile(sql: str) -> tuple[str, str | None]:
    """Split a trailing ``INTO OUTFILE '<path>'`` off the statement
    (reference ParserQueryWithOutput.cpp) — the CLI honors it; the
    plain transpiler refuses it (an I/O directive, not a query)."""
    m = re.search(r"\sINTO\s+OUTFILE\s+'([^']+)'\s*", sql, re.IGNORECASE)
    if not m:
        return sql, None
    return sql[: m.start()] + " " + sql[m.end():], m.group(1)


# Constructs with a DataFrame builder but no SQL-text translation:
# refuse with the pointer instead of leaking a Spark parse error.
_BUILDER_ONLY = [
    (r"\sWITH\s+FILL\b", "ORDER BY ... WITH FILL", "operators/fill.py with_fill"),
    (r"\sINTERPOLATE\s*\(", "INTERPOLATE", "operators/fill.py with_fill(interpolate=...)"),
    (r"\sASOF\s+(LEFT\s+)?JOIN\b", "ASOF JOIN", "operators/joins.py asof_join"),
    (r"\sPASTE\s+JOIN\b", "PASTE JOIN", "operators/joins.py paste_join"),
    # Spark TABLESAMPLE is bernoulli-random; the reference's SAMPLE is
    # a deterministic hash-ring slice — a silent swap would break
    # reproducibility, so route to the deterministic builder
    (r"\sSAMPLE\s+[\d.]", "SAMPLE clause", "operators/sampling.py sample_by_key"),
]


def _rewrite_scalar_with(toks: list[str]) -> list[str]:
    """ClickHouse scalar WITH (``WITH <expr> AS <ident>, ...``,
    reference ParserWithElement.cpp) → macro substitution of
    ``(<expr>)`` for each bare ``<ident>`` in the remainder. Standard
    CTEs (``<ident> AS (subquery)``) stay untouched; both forms can
    mix in one WITH list."""
    if not toks or toks[0].upper() != "WITH":
        return toks
    # collect items up to the depth-0 SELECT
    items: list[list[str]] = []
    cur: list[str] = []
    depth = 0
    i = 1
    while i < len(toks):
        tk = toks[i]
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        if depth == 0 and tk.upper() == "SELECT":
            break
        if depth == 0 and tk == ",":
            items.append(cur)
            cur = []
        else:
            cur.append(tk)
        i += 1
    if cur:
        items.append(cur)
    if i >= len(toks):
        return toks
    rest = toks[i:]
    ctes: list[list[str]] = []
    scalars: dict[str, list[str]] = {}
    ident = re.compile(r"[A-Za-z_]\w*")
    for item in items:
        if (
            len(item) >= 3
            and ident.fullmatch(item[0] or "")
            and item[1].upper() == "AS"
            and item[2] == "("
        ):
            ctes.append(item)  # standard CTE
        elif len(item) >= 3 and item[-2].upper() == "AS" and ident.fullmatch(item[-1] or ""):
            scalars[item[-1]] = item[:-2]  # scalar alias: expr AS name
        else:
            ctes.append(item)  # unknown shape: leave for Spark to judge
    if not scalars:
        return toks
    out: list[str] = []
    for j, tk in enumerate(rest):
        prev = rest[j - 1] if j else ""
        nxt = rest[j + 1] if j + 1 < len(rest) else ""
        # never substitute in alias-definition position (AS <name>) —
        # an inner alias legitimately shadows the macro
        if tk in scalars and prev != "." and prev.upper() != "AS" and nxt != "(":
            out += ["(", *scalars[tk], ")"]
        else:
            out.append(tk)
    if ctes:
        head: list[str] = ["WITH"]
        for k, c in enumerate(ctes):
            if k:
                head.append(",")
            head += c
        return head + out
    return out


# Query parameters: {name:Type} placeholders bound from --param_<name>
# (reference src/Interpreters/ReplaceQueryParameterVisitor.h; the value
# is parsed AS the declared type). Substitution produces a typed CAST
# of the literal — {t:Identifier} splices a validated bare identifier
# (table/column substitution, like the reference).
_QPARAM_RE = re.compile(r"\{\s*(\w+)\s*:\s*([A-Za-z0-9_()'\", ]+?)\s*\}")


def substitute_query_parameters(sql: str, params: dict | None) -> str:
    def repl(m: re.Match) -> str:
        name, ch_type = m.group(1), m.group(2).strip()
        from clickhouse_25_5_3_75_stable_spark.functions.typemap import (
            ch_type_to_spark,
        )

        is_ident = ch_type.lower() == "identifier"
        if not is_ident:
            try:
                spark_t = ch_type_to_spark(ch_type)
            except ValueError:
                return m.group(0)  # `{x:notatype}` — not a parameter
        if not params or name not in params:
            raise ChSqlError(
                f"query parameter {name!r} is not set (pass params={{...}} "
                f"or --param_{name} on the CLI)"
            )
        val = str(params[name])
        if is_ident:
            if not re.fullmatch(r"[\w.]+", val):
                raise ChSqlError(
                    f"Identifier parameter {name!r}: {val!r} is not a bare identifier"
                )
            return val
        esc = val.replace("'", "''")
        head = ch_type.split("(", 1)[0].strip().lower()
        if head in ("array", "map", "tuple"):
            # CH composite literals ([1,2] / {'a':1}) are JSON enough
            # for Spark's from_json (single quotes allowed by default)
            return f"from_json('{esc}', '{spark_t}')"
        return f"CAST('{esc}' AS {spark_t})"

    return _QPARAM_RE.sub(repl, sql)


@records_errors
def ch_sql_to_spark(sql: str, spark=None) -> str:
    """Translate a ClickHouse-dialect SELECT into Spark SQL text. A
    registry function Spark does not resolve becomes its Column door's
    render in `spark` (default: the active session); with no session
    the call is left as written."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if re.search(r"\sINTO\s+OUTFILE\s", sql, re.IGNORECASE):
        raise ChSqlError(
            "INTO OUTFILE: an output directive, not a query — the CLI "
            "(python -m clickhouse_25_5_3_75_stable_spark) honors it"
        )
    for pat, name, builder in _BUILDER_ONLY:
        if re.search(pat, sql, re.IGNORECASE):
            raise ChSqlError(
                f"{name}: no SQL-text translation — use the DataFrame "
                f"builder ({builder})"
            )
    # SELECT TOP n (reference ParserSelectQuery.cpp TOP branch; cannot
    # be combined with LIMIT there, so a plain append is safe). TOP n
    # WITH TIES needs the builder like LIMIT WITH TIES does.
    top = re.match(
        r"(?is)^(\s*SELECT\s+(?:DISTINCT\s+)?)TOP\s+\(?(\d+)\)?(\s+WITH\s+TIES)?\s+(.*)$",
        sql,
    )
    if top is not None:
        if top.group(3):
            raise ChSqlError(
                "TOP n WITH TIES: no SQL-text translation — use the "
                "DataFrame builder (operators/limits.py limit_with_ties)"
            )
        sql = top.group(1) + top.group(4).rstrip().rstrip(";") + f" LIMIT {top.group(2)}"
    toks = _tokenize(sql)
    if _parse_create_function(toks):
        return "SELECT 'OK' AS created"
    toks = _expand_sql_functions(toks)
    toks = _rewrite_scalar_with(toks)
    toks = _strip_suffix_clauses(toks)
    toks = _strip_modifiers(toks)
    toks = _rewrite_prewhere(toks)
    toks = _rewrite_quantified_comparison(toks)
    toks = _rewrite_distinct_on(toks)
    toks = _rewrite_limit_by(toks)
    toks = _rewrite_limit_offset(toks)
    toks = _rewrite_with_totals(toks)
    toks = _rewrite_collate(toks)
    toks = _rewrite_order_by_nulls(toks)
    toks = _rewrite_qualify(toks)
    toks = _rewrite_array_join(toks)
    toks = _rewrite_date_preimage(toks)
    # array literals FIRST: they become array(...) calls so the
    # paren-depth arg splitter in the passes below sees real calls,
    # not bare commas inside [ ]
    toks = _rewrite_array_literals(toks)
    toks = _rewrite_in_frame(toks)
    toks = _rewrite_ternary(toks)
    toks = _rewrite_functions(toks, spark)
    toks = _rewrite_tuple_access(toks)
    return _join_tokens(toks)


def _join_tokens(toks: list[str]) -> str:
    """Cosmetic join: no space before , ) . or after ( ."""
    out = []
    for k, tk in enumerate(toks):
        if k and tk not in (",", ")", ".") and toks[k - 1] not in ("(", "."):
            out.append(" ")
        out.append(tk)
    return "".join(out)


def _registry_fn(low: str):
    from clickhouse_25_5_3_75_stable_spark.functions.dialect import CH_FUNCTIONS

    return CH_FUNCTIONS.get(low)


def _no_sql_text(name: str) -> str:
    return (f"{name}: implemented as a DataFrame expression "
            "(functions.dialect ch / functions.aggregates ch_agg) but has no "
            "SQL-text translation yet — use the DataFrame API for this query")


# per session: function name -> whether Spark resolves it (builtins,
# and the session's temp functions: the hash and UDF tables, the h3
# SQL bodies)
_RESOLVES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _session_resolves(spark, low: str) -> bool:
    known = _RESOLVES.get(spark)
    if known is None:
        jvm = spark.sparkContext._jvm
        known = _RESOLVES[spark] = {None: (
            spark._jsparkSession.sessionState().functionRegistry(),
            jvm.org.apache.spark.sql.catalyst.FunctionIdentifier)}
    if low not in known:
        registry, ident = known[None]
        known[low] = bool(registry.functionExists(ident(low)))
    return known[low]


_PLACEHOLDER_RE = re.compile(r"__brg(\d+)")
_SIMPLE_ARG_RE = re.compile(r"[A-Za-z_][\w.]*|\d[\w.]*|'.*'|`.*`", re.DOTALL)


def _render_call(spark, tk: str, args: list[list[str]], force: bool = False):
    """The Column door's SQL text for a CH_FUNCTIONS call: the registry
    function applied to the arguments and rendered (_bridge_template),
    all-column shapes first, then literal shapes. Rendered when the
    session cannot resolve the name (or the name is _SHADOWED, or
    `force`); None leaves the call as written — no session, not a
    registry name, or a name Spark resolves. A registry name with no
    render raises the pointed use-the-DataFrame-API error."""
    low = tk.lower()
    if spark is None or _registry_fn(low) is None:
        return None
    shadowed = low in _SHADOWED
    if not (force or shadowed) and _session_resolves(spark, low):
        return None
    cols = tuple(("col", None) for _ in args)
    tmpl = _bridge_template(spark, low, cols)
    if tmpl is None:
        shapes = _arg_shapes(args)
        if shapes != cols:
            tmpl = _bridge_template(spark, low, shapes)
    if tmpl is None:
        if shadowed or _spark_syntax(spark, tk, args):
            return None
        raise ChSqlError(_no_sql_text(tk))
    out: list[str] = []
    for t in tmpl:
        m = _PLACEHOLDER_RE.fullmatch(t)
        if m is None:
            out.append(t)
            continue
        a = args[int(m.group(1))]
        bare = (len(a) == 1 and _SIMPLE_ARG_RE.fullmatch(a[0])) or (
            a[0] == "(" and _call_end(a, 0) == len(a) - 1) or (
            _match_call(a, 0) and _call_end(a, 1) == len(a) - 1)
        out += a if bare else ["(", *a, ")"]
    return out


def _spark_syntax(spark, tk: str, args: list[list[str]]) -> bool:
    """Whether Spark's parser reads the call as one of its own forms
    (TIMESTAMPDIFF(HOUR, a, b), ...), not a function to look up."""
    call = _join_tokens([tk, "(", *_join_args(args), ")"])
    try:
        with _quiet_analysis_errors():
            e = spark._jsparkSession.sessionState().sqlParser().parseExpression(call)
    except Exception:
        return False
    return e.getClass().getSimpleName() != "UnresolvedFunction"


_RENDER_TOKEN_RE = re.compile(
    r"""
    '(?:[^'\\]|\\.)*'
  | `[^`]*`
  | \d+(?:\.\d+)?(?:[eE][-+]?\d+)?[LDF]?
  | [A-Za-z_][A-Za-z0-9_]*
  | <=>|<=|>=|!=|==|->|&&|\|\|
  | [-+*/%&|^!~=<>(),.\[\]:]
    """,
    re.X,
)

_PREFIX_BIN = {"+", "-", "*", "/", "%", "&", "|", "^", "=", "==", "!=",
               "<", "<=", ">", ">=", "<=>", "and", "or"}
_PREFIX_UN = {"!", "not", "-", "~"}


def _infix_repair(txt: str) -> list[str] | None:
    """Column.toString renders operator nodes PREFIX (`=(a, b)`,
    `!(x)`), which is not SQL. Rewrite them to fully parenthesized
    infix tokens — full parenthesization makes a successful re-parse
    unambiguous, and the caller's parseExpression check rejects any
    repair that went wrong (round-6: unlocks the operator-bearing half
    of the expression bridge)."""
    toks, i = [], 0
    while i < len(txt):
        if txt[i].isspace():
            i += 1
            continue
        m = _RENDER_TOKEN_RE.match(txt, i)
        if not m:
            return None
        tok = m.group(0)
        # a python-float literal renders WITHOUT its D suffix, and the
        # re-parse would type it DECIMAL(p,s) instead of DOUBLE —
        # restore the suffix (token-wise, so string literals are safe)
        if re.match(r"^\d+\.\d+(?:[eE][-+]?\d+)?$", tok) or \
                re.match(r"^\d+[eE][-+]?\d+$", tok):
            tok += "D"
        toks.append(tok)
        i = m.end()

    def _match(toks, open_i):
        d = 0
        for k in range(open_i, len(toks)):
            if toks[k] == "(":
                d += 1
            elif toks[k] == ")":
                d -= 1
                if d == 0:
                    return k
        raise ValueError("unbalanced")

    def repair(ts):
        out, k = [], 0
        while k < len(ts):
            t = ts[k]
            tl = t.lower()
            if ((tl in _PREFIX_BIN or tl in _PREFIX_UN)
                    and k + 1 < len(ts) and ts[k + 1] == "("):
                close = _match(ts, k + 1)
                args = [repair(a) for a in _split_top_args(ts[k + 2 : close])]
                if len(args) == 1 and tl in _PREFIX_UN:
                    op = "NOT" if tl in ("!", "not") else t
                    out += ["(", op, "("] + args[0] + [")", ")"]
                elif len(args) >= 2 and tl in _PREFIX_BIN:
                    op = {"and": "AND", "or": "OR", "==": "="}.get(tl, t)
                    rep = ["(", "("] + args[0] + [")"]
                    for a in args[1:]:
                        rep += [op, "("] + a + [")"]
                    out += rep + [")"]
                else:
                    raise ValueError("arity")
                k = close + 1
            else:
                out.append(t)
                k += 1
        return out

    try:
        return repair(toks)
    except ValueError:
        return None


# (name, arg shapes) -> the rendered template (tokens, with __brg{k}
# column placeholders), None when the name does not render, or
# _DYNAMIC for a seed-bearing render. Cached for the whole process.
_BRIDGE_CACHE: dict[tuple[str, tuple], list[str] | None | object] = {}
_DYNAMIC = object()


def _bridge_template(spark, low: str, shapes: tuple) -> list[str] | None:
    """Render a registry Column-function to a Spark-SQL expression
    template (round-6): apply it to __brg{i} placeholder columns —
    with ("lit"/"litlist", value) shape positions passed as PYTHON
    values, baked into the template — take the Column's SQL rendering,
    and accept it only if it (a) parses back as one expression and (b)
    uses every column placeholder outside quoted literals. By
    construction the accepted template IS the DataFrame surface's
    semantics — the same Column tree, serialized. Anything that doesn't
    render cleanly stays on the pointed use-the-DataFrame-API error,
    never a silent mistranslation."""
    key = (low, shapes)
    cached = _BRIDGE_CACHE.get(key, _DYNAMIC)
    if cached is not _DYNAMIC:
        return cached

    def _render():
        from pyspark.sql import functions as F

        built = []
        for k, (kind, v) in enumerate(shapes):
            if kind == "col":
                built.append(F.col(f"__brg{k}"))
            elif kind == "lit":
                built.append(v)
            else:  # litlist
                built.append(list(v))
        return str(_registry_fn(low)(*built))

    try:
        txt = _render()
        # a seed-bearing render (rand/shuffle bake a random long seed)
        # renders anew per use, so every query draws fresh randomness
        dynamic = re.search(r"\d{6}", txt) is not None and txt != _render()
        toks = _checked_template(spark, txt, shapes)
    except Exception:
        dynamic, toks = False, None
    _BRIDGE_CACHE[key] = _DYNAMIC if dynamic and toks else toks
    return toks


def _checked_template(spark, txt: str, shapes: tuple) -> list[str] | None:
    if not (txt.startswith("Column<'") and txt.endswith("'>")):
        return None
    # the repair pass also restores D suffixes on double literals
    # and is the identity on operator-free renders
    toks = _infix_repair(txt[8:-2])
    if toks is None:
        return None
    sql = _join_tokens(toks)
    spark._jsparkSession.sessionState().sqlParser().parseExpression(sql)
    # a placeholder inside a quoted literal (str() of a Column the
    # function wanted as a Python value) is not a use
    if not all(f"__brg{k}" in toks
               for k, (kind, _v) in enumerate(shapes) if kind == "col"):
        return None
    if _plainly_resolves(spark, toks):
        return toks
    # analysis probe with NULL args: a template can parse yet carry
    # a non-SQL identifier render (isFinite's `Infinity` double) —
    # reject on UNRESOLVED; type-mismatch errors are expected (the
    # probe's NULLs are untyped) and pass
    probe = _join_tokens(["NULL" if _PLACEHOLDER_RE.fullmatch(t) else t for t in toks])
    try:
        with _quiet_analysis_errors():
            spark.sql("SELECT " + probe).schema
    except Exception as pe:
        # the [UNRESOLVED_*] error CLASS only — a DATATYPE_MISMATCH
        # message embeds the plan dump, whose `unresolvedalias`
        # nodes false-matched a substring check
        if "[UNRESOLVED_" in str(pe):
            return None
    return toks


# the words of a render that name neither a column nor a function
_SQL_WORDS = {
    "null", "true", "false", "case", "when", "then", "else", "end", "as", "is",
    "not", "and", "or", "in", "like", "distinct", "cast", "try_cast", "int",
    "bigint", "smallint", "tinyint", "double", "float", "string", "boolean",
    "date", "timestamp", "decimal", "binary", "array", "map", "struct",
}


def _plainly_resolves(spark, toks: list[str]) -> bool:
    """Whether every name in a template is a placeholder, a lambda
    variable, a struct field, an SQL word or a function the session
    resolves: then the analysis probe cannot fail UNRESOLVED, and its
    ~10-30 ms a render are saved."""
    bound = set()
    for k, t in enumerate(toks):
        if t == "->":
            j = k - 1
            if toks[j] == ")":
                j = max(i for i in range(j) if toks[i] == "(")
            bound.update(toks[j:k])
    for k, t in enumerate(toks):
        if not (t[0].isalpha() or t[0] == "_") or t in bound or (k and toks[k - 1] == "."):
            continue
        low = t.lower()
        if k + 1 < len(toks) and toks[k + 1] == "(" and low not in _SQL_WORDS:
            if not _session_resolves(spark, low):
                return False
        elif low not in _SQL_WORDS and not _PLACEHOLDER_RE.fullmatch(t):
            return False
    return True


@contextlib.contextmanager
def _quiet_analysis_errors():
    """PySpark logs every analysis error with its stack trace at ERROR;
    the render probe's expected failures are not errors."""
    from pyspark.logger import PySparkLogger

    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    disabled, logger.disabled = logger.disabled, True
    try:
        yield
    finally:
        logger.disabled = disabled


def _sql_literal_value(tok: str) -> str | None:
    """Python value of a single-quoted SQL string literal token."""
    if not (len(tok) >= 2 and tok.startswith("'") and tok.endswith("'")):
        return None
    body, out, i = tok[1:-1], [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            out.append(body[i + 1])
            i += 2
        elif c == "'" and i + 1 < len(body) and body[i + 1] == "'":
            out.append("'")
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _number_value(arg: list[str]) -> int | float | None:
    """Python value of a (signed) numeric literal argument."""
    txt = "".join(arg)
    if not re.fullmatch(r"-?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?", txt):
        return None
    try:
        return int(txt)
    except ValueError:
        return float(txt)


def _arg_shapes(args: list[list[str]]) -> tuple:
    """Per-arg descriptors for the literal-aware bridge: ("col", None)
    for expressions, ("lit", value) for a string or numeric literal,
    ("litlist", values) for array('a', 'b', ...) of string literals."""
    shapes = []
    for a in args:
        v = _sql_literal_value(a[0]) if len(a) == 1 else None
        if v is None:
            v = _number_value(a)
        if v is not None:
            shapes.append(("lit", v))
            continue
        if len(a) >= 3 and a[0].lower() == "array" and a[1] == "(" \
                and a[-1] == ")":
            items = _split_top_args(a[2:-1])
            vals = [
                _sql_literal_value(it[0]) if len(it) == 1 else None
                for it in items
            ]
            if items and all(v is not None for v in vals):
                shapes.append(("litlist", tuple(vals)))
                continue
        shapes.append(("col", None))
    return tuple(shapes)


@records_errors
def ch_sql(spark, sql: str, sf_dir: str | None = None,
           params: dict | None = None):
    """Run one ClickHouse-dialect statement on Spark and return its
    result as a DataFrame — the one executor behind the CLI, HTTP and
    the library. A statement that is not a query (DDL, INSERT, ALTER,
    SHOW, ...) runs through the statement table in statements.py; any
    other text takes the query path. The data dir is `sf_dir`, whose
    tables are registered as temp views first, or else the session's
    ``spark.chspark.dataDir``. `params` binds {name:Type} query
    parameters (typed-literal substitution).

    A trailing ``SETTINGS k=v, ...`` is honored for the recognized
    subset (_KNOWN_SETTINGS): applied at SESSION scope — Spark plans
    lazily, so a per-query restore would race the action; use
    apply_settings/restore_settings for explicit scoping. Unknown
    settings raise, matching the reference's BAD_ARGUMENTS."""
    from clickhouse_25_5_3_75_stable_spark import statements
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import begin_query

    # ClientInfo scope: assign THIS query's id/start time before any
    # transpile so queryID()/initialQueryStartTime() in the text
    # resolve to the query that contains them
    query_id = begin_query(sql)
    if sf_dir is not None:
        from clickhouse_25_5_3_75_stable_spark.sources.catalog import register_views

        register_views(spark, sf_dir)
        data_dir = sf_dir
    else:
        data_dir = spark.conf.get("spark.chspark.dataDir", None)
    if params or _QPARAM_RE.search(sql):
        sql = substitute_query_parameters(sql, params)
    df = statements.execute(spark, sql, data_dir,
                            lambda body: _query(spark, body, data_dir))
    if df is None:
        df = _query(spark, sql, data_dir)
    # tag the result with ITS query id so a later deferred
    # explain_analyze (and the CLI's QueryFinish) attributes to this
    # query. Never overwrite: a query-cache hit returns the SHARED
    # cached DataFrame, whose first tag — the query that actually
    # computed the plan — wins.
    if not hasattr(df, "_ch_query_id"):
        df._ch_query_id = query_id
    return df


def _query(spark, sql: str, data_dir: str | None):
    """The query path of ch_sql: system tables, data-dir rewrites (lake
    time travel, LIVE VIEW refresh, FINAL folding, projection routing),
    the builder-backed shapes (WITH FILL, ASOF, PASTE JOIN), then the
    transpiled text."""
    from clickhouse_25_5_3_75_stable_spark import statements

    # `FROM system.<name>` (round-6): Spark temp views carry no schema
    # qualifier, so known system tables rewrite to __system_<name> and
    # materialize on demand (footer/registry metadata — no data scan)
    if re.search(r"\bsystem\.", sql, re.IGNORECASE):
        from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
            materialize_system_views,
            rewrite_system_refs,
        )

        sql, _sys_names = rewrite_system_refs(sql)
        materialize_system_views(spark, _sys_names, data_dir)
    sql = statements.rewrite_query(spark, sql, data_dir)
    if data_dir is not None:
        routed = statements._route_projection(spark, data_dir, sql)
        if routed is not None:
            return routed
    # dictGet family (round-9; dictionary_sql.py —
    # FunctionsExternalDictionaries.h)
    if re.search(r"\bdict(Get|Has)", sql):
        from clickhouse_25_5_3_75_stable_spark.dictionary_sql import (
            rewrite_dict_calls,
        )

        sql = rewrite_dict_calls(sql)
    sql = _expand_view_table_function(sql)
    sql = _materialize_table_functions(spark, sql)
    sql = _expand_column_transformers(spark, sql)
    fill = re.search(
        r"ORDER\s+BY\s+(\w+)(\s+DESC|\s+ASC)?\s+WITH\s+FILL"
        r"(?:\s+FROM\s+(\S+))?(?:\s+TO\s+(\S+))?(?:\s+STEP\s+(\S+))?",
        sql,
        re.IGNORECASE,
    )
    if fill is not None:
        # INTERPOLATE (c[, ...]) — the reference evaluates each spec's
        # expression over the PREVIOUS output row (FillingTransform.h);
        # the bare-column / identity form is exactly carry-forward,
        # which is what the SQL surface supports. Expressions need the
        # DataFrame builder (fill_linear / with_fill_dates).
        interp_cols: list[str] = []
        interp_m = re.search(r"\sINTERPOLATE\s*\(([^)]*)\)", sql, re.IGNORECASE)
        if interp_m is not None:
            for spec in interp_m.group(1).split(","):
                sm = re.match(r"^\s*(\w+)(?:\s+AS\s+(\w+)\s*)?\s*$",
                              spec, re.IGNORECASE)
                if sm is None or (sm.group(2) and sm.group(2) != sm.group(1)):
                    raise ChSqlError(
                        "INTERPOLATE with an expression: use the DataFrame "
                        "builder (operators/fill.py fill_linear / "
                        "with_fill_dates(fill_forward=...))"
                    )
                interp_cols.append(sm.group(1))
            sql = sql[: interp_m.start()] + " " + sql[interp_m.end():]
            fill = re.search(
                r"ORDER\s+BY\s+(\w+)(\s+DESC|\s+ASC)?\s+WITH\s+FILL"
                r"(?:\s+FROM\s+(\S+))?(?:\s+TO\s+(\S+))?(?:\s+STEP\s+(\S+))?",
                sql, re.IGNORECASE,
            )
        col = fill.group(1)
        desc = (fill.group(2) or "").strip().upper() == "DESC"
        stripped = sql[: fill.end(1) + (len(fill.group(2) or ""))] + sql[fill.end():]
        base = _query(spark, stripped, data_dir)
        return _apply_with_fill(
            spark, base, col, desc, fill.group(3), fill.group(4), fill.group(5),
            interpolate=interp_cols,
        )
    asof = _ASOF_RE.match(sql)
    if asof is not None and re.search(r"\sASOF\s", sql, re.IGNORECASE):
        return _run_asof_sql(spark, asof)
    paste = re.match(
        r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<lt>\w+)\s+PASTE\s+JOIN\s+"
        r"(?P<rt>\w+)(?P<tail>\s+(?:WHERE|ORDER|LIMIT)\b.*)?;?\s*$",
        sql, re.IGNORECASE | re.DOTALL,
    )
    if paste is not None:
        from clickhouse_25_5_3_75_stable_spark.operators.joins import paste_join

        lt_df = spark.table(paste.group("lt"))
        rt_df = spark.table(paste.group("rt"))
        # the reference zips physical block order — meaningless across a
        # cluster, so the SQL form zips each side's all-columns sort
        # (deterministic); pass explicit orders via the builder for
        # anything else
        joined = paste_join(lt_df, rt_df, lt_df.columns, rt_df.columns)
        view = "__paste_join_result"
        joined.createOrReplaceTempView(view)
        return spark.sql(ch_sql_to_spark(
            "SELECT " + paste.group("select") + " FROM " + view
            + (paste.group("tail") or ""), spark
        ))
    _, settings = _split_suffix_clauses(_tokenize(sql))
    if settings:
        restore = apply_settings(spark, settings)
        # statement-level `SETTINGS use_query_cache=1` is per-QUERY in
        # the reference (Settings.cpp — the clause scopes to the
        # statement; session scope is the SET statement). The cache
        # routing below reads the statement's settings dict directly,
        # so the session conf must not keep the statement's value —
        # a persisted '1' made every later ch_sql silently serve
        # cached results (stale volatile system tables, round-9 find).
        if "use_query_cache" in settings:
            prev = restore.get("spark.chspark.useQueryCache")
            if prev is None:
                spark.conf.unset("spark.chspark.useQueryCache")
            else:
                spark.conf.set("spark.chspark.useQueryCache", prev)
    translated = ch_sql_to_spark(sql, spark)
    from clickhouse_25_5_3_75_stable_spark.sources.system_tables import record_query

    record_query(sql, translated)
    try:
        df = spark.sql(translated)
        if "max_result_rows" in settings:
            cap = int(settings["max_result_rows"].strip("'\""))
            if cap > 0:  # reference: 0 means unlimited
                mode = settings.get("result_overflow_mode", "throw").strip("'\"")
                df = enforce_result_cap(df, cap, mode)
        # use_query_cache (reference QueryResultCache.h behind the same
        # setting): route the result plan through the process-wide
        # cache so SYSTEM DROP QUERY CACHE acts on real state
        # (round-5 advisor: the CLI path never populated it)
        use_cache = settings.get("use_query_cache", "").strip("'\"") or (
            spark.conf.get("spark.chspark.useQueryCache", "0")
        )
        if use_cache in ("1", "true", "True"):
            from clickhouse_25_5_3_75_stable_spark.operators.result_cache import (
                default_cache,
            )
            from clickhouse_25_5_3_75_stable_spark.sources.system_tables import (
                current_query_id,
            )

            df = default_cache().get_or_cache(
                df, query=sql, query_id=current_query_id()
            )
        return df
    except Exception as e:  # an aggregate with no SQL text: a useful error
        msg = str(e)
        if "UNRESOLVED_ROUTINE" in msg:
            m = re.search(r"Cannot resolve routine `([^`]+)`", msg)
            name = m.group(1) if m else "?"
            from clickhouse_25_5_3_75_stable_spark.functions.aggregates import (
                supported_aggregates,
            )

            # compare case-folded: camelCase names (argMinIf, …) are
            # registered lowercased (fuzz-audit finding, round 6)
            if name.lower() in {a.lower() for a in supported_aggregates()}:
                raise ChSqlError(_no_sql_text(name)) from e
        raise


# ClickHouse SELECT-list column transformers
# (src/Parsers/ASTColumnsTransformers.cpp — COLUMNS('re'), and the
# EXCEPT / REPLACE / APPLY chain). Spark knows `* EXCEPT (...)`
# natively but not COLUMNS or APPLY/REPLACE, and all of them need the
# FROM table's schema to expand — so ch_sql expands them against the
# catalog before transpiling. Supported shape: the WHOLE select list is
# one `*` or COLUMNS('re') spec plus transformers, over a named
# table/view (the overwhelmingly common migration usage; mixed lists
# need the DataFrame API).
_SELECT_TX_RE = re.compile(
    r"^(\s*SELECT\s+)"
    r"(\*|COLUMNS\s*\(\s*'(?P<rx>[^']+)'\s*\))"
    r"(?P<tx>(?:\s+(?:EXCEPT|REPLACE|APPLY)\s*\((?:[^()]|\([^()]*\))*\))*)"
    r"(?P<rest>\s+FROM\s+(?P<tbl>\w+)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_TX_ITEM_RE = re.compile(
    r"(EXCEPT|REPLACE|APPLY)\s*\(((?:[^()]|\([^()]*\))*)\)", re.IGNORECASE
)


def _expand_view_table_function(sql: str) -> str:
    """view(SELECT ...) table function → a plain aliased subquery
    (src/TableFunctions/TableFunctionView.cpp — the TF is literally a
    subquery wrapper). Balanced-paren scan so nested parens inside the
    inner query survive; only FROM/JOIN position rewrites."""
    out = []
    i = 0
    n = 0
    pat = re.compile(r"\b(FROM|JOIN)\s+view\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql, i)
        if m is None:
            out.append(sql[i:])
            break
        start = m.end()  # position after the opening paren
        depth = 1
        j = start
        while j < len(sql) and depth:
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        if depth:
            raise ChSqlError("view(: unbalanced parentheses")
        n += 1
        out.append(sql[i:m.start()])
        # keep the user's own alias if one follows (`... view(...) v`);
        # only synthesize one when the subquery would be bare
        tail = re.match(
            r"\s*(?:AS\s+)?([A-Za-z_]\w*)", sql[j:], re.IGNORECASE
        )
        keywords = {
            "on", "where", "group", "order", "limit", "having", "join",
            "inner", "left", "right", "full", "cross", "union", "settings",
            "qualify", "using", "asof", "semi", "anti", "paste", "global",
        }
        has_alias = tail is not None and tail.group(1).lower() not in keywords
        alias = "" if has_alias else f" __view_{n}"
        inner = _expand_view_table_function(sql[start:j - 1])  # nested view()
        out.append(f"{m.group(1)} ({inner}){alias}")
        i = j
    return "".join(out)


_BARE_APPLY_RE = re.compile(
    r"^(\s*SELECT\s+)(?P<items>(?:[^()']|\((?:[^()']|\([^()]*\)|'[^']*')*\)|'[^']*')+?)"
    r"(?P<tx>(?:\s+APPLY\s*\(\s*\w+\s*\))+)"
    r"(?P<rest>\s+FROM\b.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _expand_bare_apply(sql: str) -> str:
    """`SELECT a, b APPLY(f) FROM ...` — the reference applies the
    transformer to EVERY item of a plain select list, not only to
    */COLUMNS (ParserTablesInSelectQuery transformer grammar). Result
    names follow the */COLUMNS path: f(col)."""
    m = _BARE_APPLY_RE.match(sql)
    if m is None:
        return sql
    items_text = m.group("items").strip()
    if items_text == "*" or re.match(r"(?is)^COLUMNS\s*\(", items_text):
        return sql  # the */COLUMNS path owns these
    # split on top-level commas
    items, depth, cur = [], 0, []
    for ch in items_text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    items.append("".join(cur).strip())
    if any(re.search(r"(?is)\sAS\s", it) for it in items):
        return sql  # aliased items: out of the transformer subset
    fns = [t.group(2).strip() for t in _TX_ITEM_RE.finditer(m.group("tx"))]
    exprs = []
    for it in items:
        expr = name = it
        for fn in fns:
            expr = f"{fn}({expr})"
            name = f"{fn}({name})"
        exprs.append(f"{expr} AS `{name}`")
    return m.group(1) + ", ".join(exprs) + m.group("rest")


def _expand_column_transformers(spark, sql: str) -> str:
    m = _SELECT_TX_RE.match(sql)
    if m is None:
        return _expand_bare_apply(sql)
    uses_columns = m.group(2) != "*"
    tx = m.group("tx") or ""
    if not uses_columns and not tx.strip():
        return sql  # plain SELECT * — nothing to expand
    if not uses_columns and re.fullmatch(
        r"\s*EXCEPT\s*\([^()]*\)\s*", tx, re.IGNORECASE
    ) and "'" not in tx:
        return sql  # * EXCEPT (a, b) — Spark-native, pass through
    tbl = m.group("tbl")
    try:
        names = spark.table(tbl).columns
    except Exception:
        return sql  # subquery/unknown relation: leave for the parser
    if uses_columns:
        rx = re.compile(m.group("rx"))  # re2 partial match semantics
        names = [n for n in names if rx.search(n)]
    # (output_name, expr) pairs, transformed left to right
    items = [(n, n) for n in names]
    for t in _TX_ITEM_RE.finditer(tx):
        kind, body = t.group(1).upper(), t.group(2).strip()
        if kind == "EXCEPT":
            if body.startswith("'") and body.endswith("'"):
                erx = re.compile(body[1:-1])
                items = [it for it in items if not erx.search(it[0])]
            else:
                drop = {c.strip().lower() for c in body.split(",")}
                items = [it for it in items if it[0].lower() not in drop]
        elif kind == "REPLACE":
            repl = {}
            for part in re.split(r",(?![^()]*\))", body):
                pm = re.match(r"(?is)^\s*(.+?)\s+AS\s+(\w+)\s*$", part)
                if pm is None:
                    raise ChSqlError(
                        f"REPLACE transformer: expected 'expr AS name', got {part!r}"
                    )
                repl[pm.group(2).lower()] = pm.group(1)
            items = [
                (name, repl.get(name.lower(), expr)) for name, expr in items
            ]
        else:  # APPLY — result name is f(col), like the reference
            fn = body
            if not re.fullmatch(r"\w+", fn):
                raise ChSqlError(
                    f"APPLY transformer: only a function name is supported, got {fn!r}"
                )
            items = [
                (f"{fn}({name})", f"{fn}({expr})") for name, expr in items
            ]
    if not items:
        raise ChSqlError("column transformer chain removed every column")
    select_list = ", ".join(
        expr if expr == name else f"{expr} AS `{name}`" for name, expr in items
    )
    return m.group(1) + select_list + m.group("rest")


# Lake / object-store table functions in the FROM clause
# (src/TableFunctions/TableFunctionObjectStorage.cpp:354-410 —
# deltaLake/iceberg/hudi; registerTableFunctions.cpp — file/url).
# Each occurrence is materialized through the matching Python reader
# into a temp view before transpilation; only the FROM/JOIN position
# is rewritten so string literals elsewhere can't false-match.
_LAKE_TF_RE = re.compile(
    r"\b(FROM|JOIN)\s+(deltaLake|iceberg|hudi|file|url)\s*\(\s*"
    r"'([^']+)'(?:\s*,\s*'([^']+)')?\s*\)",
    re.IGNORECASE,
)

_tf_counter = 0


def _materialize_table_functions(spark, sql: str) -> str:
    def repl(m: re.Match) -> str:
        global _tf_counter
        kw, fn, path, arg2 = m.group(1), m.group(2).lower(), m.group(3), m.group(4)
        if fn == "deltalake":
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_delta

            df = read_delta(spark, path)
        elif fn == "iceberg":
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_iceberg

            df = read_iceberg(spark, path)
        elif fn == "hudi":
            from clickhouse_25_5_3_75_stable_spark.sources.datalake import read_hudi

            df = read_hudi(spark, path)
        else:  # file / url: a format that describes its own schema
            from clickhouse_25_5_3_75_stable_spark.sources import formats
            from clickhouse_25_5_3_75_stable_spark.sources.object_store import normalize_uri

            try:
                df = formats.read(spark, arg2 or "Parquet", normalize_uri(path), sql=True)
            except ValueError as e:
                raise ChSqlError(f"{fn}(..., '{arg2}'): {e}") from None
        _tf_counter += 1
        view = f"__tf_{fn}_{_tf_counter}"
        df.createOrReplaceTempView(view)
        return f"{kw} {view}"

    return _LAKE_TF_RE.sub(repl, sql)


_ASOF_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+"
    r"(?P<lt>\w+)(?:\s+AS\s+(?P<la>\w+))?\s+"
    r"ASOF\s+(?:(?P<outer>LEFT)\s+)?JOIN\s+"
    r"(?P<rt>\w+)(?:\s+AS\s+(?P<ra>\w+))?\s+"
    r"ON\s+(?P<on>.+?)"
    r"(?P<tail>\s+(?:WHERE|GROUP|ORDER|LIMIT)\b.*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _run_asof_sql(spark, m: re.Match):
    """Executable ASOF JOIN subset: two named relations, equality keys
    plus ONE timestamp inequality in the ON conjunction (reference
    src/Core/Joins.h ASOF inequalities). The join runs through
    operators/joins.asof_join; the SELECT list and tail clauses then
    apply over the joined relation with alias prefixes stripped."""
    from clickhouse_25_5_3_75_stable_spark.operators.joins import asof_join

    lt, rt = m.group("lt"), m.group("rt")
    la = m.group("la") or lt
    ra = m.group("ra") or rt
    left, right = spark.table(lt), spark.table(rt)

    by: list[str] = []
    ts_pair: tuple[str, str, str] | None = None  # (left_ts, right_ts, op)
    for cond in re.split(r"\bAND\b", m.group("on"), flags=re.IGNORECASE):
        cm = re.match(
            r"\s*(\w+)\.(\w+)\s*(=|>=|<=|>|<)\s*(\w+)\.(\w+)\s*$", cond
        )
        if not cm:
            raise ChSqlError(f"ASOF JOIN: cannot parse ON condition {cond!r}")
        a_al, a_col, op, b_al, b_col = cm.groups()
        # normalize to (left, right)
        if a_al == la and b_al == ra:
            l_col, r_col = a_col, b_col
        elif a_al == ra and b_al == la:
            l_col, r_col = b_col, a_col
            op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}.get(op, op)
        else:
            raise ChSqlError(f"ASOF JOIN: unknown alias in {cond!r}")
        if op == "=":
            if l_col != r_col:
                raise ChSqlError(
                    "ASOF JOIN: equality keys must share a column name "
                    f"({l_col} vs {r_col}) — alias one side first"
                )
            by.append(l_col)
        else:
            if ts_pair is not None:
                raise ChSqlError("ASOF JOIN: exactly one inequality expected")
            ts_pair = (l_col, r_col, op)
    if ts_pair is None:
        raise ChSqlError("ASOF JOIN: the ON clause needs a timestamp inequality")
    if not by:
        raise ChSqlError("ASOF JOIN: at least one equality key expected")
    l_ts, r_ts, op = ts_pair
    direction = "backward" if op in (">=", ">") else "forward"
    strict = op in (">", "<")

    body = m.group("select") + (m.group("tail") or "")
    refd = set(re.findall(rf"\b{ra}\.(\w+)", body))
    right_values = sorted(refd - set(by)) or [
        c for c in right.columns if c not in by and c != r_ts
    ]
    clash = [c for c in right_values if c in left.columns]
    if clash:
        raise ChSqlError(
            f"ASOF JOIN: right columns {clash} collide with left columns — "
            "select them under distinct names via the DataFrame builder"
        )
    joined = asof_join(
        left, right, by=by, left_ts=l_ts, right_ts=r_ts,
        right_values=right_values, strict=strict,
        how="left" if m.group("outer") else "inner",
        direction=direction,
    )
    view = "__asof_join_result"
    joined.createOrReplaceTempView(view)
    text = "SELECT " + m.group("select") + " FROM " + view + (m.group("tail") or "")
    text = re.sub(rf"\b(?:{la}|{ra})\.", "", text)
    return spark.sql(ch_sql_to_spark(text, spark))


def _apply_with_fill(spark, df, col: str, desc: bool,
                     from_: str | None, to_: str | None, step_: str | None,
                     interpolate: list[str] | None = None):
    """ORDER BY <col> WITH FILL [FROM a] [TO b] [STEP s] over an
    integer or date column (reference FillingTransform.h): dense axis
    LEFT-JOINed under the result; FROM defaults to the result's min,
    TO (EXCLUSIVE, per the reference) to just past its max; STEP
    defaults to 1 (day for dates). `interpolate` columns carry the
    previous output row's value into filled rows (the identity
    INTERPOLATE form)."""
    from pyspark.sql import functions as F

    if col not in df.columns:
        raise ChSqlError(f"WITH FILL: {col!r} is not an output column")
    dt = dict(df.dtypes)[col]
    is_date = dt == "date"
    if not (is_date or dt in ("int", "bigint", "smallint", "tinyint")):
        raise ChSqlError(f"WITH FILL: unsupported fill column type {dt}")
    # FROM/TO may arrive as quoted literals ('2024-01-01') — unquote
    # before casting (a quoted string cast to date is NULL, which
    # would silently produce an empty axis: fuzz/review finding)
    from_ = from_.strip("'\"") if from_ is not None else None
    to_ = to_.strip("'\"") if to_ is not None else None
    step_ = step_.strip("'\"") if step_ is not None else None
    lo_hi = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    if lo_hi.lo is None:
        return df  # empty result: nothing to fill
    step = abs(int(step_)) if step_ is not None else 1
    # the grid is always built ascending (the final orderBy applies
    # the direction); DESC fills run FROM high TO low with TO
    # exclusive at the BOTTOM — normalize bounds accordingly
    # (review-found: 'DESC WITH FILL FROM 10 TO 0' crashed on an
    # inverted ascending sequence)
    if is_date:
        from datetime import date as _date, timedelta as _td

        lo_d = _date.fromisoformat(str(from_)) if from_ is not None else lo_hi.lo
        if to_ is not None:
            to_d = _date.fromisoformat(str(to_))
            if desc and (from_ is None or to_d < lo_d):
                # DESC fills from the high end down to TO (exclusive);
                # without FROM the high end is the data max
                # (advisor-found: fromisoformat(str(None)) crashed)
                hi_d = (
                    _date.fromisoformat(str(from_)) if from_ is not None else lo_hi.hi
                )
                lo_d = to_d + _td(days=1)
            else:
                hi_d = to_d - _td(days=1)
        else:
            hi_d = lo_hi.hi
        if lo_d > hi_d:  # degenerate bounds: nothing to fill
            return df.orderBy(F.col(col).desc() if desc else F.col(col).asc())
        axis = spark.range(1).select(
            F.explode(
                F.sequence(
                    F.lit(str(lo_d)).cast("date"),
                    F.lit(str(hi_d)).cast("date"),
                    F.expr(f"interval {step} day"),
                )
            ).alias(col)
        )
    else:
        lo_v = int(from_) if from_ is not None else int(lo_hi.lo)
        if to_ is not None:
            to_v = int(to_)
            if desc and (from_ is None or to_v < lo_v):
                # no FROM → fill down from the data max (advisor-found:
                # int(None) crashed on `DESC WITH FILL TO x`)
                hi_v = int(from_) if from_ is not None else int(lo_hi.hi)
                lo_v = to_v + 1
            else:
                hi_v = to_v - 1
        else:
            hi_v = int(lo_hi.hi)
        if lo_v > hi_v:  # degenerate bounds: nothing to fill
            return df.orderBy(F.col(col).desc() if desc else F.col(col).asc())
        axis = spark.range(1).select(
            F.explode(
                F.sequence(F.lit(lo_v), F.lit(hi_v), F.lit(step))
            ).alias(col)
        )
    order = F.col(col).desc() if desc else F.col(col).asc()
    if interpolate:
        # carry the last REAL row's value into rows CREATED by the fill
        # (the reference's INTERPOLATE touches only filled rows — a
        # real row's genuine NULL stays NULL). Single ordered window,
        # like the reference's single-stream FillingTransform; the axis
        # is FROM/TO-bounded, so this is presentation-sized.
        from pyspark.sql import Window as _W

        missing = [c for c in interpolate if c not in df.columns]
        if missing:
            raise ChSqlError(f"INTERPOLATE: {missing} not in the output columns")
        marked = df.withColumn("__fill_real", F.lit(True))
        joined = axis.join(marked, on=col, how="full")
        w = _W.orderBy(order).rowsBetween(_W.unboundedPreceding, _W.currentRow)
        for c in interpolate:
            # struct-wrap so a real row whose value IS NULL still
            # carries (the reference propagates the previous row's
            # value verbatim, NULL included)
            carried = F.last(
                F.when(F.col("__fill_real"), F.struct(F.col(c).alias("v"))),
                ignorenulls=True,
            ).over(w)["v"]
            joined = joined.withColumn(
                c, F.when(F.col("__fill_real"), F.col(c)).otherwise(carried)
            )
        return joined.select(*df.columns).orderBy(order)
    filled = axis.join(df, on=col, how="full").select(*df.columns)
    return filled.orderBy(order)


def ch_explain(spark, sql: str, mode: str = "PLAN") -> str:
    """EXPLAIN surface (reference src/Interpreters/
    InterpreterExplainQuery.h: EXPLAIN AST/SYNTAX/PLAN/PIPELINE/
    ESTIMATE): translate the ClickHouse SELECT and return Spark's
    corresponding explanation text.

    Mapping: AST/SYNTAX → the transpiled SQL + parsed logical plan;
    PLAN → optimized logical plan; PIPELINE → physical plan
    (formatted, the executor pipeline); ESTIMATE → plan with stats
    (cost mode)."""
    spark_sql = ch_sql_to_spark(sql, spark)
    df = spark.sql(spark_sql)
    qe = df._jdf.queryExecution()
    m = mode.strip().upper()
    if m in ("AST", "SYNTAX"):
        return spark_sql + "\n" + qe.logical().toString()
    if m == "PLAN":
        return qe.optimizedPlan().toString()
    if m == "PIPELINE":
        return qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    if m == "ESTIMATE":
        return qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("cost")
        )
    if m == "ANALYZE":
        # executes the plan, then reports per-operator SQL metrics —
        # the reference's ProfileEvents surface (profiler.py)
        from clickhouse_25_5_3_75_stable_spark.profiler import explain_analyze_text

        return explain_analyze_text(df)
    raise ChSqlError(f"EXPLAIN mode {mode!r} not supported")
