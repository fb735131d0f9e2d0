"""KQL (Kusto) dialect subset — the reference's experimental
``dialect = 'kusto'`` surface (src/Interpreters/executeQuery.cpp:1044
routes to src/Parsers/Kusto/ParserKQLStatement.h when
``allow_experimental_kusto_dialect`` is on; operator inventory per
src/Parsers/Kusto/KQL_ReleaseNote.md and the ParserKQL* files).

Architecture: a pipeline transpiler — each ``|``-stage folds the
accumulated query into a nested CH-SQL derived table, and the final
text executes through the existing chsql shim (so the whole scalar
function registry, ARRAY JOIN, EXCEPT, settings, and Catalyst
optimization come for free; Catalyst collapses the nested projections).

Supported tabular operators (ParserKQLQuery.cpp getOperator set):
  where/filter, project, project-away, project-rename, extend,
  summarize [by] (with the reference's alias rules), order by/sort by
  (KQL default DESC), take/limit, top N by E [asc|desc], distinct,
  count, mv-expand, print.

Expression lowering (ParserKQLOperators.cpp semantics):
  ==/!= (= case-sensitive), =~/!~ (case-insensitive via lower()),
  contains/!contains (ci substring), contains_cs, has/!has (ci token),
  has_cs, startswith/endswith (+cs/negated forms), matches regex,
  in/!in/in~/!in~, between (x .. y), and/or/not, timespan literals
  (1d/2h/30m/10s/100ms) as INTERVALs, ago()/now(), datetime(...),
  bin(x, n) for numbers (floor division) and timespans
  (toStartOfInterval), iif/iff, strcat, strlen, countof, 0-based
  substring, split (arg swap), tostring/tolong/toint/todouble/
  todatetime casts, dcount -> exact COUNT DISTINCT (documented:
  the reference's KQL dcount is also count-distinct-tier), arg_max/
  arg_min (arg swap), make_list/make_set -> groupArray/groupUniqArray,
  countif/sumif/avgif/minif/maxif -> CH -If combinators.

Summarize output naming follows the reference's fixed rules
(KQL_ReleaseNote.md "Summarize should generate alias"):
  count()            -> count_
  count(Age)         -> count_Age
  count(Age + 1)     -> count_
  by bin(Age, 10)    -> Age
  by <expression>    -> Columns1..N
  alias = anything   -> alias

let statements (round 7/8): scalar bindings substitute textually
(columns take precedence on collision — ADX resolution order),
tabular bindings lower to CTEs, ``toscalar``/``materialize`` unwrap,
and let-FUNCTIONS (round 8) expand as hygienic macros — scalar
`let f = (x: long) { expr }` at call sites, tabular
`let g = (T: (*), a: long) { T | ... }` through `| invoke g(...)`
with the piped input bound via a synthetic CTE.

dynamic() literals (round 8): array form -> array(...), property-bag
form -> a canonicalized JSON string literal (composes with bag_unpack
/ JSON extraction exactly like a stored props column), scalar form
passes through.

Out of scope (documented): evaluate plugins beyond
pivot/bag_unpack/narrow, multi-statement function bodies, recursive
functions, dynamic path access (a.b on bags) — the refusal names the
construct. KQL
``order by`` null placement (asc = nulls first) follows CH/our
NULLS LAST instead; divergence documented here.
"""

from __future__ import annotations

import re

from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, records_errors

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    '(?:[^'\\]|\\.)*'
  | "(?:[^"\\]|\\.)*"
  | !in~|in~(?![\w])|!in\b
  | !contains_cs|!contains|!has_cs|!has
  | !startswith_cs|!startswith|!endswith_cs|!endswith
  | \d+(?:\.\d+)?(?:ms|d|h|m|s)\b   # timespan literal
  | [A-Za-z_][A-Za-z0-9_]*
  | \d+\.\d+ | \d+
  | ==|!=|<=|>=|=~|!~|\.\.
  | [-+*/%(),=<>\[\]{}.]
    """,
    re.X,
)

_TIMESPAN_UNITS = {
    "d": "DAY", "h": "HOUR", "m": "MINUTE", "s": "SECOND",
    "ms": "MILLISECOND", "microsecond": "MICROSECOND",
}


# unquoted datetime(2017-01-01 12:23:34) literals carry ':' which the
# expression tokenizer doesn't know — quote them before tokenizing
_DT_LITERAL_RE = re.compile(r"\bdatetime\s*\(\s*([^()']+?)\s*\)", re.IGNORECASE)

_KQL_ESCAPES = {"'": "'", '"': '"', "\\": "\\", "n": "\n", "t": "\t", "r": "\r"}


def _decode_kql_string(tok: str) -> str:
    """Decode a quoted KQL literal token (either quote style; KQL uses
    backslash escapes) to its python value. Unknown escapes are kept
    verbatim (`\\d` stays `\\d` — regex literals survive)."""
    body = tok[1:-1]
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            out.append(_KQL_ESCAPES.get(nxt, "\\" + nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _sql_string(value: str) -> str:
    """Encode a python string as a single-quoted SQL literal with
    BACKSLASH escaping — the form Spark's parser decodes. Doubled-quote
    escaping (`''`) is NOT understood by Spark ('it''s' parses as two
    adjacent literals); differential-fuzz finding, round 6."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _tokenize(s: str) -> list[str]:
    s = _DT_LITERAL_RE.sub(lambda m: f"datetime('{m.group(1)}')", s)
    out, i = [], 0
    while i < len(s):
        if s[i].isspace():
            i += 1
            continue
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise ChSqlError(f"KQL: cannot tokenize at {s[i:i+20]!r}")
        tok = m.group(0)
        if tok.startswith(("'", '"')):
            # canonicalize BOTH quote styles through decode/encode to a
            # backslash-escaped single-quoted literal — the one form
            # every downstream re-tokenization (this regex), the chsql
            # shim, and Spark's parser agree on. The previous
            # doubled-quote form ('it''s') was not re-tokenizable by
            # this very regex: a later stage split it into two tokens
            # and rejoined them with a space (differential-fuzz
            # finding, round 6).
            tok = _sql_string(_decode_kql_string(tok))
        out.append(tok)
        i = m.end()
    return out


def _split_pipeline(text: str) -> list[str]:
    # one splitter implementation for the whole module (review-found:
    # the pipe/semicolon/comma splitters were three hand-rolled copies
    # of the same quote/escape/paren state machine)
    return _split_top_text(text, "|")


# ---------------------------------------------------------------------------
# expression lowering
# ---------------------------------------------------------------------------

_FN_RENAMES = {
    # ADX strlen counts CHARACTERS, string_size counts BYTES — and CH
    # length(String) is bytes / lengthUTF8 is characters
    "strcat": "concat", "iif": "if", "iff": "if", "strlen": "lengthUTF8",
    "tolower": "lower", "toupper": "upper", "isnull": "isNull",
    "isnotnull": "isNotNull", "isempty": "empty", "isnotempty": "notEmpty",
    "tostring": "toString", "toint": "toInt32", "tolong": "toInt64",
    "todouble": "toFloat64", "toreal": "toFloat64", "tobool": "toBool",
    "todatetime": "toDateTime", "countof": "countSubstrings",
    "tolowercase": "lower", "touppercase": "upper",
    "trim_start": "trimLeft", "trim_end": "trimRight",
    "replace_string": "replaceAll", "replace_regex": "replaceRegexpAll",
    "strcat_delim": "concatWithSeparator", "case": "multiIf",
    "startofday": "toStartOfDay", "startofweek": "toStartOfWeek",
    "startofmonth": "toStartOfMonth", "startofyear": "toStartOfYear",
    "getyear": "toYear", "getmonth": "toMonth", "monthofyear": "toMonth",
    "dayofmonth": "toDayOfMonth", "hourofday": "toHour",
    "isnan": "isNaN", "array_reverse": "arrayReverse",
    "array_sort_asc": "arraySort", "set_difference": "arrayExcept__kqlna",
    "array_concat": "arrayConcat", "array_slice": "arraySlice",
    "string_size": "length", "reverse": "reverse",
    "base64_encode_tostring": "base64Encode",
    "base64_decode_tostring": "base64Decode",
    # round-8 additions (each validated to resolve end-to-end)
    "array_sum": "arraySum", "strcat_array": "arrayStringConcat",
    "pack_array": "array", "new_guid": "generateUUIDv4",
    "make_datetime": "makeDateTime",
}
# names mapped above with a __kqlna suffix have no single-call CH
# equivalent and are dropped back to refusals at lowering time
_FN_RENAMES = {k: v for k, v in _FN_RENAMES.items() if not v.endswith("__kqlna")}

_AGG_RENAMES = {
    "count": "count", "sum": "sum", "avg": "avg", "min": "min", "max": "max",
    "dcount": "uniqExact", "countif": "countIf", "sumif": "sumIf",
    "avgif": "avgIf", "minif": "minIf", "maxif": "maxIf",
    "make_list": "groupArray", "make_set": "groupUniqArray",
    "take_any": "any", "take_anyif": "anyIf",
    "stdev": "stddevSamp", "variance": "varSamp",
}

# every template must lower to a name the chsql shim can render to
# Spark SQL TEXT (position->instr, match->rlike, startsWith/endsWith
# -> Spark natives); Column-API-only CH variants don't resolve here
_CMP_KEYWORDS = {
    "contains": ("position(lower({l}), lower({r})) > 0", False),
    "!contains": ("position(lower({l}), lower({r})) > 0", True),
    "contains_cs": ("position({l}, {r}) > 0", False),
    "!contains_cs": ("position({l}, {r}) > 0", True),
    "startswith": ("startsWith(lower({l}), lower({r}))", False),
    "!startswith": ("startsWith(lower({l}), lower({r}))", True),
    "startswith_cs": ("startsWith({l}, {r})", False),
    "!startswith_cs": ("startsWith({l}, {r})", True),
    "endswith": ("endsWith(lower({l}), lower({r}))", False),
    "!endswith": ("endsWith(lower({l}), lower({r}))", True),
    "endswith_cs": ("endsWith({l}, {r})", False),
    "!endswith_cs": ("endsWith({l}, {r})", True),
}

_HAS_KEYWORDS = {"has": (True, False), "!has": (True, True),
                 "has_cs": (False, False), "!has_cs": (False, True)}

_BOUNDARIES = {"and", "or", "not", "(", ","}
_TS_RE = re.compile(r"^(\d+(?:\.\d+)?)(d|h|m|s|ms)$")

# ---------------------------------------------------------------------------
# Arg-form scalar lowerings (round-8): ADX names whose translation
# needs argument rearrangement or composition, keyed by lowercase name.
# Each callable takes (lowered_args, raw_token_parts) -> SQL text.
# ---------------------------------------------------------------------------

_DT_UNITS = {"year", "quarter", "month", "week", "day", "hour",
             "minute", "second"}


def _af_need(args, n, sig):
    if len(args) != n:
        raise ChSqlError(f"KQL {sig}: got {len(args)} argument(s)")


def _af_unit(raw_parts, idx, fname):
    p = raw_parts[idx]
    if len(p) != 1 or not p[0].startswith("'"):
        raise ChSqlError(f"KQL {fname}: the period must be a string literal")
    u = _decode_kql_string(p[0]).lower()
    if u not in _DT_UNITS:
        raise ChSqlError(f"KQL {fname}: unsupported period {u!r} "
                         f"(subset: {sorted(_DT_UNITS)})")
    return u


def _af_array_index_of(a, r):
    _af_need(a, 2, "array_index_of(arr, value)")
    return f"(indexOf({a[0]}, {a[1]}) - 1)"  # ADX is 0-based, -1 absent


def _af_endof(period):
    def f(a, r, _p=period):
        _af_need(a, 1, f"endof{_p}(ts)")
        # ADX end-of-period = next period start minus 1 tick (100 ns);
        # this engine's timestamps are µs, so minus 1 µs — documented
        # truncation, same calendar day/instant ordering
        return (f"(toStartOf{_p.capitalize()}(CAST({a[0]} AS TIMESTAMP) "
                f"+ INTERVAL 1 {_p.upper()}) - INTERVAL 1 MICROSECOND)")
    return f


def _af_datetime_add(a, r):
    _af_need(a, 3, "datetime_add(period, amount, datetime)")
    u = _af_unit(r, 0, "datetime_add")
    return f"({a[2]} + ({a[1]}) * INTERVAL 1 {u.upper()})"


def _af_datetime_diff(a, r):
    _af_need(a, 3, "datetime_diff(period, datetime1, datetime2)")
    u = _af_unit(r, 0, "datetime_diff")
    # ADX: boundaries in d1 - d2; Spark timestampdiff(unit, start, end)
    return f"timestampdiff({u.upper()}, {a[2]}, {a[1]})"


def _af_tohex(a, r):
    _af_need(a, 1, "tohex(int)")
    return f"lower(conv(CAST({a[0]} AS STRING), 10, 16))"


def _af_hash_sha256(a, r):
    _af_need(a, 1, "hash_sha256(source)")
    return f"sha2(CAST({a[0]} AS STRING), 256)"  # lowercase hex, like ADX


def _af_hash_md5(a, r):
    _af_need(a, 1, "hash_md5(source)")
    return f"md5(CAST({a[0]} AS STRING))"


def _af_gettype(a, r):
    _af_need(a, 1, "gettype(value)")
    x = a[0]
    return (f"CASE typeof({x}) WHEN 'bigint' THEN 'long' "
            f"WHEN 'int' THEN 'int' WHEN 'smallint' THEN 'int' "
            f"WHEN 'tinyint' THEN 'int' WHEN 'double' THEN 'real' "
            f"WHEN 'float' THEN 'real' WHEN 'boolean' THEN 'bool' "
            f"WHEN 'date' THEN 'datetime' WHEN 'timestamp' THEN 'datetime' "
            f"ELSE typeof({x}) END")


def _af_pack(a, r):
    if len(a) < 2 or len(a) % 2:
        raise ChSqlError("KQL pack/bag_pack: alternating 'key', value pairs")
    for k in range(0, len(r), 2):
        if len(r[k]) != 1 or not r[k][0].startswith("'"):
            raise ChSqlError("KQL pack/bag_pack subset: literal keys")
    # a JSON bag under the dynamic-as-JSON-string model
    return f"to_json(named_struct({', '.join(a)}))"


def _af_dcountif(a, r):
    _af_need(a, 2, "dcountif(expr, predicate)")
    return f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)"


def _af_agg_if(ch_name, sig):
    def f(a, r, _n=ch_name, _s=sig):
        _af_need(a, 2, _s)
        return f"{_n}(CASE WHEN {a[1]} THEN {a[0]} END)"
    return f


def _af_percentiles(a, r):
    if len(a) < 2:
        raise ChSqlError("KQL percentiles(expr, p1[, p2, ...])")
    levels = []
    for p in r[1:]:
        try:
            levels.append(float("".join(p)) / 100.0)
        except ValueError:
            raise ChSqlError("KQL percentiles: levels must be numeric literals")
    return f"quantiles({', '.join(repr(v) for v in levels)})({a[0]})"


def _af_bitagg(fn):
    def f(a, r, _f=fn):
        _af_need(a, 1, f"binary_all_{_f[4:]}(expr)")
        return f"{_f}({a[0]})"
    return f


def _af_array_length(a, r):
    _af_need(a, 1, "array_length(arr)")
    # NOT the length->octet_length byte convention (round-8 fix: the
    # old rename broke arrays — CH length() is polymorphic, the shim's
    # string-bytes mapping is not)
    return f"cardinality({a[0]})"


_ARGFORM_FNS = {
    "array_length": _af_array_length,
    "dcountif": _af_dcountif,
    "make_list_if": _af_agg_if("groupArray", "make_list_if(expr, predicate)"),
    "make_set_if": _af_agg_if("groupUniqArray", "make_set_if(expr, predicate)"),
    "percentiles": _af_percentiles,
    "binary_all_or": _af_bitagg("bit_or"),
    "binary_all_and": _af_bitagg("bit_and"),
    "binary_all_xor": _af_bitagg("bit_xor"),
    "array_index_of": _af_array_index_of,
    "endofday": _af_endof("day"),
    "endofmonth": _af_endof("month"),
    "endofyear": _af_endof("year"),
    "datetime_add": _af_datetime_add,
    "datetime_diff": _af_datetime_diff,
    "tohex": _af_tohex,
    "hash_sha256": _af_hash_sha256,
    "hash_md5": _af_hash_md5,
    "gettype": _af_gettype,
    "pack": _af_pack,
    "bag_pack": _af_pack,
}


def _is_timespan_pair(toks: list[str], i: int) -> str | None:
    """number followed immediately by a bare unit ident got split by
    the tokenizer only when written like `1 d`; the common `1d` form
    tokenizes as ident-ish — handle both."""
    t = toks[i]
    m = _TS_RE.match(t)
    if m:
        return f"INTERVAL {m.group(1)} {_TIMESPAN_UNITS[m.group(2)]}"
    return None


def _take_primary(toks: list[str], i: int) -> tuple[str, int]:
    """One operand starting at i: literal / ident / call / parened."""
    if i >= len(toks):
        raise ChSqlError("KQL: expected an operand")
    t = toks[i]
    if t == "(":
        depth, j = 1, i + 1
        while j < len(toks) and depth:
            depth += toks[j] == "("
            depth -= toks[j] == ")"
            j += 1
        return " ".join(toks[i:j]), j
    if i + 1 < len(toks) and toks[i + 1] == "(" and re.match(r"^[A-Za-z_]", t):
        depth, j = 1, i + 2
        while j < len(toks) and depth:
            depth += toks[j] == "("
            depth -= toks[j] == ")"
            j += 1
        return " ".join(toks[i:j]), j
    return t, i + 1


def _lower_expr(toks: list[str]) -> str:
    """Token-level KQL -> CH-SQL expression conversion."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        low = t.lower()

        ts = _is_timespan_pair(toks, i)
        if ts is not None:
            out.append(ts)
            i += 1
            continue

        if t == "==":
            out.append("=")
            i += 1
            continue
        if t in ("=~", "!~"):
            # ci equality: rewrite LHS (already emitted) and RHS
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 1)
            rhs = _lower_expr(_tokenize(rhs))
            op = "=" if t == "=~" else "!="
            out.append(f"lower({lhs}) {op} lower({rhs})")
            i = i2
            continue
        if low in _CMP_KEYWORDS:
            tmpl, neg = _CMP_KEYWORDS[low]
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 1)
            rhs = _lower_expr(_tokenize(rhs))
            expr = tmpl.format(l=lhs, r=rhs)
            out.append(f"NOT ({expr})" if neg else expr)
            i = i2
            continue
        if low in _HAS_KEYWORDS:
            # KQL has = whole-term match; needle must be a literal so
            # the token-boundary regex can be built at transpile time
            ci, neg = _HAS_KEYWORDS[low]
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 1)
            if not (rhs.startswith("'") and rhs.endswith("'")):
                raise ChSqlError("KQL has/has_cs subset needs a literal term")
            needle = _decode_kql_string(rhs)
            pat = re.escape(needle.lower() if ci else needle)
            subj = f"lower({lhs})" if ci else lhs
            expr = (f"match({subj}, "
                    f"{_sql_string(f'(^|[^a-zA-Z0-9_]){pat}($|[^a-zA-Z0-9_])')})")
            out.append(f"NOT ({expr})" if neg else expr)
            i = i2
            continue
        if low in ("has_any", "has_all"):
            # ADX set-form term search (round-8): OR/AND of the
            # single-term whole-token `has` lowerings
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 1)
            if not rhs.startswith("("):
                raise ChSqlError(
                    "KQL has_any/has_all take a parenthesized term list")
            items = [_join_tokens(p)
                     for p in _split_top_tokens(_tokenize(rhs[1:-1].strip()))]
            exprs = []
            for it in items:
                if not (it.startswith("'") and it.endswith("'")):
                    raise ChSqlError(
                        "KQL has_any/has_all subset needs literal terms")
                pat = re.escape(_decode_kql_string(it).lower())
                exprs.append(
                    f"match(lower({lhs}), "
                    f"{_sql_string(f'(^|[^a-zA-Z0-9_]){pat}($|[^a-zA-Z0-9_])')})")
            joiner = " OR " if low == "has_any" else " AND "
            out.append("(" + joiner.join(exprs) + ")")
            i = i2
            continue
        if low == "format_datetime" and i + 1 < len(toks) and toks[i + 1] == "(":
            # ADX format tokens largely coincide with Java/Spark
            # date_format letters; fraction runs f/F map to S, tt -> a
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 2 or len(parts[1]) != 1 \
                    or not parts[1][0].startswith("'"):
                raise ChSqlError(
                    "KQL format_datetime(expr, 'format-literal')")
            fmt = _decode_kql_string(parts[1][0])
            fmt = re.sub(r"[fF]+", lambda m: "S" * len(m.group(0)), fmt)
            fmt = fmt.replace("tt", "a")
            bad = set(re.findall(r"[A-Za-z]", fmt)) - set("yMdHmsSa")
            if bad:
                raise ChSqlError(
                    f"KQL format_datetime subset: unsupported format "
                    f"letter(s) {sorted(bad)}")
            out.append(f"date_format({_lower_expr(parts[0])}, "
                       f"{_sql_string(fmt)})")
            i = j
            continue
        if low == "ipv4_is_private" and i + 1 < len(toks) and toks[i + 1] == "(":
            # RFC1918 blocks via the engine's isIPAddressInRange
            arg, i2 = _take_primary(toks, i + 1)
            x = _lower_expr(_tokenize(arg[1:-1]))
            out.append(
                f"(isIPAddressInRange({x}, '10.0.0.0/8') OR "
                f"isIPAddressInRange({x}, '172.16.0.0/12') OR "
                f"isIPAddressInRange({x}, '192.168.0.0/16'))")
            i = i2
            continue
        if low == "bin_at" and i + 1 < len(toks) and toks[i + 1] == "(":
            # bin_at(v, size, fixed) = fixed + floor((v-fixed)/size)*size
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 3:
                raise ChSqlError("KQL bin_at(value, binSize, fixedPoint)")
            v, b, f0 = (_lower_expr(p) for p in parts)
            out.append(f"(({f0}) + floor((({v}) - ({f0})) / ({b})) * ({b}))")
            i = j
            continue
        if low in _ARGFORM_FNS and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            out.append(_ARGFORM_FNS[low](
                [_lower_expr(p) for p in parts], parts))
            i = j
            continue
        if low == "matches" and i + 1 < len(toks) and toks[i + 1].lower() == "regex":
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 2)
            out.append(f"match({lhs}, {rhs})")
            i = i2
            continue
        if low in ("in~", "!in~"):
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 1)  # parenthesized list
            # tokenize + top-level comma split: a comma INSIDE a string
            # literal must not split the item (review-found: `x in~
            # ('a,b', 'c')` split the literal mid-string — the same
            # hazard class as the summarize-by fix)
            items = [
                _join_tokens(part)
                for part in _split_top_tokens(_tokenize(rhs[1:-1]))
            ]
            lowered = ", ".join(f"lower({x})" for x in items)
            op = "IN" if low == "in~" else "NOT IN"
            out.append(f"lower({lhs}) {op} ({lowered})")
            i = i2
            continue
        if low == "!in":
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 1)
            out.append(f"{lhs} NOT IN {rhs}")
            i = i2
            continue
        if low == "between":
            # a between (x .. y)
            lhs = _pop_operand(out)
            rhs, i2 = _take_primary(toks, i + 1)
            inner = rhs[1:-1]
            if ".." not in inner:
                raise ChSqlError("KQL between needs (lo .. hi)")
            lo, hi = inner.split("..", 1)
            out.append(f"{lhs} BETWEEN {_lower_expr(_tokenize(lo))} "
                       f"AND {_lower_expr(_tokenize(hi))}")
            i = i2
            continue

        if low == "dynamic" and i + 1 < len(toks) and toks[i + 1] == "(":
            # dynamic([...]) array literal -> array(...); object/scalar
            # dynamics are out of the subset
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            inner = toks[i + 2:j - 1]
            if inner and inner[0] == "[" and inner[-1] == "]":
                items = _split_top_tokens(inner[1:-1])
                out.append("array(" + ", ".join(_lower_expr(p) for p in items) + ")")
            elif len(inner) == 1 or (len(inner) == 2 and inner[0] == "-"):
                # dynamic(<scalar literal>): the wrapper is a typing
                # hint in ADX — the scalar passes through (bags are
                # handled pre-tokenizer by _dynamic_bags)
                out.append("".join(inner))
            else:
                raise ChSqlError(
                    "KQL dynamic subset takes an array literal, a JSON "
                    "bag, or a scalar literal")
            i = j
            continue
        if low == "ago" and i + 1 < len(toks) and toks[i + 1] == "(":
            arg, i2 = _take_primary(toks, i + 1)
            inner = _lower_expr(_tokenize(arg[1:-1]))
            out.append(f"(now() - {inner})")
            i = i2
            continue
        if low == "datetime" and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            literal = " ".join(toks[i + 2:j - 1]).strip()
            if not (literal.startswith("'") and literal.endswith("'")):
                literal = "'" + literal.replace(" - ", "-").replace(" :", ":") + "'"
            # Spark's TIMESTAMP cast is lenient about non-padded
            # fields, covering KQL's datetime(2017-1-1 12:23:34) forms
            out.append(f"CAST({literal} AS TIMESTAMP)")
            i = j
            continue
        if low == "bin" and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            inner = toks[i + 2:j - 1]
            # split on top-level comma
            d2, cut = 0, None
            for k, tt in enumerate(inner):
                d2 += tt == "("
                d2 -= tt == ")"
                if tt == "," and d2 == 0:
                    cut = k
                    break
            if cut is None:
                raise ChSqlError("KQL bin(value, roundTo) needs two arguments")
            val = _lower_expr(inner[:cut])
            size_toks = inner[cut + 1:]
            ts = _TS_RE.match(size_toks[0]) if len(size_toks) == 1 else None
            if ts:
                unit = _TIMESPAN_UNITS[ts.group(2)]
                out.append(f"toStartOfInterval({val}, INTERVAL {ts.group(1)} {unit})")
            else:
                size = _lower_expr(size_toks)
                out.append(f"(CAST(floor(({val}) / ({size})) AS BIGINT) * ({size}))")
            i = j
            continue
        if low == "substring" and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) not in (2, 3):
                raise ChSqlError("KQL substring(s, start[, len])")
            s0 = _lower_expr(parts[0])
            st = _lower_expr(parts[1])
            if len(parts) == 3:
                out.append(f"substring({s0}, ({st}) + 1, {_lower_expr(parts[2])})")
            else:
                out.append(f"substring({s0}, ({st}) + 1)")
            i = j
            continue
        if low == "indexof" and i + 1 < len(toks) and toks[i + 1] == "(":
            # KQL indexof is 0-based and returns -1 when absent —
            # exactly position() - 1 (position is 1-based, 0 = absent)
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 2:
                raise ChSqlError("KQL indexof subset takes (source, lookup)")
            out.append(f"(position({_lower_expr(parts[0])}, "
                       f"{_lower_expr(parts[1])}) - 1)")
            i = j
            continue
        if low == "extract" and i + 1 < len(toks) and toks[i + 1] == "(":
            # KQL extract(regex, captureGroup, source) -> Spark-native
            # regexp_extract(source, regex, group); both return '' on
            # no-match
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 3:
                raise ChSqlError("KQL extract subset takes (regex, group, source)")
            out.append(f"regexp_extract({_lower_expr(parts[2])}, "
                       f"{_lower_expr(parts[0])}, {_lower_expr(parts[1])})")
            i = j
            continue
        if low == "split" and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 2:
                raise ChSqlError("KQL split(source, delimiter)")
            out.append(f"splitByString({_lower_expr(parts[1])}, {_lower_expr(parts[0])})")
            i = j
            continue
        if low in ("arg_max", "arg_min") and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 2:
                raise ChSqlError(f"KQL {low}(maximized, returned) subset takes 2 args")
            fn = "argMax" if low == "arg_max" else "argMin"
            out.append(f"{fn}({_lower_expr(parts[1])}, {_lower_expr(parts[0])})")
            i = j
            continue
        if low == "percentile" and i + 1 < len(toks) and toks[i + 1] == "(":
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 2:
                raise ChSqlError("KQL percentile(expr, p)")
            p = _lower_expr(parts[1])
            out.append(f"quantile({p} / 100.0)({_lower_expr(parts[0])})")
            i = j
            continue

        if low in ("parse_json", "parsejson", "todynamic") \
                and i + 1 < len(toks) and toks[i + 1] == "(":
            # identity under the JSON-string dynamic model (round-8):
            # a parsed bag IS its canonical JSON text here, exactly
            # what bag_unpack / extraction read
            arg, i2 = _take_primary(toks, i + 1)
            out.append("(" + _lower_expr(_tokenize(arg[1:-1])) + ")")
            i = i2
            continue
        if low in ("extractjson", "extract_json") \
                and i + 1 < len(toks) and toks[i + 1] == "(":
            # ADX extractjson(jsonPath, doc) -> JSON_VALUE(doc, path)
            depth, j = 1, i + 2
            while j < len(toks) and depth:
                depth += toks[j] == "("
                depth -= toks[j] == ")"
                j += 1
            parts = _split_top_tokens(toks[i + 2:j - 1])
            if len(parts) != 2:
                raise ChSqlError(
                    "KQL extractjson subset: extractjson(path, doc) — "
                    "the typeof(...) third argument is out of the subset")
            out.append(f"get_json_object({_lower_expr(parts[1])}, "
                       f"{_lower_expr(parts[0])})")
            i = j
            continue
        if low in _FN_RENAMES and i + 1 < len(toks) and toks[i + 1] == "(":
            out.append(_FN_RENAMES[low])
            i += 1
            continue
        if low in _AGG_RENAMES and i + 1 < len(toks) and toks[i + 1] == "(":
            out.append(_AGG_RENAMES[low])
            i += 1
            continue
        if low in ("and", "or", "not"):
            out.append(low.upper())
            i += 1
            continue
        out.append(t)
        i += 1
    return _join_tokens(out)


def _split_top_tokens(toks: list[str]) -> list[list[str]]:
    parts, cur, depth = [], [], 0
    for t in toks:
        depth += t in "(["
        depth -= t in ")]"
        if t == "," and depth == 0:
            parts.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        parts.append(cur)
    return parts


def _join_tokens(toks: list[str]) -> str:
    out = []
    for k, t in enumerate(toks):
        if k and t not in (",", ")", "(", ".") and out and out[-1][-1] not in "(.":
            out.append(" ")
        out.append(t)
    return "".join(out)


def _pop_operand(out: list[str]) -> str:
    """Pull the trailing operand expression off the emitted-token list
    (back to the nearest boolean boundary at depth 0)."""
    depth = 0
    k = len(out)
    while k > 0:
        t = out[k - 1]
        if t == ")":
            depth += 1
        elif t == "(":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0 and t.upper() in ("AND", "OR", "NOT", ","):
            break
        k -= 1
    operand = " ".join(out[k:])
    del out[k:]
    if not operand:
        raise ChSqlError("KQL: comparison operator with no left operand")
    return operand


# ---------------------------------------------------------------------------
# stage handlers
# ---------------------------------------------------------------------------

def _named_items_raw(segment: str) -> list[tuple[str | None, str, list[str]]]:
    """Split 'a = expr, b, c = expr' into (alias, lowered, raw_tokens)."""
    toks = _tokenize(segment)
    items = []
    for part in _split_top_tokens(toks):
        if len(part) >= 2 and part[1] == "=" and re.match(r"^[A-Za-z_]\w*$", part[0]):
            items.append((part[0], _lower_expr(part[2:]), part[2:]))
        else:
            items.append((None, _lower_expr(part), part))
    return items


def _named_items(segment: str) -> list[tuple[str | None, str]]:
    return [(a, e) for a, e, _raw in _named_items_raw(segment)]


def _split_on_keyword(body: str, kw: str) -> tuple[str, str]:
    """Split on the first standalone keyword OUTSIDE quotes/parens
    (review-found: a bare regex split matched 'by' inside string
    literals). Returns (before, after) or (body, '')."""
    depth, quote, esc, i, n = 0, None, False, 0, len(body)
    klen = len(kw)
    while i < n:
        c = body[i]
        if quote:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"":
            quote = c
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif (depth == 0 and body[i:i + klen].lower() == kw
              and (i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_"))
              and (i + klen >= n or not (body[i + klen].isalnum()
                                         or body[i + klen] == "_"))):
            return body[:i], body[i + klen:]
        i += 1
    return body, ""


def _int_arg(tk: str, text: str) -> int:
    try:
        return int(text.strip())
    except ValueError:
        raise ChSqlError(f"{tk}: expected an integer, got {text.strip()!r}") from None


def _summarize(acc: str, body: str) -> tuple[str, list[str]]:
    """Returns (sql, output_column_names) — the names feed the
    transpiler's column tracking."""
    agg_part, by_part = _split_on_keyword(body, "by")
    aggs = _named_items_raw(agg_part) if agg_part.strip() else []
    bys = _named_items_raw(by_part) if by_part.strip() else []

    sel, group, col_n, out_names = [], [], 0, []
    for alias, expr, _raw in bys:
        if alias is None:
            m = re.match(r"^toStartOfInterval\s*\(\s*([A-Za-z_]\w*)\s*,", expr)
            m2 = re.match(r"^\(CAST\(floor\(\(([A-Za-z_]\w*)\)", expr)
            m3 = re.match(r"^[A-Za-z_]\w*$", expr)
            if m3:
                alias = expr
            elif m:  # bin(col, timespan) -> col (reference alias rule)
                alias = m.group(1)
            elif m2:  # bin(col, n) -> col
                alias = m2.group(1)
            else:
                col_n += 1
                alias = f"Columns{col_n}"
        sel.append(f"{expr} AS {alias}")
        out_names.append(alias)
        group.append(expr)
    used_aliases = {a for a, _e, _r in bys if a is not None}
    for alias, expr, raw in aggs:
        if alias is None:
            # alias from the RAW kql name (dcount(uid) -> dcount_uid,
            # not the CH rename) — KQL_ReleaseNote.md alias rules
            if (len(raw) >= 3 and raw[1] == "(" and raw[-1] == ")"
                    and re.match(r"^[A-Za-z_]\w*$", raw[0])):
                inner = raw[2:-1]
                if not inner:
                    alias = f"{raw[0]}_"
                elif len(inner) == 1 and re.match(r"^[A-Za-z_]\w*$", inner[0]):
                    alias = f"{raw[0]}_{inner[0]}"
                else:
                    alias = f"{raw[0]}_"
            else:
                fn = re.match(r"^([A-Za-z_]\w*)", expr)
                alias = f"{fn.group(1)}_" if fn else "agg_"
            # disambiguate repeated GENERATED aliases the way ADX does
            # (count_, count_1, ...) — review-found: two expression
            # aggregates with the same function emitted two `count_`
            # columns, making downstream references ambiguous
            if alias in used_aliases:
                n = 1
                while f"{alias}{n}" in used_aliases:
                    n += 1
                alias = f"{alias}{n}"
        used_aliases.add(alias)
        sel.append(f"{expr} AS {alias}")
        out_names.append(alias)
    if not sel:
        raise ChSqlError("KQL summarize: nothing to compute")
    q = f"SELECT {', '.join(sel)} FROM ({acc})"
    if group:
        q += f" GROUP BY {', '.join(group)}"
    return q, out_names


def _order_items(body: str) -> str:
    toks = _tokenize(body)
    parts = _split_top_tokens(toks)
    rendered = []
    for p in parts:
        nulls = ""
        # KQL: `asc|desc [nulls first|nulls last]`
        if (len(p) >= 2 and p[-2].lower() == "nulls"
                and p[-1].lower() in ("first", "last")):
            nulls = f" NULLS {p[-1].upper()}"
            p = p[:-2]
        direction = "DESC"  # KQL default
        if p and p[-1].lower() in ("asc", "desc"):
            direction = p[-1].upper()
            p = p[:-1]
        rendered.append(f"{_lower_expr(p)} {direction}{nulls}")
    return ", ".join(rendered)


def kql_to_chsql(text: str, columns_of=None) -> str:
    """Transpile a KQL pipeline into CH-SQL text for the chsql shim.

    `columns_of` (optional): callable `table_name -> list[str] | None`
    resolving a source table's column names. When provided, the
    transpiler tracks the column list through every schema-transparent
    stage, which makes `extend` on an EXISTING column replace it even
    without a self-reference — ADX semantics (KQL_ReleaseNote.md
    "extend doesn't replace existing columns" bugfix) — and lets join
    suffix clashing right-side columns the way ADX does. Without it the
    transpiler is schema-free and only the self-referential replace is
    emitted (differential-fuzz finding, round 6)."""
    return _transpile(text, columns_of)[0]


def _dynamic_bags(text: str) -> str:
    """Rewrite `dynamic({...})` property-bag LITERALS to JSON string
    literals before tokenization (round-8; the CH tokenizer has no
    brace tokens). ADX dynamic bag syntax IS JSON, so the bag is
    validated and canonicalized through json — downstream the string
    composes with bag_unpack / get_json_object exactly like a stored
    props column. Quote-aware: `dynamic({` inside a string literal
    passes through untouched; idempotent (the emitted JSON lives
    inside a string literal the scan skips)."""
    if "dynamic" not in text:
        return text
    import json

    out: list[str] = []
    i, n = 0, len(text)
    quote, esc = None, False
    while i < n:
        c = text[i]
        if quote:
            out.append(c)
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"":
            quote = c
            out.append(c)
            i += 1
            continue
        m = re.match(r"dynamic\s*\(\s*\{", text[i:])
        if m and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] == "_")):
            j = i + m.end() - 1  # index of '{'
            depth, q, e2, k = 0, None, False, j
            while k < n:
                ch = text[k]
                if q:
                    if e2:
                        e2 = False
                    elif ch == "\\":
                        e2 = True
                    elif ch == q:
                        q = None
                elif ch == '"':
                    q = ch
                elif ch == "{":
                    depth += 1
                elif ch == "}":
                    depth -= 1
                    if depth == 0:
                        break
                k += 1
            if k >= n:
                raise ChSqlError("KQL dynamic: unbalanced braces")
            k2 = k + 1
            while k2 < n and text[k2].isspace():
                k2 += 1
            if k2 >= n or text[k2] != ")":
                raise ChSqlError("KQL dynamic({...}): expected ')'")
            try:
                canon = json.dumps(json.loads(text[j:k + 1]),
                                   separators=(",", ":"))
            except ValueError:
                raise ChSqlError(
                    "KQL dynamic({...}) subset takes a valid JSON bag")
            lit = canon.replace("\\", "\\\\").replace("'", "\\'")
            out.append(f"'{lit}'")
            i = k2 + 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _transpile(text: str, columns_of=None) -> tuple[str, list[str] | None]:
    """kql_to_chsql worker: returns (sql, output_columns_or_None)."""
    text = _dynamic_bags(text.strip().rstrip(";"))
    if re.match(r"^\s*let\b", text, re.IGNORECASE):
        return _let_statements(text, columns_of)
    stages = _split_pipeline(text)
    if not stages:
        raise ChSqlError("KQL: empty query")

    cur_cols: list[str] | None = None
    first = stages[0]
    if re.match(r"^print\b", first, re.IGNORECASE):
        items = _named_items(first[len("print"):])
        sel = ", ".join(expr if alias is None else f"{expr} AS {alias}"
                        for alias, expr in items)
        acc = f"SELECT {sel}"
        rest = stages[1:]
        if all(a is not None for a, _e in items):
            cur_cols = [a for a, _e in items]
    elif re.match(r"^range\b", first, re.IGNORECASE):
        # `range col from A to B step C` (ADX table operator): an
        # inclusive arithmetic sequence — lowered to a lateral
        # sequence explode (round-7; numeric subset, the datetime
        # form is out of scope)
        rm = re.match(
            r"^range\s+([A-Za-z_]\w*)\s+from\s+(.+?)\s+to\s+(.+?)"
            r"\s+step\s+(.+)$",
            first, re.IGNORECASE | re.DOTALL,
        )
        if not rm:
            raise ChSqlError(
                "KQL range: expected `range col from A to B step C`")
        col = rm.group(1)
        a, b, c = (_lower_expr(_tokenize(rm.group(i))) for i in (2, 3, 4))
        acc = f"SELECT explode(sequence({a}, {b}, {c})) AS {col}"
        rest = stages[1:]
        cur_cols = [col]
    elif re.match(r"^datatable\b", first, re.IGNORECASE):
        # `datatable(col:type, ...) [v1, v2, ...]` (ADX inline table):
        # row-major flat literal list -> VALUES
        dm = re.match(
            r"^datatable\s*\(([^)]*)\)\s*\[(.*)\]\s*$",
            first, re.IGNORECASE | re.DOTALL,
        )
        if not dm:
            raise ChSqlError(
                "KQL datatable: expected `datatable(col:type, ...) [values]`")
        cols = []
        types = []
        typemap = {"long": "BIGINT", "int": "INT", "real": "DOUBLE",
                   "string": "STRING", "bool": "BOOLEAN",
                   "boolean": "BOOLEAN", "datetime": "TIMESTAMP",
                   "decimal": "DECIMAL(38,9)"}
        for decl in dm.group(1).split(","):
            cm = re.match(r"^\s*([A-Za-z_]\w*)\s*:\s*(\w+)\s*$", decl)
            if not cm or cm.group(2).lower() not in typemap:
                raise ChSqlError(
                    f"KQL datatable declaration {decl.strip()!r}: subset "
                    f"types {sorted(typemap)}")
            cols.append(cm.group(1))
            types.append(typemap[cm.group(2).lower()])
        vals = [v.strip() for v in _split_top_text(dm.group(2), ",")
                if v.strip()]
        if not vals or len(vals) % len(cols) != 0:
            raise ChSqlError(
                "KQL datatable: the literal list must be a whole number "
                f"of {len(cols)}-column rows")
        rows_sql = []
        for i in range(0, len(vals), len(cols)):
            cells = [
                f"CAST({_lower_expr(_tokenize(v))} AS {ty})"
                for v, ty in zip(vals[i:i + len(cols)], types)
            ]
            rows_sql.append("(" + ", ".join(cells) + ")")
        acc = (f"SELECT * FROM (VALUES {', '.join(rows_sql)}) "
               f"AS __kql_dt({', '.join(cols)})")
        rest = stages[1:]
        cur_cols = list(cols)
    elif re.match(r"^externaldata\b", first, re.IGNORECASE):
        # ADX `externaldata (col:type, ...) [@"path"] with(format=..)`
        # (round-9): local files through Spark SQL's file-path FROM
        # (csv.`p` / json.`p` / parquet.`p`) with declared-type casts —
        # the ADX blob-URI form needs cloud credentials and refuses
        em = re.match(
            r'^externaldata\s*\(([^)]*)\)\s*'
            r'\[\s*@?"([^"]+)"\s*\]\s*'
            r'(?:with\s*\(\s*format\s*=\s*"?(\w+)"?\s*\))?\s*$',
            first, re.IGNORECASE | re.DOTALL,
        )
        if not em:
            raise ChSqlError(
                'KQL externaldata: expected `externaldata (col:type, ...) '
                '[@"path"] [with(format="csv|json|parquet")]`')
        path, fmt = em.group(2), (em.group(3) or "csv").lower()
        if re.match(r"^[a-z][a-z0-9+.-]*://", path) and \
                not path.startswith("file://"):
            raise ChSqlError(
                "KQL externaldata: cloud URIs need storage credentials — "
                "local paths (or file://) are the served subset")
        typemap = {"long": "BIGINT", "int": "INT", "real": "DOUBLE",
                   "string": "STRING", "bool": "BOOLEAN",
                   "boolean": "BOOLEAN", "datetime": "TIMESTAMP",
                   "decimal": "DECIMAL(38,9)"}
        cols, types = [], []
        for decl in em.group(1).split(","):
            cm = re.match(r"^\s*([A-Za-z_]\w*)\s*:\s*(\w+)\s*$", decl)
            if not cm or cm.group(2).lower() not in typemap:
                raise ChSqlError(
                    f"KQL externaldata declaration {decl.strip()!r}: "
                    f"subset types {sorted(typemap)}")
            cols.append(cm.group(1))
            types.append(typemap[cm.group(2).lower()])
        if "`" in path:
            raise ChSqlError("KQL externaldata: backtick in path")
        if fmt == "csv":
            sel = ", ".join(
                f"CAST(_c{i} AS {ty}) AS {c}"
                for i, (c, ty) in enumerate(zip(cols, types)))
            acc = f"SELECT {sel} FROM csv.`{path}`"
        elif fmt in ("json", "multijson", "jsonl"):
            sel = ", ".join(
                f"CAST({c} AS {ty}) AS {c}" for c, ty in zip(cols, types))
            acc = f"SELECT {sel} FROM json.`{path}`"
        elif fmt == "parquet":
            sel = ", ".join(
                f"CAST({c} AS {ty}) AS {c}" for c, ty in zip(cols, types))
            acc = f"SELECT {sel} FROM parquet.`{path}`"
        else:
            raise ChSqlError(
                f"KQL externaldata format {fmt!r}: csv/json/parquet are "
                "the served subset")
        rest = stages[1:]
        cur_cols = list(cols)
    else:
        m = re.match(r"^[A-Za-z_]\w*$", first)
        if not m:
            raise ChSqlError(
                f"KQL: the pipeline must start with a table name, print, "
                f"range, or datatable, got {first!r}")
        acc = f"SELECT * FROM {first}"
        rest = stages[1:]
        if columns_of is not None:
            try:
                got = columns_of(first)
                cur_cols = list(got) if got else None
            except Exception:
                cur_cols = None

    def _names_of(items):
        """Output names of a projection item list, or None if any
        item's name is not statically derivable."""
        names = []
        for alias, expr in items:
            if alias is not None:
                names.append(alias)
            elif re.match(r"^[A-Za-z_]\w*$", expr):
                names.append(expr)
            else:
                return None
        return names

    for stage in rest:
        sm = re.match(r"^([a-z][a-z-]*)\s*(.*)$", stage, re.IGNORECASE | re.DOTALL)
        if not sm:
            raise ChSqlError(f"KQL: cannot parse stage {stage!r}")
        op = sm.group(1).lower()
        body = sm.group(2).strip()

        if op in ("where", "filter"):
            acc = f"SELECT * FROM ({acc}) WHERE {_lower_expr(_tokenize(body))}"
        elif op == "project":
            items = _named_items(body)
            sel = ", ".join(expr if alias is None else f"{expr} AS {alias}"
                            for alias, expr in items)
            acc = f"SELECT {sel} FROM ({acc})"
            cur_cols = _names_of(items)
        elif op == "project-away":
            away = [t.strip() for t in body.split(",")]
            cols = ", ".join(away)
            acc = f"SELECT * EXCEPT ({cols}) FROM ({acc})"
            if cur_cols is not None:
                cur_cols = [c for c in cur_cols if c not in away]
        elif op == "project-rename":
            items = _named_items(body)
            renames = [(a, e) for a, e in items if a is not None]
            if len(renames) != len(items):
                raise ChSqlError("KQL project-rename needs new = old pairs")
            olds = ", ".join(e for _a, e in renames)
            sel = ", ".join(f"{e} AS {a}" for a, e in renames)
            acc = f"SELECT * EXCEPT ({olds}), {sel} FROM ({acc})"
            if cur_cols is not None:
                old_names = [e for _a, e in renames]
                cur_cols = ([c for c in cur_cols if c not in old_names]
                            + [a for a, _e in renames])
        elif op == "project-keep":
            # ADX project-keep: keep the listed columns in their
            # ORIGINAL table order (unlike project, which re-orders to
            # the listed order); wildcards like a* match by prefix
            keep_specs = [tk.strip() for tk in body.split(",") if tk.strip()]
            if not keep_specs:
                raise ChSqlError("KQL project-keep needs column names")
            if cur_cols is None:
                # without schema tracking the original order is unknown
                # for wildcard-free lists we can still keep-as-listed?
                # No: ADX order semantics need the schema — refuse.
                raise ChSqlError(
                    "KQL project-keep needs a resolvable input schema "
                    "(run via kql_sql, which wires the session catalog)")
            kept = []
            for c in cur_cols:
                for spec in keep_specs:
                    if (spec.endswith("*") and c.startswith(spec[:-1])) or \
                            c == spec:
                        kept.append(c)
                        break
            if not kept:
                raise ChSqlError(
                    f"KQL project-keep: nothing matches {keep_specs}")
            acc = f"SELECT {', '.join(kept)} FROM ({acc})"
            cur_cols = kept
        elif op == "project-reorder":
            # ADX project-reorder: the listed columns first (in listed
            # order), every other column after in its original order
            listed = [tk.strip() for tk in body.split(",") if tk.strip()]
            if cur_cols is None:
                raise ChSqlError(
                    "KQL project-reorder needs a resolvable input schema "
                    "(run via kql_sql, which wires the session catalog)")
            missing = [c for c in listed if c not in cur_cols]
            if missing:
                raise ChSqlError(
                    f"KQL project-reorder: unknown columns {missing}")
            rest = [c for c in cur_cols if c not in listed]
            cur_cols = listed + rest
            acc = f"SELECT {', '.join(cur_cols)} FROM ({acc})"
        elif op == "sample":
            # ADX sample: n pseudo-random rows (non-deterministic by
            # contract — ORDER BY rand() LIMIT n is the same contract)
            try:
                n_rows = int(body)
            except ValueError:
                raise ChSqlError(
                    f"KQL sample: expected a row count, got {body!r}"
                ) from None
            acc = f"SELECT * FROM ({acc}) ORDER BY rand() LIMIT {n_rows}"
        elif op == "sample-distinct":
            # ADX sample-distinct: n pseudo-random DISTINCT values of
            # one column (single-column result)
            sm2 = re.match(r"^(\d+)\s+of\s+([A-Za-z_]\w*)$", body)
            if not sm2:
                raise ChSqlError(
                    "KQL sample-distinct: expected `N of column`")
            n_rows, col = int(sm2.group(1)), sm2.group(2)
            acc = (f"SELECT {col} FROM (SELECT DISTINCT {col} "
                   f"FROM ({acc})) ORDER BY rand() LIMIT {n_rows}")
            cur_cols = [col]
        elif op == "top-hitters":
            # ADX top-hitters: approximate top-N frequent values —
            # `top-hitters N of col [by sumcol]`. This engine computes
            # the exact equivalent (grouped sum/count, top N), a
            # superset of the approximation contract.
            hm = re.match(
                r"^(\d+)\s+of\s+([A-Za-z_]\w*)(?:\s+by\s+([A-Za-z_]\w*))?$",
                body,
            )
            if not hm:
                raise ChSqlError(
                    "KQL top-hitters: expected `N of col [by sumcol]`")
            n_rows, col, by = int(hm.group(1)), hm.group(2), hm.group(3)
            if by:
                agg = f"sum({by}) AS approximate_sum_{by}"
                ordc = f"approximate_sum_{by}"
            else:
                # ADX names the count column approximate_count_<col>
                agg = f"count(*) AS approximate_count_{col}"
                ordc = f"approximate_count_{col}"
            acc = (f"SELECT {col}, {agg} FROM ({acc}) GROUP BY {col} "
                   f"ORDER BY {ordc} DESC, {col} ASC LIMIT {n_rows}")
            cur_cols = [col, ordc]
        elif op == "extend":
            items = _named_items(body)
            named = [(a, e) for a, e in items if a is not None]
            if len(named) != len(items):
                raise ChSqlError("KQL extend needs name = expr items")
            # extend REPLACES same-named columns (KQL_ReleaseNote.md
            # "extend doesn't replace existing columns" bugfix). With a
            # tracked column list (columns_of resolver) the replace form
            # is emitted whenever the alias names an existing column —
            # full ADX semantics (differential-fuzz finding, round 6:
            # `extend v = k + k` on an existing v emitted a DUPLICATE v).
            # Schema-free fallback: replace only when the alias appears
            # in its own expression (the column provably exists
            # upstream); other aliases append. Items apply SEQUENTIALLY,
            # each as its own stage — ADX lets a later item read an
            # earlier one (review-found: the batched form emitted a
            # sibling reference to an EXCEPT-ed column).
            for a, e in named:
                # stash string literals BEFORE the self-reference search
                # and the __kql_old_ substitution (the prql._expr
                # technique) — review-found: `extend status =
                # strcat('status ', code)` matched the alias INSIDE the
                # literal, rewrote it, and emitted an EXCEPT on a
                # column that may not exist upstream.
                lits: list[str] = []

                def _stash(m, lits=lits):
                    lits.append(m.group(0))
                    return f"\x00{len(lits) - 1}\x00"

                e_stashed = re.sub(r"'(?:[^'\\]|\\.)*'", _stash, e)
                if re.search(rf"(?<![\w.]){re.escape(a)}\b", e_stashed):
                    inner = f"SELECT *, {a} AS __kql_old_{a} FROM ({acc})"
                    inner = f"SELECT * EXCEPT ({a}) FROM ({inner})"
                    e2 = re.sub(rf"(?<![\w.]){re.escape(a)}\b",
                                f"__kql_old_{a}", e_stashed)
                    e2 = re.sub(r"\x00(\d+)\x00",
                                lambda m: lits[int(m.group(1))], e2)
                    acc = (f"SELECT * EXCEPT (__kql_old_{a}) FROM "
                           f"(SELECT *, {e2} AS {a} FROM ({inner}))")
                elif cur_cols is not None and a in cur_cols:
                    # existing column, no self-reference: drop then
                    # re-add under the same name
                    acc = f"SELECT * EXCEPT ({a}), {e} AS {a} FROM ({acc})"
                else:
                    acc = f"SELECT *, {e} AS {a} FROM ({acc})"
                if cur_cols is not None:
                    cur_cols = [c for c in cur_cols if c != a] + [a]
        elif op == "summarize":
            acc, cur_cols = _summarize(acc, body)
        elif op in ("order", "sort"):
            body2 = re.sub(r"^by\b", "", body, flags=re.IGNORECASE).strip()
            acc = f"SELECT * FROM ({acc}) ORDER BY {_order_items(body2)}"
        elif op in ("take", "limit"):
            acc = f"SELECT * FROM ({acc}) LIMIT {_int_arg(op, body)}"
        elif op == "top":
            tm = re.match(r"^(\d+)\s+by\s+(.*)$", body, re.IGNORECASE | re.DOTALL)
            if not tm:
                raise ChSqlError("KQL top needs: top N by expr [asc|desc]")
            acc = (f"SELECT * FROM ({acc}) ORDER BY "
                   f"{_order_items(tm.group(2))} LIMIT {_int_arg(op, tm.group(1))}")
        elif op == "distinct":
            if body.strip() == "*":
                acc = f"SELECT DISTINCT * FROM ({acc})"
            else:
                items = _named_items(body)
                sel = ", ".join(expr if alias is None else f"{expr} AS {alias}"
                                for alias, expr in items)
                acc = f"SELECT DISTINCT {sel} FROM ({acc})"
                cur_cols = _names_of(items)
        elif op == "count" and not body:
            acc = f"SELECT count() AS Count FROM ({acc})"
            cur_cols = ["Count"]
        elif op == "union":
            rhs = body.strip()
            src_col = None
            # withsource=Col and kind=... may appear in either order
            for _ in range(2):
                wm = re.match(r"^withsource\s*=\s*([A-Za-z_]\w*)\s+(.*)$",
                              rhs, re.DOTALL | re.IGNORECASE)
                if wm:
                    src_col, rhs = wm.group(1), wm.group(2).strip()
                    continue
                kindm = re.match(r"^kind\s*=\s*(\w+)\s+(.*)$", rhs, re.DOTALL)
                if kindm:  # inner/outer affect column union; subset is positional
                    rhs = kindm.group(2).strip()
            if rhs.startswith("("):
                rhs_sql = kql_to_chsql(rhs[1:-1], columns_of=columns_of)
                rm_ = re.match(r"^\(\s*([A-Za-z_]\w*)", rhs)
                rhs_name = rm_.group(1) if rm_ else "union_arg"
            else:
                if not re.match(r"^[A-Za-z_]\w*$", rhs):
                    raise ChSqlError(
                        f"KQL union subset: table name or (pipeline), got {rhs[:40]!r}")
                rhs_sql = f"SELECT * FROM {rhs}"
                rhs_name = rhs
            if src_col:
                # ADX withsource: each row labeled with its source
                # table's name (round-8; previously mis-translated)
                acc = (f"SELECT *, '{first}' AS {src_col} FROM ({acc}) "
                       f"UNION ALL SELECT *, '{rhs_name}' AS {src_col} "
                       f"FROM ({rhs_sql})")
                if cur_cols is not None:
                    cur_cols = cur_cols + [src_col]
            else:
                acc = f"SELECT * FROM ({acc}) UNION ALL {rhs_sql}"
        elif op in ("join", "lookup"):
            acc, cur_cols = _join_stage(acc, body, lookup=op == "lookup",
                                        columns_of=columns_of,
                                        left_cols=cur_cols)
        elif op == "render":
            pass  # chart hint — a no-op for a tabular engine
        elif op == "serialize" and not body:
            # ADX order-freeze marker: row order is only deterministic
            # downstream of an explicit sort here, so the marker itself
            # is a pass-through (scan still requires the sort stage for
            # its serialization keys)
            pass
        elif op == "make-series":
            acc = _make_series(acc, body)
            cur_cols = None
        elif op == "parse":
            acc = _parse_stage(acc, body)
            cur_cols = None
        elif op == "mv-apply":
            acc = _mv_apply(acc, body)
            cur_cols = None
        elif op == "top-nested":
            acc = _top_nested(acc, body)
            cur_cols = None
        elif op == "facet":
            acc = _facet(acc, body)
            cur_cols = None
        elif op == "partition":
            acc = _partition(acc, body)
            cur_cols = None
        elif op == "search":
            # ADX search (src/Parsers/Kusto operator set): term match
            # across every column — `search [kind=...] [in (cols)]
            # 'term'`. Lowers to an OR-chain of position() > 0 over
            # toString(col); default is case-insensitive like ADX.
            sm = re.match(
                r"^(?:kind\s*=\s*(case_sensitive|case_insensitive)\s+)?"
                r"(?:in\s*\(([^)]*)\)\s+)?"
                r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")\s*$",
                body, re.IGNORECASE,
            )
            if sm is None:
                raise ChSqlError(
                    "KQL search subset: search [kind=case_sensitive] "
                    "[in (col, ...)] 'term'")
            kind, incols, lit = sm.groups()
            if incols:
                cols = [c.strip() for c in incols.split(",") if c.strip()]
                bad = [c for c in cols if not re.match(r"^[A-Za-z_]\w*$", c)]
                if bad:
                    raise ChSqlError(f"KQL search in(...): bare column "
                                     f"names only, got {bad[0]!r}")
            else:
                cols = cur_cols
            if not cols:
                raise ChSqlError(
                    "KQL search: the source column list is unresolved — "
                    "run through kql_sql(spark, ...) so the session "
                    "catalog resolves the schema, or name columns with "
                    "`search in (col, ...)`")
            fn = ("position" if (kind or "").lower() == "case_sensitive"
                  else "positionCaseInsensitive")
            cond = " OR ".join(
                f"{fn}(toString({c}), {lit}) > 0" for c in cols
            )
            acc = f"SELECT * FROM ({acc}) WHERE {cond}"
        elif op == "mv-expand":
            col = body.strip()
            if not re.match(r"^[A-Za-z_]\w*$", col):
                raise ChSqlError("KQL mv-expand subset takes a single column name")
            # arrayJoin-in-select (the shim lowers it to explode);
            # composes cleanly inside further derived tables, which
            # the ARRAY JOIN clause form does not
            acc = f"SELECT * EXCEPT ({col}), arrayJoin({col}) AS {col} FROM ({acc})"
            if cur_cols is not None:
                cur_cols = [c for c in cur_cols if c != col] + [col]
        else:
            if op == "serialize":
                # ADX serialize marks the row order as fixed so window
                # functions may follow; the bare form is an order
                # annotation with no relational effect (round-7). The
                # assignment form needs the serialized physical order,
                # which a declarative plan does not carry.
                if body:
                    raise ChSqlError(
                        "KQL serialize subset: bare `serialize` only "
                        "(the `serialize name = row_number()` form needs "
                        "the physical row order; sort first and use "
                        "row_number() via summarize/top instead)")
                continue
            hint = ""
            if op == "getschema":
                hint = (" (getschema runs through kql_sql, which resolves "
                        "the schema at runtime)")
            elif op == "scan":
                hint = (" (scan runs through kql_sql, which executes the "
                        "state machine at runtime)")
            raise ChSqlError(
                f"KQL operator {op!r}: not in the implemented subset "
                "(where/project[-away|-rename|-keep|-reorder]/extend/"
                "summarize/order/sort/take/limit/top/top-hitters/distinct/"
                "count/sample[-distinct]/mv-expand/print/join/lookup/union/"
                "render/make-series/parse/mv-apply/top-nested/facet/"
                "partition/serialize/search, sources range/datatable; evaluate "
                "pivot/bag_unpack and scan via kql_sql)"
                f"{hint}")
    return acc, cur_cols


_TOP_NESTED_LEVEL_RE = re.compile(
    r"^(?P<n>\d+)\s+of\s+(?:(?P<name>[A-Za-z_]\w*)\s*=\s*)?(?P<expr>.+?)"
    r"\s+by\s+(?:(?P<aggname>[A-Za-z_]\w*)\s*=\s*)?"
    r"(?P<aggfn>[A-Za-z_]\w*)\s*\(\s*(?P<aggarg>[^()]*)\s*\)$",
    re.IGNORECASE | re.DOTALL,
)

# window-computable aggregates (count(DISTINCT) over a window is not
# supported by Spark — dcount levels refuse)
_TOP_NESTED_AGGS = {"sum", "count", "min", "max", "avg"}


def _top_nested(acc: str, body: str) -> str:
    """KQL top-nested (hierarchical top-N): each level keeps the top N
    values of its expression ranked by its OWN aggregate computed over
    all source rows of the enclosing groups — exactly the ADX operator
    (doc semantics). Realization: one pass of aggregate-as-WINDOW per
    level over the raw rows (PARTITION BY the level prefix), DISTINCT
    group rows, then dense_rank per level prefix and a conjunctive
    filter. `with others` is out of the subset (refused)."""
    if re.search(r"\bwith\s+others\b", body, re.IGNORECASE):
        raise ChSqlError("KQL top-nested `with others` is out of the subset")
    levels = []
    for part in _split_top_tokens(_tokenize(body)):
        text = _join_tokens(part)
        # ADX repeats the operator keyword on every nested level
        text = re.sub(r"^\s*top\s*-\s*nested\s+", "", text, flags=re.IGNORECASE)
        m = _TOP_NESTED_LEVEL_RE.match(text.strip())
        if not m:
            raise ChSqlError(
                "KQL top-nested level needs: N of [name =] expr by "
                f"[name =] agg(arg) — got {text!r}")
        n = int(m.group("n"))
        expr = _lower_expr(_tokenize(m.group("expr")))
        name = m.group("name")
        if name is None:
            if re.match(r"^[A-Za-z_]\w*$", expr):
                name = expr
            else:
                raise ChSqlError(
                    "KQL top-nested: a computed level expression needs "
                    "an explicit name (name = expr)")
        fn = m.group("aggfn").lower()
        if fn not in _TOP_NESTED_AGGS:
            raise ChSqlError(
                f"KQL top-nested aggregate {fn!r}: subset supports "
                f"{sorted(_TOP_NESTED_AGGS)} (window-computable)")
        arg = m.group("aggarg").strip()
        arg_sql = _lower_expr(_tokenize(arg)) if arg else "*"
        if fn != "count" and not arg:
            raise ChSqlError(f"KQL top-nested: {fn}() needs an argument")
        aggname = m.group("aggname") or f"aggregated_{name}"
        levels.append((n, name, expr, fn, arg_sql, aggname))

    sel_base = ", ".join(f"{e} AS {nm}" for _n, nm, e, _f, _a, _an in levels)
    # the aggregate args must survive into the base projection too
    extra = []
    for k, (_n, _nm, _e, fn, a, _an) in enumerate(levels):
        if a != "*":
            extra.append(f"{a} AS __tn_arg{k}")
    base = f"SELECT {sel_base}{', ' if extra else ''}{', '.join(extra)} FROM ({acc})"

    win_cols = []
    for k, (_n, nm, _e, fn, a, an) in enumerate(levels):
        partition = ", ".join(lv[1] for lv in levels[: k + 1])
        src = "*" if a == "*" else f"__tn_arg{k}"
        win_cols.append(f"{fn}({src}) OVER (PARTITION BY {partition}) AS {an}")
    names = ", ".join(lv[1] for lv in levels)
    # window aggregates computed over RAW rows, then DISTINCT group rows
    w = (f"SELECT DISTINCT {names}, "
         + ", ".join(win_cols)
         + f" FROM ({base})")

    ranks, conds = [], []
    for k, (n, nm, _e, _f, _a, an) in enumerate(levels):
        prefix = ", ".join(lv[1] for lv in levels[:k])
        over = (f"PARTITION BY {prefix} " if prefix else "") + f"ORDER BY {an} DESC, {nm}"
        ranks.append(f"dense_rank() OVER ({over}) AS __tn_r{k}")
        conds.append(f"__tn_r{k} <= {n}")
    out_cols = ", ".join(f"{nm}, {an}" for _n, nm, _e, _f, _a, an in levels)
    ranked = f"SELECT *, {', '.join(ranks)} FROM ({w})"
    return (f"SELECT {out_cols} FROM ({ranked}) "
            f"WHERE {' AND '.join(conds)}")


def _partition(acc: str, body: str) -> str:
    """KQL partition (round-6): run a subpipeline per distinct value of
    the partition column and union the results (ADX `partition by Col
    ( sub )`). Single-result lowerings for the subqueries that have an
    exact relational equivalent:

    - ``top N by expr [asc|desc]`` -> per-partition rank filter
      (row_number window over the partition column);
    - ``summarize ... [by keys]``  -> one global summarize with the
      partition column prepended to the keys;
    - ``where ...``                -> plain filter (partitioning is a
      no-op around a row-local predicate).

    Anything else (multi-stage subpipelines, per-partition order
    without a take) refuses by name — ADX's hint.* strategies are
    execution hints with no semantic content here."""
    m = re.match(r"^by\s+([A-Za-z_]\w*)\s*\(\s*(.*?)\s*\)\s*$", body,
                 re.IGNORECASE | re.DOTALL)
    if not m:
        raise ChSqlError("KQL partition needs: partition by Col ( sub )")
    col, sub = m.group(1), m.group(2).strip()
    if len(_split_pipeline(sub)) != 1:
        raise ChSqlError(
            "KQL partition subset takes a SINGLE-stage subquery "
            "(top / summarize / where)")
    tm = re.match(r"^top\s+(\d+)\s+by\s+(.*)$", sub, re.IGNORECASE | re.DOTALL)
    if tm:
        n = int(tm.group(1))
        order = _order_items(tm.group(2))
        return (f"SELECT * EXCEPT (__kql_prn) FROM (SELECT *, row_number() "
                f"OVER (PARTITION BY {col} ORDER BY {order}) AS __kql_prn "
                f"FROM ({acc})) WHERE __kql_prn <= {n}")
    sm = re.match(r"^summarize\s+(.*)$", sub, re.IGNORECASE | re.DOTALL)
    if sm:
        agg_part, by_part = _split_on_keyword(sm.group(1), "by")
        new_by = f"{col}, {by_part}" if by_part.strip() else col
        return _summarize(acc, f"{agg_part} by {new_by}")[0]
    wm = re.match(r"^where\s+(.*)$", sub, re.IGNORECASE | re.DOTALL)
    if wm:
        return f"SELECT * FROM ({acc}) WHERE {_lower_expr(_tokenize(wm.group(1)))}"
    raise ChSqlError(
        f"KQL partition subquery {sub.split()[0]!r}: subset takes "
        "top / summarize / where")


def _facet(acc: str, body: str) -> str:
    """KQL facet: per-column value histograms. ADX emits one table per
    facet column; a single-result engine emits the stacked form —
    (facet_column, value, count_) via one UNION ALL branch per column
    (the grouping-set shape). `with (subpipeline)` is out of the
    subset (refused by name)."""
    if re.search(r"\bwith\b", body, re.IGNORECASE):
        raise ChSqlError("KQL facet `with (...)` is out of the subset")
    bm = re.match(r"^by\s+(.*)$", body.strip(), re.IGNORECASE | re.DOTALL)
    if not bm:
        raise ChSqlError("KQL facet needs: facet by col[, col...]")
    cols = [c.strip() for c in bm.group(1).split(",")]
    if not cols or any(not re.match(r"^[A-Za-z_]\w*$", c) for c in cols):
        raise ChSqlError("KQL facet subset takes plain column names")
    branches = [
        (f"SELECT '{c}' AS facet_column, CAST({c} AS STRING) AS value, "
         f"count() AS count_ FROM ({acc}) GROUP BY {c}")
        for c in cols
    ]
    return " UNION ALL ".join(f"SELECT * FROM ({b})" for b in branches)


_MAKE_SERIES_RE = re.compile(
    r"^(?P<alias>[A-Za-z_]\w*)\s*=\s*(?P<agg>[A-Za-z_]\w*)\s*\(\s*(?P<arg>[^)]*)\s*\)"
    r"(?:\s+default\s*=\s*(?P<dflt>[-\d.]+))?"
    r"\s+on\s+(?P<ts>[A-Za-z_]\w*)"
    r"\s+from\s+(?P<frm>.+?)\s+to\s+(?P<to>.+?)"
    r"\s+step\s+(?P<step>\d+(?:\.\d+)?(?:ms|d|h|m|s))"
    r"(?:\s+by\s+(?P<by>.+))?$",
    re.IGNORECASE | re.DOTALL,
)


def _make_series(acc: str, body: str) -> str:
    """KQL make-series: a gap-filled per-group time series, one row per
    group with ARRAY columns for the aggregate and the time axis
    (ADX semantics: axis = [from, to) at `step`, missing buckets filled
    with `default`, 0 when omitted). Realization: bucket-aggregate,
    LEFT JOIN against the generated axis×keys grid, then an ordered
    array fold — the same grid shape as the WITH FILL operator."""
    m = _MAKE_SERIES_RE.match(body.strip())
    if not m:
        raise ChSqlError(
            "KQL make-series subset needs: alias = agg(col) [default = n] "
            "on ts from <expr> to <expr> step <timespan> [by keys]")
    alias, agg, arg = m.group("alias"), m.group("agg").lower(), m.group("arg")
    dflt = m.group("dflt") or "0"
    tscol = m.group("ts")
    frm = _lower_expr(_tokenize(m.group("frm")))
    to = _lower_expr(_tokenize(m.group("to")))
    ts_m = _TS_RE.match(m.group("step"))
    step = f"INTERVAL {ts_m.group(1)} {_TIMESPAN_UNITS[ts_m.group(2)]}"
    step_us = int(float(ts_m.group(1)) * {
        "d": 86_400_000_000, "h": 3_600_000_000, "m": 60_000_000,
        "s": 1_000_000, "ms": 1_000,
    }[ts_m.group(2)])
    aggfn = _AGG_RENAMES.get(agg, agg)
    keys = ([k.strip() for k in m.group("by").split(",")]
            if m.group("by") else [])
    for k in keys:
        if not re.match(r"^[A-Za-z_]\w*$", k):
            raise ChSqlError("KQL make-series by-keys subset takes bare columns")

    axis = (f"SELECT __ms_b FROM (SELECT explode(sequence("
            f"CAST({frm} AS TIMESTAMP), CAST({to} AS TIMESTAMP), {step})) "
            f"AS __ms_b) WHERE __ms_b < CAST({to} AS TIMESTAMP)")
    aggsel = f"{aggfn}({_lower_expr(_tokenize(arg))})" if arg.strip() else "count()"
    # buckets must align to the AXIS START, not the epoch (ADX bins
    # relative to `from`; review-found: toStartOfInterval with an
    # unaligned `from` made the grid join match nothing and the whole
    # series silently collapsed to the default fill)
    bucket = (f"timestampadd(MICROSECOND, CAST(floor((unix_micros(CAST({tscol}"
              f" AS TIMESTAMP)) - unix_micros(CAST({frm} AS TIMESTAMP))) / "
              f"{step_us}) AS BIGINT) * {step_us}, CAST({frm} AS TIMESTAMP))")
    aggq = (f"SELECT {', '.join([*keys, f'{bucket} AS __ms_b', f'{aggsel} AS __ms_v'])} "
            f"FROM ({acc}) WHERE {tscol} >= CAST({frm} AS TIMESTAMP) "
            f"AND {tscol} < CAST({to} AS TIMESTAMP) "
            f"GROUP BY {', '.join([*keys, bucket])}")
    if keys:
        grid = (f"SELECT * FROM (SELECT DISTINCT {', '.join(keys)} "
                f"FROM ({acc})) CROSS JOIN ({axis})")
    else:
        grid = f"SELECT * FROM ({axis})"
    using = ", ".join([*keys, "__ms_b"])
    joined = (f"SELECT * FROM ({grid}) AS __ms_g LEFT JOIN ({aggq}) "
              f"AS __ms_a USING ({using})")
    fold = "array_sort(collect_list(struct(__ms_b, __ms_v)))"
    sel_keys = f"{', '.join(keys)}, " if keys else ""
    final = (f"SELECT {sel_keys}"
             f"transform({fold}, x -> coalesce(x.__ms_v, {dflt})) AS {alias}, "
             f"transform({fold}, x -> x.__ms_b) AS {tscol} "
             f"FROM ({joined})")
    if keys:
        final += f" GROUP BY {', '.join(keys)}"
    return final


def _mv_apply(acc: str, body: str) -> str:
    """KQL mv-apply subset: ``mv-apply [e =] arr on (where ... |
    summarize a = agg(expr), ...)`` — per-ROW array application.
    Realized entirely with array higher-order functions (filter /
    transform / aggregate folds): no explode, no shuffle, no synthetic
    row id — the per-row mini-table IS the array, which keeps the
    operator scale-free (ADX applies a subquery per row; for the
    where+summarize shape the two are semantically identical)."""
    m = re.match(r"^(?:([A-Za-z_]\w*)\s*=\s*)?([A-Za-z_]\w*)\s+on\s+\((.*)\)\s*$",
                 body, re.DOTALL | re.IGNORECASE)
    if not m:
        raise ChSqlError("KQL mv-apply subset needs: mv-apply [e =] arr on (...)")
    var = m.group(1) or m.group(2)
    arr = m.group(2)
    stages = _split_pipeline(m.group(3))
    preds, summarize = [], None
    for st in stages:
        sm = re.match(r"^(where|summarize)\s+(.*)$", st, re.DOTALL | re.IGNORECASE)
        if not sm:
            raise ChSqlError(
                f"KQL mv-apply body {st!r}: subset takes where stages "
                "followed by one summarize")
        if sm.group(1).lower() == "where":
            preds.append(_lower_expr(_tokenize(sm.group(2))))
        else:
            summarize = sm.group(2)
    if summarize is None:
        raise ChSqlError("KQL mv-apply subset needs a summarize in the body")
    base = arr
    if preds:
        base = f"arrayFilter({var} -> ({') AND ('.join(preds)}), {arr})"

    def mapped(expr: str) -> str:
        if expr.strip() == var:
            return base
        return f"arrayMap({var} -> {expr}, {base})"

    sel = []
    for alias, _lowered, raw in _named_items_raw(summarize):
        # parse from the RAW tokens so the agg name is the KQL one
        text = _join_tokens(raw)
        am = re.match(r"^([A-Za-z_]\w*)\s*\((.*)\)$", text, re.DOTALL)
        if not am:
            raise ChSqlError(f"KQL mv-apply summarize item {text!r}: "
                             "subset takes agg(expr) items")
        fn, argtext = am.group(1).lower(), am.group(2).strip()
        arg = _lower_expr(_tokenize(argtext)) if argtext else ""
        if alias is None:
            alias = f"{fn}_{argtext}" if re.match(r"^[A-Za-z_]\w*$", argtext) \
                else f"{fn}_"
        if fn == "count" and not arg:
            e = f"length({base})"
        elif fn == "sum":
            e = f"arraySum({mapped(arg)})"
        elif fn == "avg" or fn == "average":
            e = f"arraySum({mapped(arg)}) / length({base})"
        elif fn == "max":
            e = f"arrayMax({mapped(arg)})"
        elif fn == "min":
            e = f"arrayMin({mapped(arg)})"
        elif fn == "dcount":
            e = f"length(arrayDistinct({mapped(arg)}))"
        elif fn == "make_list":
            e = mapped(arg)
        else:
            raise ChSqlError(f"KQL mv-apply aggregate {fn!r}: subset takes "
                             "count/sum/avg/min/max/dcount/make_list")
        sel.append(f"{e} AS {alias}")
    return f"SELECT *, {', '.join(sel)} FROM ({acc})"


_PARSE_TYPES = {"int": "INT", "long": "BIGINT", "real": "DOUBLE",
                "double": "DOUBLE", "string": None, "bool": "BOOLEAN"}


def _parse_stage(acc: str, body: str) -> str:
    """KQL parse (simple mode): ``parse Expr with ['*'] ('lit' Name[:ty])+``
    — literal anchors become a single composite regex; each name is one
    capture group extracted with regexp_extract (lazy captures between
    anchors, greedy for a trailing unanchored name, exactly ADX's
    simple-mode matching)."""
    m = re.match(r"^(?:kind\s*=\s*simple\s+)?(.+?)\s+with\s+(.*)$",
                 body, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ChSqlError("KQL parse needs: parse Expr with 'lit' Name ...")
    src = _lower_expr(_tokenize(m.group(1)))
    rest = m.group(2).strip()
    # tokenize the with-pattern: quoted literals, * wildcards, Name[:type]
    pat_re = re.compile(
        r"\s*(?:'((?:[^'\\]|\\.)*)'|\"((?:[^\"\\]|\\.)*)\"|(\*)"
        r"|([A-Za-z_]\w*)(?::\s*(\w+))?)")
    pos, regex, names = 0, "", []
    while pos < len(rest):
        pm = pat_re.match(rest, pos)
        if not pm or pm.end() == pos:
            raise ChSqlError(f"KQL parse: cannot read pattern at {rest[pos:pos+20]!r}")
        lit1, lit2, star, name, ty = pm.groups()
        if lit1 is not None or lit2 is not None:
            raw = lit1 if lit1 is not None else lit2
            # decode the KQL escapes BEFORE regex-escaping, so the
            # anchor matches the literal VALUE
            regex += re.escape(_decode_kql_string(f"'{raw}'"))
        elif star:
            regex += ".*?"
        else:
            if ty and ty.lower() not in _PARSE_TYPES:
                raise ChSqlError(f"KQL parse type {ty!r} not supported")
            names.append((name, ty and ty.lower()))
            regex += "(.*?)"
        pos = pm.end()
    if not names:
        raise ChSqlError("KQL parse: no capture columns in the pattern")
    # the final lazy capture must reach the end of the input
    if regex.endswith("(.*?)"):
        regex = regex[:-5] + "(.*)"
    regex_sql = regex.replace("\\", "\\\\").replace("'", "\\'")
    sel = []
    for g, (name, ty) in enumerate(names, start=1):
        e = f"regexp_extract({src}, '{regex_sql}', {g})"
        sqlt = _PARSE_TYPES.get(ty or "string")
        if sqlt:
            e = f"CAST({e} AS {sqlt})"
        sel.append(f"{e} AS {name}")
    return f"SELECT *, {', '.join(sel)} FROM ({acc})"


_JOIN_KINDS = {
    "inner": "INNER JOIN", "leftouter": "LEFT JOIN",
    "rightouter": "RIGHT JOIN", "fullouter": "FULL JOIN",
    "leftanti": "LEFT ANTI JOIN", "anti": "LEFT ANTI JOIN",
    "leftantisemi": "LEFT ANTI JOIN", "rightanti": "RIGHT ANTI JOIN",
    "leftsemi": "LEFT SEMI JOIN", "rightsemi": "RIGHT SEMI JOIN",
}


def _let_statements(text: str, columns_of):
    """`let name = ...;` statement prefixes (round-7; the ADX binding
    statement). Tabular lets (a pipeline, a known table, or a
    range/datatable source) transpile to SQL CTEs prepended WITH-style
    to the final query — any `FROM name` inside resolves to the CTE,
    including join/union right sides, exactly the ADX scoping. Scalar
    lets substitute their expression text (parenthesized) for bare
    identifier uses in the remaining statements. Function lets
    (`let f = (x: long) {...}`) are out of the subset and refuse by
    name."""
    stmts = _split_top_text(text, ";")
    stmts = [s.strip() for s in stmts if s.strip()]
    if len(stmts) < 2:
        raise ChSqlError("KQL let: a query must follow the binding(s)")
    ctes: list[tuple[str, str, list[str] | None]] = []
    cte_cols: dict[str, list[str] | None] = {}
    scalars: dict[str, str] = {}
    # let-functions (round-8): name -> (param_names, default_texts,
    # first_param_is_tabular, body_text). Scalar functions expand as
    # hygienic textual macros (each argument parenthesized); tabular
    # ones apply through `| invoke f(...)`, binding the piped input to
    # the `(*)` parameter via a synthetic CTE.
    functions: dict[str, tuple[list[str], list[str | None], bool, str]] = {}

    def sub_scalars(s: str, exclude: tuple = ()) -> str:
        if not scalars:
            return s
        # ADX name resolution gives COLUMNS precedence over let-bound
        # scalars inside a tabular context (round-8 advisor): when the
        # pipeline head's schema is known, a scalar whose name collides
        # with an input column is NOT substituted — the column wins.
        # (If a later stage drops the column and still uses the name,
        # the query fails loudly downstream instead of silently reading
        # the binding — text substitution cannot be stage-aware.)
        shadowed: set[str] = set()
        hm = re.match(r"^\s*([A-Za-z_]\w*)\s*(?:\||$)", s)
        if hm:
            head_cols = wrapped_columns_of(hm.group(1))
            if head_cols:
                shadowed = set(head_cols) & set(scalars)
        # split out string literals so a binding never rewrites text
        # INSIDE quotes (`let a = 5; T | where s == "a"` must keep "a")
        parts = re.split(r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")", s)
        for i in range(0, len(parts), 2):
            for nm, expr in scalars.items():
                if nm in shadowed or nm in exclude:
                    continue
                repl = f"({expr})"
                parts[i] = re.sub(
                    rf"(?<![\w.$]){re.escape(nm)}(?!\w)(?!\s*\()",
                    lambda _m: repl, parts[i],
                )
        return "".join(parts)

    def wrapped_columns_of(tbl: str):
        if tbl in cte_cols:
            return cte_cols[tbl]
        return columns_of(tbl) if columns_of is not None else None

    def _subst_names(s: str, mapping: dict[str, str]) -> str:
        """Replace bare identifier uses (outside string literals) per
        `mapping` — the parameter-binding step of function expansion."""
        parts = re.split(r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")", s)
        for i in range(0, len(parts), 2):
            for nm, repl in mapping.items():
                parts[i] = re.sub(
                    rf"(?<![\w.$]){re.escape(nm)}(?!\w)",
                    lambda _m, _r=repl: _r, parts[i],
                )
        return "".join(parts)

    def _expand_scalar_fns(s: str) -> str:
        """Expand scalar let-function CALLS textually (innermost-first
        via restart-scan): `f(a, b)` -> `(body with x->(a), y->(b))`.
        Missing trailing arguments fill from declared defaults."""
        if not functions:
            return s
        for _ in range(25):
            spans = [m.span() for m in re.finditer(
                r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", s)]
            changed = False
            for m in re.finditer(r"(?<![\w.$])([A-Za-z_]\w*)\s*\(", s):
                nm = m.group(1)
                if nm not in functions or functions[nm][2]:
                    continue  # unknown, or tabular (invoke-only)
                if any(a <= m.start(1) < b for a, b in spans):
                    continue  # inside a string literal
                close = _find_close_paren(s, m.end() - 1)
                args = _split_top_text(s[m.end():close], ",")
                params, defaults, _tab, fbody = functions[nm]
                if len(args) > len(params) or any(
                        d is None for d in defaults[len(args):]):
                    raise ChSqlError(
                        f"KQL function {nm}: takes {len(params)} "
                        f"argument(s) ({len([d for d in defaults if d is None])}"
                        f" required), got {len(args)}")
                binding = {p: f"({a})" for p, a in zip(params, args)}
                for p, d in zip(params[len(args):], defaults[len(args):]):
                    binding[p] = f"({d})"
                s = (s[:m.start(1)] + "(" + _subst_names(fbody, binding)
                     + ")" + s[close + 1:])
                changed = True
                break  # offsets shifted: restart the scan
            if not changed:
                return s
        raise ChSqlError(
            "KQL let-functions: expansion depth exceeded (recursive "
            "functions are out of the subset)")

    invoke_n = [0]

    def _expand_invokes(stmt: str) -> str:
        """`P | invoke f(args) | rest`: bind P to a synthetic CTE, then
        substitute it for f's tabular parameter and splice f's body
        pipeline in place (src/Parsers/Kusto: the ADX invoke operator
        applies a lambda whose first parameter is tabular)."""
        for _ in range(10):
            stages = _split_top_text(stmt, "|")
            hit = None
            for i, st in enumerate(stages):
                m = re.match(r"^invoke\s+([A-Za-z_]\w*)\s*\((.*)\)$",
                             st.strip(), re.DOTALL)
                if m:
                    hit = (i, m)
                    break
            if hit is None:
                return stmt
            i, m = hit
            nm = m.group(1)
            if nm not in functions:
                raise ChSqlError(
                    f"KQL invoke: {nm!r} is not a let-bound function")
            params, defaults, tabular, fbody = functions[nm]
            if not tabular:
                raise ChSqlError(
                    f"KQL invoke {nm}: the function's first parameter "
                    "must be tabular — `let f = (T: (*), ...) { ... }`")
            if i == 0:
                raise ChSqlError("KQL invoke must follow a tabular pipeline")
            prefix = _expand_scalar_fns(" | ".join(stages[:i]))
            sql, cols = _transpile(prefix, columns_of=wrapped_columns_of)
            invoke_n[0] += 1
            cte = f"__invoke_src_{invoke_n[0]}"
            ctes.append((cte, sql, cols))
            cte_cols[cte] = cols
            args = _split_top_text(m.group(2), ",")
            rest_params = params[1:]
            if len(args) > len(rest_params) or any(
                    d is None for d in defaults[1 + len(args):]):
                raise ChSqlError(
                    f"KQL invoke {nm}: takes {len(rest_params)} "
                    f"argument(s), got {len(args)}")
            binding = {params[0]: cte}
            for p, a in zip(rest_params, args):
                binding[p] = f"({a})"
            for p, d in zip(rest_params[len(args):], defaults[1 + len(args):]):
                binding[p] = f"({d})"
            tail = stages[i + 1:]
            stmt = " | ".join([_subst_names(fbody, binding)] + tail)
        raise ChSqlError("KQL invoke: expansion depth exceeded")

    for stmt in stmts[:-1]:
        lm = re.match(r"^let\s+([A-Za-z_]\w*)\s*=\s*(.*)$", stmt,
                      re.IGNORECASE | re.DOTALL)
        if not lm:
            raise ChSqlError(
                f"KQL: only let statements may precede the query, got "
                f"{stmt[:60]!r}")
        name, raw = lm.group(1), lm.group(2).strip()
        # function-form let (round-8): `let f = (params) { body }` —
        # scalar when no parameter is tabular, invoke-able when the
        # FIRST parameter is `(name: (*))`
        if raw.startswith("("):
            close = _find_close_paren(raw, 0)
            rest = raw[close + 1:].strip()
            if not rest and close == len(raw) - 1:
                # parenthesized (tabular) expression: unwrap and fall
                # through to the normal binding classification
                raw = raw[1:close].strip()
                return_to_normal = True
            elif not (rest.startswith("{") and rest.endswith("}")):
                raise ChSqlError(
                    "KQL let: a `(...)` binding must be a function — "
                    "`let f = (x: long) { expr }` — or a parenthesized "
                    "tabular expression")
            else:
                return_to_normal = False
        else:
            return_to_normal = True
        if not return_to_normal:
            params: list[str] = []
            defaults: list[str | None] = []
            tabular = False
            ptext = raw[1:close].strip()
            for j, item in enumerate(
                    _split_top_text(ptext, ",") if ptext else []):
                pm = re.match(
                    r"^([A-Za-z_]\w*)\s*:\s*(\(\s*\*\s*\)|[A-Za-z_]\w*)"
                    r"\s*(?:=\s*(.+))?$", item, re.DOTALL)
                if not pm:
                    raise ChSqlError(
                        f"KQL let-function parameter {item!r}: expected "
                        "`name: type [= default]` (typed-table "
                        "parameters other than `(*)` are out of the "
                        "subset)")
                if pm.group(2).startswith("("):
                    if j != 0:
                        raise ChSqlError(
                            "KQL let-function: the tabular `(*)` "
                            "parameter must come first")
                    tabular = True
                params.append(pm.group(1))
                defaults.append(pm.group(3).strip() if pm.group(3) else None)
            fbody = rest[1:-1].strip()
            # earlier scalar lets substitute into the body EXCEPT where
            # a parameter shadows them (the parameter wins at call time)
            fbody = _expand_scalar_fns(
                sub_scalars(fbody, exclude=tuple(params)))
            functions[name] = (params, defaults, tabular, fbody)
            continue
        body = _expand_scalar_fns(sub_scalars(raw))
        if body.startswith("{"):
            raise ChSqlError(
                "KQL parameterless let-function blocks are out of the "
                "subset (use `let f = () { ... }`)")
        # materialize(tabular): an eager-cache HINT in ADX — the CTE
        # lowering evaluates once per reference anyway, so it unwraps
        mm = re.match(r"^materialize\s*\((.*)\)\s*$", body,
                      re.IGNORECASE | re.DOTALL)
        if mm:
            body = mm.group(1).strip()
        # toscalar(tabular): first column of the first row -> a scalar
        # subquery binding
        tsm = re.match(r"^toscalar\s*\((.*)\)\s*$", body,
                       re.IGNORECASE | re.DOTALL)
        if tsm:
            sql, cols = _transpile(tsm.group(1).strip(),
                                   columns_of=wrapped_columns_of)
            if not cols:
                raise ChSqlError(
                    "KQL toscalar: the inner pipeline's first column "
                    "is not statically known — project/summarize an "
                    "explicit column first")
            scalars[name] = f"(SELECT {cols[0]} FROM ({sql}) LIMIT 1)"
            continue
        # a bare identifier on the RHS is a table/CTE alias: earlier
        # scalar bindings were already substituted away by sub_scalars,
        # so the only things a bare name can denote are tabular. With a
        # schema resolver we also validate it; WITHOUT one (round-8
        # advisor) it still lowers to a CTE alias instead of falling to
        # the scalar branch and failing later with a misleading
        # "pipeline must start with a table name".
        bare = re.match(r"^[A-Za-z_]\w*$", body)
        if bare and columns_of is not None and body not in cte_cols \
                and not wrapped_columns_of(body):
            raise ChSqlError(
                f"KQL let {name}: {body!r} is not a known table, CTE, "
                "or scalar binding")
        is_tabular = (
            "|" in body
            or re.match(r"^(datatable|range)\b", body, re.IGNORECASE)
            or bare
        )
        if is_tabular:
            sql, cols = _transpile(_expand_scalar_fns(_expand_invokes(body)),
                                   columns_of=wrapped_columns_of)
            ctes.append((name, sql, cols))
            cte_cols[name] = cols
        else:
            scalars[name] = body
    final_sql, final_cols = _transpile(
        _expand_scalar_fns(_expand_invokes(sub_scalars(stmts[-1]))),
        columns_of=wrapped_columns_of,
    )
    if ctes:
        with_sql = ", ".join(f"{n} AS ({sql})" for n, sql, _c in ctes)
        final_sql = f"WITH {with_sql} {final_sql}"
    return final_sql, final_cols


def _join_stage(acc: str, body: str, lookup: bool = False,
                columns_of=None,
                left_cols: list[str] | None = None,
                ) -> tuple[str, list[str] | None]:
    """KQL `join kind=<k> (<right>) on <keys>` / `lookup` (a LEFT JOIN
    against a dimension). Key forms: bare same-name columns
    (`on a, b` -> USING) and `$left.a == $right.b` equi-pairs.
    `kind=innerunique` (the KQL default) deduplicates the LEFT side on
    the join keys first — realized deterministically with a min-struct
    pick per key (the reference picks an arbitrary row; any consistent
    pick satisfies the contract).

    Returns (sql, output_columns_or_None). When BOTH side schemas are
    known, right-side columns that clash with surviving left names get
    ADX's `1` suffix (x -> x1) instead of surfacing as ambiguous
    duplicates."""
    kind = "leftouter" if lookup else "innerunique"
    m = re.match(r"^kind\s*=\s*(\w+)\s*(.*)$", body, re.DOTALL)
    if m:
        kind = m.group(1).lower()
        body = m.group(2).strip()
    rm = re.match(r"^\((.*)\)\s+on\s+(.*)$", body, re.DOTALL | re.IGNORECASE)
    tm = re.match(r"^([A-Za-z_]\w*)\s+on\s+(.*)$", body, re.DOTALL | re.IGNORECASE)
    if rm:
        rhs_sql, rhs_cols = _transpile(rm.group(1), columns_of=columns_of)
        on_text = rm.group(2).strip()
    elif tm:
        rhs_sql = f"SELECT * FROM {tm.group(1)}"
        on_text = tm.group(2).strip()
        rhs_cols = None
        if columns_of is not None:
            try:
                got = columns_of(tm.group(1))
                rhs_cols = list(got) if got else None
            except Exception:
                rhs_cols = None
    else:
        raise ChSqlError("KQL join needs: join [kind=k] (<right>) on <keys>")

    pairs, using = [], []
    for item in re.split(r",|\band\b", on_text):
        item = item.strip()
        pm = re.match(r"^\$left\.(\w+)\s*==\s*\$right\.(\w+)$", item)
        if pm:
            pairs.append((pm.group(1), pm.group(2)))
        elif re.match(r"^[A-Za-z_]\w*$", item):
            using.append(item)
        else:
            raise ChSqlError(f"KQL join key {item!r}: subset takes bare columns "
                             "or $left.a == $right.b pairs")
    if pairs and using:
        raise ChSqlError("KQL join subset: mix of bare and $left/$right keys")

    left = acc
    if kind == "innerunique":
        keys = using or [lp for lp, _rp in pairs]
        # one row per key on the left (the reference keeps an
        # arbitrary one — so does this window pick; like KQL itself,
        # non-key columns of the surviving row are unspecified)
        cols = ", ".join(keys)
        left = (f"SELECT * EXCEPT (__kql_rn) FROM (SELECT *, row_number() "
                f"OVER (PARTITION BY {cols} ORDER BY {cols}) AS __kql_rn "
                f"FROM ({acc})) WHERE __kql_rn = 1")
        kind = "inner"
    sqlkind = _JOIN_KINDS.get(kind)
    if sqlkind is None:
        raise ChSqlError(f"KQL join kind {kind!r}: not in the implemented subset")

    out_cols = None
    if left_cols is not None and rhs_cols is not None:
        # ADX name rules: USING keys appear once; every OTHER right
        # column that clashes with a surviving left name is suffixed 1
        # (x -> x1). The suffixed name must itself be fresh, or the
        # tracking gives up (out_cols=None, no rename).
        surviving_right = ([c for c in rhs_cols if c not in using]
                           if using else list(rhs_cols))
        left_names = list(left_cols)
        renames, ok = {}, True
        taken = set(left_names) | set(using)
        for c in surviving_right:
            if c in taken:
                nc = f"{c}1"
                if nc in taken or nc in surviving_right or nc in renames.values():
                    ok = False
                    break
                renames[c] = nc
                taken.add(nc)
            else:
                taken.add(c)
        if ok:
            if renames:
                rsel = ", ".join(
                    f"{c} AS {renames[c]}" if c in renames else c
                    for c in rhs_cols
                )
                rhs_sql = f"SELECT {rsel} FROM ({rhs_sql})"
                if pairs:
                    pairs = [(a, renames.get(b, b)) for a, b in pairs]
            renamed_right = [renames.get(c, c) for c in surviving_right]
            if using:
                out_cols = (using
                            + [c for c in left_names if c not in using]
                            + renamed_right)
            else:
                out_cols = left_names + renamed_right

    if using:
        return (f"SELECT * FROM ({left}) AS __kql_l {sqlkind} ({rhs_sql}) "
                f"AS __kql_r USING ({', '.join(using)})", out_cols)
    on = " AND ".join(f"__kql_l.{a} = __kql_r.{b}" for a, b in pairs)
    return (f"SELECT * FROM ({left}) AS __kql_l {sqlkind} ({rhs_sql}) "
            f"AS __kql_r ON {on}", out_cols)


_KQL_TYPES = {
    "string": ("System.String", "string"), "int": ("System.Int32", "int"),
    "bigint": ("System.Int64", "long"), "double": ("System.Double", "real"),
    "float": ("System.Single", "real"), "boolean": ("System.SByte", "bool"),
    "timestamp": ("System.DateTime", "datetime"),
    "timestamp_ntz": ("System.DateTime", "datetime"),
    "date": ("System.DateTime", "datetime"),
    "binary": ("System.Data.SqlTypes.SqlBinary", "dynamic"),
}


# ---------------------------------------------------------------------------
# scan (sequence/state-machine operator)
# ---------------------------------------------------------------------------

_SCAN_HEAD_RE = re.compile(
    r"^(?:with_match_id\s*=\s*(?P<mid>[A-Za-z_]\w*)\s+)?"
    r"(?:declare\s*\(\s*(?P<decl>.*?)\s*\)\s+)?"
    r"with\s*\(\s*(?P<steps>.*?)\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_SCAN_STEP_RE = re.compile(
    r"^step\s+(?P<name>[A-Za-z_]\w*)\s*"
    r"(?:output\s*=\s*(?P<out>\w+)\s*)?:\s*(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)

_SCAN_TYPES = {
    "long": "long", "int": "int", "real": "double", "double": "double",
    "string": "string", "bool": "boolean", "datetime": "timestamp",
}


def _find_close_paren(text: str, open_idx: int) -> int:
    """Index of the ')' matching text[open_idx]=='(' (quote-aware).
    Raises ChSqlError when unbalanced."""
    depth, quote, esc = 0, None, False
    for i in range(open_idx, len(text)):
        c = text[i]
        if quote:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == quote:
                quote = None
            continue
        if c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
    raise ChSqlError(f"KQL: unbalanced parentheses at {text[open_idx:open_idx + 40]!r}")


def _split_top_text(text: str, sep: str) -> list[str]:
    """Split on a single-char separator outside quotes/parens/brackets."""
    parts, cur, depth, quote, esc = [], [], 0, None, False
    for c in text:
        if quote:
            cur.append(c)
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == quote:
                quote = None
            continue
        if c in "'\"":
            quote = c
            cur.append(c)
        elif c in "([":
            depth += 1
            cur.append(c)
        elif c in ")]":
            depth -= 1
            cur.append(c)
        elif c == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _scan_parse_literal(tok: str):
    if re.match(r"^-?\d+$", tok):
        return int(tok)
    if re.match(r"^-?\d*\.\d+$", tok):
        return float(tok)
    if tok.lower() in ("true", "false"):
        return tok.lower() == "true"
    if tok.startswith("'") and tok.endswith("'"):
        return _decode_kql_string(tok)
    raise ChSqlError(f"KQL scan declare: unsupported default literal {tok!r}")


def _scan_execute(spark, stages: list[str], idx: int, params=None):
    """KQL `scan` — the ADX sequence/state-machine operator
    (learn.microsoft.com scan-operator; NOT in the reference's
    ParserKQL set, which tops out at summarize — this exceeds reference
    parity the same way join/make-series/top-nested do).

    Implemented subset, with the semantics this engine pins (and the
    `kql_scan_price_runs` oracle verifies in closed form):

    - steps hold AT MOST ONE active sequence each;
    - each record is tested highest-step-first; at step k it ADVANCES
      the step k-1 sequence if one is active (promotion moves it),
      else EXTENDS the step k sequence if active (greedy stay), else
      for k=1 starts a new sequence; advancing beats staying;
    - matched records emit immediately (output=all; last/none refuse)
      tagged with the sequence's 0-based match id when with_match_id
      is given; unmatched records drop;
    - step conditions and assignment VALUE expressions reference
      CURRENT-RECORD columns only and are evaluated JVM-side as
      precomputed columns (Catalyst, not a Python interpreter);
      assignments are `var = <expr>` (set) or `var = <expr> + var`
      (accumulate) — state-referencing conditions (s1.col) refuse.

    Execution shape: the serialized contract comes from the REQUIRED
    `sort by` stage before scan; the state machine itself is one
    applyInPandas pass over the precomputed condition/value columns —
    sequential by definition (same contract as ADX: scan consumes a
    serialized stream; partition first to scan groups in parallel)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql

    body = re.sub(r"^scan\s*", "", stages[idx], flags=re.IGNORECASE | re.DOTALL)
    hm = _SCAN_HEAD_RE.match(body.strip())
    if not hm:
        raise ChSqlError(
            "KQL scan subset: scan [with_match_id=m] [declare (v:type[=default],...)] "
            "with (step s1: cond [=> v = expr, ...]; ...)")
    mid = hm.group("mid")

    # declared state variables
    decl_order: list[str] = []
    decl_types: dict[str, str] = {}
    defaults: dict[str, object] = {}
    if hm.group("decl"):
        for item in _split_top_text(hm.group("decl"), ","):
            dm = re.match(
                r"^([A-Za-z_]\w*)\s*:\s*(\w+)\s*(?:=\s*(.+))?$", item.strip())
            if not dm:
                raise ChSqlError(f"KQL scan declare item {item!r}: want name:type[=default]")
            name, typ, dflt = dm.group(1), dm.group(2).lower(), dm.group(3)
            if typ not in _SCAN_TYPES:
                raise ChSqlError(
                    f"KQL scan declare type {typ!r}: supported {sorted(_SCAN_TYPES)}")
            decl_order.append(name)
            decl_types[name] = _SCAN_TYPES[typ]
            defaults[name] = _scan_parse_literal(dflt.strip()) if dflt else None

    # steps
    steps = []
    step_names: list[str] = []
    for st in _split_top_text(hm.group("steps"), ";"):
        sm = _SCAN_STEP_RE.match(st.strip())
        if not sm:
            raise ChSqlError(f"KQL scan step {st!r}: want step name: cond [=> assigns]")
        if sm.group("out") and sm.group("out").lower() != "all":
            raise ChSqlError("KQL scan subset supports output=all only")
        rest = sm.group("rest")
        cond_txt, _, assign_txt = rest.partition("=>")
        steps.append((sm.group("name"), cond_txt.strip(), assign_txt.strip()))
        step_names.append(sm.group("name"))
    if not steps:
        raise ChSqlError("KQL scan needs at least one step")
    forbidden = set(decl_order) | set(step_names)

    # the serialized-input contract: the nearest preceding sort stage
    sort_cols: list[str] = []
    sort_asc: list[bool] = []
    for prev in reversed(stages[:idx]):
        pm = re.match(r"^(?:sort|order)\s+by\s+(.*)$", prev.strip(),
                      re.IGNORECASE | re.DOTALL)
        if pm:
            for it in _split_top_text(pm.group(1), ","):
                im = re.match(r"^([A-Za-z_]\w*)(?:\s+(asc|desc))?$", it.strip(),
                              re.IGNORECASE)
                if not im:
                    raise ChSqlError(
                        "KQL scan serialization: the preceding sort must use "
                        f"plain columns, got {it!r}")
                sort_cols.append(im.group(1))
                sort_asc.append((im.group(2) or "asc").lower() == "asc")
            break
    if not sort_cols:
        raise ChSqlError(
            "KQL scan requires a serialized input — add `| sort by <col> asc` "
            "before scan")

    # lower conditions + assignment values to CH-SQL helper columns
    helper_exprs: list[str] = []
    assigns: list[list[tuple[str, str]]] = []  # per step: (var, form)
    for k, (sname, cond_txt, assign_txt) in enumerate(steps):
        ctoks = _tokenize(cond_txt)
        hit = sorted({t for t in ctoks if t in forbidden} |
                     {t for t in ctoks if "." in t and t.split(".")[0] in step_names})
        if hit:
            raise ChSqlError(
                f"KQL scan subset: step conditions reference current-record "
                f"columns only (state refs {hit} not supported)")
        helper_exprs.append(f"({_lower_expr(ctoks)}) AS __scan_c{k}")
        step_assigns: list[tuple[str, str]] = []
        if assign_txt:
            for alias, _lowered, raw in _named_items_raw(assign_txt):
                if alias is None or alias not in decl_order:
                    raise ChSqlError(
                        "KQL scan assignments must target declared variables")
                # detect `var = expr + var` / `var = var + expr` (accumulate)
                form, val_toks = "set", raw
                if alias in raw:
                    found = None
                    depth = 0
                    for j, tkn in enumerate(raw):
                        depth += tkn in "(["
                        depth -= tkn in ")]"
                        if tkn == "+" and depth == 0:
                            left, right = raw[:j], raw[j + 1:]
                            if left == [alias]:
                                found = right
                                break
                            if right == [alias]:
                                found = left
                                break
                    if found is None:
                        raise ChSqlError(
                            f"KQL scan subset: assignment to {alias!r} may "
                            "reference itself only as `expr + var` (accumulate)")
                    form, val_toks = "acc", found
                bad = sorted((set(val_toks) & forbidden) - {alias})
                if bad:
                    raise ChSqlError(
                        f"KQL scan subset: assignment value references state {bad}")
                helper_exprs.append(
                    f"({_lower_expr(val_toks)}) AS __scan_v{k}_{alias}")
                step_assigns.append((alias, form))
        assigns.append(step_assigns)

    prefix = " | ".join(stages[:idx])
    prefix_sql = kql_to_chsql(prefix, columns_of=spark_columns_of(spark))
    helper_sql = f"SELECT *, {', '.join(helper_exprs)} FROM ({prefix_sql})"
    df = ch_sql(spark, helper_sql, params=params)
    base_fields = [f for f in df.schema.fields if not f.name.startswith("__scan_")]
    base_cols = [f.name for f in base_fields]
    # refuse BEFORE launching the job: the serialization columns must
    # survive to scan input, and declared/match-id names must not
    # shadow input columns (both otherwise surface as opaque worker
    # errors — review-found)
    missing = [c for c in sort_cols if c not in base_cols]
    if missing:
        raise ChSqlError(
            f"KQL scan serialization columns {missing} are not present at "
            "scan input — keep the sort keys projected through to scan")
    clashes = sorted(set(decl_order + ([mid] if mid else [])) & set(base_cols))
    if clashes:
        raise ChSqlError(
            f"KQL scan declared/match-id names {clashes} collide with input "
            "columns")
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in base_fields]
        + [f"`{v}` {decl_types[v]}" for v in decl_order]
        + ([f"`{mid}` long"] if mid else [])
    )
    nsteps = len(steps)
    dflt_snapshot = dict(defaults)
    decl_snapshot = list(decl_order)
    assigns_snapshot = [list(a) for a in assigns]

    def runner(pdf):
        pdf = pdf.sort_values(sort_cols, ascending=sort_asc,
                              kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        conds = [pdf[f"__scan_c{k}"].to_numpy() for k in range(nsteps)]
        vals = {
            (k, var): pdf[f"__scan_v{k}_{var}"].to_numpy()
            for k in range(nsteps)
            for var, _form in assigns_snapshot[k]
        }
        state: list[dict | None] = [None] * nsteps
        emit_idx: list[int] = []
        emit_vars: dict[str, list] = {v: [] for v in decl_snapshot}
        emit_mid: list[int] = []
        next_mid = 0
        for i in range(n):
            seq = None
            matched = -1
            for k in range(nsteps - 1, -1, -1):
                ck = conds[k][i]
                if not (ck == True):  # noqa: E712 — None/NaN are not matches
                    continue
                if k > 0 and state[k - 1] is not None:  # advance (moves)
                    seq, state[k - 1], matched = state[k - 1], None, k
                    break
                if state[k] is not None:  # greedy stay
                    seq, matched = state[k], k
                    break
                if k == 0:  # new sequence
                    seq = {"__mid": next_mid, **dflt_snapshot}
                    next_mid += 1
                    matched = 0
                    break
            if matched < 0:
                continue
            for var, form in assigns_snapshot[matched]:
                v = vals[(matched, var)][i]
                if form == "acc":
                    prev = seq.get(var)
                    if prev is None:
                        seq[var] = v
                    elif v is not None:
                        seq[var] = prev + v
                else:
                    seq[var] = v
            state[matched] = seq
            emit_idx.append(i)
            for var in decl_snapshot:
                emit_vars[var].append(seq.get(var))
            emit_mid.append(seq["__mid"])
        out = pdf.iloc[emit_idx][base_cols].copy()
        for var in decl_snapshot:
            out[var] = emit_vars[var]
        if mid:
            out[mid] = emit_mid
        return out

    scanned = (
        df.withColumn("__scan_g", F.lit(1))
        .groupBy("__scan_g")
        .applyInPandas(runner, out_schema)
    )
    suffix = stages[idx + 1:]
    if not suffix:
        return scanned
    scanned.createOrReplaceTempView("__kql_scan_out")
    return kql_sql(spark, " | ".join(["__kql_scan_out"] + suffix), params=params)


def spark_columns_of(spark):
    """Schema resolver for kql_to_chsql: table name -> column list via
    the session catalog (temp views and registered tables), None when
    unresolvable (the transpiler then stays schema-free)."""
    def resolver(name):
        try:
            return spark.table(name).columns
        except Exception:
            return None
    return resolver


@records_errors
def kql_sql(spark, text: str, params=None):
    """Execute a KQL pipeline through the chsql shim. `getschema` is
    handled here (it needs the resolved schema, which only exists at
    runtime): the prefix pipeline is analyzed WITHOUT execution and the
    ADX schema table (ColumnName/ColumnOrdinal/DataType/ColumnType)
    comes from its plan."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.sources.catalog import local_rows

    stages = _split_pipeline(text.strip().rstrip(";"))
    for k, st in enumerate(stages):
        if re.match(r"^scan\b", st.strip(), re.IGNORECASE):
            return _scan_execute(spark, stages, k, params=params)
    if stages and stages[-1].strip().lower() == "getschema":
        prefix = " | ".join(stages[:-1])
        if not prefix:
            raise ChSqlError("KQL getschema needs a pipeline before it")
        df = ch_sql(spark, kql_to_chsql(prefix, columns_of=spark_columns_of(spark)), params=params)
        rows = []
        for i, f in enumerate(df.schema.fields):
            t = f.dataType.simpleString()
            base = t.split("(")[0]
            if base.startswith(("array", "map", "struct")):
                dn, ct = "System.Object", "dynamic"
            elif base.startswith("decimal"):
                dn, ct = "System.Data.SqlTypes.SqlDecimal", "decimal"
            else:
                dn, ct = _KQL_TYPES.get(base, ("System.Object", "dynamic"))
            rows.append((f.name, i, dn, ct))
        return local_rows(spark, rows, "ColumnName string, ColumnOrdinal int, "
                                       "DataType string, ColumnType string")
    # `evaluate pivot(col, agg(val))` also needs runtime state: ADX
    # auto-discovers the pivot columns from the DATA, so the prefix
    # runs once for the distinct key set (capped — a pivot into
    # thousands of columns is a modeling error), then the pipeline
    # re-plans as a Spark PIVOT.
    # `evaluate bag_unpack(col)`: ADX unpacks a dynamic property bag
    # into one column per key — the key SET lives in the data, so the
    # prefix runs once for the distinct keys (capped), then each key
    # becomes a JSON extraction column (string-typed subset; ADX's
    # type inference is a documented gap).
    for k, st in enumerate(stages):
        bm = re.match(r"^\s*evaluate\s+bag_unpack\s*\(\s*([A-Za-z_]\w*)\s*\)\s*$",
                      st, re.IGNORECASE)
        if bm:
            if k != len(stages) - 1:
                raise ChSqlError(
                    "KQL evaluate bag_unpack subset must be the last stage")
            col = bm.group(1)
            prefix_sql = kql_to_chsql(" | ".join(stages[:k]), columns_of=spark_columns_of(spark))
            keys = [
                r[0]
                for r in spark.sql(
                    f"SELECT DISTINCT explode(json_object_keys({col})) AS k "
                    f"FROM ({prefix_sql}) ORDER BY k LIMIT 201"
                ).collect()
            ]
            if len(keys) > 200:
                raise ChSqlError(
                    "KQL evaluate bag_unpack: more than 200 distinct keys")
            cols = ", ".join(
                f"get_json_object({col}, '$.{kk}') AS `{kk}`" for kk in keys
            )
            return spark.sql(
                f"SELECT * EXCEPT ({col}){', ' if cols else ''}{cols} "
                f"FROM ({prefix_sql})"
            )
    # `evaluate narrow()`: ADX transposes the input into
    # (Row, Column, Value-as-string). Row ordinals demand a
    # deterministic order, so the subset REQUIRES an explicit
    # `order by`/`sort by` immediately before it.
    for k, st in enumerate(stages):
        if not re.match(r"^\s*evaluate\s+narrow\s*\(\s*\)\s*$", st,
                        re.IGNORECASE):
            continue
        if k != len(stages) - 1:
            raise ChSqlError("KQL evaluate narrow subset must be the last stage")
        prev = stages[k - 1].strip() if k > 0 else ""
        om = re.match(r"^(?:order|sort)\s+by\s+(.+)$", prev,
                      re.IGNORECASE | re.DOTALL)
        if not om:
            raise ChSqlError(
                "KQL evaluate narrow needs an explicit `order by` / "
                "`sort by` immediately before it (row ordinals demand "
                "a deterministic order)")
        keys = []
        for item in om.group(1).split(","):
            im = re.match(r"^\s*([A-Za-z_]\w*)\s*(asc|desc)?\s*$", item,
                          re.IGNORECASE)
            if not im:
                raise ChSqlError(
                    f"KQL evaluate narrow order key {item!r}: subset "
                    "takes bare columns [asc|desc]")
            d = (im.group(2) or "asc").upper()
            keys.append(f"{im.group(1)} {d} NULLS "
                        f"{'LAST' if d == 'ASC' else 'FIRST'}")
        prefix_sql = kql_to_chsql(" | ".join(stages[:k]),
                                  columns_of=spark_columns_of(spark))
        cols = spark.sql(f"SELECT * FROM ({prefix_sql}) LIMIT 0").columns
        stack_args = ", ".join(
            f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
        return spark.sql(
            f"SELECT Row, stack({len(cols)}, {stack_args}) AS "
            f"(Column, Value) FROM (SELECT row_number() OVER "
            f"(ORDER BY {', '.join(keys)}) - 1 AS Row, * "
            f"FROM ({prefix_sql}))"
        )
    ev = None
    for k, st in enumerate(stages):
        if re.match(r"^\s*evaluate\s+pivot\s*\(", st, re.IGNORECASE):
            ev = k
            break
    if ev is not None:
        if ev != len(stages) - 1:
            raise ChSqlError(
                "KQL evaluate pivot subset must be the last stage")
        em = re.match(
            r"^\s*evaluate\s+pivot\s*\(\s*([A-Za-z_]\w*)\s*,\s*"
            r"([A-Za-z_]\w*)\s*\(\s*([A-Za-z_]\w*)\s*\)\s*\)\s*$",
            stages[ev], re.IGNORECASE,
        )
        if not em:
            raise ChSqlError(
                "KQL evaluate pivot subset: pivot(col, agg(valueCol))")
        pcol, aggfn, vcol = em.group(1), em.group(2).lower(), em.group(3)
        aggfn = {"avg": "avg", "sum": "sum", "count": "count",
                 "min": "min", "max": "max"}.get(aggfn)
        if aggfn is None:
            raise ChSqlError(
                "KQL evaluate pivot subset aggregates: sum/count/min/max/avg")
        prefix_sql = kql_to_chsql(" | ".join(stages[:ev]), columns_of=spark_columns_of(spark))
        keys = [
            r[0]
            for r in spark.sql(
                f"SELECT DISTINCT {pcol} FROM ({prefix_sql}) "
                f"ORDER BY {pcol} LIMIT 201"
            ).collect()
        ]
        if len(keys) > 200:
            raise ChSqlError(
                "KQL evaluate pivot: more than 200 distinct pivot values")
        in_list = ", ".join(
            "NULL" if k is None else f"'{str(k).replace(chr(39), chr(39)*2)}'"
            for k in keys
        )
        return spark.sql(
            f"SELECT * FROM ({prefix_sql}) "
            f"PIVOT ({aggfn}({vcol}) FOR {pcol} IN ({in_list}))"
        )
    return ch_sql(spark, kql_to_chsql(text, columns_of=spark_columns_of(spark)), params=params)
