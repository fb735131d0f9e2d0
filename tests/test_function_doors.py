"""One function definition for both doors: a CH_FUNCTIONS name that
Spark does not resolve reaches ch_sql as its Column door's render, at
transpile time.

The parity test covers every name that the SQL door used to define a
second time with its own rename (the 162 of SHARED). One VALUES view
holds typed probe columns (a sample row, a NULL row, an edge row with
empty strings and arrays, and one more). Each door runs ONE select
with one output column per call, and the two answers must agree in
value and in Spark type."""

import datetime

import pytest
from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark import chsql
from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql, ch_sql_to_spark
from clickhouse_25_5_3_75_stable_spark.functions.dialect import CH_FUNCTIONS, ch

# every name both CH_FUNCTIONS and the SQL door's rename table defined
SHARED = frozenset("""
adddays addhours addminutes addmonths addseconds addweeks addyears arrayconcat
arraydistinct arrayenumerate arrayflatten arrayfold arrayintersect arraymax arraymin
arraypopback arraypopfront arraypushback arraypushfront arrayresize arrayreverse
arrayreversesort arrayshuffle arrayslice arraysort arraystringconcat arrayuniq
arraywithconstant arrayzip assumenotnull base64decode base64encode basename bitand
bitcount bithammingdistance bitnot bitor bitshiftleft bitshiftright bittest bitxor cbrt
concatwithseparator countequal datediff divide empty exp10 exp2 extract extractall
formatdatetime fromunixtimestamp has hasall hasany hilbertdecode hilbertencode ifnull
indexof intdiv intexp10 intexp2 isnotnull isnull jsonextractbool jsonextractfloat
jsonextractint jsonextractkeys jsonextractstring jsonhas jsonlength lcase leftpad
leftpadutf8 length lengthutf8 log lowerutf8 mapfilter match materialize mid minus
modulo mortondecode mortonencode multiif multiply negate notempty now parsedatetime
parsedatetimeornull plus position positioncaseinsensitive positioncaseinsensitiveutf8
positionutf8 rand range replaceall replaceone replaceregexpall replaceregexpone
reverseutf8 rightpad rightpadutf8 simplejsonextractfloat simplejsonextractint
simplejsonextractstring splitbychar splitbystring substr substringutf8 subtractdays
subtracthours subtractminutes subtractmonths subtractseconds subtractweeks
subtractyears today todayofmonth todayofweek todayofyear tohour tolowcardinality
tominute tomonday tomonth tonullable toquarter tosecond tostartofday
tostartoffifteenminutes tostartoffiveminutes tostartofhour tostartofinterval
tostartofminute tostartofmonth tostartofquarter tostartoftenminutes tostartofweek
tostartofyear tounixtimestamp touuid toyear toyyyymm toyyyymmdd trimboth trimleft
trimright tuple tupleelement ucase upperutf8 visitparamextractfloat visitparamextractint
visitparamextractstring yesterday
""".split())

# probe columns: (type, [sample, NULL, edge, more])
COLUMNS = {
    "s": ("string", ["'Hello World'", "NULL", "''", "'a.b.c'"]),
    "n": ("string", ["'LL'", "NULL", "''", "'.'"]),
    "p": ("string", ["'/usr/local/x.txt'", "NULL", "''", "'C:\\\\dir\\\\f'"]),
    "j": ("string", ["'{\"a\":1,\"b\":\"x\",\"c\":true,\"f\":2.5,\"l\":[1,2,3]}'", "NULL",
                     "'{}'", "'[4,5]'"]),
    "u": ("string", ["'61F0C404-5CB3-11E7-907B-A6006AD3DBA0'", "NULL",
                     "'00000000-0000-0000-0000-000000000000'",
                     "'61f0c404-5cb3-11e7-907b-a6006ad3dba0'"]),
    "a": ("array<bigint>", ["array(3, 1, 2, 1)", "NULL", "array()", "array(5, NULL, 2)"]),
    "b": ("array<bigint>", ["array(1, 2)", "NULL", "array()", "array(2)"]),
    "i": ("bigint", ["5", "NULL", "-7", "0"]),
    "k": ("bigint", ["2", "NULL", "3", "1"]),
    "x": ("double", ["2.5", "NULL", "-1.5", "0.0"]),
    "d": ("date", ["DATE'2024-02-29'", "NULL", "DATE'1970-01-01'", "DATE'2024-03-03'"]),
    "t": ("timestamp", ["TIMESTAMP'2024-02-29 13:47:31'", "NULL",
                        "TIMESTAMP'1999-12-31 23:59:59'", "TIMESTAMP'2024-03-03 00:07:00'"]),
    "m": ("map<string,bigint>", ["map('a', 1, 'b', 2)", "NULL", "map()", "map('c', 3)"]),
}


class L:
    """A literal argument: a Python value for ch(), its SQL literal for ch_sql."""

    def __init__(self, v):
        self.v = v

    def sql(self) -> str:
        return "'" + self.v.replace("'", "\\'") + "'" if isinstance(self.v, str) else repr(self.v)


class Two:
    """An argument the doors spell differently (a lambda, an INTERVAL)."""

    def __init__(self, sql: str, column):
        self.text, self.v = sql, column

    def sql(self) -> str:
        return self.text


# a str argument is a column expression, the same text for both doors
PROBES = {
    "adddays": [("d", "k"), ("t", "k")], "addhours": [("t", "k")],
    "addminutes": [("t", "k")], "addmonths": [("d", "k")],
    "addseconds": [("t", "k")], "addweeks": [("d", "k")], "addyears": [("d", "k")],
    "subtractdays": [("d", "k")], "subtracthours": [("t", "k")],
    "subtractminutes": [("t", "k")], "subtractmonths": [("d", "k")],
    "subtractseconds": [("t", "k")], "subtractweeks": [("d", "k")],
    "subtractyears": [("d", "k")],
    "arrayconcat": [("a", "b")], "arraydistinct": [("a",)], "arrayenumerate": [("a",)],
    "arrayflatten": [("array(a, b)",)],
    "arrayfold": [(Two("(acc, v) -> acc + v", lambda acc, v: acc + v), "a", "i")],
    "arrayintersect": [("a", "b")], "arraymax": [("a",)], "arraymin": [("a",)],
    "arraypopback": [("a",)], "arraypopfront": [("a",)],
    "arraypushback": [("a", "i")], "arraypushfront": [("a", "i")],
    "arrayresize": [("a", "k"), ("a", "k", "i")], "arrayreverse": [("a",)],
    "arrayreversesort": [("a",)], "arrayshuffle": [("a",)],
    "arrayslice": [("a", "k"), ("a", "k", "k")], "arraysort": [("a",)],
    "arraystringconcat": [("array(s, n)",), ("array(s, n)", L("-"))],
    "arrayuniq": [("a",)], "arraywithconstant": [("k", "s")], "arrayzip": [("a", "b")],
    "assumenotnull": [("i",)], "base64decode": [("base64(s)",)], "base64encode": [("s",)],
    "basename": [("p",)], "bitand": [("i", "k")], "bitcount": [("i",)],
    "bithammingdistance": [("i", "k")], "bitnot": [("i",)], "bitor": [("i", "k")],
    "bitshiftleft": [("i", "k"), ("i", L(3))], "bitshiftright": [("i", "k")],
    "bittest": [("i", "k")], "bitxor": [("i", "k")], "cbrt": [("x",)],
    "concatwithseparator": [(L("-"), "s", "n")], "countequal": [("a", "k")],
    "datediff": [(L("day"), "d", "t")], "divide": [("i", "k")],
    "exp10": [("x",)], "exp2": [("x",)],
    "extract": [("s", L("o (W)o")), ("s", L("o.W"))],
    "extractall": [("s", L("[a-z]")), ("s", L("l(.)"))],
    "formatdatetime": [("t", L("%Y-%m-%d %H:%i"))],
    "fromunixtimestamp": [("i",)], "has": [("a", "k")], "hasall": [("a", "b")],
    "hasany": [("a", "b")], "hilbertencode": [("k", "k")], "hilbertdecode": [(L(2), "k")],
    "mortonencode": [("k", "k")], "mortondecode": [(L(2), "k")],
    "ifnull": [("i", "k")], "indexof": [("a", "k")], "intdiv": [("i", "k")],
    "intexp10": [("k",)], "intexp2": [("k",)], "isnotnull": [("i",)], "isnull": [("i",)],
    "jsonextractbool": [("j", L("c"))], "jsonextractfloat": [("j", L("f"))],
    "jsonextractint": [("j", L("a")), ("j", L("l"), L(2))], "jsonextractkeys": [("j",)],
    "jsonextractstring": [("j", L("b"))], "jsonhas": [("j", L("a"))],
    "jsonlength": [("j",), ("j", L("l"))],
    "lcase": [("s",)], "leftpad": [("s", "k", "n")], "leftpadutf8": [("s", "k")],
    "lengthutf8": [("s",)], "log": [("x",)], "lowerutf8": [("s",)],
    "mapfilter": [(Two("(key, v) -> v > 1", lambda key, v: v > 1), "m")],
    "match": [("s", L("^H.*d$"))], "materialize": [("i",)],
    "mid": [("s", "k")], "minus": [("i", "k")], "modulo": [("i", "k")],
    "multiif": [("i > 3", L("big"), "i < 0", L("neg"), L("mid"))],
    "multiply": [("i", "k")], "negate": [("i",)], "now": [()],
    "parsedatetime": [(L("2024-02-29 13:47"), L("%Y-%m-%d %H:%i"))],
    "parsedatetimeornull": [("s", L("%Y-%m-%d %H:%i"))],
    "plus": [("i", "k")], "position": [("s", "n")],
    # a column needle; a regex metacharacter in a separator
    "positioncaseinsensitive": [("s", "n"), ("s", L("WOR"))],
    "positioncaseinsensitiveutf8": [("s", "n")], "positionutf8": [("s", "n")],
    "rand": [()], "range": [("k",), ("i", "k")],
    "replaceall": [("s", "n", L("_"))],
    "replaceone": [("s", "n", L("_"))],
    "replaceregexpall": [("s", L("[lo]"), L("_"))],
    "replaceregexpone": [("s", L("[lo]"), L("_"))], "reverseutf8": [("s",)],
    "rightpad": [("s", "k")], "rightpadutf8": [("s", "k", "n")],
    "simplejsonextractfloat": [("j", L("f"))], "simplejsonextractint": [("j", L("a"))],
    "simplejsonextractstring": [("j", L("b"))],
    "splitbychar": [(L("."), "s")], "splitbystring": [(L("l"), "s")],
    "substr": [("s", "k", "k")], "substringutf8": [("s", "k", "k")],
    "today": [()], "yesterday": [()],
    "todayofmonth": [("d",)], "todayofweek": [("t",)], "todayofyear": [("d",)],
    "tohour": [("t",)], "tolowcardinality": [("s",)], "tominute": [("t",)],
    "tomonday": [("t",)], "tomonth": [("t",)], "tonullable": [("s",)],
    "toquarter": [("d",)], "tosecond": [("t",)], "tostartofday": [("d",)],
    "tostartoffifteenminutes": [("t",)], "tostartoffiveminutes": [("t",)],
    "tostartofhour": [("t",)],
    "tostartofinterval": [("t", Two("INTERVAL 15 MINUTE", 900))],
    "tostartofminute": [("t",)], "tostartofmonth": [("t",)],
    "tostartofquarter": [("t",)], "tostartoftenminutes": [("t",)],
    "tostartofweek": [("d",), ("t", L(1))], "tostartofyear": [("d",)],
    "tounixtimestamp": [("t",)], "touuid": [("u",)], "toyear": [("d",)],
    "toyyyymm": [("t",)], "toyyyymmdd": [("d",)],
    "trimboth": [("concat(' ', s, ' ')",)], "trimleft": [("concat(' ', s, ' ')",)],
    "trimright": [("concat(' ', s, ' ')",)], "ucase": [("s",)], "upperutf8": [("s",)],
    "visitparamextractfloat": [("j", L("f"))], "visitparamextractint": [("j", L("a"))],
    "visitparamextractstring": [("j", L("b"))],
    "tuple": [("s", "i")],
    "tupleelement": [("named_struct('_1', s, '_2', i)", L(2)),
                     ("named_struct('_1', s, '_2', i)", L("_1"))],
}

# values differ run to run: compared by type
VOLATILE = {"rand", "now", "arrayshuffle"}

# the SQL door keeps its own rewrite (reason at the chsql._RENAMES
# entry); checked against the reference's answers, one per probe row
SQL_ONLY = {
    "length(s)": [11, None, 0, 5],
    "length(splitByChar('.', s))": [1, None, 1, 3],
    "empty(s)": [False, None, True, False],
    "empty(arrayFilter(v -> v > 2, a))": [False, None, True, False],
    "notEmpty(arrayDistinct(a))": [True, None, False, True],
}


def _norm(v):
    if isinstance(v, tuple):  # Row
        return tuple(_norm(x) for x in v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


@pytest.fixture(scope="module")
def probe_view(spark):
    rows = [
        "(" + ", ".join([str(r)] + [f"CAST({vals[r]} AS {t})" for t, vals in COLUMNS.values()]) + ")"
        for r in range(4)
    ]
    spark.sql(f"SELECT * FROM VALUES {', '.join(rows)} AS t(rid, {', '.join(COLUMNS)})"
              ).createOrReplaceTempView("door_probe")
    return "door_probe"


def test_probes_cover_the_shared_names():
    sql_only = {e.split("(", 1)[0].lower() for e in SQL_ONLY}
    assert set(PROBES) | sql_only == SHARED
    assert SHARED <= set(CH_FUNCTIONS)
    assert len(chsql._RENAMES) <= 60


BATCHES = 4


@pytest.mark.parametrize("batch", range(BATCHES))
def test_both_doors_agree(spark, probe_view, batch):
    calls = [(name, call) for name, cs in list(PROBES.items())[batch::BATCHES]
             for call in cs]

    def col(a):
        if isinstance(a, (L, Two)):
            return a.v
        return F.col(a) if a.isidentifier() else F.expr(a)

    by_column = spark.table(probe_view).select(
        "rid", *[ch(name, *[col(a) for a in call]).alias(f"r{k}")
                 for k, (name, call) in enumerate(calls)])
    by_sql = ch_sql(spark, "SELECT rid, " + ", ".join(
        f"{name}({', '.join(a if isinstance(a, str) else a.sql() for a in call)}) AS r{k}"
        for k, (name, call) in enumerate(calls)) + f" FROM {probe_view}")
    got_col = sorted(by_column.collect())
    got_sql = sorted(by_sql.collect())

    bad = []
    for k, (name, call) in enumerate(calls):
        c = f"r{k}"
        if (by_column.schema[c].dataType.simpleString()
                != by_sql.schema[c].dataType.simpleString()):
            bad.append((name, call, by_column.schema[c].dataType, by_sql.schema[c].dataType))
        if name not in VOLATILE:
            vc, vs = [_norm(r[c]) for r in got_col], [_norm(r[c]) for r in got_sql]
            if vc != vs:
                bad.append((name, call, vc, vs))
    assert not bad

    # the Column-door defects the parity probe found, fixed
    fixed = {
        ("positioncaseinsensitive", ("s", "n")): [3, None, 1, 2],
        ("splitbychar", PROBES["splitbychar"][0]): [["Hello World"], None, [""], ["a", "b", "c"]],
        ("arraypopback", ("a",)): [[3, 1, 2], None, [], [5, None]],
        ("arraypopfront", ("a",)): [[1, 2, 1], None, [], [None, 2]],
        ("arrayenumerate", ("a",)): [[1, 2, 3, 4], None, [], [1, 2, 3]],
        ("touuid", ("u",)): ["61f0c404-5cb3-11e7-907b-a6006ad3dba0", None,
                             "00000000-0000-0000-0000-000000000000",
                             "61f0c404-5cb3-11e7-907b-a6006ad3dba0"],
        ("tostartofmonth", ("t",)): [datetime.date(2024, 2, 1), None,
                                     datetime.date(1999, 12, 1), datetime.date(2024, 3, 1)],
    }
    # JSONExtract*: the type's default for a missing key ('{}', and 'a'
    # of '[4,5]'), NULL for a NULL document
    for name, want in [
        ("jsonextractint", [1, None, 0, 0]), ("visitparamextractint", [1, None, 0, 0]),
        ("simplejsonextractint", [1, None, 0, 0]), ("jsonextractfloat", [2.5, None, 0.0, 0.0]),
        ("visitparamextractfloat", [2.5, None, 0.0, 0.0]),
        ("jsonextractbool", [True, None, False, False]),
        ("jsonextractstring", ["x", None, "", ""]),
        ("visitparamextractstring", ["x", None, "", ""]),
        ("simplejsonextractstring", ["x", None, "", ""]),
    ]:
        fixed[(name, PROBES[name][0])] = want
    fixed[("jsonextractint", PROBES["jsonextractint"][1])] = [2, None, 0, 0]
    for k, call in enumerate(calls):
        if call in fixed:
            assert [r[f"r{k}"] for r in got_col] == fixed[call], call


def test_tuple_element_of_a_tuple_agrees_across_doors(spark, probe_view):
    """Both doors name a tuple's fields _1.._N, so tupleElement(t, N)
    reads the same field of a tuple either door built."""
    by_column = spark.table(probe_view).select(
        "rid", ch("tupleElement", ch("tuple", F.col("s"), F.col("i")), 2).alias("r"))
    by_sql = ch_sql(spark, f"SELECT rid, tupleElement(tuple(s, i), 2) AS r FROM {probe_view}")
    want = [5, None, -7, 0]
    assert [r.r for r in sorted(by_column.collect())] == want
    assert [r.r for r in sorted(by_sql.collect())] == want
    assert by_column.schema["r"].dataType == by_sql.schema["r"].dataType


def test_sql_only_rewrites(spark, probe_view):
    row = sorted(ch_sql(spark, "SELECT rid, " + ", ".join(
        f"{e} AS r{k}" for k, e in enumerate(SQL_ONLY)) + f" FROM {probe_view}").collect())
    for k, (e, want) in enumerate(SQL_ONLY.items()):
        assert [_norm(r[f"r{k}"]) for r in row] == want, e


def test_registry_call_renders_at_transpile_time(spark, monkeypatch):
    """A registry name Spark does not know is its Column render in the
    transpiled text, so the statement is analysed once, never retried."""
    sql = "SELECT bitRotateLeft(number, 1) AS r FROM numbers(3)"
    assert "bitrotateleft" not in ch_sql_to_spark(sql).lower()
    ran, failed = [], []
    real_sql = spark.sql

    def counting_sql(text, *a, **kw):
        ran.append(text)
        try:
            return real_sql(text, *a, **kw)
        except Exception:
            failed.append(text)
            raise

    monkeypatch.setattr(spark, "sql", counting_sql)
    assert [r.r for r in ch_sql(spark, sql).collect()] == [0, 2, 4]
    assert len(ran) == 1 and not failed


def test_placeholder_in_a_literal_is_not_a_use(spark):
    """A render that quotes an argument (str() of a Column the function
    wanted as a Python value) falls back to the literal shape."""
    row = ch_sql(spark, "SELECT cutURLParameter('http://x.com/?a=1&b=2', 'a') AS u,"
                        " visitParamExtractBool('{\"a\":true}', 'a') AS b").collect()[0]
    assert (row.u, row.b) == ("http://x.com/?b=2", True)


def test_to_uuid_is_canonical_or_raises(spark):
    row = ch_sql(spark, "SELECT toUUID('61F0C404-5CB3-11E7-907B-A6006AD3DBA0') AS u").collect()[0]
    assert row.u == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    with pytest.raises(Exception, match="not a UUID"):
        ch_sql(spark, "SELECT toUUID('zz') AS u").collect()
    with pytest.raises(ChSqlError, match="DataFrame"):
        ch_sql(spark, "SELECT arrayStringConcat(array('a'), concat('-', 'x')) AS s")
