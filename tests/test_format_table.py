"""One format table: every door that reads or writes a ClickHouse
format resolves the name in `sources/formats.py`, and system.formats
is generated from it, so a row the table offers to the SQL doors works
there."""

import io
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
from clickhouse_25_5_3_75_stable_spark.sources import formats
from clickhouse_25_5_3_75_stable_spark.sources.system_tables import system_table

QUERY = "SELECT CAST(1 AS BIGINT) AS k, 'a' AS s UNION ALL SELECT CAST(2 AS BIGINT), 'b'"
WANT = {("1", "a"), ("2", "b")}
# writers with a column contract
QUERIES = {
    "RawBLOB": ("SELECT 'a' AS s", {("a", None)}),
    "Prometheus": ("SELECT 'up' AS name, CAST(1 AS DOUBLE) AS value", None),
}
# what an output-only format prints for QUERY
PRINTS = {
    "Pretty": "k | s\n--+--\n1 | a\n2 | b\n",
    "Vertical": "Row 1:\n──────\nk: 1\ns: a\n\nRow 2:\n──────\nk: 2\ns: b\n",
    "Markdown": "| k | s |\n|:-:|:-:|\n| 1 | a |\n| 2 | b |\n",
    "SQLInsert": "INSERT INTO table (k, s) VALUES (1, 'a'), (2, 'b');\n",
    "Null": "",
    "Prometheus": "up 1.0\n",
}


def _run(spark, data_dir, sql) -> str:
    out = io.StringIO()
    assert run_local(sql, data_dir, spark=spark, out=out) == 0
    return out.getvalue()


def test_every_sql_format_prints_and_reads_back(spark, tmp_path):
    """Each system.formats row with is_output=1 and no exclusion_reason
    prints through FORMAT (text) or INTO OUTFILE (binary); an input
    format reads the output back through the INFILE reader and, when
    it describes its own schema, through file()."""
    data = str(tmp_path)
    reads, printed = [], {}
    for row in system_table(spark, "formats").collect():
        if not row.is_output or row.exclusion_reason is not None:
            continue
        name, f = row.name, formats.lookup(row.name)
        query, want = QUERIES.get(f.names[0], (QUERY, WANT))
        path = str(tmp_path / f"out_{name}")
        if f.binary:
            _run(spark, data, f"{query} INTO OUTFILE '{path}' FORMAT {name}")
        else:
            text = printed[name] = _run(spark, data, f"{query} FORMAT {name}")
            if name != f.names[0]:  # an alias prints what its format prints
                assert text == printed[f.names[0]], name
                continue
            if name in PRINTS:
                assert text == PRINTS[name], name
            with open(path, "w") as fh:
                fh.write(text)
        if not row.is_input:
            continue
        doors = [("INFILE", formats.read(spark, name, path, "k bigint, s string", sql=True))]
        if f.takes is None:
            doors.append(("file", ch_sql(spark, f"SELECT * FROM file('{path}', '{name}')")))
        for door, df in doors:
            cells = [F.col(c).cast("string") for c in df.columns] + [F.lit(None).cast("string")]
            reads.append((name, door, want, df.select(
                F.lit(name).alias("f"), F.lit(door).alias("door"),
                cells[0].alias("c0"), cells[1].alias("c1"))))
    union = reads[0][3]
    for *_, df in reads[1:]:
        union = union.unionByName(df)
    got: dict = {}
    for r in union.collect():  # one job for every read-back
        got.setdefault((r.f, r.door), set()).add((r.c0, r.c1))
    assert {(n, d): w for n, d, w, _ in reads} == got
    assert {n for n, *_ in reads} >= {"Parquet", "Avro", "Arrow", "RowBinary", "Native",
                                      "BSONEachRow", "MsgPack", "TabSeparatedWithNames"}
    assert {"TSV", "TSVWithNames", "JSON", "NDJSON", "PrettyCompact"} <= set(printed)


def test_a_name_never_falls_back_to_tsv(spark, tmp_path):
    """The names the front door used to print as TabSeparated now print
    their own format or raise; an unknown name is UNKNOWN_FORMAT; a
    binary format asks for INTO OUTFILE."""
    data = str(tmp_path)
    tsv = _run(spark, data, f"{QUERY} FORMAT TabSeparated")
    for name in ("Markdown", "Vertical", "TSKV", "JSONCompactEachRow", "XML",
                 "SQLInsert", "Null", "TSVWithNames"):
        try:
            assert _run(spark, data, f"{QUERY} FORMAT {name}") != tsv, name
        except ValueError as e:
            assert name in str(e)
    with pytest.raises(ValueError, match="Unknown format NoSuchFormat"):
        _run(spark, data, f"{QUERY} FORMAT NoSuchFormat")
    with pytest.raises(ValueError, match="INTO OUTFILE"):
        _run(spark, data, f"{QUERY} FORMAT Avro")


def test_insert_reads_tab_separated(spark, tmp_path):
    """INSERT ... FROM INFILE and INSERT ... FORMAT read TabSeparated
    like every other table format."""
    data = str(tmp_path)
    _run(spark, data, "CREATE TABLE tt (k Int64, s String) ENGINE = MergeTree ORDER BY k")
    (tmp_path / "in.tsv").write_text("1\ta\n2\tb\n")
    _run(spark, data, f"INSERT INTO tt FROM INFILE '{tmp_path / 'in.tsv'}' FORMAT TSV")
    _run(spark, data, "INSERT INTO tt FORMAT TabSeparatedWithNames\nk\ts\n3\tc")
    assert _run(spark, data, "SELECT k, s FROM tt ORDER BY k FORMAT CSV").splitlines() == [
        "1,a", "2,b", "3,c"]


def test_text_formats_import_no_codec():
    """A fresh interpreter that imports the table and prints
    TabSeparated and JSONEachRow loads no codec module and no pyarrow
    or pandas (numpy comes with pyspark itself)."""
    code = (
        "import io, sys\n"
        "from clickhouse_25_5_3_75_stable_spark.__main__ import _emit\n"
        "for f in ('TabSeparated', 'JSONEachRow', 'CSVWithNames', 'Pretty'):\n"
        "    _emit([(1, 'a')], ['k', 's'], f, io.StringIO())\n"
        "mods = ('avro_fmt', 'bson_fmt', 'msgpack_fmt', 'capnproto_fmt', 'rowbinary',\n"
        "        'formats_extra', 'formats_longtail', 'template_fmt')\n"
        "pkg = 'clickhouse_25_5_3_75_stable_spark.sources.'\n"
        "print(sorted(m for m in sys.modules if m in ('pyarrow', 'pandas')\n"
        "             or m in {pkg + x for x in mods}))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         check=True).stdout
    assert out.strip() == "[]"
