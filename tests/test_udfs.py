"""The Python-UDF table (functions/udfs.py): every row answers the same
through ch() and through ch_sql text, NULL included.

One VALUES view holds one column per argument of every row: a valid
sample in the first row, NULL in the second. Each door runs ONE select
over it, one output column per row, so the whole table costs two
queries."""

import pytest
from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark.functions import encodings, s2, udfs

_O, _D = 599686042433355775, 599686043507097599  # cellsToDirectedEdge doc anchor
_EDGE = 1248204388774707199
_H9 = 0x8928308280FFFFF
_K16, _IV = "'0123456789abcdef'", "'fedcba9876543210'"


def _i64(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


def _s2(lon: float, lat: float) -> str:
    return str(_i64(s2.geo_to_s2_py(lon, lat)))


def _v(sql: str, typ: str):
    """A column argument: its SQL literal and column type."""
    return (sql, typ)


def _ids(*ids):
    return [_v(str(i), "bigint") for i in ids]


def _str(*vals):
    return [_v("'" + v + "'", "string") for v in vals]


# every argument is a column (_v) or a literal-only Python value
# (geohash precision, curve dimension count)
SAMPLES = {
    "geohashEncode": [_v("10.40744", "double"), _v("57.64911", "double"), 6],
    "geohashDecode": _str("u4pruydqqvj"),
    "geohashesInBox": [_v("10.3", "double"), _v("57.5", "double"),
                       _v("10.5", "double"), _v("57.7", "double"), 4],
    "jaroSimilarity": _str("hello", "hallo"),
    "jaroWinklerSimilarity": _str("hello", "hallo"),
    "geoToS2": [_v("37.79506683", "double"), _v("55.71290588", "double")],
    "s2ToGeo": _ids(4704772434919038107),
    "s2GetNeighbors": _ids(5074766849661468672),
    # 9926595209846587392 is past 2**63: its BIGINT bit pattern
    "s2CellsIntersect": _ids(_i64(9926595209846587392), _i64(9926594385212866560)),
    "s2CapContains": [*_ids(1157339245694594829), _v("1.0", "double"),
                      *_ids(1157347770437378819)],
    "s2CapUnion": [*_ids(1157339245694594829), _v("1.0", "double"),
                   *_ids(1157347770437378819), _v("10.0", "double")],
    "s2RectAdd": [_v(_s2(2, 2), "bigint"), _v(_s2(10, 10), "bigint"),
                  _v(_s2(20, 20), "bigint")],
    "s2RectContains": [_v(_s2(2, 2), "bigint"), _v(_s2(10, 10), "bigint"),
                       _v(_s2(5, 5), "bigint")],
    "s2RectUnion": [_v(_s2(2, 2), "bigint"), _v(_s2(10, 10), "bigint"),
                    _v(_s2(5, 5), "bigint"), _v(_s2(20, 20), "bigint")],
    "s2RectIntersection": [_v(_s2(2, 2), "bigint"), _v(_s2(10, 10), "bigint"),
                           _v(_s2(5, 5), "bigint"), _v(_s2(20, 20), "bigint")],
    "geoToH3": [_v("37.7752702151959", "double"), _v("-122.418307270836", "double"),
                _v("9", "int")],
    "h3ToGeo": _ids(_H9),
    "h3ToGeoBoundary": _ids(_H9),
    "h3kRing": [*_ids(_H9), _v("1", "int")],
    "h3HexRing": [*_ids(_H9), _v("1", "int")],
    "h3Distance": _ids(_H9, 0x8928308280BFFFF),
    "h3IndexesAreNeighbors": _ids(_H9, 0x8928308280BFFFF),
    "h3GetFaces": _ids(_H9),
    "h3CellAreaM2": _ids(_H9),
    "h3CellAreaRads2": _ids(_H9),
    "h3PointDistM": [_v(x, "double") for x in ("55.75", "37.6", "59.93", "30.3")],
    "h3PointDistKm": [_v(x, "double") for x in ("55.75", "37.6", "59.93", "30.3")],
    "h3PointDistRads": [_v(x, "double") for x in ("55.75", "37.6", "59.93", "30.3")],
    "h3HexAreaM2": [_v("5", "int")],
    "h3HexAreaKm2": [_v("5", "int")],
    "h3GetUnidirectionalEdge": _ids(_O, _D),
    "h3UnidirectionalEdgeIsValid": _ids(_EDGE),
    "h3GetOriginIndexFromUnidirectionalEdge": _ids(_EDGE),
    "h3GetDestinationIndexFromUnidirectionalEdge": _ids(_EDGE),
    "h3GetIndexesFromUnidirectionalEdge": _ids(_EDGE),
    "h3GetUnidirectionalEdgesFromHexagon": _ids(_O),
    "h3GetUnidirectionalEdgeBoundary": _ids(_EDGE),
    "h3Line": _ids(_O, _D),
    "h3ExactEdgeLengthRads": _ids(_EDGE),
    "h3ExactEdgeLengthKm": _ids(_EDGE),
    "h3ExactEdgeLengthM": _ids(_EDGE),
    "h3ToChildren": [*_ids(_H9), _v("10", "int")],
    "base58Encode": _str("hello"),
    "base58Decode": _str("Cn8eVZg"),
    "tryBase58Decode": _str("0OIl"),
    "base32Encode": _str("hi"),
    "base32Decode": _str("NBUQ===="),
    "tryBase32Decode": _str("!!"),
    "CRC32IEEE": _str("abc"),
    "CRC64": _str("abc"),
    "SHA512_256": _str("abc"),
    "RIPEMD160": _str("abc"),
    "keccak256": _str("abc"),
    "MD4": _str("abc"),
    "BLAKE3": _str("abc"),
    "normalizeUTF8NFC": _str("café"),
    "normalizeUTF8NFD": _str("café"),
    "normalizeUTF8NFKC": _str("ﬁ²"),
    "normalizeUTF8NFKD": _str("ﬁ²"),
    "punycodeEncode": _str("münchen"),
    "punycodeDecode": _str("mnchen-3ya"),
    "tryPunycodeDecode": _str("mnchen-3ya"),
    "idnaEncode": _str("münchen.de"),
    "tryIdnaEncode": _str("münchen.de"),
    "idnaDecode": _str("xn--mnchen-3ya.de"),
    "convertCharset": _str("abc", "utf-8", "latin1"),
    # the optional length left out: it is padded with a typed NULL
    "bitSlice": [*_str("Hello"), _v("3", "bigint")],
    "mortonEncode": _ids(1, 2, 3),
    "mortonDecode": [2, *_ids(53)],
    "hilbertEncode": _ids(3, 4),
    "hilbertDecode": [2, *_ids(31)],
    "encrypt": [*_str("aes-128-cbc", "text"), _v(_K16, "string"), _v(_IV, "string")],
    "decrypt": [*_str("aes-128-ofb", "xyz"), _v(_K16, "string")],
    "tryDecrypt": [*_str("aes-128-cbc", "not a ciphertext"), _v(_K16, "string")],
    "aes_encrypt_mysql": _str("aes-128-ecb", "text", "k" * 20),
    "aes_decrypt_mysql": [*_str("aes-128-ofb", "xyz", "k" * 20), _v(_IV, "string")],
}


def test_samples_cover_the_table():
    assert set(SAMPLES) == {r.ch for r in udfs.UDFS}
    assert len({r.sql for r in udfs.UDFS}) == len(udfs.UDFS)


def test_column_and_sql_doors_agree(spark):
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch

    for name, factory in udfs.SQL_UDFS:  # bind the table's own UDFs
        spark.udf.register(name, factory())
    cols = {}  # column name -> (sample literal, type)
    calls = []  # (ClickHouse name, [column name or literal])
    for k, (name, args) in enumerate(SAMPLES.items()):
        refs = []
        for j, a in enumerate(args):
            if isinstance(a, tuple):
                cols[f"a{k}_{j}"] = a
                refs.append(f"a{k}_{j}")
            else:
                refs.append(a)
        calls.append((name, refs))
    sample = ", ".join(f"CAST({v} AS {t})" for v, t in cols.values())
    nulls = ", ".join("NULL" for _ in cols)
    spark.sql(f"SELECT * FROM VALUES (0, {sample}), (1, {nulls}) "
              f"AS t(rid, {', '.join(cols)})").createOrReplaceTempView("udf_args")

    def col(r):
        return F.col(r) if isinstance(r, str) else r

    by_column = (
        spark.table("udf_args")
        .select("rid", *[ch(name, *[col(r) for r in refs]).alias(f"r{k}")
                         for k, (name, refs) in enumerate(calls)])
        .collect()
    )
    by_sql = ch_sql(spark, "SELECT rid, " + ", ".join(
        f"{name}({', '.join(str(r) for r in refs)}) AS r{k}"
        for k, (name, refs) in enumerate(calls)) + " FROM udf_args").collect()
    by_column.sort(key=lambda r: r.rid)
    by_sql.sort(key=lambda r: r.rid)

    for k, (name, _) in enumerate(calls):
        got_col = [r[f"r{k}"] for r in by_column]
        got_sql = [r[f"r{k}"] for r in by_sql]
        assert got_col == got_sql, name
        # a NULL in the arguments gives NULL (a struct of NULLs for a
        # struct result: a pandas UDF cannot return a NULL struct)
        assert got_col[1] is None or not any(got_col[1]), name
    # the samples are real inputs: only the try* forms on bad input are NULL
    nulls = {name for k, (name, _) in enumerate(calls) if by_column[0][f"r{k}"] is None}
    assert nulls == {"tryBase58Decode", "tryBase32Decode", "tryDecrypt"}
    row = by_column[0]
    names = [name for name, _ in calls]
    assert row[f"r{names.index('h3GetUnidirectionalEdge')}"] == _EDGE
    assert row[f"r{names.index('h3Line')}"] == [_O, _D]
    assert row[f"r{names.index('mortonEncode')}"] == 53
    assert row[f"r{names.index('geohashEncode')}"] == "u4pruy"
    assert row[f"r{names.index('s2CellsIntersect')}"] is True
    assert row[f"r{names.index('h3GetIndexesFromUnidirectionalEdge')}"].destination == _D
    assert len(row[f"r{names.index('h3ToChildren')}"]) == 7
    assert row[f"r{names.index('bitSlice')}"] == encodings.bit_slice_py(b"Hello", 3, None)


def test_sql_arity_errors():
    from clickhouse_25_5_3_75_stable_spark.chsql import ChSqlError, ch_sql_to_spark

    with pytest.raises(ChSqlError, match="expected 2-3 arguments"):
        ch_sql_to_spark("SELECT geohashEncode(1.0)")
    with pytest.raises(ChSqlError, match="expected 2 arguments"):
        ch_sql_to_spark("SELECT h3Line(1)")
