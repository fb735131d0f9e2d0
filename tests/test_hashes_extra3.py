"""Exact gccMurmurHash / kafkaMurmurHash / javaHash(+UTF16LE) /
hiveHash / murmurHash2_32 / murmurHash3_32 / xxHash32 / URLHash /
sipHash64Keyed (functions/hashes_extra3.py): published anchors, LIVE
JVM ground truth for the Java-family hashes, scalar/numpy dual paths,
combine rules, NULL → NULL."""

from __future__ import annotations

import random

import numpy as np
import pyspark.sql.functions as F

from clickhouse_25_5_3_75_stable_spark.functions.cityhash import inthash64_py
from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch
from clickhouse_25_5_3_75_stable_spark.functions.hashes_extra import inthash32_py
from clickhouse_25_5_3_75_stable_spark.functions.hashes_extra3 import (
    _gcc_np,
    _java_np,
    _kafka_np,
    _murmur2_32_seed0_np,
    _murmur3_32_np,
    _xxh32_np,
    gcc_murmur_py,
    hive_hash_py,
    java_hash_int64_py,
    java_hash_py,
    java_hash_utf16le_py,
    kafka_murmur_py,
    murmur2_32_py,
    murmur3_32_py,
    urlhash_py,
    xxh32_py,
)
from clickhouse_25_5_3_75_stable_spark.functions.siphash import siphash64_py


def as_i64(v: int) -> int:
    return np.int64(np.uint64(v)).item()


def test_published_anchors():
    # MurmurHash3_x86_32 and XXH32 published vectors; Java's famous
    # String whose hashCode is exactly Integer.MIN_VALUE
    assert murmur3_32_py(b"hello") == 0x248BFA47
    assert murmur3_32_py(b"") == 0
    assert xxh32_py(b"") == 0x02CC5D05
    assert java_hash_py(b"hello") == 99162322  # "hello".hashCode()
    assert java_hash_py(b"polygenelubricants") == -(2**31)
    assert hive_hash_py(b"polygenelubricants") == 0
    # algebraic ties
    assert kafka_murmur_py(b"k") == murmur2_32_py(b"k", 0x9747B28C) & 0x7FFFFFFF
    assert java_hash_utf16le_py("hello".encode("utf-16-le")) == 99162322


def test_dual_paths_agree():
    rng = random.Random(31)
    data = [bytes(rng.randrange(256) for _ in range(ln))
            for ln in list(range(0, 70)) + [127, 128, 129, 255, 256, 1024]]
    for npf, pyf in (
        (_murmur2_32_seed0_np, lambda d: murmur2_32_py(d, 0)),
        (_kafka_np, kafka_murmur_py),
        (_murmur3_32_np, murmur3_32_py),
        (_xxh32_np, xxh32_py),
        (_java_np, lambda d: java_hash_py(d) & ((1 << 64) - 1)),
        (_gcc_np, gcc_murmur_py),
    ):
        got = npf(data)
        exp = np.array([pyf(d) for d in data], dtype=np.uint64)
        mism = np.where(got != exp)[0]
        assert mism.size == 0, [len(data[i]) for i in mism[:8]]


def test_java_family_against_live_jvm(spark):
    """javaHash / javaHashUTF16LE / the Int64 fold vs the actual JVM
    (String.hashCode via Objects.hashCode, Long.hashCode) — in-sandbox
    ground truth, not transcription."""
    jvm = spark._jvm
    rng = random.Random(7)
    strs = ["", "a", "hello", "ClickHouse", "polygenelubricants"] + [
        "".join(chr(rng.randrange(32, 0x2FF)) for _ in range(rng.randrange(0, 24)))
        for _ in range(25)
    ]
    for s in strs:
        want = jvm.java.util.Objects.hashCode(s)
        assert java_hash_utf16le_py(s.encode("utf-16-le")) == want, s
        if s.isascii():
            assert java_hash_py(s.encode()) == want, s
    for k in [2**40, -(2**40) - 7, 2**62, -(2**63)]:
        # py4j boxes a big python int to java.lang.Long; Objects.hashCode
        # dispatches to Long.hashCode (the x ^ (x >>> 32) fold)
        assert java_hash_int64_py(k) == jvm.java.util.Objects.hashCode(k), k


def test_spark_dispatch_and_combines(spark):
    df = spark.createDataFrame(
        [("clickhouse", "https://example.com/path/", 42),
         (None, "http://a.b/x?q=1#frag", -7)],
        "s string, u string, k long",
    )
    row, row_null = df.select(
        ch("gccMurmurHash", F.col("s")).alias("gcc"),
        ch("kafkaMurmurHash", F.col("s")).alias("kafka"),
        ch("murmurHash2_32", F.col("s")).alias("m232"),
        ch("murmurHash3_32", F.col("s")).alias("m332"),
        ch("xxHash32", F.col("s")).alias("x32"),
        ch("javaHash", F.col("s")).alias("jh"),
        ch("javaHash", F.col("k")).alias("jh_k"),
        ch("hiveHash", F.col("s")).alias("hh"),
        ch("URLHash", F.col("u")).alias("uh"),
        ch("sipHash64Keyed", (3, 9), F.col("s")).alias("sk"),
        ch("gccMurmurHash", F.col("s"), F.col("u")).alias("g2"),
        ch("xxHash32", F.col("s"), F.col("u")).alias("x2"),
        ch("sipHash64Keyed", (3, 9), F.col("s"), F.col("u")).alias("s2"),
    ).collect()

    b, u = b"clickhouse", "https://example.com/path/"
    assert row.gcc == as_i64(gcc_murmur_py(b))
    assert row.kafka == kafka_murmur_py(b)
    assert row.m232 == murmur2_32_py(b, 0)
    assert row.m332 == murmur3_32_py(b)
    assert row.x32 == xxh32_py(b)
    assert row.jh == java_hash_py(b)
    assert row.jh_k == java_hash_int64_py(42)
    assert row.hh == hive_hash_py(b)
    assert row.uh == as_i64(urlhash_py(u.encode()))
    assert row.sk == as_i64(siphash64_py(b, 3, 9))
    # combine rules
    g1, gu = gcc_murmur_py(b), gcc_murmur_py(u.encode())
    assert row.g2 == as_i64(inthash64_py(g1) ^ gu)
    x1, xu = xxh32_py(b), xxh32_py(u.encode())
    assert row.x2 == (inthash32_py(x1) ^ xu) & 0xFFFFFFFF
    s1, su = siphash64_py(b, 3, 9), siphash64_py(u.encode(), 3, 9)
    comb = siphash64_py(s1.to_bytes(8, "little") + su.to_bytes(8, "little"), 3, 9)
    assert row.s2 == as_i64(comb)
    # URLHash trailing-char drop and NULL propagation
    assert row_null.gcc is None and row_null.jh is None and row_null.s2 is None
    uh2 = df.select(ch("URLHash", F.lit("http://x.y/a")).alias("a"),
                    ch("URLHash", F.lit("http://x.y/a/")).alias("b")).collect()[0]
    assert uh2.a == uh2.b  # one trailing slash dropped


def test_sql_surface_matches_column_api(spark):
    """chsql SQL text must produce the same exact values as the Column
    API for every hash-family row (string, bigint, int, double, date and
    NULL inputs, plus one 2-argument combine per combineable family) and
    for the special SQL names (round-5 fix: farmHash64 in SQL silently
    hit Spark's builtin xxhash64 before)."""
    from clickhouse_25_5_3_75_stable_spark.chsql import ch_sql
    from clickhouse_25_5_3_75_stable_spark.functions.hashing import FAMILIES

    # a VALUES relation: the typeof() dispatch must also fold on a local
    # relation (the optimizer evaluates projections over one early)
    spark.sql(
        "SELECT * FROM VALUES "
        "('clickhouse', 42L, -7, 1.5D, DATE'2024-03-05', 'http://x.y/a/'), "
        "('', -9223372036854775808L, 2147483647, -0.0D, DATE'1970-01-01', "
        "'http://x.y/?'), "
        "(NULL, NULL, NULL, NULL, NULL, NULL) AS t(s, k, i, x, d, u)"
    ).createOrReplaceTempView("hash_sql_tt")
    typed = ("s", "k", "i", "x", "d")
    calls = {f"{c}_{n}": (n, (c,)) for n in (*FAMILIES, "halfMD5") for c in typed}
    calls.update({f"p_{n}": (n, ("s", "k")) for n, fam in FAMILIES.items()
                  if fam.combine is not None})
    calls["p_halfMD5"] = ("halfMD5", ("s", "k"))
    calls.update({f"{c}_{n}": (n, (c,)) for n in ("intHash64", "intHash32")
                  for c in ("k", "i", "d")})
    calls["u_URLHash"] = ("URLHash", ("u",))
    calls["s_javaHashUTF16LE"] = ("javaHashUTF16LE", ("s",))
    sql_cols = ", ".join(f"{n}({', '.join(a)}) AS {alias}"
                         for alias, (n, a) in calls.items())
    got = ch_sql(
        spark, f"SELECT s IS NULL AS z, {sql_cols} FROM hash_sql_tt ORDER BY z, s"
    ).collect()
    want = spark.table("hash_sql_tt").select(
        F.col("s").isNull().alias("z"),
        *[ch(n, *[F.col(c) for c in a]).alias(alias) for alias, (n, a) in calls.items()],
    ).orderBy("z", "s").collect()
    assert len(got) == len(want) == 3
    for g, w in zip(got, want):
        for f in w.asDict():
            assert g[f] == w[f], (f, g[f], w[f])
    assert all(v is None for f, v in got[-1].asDict().items() if f != "z")


# ---------------------------------------------------------------------------
# round-6: sipHash128Keyed / sipHash128ReferenceKeyed exact
# ---------------------------------------------------------------------------


def test_sip128_reference_keyed_published_vectors():
    """The official 128-bit SipHash-2-4 with the reference
    implementation's published test key 000102..0f — first two entries
    of vectors_sip128."""
    from clickhouse_25_5_3_75_stable_spark.functions.siphash import (
        siphash128_reference_keyed_py,
    )

    k0, k1 = 0x0706050403020100, 0x0F0E0D0C0B0A0908
    assert siphash128_reference_keyed_py(k0, k1, b"").hex() == (
        "a3817f04ba25a8e66df67214c7550293"
    )
    assert siphash128_reference_keyed_py(k0, k1, bytes([0])).hex() == (
        "da87c1d86b99af44347659119b22fc45"
    )


def test_sip128_keyed_zero_key_equals_unkeyed():
    from clickhouse_25_5_3_75_stable_spark.functions.siphash import (
        siphash128_keyed_py,
        siphash128_py,
        siphash128_reference_keyed_py,
        siphash128_reference_py,
    )

    for data in (b"", b"a", b"clickhouse", bytes(range(64))):
        assert siphash128_keyed_py(0, 0, data) == siphash128_py(data)
        assert siphash128_reference_keyed_py(0, 0, data) == (
            siphash128_reference_py(data)
        )


def test_sip128_keyed_column_api(spark):
    """Keyed-128 through the dialect: zero key == unkeyed name;
    non-zero key changes the value; multi-arg combine is keyed."""
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch

    df = spark.createDataFrame([("clickhouse", 7)], "s string, n long")
    row = df.select(
        F.hex(ch("sipHash128Keyed", (0, 0), F.col("s"))).alias("k0"),
        F.hex(ch("sipHash128", F.col("s"))).alias("plain"),
        F.hex(ch("sipHash128Keyed", (7, 13), F.col("s"))).alias("k713"),
        F.hex(ch("sipHash128ReferenceKeyed", (0, 0), F.col("s"))).alias("rk0"),
        F.hex(ch("sipHash128Reference", F.col("s"))).alias("rplain"),
        F.hex(ch("sipHash128Keyed", (7, 13), F.col("s"), F.col("n"))).alias("multi"),
    ).collect()[0]
    assert row.k0 == row.plain
    assert row.rk0 == row.rplain
    assert row.k713 != row.plain
    assert len(row.multi) == 32  # BINARY(16)
    # combine rule cross-check against the scalar reference
    from clickhouse_25_5_3_75_stable_spark.functions.siphash import (
        siphash128_keyed_py,
    )

    h1 = siphash128_keyed_py(7, 13, b"clickhouse")
    h2 = siphash128_keyed_py(7, 13, (7).to_bytes(8, "little"))
    assert row.multi == siphash128_keyed_py(7, 13, h1 + h2).hex().upper()
