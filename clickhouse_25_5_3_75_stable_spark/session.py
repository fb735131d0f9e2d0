"""SparkSession bootstrap tuned for the engine.

Reference lifecycle (SURVEY §3): parse→analyze→plan→pipeline→execute
(/root/reference/src/Interpreters/executeQuery.cpp:963). All of that is
Catalyst/Tungsten in Spark; the session config below is the knob layer:

- AQE on: runtime re-plan ≈ the reference's JoinSwitcher / two-level
  agg fallbacks (src/Interpreters/JoinSwitcher.h:16, Aggregator.h:118).
- UTC session TZ: oracle (DuckDB) comparisons are TZ-naive.
- Arrow enabled: Pandas-UDF operators (ASOF join, funnel, dedup) ride
  Arrow batches ≈ the reference's block-at-a-time Chunk flow
  (src/Processors/Chunk.h:59).
- shuffle.partitions defaults to cores locally; on a real cluster this
  is AQE-coalesced from an intentionally high initial number.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "clickhouse_25_5_3_75_stable_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults target local[$SPARK_GRAFT_CPUS]; at cluster scale pass
    ``master=None`` with an external cluster manager and a higher
    ``shuffle_partitions`` (AQE coalesces the excess).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # Parquet pushdown parity with the reference's PREWHERE / skip
        # indexes (src/Storages/MergeTree/MergeTreeWhereOptimizer.h:26).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Iceberg-spec column resolution: when a requested schema
        # carries parquet.field.id metadata (sources/datalake.py
        # read_iceberg), match parquet columns by FIELD ID so renamed
        # columns read correctly; inert for all other reads
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        # 128 MB split target — analogous to mark-granularity scan
        # parallelism (src/Storages/MergeTree/MergeTreeSettings.cpp:66).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    # Optional connector jars (spark-avro, spark-protobuf, Kafka, Delta)
    # behind env flags — the build sandbox has no network/Maven cache,
    # so these stay off by default (TESTDATA.md documents the block;
    # the format shims raise install recipes when the jars are absent):
    #   SPARK_GRAFT_JARS_PACKAGES="org.apache.spark:spark-avro_2.13:4.1.2"
    #   SPARK_GRAFT_JARS="/path/a.jar,/path/b.jar"  (pre-downloaded)
    pkgs = os.environ.get("SPARK_GRAFT_JARS_PACKAGES")
    if pkgs:
        builder = builder.config("spark.jars.packages", pkgs)
    jars = os.environ.get("SPARK_GRAFT_JARS")
    if jars:
        builder = builder.config("spark.jars", jars)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    register_sql_udfs(spark)
    return spark


# h3 index-math getters with pure-SQL bodies (functions/h3.py owns the
# bit layout; these are the scan-tier names a sharding key uses)
_SQL_BODIES = {
    "h3GetResolution": "(h BIGINT) RETURNS INT RETURN CAST((h >> 52) & 15 AS INT)",
    "h3GetBaseCell": "(h BIGINT) RETURNS INT RETURN CAST((h >> 45) & 127 AS INT)",
    "h3ToParent": "(h BIGINT, res INT) RETURNS BIGINT RETURN (h & ~(15L << 52)) "
                  "| (CAST(res AS BIGINT) << 52) | (shiftleft(1L, 3 * (15 - res)) - 1)",
    "h3ToString": "(h BIGINT) RETURNS STRING RETURN lower(hex(h))",
    "stringToH3": "(s STRING) RETURNS BIGINT RETURN CAST(conv(s, 16, 10) AS BIGINT)",
}


def _sql_udfs() -> list:
    """(SQL name, zero-argument factory) of every pandas UDF exposed to
    SQL text under the reference's own name, or under the ch_* / *_bin
    name the chsql rewriter targets. These are the same cached UDFs that
    back the Column API."""
    from clickhouse_25_5_3_75_stable_spark.functions import (
        aescrypto,
        encodings,
        geohash,
        h3geo,
        hashing,
        s2,
    )
    from clickhouse_25_5_3_75_stable_spark.operators import text

    def built(udf):
        return lambda: udf

    return [
        *hashing.SQL_UDFS,
        ("geohashEncode", geohash._encode_udf),
        ("geohashDecode", geohash._decode_udf),
        ("geohashesInBox", geohash._boxes_udf),
        # EXACT Jaro / Jaro-Winkler (FunctionsStringDistance.cpp)
        ("jaroSimilarity", built(text.jaro_similarity)),
        ("jaroWinklerSimilarity", built(text.jaro_winkler_similarity)),
        *[(name, partial(s2.s2_udf, key)) for name, key in (
            ("geoToS2", "ch_geotos2"),
            ("s2ToGeo", "ch_s2togeo"),
            ("s2GetNeighbors", "ch_s2getneighbors"),
            ("s2CellsIntersect", "ch_s2cellsintersect"),
            ("s2CapContains", "ch_s2capcontains"),
            ("s2CapUnion", "ch_s2capunion"),
            ("s2RectAdd", "ch_s2rectadd"),
            ("s2RectContains", "ch_s2rectcontains"),
            ("s2RectUnion", "ch_s2rectunion"),
            ("s2RectIntersection", "ch_s2rectintersection"),
        )],
        # geoToH3 keeps the 25.5 default LAT_LON argument order;
        # h3ToGeo returns (lat, lon)
        *[(name, partial(h3geo.h3geo_udf, key)) for name, key in (
            ("geoToH3", "ch_geotoh3"),
            ("h3ToGeo", "ch_h3togeo"),
            ("h3ToGeoBoundary", "ch_h3boundary"),
            ("h3kRing", "ch_h3kring"),
            ("h3HexRing", "ch_h3hexring"),
            ("h3Distance", "ch_h3distance"),
            ("h3IndexesAreNeighbors", "ch_h3areneighbors"),
            ("h3GetFaces", "ch_h3getfaces"),
            ("h3CellAreaM2", "ch_h3aream2"),
            ("h3CellAreaRads2", "ch_h3arearads2"),
            ("h3PointDistM", "ch_h3pointdistm"),
            ("h3PointDistKm", "ch_h3pointdistkm"),
            ("h3PointDistRads", "ch_h3pointdistrads"),
            ("h3HexAreaM2", "ch_h3hexaream2"),
            ("h3HexAreaKm2", "ch_h3hexareakm2"),
        )],
        # encoding/checksum/curve long tail; the variadic curve + bitSlice
        # surfaces are ch_* shims the chsql rewriter targets
        # (mortonEncode(a,b) -> ch_morton_encode(NULL, array(a,b)) etc)
        *[(name, partial(encodings.enc_udf, name)) for name in (
            "base58Encode", "base58Decode", "tryBase58Decode",
            "base32Encode", "base32Decode", "tryBase32Decode",
            "CRC32IEEE", "CRC64", "SHA512_256", "RIPEMD160",
            "keccak256", "ch_morton_encode", "ch_morton_decode",
            "ch_hilbert_encode", "ch_hilbert_decode", "ch_bitslice",
            "normalizeUTF8NFC", "normalizeUTF8NFD",
            "normalizeUTF8NFKC", "normalizeUTF8NFKD",
            "punycodeEncode", "punycodeDecode", "tryPunycodeDecode",
            "idnaEncode", "tryIdnaEncode", "idnaDecode",
            "convertCharset", "MD4", "BLAKE3")],
        # encrypt/decrypt family; the chsql rewriter pads the optional
        # iv/aad args with NULL to match the uniform 5-arg UDF shape
        *[(name, partial(aescrypto.aes_udf, name)) for name in (
            "ch_encrypt", "ch_decrypt", "ch_try_decrypt",
            "ch_aes_encrypt_mysql", "ch_aes_decrypt_mysql")],
    ]


def register_sql_udfs(spark: SparkSession) -> None:
    """Expose the engine's pandas-UDF-backed CH functions and the h3
    SQL getters to SQL text (the chsql shim passes these names
    through or rewrites to them)."""
    for name, factory in _sql_udfs():
        spark.udf.register(name, factory())
    for name, body in _SQL_BODIES.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")


def tag_query(spark: SparkSession, query_id: str, description: str = "") -> None:
    """Tag subsequent actions on this thread with a query id — the
    reference's query_id (system.processes / KILL QUERY surface).
    Spark mapping: a job group; all jobs an action spawns inherit it."""
    spark.sparkContext.setJobGroup(query_id, description or query_id,
                                   interruptOnCancel=True)


def kill_query(spark: SparkSession, query_id: str) -> None:
    """KILL QUERY WHERE query_id = '<id>' (reference
    src/Interpreters/InterpreterKillQueryQuery.cpp): cancel every Spark
    job tagged with the id. Running tasks are interrupted
    (interruptOnCancel at tag time); the blocked action raises."""
    spark.sparkContext.cancelJobGroup(query_id)
