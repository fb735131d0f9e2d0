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
    SQL text: the hash family's (functions/hashing.py) and one per row of
    the UDF table (functions/udfs.py), under the reference's own name or
    the ch_* / *_bin name the chsql rewriter targets. These are the same
    cached UDFs that back the Column API."""
    from clickhouse_25_5_3_75_stable_spark.functions import hashing, udfs

    return [*hashing.SQL_UDFS, *udfs.SQL_UDFS]


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
