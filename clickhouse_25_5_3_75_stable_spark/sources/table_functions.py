"""Ad-hoc table functions (SURVEY §2.1): numbers / generate_series /
generateRandom / values — the reference's
/root/reference/src/TableFunctions/registerTableFunctions.cpp:10-65.

All are thin wrappers over `spark.range` + column expressions: fully
parallel generators (range splits across the cluster), no driver-side
materialization.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def numbers(spark: SparkSession, n: int, start: int = 0) -> DataFrame:
    """numbers(n) / numbers(start, n): a `number` column — the
    reference's canonical synthetic source."""
    return spark.range(start, start + n).select(F.col("id").alias("number"))


def generate_series(spark: SparkSession, start: int, stop: int, step: int = 1) -> DataFrame:
    """generate_series(start, stop, step) — inclusive stop, like the
    reference (and DuckDB)."""
    return spark.range(start, stop + (1 if step > 0 else -1), step).select(
        F.col("id").alias("generate_series")
    )


def date_series(spark: SparkSession, start: str, stop: str) -> DataFrame:
    """Daily date series [start, stop] — the WITH FILL / calendar
    helper. Uses sequence() so one row expands distributedly."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"), F.lit(stop).cast("date"), F.expr("interval 1 day")
            )
        ).alias("day")
    )


def generate_random(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    spec: dict[str, str] | None = None,
) -> DataFrame:
    """generateRandom-style typed synthetic rows (reference
    StorageGenerateRandom, src/Storages/StorageGenerateRandom.h:16).
    Deterministic per (seed, row id) via xxhash64 — reproducible across
    runs AND partitionings, unlike F.rand() which is per-partition.

    spec maps column -> one of: int / double / string / bool / date.
    """
    spec = spec or {"c_int": "int", "c_double": "double", "c_string": "string"}
    df = spark.range(n)
    h = lambda salt: F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))  # noqa: E731
    for name, kind in spec.items():
        v = h(name)
        if kind == "int":
            df = df.withColumn(name, (F.pmod(v, F.lit(1_000_000))).cast("bigint"))
        elif kind == "double":
            df = df.withColumn(name, (F.pmod(v, F.lit(10**9)).cast("double") / 1e9))
        elif kind == "bool":
            df = df.withColumn(name, F.pmod(v, F.lit(2)) == 1)
        elif kind == "date":
            df = df.withColumn(
                name, F.date_add(F.lit(date(2020, 1, 1)), F.pmod(v, F.lit(3650)).cast("int"))
            )
        else:
            df = df.withColumn(name, F.concat(F.lit("s_"), F.pmod(v, F.lit(100_000)).cast("string")))
    return df


def values(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """VALUES table function: inline literal rows."""
    from clickhouse_25_5_3_75_stable_spark.sources.catalog import local_rows

    return local_rows(spark, rows, schema)


def merge(spark: SparkSession, sf_dir: str, table_regex: str) -> DataFrame:
    """merge('db', 'regex') table function (reference
    src/TableFunctions/TableFunctionMerge.cpp; StorageMerge at
    src/Storages/registerStorages.cpp:19): UNION ALL of every catalog
    table whose name matches, by-name column resolution, with a
    ``_table`` virtual column naming the source."""
    import re

    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.sources import catalog

    matched = [n for n in catalog.sync(spark, sf_dir) if re.fullmatch(table_regex, n)]
    if not matched:
        raise ValueError(f"merge(): no catalog table matches {table_regex!r}")
    out = None
    for n in matched:
        df = spark.table(n).withColumn("_table", F.lit(n))
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def view(df: DataFrame, name: str) -> DataFrame:
    """view() — register and return (reference TableFunctionView)."""
    df.createOrReplaceTempView(name)
    return df


def zeros(spark: SparkSession, n: int) -> DataFrame:
    """zeros(n) (reference src/TableFunctions/registerTableFunctions.cpp
    zeros): n rows of a single UInt8 zero column — the cheapest row
    generator (used for benchmarks and cross-join row multiplication)."""
    return spark.range(n).select(F.lit(0).cast("tinyint").alias("zero"))


def format_table(spark: SparkSession, fmt: str, data: str, schema: str | None = None) -> DataFrame:
    """format('<format>', 'inline data') (reference
    src/TableFunctions/TableFunctionFormat.cpp): parse an inline
    literal as a table, in any `formats.FORMATS` format a csv or json
    source reads. The literal lives in the query text, so parallelism
    is irrelevant at its size."""
    from clickhouse_25_5_3_75_stable_spark.sources import formats

    return formats.read_inline(spark, fmt, data, schema)
