"""Bucketed (pre-partitioned) tables — the co-located-join layout
(SURVEY §2.1/§2.3 scale notes).

Reference analogue: a MergeTree table's ORDER BY key gives every part
a sort order the engine exploits for merge joins and `optimize_
aggregation_in_order` (/root/reference/src/Storages/MergeTree/
MergeTreeData.h sorting key; src/Processors/QueryPlan/
ReadFromMergeTree.cpp in-order reads). Spark's equivalent contract is
BUCKETING: `bucketBy(n, key)` hashes rows into a fixed number of
bucket files per table so two tables bucketed the same way join with
NO shuffle on either side — at 100 TB that deletes the two largest
exchanges from every fact-to-fact join on the bucket key.

Use for the handful of always-joined fact tables (orders ⋈ lineitem
on orderkey); dimension joins should stay broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table (bucket metadata lives in
    the session catalog — plain parquet dirs cannot carry it)."""
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def cobucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two identically-bucketed tables on their bucket key —
    plans as SortMergeJoin over the existing bucket files with no
    Exchange on either side (verify via test_plans)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
