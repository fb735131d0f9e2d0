"""MergeTree engine-family merge semantics as DataFrame views
(SURVEY §2.1): what the reference applies lazily at part-merge time,
re-expressed as deterministic queries over an append-only fact table.

Reference: merge modes Ordinary/Collapsing/Summing/Aggregating/
Replacing/VersionedCollapsing
(/root/reference/src/Storages/MergeTree/registerStorageMergeTree.cpp:
402-407,924-930, src/Storages/MergeTree/MergeTreeDataMergerMutator.cpp).

The key insight for Spark: ClickHouse merges are an OPTIMIZATION
(background compaction); the user-visible semantics is "SELECT ...
FINAL" — a deterministic fold over rows sharing the sorting key. That
fold maps exactly onto window functions / groupBy:

- Replacing(version):  keep the max-(version, insert-order) row per key
  → row_number() over desc ordering = 1. One shuffle on the key.
- Summing(cols):       sum the value columns per key.
- Aggregating:         arbitrary agg exprs per key (the -State/-Merge
  pairing happens in functions/states.py).
- Collapsing(sign):    per key, cancel (+1,-1) pairs: keep nothing when
  signs balance, else the latest +1 row (reference keeps the last
  uncancelled state row).
- VersionedCollapsing: same but cancellation pairs by (version, sign).

A physical compaction job = write the folded view back to parquet
(OPTIMIZE analogue) — `compact()` below; at 100 TB run it per
partition-dir so each job's shuffle stays bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def replacing_final(
    df: DataFrame, key: list[str], version: str, tiebreak: list[str] | None = None
) -> DataFrame:
    """ReplacingMergeTree FINAL: latest version per sorting key.
    tiebreak orders equal versions (the reference keeps the last
    physically-inserted row; an explicit unique column makes that
    deterministic cross-engine)."""
    order = [F.desc(version)] + [F.desc(c) for c in (tiebreak or [])]
    w = W.partitionBy(*key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def summing_final(df: DataFrame, key: list[str], sum_cols: list[Column]) -> DataFrame:
    """SummingMergeTree FINAL: one row per key with summed columns."""
    return df.groupBy(*key).agg(*sum_cols)


def collapsing_final(
    df: DataFrame, key: list[str], sign: str, order: list[str]
) -> DataFrame:
    """CollapsingMergeTree FINAL: rows with sign=+1 cancelled by an
    equal count of sign=-1 per key; a key survives iff sum(sign) > 0,
    represented by its latest +1 row (reference keeps the final state
    row of the unbalanced insert)."""
    sums = df.groupBy(*key).agg(F.sum(F.col(sign)).alias("__ssum"))
    survivors = sums.filter(F.col("__ssum") > 0).drop("__ssum")
    latest_pos = replacing_final(
        df.filter(F.col(sign) > 0), key, version=order[0], tiebreak=order[1:]
    )
    return latest_pos.join(survivors, key, "left_semi")


def compact(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """OPTIMIZE analogue: materialize a folded view back to storage.
    At scale: partition_by a coarse key so each rewrite is bounded."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def versioned_collapsing_final(
    df: DataFrame, key: list[str], sign: str, version: str
) -> DataFrame:
    """VersionedCollapsingMergeTree FINAL (reference
    registerStorageMergeTree.cpp:929, VersionedCollapsingTransform):
    a (-1, v) row cancels exactly one (+1, v) row with the SAME
    version; FINAL returns the +1 rows whose (key, version) pair nets
    positive. One groupBy on (key, version) — map-side combinable."""
    net = df.groupBy(*key, version).agg(F.sum(F.col(sign)).alias("__net"))
    alive = net.filter(F.col("__net") > 0).drop("__net")
    return df.filter(F.col(sign) > 0).join(alive, [*key, version], "left_semi")


def graphite_rollup(
    df: DataFrame,
    path_col: str,
    time_col: str,
    value_col: str,
    rules: list[tuple[int, int]],
    now_expr: Column,
    agg: str = "avg",
) -> DataFrame:
    """GraphiteMergeTree rollup (reference registerStorageMergeTree
    .cpp:930, src/Processors/Merges/Algorithms/GraphiteRollupSortedAlgorithm
    .h): points older than each rule's age collapse into that rule's
    precision bucket. rules = [(min_age_seconds, precision_seconds)],
    checked in order — first matching age wins; unmatched points keep
    raw precision. One groupBy over (path, bucket): the rollup is a
    plain partial/final hash agg at any scale."""
    ts = F.col(time_col).cast("timestamp")
    epoch = F.unix_timestamp(ts)
    age = F.unix_timestamp(now_expr) - epoch
    precision = F.lit(1).cast("bigint")
    # build first-match-wins from the last rule outward
    for min_age, prec in reversed(rules):
        precision = F.when(age >= min_age, F.lit(prec).cast("bigint")).otherwise(precision)
    bucket = F.to_timestamp(F.from_unixtime((epoch / precision).cast("bigint") * precision))
    val = F.col(value_col).cast("decimal(25,6)")
    agg_col = {
        "avg": (F.sum(val).cast("string").cast("double") / F.count(val)).alias("value"),
        "sum": F.sum(val).cast("double").alias("value"),
        "max": F.max(F.col(value_col)).alias("value"),
        "min": F.min(F.col(value_col)).alias("value"),
    }[agg]
    return (
        df.withColumn("__bucket", bucket)
        .groupBy(F.col(path_col).alias("path"), F.col("__bucket").alias("bucket"))
        .agg(agg_col, F.count(F.lit(1)).alias("n_points"))
    )
