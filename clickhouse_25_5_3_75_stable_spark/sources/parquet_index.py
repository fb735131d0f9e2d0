"""mergeTreeIndex() table function analogue (reference
src/TableFunctions/registerTableFunctions.cpp mergeTreeIndex — exposes
a MergeTree table's primary-index/mark metadata as rows; skip indexes
at src/Storages/MergeTree/MergeTreeIndexMinMax.h).

Parquet already persists the equivalent: per-row-group min/max/null
statistics in the footer — the very stats Spark's scan uses to skip
row groups (the engine's PREWHERE/skip-index behavior). This module
surfaces them as a DataFrame so users can SEE what pruning will do:

    idx = parquet_index(spark, "/data/sf0.1/lineitem.parquet")
    idx.filter("column = 'l_shipdate'").show()

Footer reads only — no data scan; driver-side cost is O(files), so
for 100 TB point it at a partition, not the whole table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from clickhouse_25_5_3_75_stable_spark.sources.catalog import local_rows

_SCHEMA = (
    "file string, row_group int, column string, n_rows long, "
    "total_bytes long, min_value string, max_value string, null_count long"
)


def parquet_index(spark: SparkSession, path: str) -> DataFrame:
    """Per-(file, row-group, column) statistics from parquet footers."""
    import pyarrow.parquet as pq

    files: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    else:
        files = [path]

    rows = []
    for f in sorted(files):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                rows.append(
                    (
                        os.path.basename(f),
                        rg,
                        col.path_in_schema,
                        g.num_rows,
                        col.total_compressed_size,
                        None if st is None or st.min is None else str(st.min),
                        None if st is None or st.max is None else str(st.max),
                        None if st is None else st.null_count,
                    )
                )
    return local_rows(spark, rows, _SCHEMA)


def prunable_row_groups(
    spark: SparkSession, path: str, column: str, lo: str, hi: str
) -> DataFrame:
    """Which row groups a [lo, hi] predicate on `column` would SKIP —
    the observability half of skip indexes (min/max disjoint from the
    queried range)."""
    from pyspark.sql import functions as F

    idx = parquet_index(spark, path).filter(F.col("column") == column)
    # numeric-aware comparison: when both sides parse as numbers use
    # numeric order (string order would put "9" above "10")
    lo_n, hi_n = F.lit(lo).try_cast("double"), F.lit(hi).try_cast("double")
    mn, mx = F.col("min_value").try_cast("double"), F.col("max_value").try_cast("double")
    numeric = lo_n.isNotNull() & hi_n.isNotNull() & mn.isNotNull() & mx.isNotNull()
    skipped = F.when(numeric, (mx < lo_n) | (mn > hi_n)).otherwise(
        (F.col("max_value") < lo) | (F.col("min_value") > hi)
    )
    return idx.withColumn("skipped", skipped)
