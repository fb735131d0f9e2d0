from clickhouse_25_5_3_75_stable_spark.sources.catalog import TABLES, register_views

__all__ = ["TABLES", "register_views"]
