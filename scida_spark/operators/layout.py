"""Physical-layout operators: bucketed/sorted ingest for shuffle-free
group operations.

SURVEY §4 final row: the reference's core physical assumption is that
particles are stored contiguous by group, so per-group operations never
move data. The Spark equivalent at 100 TB is a **bucketed, sorted
layout**: write once clustered by the group key, and every subsequent
``groupBy(key)`` / self-join / catalog-join on that key runs without a
shuffle (Spark's bucketing metadata proves co-location to the planner).

``save_bucketed`` is the ingest-time option: one shuffle now,
amortized over every later query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist clustered by ``bucket_col`` (and sorted within buckets):
    the scida 'contiguous groups' layout as Spark bucketing metadata."""
    w = df.write.bucketBy(num_buckets, bucket_col)
    w = w.sortBy(*(sort_cols or [bucket_col]))
    w.mode(mode).format("parquet").saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
