"""Physical-layout operators: bucketed/sorted ingest for shuffle-free
group operations.

SURVEY §4 final row: the reference's core physical assumption is that
particles are stored contiguous by group, so per-group operations never
move data. The Spark equivalent at 100 TB is a **bucketed, sorted
layout**: write once clustered by the group key, and every subsequent
``groupBy(key)`` / self-join / catalog-join on that key runs without a
shuffle (Spark's bucketing metadata proves co-location to the planner).

The bucketed copy is written once at ingest (one shuffle now, amortized
over every later query; ``queries_scida._bucketed_cached`` keeps it as a
derived store) and read back through the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
