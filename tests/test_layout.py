"""Bucketed layout: groupBy and join on the bucket key must plan
WITHOUT a shuffle (Exchange) on the bucketed side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _save_bucketed(df, table_name, sort_cols):
    """Write ``df`` as a parquet table in 8 buckets on GroupID."""
    df.write.bucketBy(8, "GroupID").sortBy(*sort_cols).mode("overwrite").format(
        "parquet"
    ).saveAsTable(table_name)


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    # warehouse dir is a static conf — use the session default and drop
    # the table afterwards.
    df = spark.range(0, 10000).select(
        (F.col("id") % 500).alias("GroupID"),
        F.col("id").alias("uid"),
        (F.col("id") * 0.5).alias("mass"),
    )
    _save_bucketed(df, "t_parts_bucketed", ["GroupID", "uid"])
    yield "t_parts_bucketed"
    spark.sql("DROP TABLE IF EXISTS t_parts_bucketed")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_groupby_on_bucket_key_has_no_exchange(spark, bucketed):
    t = spark.table(bucketed)
    agg = t.groupBy("GroupID").agg(F.sum("mass").alias("m"))
    assert agg.count() == 500
    plan = _executed_plan(agg)
    assert "Exchange" not in plan, plan


def test_self_join_on_bucket_key_has_no_exchange(spark, bucketed):
    t = spark.table(bucketed)
    a = t.groupBy("GroupID").agg(F.sum("mass").alias("ma"))
    b = t.groupBy("GroupID").agg(F.count("*").alias("n"))
    j = a.join(b, "GroupID")
    assert j.count() == 500
    # No SHUFFLE exchange anywhere (a BroadcastExchange of the small
    # aggregated side is fine — it moves O(groups), not O(rows)).
    plan = _executed_plan(j)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_values_identical_to_unbucketed(spark, bucketed):
    t = spark.table(bucketed)
    df = spark.range(0, 10000).select(
        (F.col("id") % 500).alias("GroupID"), (F.col("id") * 0.5).alias("mass")
    )
    a = t.groupBy("GroupID").agg(F.sum("mass").alias("m"))
    b = df.groupBy("GroupID").agg(F.sum("mass").alias("m"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_two_table_bucketed_join_no_exchange(spark, bucketed):
    """Two DIFFERENT tables bucketed on the same key with the same
    bucket count join WITHOUT any exchange — the co-located fact-fact
    join, with broadcast disabled so the sort-merge path itself is the
    one being attested (at 100 TB neither fact side broadcasts)."""
    halos = spark.range(0, 500).select(
        F.col("id").alias("GroupID"), (F.col("id") * 10.0).alias("GroupMass")
    )
    _save_bucketed(halos, "t_halos_bucketed", ["GroupID"])
    try:
        t = spark.table(bucketed)
        h = spark.table("t_halos_bucketed")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = t.join(h, "GroupID").groupBy("GroupID").agg(
                F.sum(F.col("mass") + F.col("GroupMass")).alias("m")
            )
            assert j.count() == 500
            plan = _executed_plan(j)
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_halos_bucketed")


def test_registry_bucketed_query_no_exchange(spark, sf_dir):
    """The scida_grouped_bucketed registry query must aggregate AND
    join over the bucketed tables WITHOUT a shuffle exchange — with
    broadcast disabled, so the join's zero-exchange property comes from
    bucket co-location, not from the small-SF orders side fitting in a
    broadcast."""
    from scida_spark.queries import registry

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry()["scida_grouped_bucketed"].fn(spark, sf_dir)
        assert df.count() > 0
        plan = _executed_plan(df)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Exchange rangepartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
