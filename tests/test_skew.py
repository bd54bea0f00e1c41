"""Skewed keys: a hash salt spreads the hot key across partial groups,
and AQE splits the hot partition of a skewed sort-merge join."""

from pyspark.sql import functions as F


def _skewed(spark):
    # key 0 holds 90% of rows (the giant halo).
    return spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 0.25).alias("v"),
    )


def test_salt_splits_hot_key(spark):
    df = _skewed(spark)
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(8))
    per_salt = (
        df.withColumn("__salt", salt).filter(F.col("k") == 0)
        .groupBy("__salt").count().collect()
    )
    # The hot key's rows land in every salt bucket, none dominating.
    assert len(per_salt) == 8
    counts = [r["count"] for r in per_salt]
    assert max(counts) < 2 * min(counts)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's OptimizeSkewedJoin must engage on a skewed sort-merge join
    once the skew thresholds are crossed (plan marker ``skew=true`` on the join node).
    Wall-clock is deliberately NOT asserted: in single-JVM local mode a
    straggler task does not idle other executors, so the win only
    materializes with real executor boundaries — the plan marker is the
    scale-relevant contract (see SCALE.md)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 2_000_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.pmod(F.xxhash64("id"), 10_000))
            .alias("k"),
            (F.col("id") * 1.0).alias("v"),
        )
        right = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("w")
        )
        j = left.join(right, "k").agg(F.sum("v").alias("sv"), F.sum("w").alias("sw"))
        # collect() on THIS DataFrame (count() would execute a separate
        # plan object, leaving this one's adaptive plan un-finalized).
        assert len(j.collect()) == 1
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan or "isSkew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
