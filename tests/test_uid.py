"""uid assignment: dense, deterministic, partition-invariant."""

import pytest
from pyspark.sql import functions as F

from scida_spark.operators.uid import with_uid_by_order


@pytest.mark.parametrize("npartitions", [1, 3, 8])
def test_uid_by_order_dense_and_deterministic(spark, npartitions):
    df = (
        spark.range(500)
        .select(
            (F.col("id") % 50).alias("k"),
            (F.col("id") / 50).cast("long").alias("sub"),
        )
        .repartition(npartitions)
    )
    out = with_uid_by_order(df, "k", "sub")
    rows = out.orderBy("uid").collect()
    assert [r["uid"] for r in rows] == list(range(500))
    # uid order must equal (k, sub) lexicographic order
    keys = [(r["k"], r["sub"]) for r in rows]
    assert keys == sorted(keys)
    # deterministic across re-evaluation
    rows2 = out.orderBy("uid").collect()
    assert rows == rows2


@pytest.mark.parametrize("width", [None, 16])
def test_uid_range_filter_matches_full_ranking(spark, width):
    """uid_range_filter (offset-table key pruning) returns the exact
    rows+uids of with_uid_by_order + filter, for single, multiple,
    overlapping, boundary-straddling, and empty ranges."""
    from scida_spark.operators.uid import uid_range_filter

    df = spark.range(500).select(
        (F.col("id") % 50).alias("k"),
        (F.col("id") / 50).cast("long").alias("sub"),
    ).repartition(7)
    full = with_uid_by_order(df, "k", "sub", key_bucket_width=width)
    for ranges in (
        [(100, 120)],
        [(0, 3)],
        [(497, 600)],
        [(37, 41), (203, 250), (240, 260)],  # overlapping pair
        [(700, 800)],  # beyond the data: empty
    ):
        cond = F.lit(False)
        for lo, hi in ranges:
            cond = cond | ((F.col("uid") >= lo) & (F.col("uid") < hi))
        expect = {
            (r["k"], r["sub"]): r["uid"] for r in full.filter(cond).collect()
        }
        got = {
            (r["k"], r["sub"]): r["uid"]
            for r in uid_range_filter(
                df, "k", "sub", ranges=ranges, key_bucket_width=width
            ).collect()
        }
        assert got == expect, ranges


def test_select_zoom_target_pruned_matches_filter(spark):
    from scida_spark.operators.catalog import (
        select_zoom_target,
        select_zoom_target_pruned,
    )

    df = spark.range(400).select(
        (F.col("id") % 40).alias("k"),
        (F.col("id") / 40).cast("long").alias("sub"),
    )
    targets = spark.createDataFrame(
        [(0, 50, 30, 200, 25)],
        "target_id long, offset long, length long, fuzz_offset long, fuzz_length long",
    )
    parts = with_uid_by_order(df, "k", "sub")
    expect = {
        (r["k"], r["sub"]): r["uid"]
        for r in select_zoom_target(parts, targets, 0).collect()
    }
    got = {
        (r["k"], r["sub"]): r["uid"]
        for r in select_zoom_target_pruned(df, targets, 0, "k", "sub").collect()
    }
    assert got == expect and len(got) == 55
