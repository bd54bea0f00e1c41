"""Contract of the shared Data Source reader
(``sources/convert.py::RowRangeReader``) on both sources built on it:
uid filters prune splits to exactly the ones they touch, and a
selection past the end plans one empty partition."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

N = 1000
SPLIT = 100  # rows per split on both sources


@pytest.fixture(scope="module", params=["npy", "zarr"])
def source_df(request, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"rr_{request.param}")
    ids = np.arange(N, dtype=np.int64) * 7
    coords = np.arange(3 * N, dtype=np.float64).reshape(N, 3)
    if request.param == "npy":
        from scida_spark.sources.npy import register

        np.save(d / "IDs.npy", ids)
        np.save(d / "Coordinates.npy", coords)
        register(spark)
        return (
            spark.read.format("npydir")
            .option("path", str(d))
            .option("rows_per_split", SPLIT)
            .load()
        )
    from scida_spark.sources.zarr import register, write_zarr_array

    write_zarr_array(str(d / "IDs"), ids, chunks=SPLIT)
    write_zarr_array(str(d / "Coordinates"), coords, chunks=SPLIT)
    register(spark)
    return (
        spark.read.format("zarrdir")
        .option("path", str(d))
        .option("chunks_per_split", 1)
        .load()
    )


def test_unfiltered_plans_every_split(source_df):
    assert source_df.rdd.getNumPartitions() == N // SPLIT
    assert source_df.count() == N


def test_filter_past_the_end_plans_one_empty_partition(source_df):
    sel = source_df.filter(F.col("uid") >= N + 50)
    assert sel.count() == 0
    assert sel.rdd.getNumPartitions() == 1


def test_range_straddling_one_boundary_plans_two_partitions(source_df):
    sel = source_df.filter((F.col("uid") >= 3 * SPLIT - 20) & (F.col("uid") < 3 * SPLIT + 20))
    assert sel.rdd.getNumPartitions() == 2
    rows = sel.orderBy("uid").collect()
    assert [r.uid for r in rows] == list(range(3 * SPLIT - 20, 3 * SPLIT + 20))
    assert [r.IDs for r in rows] == [7 * u for u in range(3 * SPLIT - 20, 3 * SPLIT + 20)]


def test_uid_equals_plans_one_partition(source_df):
    sel = source_df.filter(F.col("uid") == 517)
    assert sel.rdd.getNumPartitions() == 1
    (row,) = sel.collect()
    assert row.IDs == 7 * 517
    assert list(row.Coordinates) == [1551.0, 1552.0, 1553.0]
