"""Dataset load/save/selector/series — mirrors the reference's
integration tier (test_io_load.py, test_save_load.py, test_series.py)
on the parquet-dir layout."""

import json
import os

import pytest
from pyspark.sql import functions as F

from scida_spark.dataset import Dataset, load
from scida_spark.fields import FieldContainer
from scida_spark.operators import catalog as C
from scida_spark.series import DatasetSeries


@pytest.fixture()
def snapshot_dir(spark, tmp_path):
    """Synthetic snapshot: particles with catalog IDs + group catalog."""
    out = str(tmp_path / "snap")
    particles = spark.range(100).withColumnRenamed("id", "uid").withColumn(
        "Masses", (F.col("uid") * 1.0)
    )
    groups = spark.createDataFrame(
        [(0, 40, 0, 2), (1, 30, 2, 1), (2, 20, 3, 1)],
        "GroupID long, GroupLen long, GroupFirstSub long, GroupNsubs long",
    )
    parts = C.add_group_ids_auto(particles, groups)
    root = FieldContainer(name="snap")
    pc = FieldContainer(parts, name="PartType0")
    pc.field_units["Masses"] = "code_mass"
    root["PartType0"] = pc
    root["Group"] = FieldContainer(groups, name="Group")
    ds = Dataset(path=out, data=root, metadata={"redshift": 1.5, "boxsize": 100.0})
    ds.save(out)
    return out


def test_save_load_roundtrip(spark, snapshot_dir):
    ds = load(snapshot_dir, spark=spark)
    assert set(ds.containers) == {"PartType0", "Group"}
    assert ds.metadata["redshift"] == 1.5
    pt0 = ds["PartType0"]
    assert pt0.field_units.get("Masses") == "code_mass"
    total = pt0.df.agg(F.sum("Masses").alias("s")).first()["s"]
    assert total == sum(range(100))


def test_item_access_delegates(spark, snapshot_dir):
    ds = load(snapshot_dir, spark=spark)
    col = ds["PartType0"]["Masses"]  # container → Column
    assert ds["PartType0"].df.select(col).count() == 100


def test_selector_return_data(spark, snapshot_dir):
    ds = load(snapshot_dir, spark=spark)
    view = ds.return_data(haloID=1)
    assert view["PartType0"].df.count() == 30
    unbound = ds.return_data(unbound=True)
    assert unbound["PartType0"].df.count() == 10


def test_alias_on_loaded(spark, snapshot_dir):
    ds = load(snapshot_dir, spark=spark)
    ds.data.add_alias("gas", "PartType0")
    assert ds["gas"].df.count() == 100


def test_series_nearest_metadata(spark, tmp_path):
    paths = []
    for i, z in enumerate([0.0, 1.0, 2.0]):
        p = str(tmp_path / f"snapdir_{i:03d}")
        root = FieldContainer(name=f"s{i}")
        root["PartType0"] = FieldContainer(spark.range(10 + i), name="PartType0")
        Dataset(path=p, data=root, metadata={"redshift": z}).save(p)
        paths.append(p)
    series = DatasetSeries(paths, spark=spark, cache_dir=str(tmp_path / "cache"))
    assert len(series) == 3
    ds = series.get_dataset(redshift=1.02, reltol=0.05)
    assert ds.metadata["redshift"] == 1.0
    with pytest.raises(ValueError):
        series.get_dataset(redshift=5.0)
    ds0 = series.get_dataset(name="snapdir_000")
    assert ds0.metadata["redshift"] == 0.0
    # metadata cache file written
    cache_files = os.listdir(str(tmp_path / "cache"))
    assert any(f.startswith("series_meta_") for f in cache_files)


def test_info_surfaces(spark, snapshot_dir, tmp_path, capsys):
    ds = load(snapshot_dir, spark=spark)
    ds.info(listfields=True, counts=True)
    out = capsys.readouterr().out
    assert "class: Dataset" in out and "source: " in out
    assert "redshift: 1.5" in out
    assert "PartType0" in out and "Group" in out
    assert "entries: 100" in out  # counts=True ran the scan
    assert "Masses" in out  # listfields=True
    # container tree string form, no counts by default (no Spark job)
    tree = ds.data.info()
    assert "PartType0" in tree and "entries" not in tree

    p = str(tmp_path / "s0")
    root = FieldContainer(name="s0")
    root["PartType0"] = FieldContainer(spark.range(10), name="PartType0")
    Dataset(path=p, data=root, metadata={"redshift": 0.5}).save(p)
    series = DatasetSeries([p], spark=spark)
    series.info()
    out = capsys.readouterr().out
    assert "datasets: 1" in out and "z=0.5" in out


def test_hdf5_gated(spark, tmp_path):
    from scida_spark.sources.convert import plan_splits, prune_splits_for_uid_range
    from scida_spark.sources.hdf5 import HAS_H5PY

    # split planning is pure-Python and always available
    splits = plan_splits([("a.0.hdf5", 100), ("a.1.hdf5", 50)], "PartType0", 40)
    assert [(s.file, s.row_start, s.row_stop, s.uid_start) for s in splits] == [
        ("a.0.hdf5", 0, 40, 0),
        ("a.0.hdf5", 40, 80, 40),
        ("a.0.hdf5", 80, 100, 80),
        ("a.1.hdf5", 0, 40, 100),
        ("a.1.hdf5", 40, 50, 140),
    ]
    pruned = prune_splits_for_uid_range(splits, 90, 120)
    assert [(s.file, s.uid_start) for s in pruned] == [("a.0.hdf5", 80), ("a.1.hdf5", 100)]
    if not HAS_H5PY:
        with pytest.raises(ImportError):
            load(str(tmp_path / "x.hdf5"), spark=spark)


def test_series_cache_corruption_recovery(spark, tmp_path):
    """A truncated/corrupt metadata cache rebuilds instead of raising
    (reference tests/external/test_load.py:114 test_load_cachefail)."""
    paths = []
    for i, z in enumerate([0.0, 1.0]):
        p = str(tmp_path / f"snapdir_{i:03d}")
        root = FieldContainer(name=f"s{i}")
        root["PartType0"] = FieldContainer(spark.range(5), name="PartType0")
        Dataset(path=p, data=root, metadata={"redshift": z}).save(p)
        paths.append(p)
    cache_dir = str(tmp_path / "cache")
    series = DatasetSeries(paths, spark=spark, cache_dir=cache_dir)
    _ = series.metadata  # writes the cache
    cp = series._cache_path()
    assert os.path.exists(cp)
    with open(cp, "w") as fh:
        fh.write('[{"redshift": 0.0}, {"redsh')  # truncated mid-write
    fresh = DatasetSeries(paths, spark=spark, cache_dir=cache_dir)
    meta = fresh.metadata
    assert [m["redshift"] for m in meta] == [0.0, 1.0]
    # the bad file was overwritten with a valid cache
    with open(cp) as fh:
        assert json.load(fh) == meta
    # stale cache from a different member count also rebuilds
    with open(cp, "w") as fh:
        json.dump([{"redshift": 9.9}], fh)
    assert len(DatasetSeries(paths, spark=spark, cache_dir=cache_dir).metadata) == 2
