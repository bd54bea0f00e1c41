"""HDF5 source end-to-end through the shim backend: the identical read
kernel, split planning, uid bookkeeping, and multi-file concatenation
that run with h5py — only the imported module differs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scida_spark.sources.convert import plan_splits
from scida_spark.sources.hdf5 import (
    load_hdf5_dataset,
    read_splits_arrow,
    walk_container,
)

SHIM = "scida_spark.sources.h5_shim"


def _make_snapshot(root, n, seed, with_pt1=True):
    rng = np.random.RandomState(seed)
    pt0 = root / "PartType0"
    pt0.mkdir(parents=True)
    np.save(pt0 / "Masses.npy", rng.uniform(0.1, 2.0, n))
    np.save(pt0 / "Coordinates.npy", rng.uniform(0, 100, (n, 3)))
    if with_pt1:
        pt1 = root / "PartType1"
        pt1.mkdir()
        np.save(pt1 / "Masses.npy", np.full(n // 2, 0.5))
    return root


def test_walk_container_shapes(tmp_path):
    import importlib

    _make_snapshot(tmp_path / "snap", 100, 1)
    shim = importlib.import_module(SHIM)
    with shim.File(str(tmp_path / "snap"), "r") as fh:
        infos = walk_container(fh, "PartType0")
    assert [(i.name, i.rows, i.width, i.dtype) for i in infos] == [
        ("Coordinates", 100, 3, "float64"),
        ("Masses", 100, 1, "float64"),
    ]


def test_single_file_load_values(spark, tmp_path):
    snap = _make_snapshot(tmp_path / "snap", 300, 2)
    ds = load_hdf5_dataset(str(snap), spark, backend=SHIM)
    pt0 = ds["PartType0"].df
    assert pt0.count() == 300
    masses = np.load(snap / "PartType0" / "Masses.npy")
    got = pt0.agg(F.sum("Masses")).first()[0]
    assert got == pytest.approx(float(masses.sum()))
    r = pt0.filter(F.col("uid") == 42).first()
    coords = np.load(snap / "PartType0" / "Coordinates.npy")
    assert list(r.Coordinates) == pytest.approx(list(coords[42]))
    assert ds["PartType1"].df.count() == 150


def test_multi_file_series_concat_uid(spark, tmp_path):
    """prefix.N file series: per-file rows → cumulative offsets →
    global uid (replaces the reference's virtual-HDF5 merge)."""
    series = tmp_path / "series"
    series.mkdir()
    sizes = [120, 80, 50]
    all_masses = []
    for i, n in enumerate(sizes):
        snap = _make_snapshot(series / f"snap.{i}.h5dir", n, 10 + i, with_pt1=False)
        all_masses.append(np.load(snap / "PartType0" / "Masses.npy"))
    ds = load_hdf5_dataset(str(series), spark, backend=SHIM)
    pt0 = ds["PartType0"].df
    rows = pt0.orderBy("uid").collect()
    assert len(rows) == sum(sizes)
    assert [r.uid for r in rows] == list(range(sum(sizes)))
    ref = np.concatenate(all_masses)
    # Spot-check file-boundary rows: last of file 0, first of file 1.
    assert rows[119].Masses == pytest.approx(ref[119])
    assert rows[120].Masses == pytest.approx(ref[120])
    assert rows[249].Masses == pytest.approx(ref[249])


def _two_file_series(tmp_path, pt1_in):
    """A 2-file series (120 + 80 PartType0 rows) whose PartType1 group
    exists only in the files listed in ``pt1_in``, the way Arepo and
    Gadget writers leave out a type a file holds no particles of."""
    series = tmp_path / "series"
    series.mkdir()
    for i, n in enumerate([120, 80]):
        _make_snapshot(series / f"snap.{i}.h5dir", n, 30 + i, with_pt1=i in pt1_in)
    return series


def test_series_container_missing_from_later_file(spark, tmp_path):
    series = _two_file_series(tmp_path, pt1_in={0})
    ds = load_hdf5_dataset(str(series), spark, rows_per_split=32, backend=SHIM)
    assert ds["PartType0"].df.count() == 200
    pt1 = ds["PartType1"].df.orderBy("uid").collect()
    assert [r.uid for r in pt1] == list(range(60))
    assert all(r.Masses == 0.5 for r in pt1)


def test_series_container_missing_from_first_file(spark, tmp_path):
    series = _two_file_series(tmp_path, pt1_in={1})
    ds = load_hdf5_dataset(str(series), spark, rows_per_split=32, backend=SHIM)
    assert list(ds.keys())[:2] == ["PartType0", "PartType1"]
    pt1 = ds["PartType1"].df.orderBy("uid").collect()
    assert [r.uid for r in pt1] == list(range(40))
    assert all(r.Masses == 0.5 for r in pt1)
    pt0 = ds["PartType0"].df.orderBy("uid").collect()
    assert [r.uid for r in pt0] == list(range(200))


def test_split_count_invariance(spark, tmp_path):
    snap = _make_snapshot(tmp_path / "snap", 200, 5, with_pt1=False)
    a = load_hdf5_dataset(str(snap), spark, rows_per_split=37, backend=SHIM)
    b = load_hdf5_dataset(str(snap), spark, rows_per_split=1000, backend=SHIM)
    da = a["PartType0"].df.select("uid", "Masses")
    db = b["PartType0"].df.select("uid", "Masses")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0


def test_projection_reads_only_requested(spark, tmp_path):
    import importlib

    snap = _make_snapshot(tmp_path / "snap", 64, 7, with_pt1=False)
    shim = importlib.import_module(SHIM)
    with shim.File(str(snap), "r") as fh:
        infos = walk_container(fh, "PartType0")
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("uid", LongType(), False), StructField("Masses", DoubleType(), False)]
    )
    splits = plan_splits([(str(snap), 64)], "PartType0", 32)
    df = read_splits_arrow(spark, splits, ["Masses"], schema, backend=SHIM)
    assert df.columns == ["uid", "Masses"]
    assert df.count() == 64


def test_gate_message_without_h5py():
    from scida_spark.sources.hdf5 import HAS_H5PY, _require_backend

    if HAS_H5PY:
        pytest.skip("h5py available")
    with pytest.raises(ImportError, match="h5py"):
        _require_backend()


# --------------------------------------------------------------------------
# Schema-walk oddballs (reference helpers_hdf5.py:36-47,82-83,301-359;
# io/_base.py:706-714)
# --------------------------------------------------------------------------


def test_zero_dim_dataset_demoted_to_attr(tmp_path):
    import importlib

    snap = _make_snapshot(tmp_path / "snap", 10, 3, with_pt1=False)
    np.save(snap / "PartType0" / "NumPart.npy", np.int64(10))  # 0-d
    shim = importlib.import_module(SHIM)
    attrs = {}
    with shim.File(str(snap), "r") as fh:
        infos = walk_container(fh, "PartType0", attrs_out=attrs)
    assert [i.name for i in infos] == ["Coordinates", "Masses"]
    assert attrs == {"NumPart": 10}


def test_vlen_string_dataset_skipped_with_warning(tmp_path):
    import importlib

    snap = _make_snapshot(tmp_path / "snap", 10, 4, with_pt1=False)
    np.save(
        snap / "PartType0" / "Labels.npy",
        np.array(["a", "bb", "ccc"] * 4)[:10],  # unicode dtype — vlen analog
        allow_pickle=False,
    )
    shim = importlib.import_module(SHIM)
    with shim.File(str(snap), "r") as fh:
        with pytest.warns(UserWarning, match="Labels.*not.*supported|not .*supported"):
            infos = walk_container(fh, "PartType0")
    assert [i.name for i in infos] == ["Coordinates", "Masses"]


def test_u6_dtype_coerced_to_uint64(spark, tmp_path):
    """MTNG 6-byte uints: .dtype access raises TypeError in h5py — the
    walk coerces to uint64 and the read kernel still loads values."""
    import importlib

    snap = _make_snapshot(tmp_path / "snap", 10, 5, with_pt1=False)
    ids = np.arange(10, dtype=np.uint64) + 7
    np.save(snap / "PartType0" / "ParticleIDs.npy", ids)
    (snap / "PartType0" / "ParticleIDs.u6").touch()  # marker: dtype unresolvable
    shim = importlib.import_module(SHIM)
    with shim.File(str(snap), "r") as fh:
        with pytest.raises(TypeError, match="<u6"):
            _ = fh["PartType0"]["ParticleIDs"].dtype
        infos = walk_container(fh, "PartType0")
    by_name = {i.name: i for i in infos}
    assert by_name["ParticleIDs"].dtype == "uint64"
    ds = load_hdf5_dataset(str(snap), spark, backend=SHIM)
    got = sorted(r.ParticleIDs for r in ds["PartType0"].df.collect())
    assert got == list(range(7, 17))


def test_attr_reconciliation_across_series(spark, tmp_path):
    """Multi-file attrs: equal values collapse to one, differing values
    become the per-file list (reference helpers_hdf5.py:301-359)."""
    import json

    series = tmp_path / "series"
    series.mkdir()
    for i, n in enumerate([30, 20]):
        snap = _make_snapshot(series / f"snap.{i}.h5dir", n, 20 + i, with_pt1=False)
        (snap / "_attrs.json").write_text(
            json.dumps({"BoxSize": 35000.0, "NumPart_ThisFile": n})
        )
        hdr = snap / "Header"
        hdr.mkdir()
        (hdr / "_attrs.json").write_text(
            json.dumps(
                {
                    "BoxSize": 35000.0,
                    "HubbleParam": 0.6774,
                    "Redshift": 2.0,
                    "Time": 1.0 / 3.0,
                    "NumFilesPerSnapshot": 2,
                    "NumPart_ThisFile": n,
                }
            )
        )
    ds = load_hdf5_dataset(str(series), spark, backend=SHIM)
    attrs = ds.metadata["attrs"]
    hdr = attrs["/Header"]
    assert hdr["BoxSize"] == 35000.0  # equal across files → single value
    assert hdr["NumPart_ThisFile"] == [30, 20]  # differs → per-file list
    assert attrs["/"]["NumPart_ThisFile"] == [30, 20]
    # Reconciled Header attrs feed the simulation-config + cosmology
    # layers exactly like the parquet path:
    assert ds.metadata["simulation"] == "TNG50"
    assert ds.redshift == pytest.approx(2.0)
    assert ds.ureg["code_mass"].conversion_factor(ds.ureg["Msun"]) == pytest.approx(
        1e10 / 0.6774, rel=1e-12
    )
    assert ds["gas"] is ds.containers["PartType0"]


def test_real_h5py_roundtrip_if_available(spark, tmp_path):
    """Runs the identical kernel against real HDF5 files when h5py is
    installed (skipped in this container — the shim tests above execute
    the same code path)."""
    h5py = pytest.importorskip("h5py")
    p = tmp_path / "snap.hdf5"
    with h5py.File(p, "w") as f:
        g = f.create_group("PartType0")
        g.create_dataset("Masses", data=np.linspace(0.1, 1.0, 50))
        g.create_dataset("Coordinates", data=np.zeros((50, 3)))
    ds = load_hdf5_dataset(str(p), spark, backend="h5py")
    assert ds["PartType0"].df.count() == 50


def test_shim_h5py_api_parity_contract():
    """The shim must expose exactly the h5py surface the kernel uses, so
    swapping backends is a one-line config change (verdict follow-up:
    keep the swap one-line-safe while h5py is not installable here).
    The contract list is the full set of h5py.File/Group/Dataset
    members referenced by sources/hdf5.py."""
    import importlib

    shim = importlib.import_module(SHIM)
    # File: context manager + mapping
    for attr in ("__enter__", "__exit__", "keys", "__getitem__", "close"):
        assert hasattr(shim.File, attr), f"File.{attr} missing"
    # Group: mapping + attrs
    for attr in ("keys", "__getitem__", "__contains__", "attrs"):
        assert hasattr(shim.ShimGroup, attr), f"Group.{attr} missing"
    # Dataset: shape/dtype/slicing
    for attr in ("shape", "dtype", "__getitem__", "__len__"):
        assert hasattr(shim.ShimDataset, attr), f"Dataset.{attr} missing"
    # And the kernel itself references no other backend members:
    import inspect

    import scida_spark.sources.hdf5 as H

    src = inspect.getsource(H)
    import re

    used = set(re.findall(r"\b(?:_h5|fh|h5file|grp|ds)\.(\w+)", src))
    allowed = {
        # module-level
        "File",
        # object members from the contract above
        "keys", "attrs", "shape", "dtype",
        # python-level constructs that are not backend API
        "items", "get", "name", "rows", "width", "dtype",
    }
    unexpected = used - allowed
    assert not unexpected, f"kernel uses unlisted backend API: {unexpected}"
