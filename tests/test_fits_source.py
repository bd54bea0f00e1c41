"""Pure-Python FITS source tests (astropy gated — the parsing/planning
layer is real; byte reads require astropy)."""

from __future__ import annotations

import pytest

from scida_spark.sources.fits import (
    HAS_ASTROPY,
    parse_tform,
    schema_from_bintable_header,
)
from scida_spark.sources.convert import plan_splits, prune_splits_for_uid_range


def test_parse_tform():
    from pyspark.sql.types import DoubleType, FloatType, IntegerType, LongType

    assert parse_tform("D") == (1, DoubleType())
    assert parse_tform("3D") == (3, DoubleType())
    assert parse_tform("E") == (1, FloatType())
    assert parse_tform("J") == (1, IntegerType())
    assert parse_tform("1K") == (1, LongType())
    assert parse_tform("16X")[1] is None  # bit array → skipped
    assert parse_tform("PE(100)")[1] is None  # variable-length → skipped


def test_schema_from_bintable_header():
    cards = {
        "TFIELDS": 5,
        "NAXIS2": 1234,
        "TTYPE1": "ra",
        "TFORM1": "D",
        "TTYPE2": "dec",
        "TFORM2": "D",
        "TTYPE3": "flux",
        "TFORM3": "3E",
        "TTYPE4": "source_id",
        "TFORM4": "K",
        "TTYPE5": "flags",
        "TFORM5": "16X",  # unsupported → skipped
    }
    schema, nrows, kept = schema_from_bintable_header(cards)
    assert nrows == 1234
    assert kept == ["ra", "dec", "flux", "source_id"]
    assert schema.fieldNames() == ["uid", "ra", "dec", "flux", "source_id"]
    assert schema["flux"].dataType.typeName() == "array"


def test_split_plan_and_pruning_shared_with_hdf5():
    splits = plan_splits([("f.fits", 1000)], "hdu1", 300)
    assert [(s.row_start, s.row_stop, s.uid_start) for s in splits] == [
        (0, 300, 0),
        (300, 600, 300),
        (600, 900, 600),
        (900, 1000, 900),
    ]
    pruned = prune_splits_for_uid_range(splits, 350, 650)
    assert [(s.uid_start) for s in pruned] == [300, 600]


def test_gate_message_without_astropy():
    if HAS_ASTROPY:
        pytest.skip("astropy available")
    from scida_spark.sources.fits import _require_astropy

    with pytest.raises(ImportError, match="astropy"):
        _require_astropy()


SHIM = "scida_spark.sources.fits_shim"


def _make_fits_store(d, n=100, seed=3):
    import json
    import numpy as np

    d.mkdir(parents=True, exist_ok=True)
    rng = np.random.RandomState(seed)
    (d / "header.json").write_text(json.dumps({
        "TFIELDS": 4, "NAXIS2": n,
        "TTYPE1": "ra", "TFORM1": "D",
        "TTYPE2": "flux", "TFORM2": "3E",
        "TTYPE3": "source_id", "TFORM3": "K",
        "TTYPE4": "label", "TFORM4": "8A",
    }))
    np.save(d / "ra.npy", rng.uniform(0, 360, n))
    np.save(d / "flux.npy", rng.uniform(0, 1, (n, 3)).astype(np.float32))
    np.save(d / "source_id.npy", np.arange(n, dtype=np.int64) * 11)
    np.save(d / "label.npy", np.array([f"src{i:04d}" for i in range(n)], dtype="S8"))
    return d


def test_fits_kernel_end_to_end_via_shim(spark, tmp_path):
    """The real FITS read kernel executes against the record-array shim:
    doubles, float32 vectors, longs, and 'A' string columns all arrive
    as their DECLARED Spark types."""
    from pyspark.sql import functions as F

    from scida_spark.sources.fits import load_fits_dataset

    store = _make_fits_store(tmp_path / "survey.fits")
    ds = load_fits_dataset(str(store), spark, backend=SHIM)
    df = ds[list(ds.keys())[0]].df
    rows = df.orderBy("uid").collect()
    assert len(rows) == 100
    assert rows[7].source_id == 77
    assert rows[7].label == "src0007"
    assert len(rows[7].flux) == 3
    import numpy as np

    ra = np.load(store / "ra.npy")
    assert df.agg(F.sum("ra")).first()[0] == pytest.approx(float(ra.sum()))


def test_fits_split_invariance_via_shim(spark, tmp_path):
    from scida_spark.sources.fits import load_fits_dataset

    store = _make_fits_store(tmp_path / "s2.fits", n=64)
    a = load_fits_dataset(str(store), spark, rows_per_split=13, backend=SHIM)
    b = load_fits_dataset(str(store), spark, rows_per_split=500, backend=SHIM)
    da = a[list(a.keys())[0]].df.select("uid", "ra", "source_id")
    db = b[list(b.keys())[0]].df.select("uid", "ra", "source_id")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0
