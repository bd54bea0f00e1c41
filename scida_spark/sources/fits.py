"""FITS source (gated on astropy): record-array tables → DataFrame.

Reference semantics (src/scida/io/fits.py:15-59, io/_base.py:66-169):
a FITS BINTABLE record array becomes one column per field; record
``void`` sub-dtypes are skipped (io/fits.py:49-52); chunked slices of
the record array become the lazy partitions. The reference marks its
own FITS support WIP (io/_base.py:112).

Spark mapping: the same split-planning framework as the HDF5/npy
sources — (file, row-range) splits executed via ``mapInArrow``, each
task opening the file with astropy and reading its row slice
(memory-mapped: only the requested rows touch disk). astropy is not
installed in this container, so the byte-reading kernel is gated; the
pure-Python parts — BINTABLE TFORM parsing → Spark schema, row-count
extraction from header cards, split planning — are real and tested.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

try:
    from astropy.io import fits as _fits  # noqa: F401

    HAS_ASTROPY = True
except ImportError:
    HAS_ASTROPY = False

# Pluggable backend (same pattern as sources/hdf5.py): a module NAME
# exposing astropy's ``open(path, memmap=...)`` → HDU-list API. Tests
# inject ``scida_spark.sources.fits_shim`` so the real read kernel runs
# in CI; with astropy installed nothing changes but the import.
_FITS_BACKEND = "astropy.io.fits"


def _fits_module(name: str | None = None):
    import importlib

    return importlib.import_module(name or _FITS_BACKEND)

# FITS BINTABLE TFORMn codes → Spark types (FITS standard 4.0 §7.3.3).
_TFORM_MAP = {
    "L": None,  # logical — rare in survey catalogs; skip like void
    "B": ShortType(),  # unsigned byte, widened
    "I": ShortType(),  # 16-bit
    "J": IntegerType(),  # 32-bit
    "K": LongType(),  # 64-bit
    "E": FloatType(),  # float32
    "D": DoubleType(),  # float64
    "A": StringType(),  # character
}


def parse_tform(tform: str):
    """'rT' → (repeat, spark_type) — e.g. '3D' → (3, DoubleType).

    Unsupported codes (complex 'C'/'M', bit 'X', variable-length 'P'/'Q',
    logical 'L') return (r, None) and are skipped by the schema builder —
    the FITS analog of the reference skipping void sub-dtypes
    (io/fits.py:49-52) and vlen HDF5 dtypes (io/_base.py:706-714).
    """
    tform = tform.strip().upper()
    i = 0
    while i < len(tform) and tform[i].isdigit():
        i += 1
    repeat = int(tform[:i]) if i else 1
    code = tform[i : i + 1]
    return repeat, _TFORM_MAP.get(code)


def schema_from_bintable_header(cards: dict) -> tuple[StructType, int, list[str]]:
    """(schema incl. uid, nrows, kept field names) from BINTABLE header
    cards (TFIELDS/NAXIS2/TTYPEn/TFORMn) — metadata only, no data I/O.
    """
    nfields = int(cards["TFIELDS"])
    nrows = int(cards["NAXIS2"])
    fields = [StructField("uid", LongType(), False)]
    kept: list[str] = []
    for n in range(1, nfields + 1):
        name = str(cards.get(f"TTYPE{n}", f"col{n}")).strip()
        repeat, typ = parse_tform(str(cards[f"TFORM{n}"]))
        if typ is None:
            continue
        if isinstance(typ, StringType):
            # 'rA' is a single string of length r, not an array.
            fields.append(StructField(name, typ, True))
        elif repeat > 1:
            fields.append(StructField(name, ArrayType(typ, False), True))
        else:
            fields.append(StructField(name, typ, True))
        kept.append(name)
    return StructType(fields), nrows, kept


def _require_astropy():
    if not HAS_ASTROPY:
        raise ImportError(
            "FITS reading requires astropy, which is not installed in this "
            "environment. TFORM parsing (parse_tform), header→schema "
            "(schema_from_bintable_header) and split planning "
            "(scida_spark.sources.hdf5.plan_splits) are importable and "
            "tested; install astropy to enable load_fits_dataset()."
        )


def read_fits_splits(spark, path: str, hdu: int, splits, columns: list[str], schema,
                     backend: str | None = None):
    """Distributed BINTABLE read: one mapInArrow task per row-range split,
    memmap per task (projection: only ``columns``). Planned over
    ``spark.range`` like ``sources.hdf5.read_splits_arrow``: partition i
    holds the id i of the split it reads."""
    backend_name = backend or _FITS_BACKEND
    if backend_name == "astropy.io.fits":
        _require_astropy()
    plan = [(s.row_start, s.row_stop, s.uid_start) for s in splits]
    plan_df = spark.range(0, len(plan), 1, max(1, len(plan)))

    fields_by_name = {f.name: f for f in schema.fields}

    def read_one(iterator):
        import numpy as np
        import pyarrow as pa

        from scida_spark.sources.convert import to_arrow_column
        from scida_spark.sources.fits import _fits_module

        fits = _fits_module(backend_name)
        for batch in iterator:
            for i in batch.column("id").to_pylist():
                lo, hi, uid_start = plan[i]
                with fits.open(path, memmap=True) as hdul:
                    rec = hdul[hdu].data[lo:hi]
                    data = {
                        "uid": pa.array(np.arange(
                            uid_start, uid_start + hi - lo, dtype=np.int64
                        ))
                    }
                    for c in columns:
                        # Cast to the DECLARED type: record arrays hold
                        # 'S' bytes for 'A' columns and big-endian
                        # numerics — raw Arrow conversion mistypes both.
                        data[c] = to_arrow_column(
                            np.asarray(rec[c]), fields_by_name[c]
                        )
                    yield pa.RecordBatch.from_pydict(data)

    return plan_df.mapInArrow(read_one, schema)


def load_fits_dataset(path: str, spark, hdu: int = 1, rows_per_split: int = 1 << 20,
                      backend: str | None = None):
    """FITS file → Dataset handle (header-driven schema + split plan)."""
    import os

    backend_name = backend or _FITS_BACKEND
    if backend_name == "astropy.io.fits":
        _require_astropy()
    fits_mod = _fits_module(backend_name)

    from scida_spark.dataset import Dataset
    from scida_spark.fields import FieldContainer
    from scida_spark.sources.hdf5 import plan_splits
    from scida_spark.units import UnitRegistry

    with fits_mod.open(path, memmap=True) as hdul:
        cards = dict(hdul[hdu].header)
    schema, nrows, columns = schema_from_bintable_header(cards)
    splits = plan_splits([(path, nrows)], f"hdu{hdu}", rows_per_split)
    df = read_fits_splits(spark, path, hdu, splits, columns, schema, backend=backend_name)
    ureg = UnitRegistry()
    name = os.path.basename(path)
    root = FieldContainer(name=name)
    root[name] = FieldContainer(df, name=name, ureg=ureg)
    return Dataset(path=path, data=root, metadata={"fits_header": {k: str(v) for k, v in cards.items()}}, ureg=ureg)
