"""FITS source (gated on astropy): record-array tables → DataFrame.

Reference semantics (src/scida/io/fits.py:15-59, io/_base.py:66-169):
a FITS BINTABLE record array becomes one column per field; record
``void`` sub-dtypes are skipped (io/fits.py:49-52); chunked slices of
the record array become the lazy partitions. The reference marks its
own FITS support WIP (io/_base.py:112).

Spark mapping: a format adapter over the shared split layer
(``sources/convert.py``) — (file, row-range) splits executed by the
shared ``mapInArrow`` kernel, each task opening the file with astropy
and reading its row slice (memory-mapped: only the requested rows touch
disk). This module adds BINTABLE TFORM parsing → Spark schema, row
counts from header cards, and the per-split record-array read. Without
astropy the read is gated; the record-array shim (``fits_shim``) runs
the same adapter in tests.
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
            "(scida_spark.sources.convert.plan_splits) are importable and "
            "tested; install astropy to enable load_fits_dataset()."
        )


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
    from scida_spark.sources.convert import plan_splits, read_splits
    from scida_spark.units import UnitRegistry

    with fits_mod.open(path, memmap=True) as hdul:
        cards = dict(hdul[hdu].header)
    schema, nrows, _ = schema_from_bintable_header(cards)

    def read_split(split, names):
        with _fits_module(backend_name).open(path, memmap=True) as hdul:
            rec = hdul[hdu].data[split.row_start:split.row_stop]
            for c in names:
                yield rec[c]

    splits = plan_splits([(path, nrows)], f"hdu{hdu}", rows_per_split)
    df = read_splits(spark, splits, schema, read_split)
    ureg = UnitRegistry()
    name = os.path.basename(path)
    root = FieldContainer(name=name)
    root[name] = FieldContainer(df, name=name, ureg=ureg)
    return Dataset(path=path, data=root, metadata={"fits_header": {k: str(v) for k, v in cards.items()}}, ureg=ureg)
