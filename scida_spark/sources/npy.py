"""npy-dir source: a Spark 4 Python Data Source for directories of
``.npy`` arrays. It is a format adapter over the shared split layer
(``sources/convert.py``): this module discovers the schema from the
numpy headers and reads a field's row range; split planning, uid
pushdown and the Arrow read come from ``RowRangeReader``.

Layout: ``<dir>/<field>.npy`` — one C-order array per field, all sharing
the leading dimension (the container row count), mirroring the
reference's one-dask-array-per-dataset model (reference
src/scida/io/_base.py:172-264). 2-D ``(N, k)`` fields become
``array<T>`` columns (§1.2 of SURVEY.md).

What it demonstrates, mapped to SURVEY §2.1/§4:

* schema discovery from metadata only — numpy headers are read without
  touching data (reference helpers_hdf5.py:55-135 walk)
* global ``uid`` injection from split bookkeeping (reference
  io/_base.py:734-750)
* splits = row ranges (``rows_per_split`` option) — chunk ≙ input split
* **uid-range filter pushdown → split pruning** (the one pushdown worth
  hand-writing per SURVEY §4: selector queries touch contiguous uid
  ranges, so most splits are skipped without opening files). Filters
  are *not* consumed — Spark re-applies them — so pruning is purely an
  I/O optimization and can never change results.
* column projection: the reader honors the schema Spark hands it, so
  only requested fields are memory-mapped.

Usage::

    spark.dataSource.register(NpyDataSource)
    df = (spark.read.format("npydir")
          .option("path", "/data/PartType0")
          .option("rows_per_split", 1 << 20)
          .load())
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from scida_spark.sources.convert import RowRangeReader, spark_type, struct_schema


def read_npy_header(path: str) -> tuple[tuple[int, ...], str]:
    """(shape, dtype-name) from the .npy header only — no data I/O."""
    with open(path, "rb") as fh:
        version = np.lib.format.read_magic(fh)
        shape, fortran, dtype = np.lib.format._read_array_header(fh, version)
        if fortran:
            raise ValueError(f"{path}: Fortran-order arrays unsupported")
        return shape, dtype.name


def discover_schema(path: str) -> tuple[StructType, int, list[str]]:
    """Walk the directory's headers → (schema incl. uid, nrows, fields).

    Unsupported dtypes are skipped, matching the reference's policy for
    vlen/void columns (io/_base.py:706-714, io/fits.py:49-52).
    """
    columns: list[tuple[str, int, str]] = []
    nrows: int | None = None
    for entry in sorted(os.listdir(path)):
        # Skip hidden/tmp files (same convention Spark's file sources
        # use for `.`/`_` prefixes) so atomic writers can stage
        # `.field.tmp.npy` in-place before os.replace.
        if not entry.endswith(".npy") or entry.startswith((".", "_")):
            continue
        shape, dtype = read_npy_header(os.path.join(path, entry))
        if spark_type(dtype) is None or len(shape) > 2:
            continue
        if nrows is None:
            nrows = shape[0]
        elif shape[0] != nrows:
            raise ValueError(
                f"{entry}: leading dim {shape[0]} != container rows {nrows}"
            )
        columns.append((entry[: -len(".npy")], shape[1] if len(shape) == 2 else 1, dtype))
    if nrows is None:
        raise ValueError(f"no readable .npy arrays under {path}")
    return struct_schema(columns), nrows, [c[0] for c in columns]


class NpyDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "npydir"

    def schema(self) -> StructType:
        schema, _, _ = discover_schema(self.options["path"])
        return schema

    def reader(self, schema: StructType) -> "NpyReader":
        return NpyReader(self.options["path"], schema,
                         int(self.options.get("rows_per_split", 1 << 20)))


class NpyReader(RowRangeReader):
    def __init__(self, path: str, schema: StructType, rows_per_split: int):
        self.path = path
        self.schema = schema
        self.rows_per_split = max(1, rows_per_split)
        _, self.nrows, _ = discover_schema(path)

    def read_rows(self, name: str, lo: int, hi: int) -> np.ndarray:
        # Memory-map → only the requested row range touches disk.
        return np.load(os.path.join(self.path, name + ".npy"), mmap_mode="r")[lo:hi]


def register(spark) -> None:
    """Register the source + enable Python filter pushdown (a runtime
    SQL conf — required for pushFilters, default-off in Spark 4.1)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(NpyDataSource)


def load_npy_dataset(path: str, spark, rows_per_split: int = 1 << 20,
                     units: bool | str = True):
    """Directory of ``<container>/<field>.npy`` trees → Dataset handle
    (one sub-container per subdirectory; a flat dir is one container)."""
    from scida_spark.dataset import Dataset
    from scida_spark.fields import FieldContainer
    from scida_spark.units import UnitRegistry

    register(spark)
    root = FieldContainer(name=os.path.basename(path.rstrip("/")))
    subdirs = [
        e for e in sorted(os.listdir(path))
        if os.path.isdir(os.path.join(path, e))
        and any(f.endswith(".npy") for f in os.listdir(os.path.join(path, e)))
    ]
    targets = [(d, os.path.join(path, d)) for d in subdirs] or [
        (os.path.basename(path.rstrip("/")), path)
    ]
    ureg = UnitRegistry()
    for name, sub in targets:
        df = (
            spark.read.format("npydir")
            .option("path", sub)
            .option("rows_per_split", rows_per_split)
            .load()
        )
        root[name] = FieldContainer(df, name=name, ureg=ureg)
    # npy trees carry no unit metadata; the units flag is accepted for
    # the uniform load(units=...) contract (nothing to attach here).
    _ = units
    return Dataset(path=path, data=root, metadata={}, ureg=ureg)
