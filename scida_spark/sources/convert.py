"""The split layer every file source shares: (file, row-range) splits
with global uid bookkeeping, uid-range split pruning, one numpy-dtype →
Spark-type map, numpy → Arrow conversion that honors the DECLARED
Spark schema, and the two read paths.

Per-file row counts become cumulative offsets and a global ``uid``
(reference io/_base.py:734-750); each (file, row-range) split becomes
one task; uid-range split pruning is the one pushdown worth
hand-writing (SURVEY §4). Each source (npy, zarr, hdf5, fits) is only
a format adapter over this module.

Two read paths, each written once:

* :class:`RowRangeReader` — a Spark 4 Python Data Source reader (npy,
  zarr). Data Source filter pushdown lets a uid selection skip the
  splits it does not touch, so a selector's cost tracks the selection.
* :func:`read_splits` — ``mapInArrow`` over ``spark.range`` (hdf5,
  fits). The split list is captured in the kernel, so a query plans
  with no Python planner call.

Every kernel must emit exactly the Arrow types its schema declares. The
dtype map widens unsigned ints to LongType and keeps float32 as
FloatType, so the kernel has to ``astype`` accordingly; yielding raw
``uint32``/``uint64`` Arrow arrays crashes Spark with
UNSUPPORTED_ARROWTYPE, and ``.tolist()`` for 2-D data silently changes
the element type.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql.datasource import DataSourceReader, InputPartition
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# numpy dtype name → Spark type. Unsigned ints widen to LongType (the
# reference coerces oddballs up, helpers_hdf5.py:36-47).
_NP_TO_SPARK = {
    "float32": FloatType(),
    "float64": DoubleType(),
    "int32": IntegerType(),
    "int64": LongType(),
    "uint32": LongType(),
    "uint64": LongType(),
}

_SPARK_TO_NP = {
    "long": np.int64,
    "integer": np.int32,
    "short": np.int16,
    "float": np.float32,
    "double": np.float64,
}


def spark_type(dtype):
    """Spark type for a numpy dtype (or its string), None if unsupported."""
    return _NP_TO_SPARK.get(np.dtype(dtype).name)


def struct_schema(columns) -> StructType:
    """``(name, width, dtype)`` columns → StructType: a non-null ``uid``
    long, then one non-null column per supported dtype (``array<T>``
    where width > 1). Unsupported dtypes are skipped, the reference's
    policy for vlen/void columns (io/_base.py:706-714)."""
    fields = [StructField("uid", LongType(), False)]
    for name, width, dtype in columns:
        t = spark_type(dtype)
        if t is not None:
            fields.append(StructField(name, ArrayType(t, False) if width > 1 else t, False))
    return StructType(fields)


def to_arrow_column(arr: np.ndarray, field):
    """Convert a 1-D or 2-D numpy block to the Arrow array the Spark
    ``StructField`` declares (cast + FixedSizeList→list for 2-D)."""
    import pyarrow as pa

    t = field.dataType
    if t.typeName() == "array":
        el = _SPARK_TO_NP[t.elementType.typeName()]
        mat = np.ascontiguousarray(arr).astype(el, copy=False)
        flat = pa.array(mat.reshape(-1))
        return pa.FixedSizeListArray.from_arrays(flat, mat.shape[1]).cast(
            pa.list_(flat.type)
        )
    if t.typeName() == "string":
        a = np.asarray(arr)
        if a.dtype.kind == "S":  # FITS 'A' columns arrive as bytes
            return pa.array([b.decode("ascii", "replace").rstrip() for b in a])
        return pa.array([str(x) for x in a])
    el = _SPARK_TO_NP[t.typeName()]
    return pa.array(np.ascontiguousarray(arr).astype(el, copy=False))


@dataclass(frozen=True)
class Split:
    file: str
    container: str
    row_start: int  # file-local
    row_stop: int
    uid_start: int  # global (cumulative across the file series)


def plan_splits(
    file_rows: list[tuple[str, int]], container: str, target_rows_per_split: int
) -> list[Split]:
    """Plan (file, row-range) splits with global uid bookkeeping.

    ``file_rows`` = [(path, nrows), ...] in series order (numeric-sorted
    file discovery, reference io/_base.py:974-1045). Replaces the
    virtual-HDF5 concat: per-file counts → cumulative offsets. A file
    with 0 rows contributes no split.
    """
    splits: list[Split] = []
    uid = 0
    for path, nrows in file_rows:
        start = 0
        while start < nrows:
            stop = min(start + target_rows_per_split, nrows)
            splits.append(Split(path, container, start, stop, uid + start))
            start = stop
        uid += nrows
    return splits


def prune_splits_for_uid_range(
    splits: list[Split], uid_lo: int, uid_hi: int
) -> list[Split]:
    """uid-range predicate → split pruning (SURVEY §4: the one
    pushdown worth hand-writing — selector queries touch contiguous uid
    ranges, so most splits are skipped without opening the file)."""
    out = []
    for s in splits:
        n = s.row_stop - s.row_start
        if s.uid_start < uid_hi and s.uid_start + n > uid_lo:
            out.append(s)
    return out


def narrow_uid_bounds(filters, lo: int, hi: int):
    """Consume-nothing uid-range narrowing for DataSourceReader
    ``pushFilters``: yields every filter back (Spark re-applies them —
    pruning is purely an I/O optimization) while tightening [lo, hi).
    Returns (kept_filters_list, lo, hi).
    """
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    kept = []
    for f in filters:
        kept.append(f)
        if getattr(f, "attribute", None) != ("uid",):
            continue
        v = f.value
        if isinstance(f, GreaterThanOrEqual):
            lo = max(lo, int(v))
        elif isinstance(f, GreaterThan):
            lo = max(lo, int(v) + 1)
        elif isinstance(f, LessThanOrEqual):
            hi = min(hi, int(v) + 1)
        elif isinstance(f, LessThan):
            hi = min(hi, int(v))
        elif isinstance(f, EqualTo):
            lo = max(lo, int(v))
            hi = min(hi, int(v) + 1)
    return kept, lo, hi


@dataclass
class RowRange(InputPartition):
    start: int  # global row / uid
    stop: int


class RowRangeReader(DataSourceReader):
    """Data Source reader over one container of ``nrows`` rows whose
    fields are addressed by row range. Subclasses set ``nrows``,
    ``rows_per_split`` and ``schema`` in ``__init__`` and implement
    :meth:`read_rows`.

    Partitions are :func:`plan_splits` over the container, pruned by the
    uid bounds that ``pushFilters`` narrowed. Filters are not consumed —
    Spark re-applies them — so pruning can never change results."""

    nrows: int
    rows_per_split: int
    schema: StructType
    _uid_bounds: tuple[int, int] | None = None

    def read_rows(self, name: str, lo: int, hi: int) -> np.ndarray:
        """Rows [lo, hi) of field ``name``."""
        raise NotImplementedError

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        kept, lo, hi = narrow_uid_bounds(filters, 0, self.nrows)
        self._uid_bounds = (lo, hi)
        yield from kept

    def partitions(self):
        lo, hi = self._uid_bounds or (0, self.nrows)
        splits = plan_splits([("", self.nrows)], "", self.rows_per_split)
        return [
            RowRange(s.uid_start, s.uid_start + s.row_stop - s.row_start)
            for s in prune_splits_for_uid_range(splits, lo, hi)
        ] or [RowRange(0, 0)]

    def read(self, partition: RowRange):
        import pyarrow as pa

        lo, hi = partition.start, partition.stop
        if hi <= lo:
            return
        cols: dict[str, object] = {}
        for field in self.schema.fields:
            if field.name == "uid":
                cols["uid"] = pa.array(np.arange(lo, hi, dtype=np.int64))
            else:
                cols[field.name] = to_arrow_column(self.read_rows(field.name, lo, hi), field)
        yield pa.RecordBatch.from_pydict(cols)


def read_splits(spark, splits: list[Split], schema: StructType, read_split):
    """Distributed read of ``splits`` as ``mapInArrow`` tasks, one per
    split. ``read_split(split, names)`` yields one numpy block per name
    (the schema's fields after ``uid``, in order); a generator may keep
    its file open while the blocks are converted.

    The plan is ``spark.range(0, n, 1, n)``: partition i holds the one
    id i, and the kernel looks split i up in the list its closure
    captured. Parallelizing the split rows instead would add a
    pickled-RDD leaf stage and a round-robin Exchange to every read."""
    fields = [f for f in schema.fields if f.name != "uid"]
    names = [f.name for f in fields]
    plan_df = spark.range(0, len(splits), 1, max(1, len(splits)))

    def read_one(iterator):
        import pyarrow as pa

        for batch in iterator:
            for i in batch.column("id").to_pylist():
                s = splits[i]
                data = {
                    "uid": pa.array(np.arange(
                        s.uid_start, s.uid_start + s.row_stop - s.row_start, dtype=np.int64
                    ))
                }
                # Cast to the DECLARED type: on-disk data is uint64 IDs,
                # float32 coordinates, big-endian FITS numerics and 'S'
                # bytes, which raw Arrow conversion rejects or mistypes.
                for block, f in zip(read_split(s, names), fields):
                    data[f.name] = to_arrow_column(np.asarray(block), f)
                yield pa.RecordBatch.from_pydict(data)

    return plan_df.mapInArrow(read_one, schema)


def natural_sort_key(name: str):
    """Mixed digit/text natural sort that never compares int to str:
    emit (is_text, token) pairs (reference numeric file ordering,
    io/_base.py:1029-1045, without the crash on heterogeneous names)."""
    import re

    return [
        (0, int(t)) if t.isdigit() else (1, t)
        for t in re.split(r"(\d+)", name)
        if t != ""
    ]
