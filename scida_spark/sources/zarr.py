"""Zarr v2 source — a real, runnable distributed reader built on the
format's open spec, no zarr-python needed.

Zarr v2 is deliberately simple: per-array JSON metadata (``.zarray``)
plus one file per chunk, named by grid index ("0", "1", ... for 1-D,
"i.j" for 2-D), raw or zlib/gzip-compressed C-order bytes. That subset
(little-endian numeric dtypes, C order, null/zlib/gzip compressor, no
filters) covers the scientific-array use the reference reads zarr for
(reference io/_base.py:267-345); anything fancier (blosc, filters,
F-order) raises with a clear message rather than mis-reading.

Like sources/npy.py, a format adapter over the shared Data Source
reader (``sources/convert.py::RowRangeReader``, which brings the global
``uid``, uid pushdown → split pruning and the Arrow read). This module
adds:
  * schema discovery from metadata only (.zarray JSON — no data I/O)
  * chunk-grid-aligned splits (chunk ≙ input split; each task
    decompresses only the chunks overlapping its range)

A matching minimal writer (:func:`write_zarr_array`) exists so tests
exercise the full path end-to-end.
"""

from __future__ import annotations

import json
import math
import os
import zlib
from dataclasses import dataclass

import numpy as np
from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from scida_spark.sources.convert import RowRangeReader, struct_schema

# Little-endian numeric zarr dtypes (each also a numpy dtype string).
_ZARR_DTYPES = ("<f4", "<f8", "<i4", "<i8", "<u4", "<u8")

_SUPPORTED_COMPRESSORS = (None, "zlib", "gzip")


@dataclass(frozen=True)
class ZarrArrayMeta:
    path: str  # directory holding .zarray + chunk files
    name: str
    shape: tuple[int, ...]
    chunks: tuple[int, ...]
    dtype: str  # zarr dtype string
    compressor: str | None
    fill_value: float


def read_zarray_meta(array_dir: str) -> ZarrArrayMeta:
    with open(os.path.join(array_dir, ".zarray")) as fh:
        z = json.load(fh)
    if z.get("zarr_format") != 2:
        raise ValueError(f"{array_dir}: only zarr v2 supported")
    if z.get("order", "C") != "C":
        raise ValueError(f"{array_dir}: Fortran order unsupported")
    if z.get("filters"):
        raise ValueError(f"{array_dir}: filters unsupported")
    comp = z.get("compressor")
    comp_id = comp["id"] if comp else None
    if comp_id not in _SUPPORTED_COMPRESSORS:
        raise ValueError(
            f"{array_dir}: compressor {comp_id!r} unsupported (null/zlib/gzip only)"
        )
    if z["dtype"] not in _ZARR_DTYPES:
        raise ValueError(f"{array_dir}: dtype {z['dtype']!r} unsupported")
    # Only row-chunked 2-D arrays: a second chunk axis would mean
    # multiple files per row chunk ("i.j" grid) — reject rather than
    # silently read a partial width.
    if len(z["shape"]) == 2 and z["chunks"][1] != z["shape"][1]:
        raise ValueError(
            f"{array_dir}: column-chunked 2-D arrays unsupported "
            f"(chunks {z['chunks']} vs shape {z['shape']})"
        )
    return ZarrArrayMeta(
        path=array_dir,
        name=os.path.basename(array_dir.rstrip("/")),
        shape=tuple(z["shape"]),
        chunks=tuple(z["chunks"]),
        dtype=z["dtype"],
        compressor=comp_id,
        fill_value=z.get("fill_value") or 0,
    )


def _decompress(raw: bytes, compressor: str | None) -> bytes:
    if compressor is None:
        return raw
    if compressor == "zlib":
        return zlib.decompress(raw)
    if compressor == "gzip":
        import gzip as _gzip

        return _gzip.decompress(raw)
    raise ValueError(compressor)


def read_zarr_rows(meta: ZarrArrayMeta, lo: int, hi: int) -> np.ndarray:
    """Rows [lo, hi) of a 1-D/2-D zarr array: open only the overlapping
    chunk files, decompress, assemble, slice. Missing chunk file →
    fill_value (zarr semantics for never-written chunks)."""
    np_dtype = np.dtype(meta.dtype)
    crows = meta.chunks[0]
    width = meta.shape[1] if len(meta.shape) == 2 else None
    c0, c1 = lo // crows, (hi - 1) // crows
    parts = []
    for ci in range(c0, c1 + 1):
        fname = str(ci) if width is None else f"{ci}.0"
        fpath = os.path.join(meta.path, fname)
        chunk_shape = (crows,) if width is None else (crows, meta.chunks[1])
        if os.path.exists(fpath):
            with open(fpath, "rb") as fh:
                buf = _decompress(fh.read(), meta.compressor)
            arr = np.frombuffer(buf, dtype=np_dtype).reshape(chunk_shape)
        else:
            arr = np.full(chunk_shape, meta.fill_value, dtype=np_dtype)
        parts.append(arr)
    block = np.concatenate(parts, axis=0) if len(parts) > 1 else parts[0]
    # Trim the block (last chunk may be padded past shape[0]).
    off = c0 * crows
    out = block[lo - off : hi - off]
    if width is not None and out.shape[1] != width:
        out = out[:, :width]
    return out


def discover_zarr_container(path: str) -> tuple[StructType, int, list[ZarrArrayMeta]]:
    """All arrays directly under ``path`` sharing the leading dim →
    (schema incl. uid, nrows, metas). Metadata-only."""
    metas: list[ZarrArrayMeta] = []
    nrows: int | None = None
    for entry in sorted(os.listdir(path)):
        adir = os.path.join(path, entry)
        if not os.path.isfile(os.path.join(adir, ".zarray")):
            continue
        m = read_zarray_meta(adir)
        if len(m.shape) > 2:
            continue
        if nrows is None:
            nrows = m.shape[0]
        elif m.shape[0] != nrows:
            raise ValueError(f"{entry}: leading dim {m.shape[0]} != {nrows}")
        metas.append(m)
    if nrows is None:
        raise ValueError(f"no zarr arrays under {path}")
    schema = struct_schema(
        (m.name, m.shape[1] if len(m.shape) == 2 else 1, m.dtype) for m in metas
    )
    return schema, nrows, metas


class ZarrDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zarrdir"

    def schema(self) -> StructType:
        schema, _, _ = discover_zarr_container(self.options["path"])
        return schema

    def reader(self, schema: StructType) -> "ZarrReader":
        return ZarrReader(self.options["path"], schema,
                          int(self.options.get("chunks_per_split", 8)))


class ZarrReader(RowRangeReader):
    def __init__(self, path: str, schema: StructType, chunks_per_split: int):
        self.schema = schema
        _, self.nrows, metas = discover_zarr_container(path)
        self.metas = {m.name: m for m in metas}
        # Split granularity: align to the coarsest chunk grid so a task
        # never re-reads a chunk another task also needs.
        max_chunk = max(m.chunks[0] for m in metas)
        self.rows_per_split = max_chunk * max(1, chunks_per_split)

    def read_rows(self, name: str, lo: int, hi: int) -> np.ndarray:
        return read_zarr_rows(self.metas[name], lo, hi)


def register(spark) -> None:
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ZarrDataSource)


def write_zarr_array(
    array_dir: str,
    data: np.ndarray,
    chunks: int,
    compressor: str | None = "zlib",
    fill_value: float = 0,
) -> None:
    """Minimal zarr v2 writer (tests + the save path's zarr option)."""
    os.makedirs(array_dir, exist_ok=True)
    dt = data.dtype.newbyteorder("<")
    zdtype = np.dtype(dt).str
    if zdtype not in _ZARR_DTYPES:
        raise ValueError(f"unsupported dtype {data.dtype}")
    shape = list(data.shape)
    chunk_shape = [chunks] + shape[1:]
    meta = {
        "zarr_format": 2,
        "shape": shape,
        "chunks": chunk_shape,
        "dtype": zdtype,
        "compressor": {"id": compressor} if compressor else None,
        "fill_value": fill_value,
        "order": "C",
        "filters": None,
    }
    with open(os.path.join(array_dir, ".zarray"), "w") as fh:
        json.dump(meta, fh)
    nchunks = math.ceil(shape[0] / chunks)
    for ci in range(nchunks):
        block = data[ci * chunks : (ci + 1) * chunks]
        if block.shape[0] < chunks:  # zarr pads the trailing chunk
            pad = np.full([chunks - block.shape[0]] + shape[1:], fill_value,
                          dtype=dt)
            block = np.concatenate([block, pad], axis=0)
        raw = np.ascontiguousarray(block, dtype=dt).tobytes()
        if compressor == "zlib":
            raw = zlib.compress(raw)
        elif compressor == "gzip":
            import gzip as _gzip

            raw = _gzip.compress(raw)
        fname = str(ci) if data.ndim == 1 else f"{ci}.0"
        with open(os.path.join(array_dir, fname), "wb") as fh:
            fh.write(raw)


def save_zarr_container(
    df,
    out_dir: str,
    chunks: int = 1 << 16,
    uid_col: str = "uid",
    compressor: str | None = "zlib",
) -> None:
    """Distributed zarr v2 sink: executors write chunk files directly
    (the reference's save path — workers write to the store without
    driver round-trips, interface.py:305-307; da.to_zarr :372).

    Rows are grouped by chunk index (uid // chunks) with one
    ``applyInPandas`` task per chunk writing every field's chunk file;
    the driver writes only the tiny ``.zarray`` metadata afterwards.
    Requires a dense 0..N-1 ``uid`` column (the engine's positional
    spine). Array columns must be fixed-width (width taken from the
    first row).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    stats = df.agg(
        F.count("*").alias("n"),
        F.min(uid_col).alias("lo"),
        F.max(uid_col).alias("hi"),
        F.countDistinct(uid_col).alias("nd"),
    ).first()
    n = stats["n"]
    if n == 0:
        raise ValueError("cannot save an empty container to zarr")
    # Chunk files are addressed by uid // chunks: a gapped uid range
    # would silently leave fill_value holes in the store. Require the
    # dense 0..N-1 spine.
    if stats["lo"] != 0 or stats["hi"] != n - 1 or stats["nd"] != n:
        raise ValueError(
            f"zarr save requires a dense uid 0..{n-1}; got "
            f"min={stats['lo']} max={stats['hi']} distinct={stats['nd']} "
            f"(reassign uid after filtering, e.g. operators.uid)"
        )
    fields = [f for f in df.schema.fields if f.name != uid_col]
    spark_to_np = {"float": "<f4", "double": "<f8", "integer": "<i4", "long": "<i8"}
    # Array widths probed without sorting the whole frame.
    width_exprs = [
        F.size(f.name).alias(f.name)
        for f in fields
        if f.dataType.typeName() == "array"
    ]
    widths = df.select(*width_exprs).first() if width_exprs else {}
    colspec: dict[str, tuple[str, int]] = {}
    for f in fields:
        t = f.dataType.typeName()
        if t == "array":
            el = f.dataType.elementType.typeName()
            colspec[f.name] = (spark_to_np[el], widths[f.name])
        else:
            colspec[f.name] = (spark_to_np[t], 0)
    spec_items = sorted(colspec.items())
    os.makedirs(out_dir, exist_ok=True)
    for name, _ in spec_items:
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)

    def write_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(uid_col)
        ci = int(pdf["__chunk"].iloc[0])
        nrows = len(pdf)
        for name, (zdt, width) in spec_items:
            npdt = np.dtype(zdt)
            if width:
                arr = np.stack(pdf[name].to_numpy()).astype(npdt)
                if nrows < chunks:
                    arr = np.concatenate(
                        [arr, np.zeros((chunks - nrows, width), dtype=npdt)]
                    )
                fname = f"{ci}.0"
            else:
                arr = pdf[name].to_numpy().astype(npdt)
                if nrows < chunks:
                    arr = np.concatenate([arr, np.zeros(chunks - nrows, dtype=npdt)])
                fname = str(ci)
            raw = np.ascontiguousarray(arr).tobytes()
            if compressor == "zlib":
                raw = zlib.compress(raw)
            elif compressor == "gzip":
                import gzip as _gzip

                raw = _gzip.compress(raw)
            with open(os.path.join(out_dir, name, fname), "wb") as fh:
                fh.write(raw)
        return pd.DataFrame({"chunk": [ci], "rows": [nrows]})

    tagged = df.withColumn("__chunk", (F.col(uid_col) / chunks).cast("long"))
    stats = tagged.groupBy("__chunk").applyInPandas(
        write_chunk, schema="chunk long, rows long"
    )
    written = stats.agg(F.sum("rows")).first()[0]
    if written != n:
        raise RuntimeError(f"zarr save wrote {written} rows, expected {n}")
    for name, (zdt, width) in spec_items:
        meta = {
            "zarr_format": 2,
            "shape": [n] + ([width] if width else []),
            "chunks": [chunks] + ([width] if width else []),
            "dtype": zdt,
            "compressor": {"id": compressor} if compressor else None,
            "fill_value": 0,
            "order": "C",
            "filters": None,
        }
        with open(os.path.join(out_dir, name, ".zarray"), "w") as fh:
            json.dump(meta, fh)


def load_zarr_dataset(path: str, spark, chunks_per_split: int = 8,
                      units: bool | str = True):
    """Zarr store → Dataset handle: one sub-container per group directory
    holding arrays (a flat store of arrays is one container).

    ``units=False`` skips unit attachment (stored unit attrs AND the
    simulation-config pass) — the load(units=False) contract."""
    from scida_spark.dataset import Dataset
    from scida_spark.fields import FieldContainer
    from scida_spark.units import UnitRegistry

    register(spark)

    def has_arrays(d: str) -> bool:
        return os.path.isdir(d) and any(
            os.path.isfile(os.path.join(d, e, ".zarray")) for e in os.listdir(d)
        )

    groups = [e for e in sorted(os.listdir(path)) if has_arrays(os.path.join(path, e))]
    targets = [(g, os.path.join(path, g)) for g in groups] or [
        (os.path.basename(path.rstrip("/")), path)
    ]
    ureg = UnitRegistry()
    root = FieldContainer(name=os.path.basename(path.rstrip("/")))
    attrs_path = os.path.join(path, ".zattrs")
    metadata = {}
    if os.path.exists(attrs_path):
        with open(attrs_path) as fh:
            metadata = json.load(fh)
    for name, sub in targets:
        df = (
            spark.read.format("zarrdir")
            .option("path", sub)
            .option("chunks_per_split", chunks_per_split)
            .load()
        )
        cont = FieldContainer(df, name=name, ureg=ureg)
        # Unit strings written by Dataset.save(format='zarr') live in the
        # container's .zattrs — read them back so units survive the zarr
        # round-trip like they do the parquet one.
        sub_attrs = os.path.join(sub, ".zattrs")
        if units and os.path.isfile(sub_attrs):
            with open(sub_attrs) as fh:
                sub_meta = json.load(fh)
            for col, unit in (sub_meta.get("units") or {}).items():
                if col in df.columns:
                    cont.field_units[col] = unit
        root[name] = cont
    ds = Dataset(path=path, data=root, metadata=metadata, ureg=ureg)
    if metadata:
        from scida_spark.dataset import apply_simulation_config

        apply_simulation_config(ds, units=units)
    return ds
