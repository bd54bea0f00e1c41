"""HDF5 source: a format adapter over the shared split layer
(``sources/convert.py``).

The reference builds one lazy dask array per HDF5 dataset with
``da.from_array(h5py.Dataset, chunks=...)`` and merges ``prefix.N.hdf5``
file series into a virtual HDF5 file (reference io/_base.py:172-264,
:348-599, helpers_hdf5.py:165-359). Spark reads file lists natively, so
the virtual-merge machinery dissolves; what remains is the *semantics*.
This module holds the HDF5 half of it:

  * series discovery: the natural-sorted ``.hdf5/.h5/.h5dir`` stores
    of a path (:func:`series_stores`)
  * metadata walk → (path, shape, dtype) per dataset → StructType per
    container (schema discovery, reference helpers_hdf5.py:55-135);
    a container missing from some files of the series contributes 0
    rows for those files
  * the per-split read: the requested datasets' row range, read with
    the h5 backend inside the shared ``mapInArrow`` kernel
    (``convert.read_splits``) — the Spark analog of "workers read HDF5
    chunks directly" (docs/largedatasets.md:85)

Per-file row counts → cumulative offsets → global ``uid`` and the split
plan come from ``convert.plan_splits``. The reader does not prune
splits: a uid filter runs over every split of the container (only the
npy and zarr Data Sources prune).

The backend is the NAME of a module exposing the h5py File API
(``File(path, "r")`` → mapping of groups/datasets with .shape/.dtype and
slice reads), passed as ``backend=``; the default is ``"h5py"``. Tests
pass ``scida_spark.sources.h5_shim``, so the FULL read kernel — the
exact code that runs with h5py — executes in CI against
directory-backed stores. A module name (not object) because executors
re-import it in each worker process.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

try:
    import h5py  # noqa: F401

    HAS_H5PY = True
except ImportError:
    HAS_H5PY = False

_H5_EXTS = (".hdf5", ".h5", ".h5dir")


def _h5_module(name: str | None = None):
    """The h5 backend module ``name`` (``None`` means h5py)."""
    import importlib

    name = name or "h5py"
    if name == "h5py":
        _require_backend()
    return importlib.import_module(name)


def series_stores(path: str) -> list[str]:
    """The stores of an HDF5 file series, in order: a directory's
    natural-sorted ``.hdf5``/``.h5``/``.h5dir`` children (``.h5dir`` =
    a directory acting as one shim file; reference io/_base.py:974-1045),
    else ``[path]`` when the path itself has one of those extensions,
    else ``[]`` (not HDF5-shaped)."""
    from scida_spark.sources.convert import natural_sort_key

    if os.path.isdir(path):
        cand = sorted(
            (e for e in os.listdir(path) if e.endswith(_H5_EXTS)), key=natural_sort_key
        )
        if cand:
            return [os.path.join(path, e) for e in cand]
    return [path] if path.rstrip("/").endswith(_H5_EXTS) else []


@dataclass(frozen=True)
class DatasetInfo:
    """One on-disk array: (container path, name, rows, row width)."""

    container: str
    name: str
    rows: int
    width: int  # 1 for 1-D, k for (N, k)
    dtype: str


def _require_backend():
    if not HAS_H5PY:
        raise ImportError(
            "HDF5 reading requires h5py, which is not installed in this "
            "environment. The split planner (convert.plan_splits), "
            "uid/pruning logic, AND the full read kernel are tested via "
            'the h5_shim backend (backend="scida_spark.sources.h5_shim"); '
            "install h5py to read real HDF5 files with the identical code "
            "path."
        )


def _dataset_dtype(ds) -> str:
    """Dataset dtype with the MTNG 6-byte-uint workaround: h5py cannot
    resolve ``<u6`` and raises TypeError on any ``.dtype`` access —
    coerce to uint64, exactly as the reference does
    (helpers_hdf5.py:36-47)."""
    try:
        return str(ds.dtype)
    except TypeError as e:
        if "data type '<u6' not understood" in str(e):
            return "uint64"
        raise


def _is_unsupported_kind(dtype_str: str) -> bool:
    """vlen / string / object dtypes are skipped (reference
    io/_base.py:706-714 'we do not support HDF5 vlen dtype'); h5py
    reports vlen as numpy object dtype."""
    import numpy as np

    try:
        kind = np.dtype(dtype_str).kind
    except TypeError:
        return True
    return kind in "OSUV"


def _resolve_group(h5file, container: str):
    """Group lookup with the root spelled as ``""``/``"/"`` — flat
    stores (rockstar catalogs) keep their datasets at the file root."""
    return h5file if container in ("", "/") else h5file[container]


def _containers(h5file) -> list[str]:
    """One file's containers: its top-level groups, sorted, then ``""``
    when 1-D/2-D datasets sit at the file root (flat stores — rockstar
    catalogs — walked as the root pseudo-container)."""
    keys = sorted(h5file.keys())
    out = [k for k in keys if hasattr(h5file[k], "keys")]
    if any(
        not hasattr(h5file[k], "keys")
        and len(getattr(h5file[k], "shape", ()) or ()) in (1, 2)
        for k in keys
    ):
        out.append("")
    return out


def walk_container(
    h5file,
    container: str,
    attrs_out: dict | None = None,
    field_attrs_out: dict | None = None,
) -> list[DatasetInfo]:
    """Schema walk of one group: (name, rows, width, dtype) per dataset
    (reference helpers_hdf5.py:55-135). ``h5file`` is an open backend
    File object. Oddballs (reference parity):

    * 0-d datasets are demoted to attributes — recorded in ``attrs_out``
      instead of the schema (helpers_hdf5.py:82-83 ``scalar_to_attr``).
    * vlen/string/object dtypes are skipped with a warning
      (io/_base.py:706-714).
    * 6-byte uints are coerced to uint64 (helpers_hdf5.py:36-47).
    * per-DATASET attributes (``to_cgs``/``*_scaling`` unit metadata,
      reference mixins/units.py:122-260) land in ``field_attrs_out``
      keyed by field name.
    """
    import warnings

    grp = _resolve_group(h5file, container)
    out = []
    for name in sorted(grp.keys()):
        ds = grp[name]
        if hasattr(ds, "keys"):  # nested subgroup — not a dataset
            continue
        shape = getattr(ds, "shape", None)
        if shape is None or len(shape) > 2:
            continue
        dtype = _dataset_dtype(ds)
        if len(shape) == 0:
            if attrs_out is not None:
                v = ds[()]
                attrs_out[name] = v.item() if hasattr(v, "item") else v
            continue
        if field_attrs_out is not None:
            fa = dict(getattr(ds, "attrs", {}) or {})
            if fa:
                field_attrs_out[name] = fa
        if _is_unsupported_kind(dtype):
            warnings.warn(
                f"{container}/{name}: dtype {dtype!r} (vlen/string) not "
                "supported; skipping field",
                stacklevel=2,
            )
            continue
        width = shape[1] if len(shape) == 2 else 1
        out.append(DatasetInfo(container, name, shape[0], width, dtype))
    return out


def collect_attrs(h5file) -> dict[str, dict]:
    """Group-path → attrs mapping for one file (the reference's
    ``walk_group(get_attrs=True)`` shape, helpers_hdf5.py:55-90):
    root attrs under ``/``, each top-level group under ``/<name>``."""
    out: dict[str, dict] = {}
    root = dict(getattr(h5file, "attrs", {}) or {})
    if root:
        out["/"] = root
    for name in sorted(h5file.keys()):
        obj = h5file[name]
        if not hasattr(obj, "keys"):
            continue
        a = dict(getattr(obj, "attrs", {}) or {})
        if a:
            out["/" + name] = a
    return out


def reconcile_attrs(per_file: list[dict[str, dict]]) -> dict[str, dict]:
    """Union attrs across a file series with an equal/differ split
    (reference helpers_hdf5.py:301-359): keys equal in every file keep
    the single value; keys whose values differ become the per-file list
    (the reference stacks them). Floats compare with np.isclose (the
    reference relaxed binary equality 'after some incident'); arrays
    with array_equal. Paths/keys missing from some files are allowed —
    present values are compared."""
    import numpy as np

    out: dict[str, dict] = {}
    paths = sorted(set().union(*[set(d.keys()) for d in per_file])) if per_file else []
    for apath in paths:
        merged: dict = {}
        keys = sorted(
            set().union(*[set(d.get(apath, {}).keys()) for d in per_file])
        )
        for k in keys:
            vals = [d[apath][k] for d in per_file if apath in d and k in d[apath]]
            v0 = vals[0]
            # Type-heterogeneous values across the series (float in one
            # file, string/array in another) must fall to the
            # differing-values list, not crash the load on
            # np.isclose(float, str) — hence the try/except.
            try:
                if isinstance(v0, np.ndarray) or isinstance(v0, (list, tuple)):
                    same = all(np.array_equal(v0, v) for v in vals[1:])
                elif isinstance(v0, float) or isinstance(v0, np.floating):
                    same = all(np.isclose(v0, v) for v in vals[1:])
                else:
                    same = all(v0 == v for v in vals[1:])
                if not isinstance(same, bool):
                    same = bool(same)
            except (TypeError, ValueError):
                same = False
            merged[k] = v0 if same else list(vals)
        out[apath] = merged
    return out


def read_splits_arrow(spark, splits, columns: list[str], schema,
                      backend: str | None = None):
    """Distributed read: one ``mapInArrow`` task per split
    (``convert.read_splits``), each reading ``columns`` — a projection
    of ``schema`` — from its row range with the h5 backend. The read is
    identical for h5py and the tested shim; only the imported module
    differs."""
    from pyspark.sql.types import StructType

    from scida_spark.sources.convert import read_splits

    _h5_module(backend)  # fail at plan time if the backend is missing
    projected = StructType([schema["uid"]] + [schema[c] for c in columns])

    def read_split(split, names):
        _h5 = _h5_module(backend)
        with _h5.File(split.file, "r") as fh:
            grp = _resolve_group(fh, split.container)
            for c in names:
                yield grp[c][split.row_start:split.row_stop]

    return read_splits(spark, splits, projected, read_split)


def load_hdf5_dataset(path: str, spark, rows_per_split: int = 1 << 20,
                      backend: str | None = None, units: bool | str = True,
                      family: str | None = None,
                      family_unitfile: str | None = None):
    """Full HDF5(-API) → Dataset load: schema walk → per-container
    splits → distributed Arrow read. Multi-file series (``prefix.N``)
    are numeric-sorted and concatenated via uid bookkeeping
    (reference io/_base.py:974-1045 + virtual concat §2.1).

    A series' containers are the union over its files: Arepo and Gadget
    writers leave a ``PartTypeN`` group out of a file that holds none of
    that type. A file without a container contributes 0 rows to it; the
    schema and per-field attrs come from the first file that has it.

    ``backend`` is the h5 backend module name (``None`` means h5py).
    ``units=False`` skips ALL unit attachment (curated unit files and
    per-field attrs alike — the reference's load(units=False) contract,
    docs/units.md); cosmology/simulation identification still runs."""
    from scida_spark.dataset import Dataset
    from scida_spark.fields import FieldContainer
    from scida_spark.sources.convert import plan_splits, struct_schema
    from scida_spark.units import UnitRegistry

    _h5 = _h5_module(backend)
    files = series_stores(path) or [path]
    ureg = UnitRegistry()
    root = FieldContainer(name=os.path.basename(path.rstrip("/")))
    # One pass over the series: per-file group attrs + 0-d datasets
    # demoted to attrs, and each container's schema walk (with its
    # per-field unit attrs) in the files that hold it.
    per_file_attrs: list[dict] = []
    walks: dict[str, list[tuple[str, list[DatasetInfo], dict]]] = {}
    for f in files:
        with _h5.File(f, "r") as fh:
            d = collect_attrs(fh)
            for cont_name in _containers(fh):
                scalars: dict = {}
                field_attrs: dict[str, dict] = {}
                infos = walk_container(
                    fh, cont_name, attrs_out=scalars,
                    # per-field attrs only from the first file holding it
                    field_attrs_out=None if cont_name in walks else field_attrs,
                )
                if scalars:
                    d.setdefault("/" + cont_name, {}).update(scalars)
                if infos:
                    walks.setdefault(cont_name, []).append((f, infos, field_attrs))
            per_file_attrs.append(d)
    # Reconciled across the series: equal keeps one value, differing
    # becomes the per-file list (reference helpers_hdf5.py:301-359).
    attrs = reconcile_attrs(per_file_attrs)
    for cont_name in sorted(walks, key=lambda c: (c == "", c)):
        present = walks[cont_name]
        _, infos, field_attrs = present[0]
        rows: dict[str, int] = {}
        for f, ds_infos, _ in present:
            # All datasets of a container must share the leading dim
            # (clear error at load time, not an opaque executor crash;
            # mirrors npy/zarr discovery validation).
            if len({i.rows for i in ds_infos}) > 1:
                raise ValueError(
                    f"{f}:{cont_name}: datasets disagree on rows: "
                    + ", ".join(f"{i.name}={i.rows}" for i in ds_infos)
                )
            if {i.name for i in ds_infos} != {i.name for i in infos}:
                raise ValueError(
                    f"{f}:{cont_name}: dataset names differ from the "
                    f"first file of the series that holds the container"
                )
            rows[f] = ds_infos[0].rows
        schema = struct_schema((i.name, i.width, i.dtype) for i in infos)
        splits = plan_splits([(f, rows.get(f, 0)) for f in files], cont_name, rows_per_split)
        df = read_splits_arrow(spark, splits, schema.fieldNames()[1:], schema, backend=backend)
        # Root-level datasets surface under a named container: "halos"
        # for rockstar catalogs (their rows ARE halos), "data" otherwise.
        display = cont_name or ("halos" if family == "rockstar" else "data")
        cont = FieldContainer(df, name=display, ureg=ureg)
        # Always collected (cheap metadata); the units flag gates only
        # their APPLICATION in apply_simulation_config — so a
        # units=False load can still be unit-resolved later.
        cont.field_unit_attrs = field_attrs
        root[display] = cont
    from scida_spark.dataset import apply_simulation_config, register_default_aliases

    register_default_aliases(root)
    metadata: dict = {"attrs": attrs} if attrs else {}
    if family:
        metadata["family"] = family
    ds = Dataset(path=path, data=root, metadata=metadata, ureg=ureg)
    if (
        attrs
        or family_unitfile
        or any(getattr(c, "field_unit_attrs", None) for c in root._containers.values())
    ):
        apply_simulation_config(ds, units=units, fallback_unitfile=family_unitfile)
    return ds
