"""Simulation-family detection: arepo / gizmo / swift / eagle snapshots
and rockstar halo catalogs as first-class entries in the detection
ladder (``dataset.determine_type``).

Reference SEMANTICS mirrored (original code, not a port):

* gadget-style base — ``/Header`` with ``NumPart_ThisFile`` (snapshot)
  or ``Ngroups_ThisFile``/``Ngroups_Total`` (group catalog)
  (reference customs/gadgetstyle/dataset.py:95-160).
* gizmo — ``GIZMO_version`` header marker; else the elimination path
  Flag_IC_Info present AND none of Git_commit / ``/Config`` /
  ``/Parameters`` (reference customs/gizmo/dataset.py:61-97; rockstar
  catalogs merge in via ``load(..., catalog_rockstar_halo=...)``,
  reference :52-59 — see ``Dataset.merge_data``).
* swift — ``/Code`` group attr ``Code`` contains "SWIFT"
  (reference customs/swift/dataset.py:46-71).
* eagle — ``/Header`` ``RunLabel`` containing "Eagle" (the reference
  identifies EAGLE through simulations.yaml's ``EAGLEtype`` entry:
  configfiles/simulations.yaml ``RunLabel: '"Eagle'``).
* arepo — ``Git_commit`` header marker, or both ``/Config`` and
  ``/Parameters`` groups present (reference customs/arepo/dataset.py
  validate_path attr combination).
* rockstar — a root-level ``cosmology:omega_dm`` dataset
  (reference customs/rockstar/dataset.py:33-66).

Votes follow the ladder's winner rule (max confidence → most-derived
class → max specificity): explicit code markers vote specificity 4,
elimination-style matches 3, the gadget-style base 2 — so e.g. an
EAGLE header that also carries ``Flag_IC_Info`` resolves to EagleType
(marker) over GizmoType (elimination) at equal confidence and depth.

Each family class carries ``family`` (recorded in
``Dataset.metadata``) and an optional curated ``unitfile`` applied as
the fallback when no simulations.yaml entry matches; SWIFT and EAGLE
carry none because their stores embed per-field cgs factors that
``units.unit_from_field_attrs`` already resolves (units.py:369-494).
"""

from __future__ import annotations

import os

from scida_spark.dataset import CandidateStatus, Confidence, Hdf5Type


class Hdf5Probe:
    """Metadata-only view of an HDF5(-API) store: group attrs, top-level
    group names, root-level dataset names. No data pages are read."""

    def __init__(self, attrs: dict, groups: set[str], datasets: set[str]):
        self.attrs = attrs
        self.groups = groups
        self.datasets = datasets

    def header(self) -> dict:
        return self.attrs.get("/Header", {}) or {}


_probe_cache: dict[tuple[str, int], "Hdf5Probe | None"] = {}


def _first_store(path: str) -> str | None:
    """The first file/store of an HDF5-like path, or None if the path
    is not HDF5-shaped (extension gate only — no open)."""
    from scida_spark.sources.hdf5 import series_stores

    stores = series_stores(path)
    return stores[0] if stores else None


_SHIM = "scida_spark.sources.h5_shim"


def backend_for(store: str) -> str:
    """h5 backend module for a store: ``.h5dir`` directory stores read
    through the shim; real ``.hdf5``/``.h5`` files through h5py."""
    return _SHIM if store.rstrip("/").endswith(".h5dir") else "h5py"


def hdf5_probe(path: str) -> Hdf5Probe | None:
    """Open the first store of ``path`` with the store's h5 backend and
    collect detection metadata. Returns None when the path is not
    HDF5-shaped or not openable (vote = UNSUPPORTED). Cached per
    (store, mtime) — the ladder probes once, not once per family."""
    store = _first_store(path)
    if store is None:
        return None
    try:
        mtime = os.stat(store).st_mtime_ns
    except OSError:
        return None
    key = (os.path.abspath(store), mtime)
    if key in _probe_cache:
        return _probe_cache[key]
    from scida_spark.sources.hdf5 import _h5_module, collect_attrs

    probe: Hdf5Probe | None
    try:
        h5 = _h5_module(backend_for(store))
        with h5.File(store, "r") as fh:
            attrs = collect_attrs(fh)
            groups, datasets = set(), set()
            for name in fh.keys():
                (groups if hasattr(fh[name], "keys") else datasets).add(name)
        probe = Hdf5Probe(attrs, groups, datasets)
    except Exception:
        probe = None
    _probe_cache[key] = probe
    return probe


_NO = CandidateStatus(Confidence.UNSUPPORTED)


class GadgetStyleType(Hdf5Type):
    """Gadget-family snapshot/catalog: /Header with particle or group
    counts. Families below refine this; on its own it wins over the
    generic Hdf5Type vote (same confidence, deeper MRO)."""

    family = "gadgetstyle"
    unitfile: str | None = None

    @classmethod
    def _family_vote(cls, probe: Hdf5Probe) -> CandidateStatus:
        return CandidateStatus(Confidence.CERTAIN, specificity=2)

    @classmethod
    def validate_path(cls, path: str) -> CandidateStatus:
        probe = hdf5_probe(path)
        if probe is None:
            return _NO
        header = probe.header()
        is_snap = "NumPart_ThisFile" in header
        is_grp = "Ngroups_ThisFile" in header or "Ngroups_Total" in header
        if not (is_snap or is_grp):
            return _NO
        return cls._family_vote(probe)

    @classmethod
    def load_dataset(cls, path: str, spark, **kwargs):
        from scida_spark.sources.hdf5 import load_hdf5_dataset

        store = _first_store(path) or path
        kwargs.setdefault("backend", backend_for(store))
        return load_hdf5_dataset(
            path, spark, family=cls.family, family_unitfile=cls.unitfile, **kwargs
        )


class ArepoType(GadgetStyleType):
    family = "arepo"
    unitfile = "units/gadget_cosmological.yaml"

    @classmethod
    def _family_vote(cls, probe: Hdf5Probe) -> CandidateStatus:
        if "Git_commit" in probe.header():
            return CandidateStatus(Confidence.CERTAIN, specificity=4,
                                   evidence=("Header.Git_commit",))
        if {"Config", "Parameters"} <= probe.groups:
            return CandidateStatus(Confidence.CERTAIN, specificity=3,
                                   evidence=("/Config+/Parameters groups",))
        return _NO


class GizmoType(GadgetStyleType):
    family = "gizmo"
    unitfile = "units/gizmo.yaml"

    @classmethod
    def load_dataset(cls, path: str, spark, **kwargs):
        """Gizmo snapshot load; ``catalog_rockstar_halo=`` /
        ``catalog_rockstar_star=`` paths load the rockstar catalogs and
        merge them under ``rockstar_halo`` / ``rockstar_star`` root
        groups (reference customs/gizmo/dataset.py:52-59)."""
        rock = {
            f"rockstar_{kind}": kwargs.pop(f"catalog_rockstar_{kind}", None)
            for kind in ("halo", "star")
        }
        ds = super().load_dataset(path, spark, **kwargs)
        from scida_spark.dataset import load as _load

        for group, rpath in rock.items():
            if rpath is not None:
                ds.merge_data(_load(rpath, spark=spark), root_group=group)
        return ds

    @classmethod
    def _family_vote(cls, probe: Hdf5Probe) -> CandidateStatus:
        header = probe.header()
        if "GIZMO_version" in header:
            return CandidateStatus(Confidence.CERTAIN, specificity=4,
                                   evidence=("Header.GIZMO_version",))
        # Elimination: gadget-ish header without arepo's fingerprints.
        if (
            "Flag_IC_Info" in header
            and "Git_commit" not in header
            and "Config" not in probe.groups
            and "Parameters" not in probe.groups
        ):
            return CandidateStatus(Confidence.CERTAIN, specificity=3,
                                   evidence=("Flag_IC_Info w/o arepo fingerprints",))
        return _NO


class SwiftType(GadgetStyleType):
    family = "swift"
    unitfile = None  # per-field cgs attrs resolve units (units.py:412-465)

    @classmethod
    def _family_vote(cls, probe: Hdf5Probe) -> CandidateStatus:
        code = probe.attrs.get("/Code", {}).get("Code", "")
        if isinstance(code, bytes):
            code = code.decode("utf-8", "replace")
        if "SWIFT" in str(code):
            return CandidateStatus(Confidence.CERTAIN, specificity=4,
                                   evidence=("Code.Code contains SWIFT",))
        return _NO


class EagleType(GadgetStyleType):
    family = "eagle"
    unitfile = None  # per-field cgsunits attrs resolve units

    @classmethod
    def _family_vote(cls, probe: Hdf5Probe) -> CandidateStatus:
        run = probe.header().get("RunLabel", "")
        if isinstance(run, bytes):
            run = run.decode("utf-8", "replace")
        if "Eagle" in str(run):
            return CandidateStatus(Confidence.CERTAIN, specificity=4,
                                   evidence=("Header.RunLabel contains Eagle",))
        return _NO


class RockstarCatalogType(Hdf5Type):
    """Rockstar halo catalog (hdf5 export): identified by its
    root-level ``cosmology:omega_dm`` dataset. Loaded as a plain
    container dataset with the rockstar unit conventions; merge into a
    gizmo snapshot via ``FieldContainer.merge`` under a
    ``rockstar_halo`` root group (reference gizmo/dataset.py:52-59)."""

    family = "rockstar"
    unitfile = "units/rockstar.yaml"

    @classmethod
    def validate_path(cls, path: str) -> CandidateStatus:
        probe = hdf5_probe(path)
        if probe is None:
            return _NO
        if "cosmology:omega_dm" in probe.datasets:
            return CandidateStatus(Confidence.CERTAIN, specificity=2,
                                   evidence=("root dataset cosmology:omega_dm",))
        return _NO

    @classmethod
    def load_dataset(cls, path: str, spark, **kwargs):
        from scida_spark.sources.hdf5 import load_hdf5_dataset

        store = _first_store(path) or path
        kwargs.setdefault("backend", backend_for(store))
        return load_hdf5_dataset(
            path, spark, family=cls.family, family_unitfile=cls.unitfile, **kwargs
        )


class SimulationDirType(Hdf5Type):
    """A simulation RUN directory — members ``snapdir_XXX`` /
    ``snapshot_XXX`` under ``output/`` or directly (reference
    GadgetStyleSimulation, customs/gadgetstyle/series.py:52-120).
    ``load()`` on it returns a :class:`DatasetSeries` (the reference's
    convenience.load returns series for run folders, convenience.py:
    287-396); member datasets re-enter the ladder individually, so a
    gizmo run yields gizmo-typed members with gizmo units."""

    family = "simulation"

    @classmethod
    def validate_path(cls, path: str) -> CandidateStatus:
        if not os.path.isdir(path):
            return _NO
        from scida_spark.series import discover_simulation_members

        n = len(discover_simulation_members(path))
        if n >= 2:
            return CandidateStatus(Confidence.CERTAIN, specificity=3,
                                   evidence=(f"{n} snapdir/snapshot members",))
        return _NO

    @classmethod
    def load_dataset(cls, path: str, spark, units: bool | str = True, **kwargs):
        from scida_spark.series import DatasetSeries

        return DatasetSeries.from_directory(
            path, spark=spark, units=units, **kwargs
        )
