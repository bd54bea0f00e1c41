"""Every top-level def and constant in ``scida_spark/`` is reached from a non-test root.

The roots are the ``@query`` registry slots, every module-level statement
of the package (imports, module docstrings and constants excluded),
``bench.py``, ``__spark_entry__.py``, ``tools/`` and ``perfbench/`` (its
tests excluded). A reached def reaches every top-level def or constant
whose name it mentions: as a name, an attribute or an imported name.
Strings do not count, so a def that only a docstring or ``__all__`` names
is unreached. A constant is a top-level assignment to a plain name; its
right-hand side reaches names only when the constant itself is reached,
and dunders (``__all__``, ``__version__``) are roots. A reached class
reaches its whole body and its subclasses (``DatasetType`` registers
subclasses as they are defined). The walk is by name only, so it
over-approximates what is live: a def it misses is called by nothing but
tests.

Static (``ast`` only): starts no Spark. Run it alone with
``python -m pytest tests/test_reachability.py -q``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "scida_spark"

# Defs and constants kept although no root reaches them, one line of reason each.
ALLOWED = {
    "scida_spark/__init__.py:__getattr__": "module hook: Python calls it for the lazy scida_spark.Dataset export",
    "scida_spark/dataset.py:load_metadata": "scida surface: the reference's load_metadata (header without a Spark read)",
    "scida_spark/dataset.py:merge_catalog": "scida surface: the reference's catalog merge onto a snapshot",
    "scida_spark/cosmology.py:check_redshift_consistency": "scida surface: the reference's redshift cross-check",
    "scida_spark/sources/fits.py:load_fits_dataset": "scida surface: FITS loader (the reference reads FITS tables)",
    "scida_spark/sources/fits.py:parse_tform": "scida surface: FITS loader, TFORM column parser",
    "scida_spark/sources/fits.py:schema_from_bintable_header": "scida surface: FITS loader, BINTABLE schema",
    "scida_spark/sources/fits.py:_fits_module": "scida surface: FITS loader, backend import",
    "scida_spark/sources/fits.py:_require_astropy": "scida surface: FITS loader, astropy gate",
    "scida_spark/functions/similarity.py:embedding_neardup_pairs": "reference oracle: the cross-join the blocked near-dup search is pinned against",
    "scida_spark/functions/sketches.py:distinct_estimate": "reference oracle: the direct sketch the distinct rollup is pinned against",
    "scida_spark/sources/zarr.py:write_zarr_array": "test-input writer: the zarr source tests build their stores with it",
    "scida_spark/dataset.py:discover_catalog_path": "scida surface: the reference's catalog-sibling heuristics",
    "scida_spark/dataset.py:CATALOG_DIR_PATTERNS": "scida surface: the directory prefixes discover_catalog_path matches",
    "scida_spark/dataset.py:explain_detection": "scida surface: the reference's DetectionResult evidence",
    "scida_spark/operators/catalog.py:select_zoom_target": "scida surface: the TNG-Cluster zoom-target selector",
    "scida_spark/sources/fits.py:_FITS_BACKEND": "scida surface: FITS loader, default backend module name",
    "scida_spark/sources/fits.py:_TFORM_MAP": "scida surface: FITS loader, TFORM code to dtype map",
    "scida_spark/queries_scida.py:scida_pbc_cutout": "reference oracle: the cutout tests/test_spatial_layout.py pins the pruned layouts against",
    "scida_spark/operators/prefix_sum.py:grouped_median_element_cells": "reference oracle: the branch form grouped_robust_stats_cells is pinned against",
    "scida_spark/streaming/objstore.py:ObjectBackend": "test fake: the object-store semantics the fake backend implements",
    "scida_spark/streaming/objstore.py:FakeObjectStore": "test fake: the in-memory object store the crash tests run on",
    "scida_spark/streaming/objstore.py:mount_fake_object_store": "test fake: mounts FakeObjectStore under a storefs prefix",
    "scida_spark/streaming/objstore.py:_MOVE_OK": "test fake: the copy-complete marker FakeObjectStore's rename writes",
    "scida_spark/streaming/storefs.py:register_backend": "test fake seam: mounts a backend under a path prefix",
    "scida_spark/streaming/storefs.py:unregister_backend": "test fake seam: unmounts a backend",
    "scida_spark/streaming/postings.py:delete_docs": "tombstone writer: the reached postings serve path masks what it writes",
    "scida_spark/streaming/esubindex.py:delete_esub_docs": "tombstone writer: the reached esub serve path masks what it writes",
}


def _root_files(repo: Path) -> list[Path]:
    files = [p for p in (repo / "bench.py", repo / "__spark_entry__.py") if p.exists()]
    files += sorted((repo / "tools").rglob("*.py"))
    files += sorted(p for p in (repo / "perfbench").rglob("*.py") if "tests" not in p.relative_to(repo).parts)
    return files


def _names(nodes) -> set[str]:
    """Every name, attribute and imported name under ``nodes``."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_query_slot(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def _constant_names(stmt) -> list[str]:
    """Names a top-level ``stmt`` binds as a constant: plain non-dunder assignment targets."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    if all(isinstance(t, ast.Name) and not t.id.startswith("__") for t in targets):
        return [t.id for t in targets]
    return []


def unreached(pkg: Path = PKG) -> list[str]:
    """``path:name`` of every top-level def and constant in ``pkg`` no root reaches.

    The roots outside the package are looked up in ``pkg``'s parent.
    """
    repo = pkg.parent
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    bodies: dict[int, list[ast.AST]] = {}  # what a def or constant reaches once it is reached
    subclasses: dict[str, list[ast.ClassDef]] = {}
    seeds: set[str] = set()
    live: list[ast.AST] = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(repo).as_posix()
        for stmt in ast.parse(path.read_text(), filename=rel).body:
            if constants := _constant_names(stmt):
                for name in constants:
                    defs.setdefault(name, []).append((rel, stmt))
                bodies[id(stmt)] = [stmt.value] if stmt.value else []
            elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((rel, stmt))
                bodies[id(stmt)] = stmt.body
                # Decorators, default values and bases run at import time.
                head = list(stmt.decorator_list)
                if isinstance(stmt, ast.ClassDef):
                    head += stmt.bases + [k.value for k in stmt.keywords]
                    for base in stmt.bases:
                        if isinstance(base, ast.Name):
                            subclasses.setdefault(base.id, []).append(stmt)
                else:
                    head += stmt.args.defaults + [d for d in stmt.args.kw_defaults if d]
                seeds |= _names(head)
                if _is_query_slot(stmt):
                    live.append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not (
                isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            ):
                seeds |= _names([stmt])
    for path in _root_files(repo):
        seeds |= _names([ast.parse(path.read_text(), filename=str(path))])

    reached: set[int] = set()
    todo = list(live)
    for name in seeds:
        todo += [node for _, node in defs.get(name, ())]
    while todo:
        node = todo.pop()
        if id(node) in reached:
            continue
        reached.add(id(node))
        if isinstance(node, ast.ClassDef):
            todo += subclasses.get(node.name, [])
        for name in _names(bodies[id(node)]):
            todo += [n for _, n in defs.get(name, ()) if id(n) not in reached]
    return sorted(
        f"{rel}:{name}" for name, entries in defs.items() for rel, node in entries if id(node) not in reached
    )


def test_every_def_is_reached_or_allowed():
    missing = [d for d in unreached() if d not in ALLOWED]
    assert not missing, f"{len(missing)} top-level defs only tests reach:\n" + "\n".join(missing)


def test_allow_list_is_current():
    stale = sorted(set(ALLOWED) - set(unreached()))
    assert not stale, "allow-listed defs that are gone or now reached:\n" + "\n".join(stale)


def test_strings_do_not_reach(tmp_path):
    """A def named only in a docstring or only in ``__all__`` is
    unreached; a def a root calls is not."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('__all__ = ["in_all"]\n')
    (pkg / "lib.py").write_text(
        "def in_docstring():\n    pass\n\n\n"
        "def in_all():\n    pass\n\n\n"
        "def called():\n    pass\n"
    )
    (pkg / "slots.py").write_text(
        "from pkg.lib import called\n\n\n"
        "@query(name='s')\n"
        "def slot():\n"
        '    """Like in_docstring, but calls the other one."""\n'
        "    return called()\n"
    )
    assert unreached(pkg) == ["pkg/lib.py:in_all", "pkg/lib.py:in_docstring"]
