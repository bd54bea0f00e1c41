"""Every top-level def in ``scida_spark/`` is reached from a non-test root.

The roots are the ``@query`` registry slots, every module-level statement
of the package (imports and module docstrings excluded), ``bench.py``,
``__spark_entry__.py``, ``tools/`` and ``perfbench/`` (its tests
excluded). A reached def reaches every top-level def whose name it
mentions: as a name, an attribute, an imported name or an identifier
inside a string (``getattr``/``importlib`` dispatch names defs in
strings). A reached class reaches its whole body and its subclasses
(``DatasetType`` registers subclasses as they are defined). The walk is
by name only, so it over-approximates what is live: a def it misses is
called by nothing but tests.

Static (``ast`` only): starts no Spark. Run it alone with
``python -m pytest tests/test_reachability.py -q``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "scida_spark"
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# Defs kept although no root reaches them, one line of reason each.
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
}


def _root_files() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    files += sorted((REPO / "tools").rglob("*.py"))
    files += sorted(p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.relative_to(REPO).parts)
    return files


def _names(nodes) -> set[str]:
    """Every name, attribute, imported name and string identifier under ``nodes``."""
    out: set[str] = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                out.update(IDENT.findall(n.value))
    return out


def _is_query_slot(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def unreached() -> list[str]:
    """``path:name`` of every top-level def in the package no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    subclasses: dict[str, list[ast.ClassDef]] = {}
    seeds: set[str] = set()
    live: list[ast.AST] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        for stmt in ast.parse(path.read_text(), filename=rel).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((rel, stmt))
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
    for path in _root_files():
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
        for name in _names(node.body):
            todo += [n for _, n in defs.get(name, ()) if id(n) not in reached]
    return sorted(
        f"{rel}:{node.name}" for entries in defs.values() for rel, node in entries if id(node) not in reached
    )


def test_every_def_is_reached_or_allowed():
    missing = [d for d in unreached() if d not in ALLOWED]
    assert not missing, f"{len(missing)} top-level defs only tests reach:\n" + "\n".join(missing)


def test_allow_list_is_current():
    stale = sorted(set(ALLOWED) - set(unreached()))
    assert not stale, "allow-listed defs that are gone or now reached:\n" + "\n".join(stale)
