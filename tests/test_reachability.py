"""Every top-level def and constant in ``scida_spark/`` is reached from a non-test root.

The roots are the ``@query`` and ``@composite`` registry slots, every
module-level statement of the package (imports, module docstrings and
constants excluded), ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/`` (its tests excluded). Names resolve by module. A bare name
reaches its own module's def of that name, or what an import in that module
bound the name to; ``M.f``, where ``M`` denotes a module, reaches ``f`` in
``M``; an attribute on any other object reaches no top-level def, because a
method is reached with its class. An import binds a name but reaches
nothing by itself. A string reaches only when it is exactly the dotted path
of a module inside the package (``"scida_spark._pydaemon"``): then it
reaches every def in that module. So a def that only a docstring or
``__all__`` names is unreached. A constant is a top-level assignment to a
plain name; its right-hand side reaches names only when the constant itself
is reached, and dunders (``__all__``, ``__version__``) are roots. A reached
class reaches its whole body and its subclasses (``DatasetType`` registers
subclasses as they are defined). Imports anywhere in a module bind for the
whole module, so the walk still over-approximates what is live: a def it
misses is called by nothing but tests.

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
    "scida_spark/__init__.py:load": "scida surface: the reference's top-level scida.load()",
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
    "scida_spark/sources/fits_shim.py:open": "FITS test backend: the loader imports it by module name in place of astropy.io.fits",
    "scida_spark/sources/fits_shim.py:_ShimHDUList": "FITS test backend: the HDU list its open returns",
    "scida_spark/sources/fits_shim.py:_ShimHDU": "FITS test backend: one HDU of that list",
    "scida_spark/sources/fits_shim.py:_ShimRecords": "FITS test backend: a BINTABLE HDU's record array",
    "scida_spark/queries_scida.py:scida_pbc_cutout": "reference oracle: the cutout tests/test_spatial_layout.py pins the pruned layouts against",
    "scida_spark/operators/prefix_sum.py:grouped_median_element_cells": "reference oracle: the branch form grouped_robust_stats_cells is pinned against",
    "scida_spark/streaming/postings.py:delete_docs": "tombstone writer: the reached postings serve path masks what it writes",
    "scida_spark/streaming/esubindex.py:delete_esub_docs": "tombstone writer: the reached esub serve path masks what it writes",
}


def _root_files(repo: Path) -> list[Path]:
    files = [p for p in (repo / "bench.py", repo / "__spark_entry__.py") if p.exists()]
    files += sorted((repo / "tools").rglob("*.py"))
    files += sorted(p for p in (repo / "perfbench").rglob("*.py") if "tests" not in p.relative_to(repo).parts)
    return files


def _is_query_slot(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id in ("query", "composite")
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


def _dotted(rel: str) -> str:
    """``a/b/c.py`` -> ``a.b.c``; a package's ``__init__.py`` is the package."""
    parts = rel[: -len(".py")].split("/")
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _bindings(tree, dotted: str, is_pkg: bool) -> dict[str, set[tuple[str, str | None]]]:
    """What each name any import in ``tree`` binds: ``(module, None)`` for a
    module, ``(module, name)`` for a name looked up in a module."""
    out: dict[str, set[tuple[str, str | None]]] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.asname:
                    out.setdefault(a.asname, set()).add((a.name, None))
                else:
                    head = a.name.split(".", 1)[0]
                    out.setdefault(head, set()).add((head, None))
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                parts = dotted.split(".")
                up = parts[: len(parts) - (n.level - 1 if is_pkg else n.level)]
                base = ".".join(up + ([base] if base else []))
            for a in n.names:
                out.setdefault(a.asname or a.name, set()).add((base, a.name))
    return out


def unreached(pkg: Path = PKG) -> list[str]:
    """``path:name`` of every top-level def and constant in ``pkg`` no root reaches.

    The roots outside the package are looked up in ``pkg``'s parent.
    """
    repo = pkg.parent
    defs: dict[str, dict[str, list[ast.AST]]] = {}  # module -> name -> nodes
    rels: dict[str, str] = {}
    binds: dict[str, dict[str, set[tuple[str, str | None]]]] = {}
    bodies: dict[int, tuple[str, list[ast.AST]]] = {}  # what a def or constant reaches once reached
    heads: list[tuple[str, list[ast.AST]]] = []  # decorators, defaults and bases: run at import
    bases: list[tuple[str, ast.ClassDef]] = []
    seeds: list[tuple[str, list[ast.AST]]] = []
    live: list[ast.AST] = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(repo).as_posix()
        mod = _dotted(rel)
        tree = ast.parse(path.read_text(), filename=rel)
        rels[mod] = rel
        mine = defs.setdefault(mod, {})
        binds[mod] = _bindings(tree, mod, path.name == "__init__.py")
        for stmt in tree.body:
            if constants := _constant_names(stmt):
                for name in constants:
                    mine.setdefault(name, []).append(stmt)
                bodies[id(stmt)] = (mod, [stmt.value] if stmt.value else [])
            elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                mine.setdefault(stmt.name, []).append(stmt)
                bodies[id(stmt)] = (mod, stmt.body)
                head = list(stmt.decorator_list)
                if isinstance(stmt, ast.ClassDef):
                    head += stmt.bases + [k.value for k in stmt.keywords]
                    bases.append((mod, stmt))
                else:
                    head += stmt.args.defaults + [d for d in stmt.args.kw_defaults if d]
                heads.append((mod, head))
                if _is_query_slot(stmt):
                    live.append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not (
                isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            ):
                seeds.append((mod, [stmt]))
    for path in _root_files(repo):
        rel = path.relative_to(repo).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        binds[rel] = _bindings(tree, _dotted(rel), path.name == "__init__.py")
        seeds.append((rel, [tree]))

    def name_in(mod: str, name: str, seen=frozenset()) -> tuple[list[ast.AST], set[str]]:
        """The defs and the package modules ``name`` denotes in module ``mod``."""
        if (mod, name) in seen:
            return [], set()
        nodes = list(defs.get(mod, {}).get(name, ()))
        mods = set()
        for target, attr in binds.get(mod, {}).get(name, ()):
            if attr is None:
                mods |= {target} & defs.keys()
            else:
                n, m = attr_of(target, attr, seen | {(mod, name)})
                nodes += n
                mods |= m
        return nodes, mods

    def attr_of(mod: str, attr: str, seen=frozenset()) -> tuple[list[ast.AST], set[str]]:
        """What ``mod.attr`` denotes: a submodule, or a name in ``mod``."""
        sub = {f"{mod}.{attr}"} & defs.keys()
        nodes, mods = name_in(mod, attr, seen)
        return nodes, mods | sub

    def resolve(mod: str, expr) -> tuple[list[ast.AST], set[str]]:
        if isinstance(expr, ast.Name):
            return name_in(mod, expr.id)
        if isinstance(expr, ast.Attribute):
            nodes: list[ast.AST] = []
            mods: set[str] = set()
            for m in resolve(mod, expr.value)[1]:
                n, ms = attr_of(m, expr.attr)
                nodes += n
                mods |= ms
            return nodes, mods
        return [], set()

    def reaches(mod: str, nodes) -> list[ast.AST]:
        """Defs and constants ``nodes`` reach: a bare name, ``M.f`` on a module
        ``M``, or a string naming a module inside the package (every def in
        it; the bare package name is too common a word to count)."""
        out: list[ast.AST] = []
        for top in nodes:
            for n in ast.walk(top):
                if isinstance(n, (ast.Name, ast.Attribute)):
                    out += resolve(mod, n)[0]
                elif isinstance(n, ast.Constant) and n.value in defs and "." in n.value:
                    out += [d for ds in defs[n.value].values() for d in ds]
        return out

    subclasses: dict[int, list[ast.ClassDef]] = {}
    for mod, cls in bases:
        for base in cls.bases:
            for node in resolve(mod, base)[0]:
                subclasses.setdefault(id(node), []).append(cls)
    todo = list(live)
    for mod, nodes in seeds + heads:
        todo += reaches(mod, nodes)
    reached: set[int] = set()
    while todo:
        node = todo.pop()
        if id(node) in reached:
            continue
        reached.add(id(node))
        todo += subclasses.get(id(node), [])
        todo += reaches(*bodies[id(node)])
    return sorted(
        f"{rels[mod]}:{name}"
        for mod, names in defs.items()
        for name, nodes in names.items()
        for node in nodes
        if id(node) not in reached
    )


def test_every_def_is_reached_or_allowed():
    missing = [d for d in unreached() if d not in ALLOWED]
    assert not missing, f"{len(missing)} top-level defs only tests reach:\n" + "\n".join(missing)


def test_allow_list_is_current():
    stale = sorted(set(ALLOWED) - set(unreached()))
    assert not stale, "allow-listed defs that are gone or now reached:\n" + "\n".join(stale)


def test_strings_do_not_reach(tmp_path):
    """A def named only in a docstring or only in ``__all__`` is
    unreached, and so is one that is imported but never used, or that
    only shares its name with a method called on an object; a def a root
    calls, by name or through its module, or whose module a string
    names, is not."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('__all__ = ["in_all"]\n')
    (pkg / "lib.py").write_text(
        "def in_docstring():\n    pass\n\n\n"
        "def in_all():\n    pass\n\n\n"
        "def imported():\n    pass\n\n\n"
        "def read():\n    pass\n\n\n"
        "def called():\n    pass\n\n\n"
        "def via_module():\n    pass\n"
    )
    (pkg / "plugin.py").write_text("def hook():\n    pass\n")
    (pkg / "slots.py").write_text(
        "from pkg import lib\n"
        "from pkg.lib import called, imported\n\n\n"
        "@query(name='s')\n"
        "def slot():\n"
        '    """Like in_docstring, but calls the other one."""\n'
        "    called().read()\n"
        "    lib.via_module()\n"
        "    return 'pkg.plugin'\n"
    )
    assert unreached(pkg) == [
        "pkg/lib.py:imported",
        "pkg/lib.py:in_all",
        "pkg/lib.py:in_docstring",
        "pkg/lib.py:read",
    ]
