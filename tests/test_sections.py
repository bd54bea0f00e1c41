"""Composite slots say their sections once: the builder returns an
ordered ``{section: DataFrame}`` and the registry derives the slot's
union from it. A static guard keeps every slot in that form; the
Spark cases check that the union is exactly the sections' rows."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

SLOT_MODULES = [
    Path(__file__).resolve().parent.parent / "scida_spark" / f
    for f in ("queries.py", "queries_pipeline.py", "queries_scida.py")
]


def _slot_decorator(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id in ("query", "composite")
        for d in node.decorator_list
    )


def _own_returns(fn):
    """Return statements of ``fn`` itself, not of functions nested in it."""
    stack, out = list(fn.body), []
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)):
            continue
        if isinstance(node, ast.Return) and node.value is not None:
            out.append(node.value)
        stack.extend(ast.iter_child_nodes(node))
    return out


def test_no_slot_returns_a_hand_chained_union():
    offenders = []
    for path in SLOT_MODULES:
        for node in ast.parse(path.read_text()).body:
            if not (isinstance(node, ast.FunctionDef) and _slot_decorator(node)):
                continue
            for ret in _own_returns(node):
                if any(
                    isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute) and c.func.attr == "unionAll"
                    for c in ast.walk(ret)
                ):
                    offenders.append(f"{path.name}:{node.name}")
    assert not offenders, f"merged slots must return their sections (a dict), not a union: {offenders}"


@pytest.mark.parametrize(
    "name, keys",
    [
        ("scida_histograms", ["2d", "1d"]),
        ("scida_grouped", ["fluent", "apply"]),
        ("q_topn", ["per_group", "global"]),
    ],
)
def test_slot_rows_are_the_union_of_its_sections(spark, sf_dir, name, keys):
    from scida_spark.queries import registry

    q = registry()[name]
    sections = q.sections(spark, sf_dir)
    assert list(sections) == keys
    whole = q.fn(spark, sf_dir)
    parts = list(sections.values())
    union = parts[0]
    for p in parts[1:]:
        union = union.unionAll(p)
    assert whole.columns == union.columns
    assert whole.exceptAll(union).count() == 0
    assert union.exceptAll(whole).count() == 0


def test_plain_slot_has_no_sections():
    from scida_spark.queries import registry

    assert registry()["q1_pricing_summary"].sections is None
