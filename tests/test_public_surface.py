"""Every public function and class in ``catlas_spark/`` is reached by
something other than the tests: a registered query, a screen stage, an
oracle, a script or the benchmark.  A surface that only tests call is
code the engine carries without using; delete it with its tests."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Reached only from tests, and kept on purpose.
ALLOWED = {
    # reference the production containment strategies are tested against
    "set_containment_join",
    # edge-form reference the adjacency-form PageRank is tested against
    "pagerank",
}


def _registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _referenced(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.ImportFrom):
            yield from (a.name for a in n.names)


def test_every_public_surface_is_reached_outside_tests():
    """A public top-level function or class of ``catlas_spark/`` is
    reached when a Name, Attribute or import outside its own body names
    it (f-string oracle SQL included; docstrings are not code), or when
    it is a ``@register``ed query. ``__init__.py`` re-exports do not
    count."""
    defs, refs = [], {}
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if rel.parts[0] in ("tests", "spark-warehouse") or rel.name == "__init__.py":
            continue
        for stmt in ast.parse(path.read_text()).body:
            owner = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = (rel, stmt.name)
                public = not stmt.name.startswith("_")
                if rel.parts[0] == "catlas_spark" and public and not _registered(stmt):
                    defs.append(owner)
            for name in _referenced(stmt):
                refs.setdefault(name, set()).add(owner)
    unreached = {
        name: f"{rel}:{name}"
        for rel, name in defs
        if not refs.get(name, set()) - {(rel, name)}
    }
    extra = sorted(unreached[n] for n in set(unreached) - ALLOWED)
    assert not extra, f"reached only from tests: {extra}"
    assert set(unreached) == ALLOWED, "an allowlisted name is now reached or gone"
