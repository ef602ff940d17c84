"""No package code that only a test calls.

An AST scan over every top-level function and class in
``catme_etl_j_spark/``. A def counts as read when its name appears as
a ``Name``, an ``Attribute`` or an imported name anywhere in the
package outside the def's own body, or in ``bench.py``,
``__spark_entry__.py``, ``tools/`` or ``perfbench/``. Tests are not
readers. A def with no reader must be deleted, or named in its
module's ``__all__`` as public API (and documented in README).

The match is by bare name, so a def that shares its name with another
reader's identifier passes; the scan errs towards silence, never
towards a false failure.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "catme_etl_j_spark")
READERS = ("bench.py", "__spark_entry__.py", "tools", "perfbench")


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _names(node: ast.AST) -> Counter:
    """How often each identifier is read under ``node``."""
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _all_names(tree: ast.Module) -> set[str]:
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            return set(ast.literal_eval(node.value))
    return set()


def unread_defs() -> list[str]:
    """``path:name`` for every top-level def no non-test code reads."""
    trees = {p: ast.parse(open(p).read(), p) for p in _py_files(PACKAGE)}
    reads: Counter = Counter()
    for t in trees.values():
        reads.update(_names(t))
    for r in READERS:
        for p in _py_files(os.path.join(ROOT, r)):
            reads.update(_names(ast.parse(open(p).read(), p)))
    found = []
    for p, tree in trees.items():
        public = _all_names(tree)
        for d in tree.body:
            if not isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if d.name.startswith("__") and d.name.endswith("__"):
                continue
            # A def's reads of its own name (recursion) do not count.
            if d.name in public or reads[d.name] > _names(d)[d.name]:
                continue
            found.append(f"{os.path.relpath(p, ROOT)}:{d.name}")
    return found


def test_no_package_def_is_read_only_by_tests():
    found = unread_defs()
    assert not found, (
        "package defs no package, bench, tools or perfbench code reads; "
        f"delete them or list them in their module's __all__: {found}"
    )
