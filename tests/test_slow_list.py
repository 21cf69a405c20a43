"""Every node id in ``tests/slow_tests.txt`` names an existing test.

A renamed or deleted slow drill would otherwise leave a stale line
behind while the test under its new name drops silently into the fast
tier. The check is static (file and ``def`` name), so ``-k`` runs and
collection are unaffected.
"""

from __future__ import annotations

import ast
import os

from tests.conftest import _SLOW_LIST

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _test_names(path: str) -> set[str]:
    """``name`` of every module-level function (also under a module-level
    ``if``/``try``, e.g. a hypothesis guard), ``Class::name`` of every
    method."""
    with open(path) as fh:
        body = list(ast.parse(fh.read()).body)
    names = set()
    while body:
        node = body.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names.update(
                f"{node.name}::{item.name}"
                for item in node.body
                if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
            )
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for block in ("body", "orelse", "finalbody", "handlers"):
                body.extend(getattr(node, block, []))
        elif isinstance(node, ast.ExceptHandler):
            body.extend(node.body)
    return names


def test_every_slow_node_id_names_an_existing_test():
    with open(_SLOW_LIST) as fh:
        ids = [
            line.strip()
            for line in fh
            if line.strip() and not line.startswith("#")
        ]
    assert ids
    defs: dict[str, set[str]] = {}
    missing = []
    for node_id in ids:
        path, _, name = node_id.partition("::")
        name = name.split("[", 1)[0]  # a parametrised id names its function
        full = os.path.join(REPO, path)
        if path not in defs:
            defs[path] = _test_names(full) if os.path.isfile(full) else set()
        if name not in defs[path]:
            missing.append(node_id)
    assert missing == []
