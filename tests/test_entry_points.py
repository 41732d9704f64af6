"""Every runnable script imports only modules that exist (no Spark needed).

The root ``*.py`` entry points and ``scripts/*.py`` are run by hand, not
imported by the package or its tests, so a deleted or renamed module they
import would otherwise go unnoticed until someone runs them. Imports inside
functions count: a script that imports a sibling lazily fails just as hard.
"""

from __future__ import annotations

import ast
import importlib.util
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

ENTRY_POINTS = sorted(ROOT.glob("*.py")) + sorted(ROOT.glob("scripts/*.py"))


def _optional(tree: ast.AST) -> set[int]:
    """ids of the import nodes inside a ``try`` that handles ImportError:
    the script runs without them by design."""
    guarded = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Try) and any(
            isinstance(h.type, ast.Name)
            and h.type.id in ("ImportError", "ModuleNotFoundError")
            for h in node.handlers
        ):
            guarded |= {id(n) for stmt in node.body for n in ast.walk(stmt)}
    return guarded


def _imported_modules(path: Path) -> set[str]:
    tree = ast.parse(path.read_text(), str(path))
    optional = _optional(tree)
    names = set()
    for node in ast.walk(tree):
        if id(node) in optional:
            continue
        if isinstance(node, ast.Import):
            names |= {alias.name.split(".")[0] for alias in node.names}
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.add(node.module.split(".")[0])
    return names


def test_entry_points_are_found():
    assert ROOT / "bench.py" in ENTRY_POINTS
    assert ROOT / "scripts" / "check_oracle.py" in ENTRY_POINTS


@pytest.mark.parametrize(
    "path", ENTRY_POINTS, ids=lambda p: str(p.relative_to(ROOT))
)
def test_every_import_resolves(path):
    missing = sorted(
        name
        for name in _imported_modules(path)
        if importlib.util.find_spec(name) is None
    )
    assert missing == [], f"{path.relative_to(ROOT)} imports {missing}"
