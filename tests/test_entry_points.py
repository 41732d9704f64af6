"""Runnable scripts import what exists, and package code has a runner.

Two Spark-free checks over the source text:

- Every import of the root ``*.py`` entry points and ``scripts/*.py``
  resolves: the full dotted module, and each name of ``from mod import
  name`` when ``mod`` lives in this repo. These scripts are run by hand,
  not imported by the package or its tests, so a deleted module or
  function they import would otherwise go unnoticed until someone runs
  them. Imports inside functions count.
- Every package module, and every top-level function, class or constant
  of a reached module, is reached from an entry point (the root scripts,
  ``scripts/``, ``perfbench/`` and the query registry), not only from
  ``tests/``. Module reach follows package imports (absolute, relative and
  function-local). A name is reached when a reached source uses it outside
  its own definition: as a name, an attribute, an import alias or an
  identifier-shaped string. This name scan may miss dead code, but it never
  flags live code. What is kept on purpose is listed in ``ALLOWED`` with the
  document that names it as the implementation of a reference operator.
"""

from __future__ import annotations

import ast
import importlib.util
import sys
from functools import lru_cache
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "wallaby2caom2_spark"
sys.path.insert(0, str(ROOT))

ENTRY_POINTS = sorted(ROOT.glob("*.py")) + sorted(ROOT.glob("scripts/*.py"))

_COVERAGE = "docs/COVERAGE.md"
# "module.py" or "module.py::name", relative to the package directory
# → (document that names it, why it stays without an entry point)
ALLOWED = {
    "operators/audio_signals.py::audio_signals": (
        _COVERAGE, "end-to-end curation row: the one-decode gate pass"),
    "plans/curate.py::curate_corpus": (
        _COVERAGE, "end-to-end curation row: the full curation DAG"),
    "plans/export.py::export_training_shards": (
        _COVERAGE, "export row: the terminal training-shard sink"),
    "plans/export.py::validate_shards": (
        _COVERAGE, "export row: the dataloader-side contract check"),
    "plans/export.py::export_packed_shards": (
        _COVERAGE, "corpus assembly row: the packed-shard sink"),
    "plans/export.py::export_preview_artifacts": (
        "docs/VERDICT_R3_RESOLUTIONS.md", "preview PNGs persisted as files"),
    "plans/export.py::export_observation_documents": (
        _COVERAGE, "S7 record sink: one document per observation"),
    "plans/maintenance.py::rebucket_job": (
        _COVERAGE, "J1 re-key + regroup"),
    "plans/maintenance.py::bulk_field_rewrite_job": (
        _COVERAGE, "P19 release-date overwrite"),
    "plans/maintenance.py::recover_rewrite": (
        _COVERAGE, "P19: crash recovery of the staged rewrite"),
    "queries/manifest.py::manifest_json": (
        "docs/VERDICT_R2_RESOLUTIONS.md",
        "generates docs/QUERIES.json, which a test compares against it"),
    "queries/shards.py::clips_quality_curriculum_auto": (
        "docs/VERDICT_R3_RESOLUTIONS.md", "size-switched curriculum plan"),
    "sources/bucketed.py": (
        _COVERAGE, "bucketed co-located join row"),
    "streaming/stateful.py::dedup_stream": (
        _COVERAGE, "custom stateful ops row: cross-batch dedup"),
    "streaming/stateful.py::dedup_builtin_within_watermark": (
        _COVERAGE, "custom stateful ops row: built-in dedup variant"),
    "streaming/stateful.py::session_stream": (
        _COVERAGE, "custom stateful ops row: session assembly"),
    "streaming/stateful.py::quota_stream": (
        _COVERAGE, "custom stateful ops row: per-source ingest quota"),
    "streaming/upsert_stream.py::run_upsert_stream": (
        _COVERAGE, "J2: the streaming form of the keyed merge"),
}


@lru_cache(maxsize=None)
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


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


def _binds(stmt: ast.stmt) -> set[str]:
    """Names a def, class or assignment statement binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = getattr(stmt, "targets", None) or [stmt.target]
        return {
            n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name)
        }
    return set()


def _top_level_names(path: Path) -> set[str]:
    """Names a module binds at import time: its top-level defs, classes,
    assignments and imports, also inside top-level ``if``/``try`` blocks."""
    names: set[str] = set()

    def visit(body: list[ast.stmt]) -> None:
        for node in body:
            names.update(_binds(node))
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update(
                    alias.asname or alias.name.split(".")[0]
                    for alias in node.names
                )
            elif not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                for block in ("body", "orelse", "finalbody"):
                    visit(getattr(node, block, []))
                for handler in getattr(node, "handlers", []):
                    visit(handler.body)

    visit(_tree(path).body)
    return names


def _find_spec(module: str):
    try:
        return importlib.util.find_spec(module)
    except ModuleNotFoundError:  # a parent package is missing
        return None


def _unresolved_imports(path: Path) -> list[str]:
    """Dotted modules, and ``module.name`` pairs, that ``path`` imports
    but that do not exist."""
    tree = _tree(path)
    optional = _optional(tree)
    wanted: set[tuple[str, str | None]] = set()
    for node in ast.walk(tree):
        if id(node) in optional:
            continue
        if isinstance(node, ast.Import):
            wanted |= {(alias.name, None) for alias in node.names}
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            wanted |= {(node.module, alias.name) for alias in node.names}
    missing = set()
    for module, name in wanted:
        spec = _find_spec(module)
        if spec is None:
            missing.add(module)
            continue
        if name is None or not (spec.origin or "").startswith(
            str(ROOT)
        ):
            continue
        if spec.submodule_search_locations and _find_spec(
            f"{module}.{name}"
        ):
            continue
        if name not in _top_level_names(Path(spec.origin)):
            missing.add(f"{module}.{name}")
    return sorted(missing)


def test_entry_points_are_found():
    assert ROOT / "bench.py" in ENTRY_POINTS
    assert ROOT / "scripts" / "check_oracle.py" in ENTRY_POINTS


@pytest.mark.parametrize(
    "path", ENTRY_POINTS, ids=lambda p: str(p.relative_to(ROOT))
)
def test_every_import_resolves(path):
    missing = _unresolved_imports(path)
    assert missing == [], f"{path.relative_to(ROOT)} imports {missing}"


@pytest.mark.parametrize(
    "line, missing",
    [
        (
            f"from {PKG}.operators.no_such_module import nothing",
            f"{PKG}.operators.no_such_module",
        ),
        (f"import {PKG}.no_such_module", f"{PKG}.no_such_module"),
        (
            f"from {PKG}.plans.pipeline import no_such_name",
            f"{PKG}.plans.pipeline.no_such_name",
        ),
        ("from bench_common import no_such_name", "bench_common.no_such_name"),
    ],
)
def test_missing_package_imports_are_reported(tmp_path, line, missing):
    script = tmp_path / "script.py"
    script.write_text(
        f"from {PKG}.plans.pipeline import quality_filter\n"
        f"from {PKG} import datagen\n"
        "from pyspark.sql import functions\n"
        f"def main():\n    {line}\n"
    )
    assert _unresolved_imports(script) == [missing]


# ---- reachability ---------------------------------------------------------


def _package_modules(root: Path, pkg: str) -> dict[str, Path]:
    """dotted module name → file, for every module of the package."""
    out = {}
    for path in sorted((root / pkg).rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported(path: Path, module: str, modules: dict[str, Path]) -> set[str]:
    """Package modules that importing ``path`` (module ``module``, "" for
    a script) executes, parents included."""
    names = set()
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            names |= {alias.name for alias in node.names}
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = module.split(".")
                if path.name != "__init__.py":
                    base = base[:-1]
                base = base[: len(base) - node.level + 1]
                target = ".".join(base + [node.module] * bool(node.module))
            else:
                target = node.module
            names.add(target)
            names |= {f"{target}.{alias.name}" for alias in node.names}
    parents = {
        ".".join(name.split(".")[:i])
        for name in names
        for i in range(1, name.count(".") + 2)
    }
    return parents & modules.keys()


def _uses(tree: ast.Module) -> set[str]:
    """Names a source uses outside the definitions that bind them."""
    used = set()
    for stmt in tree.body:
        own = _binds(stmt)
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name) and not isinstance(
                node.ctx, ast.Store
            ):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            elif isinstance(node, ast.Constant) and isinstance(
                node.value, str
            ) and node.value.isidentifier():
                name = node.value
            else:
                continue
            if name not in own:
                used.add(name)
    return used


def _reach_entries(root: Path, pkg: str) -> list[Path]:
    return (
        sorted(root.glob("*.py"))
        + sorted(root.glob("scripts/*.py"))
        + sorted(
            p for p in root.glob("perfbench/*.py")
            if not p.name.startswith("test_")
        )
        + sorted((root / pkg / "queries").rglob("*.py"))
    )


def _unreached(root: Path, pkg: str, entries: list[Path]) -> set[str]:
    """``module.py`` keys of package modules no entry point imports, and
    ``module.py::name`` keys of top-level names of reached modules that no
    reached source uses (paths relative to the package directory)."""
    modules = _package_modules(root, pkg)
    by_path = {path: name for name, path in modules.items()}
    sources, todo = set(), list(entries)
    while todo:
        path = todo.pop()
        if path in sources:
            continue
        sources.add(path)
        todo += [
            modules[m]
            for m in _imported(path, by_path.get(path, ""), modules)
        ]
    used = set().union(*(_uses(_tree(p)) for p in sources))
    out = set()
    for path in modules.values():
        key = str(path.relative_to(root / pkg))
        if path not in sources:
            out.add(key)
            continue
        for stmt in _tree(path).body:
            out |= {
                f"{key}::{n}" for n in _binds(stmt) - used
                if not n.startswith("__")  # __all__, __version__, ...
            }
    return out


def _allow_problems(
    allowed: dict[str, tuple[str, str]], unreached: set[str]
) -> list[str]:
    """Entries of ``allowed`` that no longer hold: the code is reached now
    or is gone, or the cited document does not name it."""
    problems = []
    for key, (doc, _why) in sorted(allowed.items()):
        rel, _, name = key.partition("::")
        path = ROOT / PKG / rel
        if not path.exists() or name and name not in set().union(
            *(_binds(s) for s in _tree(path).body)
        ):
            problems.append(f"{key}: no longer exists")
        elif key not in unreached:
            problems.append(f"{key}: is reached now")
        doc_path = ROOT / doc
        if not doc_path.exists() or (name or rel) not in doc_path.read_text():
            problems.append(f"{key}: {doc} does not name it")
    return problems


def test_package_code_is_reached_from_an_entry_point():
    unreached = _unreached(ROOT, PKG, _reach_entries(ROOT, PKG))
    only_tests = sorted(unreached - ALLOWED.keys())
    assert only_tests == [], (
        f"only tests reach {only_tests}: delete it, or list it in ALLOWED "
        "with the document that names it"
    )
    problems = _allow_problems(ALLOWED, unreached)
    assert problems == [], f"stale ALLOWED entries: {problems}"


def test_reachability_walk_follows_every_import_form(tmp_path):
    """A canary package: relative, function-local and string uses reach;
    an orphan module and a self-recursive function do not."""
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    files = {
        "main.py": "from pkg.live import used\nused()\n",
        "pkg/__init__.py": "",
        "pkg/live.py": (
            "def used():\n"
            "    from .sub import helper\n"
            "    return helper.run(), getattr(helper, 'by_string')\n"
            "def dead(n):\n    return dead(n - 1)\n"
            "CONSTANT = 1\n"
        ),
        "pkg/sub/__init__.py": "",
        "pkg/sub/helper.py": (
            "def run():\n    return 1\n"
            "def by_string():\n    return 2\n"
        ),
        "pkg/orphan.py": "def alone():\n    return 0\n",
    }
    for rel, text in files.items():
        (tmp_path / rel).write_text(text)
    assert _unreached(tmp_path, "pkg", [tmp_path / "main.py"]) == {
        "orphan.py", "live.py::dead", "live.py::CONSTANT",
    }


def test_stale_or_uncited_allow_entries_fail():
    unreached = _unreached(ROOT, PKG, _reach_entries(ROOT, PKG))
    stale = {
        "plans/pipeline.py::run_metrics": (_COVERAGE, "reached"),
        "plans/pipeline.py::no_such_name": (_COVERAGE, "gone"),
        "operators/no_such_module.py": (_COVERAGE, "gone"),
        "plans/curate.py::curate_corpus": ("docs/PLANS.md", "uncited"),
    }
    assert _allow_problems(stale, unreached) == [
        "operators/no_such_module.py: no longer exists",
        "operators/no_such_module.py: docs/COVERAGE.md does not name it",
        "plans/curate.py::curate_corpus: docs/PLANS.md does not name it",
        "plans/pipeline.py::no_such_name: no longer exists",
        "plans/pipeline.py::no_such_name: docs/COVERAGE.md does not name it",
        "plans/pipeline.py::run_metrics: is reached now",
    ]
