"""Every package module must be reachable from a production entry point.

An AST-only walk (no Spark session): start from the driver contract
(``__spark_entry__.py``), ``jobs/``, ``perfbench/`` and the root scripts,
follow every ``import`` / ``from ... import`` (including function-local
ones), and fail if a ``job_crawler_spark`` module is only reachable from
``tests/``. A module that only tests import is code nothing runs.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "job_crawler_spark"
ROOT_SCRIPTS = ("__spark_entry__.py", "bench.py", "round_bench.py",
                "scaling_bench.py", "sweep.py", "check_queries.py")


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file imports; ``from a import b`` yields both ``a``
    and ``a.b`` since ``b`` may be a submodule."""
    tree = ast.parse(path.read_text(), filename=str(path))
    is_pkg = path.name == "__init__.py"
    here = _module_name(path).split(".") if path.is_relative_to(REPO / PKG) else []
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here if is_pkg else here[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reachable(starts: list[Path], modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = list(starts)
    while todo:
        for name in _imported_names(todo.pop()):
            # importing a.b.c also runs a/__init__ and a/b/__init__
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append(modules[mod])
    return seen


def test_every_package_module_has_a_production_importer():
    modules = _package_modules()
    starts = [REPO / s for s in ROOT_SCRIPTS]
    starts += sorted((REPO / "jobs").rglob("*.py"))
    starts += sorted((REPO / "perfbench").rglob("*.py"))
    live = _reachable(starts, modules)
    tested = _reachable(sorted((REPO / "tests").rglob("*.py")), modules)
    # package roots with no code of their own are not modules worth a caller
    empty = {m for m, p in modules.items()
             if p.name == "__init__.py" and not p.read_text().strip()}
    test_only = sorted(tested - live - empty)
    assert not test_only, f"modules only tests import: {test_only}"
    unreached = sorted(set(modules) - live - tested - empty)
    assert not unreached, f"modules nothing imports: {unreached}"
