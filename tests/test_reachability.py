"""Every engine module is reachable from a query, the pipeline or the CLI.

Walks the import graph from the three entry points -- ``__spark_entry__.py``
(the query registry), ``pipeline.py`` (the daily batch) and ``__main__.py``
(the CLI) -- by parsing source, so it needs no Spark. Imports inside
function bodies count. A module under ``etl_pipeline_last_fm_spark/`` that
no walk reaches is dead code: wire it into one of the roots or delete it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "etl_pipeline_last_fm_spark"
ROOTS = (
    REPO / "__spark_entry__.py",
    REPO / PKG / "pipeline.py",
    REPO / PKG / "__main__.py",
)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _imported_names(path: Path) -> set[str]:
    """Dotted names each import statement in ``path`` may load: the module
    itself and, for ``from m import x``, the submodule ``m.x``. The package
    uses absolute imports only."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{alias.name}" for alias in node.names)
    return names


def _reached(modules: dict[str, Path]) -> set[str]:
    todo = list(ROOTS)
    seen = {_module_name(r) for r in ROOTS}
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # Importing a.b.c runs a/__init__ and a/b/__init__ first.
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in seen:
                    seen.add(prefix)
                    todo.append(modules[prefix])
    return seen


def test_every_engine_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    unreached = sorted(set(modules) - _reached(modules))
    assert not unreached, (
        "modules no query, pipeline stage or CLI command imports: "
        + ", ".join(unreached)
    )
