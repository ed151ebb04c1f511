"""Every engine module is reachable from a query, the pipeline or the CLI.

Walks the import graph from the three entry points -- ``__spark_entry__.py``
(the query registry), ``pipeline.py`` (the daily batch) and ``__main__.py``
(the CLI) -- by parsing source, so it needs no Spark. Imports inside
function bodies count. A module under ``etl_pipeline_last_fm_spark/`` that
no walk reaches is dead code: wire it into one of the roots or delete it.

The same source walk pins one structural rule: streaming state is folded
only through the replay-guarded driver in ``streaming/state.py``.
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


#: The fold driver, and the raw -> ODS merge, which is a sink, not a state.
STREAM_WRITERS = {f"{PKG}.streaming.state", f"{PKG}.streaming.ingest"}


def _calls(path: Path) -> tuple[bool, bool]:
    """(uses writeStream/foreachBatch, calls commit_state) in ``path``."""
    writes = commits = False
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Attribute) and node.attr in (
            "writeStream", "foreachBatch"
        ):
            writes = True
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            commits = commits or name == "commit_state"
    return writes, commits


def test_only_the_fold_driver_writes_streams_and_commits_state():
    """A second ``foreachBatch`` writer or ``commit_state`` caller would be
    a second copy of the replay guard and the ordered commit. Engine
    modules and scripts are checked; tests may set up state directly."""
    files = dict(_package_modules())
    files.update({f"scripts.{p.stem}": p for p in (REPO / "scripts").glob("*.py")})
    writers, committers = [], []
    for name, path in sorted(files.items()):
        writes, commits = _calls(path)
        if writes and name not in STREAM_WRITERS:
            writers.append(name)
        if commits and name != f"{PKG}.streaming.state":
            committers.append(name)
    assert not writers, "writeStream/foreachBatch outside the fold driver: " + ", ".join(writers)
    assert not committers, "commit_state outside the fold driver: " + ", ".join(committers)
