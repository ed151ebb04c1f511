"""Every engine and grading module is reachable from a query, the pipeline
or the CLI.

Walks the import graph from the three entry points -- ``__spark_entry__.py``
(the graded queries), ``pipeline.py`` (the daily batch) and ``__main__.py``
(the CLI) -- by parsing source, so it needs no Spark. Imports inside
function bodies count. A module under ``etl_pipeline_last_fm_spark/`` or
``grading/`` that no walk reaches is dead code: wire it into one of the
roots or delete it. The engine never imports ``grading``.

The same source walk pins one structural rule: streaming state is folded
only through the replay-guarded driver in ``streaming/state.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "etl_pipeline_last_fm_spark"
GRADING = "grading"
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
    return {
        _module_name(p): p for pkg in (PKG, GRADING) for p in (REPO / pkg).rglob("*.py")
    }


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


def test_no_engine_module_imports_grading():
    """Grading depends on the engine, never the reverse: the pipeline, the
    CLI and the streaming paths load no oracle SQL."""
    offenders = sorted(
        name
        for name, path in _package_modules().items()
        if name.startswith(PKG)
        and any(n.split(".")[0] == GRADING for n in _imported_names(path))
    )
    assert not offenders, "engine modules importing grading: " + ", ".join(offenders)


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


#: The round driver, and the one loop it cannot express: connected
#: components stops on a value it collects each round.
ROUND_CUTTERS = {f"{PKG}.operators.rounds"}
DATA_DEPENDENT_LOOPS = {f"{PKG}.operators.dedup.connected_components"}


def _loop_cuts(name: str, path: Path) -> list[str]:
    """``module.function`` for each top-level function in ``path`` that
    calls ``.localCheckpoint()`` inside a ``for``/``while`` body."""
    found: list[str] = []

    def visit(node: ast.AST, fn: str, in_loop: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, fn or f"{name}.{child.name}", False)
                continue
            if (
                in_loop
                and isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "localCheckpoint"
                and fn not in found
            ):
                found.append(fn)
            visit(child, fn, in_loop or isinstance(child, (ast.For, ast.While)))

    visit(ast.parse(path.read_text(), filename=str(path)), "", False)
    return found


def test_only_the_round_driver_cuts_lineage_in_a_loop():
    """A loop that ``localCheckpoint``s its own state every round is a
    second copy of ``operators/rounds.fold_rounds``' lineage policy: route
    it through the driver instead."""
    loops = [
        fn
        for name, path in sorted(_package_modules().items())
        if name not in ROUND_CUTTERS
        for fn in _loop_cuts(name, path)
        if fn not in DATA_DEPENDENT_LOOPS
    ]
    assert not loops, "per-round localCheckpoint outside the round driver: " + ", ".join(loops)
