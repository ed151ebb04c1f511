"""Every engine and grading module is reachable from a query, the pipeline
or the CLI.

Walks the import graph from the three entry points -- ``__spark_entry__.py``
(the graded queries), ``pipeline.py`` (the daily batch) and ``__main__.py``
(the CLI) -- by parsing source, so it needs no Spark. Imports inside
function bodies count. A module under ``etl_pipeline_last_fm_spark/`` or
``grading/`` that no walk reaches is dead code: wire it into one of the
roots or delete it. The engine never imports ``grading``.

Below the module level, the engine's package ``__init__`` files import
nothing (a re-export would count as a reader of every name it lists),
every top-level engine name has a reader somewhere in the repo, and every
defaulted parameter of a top-level engine function is set by some call
(a default nothing overrides is a constant, not a parameter).

The same source walk pins one structural rule: streaming state is folded
only through the replay-guarded driver in ``streaming/state.py``.
"""

from __future__ import annotations

import ast
import math
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


def test_engine_package_inits_import_nothing():
    """Importers name the submodule; an ``__init__`` that re-exports
    names is a second path to them that also hides which are unread."""
    offenders = sorted(
        str(p.relative_to(REPO))
        for p in (REPO / PKG).rglob("__init__.py")
        if any(
            isinstance(n, (ast.Import, ast.ImportFrom))
            for n in ast.walk(ast.parse(p.read_text(), filename=str(p)))
        )
    )
    assert not offenders, "package __init__ files that import: " + ", ".join(offenders)


def _repo_sources() -> list[Path]:
    return [
        p
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]


def _top_level_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = (
        node.targets if isinstance(node, ast.Assign)
        else [node.target] if isinstance(node, ast.AnnAssign)
        else []
    )
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _references(tree: ast.Module) -> dict[str, set[int]]:
    """Name -> indices of the top-level statements that mention it as a
    ``Name``, an ``Attribute`` or an imported name (docstrings and other
    strings do not count)."""
    refs: dict[str, set[int]] = {}
    for i, stmt in enumerate(tree.body):
        for n in ast.walk(stmt):
            if isinstance(n, ast.Name):
                names = [n.id]
            elif isinstance(n, ast.Attribute):
                names = [n.attr]
            elif isinstance(n, ast.ImportFrom):
                names = [a.name for a in n.names]
            else:
                continue
            for name in names:
                refs.setdefault(name, set()).add(i)
    return refs


def test_every_engine_name_has_a_reader():
    """A top-level engine function, class or constant that no other
    statement in the repo mentions is dead: wire it in or delete it."""
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _repo_sources()}
    refs = {p: _references(t) for p, t in trees.items()}
    unread = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        for i, stmt in enumerate(trees[path].body):
            for name in _top_level_names(stmt):
                if name.startswith("__") and name.endswith("__"):
                    continue
                if not any(
                    refs[p].get(name, set()) - ({i} if p == path else set())
                    for p in refs
                ):
                    unread.append(f"{path.relative_to(REPO)}:{name}")
    assert not unread, "engine names nothing references: " + ", ".join(unread)


#: Deployment settings: each is set per installation, so it stays a
#: parameter although no call in the repo passes it.
DEPLOYMENT_SETTINGS = {
    # MinIO needs path-style URLs; AWS S3 prefers virtual-host buckets.
    f"{PKG}/session.py:s3a_conf:path_style_access",
    # TRUNCATE keeps a BI table's grants and views across an overwrite.
    f"{PKG}/sources/jdbc.py:write_jdbc:truncate",
    # Which isolation levels a BI database accepts is the database's choice.
    f"{PKG}/sources/jdbc.py:write_jdbc:isolation_level",
    # The insert batch size is tuned to the BI database's round trip.
    f"{PKG}/sources/jdbc.py:write_jdbc_staged:batchsize",
    # The swap DDL is dialect-specific (MySQL's atomic multi-RENAME).
    f"{PKG}/sources/jdbc.py:write_jdbc_staged:rename_template",
    # Driver options (credentials, SSL) belong to the deployment.
    f"{PKG}/sources/jdbc.py:write_jdbc_staged:options",
}


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each defaulted parameter; keyword-only ones
    have no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out: list[tuple[str, int | None]] = [(p.arg, i) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _callee(f: ast.expr) -> str | None:
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _call_sites() -> dict[str, list[tuple[set[str], float, bool]]]:
    """Called name -> (keywords, positional count, splats) for every call
    in the repo; ``functools.partial(f, ...)`` counts as a call of ``f``.
    ``splats`` is True for a ``**kwargs`` call, which may set anything;
    a ``*args`` call may set any position."""
    sites: dict[str, list[tuple[set[str], float, bool]]] = {}
    for path in _repo_sources():
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Call):
                continue
            name, args = _callee(node.func), node.args
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in args)
            npos = math.inf if star else len(args)
            keywords = {k.arg for k in node.keywords if k.arg}
            splat = any(k.arg is None for k in node.keywords)
            sites.setdefault(name, []).append((keywords, npos, splat))
    return sites


def test_every_engine_default_is_set_by_a_caller():
    """A defaulted parameter of a top-level engine function that no call in
    the repo sets is a configuration nothing has ever run: fold its default
    into the body. Calls match by function name, and a parameter counts as
    set by keyword, by position, through ``functools.partial`` or by a
    ``**kwargs`` call."""
    sites = _call_sites()
    unset = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        for fn in ast.parse(path.read_text(), filename=str(path)).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for name, pos in _defaulted(fn):
                key = f"{path.relative_to(REPO)}:{fn.name}:{name}"
                if key in DEPLOYMENT_SETTINGS:
                    continue
                if not any(
                    splat or name in kws or (pos is not None and npos > pos)
                    for kws, npos, splat in sites.get(fn.name, [])
                ):
                    unset.append(key)
    assert not unset, "engine defaults no call sets: " + ", ".join(unset)
