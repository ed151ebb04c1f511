"""Every absolute import of a repo module names a module and a top-level
name that exist.

Parses the tests, the scripts, the benchmark and the driver contract --
files no other tier-1 test imports as a whole -- so a name that moved
between modules fails here, not at the next script run. Source only: no
Spark, and no script is executed. Imports inside function bodies count.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
CHECKED = sorted(
    [
        *(REPO / "tests").glob("*.py"),
        *(REPO / "scripts").glob("*.py"),
        *(REPO / "perfbench").glob("*.py"),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
)


def _module_file(dotted: str, roots: tuple[Path, ...]) -> Path | None:
    for root in roots:
        base = root.joinpath(*dotted.split("."))
        for path in (base.with_suffix(".py"), base / "__init__.py"):
            if path.is_file():
                return path
    return None


@cache
def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level, including under ``if``/``try``."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(), filename=str(path)).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                names.update(
                    n.id for n in ast.walk(target) if isinstance(n, ast.Name)
                )
        elif isinstance(node, (ast.If, ast.Try, ast.With, ast.For)):
            todo.extend(ast.iter_child_nodes(node))
        elif isinstance(node, ast.ExceptHandler):
            todo.extend(node.body)
    return names


def _broken_imports(path: Path) -> list[str]:
    # A script may import its own directory's siblings (perfbench does).
    roots = (REPO, path.parent)
    broken = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            pairs = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            pairs = [(node.module, a.name) for a in node.names if a.name != "*"]
        else:
            continue
        for module, name in pairs:
            if _module_file(module.split(".")[0], roots) is None:
                continue  # not a repo module
            target = _module_file(module, roots)
            where = f"{path.name}:{node.lineno}"
            if target is None:
                broken.append(f"{where} no module {module}")
            elif (
                name is not None
                and name not in _top_level_names(target)
                and _module_file(f"{module}.{name}", roots) is None
            ):
                broken.append(f"{where} {module} has no {name}")
    return broken


def test_every_repo_import_resolves():
    broken = [b for path in CHECKED for b in _broken_imports(path)]
    assert not broken, "\n".join(broken)


def test_the_check_reports_a_moved_name(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds\n"
        "from etl_pipeline_last_fm_spark.operators.rounds import unroll_ctes\n"
        "from grading.spec import unroll_ctes\n"
        "from grading.nowhere import spec\n"
    )
    assert [b.split(" ", 1)[1] for b in _broken_imports(probe)] == [
        "etl_pipeline_last_fm_spark.operators.rounds has no unroll_ctes",
        "no module grading.nowhere",
    ]
