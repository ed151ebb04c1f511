"""Dump the optimized logical and physical plans of named queries into
plans/<tag>/<q>_<suffix>.txt.

Usage:
    python scripts/capture_plans.py --tag r13 --suffix before [query ...]
Defaults to the bench HEADLINE + EXTENDED set when no query names are given.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.

Five session counters are stripped: expression ids (``#123``, ``#123L``),
``plan_id=`` values, the numeric suffix of Python lambda variables
(``lambda x_12#`` becomes ``lambda x#``), the RDD ids in ``Scan
ExistingRDD`` arguments (``MapPartitionsRDD[113]``) and the suffix of the
optimizer's common subexpressions (``_common_expr_18``). They count up per
session, so without this two captures of the same plan differ, and so do
plans built from the same Column expressions in another order or after a
different set of queries. Two captures of one tree then ``diff -r`` clean,
which makes a parent/change plan comparison a plain directory diff.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_last_fm_spark.session import get_spark  # noqa: E402

_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(lambda \w+)_\d+#"), r"\1#"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_"),
]


def normalize(txt: str) -> str:
    for pat, repl in _NOISE:
        txt = pat.sub(repl, txt)
    return txt


def main() -> None:
    args = sys.argv[1:]
    tag, suffix = "r13", "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2 :]
    names = [a for a in args if not a.startswith("--")]

    import bench
    import __spark_entry__ as entrymod

    if not names:
        names = bench.HEADLINE + bench.EXTENDED
    qs = entrymod.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="capture-plans")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        physical = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        txt = normalize(
            "== Optimized Logical Plan ==\n"
            f"{qe.optimizedPlan().toString()}\n\n{physical}"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"[plans] wrote {path} ({len(txt)} bytes)", flush=True)


if __name__ == "__main__":
    main()
