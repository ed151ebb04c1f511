"""Split a query's wall time into build (Python/py4j construction),
plan (analysis+optimization via explain), and execute (noop write), and
say how many classes Spark's code generator compiled in each phase and
for how long (Janino time is otherwise hidden inside execute).

The first run of each query is the cold one: its compile counts show
what the query costs a session that has not run it yet. The best of the
next N runs is reported as the query's phase split.

Usage: python scripts/phase_split.py <query> [more...] [--n N]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_last_fm_spark.session import get_spark  # noqa: E402

PHASES = ("build", "plan", "exec")


def _compiled(jvm) -> tuple[int, int]:
    """Classes compiled and compile nanoseconds so far in this JVM, read
    from Spark's codegen counters (neither read runs a Spark action)."""
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount(), codegen.CodeGenerator.compileTime()


def _timed(jvm, step):
    """Run ``step``; return its result and (wall s, classes compiled,
    compile ms) for it."""
    n0, ns0 = _compiled(jvm)
    t = time.perf_counter()
    out = step()
    s = time.perf_counter() - t
    n1, ns1 = _compiled(jvm)
    return out, (s, n1 - n0, (ns1 - ns0) / 1e6)


def _split(spark, fn, sf_dir):
    """One cache-cleared run of a query: (wall s, classes, compile ms) per
    phase."""
    jvm = spark.sparkContext._jvm
    spark.catalog.clearCache()
    df, build = _timed(jvm, lambda: fn(spark, sf_dir))
    _, plan = _timed(jvm, df._jdf.queryExecution().executedPlan)
    _, exe = _timed(jvm, lambda: df.write.format("noop").mode("overwrite").save())
    return build, plan, exe


def _compiles(run) -> str:
    return " ".join(f"{ph}={k}cls/{ms:.0f}ms" for ph, (_, k, ms) in zip(PHASES, run))


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if "--n" in args:
        i = args.index("--n")
        n = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    names = [a for a in args if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark(app_name="phase-split")
    for name in names:
        first = _split(spark, qs[name], sf_dir)
        rows = [_split(spark, qs[name], sf_dir) for _ in range(n)]
        best = min(rows, key=lambda r: sum(p[0] for p in r))
        print(
            f"[phase] {name}: "
            + " ".join(f"{ph}={p[0]:.3f}" for ph, p in zip(PHASES, best))
            + f" total={sum(p[0] for p in best):.3f} "
            f"(all: {[tuple(round(p[0], 3) for p in r) for r in rows]})",
            flush=True,
        )
        print(
            f"[compile] {name}: first run {_compiles(first)}; best run {_compiles(best)}",
            flush=True,
        )


if __name__ == "__main__":
    main()
