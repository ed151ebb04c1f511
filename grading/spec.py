"""One spec per graded query: its name, its Spark builder and its DuckDB
oracle SQL.

A domain module declares a query once, by decorating its builder::

    @oracle(SQL)
    def q_<name>(spark, sf_dir) -> DataFrame: ...

``specs_of(module)`` reads them back as ``Spec("<name>", q_<name>, SQL)``,
in definition order. ``grading.SPECS`` concatenates the domain modules.

Also here, the SQL helpers several domains share: ``unroll_ctes``, the SQL
side of ``operators/rounds.fold_rounds``, and ``portable_hash60_sql``, the
DuckDB twin of ``functions/scalar.portable_hash60``.
"""

from __future__ import annotations

from collections.abc import Callable
from types import ModuleType
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


class Spec(NamedTuple):
    name: str
    build: Builder
    oracle: str


def oracle(sql: str) -> Callable[[Builder], Builder]:
    """Mark the decorated ``q_<name>`` as query ``<name>``, checked against
    ``sql``."""

    def mark(build: Builder) -> Builder:
        build.oracle_sql = sql
        return build

    return mark


def specs_of(module: ModuleType) -> list[Spec]:
    """The queries ``module`` defines, in definition order."""
    return [
        Spec(fn.__name__.removeprefix("q_"), fn, fn.oracle_sql)
        for fn in vars(module).values()
        if hasattr(fn, "oracle_sql") and fn.__module__ == module.__name__
    ]


def unroll_ctes(head: str, round_sql: Callable[[int], str], n: int) -> str:
    """``head`` followed by ``round_sql(i)`` for i = 1..n: round i's CTEs
    read round i-1's."""
    return head + "".join(round_sql(i) for i in range(1, n + 1))


def portable_hash60_sql(expr: str) -> str:
    """DuckDB twin of ``portable_hash60`` for an arbitrary SQL expression."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"
