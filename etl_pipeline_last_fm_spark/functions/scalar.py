"""Scalar Column helpers.

Rounding parity (SURVEY.md Appendix A.2/A.3): Postgres ``numeric -> int``
casts round half-away-from-zero; Spark's ``cast(double as int)`` truncates
and its ``round()`` is HALF_UP on the decimal path but round-half-even quirks
can appear on doubles; DuckDB's ``round`` differs again on ties. To make the
semantics *identical on every engine*, ties are pinned with the floor trick:
``floor(x + 0.5)`` == round-half-up for non-negative x, expressible verbatim
in Spark, DuckDB and Postgres.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def half_up_round(col: Column, scale: int = 0) -> Column:
    """Round half-up (ties away from zero for non-negative inputs) at any
    scale, with engine-independent tie behavior: floor(x * 10^s + 0.5) / 10^s.
    Stays a pure Column expression -> whole-stage codegen."""
    if scale == 0:
        return F.floor(col + F.lit(0.5))
    factor = F.lit(float(10**scale))
    return F.floor(col * factor + F.lit(0.5)) / factor


def cents(col: Column | str) -> Column:
    """Exact integer cents of an intended-2-decimal double column.

    ``FLOOR(v * 100 + 0.5)`` recovers the intended cent count exactly for
    any double that is the nearest-double of an x.yz value (the testdata
    money/value columns are all in this class — verified in the round-9
    float-sum audit), and the expression is three exactly-specified IEEE
    ops, so Spark and DuckDB compute identical values per row.

    WHY: summing raw doubles is ORDER-SENSITIVE — partial-aggregation
    order perturbs the last ulp, and ``ROUND(SUM(double), 2)`` flips a
    cent whenever a group's true total sits on a .xx5 boundary. At 100 TB
    the combine order is an accident of the scan schedule, so a float sum
    is nondeterministic even within one engine. Integer cent sums are
    associative: any partitioning, any order, same result. (Found live by
    the round-9 hostile reorder sweep: mart_daily_avg/pivot_* flipped.)

    Domain bound (property-pinned in tests/test_cents_properties.py):
    recovery is lossless for |value| <= 2^50 cents (~$11 trillion per
    ROW). Past ~2e15 cents the double's ulp approaches a cent, so the
    carrier type itself can no longer name the cent — values that large
    never faithfully existed in a double column to begin with. SUMS are
    unbounded: they ride int64/decimal(38,0), never doubles.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("long")


def round2(col: Column) -> Column:
    """``ROUND(x, 2)`` as used by the royalties mart (reference
    dags/from_dds_to_dm_pg.py:74, scripts/ddl_dm.sql:19), tie-pinned."""
    return half_up_round(col, 2)


def ts_us(col: Column | str) -> Column:
    """Epoch microseconds of a timestamp column, NTZ-safe.

    Parquet written without the UTC-adjusted flag loads as ``TIMESTAMP_NTZ``
    in Spark 3.4+/4.x, and ``unix_micros`` rejects that type outright
    (DATATYPE_MISMATCH). Casting to ``timestamp`` first accepts both flavors;
    with the session timezone pinned to UTC (session.py) the cast is a
    semantic no-op for NTZ data, so DuckDB ``epoch_us`` oracles are unchanged.

    Every operator doing timestamp arithmetic (sessionize, as-of join, range
    join, funnel, lead/lag gaps) MUST use this instead of raw
    ``F.unix_micros`` — see tests/test_ntz.py for the regression guard.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash computed bit-identically by Spark and DuckDB:
    first 15 hex chars of md5, parsed base-16 (60 bits < 2^63, so the long
    never overflows and the sign bit is never set).

    This is the cross-engine-verifiable hash family: production paths keep
    ``xxhash64`` (JVM intrinsic, ~10x cheaper than md5), and the
    oracle-paired query entries use this so DuckDB can recompute the exact
    same signatures (see ``grading.spec.portable_hash60_sql``). Same algorithm, different
    hash constant — the verification covers the operator, not the digest.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
