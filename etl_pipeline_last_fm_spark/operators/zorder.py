"""Z-order (Morton) interleaved sort keys for multi-dimension data skipping.

``write_sorted`` (sources/layout.py) clusters on ONE key: parquet min/max
stats prune scans filtered on that key, but a filter on a second column
still reads everything. Z-ordering interleaves the bits of two columns so
files are simultaneously clustered on both — the standard lakehouse layout
trick (Delta/Iceberg `OPTIMIZE ZORDER BY`), here as a plain Column
expression any `repartitionByRange(zkey) + sortWithinPartitions(zkey)`
write can use.

The key is pure integer bit arithmetic — an unrolled
``sum_i ((x>>i & 1) << 2i | (y>>i & 1) << (2i+1))`` — identical on Spark
and DuckDB, so the operator is oracle-verifiable like everything else.
Inputs must be non-negative and fit in ``bits`` bits; rank/bucket wider or
signed domains first (`quantile_buckets` in operators/profile.py is the
natural rank source, making the layout robust to value skew).

Scale: computing the key is a per-row expression (no shuffle); the write
is one range shuffle on the key. Locality guarantee tested two ways: the
canonical 4x4 Morton traversal, and measured per-file min/max span
shrinkage vs an unordered write for BOTH dimensions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 20) -> Column:
    """Morton-interleave two non-negative integer columns: x occupies even
    bit positions, y odd. bits <= 30 keeps the key in a positive BIGINT."""
    if not 1 <= bits <= 30:
        raise ValueError("bits must be in [1, 30]")
    xl = x.cast("long")
    yl = y.cast("long")
    terms = []
    for i in range(bits):
        terms.append(
            F.expr(f"shiftleft(1L, {2 * i})")
            * F.shiftright(xl, i).bitwiseAND(F.lit(1))
        )
        terms.append(
            F.expr(f"shiftleft(1L, {2 * i + 1})")
            * F.shiftright(yl, i).bitwiseAND(F.lit(1))
        )
    return reduce(lambda a, b: a + b, terms).cast("long")


def scaled_to_bits(
    col: Column, lo: int | Column, hi: int | Column, bits: int
) -> Column:
    """Map an integer column with known [lo, hi] bounds onto [0, 2^bits):
    the normalization that makes interleaving meaningful. Unequal bit
    widths degenerate the curve into a plain sort on the wider column
    (its high bits dominate every comparison) — so both dimensions must be
    scaled to the SAME width first. Real lakehouse ZORDER implementations
    do exactly this via range-ids; here the caller supplies bounds (from
    stats, one bounded agg, or broadcast bound columns)."""
    lo_c = lo if isinstance(lo, Column) else F.lit(lo)
    hi_c = hi if isinstance(hi, Column) else F.lit(hi)
    span = hi_c - lo_c + F.lit(1)
    return F.floor(
        (col.cast("long") - lo_c) * F.lit(1 << bits) / span
    ).cast("long")


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 10,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on the Morton key of (x_col, y_col): range
    shuffle on the key, sort within files, drop the key from the payload.
    Filters on EITHER column then prune on parquet min/max stats.

    Both columns are normalized to ``bits`` bits off their observed min/max
    (one bounded agg — at a real deployment, table stats) so neither
    dimension's magnitude dominates the interleave."""
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).collect()[0]
    zk = zorder_key(
        scaled_to_bits(F.col(x_col), lo_x, hi_x, bits),
        scaled_to_bits(F.col(y_col), lo_y, hi_y, bits),
        bits,
    ).alias("__zkey")
    (
        df.select("*", zk)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )
