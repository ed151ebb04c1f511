"""Blocked fuzzy matching (entity resolution) on short strings.

The reference joins dimensions on exact natural keys (dim_artist on
artist_name, dim_song on (song_name, duration) — reference
dags/from_ods_to_dds_pg.py:97-98); real-world catalogs additionally need
*fuzzy* identity: 'the beatles' vs 'the beetles'. This module implements the
standard entity-resolution shape — block, then verify:

1. **Block**: candidates come from an equi-join on a cheap blocking key:
   the lowercased head token. Work scales with block occupancy,
   not corpus size — the same sub-quadratic posture as MinHash-LSH banding
   in operators.dedup.
2. **Verify**: Levenshtein distance, evaluated only inside blocks, with the
   threshold pushed into Spark's banded-DP ``levenshtein(l, r, threshold)``
   (cost O(len*threshold) instead of O(len^2), and early-exits).

Recall is relative to the blocking assumption (a true pair shares its head
token). That is the domain-reasonable key for brand/product-style names;
catalogs where it fails need phonetic or q-gram blocking keys. A length
pre-filter (|len(a)-len(b)| <=
max_dist, a necessary condition for edit distance) runs before the DP.

Skew note (100 TB): an ultra-common head token is a hot block. The
``max_block_size`` guard drops blocks above a cap — the analogue of
dedup's LSH bucket cap — and AQE skew-join splitting handles what
remains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs whose normalized names are within
    ``max_dist`` edits AND share the head token. Output columns:
    id_a, id_b, name_a, name_b, dist."""
    norm = F.lower(F.trim(F.col(name_col)))
    block = F.split_part(norm, F.lit(" "), F.lit(1))
    n = df.select(F.col(id_col).alias("id"), norm.alias("nm"), block.alias("blk"))
    if max_block_size is not None:
        sizes = n.groupBy("blk").count().filter(F.col("count") <= max_block_size)
        n = n.join(sizes.select("blk"), "blk", "left_semi")
    a = n.select(F.col("id").alias("id_a"), F.col("nm").alias("name_a"), "blk")
    b = n.select(F.col("id").alias("id_b"), F.col("nm").alias("name_b"), "blk")
    # Banded DP with threshold: returns -1 when distance exceeds max_dist,
    # so one call serves as both the filter and the output value.
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), max_dist)
    return (
        a.join(b, "blk")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.length("name_a") - F.length("name_b")) <= max_dist)
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )
