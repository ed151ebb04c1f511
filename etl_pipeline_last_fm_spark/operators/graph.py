"""Distributed graph analytics: triangle counting and fixed-iteration
PageRank, both with exact cross-engine oracles.

A curation pipeline meets graphs twice: the near-dup similarity graph
(already served by ``dedup.connected_components`` min-label propagation)
and *entity* graphs — co-occurrence structure (which suppliers ship
together, which documents cite each other) used for importance weighting
and community-ish features over training corpora. The reference has no
graph tier (its Postgres delegation stops at joins, reference
`dags/from_dds_to_dm_pg.py`); this extends the engine the same way the sketch
and ANN tiers do.

Exactness: both operators are pure integer programs. Triangle counts are
plain COUNT(*)s; PageRank runs in integer micro-units with integer
division (``div``) at every step — floor division of non-negative int64
is bit-identical in any engine, so a k-iteration run matches the oracle's
k unrolled CTEs value-for-value *by construction* (unlike float PageRank,
where accumulation order drifts). The dangling-mass and division
remainders are dropped identically on both sides (documented below).

Scale shape:
* Triangle counting uses the degree-ordered orientation (Suri &
  Vassilvitskii's "curse of the last reducer" fix): every edge points
  from its (degree, id)-smaller endpoint, so a node's out-degree is
  O(sqrt(m)) regardless of how skewed the raw degree distribution is,
  and the wedge self-join — the only superlinear step — is bounded by
  sum of out-deg^2 = O(m^1.5) instead of the hub-degree^2 blowup the
  naive orientation hits on power-law graphs.
* PageRank is the standard Pregel shape: per iteration one join
  (ranks onto edges by src) and one shuffle (sum contributions by dst).
  Ranks stay (node, int64) — n rows; edges are read k times. At cluster
  scale both would be co-partitioned on node id so the per-iteration
  join is shuffle-free; expressed declaratively here so AQE/bucketing
  can do exactly that.

Overflow: rank mass is conserved-or-shrunk (damping drops mass), so a
single node's rank is bounded by total initial mass = n * 1e6 micro
units; 85 * that must fit int64 → safe to ~10^11 nodes. Wedge and
contribution counts are plain int64 sums.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

SUPPLIER_NODE_OFFSET = 1_000_000_000  # disjoint node id spaces (cust vs supp)
PR_INIT_MICRO = 1_000_000
PR_BASE_MICRO = 150_000  # (1 - 0.85) * 1e6

#: Max dsts per cached adjacency row (PageRank). Bounds the per-row
#: aggregation buffer and the per-row explode fan-out so a 100 TB hub node
#: cannot mint an unbounded array; chunk splits never change values (each
#: chunk carries the full out-degree/out-weight divisor).
_ADJ_CHUNK = 65_536


def cosupplier_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected canonical edges (a < b) between suppliers that appear in
    the same order. Fan-out is bounded by lines-per-order (TPC-H: <= 7),
    so the per-order pair expansion is O(1) per order — linear overall."""
    os_ = lineitem.select("l_orderkey", "l_suppkey").distinct()
    a = os_.alias("a")
    b = os_.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("a"),
            F.col("b.l_suppkey").alias("b"),
        )
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation: (node, degree, triangles), every
    node in the graph present (triangles = 0 when none).

    INPUT CONTRACT: ``edges`` must be distinct canonical undirected edges
    (a < b, no duplicates, no self-loops) — duplicates would inflate
    degrees and wedge counts. ``cosupplier_edges`` satisfies this.

    Degree-ordered orientation: edge {u, v} points u -> v iff
    (deg(u), u) < (deg(v), v) — a total order, so each undirected edge
    appears exactly once and each triangle closes exactly once (its
    smallest vertex in the order emits the wedge). The oracle counts the
    same triangles via the naive id-ordered 3-way join — two different
    derivations agreeing on every node is the cross-check.
    """
    # Lineage-truncate the shared subtrees (OPTIMIZATION r13, the
    # twice-consumed-subtree rule link_prediction_scores already applies):
    # un-truncated, the (expensive) edge derivation re-executed once per
    # consumer — deg is read at three sites and `oriented` at three (o1,
    # o2, closer), so the fact-join edge build ran up to SIX times inside
    # one action. Values unchanged; only the re-execution is gone.
    edges = edges.localCheckpoint()
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint()
    )
    ed = (
        edges.join(deg.withColumnRenamed("node", "a").withColumnRenamed("degree", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("degree", "db"), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint()
    # Per-EDGE intersection closure (OPTIMIZATION r13, guide §2.3): the
    # previous form materialized every wedge as a ROW (u, v, w) — an
    # O(m^1.5) row stream through a theta-join and a semi-join — then
    # closed wedges against the edge list. Same triangles, derived
    # edge-at-a-time instead: a triangle with orientation u->v, u->w,
    # v->w is found exactly once, at edge (u, v), as w in
    # N+(u) INTERSECT N+(v) (w cannot surface at (u, w) or (v, w): v is
    # not in N+(w) and u is not in N+(v)/N+(w) by acyclicity). The
    # degree-ordered orientation still bounds |N+| at O(sqrt(m)), so the
    # per-edge adjacency arrays and the intersect cost stay hub-safe; the
    # asymptotic work is unchanged but it runs as vectorized array ops
    # inside the edge rows — no wedge-row shuffle, no semi-join
    # (measured at sf0.1 on the near-complete co-supplier fixture graph:
    # 91.6 -> 19.4 s, counts identical node-for-node; the id-ordered
    # 3-way-join oracle is untouched, so the independent-derivation
    # cross-check now spans three algorithms).
    adjp = oriented.groupBy("src").agg(F.collect_list("dst").alias("adj"))
    eu = oriented.join(
        adjp.withColumnRenamed("src", "src_u").withColumnRenamed("adj", "adj_u"),
        F.col("src") == F.col("src_u"),
    ).select("src", "dst", "adj_u")
    ev = eu.join(
        adjp.withColumnRenamed("src", "src_v").withColumnRenamed("adj", "adj_v"),
        F.col("dst") == F.col("src_v"),
        "left",  # dst may have no out-edges: empty adjacency, zero closures
    ).select("src", "dst", "adj_u", "adj_v")
    per_edge = ev.select(
        "src",
        "dst",
        F.array_intersect("adj_u", F.coalesce("adj_v", F.array())).alias("common"),
    ).withColumn("c", F.size("common"))
    # ONE credit pass: each closing w gets 1, and u and v each get c —
    # emitted together so the intersection is evaluated once (3 x
    # triangles credit rows, exactly the row volume of the old
    # three-way union, minus the wedge stream that fed it).
    credit = (
        per_edge.select(
            F.explode(
                F.concat(
                    F.col("common"),
                    F.array_repeat(F.col("src"), F.col("c")),
                    F.array_repeat(F.col("dst"), F.col("c")),
                )
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__t"))
    )
    return deg.join(credit, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("__t"), F.lit(0)).cast("long").alias("triangles"),
    )


def customer_supplier_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Directed bipartite edges customer -> supplier ("bought from"),
    distinct; supplier ids shifted into a disjoint node space. Defined
    as the weighted projection with the weight dropped, so the two graph
    families share ONE edge derivation (offset, casts, distinctness) and
    cannot de-correlate. (Catalyst prunes the weight aggregation when
    only src/dst are consumed... the count itself is cheap either way —
    the distinct it replaces shuffles the same rows.)"""
    return customer_supplier_weighted_edges(orders, lineitem).select("src", "dst")


@contextmanager
def graph_caches():
    """Deterministic release scope for the persists PageRank takes out:

        with graph_caches() as handle:
            ranks = pagerank_micro(edges, caches=handle)
            ranks.collect()          # materialize INSIDE the scope
        # edges/nodes caches released here

    Without a scope the caches live until session eviction (documented in
    the operator docstrings) — fine for one graph per job, but a loop over
    many graphs silently accumulates cached data until
    spark.catalog.clearCache(). Unpersist is lazy-safe: releasing after
    the action keeps the k reads cheap; releasing before it merely
    recomputes."""
    handle: list[DataFrame] = []
    try:
        yield handle
    finally:
        for df in handle:
            df.unpersist()
        handle.clear()


def pagerank_micro(
    edges: DataFrame, n_iter: int = 4, caches: list | None = None
) -> DataFrame:
    """Fixed-iteration PageRank in exact integer micro-units:
    r_{i+1}(v) = 150000 + (85 * sum over in-edges of (r_i(u) div out(u))) div 100.

    Variant notes (identical on both engines, hence exact parity):
    * ``div`` is int64 floor division of non-negative values — division
      remainders are dropped, not redistributed.
    * Dangling nodes (no out-edges) keep receiving the base term but
      their mass evaporates — the non-normalized dangling treatment.
    * No convergence test: exactly ``n_iter`` rounds, same as the
      oracle's ``n_iter`` unrolled CTEs.

    The iteration builds ONE linear plan (contrib_i feeds contrib_{i+1}
    exactly once, the adjacency is computed once and reused), executed by
    a single action — no driver-side state, no per-round materialization
    needed at this depth. Each round costs one n-row join (previous
    contributions onto the cached adjacency lists), an in-task explode,
    and one shuffle (sum by dst); the first round needs no join at all
    (every rank is the INIT literal).

    Cache ownership: the chunked adjacency is persisted because the plan
    reads it k+2 times. Pass ``caches`` (or use the ``graph_caches()``
    scope) to receive the persisted frame for deterministic release after
    the returned plan is materialized; with neither, the cache lives
    until session eviction — loops over many graphs in one session
    should use the scope (or spark.catalog.clearCache() between graphs).
    """
    # Cache the graph as CHUNKED ADJACENCY LISTS (OPTIMIZATION r13, guide
    # §2.3/§2.4): the previous form joined the m-row edge table to the
    # n-row rank table every round (an m-ROW exchange + sort per round,
    # x2 for the out-degree join). Grouped once into per-src dst-arrays,
    # every round becomes an n-row join (the adjacency rows carry their
    # dst arrays) + an in-task explode: per-EDGE rows now exist only
    # between the explode and the map-side partial sums — no per-round
    # shuffle sees them as rows (plans/r13/pagerank_after.txt: per round
    # one SMJ over the n-row sides + the contribution Exchange fed by
    # partial aggregates). Arrays are chunked to
    # <= _ADJ_CHUNK dsts per row so a 100 TB hub cannot mint an unbounded
    # aggregation-buffer row; the rank div duplicates per chunk but the
    # divisor is the FULL out-degree carried on every chunk, so every
    # per-edge contribution — and therefore every rank — is bit-identical
    # to the flat-join form (pinned by the unchanged oracle). Measured at
    # sf0.1 (local[32], min-of-3 cold): 7.26 -> 5.28 s; the raw edge
    # derivation also now runs ONCE (adj is its only consumer; nodes are
    # re-derived from the cached adjacency).
    adj = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("__d"), F.collect_list("dst").alias("__a"))
        .select(
            "src",
            "__d",
            F.explode(
                F.expr(
                    f"transform(sequence(0, (size(__a) - 1) div {_ADJ_CHUNK}),"
                    f" i -> slice(__a, i * {_ADJ_CHUNK} + 1, {_ADJ_CHUNK}))"
                )
            ).alias("__adj"),
        )
        .persist()
    )
    if caches is not None:
        caches.append(adj)
    # OPTIMIZATION r14: the per-round all-nodes left join is gone. A
    # round only ever READS ranks keyed by src, and every src rank is a
    # pure function of the previous round's contribution sum
    # (base + (85 * coalesce(s, 0)) div 100 — null when the src received
    # nothing), so the rank formula is fused into the next round's
    # contribution computation via ONE adj <- contrib left join; the
    # first round needs no join at all (rank = INIT for every node). The
    # all-nodes materialization is paid exactly once, at the end, for the
    # output rows. Per round: 2 joins + 1 agg -> 1 join + 1 agg (round 1:
    # 0 joins); values bit-identical — same per-src rank expression over
    # the same order-insensitive integer sums (unchanged oracle + the
    # chunk-split invariance pin both re-certify this).
    _rank = (
        F.lit(PR_BASE_MICRO) + F.expr("(85 * coalesce(__s, 0L)) div 100")
    ).cast("long")
    contrib = None
    for _ in range(n_iter):
        if contrib is None:
            ranked = adj.select(
                "__d", "__adj", F.lit(PR_INIT_MICRO).cast("long").alias("__r")
            )
        else:
            ranked = adj.join(
                contrib.withColumnRenamed("dst", "src"), "src", "left"
            ).select("__d", "__adj", _rank.alias("__r"))
        contrib = (
            ranked.select(
                F.explode("__adj").alias("dst"),
                F.expr("__r div __d").alias("__c"),
            )
            .groupBy("dst")
            .agg(F.sum("__c").alias("__s"))
        )
    nodes = (
        adj.select(F.col("src").alias("node"))
        .union(adj.select(F.explode("__adj").alias("node")))
        .distinct()
    )
    return _final_ranks(nodes, contrib, _rank)


def _final_ranks(
    nodes: DataFrame, contrib: DataFrame | None, rank: F.Column
) -> DataFrame:
    """(node, rank_micro) for every node after the last round; with no
    round run (n_iter=0) every node keeps its INIT rank, as the oracle's
    ``r0`` does."""
    if contrib is None:
        return nodes.select(
            "node", F.lit(PR_INIT_MICRO).cast("long").alias("rank_micro")
        )
    return nodes.join(
        contrib.withColumnRenamed("dst", "node"), "node", "left"
    ).select("node", rank.alias("rank_micro"))


def kcore_rounds(edges: DataFrame, k: int = 3, n_rounds: int = 4) -> DataFrame:
    """Fixed-round k-core peeling: ``n_rounds`` iterations of "drop every
    node with degree < k, recompute degrees" over the undirected graph —
    the standard community-density filter (a node in the k-core has >= k
    neighbors WITHIN the core). Fixed rounds (like ``pagerank_micro``)
    rather than run-to-convergence, so the DuckDB oracle can unroll the
    identical recurrence as CTEs and value-check every surviving node and
    degree; convergence for a given graph is certified separately in
    pytest against a run-to-fixpoint Python reference (peeling is
    monotone — once the survivor set stops changing it is THE k-core, and
    shallow fixtures converge in 2-3 rounds).

    INPUT CONTRACT: distinct canonical edges (a < b), like
    ``triangle_counts``. Scale shape: each round is one edge semi-join
    against survivors + one degree aggregation — 2 shuffles/round,
    linear in surviving edges; the classic distributed peeling schedule.
    Returns (node, core_degree) for nodes surviving ``n_rounds``.
    """
    def degrees(e: DataFrame, name: str) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias(name))
        )

    def peel(cur_edges: DataFrame, _round: int) -> DataFrame:
        deg = degrees(cur_edges, "degree")
        survivors = deg.filter(F.col("degree") >= k).select("node")
        return cur_edges.join(
            survivors.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(survivors.withColumnRenamed("node", "b"), "b", "left_semi")

    # e_{i+1}'s plan references e_i THREE times (the semi-join source
    # plus both survivor branches): fold_rounds' per-round cut keeps the
    # plan linear (uncut, n=6 on a 40-edge graph took minutes).
    cur_edges = fold_rounds(peel, range(n_rounds), state=edges.select("a", "b"))
    # The edge-derived node set after round n IS the round-(n-1) survivor
    # set (both semi-joins enforced it), so no survivor join is needed on
    # the way out — every node still on an edge survived, and a node with
    # zero in-core edges cannot meet k >= 1 anyway.
    return degrees(cur_edges, "core_degree")


def customer_supplier_weighted_edges(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Directed customer -> supplier edges weighted by how many distinct
    orders connect the pair — the natural strength signal the unweighted
    projection throws away."""
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(SUPPLIER_NODE_OFFSET)).alias(
                "dst"
            ),
            "o_orderkey",
        )
        .distinct()
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def pagerank_weighted_micro(
    edges: DataFrame, n_iter: int = 4, caches: list | None = None
) -> DataFrame:
    """Weighted PageRank, same exact-integer discipline as
    ``pagerank_micro``: a node's rank splits across out-edges
    PROPORTIONALLY to integer edge weights —

        r_{i+1}(v) = 150000 + (85 * sum over in-edges (r_i(u) * w) div W_u) div 100

    with W_u = sum of u's out-weights. Every step is int64 multiplication
    and floor division, so the oracle's unrolled CTEs match bit-for-bit.
    Overflow: r * w must fit int64 — r is bounded by total mass n * 1e6,
    so with max edge weight w_max the bound is n * w_max < ~9.2e12;
    heavier graphs scale the weights down (weights only matter as
    per-node PROPORTIONS) or sum as decimal(38,0).

    Same Pregel shape, single-linear-plan property, and ``caches`` /
    ``graph_caches()`` release contract as the unweighted operator."""
    # Chunked (dst, w) adjacency lists — same OPTIMIZATION r13 shape (and
    # bit-identical-values argument) as pagerank_micro above; the chunk
    # rows carry the FULL out-weight __W so the per-edge term
    # (rank * w) div __W is unchanged for any chunk split.
    adj = (
        edges.groupBy("src")
        .agg(
            F.sum("w").alias("__W"),
            F.collect_list(F.struct("dst", "w")).alias("__a"),
        )
        .select(
            "src",
            "__W",
            F.explode(
                F.expr(
                    f"transform(sequence(0, (size(__a) - 1) div {_ADJ_CHUNK}),"
                    f" i -> slice(__a, i * {_ADJ_CHUNK} + 1, {_ADJ_CHUNK}))"
                )
            ).alias("__adj"),
        )
        .persist()
    )
    if caches is not None:
        caches.append(adj)
    # Same OPTIMIZATION r14 fusion as pagerank_micro (and the same
    # bit-identity argument): the per-round all-nodes join is replaced by
    # computing each src's rank inline from the previous round's
    # contribution sum; the all-nodes frame is consumed once, at the end.
    _rank = (
        F.lit(PR_BASE_MICRO) + F.expr("(85 * coalesce(__s, 0L)) div 100")
    ).cast("long")
    contrib = None
    for _ in range(n_iter):
        if contrib is None:
            ranked = adj.select(
                "__W", "__adj", F.lit(PR_INIT_MICRO).cast("long").alias("__r")
            )
        else:
            ranked = adj.join(
                contrib.withColumnRenamed("dst", "src"), "src", "left"
            ).select("__W", "__adj", _rank.alias("__r"))
        contrib = (
            ranked.select(
                F.explode("__adj").alias("__e"), F.col("__r"), F.col("__W")
            )
            .select(
                F.col("__e.dst").alias("dst"),
                F.expr("(__r * __e.w) div __W").alias("__c"),
            )
            .groupBy("dst")
            .agg(F.sum("__c").alias("__s"))
        )
    nodes = (
        adj.select(F.col("src").alias("node"))
        .union(
            adj.select(
                F.explode(F.expr("transform(__adj, x -> x.dst)")).alias("node")
            )
        )
        .distinct()
    )
    return _final_ranks(nodes, contrib, _rank)


# ---------------------------------------------------------------------------
# Round-5 additions: deterministic label propagation + multi-source BFS
# ---------------------------------------------------------------------------

def undirected(edges: DataFrame) -> DataFrame:
    """Both orientations of a canonical (a < b) edge list, lineage-truncated
    — the shared expansion for the neighbor-scan operators (LPA, the
    clustering coefficient). localCheckpoint: the result is read k+1
    times by iterative consumers, and it truncates the upstream
    pair-expansion lineage."""
    return (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )


def label_propagation_rounds(edges: DataFrame, n_rounds: int = 3) -> DataFrame:
    """Deterministic synchronous label propagation (community detection):
    label_0(v) = v; each round EVERY node simultaneously adopts the
    PLURALITY label among its neighbors' current labels, ties broken by
    smallest label — (count DESC, label ASC) argmax, so the whole run is a
    pure function of the edge set, unlike the classic random-visit-order
    LPA. Min-label propagation (dedup.connected_components) finds
    components; plurality voting finds DENSE communities inside one.

    INPUT CONTRACT: distinct canonical undirected edges (a < b), like
    ``triangle_counts``. Fixed rounds so the DuckDB oracle can unroll the
    identical recurrence (GROUP BY votes + per-node argmax window per
    round).

    Scale shape: each round is one ranks-sized join on src + one
    (node, label) count aggregation + one per-node window — 3 shuffles
    on the node key, all linear in |E|; at cluster scale edges and labels
    co-partition on node id. ``labels`` is referenced once per round, so
    the plan is linear in depth; k is small (3-4) by contract.
    Returns (node, label) — nodes sharing a label share a community.
    """
    und = undirected(edges)
    nodes = und.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.col("__c").desc(), F.col("label").asc()
    )
    for _ in range(n_rounds):
        votes = (
            und.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
        )
    return labels


def cosupplier_weighted_edges(lineitem: DataFrame) -> DataFrame:
    """Canonical co-supplier edges with an integer strength weight: the
    number of distinct orders the pair shared. The unweighted
    ``cosupplier_edges`` is this projection with the count dropped."""
    os_ = lineitem.select("l_orderkey", "l_suppkey").distinct()
    a = os_.alias("a")
    b = os_.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("a"), F.col("b.l_suppkey").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def sssp_rounds(
    edges: DataFrame, seeds: DataFrame, n_rounds: int = 3
) -> DataFrame:
    """Multi-source single-source-shortest-paths over the undirected
    WEIGHTED graph, bounded to ``n_rounds`` min-plus relaxations —

        d_0(v) = 0 for seeds
        d_{i+1}(v) = min(d_i(v), min over neighbors u of d_i(u) + w(u,v))

    Bellman-Ford's relaxation with integer weights; after k rounds the
    distances are exact for every shortest path of <= k EDGES, and only
    nodes reached within ``n_rounds`` edges appear (frontier semantics;
    ``bfs_hops`` is the unit-weight case). Pure int64 arithmetic ->
    oracle parity by construction.

    INPUT CONTRACT: ``edges`` distinct canonical (a, b, w) with a < b and
    integer w >= 0; ``seeds`` one ``node`` column, deduplicated here.
    Scale shape: each round joins the current distances to the edges on
    the node key and re-aggregates min — 2 shuffles/round, linear in
    |E|. ``dist`` is referenced twice per round (carry + relax), hence
    fold_rounds' per-round cut against the 2^n lineage.
    """
    und = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .unionAll(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
        )
        .localCheckpoint()
    )

    def relax(dist: DataFrame, _round: int) -> DataFrame:
        relaxed = und.join(
            dist.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    d0 = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    return fold_rounds(relax, range(n_rounds), state=d0)


def bfs_hops(edges: DataFrame, seeds: DataFrame, n_rounds: int = 3) -> DataFrame:
    """Multi-source BFS over the undirected graph: hop distance from the
    nearest seed, bounded by ``n_rounds`` relaxations — ``sssp_rounds``
    with unit weights, ``dist`` renamed to ``hops``. Only nodes reached
    within ``n_rounds`` hops appear (frontier semantics).

    INPUT CONTRACT: ``edges`` distinct canonical (a < b); ``seeds`` a
    one-column (node) DataFrame."""
    unit = edges.select("a", "b", F.lit(1).cast("long").alias("w"))
    return sssp_rounds(unit, seeds, n_rounds).withColumnRenamed("dist", "hops")


# --- Link prediction: common-neighbor / Jaccard scores (round 6) -------


def copurchase_edges(order_parts: DataFrame) -> DataFrame:
    """Undirected canonical (a < b) part–part edges from rows that share
    an order — the sparser sibling of ``cosupplier_edges`` (parts
    outnumber suppliers ~20×, so this graph is NOT near-complete, which
    is what makes link prediction non-vacuous on it). Fan-out per order
    is bounded by lines-per-order, so the pair expansion stays linear."""
    op = order_parts.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("a"),
            F.col("b.l_partkey").alias("b"),
        )
        .distinct()
    )


def link_prediction_scores(
    edges: DataFrame, top_k: int = 100, max_middle_degree: int | None = None
) -> DataFrame:
    """Top-k NON-adjacent node pairs by Jaccard neighborhood overlap —
    the classic common-neighbors link predictor: score(u, v) =
    |N(u)∩N(v)| / |N(u)∪N(v)|, candidates generated as length-2 paths
    (u–m–v wedges), existing edges anti-joined away. The score is the
    exact integer ppm  cn·10⁶ div (deg(u)+deg(v)−cn)  — inclusion-
    exclusion gives the union without computing it — and the top-k cut
    is totally ordered by (score, u, v), so ties can't split across
    engines.

    Scale shape: the wedge join costs Σ_m deg(m)² — the same hub-skew
    bound the triangle tier demonstrated. ``max_middle_degree`` excludes
    hub middles from candidate generation (the Adamic–Adar rationale
    taken to a cap: a part in half the orders predicts nothing); at
    100 TB that cap is what keeps the quadratic term bounded, and the
    scores it drops are exactly the noise ones. Default None = exact."""
    # edges feeds BOTH the wedge expansion (via undirected) and the
    # final anti-join: truncate once so the (possibly expensive) edge
    # derivation runs a single time (the twice-consumed-subtree rule —
    # without this the co-purchase build scanned its fact join twice).
    edges = edges.localCheckpoint()
    # Undirected expansion materialized CLUSTERED on dst (OPTIMIZATION
    # r13): und is closed under reversal, so the wedge join's right side
    # (m, v) can be read as the REVERSED rows (dst, src) — BOTH wedge
    # inputs then key on und.dst, and one hash(dst)-repartitioned
    # checkpoint serves both with equal-m rows co-located. The static
    # plan is unchanged (a checkpointed RDD's partitioning is opaque to
    # the planner — plans/r13/link_prediction_{before,after}.txt differ
    # only in expr ids), but the materialized layout is what the wedge
    # stage consumes: measured at sf0.1, local[32], 7.63 -> 4.55 s
    # min-of-3 same-session and 6.4 -> 4.66 interleaved A/B, values
    # identical. Same relation, same wedge multiset either way.
    und = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("dst")
        .localCheckpoint()
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    mid_in = und.select(F.col("src").alias("u"), F.col("dst").alias("m"))
    mid_out = und.select(F.col("dst").alias("m2"), F.col("src").alias("v"))
    if max_middle_degree is not None:
        ok = deg.filter(F.col("deg") <= max_middle_degree).select(
            F.col("src").alias("m")
        )
        # No broadcast hint: deg is one row per NODE and grows with the
        # corpus (the dedup.py house rule) — AQE broadcasts when small.
        mid_in = mid_in.join(ok, "m", "left_semi")
    wedges = (
        mid_in.join(mid_out, (F.col("m") == F.col("m2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = wedges.join(
        edges,
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "left_anti",
    )
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("__dv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.expr("(cn * 1000000) div (__du + __dv - cn)").alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "u", "v")
        .limit(top_k)
    )


def negative_edges(edges: DataFrame, k: int = 4, salt: str = "negedge") -> DataFrame:
    """Deterministic NEGATIVE sampling over an undirected canonical
    (a < b) edge list — the training-data complement of the link
    predictor: a link-prediction model trains on real edges plus
    reproducible NON-edges, and this generator proposes ``k``
    hash-derived candidate partners per node (portable_hash60 over
    (salt, node, trial) — same salt, same sample, on every run and
    executor; re-salting re-draws, the epoch_shuffle determinism
    discipline), maps them through the dense node index, and anti-joins
    the real edges away. Output: distinct canonical (a, b) non-edges.

    Scale shape: nodes×k candidate rows from one explode, ONE join to
    map index→node id (both sides node-dimension-sized), one anti-join
    against the edge list — everything linear in nodes·k + edges. The
    dense index uses a global row_number over the NODE dimension (the
    same dimension-sized-window argument as rfm_segments' ntile; the
    1e9-node swap is the two-phase prefix-sum numbering of
    operators/surrogate.py)."""
    from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60

    if k < 1:
        raise ValueError(f"negative_edges needs k >= 1, got {k}")
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    w = Window.orderBy("node")
    indexed = nodes.withColumn("__idx", (F.row_number().over(w) - 1).cast("long"))
    n = indexed.agg(F.count(F.lit(1)).alias("__n"))
    cand = (
        indexed.crossJoin(F.broadcast(n))
        .select(
            "node",
            "__n",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("__t"),
        )
        .select(
            "node",
            F.pmod(
                portable_hash60(
                    F.concat_ws(
                        ":", F.lit(salt), F.col("node"), F.col("__t")
                    )
                ),
                F.col("__n"),
            ).alias("__cand_idx"),
        )
    )
    partner = indexed.select(
        F.col("node").alias("__v"), F.col("__idx").alias("__cand_idx")
    )
    paired = (
        cand.join(partner, "__cand_idx")
        .filter(F.col("node") != F.col("__v"))
        .select(
            F.least("node", "__v").alias("a"),
            F.greatest("node", "__v").alias("b"),
        )
        .distinct()
    )
    return paired.join(edges, ["a", "b"], "left_anti")


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL clustering coefficient over an undirected canonical
    (a < b) edge set: lcc(v) = 2·t(v) / (deg(v)·(deg(v)−1)) where t(v)
    is the number of edges between v's neighbors — the node-level
    refinement of the global triangle census (triangle_counts): a hub
    whose neighbors never co-occur scores 0, a clique member scores 1.
    Emitted as exact truncated ppm with the cross-multiply widened to
    decimal(38,0) UNCONDITIONALLY (house rule — 2·t·10⁶ passes 2^63 once
    deg reaches ~10⁶ at 100 TB); nodes of degree < 2 have no defined
    coefficient and are not emitted.

    Derivation: wedges centered at v between neighbor pairs (a < b),
    closed by a semi-join against the edge set itself. Scale shape: the
    wedge join costs Σ_v deg(v)² — the same hub-skew term as
    link_prediction_scores, and the same degree-cap / degree-ordered-
    orientation remedies apply there; the closure probe is an equi
    semi-join on the canonical pair. The edge set feeds the wedge
    expansion, the closure probe and the degree census, so it is
    localCheckpoint-ed once (the twice-consumed-subtree rule)."""
    edges = edges.localCheckpoint()
    und = undirected(edges)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    n1 = und.select(F.col("src").alias("c"), F.col("dst").alias("a"))
    n2 = und.select(F.col("src").alias("c2"), F.col("dst").alias("b"))
    wedges = n1.join(
        n2, (F.col("c") == F.col("c2")) & (F.col("a") < F.col("b"))
    ).select("c", "a", "b")
    closed = wedges.join(edges, ["a", "b"], "left_semi")
    tri = closed.groupBy("c").agg(F.count(F.lit(1)).alias("triangles"))
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, deg.src == tri.c, "left")
        .select(
            F.col("src").alias("node"),
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
            .alias("triangles"),
            F.expr(
                "CAST(CAST(COALESCE(triangles, 0) AS DECIMAL(38,0)) * 2000000"
                " div (CAST(degree AS DECIMAL(38,0)) * (degree - 1))"
                " AS BIGINT)"
            ).alias("lcc_ppm"),
        )
    )
