"""Graph queries over the co-purchase and customer-supplier graphs:
PageRank, k-core, BFS, SSSP, label propagation, triangles, clustering
coefficients, link prediction and negative edges. Each is declared once,
with its DuckDB oracle; the iterative ones unroll their rounds as CTE
chains (``grading.spec.unroll_ctes``)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_last_fm_spark.operators.graph import (
    bfs_hops,
    clustering_coefficients,
    copurchase_edges,
    cosupplier_edges,
    cosupplier_weighted_edges,
    customer_supplier_edges,
    customer_supplier_weighted_edges,
    kcore_rounds,
    label_propagation_rounds,
    link_prediction_scores,
    negative_edges,
    pagerank_micro,
    pagerank_weighted_micro,
    PR_BASE_MICRO,
    PR_INIT_MICRO,
    sssp_rounds,
    SUPPLIER_NODE_OFFSET,
    triangle_counts,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table

from grading.spec import oracle, portable_hash60_sql, unroll_ctes
from grading.warehouse import _COPURCHASE_1996_SQL, copurchase_1996_order_parts


#: Canonical co-supplier edge derivation shared by every oracle over
#: this graph (triangles, k-core, LPA, BFS) — one definition to keep in
#: sync with ``cosupplier_edges``.
_COSUPP_EDGE_SQL = """
            SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
            FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l1
            JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l2
              ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
"""


# Shared oracle edge derivation (weighted base; the unweighted graph is
# its projection — mirrors ``customer_supplier_edges``).
_CUSTSUPP_W_EDGE_SQL = f"""
            SELECT src, dst, COUNT(*) AS w FROM (
                SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                       CAST(l_suppkey AS BIGINT) + {SUPPLIER_NODE_OFFSET} AS dst,
                       o_orderkey
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            ) GROUP BY src, dst
"""


#: Oracle twin of ``cosupplier_weighted_edges``.
_COSUPP_W_EDGE_SQL = """
            SELECT l1.l_suppkey AS a, l2.l_suppkey AS b,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l1
            JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) l2
              ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
            GROUP BY 1, 2
"""


def triangle_counts_oracle_sql() -> str:
    """DuckDB twin over the same co-supplier graph, but via the NAIVE
    id-ordered 3-way join (a < b edges chain a<b<c directly) — an
    independent derivation of the identical per-node counts."""
    return f"""
        WITH e AS ({_COSUPP_EDGE_SQL}),
        deg AS (
            SELECT node, COUNT(*) AS degree FROM (
                SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
            ) GROUP BY node
        ),
        tri AS (
            SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        credit AS (
            SELECT node, COUNT(*) AS t FROM (
                SELECT u AS node FROM tri
                UNION ALL SELECT v AS node FROM tri
                UNION ALL SELECT w AS node FROM tri
            ) GROUP BY node
        )
        SELECT d.node, d.degree, CAST(COALESCE(c.t, 0) AS BIGINT) AS triangles
        FROM deg d LEFT JOIN credit c ON d.node = c.node
    """


def pagerank_oracle_sql(n_iter: int = 4) -> str:
    """Programmatically unrolled k-iteration twin: r0, c1, r1, ..., rk as
    chained CTEs running the same integer recurrence. Exact parity by
    construction — every operation is int64 floor division / sum."""
    head = f"""
        WITH ed AS (
            SELECT src, dst FROM ({_CUSTSUPP_W_EDGE_SQL})
        ),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        od AS (SELECT src, COUNT(*) AS d FROM ed GROUP BY src),
        r0 AS (SELECT node, CAST({PR_INIT_MICRO} AS BIGINT) AS r FROM nodes)
        """
    return unroll_ctes(head, lambda i: f""",
        c{i} AS (
            SELECT ed.dst AS node, CAST(SUM(r{i-1}.r // od.d) AS BIGINT) AS s
            FROM ed JOIN r{i-1} ON ed.src = r{i-1}.node
                    JOIN od ON ed.src = od.src
            GROUP BY ed.dst
        ),
        r{i} AS (
            SELECT n.node,
                   CAST({PR_BASE_MICRO} + (85 * COALESCE(c{i}.s, 0)) // 100 AS BIGINT) AS r
            FROM nodes n LEFT JOIN c{i} ON n.node = c{i}.node
        )
        """, n_iter) + f"SELECT node, r AS rank_micro FROM r{n_iter}"


def kcore_rounds_oracle_sql(k: int = 3, n_rounds: int = 4) -> str:
    """DuckDB twin over the co-supplier graph: the same ``n_rounds``
    peeling recurrence, unrolled as CTE pairs (deg_i -> surv_i ->
    edges_i)."""
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and e_{i+1}
    # references e_i three times (source + both survivor branches) — the
    # same 3^n blowup the Spark side breaks with localCheckpoint
    # (measured: 234 s inlined vs sub-second materialized at sf0.001).
    head = f"""
        WITH e0 AS MATERIALIZED ({_COSUPP_EDGE_SQL})
        """
    return unroll_ctes(head, lambda i: f""",
        deg{i - 1} AS MATERIALIZED (
            SELECT node, COUNT(*) AS degree FROM (
                SELECT a AS node FROM e{i - 1} UNION ALL SELECT b AS node FROM e{i - 1}
            ) GROUP BY node
        ),
        surv{i - 1} AS MATERIALIZED (SELECT node FROM deg{i - 1} WHERE degree >= {k}),
        e{i} AS MATERIALIZED (
            SELECT a, b FROM e{i - 1}
            WHERE a IN (SELECT node FROM surv{i - 1})
              AND b IN (SELECT node FROM surv{i - 1})
        )
        """, n_rounds) + f"""
        SELECT node, COUNT(*) AS core_degree FROM (
            SELECT a AS node FROM e{n_rounds} UNION ALL SELECT b AS node FROM e{n_rounds}
        )
        GROUP BY node
        """


def pagerank_weighted_oracle_sql(n_iter: int = 4) -> str:
    """Unrolled-CTE twin of ``pagerank_weighted_micro`` over the
    order-count-weighted customer->supplier graph."""
    head = f"""
        WITH ed AS (
            {_CUSTSUPP_W_EDGE_SQL}
        ),
        nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS W FROM ed GROUP BY src),
        r0 AS (SELECT node, CAST({PR_INIT_MICRO} AS BIGINT) AS r FROM nodes)
        """
    return unroll_ctes(head, lambda i: f""",
        c{i} AS (
            SELECT ed.dst AS node,
                   CAST(SUM((r{i-1}.r * ed.w) // ow.W) AS BIGINT) AS s
            FROM ed JOIN r{i-1} ON ed.src = r{i-1}.node
                    JOIN ow ON ed.src = ow.src
            GROUP BY ed.dst
        ),
        r{i} AS (
            SELECT n.node,
                   CAST({PR_BASE_MICRO} + (85 * COALESCE(c{i}.s, 0)) // 100 AS BIGINT) AS r
            FROM nodes n LEFT JOIN c{i} ON n.node = c{i}.node
        )
        """, n_iter) + f"SELECT node, r AS rank_micro FROM r{n_iter}"


def label_propagation_oracle_sql(n_rounds: int = 3) -> str:
    """Unrolled-CTE twin over the co-supplier graph: votes_i (GROUP BY) +
    l_i (ROW_NUMBER argmax, count DESC / label ASC) per round. Every CTE
    MATERIALIZED — same blowup note as the k-core oracle."""
    head = f"""
        WITH e AS MATERIALIZED ({_COSUPP_EDGE_SQL}),
        und AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b AS src, a AS dst FROM e
        ),
        l0 AS MATERIALIZED (
            SELECT DISTINCT src AS node, src AS label FROM und
        )
        """
    return unroll_ctes(head, lambda i: f""",
        v{i} AS MATERIALIZED (
            SELECT und.dst AS node, l{i-1}.label, COUNT(*) AS c
            FROM und JOIN l{i-1} ON und.src = l{i-1}.node
            GROUP BY 1, 2
        ),
        l{i} AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (
                           PARTITION BY node ORDER BY c DESC, label ASC
                       ) AS rn
                FROM v{i}
            ) WHERE rn = 1
        )
        """, n_rounds) + f"SELECT node, CAST(label AS BIGINT) AS label FROM l{n_rounds}"


def sssp_rounds_oracle_sql(
    seed_sql: str, n_rounds: int = 3, edge_sql: str = _COSUPP_W_EDGE_SQL
) -> str:
    """Unrolled-CTE twin of ``sssp_rounds`` over ``edge_sql``'s (a, b, w)
    edges — the weighted co-supplier graph by default (min over carry
    UNION ALL weighted relax, per round). MATERIALIZED for the 2^n
    reason."""
    head = f"""
        WITH e AS MATERIALIZED ({edge_sql}),
        und AS MATERIALIZED (
            SELECT a AS src, b AS dst, w FROM e
            UNION ALL SELECT b AS src, a AS dst, w FROM e
        ),
        d0 AS MATERIALIZED (
            SELECT DISTINCT CAST(node AS BIGINT) AS node,
                   CAST(0 AS BIGINT) AS dist
            FROM ({seed_sql})
        )
        """
    return unroll_ctes(head, lambda i: f""",
        d{i} AS MATERIALIZED (
            SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM d{i-1}
                UNION ALL
                SELECT und.dst AS node, d{i-1}.dist + und.w AS dist
                FROM und JOIN d{i-1} ON und.src = d{i-1}.node
            ) GROUP BY node
        )
        """, n_rounds) + f"SELECT node, dist FROM d{n_rounds}"


def bfs_hops_oracle_sql(seed_sql: str, n_rounds: int = 3) -> str:
    """The SSSP oracle over the unweighted co-supplier edges at w = 1."""
    unit = f"SELECT a, b, CAST(1 AS BIGINT) AS w FROM ({_COSUPP_EDGE_SQL})"
    sssp = sssp_rounds_oracle_sql(seed_sql, n_rounds, edge_sql=unit)
    return f"SELECT node, dist AS hops FROM ({sssp})"


def link_prediction_oracle_sql(
    edge_sql: str, top_k: int = 100, max_middle_degree: int | None = None
) -> str:
    """DuckDB twin: identical wedge/anti-join/inclusion-exclusion
    derivation over the caller's canonical (a, b) edge SQL."""
    mid_cap = (
        f"AND w1.dst IN (SELECT src FROM deg WHERE deg <= {max_middle_degree})"
        if max_middle_degree is not None
        else ""
    )
    return f"""
        WITH e AS MATERIALIZED ({edge_sql}),
        und AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b AS src, a AS dst FROM e
        ),
        deg AS MATERIALIZED (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1
        ),
        wedge AS (
            SELECT w1.src AS u, w2.dst AS v, CAST(COUNT(*) AS BIGINT) AS cn
            FROM und w1 JOIN und w2
              ON w1.dst = w2.src AND w1.src < w2.dst
            WHERE TRUE {mid_cap}
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT u, v, cn FROM wedge w
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.u AND e.b = w.v)
        )
        SELECT u, v, cn,
               (cn * 1000000) // (du.deg + dv.deg - cn) AS jaccard_ppm
        FROM cand
        JOIN deg du ON du.src = cand.u
        JOIN deg dv ON dv.src = cand.v
        ORDER BY jaccard_ppm DESC, u, v
        LIMIT {top_k}
    """


def negative_edges_oracle_sql(edge_sql: str, k: int = 4, salt: str = "negedge") -> str:
    """DuckDB twin of ``negative_edges``: identical portable-hash
    candidate derivation, dense index, and anti-join."""
    h = portable_hash60_sql(
        f"concat_ws(':', '{salt}', CAST(node AS VARCHAR), CAST(t AS VARCHAR))"
    )
    return f"""
        WITH e AS MATERIALIZED ({edge_sql}),
        nodes AS (
            SELECT a AS node FROM e UNION SELECT b AS node FROM e
        ),
        idx AS (
            SELECT node,
                   CAST(ROW_NUMBER() OVER (ORDER BY node) - 1 AS BIGINT)
                       AS i
            FROM nodes
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
        cand AS (
            SELECT idx.node, {h} % n AS ci
            FROM idx, nn, unnest(generate_series(1, {k})) AS s(t)
        ),
        paired AS (
            SELECT DISTINCT LEAST(c.node, v.node) AS a,
                            GREATEST(c.node, v.node) AS b
            FROM cand c JOIN idx v ON v.i = c.ci
            WHERE c.node <> v.node
        )
        SELECT a, b FROM paired
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.a = paired.a AND e.b = paired.b
        )
    """


def clustering_coefficients_oracle_sql(edge_sql: str) -> str:
    """DuckDB twin: identical wedge/closure/degree derivation over the
    caller's canonical (a, b) edge SQL, HUGEINT for the cross-multiply."""
    return f"""
        WITH e AS MATERIALIZED ({edge_sql}),
        und AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b AS src, a AS dst FROM e
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
            FROM und GROUP BY 1
        ),
        tri AS (
            SELECT n1.src AS c, CAST(COUNT(*) AS BIGINT) AS triangles
            FROM und n1 JOIN und n2
              ON n1.src = n2.src AND n1.dst < n2.dst
            WHERE EXISTS (SELECT 1 FROM e
                          WHERE e.a = n1.dst AND e.b = n2.dst)
            GROUP BY 1
        )
        SELECT deg.src AS node,
               degree,
               CAST(COALESCE(triangles, 0) AS BIGINT) AS triangles,
               CAST(CAST(COALESCE(triangles, 0) AS HUGEINT) * 2000000
                    // (CAST(degree AS HUGEINT) * (degree - 1))
                    AS BIGINT) AS lcc_ppm
        FROM deg LEFT JOIN tri ON deg.src = tri.c
        WHERE degree >= 2
    """


#: Seed predicate for the BFS query — density-independent (a key-space
#: stripe, never a nation filter that can be EMPTY at small SF; an empty
#: seed set makes the oracle comparison vacuously green).
_BFS_SEED_SQL = "SELECT s_suppkey AS node FROM supplier WHERE s_suppkey % 7 = 1"


#: Middle-degree cap for the link-prediction scale path (see module doc).
_LINKPRED_CAP = 24


@oracle(triangle_counts_oracle_sql())
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the co-supplier graph
    (suppliers appearing in the same order), via DEGREE-ORDERED
    orientation — the curse-of-the-last-reducer fix that bounds the wedge
    join's fan-out at O(sqrt(m)) per node on any degree distribution. The
    oracle derives the identical counts through the naive id-ordered
    3-way join: two independent algorithms agreeing node-for-node.
    (Small-SF caveat, operators/graph.py: tiny supplier cardinality makes
    this graph near-complete — density is a fixture artifact, not a plan
    property; production co-occurrence graphs are sparse.)"""
    return triangle_counts(cosupplier_edges(load_table(spark, sf_dir, "lineitem")))


@oracle(pagerank_oracle_sql(n_iter=4))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-4-iteration PageRank in EXACT integer micro-units over the
    customer->supplier purchase graph: every step is int64 floor division
    and summation, so the ranks match the oracle's 4 unrolled CTEs
    value-for-value by construction — an ITERATIVE algorithm with full
    hash-level cross-engine parity (unlike float PageRank, whose
    accumulation order drifts; and unlike k-means/BPE, whose data-driven
    control flow forces rows-only grading). Pregel shape: one join + one
    shuffle per round, ranks stay (node, int64)."""
    edges = customer_supplier_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return pagerank_micro(edges, n_iter=4)


@oracle(pagerank_weighted_oracle_sql(n_iter=4))
def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (rank splits across out-edges proportionally to
    integer order-count weights) in exact integer micro-units — same
    unrolled-oracle discipline as `pagerank`, now with per-edge
    multiplication inside the floor division
    (operators/graph.py:pagerank_weighted_micro)."""
    edges = customer_supplier_weighted_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return pagerank_weighted_micro(edges, n_iter=4)


@oracle(kcore_rounds_oracle_sql(k=3, n_rounds=4))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-4-round k-core peeling (k=3) over the co-supplier graph —
    the community-density filter, unrolled like pagerank so the oracle
    value-checks every surviving node and in-core degree; convergence is
    certified in pytest against a run-to-fixpoint Python reference
    (operators/graph.py:kcore_rounds)."""
    return kcore_rounds(
        cosupplier_edges(load_table(spark, sf_dir, "lineitem")), k=3, n_rounds=4
    )


@oracle(label_propagation_oracle_sql(n_rounds=3))
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic plurality-vote label propagation over the co-supplier
    graph, 3 synchronous rounds (operators/graph.py
    label_propagation_rounds) — the community-detection sibling of the
    min-label connected components the dedup tier uses. Oracle: the same
    recurrence unrolled as MATERIALIZED CTEs."""
    li = load_table(spark, sf_dir, "lineitem")
    return label_propagation_rounds(cosupplier_edges(li), n_rounds=3)


@oracle(bfs_hops_oracle_sql(_BFS_SEED_SQL, n_rounds=3))
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/graph.py bfs_hops): hop distance from
    the nearest seeded supplier over the co-supplier graph, 3 relaxation
    rounds — frontier semantics, exact integer hops. Oracle: unrolled
    min-relaxation CTEs."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    seeds = sup.filter(F.col("s_suppkey") % 7 == 1).select(
        F.col("s_suppkey").alias("node")
    )
    return bfs_hops(cosupplier_edges(li), seeds, n_rounds=3)


@oracle(sssp_rounds_oracle_sql(_BFS_SEED_SQL, n_rounds=3))
def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest paths (operators/graph.py
    sssp_rounds): min-plus Bellman-Ford relaxation over the
    order-count-weighted co-supplier graph, 3 rounds, same seed stripe as
    bfs_hops — whose unit-weight case this generalizes. Exact integer
    distances; oracle = unrolled weighted-relaxation CTEs."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    seeds = sup.filter(F.col("s_suppkey") % 7 == 1).select(
        F.col("s_suppkey").alias("node")
    )
    return sssp_rounds(cosupplier_weighted_edges(li), seeds, n_rounds=3)


@oracle(link_prediction_oracle_sql(
    _COPURCHASE_1996_SQL, top_k=100
))
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over the 1996 part
    co-purchase graph (operators/graph.py link_prediction_scores):
    top-100 NON-adjacent part pairs by exact-integer-ppm neighborhood
    overlap, candidates = length-2 paths, totally ordered cut. The
    co-PURCHASE graph (not co-supplier — that one is near-complete on
    this data, which would make every non-edge vacuous) restricted to
    1996 orders keeps the wedge count ~8e5 at sf0.01; the operator's
    max_middle_degree cap is the documented 100 TB hub bound."""
    return link_prediction_scores(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir)),
        top_k=100,
    )


@oracle(link_prediction_oracle_sql(
    _COPURCHASE_1996_SQL, top_k=100, max_middle_degree=_LINKPRED_CAP
))
def q_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped link prediction over the SAME 1996 co-purchase graph as
    q_link_prediction (operators/graph.py link_prediction_scores with
    max_middle_degree): wedges through middles of degree > 24 are excluded
    from candidate generation — the bound that keeps the Σ deg(m)² wedge
    term linear at 100 TB — and the capped result is itself oracle-paired
    (the cap is part of the graded semantics, not a test-only flag)."""
    return link_prediction_scores(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir)),
        top_k=100,
        max_middle_degree=_LINKPRED_CAP,
    )


# Same 1996 co-purchase graph as the link-prediction entries.
@oracle(negative_edges_oracle_sql(
    _COPURCHASE_1996_SQL, k=4
))
def q_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-edge sampling over the SAME 1996
    co-purchase graph as the link-prediction entries
    (operators/graph.py negative_edges): k=4 hash-derived candidate
    partners per node, dense-index mapped, real edges anti-joined away —
    the reproducible non-edge set a link-prediction trainer pairs with
    the positive edges."""
    return negative_edges(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir)), k=4
    )


@oracle(clustering_coefficients_oracle_sql(
    _COPURCHASE_1996_SQL
))
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the SAME 1996
    co-purchase graph as the link-prediction entries (operators/graph.py
    clustering_coefficients): exact truncated ppm, degree-≥2 nodes."""
    return clustering_coefficients(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir))
    )
