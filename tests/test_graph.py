"""Graph tier: triangle counting and integer PageRank on hand-computed
graphs, plus a pure-Python PageRank replica of the integer recurrence.

(Cross-engine parity for the registered queries runs in
tests/test_oracle_parity.py like every other oracle pair.)
"""

from __future__ import annotations

from etl_pipeline_last_fm_spark.operators.graph import (
    PR_BASE_MICRO,
    PR_INIT_MICRO,
    pagerank_micro,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_triangle_counts_hand_computed(spark):
    # {1,2,3} is a triangle, 4 hangs off 3, 5--6 isolated edge.
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6)])
    out = {r["node"]: (r["degree"], r["triangles"]) for r in triangle_counts(e).collect()}
    assert out == {
        1: (2, 1),
        2: (2, 1),
        3: (3, 1),
        4: (1, 0),
        5: (1, 0),
        6: (1, 0),
    }


def test_triangle_counts_k4(spark):
    # Complete graph on 4 nodes: 4 triangles, each node in 3 of them.
    e = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)])
    out = {r["node"]: (r["degree"], r["triangles"]) for r in triangle_counts(e).collect()}
    assert out == {n: (3, 3) for n in (1, 2, 3, 4)}


def test_triangle_counts_skewed_hub(spark):
    # Star: hub 0 connected to 1..10, no leaf-leaf edges -> 0 triangles;
    # then close one leaf pair -> exactly one triangle, credited to the
    # hub and the two leaves. Exercises the degree-ordered orientation
    # (hub is always the (deg, id)-larger endpoint, so out-degree stays
    # bounded at the leaves).
    star = [(0, i) for i in range(1, 11)]
    e = _edges(spark, star)
    out = {r["node"]: r["triangles"] for r in triangle_counts(e).collect()}
    assert all(v == 0 for v in out.values())
    e2 = _edges(spark, star + [(1, 2)])
    out2 = {r["node"]: r["triangles"] for r in triangle_counts(e2).collect()}
    assert out2[0] == 1 and out2[1] == 1 and out2[2] == 1
    assert all(out2[i] == 0 for i in range(3, 11))


def _py_pagerank(edges, n_iter):
    """Pure-Python replica of the exact integer recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    r = {n: PR_INIT_MICRO for n in nodes}
    for _ in range(n_iter):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += r[u] // out[u]
        r = {n: PR_BASE_MICRO + (85 * s[n]) // 100 for n in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    edges = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1), (5, 4),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    for n_iter in (0, 4):
        got = {
            r["node"]: r["rank_micro"]
            for r in pagerank_micro(df, n_iter=n_iter).collect()
        }
        assert got == _py_pagerank(edges, n_iter), n_iter


def test_pagerank_dangling_and_source_nodes(spark):
    # 2 is dangling (no out-edges): its mass evaporates; 1 has no
    # in-edges: it settles at the base term after round 1.
    edges = [(1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(df, n_iter=3).collect()}
    assert got == _py_pagerank(edges, 3)
    assert got[1] == PR_BASE_MICRO


def _py_triangles(edges):
    """Naive per-node triangle counts on a small graph."""
    import itertools

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for u, v, w in itertools.combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            tri[u] += 1
            tri[v] += 1
            tri[w] += 1
    return {n: (len(adj[n]), tri[n]) for n in adj}


def test_triangle_counts_random_graphs(spark):
    # Three seeded random graphs (including a skewed one) against the
    # naive Python counter — exercises the degree-orientation on
    # structures no hand-made case covers.
    import random

    for seed, n, m in [(1, 30, 60), (2, 40, 120), (3, 25, 200)]:
        rng = random.Random(seed)
        edges = set()
        while len(edges) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        df = _edges(spark, sorted(edges))
        got = {
            r["node"]: (r["degree"], r["triangles"])
            for r in triangle_counts(df).collect()
        }
        assert got == _py_triangles(edges), f"seed {seed} mismatch"


def _py_kcore(edges, k):
    """Run-to-fixpoint k-core: ((node -> in-core degree), rounds used)."""
    es = set(edges)
    rounds = 0
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg, rounds
        rounds += 1
        es = {(a, b) for a, b in es if a not in drop and b not in drop}
        if not es:
            return {}, rounds


def test_kcore_converges_to_fixpoint_on_small_graphs(spark):
    """4 peel rounds reach the true k-core on shallow graphs — the
    convergence certificate behind grading the fixed-round form."""
    from etl_pipeline_last_fm_spark.operators.graph import kcore_rounds

    import random

    for seed, n, m in [(11, 20, 40), (12, 30, 45), (13, 15, 60)]:
        rng = random.Random(seed)
        edges = set()
        while len(edges) < m:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        want, rounds = _py_kcore(edges, 3)
        # Run with exactly enough rounds (+1 slack): a sparse graph can
        # need MANY peel rounds (seed 12 peels to empty over >6) — the
        # fixed-round operator is graded as "n-round peel", and this test
        # certifies it EQUALS the fixpoint once rounds suffice.
        got = {
            r["node"]: r["core_degree"]
            for r in kcore_rounds(
                _edges(spark, sorted(edges)), k=3, n_rounds=rounds + 1
            ).collect()
        }
        assert got == want, f"seed {seed}"


def test_kcore_peels_tail_chain(spark):
    # Triangle core {1,2,3} with a pendant chain 3-4-5: k=2 peels the
    # chain over TWO rounds (5 first, then 4) — exercises iteration.
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)])
    from etl_pipeline_last_fm_spark.operators.graph import kcore_rounds

    got = {
        r["node"]: r["core_degree"]
        for r in kcore_rounds(e, k=2, n_rounds=4).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}
    # zero rounds: the round-0 degrees, as the oracle's e0 gives
    got0 = {
        r["node"]: r["core_degree"]
        for r in kcore_rounds(e, k=2, n_rounds=0).collect()
    }
    assert got0 == {1: 2, 2: 2, 3: 3, 4: 2, 5: 1}


def _py_weighted_pagerank(edges_w, n_iter):
    """Pure-Python replica of the weighted integer recurrence."""
    nodes = sorted({u for u, _, _ in edges_w} | {v for _, v, _ in edges_w})
    W = {}
    for u, _, w in edges_w:
        W[u] = W.get(u, 0) + w
    r = {n: PR_INIT_MICRO for n in nodes}
    for _ in range(n_iter):
        s = {n: 0 for n in nodes}
        for u, v, w in edges_w:
            s[v] += (r[u] * w) // W[u]
        r = {n: PR_BASE_MICRO + (85 * s[n]) // 100 for n in nodes}
    return r


def test_weighted_pagerank_matches_python_reference(spark):
    from etl_pipeline_last_fm_spark.operators.graph import pagerank_weighted_micro

    edges = [
        (1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 5), (4, 3, 1), (4, 1, 4),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    for n_iter in (0, 4):
        got = {
            r["node"]: r["rank_micro"]
            for r in pagerank_weighted_micro(df, n_iter=n_iter).collect()
        }
        assert got == _py_weighted_pagerank(edges, n_iter), n_iter


def test_weighted_pagerank_uniform_weights_equal_unweighted(spark):
    """With all weights equal, proportional splitting IS equal splitting:
    (r * w) div (d * w) == r div d exactly when w divides evenly — use
    w=1 so the identity is exact and the two operators must agree."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        pagerank_micro,
        pagerank_weighted_micro,
    )

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    uw = spark.createDataFrame(edges, "src long, dst long")
    w1 = spark.createDataFrame([(a, b, 1) for a, b in edges], "src long, dst long, w long")
    a = sorted(map(tuple, pagerank_micro(uw, n_iter=3).collect()))
    b = sorted(map(tuple, pagerank_weighted_micro(w1, n_iter=3).collect()))
    assert a == b
