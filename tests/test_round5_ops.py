"""Round-5 fixes: unconditional decimal widening for market-basket lift
(silent int64 wrap with ansi=false was the failure mode), and deterministic
cache release for the PageRank persists."""

from __future__ import annotations

import math

import duckdb
from pyspark.sql import functions as F


def test_wide_lift_division_parity_spark_decimal_vs_duckdb_hugeint(spark):
    """The lift numerator is computed as decimal(38,0) on the Spark side
    and HUGEINT on the DuckDB side; both must truncate identically, and
    the path must survive a numerator far beyond int64 (support=2000,
    n_orders=1e10 -> numerator 2e19 > 2^63) regardless of ANSI mode."""
    df = spark.range(1).selectExpr(
        "2000L AS support", "10000000000L AS __n",
        "3000000L AS __ca", "4000001L AS __cb",
    )
    got = df.select(
        F.expr(
            "CAST((CAST(support AS DECIMAL(38,0)) * __n * 1000000)"
            " div (CAST(__ca AS DECIMAL(38,0)) * __cb) AS BIGINT)"
        ).alias("lift_ppm")
    ).first()["lift_ppm"]
    want = duckdb.sql(
        "SELECT CAST((CAST(2000 AS HUGEINT) * 10000000000 * 1000000)"
        " // (CAST(3000000 AS HUGEINT) * 4000001) AS BIGINT)"
    ).fetchone()[0]
    assert got == want
    assert got == 1666666  # truncated, not rounded (exact: 1666666.25...)


def test_market_basket_lift_exceeds_int64_numerator(spark):
    """End-to-end guard at the query shape: a numerator that would wrap
    int64 produces the exact truncated quotient, not garbage. (ansi is
    false in the test session — exactly the config where the old int64
    product corrupted silently.)"""
    assert spark.conf.get("spark.sql.ansi.enabled", "false") == "false"
    big = spark.range(1).selectExpr(
        "9000000000L AS support", "9000000000L AS __n",
        "81L AS __ca", "1000000L AS __cb",
    )
    got = big.select(
        F.expr(
            "CAST((CAST(support AS DECIMAL(38,0)) * __n * 1000000)"
            " div (CAST(__ca AS DECIMAL(38,0)) * __cb) AS BIGINT)"
        ).alias("lift_ppm")
    ).first()["lift_ppm"]
    # 9e9 * 9e9 * 1e6 = 8.1e25; / 8.1e7 = 1e18 — fits int64 exactly.
    assert got == 10**18


def test_graph_caches_scope_releases_persists(spark):
    """pagerank_micro(caches=handle) hands back its persisted frames; the
    graph_caches() scope unpersists them on exit (storage level drops to
    NONE), so loops over many graphs cannot accumulate cached RDDs."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        graph_caches,
        pagerank_micro,
        pagerank_weighted_micro,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    with graph_caches() as handle:
        ranks = pagerank_micro(edges, n_iter=2, caches=handle)
        # r14: only the chunked adjacency is persisted — the node set is
        # consumed exactly once (final output join) since the per-round
        # all-nodes join was fused away.
        assert len(handle) == 1
        ranks.collect()
        assert all(df.storageLevel.useMemory for df in handle)
    assert all(not df.storageLevel.useMemory for df in handle) or not handle

    wedges = edges.withColumn("w", F.lit(2).cast("long"))
    with graph_caches() as handle:
        pagerank_weighted_micro(wedges, n_iter=2, caches=handle).collect()
        assert len(handle) == 1
        kept = list(handle)
    assert all(not df.storageLevel.useMemory for df in kept)


def test_kmv_expr_exact_branch_truth_and_parity(spark):
    """Sub-k synthetic sets: the merged sample holds the whole union
    (n_m < k), so kmv_expr must return the EXACT |(A ∪ B) \\ C| with
    is_exact=1 — and the oracle's exact CASE arm must agree bit for bit.
    (Both registered fixture SFs saturate the sample, so this branch has
    no driver row; this test is its pin.)"""
    import duckdb
    import hashlib

    from etl_pipeline_last_fm_spark.operators.sketch import kmv_expr, kmv_state
    from grading.similarity import kmv_expr_oracle_sql

    a_vals = list(range(1, 31))          # 1..30
    b_vals = list(range(20, 51))         # 20..50
    c_vals = list(range(40, 61))         # 40..60
    truth = len((set(a_vals) | set(b_vals)) - set(c_vals))  # 1..39 -> 39

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "v long")

    def st(vals):
        return kmv_state(df(vals), "v", [], k=256, salt="kmvexpr")

    got = kmv_expr(st(a_vals), st(b_vals), st(c_vals), k=256).first()
    assert got["is_exact"] == 1
    assert got["n_expr_est"] == truth
    assert got["n_union_est"] == len(set(a_vals) | set(b_vals) | set(c_vals))

    con = duckdb.connect()
    con.execute("CREATE TABLE ta(v BIGINT); CREATE TABLE tb(v BIGINT); CREATE TABLE tc(v BIGINT)")
    con.executemany("INSERT INTO ta VALUES (?)", [(v,) for v in a_vals])
    con.executemany("INSERT INTO tb VALUES (?)", [(v,) for v in b_vals])
    con.executemany("INSERT INTO tc VALUES (?)", [(v,) for v in c_vals])
    odf = con.execute(
        kmv_expr_oracle_sql(
            "SELECT v FROM ta", "SELECT v FROM tb", "SELECT v FROM tc",
            k=256, salt="kmvexpr",
        )
    ).df()

    def vh(rows):
        return hashlib.md5(
            "\n".join(sorted(",".join(str(v) for v in r) for r in rows)).encode()
        ).hexdigest()

    sp = [[got[c] for c in sorted(["n_expr_est", "n_union_est", "n_sample", "is_exact"])]]
    od = odf[sorted(odf.columns)].values.tolist()
    assert vh(sp) == vh(od)


def test_kmeans_lloyd_offset_id_space_trains_k_clusters(spark):
    """Seeding takes the k lowest ids PRESENT: shifting every vec_id by
    +1000 must still produce k full clusters (the old `id < k` predicate
    silently trained zero)."""
    from etl_pipeline_last_fm_spark.operators.similarity import (
        kmeans_lloyd_relational,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    shifted = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    out = kmeans_lloyd_relational(shifted, k=8, n_iters=1).toPandas()
    assert out.cluster_id.nunique() == 8
    assert len(out) == 8 * 64
    assert out.cluster_id.min() == 1000
    # zero iterations: the seed centroids themselves, as the oracle's c0
    out0 = kmeans_lloyd_relational(shifted, k=8, n_iters=0).toPandas()
    seeds = shifted.orderBy("vec_id").limit(8).toPandas()
    want = {
        (vid, d, int(math.floor(float(x) * 1_000_000.0 + 0.5)))
        for vid, vec in zip(seeds.vec_id, seeds.embedding)
        for d, x in enumerate(vec)
    }
    assert set(map(tuple, out0.itertuples(index=False))) == want


def test_bpe_train_early_stop_and_empty_tokens_match_oracle(spark):
    """Operator and oracle agree on (a) the n>=2 early stop — a corpus
    whose pairs exhaust after one merge yields ONE trace row on both
    sides — and (b) empty-token handling (double spaces are dropped at
    tokenization, preserving the run-parity precondition merged != left)."""
    import duckdb

    from etl_pipeline_last_fm_spark.operators.packing import bpe_train
    from grading.text import bpe_train_oracle_sql

    rows = [(1, "a b c"), (2, "a b d"), (3, "x  y")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(docs, n_merges=6)
    assert merges == [(1, "a", "b", "ab", 2)]  # stops after one merge

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = sorted(
        map(tuple, con.execute(bpe_train_oracle_sql(6, "doc_id >= 0")).fetchall())
    )
    assert oracle == sorted(merges)


def test_incremental_join_delta_rule_all_terms(spark):
    """Hand-sized bag-semantics check where matching rows arrive in
    DIFFERENT rounds: key 1 has A in batch 0 and B in batches 0+2
    (exercising ΔΔ and A_old⋈ΔB), key 2 has A in batch 1 / B in batch 0
    (ΔA⋈B_old), and key 3 is A-only (must not appear). Duplicate B rows
    for key 1 check multiset semantics."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.streaming.ivm import join_step, side_tagged

    A = [[(1, "a1")], [(2, "a2")], [(3, "a3")]]
    B = [[(1, 10), (2, 20)], [], [(1, 11), (1, 11)]]
    a_b = [spark.createDataFrame(r or [(None, None)], "k long, av string")
           .filter(F.col("k").isNotNull()) for r in A]
    b_b = [spark.createDataFrame(r or [(None, None)], "k long, bv long")
           .filter(F.col("k").isNotNull()) for r in B]
    m = fold_rounds(join_step(["k"]), side_tagged(a_b, b_b, ["k"]))[-1]
    got = sorted(map(tuple, m.collect()))
    want = sorted([(1, "a1", 10), (1, "a1", 11), (1, "a1", 11), (2, "a2", 20)])
    assert got == want


def test_incremental_join_equals_one_shot_for_any_split(spark):
    """The maintenance identity on fixture data: 3x3 batching of orders
    (by orderkey) and lineitem (by linenumber — different batching) must
    equal the one-shot join row-for-row."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.streaming.ivm import join_step, side_tagged
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    a_b = [orders.filter(F.pmod("o_orderkey", F.lit(3)) == i) for i in range(3)]
    b_b = [li.filter(F.pmod("l_linenumber", F.lit(3)) == i).drop("l_linenumber")
           for i in range(3)]
    on = ["o_orderkey"]
    m = fold_rounds(join_step(on), side_tagged(a_b, b_b, on))[-1]
    one_shot = orders.join(li.drop("l_linenumber"), "o_orderkey")
    assert m.count() == one_shot.count()
    assert (
        sorted(map(tuple, m.collect())) == sorted(map(tuple, one_shot.collect()))
    )


def test_event_pattern_nonoverlapping_and_deterministic(spark):
    """Leftmost non-overlapping semantics on a crafted stream: vcvcp has
    ONE vc*p match — and it is "vcp" starting at index 2, because c*
    only matches CONSECUTIVE clicks (the match attempt at index 0 dies
    when the second v blocks the required p); vpvp has two matches."""
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern,
    )

    from datetime import datetime

    rows = []
    seq = {1: ["view", "click", "view", "click", "purchase"],
           2: ["view", "purchase", "view", "purchase"]}
    eid = 0
    for uid, events in seq.items():
        for i, et in enumerate(events):
            rows.append((eid, uid, et, datetime(2024, 1, 1, 0, i, 0), 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    got = {r["user_id"]: (r["n_matches"], r["first_match"])
           for r in match_event_pattern(ev, "vc*p").collect()}
    assert got == {1: (1, "vcp"), 2: (2, "vp")}


def test_event_pattern_backslash_class_cross_engine(spark):
    """Regression for the F.expr interpolation bug: a pattern with a
    regex class escape (\\d via a symbol alphabet producing digits) must
    count identically in Spark and DuckDB — the old f-string-into-SQL
    form silently ate the backslash on the Spark side."""
    import duckdb
    from datetime import datetime

    from etl_pipeline_last_fm_spark.operators.patterns import match_event_pattern
    from grading.timeseries import match_event_pattern_oracle_sql

    alphabet = {"view": "v", "click": "1", "purchase": "p",
                "signup": "s", "error": "e"}
    rows = [(0, 1, "view", datetime(2024, 1, 1, 0, 0), 1.0),
            (1, 1, "click", datetime(2024, 1, 1, 0, 1), 1.0),
            (2, 1, "purchase", datetime(2024, 1, 1, 0, 2), 1.0)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    got = match_event_pattern(ev, r"v\dp", alphabet).first()
    assert got["n_matches"] == 1 and got["first_match"] == "v1p"

    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_id BIGINT, user_id BIGINT, "
                "event_type VARCHAR, ts TIMESTAMP, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?,?,?,?,?)", rows)
    orow = con.execute(
        match_event_pattern_oracle_sql(r"v\dp", alphabet)
    ).fetchone()
    assert orow[2] == 1 and orow[3] == "v1p"


def test_incremental_join_batches_rejects_bad_inputs(spark):
    import pytest

    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.streaming.ivm import join_step, side_tagged

    df = spark.createDataFrame([(1, "x")], "k long, a string")
    with pytest.raises(ValueError, match="pair up"):
        fold_rounds(join_step(["k"]), side_tagged([df], [], ["k"]))
    with pytest.raises(ValueError, match="at least one"):
        fold_rounds(join_step(["k"]), side_tagged([], [], ["k"]))
