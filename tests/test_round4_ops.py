"""Round-4 operators: prefix-filter set-similarity join, Bloom join
pruning, MAD outliers, KMV set algebra. Oracle parity for each runs in
test_oracle_parity via the registry; here: the structural properties the
oracles can't see (losslessness vs brute force at adversarial thresholds,
no false negatives, exactness branches, boundary ties)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.bloom import (
    bloom_might_contain,
    bloom_prune_join_stats,
    build_bloom_words,
)
from etl_pipeline_last_fm_spark.operators.outliers import mad_outliers
from etl_pipeline_last_fm_spark.operators.setsim import prefix_filter_pairs
from etl_pipeline_last_fm_spark.operators.sketch import (
    kmv_set_ops,
    kmv_state,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bruteforce_pairs(spark, docs, num, den, shingle_len=3):
    """All-pairs shingle Jaccard with the same integer threshold — the
    truth set prefix filtering must reproduce EXACTLY (lossless lemma)."""
    from etl_pipeline_last_fm_spark.operators.dedup import _shingles

    sh = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__toks")
    ).select("doc_id", _shingles("__toks", shingle_len).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - shared
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(shared * F.lit(den) >= F.lit(num) * union)
        .select("doc_a", "doc_b")
    )


@pytest.mark.parametrize("num,den", [(1, 2), (1, 3), (3, 4)])
def test_prefix_filter_lossless_vs_bruteforce(spark, num, den):
    # Corpus engineered with pairs AT, just above, and just below several
    # thresholds (shingle sets overlap partially via shared runs of words).
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g x"),   # high overlap with 1
        (3, "a b c d q r s t"),   # mid overlap with 1/2
        (4, "q r s t u v w x"),   # mid overlap with 3
        (5, "m n o p m n o p"),   # repeated text, disjoint from others
        (6, "m n o p m n o z"),   # near-dup of 5
        (7, "z z z z z z z z"),   # degenerate single-shingle doc
        (8, "z z z z z z z z"),   # exact duplicate of 7 (jaccard 1)
        (9, "lone words here only once"),
    ]
    docs = _docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_pairs(docs, num, den).collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in _bruteforce_pairs(spark, docs, num, den).collect()
    }
    assert got == want


def test_prefix_filter_exact_threshold_boundary(spark):
    # Two docs whose shingle Jaccard is EXACTLY 1/2 must be kept at
    # threshold 1/2 (>= semantics) — the integer comparison has no float
    # boundary to miss. sets: {ab,bc,cd} vs {ab,bc,xy}: inter 2, union 4.
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c xy")])
    # shingle_len=2 word bigrams: doc1 {a b, b c, c d}, doc2 {a b, b c, c xy}
    out = prefix_filter_pairs(docs, 1, 2, shingle_len=2).collect()
    assert len(out) == 1 and out[0].jaccard == 0.5
    # and at any stricter threshold it must drop
    assert prefix_filter_pairs(docs, 51, 100, shingle_len=2).count() == 0


def test_bloom_no_false_negatives(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    words = build_bloom_words(cust, "c_custkey", m_bits=1024, k=3)
    assert len(words) == 1024 // 32
    # every true key passes its own filter — zero false negatives, the
    # property that makes prune-before-join lossless
    missed = cust.filter(
        ~bloom_might_contain(F.col("c_custkey"), words, 1024, k=3)
    ).count()
    assert missed == 0


def test_bloom_prune_stats_fp_bounded(spark, sf_dir):
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    stats = bloom_prune_join_stats(
        orders, "o_custkey", cust, "c_custkey", "o_orderpriority"
    ).collect()
    total_pass = sum(r.n_bloom_pass for r in stats)
    total_match = sum(r.n_true_match for r in stats)
    assert total_pass >= total_match  # FPs only ever ADD rows
    # m=4096 bits for ~150 keys at sf0.001 -> FP rate well under 5%
    n_orders = orders.count()
    fp = total_pass - total_match
    assert fp <= max(0.05 * n_orders, 8)


def test_mad_outliers_handcomputed(spark):
    # group g: values 1..9 plus a 100 outlier -> n=10, lower median = value
    # at rank 5 = 5; devs |v-5|: [4,3,2,1,0,1,2,3,4,95] sorted
    # [0,1,1,2,2,3,3,4,4,95], MAD = rank-5 value = 2; cutoff 3 -> flag
    # |v-5| > 6: only v=100 (dev 95).
    rows = [(i, "g", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 100])]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = mad_outliers(df, cutoff=3).collect()
    assert [(r.event_id, r.value, r.med, r.mad) for r in out] == [(9, 100.0, 5.0, 2.0)]


def test_mad_outliers_tie_and_even_n(spark):
    # even n with ties at the median rank: values [1,1,3,3] -> n=4, rank
    # floor((4+1)/2)=2 -> med=1; devs [0,0,2,2] -> mad at rank 2 = 0;
    # cutoff*0 = 0, so devs > 0 flag: the two 3s.
    rows = [(1, "g", 1.0), (2, "g", 1.0), (3, "g", 3.0), (4, "g", 3.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = sorted(r.event_id for r in mad_outliers(df, cutoff=3).collect())
    assert out == [3, 4]


def test_kmv_set_ops_exact_branch(spark):
    # both sets smaller than k -> merged state is complete -> union and
    # intersection come out EXACT, not estimated
    a = spark.createDataFrame([(v,) for v in range(100)], "v long")
    b = spark.createDataFrame([(v,) for v in range(50, 130)], "v long")
    sa = kmv_state(a, "v", [], k=256, salt="s")
    sb = kmv_state(b, "v", [], k=256, salt="s")
    row = kmv_set_ops(sa, sb, k=256).collect()[0]
    assert (row.n_a_est, row.n_b_est) == (100, 80)
    assert row.n_union_est == 130
    assert row.n_inter_est == 50


def test_kmv_set_ops_disjoint_and_identical(spark):
    a = spark.createDataFrame([(v,) for v in range(500)], "v long")
    b = spark.createDataFrame([(v,) for v in range(1000, 1500)], "v long")
    sa = kmv_state(a, "v", [], k=64, salt="s")
    sb = kmv_state(b, "v", [], k=64, salt="s")
    row = kmv_set_ops(sa, sb, k=64).collect()[0]
    assert row.n_inter_est == 0 and row.jaccard_est == 0.0
    row2 = kmv_set_ops(sa, sa, k=64).collect()[0]
    assert row2.jaccard_est == 1.0
    assert row2.n_inter_est == row2.n_union_est == row2.n_a_est


def test_kmv_set_ops_estimate_accuracy(spark):
    # estimation branch: 2000 vs 2000 with 1000 shared -> union 3000,
    # inter 1000; k=256 keeps relative error ~1/sqrt(k) ~ 6%
    a = spark.createDataFrame([(v,) for v in range(2000)], "v long")
    b = spark.createDataFrame([(v,) for v in range(1000, 3000)], "v long")
    sa = kmv_state(a, "v", [], k=256, salt="s")
    sb = kmv_state(b, "v", [], k=256, salt="s")
    row = kmv_set_ops(sa, sb, k=256).collect()[0]
    assert abs(row.n_union_est - 3000) < 600
    assert abs(row.n_inter_est - 1000) < 400


def test_bloom_same_key_name_join(spark):
    # regression: fact_key == dim_key name must not raise
    # AMBIGUOUS_REFERENCE (caught by scripts/scale_smoke.py)
    fact = spark.createDataFrame(
        [(i % 7, "g") for i in range(50)], "user_id long, grp string"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "user_id long")
    out = bloom_prune_join_stats(
        fact, "user_id", dim, "user_id", "grp", m_bits=256
    ).collect()
    assert out[0].n_true_match == sum(1 for i in range(50) if i % 7 in (1, 2, 3))


def test_prefix_filter_incremental_equals_symmetric_cross_pairs(spark, sf_dir):
    # The R-S (new-batch vs corpus) variant must produce exactly the
    # symmetric operator's cross pairs on the union — both are lossless,
    # so the ORDER choice (corpus-df vs union-df) cannot change the
    # verified output, only the candidate volume.
    from etl_pipeline_last_fm_spark.operators.setsim import (
        prefix_filter_pairs_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") < 100)
    corpus = docs.filter(F.col("doc_id") >= 100)
    inc = {
        (min(r.new_id, r.corpus_id), max(r.new_id, r.corpus_id), r.jaccard)
        for r in prefix_filter_pairs_incremental(new, corpus, 1, 2).collect()
    }
    sym = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_filter_pairs(docs, 1, 2).collect()
        if (r.doc_a < 100) != (r.doc_b < 100)
    }
    assert inc == sym
    assert inc  # non-vacuous: the fixture has cross near-dups


def test_sorted_neighborhood_finds_adjacent_dups(spark):
    # SNM's contract: pairs whose sort keys are adjacent ARE found; a pair
    # separated by > window rows is legitimately missed (documented recall
    # trade). Exact duplicates sort adjacent by construction.
    from etl_pipeline_last_fm_spark.operators.setsim import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"unique text number {i:04d} pad pad pad") for i in range(40)]
    rows += [(100, "a duplicated doc body here"), (101, "a duplicated doc body here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted_neighborhood_pairs(docs, window=5).collect()
    assert {(r.doc_a, r.doc_b, r.jaccard) for r in out} == {(100, 101, 1.0)}


def test_sorted_neighborhood_window_bound(spark):
    # candidate volume is exactly bounded: every doc pairs with at most
    # window-1 successors, so a corpus of IDENTICAL keys yields at most
    # (w-1)*n candidates, never n^2/2
    from etl_pipeline_last_fm_spark.operators.setsim import (
        sorted_neighborhood_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "same text every time") for i in range(60)],
        "doc_id long, text string",
    )
    out = sorted_neighborhood_pairs(docs, window=4).count()
    # ranks tie-broken by doc_id: each rank pairs with <= 3 successors
    assert out <= 3 * 60
    assert out == 3 * 60 - 3 - 2 - 1  # exact: tail ranks have fewer mates


def _bpe_reference(texts, n_merges):
    """Pure-Python greedy string-level BPE, the truth for bpe_train."""
    corpora = [t.strip().split(" ") for t in texts]
    merges = []
    for step in range(1, n_merges + 1):
        counts = {}
        for toks in corpora:
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] = counts.get((toks[i], toks[i + 1]), 0) + 1
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merged = l + r
        merges.append((step, l, r, merged, n))
        out = []
        for toks in corpora:
            acc = []
            for t in toks:
                if acc and acc[-1] == l and t == r:
                    acc[-1] = merged
                else:
                    acc.append(t)
            out.append(acc)
        corpora = out
    return merges


def test_bpe_train_matches_reference(spark):
    from etl_pipeline_last_fm_spark.operators.packing import bpe_train

    texts = [
        "the cat sat on the mat",
        "the cat ran to the cat tree",
        "a a a a b b",          # overlapping-run greedy case
        "the dog sat on the cat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe_train(docs, n_merges=6)
    want = _bpe_reference(texts, 6)
    assert got == want
    # the overlapping run must have merged greedily: (a,a) count is 3
    # (positions 1-2, 2-3, 3-4 overlap; distinct occurrences pre-merge)
    assert any(l == "a" and r == "a" for _, l, r, _, _ in want)


def test_bpe_train_fixture_deterministic(spark, sf_dir):
    from etl_pipeline_last_fm_spark.operators.packing import bpe_train

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    a = bpe_train(docs, n_merges=4)
    b = bpe_train(docs, n_merges=4)
    assert a == b and len(a) == 4
    # merged symbols are concatenations of their parts
    assert all(m == l + r for _, l, r, m, _ in a)


def test_kmv_set_ops_empty_states(spark):
    # both states empty: every estimate 0, jaccard pinned to 0.0 (not
    # NULL/NaN — Spark and DuckDB disagree on 0/0, so the operator and
    # oracle both special-case it)
    empty = spark.createDataFrame([], "v long")
    se = kmv_state(empty, "v", [], k=64, salt="s")
    row = kmv_set_ops(se, se, k=64).collect()[0]
    assert (row.n_a_est, row.n_b_est, row.n_union_est, row.n_inter_est) == (0, 0, 0, 0)
    assert row.jaccard_est == 0.0


def test_apply_bpe_roundtrip_and_reference(spark):
    from etl_pipeline_last_fm_spark.operators.packing import apply_bpe, bpe_train

    texts = [
        "the cat sat on the mat",
        "the cat ran to the cat tree",
        "a a a a b b",
        "the dog sat on the cat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=5)
    got = {r.doc_id: r.toks for r in apply_bpe(docs, merges).collect()}
    # python reference: apply each merge greedily in order
    corpora = {i: t.strip().split(" ") for i, t in enumerate(texts)}
    for _s, l, r, m, _n in merges:
        for i, toks in corpora.items():
            acc = []
            for t in toks:
                if acc and acc[-1] == l and t == r:
                    acc[-1] = m
                else:
                    acc.append(t)
            corpora[i] = acc
    assert got == corpora
    # shrinkage: at least one doc got shorter, none got longer
    lens = {r.doc_id: r.n_toks for r in apply_bpe(docs, merges).collect()}
    orig = {i: len(t.split(" ")) for i, t in enumerate(texts)}
    assert all(lens[i] <= orig[i] for i in lens) and any(lens[i] < orig[i] for i in lens)
    # empty merge table = plain whitespace tokenization
    plain = {r.doc_id: r.toks for r in apply_bpe(docs, []).collect()}
    assert plain == {i: t.strip().split(" ") for i, t in enumerate(texts)}


def test_snm_multipass_catches_head_variant(spark):
    # single-pass SNM misses a near-dup whose FIRST word changed (sorts
    # far away); the reversed-key second pass makes the suffix-identical
    # pair adjacent — the classic multi-pass recall repair
    from etl_pipeline_last_fm_spark.operators.setsim import (
        sorted_neighborhood_pairs,
        sorted_neighborhood_pairs_multipass,
    )

    spread = [
        (i, f"{c} filler text row {c} pad pad pad pad")
        for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")
    ]
    # pair 100/101: identical except the leading word ('aaa' vs 'zzz'),
    # so forward sort puts ~26 spread rows between them
    docs = spark.createDataFrame(
        spread
        + [
            (100, "aaa common suffix body shared exactly here now"),
            (101, "zzz common suffix body shared exactly here now"),
        ],
        "doc_id long, text string",
    )
    single = {
        (r.doc_a, r.doc_b)
        for r in sorted_neighborhood_pairs(docs, window=4, threshold_num=1, threshold_den=2).collect()
    }
    multi = {
        (r.doc_a, r.doc_b)
        for r in sorted_neighborhood_pairs_multipass(docs, window=4, threshold_num=1, threshold_den=2).collect()
    }
    assert (100, 101) not in single
    assert (100, 101) in multi
    assert single <= multi  # the second pass only ever ADDS candidates


def test_cohort_retention_handcomputed(spark):
    from datetime import datetime

    from etl_pipeline_last_fm_spark.operators.cohort import cohort_retention

    # users: u1 active weeks 0,1,2; u2 weeks 0,2; u3 week 1 only.
    # cohorts: u1,u2 -> week of t0; u3 -> t0+1w.
    base = datetime(2024, 1, 1)
    def at(days):
        from datetime import timedelta
        return base + timedelta(days=days)
    rows = [
        (1, at(0)), (1, at(7)), (1, at(14)),
        (2, at(1)), (2, at(15)),
        (3, at(8)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.week_offset, r.n_users)
        for r in cohort_retention(ev).filter(F.col("week_offset") >= 0).collect()
    }
    # cohort week(t0): offset 0 -> {u1,u2}=2, offset 1 -> {u1}=1, offset 2 -> {u1,u2}=2
    # cohort week(t0+1w): offset 0 -> {u3}=1
    got = sorted(
        (r.cohort_week, r.week_offset, r.n_users)
        for r in cohort_retention(ev).collect()
    )
    cohorts = {c for c, _, _ in got}
    assert len(cohorts) == 2
    w0 = min(cohorts)
    assert [(o, n) for c, o, n in got if c == w0] == [(0, 2), (1, 1), (2, 2)]
    assert [(o, n) for c, o, n in got if c != w0] == [(0, 1)]
