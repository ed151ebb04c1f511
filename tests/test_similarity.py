"""ANN recall gates: every approximate-similarity operator is measured
against the exact brute-force baseline, with asserted floors.

The fixture embeddings are near-random (max pairwise cosine ~0.51, no
cluster structure — TESTDATA quirk), which is the WORST case for ANN:
true neighbors sit barely above the noise floor, so hyperplane buckets
split them almost uniformly. The floors below are therefore low in
absolute terms but deterministic (planes and k-means are seeded) and
they pin the qualitative ordering that matters:

    single-bucket LSH  <  multi-probe(1)  <  multi-probe(2),  IVF(probe 4)

measured here at sf0.001: 0.06 / 0.24 / 0.58 recall@5, IVF 0.66.
On a corpus with real near-duplicate structure (the dedup regime) the same
operators approach recall 1.0 — see test_dedup_blocked's planted-pair
checks.
"""

from __future__ import annotations

import pytest

from etl_pipeline_last_fm_spark.operators.similarity import (
    brute_force_topk,
    ivf_ann_topk_trained,
    ivf_ann_topk_seeded,
    lsh_ann_topk,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def truth(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = brute_force_topk(emb, n_queries=10, k=5).collect()
    return emb, {(r.q_id, r.cand_id) for r in rows}, {(r.q_id, r.cand_id): r.sim for r in rows}


def _recall(ann_rows, truth_pairs) -> float:
    got = {(r.q_id, r.cand_id) for r in ann_rows}
    return len(got & truth_pairs) / len(truth_pairs)


@pytest.mark.parametrize(
    "probe_flips,floor",
    [(0, 0.04), (1, 0.15), (2, 0.45)],
)
def test_lsh_ann_recall(truth, probe_flips, floor):
    emb, truth_pairs, _ = truth
    rows = lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6, probe_flips=probe_flips).collect()
    r = _recall(rows, truth_pairs)
    assert r >= floor, f"lsh probe_flips={probe_flips}: recall@5 {r:.2f} < floor {floor}"


def test_lsh_multiprobe_recall_monotone(truth):
    """More probes may only widen the candidate set, never shrink recall."""
    emb, truth_pairs, _ = truth
    recalls = [
        _recall(
            lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6, probe_flips=f).collect(),
            truth_pairs,
        )
        for f in (0, 1, 2)
    ]
    assert recalls == sorted(recalls), recalls


def test_ivf_ann_recall(truth):
    emb, truth_pairs, _ = truth
    rows = ivf_ann_topk_trained(
        emb, n_queries=10, k=5, n_centroids=16, nprobe=4
    ).collect()
    r = _recall(rows, truth_pairs)
    assert r >= 0.6, f"ivf: recall@5 {r:.2f} < floor 0.6"


def test_ivf_seeded_recall_and_shape(truth):
    """Seed-centroid IVF (the value-checked twin): untrained corpus-point
    centroids cost some recall vs k-means but the candidate machinery is
    identical — require a floor and exactly k results per query."""
    emb, truth_pairs, _ = truth
    rows = ivf_ann_topk_seeded(emb, n_queries=10, k=5, n_centroids=16, nprobe=4).collect()
    r = _recall(rows, truth_pairs)
    assert r >= 0.3, f"ivf_seeded: recall@5 {r:.2f} < floor 0.3"
    per_q: dict[int, int] = {}
    for row in rows:
        per_q[row.q_id] = per_q.get(row.q_id, 0) + 1
    assert all(c == 5 for c in per_q.values()), per_q


def test_ann_sims_are_exact_for_scored_pairs(truth):
    """ANN approximates WHICH pairs get scored, never the score itself:
    any (query, candidate) the ANN emits must carry the identical rounded
    cosine the brute-force path computes."""
    emb, _, truth_sims = truth
    for rows in (
        lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6, probe_flips=2).collect(),
        ivf_ann_topk_trained(
            emb, n_queries=10, k=5, n_centroids=16, nprobe=4
        ).collect(),
    ):
        for r in rows:
            if (r.q_id, r.cand_id) in truth_sims:
                assert r.sim == truth_sims[(r.q_id, r.cand_id)], (r.q_id, r.cand_id)


def test_pq_encodes_codewords_to_themselves(spark, sf_dir):
    """A corpus vector whose id < n_codes IS the codeword source: its
    sub-vectors are exact codebook entries, so the packed argmin must pick
    its own id in every subspace (distance 0 beats everything; ties break
    to the smaller cid, and an exact duplicate would have dist 0 too but
    the fixture vectors are distinct). The argmin is built from the
    encoder's own distance SQL (hoisted self-dot, literal code dot)."""
    from pyspark.sql import functions as F

    from etl_pipeline_last_fm_spark.operators.similarity import (
        _l2_from_vv_sql,
        _self_dot_sql,
        _sub_vec_sql,
        pq_seed_codebooks,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_seed_codebooks(emb, n_subspaces=4, n_codes=16)
    sub = len(books[0][0][1])
    v = emb.filter(F.col("vec_id") < 16).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    for m, book in enumerate(books):
        sv = v.select("vec_id", F.expr(_sub_vec_sql("e", m, sub)).alias("sv"))
        sv = sv.withColumn("vv", F.expr(_self_dot_sql("sv")))
        packed = [
            f"CAST(FLOOR(({_l2_from_vv_sql('vv', 'sv', ce)})"
            f" * 1000000.0D + 0.5D) AS BIGINT) * 1024 + {cid}"
            for cid, ce in book
        ]
        got = sv.select(
            "vec_id",
            F.expr(f"CAST(least({', '.join(packed)}) % 1024 AS INT)").alias("code"),
        ).collect()
        assert all(r["vec_id"] == r["code"] for r in got), (m, got[:4])


def test_pq_beats_random_ranking(spark, sf_dir):
    """ADC ordering must correlate with exact cosine ordering: the mean
    EXACT rank of PQ's top-5 candidates must be far better than the ~250
    a random picker would average on a 500-vector corpus."""
    from etl_pipeline_last_fm_spark.operators.similarity import (
        brute_force_topk,
        pq_ann_topk_seeded,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    exact = brute_force_topk(emb, n_queries=10, k=n - 1)
    exact_rank = {
        (r["q_id"], r["cand_id"]): r["rnk"] for r in exact.collect()
    }
    pq = pq_ann_topk_seeded(emb, n_queries=10, k=5).collect()
    ranks = [exact_rank[(r["q_id"], r["cand_id"])] for r in pq]
    mean_rank = sum(ranks) / len(ranks)
    assert mean_rank < n / 4, mean_rank


def test_ivfpq_with_all_probes_equals_pq(spark, sf_dir):
    """Probing EVERY list makes the IVF stage a no-op, so IVF-PQ must
    reproduce plain PQ's ADC output row-for-row — the composition is
    exactly candidate-restriction on top of PQ scoring."""
    from etl_pipeline_last_fm_spark.operators.similarity import (
        ivfpq_ann_topk_seeded,
        pq_ann_topk_seeded,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    full = ivfpq_ann_topk_seeded(
        emb, n_queries=6, k=5, n_centroids=8, nprobe=8
    ).collect()
    pq = pq_ann_topk_seeded(emb, n_queries=6, k=5).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, pq))


def test_ivfpq_candidate_restriction_vs_oracle_nprobe1(spark, sf_dir):
    """nprobe=1 pins the candidate RESTRICTION itself: the oracle computes
    the single probed cluster independently (relational argmax + explicit
    cluster equi-join), so strict equality proves Spark's restriction is
    real — a regression that scored the whole corpus would produce extra
    (or different) top-k rows and fail here, unlike a non-emptiness
    check. Also differs from the default-nprobe parity entry, which could
    mask a symmetric restriction bug only if BOTH engines dropped the
    join the same way; here the oracle's join is spelled literally."""
    from etl_pipeline_last_fm_spark.operators.similarity import ivfpq_ann_topk_seeded
    from grading.similarity import ivfpq_ann_topk_seeded_oracle_sql
    from etl_pipeline_last_fm_spark.sources.tables import load_table
    from tests.oracle_utils import assert_matches_oracle

    emb = load_table(spark, sf_dir, "embeddings")
    df = ivfpq_ann_topk_seeded(emb, n_queries=6, k=5, nprobe=1)
    assert df.count() > 0  # non-vacuous: probed lists contain candidates
    assert_matches_oracle(
        df,
        ivfpq_ann_topk_seeded_oracle_sql(n_queries=6, k=5, nprobe=1),
        sf_dir,
        name="ivfpq_nprobe1",
    )


def test_ivfpq_residual_runs_and_is_deterministic(spark, sf_dir):
    from etl_pipeline_last_fm_spark.operators.similarity import (
        ivfpq_residual_ann_topk_seeded,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, ivfpq_residual_ann_topk_seeded(emb, n_queries=6, k=5).collect()))
    b = sorted(map(tuple, ivfpq_residual_ann_topk_seeded(emb, n_queries=6, k=5).collect()))
    assert a == b and len(a) > 0
    # every query that returns anything returns a dense 1..k_i rank prefix
    by_q = {}
    for q_id, cand, d, rnk in a:
        by_q.setdefault(q_id, []).append(rnk)
    for q_id, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), q_id


def test_ivfpq_residual_codes_differ_from_raw_codes(spark, sf_dir):
    """The residual encoding is genuinely different from raw-vector
    encoding (same seeds, same corpus) — if the subtraction were a no-op
    the two variants would pick identical ADC rankings everywhere."""
    from etl_pipeline_last_fm_spark.operators.similarity import (
        ivfpq_ann_topk_seeded,
        ivfpq_residual_ann_topk_seeded,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    raw = sorted(map(tuple, ivfpq_ann_topk_seeded(emb, n_queries=8, k=5).collect()))
    res = sorted(map(tuple, ivfpq_residual_ann_topk_seeded(emb, n_queries=8, k=5).collect()))
    assert raw != res


def test_ann_family_driver_side_jobs(spark, sf_dir):
    """Building a top-k plan launches only its seed collects: brute force
    none; seeded PQ, IVF and IVF-PQ one each — IVF-PQ's centroids and
    codebooks share one bounded collect — and residual IVF-PQ two, the
    seeds plus its residual codebooks. The relations are pinned, not the
    jobs per collect, which AQE may change."""
    from etl_pipeline_last_fm_spark.operators.similarity import (
        ivfpq_ann_topk_seeded,
        ivfpq_residual_ann_topk_seeded,
        pq_ann_topk_seeded,
    )
    from tests.spark_jobs import count_jobs

    emb = load_table(spark, sf_dir, "embeddings")
    assert count_jobs(spark, lambda: brute_force_topk(emb)) == 0
    one_collect = {
        op.__name__: count_jobs(spark, lambda: op(emb))
        for op in (pq_ann_topk_seeded, ivf_ann_topk_seeded, ivfpq_ann_topk_seeded)
    }
    per_collect = one_collect["pq_ann_topk_seeded"]
    assert per_collect > 0 and set(one_collect.values()) == {per_collect}, one_collect
    assert count_jobs(spark, lambda: ivfpq_residual_ann_topk_seeded(emb)) == 2 * per_collect
