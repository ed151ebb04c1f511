"""Scale-stress smoke: run the near-dup / sessionization operators on a
synthetic corpus ~10x the largest fixture and check wall-clock grows
near-linearly (no quadratic candidate blowups).

Not part of the default pytest run (takes minutes):
    python scripts/scale_smoke.py [n_docs] [n_events]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.dedup import (
    dedup_keep_list,
    minhash_lsh_pairs,
    simhash_signature,
)
from etl_pipeline_last_fm_spark.operators.funnel import funnel_stages
from etl_pipeline_last_fm_spark.operators.packing import pack_sequences
from etl_pipeline_last_fm_spark.operators.sessions import sessionize
from etl_pipeline_last_fm_spark.operators.text import rolling_fingerprint_rows
from etl_pipeline_last_fm_spark.session import get_spark


def synth_docs(spark, n: int):
    """Deterministic word-soup docs (plus planted near-dup pairs every 500)."""
    words = F.array(*[F.lit(w) for w in (
        "spark query join filter group sort merge window hash scan table row "
        "batch stream key value fast slow big small data line customer order part"
    ).split()])
    base = (
        spark.range(n)
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(50) + F.pmod(F.xxhash64("id"), F.lit(30)).cast("int")),
                    lambda i: F.element_at(
                        words, (F.pmod(F.xxhash64(F.col("id"), i), F.size(words)) + 1).cast("int")
                    ),
                ),
            ),
        )
        .select(F.col("id").alias("doc_id"), "text")
    )
    dups = (
        base.filter(F.pmod(F.col("doc_id"), F.lit(500)) == 0)
        .select((F.col("doc_id") + n).alias("doc_id"), "text")
    )
    return base.unionByName(dups)


def synth_events(spark, n: int):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                (F.lit(1_700_000_000_000_000) + F.col("id") * 47_000_000
                 + F.pmod(F.xxhash64("id"), F.lit(40_000_000))).cast("long")
            ).alias("ts"),
            F.pmod(F.xxhash64(F.col("id") + 7), F.lit(2000)).alias("user_id"),
            (F.pmod(F.xxhash64(F.col("id") + 13), F.lit(10_000)) / 100.0).alias("value"),
        )
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    spark = get_spark(app_name="scale-smoke")

    docs = synth_docs(spark, n_docs)
    docs.count()  # materialize-once baseline for fair timing

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs).count()
    t_minhash = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_fp = rolling_fingerprint_rows(docs).count()
    t_winnow = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_sig = simhash_signature(docs).count()
    t_simhash = time.perf_counter() - t0

    t0 = time.perf_counter()
    keep = dedup_keep_list(docs).count()
    t_keep = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_packed = pack_sequences(docs, budget=512, block_size=4096).count()
    t_pack = time.perf_counter() - t0

    ev = synth_events(spark, n_events)
    t0 = time.perf_counter()
    n_sess = sessionize(ev).count()
    t_sess = time.perf_counter() - t0

    ev_typed = _with_event_types(ev)
    t0 = time.perf_counter()
    n_funnel = funnel_stages(ev_typed).count()
    t_funnel = time.perf_counter() - t0

    print(
        f"docs={n_docs}: minhash {t_minhash:.1f}s ({pairs} pairs), "
        f"winnow {t_winnow:.1f}s ({n_fp} fps), simhash {t_simhash:.1f}s ({n_sig} sigs), "
        f"keep_list {t_keep:.1f}s ({keep} rows), pack {t_pack:.1f}s ({n_packed} docs); "
        f"events={n_events}: sessionize {t_sess:.1f}s ({n_sess} sessions), "
        f"funnel {t_funnel:.1f}s ({n_funnel} users)"
    )

    # --- round-3/4 operators: sketches, windows, layout, PQ ----------------
    import tempfile

    from etl_pipeline_last_fm_spark.operators.sketch import (
        cms_heavy_hitters,
        hll_distinct,
        kmv_state,
        kmv_summary,
    )
    from etl_pipeline_last_fm_spark.operators.similarity import pq_ann_topk_seeded
    from etl_pipeline_last_fm_spark.operators.timewindow import hopping_window_agg
    from etl_pipeline_last_fm_spark.operators.zorder import write_zordered

    t0 = time.perf_counter()
    n_hh = cms_heavy_hitters(docs).count()
    t_cms = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_hll = hll_distinct(ev_typed, "user_id", ["event_type"]).count()
    t_hll = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_kmv = kmv_summary(
        kmv_state(
            ev_typed.select(
                "event_type",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
            ),
            "v",
            ["event_type"],
            k=64,
        ),
        ["event_type"],
        k=64,
    ).count()
    t_kmv = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_hop = hopping_window_agg(ev_typed, window_minutes=60, hop_minutes=15).count()
    t_hop = time.perf_counter() - t0

    with tempfile.TemporaryDirectory() as zdir:
        li = ev_typed.select(
            "event_id",
            F.pmod(F.xxhash64("event_id"), F.lit(20000)).alias("x"),
            F.pmod(F.xxhash64(F.col("event_id") + 3), F.lit(10000)).alias("y"),
        )
        t0 = time.perf_counter()
        write_zordered(li, zdir + "/z", "x", "y", bits=10, n_files=8)
        t_zorder = time.perf_counter() - t0

    # Embeddings: 64-dim deterministic vectors; PQ corpus cost dominates
    # (encode each vector to 4 code bytes + ADC-score 10 queries).
    n_vec = max(n_docs, 1000)
    emb = spark.range(n_vec).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)) / 1000.0 - 1.0
            ),
        ).alias("embedding"),
    )
    emb.count()
    t0 = time.perf_counter()
    n_pq = pq_ann_topk_seeded(emb, n_queries=10, k=5).count()
    t_pq = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.operators.similarity import ivfpq_ann_topk_seeded

    t0 = time.perf_counter()
    n_ivfpq = ivfpq_ann_topk_seeded(emb, n_queries=10, k=5).count()
    t_ivfpq = time.perf_counter() - t0

    print(
        f"sketch/window/layout at same scale: cms {t_cms:.1f}s ({n_hh} hitters), "
        f"hll {t_hll:.1f}s ({n_hll} groups), kmv {t_kmv:.1f}s ({n_kmv} groups), "
        f"hopping {t_hop:.1f}s ({n_hop} windows), zorder-write {t_zorder:.1f}s; "
        f"vectors={n_vec}: pq-adc {t_pq:.1f}s ({n_pq} rows), "
        f"ivfpq {t_ivfpq:.1f}s ({n_ivfpq} rows)"
    )


    # --- round-4 operators: prefix-filter join, bloom pruning, MAD, KMV set
    from etl_pipeline_last_fm_spark.operators.bloom import bloom_prune_join_stats
    from etl_pipeline_last_fm_spark.operators.outliers import mad_outliers
    from etl_pipeline_last_fm_spark.operators.setsim import prefix_filter_pairs
    from etl_pipeline_last_fm_spark.operators.sketch import kmv_set_ops

    # t=4/5: the realistic near-dup threshold regime for the EXACT path
    # (at low t on this deliberately low-diversity corpus candidates
    # degrade toward all-pairs by design -- setsim.py docstring)
    t0 = time.perf_counter()
    n_pf = prefix_filter_pairs(docs, threshold_num=4, threshold_den=5).count()
    t_pf = time.perf_counter() - t0

    dim = ev_typed.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    t0 = time.perf_counter()
    n_bl = bloom_prune_join_stats(
        ev_typed, "user_id", dim, "user_id", "event_type", m_bits=65536
    ).count()
    t_bloom = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_mad = mad_outliers(ev_typed, group_cols=["event_type"], cutoff=3).count()
    t_mad = time.perf_counter() - t0

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v")
    t0 = time.perf_counter()
    n_so = kmv_set_ops(
        kmv_state(ev_typed.filter(F.col("event_type") == "click").select(cents), "v", [], k=256, salt="s"),
        kmv_state(ev_typed.filter(F.col("event_type") == "view").select(cents), "v", [], k=256, salt="s"),
        k=256,
    ).count()
    t_setops = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.operators.setsim import sorted_neighborhood_pairs

    t0 = time.perf_counter()
    n_snm = sorted_neighborhood_pairs(docs, window=10).count()
    t_snm = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.operators.packing import apply_bpe, bpe_train

    sample = docs.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    t0 = time.perf_counter()
    merges = bpe_train(sample, n_merges=4)
    t_bpet = time.perf_counter() - t0
    t0 = time.perf_counter()
    # sum(n_toks), not count(): count() lets Catalyst prune the fold
    # column entirely and times an empty projection
    n_enc = apply_bpe(docs, merges).agg(F.sum("n_toks")).collect()[0][0]
    t_bpea = time.perf_counter() - t0

    print(
        f"round-4 tier at same scale: prefix-filter {t_pf:.1f}s ({n_pf} pairs), "
        f"bloom-prune {t_bloom:.1f}s ({n_bl} groups), mad {t_mad:.1f}s ({n_mad} outliers), "
        f"kmv-set-ops {t_setops:.1f}s ({n_so} row), snm {t_snm:.1f}s ({n_snm} pairs), "
        f"bpe-train(10% sample) {t_bpet:.1f}s ({len(merges)} merges), "
        f"bpe-apply {t_bpea:.1f}s ({n_enc} toks)"
    )

    # --- round-4 third wave: graph tier, corpus drift, index, MERGE -------
    from etl_pipeline_last_fm_spark.operators.graph import (
        pagerank_micro,
        triangle_counts,
    )
    from etl_pipeline_last_fm_spark.operators.scd import merge_upsert
    from etl_pipeline_last_fm_spark.operators.text import corpus_drift, inverted_index

    # Sparse random graph: n nodes, 4n edges (production co-occurrence
    # graphs are sparse; the dense co-supplier fixture graph is a small-SF
    # artifact, operators/graph.py docstring).
    n_nodes = n_docs
    raw = spark.range(4 * n_nodes).select(
        F.pmod(F.xxhash64(F.col("id") + 1), F.lit(n_nodes)).alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 2), F.lit(n_nodes)).alias("y"),
    ).filter(F.col("x") != F.col("y"))
    und = raw.select(
        F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
    ).distinct()
    t0 = time.perf_counter()
    n_tri = triangle_counts(und).count()
    t_tri = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pr = pagerank_micro(
        raw.select(F.col("x").alias("src"), F.col("y").alias("dst")).distinct(),
        n_iter=4,
    ).count()
    t_pr = time.perf_counter() - t0

    sdocs = docs.withColumn(
        "source", F.concat(F.lit("s"), F.pmod(F.col("doc_id"), F.lit(16)))
    )
    t0 = time.perf_counter()
    n_drift = corpus_drift(sdocs).count()
    t_drift = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_idx = inverted_index(sdocs).count()
    t_idx = time.perf_counter() - t0

    cutoff = 1_700_000_000_000_000 + (n_events // 2) * 47_000_000
    t0 = time.perf_counter()
    n_merge = merge_upsert(ev_typed, cutoff_us=cutoff).count()
    t_merge = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60
    from etl_pipeline_last_fm_spark.operators.graph import kcore_rounds

    t0 = time.perf_counter()
    n_core = kcore_rounds(und, k=4, n_rounds=4).count()
    t_core = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_ck = (
        ev_typed.select(
            portable_hash60(
                F.concat_ws("|", "event_id", "user_id", "event_type")
            ).alias("__h")
        )
        .groupBy(F.pmod(F.col("__h"), F.lit(64)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "CAST(SUM(CAST(__h AS DECIMAL(38,0))) % 2305843009213693952 AS BIGINT)"
            ).alias("ck"),
        )
        .count()
    )
    t_ck = time.perf_counter() - t0

    print(
        f"graph/drift/index/merge: triangles {t_tri:.1f}s ({n_tri} nodes), "
        f"pagerank4 {t_pr:.1f}s ({n_pr} nodes), drift {t_drift:.1f}s ({n_drift} pairs), "
        f"inverted-index {t_idx:.1f}s ({n_idx} terms), merge {t_merge:.1f}s ({n_merge} rows), "
        f"kcore4 {t_core:.1f}s ({n_core} nodes), checksum {t_ck:.1f}s ({n_ck} buckets)"
    )

    # --- round-5 wave: epoch shuffle, render packs, LPA, BFS, k-means,
    # theta-expression readout ---------------------------------------------
    from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60
    from etl_pipeline_last_fm_spark.operators.graph import (
        bfs_hops,
        label_propagation_rounds,
    )
    from etl_pipeline_last_fm_spark.operators.similarity import (
        kmeans_lloyd_relational,
    )
    from etl_pipeline_last_fm_spark.operators.sketch import kmv_expr
    from etl_pipeline_last_fm_spark.operators.surrogate import (
        assign_surrogate_keys_distributed,
    )

    keyed = docs.select("doc_id").withColumn(
        "__hk",
        portable_hash60(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))),
    )
    t0 = time.perf_counter()
    n_shuf = assign_surrogate_keys_distributed(
        keyed, "shuffle_pos", ["__hk", "doc_id"]
    ).count()
    t_shuf = time.perf_counter() - t0

    assign = pack_sequences(docs, budget=512, block_size=4096)
    t0 = time.perf_counter()
    n_rp = (
        docs.join(assign.select("doc_id", "seq_id"), "doc_id")
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda st: st["text"],
                ),
                "<|eos|>",
            ).alias("packed_text"),
        )
        .count()
    )
    t_rp = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_lpa = label_propagation_rounds(und, n_rounds=3).count()
    t_lpa = time.perf_counter() - t0

    seeds = spark.range(0, n_nodes, 97).select(F.col("id").alias("node"))
    t0 = time.perf_counter()
    n_bfs = bfs_hops(und, seeds, n_rounds=3).count()
    t_bfs = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_km = kmeans_lloyd_relational(emb, k=8, n_iters=2).count()
    t_km = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.operators.sketch import kmv_state as _kst

    cents_col = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def _st(et):
        return _kst(
            ev_typed.filter(F.col("event_type") == et).select(cents_col.alias("v")),
            "v", [], k=256, salt="smoke",
        )

    t0 = time.perf_counter()
    n_kx = kmv_expr(_st("click"), _st("view"), _st("purchase"), k=256).count()
    t_kx = time.perf_counter() - t0

    print(
        f"round-5 wave: epoch-shuffle {t_shuf:.1f}s ({n_shuf} docs), "
        f"render-packs {t_rp:.1f}s ({n_rp} packs), lpa3 {t_lpa:.1f}s ({n_lpa} nodes), "
        f"bfs3 {t_bfs:.1f}s ({n_bfs} reached), kmeans-lloyd2 {t_km:.1f}s ({n_km} rows), "
        f"kmv-expr {t_kx:.1f}s ({n_kx} row)"
    )

    round6_wave(spark, ev_typed, n_events)
    round6b_wave(spark, ev_typed, n_events)
    round6c_wave(spark, ev_typed, n_events)
    round7_wave(spark, ev_typed, n_events)
    round7b_wave(spark, ev_typed, n_events)
    round7c_wave(spark, ev_typed, n_events)



def _with_event_types(ev):
    """The ONE definition of the synthetic event-type column, shared by
    the full run and the round-6 fast path so both smoke the same data."""
    return ev.withColumn(
        "event_type",
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase"), F.lit("error")),
            (F.pmod(F.xxhash64(F.col("event_id") + 29), F.lit(4)) + 1).cast("int"),
        ),
    )


def _time_thirds(ev_typed, n_events: int):
    """The events in time-ordered thirds by the synthetic clock (id * 47 s
    spacing) — the batching of every ordered-fold smoke."""
    base = 1_700_000_000_000_000
    c1 = base + (n_events * 47_000_000) // 3
    c2 = base + (2 * n_events * 47_000_000) // 3
    us = F.unix_micros(F.col("ts"))
    return [
        ev_typed.filter(us < c1),
        ev_typed.filter((us >= c1) & (us < c2)),
        ev_typed.filter(us >= c2),
    ]


def _typed_events(spark, n_events: int):
    return _with_event_types(synth_events(spark, n_events))


def round6_wave(spark, ev_typed, n_events: int) -> None:
    """Round-6 smoke (VERDICT r5 item 7): the operators the round-5 wave
    missed — MATCH_RECOGNIZE-lite (+ per-match MEASURES), the IVM 3-batch
    fold, and the Q21 decorrelated shape. Structural bounds:
    pattern = one user-key shuffle + a linear regex scan per user string;
    measures adds a per-match explode, no extra shuffle;
    IVM = O(delta x state) join work per round, never O(history^2);
    Q21 = ONE fact scan + two aggregates + one join (the decorrelation)."""
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern,
        match_event_pattern_measures,
    )
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.streaming.ivm import join_step, side_tagged

    t0 = time.perf_counter()
    n_pat = match_event_pattern(ev_typed, "vc*p").count()
    t_pat = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pm = match_event_pattern_measures(ev_typed, "vc*p").count()
    t_pm = time.perf_counter() - t0

    # IVM fold: orders-like side a (1 row/key), lineitem-like side b
    # (~10 rows/key), each split into 3 delta batches.
    n_keys = max(n_events // 10, 1)
    a = spark.range(n_keys).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(2400)).alias("v"),
    )
    b = spark.range(n_events).select(
        F.pmod(F.xxhash64(F.col("id") + 5), F.lit(n_keys)).alias("k"),
        F.pmod(F.xxhash64(F.col("id") + 11), F.lit(10_000)).alias("v"),
        F.col("id").alias("rid"),
    )
    a_batches = [a.filter(F.pmod(F.col("k"), F.lit(3)) == i) for i in range(3)]
    b_batches = [b.filter(F.pmod(F.col("rid"), F.lit(3)) == i).drop("rid") for i in range(3)]
    t0 = time.perf_counter()
    slices = side_tagged(a_batches, b_batches, ["k"])
    n_ivm = fold_rounds(join_step(["k"]), slices)[-1].count()
    t_ivm = time.perf_counter() - t0

    # Q21 decorrelated shape over a synthetic (order, supplier, late) fact:
    # per-(ok, sk) rollup -> per-ok counts -> one join; ONE scan of li21.
    li21 = spark.range(n_events).select(
        F.pmod(F.xxhash64(F.col("id") + 17), F.lit(n_keys)).alias("ok"),
        F.pmod(F.xxhash64(F.col("id") + 23), F.lit(400)).alias("sk"),
        (F.pmod(F.xxhash64(F.col("id") + 31), F.lit(10)) < 2).alias("late"),
    )
    t0 = time.perf_counter()
    osupp = (
        li21.groupBy("ok", "sk")
        .agg(F.max(F.col("late").cast("int")).alias("late"))
        .localCheckpoint()
    )
    per_order = osupp.groupBy("ok").agg(
        F.count(F.lit(1)).alias("__n_supp"), F.sum("late").alias("__n_late")
    )
    n_q21 = (
        osupp.filter(F.col("late") == 1)
        .join(per_order, "ok")
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late") == 1))
        .groupBy("sk")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .count()
    )
    t_q21 = time.perf_counter() - t0

    print(
        f"round-6 wave: pattern {t_pat:.1f}s ({n_pat} users), "
        f"pattern-measures {t_pm:.1f}s ({n_pm} matches), "
        f"ivm-3batch {t_ivm:.1f}s ({n_ivm} rows), "
        f"q21-decorr {t_q21:.1f}s ({n_q21} suppliers)"
    )



def round6b_wave(spark, ev_typed, n_events: int) -> None:
    """Second round-6 smoke: the analytics wave (link prediction, EMA
    fold, attribution). Structural bounds: link prediction's wedge join
    is Sigma deg(m)^2 — with items AND orders both growing with n the
    per-item degree stays ~constant, so wedges grow linearly (the
    hub-cap parameter is the bound when degree grows instead);
    EMA/attribution are one key shuffle + a linear per-key fold/window."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        last_touch_attribution,
    )
    from etl_pipeline_last_fm_spark.operators.graph import (
        copurchase_edges,
        link_prediction_scores,
    )
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_halflife

    # order/item co-occurrence over an n/10 slice: orders AND items grow
    # with the data (m/5 orders x 5 lines, m/20 items), so per-item
    # degree (~80) stays flat and both the wedge count and the candidate
    # group count grow linearly — the bound the operator documents. The
    # slice keeps the smoke's absolute cost proportionate; growth is
    # what's being measured, and the slice scales 1:1 with n.
    m = max(n_events // 10, 1000)
    n_items = max(m // 20, 10)
    op = spark.range(m).select(
        (F.col("id") / 5).cast("long").alias("l_orderkey"),
        F.pmod(F.xxhash64(F.col("id") + 41), F.lit(n_items)).alias("l_partkey"),
    )
    t0 = time.perf_counter()
    n_lp = link_prediction_scores(copurchase_edges(op), top_k=100).count()
    t_lp = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_ema = ema_halflife(ev_typed).count()
    t_ema = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_att = last_touch_attribution(ev_typed).count()
    t_att = time.perf_counter() - t0

    print(
        f"round-6b wave: link-pred {t_lp:.1f}s ({n_lp} rows), "
        f"ema {t_ema:.1f}s ({n_ema} users), "
        f"attribution {t_att:.1f}s ({n_att} channels)"
    )


def round6c_wave(spark, ev_typed, n_events: int) -> None:
    """Third round-6 smoke: the late-wave operators. Bounds:
    session_concurrency = one key shuffle (sessionize) + bucketed sweep
    (parallel within-day running sums + calendar-bounded carry);
    collocations = two hash aggregates + vocab-sized joins, linear in
    tokens; trend_fit = ONE partial+final aggregate; ema_fold = 3x the
    one-shot fold cost (per-batch frontier state, O(keys) state rows);
    contingency_chi2 = ONE fact scan; marginals derive from the cell counts."""
    from etl_pipeline_last_fm_spark.operators.intervals import (
        interval_concurrency,
    )
    from etl_pipeline_last_fm_spark.operators.profile import contingency_chi2
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.text import collocations
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        cusum_alarms,
        ema_fold_batch,
        present_ema_state,
        trend_fit,
    )

    t0 = time.perf_counter()
    n_sc = interval_concurrency(
        sessionize(ev_typed), ["user_id", "session_seq"]
    ).count()
    t_sc = time.perf_counter() - t0

    docs = synth_docs(spark, max(n_events // 10, 1000))
    docs.count()
    t0 = time.perf_counter()
    n_col = collocations(docs, min_count=10, top_k=100).count()
    t_col = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_tf = trend_fit(ev_typed).count()
    t_tf = time.perf_counter() - t0

    batches = _time_thirds(ev_typed, n_events)
    t0 = time.perf_counter()
    n_ef = present_ema_state(fold_rounds(ema_fold_batch, batches)).count()
    t_ef = time.perf_counter() - t0

    cats = spark.range(n_events).select(
        F.concat(F.lit("l"), F.pmod(F.xxhash64("id"), F.lit(4))).alias("lang"),
        F.concat(F.lit("s"), F.pmod(F.xxhash64(F.col("id") + 3), F.lit(20))).alias("source"),
    )
    t0 = time.perf_counter()
    n_x2 = contingency_chi2(cats).count()
    t_x2 = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_cu = cusum_alarms(ev_typed, drift_cents=5_000, threshold_cents=20_000).count()
    t_cu = time.perf_counter() - t0

    print(
        f"round-6c wave: concurrency {t_sc:.1f}s ({n_sc} sessions), "
        f"collocations {t_col:.1f}s ({n_col} rows), "
        f"trend-fit {t_tf:.1f}s ({n_tf} groups), "
        f"ema-fold {t_ef:.1f}s ({n_ef} users), "
        f"chi2 {t_x2:.1f}s ({n_x2} cells), "
        f"cusum {t_cu:.1f}s ({n_cu} users)"
    )


def round7_wave(spark, ev_typed, n_events: int) -> None:
    """Round-7 smoke: hashed_features (the one op the round-6 tables
    missed — one explode + one hash aggregate, map-side combine, linear
    in tokens), the hub-CAPPED link predictor on the same synthetic graph
    as the round-6b exact run (the cap must come in at-or-under the exact
    wall — it prunes wedges, it cannot add them), and the streaming EMA
    fold (3 versioned-commit batches; the delta over the plain batch fold
    is the commit protocol's fixed I/O, O(keys) state rows per round)."""
    import tempfile

    from etl_pipeline_last_fm_spark.operators.graph import (
        copurchase_edges,
        link_prediction_scores,
    )
    from etl_pipeline_last_fm_spark.operators.text import hashed_features

    docs = synth_docs(spark, max(n_events // 10, 1000))
    docs.count()
    t0 = time.perf_counter()
    n_hf = hashed_features(docs).count()
    t_hf = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.operators.text import lm_score_bigram

    t0 = time.perf_counter()
    n_lm2 = lm_score_bigram(docs).count()
    t_lm2 = time.perf_counter() - t0

    # Same synthetic order/item graph as round6b_wave, capped at 2x the
    # flat per-item degree (~80) so the cap BINDS on hash-fluctuation
    # hubs without emptying the candidate set.
    m = max(n_events // 10, 1000)
    n_items = max(m // 20, 10)
    op = spark.range(m).select(
        (F.col("id") / 5).cast("long").alias("l_orderkey"),
        F.pmod(F.xxhash64(F.col("id") + 41), F.lit(n_items)).alias("l_partkey"),
    )
    t0 = time.perf_counter()
    n_lpc = link_prediction_scores(
        copurchase_edges(op), top_k=100, max_middle_degree=160
    ).count()
    t_lpc = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch
    from etl_pipeline_last_fm_spark.streaming.state import fold_batch, read_state

    batches = _time_thirds(ev_typed, n_events)
    with tempfile.TemporaryDirectory(prefix="sgraft_smoke_ema_") as tmp:
        t0 = time.perf_counter()
        for i, b in enumerate(batches):
            fold_batch(b, i, f"{tmp}/state", ema_fold_batch)
        n_se = read_state(spark, f"{tmp}/state").count()
        t_se = time.perf_counter() - t0

    from etl_pipeline_last_fm_spark.operators.attribution import attribution_step
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

    # ev_typed already carries the shared synthetic event_type column.
    t0 = time.perf_counter()
    n_af = fold_rounds(attribution_step(), batches)[-1].count()
    t_af = time.perf_counter() - t0

    print(
        f"round-7 wave: hashed-features {t_hf:.1f}s ({n_hf} rows), "
        f"lm-bigram {t_lm2:.1f}s ({n_lm2} docs), "
        f"link-pred-capped {t_lpc:.1f}s ({n_lpc} rows), "
        f"streaming-ema {t_se:.1f}s ({n_se} users), "
        f"attribution-fold {t_af:.1f}s ({n_af} channels)"
    )


def round7b_wave(spark, ev_typed, n_events: int) -> None:
    """Round-7b smoke: the analytics wave — token entropy (explode + two
    hash aggregates), RFM (one stream aggregate + dimension-sized ntile
    windows), LOCF time-weighted average (one lead window + one
    aggregate), the Benford digit profile shape (projection + 9-group
    aggregate) and the HHI shape (key aggregate + group-share division +
    group aggregate; the real query's extra dim joins are broadcast, so
    the shapes timed here are the scale-bearing parts)."""
    from etl_pipeline_last_fm_spark.operators.segments import (
        rfm_segments,
        time_weighted_avg,
    )
    from etl_pipeline_last_fm_spark.operators.text import token_entropy

    docs = synth_docs(spark, max(n_events // 10, 1000))
    docs.count()
    t0 = time.perf_counter()
    n_te = token_entropy(docs).count()
    t_te = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_rfm = rfm_segments(ev_typed).count()
    t_rfm = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_tw = time_weighted_avg(ev_typed).count()
    t_tw = time.perf_counter() - t0

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    digits = ev_typed.filter(cents > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    t0 = time.perf_counter()
    n_bf = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n")).count()
    t_bf = time.perf_counter() - t0

    n_supp = 2000
    fact = spark.range(n_events).select(
        F.pmod(F.xxhash64(F.col("id") + 3), F.lit(n_supp)).alias("supp"),
        (F.pmod(F.xxhash64(F.col("id") + 5), F.lit(10_000)) + 1).alias("rev"),
    )
    per = fact.groupBy("supp").agg(F.sum("rev").alias("rev4"))
    per = per.withColumn("nation", F.pmod(F.col("supp"), F.lit(25)))
    tot = per.groupBy("nation").agg(F.sum("rev4").alias("__tot4"))
    sh = per.join(F.broadcast(tot), "nation").select(
        "nation",
        F.expr(
            "CAST((CAST(rev4 AS DECIMAL(38,0)) * 1000000) div __tot4"
            " AS BIGINT)"
        ).alias("s"),
    )
    t0 = time.perf_counter()
    n_hhi = (
        sh.groupBy("nation")
        .agg(F.sum(F.col("s") * F.col("s")).alias("hhi"))
        .count()
    )
    t_hhi = time.perf_counter() - t0

    # TWAP ordered fold (IVM member #5): 3 time-slice batches.
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.segments import (
        present_twap_state,
        twap_fold_batch,
    )

    t0 = time.perf_counter()
    n_tf = present_twap_state(
        fold_rounds(twap_fold_batch, _time_thirds(ev_typed, n_events))
    ).count()
    t_tf = time.perf_counter() - t0

    # ABC shape: key aggregate + dim-sized cumulative window + class agg.
    from pyspark.sql import Window

    t0 = time.perf_counter()
    per = fact.groupBy("supp").agg(F.sum("rev").alias("rev4"))
    tot = per.agg(F.sum("rev4").alias("__t"))
    wcum = Window.orderBy(F.col("rev4").desc(), F.col("supp").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_abc = (
        per.withColumn("__cum", F.sum("rev4").over(wcum))
        .crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("__cum") * 100 <= F.col("__t") * 80, "A")
            .when(F.col("__cum") * 100 <= F.col("__t") * 95, "B")
            .otherwise("C")
            .alias("c")
        )
        .groupBy("c")
        .count()
        .count()
    )
    t_abc = time.perf_counter() - t0

    # Negative-edge sampling on the synthetic co-purchase graph.
    from etl_pipeline_last_fm_spark.operators.graph import (
        copurchase_edges,
        negative_edges,
    )

    m = max(n_events // 10, 1000)
    n_items = max(m // 20, 10)
    op = spark.range(m).select(
        (F.col("id") / 5).cast("long").alias("l_orderkey"),
        F.pmod(F.xxhash64(F.col("id") + 41), F.lit(n_items)).alias("l_partkey"),
    )
    t0 = time.perf_counter()
    n_neg = negative_edges(copurchase_edges(op), k=4).count()
    t_neg = time.perf_counter() - t0

    print(
        f"round-7b wave: token-entropy {t_te:.1f}s ({n_te} docs), "
        f"rfm {t_rfm:.1f}s ({n_rfm} users), "
        f"twap {t_tw:.1f}s ({n_tw} users), "
        f"benford {t_bf:.1f}s ({n_bf} digits), "
        f"hhi {t_hhi:.1f}s ({n_hhi} nations), "
        f"twap-fold {t_tf:.1f}s ({n_tf} users), "
        f"abc {t_abc:.1f}s ({n_abc} classes), "
        f"neg-edges {t_neg:.1f}s ({n_neg} non-edges)"
    )


def round7c_wave(spark, ev_typed, n_events: int) -> None:
    """Round-7c smoke: Holt smoothing (the EMA plan shape with a struct
    accumulator — one key shuffle + in-codegen fold), its 3-batch ordered
    fold, Durbin–Watson (one lag window + one aggregate sharing a sort),
    per-node clustering coefficients (the Σ deg(m)² wedge join — the
    link-prediction bound), and the bucketed 2-D skyline (per-bucket
    windows + a bucket-dim carry — no global row-sized window)."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        durbin_watson,
        holt_fold_batch,
        holt_linear,
        present_holt_state,
    )

    t0 = time.perf_counter()
    n_ho = holt_linear(ev_typed).count()
    t_ho = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_hf = present_holt_state(
        fold_rounds(holt_fold_batch, _time_thirds(ev_typed, n_events))
    ).count()
    t_hf = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_dw = durbin_watson(ev_typed).count()
    t_dw = time.perf_counter() - t0

    # Clustering coefficients on the synthetic co-purchase graph (same
    # generator as the round-7 link-prediction smoke: items grow with the
    # data at flat per-item degree, so wedges grow linearly).
    from etl_pipeline_last_fm_spark.operators.graph import (
        clustering_coefficients,
        copurchase_edges,
    )

    m = max(n_events // 10, 1000)
    n_items = max(m // 20, 10)
    op = spark.range(m).select(
        (F.col("id") / 5).cast("long").alias("l_orderkey"),
        F.pmod(F.xxhash64(F.col("id") + 41), F.lit(n_items)).alias("l_partkey"),
    )
    t0 = time.perf_counter()
    n_cc = clustering_coefficients(copurchase_edges(op)).count()
    t_cc = time.perf_counter() - t0

    # Skyline over corpus-sized random points ($10-cent buckets).
    from etl_pipeline_last_fm_spark.operators.skyline import skyline_2d

    pts = spark.range(n_events).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(100_000)).alias("cost"),
        F.pmod(F.xxhash64(F.col("id") + 9), F.lit(10_000)).alias("gain"),
    )
    t0 = time.perf_counter()
    n_sk = skyline_2d(pts, "id", "cost", "gain", bucket_width=1000).count()
    t_sk = time.perf_counter() - t0

    # Kaplan-Meier: one per-key aggregate + day-dim risk table + fold.
    from etl_pipeline_last_fm_spark.operators.survival import km_survival

    t0 = time.perf_counter()
    n_km = km_survival(ev_typed, censor_days=1).count()
    t_km = time.perf_counter() - t0

    # Gini shape: key aggregate + within-group rank + group aggregate.
    from pyspark.sql import Window

    fact = spark.range(n_events).select(
        F.pmod(F.xxhash64(F.col("id") + 3), F.lit(20_000)).alias("cust"),
        (F.pmod(F.xxhash64(F.col("id") + 5), F.lit(10_000)) + 1).alias("rev"),
    )
    per = fact.groupBy("cust").agg(F.sum("rev").alias("x"))
    per = per.withColumn("nation", F.pmod(F.col("cust"), F.lit(25)))
    wg = Window.partitionBy("nation").orderBy("x", "cust")
    t0 = time.perf_counter()
    n_gini = (
        per.select("nation", "x",
                   F.row_number().over(wg).cast("long").alias("i"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum((F.col("i") * F.col("x")).cast("decimal(38,0)")).alias("six"),
        )
        .select(F.expr(
            "CAST((2 * six - (n + 1) * sx) * 1000000"
            " div NULLIF(n * sx, 0) AS BIGINT)"
        ))
        .count()
    )
    t_gini = time.perf_counter() - t0

    # Zipf fit + BM25 over the synthetic doc corpus (one census pass
    # each; everything after is vocab-sized).
    from etl_pipeline_last_fm_spark.operators.text import bm25_topk, zipf_fit

    docs = synth_docs(spark, max(n_events // 10, 1000))
    docs.count()
    t0 = time.perf_counter()
    n_zf = zipf_fit(docs).count()
    t_zf = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_bm = bm25_topk(docs, ("data", "the", "query"), k=20).count()
    t_bm = time.perf_counter() - t0

    # Mann-Whitney: one filtered aggregate to the value DIM + dim window.
    from etl_pipeline_last_fm_spark.operators.timeseries import rank_sum_test

    t0 = time.perf_counter()
    n_rs = rank_sum_test(ev_typed, "purchase", "view").count()
    t_rs = time.perf_counter() - t0

    print(
        f"round-7c wave: holt {t_ho:.1f}s ({n_ho} users), "
        f"holt-fold {t_hf:.1f}s ({n_hf} users), "
        f"durbin-watson {t_dw:.1f}s ({n_dw} users), "
        f"clustering-coeff {t_cc:.1f}s ({n_cc} nodes), "
        f"skyline {t_sk:.1f}s ({n_sk} frontier rows), "
        f"km-survival {t_km:.1f}s ({n_km} day rows), "
        f"gini {t_gini:.1f}s ({n_gini} nations), "
        f"zipf {t_zf:.1f}s ({n_zf} row), "
        f"bm25 {t_bm:.1f}s ({n_bm} rows), "
        f"rank-sum {t_rs:.1f}s ({n_rs} row)"
    )


def round8_wave(spark, ev_typed, n_events: int) -> None:
    """Round-8 smoke: the model-evaluation metrics wave. Structural
    bounds: roc_auc = one corpus pass to the value dim + one dim cumsum;
    calibration = one corpus pass to k bins; kappa = one corpus pass to
    a 2x2 table; mann_kendall = one corpus pass to the day dim + a d²
    dim self-join (d grows with the synthetic time span — the quadratic
    term is in the CALENDAR, not the corpus); lift deciles = the
    two-phase rank device over corpus rows (shuffle + partitioned
    window, no single-partition sort)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_bins,
        calibration_ece,
        cohens_kappa,
        isotonic_calibration,
        lift_deciles,
        mann_kendall,
        pr_curve,
        roc_auc,
    )

    t0 = time.perf_counter()
    auc = roc_auc(ev_typed).first()["auc_ppm"]
    t_auc = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_cal = calibration_bins(ev_typed).count()
    t_cal = time.perf_counter() - t0

    rated = ev_typed.select(
        (F.col("value") >= 100.0).alias("a"),
        (F.pmod(F.xxhash64("event_id"), F.lit(3)) > 0).alias("b"),
    )
    t0 = time.perf_counter()
    kap = cohens_kappa(rated, "a", "b").first()["kappa_ppm"]
    t_kap = time.perf_counter() - t0

    t0 = time.perf_counter()
    mk = mann_kendall(ev_typed).first()
    t_mk = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_lift = lift_deciles(ev_typed).count()
    t_lift = time.perf_counter() - t0

    t0 = time.perf_counter()
    ece = calibration_ece(ev_typed).first()["ece_ppm"]
    t_ece = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_pr = pr_curve(ev_typed).count()
    t_pr = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_iso = isotonic_calibration(ev_typed).count()
    t_iso = time.perf_counter() - t0

    print(
        f"round8 events={n_events}: roc_auc {t_auc:.1f}s (auc {auc}), "
        f"calibration {t_cal:.1f}s ({n_cal} bins), kappa {t_kap:.1f}s "
        f"({kap} ppm), mann_kendall {t_mk:.1f}s ({mk['n_days']} days, "
        f"s={mk['s_stat']}), lift_deciles {t_lift:.1f}s ({n_lift} tiles), "
        f"ece {t_ece:.1f}s ({ece} ppm), pr_curve {t_pr:.1f}s ({n_pr} pts), "
        f"isotonic {t_iso:.1f}s ({n_iso} bins)"
    )


if __name__ == "__main__":
    if len(sys.argv) > 3 and sys.argv[3] == "round8":
        # Fast path: only the round-8 eval-metrics wave.
        n_events = int(sys.argv[2])
        spark = get_spark(app_name="scale-smoke-r8")
        ev = _typed_events(spark, n_events)
        ev.count()
        round8_wave(spark, ev, n_events)
    elif len(sys.argv) > 3 and sys.argv[3] == "round7c":
        # Fast path: only the round-7c wave.
        n_events = int(sys.argv[2])
        spark = get_spark(app_name="scale-smoke-r7c")
        ev = _typed_events(spark, n_events)
        ev.count()
        round7c_wave(spark, ev, n_events)
    elif len(sys.argv) > 3 and sys.argv[3] == "round7b":
        # Fast path: only the round-7b analytics wave.
        n_events = int(sys.argv[2])
        spark = get_spark(app_name="scale-smoke-r7b")
        ev = _typed_events(spark, n_events)
        ev.count()
        round7b_wave(spark, ev, n_events)
    elif len(sys.argv) > 3 and sys.argv[3] == "round6":
        # Fast path: only the round-6 wave (docs corpus not needed).
        n_events = int(sys.argv[2])
        spark = get_spark(app_name="scale-smoke-r6")
        ev = _typed_events(spark, n_events)
        ev.count()
        round6_wave(spark, ev, n_events)
        round6b_wave(spark, ev, n_events)
        round6c_wave(spark, ev, n_events)
    elif len(sys.argv) > 3 and sys.argv[3] == "round7":
        # Fast path: only the round-7 wave.
        n_events = int(sys.argv[2])
        spark = get_spark(app_name="scale-smoke-r7")
        ev = _typed_events(spark, n_events)
        ev.count()
        round7_wave(spark, ev, n_events)
    else:
        main()
