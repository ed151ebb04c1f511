"""LLM-training-data tier: dedup (exact/minhash/simhash/ngram/embedding),
similarity & ANN, text analysis, sampling, sketches, packing, profiling,
binary-content metadata. Split out of __spark_entry__.py in round 5."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import cents, half_up_round, ts_us
from etl_pipeline_last_fm_spark.operators.idempotent import first_writer_wins
from etl_pipeline_last_fm_spark.operators.surrogate import assign_surrogate_keys
from etl_pipeline_last_fm_spark.operators.topk import windowed_top_k
from etl_pipeline_last_fm_spark.operators import asof as asof_oracle_mod
from etl_pipeline_last_fm_spark.operators import cleaning as cleaning_ops
from etl_pipeline_last_fm_spark.operators import fuzzy as fuzzy_ops
from etl_pipeline_last_fm_spark.operators import contamination as contamination_oracle_mod
from etl_pipeline_last_fm_spark.operators import dedup as dedup_ops
from etl_pipeline_last_fm_spark.operators import funnel as funnel_oracle_mod
from etl_pipeline_last_fm_spark.operators import packing as packing_ops
from etl_pipeline_last_fm_spark.operators import profile as profile_ops
from etl_pipeline_last_fm_spark.operators import sampling as sampling_oracle_mod
from etl_pipeline_last_fm_spark.operators import scd as scd_ops
from etl_pipeline_last_fm_spark.operators import timeseries as ts_ops
from etl_pipeline_last_fm_spark.operators import similarity as sim_ops
from etl_pipeline_last_fm_spark.operators import sketch as sketch_ops
from etl_pipeline_last_fm_spark.operators import text as text_ops
from etl_pipeline_last_fm_spark.operators import timewindow as tw_ops
from etl_pipeline_last_fm_spark.operators import zorder as zorder_ops
from etl_pipeline_last_fm_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Extension operators (BASELINE.json north-star: LLM-data-pipeline ops)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup_groups(docs)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.fingerprint(docs)


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_stats(docs)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.quality_score(docs)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.lang_id(docs)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact pairwise Jaccard is the *verification* path; it runs on a bounded
    # deterministic subset (doc_id < 500). The corpus has a 31-word vocab, so
    # unigram sets overlap for nearly every pair — unbounded exact pairwise
    # is quadratic by construction; full-corpus scale goes through
    # dedup_minhash_lsh (banded candidates, near-linear).
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return dedup_ops.word_jaccard_pairs(docs, threshold=0.5)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.minhash_lsh_pairs(docs, shingle_len=3, num_hashes=32, bands=8)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked (pigeonhole) form — the scale path: candidates come from
    # equi-joined 15-bit signature chunks, not a cross join. max_hamming=3
    # (4 chunks) is the regime where chunk blocking is selective;
    # output-equal to the pairwise form (tests/test_dedup_blocked.py).
    # portable=True: 60-bit md5-derived signature the DuckDB oracle
    # recomputes bit-for-bit — full value-checked correctness (blocking has
    # recall 1.0 by pigeonhole, so the pairwise-truth oracle is exact).
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.simhash_near_dups_blocked(docs, max_hamming=3, portable=True)


def q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.brute_force_topk(emb, n_queries=10, k=5)


def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over TRAINED centroids: 16 relational-Lloyd centroids
    (2 iterations), probe 4 -> each query scores ~1/4 of the corpus.
    Since round 6 this trains via kmeans_lloyd_relational and routes on
    integer squared-L2 (VERDICT r5 item 3), so the WHOLE query — training
    included — is value-checked by ivf_ann_topk_trained_oracle_sql; the
    round-1 driver-side numpy k-means (which no SQL oracle could replay)
    is retired."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_ann_topk_trained(
        emb, n_queries=10, k=5, n_centroids=16, nprobe=4, n_iters=2
    )


def q_sim_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the trained-IVF path vs exact brute force — the
    pin that the approximation stays useful, independent of the per-pair
    value check. Deterministic: relational Lloyd on fixed data. Floor 600
    milli from measurement: recall@5 is 0.90 at BOTH sf0.001 and sf0.01
    on the near-random fixture embeddings (the ANN worst case, see
    tests/test_similarity.py's preamble) — a large step up from the
    retired numpy path's 0.66/0.52, because L2-argmin routing against
    properly averaged fixed-point centroids partitions the corpus more
    evenly than the cosine-argmax routing did."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = sim_ops.brute_force_topk(emb, n_queries=10, k=5)
    ann = sim_ops.ivf_ann_topk_trained(
        emb, n_queries=10, k=5, n_centroids=16, nprobe=4, n_iters=2
    )
    return sim_ops.ann_recall_gate(truth, ann, n_queries=10, k=5, floor_milli=600)


def q_sim_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for product-quantization ADC ranking vs exact brute
    force. PQ compresses 64 floats to 4 code bytes, so on near-random
    embeddings (no cluster structure for the codebooks to exploit) recall
    is intrinsically low — measured 0.20 at sf0.001 / 0.34 at sf0.01;
    floor 100 milli pins that the 4-byte codes still carry signal. The
    per-pair PQ output itself IS fully value-checked (sim_ann_pq)."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = sim_ops.brute_force_topk(emb, n_queries=10, k=5)
    ann = sim_ops.pq_ann_topk_seeded(emb, n_queries=10, k=5)
    return sim_ops.ann_recall_gate(truth, ann, n_queries=10, k=5, floor_milli=100)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube (the §2.5 generalization): four
    explicit sets — (flag,status), (flag), (status), () — with GROUPING()
    ids disambiguating real NULLs from subtotal rows. Compiles to a single
    Expand + partial/final aggregate: one scan, one shuffle, regardless of
    how many sets are requested. Quantities are integral doubles, so the
    SUM is exact and BIGINT-castable on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_grouping_sets")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n_rows,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM li_grouping_sets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """
    )


def q_kmv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch over cents-quantized event values per type:
    bounded mergeable state (64 smallest distinct-value hashes) read out as
    distinct-count estimate + p50/p90 of the distinct-value distribution.
    The mergeable-summary family HLL registers / CMS grids / histograms
    don't cover — and, unlike KLL/t-digest compactors (order-dependent
    state), value-checkable to the last bit (operators/sketch.py kmv_state
    design note). Values are quantized to cents BEFORE hashing so the hash
    input strings are engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_cents"),
    )
    state = sketch_ops.kmv_state(src, "v_cents", ["event_type"], k=64)
    return sketch_ops.kmv_summary(state, ["event_type"], k=64, quantiles=(0.5, 0.9))


def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification of per-user daily event aggregates: event
    counts zero-filled (flow metric — a silent day really is zero), value
    totals carried forward (state metric), was_observed flag. The daily
    aggregate is rounded to cents BEFORE the fill so both engines carry
    identical doubles forward."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("user_id"), F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        # exact cent sum (order-insensitive; round-9 float-sum audit) —
        # the carried-forward double is the exact cents/100 on both engines
        (F.sum(cents("value")).cast("double") / F.lit(100.0)).alias("val_sum"),
    )
    filled = ts_ops.gapfill_daily(
        daily, "user_id", "day", zero_cols=["n_events"], locf_cols=["val_sum"]
    )
    # ISO-string day for driver parity: DuckDB DATE surfaces as a midnight
    # timestamp through pandas, so both engines emit the formatted string.
    return filled.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "val_sum",
        "was_observed",
    )


_GAPFILL_OBS_SQL = """
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100.0 AS val_sum
    FROM events GROUP BY user_id, CAST(ts AS DATE)
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse snapshot diff over two deterministic views of orders:
    'old' drops keys % 3 == 0, 'new' drops keys % 5 == 0 and re-prices
    keys % 7 == 0 — so the diff exercises added, removed and changed
    classes. Full outer join on the key, null-safe comparison."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    old = base.filter(F.col("o_orderkey") % 3 != 0)
    new = base.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            half_up_round(F.col("o_totalprice") * F.lit(1.1), 2),
        ).otherwise(F.col("o_totalprice")),
    )
    return scd_ops.snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


_SNAPDIFF_OLD_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
"""
_SNAPDIFF_NEW_SQL = """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0
                THEN FLOOR(o_totalprice * 1.1 * 100.0 + 0.5) / 100.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 5 <> 0
"""


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-denominated mixing: keep a deterministic (hash, id)-ordered
    prefix of each source while its exclusive running token total is under
    the source's budget; unbudgeted sources drop out entirely."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling_oracle_mod.token_budget_sample(
        docs, {"src0": 800, "src1": 400, "src2": 2000, "src3": 100}
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministically injected synthetic
    contact data (the fixture corpus itself is PII-free word salad, so the
    query plants one email, one IPv4 and one phone per doc as a function of
    doc_id — both engines build the identical input, and the oracle
    value-checks the md5 of the scrubbed text, not just the counts)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("text"),
    )
    return cleaning_ops.pii_scrub(raw)


_PII_SOURCE_SQL = """
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.7 call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                || '-0199' AS text
    FROM documents
"""


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution on part names: head-token blocking
    (equi-join, sub-quadratic) then Levenshtein <= 2 verification with the
    threshold pushed into Spark's banded DP.

    Graded WITH the hot-block guard active (max_block_size=1000): at the
    driver's sf0.01 the largest head-token block is 269 rows, so no block is
    dropped and the output equals the uncapped oracle — but the scale guard
    the 100 TB plan depends on is exercised in the graded plan itself."""
    part = load_table(spark, sf_dir, "part")
    return fuzzy_ops.fuzzy_name_pairs(
        part, "p_partkey", "p_name", max_dist=2, max_block_size=1000
    )


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level cross-doc dedup stats: per document, the fraction of
    its non-overlapping 8-word chunks that occur in any other document —
    catches shared boilerplate/quotes that full-doc dedup misses."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.shared_passage_stats(docs, window_tokens=8, portable=True)


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams (count desc, gram asc): partial+final
    hash aggregate then TakeOrdered — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.top_ngrams(docs, n=2, k=20)


def q_sim_ann_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked IVF twin: seed centroids (= embeddings of the 16 lowest
    ids) instead of trained ones, every argmax on a packed rounded-score
    BIGINT -> the DuckDB oracle rebuilds the identical index. Keeps the
    trained-k-means entry (sim_ann_ivf) as the production path; this entry
    proves the IVF plumbing (assignment, probe ranking, candidate join,
    top-k) value-for-value."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_ann_topk_seeded(emb, n_queries=10, k=5, n_centroids=16, nprobe=4)


def q_dedup_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable=True: md5-derived gram hash -> the winnowing fingerprints are
    # reproducible in DuckDB, upgrading this from rows-only to value-checked.
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.fingerprint_overlap_pairs(docs, min_shared=5, portable=True)


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 6 planes -> 64 buckets for a 500-vector corpus (~8 occupants each):
    # enough collisions for meaningful approximate neighbors. Scale the plane
    # count with log2(corpus/target_bucket_size) in production.
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6)


def q_sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-probe LSH: each query also probes the n_planes buckets one sign
    # flip away — recall recovers most of what single-bucket LSH loses on
    # this near-random corpus at ~(n_planes+1)/2^n_planes of brute-force
    # cost. Oracle: the probe set collapses to a Hamming-ball predicate.
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.lsh_ann_topk(emb, n_queries=10, k=5, n_planes=6, probe_flips=1)


def q_embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked (hyperplane-LSH) form — the scale path: only same-bucket pairs
    # are scored, so work follows bucket occupancy, not corpus². The fixture
    # embeddings are near-random (max pairwise cosine ~0.51), so a production
    # dedup threshold (0.95) would make the check vacuous; 0.4 exercises the
    # filter+round path with non-empty output. Oracle-paired: the planes are
    # seed-deterministic literals, reproduced verbatim in the DuckDB SQL.
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_near_dups_blocked(emb, threshold=0.4, n_planes=6)


def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact pairwise cosine — the verification/baseline path (bounded
    # corpora); the blocked form above is what runs at scale.
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_near_dups(emb, threshold=0.4)


def q_embedding_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup resolution: blocked cosine pairs -> connected
    components -> keep/drop list (the embedding twin of dedup_keep_list;
    same 0.4 fixture threshold as embedding_cosine_dedup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_keep_list(emb, threshold=0.4, n_planes=6)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.binary_meta(docs)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click event picks up the most recent earlier
    view's value for the same user — the classic feature-at-prediction-time /
    dimension-as-of lookup. Spark plan: union + one window pass per user key
    (single shuffle, no join node at all); oracle: DuckDB's native ASOF JOIN,
    an independent binary-search implementation."""
    from etl_pipeline_last_fm_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(half_up_round(F.max("value"), 2).alias("rv"))
    )
    return asof_join(clicks, views, key_col="user_id", right_value_cols=["rv"]).select(
        "event_id",
        "user_id",
        ts_us("ts").alias("click_us"),
        "matched_rv",
        "matched_ts_us",
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded time-range join (attribution): click→purchase pairs of the
    same user within 10 minutes. Bucketed equi-join on (user, time-bucket) —
    candidates follow bucket co-occupancy, never |A|×|B|; the oracle is the
    plain BETWEEN theta-join."""
    from etl_pipeline_last_fm_spark.operators.asof import time_range_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return time_range_join(clicks, purchases, key_col="user_id", max_gap_us=600_000_000)


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: split = pure function of
    (salt, doc_id) via the portable hash — reproducible across engines,
    partitionings, and cluster sizes (rand()/sample() are neither)."""
    from etl_pipeline_last_fm_spark.operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    return split_assign(docs, id_col="doc_id").select("doc_id", "bucket", "split")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-stratum subsample: 5 docs per language, ranked by
    (hash, id) inside each stratum — the data-mixing knob. WindowGroupLimit
    keeps only k rows per stratum in flight."""
    from etl_pipeline_last_fm_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, strata_col="lang", n_per_stratum=5)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 1 distinct 8-gram
    with the benchmark slice (doc_id % 25 == 0 stands in for the eval set).
    Benchmark shingles broadcast -> no corpus-side join shuffle."""
    from etl_pipeline_last_fm_spark.operators.contamination import benchmark_contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    return benchmark_contamination(train, bench, n=8)


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup resolution: MinHash-LSH pairs -> connected components
    (iterative min-label propagation with per-round localCheckpoint) ->
    per-cluster keep/drop list. Oracle: exact-Jaccard truth pairs closed
    transitively by a DuckDB RECURSIVE CTE — an independent fixpoint
    implementation."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.dedup_keep_list(docs)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: global token offset per doc via a
    two-phase distributed prefix sum (per-block sums -> tiny block-offset
    window -> broadcast back), bit-equal to the oracle's naive global
    window. The LLM-pretraining batching primitive."""
    docs = load_table(spark, sf_dir, "documents")
    return packing_ops.pack_sequences(docs, budget=512, block_size=256)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-selection step: top-20 adjacent token pairs by corpus
    frequency, deterministic (count desc, pair asc) ranking. Per-doc lead
    window only — no global ordering over token rows."""
    docs = load_table(spark, sf_dir, "documents")
    return packing_ops.pair_counts(docs, top_k=20)


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each customer's order priority: gaps-and-
    islands (lag-change flag -> running-sum version -> half-open validity
    intervals via lead). The history-keeping upgrade of the reference's
    current-state dims (sql/init_dds.sql)."""
    orders = load_table(spark, sf_dir, "orders")
    return scd_ops.scd2_history(orders)


def q_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: every customer's order priority as of
    1997-06-15 — the half-open-interval query SCD2 history exists to
    answer (pure filter, no join)."""
    orders = load_table(spark, sf_dir, "orders")
    return scd_ops.scd2_as_of(scd_ops.scd2_history(orders), "1997-06-15")


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling of lineitem numerics in ONE scan (wide agg ->
    stack unpivot); oracle computes the same stats as a per-column UNION
    ALL — deliberately different plan, same answer."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile_ops.profile_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: hash the user (group) key so
    no user's events straddle a split — the contamination guard split_assign
    alone can't give."""
    ev = load_table(spark, sf_dir, "events")
    return sampling_oracle_mod.group_split_assign(ev, group_col="user_id").select(
        "event_id", "user_id", "split"
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition: duplicated n-gram fraction and
    top-ngram coverage — the boilerplate/spam filters length and stopword
    heuristics miss. Per-doc aggregation only."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.repetition_scores(docs, n=3)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping 64-token windows, stride 48.
    Explodes only the cheap chunk-index sequence (the token array is
    computed once per doc in the Project below the Generate — the
    codegen-safe shape; see SCALING.md on generator inputs)."""
    docs = load_table(spark, sf_dir, "documents")
    return packing_ops.chunk_documents(docs, chunk_tokens=64, overlap=16)


_MIXTURE_RATES = {"en": 4000, "zh": 10000, "de": 10000, "fr": 10000, "es": 8000}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weights corpus sampling: per-language deterministic Bernoulli
    keep rates (downsample dominant en, keep rare langs whole). Pure
    hash-filter scan — membership is a function of (salt, doc_id) only."""
    from etl_pipeline_last_fm_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(docs, _MIXTURE_RATES).select("doc_id", "lang", "source")


def q_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population length buckets WITHOUT ntile's single-partition
    window: exact percentile edges (one tiny agg) broadcast back, bucket =
    #edges <= len. Curriculum-binning for training-data prep."""
    docs = load_table(spark, sf_dir, "documents")
    return profile_ops.quantile_buckets(docs, n_buckets=10)


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived fixed-width histogram of l_extendedprice (min/max agg
    broadcast back, clamped floor binning) — profiling at scan speed."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile_ops.fixed_width_histogram(li, "l_extendedprice", n_bins=50)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab coverage curve: top-20 unigrams with cumulative
    corpus share (TakeOrderedAndProject top-k; cumulative window on k rows
    only)."""
    docs = load_table(spark, sf_dir, "documents")
    return packing_ops.vocab_coverage(docs, top_k=20)


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation observability: how many docs survive each filter
    stage (length floor -> length ceiling -> repetition cap). One metric
    pass + one tiny conditional aggregate — the pipeline-health view every
    curation run reports. Stages nest (each adds a predicate), so counts
    are monotone non-increasing."""
    docs = load_table(spark, sf_dir, "documents")
    lengths = docs.select(
        "doc_id",
        "text",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("__nt"),
    )
    # repetition (n-gram explode + two groupBys, the costliest stage) runs
    # ONLY on docs already inside the length band — on a real corpus most
    # docs fail the length gates and their dup fraction is never consulted
    band = lengths.filter((F.col("__nt") >= 20) & (F.col("__nt") <= 150))
    rep = text_ops.repetition_scores(band.select("doc_id", "text"), n=3).select(
        "doc_id", "dup_ngram_frac"
    )
    m = lengths.select("doc_id", "__nt").join(rep, "doc_id", "left")
    s1 = F.col("__nt") >= 20
    s2 = s1 & (F.col("__nt") <= 150)
    s3 = s2 & F.coalesce(F.col("dup_ngram_frac") <= 0.3, F.lit(False))
    wide = m.agg(
        F.count(F.lit(1)).alias("__all"),
        F.sum(s1.cast("long")).alias("__s1"),
        F.sum(s2.cast("long")).alias("__s2"),
        F.sum(s3.cast("long")).alias("__s3"),
    )
    return wide.selectExpr(
        "stack(4, '0_all', __all, '1_min_len', __s1, '2_max_len', __s2, "
        "'3_low_repetition', __s3) AS (stage, n_docs)"
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel (view -> click -> purchase): per-user deepest
    stage via three conditional-min windows over ONE user_id exchange; the
    oracle computes the same answer with a join-per-stage plan."""
    from etl_pipeline_last_fm_spark.operators.funnel import funnel_stages

    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev)


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tf * ln(1 + N/df), rank on the
    rounded score so cross-engine ln() ulp noise can't flip the order)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.tfidf_top_terms(docs, top_k=3)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog: approx distinct event_ids per event_type next
    to the exact count. Integer-scaled register sums make the sketch bit-
    identical on Spark and DuckDB (operators/sketch.py); cardinality >>
    2.5m here, so this exercises the raw-estimator branch."""
    ev = load_table(spark, sf_dir, "events")
    return sketch_ops.hll_distinct(ev, "event_id", ["event_type"], b=6)


def q_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL over an exploded token stream: per-source vocabulary size —
    small cardinalities, so this exercises the linear-counting branch."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    return sketch_ops.hll_distinct(toks, "tok", ["source"], b=6)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters: exact top-20 corpus tokens probed against
    a 4x1024 salted-hash counter grid; estimate = min over rows. All
    integer arithmetic — exact cross-engine parity, and n_cms >= n_exact
    by construction (the CMS one-sided error bound, property-tested)."""
    docs = load_table(spark, sf_dir, "documents")
    return sketch_ops.cms_heavy_hitters(docs, top_k=20)


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 60-min window aggregate over the event stream in integer
    epoch-µs bucket arithmetic (NTZ-safe, timezone-render-free); the
    streaming twin (operators/timewindow.py streaming_tumbling_window)
    produces identical rows and is equivalence-tested."""
    ev = load_table(spark, sf_dir, "events")
    return tw_ops.tumbling_window_agg(ev, window_minutes=60)


def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 60/15-min windows: each event explodes into its 4 containing
    windows (bounded expansion, not a range join), then one partial+final
    hash aggregate on (key, win_start)."""
    ev = load_table(spark, sf_dir, "events")
    return tw_ops.hopping_window_agg(ev, window_minutes=60, hop_minutes=15)


def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (seeded codebooks, ADC scoring): 64-float
    vectors scored through 4 one-byte codes — the memory side of the ANN
    trade (IVF/LSH bound candidates, PQ bounds bytes; compose as IVF-PQ at
    scale). Every argmin is integer-packed, so the DuckDB oracle rebuilds
    codebooks, codes and ranks exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.pq_ann_topk_seeded(emb, n_queries=10, k=5)


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem/orders: all row-level
    checks fold into ONE aggregate pass (a column per check, not a scan
    per check); uniqueness is one groupBy; the FK check is a broadcast
    anti-join. The quantity range is deliberately tight so violation
    counts are non-zero and the counting machinery is actually graded."""
    from etl_pipeline_last_fm_spark.operators.expectations import (
        Expect,
        run_expectations,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    checks = [
        Expect("li_keys_not_null", "not_null", cols=["l_orderkey", "l_partkey"]),
        Expect("li_qty_in_1_30", "range", cols=["l_quantity"], lo=1, hi=30),
        Expect(
            "li_price_positive",
            "predicate",
            predicate=F.col("l_extendedprice") > 0,
        ),
        Expect("li_line_unique", "unique", cols=["l_orderkey", "l_linenumber"]),
        Expect(
            "li_order_fk",
            "foreign_key",
            cols=["l_orderkey"],
            parent=orders,
            parent_cols=["o_orderkey"],
        ),
    ]
    return run_expectations(li, checks)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document quality scoring (CCNet-style): mean per-token
    logprob under the corpus's own smoothed unigram distribution, in exact
    integer micro-nats (quantized on the vocab-sized census before any
    per-doc sum — no float accumulation order anywhere)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.lm_score(docs)


def q_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier census per (region, nation): count + pinned-rounded mean
    account balance — exercises the supplier dimension (the one testdata
    table no other query touches) through the standard broadcast-dim
    star shape."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(cents("s_acctbal")).alias("__s"),
            F.count("s_acctbal").alias("__n"),
        )
        # Exact-integer avg (round-9 float-sum audit). acctbal is SIGNED
        # (testdata min -976.02), so the ABS+sign device pins the
        # half-away-from-zero tie rule identically on both engines.
        .select(
            "region",
            "nation",
            "n_suppliers",
            (
                F.expr(
                    "CAST(sign(__s) * ((2 * abs(CAST(__s AS DECIMAL(38,0))) + __n)"
                    " div NULLIF(2 * __n, 0)) AS DOUBLE)"
                )
                / F.lit(100.0)
            ).alias("avg_acctbal"),
        )
    )


def q_mart_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the event log is split into an
    'existing' part and a 'late batch' that OVERLAPS the same (day,
    event_type) groups (split on a hash of event_id, not on time — the
    merge has to actually merge), each becomes an additive partial state,
    the states fold, and the presented mart must equal a from-scratch
    GROUP BY over everything — which is exactly what the oracle computes.
    O(batch)+O(mart) per update, never O(history)."""
    from etl_pipeline_last_fm_spark.operators.incremental import (
        additive_state,
        merge_states,
        present,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    )
    split = F.pmod(F.col("event_id"), F.lit(10)) < 7
    keys = ["day", "event_type"]
    state = additive_state(ev.filter(split), keys, "value")
    late = additive_state(ev.filter(~split), keys, "value")
    return present(merge_states([state, late], keys), keys)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleaved layout key over (l_partkey, l_suppkey),
    both normalized to 10 bits off their data bounds — the multi-dimension
    data-skipping sort key `write_zordered` clusters files on. Pure bit
    arithmetic after one bounded bounds-agg; locality + span-shrinkage
    properties tested in tests/test_zorder_wsample.py."""
    from etl_pipeline_last_fm_spark.operators.zorder import (
        scaled_to_bits,
        zorder_key,
    )

    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("__lox"),
        F.max("l_partkey").alias("__hix"),
        F.min("l_suppkey").alias("__loy"),
        F.max("l_suppkey").alias("__hiy"),
    )
    j = li.select("l_orderkey", "l_partkey", "l_suppkey").crossJoin(
        F.broadcast(bounds)
    )
    zk = zorder_key(
        scaled_to_bits(F.col("l_partkey"), F.col("__lox"), F.col("__hix"), 10),
        scaled_to_bits(F.col("l_suppkey"), F.col("__loy"), F.col("__hiy"), 10),
        10,
    )
    return j.select("l_orderkey", "l_partkey", "l_suppkey", zk.alias("zkey"))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement, inclusion
    odds proportional to token count — hash-deterministic, partition-
    invariant, executed as TakeOrdered (per-partition top-k, no global
    sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling_oracle_mod.weighted_sample(docs, k=50)


def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via prefix filtering (AllPairs/SSJoin):
    every 3-shingle-Jaccard >= 1/2 pair, over the FULL corpus — no subset
    bound, unlike the pairwise verification path (q_dedup_ngram_jaccard),
    because candidates come from an equi-join on each doc's rarest-token
    prefix. LOSSLESS by lemma (operators/setsim.py docstring), so the
    all-pairs oracle checks it on any corpus at any threshold — the exact
    complement to dedup_minhash_lsh's probabilistic recall."""
    from etl_pipeline_last_fm_spark.operators.setsim import prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_pairs(docs, threshold_num=1, threshold_den=2)


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (the runtime-filter lever): a 4 Kbit / 4-
    hash filter over BUILDING-segment customer keys prunes orders before
    the join; output is the per-priority ledger of bloom-passed vs truly-
    matched rows. The filter is portable-hash-deterministic, so the false
    positive overhead itself is value-checked cross-engine."""
    from etl_pipeline_last_fm_spark.operators.bloom import bloom_prune_join_stats

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    return bloom_prune_join_stats(
        orders, "o_custkey", cust, "c_custkey", "o_orderpriority"
    )


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flags: |value - median| > 3 * MAD per event_type,
    rank-based lower medians (PERCENTILE_DISC semantics) with an integer
    cutoff — no float constant in the decision path
    (operators/outliers.py)."""
    from etl_pipeline_last_fm_spark.operators.outliers import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "events"), cutoff=3)


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set algebra from two mergeable KMV sketches (theta-sketch
    read-out): union / intersection cardinality and Jaccard of the
    cents-quantized value sets of 'click' vs 'purchase' events, from two
    256-hash bottom-k states sharing a salt (operators/sketch.py
    kmv_set_ops)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_cents")
    a = ev.filter(F.col("event_type") == "click").select(cents)
    b = ev.filter(F.col("event_type") == "purchase").select(cents)
    sa = sketch_ops.kmv_state(a, "v_cents", [], k=256, salt="kmvset")
    sb = sketch_ops.kmv_state(b, "v_cents", [], k=256, salt="kmvset")
    return sketch_ops.kmv_set_ops(sa, sb, k=256)




# Unordered name -> callable map; the graded-window ORDERING lives in
# __spark_entry__.py (the driver grades the first 50 entries only).
QUERIES = {
    "asof_join": q_asof_join,
    "bloom_prune_join": q_bloom_prune_join,
    "bpe_pair_counts": q_bpe_pair_counts,
    "chunk_documents": q_chunk_documents,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "contamination": q_contamination,
    "curation_funnel": q_curation_funnel,
    "dedup_exact": q_dedup_exact,
    "dedup_keep_list": q_dedup_keep_list,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_passages": q_dedup_passages,
    "dedup_prefix_filter": q_dedup_prefix_filter,
    "dedup_rolling_fp": q_dedup_rolling_fp,
    "dedup_simhash": q_dedup_simhash,
    "embedding_cosine_dedup": q_embedding_cosine_dedup,
    "embedding_cosine_pairs": q_embedding_cosine_pairs,
    "embedding_keep_list": q_embedding_keep_list,
    "expectations": q_expectations,
    "funnel": q_funnel,
    "fuzzy_name_pairs": q_fuzzy_name_pairs,
    "gapfill_locf": q_gapfill_locf,
    "group_split": q_group_split,
    "grouping_sets": q_grouping_sets,
    "histogram": q_histogram,
    "hll_distinct": q_hll_distinct,
    "hll_vocab": q_hll_vocab,
    "hopping_window": q_hopping_window,
    "kmv_quantiles": q_kmv_quantiles,
    "kmv_set_ops": q_kmv_set_ops,
    "lang_id": q_lang_id,
    "lm_score": q_lm_score,
    "mart_incremental": q_mart_incremental,
    "mixture_sample": q_mixture_sample,
    "multimodal_meta": q_multimodal_meta,
    "outlier_mad": q_outlier_mad,
    "pack_sequences": q_pack_sequences,
    "pii_scrub": q_pii_scrub,
    "profile_columns": q_profile_columns,
    "quantile_buckets": q_quantile_buckets,
    "range_join": q_range_join,
    "repetition": q_repetition,
    "scd2_as_of": q_scd2_as_of,
    "scd2_history": q_scd2_history,
    "sim_ann_ivf": q_sim_ann_ivf,
    "sim_ann_ivf_recall": q_sim_ann_ivf_recall,
    "sim_ann_ivf_seeded": q_sim_ann_ivf_seeded,
    "sim_ann_lsh": q_sim_ann_lsh,
    "sim_ann_lsh_multiprobe": q_sim_ann_lsh_multiprobe,
    "sim_ann_pq": q_sim_ann_pq,
    "sim_ann_pq_recall": q_sim_ann_pq_recall,
    "sim_bruteforce": q_sim_bruteforce,
    "snapshot_diff": q_snapshot_diff,
    "split_assign": q_split_assign,
    "stratified_sample": q_stratified_sample,
    "supplier_balance": q_supplier_balance,
    "text_fingerprint": q_text_fingerprint,
    "text_quality": q_text_quality,
    "tfidf": q_tfidf,
    "token_budget_sample": q_token_budget_sample,
    "token_count": q_token_count,
    "top_ngrams": q_top_ngrams,
    "tumbling_window": q_tumbling_window,
    "vocab_coverage": q_vocab_coverage,
    "weighted_sample": q_weighted_sample,
    "zorder_key": q_zorder_key,
}


def oracles() -> dict[str, str]:
    from etl_pipeline_last_fm_spark.operators.dedup import (
        embedding_near_dups_blocked_oracle_sql,
        embedding_near_dups_oracle_sql,
        minhash_lsh_pairs_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.sessions import sessionize_oracle_sql
    from etl_pipeline_last_fm_spark.operators.similarity import lsh_ann_topk_oracle_sql
    from etl_pipeline_last_fm_spark.operators.text import (
        EN_STOPWORDS,
        lang_id_oracle_sql,
        quality_oracle_sql,
    )

    en_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return {
        # extensions (SQL-expressible subset)
        "dedup_exact": """
            SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "text_fingerprint": """
            SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents
        """,
        "token_count": r"""
            SELECT doc_id,
                   CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\s]'))
                        AS BIGINT) AS n_bpe_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_computed
            FROM documents
        """,
        "text_quality": quality_oracle_sql(),
        "lang_id": lang_id_oracle_sql(),
        "dedup_ngram_jaccard": """
            WITH words AS (
                SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS w
                FROM documents WHERE doc_id < 500
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM words GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
                FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   FLOOR(CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) * 10000.0 + 0.5) / 10000.0
                       AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.5
        """,
        "sim_bruteforce": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
                 q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 10),
                 scored AS (
                     SELECT q_id, v.vec_id AS cand_id,
                            list_dot_product(qe, e)
                              / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))
                              AS sim
                     FROM q JOIN v ON v.vec_id <> q.q_id
                 ),
                 ranked AS (
                     SELECT q_id, cand_id,
                            FLOOR(sim * 1000000.0 + 0.5) / 1000000.0 AS sim_r,
                            ROW_NUMBER() OVER (
                                PARTITION BY q_id
                                ORDER BY FLOOR(sim * 1000000.0 + 0.5) DESC, cand_id
                            ) AS rn
                     FROM scored
                 )
            SELECT q_id, cand_id, sim_r AS sim, CAST(rn AS INTEGER) AS rnk
            FROM ranked WHERE rn <= 5
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS content_sha
            FROM documents
        """,
        # LSH-family oracles: minhash via the exact-Jaccard truth set (LSH
        # recall is 1.0 on this corpus — see minhash_lsh_pairs_oracle_sql
        # docstring); hyperplane buckets via seed-deterministic plane
        # literals baked into the SQL.
        "dedup_minhash_lsh": minhash_lsh_pairs_oracle_sql(shingle_len=3, verify_threshold=0.5),
        "embedding_cosine_dedup": embedding_near_dups_blocked_oracle_sql(
            threshold=0.4, n_planes=6
        ),
        "embedding_keep_list": dedup_ops.embedding_keep_list_oracle_sql(
            threshold=0.4, n_planes=6
        ),
        "embedding_cosine_pairs": embedding_near_dups_oracle_sql(threshold=0.4),
        "sim_ann_lsh": lsh_ann_topk_oracle_sql(n_queries=10, k=5, n_planes=6),
        "sim_ann_lsh_multiprobe": lsh_ann_topk_oracle_sql(
            n_queries=10, k=5, n_planes=6, probe_flips=1
        ),
        "asof_join": asof_oracle_mod.asof_join_oracle_sql("click", "view"),
        "range_join": asof_oracle_mod.time_range_join_oracle_sql(
            "click", "purchase", max_gap_us=600_000_000
        ),
        "split_assign": sampling_oracle_mod.split_assign_oracle_sql(),
        "stratified_sample": sampling_oracle_mod.stratified_sample_oracle_sql(
            strata_col="lang", n_per_stratum=5
        ),
        "contamination": contamination_oracle_mod.benchmark_contamination_oracle_sql(n=8),
        "tfidf": text_ops.tfidf_oracle_sql(top_k=3),
        "dedup_keep_list": dedup_ops.dedup_keep_list_oracle_sql(),
        "pack_sequences": packing_ops.pack_sequences_oracle_sql(budget=512),
        "bpe_pair_counts": packing_ops.pair_counts_oracle_sql(top_k=20),
        "vocab_coverage": packing_ops.vocab_coverage_oracle_sql(top_k=20),
        "scd2_history": scd_ops.scd2_history_oracle_sql(),
        "scd2_as_of": scd_ops.scd2_as_of_oracle_sql("1997-06-15"),
        "profile_columns": profile_ops.profile_columns_oracle_sql(
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        ),
        "group_split": sampling_oracle_mod.group_split_assign_oracle_sql(),
        "curation_funnel": f"""
            WITH rep AS ({text_ops.repetition_scores_oracle_sql(n=3)}),
            m AS (
                SELECT d.doc_id,
                       CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS nt,
                       r.dup_ngram_frac
                FROM documents d JOIN rep r ON d.doc_id = r.doc_id
            ),
            wide AS (
                SELECT COUNT(*) AS n_all,
                       SUM(CASE WHEN nt >= 20 THEN 1 ELSE 0 END) AS s1,
                       SUM(CASE WHEN nt >= 20 AND nt <= 150 THEN 1 ELSE 0 END) AS s2,
                       SUM(CASE WHEN nt >= 20 AND nt <= 150
                                 AND dup_ngram_frac <= 0.3 THEN 1 ELSE 0 END) AS s3
                FROM m
            )
            -- CASTs: DuckDB SUM(INTEGER) yields HUGEINT -> pandas float64,
            -- which the driver's string value-hash sees as '446.0' vs
            -- Spark's BIGINT '446'.
            SELECT '0_all' AS stage, CAST(n_all AS BIGINT) AS n_docs FROM wide
            UNION ALL SELECT '1_min_len', CAST(s1 AS BIGINT) FROM wide
            UNION ALL SELECT '2_max_len', CAST(s2 AS BIGINT) FROM wide
            UNION ALL SELECT '3_low_repetition', CAST(s3 AS BIGINT) FROM wide
        """,
        "funnel": funnel_oracle_mod.funnel_stages_oracle_sql(),
        "quantile_buckets": profile_ops.quantile_buckets_oracle_sql(n_buckets=10),
        "histogram": profile_ops.fixed_width_histogram_oracle_sql(
            "l_extendedprice", n_bins=50
        ),
        "mixture_sample": sampling_oracle_mod.mixture_sample_oracle_sql(_MIXTURE_RATES),
        "chunk_documents": packing_ops.chunk_documents_oracle_sql(
            chunk_tokens=64, overlap=16
        ),
        "repetition": text_ops.repetition_scores_oracle_sql(n=3),
        "dedup_simhash": dedup_ops.simhash_near_dups_oracle_sql(max_hamming=3),
        "dedup_rolling_fp": text_ops.fingerprint_overlap_oracle_sql(
            min_shared=5, k=16, window=8
        ),
        # Trained-IVF: the oracle replays the k-means training itself
        # (kmeans_lloyd_cte_sql), closing the last rows-only entry (r6).
        "sim_ann_ivf": sim_ops.ivf_ann_topk_trained_oracle_sql(
            n_queries=10, k=5, n_centroids=16, nprobe=4, n_iters=2
        ),
        "sim_ann_ivf_seeded": sim_ops.ivf_ann_topk_seeded_oracle_sql(
            n_queries=10, k=5, n_centroids=16, nprobe=4
        ),
        "pii_scrub": cleaning_ops.pii_scrub_oracle_sql(_PII_SOURCE_SQL),
        "fuzzy_name_pairs": fuzzy_ops.fuzzy_name_pairs_oracle_sql(
            "part", "p_partkey", "p_name", max_dist=2, max_block_size=1000
        ),
        "dedup_passages": dedup_ops.shared_passage_stats_oracle_sql(window_tokens=8),
        "top_ngrams": text_ops.top_ngrams_oracle_sql(n=2, k=20),
        "gapfill_locf": (
            "SELECT user_id, strftime(day, '%Y-%m-%d') AS day,"
            " n_events, val_sum, was_observed FROM ("
            + ts_ops.gapfill_daily_oracle_sql(
                _GAPFILL_OBS_SQL, "user_id", "day",
                zero_cols=["n_events"], locf_cols=["val_sum"],
            )
            + ")"
        ),
        "snapshot_diff": scd_ops.snapshot_diff_oracle_sql(
            _SNAPDIFF_OLD_SQL, _SNAPDIFF_NEW_SQL,
            ["o_orderkey"], ["o_orderstatus", "o_totalprice"],
        ),
        "token_budget_sample": sampling_oracle_mod.token_budget_sample_oracle_sql(
            {"src0": 800, "src1": 400, "src2": 2000, "src3": 100}
        ),
        # round-3: portable sketches + time windows
        "hll_distinct": sketch_ops.hll_distinct_oracle_sql(
            "events", "event_id", ["event_type"], b=6
        ),
        "hll_vocab": sketch_ops.hll_distinct_oracle_sql(
            "(SELECT * FROM (SELECT source,"
            " unnest(string_split(trim(text), ' ')) AS tok"
            " FROM documents) WHERE tok <> '') t",
            "tok",
            ["source"],
            b=6,
        ),
        "cms_heavy_hitters": sketch_ops.cms_heavy_hitters_oracle_sql(top_k=20),
        "kmv_quantiles": sketch_ops.kmv_quantiles_oracle_sql(
            "events",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)",
            "event_type",
            k=64,
            quantiles=(0.5, 0.9),
        ),
        # Same text runs on both engines: GROUPING SETS and GROUPING() are
        # ANSI; only the grouping-id cast is pinned to INT on both sides.
        "grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
                   CAST(GROUPING(l_linestatus) AS INT) AS g_status,
                   COUNT(*) AS n_rows,
                   CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), (l_linestatus), ())
        """,
        "tumbling_window": tw_ops.tumbling_window_oracle_sql(window_minutes=60),
        "hopping_window": tw_ops.hopping_window_oracle_sql(
            window_minutes=60, hop_minutes=15
        ),
        "weighted_sample": sampling_oracle_mod.weighted_sample_oracle_sql(k=50),
        "lm_score": text_ops.lm_score_oracle_sql(),
        # Assertion oracles for the recall gates: the gate outcome (not the
        # trained index's pair output) is the portable, deterministic value.
        # 1000*hits >= floor*truth is computed engine-side in exact integer
        # arithmetic; the oracle pins the expected verdict and the constants.
        "sim_ann_ivf_recall": """
            SELECT 10 AS n_queries, 5 AS k, CAST(50 AS BIGINT) AS n_truth,
                   600 AS recall_floor_milli, 1 AS recall_ok
        """,
        "sim_ann_pq_recall": """
            SELECT 10 AS n_queries, 5 AS k, CAST(50 AS BIGINT) AS n_truth,
                   100 AS recall_floor_milli, 1 AS recall_ok
        """,
        "sim_ann_pq": sim_ops.pq_ann_topk_seeded_oracle_sql(
            n_queries=10, k=5, n_subspaces=4, n_codes=16, dim=64
        ),
        "expectations": """
            SELECT 'li_keys_not_null' AS check_name,
                   CAST(SUM(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                   COUNT(*) AS n_checked
            FROM lineitem
            UNION ALL
            SELECT 'li_qty_in_1_30',
                   CAST(SUM(CASE WHEN l_quantity IS NULL
                                   OR l_quantity < 1 OR l_quantity > 30
                                 THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(*)
            FROM lineitem
            UNION ALL
            SELECT 'li_price_positive',
                   CAST(SUM(CASE WHEN NOT (l_extendedprice > 0)
                                 THEN 1 ELSE 0 END) AS BIGINT),
                   COUNT(*)
            FROM lineitem
            UNION ALL
            SELECT 'li_line_unique',
                   CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT),
                   CAST(COALESCE(SUM(c), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS c FROM lineitem
                  GROUP BY l_orderkey, l_linenumber)
            UNION ALL
            -- NOT EXISTS, not NOT IN: NOT IN returns NULL (row not
            -- counted) for a NULL child key and zero rows if ANY parent
            -- key is NULL — both diverge from Spark's left_anti, which
            -- counts NULL-keyed children as orphans.
            SELECT 'li_order_fk',
                   (SELECT COUNT(*) FROM lineitem li
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = li.l_orderkey)),
                   COUNT(*)
            FROM lineitem
        """,
        # Exact-integer signed avg (see q_supplier_balance).
        "supplier_balance": """
            WITH g AS (
                SELECT r_name AS region, n_name AS nation,
                       COUNT(*) AS n_suppliers,
                       CAST(SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT))
                            AS HUGEINT) AS s,
                       COUNT(s_acctbal) AS n
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                GROUP BY r_name, n_name
            )
            SELECT region, nation, n_suppliers,
                   CAST(sign(s) * ((2 * abs(s) + n) // NULLIF(2 * n, 0))
                        AS DOUBLE) / 100.0 AS avg_acctbal
            FROM g
        """,
        "mart_incremental": """
            WITH cents AS (
                SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                       CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS v
                FROM events
            )
            SELECT day, event_type,
                   CAST(SUM(v) AS BIGINT) / 100.0 AS value_sum,
                   FLOOR(CAST(SUM(v) AS BIGINT)
                         / (COUNT(v) * 100.0) * 10000.0 + 0.5) / 10000.0
                       AS value_avg,
                   COUNT(v) AS n_rows
            FROM cents
            GROUP BY day, event_type
        """,
        "zorder_key": f"""
            WITH b AS (
                SELECT MIN(l_partkey) AS lox, MAX(l_partkey) AS hix,
                       MIN(l_suppkey) AS loy, MAX(l_suppkey) AS hiy
                FROM lineitem
            ),
            s AS (
                SELECT l_orderkey, l_partkey, l_suppkey,
                       {zorder_ops.scaled_to_bits_sql("l_partkey", "lox", "hix", 10)} AS xs,
                       {zorder_ops.scaled_to_bits_sql("l_suppkey", "loy", "hiy", 10)} AS ys
                FROM lineitem, b
            )
            SELECT l_orderkey, l_partkey, l_suppkey,
                   {zorder_ops.zorder_key_sql("xs", "ys", 10)} AS zkey
            FROM s
        """,
        "dedup_prefix_filter": _setsim_oracle(),
        "bloom_prune_join": _bloom_oracle(),
        "outlier_mad": _outliers_oracle(),
        "kmv_set_ops": _kmv_set_ops_oracle(),
    }


def _setsim_oracle() -> str:
    from etl_pipeline_last_fm_spark.operators.setsim import (
        prefix_filter_pairs_oracle_sql,
    )

    return prefix_filter_pairs_oracle_sql(threshold_num=1, threshold_den=2)


def _bloom_oracle() -> str:
    from etl_pipeline_last_fm_spark.operators.bloom import (
        bloom_prune_join_stats_oracle_sql,
    )

    return bloom_prune_join_stats_oracle_sql(
        "orders",
        "o_custkey",
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
        "c_custkey",
        "o_orderpriority",
    )


def _outliers_oracle() -> str:
    from etl_pipeline_last_fm_spark.operators.outliers import (
        mad_outliers_oracle_sql,
    )

    return mad_outliers_oracle_sql(cutoff=3)


def _kmv_set_ops_oracle() -> str:
    cents = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v"
    return sketch_ops.kmv_set_ops_oracle_sql(
        f"SELECT {cents} FROM events WHERE event_type = 'click'",
        f"SELECT {cents} FROM events WHERE event_type = 'purchase'",
        k=256,
        salt="kmvset",
    )
