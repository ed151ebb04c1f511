"""Round-7 additions. Ordering lives in __spark_entry__.py; this module
only implements.

- ``streaming_ema`` (VERDICT r6 item 5): the streaming twin of the EMA
  frontier fold — the IVM family's first ORDER-DEPENDENT member. A real
  availableNow file stream delivers the events table as 3 time-slice
  micro-batches (file modification times force slice order through
  Spark's FileStreamSource, which schedules oldest-first); the per-batch
  fold rides the versioned-commit replay guard, and the maintained state
  must equal the one-shot ``ema_halflife`` — the ordered-fold maintenance
  identity, which IS the oracle.
- ``link_prediction_capped`` (VERDICT r6 item 8): the hub-capped scale
  path of the link predictor, oracle-paired on the same 1996 co-purchase
  graph as the exact entry. The cap (max middle degree 24 — median degree
  is 17 at both graded SFs, so the cap BINDS without emptying the
  candidate set) is the documented 100 TB bound on the wedge join's
  Σ deg(m)² term.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.registry.round6 import (
    # ONE definition each (registry/round6.py): the fold/stream twins
    # replay the SAME batching and grade the SAME detector as the graded
    # ema_fold/cusum entries — a divergence then isolates the protocol.
    CUSUM_DRIFT as _CUSUM_DRIFT,
    CUSUM_H as _CUSUM_H,
    event_time_slices,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table

#: Middle-degree cap for the link-prediction scale path (see module doc).
_LINKPRED_CAP = 24


def _run_time_sliced_stream(spark, sf_dir, step, present, parts=None):
    """Streaming driver of the order-dependent twins: the events table's
    time slices (``event_time_slices``) through ``run_file_sliced_stream``,
    so each micro-batch is one slice in time order."""
    return run_file_sliced_stream(
        spark, event_time_slices(spark, sf_dir), step, present, parts
    )


def _fold_time_slices(spark, sf_dir, step, present, parts=None):
    """Batch driver of the same twins: the same slices, ``step``,
    ``present`` and ``parts`` through operators/rounds.py's
    ``fold_rounds``; ``present`` reads the last part, the stream's
    guard."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

    state = fold_rounds(step, event_time_slices(spark, sf_dir))
    return present(state if parts is None else state[-1])


def _cusum_step(state, batch):
    """The graded detector's fold step, shared by both CUSUM twins."""
    from etl_pipeline_last_fm_spark.operators.timeseries import cusum_fold_batch

    return cusum_fold_batch(state, batch, _CUSUM_DRIFT, _CUSUM_H)


def run_file_sliced_stream(spark, slices, step, present, parts=None):
    """The file-slice harness behind every streaming registry entry: any
    list of same-schema slice DataFrames, written as one parquet file each
    with STRICTLY INCREASING modification times, streamed back
    availableNow with maxFilesPerTrigger=1 so each slice is one
    micro-batch in list order (FileStreamSource schedules
    oldest-mtime-first). Every batch folds through ``step`` (and
    ``parts``) under streaming/state.py's replay-guarded driver; the guard
    state is then read and ``present``-ed. Order-dependent members pass
    time slices; commutative ones (additive states, the join, the skyline
    frontier) pass any partition.

    Driver-side materialization: the presented state is collected once so
    the temp streaming workspace (source files, checkpoint, state) can be
    removed before returning; the returned DataFrame is a local-relation
    rebuild of those rows."""
    from etl_pipeline_last_fm_spark.streaming.state import maintain, read_state

    tmp = tempfile.mkdtemp(prefix="sgraft_stream7_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        base_mtime = 1_700_000_000  # any fixed epoch; only ORDER matters
        for i, sl in enumerate(slices):
            staged = os.path.join(tmp, f"w{i}")
            sl.coalesce(1).write.parquet(staged)
            [part] = [
                p for p in os.listdir(staged)
                if p.startswith("part-") and p.endswith(".parquet")
            ]
            dst = os.path.join(src, f"slice{i}.parquet")
            shutil.move(os.path.join(staged, part), dst)
            os.utime(dst, (base_mtime + 3600 * i, base_mtime + 3600 * i))
        state = os.path.join(tmp, "state")
        ck = os.path.join(tmp, "ck")
        stream = (
            spark.readStream.schema(slices[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            maintain(stream, state, step, parts, checkpoint=ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        guard = state if parts is None else os.path.join(state, parts[-1])
        out = present(read_state(spark, guard))
        schema = out.schema
        collected = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(collected, schema)


def q_streaming_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `ema_fold`: per-batch ema_fold_batch under the
    fold driver's replay guard, with the out-of-order raise preserved.
    Oracle: the one-shot ema_halflife."""
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        ema_fold_batch,
        present_ema_state,
    )

    return _run_time_sliced_stream(
        spark, sf_dir, ema_fold_batch, present_ema_state
    )


def q_cusum_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for the CUSUM detector
    (operators/timeseries.py cusum_fold_batch under fold_rounds): the
    events table split into the SAME 3 time slices as ema_fold and folded
    through per-key (p, min-prefix, s, smax, alarms) state carrying the
    fold frontier — must equal the one-shot cusum_alarms for any
    time-split batching, and that one-shot IS the oracle (order-dependent
    IVM member #2; out-of-order batches raise)."""
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        present_cusum_state,
    )

    return _fold_time_slices(spark, sf_dir, _cusum_step, present_cusum_state)


def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `cusum_fold`: per-batch cusum_fold_batch under
    the fold driver's replay guard. Oracle: the one-shot cusum_alarms."""
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        present_cusum_state,
    )

    return _run_time_sliced_stream(
        spark, sf_dir, _cusum_step, present_cusum_state
    )


def q_attribution_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for LAST-TOUCH attribution
    (operators/attribution.py attribution_step under fold_rounds): the
    events table in the same 3 time slices, folded through per-key
    last-touch state with the batch credit deltas summed additively —
    must equal the one-shot last_touch_attribution for any time-split
    batching (order-dependent IVM member #3: the carried state is the
    running last touch each conversion is judged against)."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        ATTRIBUTION_PARTS,
        attribution_step,
    )

    return _fold_time_slices(
        spark, sf_dir, attribution_step(), _present_last_touch,
        ATTRIBUTION_PARTS,
    )


def _present_last_touch(totals: DataFrame) -> DataFrame:
    """The last-touch twins' graded shape, read off the channel totals."""
    return totals.select("channel", "n_conversions", "attributed_cents")


def _present_decay(totals: DataFrame) -> DataFrame:
    """The time-decay twins' graded shape, read off the channel totals."""
    return totals.select("channel", "n_credited_touches", "credited_cents")


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `attribution_fold`: the two-part fold (per-key
    touch state, then the additive channel totals LAST as the replay
    guard — the join fold's m-last rule) under the same time-sliced
    availableNow stream. Oracle: the one-shot last_touch_attribution."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        ATTRIBUTION_PARTS,
        attribution_step,
    )

    return _run_time_sliced_stream(
        spark,
        sf_dir,
        attribution_step(),
        _present_last_touch,
        ATTRIBUTION_PARTS,
    )


def q_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay MULTI-touch attribution (operators/attribution.py
    time_decay_attribution): every in-window preceding touch shares the
    purchase's credit at exact power-of-two day-decay weights, the
    remainder cents deterministically unassigned; no-touch conversions
    credit 'none' in full. The multi-touch sibling of the graded
    last-touch entry — a user-key range join instead of one running
    window."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        time_decay_attribution,
    )

    return time_decay_attribution(load_table(spark, sf_dir, "events"))


def q_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped link prediction over the SAME 1996 co-purchase graph as
    q_link_prediction (operators/graph.py link_prediction_scores with
    max_middle_degree): wedges through middles of degree > 24 are excluded
    from candidate generation — the bound that keeps the Σ deg(m)² wedge
    term linear at 100 TB — and the capped result is itself oracle-paired
    (the cap is part of the graded semantics, not a test-only flag)."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        copurchase_edges,
        link_prediction_scores,
    )
    from etl_pipeline_last_fm_spark.registry.round6 import (
        copurchase_1996_order_parts,
    )

    return link_prediction_scores(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir)),
        top_k=100,
        max_middle_degree=_LINKPRED_CAP,
    )


def q_attribution_decay_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for TIME-DECAY attribution
    (operators/attribution.py attribution_step over
    decay_attribution_fold_batch, under fold_rounds): order-dependent IVM
    member #4, and the first whose carried state is WINDOW-BOUNDED —
    touches older than frontier − window are evicted each batch
    (watermark semantics), so per-key state never grows with history.
    Must equal the one-shot time_decay_attribution for any time-split
    batching (the oracle)."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        ATTRIBUTION_PARTS,
        attribution_step,
        decay_attribution_fold_batch,
    )

    return _fold_time_slices(
        spark, sf_dir, attribution_step(decay_attribution_fold_batch),
        _present_decay, ATTRIBUTION_PARTS,
    )


def q_streaming_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `attribution_decay_fold`: the two-part fold with
    the window-bounded key state. Oracle: the one-shot
    time_decay_attribution."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        ATTRIBUTION_PARTS,
        attribution_step,
        decay_attribution_fold_batch,
    )

    return _run_time_sliced_stream(
        spark,
        sf_dir,
        attribution_step(decay_attribution_fold_batch),
        _present_decay,
        ATTRIBUTION_PARTS,
    )


def q_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM document scoring (operators/text.py lm_score_bigram):
    mean conditional log P(wᵢ|wᵢ₋₁) in exact integer micro-nats under
    the corpus's own add-one-smoothed bigram model — the adjacency-aware
    rung of the statistical quality-filter ladder above the graded
    unigram lm_score."""
    from etl_pipeline_last_fm_spark.operators.text import lm_score_bigram

    return lm_score_bigram(load_table(spark, sf_dir, "documents"))


# --- 7b analytics wave: segmentation / data-quality / concentration -----

#: Benford first-digit expectation in exact ppm — floor(log10(1+1/d)·1e6
#: + 0.5) inlined as integer literals (they sum to exactly 1,000,000) so
#: neither engine computes a float log at parity time.
_BENFORD_PPM = [
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
]


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the doc's own token distribution in
    integer micro-nats (operators/text.py token_entropy): the lexical-
    diversity rung of the quality ladder — flags keyword-stuffed /
    repetitive-spam docs whose distribution is degenerate even when
    every token is individually common (lm_score can't see that)."""
    from etl_pipeline_last_fm_spark.operators.text import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation (operators/segments.py rfm_segments):
    recency/frequency/monetary per user, quintile tiles tie-pinned by
    (metric, user_id), rfm_code = r·100+f·10+m. One pass over the event
    stream; the ntile windows run on the user DIMENSION."""
    from etl_pipeline_last_fm_spark.operators.segments import rfm_segments

    return rfm_segments(load_table(spark, sf_dir, "events"))


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted average per user (operators/segments.py
    time_weighted_avg): Σ v·Δt div span in exact cents — the TWAP a
    plain AVG misstates under irregular sampling. One lead() window +
    one aggregate."""
    from etl_pipeline_last_fm_spark.operators.segments import (
        time_weighted_avg,
    )

    return time_weighted_avg(load_table(spark, sf_dir, "events"))


def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of the pricing column — the classic
    data-quality / fraud screen: observed first-significant-digit ppm of
    exact cents vs the Benford expectation (integer literals above),
    complete over all 9 digits via a left join from the literal digit
    dim. The first digit is taken from the BIGINT's string form —
    integer-to-string is deterministic and engine-identical, where
    double formatting is not; ×100 (cents) never moves the leading
    digit. Scale shape: one projection + one 9-group hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    digits = li.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("__raw"))
    total = digits.agg(F.count(F.lit(1)).alias("__n"))
    exp = spark.createDataFrame(_BENFORD_PPM, "digit int, exp_ppm long")
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("__raw"), F.lit(0)).cast("long").alias("n_obs"),
            "exp_ppm",
            "__n",
        )
        .select(
            "digit",
            "n_obs",
            F.expr(
                "CAST((CAST(n_obs AS DECIMAL(38,0)) * 1000000) div __n"
                " AS BIGINT)"
            ).alias("obs_ppm"),
            "exp_ppm",
        )
        .withColumn("dev_ppm", F.col("obs_ppm") - F.col("exp_ppm"))
    )


def q_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman revenue-concentration index per supplier
    nation: each supplier's revenue share of its nation in truncated ppm
    (decimal(38,0) cross-multiply — the market_basket precedent), HHI =
    Σ share_ppm² (bounded by 1e12 = a monopoly nation, so the sum always
    fits int64). The antitrust-style concentration screen next to
    market_share's single-nation ratio. Scale shape: one supplier-keyed
    aggregate over lineitem (the only big-table pass), then dim-sized
    broadcast joins and a nation-sized share/aggregate."""
    from etl_pipeline_last_fm_spark.registry.extras import _rev4_col

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    per_supp = li.groupBy("l_suppkey").agg(F.sum(_rev4_col()).alias("rev4"))
    j = per_supp.join(
        F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
        per_supp.l_suppkey == F.col("s_suppkey"),
    ).join(
        F.broadcast(
            nation.select("n_nationkey", F.col("n_name").alias("nation"))
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("nation", "rev4")
    tot = j.groupBy("nation").agg(F.sum("rev4").alias("__tot4"))
    shares = j.join(F.broadcast(tot), "nation").select(
        "nation",
        F.expr(
            "CAST((CAST(rev4 AS DECIMAL(38,0)) * 1000000) div __tot4"
            " AS BIGINT)"
        ).alias("__share_ppm"),
    )
    return shares.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("__share_ppm") * F.col("__share_ppm")).alias("hhi_ppm2"),
    )


def q_twap_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for the LOCF time-weighted
    average (operators/segments.py twap_fold_batch under fold_rounds):
    member #5 of the order-dependent IVM tier — the integral telescopes
    across batch boundaries through the bridge segment last_cents·Δµs,
    so the folded state must equal the one-shot ``time_weighted_avg``
    for any time-split batching (the oracle; out-of-order batches
    raise)."""
    from etl_pipeline_last_fm_spark.operators.segments import (
        present_twap_state,
        twap_fold_batch,
    )

    return _fold_time_slices(
        spark, sf_dir, twap_fold_batch, present_twap_state
    )


def q_streaming_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `twap_fold`: twap_fold_batch under the fold
    driver over the same time-sliced availableNow stream. Oracle: the
    one-shot time_weighted_avg."""
    from etl_pipeline_last_fm_spark.operators.segments import (
        present_twap_state,
        twap_fold_batch,
    )

    return _run_time_sliced_stream(
        spark, sf_dir, twap_fold_batch, present_twap_state
    )


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto revenue classification of parts: rank by revenue
    descending (tie-pinned by partkey), class A = parts inside the first
    80% of cumulative revenue, B inside 95%, C the tail — the classic
    inventory-prioritization cut. The class boundaries are EXACT integer
    cross-multiplies (cum·100 <= 80·total on decimal(38,0) — no division
    anywhere near the boundary, so a part can never flip class between
    engines); the output is the 3-row class summary with each class's
    exact member count, revenue and truncated ppm share.

    Scale shape (VERDICT r7 item 3 — the two-phase prefix sum is now
    IMPLEMENTED, not footnoted): one part-keyed aggregate over lineitem
    (the only big-table pass), then the cumulative revenue via the
    pack_sequences device adapted to a value-ordered sort — bucket each
    part by a monotone coarsening of its own sort key (``rev4 div
    width``, so equal revenues always share a bucket and (bucket desc,
    rev4 desc, partkey) IS the global order), per-bucket sums, an
    exclusive cumsum over the ~1k bucket rows (the only unpartitioned
    window — bucket-dim-sized by construction), and a partitionBy-bucket
    cumulative window over the parts with the bucket offset broadcast
    back. Identical __cum for ANY bucket count (property-tested), so the
    oracle keeps the plain global window."""
    from etl_pipeline_last_fm_spark.operators.packing import (
        value_ordered_cumsum,
    )
    from etl_pipeline_last_fm_spark.registry.extras import _rev4_col

    li = load_table(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum(_rev4_col()).alias("rev4"))
        # consumed three times (scalar total, bucket sums, the bucketed
        # window): checkpoint so lineitem is scanned ONCE (the Q15 rule)
        .localCheckpoint()
    )
    total = per_part.agg(F.sum("rev4").alias("__total"))
    classed = (
        value_ordered_cumsum(per_part, "rev4", "l_partkey")
        .crossJoin(F.broadcast(total))
        .select(
            "rev4",
            F.when(
                F.expr(
                    "CAST(__cum AS DECIMAL(38,0)) * 100"
                    " <= CAST(__total AS DECIMAL(38,0)) * 80"
                ),
                F.lit("A"),
            )
            .when(
                F.expr(
                    "CAST(__cum AS DECIMAL(38,0)) * 100"
                    " <= CAST(__total AS DECIMAL(38,0)) * 95"
                ),
                F.lit("B"),
            )
            .otherwise(F.lit("C"))
            .alias("abc_class"),
            "__total",
        )
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev4").alias("class_rev4"),
        F.expr(
            "CAST((CAST(SUM(rev4) AS DECIMAL(38,0)) * 1000000)"
            " div MAX(__total) AS BIGINT)"
        ).alias("share_ppm"),
    )


def _abc_oracle_sql() -> str:
    return """
        WITH per AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                 AS BIGINT)
                            * (100 - CAST(FLOOR(l_discount * 100 + 0.5)
                                          AS BIGINT))) AS BIGINT) AS rev4
            FROM lineitem GROUP BY 1
        ),
        t AS (SELECT CAST(SUM(rev4) AS HUGEINT) AS total FROM per),
        c AS (
            SELECT rev4,
                   SUM(rev4) OVER (
                       ORDER BY rev4 DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   total
            FROM per, t
        ),
        cls AS (
            SELECT rev4, total,
                   CASE WHEN CAST(cum AS HUGEINT) * 100 <= total * 80
                        THEN 'A'
                        WHEN CAST(cum AS HUGEINT) * 100 <= total * 95
                        THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM c
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(rev4) AS BIGINT) AS class_rev4,
               CAST(CAST(SUM(rev4) AS HUGEINT) * 1000000 // MAX(total)
                    AS BIGINT) AS share_ppm
        FROM cls GROUP BY 1
    """


def q_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-edge sampling over the SAME 1996
    co-purchase graph as the link-prediction entries
    (operators/graph.py negative_edges): k=4 hash-derived candidate
    partners per node, dense-index mapped, real edges anti-joined away —
    the reproducible non-edge set a link-prediction trainer pairs with
    the positive edges."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        copurchase_edges,
        negative_edges,
    )
    from etl_pipeline_last_fm_spark.registry.round6 import (
        copurchase_1996_order_parts,
    )

    return negative_edges(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir)), k=4
    )


QUERIES = {
    "streaming_ema": q_streaming_ema,
    "link_prediction_capped": q_link_prediction_capped,
    "cusum_fold": q_cusum_fold,
    "streaming_cusum": q_streaming_cusum,
    "attribution_fold": q_attribution_fold,
    "streaming_attribution": q_streaming_attribution,
    "attribution_decay": q_attribution_decay,
    "attribution_decay_fold": q_attribution_decay_fold,
    "streaming_attribution_decay": q_streaming_attribution_decay,
    "lm_score_bigram": q_lm_score_bigram,
    "token_entropy": q_token_entropy,
    "rfm_segments": q_rfm_segments,
    "time_weighted_avg": q_time_weighted_avg,
    "benford_profile": q_benford_profile,
    "supplier_concentration": q_supplier_concentration,
    "twap_fold": q_twap_fold,
    "streaming_twap": q_streaming_twap,
    "abc_classification": q_abc_classification,
    "negative_edges": q_negative_edges,
}


def _benford_oracle_sql() -> str:
    values = ", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM)
    return f"""
        WITH c AS (
            SELECT CAST(substring(CAST(CAST(FLOOR(l_extendedprice * 100
                                                  + 0.5) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS INT) AS digit
            FROM lineitem
        ),
        obs AS (
            SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM c GROUP BY 1
        ),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
        e AS (
            SELECT * FROM (VALUES {values}) AS v(digit, exp_ppm)
        )
        SELECT e.digit,
               CAST(COALESCE(obs.n_obs, 0) AS BIGINT) AS n_obs,
               CAST(CAST(COALESCE(obs.n_obs, 0) AS HUGEINT) * 1000000 // n
                    AS BIGINT) AS obs_ppm,
               CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
               CAST(CAST(COALESCE(obs.n_obs, 0) AS HUGEINT) * 1000000 // n
                    - e.exp_ppm AS BIGINT) AS dev_ppm
        FROM e LEFT JOIN obs ON e.digit = obs.digit, t
    """


def _supplier_concentration_oracle_sql() -> str:
    return """
        WITH per AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                 AS BIGINT)
                            * (100 - CAST(FLOOR(l_discount * 100 + 0.5)
                                          AS BIGINT))) AS BIGINT) AS rev4
            FROM lineitem GROUP BY 1
        ),
        j AS (
            SELECT n_name AS nation, rev4
            FROM per
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
        ),
        t AS (
            SELECT nation, CAST(SUM(rev4) AS BIGINT) AS tot4
            FROM j GROUP BY 1
        ),
        sh AS (
            SELECT j.nation,
                   CAST(CAST(rev4 AS HUGEINT) * 1000000 // tot4 AS BIGINT)
                       AS share_ppm
            FROM j JOIN t ON j.nation = t.nation
        )
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2
        FROM sh GROUP BY 1
    """


def oracles() -> dict[str, str]:
    from etl_pipeline_last_fm_spark.operators.attribution import (
        last_touch_attribution_oracle_sql,
        time_decay_attribution_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.segments import (
        rfm_segments_oracle_sql,
        time_weighted_avg_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.text import (
        token_entropy_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.graph import (
        link_prediction_oracle_sql,
        negative_edges_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.text import (
        lm_score_bigram_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        cusum_alarms_oracle_sql,
        ema_halflife_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.registry.round6 import _COPURCHASE_1996_SQL

    cusum_oracle = cusum_alarms_oracle_sql(
        drift_cents=_CUSUM_DRIFT, threshold_cents=_CUSUM_H
    )
    return {
        # The one-shot fold IS the oracle for every ordered-fold twin:
        # the maintained state must equal it (maintenance identity,
        # batch-mode and through the versioned-commit streaming protocol).
        "streaming_ema": ema_halflife_oracle_sql(),
        "cusum_fold": cusum_oracle,
        "streaming_cusum": cusum_oracle,
        "attribution_fold": last_touch_attribution_oracle_sql(),
        "streaming_attribution": last_touch_attribution_oracle_sql(),
        "attribution_decay": time_decay_attribution_oracle_sql(),
        "attribution_decay_fold": time_decay_attribution_oracle_sql(),
        "streaming_attribution_decay": time_decay_attribution_oracle_sql(),
        "link_prediction_capped": link_prediction_oracle_sql(
            _COPURCHASE_1996_SQL, top_k=100, max_middle_degree=_LINKPRED_CAP
        ),
        "lm_score_bigram": lm_score_bigram_oracle_sql(),
        "token_entropy": token_entropy_oracle_sql(),
        "rfm_segments": rfm_segments_oracle_sql(),
        "time_weighted_avg": time_weighted_avg_oracle_sql(),
        "benford_profile": _benford_oracle_sql(),
        "supplier_concentration": _supplier_concentration_oracle_sql(),
        # The one-shot TWAP is the oracle for its fold and stream twins
        # (ordered-fold maintenance identity, member #5).
        "twap_fold": time_weighted_avg_oracle_sql(),
        "streaming_twap": time_weighted_avg_oracle_sql(),
        "abc_classification": _abc_oracle_sql(),
        # Same 1996 co-purchase graph as the link-prediction entries.
        "negative_edges": negative_edges_oracle_sql(
            _COPURCHASE_1996_SQL, k=4
        ),
    }
