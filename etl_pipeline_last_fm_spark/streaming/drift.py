"""Streaming corpus-drift maintenance (foreachBatch additive census fold).

`text.token_census` is an ADDITIVE state — censuses of disjoint document
batches merge by per-(source, token) count sum, order-free — so the
streaming incremental-maintenance recipe (streaming/marts.py,
streaming/sketch.py) applies verbatim: each micro-batch folds its own
census into the persisted state behind the at-least-once replay guard
(last applied batch_id persisted with the state, fold no-ops on
batch_id <= last). TV distances are computed at READ time from the state
(`text.tv_from_census`) — the expensive pair expansion never runs inside
the fold.

With the guard + algebra, the presented drift table equals the batch
`corpus_drift` of everything ever seen (tested, incl. a replay case).
Same single-writer caveat as the other foreachBatch sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.text import token_census, tv_from_census
from etl_pipeline_last_fm_spark.streaming.sketch import (
    BID_COL,
    _read_state_or_none,
    _strip_bid,
    commit_state,
    last_applied_batch,
    read_latest_state,
)


def _guarded_fold(batch_df, batch_id, state_path, make_state, merge):
    """Shared fold scaffolding for this module's additive states: read
    prev -> replay guard -> merge -> stamp batch_id -> versioned commit.
    One definition so a fix to the mechanics (guard probe, crash-safe
    commit_state snapshot swap) cannot be missed in a sibling.
    (sketch.py/marts.py predate this helper; all sinks now share
    commit_state for the write step.)"""
    spark = batch_df.sparkSession
    prev = _read_state_or_none(spark, state_path)
    if int(batch_id) <= last_applied_batch(prev):
        return  # replayed micro-batch, already folded
    state = make_state(batch_df)
    if prev is not None:
        state = merge(_strip_bid(prev), state)
    state = state.withColumn(BID_COL, F.lit(int(batch_id)))
    commit_state(state, state_path, batch_id)


def census_fold_batch(batch_df: DataFrame, batch_id: int, state_path: str) -> None:
    """Fold ONE micro-batch's token census into the persisted state.
    Module-level so the replay guard is directly testable."""
    _guarded_fold(
        batch_df,
        batch_id,
        state_path,
        token_census,
        lambda prev, new: prev.unionByName(new)
        .groupBy("source", "tok")
        .agg(F.sum("cnt").alias("cnt")),
    )


def streaming_drift_maintenance(
    stream: DataFrame, state_path: str, checkpoint: str | None = None
):
    """Fold each micro-batch's census into the parquet state
    (replay-guarded). Read drift with ``read_drift``. Returns a
    DataStreamWriter — the caller picks the trigger and calls .start()."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        census_fold_batch(batch_df, batch_id, state_path)

    writer = stream.writeStream.foreachBatch(fold)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def read_census(spark: SparkSession, state_path: str) -> DataFrame:
    return _strip_bid(read_latest_state(spark, state_path))


def read_drift(spark: SparkSession, state_path: str) -> DataFrame:
    """Pairwise TV distances over everything folded so far — equals
    `corpus_drift` of the concatenated batches."""
    return tv_from_census(read_census(spark, state_path))


# ---------------------------------------------------------------------------
# Streaming inverted-index maintenance (same additive-fold recipe)
# ---------------------------------------------------------------------------


# APPEND-ONLY corpus contract: a doc_id must appear in exactly one batch
# (re-sending a document doubles its tf — deduplicating re-sent documents
# is the producer's job). The census itself is text.postings_census
# so the batch and streaming contracts can never drift.
from etl_pipeline_last_fm_spark.operators.text import (  # noqa: E402
    postings_census,
    render_inverted_index,
)


def postings_fold_batch(batch_df: DataFrame, batch_id: int, state_path: str) -> None:
    """Fold ONE micro-batch's postings into the persisted state
    (replay-guarded like every other fold in this package). Append-only
    contract => (term, doc_id) keys are disjoint across batches and the
    merge is a plain union; the groupBy both normalizes accidental
    overlap deterministically (tf sums) and keeps one row per key."""
    _guarded_fold(
        batch_df,
        batch_id,
        state_path,
        postings_census,
        lambda prev, new: prev.unionByName(new)
        .groupBy("term", "doc_id")
        .agg(F.sum("tf").alias("tf")),
    )


def streaming_postings_maintenance(
    stream: DataFrame, state_path: str, checkpoint: str | None = None
):
    """Writer wrapper for postings_fold_batch (same shape as
    streaming_drift_maintenance); read with ``read_inverted_index``."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        postings_fold_batch(batch_df, batch_id, state_path)

    writer = stream.writeStream.foreachBatch(fold)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def read_inverted_index(
    spark: SparkSession, state_path: str, min_df: int = 2
) -> DataFrame:
    """Render the index from the postings state at READ time — the SAME
    code path as text.inverted_index over the concatenated batches."""
    return render_inverted_index(
        _strip_bid(read_latest_state(spark, state_path)), min_df
    )


# ---------------------------------------------------------------------------
# Streaming table-checksum maintenance (modular additive fold)
# ---------------------------------------------------------------------------

CK_MOD = 2_305_843_009_213_693_952  # 2^61


def checksum_state(batch_df: DataFrame, hash_col: str = "__h") -> DataFrame:
    """Per-bucket (n_rows, checksum) over pre-hashed rows — the additive
    state behind __spark_entry__.q_table_checksum. Modular addition is
    associative and commutative, so disjoint batches fold in any order."""
    return (
        batch_df.groupBy(F.pmod(F.col(hash_col), F.lit(64)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                f"CAST(SUM(CAST({hash_col} AS DECIMAL(38,0))) % {CK_MOD} AS BIGINT)"
            ).alias("checksum"),
        )
    )


def checksum_fold_batch(
    batch_df: DataFrame, batch_id: int, state_path: str, hash_col: str = "__h"
) -> None:
    """Fold ONE micro-batch's bucket checksums into the persisted state
    (replay-guarded; append-only row contract like the postings fold)."""
    _guarded_fold(
        batch_df,
        batch_id,
        state_path,
        lambda b: checksum_state(b, hash_col),
        lambda prev, new: prev.unionByName(new)
        .groupBy("bucket")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.expr(f"CAST(SUM(checksum) % {CK_MOD} AS BIGINT)").alias("checksum"),
        ),
    )


def streaming_checksum_maintenance(
    stream: DataFrame, state_path: str, hash_col: str = "__h",
    checkpoint: str | None = None,
):
    """Writer wrapper for checksum_fold_batch (same shape as the other
    maintenance writers); read with ``read_checksum``."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        checksum_fold_batch(batch_df, batch_id, state_path, hash_col)

    writer = stream.writeStream.foreachBatch(fold)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def read_checksum(spark: SparkSession, state_path: str) -> DataFrame:
    return _strip_bid(read_latest_state(spark, state_path))


# ---------------------------------------------------------------------------
# Streaming ROC-AUC maintenance (same additive-fold recipe, round 8)
# ---------------------------------------------------------------------------


def auc_census_fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    pos_type: str = "purchase",
) -> None:
    """Fold ONE micro-batch's score census (evalmetrics.score_census —
    the SAME code path as the batch roc_auc) into the persisted state.
    Per-value label counts are additive and order-free, so any batching
    of the event stream yields the same state; the AUC is computed at
    READ time (read_auc) — the dim cumsum never runs inside the fold."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import score_census

    _guarded_fold(
        batch_df,
        batch_id,
        state_path,
        lambda b: score_census(b, pos_type),
        lambda prev, new: prev.unionByName(new)
        .groupBy("v")
        .agg(
            F.sum("n_pos_v").alias("n_pos_v"),
            F.sum("n_neg_v").alias("n_neg_v"),
        ),
    )


def streaming_auc_maintenance(
    stream: DataFrame,
    state_path: str,
    pos_type: str = "purchase",
    checkpoint: str | None = None,
):
    """Writer wrapper for auc_census_fold_batch (same shape as the other
    maintenance writers); read with ``read_auc``."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        auc_census_fold_batch(batch_df, batch_id, state_path, pos_type)

    writer = stream.writeStream.foreachBatch(fold)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def read_auc(spark: SparkSession, state_path: str) -> DataFrame:
    """Exact AUC over everything folded so far — equals the one-shot
    ``roc_auc`` of the concatenated batches (the maintenance identity)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        auc_from_census,
    )

    return auc_from_census(_strip_bid(read_latest_state(spark, state_path)))
