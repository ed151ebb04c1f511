"""Additive census states for streaming folds: corpus drift, inverted
index, table checksum and ROC AUC.

Each state here is a census of its batch that merges with earlier
censuses by a per-key sum, order-free, so a stream maintains it with one
make + merge step under streaming/state.py's replay-guarded fold driver.
The expensive read side (TV distances, the rendered index, the AUC's dim
cumsum) runs when the state is READ, never inside the fold.

With the guard and the algebra, each presented state equals the batch
operator over everything ever seen (tested, incl. replay cases).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.evalmetrics import (
    auc_from_census,
    score_census,
)
from etl_pipeline_last_fm_spark.operators.incremental import additive_step, sum_by
from etl_pipeline_last_fm_spark.operators.text import (
    postings_census,
    render_inverted_index,
    token_census,
    tv_from_census,
)
from etl_pipeline_last_fm_spark.streaming.state import read_state

#: Per-(source, token) counts; read drift with ``read_drift``.
census_step = additive_step(token_census, sum_by(["source", "tok"]))

#: Per-(term, doc_id) term frequencies; read with ``read_inverted_index``.
#: APPEND-ONLY corpus contract: a doc_id must appear in exactly one batch
#: (re-sending a document doubles its tf — deduplicating re-sent
#: documents is the producer's job). The sum merge keeps one row per key.
postings_step = additive_step(postings_census, sum_by(["term", "doc_id"]))


def read_drift(spark: SparkSession, state_path: str) -> DataFrame:
    """Pairwise TV distances over everything folded so far — equals
    `corpus_drift` of the concatenated batches."""
    return tv_from_census(read_state(spark, state_path))


def read_inverted_index(
    spark: SparkSession, state_path: str, min_df: int = 2
) -> DataFrame:
    """Render the index from the postings state at READ time — the SAME
    code path as text.inverted_index over the concatenated batches."""
    return render_inverted_index(read_state(spark, state_path), min_df)


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


def checksum_step(hash_col: str = "__h"):
    """Per-bucket checksums of pre-hashed rows, merged modulo ``CK_MOD``
    (append-only row contract, like the postings fold)."""
    return additive_step(
        lambda batch: checksum_state(batch, hash_col),
        lambda prev, new: prev.unionByName(new)
        .groupBy("bucket")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.expr(f"CAST(SUM(checksum) % {CK_MOD} AS BIGINT)").alias("checksum"),
        ),
    )


def auc_step(pos_type: str = "purchase"):
    """Score census (evalmetrics.score_census — the SAME code path as the
    batch roc_auc). Per-value label counts are additive and order-free,
    so any batching of the event stream yields the same state; the AUC is
    computed at READ time (``read_auc``)."""
    return additive_step(
        lambda batch: score_census(batch, pos_type), sum_by(["v"])
    )


def read_auc(spark: SparkSession, state_path: str) -> DataFrame:
    """Exact AUC over everything folded so far — equals the one-shot
    ``roc_auc`` of the concatenated batches (the maintenance identity)."""
    return auc_from_census(read_state(spark, state_path))
