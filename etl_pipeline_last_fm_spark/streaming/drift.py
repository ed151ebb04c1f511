"""Additive census states: the per-bucket table checksum and the ROC AUC
score census.

Each state here is a census of its batch that merges with earlier
censuses by a per-key sum, order-free, so a stream maintains it with one
make + merge step under streaming/state.py's replay-guarded fold driver
(``auc_step``).
The expensive read side (the AUC's dim cumsum) runs when the state is
READ, never inside the fold.

With the guard and the algebra, each presented state equals the batch
operator over everything ever seen (tested, incl. replay cases).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.evalmetrics import score_census
from etl_pipeline_last_fm_spark.operators.incremental import additive_step, sum_by


CK_MOD = 2_305_843_009_213_693_952  # 2^61


def checksum_state(batch_df: DataFrame) -> DataFrame:
    """Per-bucket (n_rows, checksum) over pre-hashed rows — the additive
    state behind the graded q_table_checksum. Modular addition is
    associative and commutative, so disjoint batches fold in any order."""
    return (
        batch_df.groupBy(F.pmod(F.col("__h"), F.lit(64)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                f"CAST(SUM(CAST(__h AS DECIMAL(38,0))) % {CK_MOD} AS BIGINT)"
            ).alias("checksum"),
        )
    )


def auc_step():
    """Score census (evalmetrics.score_census — the SAME code path as the
    batch roc_auc). Per-value label counts are additive and order-free,
    so any batching of the event stream yields the same state; the AUC is
    computed at READ time (``evalmetrics.auc_from_census``)."""
    return additive_step(
        score_census, sum_by(["v"])
    )
