"""Round-8 additions: the model-evaluation metrics wave. Ordering lives
in __spark_entry__.py; this module only implements.

The reference's DAG ends at marts — it has no eval surface — so this
wave extends the engine the way the dedup/ANN/text tiers do
(operators/evalmetrics.py): score quality (exact ROC AUC via the
Mann–Whitney midrank machinery), calibration (reliability bins), label
agreement (Cohen's kappa between two quality raters), trend
significance (Mann–Kendall over the day dim with tie-corrected
variance), and targeting lift (deciles cut by the round-8 two-phase
rank device — no unpartitioned window over corpus rows). Every value is
an exact integer (ppm / raw counts); every division truncates toward
zero on BOTH engines (ABS+sign where numerators can go negative).

Kept to 9 entries deliberately (VERDICT r7 item 7: new waves ≤ the
9-slot backfill headroom so the round-9 rotation closes the book in
one window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.sources.tables import load_table

#: Kappa raters: two independent document-quality filters — a length
#: gate and a token-count gate. Deliberately correlated-but-different
#: signals, the realistic double-filter agreement question.
_RATER_A_LEN = 200
_RATER_B_TOKS = 40


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (ppm) of the event value as a purchase score —
    rank_sum_test's midrank device scaled to U/(n⁺·n⁻)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import roc_auc

    return roc_auc(load_table(spark, sf_dir, "events"))


def q_streaming_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``roc_auc``: the per-value label census is an
    ADDITIVE state (order-free, unlike the ordered-fold IVM tier), so it
    rides the drift/postings/checksum census-fold recipe under the fold
    driver's replay guard; AUC computed at read time. Oracle: the
    one-shot roc_auc SQL — the maintenance identity."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        auc_from_census,
    )
    from etl_pipeline_last_fm_spark.registry.round7 import (
        _run_time_sliced_stream,
    )
    from etl_pipeline_last_fm_spark.streaming.drift import auc_step

    return _run_time_sliced_stream(
        spark, sf_dir, auc_step(), auc_from_census
    )


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the same score: 10 fixed-width bins, exact
    mean normalized score vs empirical positive rate per bin."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_bins,
    )

    return calibration_bins(load_table(spark, sf_dir, "events"))


def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / maximum calibration error — the one-number summary of
    q_calibration_bins' reliability diagram, with ECE's common
    denominator making it a single exact integer division."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_ece,
    )

    return calibration_ece(load_table(spark, sf_dir, "events"))


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve over every distinct score threshold —
    the roc_auc score census re-read through a descending dim cumsum."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import pr_curve

    return pr_curve(load_table(spark, sf_dir, "events"))


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration map over the 20-bin score table —
    the monotone recalibration completing the calibration suite; the
    oracle replays it through the independent minimax theorem."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        isotonic_calibration,
    )

    return isotonic_calibration(load_table(spark, sf_dir, "events"))


def q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document-quality raters (length ≥ 200
    chars vs token count ≥ 40) — chance-corrected filter agreement."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import cohens_kappa

    docs = load_table(spark, sf_dir, "documents").select(
        (F.length(F.col("text")) >= _RATER_A_LEN).alias("rater_a"),
        (
            F.size(F.split(F.trim(F.col("text")), " ")) >= _RATER_B_TOKS
        ).alias("rater_b"),
    )
    return cohens_kappa(docs, "rater_a", "rater_b")


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on daily event revenue: exact S, tau-a
    ppm, and tie-corrected 18·Var(S) over the day dimension."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import mann_kendall

    return mann_kendall(load_table(spark, sf_dir, "events"))


def q_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeting lift by score decile — the corpus-sized ntile cut runs
    through value_ordered_row_number + exact_ntile_expr (no
    unpartitioned window over event rows)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import lift_deciles

    return lift_deciles(load_table(spark, sf_dir, "events"))


QUERIES = {
    "roc_auc": q_roc_auc,
    "streaming_roc_auc": q_streaming_roc_auc,
    "calibration_bins": q_calibration_bins,
    "calibration_ece": q_calibration_ece,
    "pr_curve": q_pr_curve,
    "isotonic_calibration": q_isotonic_calibration,
    "label_agreement": q_label_agreement,
    "mann_kendall": q_mann_kendall,
    "lift_deciles": q_lift_deciles,
}


def oracles() -> dict[str, str]:
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_bins_oracle_sql,
        calibration_ece_oracle_sql,
        isotonic_calibration_oracle_sql,
        cohens_kappa_oracle_sql,
        lift_deciles_oracle_sql,
        mann_kendall_oracle_sql,
        pr_curve_oracle_sql,
        roc_auc_oracle_sql,
    )

    return {
        "roc_auc": roc_auc_oracle_sql(),
        # the one-shot AUC IS the oracle for its streaming twin
        # (additive-census maintenance identity).
        "streaming_roc_auc": roc_auc_oracle_sql(),
        "calibration_bins": calibration_bins_oracle_sql(),
        "calibration_ece": calibration_ece_oracle_sql(),
        "pr_curve": pr_curve_oracle_sql(),
        "isotonic_calibration": isotonic_calibration_oracle_sql(),
        "label_agreement": cohens_kappa_oracle_sql(
            f"length(text) >= {_RATER_A_LEN}",
            f"len(string_split(trim(text), ' ')) >= {_RATER_B_TOKS}",
        ),
        "mann_kendall": mann_kendall_oracle_sql(),
        "lift_deciles": lift_deciles_oracle_sql(),
    }
