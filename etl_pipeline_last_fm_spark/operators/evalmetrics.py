"""Model-evaluation metrics over scored / labeled rows — the eval half
of a training-data pipeline (score quality, calibration, label
agreement, trend significance, targeting lift).

The reference's DAG has no model-eval surface (its scope ends at marts,
dags/from_dds_to_dm_pg.py); this module extends the engine the same way
the dedup/ANN/text tiers do (SURVEY.md §2 extension scope). Every
statistic is emitted as EXACT integers (ppm ratios / raw pair counts)
with each division a final truncating ``div`` on decimal(38,0) mirrored
by the DuckDB oracle — the house rule: no float ever decides a
boundary, and negative-numerator divisions are routed through
ABS + sign (Spark's ``div`` truncates toward zero; a bare engine-side
``//`` on negatives would floor in DuckDB and mismatch).

Scale shapes:
- roc_auc: the rank_sum_test machinery verbatim — one corpus pass to
  the VALUE DIMENSION (distinct cents), one dim cumsum, one scalar agg.
  AUC with midrank tie handling IS the Mann–Whitney statistic scaled:
  AUC = U_pos / (n_pos·n_neg).
- calibration_bins: one corpus pass to k fixed-width score bins.
- cohens_kappa: one corpus pass to the 2×2 agreement table.
- mann_kendall: one corpus pass to the DAY DIMENSION, then the O(d²)
  sign pairs via a dim self-join (d = distinct days, calendar-bounded —
  never the corpus).
- lift_deciles: the round-8 two-phase rank device
  (value_ordered_row_number + exact_ntile_expr), so the corpus-sized
  decile cut needs NO unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

D38 = "decimal(38,0)"


def _cents(value_col: str):
    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round

    return half_up_round(F.col(value_col) * 100).cast("long")


def score_census(
    events: DataFrame,
    pos_type: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-distinct-score label census (v, n_pos_v, n_neg_v) — the
    ADDITIVE state behind ``roc_auc``. Censuses of disjoint batches
    merge by per-value count sum, order-free, so ROC AUC is
    continuously maintainable (streaming/drift.py's additive-fold
    recipe; the AUC itself is computed at READ time by
    ``auc_from_census``).

    Rows with a NULL score or NULL label are NOT observations and are
    excluded EXPLICITLY on both engines (round-9 hostile nulls sweep:
    left implicit, the engines' null propagation through the census
    diverged — Spark grouped the NULL score while the oracle's CASE
    dropped the label differently)."""
    events = events.where(
        F.col(value_col).isNotNull() & F.col(type_col).isNotNull()
    )
    labeled = events.select(
        (F.col(type_col) == pos_type).alias("__pos"),
        _cents(value_col).alias("v"),
    )
    return labeled.groupBy("v").agg(
        F.sum(F.col("__pos").cast("long")).alias("n_pos_v"),
        F.sum((~F.col("__pos")).cast("long")).alias("n_neg_v"),
    )


def auc_from_census(census: DataFrame) -> DataFrame:
    """Exact ROC AUC (ppm) from a score census — one dim cumsum + one
    scalar aggregate; never touches the corpus."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = census.select(
        "n_pos_v",
        "n_neg_v",
        (
            F.lit(2)
            * F.coalesce(
                F.sum(F.col("n_pos_v") + F.col("n_neg_v")).over(w), F.lit(0)
            )
            + F.col("n_pos_v") + F.col("n_neg_v") + F.lit(1)
        ).alias("__mr2"),
    )
    agged = ranked.agg(
        F.sum("n_pos_v").alias("__n_pos"),
        F.sum("n_neg_v").alias("__n_neg"),
        # cast BEFORE the multiply: n_pos_v·__mr2 with __mr2 ≈ 2n wraps
        # past 2^63 at multi-billion-row scale with heavy ties if the
        # product is computed in BIGINT first (ADVICE r8; the oracle
        # multiplies in HUGEINT).
        F.sum(F.col("n_pos_v").cast(D38) * F.col("__mr2")).alias("__r2p"),
    )
    return agged.select(
        F.col("__n_pos").cast("long").alias("n_pos"),
        F.col("__n_neg").cast("long").alias("n_neg"),
        # one-class input: AUC undefined — explicit NULL on BOTH engines
        # (a bare division would be NULL in Spark's non-ANSI div but an
        # ERROR under DuckDB's //).
        F.expr(
            "CAST(CASE WHEN __n_pos = 0 OR __n_neg = 0 THEN NULL ELSE"
            " (__r2p - CAST(__n_pos AS DECIMAL(38,0)) * (__n_pos + 1))"
            " * 1000000"
            " div (2 * CAST(__n_pos AS DECIMAL(38,0)) * __n_neg)"
            " END AS BIGINT)"
        ).alias("auc_ppm"),
    )


def roc_auc(
    events: DataFrame,
    pos_type: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Exact ROC AUC (ppm) of ``value`` as a score for ``event_type ==
    pos_type``, ties at midranks — the probability a random positive
    outscores a random negative, with ties counting half. One row:
    (n_pos, n_neg, auc_ppm), auc_ppm = (R2⁺ − n⁺(n⁺+1)) · 10⁶ div
    (2·n⁺·n⁻) where R2⁺ is the DOUBLED ascending-rank sum of positives
    (doubling keeps midranks integral; rank_sum_test's device).
    Composed as census → read-time scoring so the streaming twin folds
    the SAME census code path."""
    return auc_from_census(
        score_census(events, pos_type, type_col, value_col)
    )


def _bin_census(census: DataFrame, k: int) -> DataFrame:
    """Attach the k-fixed-width bin id to a score census (the shared
    step of the calibration family): per census row,
    (bin, __cnt, __np, __sv = v·cnt as decimal, __vmax). The vmax
    scalar and the binning both read the CENSUS (value-dim-sized), so a
    localCheckpoint-ed census costs one corpus pass total.

    Requires score cents >= 0: the calibration family normalizes over
    [0, max] (mean_score_ppm divides by vmax), so a negative score has
    no well-defined bin or normalized mean. Negative input FAILS LOUDLY
    via raise_error instead of silently diverging from the oracle's
    flooring ``//`` (ADVICE r8; contrast lift_deciles, whose rank
    device is sign-safe since the round-9 range-shift fix)."""
    scal = census.agg(
        F.max("v").alias("__vmax"), F.min("v").alias("__vmin")
    )
    return census.crossJoin(F.broadcast(scal)).select(
        F.expr(
            "CASE WHEN __vmin < 0 THEN"
            " raise_error('calibration family requires score cents >= 0"
            " (fixed-width bins normalize over [0, max]); got a negative"
            " score')"
            f" ELSE CAST(v AS DECIMAL(38,0)) * {k} div (__vmax + 1) END"
        )
        .cast("long")
        .alias("bin"),
        (F.col("n_pos_v") + F.col("n_neg_v")).alias("__cnt"),
        F.col("n_pos_v").alias("__np"),
        (
            F.col("v").cast(D38) * (F.col("n_pos_v") + F.col("n_neg_v"))
        ).alias("__sv"),
        "__vmax",
    )


def calibration_bins(
    events: DataFrame,
    pos_type: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
    k: int = 10,
) -> DataFrame:
    """Reliability diagram: k fixed-width bins over the score range
    [0, max], per bin the exact mean normalized score and the empirical
    positive rate (both truncated ppm). A calibrated score has
    mean_score_ppm ≈ pos_rate_ppm per bin. Bin id = cents·k div
    (max_cents+1) ∈ [0, k) — monotone, exact, and identical on both
    engines. Output: (bin, n, n_pos, mean_score_ppm, pos_rate_ppm).

    Scale shape (round-8 close): ONE corpus pass — the bin id depends
    only on the score value, so the whole family derives from
    ``score_census`` (checkpointed: it feeds the vmax scalar AND the
    binning; value-dim-sized, so the materialization is tiny). It also
    means the reliability diagram is continuously maintainable from the
    streaming AUC census state.

    Requires score cents >= 0 (fails loudly otherwise — _bin_census)."""
    census = score_census(
        events, pos_type, type_col, value_col
    ).localCheckpoint()
    binned = _bin_census(census, k)
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("__cnt").cast("long").alias("n"),
            F.sum("__np").cast("long").alias("n_pos"),
            # vmax = 0 (all-zero scores): the normalized mean is
            # undefined — explicit NULL on both engines.
            F.expr(
                "CAST(CASE WHEN MAX(__vmax) = 0 THEN NULL ELSE"
                " SUM(__sv) * 1000000"
                " div (SUM(CAST(__cnt AS DECIMAL(38,0)))"
                " * MAX(CAST(__vmax AS DECIMAL(38,0)))) END AS BIGINT)"
            ).alias("mean_score_ppm"),
            F.expr(
                "CAST(SUM(CAST(__np AS DECIMAL(38,0))) * 1000000"
                " div SUM(CAST(__cnt AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("pos_rate_ppm"),
        )
        .orderBy("bin")
    )


def cohens_kappa(
    rated: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa between two BOOLEAN rater columns — chance-corrected
    agreement for double-labeled data (two quality filters, two
    annotators, model vs human). One row:
    (n, n_agree, po_ppm, pe_ppm, kappa_ppm) with
    kappa = (p_o − p_e)/(1 − p_e) emitted exactly as
    (agree·n − a1·b1 − a0·b0)·10⁶ div (n² − a1·b1 − a0·b0); the
    numerator can be negative (worse-than-chance), so the division runs
    on ABS with the sign re-applied — Spark ``div`` truncates toward
    zero while DuckDB ``//`` floors, and only ABS+sign makes both read
    the same. NULL kappa when p_e = 1 (degenerate: both raters
    constant and equal — chance correction is undefined)."""
    a = F.col(rater_a_col).cast("boolean")
    b = F.col(rater_b_col).cast("boolean")
    agged = rated.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((a == b).cast("long")).alias("__agree"),
        F.sum(a.cast("long")).alias("__a1"),
        F.sum(b.cast("long")).alias("__b1"),
    )
    return agged.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__agree").cast("long").alias("n_agree"),
        # n = 0 (empty input): every ratio undefined — explicit NULLs so
        # the DuckDB twin (whose // raises on zero) stays runnable.
        F.expr(
            "CAST(CASE WHEN __n = 0 THEN NULL ELSE"
            " CAST(__agree AS DECIMAL(38,0)) * 1000000 div __n"
            " END AS BIGINT)"
        ).alias("po_ppm"),
        F.expr(
            "CAST(CASE WHEN __n = 0 THEN NULL ELSE"
            " (CAST(__a1 AS DECIMAL(38,0)) * __b1"
            " + CAST(__n - __a1 AS DECIMAL(38,0)) * (__n - __b1))"
            " * 1000000 div (CAST(__n AS DECIMAL(38,0)) * __n)"
            " END AS BIGINT)"
        ).alias("pe_ppm"),
        F.expr(
            "CAST(CASE WHEN CAST(__n AS DECIMAL(38,0)) * __n"
            "   - CAST(__a1 AS DECIMAL(38,0)) * __b1"
            "   - CAST(__n - __a1 AS DECIMAL(38,0)) * (__n - __b1) = 0"
            " THEN NULL ELSE"
            "   CASE WHEN CAST(__agree AS DECIMAL(38,0)) * __n"
            "     - CAST(__a1 AS DECIMAL(38,0)) * __b1"
            "     - CAST(__n - __a1 AS DECIMAL(38,0)) * (__n - __b1) < 0"
            "   THEN -(ABS(CAST(__agree AS DECIMAL(38,0)) * __n"
            "     - CAST(__a1 AS DECIMAL(38,0)) * __b1"
            "     - CAST(__n - __a1 AS DECIMAL(38,0)) * (__n - __b1))"
            "     * 1000000"
            "     div (CAST(__n AS DECIMAL(38,0)) * __n"
            "       - CAST(__a1 AS DECIMAL(38,0)) * __b1"
            "       - CAST(__n - __a1 AS DECIMAL(38,0)) * (__n - __b1)))"
            "   ELSE (CAST(__agree AS DECIMAL(38,0)) * __n"
            "     - CAST(__a1 AS DECIMAL(38,0)) * __b1"
            "     - CAST(__n - __a1 AS DECIMAL(38,0)) * (__n - __b1))"
            "     * 1000000"
            "     div (CAST(__n AS DECIMAL(38,0)) * __n"
            "       - CAST(__a1 AS DECIMAL(38,0)) * __b1"
            "       - CAST(__n - __a1 AS DECIMAL(38,0)) * (__n - __b1))"
            "   END END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


def mann_kendall(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Mann–Kendall trend test on the DAILY total of ``value`` —
    S = Σ_{i<j} sgn(xⱼ − xᵢ) over day-ordered daily sums, with Kendall's
    tau-a (ppm, truncated toward zero via ABS+sign) and the tie-corrected
    18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) as an exact integer (the
    normal z needs a square root — derivable downstream; the exact
    integers are what cross-engine grading pins). Output one row:
    (n_days, n_concordant, n_discordant, s_stat, tau_a_ppm, var_s_x18).

    Scale shape: one corpus pass to the DAY DIMENSION, then the sign
    pairs via a d² dim self-join (d calendar-bounded: 10 years ≈ 3.7k
    days ≈ 6.7M pairs — trivial beside one corpus scan; never the
    corpus). The tie term reuses the same daily table grouped by value."""
    from etl_pipeline_last_fm_spark.functions.scalar import ts_us

    # integer `div` for the day index (ADVICE r8: float `/` then cast
    # left the one grading boundary in this module resting on
    # float-rounding analysis) — the recency_days pattern. Post-epoch
    # timestamps assumed, as everywhere ts_us buckets days (truncating
    # div == flooring // only for non-negative epoch-µs).
    daily = (
        events.select(
            ts_us(F.col(ts_col)).alias("__us"),
            _cents(value_col).alias("__c"),
        )
        .select(F.expr("__us div 86400000000").alias("__d"), "__c")
        .groupBy("__d")
        .agg(F.sum("__c").alias("__rev"))
        # consumed three times (two self-join sides, tie groups) — the
        # Q15 rule; the table is day-dim-sized, so this is tiny.
        .localCheckpoint()
    )
    lo = daily.select(
        F.col("__d").alias("__di"), F.col("__rev").alias("__ri")
    )
    hi = daily.select(
        F.col("__d").alias("__dj"), F.col("__rev").alias("__rj")
    )
    # both sides are the checkpointed day-dim table (calendar-bounded);
    # broadcasting one side keeps the d² pair generation shuffle-free.
    # COALESCE: a single-day input has ZERO pairs (empty join), and an
    # aggregate over no rows sums to NULL — the pair counts are
    # genuinely 0, on both engines.
    pairs = lo.join(F.broadcast(hi), F.col("__di") < F.col("__dj")).agg(
        F.coalesce(
            F.sum((F.col("__rj") > F.col("__ri")).cast("long")), F.lit(0)
        ).alias("__c"),
        F.coalesce(
            F.sum((F.col("__rj") < F.col("__ri")).cast("long")), F.lit(0)
        ).alias("__dc"),
    )
    ties = (
        daily.groupBy("__rev")
        .agg(F.count(F.lit(1)).alias("__t"))
        .agg(
            F.sum(
                (
                    F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
                ).cast(D38)
            ).alias("__tie_term"),
            F.sum("__t").cast("long").alias("__n"),
        )
    )
    return pairs.crossJoin(F.broadcast(ties)).select(
        F.col("__n").alias("n_days"),
        F.col("__c").cast("long").alias("n_concordant"),
        F.col("__dc").cast("long").alias("n_discordant"),
        (F.col("__c") - F.col("__dc")).cast("long").alias("s_stat"),
        F.expr(
            "CAST(CASE WHEN __n < 2 THEN NULL"
            " WHEN __c - __dc < 0"
            " THEN -(ABS(CAST(__c - __dc AS DECIMAL(38,0))) * 2000000"
            "   div (CAST(__n AS DECIMAL(38,0)) * (__n - 1)))"
            " ELSE CAST(__c - __dc AS DECIMAL(38,0)) * 2000000"
            "   div (CAST(__n AS DECIMAL(38,0)) * (__n - 1))"
            " END AS BIGINT)"
        ).alias("tau_a_ppm"),
        F.expr(
            "CAST(CAST(__n AS DECIMAL(38,0)) * (__n - 1) * (2 * __n + 5)"
            " - __tie_term AS BIGINT)"
        ).alias("var_s_x18"),
    )


def lift_deciles(
    events: DataFrame,
    pos_type: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
    tie_col: str = "event_id",
    k: int = 10,
) -> DataFrame:
    """Targeting lift table: rank every row by score descending (ties
    pinned by ``tie_col``), cut into k tiles with the round-8 two-phase
    rank device — the corpus-sized cut runs WITHOUT any unpartitioned
    window (value_ordered_row_number + exact_ntile_expr, the
    rfm_segments machinery on corpus rows) — and report each tile's
    exact positive-rate lift over the global base rate:
    lift_ppm = (n_pos · n_total · 10⁶) div (n · total_pos).
    Output: (decile 1..k, n, n_pos, lift_ppm) ordered by decile.

    Sign-safe: the rank device buckets by a range-shifted key since the
    round-9 fix, so negative scores (logprob-style) cut correctly —
    unlike the calibration family, which normalizes over [0, max] and
    requires non-negative scores by definition."""
    from etl_pipeline_last_fm_spark.operators.packing import (
        exact_ntile_expr,
        value_ordered_row_number,
    )

    # NULL score/label rows are not observations — excluded explicitly
    # on both engines (round-9 hostile nulls sweep).
    labeled = events.where(
        F.col(value_col).isNotNull() & F.col(type_col).isNotNull()
    ).select(
        F.col(tie_col).alias("__tie"),
        (F.col(type_col) == pos_type).alias("__pos"),
        _cents(value_col).alias("__v"),
    )
    # Round-8 close: the global row count rides OUT of the rank device
    # (computed on its bucket dim, total_col) and the positive total
    # comes from the k-row decile aggregate — the corpus scans exactly
    # twice (the device's max scalar + the ranked pass), never a third
    # time for totals.
    ranked = value_ordered_row_number(
        labeled, "__v", "__tie", ascending=False, out_col="__rn",
        total_col="__n_total",
    )
    tiled = ranked.select(
        exact_ntile_expr("__rn", "__n_total", k).alias("decile"),
        "__pos",
        "__n_total",
    )
    per_dec = (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__pos").cast("long")).alias("n_pos"),
            F.max("__n_total").alias("__n_total"),
        )
        # consumed twice (the totals scalar + the output); k rows.
        .localCheckpoint()
    )
    totals = per_dec.agg(F.sum("n_pos").alias("__pos_total"))
    return (
        per_dec.crossJoin(F.broadcast(totals))
        .select(
            "decile",
            "n",
            "n_pos",
            # zero positives in the corpus: base rate undefined — NULL.
            F.expr(
                "CAST(CASE WHEN __pos_total = 0 THEN NULL ELSE"
                " CAST(n_pos AS DECIMAL(38,0)) * __n_total * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * __pos_total)"
                " END AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("decile")
    )


def calibration_ece(
    events: DataFrame,
    pos_type: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
    k: int = 10,
) -> DataFrame:
    """Expected / maximum calibration error over the same k fixed-width
    bins as ``calibration_bins`` — the single-number summary of the
    reliability diagram. Per bin the gap |empirical rate − mean
    normalized score| is the exact rational |pos_b·vmax − Σv_b| /
    (n_b·vmax); weighting by n_b/n makes ECE's denominator common:

        ece_ppm = (Σ_b |pos_b·vmax − Σv_b|) · 10⁶ div (n·vmax)

    — a single exact integer division. MCE is defined here as the max
    of the per-bin TRUNCATED ppm gaps (truncation before max, mirrored
    by the oracle, so the cross-engine value is exact). One row:
    (n, ece_ppm, mce_ppm). ONE corpus pass — derived from the
    checkpointed ``score_census`` like the rest of the calibration
    family.

    Requires score cents >= 0 (fails loudly otherwise — _bin_census)."""
    census = score_census(
        events, pos_type, type_col, value_col
    ).localCheckpoint()
    per_bin = _bin_census(census, k).groupBy("bin").agg(
        F.sum("__cnt").alias("__n_b"),
        F.sum("__np").alias("__pos_b"),
        F.sum("__sv").alias("__sv_b"),
        F.max("__vmax").alias("__vmax"),
    )
    return per_bin.agg(
        F.sum("__n_b").cast("long").alias("n"),
        # vmax = 0 (all-zero scores): both gaps undefined — NULL.
        F.expr(
            "CAST(CASE WHEN MAX(__vmax) = 0 THEN NULL ELSE"
            " SUM(ABS(CAST(__pos_b AS DECIMAL(38,0)) * __vmax"
            " - __sv_b)) * 1000000"
            " div (SUM(CAST(__n_b AS DECIMAL(38,0)))"
            " * MAX(CAST(__vmax AS DECIMAL(38,0)))) END AS BIGINT)"
        ).alias("ece_ppm"),
        # the guard must sit INSIDE the MAX: the per-row div evaluates
        # during aggregation, before any outer CASE could short-circuit
        # (ANSI sessions raise DIVIDE_BY_ZERO otherwise).
        F.expr(
            "CAST(MAX(CASE WHEN __vmax = 0 THEN NULL ELSE"
            " ABS(CAST(__pos_b AS DECIMAL(38,0)) * __vmax"
            " - __sv_b) * 1000000"
            " div (CAST(__n_b AS DECIMAL(38,0)) * __vmax) END) AS BIGINT)"
        ).alias("mce_ppm"),
    )


def pr_curve(
    events: DataFrame,
    pos_type: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Precision-recall curve over every distinct score threshold
    (predict positive when score >= v): per distinct cents value,
    (threshold_cents, n_pred, n_tp, precision_ppm, recall_ppm), both
    ratios exact truncated ppm. Reuses the roc_auc score census: one
    corpus pass to the VALUE DIMENSION, then a descending dim cumsum —
    the curve is dim-sized, never row-sized. Descending threshold order
    makes n_pred/recall monotone non-decreasing down the output.

    The census is consumed twice (the __total_pos aggregate and the
    cumsum projection), so it is localCheckpoint-ed like the rest of
    the calibration family — the Q15 rule; without it the events corpus
    would be scanned twice (ADVICE r8)."""
    census = score_census(
        events, pos_type, type_col, value_col
    ).localCheckpoint()
    w = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = census.agg(
        F.sum("n_pos_v").alias("__total_pos")
    )
    cum = census.select(
        F.col("v").alias("threshold_cents"),
        F.sum(F.col("n_pos_v") + F.col("n_neg_v")).over(w).alias("n_pred"),
        F.sum("n_pos_v").over(w).alias("n_tp"),
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "threshold_cents",
            F.col("n_pred").cast("long").alias("n_pred"),
            F.col("n_tp").cast("long").alias("n_tp"),
            F.expr(
                "CAST(CAST(n_tp AS DECIMAL(38,0)) * 1000000 div n_pred"
                " AS BIGINT)"
            ).alias("precision_ppm"),
            # zero positives in the corpus: recall undefined — NULL
            # (lazy projection CASE, ANSI-safe).
            F.expr(
                "CAST(CASE WHEN __total_pos = 0 THEN NULL ELSE"
                " CAST(n_tp AS DECIMAL(38,0)) * 1000000"
                " div __total_pos END AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy(F.col("threshold_cents").desc())
    )


def isotonic_calibration(
    events: DataFrame,
    pos_type: str = "purchase",
    type_col: str = "event_type",
    value_col: str = "value",
    k: int = 20,
) -> DataFrame:
    """Isotonic calibration map via Pool-Adjacent-Violators over the
    k-bin score table: the non-decreasing fit of the per-bin positive
    rates under n_b weights — the classic monotone recalibration next
    to ``calibration_bins``' diagnosis and ``calibration_ece``'s
    summary. Output per occupied bin, ascending:
    (bin, n, n_pos, raw_rate_ppm, iso_rate_ppm) with iso_rate_ppm
    non-decreasing.

    Exactness: PAV runs as a single-row sequential fold over the BIN
    DIMENSION (the km_survival device): the accumulator is the stack of
    pooled blocks, each step appends the next bin then cascades merges
    while rate(top) <= rate(prev) — the comparison an exact
    decimal(38,0) cross-multiply, the cascade a padded k-step inner
    fold (cascade length <= stack size <= k, so the padding is tight;
    total work O(k^2) micro-ops on ONE row — trivial at any calibration
    width). The pooled rates are emitted as truncated ppm.

    The DuckDB oracle replays PAV through the INDEPENDENT minimax
    characterization iso(k) = max_{i<=k} min_{j>=k} pooled(i, j)
    (classical theorem; equality property-tested against the stack
    algorithm), with every min/max an exact NOT-EXISTS cross-multiply —
    two different algorithms, one answer, the triangle_count oracle
    pattern.

    Scale shape: ONE corpus pass (the checkpointed ``score_census``,
    like the rest of the calibration family), then everything runs on a
    <= k-row table. k is a calibration-table width (tens to hundreds),
    never data-sized.

    Requires score cents >= 0 (fails loudly otherwise — _bin_census)."""
    census = score_census(
        events, pos_type, type_col, value_col
    ).localCheckpoint()
    per_bin = (
        _bin_census(census, k)
        .groupBy("bin")
        .agg(
            F.sum("__cnt").cast("long").alias("n"),
            F.sum("__np").cast("long").alias("n_pos"),
        )
        # consumed twice (the PAV fold + the per-bin join-back); k rows.
        .localCheckpoint()
    )
    st_type = "array<struct<lo:long,hi:long,n:long,p:long>>"

    def _merged_top2(st):
        a = F.try_element_at(st, F.lit(-2))
        b = F.try_element_at(st, F.lit(-1))
        return F.struct(
            a["lo"].alias("lo"),
            b["hi"].alias("hi"),
            (a["n"] + b["n"]).alias("n"),
            (a["p"] + b["p"]).alias("p"),
        )

    def _violates(st):
        a = F.try_element_at(st, F.lit(-2))
        b = F.try_element_at(st, F.lit(-1))
        return (F.size(st) >= 2) & (
            b["p"].cast(D38) * a["n"] <= a["p"].cast(D38) * b["n"]
        )

    def _cascade(st):
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(k)),
            st,
            lambda acc, _: F.when(
                _violates(acc),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 2),
                    F.array(_merged_top2(acc)),
                ),
            ).otherwise(acc),
        )

    blocks_arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("bin").alias("lo"),
                F.col("bin").alias("hi"),
                F.col("n").alias("n"),
                F.col("n_pos").alias("p"),
            )
        )
    )
    folded = per_bin.agg(blocks_arr.alias("__blocks")).select(
        F.aggregate(
            "__blocks",
            F.array().cast(st_type),
            lambda acc, e: _cascade(F.concat(acc, F.array(e))),
        ).alias("__stack")
    )
    pooled = folded.select(F.explode("__stack").alias("b")).select(
        F.explode(F.sequence(F.col("b.lo"), F.col("b.hi"))).alias("bin"),
        F.col("b.n").alias("__pool_n"),
        F.col("b.p").alias("__pool_p"),
    )
    return (
        per_bin.join(F.broadcast(pooled), "bin")
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr(
                "CAST(CAST(n_pos AS DECIMAL(38,0)) * 1000000 div n"
                " AS BIGINT)"
            ).alias("raw_rate_ppm"),
            F.expr(
                "CAST(CAST(__pool_p AS DECIMAL(38,0)) * 1000000"
                " div __pool_n AS BIGINT)"
            ).alias("iso_rate_ppm"),
        )
        .orderBy("bin")
    )
