"""Strict-sequence funnel semantics: order matters, not mere existence."""

from __future__ import annotations

import datetime as dt

from etl_pipeline_last_fm_spark.operators.funnel import funnel_stages


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 0, 0, s), u, t) for i, (u, s, t) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string",
    )


def test_out_of_order_stages_do_not_count(spark):
    ev = _ev(
        spark,
        [
            # user 1: purchase BEFORE view/click -> depth stops at 2
            (1, 0, "purchase"),
            (1, 10, "view"),
            (1, 20, "click"),
            # user 2: the full ordered funnel
            (2, 0, "view"),
            (2, 10, "click"),
            (2, 20, "purchase"),
            # user 3: click before view -> only stage 1
            (3, 0, "click"),
            (3, 10, "view"),
            # user 4: never views
            (4, 0, "signup"),
        ],
    )
    out = {r["user_id"]: (r["stage_depth"], r["stage"]) for r in funnel_stages(ev).collect()}
    assert out == {
        1: (2, "view_click"),
        2: (3, "view_click_purchase"),
        3: (1, "view"),
        4: (0, "none"),
    }


def test_equal_timestamp_is_not_after(spark):
    # click at the exact same instant as the first view: strictly-after
    # semantics exclude it.
    ev = _ev(spark, [(1, 5, "view"), (1, 5, "click")])
    out = funnel_stages(ev).collect()
    assert out[0]["stage_depth"] == 1


def test_single_exchange_plan(spark, sf_dir):
    """All three stage windows must share one user_id Exchange — the funnel
    is a single shuffle of the event log."""
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = funnel_stages(ev)._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan  # windows share one; distinct adds at most one
