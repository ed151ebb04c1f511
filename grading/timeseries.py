"""Time-series and streaming queries: sessions, as-of and range joins,
event-time windows, gap filling, funnels, event patterns, the ordered folds
(EMA, CUSUM, Holt, TWAP, attribution, skyline) with their batch-fold and
streaming twins, incremental marts and joins, and table checksums. Each is
declared once, with its DuckDB oracle.

A fold's batch and streaming twins share the one-shot query's oracle: the
maintenance identity is the claim under test."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_pipeline_last_fm_spark.functions.scalar import (
    cents,
    half_up_round,
    portable_hash60,
    ts_us,
)
from etl_pipeline_last_fm_spark.operators import timeseries as ts_ops
from etl_pipeline_last_fm_spark.operators import timewindow as tw_ops
from etl_pipeline_last_fm_spark.operators.asof import asof_join, time_range_join
from etl_pipeline_last_fm_spark.operators.attribution import (
    ATTRIBUTION_PARTS,
    attribution_step,
    decay_attribution_fold_batch,
    last_touch_attribution,
    time_decay_attribution,
)
from etl_pipeline_last_fm_spark.operators.funnel import funnel_stages
from etl_pipeline_last_fm_spark.operators.incremental import (
    additive_state,
    mart_step,
    merge_states,
    present,
)
from etl_pipeline_last_fm_spark.operators.intervals import interval_concurrency
from etl_pipeline_last_fm_spark.operators.patterns import (
    DEFAULT_ALPHABET,
    match_event_pattern,
    match_event_pattern_measures,
)
from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
from etl_pipeline_last_fm_spark.operators.segments import (
    present_twap_state,
    time_weighted_avg,
    twap_fold_batch,
)
from etl_pipeline_last_fm_spark.operators.sessions import sessionize
from etl_pipeline_last_fm_spark.operators.skyline import skyline_2d, skyline_step
from etl_pipeline_last_fm_spark.operators.timeseries import (
    cusum_alarms,
    cusum_fold_batch,
    durbin_watson,
    ema_fold_batch,
    ema_halflife,
    holt_fold_batch,
    holt_linear,
    present_cusum_state,
    present_ema_state,
    present_holt_state,
    trend_fit,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table
from etl_pipeline_last_fm_spark.streaming.drift import checksum_state, CK_MOD
from etl_pipeline_last_fm_spark.streaming.ivm import JOIN_PARTS, join_step, side_tagged
from etl_pipeline_last_fm_spark.streaming.state import maintain, read_state

from grading.spec import oracle, portable_hash60_sql
from grading.warehouse import _D_1996, _D_1997, _rev4_col, _US_1996, _US_1997


def asof_join_oracle_sql(
    left_type: str, right_type: str, tolerance_us: int | None = None
) -> str:
    """DuckDB twin of the events-table as-of query: native ASOF JOIN (an
    independent implementation — binary-search per probe — which makes it a
    strong oracle for the window-LOCF plan). Right side pre-aggregated to
    unique (user_id, ts) exactly as the Spark entry does."""
    tol = f"AND us - rus <= {tolerance_us}" if tolerance_us is not None else ""
    # ASOF JOIN can't also carry a tolerance predicate portably; apply it as
    # a post-filter that nulls the match (LEFT semantics preserved).
    return f"""
        WITH l AS (
            SELECT event_id, user_id, epoch_us(ts) AS us, value
            FROM events WHERE event_type = '{left_type}'
        ),
        r AS (
            SELECT user_id, epoch_us(ts) AS us,
                   FLOOR(MAX(value) * 100.0 + 0.5) / 100.0 AS rv
            FROM events WHERE event_type = '{right_type}'
            GROUP BY user_id, epoch_us(ts)
        ),
        m AS (
            SELECT l.event_id, l.user_id, l.us, r.rv, r.us AS rus
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
        )
        SELECT event_id, user_id, us AS click_us,
               CASE WHEN rus IS NOT NULL {tol} THEN rv END AS matched_rv,
               CASE WHEN rus IS NOT NULL {tol} THEN rus END AS matched_ts_us
        FROM m
    """


def time_range_join_oracle_sql(a_type: str, b_type: str, max_gap_us: int) -> str:
    """DuckDB twin of the events-table range-join query: the plain BETWEEN
    theta-join (fine at oracle SF; the Spark side is the bucketed form)."""
    return f"""
        WITH a AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
                   WHERE event_type = '{a_type}'),
             b AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
                   WHERE event_type = '{b_type}')
        SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
               b.us - a.us AS gap_us
        FROM a JOIN b ON a.user_id = b.user_id
                      AND b.us - a.us BETWEEN 0 AND {max_gap_us}
    """


def time_decay_attribution_oracle_sql(
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    table: str = "events",
) -> str:
    """DuckDB twin: identical pair build, clamped power-of-two weights,
    truncating per-touch division (BIGINT // HUGEINT window sum — cast
    back to BIGINT at the boundary, house rule)."""
    in_list = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
        WITH conv AS (
            SELECT user_id, event_id AS cid, epoch_us(ts) AS cus,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
            FROM {table} WHERE event_type = '{conversion_type}'
        ), touch AS (
            SELECT user_id, event_type AS tt, epoch_us(ts) AS tus,
                   event_id AS ttb
            FROM {table} WHERE event_type IN ({in_list})
        ), pairs AS (
            SELECT c.user_id, c.cid, c.cents, t.tt,
                   CASE WHEN t.tus IS NOT NULL THEN CAST(
                       1 << CAST(6 - LEAST((c.cus - t.tus) // 86400000000, 6)
                                 AS INTEGER) AS BIGINT) END AS w
            FROM conv c LEFT JOIN touch t
              ON c.user_id = t.user_id
             AND (t.tus < c.cus OR (t.tus = c.cus AND t.ttb < c.cid))
             AND c.cus - t.tus <= {window_us}
        ), tot AS (
            SELECT *, SUM(w) OVER (PARTITION BY user_id, cid) AS tw
            FROM pairs
        )
        SELECT COALESCE(tt, 'none') AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
               CAST(SUM(CASE WHEN w IS NULL THEN cents
                             ELSE CAST((cents * w) // tw AS BIGINT) END)
                    AS BIGINT) AS credited_cents
        FROM tot
        GROUP BY 1
    """


def last_touch_attribution_oracle_sql(
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    table: str = "events",
) -> str:
    """DuckDB twin: last_value(... IGNORE NULLS) over the identical
    frame, same in-window/else-'none' credit rule."""
    in_list = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
        WITH tagged AS (
            SELECT event_type,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                   epoch_us(ts) AS us,
                   last_value(
                       CASE WHEN event_type IN ({in_list})
                            THEN struct_pack(us := epoch_us(ts),
                                             t := event_type) END
                       IGNORE NULLS
                   ) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS lt
            FROM {table}
        )
        SELECT CASE WHEN lt IS NOT NULL AND us - lt.us <= {window_us}
                    THEN lt.t ELSE 'none' END AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_conversions,
               CAST(SUM(cents) AS BIGINT) AS attributed_cents
        FROM tagged
        WHERE event_type = '{conversion_type}'
        GROUP BY 1
    """


def funnel_stages_oracle_sql(
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    table: str = "events",
) -> str:
    """DuckDB twin: the same conditional-min cascade written as explicit
    per-user scalar steps (a deliberately different — join-per-stage —
    plan computing the same strict-sequence answer)."""
    s1, s2, s3 = stages
    return f"""
        WITH u1 AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = '{s1}' THEN epoch_us(ts) END) AS t1
            FROM {table} GROUP BY user_id
        ),
        u2 AS (
            SELECT u1.user_id, u1.t1,
                   MIN(CASE WHEN e.event_type = '{s2}' AND epoch_us(e.ts) > u1.t1
                            THEN epoch_us(e.ts) END) AS t2
            FROM u1 LEFT JOIN {table} e ON e.user_id = u1.user_id
            GROUP BY u1.user_id, u1.t1
        ),
        u3 AS (
            SELECT u2.user_id, u2.t1, u2.t2,
                   MIN(CASE WHEN e.event_type = '{s3}' AND epoch_us(e.ts) > u2.t2
                            THEN epoch_us(e.ts) END) AS t3
            FROM u2 LEFT JOIN {table} e ON e.user_id = u2.user_id
            GROUP BY u2.user_id, u2.t1, u2.t2
        )
        SELECT user_id,
               CAST(CASE WHEN t3 IS NOT NULL THEN 3
                         WHEN t2 IS NOT NULL THEN 2
                         WHEN t1 IS NOT NULL THEN 1
                         ELSE 0 END AS INTEGER) AS stage_depth,
               CASE WHEN t3 IS NOT NULL THEN '{s1}_{s2}_{s3}'
                    WHEN t2 IS NOT NULL THEN '{s1}_{s2}'
                    WHEN t1 IS NOT NULL THEN '{s1}'
                    ELSE 'none' END AS stage
        FROM u3
    """


def interval_concurrency_oracle_sql(
    intervals_sql: str,
    key_cols: list[str],
    start_col: str = "session_start",
    end_col: str = "session_end",
) -> str:
    """DuckDB twin: the SAME sweep as ONE global window (fine on the
    oracle's single node) — an independent derivation of the identical
    running sums."""
    kc = ", ".join(key_cols)
    return f"""
        WITH iv AS ({intervals_sql}),
        pts AS (
            SELECT {kc}, epoch_us({start_col}) AS us, 0 AS kind, 1 AS delta
            FROM iv
            UNION ALL
            SELECT {kc}, epoch_us({end_col}) AS us, 1 AS kind, -1 AS delta
            FROM iv
        ),
        swept AS (
            SELECT *, SUM(delta) OVER (ORDER BY us, kind, {kc}
                                       ROWS UNBOUNDED PRECEDING) AS run
            FROM pts
        )
        SELECT {kc}, us AS start_us,
               CAST(MAX(run) OVER (PARTITION BY us) AS BIGINT)
                   AS n_concurrent
        FROM swept WHERE kind = 0
    """


def match_event_pattern_measures_oracle_sql(
    pattern: str, alphabet: dict[str, str] | None = None
) -> str:
    """DuckDB twin of ``match_event_pattern_measures``: the same
    gap/match prefix-sum position recovery over string_split_regex +
    regexp_extract_all, with the sorted struct list built by
    ``array_agg(... ORDER BY)`` and indexed 1-based."""
    alphabet = alphabet or DEFAULT_ALPHABET
    case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(alphabet.items())
    )
    pattern = pattern.replace("'", "''")
    return f"""
        WITH enc AS (
            SELECT user_id,
                   string_agg(CASE event_type {case} ELSE '?' END, ''
                              ORDER BY epoch_us(ts), event_id) AS s,
                   array_agg(struct_pack(us := epoch_us(ts),
                                         eid := event_id)
                             ORDER BY epoch_us(ts), event_id) AS arr
            FROM events
            GROUP BY user_id
        ), ex AS (
            SELECT user_id, arr,
                   regexp_extract_all(s, '{pattern}') AS ms,
                   list_transform(regexp_extract_all(s, '{pattern}'),
                                  x -> length(x)) AS lm,
                   list_transform(string_split_regex(s, '{pattern}'),
                                  x -> length(x)) AS lg
            FROM enc
        ), mrows AS (
            SELECT user_id, arr, lm, lg,
                   unnest(ms) AS match_str,
                   generate_subscripts(ms, 1) AS i
            FROM ex
        ), pos AS (
            SELECT user_id, arr, match_str, i,
                   1 + COALESCE(list_sum(lg[1:i]), 0)
                     + COALESCE(list_sum(lm[1:i-1]), 0) AS st
            FROM mrows
        )
        SELECT user_id,
               CAST(i AS BIGINT) AS match_no,
               match_str,
               arr[CAST(st AS BIGINT)].eid AS start_event_id,
               arr[CAST(st AS BIGINT)].us AS start_us,
               arr[CAST(st + length(match_str) - 1 AS BIGINT)].eid
                 AS end_event_id,
               arr[CAST(st + length(match_str) - 1 AS BIGINT)].us
                 AS end_us
        FROM pos
    """


def match_event_pattern_oracle_sql(
    pattern: str, alphabet: dict[str, str] | None = None
) -> str:
    """DuckDB twin over the events table: string_agg with the same total
    order, regexp_extract_all for the leftmost non-overlapping count."""
    alphabet = alphabet or DEFAULT_ALPHABET
    case = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(alphabet.items())
    )
    # DuckDB standard string literals do not process backslashes, so only
    # single quotes need escaping for a safe SQL literal.
    pattern = pattern.replace("'", "''")
    return f"""
        WITH enc AS (
            SELECT user_id,
                   string_agg(CASE event_type {case} ELSE '?' END, ''
                              ORDER BY epoch_us(ts), event_id) AS s
            FROM events
            GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(s) AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(s, '{pattern}')) AS BIGINT)
                 AS n_matches,
               COALESCE(regexp_extract(s, '{pattern}', 0), '') AS first_match
        FROM enc
    """


def time_weighted_avg_oracle_sql(table: str = "events") -> str:
    """DuckDB twin of ``time_weighted_avg``: same lead() segments, same
    HUGEINT cross-multiply and truncating division."""
    return f"""
        WITH seg AS (
            SELECT user_id,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                   epoch_us(ts) AS us,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                   ) AS next_us
            FROM {table}
            WHERE value IS NOT NULL AND user_id IS NOT NULL
              AND ts IS NOT NULL
        )
        SELECT user_id,
               CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
               CAST(SUM(next_us - us) AS BIGINT) AS span_us,
               CAST(SUM(CAST(cents AS HUGEINT) * (next_us - us))
                    // SUM(next_us - us) AS BIGINT) AS twap_cents
        FROM seg
        WHERE next_us IS NOT NULL
        GROUP BY 1
        HAVING SUM(next_us - us) > 0
    """


def sessionize_oracle_sql(gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60_000_000
    return f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM flagged
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events,
               CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    AS DOUBLE) / 100.0 AS session_value
        FROM numbered
        GROUP BY user_id, session_seq
    """


def skyline_2d_oracle_sql(
    points_sql: str, id_col: str, cost_col: str, gain_col: str
) -> str:
    """DuckDB twin: the dominance DEFINITION as a NOT EXISTS anti-join —
    quadratic, which is exactly why it is the oracle and not the plan."""
    return f"""
        WITH pts0 AS MATERIALIZED ({points_sql}),
        pts AS (
            SELECT * FROM pts0
            WHERE {cost_col} IS NOT NULL AND {gain_col} IS NOT NULL
        )
        SELECT {id_col}, {cost_col}, {gain_col}
        FROM pts p
        WHERE NOT EXISTS (
            SELECT 1 FROM pts q
            WHERE q.{cost_col} <= p.{cost_col}
              AND q.{gain_col} >= p.{gain_col}
              AND (q.{cost_col} < p.{cost_col}
                   OR q.{gain_col} > p.{gain_col})
        )
    """


def gapfill_daily_oracle_sql(
    obs_sql: str,
    key_col: str,
    date_col: str,
    zero_cols: list[str] | None = None,
    locf_cols: list[str] | None = None,
) -> str:
    """DuckDB twin: generate_series calendar per key, LEFT JOIN back, zero
    via COALESCE, LOCF via last_value(... IGNORE NULLS)."""
    zero_cols = zero_cols or []
    locf_cols = locf_cols or []
    zero_sel = "".join(
        f",\n               COALESCE(o.{c}, 0) AS {c}" for c in zero_cols
    )
    locf_sel = "".join(
        f""",\n               last_value(o.{c} IGNORE NULLS) OVER (
                   PARTITION BY cal.{key_col} ORDER BY cal.{date_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS {c}"""
        for c in locf_cols
    )
    return f"""
        WITH obs AS ({obs_sql}),
        bounds AS (
            SELECT {key_col}, min({date_col}) AS lo, max({date_col}) AS hi
            FROM obs GROUP BY {key_col}
        ),
        cal AS (
            SELECT {key_col},
                   unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS {date_col}
            FROM bounds
        )
        SELECT cal.{key_col}, cal.{date_col}{zero_sel}{locf_sel},
               (o.{date_col} IS NOT NULL) AS was_observed
        FROM cal LEFT JOIN obs o
          ON cal.{key_col} = o.{key_col} AND cal.{date_col} = o.{date_col}
    """


def ema_halflife_oracle_sql(table: str = "events") -> str:
    """DuckDB twin of ``ema_halflife``: the same zero-init ½-decay fold
    via list_reduce over the (ts, tiebreak)-ordered value list."""
    return f"""
        SELECT user_id,
               CAST(LEN(l) AS BIGINT) AS n_events,
               CAST(list_reduce(
                   list_prepend(CAST(0 AS BIGINT), l),
                   (acc, x) -> (acc + x) // 2
               ) AS BIGINT) AS ema_cents
        FROM (
            SELECT user_id,
                   list(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ORDER BY epoch_us(ts), event_id) AS l
            FROM {table}
            WHERE value IS NOT NULL AND user_id IS NOT NULL
              AND ts IS NOT NULL
            GROUP BY user_id
        )
    """


def trend_fit_oracle_sql(
    group_cols: list[str] | None = None, table: str = "events"
) -> str:
    """DuckDB twin: identical integer closed form in HUGEINT (whose //
    matches decimal div — house rule)."""
    gc = ", ".join(group_cols or ["event_type"])
    return f"""
        WITH s AS (
            SELECT {gc},
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(x) AS HUGEINT) AS sx,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   CAST(SUM(x * y) AS HUGEINT) AS sxy,
                   CAST(SUM(x * x) AS HUGEINT) AS sxx
            FROM (
                SELECT {gc},
                       epoch_us(ts) // 86400000000 AS x,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
                FROM {table}
            )
            GROUP BY {gc}
        )
        SELECT {gc},
               CAST(n AS BIGINT) AS n,
               CAST((n * sxy - sx * sy) * 1000000
                    // NULLIF(n * sxx - sx * sx, 0) AS BIGINT)
                   AS slope_ppm_cents_per_day
        FROM s
    """


def cusum_alarms_oracle_sql(
    drift_cents: int = 0,
    threshold_cents: int = 1000,
    table: str = "events",
) -> str:
    """DuckDB twin: identical closed-form windows; final value via
    arg_max on the row number."""
    return f"""
        WITH prefixed AS (
            SELECT user_id,
                   row_number() OVER w_row AS rn,
                   CAST(SUM(dev) OVER w_run AS BIGINT) AS p
            FROM (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         - {drift_cents} AS dev
                FROM {table}
                WHERE value IS NOT NULL AND user_id IS NOT NULL
                  AND ts IS NOT NULL
            )
            WINDOW w_row AS (PARTITION BY user_id ORDER BY us, event_id),
                   w_run AS (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING)
        ), stepped AS (
            -- window SUM(BIGINT) is HUGEINT in DuckDB: pin s back to
            -- BIGINT or every downstream aggregate renders as float.
            SELECT user_id, rn,
                   CAST(p - LEAST(CAST(0 AS BIGINT),
                             MIN(p) OVER (PARTITION BY user_id ORDER BY rn
                                          ROWS UNBOUNDED PRECEDING))
                        AS BIGINT) AS s
            FROM prefixed
        ), lagged AS (
            SELECT *, COALESCE(lag(s) OVER (PARTITION BY user_id
                                            ORDER BY rn), 0) AS prev
            FROM stepped
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(arg_max(s, rn) AS BIGINT) AS cusum_final,
               CAST(MAX(s) AS BIGINT) AS cusum_max,
               CAST(SUM(CASE WHEN s >= {threshold_cents}
                              AND prev < {threshold_cents}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
        FROM lagged
        GROUP BY user_id
    """


def holt_linear_oracle_sql(table: str = "events") -> str:
    """DuckDB twin of ``holt_linear``: the same zero-init (level, trend)
    recurrence as a RECURSIVE CTE stepping through each key's ordered
    value list. NOT list_reduce: DuckDB's list_reduce evaluates a struct
    accumulator's fields sequentially IN PLACE, so a field computed
    earlier in the literal clobbers the acc value a later field reads —
    the trend update would see the NEW level where the recurrence needs
    the old one (verified divergence; the CTE carries both fields of a
    step atomically instead)."""
    return f"""
        WITH RECURSIVE lists AS (
            SELECT user_id,
                   list(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ORDER BY epoch_us(ts), event_id) AS l
            FROM {table}
            WHERE value IS NOT NULL AND user_id IS NOT NULL
              AND ts IS NOT NULL
            GROUP BY user_id
        ),
        steps AS (
            SELECT user_id, 0 AS i,
                   CAST(0 AS BIGINT) AS lvl, CAST(0 AS BIGINT) AS trd, l
            FROM lists
            UNION ALL
            SELECT user_id, i + 1,
                   (lvl + trd + l[i + 1]) // 2,
                   (((lvl + trd + l[i + 1]) // 2) - lvl + trd) // 2,
                   l
            FROM steps
            WHERE i < LEN(l)
        )
        SELECT user_id,
               CAST(LEN(l) AS BIGINT) AS n_events,
               CAST(lvl AS BIGINT) AS level_cents,
               CAST(trd AS BIGINT) AS trend_cents,
               CAST(lvl + trd AS BIGINT) AS forecast_cents
        FROM steps
        WHERE i = LEN(l)
    """


def durbin_watson_oracle_sql(table: str = "events") -> str:
    """DuckDB twin: identical integer closed form in HUGEINT (whose //
    matches decimal div — house rule); the lag runs in the same
    (epoch-µs, tiebreak) window order."""
    return f"""
        WITH lagged AS (
            SELECT user_id, y,
                   lag(y) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS prev
            FROM (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
                FROM {table}
            )
        ),
        s AS (
            SELECT user_id,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   CAST(SUM(y * y) AS HUGEINT) AS syy,
                   CAST(COALESCE(SUM((y - prev) * (y - prev)), 0)
                        AS HUGEINT) AS sd2
            FROM lagged
            GROUP BY user_id
        )
        SELECT user_id,
               CAST(n AS BIGINT) AS n_events,
               CAST(n * sd2 * 1000000
                    // NULLIF(n * syy - sy * sy, 0) AS BIGINT) AS dw_ppm
        FROM s
    """


def tumbling_window_oracle_sql(
    window_minutes: int = 60,
    key_col: str = "event_type",
    table: str = "events",
) -> str:
    w_us = window_minutes * 60_000_000
    # ((e % W) + W) % W = floor-mod: DuckDB's % truncates toward zero, so a
    # pre-1970 (negative-epoch) timestamp would bucket differently from
    # Spark's pmod without the wrap.
    return f"""
        SELECT {key_col},
               CAST(epoch_us(ts)
                    - ((epoch_us(ts) % {w_us}) + {w_us}) % {w_us}
                    AS BIGINT) AS win_start_us,
               COUNT(*) AS n_events,
               CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    AS DOUBLE) / 100.0 AS value_sum
        FROM {table}
        GROUP BY {key_col}, win_start_us
    """


def hopping_window_oracle_sql(
    window_minutes: int = 60,
    hop_minutes: int = 15,
    key_col: str = "event_type",
    table: str = "events",
) -> str:
    w_us = window_minutes * 60_000_000
    h_us = hop_minutes * 60_000_000
    n = w_us // h_us
    # Same floor-mod wrap as the tumbling oracle (negative-epoch safety).
    return f"""
        WITH e AS (
            SELECT {key_col}, value,
                   epoch_us(ts)
                   - ((epoch_us(ts) % {h_us}) + {h_us}) % {h_us} AS last_start
            FROM {table}
        ),
        expanded AS (
            SELECT {key_col}, value,
                   CAST(last_start - s.j * {h_us} AS BIGINT) AS win_start_us
            FROM e, unnest(range(0, {n})) AS s(j)
        )
        SELECT {key_col}, win_start_us, COUNT(*) AS n_events,
               CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    AS DOUBLE) / 100.0 AS value_sum
        FROM expanded
        GROUP BY {key_col}, win_start_us
    """


_GAPFILL_OBS_SQL = """
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 100.0 AS val_sum
    FROM events GROUP BY user_id, CAST(ts AS DATE)
"""


def _join_sides(spark: SparkSession, sf_dir: str):
    """ΔA = orders (k, date) and ΔB = lineitem (k, l_linenumber, rev4),
    keyed k = orderkey — the two sides both join twins maintain."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_orderdate").alias("date")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_linenumber", _rev4_col().alias("rev4")
    )
    return orders, li


def _present_join(m: DataFrame) -> DataFrame:
    """The maintained join M as per-date line counts and exact revenue."""
    return m.groupBy(F.col("a_date").alias("date")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("b_rev4").alias("rev4_sum"),
    )


#: The one-shot join aggregate both IVM queries grade against — the
#: delta-rule maintenance identity, defined ONCE so the batch and
#: streaming entries cannot drift.
_JOIN_MAINTENANCE_ORACLE = """
    SELECT o_orderdate AS date,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))
                AS BIGINT) AS rev4_sum
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
"""


#: Time-slice cuts for the ordered-fold maintenance queries.
EMA_CUTS = ("2024-01-11", "2024-01-21")


#: The graded CUSUM detector's parameters (q_cusum and its oracle here;
#: the round-7 fold/stream twins import these so all three grade the
#: SAME detector).
CUSUM_DRIFT = 5_000


CUSUM_H = 20_000


def event_time_slices(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The events table as 3 time slices at ``EMA_CUTS``, in time order —
    the one batching every ordered-fold member replays (batch and
    streaming twins alike), so a divergence between any two of them
    isolates the protocol, not the data."""
    ev = load_table(spark, sf_dir, "events")
    c1, c2 = EMA_CUTS
    return [
        ev.filter(F.col("ts") < c1),
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
        ev.filter(F.col("ts") >= c2),
    ]


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
    state = fold_rounds(step, event_time_slices(spark, sf_dir))
    return present(state if parts is None else state[-1])


def _cusum_step(state, batch):
    """The graded detector's fold step, shared by both CUSUM twins."""
    return cusum_fold_batch(state, batch, CUSUM_DRIFT, CUSUM_H)


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


def _present_last_touch(totals: DataFrame) -> DataFrame:
    """The last-touch twins' graded shape, read off the channel totals."""
    return totals.select("channel", "n_conversions", "attributed_cents")


def _present_decay(totals: DataFrame) -> DataFrame:
    """The time-decay twins' graded shape, read off the channel totals."""
    return totals.select("channel", "n_credited_touches", "credited_cents")


#: Cost-bucket width for the parts skyline: $10 buckets over the ~[900,
#: 2000]-dollar retail price range give ~110 buckets — enough fan-out for
#: every core at bench SF, and semantics-free (any width yields the same
#: frontier; the property tests assert it).
_SKYLINE_BUCKET_CENTS = 1000


_SKYLINE_POINTS_SQL = """
    SELECT p_partkey,
           CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
           CAST(p_size AS BIGINT) AS p_size
    FROM part
"""


def _part_slices(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The skyline fold twins' batching: the (partkey, price cents, size)
    points split 3 ways by partkey residue."""
    pts = _part_points(spark, sf_dir)
    return [
        pts.filter(F.pmod(F.col("p_partkey"), F.lit(3)) == i)
        for i in range(3)
    ]


def _skyline_step():
    """The skyline fold twins' step over the parts' (price, size) points."""
    return skyline_step(
        "p_partkey", "price_cents", "p_size",
        bucket_width=_SKYLINE_BUCKET_CENTS,
    )


def _part_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (partkey, price cents, size) point set every skyline entry
    grades — one definition so the one-shot, the fold and the streaming
    twin all see the same points."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        half_up_round(F.col("p_retailprice") * 100).cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )


_CUSUM_ORACLE = cusum_alarms_oracle_sql(
    drift_cents=CUSUM_DRIFT, threshold_cents=CUSUM_H
)


_HOLT_ORACLE = holt_linear_oracle_sql()


# Exact-integer program (see q_rolling_stats): cent daily totals,
# integer half-up for the moving average and ratio-to-report.
@oracle("""
            WITH daily AS (
                SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                            AS BIGINT) AS tc
                FROM events GROUP BY 1, 2
            ),
            staged AS (
                SELECT event_type, day, tc,
                       CAST(SUM(tc) OVER w7 AS BIGINT) AS S,
                       COUNT(tc) OVER w7 AS k,
                       CAST(SUM(tc) OVER (PARTITION BY event_type) AS BIGINT) AS T
                FROM daily
                WINDOW w7 AS (PARTITION BY event_type
                              ORDER BY datediff('day', DATE '1970-01-01',
                                                CAST(day AS DATE))
                              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT event_type, day,
                   CAST(tc AS DOUBLE) / 100.0 AS day_total,
                   CAST((2 * CAST(S AS HUGEINT) * 100 + k) // (2 * k) AS DOUBLE)
                       / 10000.0 AS ma7,
                   CAST((2 * CAST(tc AS HUGEINT) * 1000000 + T)
                        // NULLIF(2 * T, 0) AS DOUBLE) / 10000.0 AS pct_of_type
            FROM staged
        """)
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series rolling window: daily totals per event type, CALENDAR
    7-day trailing moving average (RANGE frame over the day number, so gap
    days shrink the window instead of silently stretching it the way a
    ROWS frame over observed days would) and each day's share of its
    type's total (ratio-to-report). Windows partition on event_type — the
    tiny daily aggregate, never raw events, flows through them."""
    ev = load_table(spark, sf_dir, "events")
    # Exact-integer program (round-9 float-sum audit): daily totals as
    # cent sums; the moving average and ratio-to-report round half-up in
    # pure integer arithmetic (decimal(38,0) for the scaled numerators so
    # the 1e6 ratio scaling can't wrap at production volumes). value >= 0.
    daily = ev.groupBy(
        F.col("event_type"), F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(cents("value")).alias("__tc"),
    ).withColumn("__daynum", F.datediff(F.to_date("day"), F.lit("1970-01-01")))
    w_ma = (
        Window.partitionBy("event_type").orderBy("__daynum").rangeBetween(-6, 0)
    )
    w_all = Window.partitionBy("event_type")
    staged = daily.select(
        "event_type",
        "day",
        "__tc",
        F.sum("__tc").over(w_ma).alias("__S"),
        F.count("__tc").over(w_ma).alias("__k"),
        F.sum("__tc").over(w_all).alias("__T"),
    )
    return staged.select(
        "event_type",
        "day",
        (F.col("__tc").cast("double") / F.lit(100.0)).alias("day_total"),
        (
            F.expr(
                "CAST((2 * CAST(__S AS DECIMAL(38,0)) * 100 + __k)"
                " div (2 * __k) AS DOUBLE)"
            )
            / F.lit(10000.0)
        ).alias("ma7"),
        (
            F.expr(
                "CAST((2 * CAST(__tc AS DECIMAL(38,0)) * 1000000 + __T)"
                " div NULLIF(2 * __T, 0) AS DOUBLE)"
            )
            / F.lit(10000.0)
        ).alias("pct_of_type"),
    )


@oracle("""
            SELECT event_id, user_id,
                   CAST(FLOOR((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0) AS BIGINT)
                       AS gap_sec,
                   lead(event_id) OVER w AS next_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag navigation windows: per-user inter-event gap in seconds."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(ts_us("ts")).over(w)
    next_id = F.lead("event_id").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.floor((ts_us("ts") - prev_us) / F.lit(1_000_000)).alias("gap_sec"),
        next_id.alias("next_event_id"),
    )


@oracle(sessionize_oracle_sql(30))
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag/flag/cumsum/aggregate window
    pipeline)."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap_minutes=30)


@oracle("SELECT user_id, strftime(day, '%Y-%m-%d') AS day,"
    " n_events, val_sum, was_observed FROM ("
    + gapfill_daily_oracle_sql(
        _GAPFILL_OBS_SQL, "user_id", "day",
        zero_cols=["n_events"], locf_cols=["val_sum"],
    )
    + ")")
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


@oracle(asof_join_oracle_sql("click", "view"))
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each click event picks up the most recent earlier
    view's value for the same user — the classic feature-at-prediction-time /
    dimension-as-of lookup. Spark plan: union + one window pass per user key
    (single shuffle, no join node at all); oracle: DuckDB's native ASOF JOIN,
    an independent binary-search implementation."""
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


@oracle(time_range_join_oracle_sql(
    "click", "purchase", max_gap_us=600_000_000
))
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded time-range join (attribution): click→purchase pairs of the
    same user within 10 minutes. Bucketed equi-join on (user, time-bucket) —
    candidates follow bucket co-occupancy, never |A|×|B|; the oracle is the
    plain BETWEEN theta-join."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return time_range_join(clicks, purchases, key_col="user_id", max_gap_us=600_000_000)


@oracle(funnel_stages_oracle_sql())
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel (view -> click -> purchase): per-user deepest
    stage via three conditional-min windows over ONE user_id exchange; the
    oracle computes the same answer with a join-per-stage plan."""
    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev)


@oracle(tumbling_window_oracle_sql(window_minutes=60))
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 60-min window aggregate over the event stream in integer
    epoch-µs bucket arithmetic (NTZ-safe, timezone-render-free); the
    streaming twin (operators/timewindow.py streaming_tumbling_window)
    produces identical rows and is equivalence-tested."""
    ev = load_table(spark, sf_dir, "events")
    return tw_ops.tumbling_window_agg(ev, window_minutes=60)


@oracle(hopping_window_oracle_sql(
    window_minutes=60, hop_minutes=15
))
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 60/15-min windows: each event explodes into its 4 containing
    windows (bounded expansion, not a range join), then one partial+final
    hash aggregate on (key, win_start)."""
    ev = load_table(spark, sf_dir, "events")
    return tw_ops.hopping_window_agg(ev, window_minutes=60, hop_minutes=15)


@oracle("""
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
        """)
def q_mart_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the event log is split into an
    'existing' part and a 'late batch' that OVERLAPS the same (day,
    event_type) groups (split on a hash of event_id, not on time — the
    merge has to actually merge), each becomes an additive partial state,
    the states fold, and the presented mart must equal a from-scratch
    GROUP BY over everything — which is exactly what the oracle computes.
    O(batch)+O(mart) per update, never O(history)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    )
    split = F.pmod(F.col("event_id"), F.lit(10)) < 7
    keys = ["day", "event_type"]
    state = additive_state(ev.filter(split), keys, "value")
    late = additive_state(ev.filter(~split), keys, "value")
    return present(merge_states([state, late], keys), keys)


@oracle("""
            WITH seq AS (
                SELECT event_type AS from_type,
                       LEAD(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id
                       ) AS to_type
                FROM events
            )
            SELECT from_type, to_type, COUNT(*) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        """)
def q_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence mining: the global event-type transition matrix
    (from, to, n) over each user's time-ordered stream — the Markov-chain
    census behind next-action models and funnel diagnostics. One lead()
    window per user (single shuffle on user_id), integer epoch-µs
    ordering with event_id tie-break (NTZ-safe, engine-deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        ts_us(F.col("ts")), F.col("event_id")
    )
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@oracle(f"""
            WITH h AS (
                SELECT {portable_hash60_sql(
                    "concat_ws('|', l_orderkey, l_linenumber, "
                    "CAST(FLOOR(l_quantity + 0.5) AS BIGINT), "
                    "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT), "
                    "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT), "
                    "l_returnflag, l_linestatus)"
                )} AS h
                FROM lineitem
            )
            SELECT CAST(h % 64 AS BIGINT) AS bucket,
                   COUNT(*) AS n_rows,
                   CAST(SUM(h) % {CK_MOD} AS BIGINT) AS checksum
            FROM h GROUP BY 1
        """)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table checksum — the 100 TB replica-validation tool:
    each row's canonical content string hashes to a 60-bit integer
    (portable md5 family), rows bucket by hash range, and each bucket
    reports (n_rows, additive checksum). Comparing two copies of a table
    is then a 64-row diff; a mismatched bucket pinpoints where to drill
    down — no full-table compare, no ordering assumption (the checksum
    is an order-free SUM). The sum accumulates as decimal(38,0) and is
    folded mod 2^61 at the end — overflow-free to ~10^20 rows per bucket
    (decimal(38,0) capacity ~1e38 over 2^60-max hashes ~1.15e18), exact
    on both engines (HUGEINT on DuckDB). Row rendering uses the exact cent
    integers, never float formatting."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    e2 = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    d2 = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    row_str = F.concat_ws(
        "|",
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        qty,
        e2,
        d2,
        F.col("l_returnflag"),
        F.col("l_linestatus"),
    )
    h = portable_hash60(row_str)
    # ONE definition of the bucket/checksum aggregation
    # (streaming/drift.checksum_state), an additive 64-row summary that
    # disjoint batches fold into in any order.

    return checksum_state(li.select(h.alias("__h")))


# Gaps-and-islands twin of the native session_window operator:
# same 30-min gap, same half-open end bound (last event + gap).
@oracle("""
            WITH ev AS (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(FLOOR(COALESCE(value, 0.0) * 100 + 0.5) AS BIGINT)
                           AS cents
                FROM events
            ),
            -- event_id tie-break on BOTH window clauses: without it, two
            -- events at the same (user_id, us) could sort differently in
            -- flagged vs islands, misaligning the running sum with its
            -- flags (same reason the lead_lag oracle orders by (ts,
            -- event_id)). A tie can't SPLIT a session (gap 0 <= 30 min),
            -- but the misalignment could.
            flagged AS (
                SELECT user_id, us, cents,
                       CASE WHEN us - LAG(us) OVER (
                                PARTITION BY user_id ORDER BY us, event_id
                            ) > 1800000000 THEN 1
                            WHEN LAG(us) OVER (
                                PARTITION BY user_id ORDER BY us, event_id
                            ) IS NULL THEN 1
                            ELSE 0 END AS new_sess,
                       event_id
                FROM ev
            ),
            islands AS (
                SELECT user_id, us, cents,
                       SUM(new_sess) OVER (
                           PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS sess_no
                FROM flagged
            )
            SELECT user_id,
                   CAST(MIN(us) AS BIGINT) AS start_us,
                   CAST(MAX(us) + 1800000000 AS BIGINT) AS end_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM islands
            GROUP BY user_id, sess_no
        """)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window (dynamic gap-merged windows inside
    the aggregation operator — §2.11's batch form of what Structured
    Streaming runs stateful) against a gaps-and-islands oracle: the same
    30-minute-gap sessions derived two completely different ways. Window
    bounds are surfaced as integer epoch-µs (NTZ-safe), values as exact
    counts + integer cent sums."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5)).cast(
        "long"
    )
    return (
        ev.groupBy(
            "user_id", F.session_window(F.col("ts").cast("timestamp"), "30 minutes")
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("sum_cents"))
        .select(
            "user_id",
            ts_us(F.col("session_window.start")).alias("start_us"),
            # session_window.end = last event + gap (exclusive bound)
            ts_us(F.col("session_window.end")).alias("end_us"),
            "n_events",
            "sum_cents",
        )
    )


# The BATCH mart over the same rows: per-row exact rev4 recovery,
# int64 sums (CAST defuses HUGEINT), presentation divisions as
# single IEEE double ops with the floor(x*10^s+0.5)/10^s trick —
# identical to operators/incremental.present on the Spark side.
@oracle("""
            WITH rev AS (
                SELECT o_orderdate AS date,
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                         * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                         AS rev4
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
            ),
            st AS (
                SELECT date,
                       CAST(SUM(rev4) AS BIGINT) AS s,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM rev GROUP BY date
            )
            SELECT date,
                   CAST(s AS DOUBLE) / 100.0 AS value_sum,
                   FLOOR(CAST(s AS DOUBLE) / (c * 100.0) * 10000 + 0.5)
                     / 10000.0 AS value_avg,
                   c AS n_rows
            FROM st
        """)
def q_streaming_mart_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible twin of the run_pipeline_streaming DM path (VERDICT
    r4 item 4): a REAL Structured Streaming query — file source,
    maxFilesPerTrigger=1, availableNow trigger, foreachBatch — folds
    per-date exact-integer revenue state through ``mart_step`` under
    streaming/state.py's replay-guarded fold driver, then the presented
    mart is returned as the graded result. The rows arrive as 3 slices
    cut by ``pmod(l_orderkey, 3)`` (round7.run_file_sliced_stream). The
    oracle is the BATCH mart SQL over the same rows: the additive-state
    contract (present∘merge∘state == present∘state∘union for ANY split)
    is what makes a 3-micro-batch fold value-identical to the one-shot
    aggregate, regardless of which rows land in which micro-batch.

    The value fed to the state is rev4/100 (centi-units of the exact
    1e-4-dollar integer), so additive_state's floor(x*100+0.5) recovers
    rev4 EXACTLY per row (the double round-trip error is « 0.5). The
    presented mart has one row per order date, ~2.4k keys at any SF —
    bounded by the calendar, not the data."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rows = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            F.col("o_orderdate").alias("date"),
            (_rev4_col().cast("double") / F.lit(100.0)).alias("rev_cents"),
        )
        # a line with unknown (NULL) revenue is not an observation of the
        # mart — excluded explicitly on both engines (round-9 nulls sweep)
        .where(F.col("rev_cents").isNotNull())
    )
    slices = [
        rows.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == i)
        .drop("l_orderkey")
        for i in range(3)
    ]
    return run_file_sliced_stream(
        spark,
        slices,
        mart_step(["date"], "rev_cents"),
        lambda state: present(state, ["date"]),
    )


# The one-shot join IS the oracle: the delta-rule fold must equal
# it for any batching (the maintenance identity).
@oracle(_JOIN_MAINTENANCE_ORACLE)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance by delta rules (streaming/ivm.py
    join_step under operators/rounds.py fold_rounds): orders arrive in 3
    batches keyed o_orderkey % 3, lineitem in 3 batches keyed
    l_linenumber % 3 — deliberately DIFFERENT batchings, so an order's
    lines land in other rounds than the order row and all three delta
    terms (ΔA⋈B, A⋈ΔB, ΔA⋈ΔB) fire. The maintained join then aggregates
    to per-date counts and exact-integer revenue; the oracle is the plain
    one-shot join — the maintenance identity IS the check."""
    orders, li = _join_sides(spark, sf_dir)
    slices = side_tagged(
        [orders.filter(F.pmod(F.col("k"), F.lit(3)) == i) for i in range(3)],
        [
            li.filter(F.pmod(F.col("l_linenumber"), F.lit(3)) == i)
            .drop("l_linenumber")
            for i in range(3)
        ],
        ["k"],
    )
    return _present_join(fold_rounds(join_step(["k"]), slices)[-1])


@oracle(match_event_pattern_oracle_sql("vc*p"))
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite (operators/patterns.py): per user, leftmost
    non-overlapping matches of 'a view, then any clicks, then a purchase'
    (regex vc*p) over the (epoch-µs, event_id)-ordered symbol encoding of
    their event stream — ORDER-sensitive funnel semantics neither stage
    counting nor adjacent-pair transitions can express."""
    ev = load_table(spark, sf_dir, "events")
    return match_event_pattern(ev, "vc*p")


# The delta-rule maintenance identity again: the streamed fold
# must equal the one-shot join (same oracle as incremental_join).
@oracle(_JOIN_MAINTENANCE_ORACLE)
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `incremental_join` (streaming/ivm.py): a REAL
    availableNow stream of TAGGED deltas — orders rows as side 'a',
    lineitem rows as side 'b', cut into 3 slices by ``pmod(k, 3)``
    (round7.run_file_sliced_stream) — maintains the materialized join via
    the per-batch delta rule under the fold driver's replay guard; the
    maintained M then aggregates to the same per-date shape, oracle = the
    plain one-shot join. A bag join does not depend on how rows are
    split across batches."""
    orders, li = _join_sides(spark, sf_dir)
    [tagged] = side_tagged([orders], [li.drop("l_linenumber")], ["k"])
    slices = [
        tagged.filter(F.pmod(F.col("k"), F.lit(3)) == i) for i in range(3)
    ]
    return run_file_sliced_stream(
        spark, slices, join_step(["k"]), _present_join, JOIN_PARTS
    )


@oracle(match_event_pattern_measures_oracle_sql(
    "vc*p"
))
def q_event_pattern_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-match MEASURES for the MATCH_RECOGNIZE-lite operator (VERDICT
    r5 item 5): ONE ROW PER MATCH of 'view, any clicks, purchase' (vc*p)
    carrying match_no and the first/last event id + epoch-µs timestamp of
    the match — recovered from the symbol string via gap/match prefix
    sums and mapped back through the sorted struct array (the string's
    i-th char IS the array's i-th element), no event re-scan. The oracle
    replays the same position arithmetic over string_split_regex +
    regexp_extract_all in DuckDB."""
    ev = load_table(spark, sf_dir, "events")
    return match_event_pattern_measures(ev, "vc*p")


@oracle(f"""
            WITH s AS (
                SELECT CAST(SUM(
                    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                ) AS BIGINT) AS s4
                FROM lineitem
                WHERE epoch_us(l_shipdate) >= {_US_1996}
                  AND epoch_us(l_shipdate) < {_US_1997}
                  AND l_quantity < 24
                  AND CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                      BETWEEN 5 AND 7
            )
            SELECT CAST((2 * CAST(s4 AS HUGEINT) + 100) // 200 AS DOUBLE) / 100.0 AS revenue
            FROM s
        """)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the what-if revenue from dropping mid-band discounts —
    one filtered scan, one scalar SUM(extendedprice * discount), no join.
    The discount predicate runs on the exact integer percent (5..7), and
    the date + quantity predicates sit ON the parquet scan (plan-pinned
    in tests/test_plans.py): at 100 TB this query IS the pushdown — a
    4-column scan with the 1-year window pruning row groups."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= _D_1996) & (F.col("l_shipdate") < _D_1997)
            & (F.col("l_quantity") < 24)
        )
        .filter(pct.between(5, 7))
        .agg(F.sum(cents * pct).alias("__s4"))
        .select(
            (F.expr("(2 * CAST(__s4 AS DECIMAL(38,0)) + 100) div 200").cast("double") / F.lit(100.0))
            .alias("revenue")
        )
    )


@oracle(ema_halflife_oracle_sql())
def q_ema_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ½-decay EMA of event values (operators/timeseries.py
    ema_halflife): the ORDER-DEPENDENT integer recurrence s = (s+v) div 2
    folded over the (ts, event_id)-sorted history — the aggregation class
    plain SUM/AVG can't express. Bit-identical across engines because
    α = ½ keeps every step in integers."""
    return ema_halflife(load_table(spark, sf_dir, "events"))


# The one-shot fold IS the oracle: the 3-batch frontier fold
# must equal it (ordered-fold maintenance identity).
@oracle(ema_halflife_oracle_sql())
def q_ema_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for the NON-commutative EMA
    (operators/timeseries.py ema_fold_batch under operators/rounds.py's
    fold_rounds): the events table split into 3 fixed time slices and
    folded through per-key state carrying the fold frontier — must equal
    the one-shot ema_halflife for any time-split batching, and that
    one-shot IS the oracle (the incremental_join pattern, extended to an
    order-dependent operator; out-of-order batches raise instead of
    corrupting the trajectory)."""
    return present_ema_state(
        fold_rounds(ema_fold_batch, event_time_slices(spark, sf_dir))
    )


@oracle(last_touch_attribution_oracle_sql())
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/attribution.py): purchases
    credited to the type of the last view/click within 7 days, else
    'none' — one running-accumulator window pass per user, credit in
    exact cents."""
    return last_touch_attribution(load_table(spark, sf_dir, "events"))


@oracle(trend_fit_oracle_sql())
def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value-vs-day (operators/timeseries.py
    trend_fit): the closed-form slope in exact integers, cross-multiplied
    to ppm-cents/day, every sum widened to decimal(38,0)/HUGEINT (n·Σxy
    passes 2^63 at bench SF). One partial+final aggregate."""
    return trend_fit(load_table(spark, sf_dir, "events"))


@oracle(interval_concurrency_oracle_sql(
    sessionize_oracle_sql(), key_cols=["user_id", "session_seq"]
))
def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency over the sessionized events
    (operators/intervals.py): per session, how many sessions are open at
    its start instant — the two-phase prefix-sum sweep (bucketed running
    sums + a calendar-bounded carry), never one global window. The
    oracle replays the same sweep as a single DuckDB window."""
    ev = load_table(spark, sf_dir, "events")
    return interval_concurrency(
        sessionize(ev), key_cols=["user_id", "session_seq"]
    )


@oracle(cusum_alarms_oracle_sql(
    drift_cents=CUSUM_DRIFT, threshold_cents=CUSUM_H
))
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM level-shift detector over event values
    (operators/timeseries.py cusum_alarms): the recurrence
    s = max(0, s + (v − k)) evaluated through its running-window closed
    form (prefix sum minus running minimum) — exact integer cents, final
    statistic / path max / upward-crossing alarm count; drift allowance
    k = 5000 cents, threshold h = 20000 cents (both branches of the
    alarm predicate execute at sf0.001 and sf0.01)."""
    return cusum_alarms(
        load_table(spark, sf_dir, "events"),
        drift_cents=CUSUM_DRIFT,
        threshold_cents=CUSUM_H,
    )


# The one-shot fold IS the oracle for every ordered-fold twin:
# the maintained state must equal it (maintenance identity,
# batch-mode and through the versioned-commit streaming protocol).
@oracle(ema_halflife_oracle_sql())
def q_streaming_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `ema_fold`: per-batch ema_fold_batch under the
    fold driver's replay guard, with the out-of-order raise preserved.
    Oracle: the one-shot ema_halflife."""
    return _run_time_sliced_stream(
        spark, sf_dir, ema_fold_batch, present_ema_state
    )


@oracle(_CUSUM_ORACLE)
def q_cusum_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for the CUSUM detector
    (operators/timeseries.py cusum_fold_batch under fold_rounds): the
    events table split into the SAME 3 time slices as ema_fold and folded
    through per-key (p, min-prefix, s, smax, alarms) state carrying the
    fold frontier — must equal the one-shot cusum_alarms for any
    time-split batching, and that one-shot IS the oracle (order-dependent
    IVM member #2; out-of-order batches raise)."""
    return _fold_time_slices(spark, sf_dir, _cusum_step, present_cusum_state)


@oracle(_CUSUM_ORACLE)
def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `cusum_fold`: per-batch cusum_fold_batch under
    the fold driver's replay guard. Oracle: the one-shot cusum_alarms."""
    return _run_time_sliced_stream(
        spark, sf_dir, _cusum_step, present_cusum_state
    )


@oracle(last_touch_attribution_oracle_sql())
def q_attribution_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for LAST-TOUCH attribution
    (operators/attribution.py attribution_step under fold_rounds): the
    events table in the same 3 time slices, folded through per-key
    last-touch state with the batch credit deltas summed additively —
    must equal the one-shot last_touch_attribution for any time-split
    batching (order-dependent IVM member #3: the carried state is the
    running last touch each conversion is judged against)."""
    return _fold_time_slices(
        spark, sf_dir, attribution_step(), _present_last_touch,
        ATTRIBUTION_PARTS,
    )


@oracle(last_touch_attribution_oracle_sql())
def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `attribution_fold`: the two-part fold (per-key
    touch state, then the additive channel totals LAST as the replay
    guard — the join fold's m-last rule) under the same time-sliced
    availableNow stream. Oracle: the one-shot last_touch_attribution."""
    return _run_time_sliced_stream(
        spark,
        sf_dir,
        attribution_step(),
        _present_last_touch,
        ATTRIBUTION_PARTS,
    )


@oracle(time_decay_attribution_oracle_sql())
def q_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay MULTI-touch attribution (operators/attribution.py
    time_decay_attribution): every in-window preceding touch shares the
    purchase's credit at exact power-of-two day-decay weights, the
    remainder cents deterministically unassigned; no-touch conversions
    credit 'none' in full. The multi-touch sibling of the graded
    last-touch entry — a user-key range join instead of one running
    window."""
    return time_decay_attribution(load_table(spark, sf_dir, "events"))


@oracle(time_decay_attribution_oracle_sql())
def q_attribution_decay_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for TIME-DECAY attribution
    (operators/attribution.py attribution_step over
    decay_attribution_fold_batch, under fold_rounds): order-dependent IVM
    member #4, and the first whose carried state is WINDOW-BOUNDED —
    touches older than frontier − window are evicted each batch
    (watermark semantics), so per-key state never grows with history.
    Must equal the one-shot time_decay_attribution for any time-split
    batching (the oracle)."""
    return _fold_time_slices(
        spark, sf_dir, attribution_step(decay_attribution_fold_batch),
        _present_decay, ATTRIBUTION_PARTS,
    )


@oracle(time_decay_attribution_oracle_sql())
def q_streaming_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `attribution_decay_fold`: the two-part fold with
    the window-bounded key state. Oracle: the one-shot
    time_decay_attribution."""
    return _run_time_sliced_stream(
        spark,
        sf_dir,
        attribution_step(decay_attribution_fold_batch),
        _present_decay,
        ATTRIBUTION_PARTS,
    )


@oracle(time_weighted_avg_oracle_sql())
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted average per user (operators/segments.py
    time_weighted_avg): Σ v·Δt div span in exact cents — the TWAP a
    plain AVG misstates under irregular sampling. One lead() window +
    one aggregate."""
    return time_weighted_avg(load_table(spark, sf_dir, "events"))


# The one-shot TWAP is the oracle for its fold and stream twins
# (ordered-fold maintenance identity, member #5).
@oracle(time_weighted_avg_oracle_sql())
def q_twap_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for the LOCF time-weighted
    average (operators/segments.py twap_fold_batch under fold_rounds):
    member #5 of the order-dependent IVM tier — the integral telescopes
    across batch boundaries through the bridge segment last_cents·Δµs,
    so the folded state must equal the one-shot ``time_weighted_avg``
    for any time-split batching (the oracle; out-of-order batches
    raise)."""
    return _fold_time_slices(
        spark, sf_dir, twap_fold_batch, present_twap_state
    )


@oracle(time_weighted_avg_oracle_sql())
def q_streaming_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `twap_fold`: twap_fold_batch under the fold
    driver over the same time-sliced availableNow stream. Oracle: the
    one-shot time_weighted_avg."""
    return _run_time_sliced_stream(
        spark, sf_dir, twap_fold_batch, present_twap_state
    )


# The one-shot Holt IS the oracle for its fold and stream twins
# (ordered-fold maintenance identity, member #6).
@oracle(_HOLT_ORACLE)
def q_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot Holt linear smoothing per user (operators/timeseries.py
    holt_linear): the trend-aware sibling of the graded ema_decay — the
    carried state is the (level, trend) PAIR, the forecast level+trend,
    the whole trajectory exact integers at α = β = ½."""
    return holt_linear(load_table(spark, sf_dir, "events"))


@oracle(_HOLT_ORACLE)
def q_holt_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for Holt smoothing
    (operators/timeseries.py holt_fold_batch under fold_rounds): member
    #6 — the first 2-dimensional carried state. Must equal the one-shot
    holt_linear for any time-split batching (the oracle; out-of-order
    batches raise)."""
    return _fold_time_slices(
        spark, sf_dir, holt_fold_batch, present_holt_state
    )


@oracle(_HOLT_ORACLE)
def q_streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `holt_fold`: holt_fold_batch under the fold
    driver over the shared time-sliced availableNow stream. Oracle: the
    one-shot holt_linear."""
    return _run_time_sliced_stream(
        spark, sf_dir, holt_fold_batch, present_holt_state
    )


@oracle(durbin_watson_oracle_sql())
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Durbin–Watson statistic (operators/timeseries.py
    durbin_watson): serial correlation of the ordered value series as
    the exact integer closed form n·Σ(Δy)²·10⁶ div (n·Σy² − (Σy)²)."""
    return durbin_watson(load_table(spark, sf_dir, "events"))


@oracle(skyline_2d_oracle_sql(
    _SKYLINE_POINTS_SQL, "p_partkey", "price_cents", "p_size"
))
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of parts on (retail price MINIMIZED, size MAXIMIZED)
    (operators/skyline.py skyline_2d): the Pareto frontier via cost
    buckets + broadcast carry — no global row-sized window. Price enters
    as exact cents so no float comparison sits on the dominance edge."""
    return skyline_2d(
        _part_points(spark, sf_dir),
        id_col="p_partkey",
        cost_col="price_cents",
        gain_col="p_size",
        bucket_width=_SKYLINE_BUCKET_CENTS,
    )


# The one-shot skyline is the oracle for its fold twin
# (set-algebraic maintenance identity).
@oracle(skyline_2d_oracle_sql(
    _SKYLINE_POINTS_SQL, "p_partkey", "price_cents", "p_size"
))
def q_skyline_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained-skyline fold (operators/skyline.py skyline_step under
    fold_rounds): the parts table split 3 ways by partkey residue and
    folded through frontier-sized state — must equal the one-shot skyline
    for ANY split (the SET-algebraic maintenance identity skyline(A∪B) =
    skyline(skyline(A)∪B); the one-shot IS the oracle). The IVM family's
    first frontier-state member: commutative, no delivery contract."""
    return fold_rounds(_skyline_step(), _part_slices(spark, sf_dir))


@oracle(skyline_2d_oracle_sql(
    _SKYLINE_POINTS_SQL, "p_partkey", "price_cents", "p_size"
))
def q_streaming_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `skyline_fold`: the Pareto frontier maintained
    over a 3-slice availableNow point stream by ``skyline_step`` under
    the fold driver's replay guard. The fold is commutative (set
    algebra, no delivery contract) — slice order is immaterial. Oracle:
    the one-shot skyline."""
    return run_file_sliced_stream(
        spark, _part_slices(spark, sf_dir), _skyline_step(), lambda df: df
    )
