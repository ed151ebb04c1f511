"""Shared builders for the fold property tests: hypothesis-drawn per-user
event streams turned into an events DataFrame, and its time slices."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

_T0 = datetime(2024, 1, 1)


def event_rows(streams, min_gap: int = 0):
    """(event_id, user_id, event_type, ts, value) rows from
    ``{user_id: [event, ...]}``. An event is ``(gap, type_idx, cents)``
    (type ``EVENT_TYPES[type_idx]``) or ``(gap, cents)`` (type "e"); it
    sits ``min_gap + gap`` minutes after the user's previous event, the
    first one after 2024-01-01. A zero total gap is an exact timestamp
    tie, which exercises the tiebreak path."""
    rows, eid = [], 0
    for uid, evs in sorted(streams.items()):
        t = _T0
        for ev in evs:
            gap, etype, cents = (
                (ev[0], EVENT_TYPES[ev[1]], ev[2]) if len(ev) == 3
                else (ev[0], "e", ev[1])
            )
            t = t + timedelta(minutes=min_gap + gap)
            rows.append((eid, uid, etype, t, cents / 100.0))
            eid += 1
    return rows


def mk_events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )


def time_slices(ev, cut_minutes, drop_empty: bool = False):
    """``ev`` split at ``2024-01-01 + m`` minutes for each m in
    ``cut_minutes``, in time order. ``drop_empty`` leaves out empty
    slices (a real scheduler never emits them)."""
    bounds = [_T0 + timedelta(minutes=m) for m in sorted(cut_minutes)]
    edges = [datetime(2023, 1, 1)] + bounds + [datetime(2025, 1, 1)]
    slices = [
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        for lo, hi in zip(edges, edges[1:])
    ]
    return [s for s in slices if s.count() > 0] if drop_empty else slices
