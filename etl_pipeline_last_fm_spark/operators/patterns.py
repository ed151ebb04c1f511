"""Sequential pattern matching over event streams (MATCH_RECOGNIZE-lite).

The reference has no sequential-pattern operator (its event logic stops at
joins and GROUP BY, reference `dags/from_dds_to_dm_pg.py`); funnels count
stage membership and `session_transitions` counts adjacent pairs, but
neither can express ORDER-sensitive multi-step patterns with quantifiers
("a view, then any number of clicks, then a purchase"). SQL:2016's
MATCH_RECOGNIZE is the standard answer; Spark has no native support, so
the same semantics are lowered to a plan Spark runs well:

1. encode each partition's time-ordered event stream as a SYMBOL STRING
   (one character per event type) — one ordered aggregation per user;
2. run the pattern as a REGEX over that string — leftmost,
   non-overlapping matches, exactly MATCH_RECOGNIZE's default
   AFTER MATCH SKIP PAST LAST ROW semantics.

Determinism + parity: the encoding orders by (epoch-µs, event_id) — a
total order — and both engines count leftmost non-overlapping matches of
the same regex (verified cross-engine in the registered query; keep
patterns in the portable subset: literals, classes, `*` `+` `?`
quantifiers — no lookaround, which RE2-family engines reject).

Scale shape: one shuffle on the partition key for the ordered encode
(collect_list buffers ONE user's events — per-user streams are bounded
by retention in practice; a pathological user is the same hot-key
problem every per-user window has, and salting applies the same way);
the regex scan is a pure per-row map over |users| short strings, inside
codegen. This is the 100 TB-honest lowering: the event table is read
once, nothing quadratic, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import ts_us

#: Default single-char alphabet for the events fixture's event types.
DEFAULT_ALPHABET = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "signup": "s",
    "error": "e",
}


def _symbol(col: Column, alphabet: dict[str, str]) -> Column:
    expr = F.lit("?")
    for k, v in sorted(alphabet.items(), reverse=True):
        expr = F.when(col == k, F.lit(v)).otherwise(expr)
    return expr


def encode_event_strings(
    events: DataFrame,
    alphabet: dict[str, str] | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    keep_array: bool = False,
) -> DataFrame:
    """(user, symbol string) — each user's events as one ordered string.
    Ordered via array_sort over (epoch_µs, tiebreak, symbol) structs, so
    the result is a pure function of the row set (shuffle-order-proof).

    With ``keep_array`` the sorted struct array rides along as ``__arr``:
    its i-th element IS the event behind the symbol string's i-th
    character, which is what lets MEASURES map regex positions back to
    event ids/timestamps without a second scan."""
    alphabet = alphabet or DEFAULT_ALPHABET
    agged = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.struct(
                ts_us(F.col(ts_col)).alias("us"),
                F.col(tiebreak_col).alias("tb"),
                _symbol(F.col(type_col), alphabet).alias("c"),
            ).alias("__s"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("__s")).alias("__arr"))
    )
    cols = [
        F.col("user_id"),
        F.array_join(
            F.transform(F.col("__arr"), lambda s: s["c"]), ""
        ).alias("events_str"),
    ]
    if keep_array:
        cols.append(F.col("__arr"))
    return agged.select(*cols)


def match_event_pattern(
    events: DataFrame,
    pattern: str,
    alphabet: dict[str, str] | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per user: total events, leftmost non-overlapping matches of
    ``pattern``, and the first match (MEASURES-lite). Users with zero
    matches are kept (n_matches = 0) — the funnel-drop-off rows matter."""
    enc = encode_event_strings(
        events, alphabet, user_col, type_col, ts_col, tiebreak_col
    )
    # Pattern passed as a COLUMN LITERAL (F.lit / the builtin's literal
    # conversion), never interpolated into SQL text: f-string-into-F.expr
    # mangles backslashes (SQL literal parsing eats them -> silent
    # cross-engine divergence on patterns like v\\dp) and breaks on
    # quotes (injection surface). Verified live in review.
    return enc.select(
        "user_id",
        F.length("events_str").cast("long").alias("n_events"),
        F.regexp_count("events_str", F.lit(pattern))
        .cast("long")
        .alias("n_matches"),
        F.coalesce(
            F.regexp_extract("events_str", pattern, 0), F.lit("")
        ).alias("first_match"),
    )


def match_event_pattern_measures(
    events: DataFrame,
    pattern: str,
    alphabet: dict[str, str] | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-MATCH measures (SQL:2016 MEASURES clause): one row per
    leftmost non-overlapping match carrying match_no, the matched symbol
    run, and the FIRST/LAST event id + epoch-µs timestamp of the match —
    what ``MEASURES first(ts), last(ts) ... ONE ROW PER MATCH`` exposes.

    Positions are recovered WITHOUT re-scanning events: the symbol
    string's i-th character is the sorted array's i-th element, so
    1-based match start = 1 + Σ len(gaps[..i]) + Σ len(matches[..i-1]),
    where gaps = split(s, pattern) — split's segments are exactly the
    text BETWEEN leftmost non-overlapping matches, the same match set
    regexp_extract_all returns (both engines agree on this pairing; the
    prefix sums run as slice+aggregate inside codegen). ``element_at``
    on the start/end positions then yields the boundary events.

    Zero-length-capable patterns (pure ``a*``) are rejected: a
    zero-width match makes the gap/match interleaving ill-defined (and
    MATCH_RECOGNIZE itself requires non-empty matches).

    Scale shape: identical to ``match_event_pattern`` — one shuffle for
    the ordered encode, then a per-row map; the per-match explode adds
    rows but no shuffle."""
    import re as _re

    if _re.match(pattern, "") is not None:
        raise ValueError(
            f"pattern {pattern!r} can match the empty string; "
            "per-match measures need non-empty matches"
        )
    enc = encode_event_strings(
        events, alphabet, user_col, type_col, ts_col, tiebreak_col,
        keep_array=True,
    )
    # Pattern as a column literal for the regex builtins (the F.expr
    # interpolation trap — see match_event_pattern); F.split takes the
    # pattern as a plain Python arg, no SQL-literal round trip involved.
    base = enc.select(
        "user_id",
        "__arr",
        # idx=0 = the full match (the builtin DEFAULTS to group 1).
        F.regexp_extract_all("events_str", F.lit(pattern), 0).alias("__ms"),
        F.transform(
            F.split("events_str", pattern), lambda g: F.length(g)
        ).alias("__lg"),
    ).select(
        "user_id",
        "__arr",
        "__ms",
        F.transform(F.col("__ms"), lambda m: F.length(m)).alias("__lm"),
        "__lg",
    )
    plus = lambda a, x: a + x  # noqa: E731

    # Resolve each match to a NARROW struct (match_no, match_str, boundary
    # events) BEFORE exploding: a posexplode that keeps __arr/__lm/__lg
    # would copy the full per-user arrays into every per-match output row
    # — O(matches × events) bytes through the Generate for match-heavy
    # users. Here element_at picks the two boundary elements per match
    # while the arrays still exist once per user, and the explode emits
    # only the 7 output fields.
    def _match_struct(i):  # i = 1-based match index (lambda variable)
        start = (
            F.lit(1)
            + F.aggregate(F.slice("__lg", F.lit(1), i), F.lit(0), plus)
            + F.aggregate(F.slice("__lm", F.lit(1), i - 1), F.lit(0), plus)
        )
        m = F.element_at("__ms", i)
        end = start + F.length(m) - 1
        st = F.element_at("__arr", start.cast("int"))
        en = F.element_at("__arr", end.cast("int"))
        return F.struct(
            i.cast("long").alias("match_no"),
            m.alias("match_str"),
            st["tb"].alias("start_event_id"),
            st["us"].alias("start_us"),
            en["tb"].alias("end_event_id"),
            en["us"].alias("end_us"),
        )

    # sequence(1, 0) is DESCENDING in Spark, so guard the no-match case
    # to an empty index array (posexplode-of-empty semantics).
    idxs = F.when(
        F.size("__ms") > 0, F.sequence(F.lit(1), F.size("__ms"))
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        "user_id", F.explode(F.transform(idxs, _match_struct)).alias("__m")
    ).select("user_id", "__m.*")
