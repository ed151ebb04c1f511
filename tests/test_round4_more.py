"""Round-4 second wave: corpus drift (exact TV distance), inverted index,
MERGE upsert — hand-computed cases. Cross-engine parity for the
registered forms runs in tests/test_oracle_parity.py."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.scd import merge_upsert
from etl_pipeline_last_fm_spark.operators.text import corpus_drift, inverted_index


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_corpus_drift_hand_computed(spark):
    # a: {x:2, y:1} (A=3); b: {x:1, z:1} (B=2)
    # N = |2*2-1*3| + |1*2-0| + |0-1*3| = 1 + 2 + 3 = 6; TV = 6/12 = 0.5
    d = _docs(spark, [(1, "a", "x x y"), (2, "b", "x z")])
    out = corpus_drift(d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src_a"], r["src_b"], r["tok_a"], r["tok_b"]) == ("a", "b", 3, 2)
    assert r["tv_micro"] == 500_000


def test_corpus_drift_identical_and_disjoint(spark):
    d = _docs(
        spark,
        [
            (1, "a", "x y z"),
            (2, "b", "x y z"),   # identical distribution -> TV = 0
            (3, "c", "p q"),     # disjoint from both -> TV = 1
        ],
    )
    out = {(r["src_a"], r["src_b"]): r["tv_micro"] for r in corpus_drift(d).collect()}
    assert out[("a", "b")] == 0
    assert out[("a", "c")] == 1_000_000
    assert out[("b", "c")] == 1_000_000


def test_inverted_index_hand_computed(spark):
    d = _docs(spark, [(2, "s", "b a b"), (1, "s", "a b a"), (3, "s", "c a")])
    out = {r["term"]: r for r in inverted_index(d, min_df=2).collect()}
    assert set(out) == {"a", "b"}  # c is hapax (df=1)
    assert out["a"]["df"] == 3 and out["a"]["ttf"] == 4
    assert out["a"]["postings"] == "1,2,3"
    assert out["b"]["df"] == 2 and out["b"]["ttf"] == 3
    assert out["b"]["postings"] == "1,2"


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts timestamp_ntz"
    )


def test_merge_upsert_semantics(spark):
    t0 = dt.datetime(2024, 1, 10)
    t1 = dt.datetime(2024, 1, 20)  # past the default cutoff (Jan 16)
    ev = _ev(
        spark,
        [
            # user 1: matched + upsert -> updated
            (1, 1, "view", 10.0, t0),
            (2, 1, "click", 99.0, t1),
            # user 2: matched + delete -> removed
            (3, 2, "view", 20.0, t0),
            (4, 2, "error", 0.0, t1),
            # user 3: unmatched + upsert -> inserted
            (5, 3, "purchase", 30.0, t1),
            # user 4: unmatched + delete -> no-op
            (6, 4, "error", 0.0, t1),
            # user 5: target only -> carried through
            (7, 5, "view", 50.0, t0),
            # user 6: upsert with NULL value must OVERWRITE, not keep stale
            (8, 6, "view", 60.0, t0),
            (9, 6, "click", None, t1),
            # user 7: latest-op tie-break — delete then a later upsert wins
            (10, 7, "error", 0.0, t1),
            (11, 7, "click", 77.0, t1 + dt.timedelta(seconds=1)),
        ],
    )
    out = {r["user_id"]: r for r in merge_upsert(ev).collect()}
    assert set(out) == {1, 3, 5, 6, 7}
    assert out[1]["value"] == 99.0
    assert out[3]["value"] == 30.0
    assert out[5]["value"] == 50.0
    assert out[6]["value"] is None
    assert out[7]["value"] == 77.0


def test_merge_upsert_is_idempotent_reapply(spark):
    # Re-merging the SAME batch onto the merged state changes nothing
    # (deletes already gone stay no-ops; upserts rewrite the same value).
    t0 = dt.datetime(2024, 1, 10)
    t1 = dt.datetime(2024, 1, 20)
    ev = _ev(
        spark,
        [
            (1, 1, "view", 10.0, t0),
            (2, 1, "click", 99.0, t1),
            (3, 2, "view", 20.0, t0),
            (4, 2, "error", 0.0, t1),
        ],
    )
    once = merge_upsert(ev)
    # Rebuild an event log equivalent to "state + same batch again".
    state_as_events = once.select(
        (F.col("user_id") + 100).alias("event_id"),  # fresh ids, pre-cutoff
        "user_id",
        F.lit("view").alias("event_type"),
        "value",
        F.timestamp_micros(F.lit(1704844800000000)).cast("timestamp_ntz").alias("ts"),
    )
    batch = ev.filter(F.col("event_id").isin(2, 4))
    twice = merge_upsert(state_as_events.unionByName(batch))
    a = sorted((r["user_id"], r["value"]) for r in once.collect())
    b = sorted((r["user_id"], r["value"]) for r in twice.collect())
    assert a == b


def _py_tv_micro(corpus_a, corpus_b):
    """Pure-Python exact TV in micro-units: floor(1e6 * N / (2AB))."""
    from collections import Counter

    ca, cb = Counter(corpus_a), Counter(corpus_b)
    A, B = sum(ca.values()), sum(cb.values())
    n = sum(abs(ca.get(t, 0) * B - cb.get(t, 0) * A) for t in set(ca) | set(cb))
    return (1_000_000 * n) // (2 * A * B)


def test_corpus_drift_random_corpora_vs_python(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    sources = {}
    rows = []
    for si, s in enumerate(["a", "b", "c"]):
        toks = [rng.choice(vocab[: 6 + 3 * si]) for _ in range(200)]
        sources[s] = toks
        # split each source's tokens across several docs
        for d in range(4):
            rows.append(
                (si * 10 + d, s, " ".join(toks[d * 50 : (d + 1) * 50]))
            )
    out = {
        (r["src_a"], r["src_b"]): r["tv_micro"]
        for r in corpus_drift(_docs(spark, rows)).collect()
    }
    for x, y in [("a", "b"), ("a", "c"), ("b", "c")]:
        assert out[(x, y)] == _py_tv_micro(sources[x], sources[y]), (x, y)


def test_market_basket_vs_python(spark, sf_dir):
    """The registered A-priori pair query against a pure-Python miner on
    the real fixture."""
    from collections import Counter
    from itertools import combinations

    import __spark_entry__ as entry

    got = {
        (r["part_a"], r["part_b"]): (r["support"], r["lift_ppm"])
        for r in entry.queries()["market_basket"](spark, sf_dir).collect()
    }

    import duckdb

    rows = duckdb.sql(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{sf_dir}/lineitem.parquet'"
    ).fetchall()
    baskets = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(p)
    item = Counter(p for ps in baskets.values() for p in ps)
    pair = Counter()
    for ps in baskets.values():
        for a, b in combinations(sorted(ps), 2):
            pair[(a, b)] += 1
    n = len(baskets)
    want = {
        (a, b): (c, (c * n * 1_000_000) // (item[a] * item[b]))
        for (a, b), c in pair.items()
        if c >= 2 and item[a] >= 2 and item[b] >= 2
    }
    assert got == want
