"""foreachBatch is AT-LEAST-ONCE: a failed micro-batch re-runs with the
SAME batch_id. Non-idempotent folds (CMS cell sums, mart count/sum states)
would silently double that batch's contribution. These tests drive the
fold driver (streaming/state.fold_batch) directly with each state's step —
once, replayed, then advanced — and assert the replay is a no-op while
genuinely new batches still land."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.incremental import mart_step, present
from etl_pipeline_last_fm_spark.operators.sketch import (
    cms_counters,
    cms_step,
    hll_step,
    merge_cms_grids,
)
from etl_pipeline_last_fm_spark.streaming.state import (
    fold_batch,
    list_state_versions,
    read_state,
)


def _toks(spark, words):
    return spark.createDataFrame([(w,) for w in words], "tok string")


def _grid_map(df):
    return {(r["__d"], r["__cell"]): r["__cnt"] for r in df.collect()}


def test_cms_fold_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "cms_state")
    b0 = _toks(spark, ["a", "b", "a"])
    b1 = _toks(spark, ["b", "c"])

    fold_batch(b0, 0, state, cms_step(depth=2, width=16))
    after_b0 = _grid_map(read_state(spark, state))

    # Replay of batch 0 (same batch_id) must not inflate any cell.
    fold_batch(b0, 0, state, cms_step(depth=2, width=16))
    assert _grid_map(read_state(spark, state)) == after_b0

    # A genuinely new batch still folds in...
    fold_batch(b1, 1, state, cms_step(depth=2, width=16))
    want = _grid_map(
        merge_cms_grids(
            cms_counters(b0, depth=2, width=16),
            cms_counters(b1, depth=2, width=16),
        )
    )
    assert _grid_map(read_state(spark, state)) == want

    # ...and replaying IT is again a no-op.
    fold_batch(b1, 1, state, cms_step(depth=2, width=16))
    assert _grid_map(read_state(spark, state)) == want
    assert list_state_versions(spark, state)[-1][0] == 1


def test_mart_fold_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "mart_state")
    b0 = spark.createDataFrame(
        [("click", 2.0), ("click", 3.0), ("view", 1.0)],
        "event_type string, value double",
    )
    b1 = spark.createDataFrame([("view", 5.0)], "event_type string, value double")

    fold_batch(b0, 0, state, mart_step(["event_type"], "value"))
    fold_batch(b0, 0, state, mart_step(["event_type"], "value"))  # replay
    fold_batch(b1, 1, state, mart_step(["event_type"], "value"))
    fold_batch(b1, 1, state, mart_step(["event_type"], "value"))  # replay

    got = {
        r["event_type"]: (r["value_sum"], r["n_rows"])
        for r in present(read_state(spark, state), ["event_type"]).collect()
    }
    assert got == {"click": (5.0, 2), "view": (6.0, 2)}


def test_hll_fold_replay_guard(spark, tmp_path):
    """HLL max-merge is idempotent anyway; the guard must still skip the
    replayed batch (uniform behavior) without changing the estimate."""
    state = str(tmp_path / "hll_state")
    b0 = spark.createDataFrame(
        [("click", 1), ("click", 2), ("view", 1)],
        "event_type string, user_id long",
    )
    fold_batch(b0, 0, state, hll_step("user_id", ["event_type"], b=4))
    regs = sorted(map(tuple, read_state(spark, state).collect()))
    fold_batch(b0, 0, state, hll_step("user_id", ["event_type"], b=4))
    assert sorted(map(tuple, read_state(spark, state).collect())) == regs
    assert list_state_versions(spark, state)[-1][0] == 0


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_census_fold_replay_and_equivalence(spark, tmp_path):
    from etl_pipeline_last_fm_spark.operators.text import corpus_drift
    from etl_pipeline_last_fm_spark.streaming.drift import (
        census_step,
        read_drift,
    )

    state = str(tmp_path / "census_state")
    b0 = _docs(spark, [(1, "a", "x x y"), (2, "b", "x z")])
    b1 = _docs(spark, [(3, "a", "y z"), (4, "c", "p q")])

    fold_batch(b0, 0, state, census_step)
    once = sorted(map(tuple, read_drift(spark, state).collect()))

    # Replay of batch 0 must be a no-op (census sums are NOT idempotent).
    fold_batch(b0, 0, state, census_step)
    assert sorted(map(tuple, read_drift(spark, state).collect())) == once

    # Folding a new batch: stream state == batch corpus_drift of the union.
    fold_batch(b1, 1, state, census_step)
    want = sorted(map(tuple, corpus_drift(b0.unionByName(b1)).collect()))
    assert sorted(map(tuple, read_drift(spark, state).collect())) == want


def test_postings_fold_replay_and_equivalence(spark, tmp_path):
    from etl_pipeline_last_fm_spark.operators.text import inverted_index
    from etl_pipeline_last_fm_spark.streaming.drift import (
        postings_step,
        read_inverted_index,
    )

    state = str(tmp_path / "postings_state")
    b0 = _docs(spark, [(1, "a", "x y x"), (2, "b", "x z")])
    b1 = _docs(spark, [(3, "a", "y z q"), (4, "c", "x")])

    fold_batch(b0, 0, state, postings_step)
    once = sorted(map(tuple, read_inverted_index(spark, state, min_df=1).collect()))
    fold_batch(b0, 0, state, postings_step)  # replay must be a no-op
    assert sorted(map(tuple, read_inverted_index(spark, state, min_df=1).collect())) == once

    fold_batch(b1, 1, state, postings_step)
    want = sorted(
        map(tuple, inverted_index(b0.unionByName(b1), min_df=1).collect())
    )
    assert sorted(map(tuple, read_inverted_index(spark, state, min_df=1).collect())) == want


def test_checksum_fold_replay_and_equivalence(spark, tmp_path):
    """Streaming per-bucket checksums: replay is a no-op, and the folded
    state equals the one-shot checksum of the concatenated batches
    (modular addition is associative — (a+b) mod m folds batch-wise)."""
    from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60
    from etl_pipeline_last_fm_spark.streaming.drift import (
        checksum_state,
        checksum_step,
    )

    def hashed(rows):
        df = spark.createDataFrame([(r,) for r in rows], "s string")
        return df.select(portable_hash60(F.col("s")).alias("__h"))

    state = str(tmp_path / "ck_state")
    b0 = ["alpha", "beta", "gamma", "delta"]
    b1 = ["epsilon", "zeta"]

    fold_batch(hashed(b0), 0, state, checksum_step())
    once = sorted(map(tuple, read_state(spark, state).collect()))
    fold_batch(hashed(b0), 0, state, checksum_step())  # replay no-op
    assert sorted(map(tuple, read_state(spark, state).collect())) == once

    fold_batch(hashed(b1), 1, state, checksum_step())
    want = sorted(map(tuple, checksum_state(hashed(b0 + b1)).collect()))
    assert sorted(map(tuple, read_state(spark, state).collect())) == want


def test_commit_crash_safety_partial_snapshot_ignored(spark, tmp_path):
    """A crash mid-commit (part files written, no _SUCCESS) must leave the
    previous snapshot as the readable state — the r4 mode('overwrite')
    layout destroyed the only copy in exactly this window. Readers key on
    the _SUCCESS marker, so the marker-less directory is invisible, and
    the replayed batch clobbers only its own partial."""
    state = str(tmp_path / "cms_state")
    b0 = _toks(spark, ["a", "b", "a"])
    b1 = _toks(spark, ["b", "c"])

    fold_batch(b0, 0, state, cms_step(depth=2, width=16))
    after_b0 = _grid_map(read_state(spark, state))

    # Simulate the crash: batch 1's snapshot dir exists with data but no
    # _SUCCESS marker (write died between part files and commit marker).
    partial = tmp_path / "cms_state" / "_v=1"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"\x00garbage, not parquet")

    # Reader ignores the partial; state is still exactly post-batch-0.
    assert [v for v, _ in list_state_versions(spark, state)] == [0]
    assert _grid_map(read_state(spark, state)) == after_b0
    assert list_state_versions(spark, state)[-1][0] == 0

    # The streaming replay of batch 1 re-runs, clobbers its own partial,
    # and commits on top of the intact previous snapshot.
    fold_batch(b1, 1, state, cms_step(depth=2, width=16))
    want = _grid_map(
        merge_cms_grids(
            cms_counters(b0, depth=2, width=16),
            cms_counters(b1, depth=2, width=16),
        )
    )
    assert _grid_map(read_state(spark, state)) == want
    assert [v for v, _ in list_state_versions(spark, state)] == [0, 1]


def test_commit_retention_prunes_old_snapshots(spark, tmp_path):
    """Snapshots older than the newest two are pruned AFTER the new commit
    lands; the live snapshot always reflects the full fold history."""
    state = str(tmp_path / "cms_state")
    batches = [["a"], ["b", "b"], ["c"], ["a", "c"]]
    for i, words in enumerate(batches):
        fold_batch(_toks(spark, words), i, state, cms_step(depth=2, width=16))

    # retention = 2: only the two newest snapshots survive...
    assert [v for v, _ in list_state_versions(spark, state)] == [2, 3]
    # ...and the newest one equals the fold of ALL batches.
    want = _grid_map(
        cms_counters(_toks(spark, sum(batches, [])), depth=2, width=16)
    )
    assert _grid_map(read_state(spark, state)) == want


def test_legacy_flat_state_layout_raises(spark, tmp_path):
    """ADVICE r5 item 3: a pre-versioning state directory (bare parquet
    part files at the root, no _v=* snapshot) must raise, not be silently
    treated as an empty first-batch state — that would restart a durable
    fold from zero and lose the accumulated counts."""
    import pytest

    from etl_pipeline_last_fm_spark.streaming.state import commit_state

    root = str(tmp_path / "legacy_state")
    spark.range(5).write.parquet(root)  # the old flat layout
    with pytest.raises(ValueError, match="flat .pre-versioning."):
        list_state_versions(spark, root)

    # A properly versioned root (even alongside stray non-part files such
    # as _SUCCESS markers at the top level) still lists normally.
    root2 = str(tmp_path / "versioned_state")
    commit_state(spark.range(5), root2, batch_id=0)
    assert [b for b, _ in list_state_versions(spark, root2)] == [0]


def _count_jobs(spark, fn):
    """Spark jobs ``fn`` launches, counted through a job group and the
    status tracker (neither is a Spark action)."""
    sc = spark.sparkContext
    group = f"replay-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _replay_case(spark, case):
    """(batch, step, parts) for one fold shape of the driver."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        ATTRIBUTION_PARTS,
        attribution_step,
    )
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch
    from etl_pipeline_last_fm_spark.streaming.ivm import JOIN_PARTS, join_step

    events = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:00:00", "view", 5.0),
         (1, 11, "2024-01-03 00:00:00", "purchase", 8.0),
         (2, 20, "2024-01-02 00:00:00", "purchase", 6.0)],
        "user_id long, event_id long, ts string, event_type string,"
        " value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    marts = "event_type string, value double"
    if case == "mart":
        batch = spark.createDataFrame([("click", 2.0), ("view", 1.0)], marts)
        return batch, mart_step(["event_type"], "value"), None
    if case == "empty_state":
        batch = spark.createDataFrame([], marts)
        return batch, mart_step(["event_type"], "value"), None
    if case == "ema":
        return events.drop("event_type"), ema_fold_batch, None
    if case == "join":
        batch = spark.createDataFrame(
            [("a", 1, "a1", None), ("b", 1, None, 10)],
            "side string, k long, a_val string, b_val long",
        )
        return batch, join_step(["k"]), JOIN_PARTS
    assert case == "attribution"
    return events, attribution_step(), ATTRIBUTION_PARTS


@pytest.mark.parametrize(
    "case", ["mart", "ema", "join", "attribution", "empty_state"]
)
def test_replayed_batch_launches_no_spark_job(spark, tmp_path, case):
    """The replay guard is the guard state's latest committed version,
    i.e. a directory name: deciding that a replayed micro-batch is already
    folded launches no Spark job, whatever the fold's shape — additive,
    ordered, the three-part join, the two-part attribution — and also when
    the committed state is empty (a guard stored in the state's rows has
    no row to read there)."""
    root = str(tmp_path / case)
    batch, step, parts = _replay_case(spark, case)
    fold_batch(batch, 0, root, step, parts)
    guard = root if parts is None else f"{root}/{parts[-1]}"
    before = sorted(map(tuple, read_state(spark, guard).collect()))

    assert _count_jobs(
        spark, lambda: fold_batch(batch, 0, root, step, parts)
    ) == 0
    assert [v for v, _ in list_state_versions(spark, guard)] == [0]
    assert sorted(map(tuple, read_state(spark, guard).collect())) == before


def test_parent_format_snapshot_folds_and_reads_without_bid(spark, tmp_path):
    """A snapshot committed with the old in-row replay guard (a constant
    ``__bid`` column) still replays as a no-op, folds the next batch, and
    reads back without the column."""
    from etl_pipeline_last_fm_spark.streaming.state import commit_state

    state = str(tmp_path / "mart_state")
    step = mart_step(["event_type"], "value")
    b0 = spark.createDataFrame(
        [("click", 2.0), ("click", 3.0), ("view", 1.0)],
        "event_type string, value double",
    )
    b1 = spark.createDataFrame([("view", 5.0)], "event_type string, value double")
    commit_state(step(None, b0).withColumn("__bid", F.lit(0)), state, 0)
    assert "__bid" not in read_state(spark, state).columns

    fold_batch(b0, 0, state, step)  # replay of the committed batch
    fold_batch(b1, 1, state, step)
    got = read_state(spark, state)
    assert "__bid" not in got.columns
    assert {
        r["event_type"]: (r["value_sum"], r["n_rows"])
        for r in present(got, ["event_type"]).collect()
    } == {"click": (5.0, 2), "view": (6.0, 2)}
