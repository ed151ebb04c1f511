"""foreachBatch is AT-LEAST-ONCE: a failed micro-batch re-runs with the
SAME batch_id. Non-idempotent folds (CMS cell sums, mart count/sum states)
would silently double that batch's contribution. These tests drive the fold
driver (streaming/state.fold_batch) directly with each state's step —
once, replayed, then advanced — and assert the replay is a no-op while
genuinely new batches still land."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.incremental import (
    additive_step,
    mart_step,
    present,
    sum_by,
)
from etl_pipeline_last_fm_spark.operators.sketch import _grid_from_census
from etl_pipeline_last_fm_spark.streaming.state import (
    fold_batch,
    list_state_versions,
    read_state,
)
from tests.spark_jobs import count_jobs

#: The mart fold every test here drives: (value_sum, n_rows) per event_type.
STEP = mart_step(["event_type"], "value")


def _marts(spark, rows):
    return spark.createDataFrame(rows, "event_type string, value double")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _toks(spark, words):
    return spark.createDataFrame([(w,) for w in words], "tok string")


def _cms_grid(toks, depth=2, width=16):
    """Count-Min counter grid of a token batch, built the way
    cms_heavy_hitters builds it: one census, then the (row, cell) sums."""
    census = toks.groupBy(F.col("tok").alias("__tok")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return _grid_from_census(census, depth=depth, width=width, salt="cms1")


#: CMS grid cells are additive per (row, cell): a non-idempotent fold.
CMS_STEP = additive_step(_cms_grid, sum_by(["__d", "__cell"]))


def test_cms_fold_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "cms_state")
    b0 = _toks(spark, ["a", "b", "a"])
    b1 = _toks(spark, ["b", "c"])

    fold_batch(b0, 0, state, CMS_STEP)
    after_b0 = _rows(read_state(spark, state))

    # Replay of batch 0 (same batch_id) must not inflate any cell.
    fold_batch(b0, 0, state, CMS_STEP)
    assert _rows(read_state(spark, state)) == after_b0

    # A genuinely new batch still folds in: the state equals the grid of
    # both batches at once...
    fold_batch(b1, 1, state, CMS_STEP)
    want = _rows(_cms_grid(b0.unionByName(b1)))
    assert _rows(read_state(spark, state)) == want

    # ...and replaying IT is again a no-op.
    fold_batch(b1, 1, state, CMS_STEP)
    assert _rows(read_state(spark, state)) == want
    assert list_state_versions(spark, state)[-1][0] == 1


def test_mart_fold_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "mart_state")
    b0 = _marts(spark, [("click", 2.0), ("click", 3.0), ("view", 1.0)])
    b1 = _marts(spark, [("view", 5.0)])

    fold_batch(b0, 0, state, STEP)
    after_b0 = _rows(read_state(spark, state))

    # Replay of batch 0 (same batch_id) must not double any sum or count.
    fold_batch(b0, 0, state, STEP)
    assert _rows(read_state(spark, state)) == after_b0

    # A genuinely new batch still folds in: the state equals the step
    # over both batches at once...
    fold_batch(b1, 1, state, STEP)
    want = _rows(STEP(None, b0.unionByName(b1)))
    assert _rows(read_state(spark, state)) == want

    # ...and replaying IT is again a no-op.
    fold_batch(b1, 1, state, STEP)
    assert _rows(read_state(spark, state)) == want
    assert list_state_versions(spark, state)[-1][0] == 1

    got = {
        r["event_type"]: (r["value_sum"], r["n_rows"])
        for r in present(read_state(spark, state), ["event_type"]).collect()
    }
    assert got == {"click": (5.0, 2), "view": (6.0, 2)}


def test_commit_crash_safety_partial_snapshot_ignored(spark, tmp_path):
    """A crash mid-commit (part files written, no _SUCCESS) must leave the
    previous snapshot as the readable state — the r4 mode('overwrite')
    layout destroyed the only copy in exactly this window. Readers key on
    the _SUCCESS marker, so the marker-less directory is invisible, and
    the replayed batch clobbers only its own partial."""
    state = str(tmp_path / "mart_state")
    b0 = _marts(spark, [("click", 2.0), ("click", 3.0), ("view", 1.0)])
    b1 = _marts(spark, [("view", 5.0), ("buy", 4.0)])

    fold_batch(b0, 0, state, STEP)
    after_b0 = _rows(read_state(spark, state))

    # Simulate the crash: batch 1's snapshot dir exists with data but no
    # _SUCCESS marker (write died between part files and commit marker).
    partial = tmp_path / "mart_state" / "_v=1"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"\x00garbage, not parquet")

    # Reader ignores the partial; state is still exactly post-batch-0.
    assert [v for v, _ in list_state_versions(spark, state)] == [0]
    assert _rows(read_state(spark, state)) == after_b0
    assert list_state_versions(spark, state)[-1][0] == 0

    # The streaming replay of batch 1 re-runs, clobbers its own partial,
    # and commits on top of the intact previous snapshot.
    fold_batch(b1, 1, state, STEP)
    want = _rows(STEP(None, b0.unionByName(b1)))
    assert _rows(read_state(spark, state)) == want
    assert [v for v, _ in list_state_versions(spark, state)] == [0, 1]


def test_commit_retention_prunes_old_snapshots(spark, tmp_path):
    """Snapshots older than the newest two are pruned AFTER the new commit
    lands; the live snapshot always reflects the full fold history."""
    state = str(tmp_path / "mart_state")
    batches = [
        [("a", 1.0)], [("b", 2.0), ("b", 3.0)], [("c", 4.0)], [("a", 5.0), ("c", 6.0)]
    ]
    for i, rows in enumerate(batches):
        fold_batch(_marts(spark, rows), i, state, STEP)

    # retention = 2: only the two newest snapshots survive...
    assert [v for v, _ in list_state_versions(spark, state)] == [2, 3]
    # ...and the newest one equals the fold of ALL batches.
    want = _rows(STEP(None, _marts(spark, sum(batches, []))))
    assert _rows(read_state(spark, state)) == want


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

    assert count_jobs(
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
