"""The one replay-guarded fold driver behind every streaming state.

Structured Streaming's ``foreachBatch`` is AT-LEAST-ONCE: after a failure
the last micro-batch re-runs with the SAME batch_id. A fold that sums
(marts, censuses, CMS cells), appends (the join's ΔM) or carries an
ordered recurrence (EMA, CUSUM, attribution) would silently apply that
batch twice. Every streaming state therefore goes through ``fold_batch``,
which owns the whole protocol; a state supplies only its
``step(prev, batch) -> state``.

On-disk layout: a state is a directory of versioned snapshots
``root/_v=<batch_id>``, each committed by its ``_SUCCESS`` marker
(``commit_state``). A multi-part state keeps one such directory per part
(``root/{a,b,m}`` for the join, ``root/{k,c}`` for attribution); the LAST
part is the guard.

- **Guard.** A batch is applied iff the guard's latest committed version
  is below its batch_id. The version is the snapshot's directory name, so
  deciding that a replay has nothing to do is a directory listing — no
  Spark job. This relies on Structured Streaming's per-query monotonic
  batch ids and a single writer; multi-writer state needs a
  transactional table format.
- **Reads.** Every part is read at its latest version BELOW the batch_id.
  A crash after some parts committed v=N but before the guard did replays
  batch N against exactly the pre-batch states, so the replay recommits
  v=N idempotently instead of double-counting. That is why
  ``commit_state`` keeps the newest two snapshots; if the guard exists but another part has no pre-batch version the fold
  raises rather than silently refolding from empty.
- **Commits** run in ``parts`` order, guard last, so the guard never
  claims a batch whose other parts are missing. A crash mid-write leaves
  a marker-less directory every reader ignores; older snapshots are
  pruned only after the new one is committed.

Snapshots written before the guard moved to directory names carry a
constant ``__bid`` column; reads drop it, so that state still folds.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_last_fm_spark.sources import fs

#: Replay-guard column of snapshots committed by earlier releases.
_LEGACY_BID = "__bid"


def list_state_versions(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """Committed state snapshots under ``root``, ascending by batch_id.
    A snapshot counts as committed only once its ``_SUCCESS`` marker
    exists — a crash mid-write leaves a marker-less directory that every
    reader ignores. Directory names start with ``_`` so a stray
    ``spark.read.parquet(root)`` fails loudly (Spark skips underscore
    children) instead of silently unioning every snapshot."""
    root = root.rstrip("/")
    names = fs.list_dir(spark, root)
    out: list[tuple[int, str]] = []
    for name in names:
        if not name.startswith("_v="):
            continue
        try:
            bid = int(name[3:])
        except ValueError:
            continue
        path = f"{root}/{name}"
        if fs.exists(spark, f"{path}/_SUCCESS"):
            out.append((bid, path))
    if not out and any(n.startswith("part-") for n in names):
        # Legacy-layout tripwire: a pre-versioning state directory holds
        # bare parquet part files at the root. Returning [] would treat a
        # populated durable state as "first batch" and restart the fold
        # from empty — silent data loss.
        raise ValueError(
            f"state root {root!r} holds a flat (pre-versioning) "
            "parquet snapshot; migrate once with: "
            "commit_state(spark.read.parquet(root_tmp), root, "
            "batch_id=-1) after moving the old files to root_tmp"
        )
    return sorted(out)


def commit_state(state_df: DataFrame, root: str, batch_id: int) -> None:
    """Crash-safe state commit: write the new snapshot to its OWN
    versioned directory (``root/_v=<batch_id>``), then prune all but the
    newest two snapshots. The previous snapshot is deleted
    only AFTER the new one's ``_SUCCESS`` exists, so at every instant at
    least one complete copy of the state is on disk. Overwrite semantics
    apply only WITHIN a version: a replay that crashed mid-write re-runs
    with the same batch_id and clobbers its own partial, never a committed
    older snapshot. The write target is never the read source, so lineage
    is one snapshot deep by construction (prev parquet + batch)."""
    spark = state_df.sparkSession
    state_df.write.mode("overwrite").parquet(
        f"{root.rstrip('/')}/_v={int(batch_id)}"
    )
    for _bid, path in list_state_versions(spark, root)[:-2]:
        fs.delete_recursive(spark, path)


def read_state(spark: SparkSession, root: str) -> DataFrame:
    """Latest committed snapshot; raises if no commit has landed yet."""
    versions = list_state_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no committed state snapshot under {root}")
    return spark.read.parquet(versions[-1][1]).drop(_LEGACY_BID)


def fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    root: str,
    step: Callable,
    parts: Sequence[str] | None = None,
) -> None:
    """Fold ONE micro-batch into the state under ``root`` (see the module
    docstring for the protocol). With ``parts=None`` the state is one
    frame and ``step(prev_or_None, batch) -> state``; with parts, ``prev``
    and the result are tuples holding one frame (or None) per part."""
    spark = batch_df.sparkSession
    bid = int(batch_id)
    roots = [root] if parts is None else [f"{root.rstrip('/')}/{p}" for p in parts]
    versions = [list_state_versions(spark, r) for r in roots]
    guard = versions[-1]
    if guard and guard[-1][0] >= bid:
        return  # replayed micro-batch, already folded
    prevs = []
    for vs in versions:
        before = [p for b, p in vs if b < bid]
        prevs.append(
            spark.read.parquet(before[-1]).drop(_LEGACY_BID) if before else None
        )
    if guard and None in prevs:
        raise RuntimeError(
            f"pre-batch state missing under {root} for batch {bid} while"
            " the guard state exists — retention too aggressive?"
        )
    new = step(prevs[0] if parts is None else tuple(prevs), batch_df)
    for state, r in zip((new,) if parts is None else new, roots, strict=True):
        commit_state(state, r, bid)


def maintain(
    stream: DataFrame,
    root: str,
    step: Callable,
    parts: Sequence[str] | None = None,
    checkpoint: str | None = None,
):
    """Maintain the state under ``root`` over ``stream``: every
    micro-batch goes through ``fold_batch``. Returns the
    DataStreamWriter — the caller picks the trigger and calls
    ``.start()``; read the state with ``read_state`` on the guard part."""
    writer = stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: fold_batch(batch_df, batch_id, root, step, parts)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
