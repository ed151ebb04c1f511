"""Counting the Spark jobs a piece of driver code launches."""

from __future__ import annotations

import uuid


def count_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a job group and the
    status tracker (neither is a Spark action)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))
