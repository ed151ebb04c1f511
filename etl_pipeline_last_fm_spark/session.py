"""SparkSession factory with scale-appropriate defaults.

The reference delegates execution to a single-node Postgres 13
(reference docker-compose.yaml:43-51); here every query is a Catalyst plan.
Defaults below are chosen for correctness-at-scale (SURVEY.md §7 step 7):

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting,
  which is what survives a 100x scale-up without retuning.
- ``spark.sql.shuffle.partitions`` sized for the local fixtures but expected
  to be overridden (or AQE-coalesced) on a real cluster.
- Arrow enabled so the few pandas-UDF extension operators use vectorized
  batch transfer instead of row-at-a-time pickling.
- Spark's generated-code cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``), so a plan shape that ran once in this JVM
  reuses its compiled classes instead of recompiling them with Janino.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Classes Spark's codegen cache may hold (``spark.sql.codegen.cache.maxEntries``,
# default 100). Counted with Spark's ``CodegenMetrics`` at ``local[4]``:
# - a daily schedule (perfbench daily_small) compiles about 250 distinct
#   classes: the warm-up day 160, the backfill 63–68, each later day or
#   re-run 0–10;
# - one pass over the 9 bench headliners compiles about 185.
# At 100 entries neither fits, so every re-run day recompiled ~130 classes
# and every headliner pass ~180. 1,000 holds both with room for the
# registry's other families; an entry is one compiled class of a few KB
# to a few hundred KB.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "etl_pipeline_last_fm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes ``None`` and lets spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # A static conf: it sizes the JVM-wide cache when the first plan
        # compiles, so it must be set before the session exists.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Self-joins on exploded shingles etc. produce huge intermediate
        # rows; keep broadcast threshold at the default 10MB — dims in this
        # engine are tiny (SURVEY.md §2.4) and get explicit broadcast() hints.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def memory_starved_conf() -> dict[str, str]:
    """The certified-green forced-spill profile for memory-starved clusters
    (VERDICT r10 item 6) — pass to ``get_spark(extra_conf=...)`` or set at
    runtime (all are SQL confs). Every buffering operator takes its
    disk-spill path after a few dozen in-memory rows: window / sort-merge
    join / cartesian buffers at (in-memory, spill) thresholds (64, 256) /
    (256, 1024) / (16, 64), and ObjectHashAggregate falls back to
    sort-based aggregation after 16 hash-map entries. These exact values
    are what the round-10 spill-axis sweep certified 205/205 at both SFs
    (ROUND_CLOSE_r10_spillfix.json).

    Why these numbers and not 1 (the operational lesson): spill.threshold=1
    writes one spill FILE per buffered row, and every spill-file reader
    allocates a ~1 MB read-ahead buffer (UnsafeSorterSpillReader) — a
    60k-row buffer tried to allocate tens of GB of read-ahead and
    OOM-killed the JVM; a sort-merge join additionally RE-READS its
    buffered group once per left-side rematch, multiplying the allocation
    by (rematches × files). The thresholds below force the spill path on
    every genuinely large buffer while keeping the file count (and the
    rematch product) bounded. scripts/config_invariance.py's CONFIG_SPILL
    layers these on top of its plan-hostile config B."""
    return {
        "spark.sql.windowExec.buffer.in.memory.threshold": "64",
        "spark.sql.windowExec.buffer.spill.threshold": "256",
        "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold": "256",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "1024",
        "spark.sql.cartesianProductExec.buffer.in.memory.threshold": "16",
        "spark.sql.cartesianProductExec.buffer.spill.threshold": "64",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "16",
    }


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = True,
) -> dict[str, str]:
    """Object-store (S3/MinIO) configuration for ``get_spark(extra_conf=...)``.

    The reference lands its raw zone in MinIO (reference
    docker-compose.yaml:53-63, dags/raw_from_api_to_s3.py:47-54); the Spark
    equivalent is the s3a Hadoop filesystem — pass this dict at session build
    time and every path in the engine (warehouse root, raw zone, testdata)
    can be an ``s3a://bucket/...`` URI. That includes the dim-snapshot
    commit-marker bookkeeping: since round 11 it goes through the Hadoop
    FileSystem API (sources/fs.py), which resolves the right filesystem
    per scheme from this same configuration.

    Credentials default to the provider chain (env vars / instance profile);
    pass explicit keys only for MinIO-style local stacks.
    ``path_style_access`` on is what MinIO needs (no virtual-host buckets).
    Not exercised live in this sandbox (no object store, and the hadoop-aws
    jar ships separately); the dict shape is unit-tested so the recipe stays
    propagation-correct.
    """
    conf = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        # Upload straight from memory buffers; the default disk-buffer path
        # doubles write IO on large shuffle-heavy jobs.
        "spark.hadoop.fs.s3a.fast.upload": "true",
        # Directory-listing consistency + rename-free commits: the magic
        # committer avoids the O(files) copy-on-rename that makes plain
        # FileOutputCommitter v1/v2 both slow AND unsafe on object stores.
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
    if access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
    if secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    if path_style_access:
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
    return conf
