"""Z-order layout keys, weighted sampling, streaming CMS maintenance."""

from __future__ import annotations

import glob
import math

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.sampling import weighted_sample
from etl_pipeline_last_fm_spark.operators.zorder import (
    write_zordered,
    zorder_key,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table
from etl_pipeline_last_fm_spark.operators.sketch import cms_step, merge_cms_grids
from etl_pipeline_last_fm_spark.streaming.state import maintain, read_state


def test_zorder_canonical_4x4_traversal(spark):
    """Sorting a 4x4 grid by the Morton key must visit the classic
    Z-curve: quadrant by quadrant, Z-shape within each."""
    pts = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x int, y int"
    )
    got = [
        (r["x"], r["y"])
        for r in pts.select("x", "y", zorder_key(F.col("x"), F.col("y"), 2).alias("z"))
        .orderBy("z")
        .collect()
    ]
    assert got == [
        (0, 0), (1, 0), (0, 1), (1, 1),
        (2, 0), (3, 0), (2, 1), (3, 1),
        (0, 2), (1, 2), (0, 3), (1, 3),
        (2, 2), (3, 2), (2, 3), (3, 3),
    ]


def test_zorder_rejects_bad_bits(spark):
    with pytest.raises(ValueError):
        zorder_key(F.lit(1), F.lit(1), bits=31)


def _file_span_fraction(path: str, col: str) -> float:
    """Mean per-file (max-min) span of col as a fraction of the global
    span — the data-skipping quality metric (lower = better pruning)."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    spans, lo_g, hi_g = [], math.inf, -math.inf
    for f in files:
        t = pq.read_table(f, columns=[col])
        c = t.column(col).to_pylist()
        lo, hi = min(c), max(c)
        spans.append(hi - lo)
        lo_g, hi_g = min(lo_g, lo), max(hi_g, hi)
    return (sum(spans) / len(spans)) / (hi_g - lo_g)


def test_write_zordered_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files must have much smaller per-file min/max spans than
    a hash-partitioned write on BOTH columns — that span is exactly what
    parquet/file-level stats pruning cuts scans with."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    base = str(tmp_path / "plain")
    zord = str(tmp_path / "zorder")
    li.repartition(8).write.parquet(base)
    write_zordered(li, zord, "l_partkey", "l_suppkey", bits=10, n_files=8)

    for col in ("l_partkey", "l_suppkey"):
        plain_span = _file_span_fraction(base, col)
        z_span = _file_span_fraction(zord, col)
        assert z_span < plain_span * 0.75, (col, z_span, plain_span)
    # Round-trip integrity.
    assert spark.read.parquet(zord).count() == li.count()


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """Sampling proportional-to-tokens must overrepresent heavy docs: the
    mean token count of the sample exceeds the corpus mean."""
    docs = load_table(spark, sf_dir, "documents")
    samp = weighted_sample(docs, k=50)
    assert samp.count() == 50
    mean_s = samp.agg(F.avg("n_tokens")).collect()[0][0]
    mean_all = docs.select(
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n")
    ).agg(F.avg("n")).collect()[0][0]
    assert mean_s > mean_all


def test_weighted_sample_deterministic_and_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, weighted_sample(docs, k=20).collect()))
    b = sorted(map(tuple, weighted_sample(docs.repartition(13), k=20).collect()))
    assert a == b


def test_streaming_cms_equals_batch_sketch(spark, sf_dir, tmp_path):
    """foreachBatch-maintained CMS state after an availableNow replay over
    3 files equals the batch grid over the full token stream."""
    from etl_pipeline_last_fm_spark.operators.sketch import cms_counters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")

    src = str(tmp_path / "tok_files")
    toks.repartition(3).write.parquet(src)

    state = str(tmp_path / "cms_state")
    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        maintain(
            stream, state, cms_step(depth=2, width=64),
            checkpoint=str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["__d"], r["__cell"]): r["__cnt"]
        for r in read_state(spark, state).collect()
    }
    want = {
        (r["__d"], r["__cell"]): r["__cnt"]
        for r in cms_counters(toks, depth=2, width=64).collect()
    }
    assert got == want


def test_merge_cms_grids_is_associative(spark):
    a = spark.createDataFrame([("a",), ("b",)], "tok string")
    b = spark.createDataFrame([("b",), ("c",)], "tok string")
    c = spark.createDataFrame([("c",), ("a",)], "tok string")
    from etl_pipeline_last_fm_spark.operators.sketch import cms_counters

    g = lambda df: cms_counters(df, depth=2, width=8)
    left = merge_cms_grids(merge_cms_grids(g(a), g(b)), g(c))
    right = merge_cms_grids(g(a), merge_cms_grids(g(b), g(c)))
    as_map = lambda df: {
        (r["__d"], r["__cell"]): r["__cnt"] for r in df.collect()
    }
    assert as_map(left) == as_map(right)


def test_streaming_hll_equals_batch_estimate(spark, sf_dir, tmp_path):
    """Stream-maintained HLL registers (register-wise max folds across 3
    micro-batches) estimate exactly what the batch operator computes."""
    from etl_pipeline_last_fm_spark.operators.sketch import (
        hll_distinct,
        hll_estimate_from_registers,
        hll_step,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    src = str(tmp_path / "ev_files")
    ev.repartition(3).write.parquet(src)

    state = str(tmp_path / "hll_state")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        maintain(
            stream, state,
            hll_step(value_col="user_id", group_cols=["event_type"], b=6),
            checkpoint=str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        map(
            tuple,
            hll_estimate_from_registers(
                read_state(spark, state), ["event_type"], b=6
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            hll_distinct(ev, "user_id", ["event_type"], b=6)
            .select("event_type", "n_approx")
            .collect(),
        )
    )
    assert got == want


def test_zorder_key_is_injective_property(spark):
    """Hypothesis: distinct (x, y) pairs in range always map to distinct
    Morton keys (bit interleaving is a bijection onto [0, 4^bits))."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_pipeline_last_fm_spark.operators.zorder import zorder_key

    @given(
        st.lists(
            st.tuples(st.integers(0, 255), st.integers(0, 255)),
            min_size=2, max_size=30, unique=True,
        )
    )
    @settings(max_examples=10, deadline=None)
    def check(pairs):
        df = spark.createDataFrame(pairs, "x int, y int")
        keys = [
            r["z"]
            for r in df.select(
                zorder_key(F.col("x"), F.col("y"), 8).alias("z")
            ).collect()
        ]
        assert len(set(keys)) == len(pairs)
        assert all(0 <= k < 4**8 for k in keys)

    check()
