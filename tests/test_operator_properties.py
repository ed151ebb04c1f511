"""Property-based operator laws (SURVEY.md §5.2 item 4):

- idempotent_append: append twice ≡ append once (set semantics on keys)
- first_writer_wins: deterministic minimum-by-tiebreaker per key group
- assign_surrogate_keys: dense 1..N ids; incremental loads never renumber
  previously assigned rows
- impute: sentinel never survives when a non-sentinel partner exists in the
  partition; all-sentinel partitions yield NULL
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.idempotent import first_writer_wins, idempotent_append
from etl_pipeline_last_fm_spark.operators.impute import impute_zero_with_partition_mean
from etl_pipeline_last_fm_spark.operators.surrogate import (
    assign_surrogate_keys,
    assign_surrogate_keys_distributed,
    assign_surrogate_keys_grouped,
)

SETTINGS = dict(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),  # key
        st.integers(0, 3),  # subkey
        st.text(alphabet="abcde", min_size=1, max_size=3),  # payload/tiebreak
    ),
    min_size=1,
    max_size=30,
)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_append_twice_equals_once(spark, rows):
    df = spark.createDataFrame(rows, "k int, s int, v string")
    keys = ["k", "s"]
    first = idempotent_append(df, None, keys, tiebreaker=["v"])
    materialized = spark.createDataFrame(first.collect(), first.schema)
    second = idempotent_append(df, materialized, keys, tiebreaker=["v"])
    assert second.count() == 0
    # keys of the first append = distinct keys of the batch
    assert first.select(*keys).distinct().count() == first.count()
    assert first.count() == df.select(*keys).distinct().count()


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_first_writer_wins_is_min_by_tiebreaker(spark, rows):
    df = spark.createDataFrame(rows, "k int, s int, v string")
    got = {(r.k, r.s): r.v for r in first_writer_wins(df, ["k", "s"], ["v"]).collect()}
    want: dict = {}
    for k, s, v in rows:
        if (k, s) not in want or v < want[(k, s)]:
            want[(k, s)] = v
    assert got == want


@given(rows=st.lists(st.text(alphabet="abcdef", min_size=1, max_size=4), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_surrogate_keys_dense_and_stable(spark, rows):
    uniq = sorted(set(rows))
    cut = len(uniq) // 2
    keyed1 = assign_surrogate_keys(
        spark.createDataFrame([(v,) for v in uniq[:cut]], "name string"), "id", ["name"]
    )
    m1 = spark.createDataFrame(keyed1.collect(), "name string, id long")
    keyed2 = assign_surrogate_keys(
        spark.createDataFrame([(v,) for v in uniq[cut:]], "name string"), "id", ["name"], existing=m1
    )
    all_rows = {r.name: r.id for r in m1.collect()} | {r.name: r.id for r in keyed2.collect()}
    # dense 1..N
    assert sorted(all_rows.values()) == list(range(1, len(uniq) + 1))
    # batch-1 ids unchanged by batch 2 (stability), and ordered by natural key
    for i, v in enumerate(sorted(uniq[:cut]), start=1):
        assert all_rows[v] == i


def test_surrogate_distributed_matches_window(spark):
    data = [(f"k{i:03d}", i % 7) for i in range(200)]
    df = spark.createDataFrame(data, "name string, grp int").select("name").distinct()
    a = {(r.name, r.id) for r in assign_surrogate_keys(df, "id", ["name"]).collect()}
    b = {
        (r.name, r.id)
        for r in assign_surrogate_keys_distributed(df, "id", ["name"], num_partitions=8).collect()
    }
    assert a == b
    # The grouped variant, bucketed by a prefix of the natural key (so the
    # natural order (pfx, name) is the order of name), with and without an
    # existing offset.
    pfx = df.withColumn("pfx", F.substring("name", 1, 2))
    existing = spark.createDataFrame([(41,), (7,)], "id long")
    for ex, shift in [(None, 0), (existing, 41)]:
        c = {
            (r.name, r.id)
            for r in assign_surrogate_keys_grouped(
                pfx, "id", ["pfx"], ["name"], existing=ex
            ).collect()
        }
        assert c == {(n, i + shift) for n, i in a}


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),  # (partition, value; 0 = sentinel)
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_impute_laws(spark, rows):
    df = spark.createDataFrame(rows, "p int, v int")
    out = impute_zero_with_partition_mean(df, "v", ["p"], out_col="f").collect()
    by_p: dict = {}
    for p, v in rows:
        by_p.setdefault(p, []).append(v)
    for r in out:
        nonzero = [v for v in by_p[r.p] if v != 0]
        if r.v != 0:
            assert r.f == r.v
        elif nonzero:
            import math

            assert r.f == math.floor(sum(nonzero) / len(nonzero) + 0.5)
        else:
            assert r.f is None


docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 10_000),  # doc_id (may collide -> dedupe below)
        st.lists(st.sampled_from("abc xy q".split()), min_size=0, max_size=12),
    ),
    min_size=1,
    max_size=25,
)


@given(raw=docs_strategy)
@settings(**SETTINGS)
def test_pack_sequences_matches_python_prefix_sum(spark, raw):
    from etl_pipeline_last_fm_spark.operators.packing import pack_sequences

    docs_py = {i: " ".join(ws) for i, ws in raw}  # last write wins per id
    df = spark.createDataFrame(list(docs_py.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["tok_offset"])
           for r in pack_sequences(df, budget=7, block_size=3).collect()}
    off = 0
    for i in sorted(docs_py):
        # split-on-space semantics: "" -> [""] (1 token), like Spark/DuckDB
        n = len(docs_py[i].strip().split(" "))
        assert got[i] == (n, off), (i, got[i], n, off)
        off += n


@given(
    obs=st.lists(
        st.tuples(
            st.integers(0, 3),          # key
            st.integers(0, 9),          # day
            st.integers(0, 50),         # tiebreak
            st.sampled_from(["A", "B", "C"]),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1], t[2]),
    )
)
@settings(**SETTINGS)
def test_scd2_islands_match_python_reference(spark, obs):
    from etl_pipeline_last_fm_spark.operators.scd import _scd2_from_obs

    df = spark.createDataFrame(
        [(k, f"2024-01-{d:02d}", tb, a) for k, d, tb, a in obs],
        "k long, __d string, __tb long, attr string",
    )
    got = {
        (r["k"], r["version"]): (r["attr"], r["valid_from"], r["valid_to"])
        for r in _scd2_from_obs(df, "k", "attr").collect()
    }
    # Python reference: sort per key, collapse runs, half-open intervals.
    by_key: dict = {}
    for k, d, tb, a in obs:
        by_key.setdefault(k, []).append((f"2024-01-{d:02d}", tb, a))
    want: dict = {}
    for k, rows in by_key.items():
        rows.sort()
        runs: list = []
        for d, _tb, a in rows:
            if not runs or runs[-1][0] != a:
                runs.append([a, d])
        for v, (a, d) in enumerate(runs, 1):
            nxt = runs[v][1] if v < len(runs) else None
            want[(k, v)] = (a, d, nxt)
    assert got == want


# --- round-4 operators -----------------------------------------------------

_doc_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]), min_size=3, max_size=12
    ).map(" ".join),
    min_size=2,
    max_size=15,
)


@given(texts=_doc_texts, num_den=st.sampled_from([(1, 3), (1, 2), (2, 3), (4, 5)]))
@settings(**SETTINGS)
def test_prefix_filter_lossless_property(spark, texts, num_den):
    """The prefix-filter lemma on RANDOM low-diversity corpora (the
    adversarial regime): output must equal brute-force all-pairs at the
    same integer threshold — lossless is a theorem, not a tuning."""
    from etl_pipeline_last_fm_spark.operators.dedup import _shingles
    from etl_pipeline_last_fm_spark.operators.setsim import prefix_filter_pairs

    num, den = num_den
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b) for r in prefix_filter_pairs(docs, num, den).collect()
    }
    sh = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__toks")
    ).select("doc_id", _shingles("__toks", 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - shared
    want = {
        (r.doc_a, r.doc_b)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(shared * F.lit(den) >= F.lit(num) * union)
        .collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.floats(min_value=-1000, max_value=1000, allow_nan=False), min_size=1, max_size=40
    ),
    cutoff=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_mad_outliers_matches_python_reference(spark, vals, cutoff):
    from etl_pipeline_last_fm_spark.operators.outliers import mad_outliers

    rows = [(i, "g", float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {r.event_id for r in mad_outliers(df, cutoff=cutoff).collect()}
    # python reference: lower median by rank, same integer cutoff
    sv = sorted(vals)
    med = sv[(len(sv) + 1) // 2 - 1]
    devs = sorted(abs(v - med) for v in vals)
    mad = devs[(len(devs) + 1) // 2 - 1]
    want = {i for i, v in enumerate(vals) if abs(v - med) > cutoff * mad}
    assert got == want


@given(
    a_vals=st.lists(st.integers(0, 400), min_size=0, max_size=60),
    b_vals=st.lists(st.integers(0, 400), min_size=0, max_size=60),
)
@settings(**SETTINGS)
def test_kmv_set_ops_exact_when_small(spark, a_vals, b_vals):
    """Below k the merged state is complete, so union/intersection are
    exact set cardinalities for ANY inputs."""
    from etl_pipeline_last_fm_spark.operators.sketch import kmv_set_ops, kmv_state

    a = spark.createDataFrame([(v,) for v in a_vals] or [(None,)], "v long").filter(
        F.col("v").isNotNull()
    )
    b = spark.createDataFrame([(v,) for v in b_vals] or [(None,)], "v long").filter(
        F.col("v").isNotNull()
    )
    sa = kmv_state(a, "v", [], k=512, salt="s")
    sb = kmv_state(b, "v", [], k=512, salt="s")
    row = kmv_set_ops(sa, sb, k=512).collect()[0]
    sa_, sb_ = set(a_vals), set(b_vals)
    assert row.n_union_est == len(sa_ | sb_)
    assert row.n_inter_est == len(sa_ & sb_)


def test_surrogate_distributed_empty_batch(spark):
    """Empty delta (the pipeline's empty-day path): zero new rows means
    zero per-partition counts — the prefix map is empty, and building
    create_map() with no entries types as map<void,void>, which fails
    analysis when indexed by the int partition id (round-11 find, hit by
    the fact build's switch to the distributed variant). Must return an empty
    frame with the key column present, not raise."""
    df = spark.createDataFrame([], "name string")
    out = assign_surrogate_keys_distributed(df, "id", ["name"], num_partitions=4)
    assert out.columns == ["name", "id"]
    assert out.count() == 0
    # The grouped variant: no groups, so no offsets to join.
    grouped = df.withColumn("pfx", F.substring("name", 1, 2))
    out = assign_surrogate_keys_grouped(grouped, "id", ["pfx"], ["name"])
    assert out.columns == ["name", "pfx", "id"]
    assert out.count() == 0
