"""Bloom-filter join pruning: the runtime-filter lever for 100 TB joins.

The classic big-cluster pattern (Spark's own AQE injects it as
`InjectRuntimeFilter` / `BloomFilterAggregate`; implemented here as an
explicit, portable, oracle-checkable operator): when a selective dimension
joins a huge fact, build a tiny bit-set over the dimension's join keys and
filter the fact BEFORE its shuffle. The fact rows that would never find a
match are dropped at the scan, so the shuffle moves only (matches + a
bounded false-positive overhead) instead of the whole fact table.

Reference parity: the reference joins staging to dims inside Postgres
(reference `scripts/` DDL + `dags/from_dds_to_dm_pg.py` inserts) where the planner
does this implicitly; on Spark at 100 TB it is the difference between
shuffling 100 TB and shuffling the 1% that matches.

Portability: every hash is `portable_hash60` (md5-based, bit-identical in
DuckDB), probe positions are k independent salted hashes mod m, and words
are 32-bit lanes stored in BIGINTs — no sign-bit or shift-overflow
ambiguity in either engine. The filter is therefore a pure function of the
key SET: deterministic, mergeable (bitwise OR), replay-safe.

Driver collect: the built filter is m/32 BIGINT words (m=4096 -> 128
words, ~1 KB) — a bounded O(m) literal like the IVF centroid sample
(similarity.py), NOT a corpus-proportional collect. At 100 TB you'd size
m to the dimension's key count (1.44 * n * ln(1/fp) bits) and ship it as
a broadcast variable; the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60

WORD_BITS = 32  # 32-bit lanes in BIGINT words: 1 << bit <= 2^31, no sign play


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    return [
        F.pmod(
            portable_hash60(
                F.concat(F.lit(f"bloom1:{j}:"), key.cast("string"))
            ),
            F.lit(m_bits),
        )
        for j in range(k)
    ]


def build_bloom_words(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k: int = 4,
) -> list[int]:
    """Aggregate the key set into the filter's word array (length m/32,
    dense, zero-filled). One explode (k rows per key) + one groupBy on
    word index = at most m/32 groups — the aggregation state is the filter
    itself, mergeable across partitions by construction (bit_or)."""
    if m_bits % WORD_BITS != 0:
        raise ValueError(f"m_bits must be a multiple of {WORD_BITS}: {m_bits}")
    pos = F.explode(
        F.array(*_positions(F.col(key_col), m_bits, k))
    ).alias("pos")
    words = (
        # NULL keys hash to NULL positions (dense[None] would crash the
        # build, and a NULL probe conjunction would silently drop rows on
        # the filter side): a NULL never equi-joins anyway, so excluding
        # it here preserves join semantics exactly.
        keys.where(F.col(key_col).isNotNull())
        .select(pos)
        .select(
            (F.col("pos") / WORD_BITS).cast("int").alias("widx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    dense = [0] * (m_bits // WORD_BITS)
    for r in words:
        dense[r["widx"]] = r["word"]
    return dense


def bloom_might_contain(
    key: Column, words: list[int], m_bits: int, k: int = 4
) -> Column:
    """Membership test as a pure Column expression over the word-array
    literal: k AND-ed bit probes, no join, no shuffle — evaluates inside
    the fact table's scan stage, under whole-stage codegen.

    A NULL key yields a NULL conjunction, so a filter on this expression
    DROPS NULL-keyed rows — correct for join pruning (a NULL key can
    never equi-join) but callers using it for plain membership tests
    should coalesce first."""
    # F.lit(list), NOT F.array(*lits): F.array builds a CreateArray
    # expression that materializes the m/32-element array PER ROW PER
    # PROBE (measured 12.9 s -> 1.3 s on a 200k-row scan at m=65536);
    # F.lit(list) is a true array Literal, constant-folded once.
    arr = F.lit([int(w) for w in words]).cast("array<long>")
    # masks for all 32 lane positions are literals; pick by index — keeps
    # the probe a pure literal-indexed expression (no dynamic shift, which
    # classic shiftleft() does not accept as a Column).
    masks = F.lit([1 << b for b in range(WORD_BITS)]).cast("array<long>")
    cond = F.lit(True)
    for p in _positions(key, m_bits, k):
        word = F.element_at(arr, (p / WORD_BITS).cast("int") + 1)
        mask = F.element_at(masks, (p % WORD_BITS).cast("int") + 1)
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_prune_join_stats(
    fact: DataFrame,
    fact_key: str,
    dim_keys: DataFrame,
    dim_key: str,
    group_col: str,
    m_bits: int = 4096,
) -> DataFrame:
    """Per ``group_col``: how many fact rows pass the Bloom filter vs how
    many truly join — the filter's selectivity ledger, and (because the
    bloom is deterministic) an exactly reproducible one.

    The true-match count is computed on the PRUNED fact (join after
    filter): no false negatives is a property of the structure, asserted
    in tests, so pruning first loses nothing — which is the whole point.
    """
    words = build_bloom_words(dim_keys, dim_key, m_bits)
    passed = fact.filter(
        bloom_might_contain(F.col(fact_key), words, m_bits)
    )
    # Alias the dim key before the semi-join: when fact_key and dim_key
    # share a name (self-referential dims), the raw equality predicate is
    # AMBIGUOUS_REFERENCE.
    dim_side = dim_keys.select(F.col(dim_key).alias("__bloom_key")).distinct()
    # ONE aggregate over the match-flagged pruned fact — NOT two grouped
    # counts re-joined on group_col: a join key never matches NULL while
    # groupBy treats NULL as a group, so the re-join silently zeroed the
    # NULL group's true-match count (round-9 hostile nulls sweep). The
    # left join + flag also costs one shuffle instead of two plus a join.
    flagged = passed.join(
        F.broadcast(dim_side),
        passed[fact_key] == F.col("__bloom_key"),
        "left",
    )
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.col("__bloom_key").isNotNull().cast("long")).alias(
            "n_true_match"
        ),
    )
