"""Exact set-similarity join via prefix filtering (AllPairs / SSJoin).

The lossless complement to MinHash-LSH (``operators/dedup.py``): where
banded LSH trades a tiny recall loss for near-linear candidate generation,
prefix filtering is EXACT — every pair with Jaccard >= t is guaranteed to
survive pruning (a lemma, not a probability), yet candidates still come
from an equi-join on a small fraction of each document's tokens.

Reference parity: the reference pipeline has no similarity join at all
(its dedup is Postgres ON CONFLICT, reference `dags/from_ods_to_dds_pg.py`); this
module belongs to the LLM-training-data extension tier alongside
dedup.py's probabilistic family.

The prefix-filter lemma (Chaudhuri et al. SSJoin 2006, Bayardo et al.
AllPairs 2007): fix any total order on tokens. If J(A,B) >= t then
|A∩B| >= ceil(t*|A|) (intersection = J*union >= t*|A|), and the smallest
common token c sits at position <= |A| - |A∩B| + 1 <= |A| - ceil(t*|A|)
+ 1 = p_A within A (everything before c in A is outside A∩B) — and
symmetrically within B's first p_B. So c lies in BOTH prefixes, and a
prefix-to-prefix equi-join loses nothing.

Ordering tokens rarest-first (ascending document frequency, token string
as tie-break — deterministic, identically computable in SQL) makes the
join keys the LOW-df tokens: candidate volume is sum(df_prefix^2) over
prefix tokens only, which is why this stays near-linear while a full
token join is quadratic in hot-token df.

Thresholds are RATIONAL (num/den): the survive-filter is the integer
comparison shared*den >= num*(|A|+|B|-shared) and the prefix length is
p = sz - ceil(num*sz/den) + 1 with ceil done in integer arithmetic — no
float boundary anywhere in the decision path, so Spark and the DuckDB
oracle cannot disagree at the threshold.

Candidate-volume caveat (honest limit of the exact path): candidates are
sum(df_prefix^2) over prefix tokens, which is near-linear when the token
df distribution has a rare tail — real corpora — but degrades toward
all-pairs on LOW-DIVERSITY corpora at LOW thresholds (measured on a
25-word-vocab word-soup corpus at t=1/2: 5k docs -> 1.2M candidates,
where the fixture corpus at the same threshold is ~linear). Exactness
has a price only density can set; for low-diversity corpora or t < ~0.5
use dedup.minhash_lsh_pairs (probabilistic, candidates ∝ true-dup
density) and reserve this operator for the high-threshold near-dup cuts
(t >= ~0.7) where its prefix is a small fraction of each doc. The
AllPairs length filter (den*min_sz >= num*max_sz, integer, lossless)
prunes asymmetric pairs inside the expansion.

Scale notes (documents is the 100 TB table):
- one shuffle builds distinct (doc_id, shingle) rows; df is a groupBy on
  shingle; rank/size is one window per doc_id;
- the candidate join shuffles only PREFIX rows (a ~(1-t) fraction of each
  doc, and the rarest tokens at that);
- verification re-shingles only candidate docs (semi-join first):
  dedup.verify_pairs, the verifier minhash_lsh_pairs shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.dedup import _bucket_pairs, verify_pairs
from etl_pipeline_last_fm_spark.operators.spread import spread_scan


def _distinct_shingle_rows(docs: DataFrame, shingle_len: int) -> DataFrame:
    """(doc_id, shingle) distinct rows, shingle as STRING (the prefix order
    needs the token itself, unlike minhash's hashed rows). Generator input
    is a cheap integer sequence; the token array is split once below it
    (same O(words^2) trap avoidance as dedup.minhash_signature's pre-split)."""
    return (
        docs.select("doc_id", F.split(F.trim(F.col("text")), " ").alias("__toks"))
        .select(
            "doc_id",
            F.expr(
                f"explode(sequence(0, greatest(size(__toks) - {shingle_len}, 0)))"
            ).alias("i"),
            F.col("__toks"),
        )
        .select(
            "doc_id",
            F.expr(f"concat_ws(' ', slice(__toks, i + 1, {shingle_len}))").alias(
                "shingle"
            ),
        )
        .distinct()
    )


def _prefixed(
    rows: DataFrame,
    df_counts: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Per-doc prefix rows under the (df asc, shingle asc) order: rank and
    size from one window pair, prefix length p = sz - ceil(t*sz) + 1 with
    ceil in integer arithmetic. ``df_counts`` holds every token of
    ``rows``."""
    ranked = rows.join(df_counts, "shingle")
    w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    ranked = ranked.select(
        "doc_id",
        "shingle",
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("__sz"),
    )
    ceil_t_sz = F.floor(
        (F.lit(threshold_num) * F.col("__sz") + F.lit(threshold_den - 1))
        / F.lit(threshold_den)
    )
    return ranked.filter(F.col("__rk") <= F.col("__sz") - ceil_t_sz + 1)


def prefix_filter_pairs(
    docs: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_len: int = 3,
) -> DataFrame:
    """All (doc_a, doc_b, jaccard) pairs with shingle-set Jaccard >=
    threshold_num/threshold_den — EXACT output, near-linear candidates.

    Returns the same contract as ``dedup.minhash_lsh_pairs`` (and, at the
    same threshold, the same rows — a useful cross-check: one exact, one
    probabilistic, one truth set in the oracle).
    """
    # spread_scan (OPTIMIZATION r14, guide §2.5): the shingling explode
    # and the verify stage's re-shingling both run at the scan's
    # parallelism — one task on a single-row-group corpus file. No-op on
    # already-parallel input; outputs are partitioning-insensitive
    # (hostile reorder sweep + unchanged all-pairs oracle).
    docs = spread_scan(docs, "doc_id")
    # persist(): rows feeds BOTH the df groupBy and the order join below —
    # unpersisted, the explode+distinct subtree (the corpus-proportional
    # stage) executes twice per action. Same cache-ownership note as cands.
    rows = _distinct_shingle_rows(docs, shingle_len).persist()

    # Global token order: (document frequency asc, shingle asc). The order
    # is a pure function of the corpus — no global window / row_number is
    # needed, each doc only has to sort ITS OWN tokens by the (df, shingle)
    # key, so the only wide operation is the df groupBy.
    df_counts = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    prefix = _prefixed(rows, df_counts, threshold_num, threshold_den)

    # Candidates via bucket expansion (dedup._bucket_pairs), NOT a
    # prefix-to-prefix self-join: a self-join executes the prefix subtree
    # (shingle rows + df join + two windows) TWICE, the plan's dominant
    # cost. ids sorted ascending => doc_a < doc_b by construction.
    buckets = (
        prefix.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", F.col("__sz").alias("sz")))
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
    )
    # Candidate volume is sum(df_prefix^2) over PREFIX tokens — the
    # rarest-first order makes that near-linear in the corpus, the lemma
    # makes it complete. Length filter (AllPairs, lossless): J(A,B) >= t
    # needs |A∩B| >= t*max(|A|,|B|), and |A∩B| <= min(|A|,|B|), so
    # den*min >= num*max — checked in INTEGER arithmetic inside the pair
    # expansion, before the pair ever materializes past this projection.
    cands = (
        _bucket_pairs(buckets, "ids")
        .filter(
            F.least("a.sz", "b.sz") * F.lit(threshold_den)
            >= F.greatest("a.sz", "b.sz") * F.lit(threshold_num)
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_pairs(docs, cands, _at_least(threshold_num, threshold_den), shingle_len)


def _at_least(num: int, den: int):
    """``verify_pairs``' exact threshold test: shared·den >= num·union."""
    return lambda shared, union: shared * F.lit(den) >= F.lit(num) * union


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 10,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate generation: sort by a cheap key
    (trimmed text, doc_id tie-break), slide a ``window``-row neighborhood,
    verify exact Jaccard on window-mates — the fourth classic blocking
    strategy beside banding (dedup.minhash_lsh_pairs), pigeonhole chunks
    (dedup.simhash) and prefix filtering (prefix_filter_pairs).

    NOT lossless (unlike the prefix filter): a true pair sorted further
    than ``window`` apart is never considered — SNM is the cheap local
    pass for corpora whose duplicates share sort-key prefixes (exact and
    near-exact copies do, by construction). The oracle therefore
    replicates the windowing (a twin, not a truth set), and the recall
    trade is the documented contract, mirroring the minhash oracle's
    recall discussion.

    Scale shape: the global rank comes from
    ``assign_surrogate_keys_distributed`` (range partition + per-partition
    counts + driver prefix sum over #partitions integers — no
    single-partition global sort); candidates are an equi-join on rank
    with a bounded window-1 fan-out per row, so candidate volume is
    exactly (window-1) * n — linear by construction.
    """
    cands = _snm_candidates(docs, F.trim(F.col("text")), window)
    return verify_pairs(docs, cands, _at_least(threshold_num, threshold_den), 3)


def _snm_candidates(docs: DataFrame, key: Column, window: int) -> DataFrame:
    """One SNM pass: rank by (key, doc_id), pair each row with its next
    window-1 successors (bounded fan-out equi-join on rank)."""
    from etl_pipeline_last_fm_spark.operators.surrogate import (
        assign_surrogate_keys_distributed,
    )

    keyed = docs.select("doc_id", "text", key.alias("__key"))
    ranked = assign_surrogate_keys_distributed(
        keyed, "__rank", ["__key", "doc_id"]
    ).select("doc_id", "__rank")
    probes = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("__rank"),
        F.explode(F.expr(f"sequence(1, {window - 1})")).alias("__j"),
    ).select(
        "id_a", (F.col("__rank") + F.col("__j")).alias("__r2")
    )
    mates = ranked.select(
        F.col("doc_id").alias("id_b"), F.col("__rank").alias("__r2")
    )
    return (
        probes.join(mates, "__r2")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        .distinct()
    )


def sorted_neighborhood_pairs_multipass(
    docs: DataFrame,
    window: int = 10,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Classic multi-pass SNM: a second pass sorted by the REVERSED text
    unions its candidates with the forward pass before one shared
    verification. Single-key SNM is blind to pairs that differ at the
    sort key's start (a changed first word sorts a near-dup far away);
    the reversed key makes suffix-similar docs adjacent instead — the
    standard recall repair, still (passes * (window-1)) * n candidates,
    linear by construction."""
    fwd = _snm_candidates(docs, F.trim(F.col("text")), window)
    rev = _snm_candidates(docs, F.reverse(F.trim(F.col("text"))), window)
    cands = fwd.unionByName(rev).distinct()
    return verify_pairs(docs, cands, _at_least(threshold_num, threshold_den), 3)
