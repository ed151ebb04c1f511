"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — the LLM-training-data cleanup family.

Scale design notes (these run over *documents*, the table that is 100 TB in
production):

- exact: one hash-groupBy shuffle on the fingerprint — optimal.
- word/ngram Jaccard: explode -> self-join on the token. The join key's
  document frequency drives the blow-up, so ``max_doc_freq`` drops
  ultra-common tokens (stop-shingles) before the join — the standard trick
  that keeps the candidate set near-linear. AQE skew-join splitting handles
  residual hot shingles.
- MinHash+LSH: the scale path for pairwise similarity — candidate pairs come
  from banded signature buckets (shuffle on (band, band_hash), output
  proportional to true-duplicate density), then only candidates pay the
  exact-Jaccard verification.
- SimHash: one 64-bit signature per doc, near-dup = small Hamming distance.
- embedding cosine: thresholded pairwise over an (optionally LSH-bucketed)
  candidate set.

Everything below is pure Column expressions (xxhash64 / higher-order array
functions) — no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.spread import spread_scan
from etl_pipeline_last_fm_spark.functions.scalar import half_up_round, portable_hash60


def _distinct_words(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    # explode-then-distinct, NOT explode(array_distinct(...)): a computed
    # array as generator input gets re-evaluated per emitted row under
    # whole-stage codegen — keep generator inputs cheap and dedupe
    # relationally (the distinct is a shuffle that scales; the re-evaluation
    # doesn't).
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("w"),
    ).distinct()


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: each group keeps its minimum id
    (deterministic first-writer, cf. the ON CONFLICT arbiter §2.7)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard similarity for all pairs sharing >= 1 token.

    n=1 member of the n-gram-Jaccard family, chosen for the oracle pair
    because it is portably SQL-expressible; ``minhash_lsh_pairs`` is the
    n=3 + approximate scale path.
    """
    words = _distinct_words(docs)
    if max_doc_freq is not None:
        rare = (
            words.groupBy("w")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("w")
        )
        words = words.join(F.broadcast(rare), "w", "left_semi")
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    a = words.alias("a")
    b = words.alias("b")
    inter = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("shared").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))
    # No broadcast hint on sa/sb: `sizes` has one row per DOCUMENT, so a
    # broadcast would grow with the corpus — a scale-killer at 100 TB even
    # though it is small at test SF. Left as shuffle joins on doc id; AQE
    # may still choose broadcast at runtime when the side is genuinely small.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", half_up_round(jac, 4).alias("jaccard"))
    )


def _shingles(toks_col: str, shingle_len: int) -> Column:
    """Word n-gram shingles as a distinct array<string> over a PRE-SPLIT
    token-array column, pure expression.

    Takes the token array (not the text) on purpose: an expression inside
    the transform lambda is re-evaluated per ELEMENT, so `split(text)` in
    the body costs O(words) per shingle = O(words^2) per doc. Split once
    into a column below the lambda and the body is an O(shingle_len)
    slice+join. Use only where the array is CONSUMED as an array (set
    intersection in candidate verification); never as generator input."""
    return F.expr(
        f"""array_distinct(transform(
                sequence(0, greatest(size({toks_col}) - {shingle_len}, 0)),
                i -> concat_ws(' ', slice({toks_col}, i + 1, {shingle_len}))
            ))"""
    )


_MERSENNE_P = 2147483647  # 2^31 - 1


def _cw_params(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic Carter-Wegman permutation coefficients a_j, b_j in
    [1, p) / [0, p). Products a*h stay < 2^62 — no long overflow, so the
    expressions are safe under ANSI mode (the driver's session may have it
    on; overflow would raise there)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = (rng.integers(1, _MERSENNE_P, num_hashes)).tolist()
    b = (rng.integers(0, _MERSENNE_P, num_hashes)).tolist()
    return a, b


def minhash_signature(docs: DataFrame, shingle_len: int = 3, num_hashes: int = 32) -> DataFrame:
    """(doc_id, sig): MinHash as a pure per-row array computation — NO
    shuffle.

    Each doc's shingle hashes are computed ONCE into an array column
    (xxhash64, JVM intrinsic, O(shingle_len) slice+concat per element);
    the signature is ``num_hashes`` array_min(transform(...)) lambdas
    over that array — Carter-Wegman permutations (a_j * h + b_j) mod p,
    two integer ops each, products < 2^62 so ANSI-safe.

    This replaced the r1-r3 explode -> groupBy(doc_id) aggregation form:
    the hash-rows shuffle (one row per shingle, the corpus's largest
    intermediate) was the signature stage's dominant cost — measured at
    sf0.1: 0.68 s -> 0.30 s, bit-identical output. The projection-collapse
    trap does NOT fire here: Spark declines to inline a non-cheap
    expression referenced by all 32 consumers, so the plan evaluates the
    hash array once per doc (verified: one xxhash64 per plan stage in
    explain(True); the equivalence test pins output equality anyway).
    """
    a, b = _cw_params(num_hashes)
    hashed = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__toks")
    ).select(
        "doc_id",
        F.expr(
            f"""transform(sequence(0, greatest(size(__toks) - {shingle_len}, 0)),
                          i -> pmod(xxhash64(concat_ws(' ', slice(__toks, i + 1, {shingle_len}))),
                                    {_MERSENNE_P}L))"""
        ).alias("__hs"),
    )
    # ONE parsed expression for the whole signature array (OPTIMIZATION
    # r13): num_hashes separate F.expr columns paid one py4j round trip
    # per permutation; the array() text form parses the identical tree in
    # a single call. Same expressions, same output bit-for-bit.
    mins = ", ".join(
        f"array_min(transform(__hs, h -> pmod({a[j]}L * h + {b[j]}L, {_MERSENNE_P}L)))"
        for j in range(num_hashes)
    )
    return hashed.select("doc_id", F.expr(f"array({mins})").alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    shingle_len: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """MinHash + banded LSH candidate generation + exact-Jaccard verification.

    rows-per-band r = num_hashes/bands; a pair collides in a band iff that
    band's r signature slots all match, so the candidate probability curve is
    the classic (1 - (1 - j^r)^b). Candidates then pay an exact shingle-set
    Jaccard check; output only verified pairs.

    Candidate pairs come from grouping band rows into buckets (one shuffle on
    (band, bkey)) and expanding in-bucket pairs — NOT from a band_rows
    self-join. The self-join form executes the whole signature subtree twice
    (shingle-hash + 32 MIN aggregates, the most expensive stage); here the
    collect_list aggregation buffer materializes each bucket's id list, and
    the pair expansion explodes cheap integer sequences over that stored
    array (generator inputs stay trivial — computed-array generator inputs
    get re-evaluated per output row under whole-stage codegen).

    ``max_bucket_size`` drops degenerate buckets (the LSH analogue of the
    stop-shingle filter): a bucket of m ids yields m(m-1)/2 candidates, so a
    single hot bucket — near-constant docs, a pathological band hash — can
    dominate the whole job at scale. CAVEAT: for docs with IDENTICAL
    signatures (exact/near-exact content duplicated past the cap) every
    band's bucket is the same over-cap set, so the cap silently drops the
    whole cluster — "left to the other bands" does not apply. That class
    must be removed before LSH by an exact-fingerprint pre-pass, which is
    exactly what ``dedup_keep_list`` does; call this operator directly only
    on content-distinct corpora or with the cap sized above the largest
    expected exact-dup cluster.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands

    # NULL-text docs are duplicates of nothing: every NULL doc gets the
    # IDENTICAL all-NULL signature, so left in, they all land in one
    # band bucket and emit a quadratic blob of bogus "pairs" (round-9
    # hostile nulls sweep measured 1035 of them on a 9%-null corpus).
    # The shingle-based oracle drops them naturally; drop them here too.
    #
    # spread_scan (OPTIMIZATION r14, guide §2.5): the signature's 32
    # interpreted HOF folds and the verify stage's shingling both run at
    # the SCAN's parallelism — one task on a single-row-group corpus file
    # (the r13 scaling block measured c8/c32 = 1.04, i.e. serial). The
    # spread is a no-op when the scan is already parallel; results are
    # partitioning-insensitive (hostile reorder sweep + unchanged oracle).
    docs = spread_scan(docs.where(F.col("text").isNotNull()), "doc_id")

    # Bands from the PERSISTED signature: minhash_signature is now a pure
    # projection (no agg-buffer barrier), and a generator whose input
    # derives from a computed array re-evaluates that computation per
    # EMITTED row — unpersisted, the bands explode would recompute all 32
    # array_mins per band row (8x per doc; measured: the whole win of the
    # shuffle-free signature and more). The cache is n_docs x (32 longs)
    # ~ 256 B/doc — far cheaper than the per-shingle hash-row shuffle it
    # replaced — and spills to disk at scale. Same cache-ownership note
    # as `cands` below.
    band_rows = minhash_signature(docs, shingle_len, num_hashes).persist().select(
        "doc_id",
        F.explode(
            F.expr(
                f"""transform(sequence(0, {bands - 1}),
                              b -> named_struct('band', b,
                                                'bkey', xxhash64(b, slice(sig, b * {r} + 1, {r}))))"""
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))

    buckets = (
        band_rows.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    # ids is a materialized aggregation result; both generators are integer
    # sequences. ids sorted ascending => doc_a < doc_b by construction.
    #
    # persist(): cands feeds THREE consumers (doc_a ids, doc_b ids, the final
    # pair assembly) — unpersisted, each re-executes the whole signature
    # subtree, the job's dominant cost. Measured at sf0.1 (warm, local[32]):
    # 3.2s -> 1.3s. The cached set is candidate pairs only — proportional to
    # duplicate density, not corpus size — and the default storage level
    # spills to disk, so this stays safe at 100 TB where the signature
    # recompute it avoids costs hours, not seconds. A lazy persist (not a
    # checkpoint) deliberately: lineage survives executor loss, and the
    # operator keeps Spark's construction-is-free contract. CACHE OWNERSHIP:
    # the cache lives until session eviction — callers looping over many
    # corpora in one session should spark.catalog.clearCache() between
    # corpora (bench.py does; the dedup-corpus CLI run ends its session).
    cands = (
        buckets.select("ids", F.explode(F.expr("sequence(0, size(ids) - 2)")).alias("i"))
        .select("ids", "i", F.explode(F.expr("sequence(i + 1, size(ids) - 1)")).alias("j"))
        .select(
            F.element_at("ids", F.col("i") + 1).alias("doc_a"),
            F.element_at("ids", F.col("j") + 1).alias("doc_b"),
        )
        .distinct()
        .persist()
    )

    # Exact verification only re-tokenizes CANDIDATE docs (semi-join first):
    # verification cost scales with duplicate density, not corpus size.
    # cand_shingles is persisted for the same reason as cands: it feeds
    # BOTH sides of the pair join, and unpersisted each side re-runs the
    # tokenize+shingle pass over every candidate doc (the round-10 10x
    # phase attribution measured the verify stage at ~10 s of the ~23 s
    # job on a 100%-duplicate-density corpus, the worst case — re-shingling
    # twice is the avoidable half of its setup). Footprint = candidate
    # docs' shingle arrays (duplicate-density-proportional, spills to
    # disk); same cache-ownership note as cands above.
    cand_ids = cands.select(F.col("doc_a").alias("doc_id")).union(
        cands.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    cand_docs = docs.join(cand_ids, "doc_id", "left_semi")
    cand_shingles = cand_docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__toks")
    ).select("doc_id", _shingles("__toks", shingle_len).alias("shingles")).persist()
    sh_a = cand_shingles.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = cand_shingles.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    # |A ∪ B| = |A| + |B| − |A ∩ B|: one array_intersect per pair and the
    # union NEVER materializes (array_union allocated an Sa+Sb array per
    # pair — the verify stage's largest per-row allocation). Same value
    # by the identity, so oracle parity is by construction.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    ).cast("double")
    return (
        cands.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= F.lit(verify_threshold))
        .select("doc_a", "doc_b", half_up_round(F.col("jaccard_raw"), 4).alias("jaccard"))
    )


def simhash_signature(docs: DataFrame, portable: bool = False) -> DataFrame:
    """SimHash over tokens, as a relational aggregation: one
    (doc_id, token-hash) row per token (token hashed once), then one
    conditional-SUM aggregate per bit (bit j balance = sum of ±1 by bit j of
    the hash) folded into the signature long. Partial+final hash agg — one
    shuffle on doc_id, no per-row nested lambdas.

    ``portable=False`` (production): 64-bit xxhash64 token hash.
    ``portable=True``: 60-bit md5-derived token hash (portable_hash60) that
    DuckDB reproduces bit-identically — the oracle-paired path. Same
    algorithm either way; only the digest differs."""
    n_bits = 60 if portable else 64
    th = portable_hash60(F.col("t")) if portable else F.xxhash64("t")
    tok_rows = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("t")
    ).select("doc_id", th.alias("h"))
    sums = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {j}) & 1) = 1"), F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"__b{j}")
        for j in range(n_bits)
    ]
    bits = [
        F.when(F.col(f"__b{j}") > 0, F.lit(1 << j if j < 63 else -(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(n_bits)
    ]
    sim = bits[0]
    for b in bits[1:]:
        sim = sim.bitwiseOR(b)
    return tok_rows.groupBy("doc_id").agg(*sums).select("doc_id", sim.alias("simhash"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 12) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Pairwise here (fine for the fixture corpus); the scale path blocks on
    signature chunks first (split the 64 bits into (max_hamming+1) chunks —
    pigeonhole: any pair within max_hamming shares at least one exact chunk)
    so the join is equi- on the chunk, not a cross-join.
    """
    sigs = simhash_signature(docs)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_near_dups_blocked(
    docs: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int = 10_000,
    portable: bool = False,
) -> DataFrame:
    """Scale path for SimHash near-dups: pigeonhole blocking.

    Split the signature into (max_hamming + 1) chunks — any pair within
    ``max_hamming`` bit flips must agree exactly on at least one chunk — so
    candidates come from equi-joins on (chunk_idx, chunk_value) instead of a
    cross-join, then pay the exact Hamming check. Same output as
    simhash_near_dups for the same threshold. Practical for small thresholds
    (chunks of >= 15 bits block well); the pairwise form remains for loose
    thresholds on bounded corpora. ``portable=True`` uses the 60-bit
    md5-derived signature so the DuckDB oracle
    (simhash_near_dups_oracle_sql) recomputes it bit-identically."""
    n_bits = 60 if portable else 64
    n_chunks = max_hamming + 1
    width = n_bits // n_chunks
    sigs = simhash_signature(docs, portable=portable)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.expr(f"shiftright(simhash, {i * width}) & {(1 << width) - 1}L").alias(
                            "cv"
                        ),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))

    # Bucket-group instead of self-join: the signature subtree (token explode
    # + 64 conditional-SUM aggregates) runs ONCE; candidates expand from the
    # materialized per-bucket (doc_id, simhash) list via cheap integer
    # sequence generators (same rationale as minhash_lsh_pairs). array_sort
    # on the struct orders by doc_id => doc_a < doc_b by construction.
    buckets = (
        chunks.groupBy("ci", "cv")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_bucket_size))
    )
    pairs = (
        buckets.select("ds", F.explode(F.expr("sequence(0, size(ds) - 2)")).alias("i"))
        .select("ds", "i", F.explode(F.expr("sequence(i + 1, size(ds) - 1)")).alias("j"))
        .select(
            F.element_at("ds", F.col("i") + 1).alias("a"),
            F.element_at("ds", F.col("j") + 1).alias("b"),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Min-label propagation over the similarity graph: (node, label) where
    label = the smallest node id reachable from ``node`` — i.e. the
    component representative. The step every dedup pipeline needs between
    "similar pairs" and "which docs to drop": near-duplication is
    transitive-ish (A~B, B~C) and the keep/drop decision must be per
    CLUSTER, not per pair, or chained dups survive.

    Iterative DataFrame algorithm (there is no relational fixpoint in
    Spark): each round joins labels to neighbors, takes the min, and stops
    when no label changed. Rounds needed = graph diameter — near-dup
    clusters are shallow (chains of a few docs), so this is 2-4 rounds in
    practice. Each round ``localCheckpoint``s the labels: truncates the
    O(iterations)-deep lineage (else every round re-executes all prior
    rounds) without driver materialization; the convergence check rides the
    same action that materializes the checkpoint. Edges are persisted — they
    drive every round's join and are proportional to duplicate density, not
    corpus size.
    """
    # Materialize the forward edge list ONCE before mirroring: the caller's
    # pair pipeline (LSH + verification) is the expensive part, and the
    # symmetric union would otherwise evaluate it twice — once per branch —
    # while racing the cache. One count() pins it; the union then reads the
    # cached partitions twice for free. (Measured at 50k docs: keep_list
    # 27.9s -> ~8s.)
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).persist()
    fwd.count()
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    ).localCheckpoint()
    fwd.unpersist()
    changed = None
    # max_iter + 1: convergence is only CERTIFIED by a no-change round, so
    # a graph whose last label lands exactly on round max_iter needs one
    # extra round to prove it's done — without this, a diameter-max_iter
    # chain would converge correctly and still raise.
    for _ in range(max_iter + 1):
        neigh = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.coalesce("nlabel", "label") < F.col("label")).cast("int").alias("__chg"),
            )
            .localCheckpoint()
        )
        changed = stepped.agg(F.sum("__chg")).collect()[0][0]
        labels = stepped.select("node", "label")
        if not changed:
            break
    edges.unpersist()
    if changed:
        # Partially-propagated labels are silently WRONG (a node whose label
        # still equals its own id would read as a cluster keeper) — refuse.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter); raise max_iter"
        )
    return labels


def dedup_keep_list(
    docs: DataFrame,
    shingle_len: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """End-to-end near-dup resolution: exact-fingerprint pre-pass ->
    MinHash-LSH on content-distinct representatives -> connected components
    -> (doc_id, keep_id, is_dup). keep_id is the smallest doc id in the
    doc's duplicate cluster (first-writer-wins, same arbiter rule as §2.7);
    is_dup marks docs to drop. Docs in no cluster are omitted — the
    anti-join of the corpus against this list is the deduplicated corpus.

    The exact pre-pass (md5 of the raw text, one groupBy) matters beyond
    speed: a page duplicated >max_bucket_size times has identical MinHash
    signatures, so EVERY band bucket for it would blow the LSH cap and the
    cluster would be dropped silently (see minhash_lsh_pairs). Exact
    clusters become star edges to their smallest id here, and only one
    representative per distinct content enters LSH — the cap then only ever
    sees content-distinct near-dup buckets. Exact-dup edges are a subset of
    the Jaccard>=threshold truth set (identical text has Jaccard 1.0), so
    the transitive closure — and the DuckDB oracle — is unchanged.

    NULL-text docs are excluded explicitly: a doc with no body is a
    duplicate of nothing (round-9 hostile nulls sweep — left implicit,
    the md5 pre-pass grouped every NULL text into one bogus 'exact'
    cluster while the oracle's shingle path dropped them)."""
    docs = docs.where(F.col("text").isNotNull())
    fp = docs.select("doc_id", F.md5(F.col("text")).alias("__fp"))
    # reps is corpus-sized (one row per distinct content) — equi-join on
    # the fingerprint key, never broadcast. Persisted (spill-to-disk): it
    # feeds the exact-edge join AND the rep semi-join, and the edge set is
    # read twice by connected_components' symmetric union — unpersisted,
    # each path re-runs the full-corpus md5 groupBy. Released below once
    # the CC labels are materialized (CC localCheckpoints per round, so
    # its output no longer references this lineage).
    reps = fp.groupBy("__fp").agg(F.min("doc_id").alias("__rep")).persist()
    exact_edges = (
        fp.join(reps, "__fp")
        .filter(F.col("doc_id") != F.col("__rep"))
        .select(F.col("__rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    rep_docs = docs.join(
        reps.select(F.col("__rep").alias("doc_id")), "doc_id", "left_semi"
    )
    near_pairs = minhash_lsh_pairs(
        rep_docs,
        shingle_len=shingle_len,
        num_hashes=num_hashes,
        bands=bands,
        verify_threshold=verify_threshold,
    )
    edges = near_pairs.select("doc_a", "doc_b").unionByName(exact_edges)
    try:
        comps = connected_components(edges)
    finally:
        # also on CC non-convergence: don't leak the corpus-sized cache
        reps.unpersist()
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("keep_id"),
        (F.col("node") != F.col("label")).alias("is_dup"),
    )


def embedding_near_dups_blocked(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Scale path for embedding near-dups: hyperplane-LSH blocking.

    Only same-bucket pairs are scored (equi-join on the bucket id), so work
    scales with bucket occupancy instead of corpus². Approximate: a true
    near-dup pair split by a hyperplane is missed with probability ~
    1-(1-theta/pi)^n_planes for angle theta — tiny for genuinely
    near-duplicate vectors (theta -> 0), which is exactly the dedup regime."""
    from etl_pipeline_last_fm_spark.operators.similarity import lsh_buckets

    # Norms hoisted per VECTOR before the pair join — the same measured
    # move (and identical-doubles argument) as embedding_near_dups below
    # (OPTIMIZATION r13: the blocked path previously re-ran both
    # interpreted self-dot folds per candidate PAIR).
    norm = F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x))
    # spread_scan (OPTIMIZATION r14, guide §2.5): the bucket signature and
    # the per-pair cosines downstream inherit the scan's partitioning —
    # one task on a single-row-group file (measured 0.92 -> 0.70 s
    # interleaved at sf0.1). Applied HERE on the raw scan, not inside
    # lsh_buckets: the ANN queries that share lsh_buckets are
    # collect/checkpoint-bound and measured slower with it.
    bucketed = lsh_buckets(
        spread_scan(emb, id_col), n_planes, id_col, vec_col, seed=seed
    ).withColumn("n", norm)
    a = bucketed.select(
        F.col("id").alias("id_a"), F.col("e").alias("e_a"),
        F.col("n").alias("n_a"), "bucket",
    )
    b = bucketed.select(
        F.col("id").alias("id_b"), F.col("e").alias("e_b"),
        F.col("n").alias("n_b"), "bucket",
    )
    dot = F.aggregate(
        F.zip_with(F.col("e_a"), F.col("e_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = dot / (F.col("n_a") * F.col("n_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= F.lit(threshold))
        .select("id_a", "id_b", half_up_round(F.col("sim_raw"), 4).alias("sim"))
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity (exact pairwise —
    bounded corpora / candidate verification; embedding_near_dups_blocked is
    the scale path)."""
    # Norms are hoisted to per-VECTOR columns before the pair join: the
    # higher-order aggregate expressions are interpreted (not codegen'd),
    # so paying them per PAIR (O(n^2) HOF evaluations) instead of per row
    # made this 3x slower — measured 55 s -> 19 s at sf0.1 (5k vectors,
    # 12.5M pairs). Same doubles, same oracle: hoisting an identical
    # expression cannot change its value.
    norm = F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x))
    # spread_scan (OPTIMIZATION r14, guide §2.5): the id_a < id_b theta
    # join plans as a broadcast nested-loop whose STREAM side keeps the
    # scan's partitioning — one task on a single-row-group corpus file, so
    # the O(n^2) interpreted dot folds ran serially. No-op on
    # already-parallel input; per-pair values unchanged.
    v = spread_scan(emb, id_col).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    ).withColumn("n", norm)
    a = v.select(F.col("id").alias("id_a"), F.col("e").alias("e_a"), F.col("n").alias("n_a"))
    b = v.select(F.col("id").alias("id_b"), F.col("e").alias("e_b"), F.col("n").alias("n_b"))
    dot = F.aggregate(
        F.zip_with(F.col("e_a"), F.col("e_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("n_a") * F.col("n_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= F.lit(threshold))
        .select("id_a", "id_b", half_up_round(F.col("sim_raw"), 4).alias("sim"))
    )


def embedding_keep_list(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Semantic dedup resolution: hyperplane-LSH blocked cosine pairs ->
    connected components -> (vec_id, keep_id, is_dup). The embedding twin
    of ``dedup_keep_list`` — same cluster arbiter (smallest id keeps), same
    CC machinery, pairs from the bucketed scale path instead of shingle
    LSH. Semantic near-duplication chains exactly like textual (A≈B≈C with
    sim(A,C) below threshold), so the per-CLUSTER resolution matters here
    too."""
    pairs = embedding_near_dups_blocked(
        emb, threshold=threshold, n_planes=n_planes,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    comps = connected_components(pairs, a_col="id_a", b_col="id_b")
    return comps.select(
        F.col("node").alias(id_col),
        F.col("label").alias("keep_id"),
        (F.col("node") != F.col("label")).alias("is_dup"),
    )


def shared_passage_stats(
    docs: DataFrame,
    window_tokens: int = 8,
    portable: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document passage-level dedup statistics: split every document
    into non-overlapping ``window_tokens``-word chunks, hash each chunk, and
    report per document how many of its chunks also occur in at least one
    OTHER document. Output: (doc_id, n_chunks, n_shared, shared_frac).

    This is the passage-granular sibling of exact_dedup_groups — full-doc
    dedup misses boilerplate and quoted passages that near-dup documents
    share; the chunk-hash histogram is what Gopher/RefinedWeb-style corpus
    audits are built on.

    Scale shape: the generator input is a cheap integer sequence (computed
    arrays as generator inputs re-evaluate per emitted row under codegen);
    the chunk string is a per-row slice+join. The chunk subtree (scan +
    generate + hash) is evaluated ONCE: per-(hash, doc) counts first, then
    the distinct-doc count per hash as a window over the hash partition —
    no self-join of the chunk relation back to an aggregate of itself
    (which would re-execute the whole subtree). Shuffles: (1) groupBy
    (h, doc_id), (2) window on h, (3) groupBy doc_id.

    ``portable=True`` uses the md5-derived portable_hash60 (DuckDB oracle
    recomputes it bit-identically); production would use xxhash64."""
    w = window_tokens
    toks = F.split(F.trim(F.col(text_col)), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    ).withColumn("__nc", F.floor(F.size("__toks") / F.lit(w)).cast("long"))

    chunk = F.array_join(F.expr(f"slice(__toks, i * {w} + 1, {w})"), " ")
    ch = portable_hash60(chunk) if portable else F.xxhash64(chunk)
    chunks = (
        base.filter(F.col("__nc") >= 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), (F.col("__nc") - 1).cast("int"))).alias("i"),
            "__toks",
        )
        .select("doc_id", ch.alias("h"))
    )
    from pyspark.sql import Window

    # (h, doc_id) rows are distinct after this agg, so a plain count over
    # the h partition IS the distinct-doc count — one window, no back-join.
    per_chunk = chunks.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    per_chunk = per_chunk.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per_doc = per_chunk.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chunks"),
        F.sum(F.when(F.col("nd") > 1, F.col("cnt")).otherwise(0)).alias("n_shared"),
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.when(
                F.coalesce(F.col("n_chunks"), F.lit(0)) > 0,
                half_up_round(F.col("n_shared") / F.col("n_chunks"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("shared_frac"),
        )
    )
