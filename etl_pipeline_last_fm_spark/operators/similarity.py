"""Similarity search over embedding columns (array<float>).

Every top-k operator is candidate generation followed by one of two
scorers, and holds only its own candidate generation:

- candidates: every other vector (``brute_force_topk``,
  ``pq_ann_topk_seeded``); the query's random-hyperplane LSH bucket, plus
  its near-miss buckets with multi-probe (``lsh_ann_topk``); or the
  query's ``nprobe`` nearest IVF lists, over trained k-means centroids
  (``ivf_ann_topk_trained``) or seed centroids (``ivf_ann_topk_seeded``,
  ``ivfpq_ann_topk_seeded``, ``ivfpq_residual_ann_topk_seeded``).
- scorers: exact cosine on hoisted norms (``_cosine_topk``), or ADC over
  product-quantization codes and per-query distance tables
  (``_adc_topk``). Both rank through the one rank-limit window
  ``_top_k`` — no global sort, no collect.

The small query side is broadcast against the corpus (``_pairs``), so
the corpus is read once and never expanded; LSH buckets and IVF lists
make that join an equi-join, so work scales with bucket occupancy, not
corpus size. Seeded indexes (centroids, codebooks) are the vectors with
the lowest ids, fetched by one bounded collect (``_seeds``): a pure SQL
selection the DuckDB oracles rebuild, which keeps every seeded operator
value-checked. Every routing and ranking decision is taken on packed,
1e-6-rounded integers, so cross-engine float noise cannot flip it.
Hyperplanes come from a fixed seed, so buckets are deterministic.

Scoring is pure expression (JVM codegen, no Python). For very wide
vectors (>4k dims) a pandas_udf dot would amortize better; at 64-1024
dims the expression form wins by skipping Arrow transfer.
"""

from __future__ import annotations

import math
from itertools import combinations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import half_up_round
from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

# The embeddings table's columns, and the seed of the LSH hyperplanes.
_ID, _VEC = "vec_id", "embedding"
_LSH_SEED = 42

#: Product quantization: subspaces per vector and codes per subspace.
PQ_SUBSPACES = 4
PQ_CODES = 16


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _vectors(emb: DataFrame) -> DataFrame:
    """(id, e): the embeddings with their vectors widened to double."""
    return emb.select(F.col(_ID).alias("id"), _as_double(F.col(_VEC)).alias("e"))


def _normed(v: DataFrame) -> DataFrame:
    """Adds ``__nv``, the vector norm, hoisted once per row (OPTIMIZATION
    r13): inline, the interpreted self-dot fold re-ran for every
    (query, candidate) pair and every literal centroid. The same
    expression moved to a column gives the same doubles, so no ranking or
    routing decision changes."""
    return v.withColumn("__nv", F.expr(f"SQRT({_self_dot_sql('e')})"))


def _queries(v: DataFrame, n_queries: int, *extra) -> DataFrame:
    """The query side: the rows with id < ``n_queries`` as
    (q_id, qe, *extra, __qn)."""
    return v.filter(F.col("id") < n_queries).select(
        F.col("id").alias("q_id"), F.col("e").alias("qe"), *extra,
        F.col("__nv").alias("__qn"),
    )


def _pairs(corpus: DataFrame, q: DataFrame, on: str | None = None) -> DataFrame:
    """The candidate pairs: the small query side broadcast against the
    corpus, equi-joined on ``on`` (an LSH bucket or IVF list) when given,
    all pairs otherwise. A vector is never its own candidate."""
    if on is None:
        return corpus.join(F.broadcast(q), F.col("id") != F.col("q_id"))
    return corpus.join(F.broadcast(q), on).filter(F.col("id") != F.col("q_id"))


def _top_k(scored: DataFrame, score: str, k: int, descending: bool) -> DataFrame:
    """The ``k`` best candidates per query, ranked ``rnk`` 1..k by the score
    rounded to 1e-6, ties to the smaller cand_id, so the order is
    reproducible bit-for-bit against the DuckDB oracles. The rank-limit
    window plans as a per-query group limit: no global sort, no collect."""
    key = F.floor(F.col(score) * 1e6 + F.lit(0.5))
    w = Window.partitionBy("q_id").orderBy(
        key.desc() if descending else key.asc(), F.col("cand_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(q_id, cand_id, sim, rnk): exact cosine of the candidate pairs from
    their vectors (qe, e) and hoisted norms (__qn, __nv) — one dot fold
    per pair."""
    dot = F.expr("aggregate(zip_with(qe, e, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)")
    scored = pairs.select(
        "q_id",
        F.col("id").alias("cand_id"),
        (dot / (F.col("__qn") * F.col("__nv"))).alias("sim_exact"),
    ).withColumn("sim", half_up_round(F.col("sim_exact"), 6))
    return _top_k(scored, "sim_exact", k, descending=True).select(
        "q_id", "cand_id", "sim", "rnk"
    )


def _adc_topk(pairs: DataFrame, n_subspaces: int, k: int) -> DataFrame:
    """(q_id, cand_id, approx_d, rnk): asymmetric distance computation —
    the approximate squared L2 is a fixed-order sum of distance-table
    lookups (dtM at code cM), never the original vectors. approx_d is
    rounded to 1e-6 and ranks ascend."""
    adc = F.expr(" + ".join(f"element_at(dt{m}, c{m} + 1)" for m in range(n_subspaces)))
    scored = pairs.select("q_id", F.col("id").alias("cand_id"), adc.alias("__d"))
    return _top_k(scored, "__d", k, descending=False).select(
        "q_id", "cand_id", half_up_round(F.col("__d"), 6).alias("approx_d"), "rnk"
    )


def brute_force_topk(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` ids: every
    other vector is a candidate. The correctness baseline, and the right
    plan whenever |queries| is small — it reads the corpus exactly once."""
    v = _normed(_vectors(emb))
    return _cosine_topk(_pairs(v, _queries(v, n_queries)), k)


def hyperplanes(dim: int, n_planes: int, seed: int = _LSH_SEED) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed, host-independent)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _sql_double(x: float) -> str:
    """Exact double literal as Spark SQL text: ``repr`` emits the shortest
    decimal that round-trips to the identical double, and both Python's
    ``float()`` and the JVM's ``Double.parseDouble`` are correctly rounded,
    so parsing reproduces the same bits ``F.lit(x)`` would carry.
    (OPTIMIZATION r13: SQL-text construction replaces per-literal Column
    ops — one py4j round trip per EXPRESSION instead of per LITERAL; the
    parsed tree, and therefore every computed value, is unchanged.)

    Non-finite doubles have no SQL literal spelling (repr gives 'nan'/
    'inf', which parse as column names) — the F.lit path this replaced
    accepted them silently, so fail loudly instead (ADVICE r13)."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite double {x!r} cannot be spelled as a SQL literal — "
            "seed/centroid/plane data must be finite"
        )
    return f"{x!r}D"


def _sql_double_array(vals: list[float]) -> str:
    return "array(" + ", ".join(_sql_double(x) for x in vals) + ")"


def _dot_literal_sql(vec_sql: str, lit_vec: list[float]) -> str:
    """Dot product against a literal vector as a zip_with/aggregate fold,
    built as SQL text in O(1) py4j calls instead of O(dim). An unrolled
    element_at form was tried and is SLOWER: 64 dims x 16 codebook
    literals per subspace make thousand-node expression trees that cost
    more in analysis/codegen than the interpreted fold costs at runtime
    (measured 2x worse on sim_ann_pq). The effective optimization for
    repeated literal dots is hoisting the shared self-dot subexpression
    (see _with_subspaces), not unrolling."""
    return (
        f"aggregate(zip_with({vec_sql}, {_sql_double_array(lit_vec)}, "
        f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def _self_dot_sql(vec_sql: str) -> str:
    return f"aggregate({vec_sql}, 0.0D, (acc, x) -> acc + x * x)"


def lsh_bucket_expr(vec_sql: str, planes: list[list[float]]) -> Column:
    """Bucket id = integer of sign bits of plane·vec, pure expression.
    ``vec_sql`` is the vector column as SQL text (e.g. ``"e"``): the
    n_planes x dim literal tree is built as ONE parsed expression."""
    terms = ["CAST(0 AS BIGINT)"]
    for i, plane in enumerate(planes):
        dot = _dot_literal_sql(vec_sql, plane)
        terms.append(
            f"(CASE WHEN ({dot}) > 0 THEN CAST({1 << i} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(" + ".join(terms))


def lsh_buckets(emb: DataFrame, n_planes: int = 12) -> DataFrame:
    """id, e (double vector), bucket — the blocked representation."""
    first = emb.select(F.size(F.col(_VEC)).alias("d")).head()
    planes = hyperplanes(int(first["d"]) if first else 0, n_planes)
    return _vectors(emb).withColumn("bucket", lsh_bucket_expr("e", planes))


def lsh_ann_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_planes: int = 12,
    probe_flips: int = 0,
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates.

    Recall depends on n_planes vs corpus size (fewer planes = bigger buckets
    = higher recall & cost). ``probe_flips`` enables multi-probe LSH: each
    query additionally probes every bucket whose signature differs by up to
    that many bits (near-miss neighbors most often sit just across one
    hyperplane). The query side explodes to sum(C(n_planes, f)) probe rows —
    the candidate join stays equi- on the bucket id, so the scale shape is
    unchanged; cost and recall both grow with the probe count. Tested
    against brute_force_topk for recall in tests/test_similarity.py.
    """
    bucketed = _normed(lsh_buckets(emb, n_planes))
    q = _queries(bucketed, n_queries, "bucket")
    if probe_flips:
        masks = [0] + [
            sum(1 << i for i in bits)
            for f in range(1, probe_flips + 1)
            for bits in combinations(range(n_planes), f)
        ]
        q = q.select(
            "q_id",
            "qe",
            "__qn",
            F.explode(
                F.expr("array(" + ", ".join(f"bucket ^ {m}" for m in masks) + ")")
            ).alias("bucket"),
        )
    return _cosine_topk(_pairs(bucketed, q, "bucket"), k)


# --- IVF: exact-integer micro-unit routing ---------------------------------


def _micro_units(emb: DataFrame) -> DataFrame:
    """(id, dim, xv): one row per vector element, xv = floor(x * 1e6 + 0.5)
    as int64 (the float->double widening is exact; the rounding formula is
    the house parity trick)."""
    return emb.select(
        F.col(_ID).alias("id"),
        F.posexplode(_as_double(F.col(_VEC))).alias("dim", "xd"),
    ).select(
        "id", "dim",
        F.floor(F.col("xd") * F.lit(1_000_000.0) + F.lit(0.5)).cast("long").alias("xv"),
    )


def _by_distance(dists: DataFrame) -> DataFrame:
    """Ranks each id's (cid, dist) rows ``__rn`` 1.. by distance, ties to
    the smaller cluster id."""
    w = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("cid").asc())
    return dists.withColumn("__rn", F.row_number().over(w))


def ivf_ann_topk_trained(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iters: int = 2,
) -> DataFrame:
    """IVF ANN over TRAINED centroids — the production IVF path, fully
    value-checkable (VERDICT r5 item 3; this retires the round-1 numpy
    k-means whose centroids no SQL oracle could reproduce).

    Training delegates to ``kmeans_lloyd_relational`` (exact integer
    micro-units, k-lowest-id seeding), so the centroid table is a
    deterministic relational artifact both engines rebuild bit-for-bit.
    Assignment and probe ranking then stay in the SAME fixed-point domain:
    integer squared-L2 between micro-unit vectors and micro-unit centroids
    (bounded by dims * (4e6)^2 ~ 1e15 << 2^63), argmin ties by cluster id —
    every routing decision is int64-exact, so cross-engine float noise
    cannot flip a bucket. Candidate scoring is the usual exact cosine with
    1e-6-rounded ranking (identical to ``brute_force_topk``).

    Scale shape: one broadcast dim-join against the k x dims centroid
    table + one (id, cluster) aggregate for assignment (a map-side-heavy
    shuffle on bounded keys), then the standard IVF probe equi-join — each
    query scores ~(nprobe/n_centroids) of the corpus. At 100 TB the
    TRAINING input is a bounded sample (the k-means cost is rows x k per
    iteration); the full corpus pays only assignment + probes."""
    cents = kmeans_lloyd_relational(emb, k=n_centroids, n_iters=n_iters)
    diff = F.col("xv") - F.col("centroid_micro")
    dists = (
        _micro_units(emb)
        .join(F.broadcast(cents), "dim")
        .select("id", F.col("cluster_id").alias("cid"), (diff * diff).alias("__d"))
        .groupBy("id", "cid")
        .agg(F.sum("__d").alias("dist"))
        # Consumed twice (corpus assignment + query probe ranking):
        # truncate so the scan+train lineage runs once, not per consumer.
        .localCheckpoint()
    )
    assign = (
        _by_distance(dists)
        .filter(F.col("__rn") == 1)
        .select("id", F.col("cid").alias("cluster"))
    )
    probes = (
        _by_distance(dists.filter(F.col("id") < n_queries))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col("id").alias("q_id"), F.col("cid").alias("cluster"))
    )
    v = _normed(_vectors(emb))
    q = _queries(v, n_queries).join(probes, "q_id")
    return _cosine_topk(_pairs(v.join(assign, "id"), q, "cluster"), k)


# --- Seeded indexes: IVF over literal centroids, and the PQ codec -----------
#
# Shared building blocks for the seeded ANN family (IVF / PQ / IVF-PQ /
# residual IVF-PQ), written once so a change to the packed encoding or the
# L2 evaluation order lands in ONE place per engine — a per-operator copy
# missing a fix would silently break only that operator's cross-engine
# parity.
#
# OPTIMIZATION r13 (guide §5, driver overhead): these builders emit SQL
# TEXT and the operators parse each output column with ONE ``F.expr`` —
# the previous per-literal Column composition paid one py4j round trip
# per centroid/codebook element (~25k round trips for the IVF-PQ plan;
# measured 11.3 s of the 13.1 s cold build at sf0.1). The parsed
# expression trees — and therefore every computed double and every packed
# integer decision — are identical; only the construction path changed.


def _seeds(df: DataFrame, n: int, vec: str | Column = "e") -> list[tuple[int, list[float]]]:
    """(id, vector) of the rows with id < ``n``, in id order — the one
    bounded driver collect behind every seeded index. The selection is
    pure SQL (``WHERE id < n``), so the DuckDB oracles rebuild the
    identical index. The at most ``n`` rows are sorted on the driver: a
    global ``orderBy`` would add a range-partitioning sample job and a
    shuffle to every build."""
    rows = df.filter(F.col("id") < n).select("id", vec).collect()
    return sorted((int(r[0]), list(r[1])) for r in rows)


def seeded_centroids(emb: DataFrame, n_centroids: int = 16) -> list[tuple[int, list[float]]]:
    """Deterministic 'seed' centroids: the embeddings of the ``n_centroids``
    lowest ids, verbatim (no training) — the SQL-reconstructable stand-in
    for ``kmeans_lloyd_relational``'s trained centroids."""
    cents = _seeds(_vectors(emb), n_centroids)
    if not cents:
        raise ValueError(f"seeded_centroids: no embeddings with {_ID} < {n_centroids}")
    return cents


def _packed_scores(cents: list[tuple[int, list[float]]], vec_sql: str, norm_sql: str) -> list[str]:
    """Per-centroid cosine of the vector ``vec_sql`` (norm ``norm_sql``)
    against each literal centroid, packed into one BIGINT whose natural
    MAX order is (similarity desc, centroid id asc):
    ``(floor(sim*1e6+0.5) + 2_000_000) * 1024 + (1023 - cid)``.
    Pure integer arithmetic after the single rounding step, so Spark and
    DuckDB agree bit-for-bit on every argmax decision — cross-engine float
    summation noise (~1e-15) cannot reorder centroids."""
    out = []
    for cid, ce in cents:
        norm_c = _sql_double(math.sqrt(sum(x * x for x in ce)))
        sim = f"({_dot_literal_sql(vec_sql, ce)}) / ({norm_sql} * {norm_c})"
        out.append(
            f"(CAST(FLOOR(({sim}) * 1000000.0D + 0.5D) AS BIGINT) + 2000000)"
            f" * 1024 + {1023 - cid}"
        )
    return out


def _nearest_cluster(cents: list[tuple[int, list[float]]]) -> Column:
    """Each corpus row's IVF list: greatest() over the packed scores — a
    pure map (no join, no shuffle, no corpus x centroids expansion)."""
    best = f"greatest({', '.join(_packed_scores(cents, 'e', '__nv'))})"
    return F.expr(f"CAST(1023 - ({best} % 1024) AS INT)")


def _probes(
    cents: list[tuple[int, list[float]]], nprobe: int, vec_sql: str = "e", norm_sql: str = "__nv"
) -> Column:
    """One row per probed list: the packed scores sorted desc, the best
    ``nprobe`` decoded to cluster ids from the low bits, exploded."""
    packed_arr = f"array({', '.join(_packed_scores(cents, vec_sql, norm_sql))})"
    return F.explode(F.expr(
        f"transform(slice(sort_array({packed_arr}, false), 1, {nprobe}),"
        f" p -> CAST(1023 - (p % 1024) AS INT))"
    ))


def ivf_ann_topk_seeded(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN with seed centroids instead of trained k-means ones — the
    value-checked twin of ``ivf_ann_topk_trained`` (same physical shape:
    literal centroid scoring stays inside codegen, corpus is never
    expanded, the probe join is equi- on the cluster id; recall is a
    little lower because the 'centroids' are just corpus points).

    Every argmax (corpus assignment, query probe ranking, final top-k) is
    taken on the packed rounded score (``_packed_scores``), so the DuckDB
    oracle (``ivf_ann_topk_seeded_oracle_sql``) reproduces the exact
    candidate sets and ranks."""
    cents = seeded_centroids(emb, n_centroids)
    v = _normed(_vectors(emb))
    corpus = v.withColumn("cluster", _nearest_cluster(cents))
    q = _queries(v, n_queries).withColumn("cluster", _probes(cents, nprobe, "qe", "__qn"))
    return _cosine_topk(_pairs(corpus, q, "cluster"), k)


def _sub_vec_sql(vec_sql: str, m: int, sub: int) -> str:
    return f"slice({vec_sql}, {m * sub + 1}, {sub})"


def _l2_from_vv_sql(vv_sql: str, sv_sql: str, ce: list[float]) -> str:
    """Squared L2 to a literal code given the hoisted self-dot vv:
    vv - 2*dot(sv, ce) + cc — fixed evaluation order on both engines."""
    cc = sum(x * x for x in ce)
    return f"({vv_sql} - 2.0D * ({_dot_literal_sql(sv_sql, ce)}) + {_sql_double(cc)})"


def _with_subspaces(
    df: DataFrame, keep: list[str], subs: list[str], sv: str = "sv", vv: str = "vv"
) -> DataFrame:
    """``keep`` plus, per SQL expression in ``subs``, the subvector column
    ``{sv}M`` and its self-dot ``{vv}M``. The self-dot is identical across
    a subspace's literal code distances, and the higher-order aggregate
    computing it is interpreted (not codegen'd), so leaving it inline
    multiplies the dominant cost by the codebook size — measured 9.9 s ->
    ~1.5 s at sf0.1. Same doubles (hoisting an identical expression)."""
    svs = [f"{sv}{m}" for m in range(len(subs))]
    return df.select(*keep, *[F.expr(s).alias(c) for s, c in zip(subs, svs)]).select(
        *keep, *svs, *[F.expr(_self_dot_sql(c)).alias(f"{vv}{m}") for m, c in enumerate(svs)]
    )


def _codebooks(seeds: list[tuple[int, list[float]]], n_subspaces: int):
    """Positional codebooks: subspace m's codes are the m-th subvectors of
    ``seeds``. Code ids are POSITIONAL (0..len-1 in id order), not the raw
    vector ids: the ADC distance-table lookup is element_at(dt, cid+1),
    which requires a dense 0-based code space — raw ids that start at 1
    or skip values would silently read the wrong table slot. The oracle
    mirrors this with row_number()-1."""
    if not seeds:
        raise ValueError("no seed vectors for the PQ codebooks")
    sub = len(seeds[0][1]) // n_subspaces
    return [
        [(pos, e[m * sub : (m + 1) * sub]) for pos, (_, e) in enumerate(seeds)]
        for m in range(n_subspaces)
    ]


def _codes(books, sv: str = "sv", vv: str = "vv") -> list[Column]:
    """Encode: per subspace, the code cM is the argmin over the codebook
    on packed rounded distance — a pure map (least() over literal
    expressions; no join)."""
    return [
        F.expr("CAST(least(" + ", ".join(
            f"CAST(FLOOR(({_l2_from_vv_sql(f'{vv}{m}', f'{sv}{m}', ce)})"
            f" * 1000000.0D + 0.5D) AS BIGINT) * 1024 + {cid}"
            for cid, ce in book
        ) + ") % 1024 AS INT)").alias(f"c{m}")
        for m, book in enumerate(books)
    ]


def _tables(books, sv: str = "sv", vv: str = "vv") -> list[Column]:
    """The query's distance tables: per subspace, dtM is the array of
    squared L2 distances to every code."""
    return [
        F.expr("array(" + ", ".join(
            _l2_from_vv_sql(f"{vv}{m}", f"{sv}{m}", ce) for _, ce in book
        ) + ")").alias(f"dt{m}")
        for m, book in enumerate(books)
    ]


def pq_seed_codebooks(
    emb: DataFrame, n_subspaces: int = PQ_SUBSPACES, n_codes: int = PQ_CODES
) -> list[list[tuple[int, list[float]]]]:
    """Seed PQ codebooks: subspace m's codes are the m-th subvectors of the
    ``n_codes`` lowest-id corpus vectors (no training — the same bounded,
    SQL-reconstructable selection as ``seeded_centroids``, which is what
    lets the DuckDB oracle rebuild the identical index)."""
    return _codebooks(_seeds(_vectors(emb), n_codes), n_subspaces)


def _raw_subspaces(v: DataFrame, books) -> DataFrame:
    """(id, e, svM, vvM): the raw-vector subspaces the PQ codes quantize."""
    sub = len(books[0][0][1])
    return _with_subspaces(v, ["id", "e"], [_sub_vec_sql("e", m, sub) for m in range(len(books))])


def pq_ann_topk_seeded(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Product-quantization ANN (ADC scoring), fully value-checkable.

    The memory side of the ANN trade (IVF/LSH bound CANDIDATES; PQ bounds
    BYTES): each corpus vector is encoded as PQ_SUBSPACES small code ids —
    64 floats become 4 bytes here — and query-to-vector distance is
    approximated from a per-query distance TABLE (query subvector to each
    code), never from the original vectors. At 100 TB the decoded corpus
    never exists: the scan carries the code columns only, and a real
    deployment composes this with IVF bucketing (IVF-PQ) so each query
    scores only its probed lists' codes.

    Every argmin/ranking decision is taken on integer-packed rounded
    distances (same discipline as ``ivf_ann_topk_seeded``), so the DuckDB
    oracle reproduces the index, the codes, and the ranks exactly.
    Returns (q_id, cand_id, approx_d, rnk); approx_d is the rounded ADC
    squared-L2 (ascending ranks)."""
    books = pq_seed_codebooks(emb)
    vx = _raw_subspaces(_vectors(emb), books)
    corpus = vx.select("id", *_codes(books))
    q = vx.filter(F.col("id") < n_queries).select(F.col("id").alias("q_id"), *_tables(books))
    return _adc_topk(_pairs(corpus, q), PQ_SUBSPACES, k)


def ann_recall_gate(
    truth_topk: DataFrame,
    ann_topk: DataFrame,
    n_queries: int,
    k: int,
    floor_milli: int,
) -> DataFrame:
    """One-row recall quality gate: does ``ann_topk`` recover at least
    ``floor_milli``/1000 of the exact ``truth_topk`` pairs?

    This is how the TRAINED index paths (k-means IVF — driver-side fitted
    centroids, not expressible in portable SQL) become driver-visible: the
    per-pair output of a trained index has no cross-engine oracle, but the
    boolean outcome of "recall >= floor" is deterministic for a seeded
    index on fixed data, so the oracle asserts the expected gate result
    (the seeded twins remain fully value-checked pair-for-pair).

    The comparison is exact integer arithmetic — 1000*hits >= floor*truth —
    no float recall is ever materialized, so an ulp cannot flip the gate.

    Scale shape: one broadcast-sized semi-join between two k*|queries|-row
    top-k results plus two scalar counts; the expensive inputs (brute force
    truth, ANN candidates) keep their own documented plans.
    """
    hits = truth_topk.select("q_id", "cand_id").join(
        ann_topk.select("q_id", "cand_id"), ["q_id", "cand_id"], "left_semi"
    )
    agg = truth_topk.agg(F.count(F.lit(1)).alias("n_truth")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("__n_hits"))
    )
    return agg.select(
        F.lit(n_queries).alias("n_queries"),
        F.lit(k).alias("k"),
        F.col("n_truth"),
        F.lit(floor_milli).alias("recall_floor_milli"),
        (F.lit(1000) * F.col("__n_hits") >= F.lit(floor_milli) * F.col("n_truth"))
        .cast("int")
        .alias("recall_ok"),
    )


def ivfpq_ann_topk_seeded(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ: the 100 TB ANN composition the IVF and PQ docstrings point
    at, actually built — coarse seeded-centroid bucketing bounds the
    CANDIDATES (each query scores only its ``nprobe`` probed lists) while
    product quantization bounds the BYTES (candidates are scored from
    code ids through per-query distance tables; the decoded corpus never
    exists). This is FAISS's IVFPQ shape minus residual encoding: codes
    quantize the raw vectors, not v - centroid (the residual variant
    changes only the encode/table expressions; non-residual keeps the
    whole index SQL-reconstructable and therefore value-checked —
    the same trade every seeded twin in this module makes).

    Plan shape: cluster assignment and PQ encoding are pure maps (literal
    expressions in codegen, no join); the probe join is equi- on the
    cluster id with the tiny query side broadcast; ADC is a fixed-order
    4-term sum of array lookups. One shuffle total (the final per-query
    window). All argmax/argmin/rank decisions on packed rounded integers
    — the oracle reproduces the index, codes, probes and ranks exactly.
    """
    # ONE bounded collect serves both seed structures (OPTIMIZATION r13):
    # the centroid and codebook selections are both `id < n` prefixes of
    # the same rows, so fetch max(n_centroids, PQ_CODES) once and slice.
    seeds = _seeds(_vectors(emb), max(n_centroids, PQ_CODES))
    cents = [s for s in seeds if s[0] < n_centroids]
    books = _codebooks([s for s in seeds if s[0] < PQ_CODES], PQ_SUBSPACES)
    # The full-vector norm is the FULL fold over e, not sqrt(vv0+..+vv3):
    # the identical float op sequence to the inline form, so identical
    # doubles.
    vx = _normed(_raw_subspaces(_vectors(emb), books))
    corpus = vx.select("id", _nearest_cluster(cents).alias("cluster"), *_codes(books))
    q = vx.filter(F.col("id") < n_queries).select(
        F.col("id").alias("q_id"), _probes(cents, nprobe).alias("cluster"), *_tables(books)
    )
    return _adc_topk(_pairs(corpus, q, "cluster"), PQ_SUBSPACES, k)


def ivfpq_residual_ann_topk_seeded(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
) -> DataFrame:
    """RESIDUAL IVF-PQ — the FAISS-faithful refinement of
    ``ivfpq_ann_topk_seeded``: codes quantize v - centroid(v) instead of
    v, so one codebook serves every list well (raw-vector codes waste
    their dynamic range re-encoding the coarse structure the centroid
    already captured). The query side mirrors it: each probe gets its own
    distance tables computed from q - centroid(probe).

    Still fully value-checked: centroids are the 16 seeded literals, of
    which each query probes 4; the
    residual codebooks are the residual subvectors of the ``PQ_CODES``
    lowest-id vectors, computed by the SAME expressions the oracle
    re-derives relationally (bounded PQ_CODES-row collect on the Spark
    side, CTE on the DuckDB side); every argmin/rank is a packed rounded
    integer. The subtraction is materialized per element on both engines
    (zip_with / list_zip x[1]-x[2]) so the float operation sequence is
    identical — the algebraically-equal 9-dot-product expansion would
    NOT be bit-identical and is deliberately not used.

    Plan shape identical to the non-residual composition (maps + one
    broadcast probe join + one window); the residual subtraction adds one
    vectorized pass per subspace.
    """
    cents = seeded_centroids(emb)
    sub = len(cents[0][1]) // PQ_SUBSPACES
    v = _normed(_vectors(emb))
    # Literal centroid subvector lookup tables, POSITIONAL in `cents`
    # order. The cluster column carries the centroid ID (a raw seed
    # vec_id) — dense 0-based only by fixture accident — so the lookup
    # goes through an explicit id->position literal map rather than
    # trusting element_at(csub, cluster+1): with ids starting at 1 the
    # positional read would silently subtract the WRONG centroid (and
    # NULL out on the largest id). Same hazard class _codebooks'
    # positional-code comment documents.
    csub_sql = [
        "array("
        + ", ".join(_sql_double_array(ce[m * sub : (m + 1) * sub]) for _, ce in cents)
        + ")"
        for m in range(PQ_SUBSPACES)
    ]
    cid_to_pos_sql = "map(" + ", ".join(
        f"{cid}, {pos}" for pos, (cid, _) in enumerate(cents)
    ) + ")"

    def residuals(vec_sql: str) -> list[str]:
        return [
            f"zip_with({_sub_vec_sql(vec_sql, m, sub)},"
            f" element_at({csub_sql[m]}, element_at({cid_to_pos_sql}, cluster) + 1),"
            f" (x, y) -> x - y)"
            for m in range(PQ_SUBSPACES)
        ]

    rx = _with_subspaces(
        v.withColumn("cluster", _nearest_cluster(cents)),
        ["id", "e", "cluster"], residuals("e"), "rsv", "rvv",
    )
    # Residual codebooks: the residual subvectors of the PQ_CODES lowest-id
    # vectors, computed by the expressions above (bounded collect; the
    # oracle re-derives the same rows relationally).
    rsv = F.concat(*[f"rsv{m}" for m in range(PQ_SUBSPACES)])
    books = _codebooks(_seeds(rx, PQ_CODES, rsv), PQ_SUBSPACES)
    corpus = rx.select("id", "cluster", *_codes(books, "rsv", "rvv"))
    # Per (query, probe): residual vs the PROBED centroid, then its tables.
    qbase = v.filter(F.col("id") < n_queries).select(
        F.col("id").alias("q_id"), F.col("e").alias("qe"), _probes(cents, 4).alias("cluster")
    )
    q = _with_subspaces(qbase, ["q_id", "cluster"], residuals("qe"), "qr", "qv").select(
        "q_id", "cluster", *_tables(books, "qr", "qv")
    )
    return _adc_topk(_pairs(corpus, q, "cluster"), PQ_SUBSPACES, k)


# ---------------------------------------------------------------------------
# Round-5: fully-relational, exact-integer Lloyd's k-means (trained
# centroids as a VALUE-CHECKED distributed program, VERDICT r4 item 8)
# ---------------------------------------------------------------------------


def kmeans_lloyd_relational(emb: DataFrame, k: int = 8, n_iters: int = 2) -> DataFrame:
    """Lloyd's k-means as a pure relational program in exact integer
    micro-units — the TRAINED-centroid path the rows-only ``sim_ann_ivf``
    could never value-check, made bit-reproducible:

    * vectors explode to (id, dim, xv) with xv = floor(x * 1e6 + 0.5)
      int64 (``_micro_units``);
    * seeds = the k lowest ids PRESENT, verbatim (pure SQL selection —
      DISTINCT + ORDER BY + LIMIT — so the oracle rebuilds the identical
      start state, and sparse or offset id spaces still yield k seeds);
    * assignment = argmin over integer squared L2 — (xv-cv)^2 sums,
      bounded by dims * (2e6)^2 ~ 2.6e14 << 2^63 — ties broken by cid;
    * update = per-(cid, dim) SUM(xv) div COUNT (both engines truncate
      toward zero, verified incl. negatives); empty clusters carry their
      previous centroid via left-join coalesce.

    Every step is int64 arithmetic, so ``n_iters`` rounds match the
    oracle's unrolled CTEs value-for-value by construction — Lloyd's is
    deterministic once seeding is; float k-means never survives
    cross-engine accumulation-order drift, fixed-point does.

    Scale shape: per iteration one dim-key join (|rows| x k expansion —
    k is small by contract) + one (id, cid) aggregate + one per-id argmax
    window + one (cid, dim) aggregate, all shuffling on bounded keys;
    centroids are k * dims rows. ``fold_rounds`` cuts the lineage every
    round (same treatment as the graph tier); ``n_iters=0`` returns the
    seed centroids, as the oracle's ``c0`` does. In production
    the TRAINING input is a bounded sample — the full corpus pays only
    the assignment map (cf. ivf_ann_topk_trained).

    Returns (cluster_id, dim, centroid_micro) — k * dims rows.
    """
    x = _micro_units(emb).localCheckpoint()
    # Seeds are the k LOWEST IDS PRESENT (TakeOrdered + semi-join), not a
    # literal `id < k` — a sampled input whose ids all exceed k would
    # otherwise silently train zero clusters.
    seed_ids = x.select("id").distinct().orderBy("id").limit(k)
    cents = x.join(seed_ids, "id", "left_semi").select(
        F.col("id").alias("cid"), "dim", F.col("xv").alias("cv")
    )

    def lloyd(cents: DataFrame, _round: int) -> DataFrame:
        diff = F.col("xv") - F.col("cv")
        dists = (
            x.join(cents, "dim")
            .select("id", "cid", (diff * diff).alias("__d"))
            .groupBy("id", "cid")
            .agg(F.sum("__d").alias("dist"))
        )
        assign = _by_distance(dists).filter(F.col("__rn") == 1).select("id", "cid")
        sums = (
            x.join(assign, "id")
            .groupBy("cid", "dim")
            .agg(F.expr("sum(xv) div count(1)").alias("nv"))
        )
        return cents.join(sums, ["cid", "dim"], "left").select(
            "cid", "dim", F.coalesce("nv", "cv").alias("cv")
        )

    cents = fold_rounds(lloyd, range(n_iters), state=cents)
    return cents.select(
        F.col("cid").alias("cluster_id"), "dim",
        F.col("cv").alias("centroid_micro"),
    )
