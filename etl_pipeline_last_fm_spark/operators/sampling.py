"""Deterministic sampling and split assignment for training-data pipelines.

Reproducibility is the whole point: train/val/test membership must be a pure
function of the record (id + salt), never of partitioning, row order, or
cluster size — `df.sample()` and `rand()` give neither cross-run nor
cross-engine stability. Everything here keys off ``portable_hash60`` so the
same record lands in the same split on Spark, DuckDB, or a bash one-liner
with md5sum — and the DuckDB oracles verify exactly that.

Scale: all three operators are embarrassingly parallel scans (hash + filter
/ window per stratum); no driver participation, no skew sensitivity beyond
the strata themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60


_DEFAULT_WEIGHTS = {"train": 80, "val": 10, "test": 10}


def _bucket_expr(salt: str, col: str):
    """pmod(hash(salt || value), 100) — the shared split bucket."""
    return F.pmod(
        portable_hash60(F.concat(F.lit(salt), F.lit(":"), F.col(col).cast("string"))),
        F.lit(100),
    )


def _bucket_edges(weights: dict[str, int]) -> list[tuple[str, int]]:
    """Cumulative [0,100) range edges in weight order — the carve whose
    in-order accumulation gives adjacent-split stability on re-weighting.
    ALL split assignment (DataFrame and SQL) must route through this."""
    assert sum(weights.values()) == 100
    edges: list[tuple[str, int]] = []
    acc = 0
    for name, pct in weights.items():
        acc += pct
        edges.append((name, acc))
    return edges


def _split_case(bucket, weights: dict[str, int]):
    edges = _bucket_edges(weights)
    expr = F.when(bucket < edges[0][1], F.lit(edges[0][0]))
    for name, hi in edges[1:]:
        expr = expr.when(bucket < hi, F.lit(name))
    return expr


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    salt: str = "v1",
) -> DataFrame:
    """Assign each record to a named split by hash bucket.

    ``weights`` maps split name -> percent (must sum to 100); buckets are
    pmod(hash(salt || id), 100) carved in the given order. Changing ``salt``
    re-deals every split (a new shuffle of the corpus); changing weights
    extends/shrinks ranges so records move between ADJACENT splits only —
    the property that lets a 80/10/10 -> 90/5/5 re-split keep most of train
    stable.
    """
    weights = weights or _DEFAULT_WEIGHTS
    bucket = _bucket_expr(salt, id_col)
    return df.withColumn("bucket", bucket.cast("int")).withColumn(
        "split", _split_case(bucket, weights)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    salt: str = "v1",
) -> DataFrame:
    """Deterministic n-per-stratum sample: rank records inside each stratum
    by (hash, id) and keep the first n. A fixed-size balanced subsample —
    the 'equal docs per language/source' knob every data-mixing recipe needs.

    One shuffle on the stratum; Spark plans a WindowGroupLimit (rank filter
    pushed into the sort) so each partition keeps only n rows per stratum
    in-flight rather than sorting whole strata.
    """
    h = portable_hash60(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= n_per_stratum)
        .select(id_col, strata_col, "sample_rank")
    )


def group_split_assign(
    df: DataFrame,
    group_col: str = "user_id",
    weights: dict[str, int] | None = None,
    salt: str = "gs1",
) -> DataFrame:
    """Leakage-safe split: hash the GROUP key, not the record id, so every
    record of a group lands in the same split. The difference between this
    and ``split_assign`` is the difference between a valid eval and train/
    test contamination: correlated records (a user's events, a document's
    chunks) must never straddle the split boundary.

    Same bucket arithmetic as split_assign (adjacent-split stability on
    re-weighting); pure per-row expression — no shuffle, no group
    materialization, groups need never fit anywhere.
    """
    weights = weights or _DEFAULT_WEIGHTS
    bucket = _bucket_expr(salt, group_col)
    return df.withColumn("split", _split_case(bucket, weights))


def mixture_sample(
    df: DataFrame,
    rates_bps: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_bps: int = 10_000,
    salt: str = "mix1",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling — the mixture-weights
    knob of a training corpus (downsample the dominant language, upsample
    the rare ones, temperature-flatten sources).

    ``rates_bps`` maps stratum value -> keep rate in basis points (10000 =
    keep all); unlisted strata keep ``default_bps``. Keep/drop is a pure
    function of (salt, id): re-runs, repartitions, and engine changes keep
    the same docs, and raising a rate strictly GROWS the kept set (nested
    samples — the property that makes mixture sweeps comparable run to
    run). Plain scan + filter: no shuffle at any scale.
    """
    bucket = F.pmod(
        portable_hash60(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))),
        F.lit(10_000),
    )
    rate = F.lit(default_bps)
    for value, bps in rates_bps.items():
        rate = F.when(F.col(stratum_col) == value, F.lit(bps)).otherwise(rate)
    return df.filter(bucket < rate)


def token_budget_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "v1",
) -> DataFrame:
    """Per-source token-budget cap — the mixing knob that is denominated in
    TOKENS, not documents (a data recipe says '30B tokens of web, 5B of
    code', and doc counts don't translate). Docs are ordered inside each
    source by (hash, id) — a stable pseudo-random shuffle, same family as
    stratified_sample — and kept while the EXCLUSIVE running token total is
    still under the source's budget, so the first doc of a source is always
    kept and the kept set is a deterministic prefix.

    Sources absent from ``budgets`` are dropped (budget 0).

    Scale shape: the running total is a two-phase block prefix-sum (the
    packing.pack_sequences decomposition, keyed by (source, hash-block)
    instead of doc_id blocks). A naive per-source window cumsum funnels a
    90%-one-source corpus through a single task; here each source fans out
    over 256 hash-blocks (the block id is the hash's top 8 bits, a monotone
    function of the (hash, id) sort key, so blocks partition the order and
    the result is bit-identical to the single window — which is exactly
    what the DuckDB oracle computes). Phase 2's cumsum-over-block-sums runs
    on n_sources * 256 rows — kilobytes at any corpus size.
    Returns (doc_id, source, n_tokens, cum_before)."""
    h = portable_hash60(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    n_tok = F.size(F.split(F.trim(F.col(text_col)), " ")).cast("long")
    budget = F.lit(None).cast("long")
    for src, b in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == src, F.lit(b)).otherwise(budget)

    # h is a non-negative 60-bit hash; top 8 bits -> 256 order-preserving
    # blocks per source.
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        n_tok.alias("n_tokens"),
        budget.alias("__budget"),
        h.alias("__h"),
        F.shiftright(h, 52).alias("__blk"),
    )

    # Phase 1+2: per-(source, block) sums, then an exclusive cumsum over the
    # block sums within each source (tiny: <=256 rows per source).
    wblk = (
        Window.partitionBy("source")
        .orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    block_offsets = (
        toks.groupBy("source", "__blk")
        .agg(F.sum("n_tokens").alias("__bsum"))
        .withColumn("__boff", F.coalesce(F.sum("__bsum").over(wblk), F.lit(0)))
        .select("source", "__blk", "__boff")
    )

    # Phase 3: within-(source, block) exclusive cumsum + broadcast offset.
    wdoc = (
        Window.partitionBy("source", "__blk")
        .orderBy(F.col("__h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.join(F.broadcast(block_offsets), ["source", "__blk"])
        .withColumn(
            "cum_before",
            F.col("__boff") + F.coalesce(F.sum("n_tokens").over(wdoc), F.lit(0)),
        )
        .filter(F.col("cum_before") < F.col("__budget"))
        .select("doc_id", "source", "n_tokens", "cum_before")
    )


def weighted_sample(
    docs: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "ws1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k items, inclusion odds
    proportional to token count — the Efraimidis-Spirakis A-ES scheme:
    key = u^(1/w) with u uniform in (0,1], keep the k largest keys.

    'Random' u is the portable hash scaled to (0,1], so the sample is a
    pure function of (salt, id) — reproducible across engines, runs, and
    cluster sizes, and mergeable: the global top-k of per-partition top-ks
    is the sample, which is exactly how Spark executes the TakeOrdered
    limit below (no global sort, no single-partition window).

    Returns (doc_id, n_tokens, wkey) ordered by wkey desc; wkey is emitted
    rounded (display only) — selection ranks on the full-precision key.
    """
    n_tok = F.size(F.split(F.trim(F.col(text_col)), " ")).cast("long")
    h = portable_hash60(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    # (h+1) / 2^60 in (0, 1]: h is uniform in [0, 2^60).
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    wkey = F.pow(u, F.lit(1.0) / n_tok)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            n_tok.alias("n_tokens"),
            wkey.alias("__wkey"),
        )
        .orderBy(F.col("__wkey").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(
            "doc_id",
            "n_tokens",
            (F.floor(F.col("__wkey") * 1e12 + F.lit(0.5)) / 1e12).alias("wkey"),
        )
    )
