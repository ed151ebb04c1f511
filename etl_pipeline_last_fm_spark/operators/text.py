"""Text analysis operators for large-scale training-data pipelines.

All hot-path computation is native Column expressions (split / array ops /
hash functions) — JVM-side, codegen-friendly, no Python in the loop. Each
operator ships with a DuckDB-oracle SQL twin built from the same constants so
the two can never drift.

Tokenization contract (shared with the oracles): tokens = single-space split
of ``trim(text)``; stopword hits are counted over *distinct* tokens
(set-intersection semantics — identical in Spark ``array_intersect`` and
DuckDB ``list_intersect``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.spread import spread_scan
from etl_pipeline_last_fm_spark.functions.scalar import half_up_round, portable_hash60

EN_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "for"]
LANG_STOPWORDS = {
    "en": EN_STOPWORDS,
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "von", "zu"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"],
}
# Deterministic tie-break priority for lang prediction.
LANG_PRIORITY = ["en", "de", "es", "fr"]


def _tokens() -> Column:
    return F.split(F.trim(F.col("text")), " ")


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of the case/whitespace-normalized text.

    (The rolling-hash fingerprint family lives in dedup.simhash/minhash; md5
    is the exact-content fingerprint both engines compute identically.)"""
    return docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )


# BPE-ish pre-tokenizer: letter runs / digit runs (<=3, GPT-style) /
# single punctuation. Only portable regex constructs (char classes,
# bounded quantifiers) so Java (Spark) and RE2-ish (DuckDB) agree.
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\s]"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts and char count — the cheap
    corpus statistics every training-data pipeline computes first."""
    return docs.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


#: Winnowing: characters per hashed gram, and grams per sliding window.
GRAM_CHARS = 16
WINNOW_WINDOW = 8


def rolling_fingerprint_rows(docs: DataFrame, portable: bool = False) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    ``GRAM_CHARS``-char gram (rolling-hash family), keep each
    ``WINNOW_WINDOW``-gram sliding window's minimum, dedupe.
    Returns distinct (doc_id, fp) rows.

    Relational formulation built for both scale and codegen: the generator
    input is a plain integer sequence (cheap — computed arrays as generator
    inputs get re-evaluated per emitted row under whole-stage codegen), the
    gram hash is a per-row scalar, and the sliding minimum is a window
    aggregate over (doc_id, pos). One shuffle on doc_id.

    ``portable=True`` swaps the gram hash from xxhash64 (production) to the
    md5-derived portable_hash60 the DuckDB oracle recomputes bit-identically
    (fingerprint_overlap_oracle_sql); algorithm unchanged."""
    from pyspark.sql import Window

    # spread_scan (OPTIMIZATION r14, guide §2.5): the per-gram explode and
    # the gram hash — length(text) md5/xxhash evaluations per doc, the
    # operator's dominant CPU — run at the scan's parallelism, one task on
    # a single-row-group corpus file. No-op on already-parallel input;
    # per-doc results are independent of partitioning (same window
    # partitioned by doc_id, unchanged oracle).
    docs = spread_scan(docs, "doc_id")
    gram = F.expr(f"substring(text, pos, {GRAM_CHARS})")
    gh = portable_hash60(gram) if portable else F.xxhash64(gram)
    grams = docs.select(
        "doc_id",
        F.expr(f"explode(sequence(1, greatest(length(text) - {GRAM_CHARS} + 1, 1)))").alias("pos"),
        F.col("text"),
    ).select(
        "doc_id",
        "pos",
        gh.alias("gh"),
        F.greatest(F.length("text") - F.lit(GRAM_CHARS - 1), F.lit(1)).alias("__ng"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_WINDOW - 1)
    return (
        grams.withColumn("__wmin", F.min("gh").over(w))
        # Only full windows (plus the single partial window of a too-short
        # doc) — mirrors winnowing's window count of max(G - w + 1, 1).
        .filter(F.col("pos") <= F.greatest(F.col("__ng") - F.lit(WINNOW_WINDOW - 1), F.lit(1)))
        .select("doc_id", F.col("__wmin").alias("fp"))
        .distinct()
    )


def fingerprint_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 5,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs sharing >= min_shared winnowing fingerprints
    (equi-join on the fingerprint — shared fingerprints localize common
    passages, so the join output is proportional to actual overlap,
    near-linear for a mostly-unique corpus)."""
    fps = rolling_fingerprint_rows(docs, portable=portable)
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: stopword ratio (fluent text has some) and
    distinct-token ratio (degenerate repetition has few). Score = mean of the
    two, composed from the already-rounded components so the Spark and DuckDB
    results are bit-identical."""
    toks = _tokens()
    dtoks = F.array_distinct(toks)
    n_tokens = F.size(toks)
    n_distinct = F.size(dtoks)
    stop_hits = F.size(F.array_intersect(dtoks, F.array(*[F.lit(w) for w in EN_STOPWORDS])))
    stop_ratio = half_up_round(stop_hits.cast("double") / n_distinct, 4)
    uniq_ratio = half_up_round(n_distinct.cast("double") / n_tokens, 4)
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        half_up_round((stop_ratio + uniq_ratio) / F.lit(2.0), 4).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram-free language ID heuristic: count distinct-token hits against
    per-language stopword lists; predict the highest-hit language with a
    fixed priority tie-break; 'und' (undetermined) when all zero."""
    dtoks = F.array_distinct(_tokens())
    hits = {
        lang: F.size(F.array_intersect(dtoks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        pred = pred.when(hits[lang] == best, F.lit(lang))
    cols = [F.col("doc_id")]
    cols += [hits[lang].alias(f"{lang}_hits") for lang in LANG_PRIORITY]
    cols += [pred.alias("lang_pred")]
    return docs.select(*cols)


def tfidf_top_terms(docs: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document: tf * ln(1 + N/df), rounded 4dp, rank
    by (score desc, term asc).

    Plan shape at scale: one shuffle to (doc, term) counts, one much smaller
    shuffle for document frequencies, N as a broadcast scalar, and the top-k
    window plans a WindowGroupLimit on the (doc) partitioning the tf
    aggregation already produced. Ranking uses the ROUNDED score so a 1-ulp
    ln() difference between engines can never flip an order the term
    tie-break doesn't already pin."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            half_up_round(
                F.col("tf") * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df")), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= top_k)
        .select("doc_id", "term", "term_rank", "score")
    )


def binary_meta(docs: DataFrame) -> DataFrame:
    """Opaque-content metadata: byte length + sha256 — the multimodal-column
    pattern (content treated as bytes, typed metadata alongside)."""
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("content_sha"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins (built from the same constants)
# ---------------------------------------------------------------------------


def lm_score(docs: DataFrame) -> DataFrame:
    """Unigram language-model document scoring (the CCNet-style statistical
    quality filter): mean per-token log-probability under the corpus's own
    add-one-smoothed unigram distribution. Docs of frequent tokens score
    high; rare-token/noise docs score low — the filterable signal.

    Numeric design: per-token logprobs are quantized to integer MICRO-NATS
    (floor(ln(p)*1e6) as BIGINT) on the vocab-sized census BEFORE any
    per-doc summation, so the doc sums are exact integer arithmetic —
    associative, partition-order-independent, engine-identical. A float
    ln-sum would be order-dependent at the ulp and could flip a rounding
    boundary (the same trap operators/incremental.py documents).

    Accepted cross-engine risk: the quantization itself still computes
    ln() in each engine, so exact oracle parity rests on Spark's and
    DuckDB's ln agreeing at every floor(ln(p)*1e6) boundary the data
    happens to hit. Both use the platform libm on this container, but an
    ulp difference AT a boundary would flip one lp_micro by 1 and break
    the hash (not the semantics). Same accepted-risk class as
    weighted_sample_oracle_sql's pow() note in operators/sampling.py —
    quantize-then-integer-arithmetic bounds the blast radius to ±1 micro-
    nat per distinct token, it cannot cascade through the doc sums.

    Scale shape: one token census (partial+final count over the stream),
    logprobs computed on |vocab| rows, broadcast back onto the exploded
    stream, one per-doc sum. Returns (doc_id, n_tokens,
    mean_logprob_micro) where the mean is integer micro-nats div tokens
    (floor division — exact).
    """
    toks = docs.select(
        "doc_id", F.explode(_tokens()).alias("tok")
    ).filter(F.col("tok") != "")
    census = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = census.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    lp = (
        census.crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.floor(
                F.log(
                    (F.col("c") + F.lit(1)).cast("double")
                    / (F.col("n_total") + F.col("v")).cast("double")
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        toks.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("__sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("__sum div n_tokens").alias("mean_logprob_micro"),
        )
    )


def lm_score_bigram(docs: DataFrame) -> DataFrame:
    """BIGRAM language-model document scoring — the conditional sibling
    of ``lm_score``: mean per-bigram log P(wᵢ | wᵢ₋₁) under the corpus's
    own add-one-smoothed bigram model, P(b|a) = (c(a,b)+1)/(ctx(a)+V)
    with ctx(a) = a's count as a bigram CONTEXT and V the unigram vocab
    size. Unigram scoring ranks docs by token frequency; the bigram
    model additionally penalizes improbable ADJACENCY (shuffled or
    boilerplate-stitched text scores low even when its tokens are
    common) — the next rung of the CCNet-style quality-filter ladder.

    Same numeric design and accepted cross-engine ln() risk as lm_score:
    per-bigram logprobs quantized to integer micro-nats on the
    bigram-TYPE census BEFORE the per-doc sums, so doc arithmetic is
    exact. Docs with fewer than 2 tokens have no bigrams and no row.

    Scale shape: one slice-pair explode (collocations' device) feeding a
    partial+final bigram census; the context census derives FROM the
    bigram census (vocab-sized aggregate, no second corpus pass); the
    logprob table is bigram-type-sized and corpus-growing, so it is NOT
    hint-broadcast (AQE decides); one per-doc sum."""
    base = docs.select("doc_id", _tokens().alias("__toks"))
    big = (
        base.filter(F.size("__toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("__toks", 1, F.size("__toks") - 1).alias("a"),
                    F.slice("__toks", 2, F.size("__toks") - 1).alias("b"),
                )
            ).alias("__p"),
        )
        .select("doc_id", F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
    )
    cab = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("__cab"))
    ctx = cab.groupBy("a").agg(F.sum("__cab").alias("__ctx"))
    vocab = base.select(F.explode("__toks").alias("t")).agg(
        F.countDistinct("t").alias("__v")
    )
    lp = (
        cab.join(ctx, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.floor(
                F.log(
                    (F.col("__cab") + F.lit(1)).cast("double")
                    / (F.col("__ctx") + F.col("__v")).cast("double")
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        big.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("__sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("__sum div n_bigrams").alias("mean_logprob_micro"),
        )
    )


def repetition_scores(docs: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition metrics (the Gopher/MassiveText boilerplate
    heuristics): fraction of duplicated n-grams and the coverage of the
    single most frequent n-gram. High values mark templated/spammy docs that
    slip past length and stopword filters.

    Per-doc aggregation only (explode n-grams -> two nested groupBys keyed
    by doc) — embarrassingly parallel, partitions bounded by the doc, never
    the corpus. Returns (doc_id, n_ngrams, dup_ngram_frac, top_ngram_frac),
    fractions floor-trick rounded at 1e-4; docs shorter than n tokens have
    zero n-grams and report 0.0 for both fractions.
    """
    toks_df = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("__t")
    )
    grams = toks_df.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("__t") >= n,
                F.sequence(F.lit(1), F.size("__t") - F.lit(n - 1)),
            ).otherwise(F.array())
        ).alias("pos"),
        F.col("__t"),
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("__t"), F.col("pos"), n)).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("__total"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("__dup"),
        F.max("c").alias("__top"),
    )
    frac = lambda c: half_up_round(c.cast("double") / F.col("__total"), 4)  # noqa: E731
    scored = per_doc.select(
        "doc_id",
        F.col("__total").alias("n_ngrams"),
        frac(F.col("__dup")).alias("dup_ngram_frac"),
        frac(F.col("__top")).alias("top_ngram_frac"),
    )
    # docs with < n tokens produce no gram rows: restore them with zeros
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
        F.coalesce("dup_ngram_frac", F.lit(0.0)).alias("dup_ngram_frac"),
        F.coalesce("top_ngram_frac", F.lit(0.0)).alias("top_ngram_frac"),
    )


def top_ngrams(docs: DataFrame, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word n-grams with counts — the vocabulary/phrase
    census a tokenizer-training or contamination pass starts from.
    Output: (gram, cnt, rnk), rank deterministic (count desc, gram asc).

    Scale shape: generator input is the integer position sequence (cheap per
    the codegen rule), the n-gram string is a per-row slice+join, counting
    is a partial+final hash aggregate, and the top-k is TakeOrdered (orderBy
    + limit — never a global sort); the final rank window runs on k rows.
    Documents shorter than n tokens contribute nothing (both engines)."""
    toks = F.split(F.trim(F.col("text")), " ")
    base = docs.select(toks.alias("__toks")).filter(F.size("__toks") >= n)
    gram = F.array_join(F.expr(f"slice(__toks, pos, {n})"), " ")
    grams = base.select(
        F.explode(F.sequence(F.lit(1), F.size("__toks") - F.lit(n - 1))).alias("pos"),
        "__toks",
    ).select(gram.alias("gram"))
    top = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(k)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("gram"))
    return top.withColumn("rnk", F.row_number().over(w)).select("gram", "cnt", "rnk")


def corpus_drift(docs: DataFrame) -> DataFrame:
    """Pairwise distribution drift between sources: EXACT total-variation
    distance between token unigram distributions, in integer micro-units.

    The shard/mixture health check an LLM data pipeline runs before
    training: "did src7's crawl drift from src3's?" KL is the textbook
    choice but needs ln() (cross-engine ulp risk, see lm_score); TV
    distance ``0.5 * sum_t |p_t - q_t|`` is a pure RATIONAL of the token
    counts — with per-source counts a_t (total A) and b_t (total B):

        N = sum_t |a_t*B - b_t*A|          TV = N / (2*A*B)

    and the union-of-vocabulary sum collapses onto the SHARED vocabulary
    only (tokens on one side contribute their whole mass):

        N = 2*A*B + sum_{t in both} (|a_t*B - b_t*A| - a_t*B - b_t*A)

    so one inner join over (token), never a full outer per pair. Output
    tv_micro = (1e6 * N) div (2*A*B) — int64 floor division, exact parity.

    Scale shape: one census shuffle (source, token), the pair expansion is
    over the SOURCE dimension (tiny — mixtures have tens of shards, not
    millions), the per-pair join is token-partitioned. Overflow: the
    BINDING term is the final scaling 1e6 * (2*A*B) < 2^63, i.e.
    A*B < 4.6e12 — balanced shards of ~2.1M tokens each (NOT the looser
    a_t*B per-term bound). Past that, run the same program with the
    numerator cast to decimal(38,0) before the 1e6 scaling (Spark) /
    HUGEINT (DuckDB) — the documented swap the flagship notes, executed
    in tests/test_decimal_swap.py for the revenue programs; `div` on
    decimal returns the same integral quotient.
    """
    return tv_from_census(token_census(docs))


def token_census(docs: DataFrame) -> DataFrame:
    """Per-(source, token) counts — the ADDITIVE state behind corpus_drift:
    censuses of disjoint batches merge by cnt-sum (order-free)."""
    return (
        docs.select(F.col("source"), F.explode(_tokens()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def tv_from_census(census: DataFrame) -> DataFrame:
    """Read-time TV computation from a (source, tok, cnt) census — the
    read side of corpus_drift."""
    totals = census.groupBy("source").agg(F.sum("cnt").alias("tot"))
    ca = (
        census.join(totals, "source")
        .select(
            F.col("source").alias("src_a"), "tok",
            F.col("cnt").alias("a"), F.col("tot").alias("ta"),
        )
    )
    cb = (
        census.join(totals, "source")
        .select(
            F.col("source").alias("src_b"), "tok",
            F.col("cnt").alias("b"), F.col("tot").alias("tb"),
        )
    )
    term = (
        F.abs(F.col("a") * F.col("tb") - F.col("b") * F.col("ta"))
        - F.col("a") * F.col("tb")
        - F.col("b") * F.col("ta")
    )
    shared = (
        ca.join(cb, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(term).alias("__s"))
    )
    tota = totals.select(F.col("source").alias("src_a"), F.col("tot").alias("ta"))
    totb = totals.select(F.col("source").alias("src_b"), F.col("tot").alias("tb"))
    # Pair frame from totals (not the join) so disjoint-vocabulary pairs
    # still appear — their shared sum is 0 and TV is exactly 1.
    pairs = tota.crossJoin(totb).filter(F.col("src_a") < F.col("src_b"))
    return pairs.join(shared, ["src_a", "src_b"], "left").select(
        "src_a", "src_b",
        F.col("ta").alias("tok_a"), F.col("tb").alias("tok_b"),
        # The cross-multiply 1e6*2*ta*tb wraps int64 once per-source token
        # totals pass ~2M — realistic corpus scale, not an edge case — so
        # the scaling is widened to DECIMAL(38,0) unconditionally (HUGEINT
        # on the oracle side); the quotient is <= 1e6, BIGINT-safe.
        F.expr(
            "(1000000 * (2 * CAST(ta AS DECIMAL(38,0)) * tb"
            " + coalesce(__s, 0L)))"
            " div (2 * CAST(ta AS DECIMAL(38,0)) * tb)"
        ).cast("long").alias("tv_micro"),
    )


def inverted_index(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Posting lists: per term, its document frequency, total term
    frequency, and the sorted doc-id posting list (rendered as a
    comma-joined string so the cross-engine value hash covers the LIST
    CONTENT, not an engine's array formatting).

    The retrieval-side primitive (contamination checks, BM25 scoring,
    "which shards contain this phrase" audits) — the batch build is a
    census + one groupBy. ``min_df`` drops hapax terms (noise and the
    bulk of the vocabulary, classic index-size lever).

    Scale shape: one shuffle on term. A stop-word-grade term's posting
    row is the documented skew point — production pages postings into
    fixed-size buckets (term, page_no); the single-row rendering here is
    the test-scale form of the same census.
    """
    return render_inverted_index(postings_census(docs), min_df)


def postings_census(docs: DataFrame) -> DataFrame:
    """Per-(term, doc_id) term frequencies — the ADDITIVE state behind
    inverted_index: disjoint batches' censuses merge by union (one row
    per key under an append-only corpus)."""
    return (
        docs.select(F.col("doc_id"), F.explode(_tokens()).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def render_inverted_index(census: DataFrame, min_df: int = 2) -> DataFrame:
    """Read-time index rendering from a (term, doc_id, tf) census — the
    read side of inverted_index."""
    return (
        census.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("ttf"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def collocations(
    docs: DataFrame, min_count: int = 10, top_k: int = 100
) -> DataFrame:
    """Top-k collocations: adjacent word pairs ranked by LIFT —
    corpus_tokens · c(a,b) / (c(a) · c(b)) — the association measure
    behind phrase detection / tokenizer-merge candidates (PMI's
    monotone argument, kept in exact integer ppm so no log/float enters
    the parity boundary). ``min_count`` suppresses the unstable
    low-frequency tail (textbook collocation practice), and the top-k
    cut is totally ordered by (lift, a, b).

    Scale shape: one token explode for unigram counts, one slice-pair
    explode for bigram counts (both partial+final hash aggregates), two
    joins against vocabulary-sized count tables (vocab grows sublinearly
    in the corpus; AQE broadcasts when small), a broadcast 1-row total,
    TakeOrdered for the cut. The ×N·10⁶ cross-multiply is decimal(38,0)
    — it passes 2^63 at ~5e6 corpus tokens, i.e. already at bench SF."""
    base = docs.select(_tokens().alias("__toks"))
    uni = (
        base.select(F.explode("__toks").alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("__ca"))
    )
    total = uni.agg(F.sum("__ca").cast("decimal(38,0)").alias("__n"))
    pairs = (
        base.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("__toks", 1, F.size("__toks") - 1).alias("a"),
                    F.slice("__toks", 2, F.size("__toks") - 1).alias("b"),
                )
            ).alias("__p")
        )
        .select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    return (
        pairs.join(uni, "a")
        .join(
            uni.select(F.col("a").alias("b"), F.col("__ca").alias("__cb")),
            "b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "c_ab",
            F.expr(
                "CAST(CAST(c_ab AS DECIMAL(38,0)) * __n * 1000000"
                " div (CAST(__ca AS DECIMAL(38,0)) * __cb) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "a", "b")
        .limit(top_k)
    )


def hashed_features(docs: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Hashing-trick featurizer (Weinberger et al.): sparse per-document
    token-count vectors with bucket = portable_hash(salt:token) mod
    n_buckets — the vocabulary-free vectorization a tokenizer-less
    training pipeline uses (no vocab build, no dictionary shuffle, fixed
    feature width by construction). Output is the SPARSE relational form
    (doc_id, bucket, cnt) with zero buckets absent — assembling a dense
    array is a per-row transform downstream; the sparse rows are what
    hash-compare cleanly and what a feature store ingests.

    Scale shape: one token explode + one (doc, bucket) hash aggregate —
    map-side partial combine collapses the explode before the shuffle.
    The portable-hash family keeps the oracle able to recompute the
    exact bucket of every token (production would swap xxhash64 — same
    operator, cheaper digest)."""
    tok = F.explode(_tokens()).alias("__t")
    bucket = F.pmod(
        portable_hash60(F.concat(F.lit("feathash"), F.lit(":"), F.col("__t"))),
        F.lit(n_buckets),
    ).cast("int")
    return (
        docs.select("doc_id", tok)
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the doc's OWN token distribution,
    in integer micro-nats: H = ln n − (1/n)·Σ c·ln c over the doc's
    token-type counts — the lexical-DIVERSITY rung of the quality ladder
    (lm_score ranks docs by corpus-typicality; entropy flags the
    keyword-stuffed / single-token-spam docs whose distribution is
    degenerate even when each token is individually common).

    Same micro-nat quantization discipline as lm_score: ln(c) is floored
    to micro-nats per (doc, type) row BEFORE the per-doc sums, so the doc
    arithmetic is exact integers (entropy_micronats =
    floor(ln(n)·1e6) − (Σ c·floor(ln(c)·1e6)) div n, every operand
    non-negative so the truncating div is engine-identical); same
    accepted cross-engine ln() ulp risk, same ±1-micro-nat blast radius.

    Scale shape: explode → one (doc, token) hash aggregate → one per-doc
    aggregate. No joins, no windows; both aggregates combine map-side."""
    toks = docs.select(
        "doc_id", F.explode(_tokens()).alias("tok")
    ).filter(F.col("tok") != "")
    census = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        census.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(
                F.col("c")
                * F.floor(
                    F.log(F.col("c").cast("double")) * F.lit(1_000_000.0)
                ).cast("long")
            ).alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            (
                F.floor(
                    F.log(F.col("n_tokens").cast("double"))
                    * F.lit(1_000_000.0)
                ).cast("long")
                - F.expr("__s div n_tokens")
            ).alias("entropy_micronats"),
        )
    )


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Corpus Zipf law fit: the OLS slope of log(frequency) against
    log(rank) over the token-type census — the rank-frequency diagnostic
    a corpus-quality dashboard tracks (natural text sits near slope −1;
    boilerplate-heavy or deduplicate-starved corpora drift off it).

    Numeric design: log(rank) and log(count) are quantized to integer
    MICRO-NATS on the VOCAB-SIZED census (the lm_score device, same
    accepted ulp-at-the-boundary risk, same blast radius: ±1 micro-nat
    per distinct type, it cannot cascade through the sums), then the
    closed-form slope runs entirely in decimal(38,0) integers with the
    trend_fit cross-multiply. Rank is row_number over (count desc,
    token) — tie-pinned, and the window runs over the vocab DIMENSION
    (the rfm/abc argument; a 1e9-type vocabulary takes the two-phase
    prefix-sum swap). Output: ONE row (n_types, n_tokens,
    zipf_slope_ppm) — slope in ppm (≈ −1,000,000 for natural text).

    Scale shape: one token census over the stream (the only corpus pass,
    partial+final), then every later step is vocab-sized."""
    from pyspark.sql import Window

    toks = docs.select(F.explode(_tokens()).alias("tok")).filter(
        F.col("tok") != ""
    )
    census = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    pts = census.select(
        "c",
        F.floor(
            F.log(F.row_number().over(w).cast("double")) * 1_000_000.0
        ).cast("long").alias("__x"),
        F.floor(F.log(F.col("c").cast("double")) * 1_000_000.0)
        .cast("long").alias("__y"),
    )
    d38 = "decimal(38,0)"
    agged = pts.agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(F.col("c")).alias("n_tokens"),
        F.sum(F.col("__x").cast(d38)).alias("__sx"),
        F.sum(F.col("__y").cast(d38)).alias("__sy"),
        F.sum((F.col("__x").cast(d38) * F.col("__y").cast(d38))).alias("__sxy"),
        F.sum((F.col("__x").cast(d38) * F.col("__x").cast(d38))).alias("__sxx"),
    )
    return agged.select(
        F.col("__n").cast("long").alias("n_types"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((__n * __sxy - __sx * __sy) * 1000000"
            " div NULLIF(__n * __sxx - __sx * __sx, 0) AS BIGINT)"
        ).alias("zipf_slope_ppm"),
    )


def bm25_topk(
    docs: DataFrame, query_terms: tuple[str, ...], k: int = 20
) -> DataFrame:
    """BM25 document ranking for a fixed query — the IR ladder's rung
    above tfidf (Robertson–Spärck Jones): per matched (doc, term),
        score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the standard k1 = 1.2, b = 0.75. Those parameters are RATIONAL
    (6/5, 3/4), and avgdl = total/N, so multiplying through clears every
    denominator:
        contribution = idf_micro · 44·tf·total
                       div (20·total·tf + 6·total + 18·dl·N)
    — ENTIRELY exact integers after idf is quantized to micro-nats on
    the df census (idf_micro = floor(ln((N − df + ½)/(df + ½) + 1)·10⁶);
    the lm_score quantize-on-the-census device and its documented
    accepted ulp risk). Cross-multiplies ride decimal(38,0)
    unconditionally (idf·44·tf·total brushes 2^63 already at corpus
    scale). Top-k cut totally ordered by (score desc, doc_id).

    Scale shape: the ONLY corpus-sized passes are the doc-length
    projection and the query-term-filtered tf aggregate (the IN filter
    prunes before the shuffle); df and the scalars are tiny and
    broadcast. Returns (doc_id, n_terms_matched, bm25_micro)."""
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    toks = docs.select(
        F.col("doc_id"), F.explode(_tokens()).alias("tok")
    ).filter(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__dl"))
    scalars = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__total")
    )
    qt = list(dict.fromkeys(query_terms))  # dedup, keep order
    qtoks = toks.filter(F.col("tok").isin(qt))
    tf = qtoks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("__tf"))
    df_t = qtoks.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count(F.lit(1)).alias("__df")
    )
    idf = df_t.crossJoin(F.broadcast(scalars)).select(
        "tok",
        F.floor(
            F.log(
                (F.col("__n") - F.col("__df") + F.lit(0.5))
                / (F.col("__df") + F.lit(0.5))
                + F.lit(1.0)
            )
            * 1_000_000.0
        ).cast("long").alias("__idf"),
    )
    d38 = "decimal(38,0)"
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            F.expr(
                f"CAST(CAST(__idf AS {d38}) * 44 * __tf * __total"
                f" div (CAST(20 AS {d38}) * __total * __tf"
                f"      + 6 * __total + 18 * __dl * __n) AS BIGINT)"
            ).alias("__s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("__s").alias("bm25_micro"),
        )
        .orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
        .limit(k)
    )
