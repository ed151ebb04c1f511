"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard LLM pre-training hygiene step (the GPT-3 paper's 13-gram
dedup): any training doc containing an n-gram that also appears in a
benchmark doc is contaminated and must be dropped or scrubbed before
training.

Scale shape: the benchmark side is always small (eval sets are thousands of
docs, the corpus is the 100 TB side), so its distinct-shingle set is
BROADCAST — the whole check is then a map-side semi-join against the corpus
shingle stream plus one groupBy(doc_id): no corpus shuffle on the join at
all, one aggregation shuffle proportional to corpus size. If the benchmark
side ever outgrows broadcast range, drop the hint and the same plan becomes
a shuffled semi-join — semantics unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import half_up_round


def _shingle_rows(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """Distinct (doc_id, shingle-string) rows; integer-sequence generator
    AND a pre-split token array (the post-explode projection runs per
    shingle row, so a `split(text)` there would be O(words^2) per doc —
    cf. dedup.minhash_signature's pre-split)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.trim(F.col(text_col)), " ").alias("__toks"),
        )
        .select(
            "doc_id",
            F.expr(f"explode(sequence(0, greatest(size(__toks) - {n}, 0)))").alias("i"),
            F.col("__toks"),
        )
        .select(
            "doc_id",
            F.expr(f"concat_ws(' ', slice(__toks, i + 1, {n}))").alias("sh"),
        )
        .distinct()
    )


def benchmark_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_hits: int = 1,
) -> DataFrame:
    """Per contaminated training doc: how many of its distinct n-gram
    shingles appear anywhere in the benchmark set, plus the contamination
    ratio (hits / total shingles, half-up 4dp).

    Returns only docs with >= min_hits contaminated shingles (the drop
    list); a left anti-join of the corpus against this result is the
    decontaminated corpus.
    """
    # Single-pass shape: the corpus shingle stream is consumed ONCE — a
    # broadcast LEFT join marks contaminated shingles in place, and one
    # groupBy(doc_id) produces totals and hit counts together. (The
    # two-consumer form — separate semi-join for hits and groupBy for
    # totals — scans and re-shingles the 100 TB side twice.)
    train_sh = _shingle_rows(train, n, id_col, text_col)
    bench_sh = (
        _shingle_rows(bench, n, id_col, text_col)
        .select("sh")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    marked = train_sh.join(F.broadcast(bench_sh), "sh", "left")
    ratio = F.col("contaminated").cast("double") / F.col("n_shingles")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("contaminated"),
        )
        .filter(F.col("contaminated") >= min_hits)
        .select(
            "doc_id",
            "n_shingles",
            "contaminated",
            half_up_round(ratio, 4).alias("contamination_ratio"),
        )
    )
