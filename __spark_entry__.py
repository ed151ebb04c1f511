"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every graded query, name -> callable (spark, sf_dir) ->
DataFrame: the SURVEY.md §2 operators plus the extension operators (dedup /
similarity / text analysis / eval metrics).
``oracle_sql()`` — DuckDB-runnable ANSI SQL for EVERY query: 205/205
oracle-paired (same column names; computed columns aliased on both sides).
Minhash-LSH, simhash and ANN-LSH are value-checked via portable md5-derived
hashes and seed-deterministic plane literals; ``sim_ann_ivf``'s oracle
replays its relational Lloyd training (``kmeans_lloyd_cte_sql``).

Both maps come from ``grading.SPECS``, one spec per query; only the graded
order is kept here.

Float-parity strategy (SURVEY.md Appendix A.2/A.3): every derived double is
rounded with the engine-independent floor trick ``floor(x*10^s + 0.5)/10^s``
on BOTH sides, so the integer division produces bit-identical doubles in
Spark and DuckDB regardless of each engine's ROUND tie behavior.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Self-locate: the driver may load this file by path (importlib from file)
# from any cwd; the engine package lives next to it.
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import DataFrame, SparkSession

from grading import SPECS
from grading.warehouse import q_flagship_royalties

SF001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the royalties mart re-expressed over the TPC-H-ish star
    (reference dags/from_dds_to_dm_pg.py:73-79) — 3-way join + groupBy +
    sum*rate + round + order. Exercises every layer of the engine."""
    return q_flagship_royalties(spark, SF001)


#: The pinned head of ``queries()``; every other query follows in spec
#: order. The first 50 are the round-14 graded window (VERDICT r13 item 1
#: — certify the r13/r14 rewrites through the driver): 9
#: rotation-invariant headliners; the complete 9-entry r7-vintage
#: freshness backlog (mixture_sample first, as the r12 past-cap line
#: pinned); the 7 operators whose r13 rewrites were outside the r13 window
#: (pagerank, pagerank_weighted, triangle_count, the seeded PQ/IVF-PQ
#: family) plus embedding_cosine_dedup (kept in-window — its blocked
#: scorer changed in r13 and changes again follow the same shared
#: hoists); the 5 operators this round's optimization targets touch (the
#: dedup mid-tier + link_prediction, whose r13 wedge clustering re-attests
#: here); and the 20 oldest r8-vintage entries in line order.
PINNED = [
    "flagship_royalties",
    "pricing_summary",
    "star_join",
    "windowed_top_k",
    "idempotent_append",
    "sessionize",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_bruteforce",
    "mixture_sample",
    "sim_ann_ivf_seeded",
    "fuzzy_name_pairs",
    "multimodal_meta",
    "asof_join",
    "cms_heavy_hitters",
    "contamination",
    "token_budget_sample",
    "pack_sequences",
    "pagerank",
    "pagerank_weighted",
    "triangle_count",
    "sim_ann_pq",
    "sim_ann_ivfpq",
    "sim_ann_ivfpq_residual",
    "embedding_cosine_dedup",
    "dedup_rolling_fp",
    "dedup_snm_multipass",
    "dedup_keep_list",
    "dedup_prefix_filter",
    "link_prediction",
    "link_prediction_capped",
    "attribution_fold",
    "streaming_attribution",
    "attribution_decay",
    "attribution_decay_fold",
    "streaming_attribution_decay",
    "lm_score_bigram",
    "token_entropy",
    "benford_profile",
    "supplier_concentration",
    "abc_classification",
    "negative_edges",
    "clustering_coefficient",
    "durbin_watson",
    "survival_km",
    "zipf_fit",
    "bm25_rank",
    "rank_sum_test",
    "scd2_history",
    "expectations",
    # Past the 50-entry cap: the 4 r8-vintage entries the r14 window left
    # out head the round-15 rotation. Everything past the cap keeps its
    # green driver row and runs in tests/test_oracle_parity.py at sf0.001.
    "hll_vocab",
    "embedding_cosine_pairs",
    "embedding_keep_list",
    "stratified_sample",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: the grading driver checks the FIRST 50 entries
    # only, and dict order IS the contract. The graded prefix is PINNED by
    # tests/test_graded_window.py — edit PINNED and that list together,
    # deliberately, once per rotation. The 9 rotation-invariant headliners
    # (bench.HEADLINE) lead it.
    built = {spec.name: spec.build for spec in SPECS}
    return {**{name: built[name] for name in PINNED}, **built}


def oracle_sql() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in SPECS}
