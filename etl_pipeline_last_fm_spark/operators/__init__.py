"""Operator library — each a composable DataFrame -> DataFrame transform.

Core relational set (SURVEY.md §2): flatten, impute, idempotent append,
surrogate keys, star join, windowed top-k. Extension set (BASELINE.json
north-star): dedup family, similarity search, text analysis.
"""

from etl_pipeline_last_fm_spark.operators.dedup import (
    connected_components,
    dedup_keep_list,
    embedding_keep_list,
)
from etl_pipeline_last_fm_spark.operators.flatten import flatten_raw_chart
from etl_pipeline_last_fm_spark.operators.funnel import funnel_stages, funnel_summary
from etl_pipeline_last_fm_spark.operators.impute import impute_zero_with_partition_mean
from etl_pipeline_last_fm_spark.operators.idempotent import first_writer_wins, idempotent_append
from etl_pipeline_last_fm_spark.operators.packing import (
    apply_bpe,
    bpe_train,
    pack_sequences,
    pair_counts,
)
from etl_pipeline_last_fm_spark.operators.profile import (
    fixed_width_histogram,
    profile_columns,
    quantile_buckets,
)
from etl_pipeline_last_fm_spark.operators.sampling import (
    group_split_assign,
    mixture_sample,
    split_assign,
    stratified_sample,
)
from etl_pipeline_last_fm_spark.operators.bloom import (
    bloom_might_contain,
    bloom_prune_join_stats,
    build_bloom_words,
)
from etl_pipeline_last_fm_spark.operators.cohort import cohort_retention
from etl_pipeline_last_fm_spark.operators.graph import (
    cosupplier_edges,
    customer_supplier_edges,
    customer_supplier_weighted_edges,
    kcore_rounds,
    pagerank_micro,
    pagerank_weighted_micro,
    triangle_counts,
)
from etl_pipeline_last_fm_spark.operators.text import (
    corpus_drift,
    inverted_index,
    token_census,
)
from etl_pipeline_last_fm_spark.operators.outliers import mad_outliers
from etl_pipeline_last_fm_spark.operators.scd import (
    merge_upsert,
    scd2_apply,
    scd2_history,
)
from etl_pipeline_last_fm_spark.operators.setsim import (
    prefix_filter_pairs,
    prefix_filter_pairs_incremental,
    sorted_neighborhood_pairs,
    sorted_neighborhood_pairs_multipass,
)
from etl_pipeline_last_fm_spark.operators.surrogate import assign_surrogate_keys
from etl_pipeline_last_fm_spark.operators.star import star_join
from etl_pipeline_last_fm_spark.operators.topk import windowed_top_k

__all__ = [
    "flatten_raw_chart",
    "impute_zero_with_partition_mean",
    "first_writer_wins",
    "idempotent_append",
    "assign_surrogate_keys",
    "star_join",
    "windowed_top_k",
    "connected_components",
    "dedup_keep_list",
    "embedding_keep_list",
    "funnel_stages",
    "funnel_summary",
    "pack_sequences",
    "pair_counts",
    "profile_columns",
    "quantile_buckets",
    "fixed_width_histogram",
    "split_assign",
    "group_split_assign",
    "stratified_sample",
    "mixture_sample",
    "scd2_history",
    "scd2_apply",
    "prefix_filter_pairs",
    "build_bloom_words",
    "bloom_might_contain",
    "bloom_prune_join_stats",
    "mad_outliers",
    "cohort_retention",
    "prefix_filter_pairs_incremental",
    "sorted_neighborhood_pairs",
    "sorted_neighborhood_pairs_multipass",
    "bpe_train",
    "apply_bpe",
    "cosupplier_edges",
    "customer_supplier_edges",
    "customer_supplier_weighted_edges",
    "triangle_counts",
    "pagerank_micro",
    "pagerank_weighted_micro",
    "kcore_rounds",
    "merge_upsert",
    "corpus_drift",
    "inverted_index",
    "token_census",
]
