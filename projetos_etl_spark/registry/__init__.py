"""Master query registry: merges every family module.

``__spark_entry__.py`` (the driver contract) delegates here. Family
modules are imported lazily inside :func:`all_queries` so an optional
dependency failing in one family can't take down the whole registry.
"""

from __future__ import annotations

from projetos_etl_spark.registry._core import QueryFn, Registry

# Family order drives registry insertion order after the window head.
_FAMILIES = [
    "streams",
    "similarity",
    "text",
    "corpus",
    "multimodal",
    "dedup",
    "prep",
    "sources",
    "aggregates",
    "windows",
    "scalars",
    "setops",
    "relational",
    "tpch_breadth",
    "medallion",
]

# The driver verifies the FIRST 50 ``queries()`` entries; :func:`build`
# promotes this list to the front. It is derived from the committed
# CORRECTNESS_r*.json files by tools/freshness.py::plan_window (touched
# entries first, then the stalest), as tests/test_freshness.py asserts.
_WINDOW_HEAD = [
    "agg_count_min_sketch",
    "dedup_lsh_recall_eval",
    "dedup_minhash_verified",
    "dedup_near_minhash",
    "feat_quantile_bucketize",
    "graph_bipartite_projection",
    "graph_kcore_decomposition",
    "graph_label_propagation",
    "graph_pagerank",
    "medallion_gold_profit_mart",
    "ml_kmeans_lloyd",
    "ml_logreg_gd",
    "pipeline_dedup_clustered",
    "pipeline_training_corpus",
    "sim_search_ivf",
    "sim_search_ivf_pq",
    "sim_search_pq_adc",
    "ts_interpolate_linear",
    "win_max_concurrency",
    "win_max_concurrency_scale",
    "win_ntile_scale",
    "er_blocking_join",
    "dedup_ngram_containment",
    "er_blocking_multipass",
    "dedup_simhash_hamming",
    "graph_triangle_count",
    "er_golden_record",
    "quality_schema_profile",
    "split_train_test_hash",
    "join_spatial_grid_radius",
    "quality_outlier_iqr",
    "ts_gap_detect",
    "agg_heavy_hitters",
    "corpus_resample_to_mix",
    "text_perplexity_bigram",
    "quality_psi_drift",
    "text_normalize_dedup",
    "corpus_shuffle_shards",
    "feat_onehot_topn",
    "text_langid",
    "text_bigram_pmi",
    "text_bpe_merge_step",
    "corpus_temperature_mix",
    "pipeline_span_dedup",
    "dedup_exact_keep_best",
    "quality_expectation_suite",
    "join_interval_overlap",
    "quality_benford_audit",
    "corpus_domain_cap",
    "quality_outlier_mad",
]

def build() -> Registry:
    import importlib

    master = Registry()
    for mod_name in _FAMILIES:
        mod = importlib.import_module(f"projetos_etl_spark.registry.{mod_name}")
        master.merge(mod.REG)
    # Promote the planned verification window to the front of iteration
    # order (dict order is the driver's window order).  Unknown names fail
    # loudly — a typo here would silently shrink the planned window.
    missing = [n for n in _WINDOW_HEAD if n not in master.queries]
    if missing:
        raise KeyError(f"_WINDOW_HEAD names not in registry: {missing}")
    head = {n: master.queries[n] for n in _WINDOW_HEAD}
    tail = {n: fn for n, fn in master.queries.items() if n not in head}
    master.queries = {**head, **tail}
    return master


def all_queries() -> dict[str, QueryFn]:
    return build().queries


def all_oracle_sql() -> dict[str, str]:
    return build().oracle
