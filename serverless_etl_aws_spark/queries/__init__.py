"""Query registry — one entry per operator in SURVEY.md §2B.

Each key maps to a :class:`Query`: a Spark callable ``(spark, sf_dir) ->
DataFrame`` plus (where SQL-expressible) the equivalent ANSI SQL string the
DuckDB oracle runs on the same parquet. The driver consumes these through
``/root/repo/__spark_entry__.py``.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass
from typing import Literal

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One contract entry: Spark implementation + optional DuckDB oracle.

    ``build`` says what building the DataFrame (calling ``fn``) does:

    - ``"lazy"``: no Spark job runs until the caller's action.
    - ``"compute"``: bounded jobs run (iterative loops with eager
      localCheckpoints, driver-side collects of bounds, probes or
      sketches), but no state is mutated and no input is staged, so
      re-running is always safe.
    - ``"side_effects"``: building stages scratch inputs, runs a
      streaming query to completion, commits or vacuums an atomic table,
      or writes an embedded Derby database; the returned DataFrame reads
      the result. Introspection surfaces refuse these keys unless the
      caller opts in.

    tests/test_build_modes.py builds every lazy and compute key with the
    package memos cleared and checks the declaration."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None
    doc: str = ""
    build: Literal["lazy", "compute", "side_effects"] = "lazy"


# The 47 SURVEY.md §2B contract keys, in §2B table order. These MUST come
# first in queries() insertion order: the driver's correctness check walks
# the registry in order and may not reach the tail (round 1 it stopped at
# 50 of 83 keys, leaving two §2B keys without a CORRECTNESS row).
CONTRACT_2B: tuple[str, ...] = (
    "scan_parquet", "project_rename", "filter_pred", "filter_null",
    "join_inner", "join_broadcast", "join_multiway", "join_left",
    "join_semi", "join_anti", "join_range", "join_asof",
    "agg_group", "agg_distinct", "agg_approx_distinct", "agg_rollup",
    "agg_cube", "agg_grouping_sets",
    "win_rank", "win_lag_lead", "win_frame_rows", "win_running",
    "sort_limit", "topk_per_group",
    "set_union_all", "set_union_distinct", "set_intersect", "set_except",
    "fn_string", "fn_date", "fn_math_cond", "fn_json", "fn_array",
    "dedup_exact", "ingest_incremental", "sink_partitioned",
    "stream_tumbling", "stream_sliding", "stream_session",
    "stream_late_data",
    "llm_dedup_minhash", "llm_sim_search", "llm_text_stats",
    "llm_lang_filter",
    "udf_scalar", "udaf_grouped", "udtf_explode",
)

# Extension keys placed ahead of the rest of the registry (LLM
# training-data pipeline, multimodal, then the analytics families). The
# correctness audit run through __spark_entry__.py covers the first 50
# registry keys only, so slots 48-50 (the first three entries here) are
# the only audit slots for extensions: rotate a new trio in each round,
# moving it here from its old position (a duplicate would shift the
# window), and update tests/test_engine_api.py::
# test_driver_audit_window_is_contract_plus_rotation. Each round's audit
# outcome is in CORRECTNESS_rNN.json.
PRIORITY_EXT: tuple[str, ...] = (
    "graph_bfs", "sample_weighted", "agg_mode",
    "win_streak", "agg_corr", "join_lateral",
    "llm_ngram_novelty", "ts_anomaly_mad", "ts_gap_detect",
    "agg_heavy_hitters", "llm_dedup_apply", "llm_prefix_dedup",
    "llm_sim_search_ivf", "llm_paragraph_dedup", "llm_bpe_encode",
    "mm_audio_window", "mm_scene_cut", "mm_phash",
    "mm_frame_sample", "mm_resize", "mm_feature_extract",
    "llm_embed_quantize", "llm_corpus_stats", "mm_decode_meta",
    "llm_token_count", "llm_tfidf", "llm_pii_scrub",
    "llm_fingerprint", "llm_lang_id", "llm_quality_score",
    "llm_dedup_embedding", "llm_decontaminate", "llm_knn_join",
    "llm_dedup_ngram", "llm_dedup_cluster", "llm_dedup_simhash",
    "win_rolling_median", "ts_seasonal", "ts_cusum", "ts_autocorr",
    "ml_naive_bayes", "llm_collocations", "win_drawdown", "agg_skew_kurt",
    "win_pareto", "graph_degree_dist", "dq_benford", "agg_hhi",
    "win_retention", "ml_auc", "dq_profile", "graph_jaccard", "ml_confusion",
    "ml_calibration", "ml_chi2", "ts_trend_mk", "dq_referential",
    "graph_components", "ml_stump", "graph_kcore", "llm_vocab_growth",
    "agg_ks_test", "ml_survival_km", "agg_winsorized_mean",
    "agg_conversion_lag", "graph_assortativity", "dq_spc", "ml_ndcg",
    "graph_clustering_coeff", "ml_lift", "ts_holt", "dq_freshness",
    "ml_pr_at_k", "graph_modularity", "ml_ab_test", "agg_simpson",
    "ts_changepoint", "ml_spearman", "graph_resource_alloc",
    "ml_best_threshold", "ts_theil_sen", "ml_assoc_rules", "ml_wilson_ci",
    "dq_uniqueness", "dq_iqr_outliers", "dim_calendar", "ml_feature_hash",
    "ml_ltv_cohort", "ml_mrr", "dq_tvd_drift", "ml_forecast_eval",
    "graph_reciprocity", "agg_cramers_v", "ml_kendall_tau",
    "ml_uplift_segments", "dq_out_of_order", "agg_lorenz",
    "dq_embedding_audit", "ts_active_users", "ts_burstiness",
    "dq_temporal_integrity", "agg_weighted_median", "ml_diff_in_diff",
    "agg_share_shift", "ml_markov_chain", "ts_cross_corr", "ml_ece",
    "dq_completeness_trend", "ts_anova_weekday", "dq_table_checksum",
    "ml_feature_screen", "ml_target_encode", "dq_json_schema",
    "agg_mix_rate_decomp", "agg_median_ci", "ml_label_centroids",
    "ml_churn_labels", "ts_gap_fill", "agg_abc_class", "dq_saturation",
)


#: The family modules, in registration order: after the priority keys,
#: the registry keeps this module order.
_MODULES: tuple[str, ...] = (
    "relational", "joins", "aggregates", "windows", "sorts_sets",
    "scalar_fns", "udx", "pipeline_ops", "streaming_ops", "llm",
    "extras", *(f"extras{i}" for i in range(2, 36)),
)

#: Derived registry views, by the ``Query.build`` value they select.
_BUILD_VIEWS = {"EAGER_KEYS": "side_effects", "COMPUTE_EAGER_KEYS": "compute"}


def __getattr__(name: str) -> frozenset[str]:
    """``EAGER_KEYS`` (``build="side_effects"``) and
    ``COMPUTE_EAGER_KEYS`` (``build="compute"``), derived from the
    registry when read, so importing this package imports no family
    module."""
    if name not in _BUILD_VIEWS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return frozenset(
        k for k, q in build_registry().items() if q.build == _BUILD_VIEWS[name]
    )


def build_registry() -> dict[str, Query]:
    """Collect every query family. Import is deferred so a bug in one
    family doesn't take down the whole registry at import time."""
    registry: dict[str, Query] = {}
    for name in _MODULES:
        mod = importlib.import_module(f".{name}", __name__)
        for key, q in mod.QUERIES.items():
            if key in registry:
                raise ValueError(f"duplicate query key {key!r}")
            registry[key] = q

    # Re-key into priority order: §2B contract keys first (guaranteed a
    # driver CORRECTNESS row), then the graded LLM/multimodal extensions,
    # then everything else in module order.
    ordered: dict[str, Query] = {}
    for key in (*CONTRACT_2B, *PRIORITY_EXT):
        if key not in registry:
            raise ValueError(f"priority key {key!r} missing from registry")
        ordered[key] = registry.pop(key)
    ordered.update(registry)
    return ordered
