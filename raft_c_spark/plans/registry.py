"""Central registry of driver-facing queries and their DuckDB oracles.

``__spark_entry__.queries()`` / ``oracle_sql()`` read from here; each
plans module contributes its QUERIES/ORACLES dicts, and ``ORDER``
fixes the driver's verification order — the external correctness
driver hash-checks the first ``verification.WINDOW`` queries of it.
A plan module that fails to import is fatal, and so is any mismatch
between ``ORDER`` and the modules' query names.

Every registered query has a hash oracle: engine-specific results get
one of two treatments — a pure-python replay of the deterministic
pipeline persisted as a ground-truth parquet the oracle reads (IVF
top-k, media feature norms), or a contract rewrite where the query
returns exact values plus in-error-band booleans the oracle expects
true (HLL/quantile sketches).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    """The 16 plan modules that contribute QUERIES/ORACLES. Each is
    imported unconditionally: a module that fails to import is fatal
    for every consumer, never a silently missing family. Queries are
    yielded in ``ORDER``, not in this module order."""
    return [
        importlib.import_module(f"raft_c_spark.plans.{name}")
        for name in (
            "parity",
            "language",
            "dedup",
            "text",
            "similarity",
            "streaming",
            "multimodal",
            "semistructured",
            "sampling",
            "events_analytics",
            "extras",
            "text_bpe",
            "tpch",
            "tpch2",
            "tpch3",
            "tpch4",
        )
    ]


def _with_cache_hygiene(fn: Callable) -> Callable:
    """Several operators cache intermediate frames (shingles,
    signatures) that stay referenced by the returned plan; clearing
    the cache *before* each query stops those from accumulating across
    a long session (the driver runs all ~50 queries in one session —
    unbounded storage-memory growth degrades later queries)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


#: The driver's verification order: ``all_queries()`` yields the
#: registry in exactly this order, and the external correctness
#: driver hash-checks its first ``verification.WINDOW`` (50) names.
#: To rotate a query into or out of that window, move its name here;
#: ``tests/test_window_policy.py`` checks the result against the
#: committed ``CORRECTNESS_r*.json`` driver rows.
ORDER: tuple[str, ...] = (
    "dedup_minhash_lsh",
    "lang_earliest_k",
    "mm_features",
    "ev_anomaly_mad",
    "tpch_waiting_supplier",
    "tpch_large_volume_orders",
    "text_analyze",
    "tpch_brand_part_stats",
    "ev_session_attribution",
    "ds_contamination_overlap",
    "stream_tumbling_avg",
    "lang_multi_agg",
    "ts_delta_rate",
    "ts_lttb",
    "tpch_customer_order_distribution",
    "ev_attribution_models",
    "dedup_cut_spans",
    "mm_image_dedup",
    "dedup_embedding_lsh",
    "tpch_local_supplier_volume",
    "ds_dataset_card",
    "dedup_best_survivor",
    "ds_bloom_decontaminate",
    "ds_pipeline_e2e",
    "sim_knn_join_lsh",
    "stream_sliding_rate",
    "ds_dsir_resample",
    "lang_sample_multi",
    "ds_importance_dsir",
    "mm_frame_index",
    "dedup_semantic",
    "tpch_nation_volume_shipping",
    "tpch_small_quantity_revenue",
    "sim_cluster_assign",
    "ds_epoch_upsample",
    "ds_training_order",
    "text_lm_score",
    "dedup_segments",
    "ts_min",
    "tpch_national_market_share",
    "lang_retention",
    "ts_sample_1h",
    "tpch_priority_linestatus",
    "tpch_top_supplier",
    "ev_type_pivot",
    "ev_topk_per_user",
    "tpch_priority_late_orders",
    "tpch_promo_revenue_share",
    "ts_max",
    "tpch_returned_item_customers",
    # ---- end of the driver's verification window ----
    "lang_sample_fill",
    "stream_enrich_join",
    "ds_token_budget_mix",
    "ev_salted_agg",
    "stream_dedup",
    "ds_snapshot_diff",
    "dedup_components",
    "ds_temperature_mixture",
    "sim_topk_exact",
    "mm_audio_dedup",
    "ts_sample_fill",
    "ev_salted_join",
    "mm_real_decode",
    "dedup_impact_report",
    "dedup_exact_groups",
    "ev_approx_profile",
    "ts_point_lookup",
    "text_compression",
    "tpch_disjunctive_revenue",
    "stream_session_window",
    "ds_split_leakage_safe",
    "ts_latest",
    "ds_pack_sequences",
    "text_bpe_tokens",
    "sim_topk_ivf",
    "text_gopher_rules",
    "ts_earliest",
    "sim_knn_recall_tuned",
    "mm_video_dedup",
    "tpch_bucketed_order_revenue",
    "ev_exact_percentiles",
    "dedup_repeated_spans",
    "dedup_embedding",
    "text_repetition",
    "ts_sample_sliding",
    "ts_sample_1d",
    "mm_real_resize",
    "ts_latest_k",
    "text_chunks",
    "text_clean_corpus",
    "ds_ccnet_buckets",
    "sim_topk_ivf_full",
    "lang_at_lookup",
    "ts_range_scan",
    "ts_avg",
    "ev_transition_matrix",
    "text_char_entropy",
    "stream_click_attribution",
    "ev_distinct_users",
    "ds_shard_manifest",
    "dedup_ngram_jaccard",
    "ds_lang_kl",
    "dedup_minhash_incr",
    "text_collocations",
    "ts_where_chain",
    "tpch_forecast_revenue",
    "ev_cohort_retention",
    "dedup_containment",
    "dedup_ngram_word",
    "text_vocab_growth",
    "dedup_simhash",
    "ds_ccnet_buckets_approx",
    "mm_real_frames",
    "ds_mixture_sample",
    "text_winnow",
    "sim_topk_lsh",
    "sim_knn_recall",
    "ev_rolling_zscore",
    "lang_where_limit",
    "text_tfidf_terms",
    "tpch_inactive_high_balance",
    "ev_running_value",
    "sim_quantize_int8",
    "text_novelty",
    "ds_pack_bpe",
    "ev_funnel",
    "ev_rollup_profile",
    "text_quality_model",
    "ev_trailing_window",
    "text_redact_pii",
    "tpch_shipping_priority",
    "text_heavy_hitters",
    "ev_set_ops",
    "tpch_pricing_summary",
    "ev_sessionize",
    "text_bpe_compression",
    "text_lang_profile",
    "ds_source_topk",
    "ds_decontaminate",
    "sim_knn_join",
    "text_bm25_topk",
    "ev_asof_purchase_click",
    "ev_json_props",
    "lang_sample_by",
)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in ``ORDER``. A plan-module query name
    missing from ``ORDER`` (or an ``ORDER`` name no module defines) is
    a ``ValueError`` naming both sets."""
    out: dict[str, Callable] = {}
    for mod in _modules():
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        out.update({k: _with_cache_hygiene(v) for k, v in mod.QUERIES.items()})
    if set(ORDER) != out.keys():
        raise ValueError(
            "registry.ORDER does not match the plan modules' QUERIES: "
            f"missing from ORDER {sorted(out.keys() - set(ORDER))}, "
            f"not defined by any module {sorted(set(ORDER) - out.keys())}"
        )
    return {n: out[n] for n in ORDER}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(getattr(mod, "ORACLES", {}))
    return out
