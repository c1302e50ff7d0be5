"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship store-day metrics (+ nested top-5 products)
at sf0.001. ``queries()``/``oracle_sql()`` — one entry per implemented
operator from SURVEY.md §2, backed by
``serverless_smurf_etl_and_analytics_spark.plans.registry``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import metrics
from serverless_smurf_etl_and_analytics_spark.plans import registry
from serverless_smurf_etl_and_analytics_spark.session import tune_existing

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's central derived table in its
    full nested serving shape — per-(store, day) metrics with the
    top-5 product list (array<struct>) and the payment_breakdown map
    (``write-metrics/lambda_function.py:77-104``,
    ``calculate-metrics/lambda_function.py:155-173``)."""
    tune_existing(spark)
    txns = tables.transactions(spark, SF0001)
    return metrics.store_daily_nested(txns, 5)


# The driver verifies a bounded prefix of the registry (50 entries per
# round), so ordering is deliberate: queries that are NEW or whose PLAN
# CHANGED this round come first, then the least-recently-verified, so
# every registered query has a driver-verified green row in at least
# one round and nothing outside the window has a changed plan.
_VERIFY_FIRST = [
    # ================= r14 window (first 50) =================
    # --- r14 (second optimization round) plan-changed queries
    # lead: d7/d9 shared verified-pair persist, d10 retained cc
    # edge cache + 1-slice driver label map, x2 shared rank-row
    # persist, x6 manifest counting shared persisted sources
    # (scripts/capture_plans.py regenerates their before/after plans).
    "d7_semantic_dedup", "d9_semantic_dedup_cc", "d10_minhash_dup_groups",
    "x2_export_top_products", "x6_export_manifest",
    # --- the 13 entries the r13 window overflowed to staleness 3
    # (benchmarks/staleness_audit_r13.json breach list) — VERDICT
    # r13 item 2 orders them to LEAD this rotation:
    "a19_dow_seasonality", "bud1_token_budget_select", "cap1_source_cap",
    "cur2_train_eval_split", "hist1_log2_histogram",
    "hist2_histogram_range_merge", "i5_insight_summary",
    "mix1_source_mixing_weights", "qr1_quality_report", "rel1_release_order",
    "shuf1_deterministic_shuffle", "src2_cross_source_dups",
    "t6_stratified_sample",
    # --- then 32 of the 38 remaining staleness-2 (r11-green)
    # entries. The window cannot hold all of them: 53 stale
    # entries + 5 changed plans > 50 slots, so 6 overflow (first
    # names past the window) — chosen as the simplest stable
    # plans, each re-proven against the DuckDB oracle locally
    # this round; see benchmarks/staleness_audit_r14.json.
    "a10_deviation_vs_trailing", "a7_trailing_7day", "coh1_cohort_retention",
    "cp1_cusum_changepoint", "cube1_store_payment_cube",
    "cur1_curated_corpus", "d11_containment", "d12_editdist_neardup",
    "d3_lsh_candidate_pairs", "d4_minhash_neardup", "d8_decontaminate",
    "dq1_profile_columns", "drift1_payment_tvd", "e1_embedding_dim_profile",
    "ev_session_windows", "ev_sliding_2h_hourly", "ev_tumbling_hourly",
    "ewma1_smoothed_sales", "fun1_event_funnel", "gap1_missing_days",
    "hll1_distinct_transactions", "hll2_range_merge",
    "rj1_busy_window_events", "scd1_latest_per_key", "t10_familiarity",
    "t7_repetition_filter", "t8_doc_frequency", "tf1_tfidf_keywords",
    "u2_setops_assortment", "wn1_winnow_overlap", "wn2_winnow_decontaminate",
    "z1_robust_zscore",
    # ================= past the 50-window =================
    # the 6 staleness overflow entries (locally re-proven, plans
    # unchanged since r10) — they must lead the r15 window:
    "f2_array_sampler", "mo1_zorder_codes", "pack1_sequence_packing",
    "q1_payment_quantiles", "w1_weighted_sample", "w2_window_sampler",
    # then the r13-green body (staleness 1) in its r13 order:
    "sim2_cosine_neardup", "d5_simhash", "d6_simhash_neardup",
    "sim1_cosine_topk", "sim3_lsh_topk", "sim4_ivf_topk",
    "tri1_copurchase_triangles", "tri2_triangles_range", "pq1_pq_codes",
    "pq2_adc_topk", "pq3_residual_codes", "pq4_adc_rerank",
    "c1_kmeans_clusters", "ivfpq1_topk", "sk1_kmv_distinct_skus",
    "sk3_kmv_set_overlap", "co1_sku_copurchase", "co2_copurchase_range_merge",
    "pr1_pagerank_stores", "a14_kpi_for_range", "a15_top_products_reagg",
    "a16_product_range_stats", "x1_export_store_summaries",
    "x4_export_trends", "x5_export_recommendations", "r1_daily_report_lines",
    "a2_payment_per_store_day", "a3_top5_products_store_day",
    "sd_nested_store_daily", "a4_payment_map_rollup", "a4_company_daily",
    "a6_product_daily_exact", "a6_product_daily_top5_parity",
    "j5_wide_pivot_timeseries", "j5_wide_serialized",
    "a18_event_type_summary", "p1_store_summary_projection",
    "p2_prefix_filter", "p3_point_lookup", "p4_range_filter_daily",
    "p6_isin_filter", "u1_union_tagged", "f1_scalar_sampler",
    "i1_anomaly_classify", "i2_trend_insights", "i3_recommendations",
    "i4_combine_insights", "aj2_order_next_event", "aj1_event_order_asof",
    "a11_trend_recent_vs_earlier", "a12_trend_half_vs_half",
    "a13_trend_first_vs_last", "a8_company_trailing", "a9_product_trailing",
    "j1_missing_stores_anti", "j3_brand_revenue", "j5_dense_date_store_grid",
    "j6_top_customers", "j7_store_region_rollup", "a17_distinct_dates",
    "t1_text_stats", "t2_lang_id", "t3_fingerprint", "t4_token_count_bpe",
    "t5_rolling_fingerprint", "d1_exact_dedup", "d2_minhash_signatures",
    "mm1_binary_fingerprint_dedup", "mm2_modality_stats",
    "mm3_pairing_integrity", "t9_pii_scrub", "src1_corpus_datasheet",
    "sk2_kmv_range_merge", "qr2_cardinality_drift", "cm1_range_heavy_users",
    "hh1_heavy_hitters", "scd2_validity_intervals", "a1_store_day_metrics",
    "a2_payment_breakdown", "x3_export_anomalies",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    ordered = {
        n: registry.QUERIES[n]
        for n in _VERIFY_FIRST
        if n in registry.QUERIES
    }
    for n, fn in registry.QUERIES.items():
        ordered.setdefault(n, fn)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible
    ops, which get the weaker rows-only check)."""
    return dict(registry.ORACLES)
