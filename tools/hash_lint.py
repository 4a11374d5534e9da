"""Hash-fragility linter for the oracle-checked query registry.

The round-6 driver red (`sketch_hll_estimate`) proved that a query can
be strict-sim green locally at every SF and still hash-mismatch in the
driver's environment: Spark rounds doubles via decimal-string HALF_UP
while DuckDB rounds in binary, so a RETURNED column computed as
``round(<double expr>, n)`` can flip near a scale-n halfway point under
engine/version drift that local replay never sees. Large decimals
(precision > 18) are the other canonicalizer-sensitive emission.

This linter is the structural defense: it walks every oracled query's
ANALYZED plan at sf0.001 and flags

  1. any OUTPUT column whose producing expression is a ``round(...)``
     call that yields a DOUBLE (an exactly-computable emission —
     ``CAST(floor(x * 10^n + 0.5) AS BIGINT)`` — is the fix), and
  2. any OUTPUT column of DecimalType with precision > 18 (stringified
     digits beyond double range exercise the driver canonicalizer's
     decimal path).

Vetted emissions (years of driver-green rows, or proven exact by
construction) are whitelisted by (query, column); the linter is a
RATCHET — new queries adding fragile emissions fail the round-close
gate until fixed or explicitly vetted here.

Usage:
    python tools/hash_lint.py [--sf /root/testdata/sf0.001] [--only a,b]
Exit code 1 when any non-whitelisted finding exists.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# (query name, output column) pairs that are vetted. Evidence classes:
#   - driver-green CORRECTNESS hash rows across rounds 1-6 (the vast
#     majority below): the emitted doubles are DECIMAL-quantized sums
#     or stats that sit nowhere near a scale-n halfway point, verified
#     empirically by the hard driver signal;
#   - (u1_linreg_fit_pandas, slope/intercept): shares the emission AND
#     oracle of driver-green u1_linreg_fit, and the two Spark paths
#     are pinned to each other in tests/test_forecast_paths.py.
# Adding to this list requires equivalent evidence.
WHITELIST: set[tuple[str, str]] = {
    ("a1_key_stats", "avg_value"),
    ("a1_key_stats", "max_value"),
    ("a1_key_stats", "min_value"),
    ("a1_key_stats", "sum_value"),
    ("a1_pricing_summary", "avg_disc"),
    ("a1_pricing_summary", "avg_price"),
    ("a1_pricing_summary", "avg_qty"),
    ("a1_pricing_summary", "sum_base_price"),
    ("a1_pricing_summary", "sum_charge"),
    ("a1_pricing_summary", "sum_disc_price"),
    ("a1_pricing_summary", "sum_qty"),
    ("a2_coefficient_of_variation", "cov"),
    ("a3_market_returns", "mr"),
    ("a4_beta", "beta"),
    ("a5_correlation_matrix", "correlation"),
    ("a5_correlation_matrix", "covariance"),
    ("a7_value_sum", "order_value"),
    ("a8_weighted_avg", "wavg_price"),
    ("a9_contribution_share", "revenue"),
    ("a9_contribution_share", "share"),
    ("ann_bruteforce_topk", "cos"),
    ("ann_ivf_filtered", "cos"),
    ("ann_ivf_multiprobe", "cos"),
    ("ann_ivf_topk", "cos"),
    ("ann_pq_adc_topk", "adc"),
    ("corpus_domain_gate", "avg_chars"),
    ("corpus_domain_gate", "pct_short"),
    ("dedup_embedding_cosine", "cos"),
    ("dedup_incremental_ingest", "jaccard"),
    ("dedup_minhash_lsh", "jaccard"),
    ("dedup_ngram_containment", "containment"),
    ("dedup_ngram_jaccard", "jaccard"),
    ("dp_noisy_counts", "n_noisy"),
    ("dp_noisy_counts", "noise"),
    ("dq_benford_digits", "exp_share"),
    ("dq_benford_digits", "obs_share"),
    ("dq_header_detail_reconcile", "total_abs_gap"),
    ("dq_psi_drift", "psi"),
    ("e10_forecast_horizon", "predicted"),
    ("emb_centroid_spread", "centroid_norm"),
    ("emb_centroid_spread", "dist_from_global"),
    ("emb_quantize_int8", "scale"),
    ("emb_truncate_renorm", "cos_full"),
    ("emb_truncate_renorm", "cos_trunc"),
    ("ev_attribution_models", "credit_sum"),
    ("ev_cohort_ltv", "cum_value"),
    ("ev_dau_mau", "stickiness"),
    ("ev_user_activity", "total_value"),
    ("eval_ann_recall", "recall"),
    # DECIMAL(27,6)-quantized sum rounded as decimal then cast double —
    # exact cross-engine (same emission class as the tpch revenues)
    ("ext_dynamic_partition_pruning", "revenue"),
    # DECIMAL(27,6) sums throughout (exact + associative — the query
    # in-plan ASSERTS incremental == full recompute on the raw
    # decimals before emission); round runs on the decimal, then casts
    ("mv_txnlog_cdf_refresh", "total_value"),
    ("ext_cume_nth", "cd"),
    ("ext_filtered_agg", "spend_recent"),
    ("ext_filtered_agg", "spend_total"),
    ("ext_having", "spend"),
    ("ext_json_extract", "avg_k"),
    ("ext_moving_avg", "spend_ma7"),
    ("ext_percent_rank", "cume"),
    ("ext_percent_rank", "pct_rank"),
    ("ext_percentiles", "median_price"),
    ("ext_percentiles", "p90_price"),
    ("ext_range_frame", "rolling_1h"),
    ("ext_rollup", "qty"),
    ("ext_salted_agg", "total"),
    ("ext_salted_join", "weighted_total"),
    ("feat_impute_group_mean", "v_filled"),
    ("feat_robust_zscore_mad", "robust_z"),
    ("feat_target_encode", "loo_mean"),
    ("feat_winsorize", "v_clipped"),
    ("forecast_backtest_metrics", "mape"),
    ("forecast_backtest_metrics", "rmse"),
    ("graph_pagerank_fixed", "rank"),
    ("j10_range_join_busy_windows", "sum_value"),
    ("j14_shuffle_hash_hint", "total_balance"),
    ("j1_join_dims", "total_price"),
    ("j6_bucketed_fact_join", "revenue"),
    ("j6_fact_bridge", "revenue"),
    ("j7_a7_market_value", "segment_value"),
    ("join_bloom_prefilter", "revenue"),
    ("maintenance_compaction", "sum_value"),
    ("mm_media_catalog", "total_duration_s"),
    ("mv_incremental_rollup", "sum_value"),
    ("mv_rollup_retractions", "sum_value"),
    ("o4_topk_then_asc", "value"),
    ("rag_chunk_retrieval", "cos"),
    ("reco_copurchase_lift", "lift"),
    ("s12_optimistic_retry", "bal"),
    ("s14_txnlog_optimistic_retry", "bal"),
    ("s8_chart_forecast", "value"),
    ("search_bm25_topk", "score"),
    ("search_hybrid_rrf", "rrf"),
    ("search_tfidf_terms", "score"),
    ("sec_cleanroom_join", "revenue"),
    ("sql_api_report", "spend"),
    ("stats_ab_welch", "mean_diff"),
    ("stats_ab_welch", "t_stat"),
    ("stats_ab_welch", "welch_df"),
    ("stats_bootstrap_ci", "hi95"),
    ("stats_bootstrap_ci", "lo95"),
    ("stats_bootstrap_ci", "mean"),
    ("stats_bundle_cov_beta", "beta"),
    ("stats_bundle_cov_beta", "cov"),
    ("stats_chi_square", "chi2"),
    ("stream_mv_hourly_rollup", "value_sum"),
    ("stream_static_enrich", "total_value"),
    ("stream_tumbling_hourly", "total_value"),
    ("text_lexical_diversity", "ttr"),
    ("text_lm_score", "lm_bits"),
    ("text_quality_metrics", "alpha_ratio"),
    ("text_quality_metrics", "chars_per_token"),
    ("text_quality_metrics", "stopword_ratio"),
    ("text_repetition_score", "dup_bigram_ratio"),
    ("text_repetition_score", "top_token_ratio"),
    ("text_word_entropy", "entropy"),
    ("tpch_q10_returned_items", "revenue"),
    ("tpch_q11_important_stock", "part_value"),
    ("tpch_q14_promo_revenue", "promo_revenue_pct"),
    ("tpch_q15_top_supplier", "total_revenue"),
    ("tpch_q17_small_quantity_revenue", "avg_yearly"),
    ("tpch_q18_large_orders", "total_qty"),
    ("tpch_q19_discounted_revenue", "revenue"),
    ("tpch_q22_global_sales_opportunity", "totacctbal"),
    ("tpch_q3_shipping_priority", "revenue"),
    ("tpch_q5_local_supplier_volume", "revenue"),
    ("tpch_q6_forecast_revenue", "revenue"),
    ("tpch_q7_volume_shipping", "revenue"),
    ("tpch_q8_market_share", "mkt_share"),
    ("tpch_q9_product_profit", "sum_profit"),
    ("ts_anomaly_zscore", "z"),
    ("ts_cusum_changepoints", "cusum"),
    ("ts_interpolate_linear", "val"),
    ("ts_seasonal_decompose", "residual"),
    ("ts_seasonal_decompose", "seasonal"),
    ("ts_seasonal_decompose", "trend"),
    ("ts_seasonal_decompose", "y"),
    ("u1_linreg_fit", "intercept"),
    ("u1_linreg_fit", "slope"),
    ("u1_linreg_fit_pandas", "intercept"),
    ("u1_linreg_fit_pandas", "slope"),
    ("w10_rolling_corr", "rolling_corr"),
    ("w11_rolling_median", "med20"),
    ("w1_single_series_returns", "r"),
    ("w2_returns_panel", "r"),
    ("w5_rank_ties", "price_bucket"),
    ("w7_ewma_value", "ewma"),
    ("w9_time_weighted_avg", "twap"),
}

ROUND_AS = re.compile(r"\bround\([^\n]*?\)\s+AS\s+(\w+)#\d+", re.IGNORECASE)

# FROZEN at round 9 — the complete inventory of computed DOUBLE
# columns emitted without ANY rounding, each carrying a driver-green
# hash row at freeze time. Two evidence classes:
#   - VALUE-PRESERVING selections of raw stored doubles (min/max/
#     first/last/coalesce-fill over a parquet column): no arithmetic
#     ever runs on the value, so both engines emit identical bits;
#   - computed-but-driver-green ratios/averages whose operands are
#     small exact integers or decimal-quantized sums (bytes_per_token,
#     avg_width, theta-sketch estimates, weighted priority).
# This set takes NO additions: a NEW query emitting a computed
# un-rounded double hard-fails the round-close gate until it rounds to
# a fixed scale on both sides or integer-scales the emission (the HLL
# lesson, extended to doubles).
LEGACY_RAW_DOUBLE: set[tuple[str, str]] = {
    # value-preserving selections of raw doubles
    ("er_survivorship", "c_acctbal"),
    ("feat_quantile_binning", "hi"),
    ("feat_quantile_binning", "lo"),
    ("j13_asof_tolerance", "fresh_view_value"),
    ("s8_chart_daily_close", "close"),
    ("ts_downsample_m4", "v_first"),
    ("ts_downsample_m4", "v_last"),
    ("ts_downsample_m4", "v_max"),
    ("ts_downsample_m4", "v_min"),
    ("w4_gap_fill", "filled"),
    ("w6_ohlc_daily", "close"),
    ("w6_ohlc_daily", "high"),
    ("w6_ohlc_daily", "low"),
    ("w6_ohlc_daily", "open"),
    # computed, driver-green at freeze (shrinking: migrate to rounded
    # emissions as their rows rotate through a driver window —
    # mm_media_catalog.avg_width migrated r10)
    ("sample_weighted_priority", "priority"),
    ("sketch_theta_intersect", "exact_jaccard"),
    ("sketch_theta_intersect", "inter_est"),
    ("sketch_theta_intersect", "jaccard_est"),
    ("text_token_counts", "bytes_per_token"),
}


def _alias_exprs(plan: str) -> dict[str, str]:
    """Output column name -> the textual expression aliased to it in
    the analyzed plan: scan backwards from each ' AS name#' to the
    enclosing top-level delimiter with bracket balance (plan nodes
    print their output lists on one line)."""
    out: dict[str, str] = {}
    for m in re.finditer(r" AS (\w+)#\d+", plan):
        nm = m.group(1)
        i = m.start()
        depth = 0
        line_start = plan.rfind("\n", 0, i) + 1
        j = i - 1
        while j >= line_start:
            ch = plan[j]
            if ch in ")]":
                depth += 1
            elif ch in "([":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                break
            j -= 1
        out.setdefault(nm, plan[j + 1 : i].strip())
    return out


# a bare attribute reference (possibly with a type-suffix letter) or
# a struct-field access chain on one: renames and nested-field
# extractions of raw passthrough columns are exact on both sides
_ATTR_ONLY = re.compile(r"^\w+#\d+[A-Za-z]*(\.\w+)*$")


def lint_one(spark, name: str, fn, sf_dir: str) -> list[str]:
    import pyspark.sql.types as T

    findings: list[str] = []
    df = fn(spark, sf_dir)
    double_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.DoubleType)
    }
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            p, s = f.dataType.precision, f.dataType.scale
            if p - s > 15:
                # HARD FAIL — no whitelist path. A decimal whose
                # integer part can exceed 2^53 is invisible to any
                # float-coercing canonicalizer (the r6/r7
                # sketch_hll_estimate reds: 21-digit DECIMAL(38,0)
                # hashed green locally under float64 coercion, red in
                # the driver which hashes the arrow decimals). Emit
                # CAST(col AS STRING) or restructure to integer
                # arithmetic instead.
                findings.append(
                    f"{name}.{f.name}: DECIMAL({p},{s}) output can "
                    "exceed 2^53 — HARD FAIL (no whitelist): emit "
                    "CAST AS STRING or all-integer arithmetic"
                )
            elif p > 18 and (name, f.name) not in WHITELIST:
                findings.append(
                    f"{name}.{f.name}: DECIMAL({p},{s}) output "
                    "(>18 digits exercises the driver canonicalizer's "
                    "decimal path)"
                )
    plan = df._jdf.queryExecution().analyzed().toString()
    round_cols = set()
    for m in ROUND_AS.finditer(plan):
        col = m.group(1)
        round_cols.add(col)
        if col in double_cols and (name, col) not in WHITELIST:
            findings.append(
                f"{name}.{col}: round(<double>) emission — replace with "
                "CAST(floor(x * 10^n + 0.5) AS BIGINT) in BOTH engines, "
                "or whitelist with evidence"
            )
    # Rule 4 (round-9 ratchet): a COMPUTED double emitted with no
    # rounding anywhere in its expression. Exact-value emissions
    # (decimal-quantized sums cast double) are grandfathered in
    # LEGACY_RAW_DOUBLE with driver-green evidence; the set is frozen,
    # so every new query must round or integer-scale.
    exprs = _alias_exprs(plan)
    for col in sorted(double_cols):
        expr = exprs.get(col)
        if (
            expr is None  # pure passthrough, never aliased
            or _ATTR_ONLY.fullmatch(expr)
            or col in round_cols
            or "round(" in expr.lower()
        ):
            continue
        if (name, col) in LEGACY_RAW_DOUBLE:
            continue
        findings.append(
            f"{name}.{col}: computed DOUBLE emitted un-rounded — HARD "
            "FAIL (LEGACY_RAW_DOUBLE is frozen): round to a fixed "
            "scale on BOTH sides or integer-scale the emission"
        )
    return sorted(set(findings))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from relational_query_engine_sql_spark import plans
    from relational_query_engine_sql_spark.plans.registry import registry
    from relational_query_engine_sql_spark.session import get_spark

    spark = get_spark(cpus=8)
    names = [n for n, q in registry().items() if q.oracle is not None]
    if args.only:
        names = [n for n in args.only.split(",") if n]
    all_findings: list[str] = []
    errors: list[str] = []
    for i, n in enumerate(names, 1):
        q = registry()[n]
        try:
            fs = lint_one(spark, n, q.fn, args.sf)
        except Exception as exc:  # a broken build fails the sweep anyway
            errors.append(f"{n}: lint error {type(exc).__name__}: {exc}")
            continue
        for f in fs:
            all_findings.append(f)
            print(f"FRAGILE {f}")
    print(
        f"hash_lint: {len(names)} queries, {len(all_findings)} fragile "
        f"emissions, {len(errors)} errors"
    )
    for e in errors:
        print(f"ERROR {e}")
    return 1 if (all_findings or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
