"""Registry smoke tests: every oracle-gated query runs at sf0.001 and
returns a stable schema. (Full value-level oracle comparison lives in
tools/check_oracle.py — run separately, it needs DuckDB.)"""

from __future__ import annotations

import pytest

from mnemo_spark.registry import ORACLE, QUERIES

EXPECT_NONEMPTY = {
    "q1_pricing_summary",
    "q3_shipping_priority",
    "top_orders_per_priority",
    "filtered_scan_orders",
    "semi_join_customers_with_orders",
    "bm25_topk_docs",
    "rrf_hybrid_docs",
    "vector_topk",
    "knn_label_vote",
    "event_chain_heads",
    "sessionize_events",
    "current_fact_latest_event",
    "decay_scores_events",
    "lang_id_docs",
    "token_stats_docs",
    "exact_dedup_prefix",
    "ngram_jaccard_pairs",
    "simhash_docs",
    "quality_scores_docs",
    "fingerprint_docs",
    "graph_expand_2hop",
    "evidence_budget_docs",
    "as_of_user_state",
    "profile_stats_users",
    "rollup_revenue",
    "pivot_event_values",
    "tumbling_event_counts",
    "multimodal_binary_meta",
    "conflict_composite_events",
    "assign_chain_events",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q12_late_shipments",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "json_props_metadata",
    "hash_bag_embedding_docs",
    "ivf_ann_topk",
    "cosine_near_dup_embeddings",
    "decay_pass_events",
    "ttl_sweep_events",
    "dedup_clusters_docs",
    "dup_representative_docs",
    "causality_trace_events",
    "hybrid_recall_docs",
    "asof_join_events",
    "window_stats_events",
    "excerpt_meta_docs",
    "date_absolutize_events",
    "poisoning_flags_docs",
    "q15_top_suppliers",
    "q16_brand_supplier_counts",
    "q21_waiting_suppliers",
    "quantile_stats_lineitem",
    "stats_agg_lineitem",
    "cube_order_counts",
    "setops_customer_years",
    "array_funcs_docs",
    "rrf_explain_docs",
    "q2_min_cost_supplier",
    "q11_important_value",
    "decontaminate_docs",
    "train_test_split_docs",
    "pack_sequences_docs",
    "quality_sample_docs",
    "repetition_docs",
    "vocab_topk_docs",
    "incremental_dedup_docs",
    "stratified_sample_docs",
    "point_lookup_orders",
    "merge_upsert_orders",
    "sync_conflicts_orders",
    "soft_delete_events",
    "tier_state_events",
    "logical_clock_events",
    "replay_checkpoints_events",
    "delegation_closure_users",
    "bitemporal_walk_events",
    "lineage_ancestry_events",
    "agent_id_validation_docs",
    "recall_plan_docs",
    "uuid7_assign_events",
    "orientation_distill_docs",
    "envelope_lines_docs",
    "otlp_roundtrip_events",
    "md_flush_docs",
    "hmac_receipts_events",
    "aes_roundtrip_docs",
    "pii_scrub_docs",
    "token_entropy_docs",
    "source_mixture_docs",
    "pq_ann_topk",
    "bpe_token_count_docs",
    "chunk_docs",
    "kmeans_step_embeddings",
    "approx_distinct_events",
    "simhash_near_dup_pairs",
    "interval_join_events",
    "approx_quantiles_lineitem",
    "fuzzy_match_docs",
    "weighted_sample_docs",
    "triangle_count_users",
    "grouping_sets_orders",
    "ewma_user_values",
    "scd2_user_state",
    "mad_outliers_events",
    "pagerank_step_users",
    "tfidf_topk_docs",
    "value_histogram_events",
    "sliding_window_events",
    "funnel_users",
    "cohort_retention_users",
    "profile_columns_orders",
    "event_pair_lift",
    "regr_price_qty_lineitem",
    "activity_streaks_users",
    "revenue_mom_orders",
    "transition_matrix_events",
    "zorder_key_events",
    "incremental_rollup_events",
    "winsorize_events",
    "length_pctrank_docs",
    "benford_profile_events",
    "gap_fill_daily_events",
    "rolling_7d_avg_events",
    "approx_topk_terms_docs",
    "interevent_gap_stats",
    "path_to_purchase_users",
    "rolling_spike_events",
    "trajectory_growth_events",
    "abc_customers_orders",
    "growth_accounting_users",
    "rfm_segments_orders",
    "copurchase_part_pairs",
}


# non-SQL-expressible ops (DuckDB has no binary-safe sha256 / no AES):
# the driver records a rows-only check for these; keep the list
# explicit AND exact so drift is visible in both directions — a query
# that gains an oracle must leave this set, one that loses its oracle
# must be added deliberately
ORACLE_EXEMPT = {
    "hmac_receipts_events",
    "aes_roundtrip_docs",
    "deal_chain_verify_orders",  # HMAC has no DuckDB twin; `valid` self-check
}


def test_oracle_exempt_set_is_exact():
    assert set(QUERIES) - set(ORACLE) == ORACLE_EXEMPT, (
        "rows-only queries drifted from the declared exempt set: "
        f"{sorted((set(QUERIES) - set(ORACLE)) ^ ORACLE_EXEMPT)}"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    rows = df.collect()
    assert df.columns, name
    if name in EXPECT_NONEMPTY:
        assert len(rows) > 0, f"{name} unexpectedly empty"


def test_bm25_oracles_count_null_text_doc(spark, sf_dir, tmp_path):
    """Every oracle that takes BM25's avgdl agrees with Spark on a
    corpus with a null-text doc: the doc counts in N with dl 0 on both
    sides (DuckDB's avg skips a NULL length, so the SQL coalesces it)."""
    import os

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mnemo_spark.io import TABLES, table_path
    from tools.check_oracle import norm_rows

    for t in TABLES:
        if t != "documents":
            os.symlink(table_path(sf_dir, t), table_path(str(tmp_path), t))
    docs = pq.read_table(table_path(sf_dir, "documents"))
    first = pc.equal(docs["doc_id"], pc.min(docs["doc_id"]))
    text = pc.if_else(first, None, docs["text"])
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    pq.write_table(docs, table_path(str(tmp_path), "documents"))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(str(tmp_path), t)}')"
        )
    names = sorted(n for n, sql in ORACLE.items() if "avgdl" in sql)
    assert names
    for name in names:
        sdf = QUERIES[name](spark, str(tmp_path))
        res = con.sql(ORACLE[name])
        got = norm_rows([c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()])
        want = norm_rows([c.lower() for c in res.columns], res.fetchall())
        assert got == want, name
