"""Physical-plan audits: the scale properties the engine claims must
be visible in the executed plan — filters pushed into the parquet
scan, dimensions broadcast (no shuffle join against small sides),
scans pruned to referenced columns, aggregations map-side partial.
A regression here is a 100-TB performance bug even when results stay
correct at test scale.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from mnemo_spark.registry import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name):
        return plan_of(QUERIES[name](spark, sf_dir))

    return get


def test_q6_filters_reach_the_scan(plans):
    p = plans("q6_forecast_revenue")
    assert "PushedFilters" in p
    # the shipdate range and quantity bound must be inside the scan
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    assert "l_shipdate" in joined and "l_quantity" in joined


def test_q6_scan_prunes_columns(plans):
    p = plans("q6_forecast_revenue")
    read = " ".join(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "l_extendedprice" in read
    # untouched wide columns must NOT be read
    assert "l_returnflag" not in read and "l_orderkey" not in read


def test_q5_dimensions_broadcast(plans):
    p = plans("q5_region_revenue")
    assert "BroadcastHashJoin" in p
    # the only sort-merge-worthy join is the fact-fact one
    assert p.count("SortMergeJoin") <= 1


def test_q3_broadcasts_customer(plans):
    p = plans("q3_shipping_priority")
    assert "BroadcastHashJoin" in p


def test_q1_aggregation_is_partial(plans):
    p = plans("q1_pricing_summary")
    # map-side combine: a partial HashAggregate below the exchange
    assert "partial_" in p or p.count("HashAggregate") >= 2


def test_semi_and_anti_join_shapes(plans):
    assert "LeftSemi" in plans("semi_join_customers_with_orders")
    assert "LeftAnti" in plans("anti_join_parts_never_ordered")


def test_lsh_ann_joins_on_bucket_not_cross(plans):
    p = plans("ann_lsh_topk")
    assert "CartesianProduct" not in p
    assert "NestedLoop" not in p or "Broadcast" in p


def test_minhash_band_join_is_equi(plans):
    p = plans("minhash_near_dup_pairs")
    assert "CartesianProduct" not in p


def test_whole_stage_codegen_present(spark, sf_dir):
    # the relational core must stay inside codegen stages; AQE hides
    # subtrees pre-execution, so inspect with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_of(QUERIES["q1_pricing_summary"](spark, sf_dir), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in p
    assert "Found 0" not in p


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """DESIGN.md claim: bucketing both join sides on the key makes the
    join shuffle-free. Write orders+lineitem bucketed by orderkey and
    assert the join plan has no Exchange."""
    from mnemo_spark.io import load_table

    # warehouse dir is a static conf — use the session default
    # (./spark-warehouse, gitignored); tables are dropped in finally
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt")
    load_table(spark, sf_dir, "orders").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable("bkt.orders_b")
    load_table(spark, sf_dir, "lineitem").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable("bkt.lineitem_b")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        j = spark.table("bkt.lineitem_b").join(
            spark.table("bkt.orders_b"),
            spark.table("bkt.lineitem_b").l_orderkey
            == spark.table("bkt.orders_b").o_orderkey,
        )
        p = plan_of(j)
        assert "Exchange" not in p, "bucketed-bucketed join must not shuffle"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bkt.lineitem_b")
        spark.sql("DROP TABLE IF EXISTS bkt.orders_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


def test_topk_plans_take_ordered_not_global_window(plans):
    """Ranked top-k queries must plan TakeOrderedAndProject (parallel
    per-partition partial top-k) — a global row_number window funnels
    the full candidate set through ONE task at 100 TB."""
    for name in ("bm25_topk_docs", "filtered_scan_orders", "q3_shipping_priority"):
        p = plans(name)
        assert "TakeOrderedAndProject" in p, f"{name} lost the top-k plan shape"


def test_no_unpartitioned_window_in_ranked_queries(spark, sf_dir):
    """Every Window in the ranked-query plans must carry a partition
    spec (the k-row rank windows partition on a materialized constant;
    Spark 4's EliminateWindowPartitions folds a literal key away, so a
    plain lit() key silently regresses to the single-partition form).

    Plan grammar: a partitioned Window prints
    `Window [funcs], [partition cols], [order cols]` (3 groups); the
    unpartitioned form prints only `Window [funcs], [order cols]`.
    """
    import re

    for name in ("bm25_topk_docs", "hybrid_recall_docs", "rrf_hybrid_docs",
                 "rrf_explain_docs", "evidence_budget_docs",
                 "token_budget_pack_docs", "current_fact_latest_event",
                 "envelope_lines_docs", "recall_plan_docs"):
        p = plan_of(QUERIES[name](spark, sf_dir), "simple")
        for line in p.splitlines():
            m = re.search(r"Window (\[.*)", line.strip())
            if not m:
                continue
            seps = re.findall(r"\], \[", m.group(1))
            if len(seps) >= 2:
                continue  # [funcs], [partition], [order] — partitioned
            # two groups: either partition-only (fine) or order-only
            # (the single-partition funnel). Ordering specs carry
            # ASC/DESC markers; partition lists don't.
            last = m.group(1).rsplit("], [", 1)[-1]
            assert " ASC" not in last and " DESC" not in last, (
                f"{name}: unpartitioned ordered Window (single-partition "
                f"funnel at scale): {line.strip()[:160]}"
            )


def test_q20_nested_ins_are_broadcast_semi_joins(plans):
    p = plans("q20_part_promotion")
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q2_correlated_min_is_windowed_not_rescanned(plans):
    p = plans("q2_min_cost_supplier")
    # one window over the regional cost frame replaces the correlated
    # subquery's per-part re-aggregation
    assert "Window" in p
    # part/supplier/nation/region dims all broadcast
    assert p.count("BroadcastHashJoin") >= 3


def test_pack_sequences_window_is_partitioned(plans):
    p = plans("pack_sequences_docs")
    # the packing window must partition on the group column — a global
    # window would funnel the corpus through one task
    assert "Window" in p
    spec = " ".join(ln for ln in p.splitlines() if "windowspecdefinition" in ln)
    # grp is the projected group column; a global window would show
    # windowspecdefinition(<order-only> ...) with no partition key
    assert "windowspecdefinition(grp" in spec


def test_vocab_topk_plans_parallel_topk(plans):
    p = plans("vocab_topk_docs")
    assert "TakeOrderedAndProject" in p


def test_decontaminate_broadcasts_benchmark(plans):
    p = plans("decontaminate_docs")
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_incremental_dedup_is_equi_join(plans):
    p = plans("incremental_dedup_docs")
    assert "CartesianProduct" not in p


# --- round-4 engine-verb surfaces ------------------------------------------


def test_point_lookup_filter_reaches_scan(plans):
    """S4: the key-set probe must push the IN filter into the parquet
    scan — at 100 TB this is the difference between row-group pruning
    and a full table read."""
    p = plans("point_lookup_orders")
    pushed = " ".join(ln for ln in p.splitlines() if "PushedFilters" in ln)
    assert "o_orderkey" in pushed


def test_merge_upsert_is_single_window_pass(plans):
    """S5: LWW merge must be one union + one keyed window, never a
    join back against the full current table per update row."""
    p = plans("merge_upsert_orders")
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_delegation_walk_broadcasts_frontier(plans):
    """J2: with a handful of root principals the frontier must
    broadcast into each hop so the edge table never shuffles."""
    p = plans("delegation_closure_users")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_replay_broadcasts_checkpoints(plans):
    """T5: 3 checkpoint rows broadcast into the event log — the log
    scans once; a shuffle join here re-sorts 100 TB three times."""
    p = plans("replay_checkpoints_events")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_soft_delete_is_projection_only(plans):
    """S6: the tombstone pass is a projection + a broadcast `now` —
    any Exchange beyond the 1-row aggregate is a regression."""
    p = plans("soft_delete_events")
    assert "SortMergeJoin" not in p


def test_logical_clock_window_is_partitioned(plans):
    p = plans("logical_clock_events")
    spec = " ".join(
        ln for ln in p.splitlines() if "windowspecdefinition" in ln
    )
    assert "user_id" in spec


def test_otlp_roundtrip_no_python_udf(plans):
    """S11: the adapter is pure column expressions — a Python hop in
    the span-flattening path would bottleneck trace backfills."""
    p = plans("otlp_roundtrip_events")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_uuid7_is_shuffle_free(plans):
    """F14: id assignment is a pure projection; any Exchange means the
    layout computation forced a shuffle."""
    p = plans("uuid7_assign_events")
    assert "Exchange" not in p


def test_pq_is_single_arrow_pass(plans):
    """PQ: encode+ADC-score must be one MapInPandas over the corpus —
    no join, no cartesian; the only shuffle is the candidate-sized
    rank exchange."""
    p = plans("pq_ann_topk")
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_chunking_is_map_only(plans):
    """Chunking fuses into the scan: generate + project, zero
    Exchange."""
    p = plans("chunk_docs")
    assert "Exchange" not in p


def test_kmeans_step_single_aggregation(plans):
    """Assign is one Arrow pass; the mean recompute is one partial
    aggregation — more than one shuffle means the assignment joined
    instead of mapping."""
    p = plans("kmeans_step_embeddings")
    assert "MapInPandas" in p
    assert p.count("Exchange") <= 2  # agg exchange (+AQE read) only


def test_interval_join_is_hash_not_nested_loop(plans):
    """The day equi-key must turn the range join into a (broadcast)
    hash join with a range residual — a bare BroadcastNestedLoopJoin
    re-evaluates the range predicate per (row × window) at 100 TB."""
    p = plans("interval_join_events")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_weighted_sample_plans_parallel_topk(plans):
    p = plans("weighted_sample_docs")
    assert "TakeOrderedAndProject" in p


def test_fuzzy_match_blocks_equi_join(plans):
    p = plans("fuzzy_match_docs")
    assert "CartesianProduct" not in p
    # blocking key join, not a nested loop over all pairs
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p


def test_triangle_count_is_equi_joins(plans):
    p = plans("triangle_count_users")
    assert "CartesianProduct" not in p


def test_grouping_sets_single_expand(plans):
    p = plans("grouping_sets_orders")
    assert "Expand" in p


def test_scd2_is_single_window_pass(plans):
    p = plans("scd2_user_state")
    # one shuffle on user_id feeds version + lead + is_current together
    assert p.count("(1) Scan parquet") == 1 and p.count("Exchange") >= 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "Join" not in p


def test_mad_outliers_broadcasts_group_medians(plans):
    p = plans("mad_outliers_events")
    # the per-group scalar tables (median, MAD) must broadcast into the
    # fact side, never sort-merge against it
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_pagerank_step_aggregates_partial(plans):
    p = plans("pagerank_step_users")
    # contribution sum must map-side combine before the dst shuffle
    assert "partial_" in p or p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p


def test_tfidf_no_python_udf(plans):
    p = plans("tfidf_topk_docs")
    # tokenize/score/rank all JVM-side
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_histogram_bounds_broadcast(plans):
    p = plans("value_histogram_events")
    # min/max scalar row joins via broadcast nested loop (1-row side),
    # never a shuffled cartesian
    assert "CartesianProduct" not in p


def test_sliding_window_single_shuffle(plans):
    p = plans("sliding_window_events")
    # window() expansion happens map-side; one shuffle for the groupBy
    assert "Expand" in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_funnel_stage_joins_are_equi(plans):
    p = plans("funnel_users")
    assert "CartesianProduct" not in p.replace(
        "BroadcastNestedLoopJoin", ""
    )  # only the 1-row stage-count crossJoins may nest


def test_cohort_retention_two_shuffle_shape(plans):
    p = plans("cohort_retention_users")
    # per-user first-seen + (cohort, age) distinct-count only
    assert "CartesianProduct" not in p
    assert "partial_" in p or p.count("HashAggregate") >= 2


def test_profile_is_single_scan(plans):
    p = plans("profile_columns_orders")
    # all per-column statistics fuse into ONE pass over the table
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_event_pair_lift_broadcasts_marginals(plans):
    p = plans("event_pair_lift")
    # pair counts shuffle on user_id; marginals/user-count broadcast
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_regr_aggregates_partial(plans):
    p = plans("regr_price_qty_lineitem")
    assert "partial_" in p or p.count("HashAggregate") >= 2


def test_streaks_no_self_join(plans):
    p = plans("activity_streaks_users")
    assert "Join" not in p  # islands come from a window, not a self-join
    assert "Window" in p


def test_partitioned_sink_prunes(spark, sf_dir, tmp_path):
    """Date-partitioned sink layout: a day filter on read-back must
    become a partition filter (pruned directory listing), never a
    row-level scan filter over every file — the layout decision that
    makes TTL sweeps / incremental scans O(touched partitions) at
    100 TB."""
    from pyspark.sql import functions as F

    from mnemo_spark.io import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "by_day")
    events.withColumn("day", F.to_date("ts")).write.partitionBy(
        "day"
    ).parquet(out)
    back = spark.read.parquet(out).filter(
        F.col("day") == F.lit("2024-01-10").cast("date")
    )
    p = plan_of(back)
    pf = " ".join(ln for ln in p.splitlines() if "PartitionFilters" in ln)
    assert "day" in pf and "2024-01-10" in pf
    # and the filter must NOT appear as a pushed data filter instead
    assert back.count() == events.filter(
        F.to_date("ts") == F.lit("2024-01-10").cast("date")
    ).count()


def test_transition_matrix_one_window_shuffle(plans):
    p = plans("transition_matrix_events")
    assert "Window" in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # marginals broadcast


def test_zorder_key_stays_in_codegen(plans):
    p = plans("zorder_key_events")
    # 32 bit-ops must fold into the projection — no Python evaluation
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Join" not in p


def test_incremental_rollup_merges_partials(plans):
    p = plans("incremental_rollup_events")
    # base+delta rollups then a merge re-aggregation: ≥2 agg layers,
    # and never a join back to fact rows
    assert p.count("HashAggregate") >= 4
    assert "Join" not in p


def test_zorder_clusters_both_dimensions(spark, sf_dir):
    """Sorting by z_key must co-locate ranges of BOTH dimensions:
    within any contiguous z-sorted block, the user_id spread is far
    below the global spread (the data-skipping property)."""
    rows = (
        QUERIES["zorder_key_events"](spark, sf_dir)
        .orderBy("z_key")
        .select("user_id")
        .collect()
    )
    ids = [r["user_id"] for r in rows]
    block = max(4, len(ids) // 8)
    spreads = [
        max(ids[i : i + block]) - min(ids[i : i + block])
        for i in range(0, len(ids) - block, block)
    ]
    global_spread = max(ids) - min(ids)
    assert sum(spreads) / len(spreads) < global_spread * 0.55


def test_winsorize_fences_broadcast(plans):
    p = plans("winsorize_events")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_pctrank_window_is_partitioned(plans):
    p = plans("length_pctrank_docs")
    spec = " ".join(ln for ln in p.splitlines() if "windowspecdefinition" in ln)
    assert "windowspecdefinition(lang" in spec


def test_benford_single_scan_groupby(plans):
    p = plans("benford_profile_events")
    assert "CartesianProduct" not in p
    assert "partial_" in p or p.count("HashAggregate") >= 2


def test_gap_fill_stays_partitioned_on_user(plans):
    p = plans("gap_fill_daily_events")
    spec = " ".join(ln for ln in p.splitlines() if "windowspecdefinition" in ln)
    assert "windowspecdefinition(user_id" in spec
    assert "CartesianProduct" not in p


def test_rolling_avg_is_range_frame(plans):
    p = plans("rolling_7d_avg_events")
    assert "RANGE BETWEEN" in p or "specifiedwindowframe(RangeFrame" in p


def test_interevent_gaps_one_user_shuffle(plans):
    p = plans("interevent_gap_stats")
    assert "Window" in p and "Join" not in p


def test_path_to_purchase_no_self_join(plans):
    p = plans("path_to_purchase_users")
    assert "Window" in p and "Join" not in p


def test_spike_baseline_excludes_current_day(plans):
    p = plans("rolling_spike_events")
    # RANGE -7..-1: the frame must not reach the current row
    assert "RANGE BETWEEN" in p or "specifiedwindowframe(RangeFrame" in p
    assert "-1" in p


def test_copurchase_join_is_order_keyed(plans):
    p = plans("copurchase_part_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # marginals + order-count broadcast


def test_mesh_rules_manifest_is_broadcast(plans):
    """mesh_policy_events: the decision join must broadcast the rules
    manifest — at 100 TB the ops stream never shuffles for a manifest
    that fits in one executor's memory by construction."""
    p = plans("mesh_policy_events")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # and the final (op, decision) count is map-side partial
    assert "partial_count" in p or "HashAggregate" in p


def test_deal_reputation_no_row_blowup(plans):
    """deal_reputation_orders: roles union + two aggregations + one
    broadcast-sized join on agent — no cartesian anywhere, and the
    aggregate is map-side partial before the agent shuffle."""
    p = plans("deal_reputation_orders")
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "HashAggregate" in p


def test_code_mode_savings_scan_prunes_columns(plans):
    """code_mode_savings_docs reads only (lang, text, n_chars, doc_id)
    — a scan fetching the full documents row would drag every body
    through the window at 100 TB."""
    p = plans("code_mode_savings_docs")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"lang", "text", "n_chars", "doc_id"}


def test_hybrid_recall_is_single_pass_over_documents(plans):
    """r5 recall core: every lane score derives from ONE per-doc
    statistics frame (recall_core.py) and fusion runs in-plan (one
    lane-tagged rrf_fuse_grouped window over the melted frame) —
    documents may appear at most twice in the plan
    (token branch + attribute branch of the left join) and only the
    FINAL top-k plans TakeOrderedAndProject; per-lane top-k jobs or a
    join back against the corpus for provenance would regress the
    flagship to the r4 multi-cascade shape."""
    p = plans("hybrid_recall_docs")
    assert p.count("documents.parquet") <= 2
    # formatted mode prints each node twice (tree + details): one
    # TakeOrderedAndProject node == 2 occurrences; the r4 per-lane
    # shape had three more
    assert p.count("TakeOrderedAndProject") <= 2
    assert "CartesianProduct" not in p


def test_copurchase_has_no_orderkey_self_join(plans):
    """r5 rewrite: basket pairs come from sorted-set aggregation plus
    generator expansion (posexplode + sliced explode), never from the
    order-keyed self-join (two extra corpus shuffles + k^2 join rows
    per basket)."""
    p = plans("copurchase_part_pairs")
    assert "SortMergeJoin" not in p
    assert "oin [l_orderkey" not in p  # no join keyed on the order
    assert "posexplode" in p and "slice" in p


def test_quarantine_review_pushes_cutoff_to_scan(plans):
    """The review cutoff (created_at >= since) must reach the parquet
    scan as a pushed ts predicate — at 100 TB the quarantine listing
    reads the recent files, not the whole event log."""
    p = plans("quarantine_review_events")
    pushed = " ".join(ln for ln in p.splitlines() if "PushedFilters" in ln)
    assert "GreaterThanOrEqual(ts" in pushed


def test_abc_cumsum_is_range_partitioned_not_global(spark, sf_dir):
    """abc_customers_orders' Pareto running sum must plan as the
    distributed prefix sum: a range exchange feeding a Window
    PARTITIONED by the slice id — never the single-partition
    `Window.orderBy` form. Grammar: a Window line WITH an order spec
    (ASC/DESC present) must print 3 bracket groups (funcs,
    partition, order); the offsets windows partition on the constant
    key and the slice windows on _pid."""
    import re

    p = plan_of(QUERIES["abc_customers_orders"](spark, sf_dir), "simple")
    assert "rangepartitioning" in p.lower()
    for line in p.splitlines():
        m = re.search(r"Window (\[.*)", line.strip())
        if not m or ("ASC" not in line and "DESC" not in line):
            continue
        seps = re.findall(r"\], \[", m.group(1))
        assert len(seps) == 2, f"unpartitioned ordered Window: {line.strip()}"


def test_q2_part_filter_joins_below_the_window(spark, sf_dir):
    """The selective part predicate (p_size/p_type) must broadcast-join
    onto the cost frame BEFORE the per-part window min — windowing all
    of partsupp and filtering after wastes the whole shuffle at 100 TB
    (VERDICT r6 weak item). In the formatted plan the Window node's
    subtree must already contain the part-side BroadcastHashJoin, i.e.
    no p_size/p_type Filter may appear ABOVE the Window."""
    p = plan_of(QUERIES["q2_min_cost_supplier"](spark, sf_dir), "simple")
    lines = p.splitlines()
    win_depth = None
    for line in lines:
        stripped = line.lstrip(" :+-*")
        depth = len(line) - len(stripped)
        if stripped.startswith("Window"):
            win_depth = depth
        if "p_size" in line and "Scan" not in line and win_depth is not None:
            # any part-predicate filter printed at or above the window's
            # indentation AFTER the window node = filter above the window
            assert depth > win_depth, f"part filter above window: {line.strip()}"
    assert win_depth is not None


def test_rfm_quintiles_are_range_partitioned_not_global(spark, sf_dir):
    """rfm_segments_orders' three quintile lanes must plan as
    global_ntile's distributed form (range exchange + slice-partitioned
    row_number) — no single-partition ordered ntile window over the
    customer dimension (same grammar check as the ABC prefix sum)."""
    p = plan_of(QUERIES["rfm_segments_orders"](spark, sf_dir), "simple")
    assert "rangepartitioning" in p.lower()
    assert "ntile(" not in p.lower()  # the window FUNCTION ("quintile" aliases are fine)
    for line in p.splitlines():
        m = re.search(r"Window (\[.*)", line.strip())
        if not m or ("ASC" not in line and "DESC" not in line):
            continue
        seps = re.findall(r"\], \[", m.group(1))
        assert len(seps) == 2, f"unpartitioned ordered Window: {line.strip()}"


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The 100-TB skew story has two layers: salting where we control
    the plan (salted_agg_events) and AQE skew-join for everything
    else. Pin the second: under the session's adaptive config, a
    fact-fact sort-merge join with one hot key (85% of rows) must be
    re-planned at RUNTIME with the hot partition split —
    `SortMergeJoin(skew=true)` in the final adaptive plan. Thresholds
    are lowered to surface at test scale; the mechanism (partition
    size vs median × factor) is scale-independent."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        fact = spark.range(0, 400000).select(
            F.when(F.col("id") % 100 < 85, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("d"),
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 400000  # execute -> final adaptive plan
        p = plan_of(j)  # same DF object: explain shows the EXECUTED plan
        assert "isFinalPlan=true" in p
        assert "skew=true" in p, "AQE did not split the hot partition"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
