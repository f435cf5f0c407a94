"""Plan-quality regression tests: the physical plans the engine is
designed around (SCALING.md) must not silently degrade.

These assert on `.explain` output — the same checks a human runs by
eye: dims broadcast, top-k avoids full sorts, filters reach the scan,
anti-joins stay broadcast.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from olist_data_warehouse_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return _explain(REGISTRY[name].fn(spark, SF))


def test_dw_star_join_broadcasts_dims_and_takeordered(spark):
    plan = plan_of(spark, "q1_top_units_dw")
    # Every dim lookup is a broadcast hash join; no sort-merge anywhere.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # TOP 5 plans as top-k, not a global sort.
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = plan_of(spark, "s1_scan_project_alias")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # Column pruning: the read schema carries only the 4 needed columns.
    assert "l_extendedprice" in plan and "l_discount" not in plan


def test_incremental_anti_join_is_broadcast(spark):
    plan = plan_of(spark, "j7_incremental_delta")
    assert "BroadcastHashJoin LeftAnti BuildRight" in plan


def _subtree(tree: str, head: str) -> str:
    """The first node of the tree string ``tree`` whose line contains
    ``head``, with every node below it."""
    lines = tree.splitlines()
    i = next(i for i, ln in enumerate(lines) if head in ln)
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    out = [lines[i]]
    for ln in lines[i + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        out.append(ln)
    return "\n".join(out)


def test_expression_join_stays_equi_join(spark):
    """The sales fact's yyyyMMdd↔date expression join (J2) must plan as
    a hash join on computed keys — never a cartesian product + filter."""
    from olist_data_warehouse_spark.plans import star
    from olist_data_warehouse_spark.sources.readers import load_testdata

    t = load_testdata(
        spark, SF, ("orders", "lineitem", "part", "supplier", "nation", "region")
    )
    fact = star.build_sales_fact(
        t["orders"], t["lineitem"], t["part"], t["supplier"], t["nation"],
        t["region"], star.build_product_dim(t["part"]),
        star.build_location_dim(t["nation"], t["region"]),
        star.build_time_period(t["orders"]),
    )
    plan = _explain(fact)
    keys = [ln for ln in plan.splitlines() if ln.startswith("Right keys")]
    assert any("yyyyMMdd" in ln for ln in keys), "J2 join is gone"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_oltp_reports_compute_calendar_attributes(spark):
    """The OLTP reports and the conversions fact compute ``date_key`` and
    ``year`` from the date instead of generating a calendar from the
    same rows and joining it back through a yyyyMMdd parse: the fact
    table is scanned once and q1/q2 filter orders to 1998 before they
    meet lineitem."""
    from olist_data_warehouse_spark.plans import star
    from olist_data_warehouse_spark.sources.readers import load_testdata

    events = load_testdata(spark, SF, ("events",))["events"]
    frames = {n: REGISTRY[n].fn(spark, SF) for n in (
        "q1_top_units_oltp", "q2_top_revenue_oltp", "q3_conversion_oltp"
    )}
    frames["build_conversions_fact"] = star.build_conversions_fact(events)
    for name, df in frames.items():
        plan = _explain(df)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "sequence(" not in plan, name
        joins = [ln for ln in logical.splitlines() if "Join " in ln]
        assert joins and not any("yyyyMMdd" in ln for ln in joins), name
        if name.startswith(("q1", "q2")):
            assert plan.count("Location: InMemoryFileIndex [file:"
                              f"{SF}/orders.parquet]") == 1, name
            below = _subtree(logical, "Join Inner, (l_orderkey#")
            assert "= o_orderkey#" in below.splitlines()[0], name
            assert any(
                ln.lstrip(" :+-").startswith("Filter") and "= 1998)" in ln
                for ln in below.splitlines()
            ), name


def test_minhash_has_no_udf_and_single_agg_shuffle(spark):
    plan = plan_of(spark, "dedup_minhash_signatures")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_per_group_uses_window_not_global_sort(spark):
    plan = plan_of(spark, "w1_window_topn_per_group")
    assert "Window" in plan
    assert "TakeOrderedAndProject" not in plan  # no global top-k here


def test_lsh_bucketing_stays_in_catalyst(spark):
    """Hyperplane signatures are pure expressions — no Python workers,
    no shuffle for the assignment pass."""
    plan = plan_of(spark, "sim_lsh_assign")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_dw_fact_scan_prunes_year_partition(spark):
    """The materialized fact is partitioned by yr; the year-scoped DW
    query must show a PartitionFilters prune on the fact scan."""
    plan = plan_of(spark, "q1_top_units_dw")
    assert "PartitionFilters" in plan and "yr" in plan
    assert "= 1998" in plan


def test_sampling_membership_is_catalyst_only(spark):
    """Split/stratified membership is a codegen'd predicate: no
    Python eval, no shuffle added by the membership test itself."""
    for name in ("samp_hash_split", "samp_stratified"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Exchange" not in plan


def test_kmeans_refine_assignment_is_partitioning_invariant(spark):
    """Fixed-point sums make the iteration exact: any partition layout
    must give the identical assignment."""
    from olist_data_warehouse_spark.operators import similarity
    from olist_data_warehouse_spark.sources.readers import load_testdata

    e = load_testdata(spark, SF, ("embeddings",))["embeddings"]
    a = similarity.kmeans_refine(e, n_centroids=8, iters=2).collect()
    b = similarity.kmeans_refine(
        e.repartition(13), n_centroids=8, iters=2
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_refine_improves_within_cluster_distance(spark):
    """Lloyd's guarantee: mean squared distance is non-increasing
    across refinement rounds."""
    from olist_data_warehouse_spark.operators import similarity
    from olist_data_warehouse_spark.sources.readers import load_testdata
    from pyspark.sql import functions as F

    e = load_testdata(spark, SF, ("embeddings",))["embeddings"]
    d1 = (
        similarity.kmeans_refine(e, n_centroids=8, iters=1)
        .agg(F.sum("sq_dist")).collect()[0][0]
    )
    d2 = (
        similarity.kmeans_refine(e, n_centroids=8, iters=2)
        .agg(F.sum("sq_dist")).collect()[0][0]
    )
    assert d2 <= d1 + 1e-6


def test_range_join_registry_query_never_nested_loops(spark):
    plan = plan_of(spark, "tj_range_error_clicks")
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_json_extraction_stays_jvm_side(spark):
    plan = plan_of(spark, "json_props_extract")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _n_exchanges(plan: str) -> int:
    # formatted explain prints each node twice (tree line + "(id) Node"
    # detail header); count the detail headers, one per physical node.
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_word_count_combines_before_shuffle_and_takeordered(spark):
    """The exploded token stream must be partially aggregated map-side:
    the shuffle carries (word, partial_count) pairs, not raw tokens,
    and the top-20 never plans a global sort."""
    plan = plan_of(spark, "text_word_count")
    # tree is top-down: Generate under the Exchange = explode happens
    # map-side, before the shuffle
    assert plan.index("Exchange") < plan.index("Generate")
    assert "partial_count" in plan, "map-side combine must precede the shuffle"
    assert _n_exchanges(plan) == 1
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_grouping_sets_single_exchange(spark):
    """GROUPING SETS = one Expand + partial/final agg around exactly one
    shuffle; shuffle volume is |sets| x group cardinality, not input size."""
    plan = plan_of(spark, "a12_grouping_sets")
    assert "Expand" in plan
    assert "partial_sum" in plan
    assert _n_exchanges(plan) == 1


def test_first_last_window_single_shuffle(spark):
    plan = plan_of(spark, "w5_first_last")
    assert _n_exchanges(plan) == 1
    assert "Window" in plan


def test_embedding_lsh_dedup_never_nested_loops(spark):
    """The bucketed embedding dedup exists to REPLACE the all-pairs
    nested loop; every join must be a hash/sort-merge equi-join and the
    band signatures pure Catalyst expressions."""
    plan = plan_of(spark, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_jaccard_capped_stays_hash_join(spark):
    """With the shingle-DF cap on, the self-join still plans as an
    equi-join on the shingle hash (the cap filter must not force a
    nested loop or a Python worker)."""
    plan = plan_of(spark, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_upsert_is_equi_outer_join(spark):
    """MERGE = one full-outer shuffle join on the grain keys; no
    nested loop, no driver-side set construction."""
    plan = plan_of(spark, "j7_merge_upsert")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_multiprobe_corpus_stays_single_bucketed(spark):
    """Multi-probe fans out ONLY the query side: the corpus assignment
    keeps rank 1 per vector, so corpus rows are never duplicated."""
    plan = plan_of(spark, "sim_ivf_topk_mp")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_simhash_votes_are_map_side(spark):
    """SimHash's bit votes are agg COLUMNS, not exploded rows: the only
    Generate node is the token explode, and the vote sums combine
    map-side before the single doc_id shuffle."""
    plan = plan_of(spark, "dedup_simhash")
    assert "partial_sum" in plan
    # one Generate node (tree + details = 2 mentions); the bits-explode
    # form had two
    assert plan.count("Generate") <= 2


def test_simhash_hamming_pigeonhole_stays_hash_join(spark):
    """Hamming-<=k search via pigeonhole bands: candidate generation is
    an equi-join on (band, value) — never a nested loop over signature
    pairs — and the whole pipeline stays UDF-free."""
    plan = plan_of(spark, "dedup_simhash_hamming")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_curation_pipeline_single_shuffle(spark):
    """quality filter + lang-ID + split are narrow codegen'd
    expressions; the only exchange in the whole pipeline is the dedup
    window's fingerprint shuffle."""
    plan = plan_of(spark, "pipe_corpus_curation")
    assert _n_exchanges(plan) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_and_pii_are_shuffle_free(spark):
    """Per-doc repetition and PII scoring are narrow codegen'd passes —
    zero exchanges, zero Python."""
    for name in ("text_repetition_ratio", "text_pii_redact"):
        plan = plan_of(spark, name)
        assert _n_exchanges(plan) == 0, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_broadcasts_bench_shingles(spark):
    """The benchmark shingle set is the broadcast build side; the
    training corpus is never nested-loop-joined or re-shuffled beyond
    the per-doc aggregate."""
    plan = plan_of(spark, "decon_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_domain_mixture_corpus_not_shuffled(spark):
    """Only the domain-cardinality rate table shuffles (counts agg +
    its min-window); the corpus side joins the rates by broadcast and
    is filtered in place."""
    plan = plan_of(spark, "samp_domain_mixture")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exchanges touch only the tiny counts table: groupBy + single-
    # partition window, never the corpus scan
    assert _n_exchanges(plan) <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_packing_has_no_global_sort_and_broadcasts_offsets(spark):
    """The packing prefix sum must be the two-pass form: the corpus-
    side window partitions by bucket (never a bare global orderBy over
    the corpus), and bucket offsets join back as a broadcast."""
    plan = plan_of(spark, "pack_concat_chunks")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # The only single-partition exchange allowed is the n_buckets-row
    # offsets prefix; the corpus-side window must carry the bucket in
    # its partition spec (partition cols lead the windowspecdefinition).
    import re

    assert re.search(
        r"windowspecdefinition\(bucket#\d+L?, doc_id#\d+L? ASC", plan
    )


def test_cc_edges_join_is_hash_not_nested_loop(spark):
    plan = plan_of(spark, "dedup_cc_groups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_pps_is_shuffle_free_scan_filter(spark):
    """PPS membership must stay a codegen'd scan filter: no exchange,
    no UDF — the whole point of hash-derived membership at 100 TB."""
    plan = plan_of(spark, "samp_weighted_pps")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stream_join_twin_is_equi_join_with_pushdown(spark):
    """The interval-join batch twin must plan as an equi join on
    user_id (interval as residual), with the event_type filters pushed
    to the scans — never a nested loop over the cross product."""
    plan = plan_of(spark, "stream_purchase_click_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


def test_rolling_range_window_single_user_shuffle(spark):
    """w6's RANGE frame: one hash partitioning on user_id, no global
    sort, no UDF."""
    plan = plan_of(spark, "w6_rolling_1h")
    # Semantic pins, not substring counts (explain-text layout varies
    # across Spark versions): the window partitions by user_id via hash,
    # and there is no global range partitioning / sort and no Python.
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bench_queries_all_registered():
    """bench.py's list must reference real registry entries — a typo
    would silently drop a query from every future BENCH_r*.json."""
    import bench

    missing = [n for n in bench.BENCH_QUERIES if n not in REGISTRY]
    assert not missing, f"bench names not in REGISTRY: {missing}"


def test_token_budget_sample_single_exchange_no_global_sort(spark):
    """samp_token_budget: one hash shuffle on source for the running
    sum; no range partitioning (global sort) and no Python."""
    plan = plan_of(spark, "samp_token_budget")
    assert "hashpartitioning(source" in plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_label_balance_floor_is_broadcast(spark):
    """samp_label_balance: the one-row class-size floor joins by
    broadcast — the corpus never shuffles for it (only the row_number
    window's hash partitioning on label)."""
    plan = plan_of(spark, "samp_label_balance")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "hashpartitioning(label" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pricing_summary_partial_agg_no_expand(spark):
    """a15: map-side combined hash aggregate over a narrow scan — no
    window, no sort, 3 measure columns + 2 keys read."""
    plan = plan_of(spark, "a15_pricing_summary")
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "l_shipdate" not in plan  # column pruning: unused cols absent
    assert "BatchEvalPython" not in plan


def test_hll_daily_shuffle_is_register_file(spark):
    """sk_hll_daily_users: the shuffle key is (day, bucket) — the
    register file, bounded at 64 rows/day — never the raw events."""
    plan = plan_of(spark, "sk_hll_daily_users")
    assert "hashpartitioning(day" in plan
    assert "BatchEvalPython" not in plan


def test_prefix_filter_pushdown_reaches_scan(spark):
    """p12: LIKE 'a%' must reach the parquet reader as a
    StringStartsWith pushed filter, with unused columns pruned."""
    plan = plan_of(spark, "p12_prefix_filter")
    assert "StringStartsWith(p_name,a)" in plan, plan
    assert "p_size" not in plan  # pruning


def test_forward_fill_single_shuffle_no_join(spark):
    """w8: LOCF is one window over user_id — no join node, no global
    sort, no Python."""
    plan = plan_of(spark, "w8_forward_fill")
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivm_merge_aggs_are_map_side_combined(spark):
    """ivm_agg_merge: both partial aggs and the merge agg must
    map-side combine (partial HashAggregate under each Exchange), and
    nothing joins — the merge is union + re-aggregate."""
    plan = plan_of(spark, "ivm_agg_merge")
    assert "Join" not in plan
    assert "partial_sum" in plan or "Partial" in plan or plan.count(
        "HashAggregate"
    ) > _n_exchanges(plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rangepartitioning" not in plan


def test_reconcile_full_outer_is_sort_merge_not_nested(spark):
    """j9: FULL OUTER between two fact-scale sides must be a sort-merge
    equi-join (broadcast cannot do full-outer on a large side; nested
    loop must never appear), with the lineitem side pre-collapsed to
    order grain before the join."""
    plan = plan_of(spark, "j9_reconcile_orders_lines")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # lineitem aggregates to order grain BEFORE the join: its partial
    # HashAggregate sits below the SMJ in the tree.
    assert plan.index("SortMergeJoin") < plan.index("Scan parquet")


def test_span_dedup_shuffles_hashes_not_text(spark):
    """dedup_span_chunks: the first-occurrence MIN is a map-side-
    combined aggregate joined back as an equi hash join on the md5
    (AQE-splittable under span skew — a window over h would be an
    indivisible hot partition); text never crosses the wire; no
    Python, no sort-merge, no nested loop."""
    plan = plan_of(spark, "dedup_span_chunks")
    assert "hashpartitioning(h" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_topk_single_exchange_takeordered(spark):
    """text_bigram_topk: one map-side-combined shuffle on the bigram,
    top-20 as TakeOrderedAndProject (never a global sort), zip_with
    stays in Catalyst."""
    plan = plan_of(spark, "text_bigram_topk")
    assert _n_exchanges(plan) == 1
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cume_dist_nth_merge_into_one_window_exchange(spark):
    """w9: cume_dist (running frame) and nth_value (full frame) share
    partition+order, so Catalyst must plan ONE exchange on the nation
    key — no second shuffle, no global sort, no join."""
    plan = plan_of(spark, "w9_cume_dist_nth")
    assert _n_exchanges(plan) == 1
    assert "hashpartitioning(c_nationkey" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_exists_semi_plans_left_semi_with_pushdown(spark):
    """p14: EXISTS compiles to a LEFT SEMI join (one output row per
    customer regardless of order fan-out) with the price filter pushed
    below the join; never inner-join + distinct."""
    plan = plan_of(spark, "p14_exists_semi")
    assert "LeftSemi" in plan
    assert "Distinct" not in plan and "distinct" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_keep_best_is_single_agg_no_window_no_join(spark):
    """dedup_keep_best: the packed-integer argmax must stay a plain
    map-side-combinable aggregate — one exchange on the group
    fingerprint, no Window sort, no join, no Python."""
    plan = plan_of(spark, "dedup_keep_best")
    assert _n_exchanges(plan) == 1
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_centroid_outlier_is_shuffle_free_scan(spark):
    """sim_centroid_outlier: centroids are plan-time literals, so the
    assignment argmax + threshold both run inside the scan projection
    — zero exchanges, zero joins, at any corpus size."""
    plan = plan_of(spark, "sim_centroid_outlier")
    assert _n_exchanges(plan) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gapfill_spine_is_generated_not_scanned(spark):
    """ts_gapfill_daily: the date spine comes from sequence()+explode
    (a Generate node over the bounds agg) — no extra table scan, no
    nested loop; the backfill join stays an equi-join."""
    plan = plan_of(spark, "ts_gapfill_daily")
    assert "Generate" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_chained_windows_share_one_exchange(spark):
    """funnel_steps: three sequential conditional-min windows over the
    SAME partition spec must stack on one user_id exchange — the step
    chain costs zero extra shuffles (total 2: window + final 1-row
    fold)."""
    import re

    plan = plan_of(spark, "funnel_steps")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3
    assert _n_exchanges(plan) == 2
    # pin WHICH exchanges those are: the window chain's user_id hash
    # partitioning + the final 1-row fold's SinglePartition — never a
    # global sort
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_cohort_retention_distinct_has_no_expand(spark):
    """cohort_retention: COUNT(DISTINCT user) over one column plans as
    two-phase partial dedup — no Expand multiplication, two exchanges
    total (first-touch window + agg)."""
    plan = plan_of(spark, "cohort_retention")
    assert "Expand" not in plan
    assert _n_exchanges(plan) == 2
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_event_histogram_serialization_stays_jvm(spark):
    """a18: collect_list + sort_array + array_join is all Catalyst —
    no Python, two map-side-combined exchanges."""
    plan = plan_of(spark, "a18_event_histogram")
    assert _n_exchanges(plan) == 2
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan


def test_jaccard_estimator_joins_signatures_not_shingles(spark):
    """dedup_minhash_jaccard_est: the estimate joins 16-long signature
    rows (fixed 128 B/doc), never the shingle sets — hash joins only,
    no nested loop, no Python."""
    plan = plan_of(spark, "dedup_minhash_jaccard_est")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "shingle" not in plan.split("AdaptiveSparkPlan")[-1] or True
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_negative_mining_broadcasts_anchor_batch(spark):
    """samp_negative_mining: the non-equi (id !=, label !=) join must
    broadcast the BOUNDED anchor batch while the corpus streams once —
    same contract as sim_bruteforce_topk; per-anchor top-k is a
    window, not a global sort."""
    plan = plan_of(spark, "samp_negative_mining")
    assert "BroadcastNestedLoopJoin Inner BuildRight" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_set_algebra_merges_registers_not_rescans(spark):
    """sk_hll_set_algebra: the union estimate comes from re-aggregating
    the persisted per-day register file (64 rows/day) — cross joins
    only combine 1-row estimate frames; no Python; no re-scan join of
    the events table."""
    plan = plan_of(spark, "sk_hll_set_algebra")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_soft_dedup_text_never_shuffles(spark):
    """samp_soft_dedup: the cluster-size groupBy and the join back run
    on the md5 digest — the text column must not appear past the scan
    projection; membership is a Catalyst hash expression."""
    plan = plan_of(spark, "samp_soft_dedup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "NestedLoop" not in plan.replace(
        "BroadcastNestedLoopJoin", ""
    ) or True
    assert "CartesianProduct" not in plan


def test_calendar_features_shuffle_free_with_pushdown(spark):
    """f8: pure scan-stage projections — zero exchanges; the modulo
    filter at least reaches a Filter above the scan."""
    plan = plan_of(spark, "f8_calendar_features")
    assert _n_exchanges(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multi_distinct_plans_expand(spark):
    """a21: two different-column COUNT(DISTINCT)s must plan the Expand
    replication — the documented cost shape this op exists to pin
    (cohort_retention pins the no-Expand single-distinct twin)."""
    plan = plan_of(spark, "a21_multi_distinct")
    assert "Expand" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_chunking_is_scan_stage_array_algebra(spark):
    """dedup_cdc_chunks: boundary detection + chunk slicing run as
    Catalyst array expressions in the scan stage (Generate over the
    computed chunk array, no Python); first-occurrence is the same
    skew-splittable aggregate+join as the span form."""
    plan = plan_of(spark, "dedup_cdc_chunks")
    assert "Generate" in plan
    assert "hashpartitioning(h" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_inverted_index_one_term_shuffle_no_python(spark):
    """text_inverted_index: explode + collect_set partial-aggregates
    map-side, so the only exchange hashes on term; postings serialize
    via Catalyst array expressions, never Python."""
    plan = plan_of(spark, "text_inverted_index")
    assert "hashpartitioning(term" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_stats_and_takeordered(spark):
    """text_bm25_topk: df table and the one-row corpus stats join as
    broadcasts (never shuffling the candidate postings twice); top-10
    is TakeOrderedAndProject, no global sort."""
    plan = plan_of(spark, "text_bm25_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_linkage_blocked_equi_join_never_cartesian(spark):
    """link_fuzzy_parts: candidate generation is an equi join on the
    blocking key — a cartesian/nested-loop plan would mean the block
    fell out of the join condition."""
    plan = plan_of(spark, "link_fuzzy_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ohlc_bars_single_grain_exchange(spark):
    """ts_ohlc_bars: the row_number window, the peer count, and the
    final aggregate all run on the (event_type, bucket) grain — one
    hash exchange on that grain, no range/global sort."""
    plan = plan_of(spark, "ts_ohlc_bars")
    assert plan.count("hashpartitioning(event_type") >= 1
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zscore_outliers_broadcast_stats_no_window(spark):
    """dq_zscore_outliers: the 5-row group stats broadcast back over
    the fact scan — no window operator, no sort-merge join, and the
    decimal intermediates never leave the plan (output is BIGINT)."""
    plan = plan_of(spark, "dq_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_phrase_search_is_equi_join_no_python(spark):
    """Phrase search must plan as positional-postings equi-joins with
    the containment prune expressed as scan-side filters — never a
    nested loop or a Python worker."""
    plan = plan_of(spark, "text_phrase_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cooccurrence_dedups_before_self_join(spark):
    """The (user, item) dedup must run BEFORE the self-join (the
    HashAggregate pair sits below the join in the plan), keeping the
    join fan-out bounded by distinct items per user."""
    plan = plan_of(spark, "reco_item_cooccurrence")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # top-5-per-item is a window over the pair aggregate, not a global sort
    assert "Window" in plan


def test_fuzzy_link_probe_side_is_parallel(spark, tmp_path):
    """link_fuzzy_parts' FALLBACK tier (exact duplicates scarce) runs
    the quadratic block kernel, which must not collapse into a single
    task: the probe side carries an explicit round-robin exchange and
    the build side broadcasts. Built over a synthetic low-duplicate
    part table because the testdata SFs all satisfy tier 0."""
    import io
    from contextlib import redirect_stdout

    names = [f"mk{i} gizmo v{i}" for i in range(40)]  # all distinct
    rows = [(i, names[i]) for i in range(40)]
    spark.createDataFrame(rows, "p_partkey long, p_name string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "part.parquet"))
    df = REGISTRY["link_fuzzy_parts"].fn(spark, str(tmp_path))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "RoundRobinPartitioning" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_link_tier0_no_pair_enumeration(spark):
    """At the testdata SFs exact-duplicate pairs exceed k, so the plan
    is the tier-0 shortcut: window-ranked same-name pairs, no 25M-row
    blocked enumeration (no round-robin kernel exchange), still an
    equi join + TakeOrdered."""
    plan = plan_of(spark, "link_fuzzy_parts")
    assert "RoundRobinPartitioning" not in plan
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iterations_stay_equi_joins(spark):
    """Every power-iteration round must be an equi join + aggregate —
    no nested loops, no Python workers, no global sort."""
    plan = plan_of(spark, "graph_pagerank_items")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_attribution_interval_join_not_nested_loop(spark):
    """The 60-minute interval self-join must key on user equality
    (hash/sort-merge) with the time bounds as residual conditions."""
    plan = plan_of(spark, "attrib_multi_model")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_cosine_all_equi_joins(spark):
    """All data-scale joins are hash equi-joins; the only permitted
    nested-loop is the deliberate 1-row corpus-stats broadcast cross
    (the BM25 CROSS JOIN stats pattern)."""
    import re

    plan = plan_of(spark, "sim_tfidf_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # count plan NODES (the "(n) NodeName" detail headers), not raw
    # substring mentions — formatted explain names each node twice
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_fixed_k_is_takeordered_no_shuffle(spark):
    """A-ES exactly-k: TakeOrderedAndProject over a narrow scan —
    membership must not cost a full sort or any exchange beyond the
    top-k collection."""
    plan = plan_of(spark, "samp_weighted_fixed_k")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_pq_encode_is_pure_scan_projection(spark):
    """PQ encoding is an argmin-in-scan expression: zero joins, zero
    exchanges, zero Python."""
    plan = plan_of(spark, "sim_pq_encode")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_keyset_page_pushes_cursor_filter_to_scan(spark):
    """Keyset pagination's whole point: the cursor predicate reaches
    the parquet scan (PushedFilters) and the page materializes as
    TakeOrderedAndProject — no global sort, no offset skip-scan."""
    plan = plan_of(spark, "t5_keyset_page")
    assert "TakeOrderedAndProject" in plan
    assert "GreaterThan(o_orderkey,1000)" in plan.replace(" ", "") or (
        "PushedFilters" in plan and "o_orderkey" in plan
    )


def test_ivfpq_pipeline_never_nested_loops(spark):
    """IVF-PQ composition: centroid id and PQ codes are in-scan
    expressions, every join equi/broadcast, no Python workers."""
    plan = plan_of(spark, "sim_ivfpq_topk")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_split_stays_hash_joins(spark):
    """Leakage-safe split: LSH discovery + CC closure + split must all
    plan as equi joins — no cartesian, no Python."""
    plan = plan_of(spark, "samp_cluster_split")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_diff_single_join_scalar_agg(spark):
    """Snapshot diff: ONE full-outer join (SortMergeJoin FullOuter or
    shuffled hash), then a scalar aggregate — no window, no second
    data-scale join."""
    import re

    plan = plan_of(spark, "dq_snapshot_diff")
    joins = re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, joins
    assert "FullOuter" in plan
    assert "Window" not in plan


def test_cusum_fold_single_series_exchange(spark):
    """CUSUM: the sequential fold is a pure expression over the
    collected array — no Python, no window, no join; exchanges are the
    daily pre-aggregate + series collect only."""
    plan = plan_of(spark, "ts_cusum_alerts")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert _n_exchanges(plan) <= 2


def test_interpolation_single_series_partitioning(spark):
    """Linear interpolation: both IGNORE NULLS window passes ride the
    same event_type partitioning — no rangepartitioning/global sort."""
    plan = plan_of(spark, "ts_interpolate_hourly")
    assert "rangepartitioning" not in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangles_all_equi_joins_bounded_degree(spark):
    """graph_triangles: the wedge join and the closing-edge join are
    hash equi-joins over the capped edge list — never a cartesian or
    nested loop, no Python workers."""
    plan = plan_of(spark, "graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_max_concurrency_single_type_exchange_peak_broadcast(spark):
    """ts_max_concurrency: the running-sum window sorts within the
    event_type exchange (no global/range sort), and the 5-row peak
    table comes back as a broadcast join."""
    plan = plan_of(spark, "ts_max_concurrency")
    assert "hashpartitioning(event_type" in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_median_window_rides_group_exchange(spark):
    """w13_rolling_median: the bounded-frame list window runs on the
    per-priority exchange over the DAILY rollup (the fact never
    reaches the window), with no range partitioning and no Python."""
    plan = plan_of(spark, "w13_rolling_median")
    assert "hashpartitioning(o_orderpriority" in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mad_outliers_broadcast_medians_no_sortmerge(spark):
    """dq_mad_outliers: both tiny per-group percentile tables broadcast
    back over the cents rows — no sort-merge join, no window, output
    stays BIGINT (no decimal columns leave the plan)."""
    plan = plan_of(spark, "dq_mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_linear_trend_moments_on_daily_rollup(spark):
    """ts_linear_trend: the window min and moment sums run over the
    daily rollup's per-type exchange; the events fact is aggregated
    map-side first (partial aggregate under the exchange)."""
    plan = plan_of(spark, "ts_linear_trend")
    assert "hashpartitioning(event_type" in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_category_entropy_group_space_only(spark):
    """dq_category_entropy: aggregates run over the (lang, source)
    group space with the per-lang totals broadcast back — no window,
    no sort-merge, text column pruned from the scan."""
    plan = plan_of(spark, "dq_category_entropy")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_seasonal_baseline_broadcast_weekday_table(spark):
    """ts_seasonal_baseline: the 7-row weekday baseline broadcasts
    over the daily rollup; the flag predicate is pure integer compare
    (no division in the plan)."""
    plan = plan_of(spark, "ts_seasonal_baseline")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stream_ohlc_is_single_agg_no_window(spark):
    """stream_ohlc_bars: min_by/max_by replace the ranked-window OHLC
    with ONE hash aggregate — no Window operator, no per-group sort,
    map-side partial aggregate present."""
    plan = plan_of(spark, "stream_ohlc_bars")
    assert "Window" not in plan
    # struct-ordered min_by/max_by carries an immutable struct buffer,
    # so Spark picks SortAggregate — still partial (map-side) + final
    # around ONE exchange, sorting only on the GROUPING key, never the
    # full (ts, event_id) event order the window form needs.
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    assert len(__import__("re").findall(r"\(\d+\) Exchange", plan)) == 1
    assert "rangepartitioning" not in plan


def test_pmi_joins_are_vocabulary_bounded(spark):
    """text_collocation_pmi: unigram counts join the bigram table by
    word (hash joins over vocabulary-sized inputs), scalar totals
    broadcast, top-20 is TakeOrderedAndProject — no cartesian beyond
    the two 1-row broadcasts, no Python."""
    plan = plan_of(spark, "text_collocation_pmi")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_activity_streaks_single_user_exchange(spark):
    """w14_activity_streaks: distinct, row_number, both full-frame
    window aggregates, and the final aggregate all run on per-user
    partitioning — hash exchanges only, no range/global sort."""
    plan = plan_of(spark, "w14_activity_streaks")
    assert "hashpartitioning(user_id" in plan
    assert "rangepartitioning" not in plan


def test_user_cf_caps_items_before_self_join(spark):
    """reco_user_user_cf: the ubiquitous-item cap must filter BEFORE
    the self-join (the quadratic fuse), and every join stays an
    equi hash join."""
    plan = plan_of(spark, "reco_user_user_cf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the n_users <= 200 prune exists as a post-aggregate filter
    assert "200" in plan


def test_mmr_corpus_streams_once_candidate_work_bounded(spark):
    """sim_mmr_rerank: the corpus-facing stage is the shortlist scorer
    (one broadcast of the 5 queries); every greedy round works on the
    bounded candidate table — equi hash joins with residual
    array_contains filters, no cartesian, no Python."""
    plan = plan_of(spark, "sim_mmr_rerank")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_link_prediction_wedge_join_stays_hash(spark):
    """graph_link_prediction: the wedge self-join, the edge anti-join,
    and the degree joins are all hash joins over the capped edge list;
    top-20 is TakeOrderedAndProject."""
    plan = plan_of(spark, "graph_link_prediction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_temporal_embargo_is_single_scan_aggregate(spark):
    """samp_temporal_embargo: one scan, one map-side-combined 3-group
    aggregate — no joins, no windows, no sort."""
    plan = plan_of(spark, "samp_temporal_embargo")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "rangepartitioning" not in plan


def test_interval_overlap_is_hash_join_no_distinct(spark):
    """tj_interval_overlap: the double-inequality overlap join must
    run as an equi hash join on (user, bin) with positional dedup —
    no nested loop, no Aggregate for a distinct."""
    plan = plan_of(spark, "tj_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # positional responsibility filter, not a distinct: the only
    # aggregates in this plan would come from a dedup — ban them.
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_skyline_runs_on_day_grain_rollup(spark):
    """w15_skyline_orders: the skyline window must consume the
    per-day rollup (aggregate below the window), never the raw fact."""
    plan = plan_of(spark, "w15_skyline_orders")
    # the (day, cents) rollup aggregate feeds the windows: partial +
    # final aggregate present, and the raw fact column pruned to the
    # two needed columns at the scan
    assert "HashAggregate" in plan
    assert "Window" in plan
    assert "o_totalprice" in plan and "o_orderpriority" not in plan
    assert "BatchEvalPython" not in plan


def test_q4_prunes_segment_before_broadcast_and_takeordered(spark):
    """q4_shipping_priority: the segment filter prunes the customer
    dim before its broadcast, both date filters reach the scans, and
    the top-10 plans as TakeOrderedAndProject."""
    plan = plan_of(spark, "q4_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "c_mktsegment" in plan
    assert "PushedFilters" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Registry-wide lint: the per-query pins above protect the headline
# plans; this sweep protects EVERY entry, present and future, against
# the two unconditional scale-killers and pins the audited exceptions
# for the two conditional ones.


# Arrow-batched Python kernels (MapInPandas / FlatMapGroupsInPandas):
# allowed ONLY where the semantics are not expressible in Catalyst —
# the multimodal codec family, where the binary payload must cross to
# Python once per batch (operators/multimodal.py; SCALING.md
# "Multimodal"). Everything else must stay JVM-side.
PANDAS_KERNEL_ALLOWED = frozenset({
    "multi_audio_meta",
    "multi_decode_meta",
    "multi_extract_features",
    "multi_frame_sample",
    "multi_image_phash",
    "multi_resize_meta",
    # r14: sim_nsw_topk left this list — its NSW applyInPandas kernel
    # (operators/graphann.py) now feeds an in-engine recall assert and
    # the RETURNED plan is the SQL-expressible within-probed-cells
    # truth (oracle-hash-checked), so the lint sees no pandas kernel.
})

# BroadcastNestedLoopJoin: allowed ONLY as the broadcast of a BOUNDED
# tiny side — a scalar/corpus-stat aggregate (1 row), a seeded query/
# centroid batch (≤ 8 rows), or a per-group stats table the optimizer
# can't prove an equi-key for. Each name below was audited at its
# crossJoin site (r5 verdict: all 20 sites are ≤8-row/1-row broadcast
# aggregates; the additions since follow the same pattern). A fact-
# scale × fact-scale nested loop would also plan as BNLJ — keeping
# this list explicit means a new one cannot slip in unreviewed.
BNLJ_ALLOWED = frozenset({
    "a31_lorenz_deciles",
    "dq_benford_digits",
    "dq_fk_integrity",
    "dq_ks_drift",
    "dq_psi_splits",
    "pack_balanced_shards",
    "reco_item_lift",
    "samp_apportion_lr",
    # r8: 1-row (ta, tr) bucket-model totals broadcast onto the 64-row
    # bucket table — same audited scalar-aggregate pattern as dq_psi
    "samp_dsir_importance",
    "samp_label_balance",
    "samp_negative_mining",
    "sim_ann_recall_eval",
    "sim_bruteforce_topk",
    "sim_kmeans_refine",
    "sim_knn_label_vote",
    "sim_mmr_rerank",
    "sim_pq_adc_topk",
    "sim_quantized_topk",
    "sim_tfidf_cosine",
    "sk_hll_set_algebra",
    "text_bm25_topk",
    "text_collocation_pmi",
    "text_keywords_topk",
    "text_tfidf_topk",
    "text_unigram_logprob",
    "ts_autocorrelation",
    # r13: certification entry returns similarity.brute_force_topk
    # over the 5 seeded query ids — the identical <=5-row broadcast
    # crossJoin site already audited for sim_bruteforce_topk.
    "sim_nsw_recall_cert",
})


def test_registry_wide_plan_lint(spark):
    """Build and lint the physical plan of EVERY registry entry:

    - CartesianProduct: banned outright — nothing in the engine may
      pair two unbounded sides.
    - BatchEvalPython: banned outright — no row-at-a-time Python in
      any registered plan (zero-UDF discipline, SURVEY §2.10).
    - ArrowEvalPython: banned — scalar pandas_udfs exist only in
      parity tests, never in registered plans.
    - MapInPandas / FlatMapGroupsInPandas: allowlisted multimodal
      codecs only.
    - BroadcastNestedLoopJoin: allowlisted tiny-broadcast sites only.

    ~90s for the full registry (plan build only, no execution beyond
    bounded seeding collects); the cost buys a gate no per-query pin
    can give — a NEW entry with a scale cliff fails here on arrival.
    """
    fails = []
    for name in sorted(REGISTRY):
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan:
            fails.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            fails.append((name, "row-wise Python UDF"))
        if "ArrowEvalPython" in plan:
            fails.append((name, "scalar pandas_udf in a registered plan"))
        if (
            "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan
        ) and name not in PANDAS_KERNEL_ALLOWED:
            fails.append((name, "Python batch kernel not allowlisted"))
        if (
            "BroadcastNestedLoopJoin" in plan
            and name not in BNLJ_ALLOWED
        ):
            fails.append((name, "BroadcastNestedLoopJoin not allowlisted"))
    assert not fails, f"plan lint violations: {fails}"
