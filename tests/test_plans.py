"""Physical-plan assertions (SURVEY.md §4.2: 'none — verify with
explain()'): predicate pushdown, column pruning, broadcast joins, partial
aggregation, top-k short-circuits, shuffle-free CDC routing. These keep
the 100 TB posture from regressing silently."""

from __future__ import annotations

from mapr_db_cdc_sample_spark.plans.audit import (
    codegen_stage_count,
    count_nodes,
    formatted_plan,
    has,
    plan_nodes,
    pushed_filters,
    read_schemas,
)
from mapr_db_cdc_sample_spark.queries import load_all

REGISTRY = load_all()


def _plan(spark, sf_dir, name):
    return formatted_plan(REGISTRY[name].fn(spark, sf_dir))


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_predicates")
    pushed = pushed_filters(plan)
    assert pushed, f"no PushedFilters in plan:\n{plan[:2000]}"
    assert any("o_totalprice" in p for p in pushed)


def test_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_scan_count")
    schemas = read_schemas(plan)
    assert schemas and all(s == "l_orderkey:bigint" for s in schemas), schemas


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q05_broadcast_join")
    assert count_nodes(plan, "BroadcastHashJoin") == 2, plan_nodes(plan)
    assert not has(plan, "SortMergeJoin")


def test_agg_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q13_groupby_agg")
    # map-side partial + reduce-side final
    assert count_nodes(plan, "HashAggregate") >= 2
    assert pushed_filters(plan), "shipdate filter not pushed to scan"


def test_sort_limit_is_top_k(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q26_sort_limit")
    assert has(plan, "TakeOrderedAndProject"), plan[:1500]


def test_topk_per_group_uses_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q25_topk_per_group")
    assert has(plan, "WindowGroupLimit"), "rank<=k not pushed into window sort"


def test_cdc_route_is_shuffle_free(spark, sf_dir):
    """Routing is a projection (SURVEY.md §4.3): the only exchange allowed
    in the whole plan is the fixture's own repartition of the source."""
    plan = _plan(spark, sf_dir, "q41_cdc_route_fts")
    assert count_nodes(plan, "Exchange") <= 1, plan[:2000]
    assert not has(plan, "SortMergeJoin") and not has(plan, "HashAggregate")


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q08_semi_join")
    assert has(plan, "LeftSemi"), plan[:1500]


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    for name in ("q13_groupby_agg", "q21_ranking", "q31_string_fns"):
        n = codegen_stage_count(lambda: REGISTRY[name].fn(spark, sf_dir))
        assert n >= 1, f"{name}: no codegen stages"


def test_lsh_pairs_plan_has_no_self_join(spark, sf_dir):
    """q44 candidate generation must stay bucket-local: pairs come from
    higher-order expansion of collected bucket arrays — a corpus x corpus
    join would shuffle the signature subtree twice. The only join allowed
    is the slim band-count semi/inner join that enforces the bucket cap."""
    plan = _plan(spark, sf_dir, "q44_minhash_lsh_pairs")
    assert not has(plan, "CartesianProduct"), plan_nodes(plan)
    assert not has(plan, "BroadcastNestedLoopJoin"), plan_nodes(plan)
    # signature agg + band-count agg + bucket collect + final distinct,
    # each partial+final — all hash aggregates, no sort-based fallback
    assert count_nodes(plan, "HashAggregate") >= 4


def test_training_corpus_plan_is_hash_aggs_only(spark, sf_dir):
    """q87: quality gate -> fingerprint dedup -> per-lang budget must plan
    as hash aggregates (map-side partials), never a window sort over the
    corpus or a join."""
    plan = _plan(spark, sf_dir, "q87_training_corpus")
    assert not has(plan, "Window"), plan_nodes(plan)
    assert not has(plan, "SortMergeJoin")
    assert count_nodes(plan, "HashAggregate") >= 2


def test_approx_aggs_bounded_error(spark, sf_dir):
    """q67 sketches: HLL++ within 3×rsd of exact; approx median between
    exact p25 and p75."""
    from pyspark.sql import functions as F

    from mapr_db_cdc_sample_spark.io import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    exact = {
        r.l_returnflag: (r.d, r.p25, r.p75)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("d"),
            F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
            F.expr("percentile(l_extendedprice, 0.75)").alias("p75"),
        )
        .collect()
    }
    for r in REGISTRY["q67_approx_aggs"].fn(spark, sf_dir).collect():
        d, p25, p75 = exact[r.l_returnflag]
        assert abs(r.apx_parts - d) / d <= 0.06
        assert p25 <= r.apx_median_price <= p75


# ---------------------------------------------- TPC-H composites (q93+)

def test_pricing_summary_partial_agg_and_pushdown(spark, sf_dir):
    """q93 (TPC-H Q1): the wide aggregate must be partial+final with the
    shipdate filter at the scan — the shuffle carries ~6 rows/partition."""
    plan = _plan(spark, sf_dir, "q93_pricing_summary")
    assert count_nodes(plan, "HashAggregate") >= 2
    assert any("l_shipdate" in p for p in pushed_filters(plan)), plan[:1500]


def test_forecast_revenue_is_pure_pushdown_scan(spark, sf_dir):
    """q94 (TPC-H Q6): all three predicates reach the parquet scan; the
    plan has no join and no wide shuffle — just partial sums."""
    plan = _plan(spark, sf_dir, "q94_forecast_revenue")
    pushed = " ".join(pushed_filters(plan))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, f"{c} not pushed:\n{plan[:1500]}"
    assert not has(plan, "Join"), plan_nodes(plan)


def test_large_orders_aggregates_before_join(spark, sf_dir):
    """q96 (TPC-H Q18): the HAVING aggregate runs before the joins (only
    qualifying orderkeys join back) and top-20 short-circuits."""
    plan = _plan(spark, sf_dir, "q96_large_orders")
    nodes = plan_nodes(plan)
    assert has(plan, "TakeOrderedAndProject"), nodes
    join_ix = [i for i, n in enumerate(nodes) if n.endswith("HashJoin")]
    # the numbered tree lists producers before consumers here: the HAVING
    # aggregate must appear before any join consumes it, and both joins
    # must be broadcast (the agg output is small)
    assert join_ix and nodes.index("HashAggregate") < min(join_ix), nodes
    assert "SortMergeJoin" not in nodes, nodes


def test_returned_revenue_broadcasts_nation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q97_returned_revenue")
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan_nodes(plan)
    assert any("l_returnflag" in p for p in pushed_filters(plan)), plan[:2000]


def test_idle_rich_customers_anti_join_no_divide(spark, sf_dir):
    """q98 (TPC-H Q22 shape): 1-row stats broadcast + left_anti; the
    above-average predicate is multiplicative so the plan must contain
    no decimal division (CheckOverflow wraps every decimal op)."""
    plan = _plan(spark, sf_dir, "q98_idle_rich_customers")
    assert has(plan, "LeftAnti"), plan_nodes(plan)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# ------------------------------------------ corpus-prep operators (q88+)

def test_corpus_map_ops_are_shuffle_free(spark, sf_dir):
    """q88 redaction / q89 repetition / q90 sampling are pure
    projections+filters: zero exchanges end to end."""
    for name in (
        "q88_pii_redaction",
        "q89_repetition_filter",
        "q90_stratified_sample",
    ):
        plan = _plan(spark, sf_dir, name)
        assert count_nodes(plan, "Exchange") == 0, (name, plan_nodes(plan))


def test_training_order_limit_is_top_k(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q91_training_order")
    assert has(plan, "TakeOrderedAndProject"), plan_nodes(plan)


def test_sequence_packing_single_shuffle(spark, sf_dir):
    """q92: the (lang, shard) window partitioning must be REUSED by the
    (lang, shard, seq_id) aggregate — hash(l,s) satisfies clustering on
    (l,s,seq), so the whole pack is one exchange."""
    plan = _plan(spark, sf_dir, "q92_sequence_packing")
    assert count_nodes(plan, "Exchange") == 1, plan_nodes(plan)


def test_stratified_topn_uses_group_limit(spark, sf_dir):
    """q103: rank<=k must push WindowGroupLimit so each task top-ks
    locally before the stratum shuffle."""
    plan = _plan(spark, sf_dir, "q103_stratified_topn")
    assert has(plan, "WindowGroupLimit"), plan_nodes(plan)


def test_retrieval_topk_short_circuits(spark, sf_dir):
    """Both retrieval legs must plan top-k as TakeOrderedAndProject (no
    global sort), and the hybrid fusion keeps BOTH legs that way."""
    for name, want in (
        ("q105_semantic_retrieval", 1),
        ("q106_bm25_retrieval", 1),
        ("q107_hybrid_rrf", 2),
    ):
        plan = _plan(spark, sf_dir, name)
        assert count_nodes(plan, "TakeOrderedAndProject") == want, (
            name,
            plan_nodes(plan),
        )


def test_entropy_agg_is_partial_then_final(spark, sf_dir):
    """Both groupBys of the entropy filter must partial-aggregate
    map-side (4 HashAggregates: partial+final x 2 levels)."""
    plan = _plan(spark, sf_dir, "q108_token_entropy")
    assert count_nodes(plan, "HashAggregate") >= 4, plan_nodes(plan)
    assert not has(plan, "SortMergeJoin")


def test_source_overlap_reuses_persisted_shingles(spark, sf_dir):
    """The shingle pass must be persisted and reused (no triple scan),
    per-source totals must broadcast into the pair table."""
    plan = _plan(spark, sf_dir, "q109_source_overlap")
    assert has(plan, "InMemoryRelation"), "shingle pass not persisted"
    assert count_nodes(plan, "BroadcastHashJoin") == 2, plan_nodes(plan)


def test_perplexity_lm_tables_reuse_bigram_pass(spark, sf_dir):
    """LM count tables and scoring must all read the ONE persisted
    (doc,bigram,count) relation; context/vocab dims broadcast."""
    plan = _plan(spark, sf_dir, "q110_perplexity_filter")
    assert has(plan, "InMemoryRelation"), "bigram pass not persisted"
    assert count_nodes(plan, "BroadcastExchange") >= 2, plan_nodes(plan)


def test_gap_fill_collapses_events_before_join(spark, sf_dir):
    """The raw events table must reduce to hourly partial aggregates
    before any join — the spine join runs on the REDUCED table."""
    plan = _plan(spark, sf_dir, "q111_gap_fill")
    assert count_nodes(plan, "HashAggregate") >= 2, plan_nodes(plan)
    # the spine is generated (explode of sequence), not shuffled in
    assert has(plan, "Generate"), plan_nodes(plan)


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """The salted join must key on (k, salt) — both exchanges carry the
    salt — and the dim side must show the x8 replication Generate."""
    plan = _plan(spark, sf_dir, "q112_salted_join")
    assert has(plan, "Generate"), "dim-side salt replication missing"
    assert "salt" in plan, plan[:1500]


def test_scd2_single_exchange(spark, sf_dir):
    """q113: one shuffle (user_id) feeds the lead() window — nothing else."""
    plan = _plan(spark, sf_dir, "q113_scd2_dimension")
    assert count_nodes(plan, "Exchange") == 1, plan_nodes(plan)
    assert has(plan, "Window")


def test_snapshot_compaction_partial_agg_no_window(spark, sf_dir):
    """q114: struct-max aggregates partially before the shuffle and plans
    NO window sort (the whole point vs the row_number form)."""
    plan = _plan(spark, sf_dir, "q114_cdc_snapshot")
    assert "partial_max" in plan, plan[:2000]
    assert not has(plan, "Window"), plan_nodes(plan)
    assert count_nodes(plan, "Exchange") == 1, plan_nodes(plan)


def test_chunking_is_generate_only(spark, sf_dir):
    """q115: chunking is scan → generate → project; zero exchanges."""
    plan = _plan(spark, sf_dir, "q115_doc_chunking")
    assert count_nodes(plan, "Exchange") == 0, plan_nodes(plan)
    assert has(plan, "Generate")


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """q118: the join over bucketed tables must not shuffle either side
    (the aggregation after it may)."""
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.operators.bucketing import write_bucketed
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
    write_bucketed(t["orders"].select("o_custkey", "o_totalprice"), "tp_orders_b", "o_custkey")
    write_bucketed(t["customer"].select("c_custkey", "c_mktsegment"), "tp_customer_b", "c_custkey")
    j = spark.table("tp_orders_b").join(
        spark.table("tp_customer_b"), F.col("o_custkey") == F.col("c_custkey")
    )
    plan = formatted_plan(j)
    assert count_nodes(plan, "Exchange") == 0, plan_nodes(plan)


def test_rolling_active_users_aggregates_presence_first(spark, sf_dir):
    """q120: the raw-event pass collapses to distinct (user, day) BEFORE
    the window explode — the explode factor applies to presences, not
    events (the plan shows the distinct aggregate below the Generate)."""
    plan = _plan(spark, sf_dir, "q120_rolling_active_users")
    gen = plan.find("Generate")
    assert gen != -1
    assert has(plan[gen:], "HashAggregate"), "no presence dedup below the explode"


def test_partition_prune_reaches_scan(spark, sf_dir):
    """q133's single-day read must carry a PartitionFilter on day (the
    pruned scan is the whole point of the partitioned write)."""
    import re

    plan = _plan(spark, sf_dir, "q133_partition_prune")
    m = re.findall(r"PartitionFilters: \[[^\]]*day[^\]]*\]", plan)
    assert m, plan[:2000]


def test_ivf_partition_prune_reaches_scan(spark, sf_dir):
    """q135: the probed-cell read must carry a PartitionFilter on cell —
    the persisted-IVF layout only pays off if the scan skips the other
    ~8/10ths of the index directories."""
    import re

    plan = _plan(spark, sf_dir, "q135_ivf_partition_scan")
    m = re.findall(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert m, plan[:2000]


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """q136: with the scoped skew confs, AQE's OptimizeSkewedJoin must
    actually fire on the 80%-hot key (SortMergeJoin(skew=true) in the
    final adaptive plan) and the result must equal the plain join.

    The hot partition is ~800 rows at sf0.001, and its shuffled bytes
    depend on the mapper count (defaultParallelism): on 4 cores they
    stay under q136's 8k floor. The test pins a 2k floor so the split
    happens on any core count."""
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.operators import skew
    from mapr_db_cdc_sample_spark.session import scoped_confs

    confs = {
        **skew.AQE_SKEW_CONFS,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
    }

    t = load_tables(spark, sf_dir)
    plain = {
        tuple(r)
        for r in skew.skewed_segment_rollup(t["events"], t["customer"]).collect()
    }
    with scoped_confs(spark, confs):
        df = skew.skewed_segment_rollup(t["events"], t["customer"])
        split = {tuple(r) for r in df.collect()}
        executed = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in executed, executed[:3000]
    assert split == plain


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """q138: under the scoped confs, InjectRuntimeFilter must push a
    might_contain(bloom) predicate onto the lineitem side — the runtime
    semi-join reduction — and the result must equal the plain join."""
    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.queries.relational import (
        BLOOM_JOIN_CONFS,
        bloom_pruned_join,
    )
    from mapr_db_cdc_sample_spark.session import scoped_confs

    t = load_tables(spark, sf_dir)
    plain = {tuple(r) for r in bloom_pruned_join(t["lineitem"], t["orders"]).collect()}
    with scoped_confs(spark, BLOOM_JOIN_CONFS):
        df = bloom_pruned_join(t["lineitem"], t["orders"])
        filtered = {tuple(r) for r in df.collect()}
        executed = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in executed, executed[:3000]
    assert "bloom_filter_agg" in executed
    assert filtered == plain


def test_zonemap_prunes_files(spark, sf_dir):
    """q139: the manifest must select a strict subset of files for a
    subset range, and the pruned scan + residual filter must equal the
    full-table filter exactly."""
    from pyspark.sql import functions as F

    from mapr_db_cdc_sample_spark.io import load_tables
    from mapr_db_cdc_sample_spark.operators.zonemap import (
        build_manifest,
        pruned_scan,
        write_clustered,
    )
    from mapr_db_cdc_sample_spark.scratch import scratch_dir

    ev = load_tables(spark, sf_dir)["events"]
    path = scratch_dir("zm_test")
    write_clustered(ev, path, "event_id", 16)
    manifest = build_manifest(spark, path, ["event_id"])
    df, n_sel, n_tot = pruned_scan(spark, manifest, [(250, 499)])
    assert 0 < n_sel < n_tot, (n_sel, n_tot)
    pruned = sorted(
        tuple(r) for r in df.where(F.col("event_id").between(250, 499)).collect()
    )
    full = sorted(
        tuple(r) for r in ev.where(F.col("event_id").between(250, 499)).collect()
    )
    assert len(pruned) == len(full)
    assert {r[0] for r in pruned} == {r[0] for r in full}


# ---------------------------------------------- round-4 analytics surface


def test_weighted_sample_is_topk_no_shuffle(spark, sf_dir):
    # q155: global top-k by priority must be TakeOrderedAndProject (per-
    # partition top-k + driver merge), never a full sort shuffle.
    plan = _plan(spark, sf_dir, "q155_weighted_sample")
    assert has(plan, "TakeOrderedAndProject"), plan[:1500]
    assert not has(plan, "Exchange"), "weighted sample shuffled the corpus"


def test_zscore_stats_broadcast(spark, sf_dir):
    # q154: the 3-row per-group stats table joins back via broadcast.
    plan = _plan(spark, sf_dir, "q154_zscore_outliers")
    assert has(plan, "BroadcastHashJoin"), plan_nodes(plan)
    assert not has(plan, "SortMergeJoin")


def test_pagerank_iterations_broadcast_ranks(spark, sf_dir):
    # q160: each of the 3 iterations = 2 broadcasts (ranks, degrees) onto
    # the checkpointed edge list + exactly one groupBy(dst) shuffle.
    from mapr_db_cdc_sample_spark.queries import load_all

    df = load_all()["q160_pagerank"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_nodes(plan, "BroadcastHashJoin") == 6, plan_nodes(plan)
    assert not has(plan, "SortMergeJoin")


def test_bpe_token_count_single_scan_partial_agg(spark, sf_dir):
    # q156: tokenization runs map-side into a partial+final aggregate;
    # only text/source are read.
    plan = _plan(spark, sf_dir, "q156_bpe_token_count")
    assert count_nodes(plan, "HashAggregate") >= 2
    schemas = read_schemas(plan)
    assert schemas and all("doc_id" not in s for s in schemas), schemas


def test_spatial_join_no_cartesian(spark, sf_dir):
    # q186: the radius join must go through the grid-cell equi-join —
    # never a cartesian/nested-loop product.
    plan = _plan(spark, sf_dir, "q186_spatial_join")
    assert not has(plan, "CartesianProduct"), plan_nodes(plan)
    assert not has(plan, "BroadcastNestedLoopJoin"), plan_nodes(plan)


def test_cooccurrence_marginals_broadcast(spark, sf_dir):
    # q199: the item marginals join back via broadcast (the pair table is
    # the only large side).
    plan = _plan(spark, sf_dir, "q199_item_cooccurrence")
    assert count_nodes(plan, "BroadcastHashJoin") >= 2, plan_nodes(plan)


def test_streaks_single_window_no_joins(spark, sf_dir):
    # q210: gaps-and-islands is window algebra — no join anywhere.
    plan = _plan(spark, sf_dir, "q210_activity_streaks")
    assert not has(plan, "Join"), plan_nodes(plan)
    assert has(plan, "Window"), plan_nodes(plan)


def test_fingerprint_single_scan_no_joins(spark, sf_dir):
    # q191: one map pass + one scalar aggregate; a join or second scan
    # would break the "cheap equality check" contract.
    plan = _plan(spark, sf_dir, "q191_table_fingerprint")
    assert not has(plan, "Join"), plan_nodes(plan)
    assert count_nodes(plan, "Exchange") == 1, plan_nodes(plan)


def _sp_subtrees_all_collapsed(plan):
    from mapr_db_cdc_sample_spark.plans.audit import single_partition_subtrees

    subtrees = single_partition_subtrees(plan)
    assert subtrees, "expected at least one single-partition window"
    for ops in subtrees:
        assert any("Aggregate" in op for op in ops), (
            f"SinglePartition exchange fed by un-aggregated volume: {ops}"
        )


def test_auc_never_sorts_event_volume(spark, sf_dir):
    """q207 (round-4 verdict #3): the Mann-Whitney rank-sum must come
    from the score histogram — every single-partition exchange sits
    above a HashAggregate, so the global sort only ever sees |distinct
    scores| rows, never the event table."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q207_auc_ranksum"))


def test_lift_table_never_sorts_event_volume(spark, sf_dir):
    """q206 (round-4 verdict #4): decile boundaries come from the
    cumulative score histogram plus a broadcast probe of the <=10
    boundary tie groups; no ntile over event volume."""
    plan = _plan(spark, sf_dir, "q206_lift_table")
    _sp_subtrees_all_collapsed(plan)
    assert "ntile" not in plan


def test_rfm_single_shared_sort(spark, sf_dir):
    """q201: the three quartile ntiles run over the per-customer
    aggregate through ONE single-partition exchange feeding the window
    stack (round-4 verdict #6) — and that exchange sits above the
    customer-level HashAggregate, never raw orders."""
    plan = _plan(spark, sf_dir, "q201_rfm_segments")
    _sp_subtrees_all_collapsed(plan)
    assert count_nodes(plan, "Exchange") <= 4, plan_nodes(plan)


def test_woe_and_calibration_never_sort_event_volume(spark, sf_dir):
    """q241/q242 ride the same exact-ntile machinery as q206 — keep the
    no-global-sort property pinned for every consumer of
    operators/quantiles.exact_ntile_counts."""
    for name in ("q241_woe_binning", "q242_calibration_curve"):
        plan = _plan(spark, sf_dir, name)
        _sp_subtrees_all_collapsed(plan)
        assert "ntile" not in plan


def test_pit_join_no_range_join(spark, sf_dir):
    """q249: point-in-time features come from the union-and-carry-forward
    window — the plan must contain NO non-equi join (the naive per-event
    range join plans as BroadcastNestedLoopJoin/CartesianProduct)."""
    plan = _plan(spark, sf_dir, "q249_pit_feature_join")
    assert not has(plan, "BroadcastNestedLoopJoin"), plan_nodes(plan)
    assert not has(plan, "CartesianProduct"), plan_nodes(plan)


def test_ks_cdf_never_sorts_value_volume(spark, sf_dir):
    """q257: the CDF prefix sum is bucket-decomposed — every
    single-partition exchange sits above an aggregate (bucket frame or
    final scalar), so no global sort ever sees the per-value frame."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q257_ks_statistic"))


def test_anova_window_is_aggregate_sized(spark, sf_dir):
    """q258: the ordered between-group accumulation runs over the 5-row
    region aggregate, never the order volume."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q258_anova_f"))


def test_cumulative_distinct_aggregates_first(spark, sf_dir):
    """q256: the running-total window sees the |days| frame (post
    first-seen aggregation), not events."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q256_cumulative_distinct"))


def test_char_chunking_is_generate_only(spark, sf_dir):
    """q251: scan -> generate -> project; the only exchange is the
    presentation sort's range partitioning."""
    plan = _plan(spark, sf_dir, "q251_char_chunking")
    assert has(plan, "Generate")
    assert count_nodes(plan, "HashAggregate") == 0, plan_nodes(plan)
    assert count_nodes(plan, "SortMergeJoin") == 0, plan_nodes(plan)


def test_hard_negatives_broadcast_queries(spark, sf_dir):
    """q254: the query side is a broadcast (non-equi label constraint ->
    BroadcastNestedLoopJoin with the TINY query frame broadcast); the
    corpus is never shuffled for the join."""
    plan = _plan(spark, sf_dir, "q254_hard_negatives")
    assert has(plan, "BroadcastNestedLoopJoin"), plan_nodes(plan)
    assert not has(plan, "CartesianProduct"), plan_nodes(plan)
    assert not has(plan, "SortMergeJoin"), plan_nodes(plan)


def test_abandonment_is_join_free(spark, sf_dir):
    """q261: the 7-day absence check is one descending window — the plan
    must contain no join at all (the naive form is a per-user quadratic
    clicks x purchases self-join)."""
    plan = _plan(spark, sf_dir, "q261_abandoned_clicks")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct", "ShuffledHashJoin"):
        assert not has(plan, node), plan_nodes(plan)


def test_source_sketch_single_shingle_pass(spark, sf_dir):
    """q263: source sketches come from ONE shingle scan (no per-doc
    signature materialization) and the pairwise stage broadcasts."""
    plan = _plan(spark, sf_dir, "q263_source_sketch_overlap")
    n_scans = sum(1 for n in plan_nodes(plan) if n.startswith("Scan"))
    assert n_scans <= 2, plan_nodes(plan)  # sig side + broadcast side
    assert has(plan, "BroadcastNestedLoopJoin") or has(plan, "BroadcastHashJoin"), (
        plan_nodes(plan)
    )


def test_lateral_topk_decorrelates(spark, sf_dir):
    """q265: the correlated LATERAL (ORDER BY+LIMIT) must decorrelate
    into per-group-limit machinery — WindowGroupLimit + a broadcast
    equi-join, never a nested-loop per dim row."""
    plan = _plan(spark, sf_dir, "q265_lateral_topk")
    assert has(plan, "WindowGroupLimit"), plan_nodes(plan)
    assert has(plan, "BroadcastHashJoin"), plan_nodes(plan)
    assert not has(plan, "BroadcastNestedLoopJoin"), plan_nodes(plan)
    assert not has(plan, "CartesianProduct"), plan_nodes(plan)


def test_quantile_normalize_no_global_sort(spark, sf_dir):
    """q274: CDF windows are PARTITIONED by source over pre-aggregated
    (source, len) groups and the presentation sort is range-partitioned
    — the plan contains NO single-partition exchange at all."""
    from mapr_db_cdc_sample_spark.plans.audit import single_partition_subtrees

    plan = _plan(spark, sf_dir, "q274_quantile_normalize")
    assert single_partition_subtrees(plan) == [], plan[:2000]


def test_gram_matrix_partial_agg_above_arrow(spark, sf_dir):
    """q275: the mapInPandas stage emits 2080-row partials per batch and
    the merging sum must be a partial (map-side combinable) aggregate —
    the shuffle carries |partitions|x2080 rows, not |vectors|x4096."""
    plan = _plan(spark, sf_dir, "q275_gram_matrix")
    assert has(plan, "MapInPandas"), plan[:1500]
    assert "partial_sum" in plan or "Partial" in plan, plan[:2000]


def test_acf_windows_sit_above_daily_aggregate(spark, sf_dir):
    """q270: the one ordered LAG window runs over the |days| aggregate,
    never order volume."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q270_autocorrelation"))


def test_bollinger_window_sits_above_daily_aggregate(spark, sf_dir):
    """q271: same rule for the rolling-band window."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q271_bollinger_breakout"))


def test_inverted_index_rank_limit_pushed(spark, sf_dir):
    """q305: the first-20 posting cut must run as WindowGroupLimit
    BEFORE the collect — no unbounded posting list materializes."""
    plan = _plan(spark, sf_dir, "q305_inverted_index")
    assert has(plan, "WindowGroupLimit"), plan_nodes(plan)


def test_spearman_never_sorts_fact_table(spark, sf_dir):
    """q312: doubled centered ranks come off bounded VALUE histograms —
    the plan's windows run over the tiny distinct-value frames, so no
    sort of lineitem volume exists (every Sort sits above an
    aggregate)."""
    plan = _plan(spark, sf_dir, "q312_spearman_rank")
    # the fact table is touched by ONE partial aggregate (pair counts)
    assert count_nodes(plan, "HashAggregate") >= 2, plan_nodes(plan)
    # windows only above aggregated frames: in the leaf-first formatted
    # plan, the first aggregate must appear BEFORE the first window
    first_agg = plan.find("HashAggregate")
    first_window = plan.find("Window")
    assert first_agg != -1, plan_nodes(plan)
    assert first_window == -1 or first_agg < first_window, plan[:2500]


def test_decision_stump_collapses_before_cumulative(spark, sf_dir):
    """q301: orders collapse to <=64 bucket rows in one partial
    aggregate; the cumulative/gain stage runs on the bucket frame."""
    plan = _plan(spark, sf_dir, "q301_decision_stump")
    assert count_nodes(plan, "HashAggregate") >= 2, plan_nodes(plan)
    assert pushed_filters(plan) is not None


def test_linear_interpolation_backward_walk_is_running_frame(spark, sf_dir):
    """q338: the backward bracket walk must be the DESCENDING running
    frame — a (0, unboundedFollowing) frame re-scans the tail per row
    (O(rows^2) per partition, measured 11s vs 4.6s at sf0.1)."""
    plan = _plan(spark, sf_dir, "q338_linear_interpolation")
    assert "unboundedfollowing" not in plan.lower(), plan[:2500]


def test_fifo_interval_join_is_part_keyed(spark, sf_dir):
    """q337: the lot-sale intersection joins on part equality (plus
    range predicates) — a SortMergeJoin/ShuffledHashJoin keyed by part,
    never a cartesian."""
    plan = _plan(spark, sf_dir, "q337_fifo_cogs")
    assert not has(plan, "CartesianProduct"), plan_nodes(plan)


def test_ap_never_sorts_event_volume(spark, sf_dir):
    """q368 average precision inherits q207's posture: global rank
    offsets come from the score VALUE histogram, so every
    single-partition exchange sits above a HashAggregate — the only
    event-volume shuffle is the hash partition BY score for the
    tie-group windows, never a global sort."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q368_average_precision"))


def test_best_f1_sweep_on_histogram_only(spark, sf_dir):
    """q369: the threshold sweep's running sums window over |distinct
    scores| rows — single-partition exchanges all above aggregates."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q369_best_f1"))


def test_psi_bins_broadcast_no_fact_sort(spark, sf_dir):
    """q372: decile edges come from the reference VALUE histogram and
    reach the bin assignment as a broadcast array — the two fact scans
    (ref + cur) are binned map-side with no single-partition pass over
    order volume."""
    _sp_subtrees_all_collapsed(_plan(spark, sf_dir, "q372_psi_stability"))


def test_velocity_alerts_no_global_sort(spark, sf_dir):
    """q396: the trailing-24h RANGE window is keyed by user_id — event
    volume shuffles by key only, the top-15 is a TakeOrderedAndProject,
    and NO single-partition exchange exists anywhere in the plan."""
    from mapr_db_cdc_sample_spark.plans.audit import single_partition_subtrees

    plan = _plan(spark, sf_dir, "q396_velocity_alerts")
    assert not single_partition_subtrees(plan), plan_nodes(plan)
    assert has(plan, "TakeOrderedAndProject"), plan_nodes(plan)


def test_association_rules_dims_broadcast(spark, sf_dir):
    """q405: single-item supports and the basket count reach the rule
    assembly as broadcasts — the only non-broadcast join is the basket
    self-join on the order key."""
    plan = _plan(spark, sf_dir, "q405_association_rules")
    assert count_nodes(plan, "BroadcastHashJoin") >= 2, plan_nodes(plan)
    assert count_nodes(plan, "BroadcastNestedLoopJoin") >= 1  # 1-row n frame


def test_hhi_supplier_dim_broadcast(spark, sf_dir):
    """q414: the supplier dimension joins broadcast; lineitem shuffles
    once for the (nation, supp) aggregate."""
    plan = _plan(spark, sf_dir, "q414_hhi_concentration")
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan_nodes(plan)
    assert not has(plan, "SortMergeJoin"), plan_nodes(plan)


def test_plan_fingerprints_match_baseline(spark):
    """Round-7 verdict task 6: the committed PLAN_FP.json pins the
    normalized physical-plan fingerprint of the top-20 most expensive
    benched queries. A timing shift with an unchanged fingerprint is box
    noise; a CHANGED fingerprint here means the plan itself moved (lost
    broadcast, new exchange) — refresh the baseline via tools/planfp.py
    only when the query's implementation intentionally changed, and say
    so in the commit message."""
    import json
    import os

    from mapr_db_cdc_sample_spark.plans.audit import plan_fingerprint
    from mapr_db_cdc_sample_spark.queries import load_all

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLAN_FP.json")) as f:
        baseline = json.load(f)
    registry = load_all()
    sf_dir = baseline["sf_dir"]
    changed = {}
    for name, want in baseline["fingerprints"].items():
        got = plan_fingerprint(registry[name].fn(spark, sf_dir))
        if got != want:
            changed[name] = (want, got)
    assert not changed, (
        f"plan fingerprints changed (intentional? refresh via tools/planfp.py): {changed}"
    )


def test_dpp_prunes_partitioned_fact(spark, sf_dir):
    """q431: the partitioned fact scan must carry a dynamic-partition-
    pruning subquery driven by the dim side's runtime top-2 filter —
    the star-schema execution shape the layout exists for."""
    plan = _plan(spark, sf_dir, "q431_dpp_prune")
    assert "dynamicpruningexpression" in plan.lower(), plan_nodes(plan)


def test_epoch_shuffle_window_group_limit(spark, sf_dir):
    """q425: the per-epoch rn <= 8 filter must reach the window as a
    WindowGroupLimit so no epoch's full permutation is ever sorted."""
    plan = _plan(spark, sf_dir, "q425_epoch_shuffle")
    assert has(plan, "WindowGroupLimit"), plan_nodes(plan)


def test_batching_single_partition_only_above_histogram(spark, sf_dir):
    """q420: the only single-partition subtree sits above the length
    HISTOGRAM aggregate (the q206 exact-positional rule) — document
    volume itself is never globally sorted."""
    from mapr_db_cdc_sample_spark.plans.audit import single_partition_subtrees

    plan = _plan(spark, sf_dir, "q420_length_bucket_batching")
    for subtree in single_partition_subtrees(plan):
        assert any("Aggregate" in n for n in subtree), subtree


def test_join_hint_parity_three_strategies(spark, sf_dir):
    """q465's three lanes must actually plan their hinted physical
    strategies — otherwise the parity audit degenerates to running the
    same join three times."""
    plan = _plan(spark, sf_dir, "q465_join_hint_parity")
    assert has(plan, "BroadcastHashJoin"), plan_nodes(plan)
    assert has(plan, "SortMergeJoin"), plan_nodes(plan)
    assert has(plan, "ShuffledHashJoin"), plan_nodes(plan)


def test_leaderboard_window_group_limit(spark, sf_dir):
    """q459's rank<=10 filter must push a WindowGroupLimit below the
    full monthly sort."""
    plan = _plan(spark, sf_dir, "q459_leaderboard_persistence")
    assert has(plan, "WindowGroupLimit"), plan_nodes(plan)


def test_consistent_hash_broadcast_interval_join(spark, sf_dir):
    """q446's ring lookup must be broadcast equi-joins (the interval-
    bucketing form) — no nested-loop, no shuffle of the key side before
    the pair-count aggregate."""
    plan = _plan(spark, sf_dir, "q446_consistent_hash_rebalance")
    assert count_nodes(plan, "BroadcastHashJoin") >= 2, plan_nodes(plan)
    assert not has(plan, "BroadcastNestedLoopJoin"), plan_nodes(plan)


def test_benford_expectation_broadcasts(spark, sf_dir):
    """q483: the 9-row expectation table joins as a broadcast; the scan
    aggregates into <= 9 groups map-side — no SortMergeJoin anywhere."""
    plan = _plan(spark, sf_dir, "q483_benford_audit")
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan_nodes(plan)
    assert not has(plan, "SortMergeJoin"), plan_nodes(plan)


def test_modularity_dims_broadcast(spark, sf_dir):
    """q487: customer/supplier dimensions broadcast into the fact join;
    the nation-matrix stage never sorts volume."""
    plan = _plan(spark, sf_dir, "q487_region_modularity")
    assert count_nodes(plan, "BroadcastHashJoin") >= 2, plan_nodes(plan)


def test_energy_distance_has_no_join(spark, sf_dir):
    """q522: the pairs-free identity means NO join node at all — one
    scan, one histogram aggregate, windows, one final aggregate."""
    plan = _plan(spark, sf_dir, "q522_energy_distance")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                 "CartesianProduct"):
        assert not has(plan, node), plan_nodes(plan)


def test_quantization_audit_range_broadcasts(spark, sf_dir):
    """q493: the 64-row per-dim range frame reaches the error pass as a
    broadcast, not a shuffle join."""
    plan = _plan(spark, sf_dir, "q493_quantization_audit")
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan_nodes(plan)
    assert not has(plan, "SortMergeJoin"), plan_nodes(plan)


def test_markov_matrix_assembly_broadcasts(spark, sf_dir):
    """q533: the 5x5 matrix assembly is all-broadcast (a bare crossJoin
    of two 32-partition frames once produced a 1024-task cartesian)."""
    plan = _plan(spark, sf_dir, "q533_markov_stationary")
    assert not has(plan, "SortMergeJoin"), plan_nodes(plan)
    # cartesian of the two literal frames is fine ONLY if broadcast
    assert count_nodes(plan, "BroadcastHashJoin") >= 1, plan_nodes(plan)


def test_theil_sen_pair_stage_stays_bigint(spark, sf_dir):
    """q292 rework: no DecimalType arithmetic in the pair stage — the
    plan must not contain a decimal(38,0) cast in its projections, and
    the exact `percentile` aggregate is gone."""
    plan = _plan(spark, sf_dir, "q292_theil_sen")
    assert "percentile(" not in plan, "exact percentile agg reappeared"
    assert "decimal(38,0)" not in plan, "decimal pair arithmetic reappeared"


def test_normalize_plan_partition_count_with_nested_parens():
    """ADVICE r10: the partition-count normalization must blank the
    TRAILING count even when the partitioning expression contains a
    parenthesized call with an integer arg — a bare [^)]* stopped at
    the inner ')' and left the real count in the fingerprint."""
    from mapr_db_cdc_sample_spark.plans.audit import normalize_plan

    simple = normalize_plan("hashpartitioning(x#1, 200)")
    assert simple == "hashpartitioning(x#, )", simple
    nested = normalize_plan("hashpartitioning(coalesce(x#1, 0), 200)")
    assert nested == "hashpartitioning(coalesce(x#, 0), )", nested
    nested2 = normalize_plan("rangepartitioning(substring(x#3, 1, 64) ASC, 77)")
    assert nested2 == "rangepartitioning(substring(x#, 1, 64) ASC, )", nested2
    # two plans differing ONLY in the inner literal must NOT collide
    a = normalize_plan("hashpartitioning(coalesce(x#1, 0), 200)")
    b = normalize_plan("hashpartitioning(coalesce(x#1, 7), 200)")
    assert a != b
    # ADVICE r11: Spark wraps double-typed shuffle keys TWO levels deep;
    # the count must still be blanked (one-level regex left it in)
    two = normalize_plan(
        "hashpartitioning(knownfloatingpointnormalized("
        "normalizenanandzero(x#12)), 200)"
    )
    assert two == (
        "hashpartitioning(knownfloatingpointnormalized("
        "normalizenanandzero(x#)), )"
    ), two
    # and with a sibling nested call carrying a literal arg
    three = normalize_plan(
        "rangepartitioning(knownfloatingpointnormalized("
        "normalizenanandzero(round(x#3, 4))) ASC NULLS FIRST, 77)"
    )
    assert three == (
        "rangepartitioning(knownfloatingpointnormalized("
        "normalizenanandzero(round(x#, 4))) ASC NULLS FIRST, )"
    ), three
    # a lone count in CamelCase RoundRobinPartitioning(N) (repartition(n))
    # must be blanked too: the needle is case-insensitive
    rr4 = normalize_plan("Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM")
    rr32 = normalize_plan("Arguments: RoundRobinPartitioning(32), REPARTITION_BY_NUM")
    assert rr4 == rr32 == "Arguments: RoundRobinPartitioning(), REPARTITION_BY_NUM", rr4


def test_normalize_plan_rdd_callsite_is_runtime_independent():
    """r12: the RDD creation call site flips from
    'NativeMethodAccessorImpl.java:0' to '<unknown>:0' once JVM
    reflection inflation replaces the py4j accessor (hundreds of calls
    into a long session) — the physical plan is unchanged, so the
    fingerprint must not move (the r12 pytest-order flake on q294/q276)."""
    from mapr_db_cdc_sample_spark.plans.audit import normalize_plan

    fresh = (
        "Arguments: [u#1, v#2], MapPartitionsRDD[37] at localCheckpoint "
        "at NativeMethodAccessorImpl.java:0, ExistingRDD"
    )
    inflated = (
        "Arguments: [u#5, v#9], MapPartitionsRDD[512] at localCheckpoint "
        "at <unknown>:0, ExistingRDD"
    )
    assert normalize_plan(fresh) == normalize_plan(inflated)


def test_normalize_plan_common_expr_alias_is_session_independent():
    """q294's NULLIF plans a `_common_expr_N` alias whose N is a
    session-global counter: _0 in a fresh session, higher after other
    queries ran. The plan is the same, so the fingerprint must be too."""
    from mapr_db_cdc_sample_spark.plans.audit import normalize_plan

    def plan(n):
        return f"Output [2]: [m#1, (m#1 * 2) AS _common_expr_{n}#7], if ((_common_expr_{n}#7 = 0))"

    assert normalize_plan(plan(0)) == normalize_plan(plan(13))
    assert normalize_plan(plan(0)) != normalize_plan(plan(0).replace("m#1 * 2", "m#1 * 3"))
