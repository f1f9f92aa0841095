"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing excludes session startup; each query is executed to completion
through the noop sink (`df.write.format("noop")`) — every operator runs,
every row is materialized, but nothing is shipped to the Python driver.
That is the engine-throughput number that scales: a cluster job ends in a
sink write, not a driver collect, and py4j row deserialization was
dominating the timings of queries with large legitimate outputs (q111's
1M-row filled series: 9.1s collect vs 3.0s execution). One warmup pass of
Q01 primes the JVM/codegen caches so numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapr_db_cdc_sample_spark.queries import load_all
from mapr_db_cdc_sample_spark.session import get_spark, release

# Headline set: the scale-sensitive shapes (big aggs, joins, windows,
# set ops, CDC route, LLM ops get added as they land).
HEADLINE = [
    "q01_scan_count",
    "q04_inner_join",
    "q05_broadcast_join",
    "q08_semi_join",
    "q12_asof_join",
    "q13_groupby_agg",
    "q14_count_distinct",
    "q17_cube",
    "q20_collect_list",
    "q21_ranking",
    "q23_frames",
    "q25_topk_per_group",
    "q26_sort_limit",
    "q27_union_all",
    "q31_string_fns",
    "q35_json_fns",
    "q36_subqueries",
    "q41_cdc_route_fts",
    "q37_exact_dedup",
    "q38_cosine_topk",
    "q39_term_freq",
    "q43_minhash_signatures",
    "q44_minhash_lsh_pairs",
    "q45_simhash",
    "q46_ngram_jaccard",
    "q51_embedding_neardup",
    "q52_ann_ivf",
    "q56_multimodal_features",
    "q74_salted_agg",
    "q75_shipping_priority",
    "q76_local_supplier_volume",
    "q88_pii_redaction",
    "q89_repetition_filter",
    "q92_sequence_packing",
    "q93_pricing_summary",
    "q96_large_orders",
    "q97_returned_revenue",
    "q99_decontamination",
    "q100_mixture_weights",
    "q103_stratified_topn",
    "q104_corpus_pipeline",
    "q105_semantic_retrieval",
    "q106_bm25_retrieval",
    "q107_hybrid_rrf",
    "q108_token_entropy",
    "q109_source_overlap",
    "q110_perplexity_filter",
    "q111_gap_fill",
    "q112_salted_join",
    "q77_pivot",
    "q83_kmeans",
    "q85_dedup_corpus",
    "q87_training_corpus",
    "q113_scd2_dimension",
    "q114_cdc_snapshot",
    "q115_doc_chunking",
    "q116_jaccard_estimate",
    "q117_incremental_agg",
    "q118_bucketed_join",
    "q119_asof_tolerance",
    "q120_rolling_active_users",
    "q121_histogram",
    "q122_fuzzy_match",
    "q123_hll_sketch_union",
    "q124_frame_sample",
    "q125_media_resize",
    "q126_python_udtf",
    "q127_embedding_outliers",
    "q128_funnel",
    "q129_supplier_shipped_last",
    "q130_profit_attribution",
    "q131_frequent_itemsets",
    "q132_interval_join",
    "q133_partition_prune",
    "q134_json_source",
    "q135_ivf_partition_scan",
    "q136_aqe_skew_join",
    "q137_session_funnel",
    "q138_runtime_bloom_join",
    "q139_zonemap_prune",
    "q140_order_priority_exists",
    "q141_volume_shipping",
    "q142_market_share",
    "q143_important_stock",
    "q144_customer_distribution",
    "q145_top_supplier",
    "q146_parts_supplier_count",
    "q147_small_qty_revenue",
    "q148_disjunctive_revenue",
    "q149_dominant_supplier",
    "q150_min_cost_supplier",
    "q152_dup_components",
    "q153_column_profile",
    "q154_zscore_outliers",
    "q155_weighted_sample",
    "q156_bpe_token_count",
    "q157_ewma_smooth",
    "q158_bitmap_distinct",
    "q159_csv_source",
    "q160_pagerank",
    "q161_index_dedup",
    "q162_simhash_pairs",
    "q163_snapshot_diff",
    "q164_orc_source",
    "q165_compaction",
    "q166_power_iteration",
    "q167_train_val_test",
    "q168_correlation_matrix",
    "q169_mutual_information",
    "q170_zorder_prune",
    "q171_arrow_udf",
    "q172_observed_metrics",
    "q174_pareto_frontier",
    "q175_schema_evolution",
    "q176_equidepth_histogram",
    "q177_time_weighted_avg",
    "q178_dead_letter_route",
    "q179_incremental_join",
    "q180_percentile_vector",
    "q181_markov_transitions",
    "q182_retention_cohorts",
    "q183_floored_balance",
    "q184_integrity_audit",
    "q185_chi_square",
    "q186_spatial_join",
    "q187_pareto_share",
    "q188_ab_test",
    "q189_ignore_nulls_window",
    "q190_rollup_chain",
    "q191_table_fingerprint",
    "q192_rolling_anomaly",
    "q193_skew_report",
    "q194_ppjoin",
    "q195_minmax_scale",
    "q196_vocab_oov",
    "q197_zero_fill_grid",
    "q198_period_growth",
    "q199_item_cooccurrence",
    "q200_target_encoding",
    "q201_rfm_segments",
    "q202_sequence_match",
    "q203_merkle_diff",
    "q204_late_dim_fallback",
    "q205_max_concurrency",
    "q206_lift_table",
    "q207_auc_ranksum",
    "q208_interval_coverage",
    "q209_mad_outliers",
    "q210_activity_streaks",
    "q211_first_touch",
    "q212_union_by_name",
    "q213_map_rollup",
    "q214_winsorize",
    "q215_srp_lsh_cosine",
    "q216_bounce_rate",
    "q217_time_decay_popularity",
    "q218_topk_other",
    "q219_null_safe_join",
    "q220_text_normalize",
    "q221_idempotent_ingest",
    "q222_order_backlog",
    "q223_frequent_values",
    "q224_literal_map_lookup",
    "q225_dedup_consecutive",
    "q226_weighted_mean",
    "q227_distribution_drift",
    "q228_gini_concentration",
    "q229_triangle_count",
    "q230_ohlc_bars",
    "q231_trend_slope",
    "q232_tfidf_keywords",
    "q233_seasonal_anomaly",
    "q234_benford_profile",
    "q235_kmv_sketch",
    "q236_canonical_selection",
    "q237_p95_of_p95",
    "q238_countmin_heavy_hitters",
    "q239_path_trigrams",
    "q240_conversion_survival",
    "q241_woe_binning",
    "q242_calibration_curve",
    "q244_embedding_dim_profile",
    "q245_scd1_merge_audit",
    "q246_late_data_patch",
    "q247_double_charge",
    "q248_business_day_latency",
    "q249_pit_feature_join",
    "q250_fuzzy_name_match",
    "q251_char_chunking",
    "q252_random_projection",
    "q253_bfs_hops",
    "q254_hard_negatives",
    "q255_passage_dedup",
    "q256_cumulative_distinct",
    "q257_ks_statistic",
    "q258_anova_f",
    "q259_containment_join",
    "q260_mergeable_moments",
    "q261_abandoned_clicks",
    "q262_negative_sampling",
    "q263_source_sketch_overlap",
    "q264_python_datasource",
    "q265_lateral_topk",
    "q266_pipe_sql",
    "q267_collated_groupby",
    "q268_try_arithmetic",
    "q269_ndcg_at_k",
]


def build_payload(
    timings: dict, names: list, total: float, sf_val,
    detail: str = "BENCH_FULL.json", canary: dict | None = None,
) -> str:
    """Serialize the one-line bench summary, guaranteed under the round
    driver's 2000-char stdout tail (greedy-fill in HEADLINE order)."""
    payload = {
        "metric": "headline_query_set_total",
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
        "n_queries": len(timings),
        "detail": detail,
        # r1-r3 ran without cache isolation, so queries sharing a logical
        # subplan (the LSH gram pass feeding q43/q44/q46/q85) reused each
        # other's persisted blocks and timed artificially low, while
        # accumulated stale blocks inflated late-running queries (q109 was
        # 4.5s dirty vs 1.5s isolated). Round-over-round comparisons for
        # the LSH family should expect ~+1.5s of now-visible real work.
        "note": "per-query cache-isolated since r4 (release between queries)",
    }
    if canary is not None:
        # must land BEFORE the greedy query fill so the box-state probe
        # is never dropped from the printed line (r11 task 5: three
        # same-code runs spanned 573-827 s; the canary adjudicates)
        payload["canary"] = canary
    budget = 1800
    for name in names:
        if name not in timings:
            continue
        payload["queries"][name] = timings[name]
        if len(json.dumps(payload, separators=(",", ":"))) > budget:
            del payload["queries"][name]
            break
    return json.dumps(payload, separators=(",", ":"))


def bench_names(registry) -> list:
    """The benched set = every registry entry EXCEPT the
    streaming lane (queries/streamingq.py): those drain bounded streams
    under trigger cadences, so their wall-clock measures trigger
    scheduling, not engine throughput — the streaming latency budget is
    measured separately (tools/latency.py -> LATENCY.json). HEADLINE
    order first (a prefix of prior rounds' sets, keeping maximal
    round-over-round overlap), then the remaining batch entries sorted
    by name."""
    head = [n for n in HEADLINE if n in registry]
    extra = sorted(
        n
        for n, q in registry.items()
        if n not in set(head) and not q.fn.__module__.endswith("streamingq")
    )
    return head + extra


def run_to_completion(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(
    registry, sf_dir: str, names: list, *, runs: int, recycle: int, app: str,
    on_result=lambda name, sec: None,
) -> tuple[dict[str, float], float]:
    """Time each query through the noop sink, in order.

    A session starts warm with Q01 (priming codegen/JIT; a restarted
    session reuses the table schemas `io` inferred in the first one, so
    its set-up starts no schema-inference job); each query's time is
    the min of `runs` runs, its
    cached and pinned blocks are released afterwards
    (`session.release`), and the session restarts every
    `recycle` queries. `on_result(name, sec)` is called as each result
    lands. Returns ({name: sec}, the first session's cold Q01 seconds).

    min-of-N: JIT/GC noise on a shared box dwarfs plan-level
    differences; steady-state is what scales. Session recycling: one
    long-lived JVM accumulates codegen-cache, metaspace and shuffle-dir
    state across hundreds of distinct plans, and late-positioned queries
    absorb it (measured r6: q135 timed 7.1 s at position ~130 of 277 vs
    1.95 s in a fresh session; r10 at sf1: q486 125.7 s in-session vs
    8.2 s fresh), so a query's number reflects its plan, not its
    position."""

    def start():
        spark = get_spark(app)
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        run_to_completion(registry["q01_scan_count"].fn(spark, sf_dir))
        return spark, round(time.perf_counter() - t0, 3)

    spark, cold_s = start()
    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        if i and i % recycle == 0:
            spark.stop()
            spark, _ = start()
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            run_to_completion(registry[name].fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        on_result(name, timings[name])
        # Cached and pinned blocks left behind by a query would build up
        # heap pressure and distort later queries' timings — isolate them.
        release(spark)
    spark.stop()
    return timings, cold_s


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    names = bench_names(registry)
    # Dev smoke only: bound the set so a harness change can be validated
    # end-to-end (incl. the BENCH_FULL write + fingerprint embed) in
    # minutes. Never set for a recorded benchmark run.
    limit = int(os.environ.get("SPARK_GRAFT_BENCH_LIMIT", "0"))
    if limit:
        names = names[:limit]

    # Box-state canary BEFORE any Spark work: the cold-process numbers
    # are what fresh task memory pays on this box right now (the r11
    # bench-spread root cause — see mapr_db_cdc_sample_spark/canary.py).
    from mapr_db_cdc_sample_spark.canary import box_canary

    canary_start = box_canary()
    timings, cold_s = time_queries(
        registry, sf_dir, names, runs=2, recycle=64, app="bench"
    )
    # A cold Q01 that runs far above its steady-state min is the
    # Spark-side face of the box state the canary probes.
    canary_start["q01_cold_s"] = cold_s

    total = round(sum(timings.values()), 3)
    canary_end = box_canary()  # warm-process counterpart for contrast
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Plan fingerprints for the top-20 most expensive queries of THIS
    # run: a timing shift with an UNCHANGED fingerprint is box noise; a
    # changed fingerprint is a plan regression (lost broadcast, new
    # exchange). Baseline: PLAN_FP.json (tools/planfp.py), gated by
    # tests/test_plans.py. Captured in a FRESH session, pre-execution —
    # the same context as the pytest gate: a session that has executed
    # hundreds of plans carries runtime state (e.g. the size statistics
    # of q294's pinned RDD) that can flip a join strategy
    # in the embed while the baseline and the pytest recompute, both
    # fresh-session, agree (round-7 verdict task 3).
    from mapr_db_cdc_sample_spark.plans.audit import plan_fingerprint

    top20 = sorted(timings, key=lambda n: -timings[n])[:20]
    spark = get_spark("bench-planfp")
    spark.sparkContext.setLogLevel("ERROR")
    plan_fp = {n: plan_fingerprint(registry[n].fn(spark, sf_dir)) for n in top20}

    # Full per-query detail goes to a file; the printed line must stay
    # well under 2000 chars because the round driver keeps only the last
    # 2000 chars of stdout (BENCH_r03.json failed to parse when the line
    # with 75 queries overflowed that tail buffer).
    # Round hygiene (round-7 verdict task 8): the driver re-runs bench.py
    # after the round's final commit and used to overwrite the committed
    # BENCH_FULL.json in the working tree. Set SPARK_GRAFT_BENCH_TAG=r8 to
    # write a round-stamped BENCH_FULL_r8.json the driver's plain
    # invocation won't touch; the untagged default stays BENCH_FULL.json.
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "")
    if limit and not tag:
        # A limit-N smoke run must never overwrite the committed headline
        # artifact with partial numbers — divert to a smoke-tagged file.
        tag = "smoke"
    full_name = f"BENCH_FULL_{tag}.json" if tag else "BENCH_FULL.json"
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, full_name), "w") as f:
        json.dump(
            {"metric": "headline_query_set_total", "value": total,
             "unit": "sec", "queries": timings, "sf": sf_val,
             "canary": {"start": canary_start, "end": canary_end},
             "plan_fp": plan_fp},
            f, indent=1,
        )

    # Greedy-fill the printed queries dict in HEADLINE order (a prefix of
    # prior rounds' sets, so round-over-round common-subset comparison
    # keeps maximal overlap) until the serialized line nears the budget.
    print(build_payload(timings, names, total, sf_val, detail=full_name,
                        canary=canary_start))
    spark.stop()


if __name__ == "__main__":
    main()
