"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (the driver tail-captures stdout, so the line
must stay small -- round 3 lost its bench record to an oversized line):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "n": runs, "sf": ...}
Per-run min/max spread and any detail go to BENCH_DETAIL.json next to this
file, NOT stdout.  The session factory also disables
spark.ui.showConsoleProgress so no \r-framed [Stage ...] noise shares the
channel.

Each query is timed end-to-end (plan + execute + collect-to-driver of the
bounded result), $SPARK_GRAFT_BENCH_N times (default 3, auto-raised to 5
for queries whose first-pass median is >= 3 s -- the expensive queries are
exactly where box contention fakes 2x regressions); ``queries`` holds
per-query MEDIANS, ``value`` their sum, and ``value_min`` the sum of
per-query MINIMA (the contention-robust statistic: a min can't be inflated
by a neighbor process stealing cores).  This box swings +/-10-20% run to
run (CLAUDE.md) and has produced 3.4x min-to-max spreads under contention,
so per-query minima/maxima/samples plus a ``contended`` list (median/min >
1.5, meaning "re-run in isolation before calling this a regression") go to
BENCH_DETAIL.json.  A warmup query first absorbs JVM/session startup so
the numbers reflect engine throughput, not cold-start.

Known deliberate costs and adjudicated drifts: BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from youtubeanalyzerproject_big_data__spark.plans.inspect import stage_metrics
from youtubeanalyzerproject_big_data__spark.session import default_cpus, get_spark

# Headline set: the heavy/representative queries (joins, multi-agg, window,
# graph/PageRank, dedup families, ANN, ALS) — not the trivial filters.
BENCH_QUERIES = [
    "tpch_q1_pricing_summary",
    "q3_revenue_by_customer",
    "q5_revenue_by_nation",
    "a5_order_size_distribution",
    "a7_order_parts_csv",
    "w1_top3_orders_per_priority",
    "w2_user_running_value",
    "e1_events_hourly",
    "e2_sessionize",
    "e3_asof_attribution",
    "g2_part_indegree_top20",
    "d2_ngram_jaccard_pairs",
    "d3_minhash_lsh_pairs",
    "d5_embedding_near_dups",
    "d7_dup_clusters",
    "e5_interval_join_reactions",
    "c1_corpus_curation",
    "km1_kmeans_centroids",
    "s1_ann_bruteforce_top5",
    "s4_ann_pq_top5",
    "s5_ann_ivfpq_top5",
    "g4_pagerank_top100",
    "m1_als_recommendations",
    "t8_unigram_logprob",
    "c3_decontamination",
    "c4_doc_chunks",
    "c5_sequence_packing",
    "w4_rolling_user_value",
    "g6_triangle_census",
    "u1_cdc_merge",
    "f11_funnel_counts",
    "a14_heavy_hitters_gate",
    "g7_personalized_pagerank",
    "s6_ann_refined_top5",
    # round 4 additions
    "d6_duplicated_span_removal",
    "c7_training_shuffle",
    # round 5 additions
    "d10_semantic_dedup",
    "d11_segment_dedup",
    "ds1_dsir_importance_select",
    "t15_pmi_collocations",
    "g8_khop_reachability",
    "u3_scd2_history",
    "lp1_label_propagation",
    "mm5_phash_near_dups",
    "g9_adamic_adar",
    "e12_rfm_segments",
    "c10_rule_filter",
    "g10_clustering_coefficient",
    "tpch_q18_big_orders",
    # round 6 additions
    "tpch_q4_late_orders",
    "tpch_q13_custdist",
    "tpch_q7_nation_volume",
    "tpch_q10_returned_items",
    "t21_repetition_score",
    "t22_bigram_novelty",
    "e14_out_of_order_audit",
    "mm7_avi_frame_samples",
    "g5_pagerank_cyclic_top100",  # shares the prepared-edge handle with g7
    "g12_copurchase_capped",
    "em6_scalar_quantization",
    "dq4_profile_drift",
    "l5_zonemap_skip_report",
    "i3_incremental_kmv",
    "w7_value_windows",
    "m5_decision_stump",
    "u6_partition_refresh",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_bracket_revenue",
    "mm8_bmp_box_downsample",
    "a23_count_min_gate",
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q11_important_parts",
    "tpch_q12_latency_priority",
    "tpch_q16_supplier_count",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "u7_pit_lookup",
    "e15_gap_fill",
    "g13_kcore",
    "mm9_frame_dedup",
    "g14_weighted_paths",
    "a25_kmv_set_ops",
    "d14_sorted_neighborhood",
    "l6_bucketed_join",
    "l7_partition_pruning",
    "v3_schema_evolution",
    "u8_forget_cascade",
    "a26_quantile_merge_gate",
    "s8_hybrid_rrf",
    "d15_dedup_keep_best",
    "e16_cumulative_uniques",
    "dq5_quarantine",
    "em7_truncated_dim_recall",
    "g15_hits_top20",
    "t23_dup_ngram_fraction",
    "m6_auc_gate",
    "m7_pr_curve",
    "e17_seasonal_backtest",
    "v4_csv_roundtrip",
    "v5_export_manifest",
    # round 6, final batch
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "e18_acf_gate",
    "v6_orc_roundtrip",
    "m8_naive_bayes_confusion",
    "c15_pipeline_e2e",
]


# Deterministic stdout subset: exactly the 47 queries the r10 record
# printed (BENCH_r10.json parsed.queries), so PERF round-over-round diffs
# see a stable set -- no phantom dropped_from_bench/new_in_bench entries
# from boot-noise reordering (VERDICT r10 item 6).  These are the heavy
# queries (everything >= ~1.5 s at sf0.1); adding a query here is a REAL
# membership change and should be called out in the round notes.
STDOUT_QUERIES = [
    "c1_corpus_curation",
    "g15_hits_top20",
    "g7_personalized_pagerank",
    "g10_clustering_coefficient",
    "g13_kcore",
    "g12_copurchase_capped",
    "g5_pagerank_cyclic_top100",
    "lp1_label_propagation",
    "d15_dedup_keep_best",
    "g6_triangle_census",
    "d7_dup_clusters",
    "tpch_q1_pricing_summary",
    "m1_als_recommendations",
    "g8_khop_reachability",
    "g4_pagerank_top100",
    "d2_ngram_jaccard_pairs",
    "g9_adamic_adar",
    "d3_minhash_lsh_pairs",
    "g14_weighted_paths",
    "d6_duplicated_span_removal",
    "d10_semantic_dedup",
    "q5_revenue_by_nation",
    "a26_quantile_merge_gate",
    "ds1_dsir_importance_select",
    "l6_bucketed_join",
    "q3_revenue_by_customer",
    "s6_ann_refined_top5",
    "tpch_q21_waiting_suppliers",
    "mm8_bmp_box_downsample",
    "a7_order_parts_csv",
    "d14_sorted_neighborhood",
    "d11_segment_dedup",
    "c3_decontamination",
    "l7_partition_pruning",
    "tpch_q14_promo_effect",
    "mm7_avi_frame_samples",
    "w7_value_windows",
    "u3_scd2_history",
    "u7_pit_lookup",
    "u1_cdc_merge",
    "u8_forget_cascade",
    "mm5_phash_near_dups",
    "t8_unigram_logprob",
    "s8_hybrid_rrf",
    "tpch_q8_market_share",
    "m6_auc_gate",
    "v3_schema_evolution",
]


def stdout_line(headline: dict, timings: dict[str, float], budget: int = 1500) -> str:
    """The one-line JSON record for stdout.

    Round records keep only the trailing 2000 BYTES of combined output
    (measured: BENCH_r06.json tail len == 2000, r6's 110-query line
    ~3.4 KB -> truncated head, "parsed": null).  The stdout line must
    therefore fit that tail WITH slack for any log line that races in
    after it: cap it at ``budget`` bytes.  Membership of the printed
    subset is FIXED (STDOUT_QUERIES) -- the r10 cost-ordered eliding
    made the printed SET depend on boot noise, so every PERF round
    reported phantom dropped_from_bench/new_in_bench churn (VERDICT r10
    item 6).  If the fixed subset ever overflows the
    budget (timings growing a digit), DECIMALS degrade (3 -> 2 -> 1),
    never membership; the 1-decimal render is returned even if it still
    overflows, never the full map.  The full 110-query map with
    3-decimals precision is always in BENCH_DETAIL.json.
    """
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) <= budget:
        return line
    kept = {k: timings[k] for k in STDOUT_QUERIES if k in timings}
    for ndigits in (3, 2, 1):
        line = json.dumps(
            dict(
                headline,
                queries={k: round(v, ndigits) for k, v in kept.items()},
                queries_elided=len(timings) - len(kept),
                detail="BENCH_DETAIL.json",
            ),
            separators=(",", ":"),
        )
        if len(line) <= budget:
            break
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # Warmup: a trivial count absorbs session/JVM startup, and one tiny
    # Arrow UDF over every core pre-spawns the Python workers -- otherwise
    # the first Arrow-heavy query (d2) pays ~8s of worker spin-up in its
    # first sample.
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.functions._arrow_udfs import make_word_ngrams

    qs["a9_distinct_customers"](spark, sf_dir).collect()
    spark.range(256).repartition(default_cpus()).select(
        make_word_ngrams(2)(F.lit("warm up workers")).alias("g")
    ).count()

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    slow_runs = max(n_runs, int(os.environ.get("SPARK_GRAFT_BENCH_N_SLOW", "5")))
    timings: dict[str, float] = {}
    minima: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    shuffle_write: dict[str, int] = {}
    shuffle_read: dict[str, int] = {}
    for name in BENCH_QUERIES:
        samples = []
        # Shuffle volume is the contention-immune cost signal (VERDICT r5
        # item 7): snapshot the AppStatusStore around the FIRST sample only
        # (bytes are deterministic per query; later samples may legally
        # read session caches -- g4/g5/g7's shared edge handle).
        metrics_before = stage_metrics(spark)
        for i in range(n_runs):
            # No clearCache needed: every operator that caches an
            # intermediate (shingles, edges, ratings) releases it before
            # returning (pin-result-then-unpersist pattern), so runs are
            # isolated by construction.  One deliberate exception: g4/g5/g7
            # share a session-scoped prepared weighted-edge handle
            # (entrymod._prepared_pagerank_edges) -- reusing that build IS
            # the measured design, not cross-run leakage.
            t0 = time.time()
            rows = qs[name](spark, sf_dir).collect()
            samples.append(time.time() - t0)
            assert rows is not None
            if i == 0:
                metrics_after = stage_metrics(spark)
                shuffle_write[name] = max(0, metrics_after["shuffle_write_bytes"] - metrics_before["shuffle_write_bytes"])
                shuffle_read[name] = max(0, metrics_after["shuffle_read_bytes"] - metrics_before["shuffle_read_bytes"])
        # Expensive queries get extra samples: they dominate the headline
        # total and are where contention noise fakes 2x regressions.
        while statistics.median(samples) >= 3.0 and len(samples) < slow_runs:
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            samples.append(time.time() - t0)
        timings[name] = round(statistics.median(samples), 3)
        minima[name] = round(min(samples), 3)
        all_samples[name] = [round(s, 3) for s in samples]

    contended = sorted(n for n, m in timings.items() if m / max(minima[n], 1e-9) > 1.5)
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    headline = {
        "metric": "headline_queries_total",
        "value": total,
        "value_min": round(sum(minima.values()), 3),
        "unit": "sec",
        "queries": timings,
        "n": n_runs,
        "sf": sf_val,
    }
    # Per-query minima/samples/contended detail would overflow the driver's
    # stdout tail capture (round 3 lost its bench record to exactly that),
    # so it goes to a side file.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                **headline,
                "queries_min": minima,
                "samples": all_samples,
                "contended": contended,
                "contended_note": "median/min > 1.5: box contention suspected -- re-run in isolation before calling a regression",
                "shuffle_write_bytes": shuffle_write,
                "shuffle_read_bytes": shuffle_read,
                "shuffle_note": (
                    "per-query shuffle volume from the first sample's AppStatusStore delta -- "
                    "the contention-immune cost signal: wall-clock noise cannot inflate it, and a "
                    "scale-killer plan regression (edge table re-shuffled per iteration, lost "
                    "broadcast) shows up here as a bytes jump long before sf0.1 timing moves; "
                    "compare round over round alongside the medians"
                ),
            },
            f,
            indent=1,
            sort_keys=True,
        )
    line = stdout_line(headline, timings)
    sys.stdout.flush()
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
