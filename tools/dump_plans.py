"""Formatted physical plans of registered queries.

    python tools/dump_plans.py [sf_dir] [name1,name2,...]

With names, prints each named query's plan to stdout. Without, it
regenerates PLANS.md from the headline queries, so plan quality
(pushdown, broadcasts, partial aggs, codegen spans) is reviewable
without running anything.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataingestionengineprocess_spark.session import (  # noqa: E402
    get_spark,
    release_persistent_rdds,
)
from dataingestionengineprocess_spark.queries import all_queries  # noqa: E402

SHOWCASE = [
    # one per family: scan-agg, broadcast join chain, window, top-k,
    # decorrelated subquery, LSH dedup, PPJoin, IVF, pagerank, curation
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "window_keep_latest",
    "topk_per_group",
    "q17_small_qty_revenue",
    "dedup_minhash_lsh",
    # NOT dedup_prefix_filter_jaccard / knn_ivf_ann: those operators
    # intentionally run eager driver work at plan-construction time
    # (cache-and-release, quantizer fit), so "plan without running"
    # doesn't hold for them.
    "dedup_ngram_jaccard",
    "curation_decontaminate",
    "curation_domain_mix",
    # map-only chunk fan-out: the zero-exchange plan is the point
    "curation_chunk_windows",
    # round-2 continuations: single-pass q21 rewrite, sequential-
    # pattern funnel (three min-after aggs, no window over raw
    # events), index-backed incremental admission, and the forward
    # as-of (running-frame carry, no shrinking frame)
    "q21_waiting_suppliers",
    "events_ordered_funnel",
    "dedup_incremental_admission",
    "asof_join_next_purchase",
    # model-prep surface: the zero-exchange classifier pass and the
    # bucket-grid interval overlap join (hash join, no nested loop)
    "text_classifier_score",
    "join_interval_overlap",
    # SCD2 via the keyed as-of carry (union + one shuffle + one
    # in-partition sort) and the map-only JL projection
    "join_scd2_temporal",
    "embedding_random_projection",
    # round-3 additions: hash-checked LSH (single nested-literal plane
    # matrix), the portable MinHash twin, and the unigram-LM scorer's
    # ordered fold. (curation_sequence_packing now checkpoints its
    # distributed shard-offset prefix at build time -- excluded like
    # the other eager queries; its sub-sharded shape is pinned in
    # test_plan_shapes.)
    "knn_lsh_ann",
    "dedup_minhash_portable",
    "text_unigram_logprob",
    # round-4: DSIR's broadcast log-ratio scoring, the single-scan
    # repetition-filter gram build, and the partitioned JDBC readback
    # + broadcast enrich
    "curation_dsir_weights",
    "text_repetition_filters",
    "source_jdbc_roundtrip",
    # round-4 continuation: the single-plan NB fit+score (broadcast
    # model join, ordered fold, argmax window), the map-side bloom
    # membership + broadcast exact verify, the median/MAD gate, and
    # the bigram LM's three broadcast count joins. (The streaming
    # entries drain at build time, so they are excluded like the
    # other eager queries.)
    "ml_naive_bayes_score",
    "join_bloom_prefilter",
    "quality_robust_outliers",
    "text_bigram_lm_logprob",
    # round-4c: the padding-economics bucket rollup (map-only CASE
    # chain + one 7-group agg). (ml_kmeans_portable and the two
    # source round-trips run eager driver/staging work at build time,
    # so they are excluded like the other eager queries; the k-means
    # per-iteration plan shape is pinned in test_plan_shapes.)
    "curation_length_buckets",
    # round-4d: the audience-overlap distinct-then-self-join.
    # (ml_winsorize_robust_mean now checkpoints its grouped_rank
    # layout at build time -- excluded like the other eager queries.)
    # (warehouse_incremental_mv, join_dpp_partitioned_fact,
    # join_bucketed_colocated, ml_source_ablation, and
    # curation_token_budget_select all publish scratch tables or
    # collect bounded state at build time -- excluded like the other
    # eager queries; their shapes are pinned in test_plan_shapes.)
    "events_audience_overlap",
    # round-4e: the broadcast-eval decontamination argmax (struct-max
    # aggregate, no window over the cross product), the join-free
    # Fleiss fan-out, and the carry-forward attribution window.
    # (ml_bradley_terry_portable localCheckpoints its model state at
    # build time -- excluded like the other eager queries; its
    # broadcast solve shape is pinned in test_plan_shapes.)
    "curation_semantic_decontaminate",
    "label_fleiss_consolidation",
    "stat_poisson_bootstrap",
    "gov_k_anonymity_audit",
    "events_attribution_last_touch",
    # round-4f: the grouped-rank AUC (agg below the bounded window;
    # NOTE since round 7 grouped_rank checkpoints + counts its
    # offsets at build time, so this entry's dump runs that bounded
    # eager step -- kept because the final plan's offsets-join
    # strategy is exactly what round 7 changed and is worth reading),
    # the Zipf vocab window, and the single-exchange GRPO normalize.
    # (quality_langid_confusion and text_kl_source_divergence
    # checkpoint their bounded count tables at build time -- excluded
    # like the other eager queries; shapes pinned in test_plan_shapes.)
    "ml_auc_exact",
    "text_zipf_slope",
    "ml_reward_group_normalize",
    "ml_effective_sample_size",
    # round-4g: the two lazy governance queries. (chi2 / MI / source
    # overlap checkpoint their count tables at build time -- excluded
    # like the other eager queries; shapes pinned in test_plan_shapes.)
    "gov_l_diversity_audit",
    "gov_dp_noisy_counts",
    # round-4h: all five checkpoint base tables or grouped_rank
    # layouts at build time -- excluded like the other eager queries;
    # shapes pinned in test_plan_shapes.
    # round-4i: the lazy A/B readout (single pruned scan, join-free).
    # cusum/auprc/ece checkpoint their base tables at build time --
    # excluded; shapes pinned in test_plan_shapes.
    "events_ab_test_analysis",
    # round-4j: the lazy mojibake screen (map-only regexp counts).
    # ml_pca_power_portable collects its covariance at build time --
    # excluded like the other eager queries.
    "text_mojibake_screen",
    # round-4k: the lazy rolling-median window. spatial grid and
    # markov checkpoint/collect at build time -- excluded.
    "window_rolling_median",
    # round-4l: the two lazy single-plan queries (cohort LTV
    # checkpoints its first-order table at build time -- excluded).
    "dedup_url_canonical",
    "quality_cross_field_rules",
    # round-4n: the lazy path miner (ndcg checkpoints at build time)
    "events_path_trigrams",
    # round-4o: the lazy map-only FIM transform
    # (agg_weighted_median now checkpoints its prefix-sum layout at
    # build time -- excluded like the other eager queries; its
    # no-flag-window shape is pinned in test_plan_shapes.)
    "curation_fim_transform",
    # round-4p: both lazy single-plan queries
    "quality_bot_user_screen",
    "orders_backlog_timeseries",
    # round-4y..5k lazy single-plan representatives (checkpointing
    # queries -- concurrency sweep, markov attribution, isotonic,
    # heaps, ks -- run eager work at build time and are excluded)
    "orders_discount_allocation",
    "ml_churn_labels",
    "gov_subject_access_report",
    "window_rolling_slope",
    "quality_fk_orphans",
    "dedup_savings_report",
    "orders_duplicate_payment_screen",
    "supplier_herfindahl_index",
    "part_price_index",
    "scalar_struct_funcs",
    "multimodal_audio_silence",
    # round-6b..6f lazy single-plan representatives. (LPA/modularity,
    # conformal, MMR, binary quantize, kNN classifier, DBSCAN, GMM,
    # RAKE, HITS, facility location, theil-sen, and PPR all
    # checkpoint layouts or collect bounded model state at build
    # time -- excluded like the other eager queries; their shapes
    # are pinned in test_plan_shapes_round6.)
    "ml_shapley_linear",
    "ml_ols_normal_equations",
    "stat_kendall_tau",
    "window_hampel_filter",
]


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ).rstrip()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else []
    spark = get_spark("plan-dump", extra_confs={"spark.ui.enabled": "false"})
    qs = all_queries()
    if names:
        for name in names:
            plan = formatted_plan(qs[name](spark, sf_dir))
            print(f"## {name}\n\n{plan}\n")
            release_persistent_rdds(spark)
        return
    out = [
        "# PLANS — formatted physical plans (generated)",
        "",
        f"Regenerate with `python tools/dump_plans.py` (sf_dir={sf_dir}).",
        "One representative query per operator family; read for",
        "`PushedFilters`/`ReadSchema` (scan-side work), `BroadcastHashJoin`",
        "(dim joins), `partial_*` aggregates (map-side combine), and",
        "WholeStageCodegen spans (JVM-side expressions).",
        "",
    ]
    for name in SHOWCASE:
        plan = formatted_plan(qs[name](spark, sf_dir))
        out += [f"## {name}", "", "```", plan, "```", ""]
    dest = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
