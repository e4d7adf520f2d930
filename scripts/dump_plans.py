"""Dump physical plans of registry queries.

Default mode writes PLANS_r{N}.md: the physical plan tree (the part of
``explain("formatted")`` a reviewer scans for exchanges, broadcasts,
codegen spans, and pushdown) for each headline heavyweight at the
given SF.

``--out-dir`` mode writes the FULL ``explain("formatted")`` output of
each named query to ``<dir>/<query>_<tag>.txt`` — captured before and
after a change (tag e.g. "before" / "after") so plan shapes can be
diffed (Exchange count, join strategy, PushedFilters, codegen spans).
Its sf dir comes from $SPARK_GRAFT_SF_DIR; use the bench SF (sf0.1):
plans are shape-stable across SFs, but the bench SF is the one whose
AQE thresholds matter.

Usage: python scripts/dump_plans.py [sf_dir] [out.md]
       python scripts/dump_plans.py --out-dir plans/r13 <tag> <name> [<name> ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sleep_edf_data_pipeline_spark import registry
from sleep_edf_data_pipeline_spark.session import get_spark

PLANNED = [
    "kcore_membership",
    "triangle_counts",
    "ivfpq_residual_topk",
    "ivfpq_topk",
    "minhash_lsh_neardups",
    "ngram_jaccard_neardups",
    "bloom_decontaminate",
    "pq_topk_refined",
    "dsir_importance_weights",
    "kmeans_clusters",
    "semdedup_prune",
    "bm25_topk",
    "ewma_user_value",
    "ohlc_bars",
    "quality_decile_select",
    "twap_user_value",
    "rolling_median_value",
    "source_overlap_matrix",
    "cohort_ltv",
    "key_skew_report",
    "mad_outliers",
    "mad_outliers_approx",
    "audio_features",
    "subject_lookup",
    "volume_shipping",
    # r06 additions: the auto-switch default (exact branch at local
    # scale), the de-JVM'd CMS pipeline, the plan-pinned codec path,
    # and the exact heavy-hitter twin.
    "decontaminate_auto",
    "heavy_hitters_cms",
    "heavy_hitters_exact",
    "multimodal_features",
    "bpe_merge_pairs",
    "bpe_encode_stats",
    "embedding_drift_by_label",
    "bigram_lm_surprisal",
    "hard_negatives",
    "cdc_chunks",
    "token_entropy_by_source",
    # r06 session-2 additions
    "label_propagation_communities",
    "incremental_customer_summary",
    "temperature_mixture_weights",
    "normalize_text_nfc",
    "community_quality",
    "psi_drift_by_source",
    "ks_two_sample",
    "image_dhash_neardups",
    # r06 session-3 addition
    "top_event_paths",
    "pmi_cooccurrence",
    # r06 session-4 additions
    "revenue_trend_ols",
    "acf_user_value",
    "orc_roundtrip_agg",
    "csv_roundtrip_agg",
    "cross_split_leakage",
    "inverted_index_postings",
    "bfs_distances",
    "scd2_customer_priority",
    "link_negative_sampling",
    "classifier_calibration",
    "cusum_changepoint",
    # r07 addition: the PQ ADC search had no dossier tree (refined and
    # the debuts are already listed above)
    "pq_topk_adc",
    "session_window_agg_bucketed",
    "peak_concurrent_sessions",
    "fuzzy_name_dedup_symspell",
    "vocab_growth_curve",
    # r08 debuts
    "url_canonical_dedup",
    "bpe_encode_sample",
    "cdc_dedup_spans",
    "host_dedup_profile",
    # r09 debuts
    "line_dedup_stats",
    "decontaminate_semantic",
    "rrf_fusion",
    "kmeans_silhouette",
    "corpus_keep_verdict",
    # r09 late-batch debuts
    "sq_topk_rescore",
    "sq_recall_eval",
    "readability_scores",
    "ngram_novelty",
    "wordpiece_encode_stats",
    "edge_similarity_scores",
    "zorder_layout_stats",
    "pareto_frontier",
    "chi2_drift_by_source",
    "priority_sample_estimate",
    # r10 debuts
    "intra_doc_dedup",
    "ddsketch_quantiles_price",
    "kcenter_coreset",
    "dedup_cascade_verdict",
    "winsorized_price_stats",
    "quantile_rank_transform",
    "hll_rollup_distinct",
    "cum_distinct_users",
    "vocab_coverage_curve",
    "asof_next_conversion",
    "hll_rolling_wau",
    # r11 debuts
    "unigram_lm_vocab",
    "unigram_lm_encode_stats",
    "kn_bigram_surprisal",
    "lsh_neardup_recall",
    "json_roundtrip_agg",
    # r11 verdict-row conversions of the r07-pool sketches
    "approx_distinct_parts",
    "approx_quantiles_price",
    "mad_outliers_approx",
    # r12 debuts
    "lsh_neardup_recall_sampled",
    "unigram_lm_roundtrip_stats",
    "bpe_roundtrip_stats",
    "wordpiece_roundtrip_stats",
    "ivfpq_roundtrip_topk",
    "jl_distortion_audit",
    "ivfpq_probe_recall_curve",
    # r12 debuts (late): winnowing pair — fingerprints must show ONE
    # doc_id exchange feeding both window passes; neardups must show
    # the join-free shape (3 exchanges, no joins, no winnow-subtree
    # recompute).  Snake packing: stratum windows + 8-row reduce.
    "winnowing_fingerprints",
    "winnowing_neardups",
    "winnowing_source_stats",
    "shard_snake_packing",
]


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def dump_tagged(out_dir: str, tag: str, names: list[str]) -> None:
    """Full formatted plan of each named query → ``<out_dir>/<name>_<tag>.txt``."""
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    queries, _ = registry.collect()
    for name in names:
        tree = _formatted(spark, queries[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(tree)
        print(f"wrote {path} ({len(tree.splitlines())} lines)")
        spark.catalog.clearCache()


def main() -> None:
    if sys.argv[1:2] == ["--out-dir"]:
        dump_tagged(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "PLANS_r10.md"
    spark = get_spark(app_name="dump-plans")
    queries, _ = registry.collect()
    lines = [
        "# Physical plans (round " + os.path.basename(out).split("_r")[-1].split(".")[0].lstrip("0") + ", executed-plan trees)",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}` — the",
        "plan tree per headline heavyweight; the pins in",
        "`tests/test_physical_plans.py` / `test_round{3..10}_plans.py` /",
        "the per-family plan tests (drift, tokenizer, embedding drift)",
        "assert the properties these trees show (broadcasts where the",
        "small side fits, single exchanges, no cartesian products,",
        "pushed filters, TakeOrdered instead of global sorts).",
        "",
    ]
    for name in PLANNED:
        df = queries[name](spark, sf_dir)
        tree = _formatted(spark, df).split("\n\n")[0]
        tlines = tree.split("\n")
        if len(tlines) > 120:  # iterative queries unroll huge trees
            tlines = tlines[:120] + [
                f"... ({len(tlines) - 120} more lines — iterative unroll)"
            ]
        lines += [f"## {name}", "", "```", "\n".join(tlines), "```", ""]
        spark.catalog.clearCache()
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(PLANNED)} plans)")


if __name__ == "__main__":
    main()
