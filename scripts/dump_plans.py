"""Regenerate PLANS.md: the formatted physical plan of each headline
query at sf0.01 — the plan-audit artifact reviewed each round.

    python scripts/dump_plans.py   # rewrites PLANS.md at the repo root
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = [
    "q1_pricing_summary",
    "q5_local_supplier",
    "q18_large_volume",
    "fp_unordered",
    "fp_chain",
    "compare_verdict",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_levenshtein",
    "join_similarity",
    "text_repetition",
    "pipeline_curation",
    "sample_temperature",
    "vec_centroid_label",
    "profile_columns",
    "dedup_incremental",
    "vec_knn_graph",
    "rollup_funnel",
    "join_interval_overlap",
    "compare_sampled",
    "graph_pagerank",
    "rollup_gapfill",
    "join_asof_nearest",
    "dedup_survivor_pick",
    "compare_merkle_drill",
    "dedup_bloom_prefilter",
    "dedup_url_canonical",
    "text_tfidf_topterms",
    "join_temporal_dim",
    "rollup_wau_sliding",
    "fp_incremental_update",
    "dedup_lsh_star",
    "dedup_semantic_ann",
    "vec_knn_graph_ann",
    "rollup_dataset_card",
    "stream_watermark_late",
    "compare_col_fingerprint",
    "dedup_containment",
    "profile_pk_violations",
    "pipeline_semantic",
    "compare_cell_drill",
    "agg_median_exact",
    "rollup_activity_streaks",
    "agg_distinct_bitmap",
    "profile_fk_orphans",
    "rollup_growth_wow",
    "graph_triangle_count",
    "multimodal_resize",
    "stream_stateful_stats",
    "setop_except_all",
    "dedup_containment_corpus",
    "dedup_containment_salted",
    "agg_quantile_grid",
    "ann_prefix_topk",
    "layout_bucket_advisor",
    "profile_vec_dims",
    "rollup_decayed_popularity",
    "compare_cell_incremental",
    "pipeline_quality_gate",
    "sample_dedup_weights",
    "agg_mad_outliers",
    "compare_drill_rows",
    "stream_enrich_static",
    "graph_common_neighbors",
    "ann_index_append",
    "dedup_paragraph",
    "join_similarity_topk",
    "pipeline_dedup_cascade",
    "ann_recall_report",
    "dedup_span",
    "text_decontaminate",
    "text_bm25_topk",
    "search_hybrid_rrf",
    "compare_iblt_diff",
    "dedup_cluster_stats",
    "compare_iblt_incremental",
    "text_lm_score",
    "text_lm_score_incremental",
    "sample_token_budget",
    "graph_kcore",
    "dedup_recall_report",
    "dedup_index_persist",
    "ann_index_persist",
    "ann_pq_persist",
    "lm_index_persist",
    "bm25_index_persist",
    "bm25_index_append",
    "compare_iblt_persist",
    "text_quality_classifier",
    "rollup_domain_mix",
    "sample_split_cluster",
    "dedup_minhash_band_tune",
    "sample_mix_curriculum",
    "compare_schema_drift",
    "ann_retrain_gate",
    "rollup_artifact_catalog",
    "layout_partition_advisor",
    "lm_drift_gate",
    "rollup_quality_drift",
    "ann_pq_append",
    "profile_join_cardinality",
    "vec_mips_topk",
    "graph_label_propagation",
    "ann_mips_topk",
    "ann_mips_recall_report",
    "dedup_substring",
    "dedup_substring_spans",
    "dedup_substring_rewrite",
    "dedup_retune_gate",
    "rollup_source_freshness",
    "rollup_source_overlap",
    "search_eval_overlap",
    "rollup_ingest_gaps",
    "sample_source_budget",
    "ann_mips_persist",
    "search_eval_panel",
    "ann_mips_retrain_gate",
    "dedup_substring_rewrite_all",
    "dedup_rewrite_persist",
    "rollup_gate_panel",
]

HEADER = """# PLANS — formatted physical plans of the headline queries

Auto-generated by `python scripts/dump_plans.py` (sf0.01). Regenerate
after changing any of these operators; the plan-property TESTS in
`tests/test_plans.py` are the enforced contract — this file is the
human-readable companion showing pushed filters (`PushedFilters`),
pruned scans (`ReadSchema`), broadcast vs shuffle joins, map-side
partial aggregation, and WindowGroupLimit / TakeOrderedAndProject
top-k shapes.

Two registry keys have NO section here by design: `rollup_gc_census`
and `layout_compaction_advisor` run against a PLANTED temp fixture
warehouse with driver-side sidecar/footer probes — their "plan" is
fixture planting plus a createDataFrame of the census, not a corpus
query (the relevant guarantees are oracle-pinned VALUES and the unit
tests in test_persist.py).
"""


def main() -> None:
    from scribedb_spark import queries as Q
    from scribedb_spark.session import get_spark

    Q.load_extensions()
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    out = [HEADER]
    # cache-served keys (gates, served frames, family-state readers)
    # dump their registry BUILD plans (same routing as
    # tests/test_plans.py::plan)
    for key in KEYS:
        df = Q.REGISTRY[key].build(spark, sf)
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        out.append(f"\n## {key}\n\n```\n{p.strip()}\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
