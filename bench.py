"""Benchmark runner (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
compact JSON line as the LAST stdout line:
    {"metric": "headline_total", "value": N, "unit": "sec", "sf": ...,
     "n_keys": K, "detail": "BENCH_DETAIL.json"}

The driver records only the last ~2000 chars of stdout, so the final
line MUST stay well under that bound regardless of registry growth
(rounds 5-6 lost their bench records because the per-key dict grew
past the window).  Per-key timings therefore go to the
``BENCH_DETAIL.json`` sidecar (plus a cpus-suffixed copy; never to
stdout/stderr — the driver tail merges both streams) instead of the
headline line; ``headline_line()`` is unit-tested to stay < 1900
chars.  Per-key times record cold (first run) and warm (min of the
rest) separately so session-cache builds are attributed instead of
discarded by best-of-k; the line carries ``cold_total``.

Headline set: the flagship aggregation, a join-heavy query, the
compare core (the reference's own capability — this is the number to
put against BASELINE.md's ~4-8k rows/s chunked-MD5 throughput), the
commutative fingerprint, and the LLM-pipeline extensions.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: keys benched (subset of the registry: the flagship + one per
#: operator family + every north-star extension that matters at scale)
BENCH_KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q9_product_profit",
    "q21_waiting_supplier",
    "pipeline_curation",
    "pipeline_shard_ledger",
    "pipeline_incremental",
    "rollup_hypertable",
    "agg_skew_salted",
    "join_inner",
    "join_broadcast",
    "join_asof",
    "window_frame_sum",
    "fp_unordered",
    "fp_chain",
    "compare_verdict",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "join_similarity",
    "text_stats",
    "text_chunk_split",
    "text_pack_greedy",
    "text_repetition",
    "dedup_cross_corpus",
    "dedup_incremental",
    "dedup_semantic_clusters",
    "text_ngram_coverage",
    "vec_knn_graph",
    "rollup_retention",
    "rollup_funnel",
    "join_interval_overlap",
    "compare_sampled",
    "dedup_ngram_jaccard",
    "dedup_levenshtein",
    "sample_stratified",
    "sample_temperature",
    "vec_centroid_label",
    "profile_columns",
    "compare_keyed_diff",
    "fp_chunk_hashes",
    "compare_fp_delta",
    "text_rare_bigrams",
    "vec_cosine_topk",
    "vec_quantize_int8",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "multimodal_features",
    "multimodal_frame_dedup",
    "stream_tumbling_agg",
    "stream_session_agg",
    "stream_dedup_exact",
    "graph_pagerank",
    "rollup_gapfill",
    "rollup_path_ngrams",
    "agg_mode",
    "agg_zscore_outliers",
    "profile_key_skew",
    "vec_l2_topk",
    "join_asof_nearest",
    "dedup_survivor_pick",
    "rollup_journey_pattern",
    "compare_col_drift",
    "window_running_distinct",
    "fp_merkle",
    "compare_merkle_drill",
    "merge_upsert",
    "scd2_history",
    "sample_split_entity",
    "rollup_pareto_abc",
    "dedup_bloom_prefilter",
    "dedup_url_canonical",
    "text_tfidf_topterms",
    "layout_zorder",
    "join_temporal_dim",
    "rollup_wau_sliding",
    "fp_incremental_update",
    "ann_ivf_sq_topk",
    "rollup_cohort_ltv",
    "rollup_trend_slope",
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
    "sample_token_budget",
    "graph_kcore",
    "dedup_recall_report",
    "text_lm_score_incremental",
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
    # wave 11
    "rollup_gc_census",
    "ann_mips_topk",
    "ann_mips_recall_report",
    "layout_compaction_advisor",
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
    # wave 12
    "dedup_substring_rewrite_all",
    "dedup_rewrite_persist",
    "rollup_gate_panel",
    # wave 13
    "agg_approx_distinct",
    "dedup_levenshtein_receipts",
    # wave 14
    "graph_common_neighbors_receipts",
    # wave 15
    "multimodal_decode_bmp",
    "multimodal_resize_bmp",
    "dedup_ngram_receipts",
    "dedup_simhash_receipts",
    "paragraph_index_persist",
]

#: pinned noise-robust subset: pure-compute keys with no checkpoint /
#: train / persist stage (those keys' wall time is dominated by
#: one-off artifact builds and shared-host I/O contention, which the
#: round-8/9 A-B protocol showed swings identical code by ~17%).
#: ``stable_total`` over this fixed list is the number to compare
#: ACROSS rounds; it only changes when a listed plan changes.
STABLE_KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q18_large_volume",
    "join_inner",
    "join_broadcast",
    "window_frame_sum",
    "fp_unordered",
    "fp_chain",
    "compare_verdict",
    "dedup_exact",
    "text_stats",
    "agg_skew_salted",
    "vec_cosine_topk",
    "rollup_retention",
    "profile_columns",
]


def headline_line(
    total: float,
    sf: object,
    n_keys: int,
    stable_total: float | None = None,
    n_stable: int | None = None,
    cold_total: float | None = None,
    cpus: int | None = None,
) -> str:
    """The compact final-stdout-line contract (< 1900 chars, always).

    Kept as a pure function so tests can assert the bound without
    running Spark.  Per-key timings deliberately excluded: with 100+
    registry keys they pushed the line past the driver's 2000-char
    stdout tail window and made BENCH_r05/r06 unparseable.
    ``stable_total`` is the pinned STABLE_KEYS subset sum — the
    cross-round comparison number (the full total swings with
    shared-host contention on artifact-building keys).
    ``headline_per_canary`` = value / stable_total: the canary is the
    ambient-noise meter (identical untouched plans), so dividing by
    it normalizes driver-stamped rounds onto one scale — r13's
    206.1 s at canary 10.18 and r14's 133.5 s at 8.40 become 20.2 vs
    15.9 without a manual correction (r14 VERDICT item 6).
    ``cold_total`` (r15 VERDICT item 2) is the sum of FIRST-run
    times: with ~45 session-cache-served keys, best-of-k records the
    memo read and the build cost lands in no key — cold_total is the
    number that still contains every build."""
    rec = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_keys": n_keys,
        "detail": "BENCH_DETAIL.json",
    }
    if stable_total is not None:
        rec["stable_total"] = stable_total
        rec["n_stable"] = n_stable
        if stable_total > 0:
            rec["headline_per_canary"] = round(total / stable_total, 3)
    if cold_total is not None:
        rec["cold_total"] = cold_total
    if cpus is not None:
        rec["cpus"] = cpus
    return json.dumps(rec)


def main() -> None:
    from scribedb_spark.session import default_cpus, get_spark
    from scribedb_spark import queries as Q

    Q.load_extensions()
    spark = get_spark(app_name="scribedb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure
    # the queries, not session startup
    from scribedb_spark.sources import load_tables

    for df in load_tables(spark, SF_DIR).values():
        df.count()

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    cpus = default_cpus()
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    stable_set = set(STABLE_KEYS)
    for key in BENCH_KEYS:
        fn = Q.REGISTRY[key].fn
        # the pinned cross-round comparator gets one extra best-of run:
        # these 16 keys are cheap and their minimum is the number rounds
        # are compared on, so it must converge tighter than the rest
        k_runs = runs + 1 if key in stable_set else runs
        samples: list[float] = []
        for _ in range(k_runs):
            t0 = time.perf_counter()
            # count() forces full execution without driver-side collect
            # of payload data
            fn(spark, SF_DIR).count()
            samples.append(time.perf_counter() - t0)
        # best-of-k: single-JVM local mode has high scheduler/GC noise;
        # the minimum is the stable estimate of the plan's cost.
        # cold/warm split (r15 VERDICT item 2): session-cache-served
        # keys pay their build in run 1 and serve a checkpoint scan
        # after — min() alone would attribute the build to NO key.
        timings[key] = round(min(samples), 3)
        cold[key] = round(samples[0], 3)
        if len(samples) > 1:
            warm[key] = round(min(samples[1:]), 3)

    total = round(sum(timings.values()), 3)
    cold_total = round(sum(cold.values()), 3)
    stable_total = round(sum(timings[k] for k in STABLE_KEYS), 3)
    sf_raw = SF_DIR.rstrip("/").split("sf")[-1]
    sf = float(sf_raw) if sf_raw.replace(".", "").isdigit() else sf_raw
    detail = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "queries_warm": warm,
        "cold_total": cold_total,
        "cpus": cpus,
        "sf": sf,
        "stable_total": stable_total,
        "stable_keys": STABLE_KEYS,
    }
    # full per-key record: sidecar files only (committed,
    # judge-readable).  NOT echoed to stdout or stderr: the driver's
    # ~2000-char tail window captures both streams merged, and the
    # per-key dict landing there truncated the parseable record two
    # rounds running (r15 VERDICT item 8) — the tail must reliably
    # hold the compact one-liner.
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # cpus-suffixed copy: the driver's low-core scaling pass used to
    # clobber the 32-core record in the canonical file (r15 VERDICT
    # item 3 of "what's wrong") — each core count keeps its own file
    with open(
        os.path.join(repo, f"BENCH_DETAIL_c{cpus}.json"), "w"
    ) as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # optional per-round stamped sidecar (BENCH_DETAIL.json is
    # overwritten every run — round-stamped copies keep history
    # reviewable without git churn on the canonical name)
    stamped = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR")
    if stamped:
        with open(stamped, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    # stop the JVM BEFORE the final stdout line so no late Spark log
    # line can land after (and corrupt) the compact-line contract
    spark.stop()
    print(
        headline_line(
            total,
            sf,
            len(timings),
            stable_total,
            len(STABLE_KEYS),
            cold_total,
            cpus,
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
