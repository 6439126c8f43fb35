"""Scale smoke: measure how the heavy operators scale on an N-fold
corpus (default 4x sf0.1 ~ sf0.4), built by unioning the driver data
with key-shifted copies into /tmp.

This is the empirical half of the "would this hold at 100x" argument:
map-only / partial-agg keys should scale ~linearly in rows; pair-
producing dedup keys scale in CANDIDATE PAIRS, which an N-fold
duplicated corpus inflates ~N^2 inside every near-dup bucket — the
honest stress for LSH bucket bounds.

    python scripts/scale_smoke.py [mult] [base_sf_dir] [key,key,...]

Prints one JSON line per key: base seconds, scaled seconds, ratio,
rows produced at each scale (for pair-producing keys the row count IS
the emitted-pair count — the quantity wall time must track). The
optional third argument restricts the run to a comma-separated key
subset (used for the 16x octave on the pair-dense keys, where the
full list would be wastefully slow).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = [
    "q1_pricing_summary",
    "q18_large_volume",
    "fp_chain",
    "fp_chunk_hashes",
    "compare_verdict",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_levenshtein",
    "join_similarity",
    "sample_temperature",
    "vec_centroid_label",
    "profile_columns",
    "text_rare_bigrams",
    "text_shard_assign",
    "ann_pq_topk",
    "graph_pagerank",
    "rollup_gapfill",
    "dedup_bloom_prefilter",
    "dedup_url_canonical",
    "text_tfidf_topterms",
    "join_temporal_dim",
    "rollup_wau_sliding",
    "fp_incremental_update",
    "ann_ivf_sq_topk",
    "dedup_lsh_star",
    "dedup_semantic_ann",
    "vec_knn_graph_ann",
    "rollup_dataset_card",
    "stream_watermark_late",
    "compare_col_fingerprint",
    "dedup_containment",
    "agg_median_exact",
    "rollup_activity_streaks",
    "agg_distinct_bitmap",
    "graph_triangle_count",
    "multimodal_resize",
    "stream_stateful_stats",
    "profile_fk_orphans",
    "dedup_containment_salted",
    "dedup_containment_corpus",
    "dedup_paragraph",
    "join_similarity_topk",
    "ann_index_append",
    "dedup_span",
    "text_decontaminate",
    "text_bm25_topk",
    "search_hybrid_rrf",
    "dedup_recall_report",
    "text_quality_classifier",
    "rollup_domain_mix",
    "dedup_minhash_band_tune",
    "sample_mix_curriculum",
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
    "ann_retrain_gate",
    "sample_mix_curriculum",
    "dedup_substring_rewrite_all",
    "rollup_gate_panel",
    "dedup_levenshtein_receipts",
]

def _containment_pairs(mode):
    """Distinct candidate-pair count of the containment keys — the
    quantity the verify stage pays for and wall time must track."""

    def probe(spark, sfd):
        from pyspark.sql import functions as F

        from scribedb_spark.operators.dedup import _CONTAIN_SALT, containment_best
        from scribedb_spark.sources import table

        d = table(spark, "documents", sfd).select("doc_id", "source", "text")
        kw = {}
        if mode == "batch":
            kw["incoming"] = F.col("doc_id") % 20 == 0
        elif mode == "salted":
            kw["salt"] = _CONTAIN_SALT
        return containment_best(
            d, sf_dir=sfd, return_candidates=True, **kw
        ).count()

    return probe


def _simhash_pairs(spark, sfd):
    """Quarter-bucket candidate pairs BEFORE the hamming verify — at
    REP grain, the volume the r14-collapsed key's verify actually
    pays (the old member-grain probe was itself quadratic on a
    duplicated corpus)."""
    from pyspark.sql import functions as F

    from scribedb_spark.operators.dedup import (
        simhash_quarters,
        text_rep_map,
    )

    rmap = text_rep_map(spark, sfd)
    reps = rmap.select(F.col("rep_id").alias("doc_id")).distinct()
    q = simhash_quarters(spark, sfd).join(reps, "doc_id", "left_semi")
    a = q.select(F.col("doc_id").alias("doc_id1"), "q", "qv")
    b = q.select(F.col("doc_id").alias("doc_id2"), "q", "qv")
    return (
        a.join(b, ["q", "qv"])
        .filter(F.col("doc_id1") < F.col("doc_id2"))
        .count()
    )


def _ngram_pairs(spark, sfd):
    """PPJoin candidate pairs at source-scoped REP grain — the r14
    collapse's verify volume for dedup_ngram_jaccard."""
    from pyspark.sql import functions as F

    from scribedb_spark.operators.dedup import (
        _ngram_ppjoin_pairs,
        _ngram_source_rep_state,
    )
    from scribedb_spark.sources import table

    d = (
        table(spark, "documents", sfd)
        .select("doc_id", "source", "text")
        .filter(F.length("text") >= 3)
    )
    d_reps, _ = _ngram_source_rep_state(d)
    return _ngram_ppjoin_pairs(d_reps, return_candidates=True).count()


def _levenshtein_pairs(spark, sfd):
    """LSH candidate pairs (the source-census keys' label volume)."""
    from scribedb_spark.operators.dedup import dedup_minhash_lsh

    return dedup_minhash_lsh(spark, sfd).count()


def _rep_pairs(spark, sfd):
    """Distinct exact-text REPRESENTATIVE pairs — the volume the
    collapsed edit-distance verify actually runs the DP over (r12)."""
    from scribedb_spark.operators.dedup import lsh_rep_pairs

    return lsh_rep_pairs(spark, sfd).select("r1", "r2").distinct().count()


def _recall_report_pairs(spark, sfd):
    """Audited rep-grain rows the exact-Jaccard side evaluates (r14:
    the audits run over sampled_rep_jaccards — one row per
    co-occurring GROUP pair, base-corpus-sized at any duplication;
    the member-grain sampled-postings probe this replaces filled the
    host disk at 256x, the same boundary as the audit itself)."""
    from scribedb_spark.operators.dedup import sampled_rep_jaccards

    return sampled_rep_jaccards(spark, sfd).count()


def _substring_matches(spark, sfd):
    """Matched (rep pair, diag, pos) rows — the volume the census
    key's islands window shuffles and wall must track (r12: runs are
    computed per exact-text REPRESENTATIVE pair, so an N-fold
    duplicated corpus no longer inflates this; the r11 raw-pair probe
    measured the volume that exhausted host spill at 64x)."""
    from scribedb_spark.operators.dedup import substring_matches

    return substring_matches(spark, sfd).count()


def _rep_edges(spark, sfd):
    """Distinct unordered REP pairs — the graph the r14-collapsed
    component consumers actually traverse (base-corpus-sized at any
    exact-duplication factor; the member pair count these keys used
    to pay is the _levenshtein_pairs probe)."""
    from pyspark.sql import functions as F

    from scribedb_spark.operators.dedup import oriented_rep_pairs

    return (
        oriented_rep_pairs(spark, sfd)
        .select(F.least("r1", "r2").alias("u"), F.greatest("r1", "r2").alias("v"))
        .distinct()
        .count()
    )


def _ivf_scored_volume(spark, sfd):
    """Scored (query, candidate) pairs in the probed IVF cells — the
    volume cell-probe ANN wall time must track (probed-cell occupancy,
    never the corpus square)."""
    from scribedb_spark.operators.similarity import _ivf_scored

    return _ivf_scored(spark, sfd).count()


def _substring_anchored(spark, sfd):
    """Matched positions on SURVIVING diagonals — the volume the
    spans/rewrite act-half shuffles after the r12 strided-anchor
    two-stage match (qualifying-run diagonals only)."""
    from scribedb_spark.operators.dedup import substring_anchored_matches

    return substring_anchored_matches(spark, sfd).count()


#: candidate/verify-pair counters for the pair-dense keys whose OUTPUT
#: row count does not equal the pair volume driving their wall time —
#: each smoke row gains (base_pairs, scaled_pairs, pair_ratio) so a
#: super-linear wall ratio is attributable to measured pair inflation
#: (round-9 verdict item: dedup_containment's 16x row read 27.2x wall
#: with nothing in the row to justify it)
PAIR_PROBES = {
    "dedup_containment": _containment_pairs("batch"),
    "dedup_containment_corpus": _containment_pairs("corpus"),
    "dedup_containment_salted": _containment_pairs("salted"),
    "dedup_simhash": _simhash_pairs,
    "dedup_ngram_jaccard": _ngram_pairs,
    "dedup_levenshtein": _rep_pairs,
    # the receipt key's DP volume is the same rep-pair set; its output
    # and shuffles are rep-sized by design (r13)
    "dedup_levenshtein_receipts": _rep_pairs,
    "dedup_recall_report": _recall_report_pairs,
    # the tuner scores the same sampled co-occurrence pairs the
    # recall report audits — identical cost driver, identical probe
    "dedup_minhash_band_tune": _recall_report_pairs,
    "dedup_substring": _substring_matches,
    # the spans key's islands run over the anchored (surviving-
    # diagonal) match set — its own, smaller volume
    "dedup_substring_spans": _substring_anchored,
    # the rewrite's cost IS the span detection (the receipt join is
    # corpus-key-local) — same anchored-match probe
    "dedup_substring_rewrite": _substring_anchored,
    # the multi-span receipt reads the same span table; its greedy
    # rounds are span-table-sized — same anchored-match probe
    "dedup_substring_rewrite_all": _substring_anchored,
    # the retune gate audits the same sampled exact-Jaccard pairs the
    # recall report (and the band tuner) score
    "dedup_retune_gate": _recall_report_pairs,
    # the source census labels every LSH candidate pair
    "rollup_source_overlap": _levenshtein_pairs,
    # the budget key runs components over the same pair graph
    "sample_source_budget": _levenshtein_pairs,
    # the r14-collapsed component consumers traverse the REP graph
    # only — their probe is the rep edge count (stays base-sized
    # under exact duplication), never the member pair count
    "dedup_components": _rep_edges,
    "sample_dedup_weights": _rep_edges,
    "dedup_cluster_stats": _rep_edges,
    "sample_split_cluster": _rep_edges,
    "dedup_survivor_pick": _rep_edges,
    # cell-probe ANN: scored candidates in probed cells
    "ann_ivf_sq_topk": _ivf_scored_volume,
    # r14 quotient-graph keys traverse REP edges with multiplicities
    "graph_kcore": _rep_edges,
    "graph_label_propagation": _rep_edges,
    "graph_triangle_count": _rep_edges,
    # common-neighbors output IS member pairs (missed-dup candidates)
    # — its cost tracks the member pair list it still reads
    "graph_common_neighbors": _levenshtein_pairs,
    # its receipt twin is fully quotient-sized
    "graph_common_neighbors_receipts": _rep_edges,
    # r15 receipt twins: verify volume is the same rep-grain
    # candidate set as their member-enumerating keys; output and
    # every shuffle are rep-sized by design (product counting)
    "dedup_ngram_receipts": _ngram_pairs,
    "dedup_simhash_receipts": _simhash_pairs,
}


#: per-table primary-key shifts so unioned copies stay key-unique;
#: FK pairs (orders/lineitem) shift together
SHIFTS = {
    "documents": [("doc_id", 10_000_000)],
    "embeddings": [("vec_id", 10_000_000)],
    "orders": [("o_orderkey", 100_000_000)],
    "lineitem": [("l_orderkey", 100_000_000)],
    "events": [("event_id", 100_000_000)],
}


def build_scaled(spark, base: str, out: str, mult: int) -> None:
    """Union mult key-shifted copies of each fact table into ``out``.
    Copies are written in <= 64-branch union batches (append mode) so
    a 1024x octave never plans a 1024-way union; SPARK_GRAFT_SMOKE_TABLES
    (comma list) restricts WHICH tables get the multiplier — the other
    fact tables are written 1x, so a documents-only 1024x audit octave
    doesn't pay for 614M lineitem rows it never reads."""
    from pyspark.sql import functions as F

    from scribedb_spark.sources import TPCH_TABLES, table

    scale_env = os.environ.get("SPARK_GRAFT_SMOKE_TABLES")
    scale_tables = set(scale_env.split(",")) if scale_env else set(SHIFTS)
    os.makedirs(out, exist_ok=True)
    for t in TPCH_TABLES:
        dst = f"{out}/{t}.parquet"
        if os.path.exists(dst + "/_SUCCESS"):
            continue
        df = table(spark, t, base)
        if t in SHIFTS and t in scale_tables:
            first = True
            for lo in range(0, mult, 64):
                parts = []
                for i in range(lo, min(lo + 64, mult)):
                    c = df
                    for col, step in SHIFTS[t]:
                        c = c.withColumn(col, F.col(col) + F.lit(i * step))
                    parts.append(c)
                u = parts[0]
                for p in parts[1:]:
                    u = u.unionByName(p)
                u.write.mode("overwrite" if first else "append").parquet(dst)
                first = False
        else:  # dimension tables (and unscaled facts) keep their rows
            df.write.mode("overwrite").parquet(dst)


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    keys = sys.argv[3].split(",") if len(sys.argv) > 3 else KEYS
    out = f"/tmp/scale_smoke_x{mult}"

    from scribedb_spark import queries as Q
    from scribedb_spark.session import get_spark

    Q.load_extensions()
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled(spark, base, out, mult)

    for key in keys:
        fn = Q.REGISTRY[key].fn
        try:
            t0 = time.perf_counter()
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            n_base = fn(spark, base).count()
            t_base = time.perf_counter() - t0
            # a production job sizes shuffle partitions to its input
            # (AQE coalesces down, never up past the initial number):
            # scale them with the multiplier so per-task sorts stay
            # the base size — at 32 fixed, a 64x pair-dense window
            # stage hits the single-task sort-memory ceiling
            # (SPILL_OUT_OF_MEMORY) that a real cluster never sees.
            # Base rows keep 32, so cross-round base_s stays
            # comparable; within-run ratio remains the scale signal.
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(min(2048, 32 * mult))
            )
            t0 = time.perf_counter()
            n_scaled = fn(spark, out).count()
            t_scaled = time.perf_counter() - t0
        except Exception as e:  # record honest failures (capacity
            # guards, spills) instead of losing the whole run
            print(
                json.dumps(
                    {"key": key, "mult": mult, "err": str(e)[:300]}
                ),
                flush=True,
            )
            continue
        rec = {
            "key": key,
            "mult": mult,
            "base_s": round(t_base, 2),
            "scaled_s": round(t_scaled, 2),
            "ratio": round(t_scaled / max(t_base, 1e-9), 1),
            "base_rows": n_base,
            "scaled_rows": n_scaled,
        }
        probe = PAIR_PROBES.get(key)
        if probe is not None:
            try:
                p_base = probe(spark, base)
                p_scaled = probe(spark, out)
                rec["base_pairs"] = p_base
                rec["scaled_pairs"] = p_scaled
                rec["pair_ratio"] = round(p_scaled / max(p_base, 1), 1)
            except Exception as e:  # keep the timing row either way
                rec["pair_err"] = str(e)[:200]
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
