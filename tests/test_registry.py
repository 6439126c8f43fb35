"""Served keys are a registry property: ``register(serve=, gate=,
build=)`` derives the cache-served fn and the BUILD body the plan
tests capture. No JVM: these tests read the registry and drive the
one cache store through a stub session."""

from __future__ import annotations

import os

import pytest

from scribedb_spark import cache

#: the keys whose registered fn is not their BUILD plan: the 46 keys
#: the hand-kept pipeline.plan_compute_fns() map listed before the
#: registry derived them (15 served frames, 10 gates, 21 family-state
#: readers)
NOT_BUILD_KEYS = frozenset(
    {
        "ann_ivf_sq_topk", "ann_ivf_topk", "ann_lsh_topk",
        "ann_mips_recall_report", "ann_mips_retrain_gate", "ann_mips_topk",
        "ann_pq_topk", "ann_recall_report", "ann_retrain_gate",
        "compare_cell_drill", "compare_col_fingerprint", "compare_drill_rows",
        "dedup_containment", "dedup_containment_corpus",
        "dedup_containment_salted", "dedup_embedding_cosine",
        "dedup_levenshtein", "dedup_levenshtein_receipts",
        "dedup_minhash_band_tune", "dedup_ngram_jaccard",
        "dedup_ngram_receipts", "dedup_recall_report", "dedup_retune_gate",
        "dedup_semantic_ann", "dedup_semantic_clusters", "dedup_simhash",
        "dedup_simhash_receipts", "dedup_substring_rewrite",
        "dedup_substring_rewrite_all", "dedup_substring_spans",
        "graph_kcore", "graph_label_propagation", "graph_pagerank",
        "graph_triangle_count", "layout_compaction_advisor", "lm_drift_gate",
        "pipeline_semantic", "rollup_gate_panel", "rollup_ingest_gaps",
        "rollup_quality_drift", "rollup_source_freshness",
        "sample_mix_curriculum", "sample_source_budget",
        "search_eval_overlap", "search_eval_panel", "vec_knn_graph_ann",
    }
)


@pytest.fixture(scope="module")
def registry():
    from scribedb_spark import queries as Q

    Q.load_extensions()
    return Q.REGISTRY


@pytest.fixture
def store(monkeypatch):
    """A private store, ledger and gate-tag set for one test."""
    monkeypatch.setattr(cache, "_STORE", {})
    monkeypatch.setattr(cache, "BUILD_EVENTS", [])
    monkeypatch.setattr(cache, "_GATE_TAGS", set())
    return cache


class _StubSession:
    """Just enough of a SparkSession for the cache layer."""

    class sparkContext:
        applicationId = "stub-app"

    @staticmethod
    def createDataFrame(rows, schema):
        return ("local", tuple(rows), schema)


class _StubFrame:
    schema = "decision string"

    def collect(self):
        return [("serve",)]

    def localCheckpoint(self):
        return self


def test_build_differs_from_fn_exactly_for_the_former_compute_map(registry):
    assert len(NOT_BUILD_KEYS) == 46
    got = {k for k, q in registry.items() if q.build is not q.fn}
    assert got == NOT_BUILD_KEYS


def test_gate_keys_are_the_panel_gates_plus_the_panel(registry):
    from scribedb_spark.pipeline import _GATE_PANEL_KEYS

    got = {k for k, q in registry.items() if q.gate is not None}
    assert got == {k for _l, k in _GATE_PANEL_KEYS} | {"rollup_gate_panel"}


def test_serve_key_builds_once_per_deps_fingerprint(registry, store, tmp_path):
    from scribedb_spark.queries import register

    src = tmp_path / "t.parquet"
    src.write_text("v1")
    bodies = []

    def body(spark, sf_dir):
        bodies.append(sf_dir)
        return _StubFrame()

    fn = register("probe_served", serve=lambda sf: [str(src)])(body)
    try:
        assert registry["probe_served"].build is body
        assert fn.__name__ == "body"
        spark = _StubSession()
        first = fn(spark, str(tmp_path))
        assert fn(spark, str(tmp_path)) is first
        assert bodies == [str(tmp_path)]  # the warm call served the cache
        assert store.BUILD_EVENTS == ["probe_served"]
        assert [k[1:] for k in store._STORE] == [
            ("probe_served", str(tmp_path))
        ]
        os.utime(src, ns=(1, 1))  # new stat fingerprint
        fn(spark, str(tmp_path))
        assert store.BUILD_EVENTS == ["probe_served"] * 2
        assert len(store._STORE) == 1  # the stale entry was replaced
    finally:
        registry.pop("probe_served")


def test_clear_gate_decisions_keeps_frames_and_family_state(
    store, tmp_path
):
    spark = _StubSession()
    sf = str(tmp_path)
    store.session_cache(spark, ("graph_pagerank", sf), lambda: "frame", [])
    store.session_cache(spark, ("ngram_rep_pairs", sf), lambda: "state")
    store.gate_decision(spark, "lm_drift_gate", sf, [], _StubFrame)
    served = store.gate_decision(spark, "lm_drift_gate", sf, [], _StubFrame)
    assert served[1] == (("serve",),)  # the collected local rows
    assert store.BUILD_EVENTS.count("lm_drift_gate") == 1

    store.clear_gate_decisions()

    assert {k[1] for k in store._STORE} == {
        "graph_pagerank",
        "ngram_rep_pairs",
    }
    store.gate_decision(spark, "lm_drift_gate", sf, [], _StubFrame)
    assert store.BUILD_EVENTS.count("lm_drift_gate") == 2  # re-measured
    assert store.BUILD_EVENTS.count("graph_pagerank") == 1
