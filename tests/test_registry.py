"""Served keys are a registry property: ``register(serve=, gate=,
build=)`` derives the cache-served fn and the BUILD body the plan
tests capture. No JVM: these tests read the registry and drive the
one cache store through a stub session."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import DataFrame

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


class _StubFrame(DataFrame):
    """A JVM-free DataFrame that records whether it was pinned."""

    schema = "decision string"
    pinned = False

    def __new__(cls):
        return object.__new__(cls)

    def collect(self):
        return [("serve",)]

    def toArrow(self):
        return self.collect()

    def localCheckpoint(self):
        self.pinned = True
        return self


def test_build_differs_from_fn_exactly_for_the_former_compute_map(registry):
    assert len(NOT_BUILD_KEYS) == 46
    got = {k for k, q in registry.items() if q.build is not q.fn}
    assert got == NOT_BUILD_KEYS


def test_gate_keys_are_the_panel_gates_plus_the_panel(registry):
    from scribedb_spark.pipeline import _GATE_PANEL_KEYS

    got = {k for k, q in registry.items() if q.gate is not None}
    assert got == {k for _l, k in _GATE_PANEL_KEYS} | {"rollup_gate_panel"}


@pytest.mark.parametrize("kind", ["register", "served"])
def test_serve_key_builds_once_per_deps_fingerprint(
    registry, store, tmp_path, kind
):
    """``register(serve=)`` and a bare ``served`` function share one
    mechanism: one build per deps fingerprint, every bound argument in
    the key, a frame pinned, a dict stored as the body returned it,
    and ``.build`` the uncached body."""
    from scribedb_spark.queries import register, served

    src = tmp_path / "t.parquet"
    src.write_text("v1")
    deps = lambda sf: [str(src)]  # noqa: E731
    bodies = []
    sf = str(tmp_path)

    if kind == "register":

        def body(spark, sf_dir):
            bodies.append(sf_dir)
            return _StubFrame()

        fn = register("probe_served", serve=deps)(body)
        args, tail = (), ()
    else:

        def body(spark, sf_dir, extra, scale=2):
            bodies.append(sf_dir)
            return {"frame": _StubFrame(), "n": extra * scale}

        fn = served("probe_served", deps)(body)
        args, tail = (3,), (3, 2)
    try:
        assert fn.build is body
        assert fn.__name__ == "body"
        if kind == "register":
            assert registry["probe_served"].build is body
        spark = _StubSession()
        first = fn(spark, sf, *args)
        assert fn(spark, sf, *args) is first
        assert bodies == [sf]  # the warm call served the cache
        assert store.BUILD_EVENTS == ["probe_served"]
        assert [k[1:] for k in store._STORE] == [("probe_served", sf) + tail]
        if kind == "register":
            assert first.pinned
        else:
            assert first["n"] == 6 and not first["frame"].pinned
            fn(spark, sf, 4)  # another argument is another entry
            assert store.BUILD_EVENTS == ["probe_served"] * 2
            assert len(store._STORE) == 2
            store.evict({"probe_served"})
            fn(spark, sf, *args)
        os.utime(src, ns=(1, 1))  # new stat fingerprint
        fn(spark, sf, *args)
        builds = store.BUILD_EVENTS.count("probe_served")
        assert builds == (2 if kind == "register" else 4)
        assert len(store._STORE) == 1  # the stale entry was replaced
    finally:
        registry.pop("probe_served", None)


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


#: the library's direct ``session_cache`` callers besides ``cache.py``
#: and ``queries.served``: closures over a frame the caller built,
#: which the (spark, sf_dir, *args) rule cannot key
_SESSION_CACHE_EXCEPTIONS = {
    ("operators/dedup.py", "containment_best"): 2,
    ("analytics.py", "compare_cell_incremental"): 1,
}


def test_session_cache_is_called_only_by_served_and_named_exceptions():
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scribedb_spark",
    )
    calls: dict = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            func = None
            with open(path) as fh:
                for line in fh:
                    m = re.match(r"def (\w+)", line)
                    if m:
                        func = m.group(1)
                    if "session_cache(" in line:
                        calls[(rel, func)] = calls.get((rel, func), 0) + 1
    assert calls == {
        ("cache.py", "session_cache"): 1,  # the definition
        ("cache.py", "gate_decision"): 1,
        ("queries.py", "served"): 1,
        **_SESSION_CACHE_EXCEPTIONS,
    }
