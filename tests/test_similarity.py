"""Similarity-search tests beyond the SQL oracles: numpy ground truth
for cosine top-k, and structural/recall checks for the LSH path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, V


def _cosine_matrix(V):
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    return Vn @ Vn.T


def test_vec_cosine_topk_matches_numpy(spark, sf_dir, emb):
    from scribedb_spark.operators.similarity import vec_cosine_topk

    ids, V = emb
    S = _cosine_matrix(V)
    q = np.where(ids == 0)[0][0]
    scores = S[q].copy()
    scores[q] = -np.inf
    order = sorted(
        ((round(scores[i], 6), ids[i]) for i in range(len(ids)) if i != q),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    got = [
        (r["score"], r["vec_id"])
        for r in vec_cosine_topk(spark, sf_dir).collect()
    ]
    want = [(s, int(v)) for s, v in order]
    assert got == want


def test_ann_lsh_results_are_exact_cosines(spark, sf_dir, emb):
    """Every (q, c, score) the LSH path returns must carry the true
    cosine score (re-rank is exact), ranks must be consistent, and the
    result must be deterministic across runs (md5-derived planes)."""
    from scribedb_spark.operators.similarity import ann_lsh_topk

    ids, V = emb
    S = _cosine_matrix(V)
    idx = {int(v): i for i, v in enumerate(ids)}
    rows = ann_lsh_topk(spark, sf_dir).collect()
    assert rows, "LSH returned nothing"
    for r in rows:
        true = round(S[idx[r["q_id"]], idx[r["c_id"]]], 6)
        assert abs(r["score"] - true) < 2e-6, (r, true)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append((r["rk"], -r["score"], r["c_id"]))
    for q, lst in by_q.items():
        assert sorted(lst) == lst or sorted(lst, key=lambda t: t[0]) == sorted(lst)
        assert [t[0] for t in sorted(lst)] == list(range(1, len(lst) + 1))
    rows2 = ann_lsh_topk(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir, emb):
    """Buckets with 8 hyperplanes are coarse; still, the top-1 LSH
    neighbor should be a decent neighbor: its true cosine must be
    >= the 90th percentile of the query's full similarity row."""
    from scribedb_spark.operators.similarity import ann_lsh_topk

    ids, V = emb
    S = _cosine_matrix(V)
    idx = {int(v): i for i, v in enumerate(ids)}
    rows = [r for r in ann_lsh_topk(spark, sf_dir).collect() if r["rk"] == 1]
    assert rows
    ok = 0
    for r in rows:
        qi = idx[r["q_id"]]
        row = np.delete(S[qi], qi)
        if S[qi, idx[r["c_id"]]] >= np.quantile(row, 0.9):
            ok += 1
    assert ok >= max(1, int(0.7 * len(rows)))


def test_blocked_cosine_topk_matches_numpy(spark, sf_dir, emb):
    """The Arrow/numpy blocked top-k must agree with dense numpy
    ground truth (scores to 1e-9; identical id sets per query)."""
    from scribedb_spark.operators.similarity import cosine_topk_blocked

    ids, V = emb
    S = _cosine_matrix(V)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = cosine_topk_blocked(e, query_ids=[0, 1, 2], k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
    idx = {int(v): i for i, v in enumerate(ids)}
    for qid, rows in by_q.items():
        qi = idx[qid]
        scores = S[qi].copy()
        scores[qi] = -np.inf
        want = sorted(
            ((round(scores[i], 6), int(ids[i])) for i in range(len(ids)) if i != qi),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        got_pairs = sorted(
            ((r["score"], r["c_id"]) for r in rows), key=lambda t: (-t[0], t[1])
        )
        assert [p[1] for p in got_pairs] == [p[1] for p in want]
        for (gs, _), (ws, _) in zip(got_pairs, want):
            assert abs(gs - ws) < 1e-6
    assert set(by_q) == {0, 1, 2}


def test_ann_ivf_results_are_exact_cosines_and_deterministic(spark, sf_dir, emb):
    """IVF re-rank must carry true cosine scores, dense 1..k ranks,
    and be run-to-run deterministic (k-means init is vec_id-sorted,
    no RNG anywhere)."""
    from scribedb_spark.operators.similarity import ann_ivf_topk

    ids, V = emb
    S = _cosine_matrix(V)
    idx = {int(v): i for i, v in enumerate(ids)}
    rows = ann_ivf_topk(spark, sf_dir).collect()
    assert rows, "IVF returned nothing"
    for r in rows:
        true = round(S[idx[r["q_id"]], idx[r["c_id"]]], 6)
        assert abs(r["score"] - true) < 2e-6, (r, true)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r["rk"])
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
    rows2 = ann_ivf_topk(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir, emb):
    """Probing 4 of 16 cells must find good neighbors: each query's
    IVF top-1 must sit at or above the 90th percentile of that
    query's true similarity row, for >= 70% of queries (same bar as
    the LSH test)."""
    from scribedb_spark.operators.similarity import ann_ivf_topk

    ids, V = emb
    S = _cosine_matrix(V)
    idx = {int(v): i for i, v in enumerate(ids)}
    rows = [r for r in ann_ivf_topk(spark, sf_dir).collect() if r["rk"] == 1]
    assert rows
    ok = 0
    for r in rows:
        qi = idx[r["q_id"]]
        row = np.delete(S[qi], qi)
        if S[qi, idx[r["c_id"]]] >= np.quantile(row, 0.9):
            ok += 1
    assert ok >= max(1, int(0.7 * len(rows)))


def test_ann_pq_recall_and_determinism(spark, sf_dir, emb):
    """PQ/ADC: the 64x-compressed codes must still rank real
    neighbors — each query's PQ top-1 must sit at or above the 90th
    percentile of that query's true cosine row for >= 70% of queries
    (the LSH/IVF bar) — and two runs must return identical rows
    (training and encoding are RNG-free)."""
    from scribedb_spark.operators.similarity import ann_pq_topk

    ids, V = emb
    S = _cosine_matrix(V)
    idx = {int(v): i for i, v in enumerate(ids)}
    out1 = sorted(
        (r["q_id"], r["rk"], r["c_id"], r["score"])
        for r in ann_pq_topk(spark, sf_dir).collect()
    )
    out2 = sorted(
        (r["q_id"], r["rk"], r["c_id"], r["score"])
        for r in ann_pq_topk(spark, sf_dir).collect()
    )
    assert out1 == out2
    tops = [t for t in out1 if t[1] == 1]
    assert tops
    ok = 0
    for q_id, _, c_id, _ in tops:
        qi = idx[q_id]
        row = np.delete(S[qi], qi)
        if S[qi, idx[c_id]] >= np.quantile(row, 0.9):
            ok += 1
    assert ok >= max(1, int(0.7 * len(tops)))


def test_ann_ivf_sq_recall_vs_bruteforce(spark, sf_dir, emb):
    """The scalar-quantized seeded quantizer must still route queries
    to useful cells: each query's top-1 at or above the 90th
    percentile of its true cosine row for >= 70% of queries (the
    LSH/IVF/PQ bar)."""
    from scribedb_spark.operators.similarity import ann_ivf_sq_topk

    ids, V = emb
    S = _cosine_matrix(V)
    idx = {int(v): i for i, v in enumerate(ids)}
    rows = [r for r in ann_ivf_sq_topk(spark, sf_dir).collect() if r["rk"] == 1]
    assert rows
    ok = 0
    for r in rows:
        qi = idx[r["q_id"]]
        row = np.delete(S[qi], qi)
        if S[qi, idx[r["c_id"]]] >= np.quantile(row, 0.9):
            ok += 1
    assert ok >= max(1, int(0.7 * len(rows)))


def test_semantic_ann_recall_vs_exact_ledger(spark, sf_dir):
    """The ANN-fed SemDeDup ledger must closely reproduce the exact
    O(n^2) ledger: >= 85% of exact near-dup PAIRS survive the cell
    blocking, and >= 90% of (vec_id, cluster) ledger rows agree."""
    from scribedb_spark import queries as Q

    Q.load_extensions()
    exact_pairs = {
        (r["vec_id1"], r["vec_id2"])
        for r in Q.REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir).collect()
    }
    from scribedb_spark.functions.vector import to_double_array
    from scribedb_spark.operators.similarity import (
        sq_cell_candidates,
        sq_ranked_cells,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    cand = {
        (r["id1"], r["id2"])
        for r in sq_cell_candidates(
            sq_ranked_cells(v).select("vec_id", "cell", "rn")
        ).collect()
    }
    if exact_pairs:
        recall = len(exact_pairs & cand) / len(exact_pairs)
        assert recall >= 0.85, f"pair recall {recall}"

    exact = {
        (r["vec_id"], r["cluster"])
        for r in Q.REGISTRY["dedup_semantic_clusters"].fn(spark, sf_dir).collect()
    }
    ann = {
        (r["vec_id"], r["cluster"])
        for r in Q.REGISTRY["dedup_semantic_ann"].fn(spark, sf_dir).collect()
    }
    agreement = len(exact & ann) / len(exact)
    assert agreement >= 0.9, f"ledger agreement {agreement}"


def test_knn_graph_ann_edge_recall(spark, sf_dir):
    """The cell-blocked kNN graph must recover >= 80% of the exact
    graph's edges (k=3, sf-test corpus; candidate-stage recall is
    ~0.92, final-edge recall is necessarily <= that)."""
    from scribedb_spark import queries as Q

    Q.load_extensions()

    def edges(key):
        out = set()
        for r in Q.REGISTRY[key].fn(spark, sf_dir).collect():
            for n in r["neighbors"].split(","):
                out.add((r["vec_id"], int(n)))
        return out

    exact = edges("vec_knn_graph")
    ann = edges("vec_knn_graph_ann")
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.8, f"edge recall {recall}"


def test_sq_assign_cells_equals_ranked_slice(spark, sf_dir):
    """The vectorized mapInPandas assignment (numpy integer matmul
    against the collected codebook) must be BIT-identical to the
    expression-based sq_ranked_cells rn <= A slice — quantization is
    element-wise IEEE doubles, dots exact int64, stable argsort
    reproduces the (idot DESC, cell ASC) tie order."""
    from scribedb_spark.functions.vector import to_double_array
    from scribedb_spark.operators.similarity import (
        _SQ_ASSIGN_A,
        scaled_cells,
        sq_assign_cells,
        sq_ranked_cells,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    cells = scaled_cells(e.count())
    fast = {
        (r["vec_id"], r["cell"], r["rn"])
        for r in sq_assign_cells(v, cells).collect()
    }
    slow = {
        (r["vec_id"], r["cell"], r["rn"])
        for r in sq_ranked_cells(v, cells)
        .filter(F.col("rn") <= _SQ_ASSIGN_A)
        .select("vec_id", "cell", "rn")
        .collect()
    }
    assert fast == slow


def test_exact_pairwise_guard_refuses_corpus_scale(spark, sf_dir, monkeypatch):
    """The exact O(n^2) kernels are recall baselines for their _ann
    twins — above $SPARK_GRAFT_EXACT_PAIRWISE_MAX they must refuse
    with the twin's name rather than launch a quadratic job."""
    import pytest

    from scribedb_spark.operators.dedup import dedup_semantic_clusters
    from scribedb_spark.operators.similarity import vec_knn_graph

    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIRWISE_MAX", "10")
    with pytest.raises(ValueError, match="vec_knn_graph_ann"):
        vec_knn_graph(spark, sf_dir)
    with pytest.raises(ValueError, match="dedup_semantic_ann"):
        dedup_semantic_clusters(spark, sf_dir)


def test_exact_pairwise_guard_default_cap_allows_test_corpora(
    spark, sf_dir, monkeypatch
):
    """The default cap (250k vectors) must never trip at the driver's
    correctness scales — the baselines stay proven oracle keys."""
    from scribedb_spark.operators.similarity import vec_knn_graph

    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIRWISE_MAX", raising=False)
    assert vec_knn_graph(spark, sf_dir).count() > 0


def test_ann_prefix_recall_vs_bruteforce(spark, sf_dir, emb):
    """Prefix-dimension cascade: 16-of-64-dim candidate generation
    plus exact rerank must keep each query's top-1 at or above the
    90th percentile of its true cosine row for >= 70% of queries
    (the LSH/IVF/PQ bar)."""
    from scribedb_spark.operators.similarity import ann_prefix_topk

    ids, V = emb
    S = _cosine_matrix(V)
    idx = {int(v): i for i, v in enumerate(ids)}
    rows = [r for r in ann_prefix_topk(spark, sf_dir).collect() if r["rk"] == 1]
    assert rows
    ok = 0
    for r in rows:
        qi = idx[r["q_id"]]
        row = np.delete(S[qi], qi)
        if S[qi, idx[r["c_id"]]] >= np.quantile(row, 0.9):
            ok += 1
    assert ok >= max(1, int(0.7 * len(rows)))


def test_sq_assign_cells_zero_vector_deterministic(spark):
    """An all-zero vector must not poison the numpy fast path
    (maxabs=0 -> NaN -> undefined int cast before the round-7 guard):
    it quantizes to the all-zero code, ties every cell at idot 0, and
    ranks cells purely by the ascending-cell tiebreak."""
    from scribedb_spark.operators.similarity import sq_assign_cells

    rows = [(i, [float(i + d + 1) for d in range(8)]) for i in range(4)]
    rows.append((20, [0.0] * 8))
    v = spark.createDataFrame(rows, "vec_id long, e array<double>")
    out = sq_assign_cells(v, n_cells=4, breadth=3).collect()
    zero = sorted(
        [(r["rn"], r["cell"]) for r in out if r["vec_id"] == 20]
    )
    # idot ties at 0 for every cell -> preference order is cell asc
    assert zero == [(1, 0), (2, 1), (3, 2)]
    # and normal vectors are unaffected
    assert {r["vec_id"] for r in out} == {0, 1, 2, 3, 20}


def test_ann_train_once_per_session(spark, sf_dir, monkeypatch):
    """Index lifecycle: the FIRST invocation of each trained-index key
    in a session trains/builds (bounded sample collect + Lloyd /
    checkpoint); every later invocation must serve from the session
    cache with ZERO training work. Proven two ways: the TRAIN_EVENTS
    log must not grow, and the trainer itself is patched to raise —
    a second call that retrained would blow up."""
    from scribedb_spark.operators import similarity as sim

    keys = [
        sim.ann_ivf_topk,
        sim.ann_pq_topk,
        sim.ann_prefix_topk,
        sim.ann_index_append,
    ]
    first = [fn(spark, sf_dir).count() for fn in keys]
    n_events = len(sim.TRAIN_EVENTS)

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("retrained inside a warm session")

    monkeypatch.setattr(sim, "_pq_codebooks_int", boom)
    second = [fn(spark, sf_dir).count() for fn in keys]
    assert len(sim.TRAIN_EVENTS) == n_events
    assert second == first


def test_session_cache_evicts_stale_app_entries(spark):
    """cache.session_cache keeps at most the live session's entries:
    artifacts keyed to a stopped SparkContext's applicationId must be
    evicted on the next lookup (they pin dead localCheckpoint RDDs in
    long-lived processes otherwise)."""
    from scribedb_spark import cache

    cache._STORE[("app-dead", "x")] = (None, "stale")
    cache._STORE[("app-dead2", "y")] = (None, "stale")
    got = cache.session_cache(spark, ("mine",), lambda: "fresh")
    assert got == "fresh"
    app = spark.sparkContext.applicationId
    assert ("app-dead", "x") not in cache._STORE
    assert ("app-dead2", "y") not in cache._STORE
    assert {k[0] for k in cache._STORE} == {app}
    # warm hit: builder not re-run
    assert cache.session_cache(spark, ("mine",), lambda: "rebuilt") == "fresh"
    cache.evict({"mine"})


def test_quantize_int8_zero_vector_cross_engine(spark):
    """quantize_int8 on an all-zero vector must emit the all-zero
    code on BOTH engines (divide-by-1 guard): before round 8 the
    Spark expression and the DuckDB q8 idiom divided by max_abs=0,
    yielding NaN codes that diverge from the guarded numpy path."""
    import duckdb

    from scribedb_spark.functions.vector import quantize_int8

    v = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5, 2.0])],
        "vec_id long, e array<double>",
    )
    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    got = {
        r["vec_id"]: r["q"]
        for r in v.select(
            "vec_id", quantize_int8(F.col("e"), max_abs).alias("q")
        ).collect()
    }
    assert got[0] == [0, 0, 0, 0]
    assert got[1] == [64, -127, 32, 127]
    duck = duckdb.sql(
        """
        WITH d AS (SELECT * FROM (VALUES
            (0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5, 2.0]))
            t(vec_id, e)),
        s AS (SELECT vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) AS max_abs
              FROM d)
        SELECT vec_id, list_transform(e, x -> CAST(floor(
          x / (CASE WHEN max_abs = 0 THEN 1 ELSE max_abs END) * 127 + 0.5
        ) AS INT)) AS q FROM s ORDER BY vec_id
        """
    ).fetchall()
    assert {r[0]: r[1] for r in duck} == got


def test_retrain_gate_degraded_index_triggers_one_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The monitor->act loop: a healthy warehouse serves (no rebuild);
    a degraded-but-valid-sidecar index (stands in for an index trained
    on a biased/stale sample) measures below threshold, triggers
    EXACTLY ONE rebuild, and the rebuilt artifacts restore recall."""
    import json
    import os
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    from scribedb_spark import persist
    from scribedb_spark.operators import similarity as S

    healthy = S.ann_retrain_gate(spark, sf_dir).collect()[0]
    assert healthy["decision"] == "serve"
    assert healthy["n_rebuilds"] == 0
    assert healthy["recall_ppm_measured"] >= S._RETRAIN_THRESHOLD_PPM
    assert healthy["recall_ppm_served"] == healthy["recall_ppm_measured"]

    # degrade the persisted index: permute the cell routing (every
    # vector files under the wrong cell, as a badly trained quantizer
    # would route) while keeping the sidecar valid so load_artifact
    # serves it
    dest = persist.artifact_path("ivf_index", sf_dir)
    side = persist.read_sidecar(dest)
    mangled = spark.read.parquet(dest).select(
        "vec_id",
        "e",
        "q",
        ((F.col("cell") + 7) % S.N_CELLS).cast("int").alias("cell"),
    )
    rows = mangled.collect()
    schema = mangled.schema
    shutil.rmtree(dest)
    spark.createDataFrame(rows, schema).write.parquet(dest)
    with open(os.path.join(dest, "_ARTIFACT_META.json"), "w") as fh:
        json.dump(side, fh, sort_keys=True)

    before = len(persist.BUILD_EVENTS)
    acted = S.ann_retrain_gate(spark, sf_dir).collect()[0]
    assert acted["decision"] == "retrain"
    assert acted["n_rebuilds"] == 1
    assert acted["recall_ppm_measured"] < S._RETRAIN_THRESHOLD_PPM
    assert acted["recall_ppm_served"] >= S._RETRAIN_THRESHOLD_PPM
    assert acted["recall_ppm_served"] == healthy["recall_ppm_served"]
    rebuilt = [n for n, _ in persist.BUILD_EVENTS[before:]]
    assert rebuilt == ["ivf_codebook", "ivf_index"]

    # fixed point: the rebuilt warehouse serves with no further builds
    again = S.ann_retrain_gate(spark, sf_dir).collect()[0]
    assert again["decision"] == "serve"
    assert len(persist.BUILD_EVENTS) == before + 2


def test_mips_retrain_gate_degraded_index_triggers_one_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ann_retrain_gate's monitor->act loop applied to the MIPS
    warehouse slots: healthy serves; a cell-permuted mips_index (valid
    sidecar, wrong routing) measures below threshold, triggers exactly
    one rebuild of both MIPS artifacts, and recall is restored."""
    import json
    import os
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    from scribedb_spark import persist
    from scribedb_spark.operators import similarity as S

    healthy = S.ann_mips_retrain_gate(spark, sf_dir).collect()[0]
    assert healthy["decision"] == "serve"
    assert healthy["n_rebuilds"] == 0
    assert healthy["recall_ppm_measured"] >= S._RETRAIN_THRESHOLD_PPM
    assert healthy["recall_ppm_served"] == healthy["recall_ppm_measured"]

    dest = persist.artifact_path("mips_index", sf_dir)
    side = persist.read_sidecar(dest)
    mangled = spark.read.parquet(dest).select(
        "vec_id",
        "e",
        ((F.col("cell") + 7) % S._SQ_CELLS).cast("long").alias("cell"),
    )
    rows = mangled.collect()
    schema = mangled.schema
    shutil.rmtree(dest)
    spark.createDataFrame(rows, schema).write.parquet(dest)
    with open(os.path.join(dest, "_ARTIFACT_META.json"), "w") as fh:
        json.dump(side, fh, sort_keys=True)

    before = len(persist.BUILD_EVENTS)
    acted = S.ann_mips_retrain_gate(spark, sf_dir).collect()[0]
    assert acted["decision"] == "retrain"
    assert acted["n_rebuilds"] == 1
    assert acted["recall_ppm_measured"] < S._RETRAIN_THRESHOLD_PPM
    assert acted["recall_ppm_served"] >= S._RETRAIN_THRESHOLD_PPM
    assert acted["recall_ppm_served"] == healthy["recall_ppm_served"]
    rebuilt = [n for n, _ in persist.BUILD_EVENTS[before:]]
    assert rebuilt == ["mips_codebook", "mips_index"]

    again = S.ann_mips_retrain_gate(spark, sf_dir).collect()[0]
    assert again["decision"] == "serve"
    assert len(persist.BUILD_EVENTS) == before + 2


def test_mips_numpy_assignment_matches_window_pick(spark, sf_dir):
    """r15 optimization: the Arrow/numpy cell assignment (exact int64
    matmul + first-occurrence argmax over cell-ascending columns) must
    equal the (idot DESC, cell ASC) row_number pick it replaced."""
    from pyspark.sql import Window

    from scribedb_spark.operators import similarity as S

    d8, cent, asn = S._mips_codes_and_assignment(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.desc("idot"), "cell")
    ref = (
        d8.crossJoin(F.broadcast(cent))
        .select("vec_id", "cell", S._mips_idot().alias("idot"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    got = {r["c_id"]: r["cell"] for r in asn.select("c_id", "cell").collect()}
    want = {r["vec_id"]: r["cell"] for r in ref.collect()}
    assert got == want


def test_mips_state_cache_builds_once_and_invalidates(spark, tmp_path):
    """r15 optimization: the MIPS index state and the exact top-k
    baseline serve from session caches (one build shared by topk +
    recall report); an embeddings rewrite evicts both via the deps=
    stat fingerprint (the gate-honesty rule)."""
    import shutil

    from scribedb_spark.operators import similarity as S

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet", d / "embeddings.parquet")
    sfd = str(d)

    from scribedb_spark import cache

    before = len(cache.BUILD_EVENTS)

    def builds(tag):
        return cache.BUILD_EVENTS[before:].count(tag)

    S.ann_mips_topk(spark, sfd).count()
    assert builds("mips_state") == 1
    first = sorted(
        map(tuple, S.ann_mips_recall_report(spark, sfd).collect())
    )
    assert builds("mips_state") == 1  # recall report served the cached state
    assert builds("mips_exact") == 1

    # rewrite the embeddings file in place: half the corpus
    import duckdb

    con = duckdb.connect()
    sub = con.execute(
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet' "
        "WHERE vec_id < 250"
    ).arrow()
    (d / "embeddings.parquet").unlink()
    con.register("sub", sub)
    con.execute(
        f"COPY sub TO '{d / 'embeddings.parquet'}' (FORMAT PARQUET)"
    )
    con.close()

    second = sorted(
        map(tuple, S.ann_mips_recall_report(spark, sfd).collect())
    )
    assert builds("mips_state") == 2  # fingerprint change forced a rebuild
    assert second != first  # answered from the new corpus
