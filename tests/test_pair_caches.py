"""r15 optimization: the non-LSH pair families (ngram, simhash,
levenshtein head distances, containment) serve their verified
rep-pair / scored tables from the session cache — the LSH pair-list
build-once discipline. Builds are counted per tag through the
cache.BUILD_EVENTS ledger. These tests pin:

- build-once: one build per family after both twins ran;
- serve honesty: an in-session corpus REWRITE invalidates every
  family's cached pair state (deps= stat fingerprints), so the second
  read answers from the new corpus, never stale pairs (the
  gate-honesty rule, transitively — cf.
  test_gate_inner_session_caches_invalidate_on_input_change).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from scribedb_spark.session import get_spark

    return get_spark(app_name="pair-cache-tests", shuffle_partitions=4)


SF_DIR = "/root/testdata/sf0.001"


def _ledger():
    """tag -> builds since this call (cache.BUILD_EVENTS ledger)."""
    from scribedb_spark import cache

    before = len(cache.BUILD_EVENTS)
    return lambda tag: cache.BUILD_EVENTS[before:].count(tag)


def test_pair_family_caches_build_once_and_serve(spark):
    from scribedb_spark import cache
    from scribedb_spark import queries as Q

    Q.load_extensions()
    cache.evict(
        {"ngram_rep_pairs", "simhash_rep_pairs", "lev_head_dists",
         "contain_scored"}
    )
    builds = _ledger()

    first = sorted(
        map(tuple, Q.REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect())
    )
    Q.REGISTRY["dedup_ngram_receipts"].fn(spark, SF_DIR).count()
    assert builds("ngram_rep_pairs") == 1  # twins share one build

    Q.REGISTRY["dedup_simhash"].fn(spark, SF_DIR).count()
    Q.REGISTRY["dedup_simhash_receipts"].fn(spark, SF_DIR).count()
    assert builds("simhash_rep_pairs") == 1

    Q.REGISTRY["dedup_levenshtein"].fn(spark, SF_DIR).count()
    Q.REGISTRY["dedup_levenshtein_receipts"].fn(spark, SF_DIR).count()
    assert builds("lev_head_dists") == 1

    # corpus and salted hold the IDENTICAL scored table (same oracle;
    # the salt only relocates candidate-join rows), so they share one
    # tag and one build (r15 optimization round); the batch variant's
    # incoming-restricted table stays tag-distinct
    Q.REGISTRY["dedup_containment_corpus"].fn(spark, SF_DIR).count()
    Q.REGISTRY["dedup_containment_salted"].fn(spark, SF_DIR).count()
    assert builds("contain_scored") == 1

    # warm serve is row-identical to the first (building) call
    second = sorted(
        map(tuple, Q.REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect())
    )
    assert second == first


def test_pair_family_caches_invalidate_on_corpus_rewrite(
    spark, tmp_path_factory
):
    """Plant a pairwise-dissimilar corpus (zero near-dup pairs), run
    every cached family, rewrite documents.parquet to an
    all-identical corpus IN the same directory, and require each
    family's second read to see the new pairs — a stale cache would
    keep answering zero."""
    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    import hashlib

    d = tmp_path_factory.mktemp("paircaches")
    n = 20
    # hash-derived words: two documents share almost no char-3-grams,
    # so no pair can reach the 0.9 jaccard / containment thresholds
    # (plain "tokIxJ" words shared enough grams to cross 0.9)
    rows = [
        (
            i,
            "s%d" % (i % 2),
            " ".join(
                hashlib.md5(b"%d-%d" % (i, j)).hexdigest()[:8]
                for j in range(12)
            ),
        )
        for i in range(n)
    ]
    schema = "doc_id long, source string, text string"
    spark.createDataFrame(rows, schema).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    assert REGISTRY["dedup_ngram_jaccard"].fn(spark, str(d)).count() == 0
    assert REGISTRY["dedup_containment_corpus"].fn(spark, str(d)).count() == 0
    REGISTRY["dedup_simhash"].fn(spark, str(d)).count()
    REGISTRY["dedup_levenshtein"].fn(spark, str(d)).count()

    dup = [
        (i, "s%d" % (i % 2), "the quick brown fox jumps over the lazy dog")
        for i in range(n)
    ]
    spark.createDataFrame(dup, schema).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    # ngram: one identical-text group per source -> within-group
    # cliques at jaccard 1.0
    ng = REGISTRY["dedup_ngram_jaccard"].fn(spark, str(d)).collect()
    per_src = n // 2
    assert len(ng) == 2 * (per_src * (per_src - 1) // 2)
    assert all(r["jaccard"] == 1.0 for r in ng)

    # simhash: ONE rep group (unscoped by source) -> C(n, 2) at 0
    sh = REGISTRY["dedup_simhash"].fn(spark, str(d)).collect()
    assert len(sh) == n * (n - 1) // 2
    assert all(r["hamming"] == 0 for r in sh)

    # levenshtein: every within-group pair at edit distance 0
    lev = REGISTRY["dedup_levenshtein"].fn(spark, str(d)).collect()
    assert len(lev) == n * (n - 1) // 2
    assert all(r["edit_dist"] == 0 for r in lev)

    # containment: every doc reports a within-group container at 1.0
    ct = REGISTRY["dedup_containment_corpus"].fn(spark, str(d)).collect()
    assert len(ct) == n
    assert all(r["containment"] == 1.0 for r in ct)


def test_semantic_caches_build_once_and_invalidate(spark, tmp_path_factory):
    """r15: the exact and ANN semantic-dedup states serve from the
    session cache (pairs + CC built once for dedup_embedding_cosine /
    dedup_semantic_clusters / dedup_semantic_ann / pipeline_semantic);
    an embeddings rewrite evicts them (deps= stat fingerprint)."""
    import shutil

    d = tmp_path_factory.mktemp("semcache")
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet", d / "embeddings.parquet"
    )
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY

    first = sorted(
        map(
            tuple,
            REGISTRY["dedup_semantic_clusters"].fn(spark, sfd).collect(),
        )
    )
    REGISTRY["dedup_embedding_cosine"].fn(spark, sfd).count()
    # clusters + pairs keys shared one kernel run
    assert builds("semantic_state") == 1
    REGISTRY["dedup_semantic_ann"].fn(spark, sfd).count()
    assert builds("semantic_ann_comp") == 1

    # rewrite embeddings in place: half the corpus
    import duckdb

    con = duckdb.connect()
    sub = con.execute(
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet' "
        "WHERE vec_id < 250"
    ).arrow()
    (d / "embeddings.parquet").unlink()
    con.register("sub", sub)
    con.execute(f"COPY sub TO '{d / 'embeddings.parquet'}' (FORMAT PARQUET)")
    con.close()

    second = sorted(
        map(
            tuple,
            REGISTRY["dedup_semantic_clusters"].fn(spark, sfd).collect(),
        )
    )
    assert builds("semantic_state") == 2  # fingerprint change forced a rebuild
    assert second != first  # answered from the new corpus


def test_ivf_serve_caches_build_once_and_invalidate(spark, tmp_path_factory):
    """r15: the served IVF top-5 and the exact-cosine baseline serve
    from the session cache (ann_ivf_topk / ann_recall_report share
    one rerank + one brute-force pass per session); an embeddings
    rewrite evicts both (deps= stat fingerprint)."""
    import shutil

    d = tmp_path_factory.mktemp("ivfcache")
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet", d / "embeddings.parquet"
    )
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    first = sorted(
        map(tuple, REGISTRY["ann_ivf_topk"].fn(spark, sfd).collect())
    )
    REGISTRY["ann_recall_report"].fn(spark, sfd).count()
    REGISTRY["ann_recall_report"].fn(spark, sfd).count()
    assert builds("ann_ivf_topk") == 1  # topk + recall shared one rerank
    assert builds("ivf_exact") == 1  # both recall reads, one baseline

    # rewrite embeddings in place: half the corpus
    import duckdb

    con = duckdb.connect()
    sub = con.execute(
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet' "
        "WHERE vec_id < 250"
    ).arrow()
    (d / "embeddings.parquet").unlink()
    con.register("sub", sub)
    con.execute(f"COPY sub TO '{d / 'embeddings.parquet'}' (FORMAT PARQUET)")
    con.close()

    second = sorted(
        map(tuple, REGISTRY["ann_ivf_topk"].fn(spark, sfd).collect())
    )
    REGISTRY["ann_recall_report"].fn(spark, sfd).count()
    assert builds("ann_ivf_topk") == 2  # fingerprint change forced a rebuild
    assert builds("ivf_exact") == 2
    assert second != first  # answered from the new corpus


def test_substring_span_cache_builds_once_and_invalidates(
    spark, tmp_path_factory
):
    """r15: the rep-grain maximal-span table serves from the session
    cache (spans / rewrite / rewrite_all share one anchored-match +
    pick chain per session); a corpus rewrite evicts it (deps= stat
    fingerprint)."""
    import shutil

    from scribedb_spark import cache

    d = tmp_path_factory.mktemp("substrcache")
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )
    sfd = str(d)

    cache.evict({"substr_rep_spans"})
    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    first = REGISTRY["dedup_substring_spans"].fn(spark, sfd).count()
    REGISTRY["dedup_substring_rewrite"].fn(spark, sfd).count()
    REGISTRY["dedup_substring_rewrite_all"].fn(spark, sfd).count()
    assert builds("substr_rep_spans") == 1  # all three keys, one span build
    assert sum(k[1] == "substr_rep_spans" for k in cache._STORE) == 1

    # rewrite the corpus in place: every doc now shares one long run
    # with doc 0 (a 24-token duplicated head), so the span table must
    # be re-derived from the NEW file
    n = 30
    shared = " ".join("run%d" % j for j in range(24))
    rows = [
        (i, "s0", shared + " tail%d uniq%d" % (i, i), len(shared) + 12)
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars int"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    second = REGISTRY["dedup_substring_spans"].fn(spark, sfd).count()
    assert builds("substr_rep_spans") == 2  # fingerprint change: rebuild
    assert second != first  # answered from the new corpus
    assert second > 0


def test_ann_serve_caches_build_once_and_invalidate(spark, tmp_path_factory):
    """r15 optimization round: the PQ / sign-LSH / seeded-SQ served
    top-5 frames serve from the session cache (one build per key per
    session); an embeddings rewrite evicts all three (deps= stat
    fingerprint)."""
    import shutil

    d = tmp_path_factory.mktemp("annservecache")
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet", d / "embeddings.parquet"
    )
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    keys = (
        "ann_pq_topk", "ann_lsh_topk", "ann_ivf_sq_topk", "vec_knn_graph_ann"
    )
    firsts = {}
    for key in keys:
        firsts[key] = sorted(map(tuple, REGISTRY[key].fn(spark, sfd).collect()))
        REGISTRY[key].fn(spark, sfd).count()
        assert builds(key) == 1, key  # second call served the cache

    # rewrite embeddings in place: half the corpus
    import duckdb

    con = duckdb.connect()
    sub = con.execute(
        "SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet' "
        "WHERE vec_id < 250"
    ).arrow()
    (d / "embeddings.parquet").unlink()
    con.register("sub", sub)
    con.execute(f"COPY sub TO '{d / 'embeddings.parquet'}' (FORMAT PARQUET)")
    con.close()

    for key in keys:
        second = sorted(map(tuple, REGISTRY[key].fn(spark, sfd).collect()))
        assert builds(key) == 2, key  # rewrite forced a rebuild
        assert second != firsts[key], key  # answered from the new corpus


def test_pagerank_and_drill_serve_caches_build_once_and_invalidate(
    spark, tmp_path_factory
):
    """r15 optimization round: graph_pagerank's rank frame and
    compare_drill_rows' diff-row frame serve from the session cache;
    touching their source file (stat fingerprint) evicts them."""
    import shutil

    d = tmp_path_factory.mktemp("servecache")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "events.parquet")
    shutil.copy("/root/testdata/sf0.001/orders.parquet", d / "orders.parquet")
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    first_pr = sorted(
        map(tuple, REGISTRY["graph_pagerank"].fn(spark, sfd).collect())
    )
    REGISTRY["graph_pagerank"].fn(spark, sfd).count()
    first_dr = REGISTRY["compare_drill_rows"].fn(spark, sfd).count()
    REGISTRY["compare_drill_rows"].fn(spark, sfd).count()
    assert builds("graph_pagerank") == 1  # second calls served the cache
    assert builds("compare_drill_rows") == 1

    # re-copy the sources: same bytes, new mtime -> new fingerprint
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "events.parquet")
    shutil.copy("/root/testdata/sf0.001/orders.parquet", d / "orders.parquet")

    second_pr = sorted(
        map(tuple, REGISTRY["graph_pagerank"].fn(spark, sfd).collect())
    )
    second_dr = REGISTRY["compare_drill_rows"].fn(spark, sfd).count()
    assert builds("graph_pagerank") == 2  # fingerprint change: rebuild
    assert builds("compare_drill_rows") == 2
    assert second_pr == first_pr  # identical bytes -> identical answer
    assert second_dr == first_dr


def test_eval_serve_caches_build_once_and_invalidate(spark, tmp_path_factory):
    """r15 optimization round: search_eval_overlap's drift row and
    search_eval_panel's 3-row pane serve from the session cache;
    touching the corpus file (stat fingerprint) evicts them."""
    import shutil

    d = tmp_path_factory.mktemp("evalservecache")
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    first_ov = sorted(
        map(tuple, REGISTRY["search_eval_overlap"].fn(spark, sfd).collect())
    )
    REGISTRY["search_eval_overlap"].fn(spark, sfd).count()
    first_pn = sorted(
        map(tuple, REGISTRY["search_eval_panel"].fn(spark, sfd).collect())
    )
    REGISTRY["search_eval_panel"].fn(spark, sfd).count()
    assert builds("search_eval_overlap") == 1  # second calls served the cache
    assert builds("search_eval_panel") == 1

    # re-copy the corpus: same bytes, new mtime -> new fingerprint
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )

    second_ov = sorted(
        map(tuple, REGISTRY["search_eval_overlap"].fn(spark, sfd).collect())
    )
    second_pn = sorted(
        map(tuple, REGISTRY["search_eval_panel"].fn(spark, sfd).collect())
    )
    assert builds("search_eval_overlap") == 2  # fingerprint change: rebuild
    assert builds("search_eval_panel") == 2
    assert second_ov == first_ov  # identical bytes -> identical answer
    assert second_pn == first_pn


def test_audit_and_curriculum_serve_caches_build_once_and_invalidate(
    spark, tmp_path_factory
):
    """r15 optimization round: the sampled exact-Jaccard audit frame
    (shared by dedup_recall_report / dedup_minhash_band_tune / the
    retune gate) and sample_mix_curriculum's schedule serve from the
    session cache; touching the corpus file (stat fingerprint) evicts
    them."""
    import shutil

    d = tmp_path_factory.mktemp("auditservecache")
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    first_rc = sorted(
        map(tuple, REGISTRY["dedup_recall_report"].fn(spark, sfd).collect())
    )
    REGISTRY["dedup_minhash_band_tune"].fn(spark, sfd).count()
    assert builds("sampled_jac") == 1  # both audits shared one sampled join
    first_cu = sorted(
        map(tuple, REGISTRY["sample_mix_curriculum"].fn(spark, sfd).collect())
    )
    REGISTRY["sample_mix_curriculum"].fn(spark, sfd).count()
    assert builds("sample_mix_curriculum") == 1  # second call served it

    # re-copy the corpus: same bytes, new mtime -> new fingerprint
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )

    second_rc = sorted(
        map(tuple, REGISTRY["dedup_recall_report"].fn(spark, sfd).collect())
    )
    second_cu = sorted(
        map(tuple, REGISTRY["sample_mix_curriculum"].fn(spark, sfd).collect())
    )
    assert builds("sampled_jac") == 2  # fingerprint change forced a rebuild
    assert builds("sample_mix_curriculum") == 2
    assert second_rc == first_rc  # identical bytes -> identical answer
    assert second_cu == first_cu


def test_compare_drill_serve_caches_build_once_and_invalidate(
    spark, tmp_path_factory
):
    """r15 optimization round: compare_cell_drill's grid report and
    compare_col_fingerprint's column report serve from the session
    cache; touching the orders file (stat fingerprint) evicts them."""
    import shutil

    d = tmp_path_factory.mktemp("drillservecache")
    shutil.copy("/root/testdata/sf0.001/orders.parquet", d / "orders.parquet")
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    first_cd = sorted(
        map(tuple, REGISTRY["compare_cell_drill"].fn(spark, sfd).collect())
    )
    REGISTRY["compare_cell_drill"].fn(spark, sfd).count()
    first_cf = sorted(
        map(
            tuple,
            REGISTRY["compare_col_fingerprint"].fn(spark, sfd).collect(),
        )
    )
    REGISTRY["compare_col_fingerprint"].fn(spark, sfd).count()
    assert builds("compare_cell_drill") == 1  # second calls served the cache
    assert builds("compare_col_fingerprint") == 1

    # re-copy the source: same bytes, new mtime -> new fingerprint
    shutil.copy("/root/testdata/sf0.001/orders.parquet", d / "orders.parquet")

    second_cd = sorted(
        map(tuple, REGISTRY["compare_cell_drill"].fn(spark, sfd).collect())
    )
    second_cf = sorted(
        map(
            tuple,
            REGISTRY["compare_col_fingerprint"].fn(spark, sfd).collect(),
        )
    )
    assert builds("compare_cell_drill") == 2  # fingerprint change: rebuild
    assert builds("compare_col_fingerprint") == 2
    assert second_cd == first_cd  # identical bytes -> identical answer
    assert second_cf == first_cf


def test_graph_serve_caches_build_once_and_invalidate(spark, tmp_path_factory):
    """r15 optimization round: the quotient-graph keys' per-doc
    frames (kcore / LPA / triangles) serve from the session cache;
    touching the corpus file (stat fingerprint) evicts them."""
    import shutil

    d = tmp_path_factory.mktemp("graphservecache")
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )
    sfd = str(d)

    builds = _ledger()

    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    keys = ("graph_kcore", "graph_label_propagation", "graph_triangle_count")
    firsts = {}
    for key in keys:
        firsts[key] = sorted(
            map(tuple, REGISTRY[key].fn(spark, sfd).collect())
        )
        REGISTRY[key].fn(spark, sfd).count()
        assert builds(key) == 1, key  # second call served the cache

    # re-copy the corpus: same bytes, new mtime -> new fingerprint
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )

    for key in keys:
        second = sorted(map(tuple, REGISTRY[key].fn(spark, sfd).collect()))
        assert builds(key) == 2, key  # rewrite forced a rebuild
        assert second == firsts[key], key  # identical bytes, same answer


def test_iblt_shared_target_cells_build_once_and_invalidate(
    spark, tmp_path_factory
):
    """r15 second pass: the three IBLT keys reconcile against ONE
    session-cached target cell sketch, and compare_iblt_diff's source
    side patches the cached base sketch (base (+) -removed) instead
    of re-fingerprinting the table. Pins: (a) diff + incremental
    share a single iblt_tgt_cells entry; (b) an in-session
    orders.parquet rewrite evicts the cached sketches, so the second
    decode answers from the new corpus — a stale cell table would
    keep decoding the old (empty) diff."""
    from scribedb_spark import cache
    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    cache.evict({"iblt_base_render", "iblt_base_cells", "iblt_tgt_cells"})
    builds = _ledger()
    REGISTRY["compare_iblt_diff"].fn(spark, SF_DIR).count()
    REGISTRY["compare_iblt_incremental"].fn(spark, SF_DIR).count()
    assert builds("iblt_tgt_cells") == 1  # one target sketch serves both keys

    d = tmp_path_factory.mktemp("ibltcache")
    schema = (
        "o_orderkey long, o_totalprice double, o_orderpriority string, "
        "o_orderstatus string"
    )
    rows = [(i, float(i), "P%d" % (i % 3), "O") for i in range(1, 11)]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(d / "orders.parquet")
    )
    # no key hits the %700/%1000/%2000/%3000 fixture moduli: zero diff
    assert REGISTRY["compare_iblt_diff"].fn(spark, str(d)).count() == 0

    rows2 = rows + [
        (700, 7.0, "P0", "O"),    # priority-prefixed in tgt -> changed
        (1000, 10.0, "P1", "O"),  # cents+100 in tgt -> changed
        (2000, 20.0, "P2", "O"),  # dropped from tgt -> removed
        (3000, 30.0, "P0", "O"),  # dropped from src -> added
    ]
    spark.createDataFrame(rows2, schema).write.mode("overwrite").parquet(
        str(d / "orders.parquet")
    )
    got = {
        r["o_orderkey"]: r["change"]
        for r in REGISTRY["compare_iblt_diff"].fn(spark, str(d)).collect()
    }
    assert got == {
        700: "changed",
        1000: "changed",
        2000: "removed",
        3000: "added",
    }
