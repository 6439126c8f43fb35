"""Generator determinism and planted truth."""

from __future__ import annotations

from collections import Counter

import pytest

from perfbench import gen

DOCS = 4_000


def _kinds(truth: gen.CorpusTruth) -> Counter:
    return Counter(c.kind for c in truth.copies)


def test_corpus_same_seed_same_inputs():
    f1, t1 = gen.corpus(11, DOCS)
    f2, t2 = gen.corpus(11, DOCS)
    assert f1.equals(f2)
    assert t1 == t2


def test_corpus_other_seed_same_shape():
    f1, t1 = gen.corpus(11, DOCS)
    f2, t2 = gen.corpus(12, DOCS)
    assert not f1["text"].equals(f2["text"])
    assert len(f1) == len(f2) == DOCS
    assert _kinds(t1) == _kinds(t2) == Counter(verbatim=200, rotated=200, near=400)
    assert list(f1.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert sorted(f1["doc_id"]) == list(range(DOCS))


def test_corpus_quality_classes_match_curate_rules():
    """The Python mirror of pipeline.curate's filters keeps exactly the
    documents built to pass, and its dedup key gives the survivor count."""
    frame, truth = gen.corpus(11, DOCS)
    kept = set()
    for text in frame["text"]:
        toks = text.split(" ")
        n, n_the = len(toks), text.count("the")
        assert "a" not in text
        score = 0.5 * min(n, 100) / 100 + 0.5 * n_the / n
        if n_the >= 1 and score >= 0.2:
            kept.add(frozenset(toks))
    assert len(kept) == truth.survivors


def test_planted_copies_relate_to_their_base():
    frame, truth = gen.corpus(11, DOCS)
    text = dict(zip(frame["doc_id"], frame["text"]))
    for c in truth.copies:
        a, b = text[c.base].split(" "), text[c.copy].split(" ")
        assert len(a) == len(b)
        if c.kind == "verbatim":
            assert a == b and c.jaccard == 1.0
        elif c.kind == "rotated":
            assert set(a) == set(b) and a != b
        else:
            assert set(a) != set(b) and sum(x != y for x, y in zip(a, b)) == 1
        assert c.jaccard == gen.jaccard(a, b)


def test_drift_truth_shares():
    for seed in range(7):
        t = gen.drift_truth(seed, 200_000)
        assert (t.changed, t.removed, t.added) == (1000, 20, 200)
        assert t.diff_count == 2220 and t.tgt_rows == 200_180
    assert {gen.drift_truth(s).column for s in range(7)} == set(gen.PAYLOAD)


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_compare_tables_are_deterministic_and_drift_is_exact(spark):
    rows, seed = 4_000, 9
    src = gen.keyed_table(spark, seed, rows)
    assert src.collect() == gen.keyed_table(spark, seed, rows).collect()
    assert src.collect() != gen.keyed_table(spark, seed + 1, rows).collect()
    shuffled = gen.keyed_table(spark, seed, rows, shuffled=True).collect()
    assert shuffled != src.collect() and sorted(shuffled) == sorted(src.collect())

    tgt, truth = gen.drift_target(spark, seed, rows)
    s = {r["id"]: r for r in src.collect()}
    t = {r["id"]: r for r in tgt.collect()}
    assert len(t) == truth.tgt_rows
    assert len(set(s) - set(t)) == truth.removed
    assert len(set(t) - set(s)) == truth.added
    changed = [k for k in set(s) & set(t) if s[k] != t[k]]
    assert len(changed) == truth.changed
    for k in changed:
        diff = [c for c in s[k].asDict() if s[k][c] != t[k][c]]
        assert diff == [truth.column]


def test_lsh_model_groups_verbatim_copies():
    frame, truth = gen.corpus(11, DOCS)
    comp = truth.components
    assert comp and set(comp.values()) <= set(comp)
    assert all(comp[c] == c for c in set(comp.values()))
    for c in truth.copies:
        if c.kind == "verbatim":
            assert comp[c.copy] == comp[c.base]


def test_lsh_model_matches_the_library(spark):
    """The model is exact: the library's banding gives the same groups."""
    pytest.importorskip("scribedb_spark")
    from scribedb_spark.operators.dedup import (
        band_signatures,
        connected_components,
        lsh_star_pairs,
    )

    frame, truth = gen.corpus(11, 2_000)
    texts = spark.createDataFrame(frame[["doc_id", "text"]])
    comps = connected_components(lsh_star_pairs(band_signatures(texts))).collect()
    assert {r["doc_id"]: r["component"] for r in comps} == truth.components
