"""Salted-join equivalence tests: salting must not change the result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scribedb_spark.operators.skew import hot_keys, salted_join


@pytest.fixture(scope="module")
def skewed_events(spark, sf_dir):
    """events with user_id collapsed so one key dominates (~40%)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return e.withColumn(
        "user_id",
        F.when(F.col("event_id") % 5 < 2, F.lit(7)).otherwise(F.col("user_id")),
    ).select("event_id", "user_id", "value")


@pytest.fixture(scope="module")
def user_dim(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.select("user_id").distinct().withColumn("segment", F.col("user_id") % 3)
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_join_equivalent(skewed_events, user_dim):
    plain = skewed_events.join(user_dim, "user_id", "inner").select(
        "user_id", "event_id", "value", "segment"
    )
    salted = salted_join(skewed_events, user_dim, "user_id", "inner").select(
        "user_id", "event_id", "value", "segment"
    )
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_left_join_equivalent(skewed_events, user_dim):
    dim_partial = user_dim.filter(F.col("user_id") % 2 == 0)
    plain = skewed_events.join(dim_partial, "user_id", "left").select(
        "user_id", "event_id", "segment"
    )
    salted = salted_join(skewed_events, dim_partial, "user_id", "left").select(
        "user_id", "event_id", "segment"
    )
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_hot_keys_finds_planted_skew(skewed_events):
    hot = {r["user_id"] for r in hot_keys(skewed_events, "user_id", 100).collect()}
    assert 7 in hot
    assert len(hot) < 10  # only the genuinely hot tail


def test_salted_join_rejects_unsupported_how(skewed_events, user_dim):
    with pytest.raises(ValueError):
        salted_join(skewed_events, user_dim, "user_id", "full_outer")


# ---------------------------------------------------------------------------
# LSH hot-band skew: star-per-bucket emission (operators/dedup.py)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hot_band_sig(spark):
    """Synthetic band-signature table where ONE signature is shared by
    30% of the corpus (boilerplate-heavy corpus shape): 300 of 1000
    docs land in band 0's bucket 'HOT'; the rest get singleton
    buckets plus a sprinkling of honest small buckets."""
    rows = []
    for i in range(1000):
        if i < 300:
            rows.append((i, 0, "HOT"))
        rows.append((i, 1, f"solo-{i}"))
        if i % 100 < 3:
            rows.append((i, 2, f"small-{i % 100}"))
    return spark.createDataFrame(rows, "doc_id long, band int, s string")


def test_lsh_star_bounds_hot_bucket_emission(hot_band_sig):
    from scribedb_spark.operators.dedup import lsh_star_pairs

    pairs = lsh_star_pairs(hot_band_sig)
    n = pairs.count()
    # hot bucket: 299 star edges (clique would emit 300*299/2 = 44850);
    # solo buckets: 0; the 3 small buckets: (10-1) edges each, minus
    # overlap with hot-bucket edges rooted at the same min doc
    assert n < 350, f"emission not bounded: {n} pairs"
    hot_edges = pairs.filter(F.col("doc_id1") == 0).count()
    assert hot_edges >= 299  # the star spans the whole hot bucket


def test_lsh_star_components_equal_clique_components(hot_band_sig):
    """The star preserves grouping exactly: connected components over
    star edges == components over the full clique edges."""
    from scribedb_spark.operators.dedup import (
        connected_components,
        lsh_star_pairs,
    )

    sig = hot_band_sig.filter(F.col("doc_id") < 80)  # keep clique cheap
    a = sig.select(F.col("doc_id").alias("doc_id1"), "band", "s")
    b = sig.select(F.col("doc_id").alias("doc_id2"), "band", "s")
    clique = (
        a.join(b, on=["band", "s"])
        .filter(F.col("doc_id1") < F.col("doc_id2"))
        .select("doc_id1", "doc_id2")
        .distinct()
    )
    star = lsh_star_pairs(sig)

    def comp_map(pairs):
        return {
            r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()
        }

    assert comp_map(star) == comp_map(clique)


def _reference_lsh_star_pairs(sig):
    """The earlier lsh_star_pairs: ``sig`` forks into the roots arm and
    the join arm unfiltered."""
    roots = sig.groupBy("band", "s").agg(F.min("doc_id").alias("root"))
    return (
        sig.join(roots, on=["band", "s"])
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("doc_id1"), F.col("doc_id").alias("doc_id2"))
        .distinct()
    )


def test_lsh_star_reads_lazy_signatures_once(spark, hot_band_sig):
    """On a lazily built signature frame the shingle -> minhash stage
    runs once: the executed plan has one shingling Generate, or else a
    ReusedExchange. Rows equal the earlier formulation, also with a
    null doc_id (a copy of doc 0's text) and on the hot-band table."""
    import pyarrow as pa

    from scribedb_spark.operators.dedup import band_signatures, lsh_star_pairs

    words = [f"w{i}" for i in range(40)]
    texts = [" ".join(words[i : i + 12]) for i in range(0, 28, 2)]
    texts += [t.replace("w20", "x") for t in texts[:6]]  # near copies
    ids = list(range(len(texts))) + [None]
    docs = spark.createDataFrame(
        pa.table(
            {"doc_id": ids, "text": texts + [texts[0]]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
    )
    star = lsh_star_pairs(band_signatures(docs))
    rows = sorted(star.collect())
    final = star._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    shingling = [ln for ln in final.splitlines() if "Generate" in ln and "regexp_extract_all" in ln]
    assert len(shingling) == 1 or "ReusedExchange" in final, final
    assert rows and rows == sorted(_reference_lsh_star_pairs(band_signatures(docs)).collect())
    hot = hot_band_sig.localCheckpoint()  # one scan of the list-built rows
    assert sorted(lsh_star_pairs(hot).collect()) == sorted(
        _reference_lsh_star_pairs(hot).collect()
    )


def test_containment_salted_equals_unsalted_on_hot_token(spark):
    """dedup_containment_salted: salting the candidate join's token
    key must relocate rows, never drop them — equality pinned on a
    fixture where one token ('the') appears in 30% of docs (the
    zipfian hot key the salt exists for), including near-containment
    pairs that only survive via the hot token's bucket."""
    from scribedb_spark.operators.dedup import _CONTAIN_SALT, containment_best

    rows = []
    for i in range(60):
        base = [f"w{i}_{j}" for j in range(8)]
        if i % 10 < 3:
            base[0] = "the"  # hot token in 30% of docs
        rows.append((i, "s", " ".join(base)))
    # planted containments: doc 100 contained in 101, both with 'the'
    rows.append((100, "s", "the alpha beta gamma delta epsilon zeta eta"))
    rows.append(
        (101, "s", "the alpha beta gamma delta epsilon zeta eta theta iota")
    )
    # and one without the hot token
    rows.append((102, "s", "kappa lam mu nu xi omicron pi rho"))
    rows.append((103, "s", "kappa lam mu nu xi omicron pi rho sigma tau"))
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    plain = {
        (r.doc_id1, r.doc_id2, r.containment)
        for r in containment_best(d).collect()
    }
    salted = {
        (r.doc_id1, r.doc_id2, r.containment)
        for r in containment_best(d, salt=_CONTAIN_SALT).collect()
    }
    assert plain == salted
    assert (100, 101, 1.0) in salted
    assert (102, 103, 1.0) in salted
