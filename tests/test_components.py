"""connected_components: equal to a Python union-find and to the
earlier formulation (two convergence probes per round and a
``subtract`` for the roots), kept below as a reference."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from conftest import _jobs_in
from pyspark.sql import functions as F

from scribedb_spark.operators.dedup import connected_components


def _reference_components(pairs, id1="doc_id1", id2="doc_id2", out_id="doc_id"):
    """The earlier connected_components: contraction, then star rounds
    with a groupBy-count probe and a semi-join probe per round, roots
    found by ``subtract``."""
    pairs = pairs.select(F.col(id1).alias("doc_id1"), F.col(id2).alias("doc_id2"))

    def contract(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["doc_id1"].to_numpy(), pdf["doc_id2"].to_numpy()):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    lo, hi = (ra, rb) if ra < rb else (rb, ra)
                    parent[hi] = lo
        us = [x for x in parent if find(x) != x]
        if us:
            yield pd.DataFrame({"u": us, "v": [find(x) for x in us]})

    e = pairs.mapInPandas(contract, schema="u long, v long").localCheckpoint()

    def star_min(sym):
        return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    def is_star_forest(e):
        multi = e.groupBy("u").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
        chain = e.alias("a").join(e.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi")
        return multi.isEmpty() and chain.isEmpty()

    for _ in range(31):
        if is_star_forest(e):
            break
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = star_min(sym)
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u2"), F.col("m").alias("v2"))
            .filter(F.col("u2") != F.col("v2"))
            .select(F.col("u2").alias("u"), F.col("v2").alias("v"))
            .distinct()
        )
        sym2 = large.unionAll(large.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins2 = star_min(sym2)
        small = (
            sym2.filter(F.col("v") < F.col("u"))
            .join(mins2, "u")
            .select(F.col("v").alias("u2"), F.col("m").alias("v2"))
            .unionAll(mins2.select(F.col("u").alias("u2"), F.col("m").alias("v2")))
            .filter(F.col("u2") != F.col("v2"))
            .select(F.col("u2").alias("u"), F.col("v2").alias("v"))
            .distinct()
        )
        e = small.localCheckpoint()
    else:
        raise RuntimeError("reference did not converge")
    comp = e.select(F.col("u").alias(out_id), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias(out_id)).subtract(e.select(F.col("u").alias(out_id)))
    return comp.unionAll(roots.withColumn("component", F.col(out_id)))


def _union_find(edges):
    """{node: min node of its component} over the non-self-loop edges."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_graph():
    """700 random edges over 3,000 scattered ids: many small
    components, the largest of 15 nodes."""
    rng = random.Random(7)
    ids = rng.sample(range(10**6), 3000)
    return [(rng.choice(ids), rng.choice(ids)) for _ in range(700)]


_CASES = {
    "self-loop": [(5, 5), (5, 6), (9, 9)],
    "duplicate-and-reversed": [(1, 2), (2, 1), (1, 2), (3, 2), (7, 8), (8, 7), (8, 9)],
    "chain-200": [(i, i + 1) for i in range(199)],
    "random-3000": _random_graph(),
}


def _edges(spark, cases, n_parts, c1="doc_id1", c2="doc_id2"):
    """The cases as one disjoint graph in a driver-local frame (no
    Python worker job), checkpointed: case k's ids are shifted by
    k * 10**7 and its edges cut into ``n_parts`` contiguous slices, so
    with 8 partitions every case spans partitions and leaves forests
    for the star rounds to stitch."""
    rows = [
        (a + k * 10**7, b + k * 10**7, i * n_parts // len(edges))
        for k, edges in enumerate(cases)
        for i, (a, b) in enumerate(edges)
    ]
    names = (c1, c2, "slice")
    table = pa.table(
        {name: [r[i] for r in rows] for i, name in enumerate(names)},
        schema=pa.schema([(name, pa.int64()) for name in names]),
    )
    df = spark.createDataFrame(table)
    edges = [(a, b) for a, b, _ in rows]
    return df.repartitionByRange(n_parts, "slice").drop("slice").localCheckpoint(), edges


@pytest.mark.parametrize("n_parts", [1, 8])
@pytest.mark.parametrize("cases", [[], sorted(_CASES)], ids=["empty", "all-cases"])
def test_components_match_union_find_and_reference(spark, cases, n_parts):
    """Rows and dtypes equal the earlier formulation and a Python
    union-find, on 1 partition and on 8 (where the star rounds run);
    the 8-partition runs rename the id columns."""
    c1, c2, out = ("a", "b", "node") if n_parts == 8 else ("doc_id1", "doc_id2", "doc_id")
    pairs, edges = _edges(spark, [_CASES[c] for c in cases], n_parts, c1, c2)
    got = connected_components(pairs, id1=c1, id2=c2, out_id=out)
    ref = _reference_components(pairs, id1=c1, id2=c2, out_id=out)
    assert got.dtypes == ref.dtypes == [(out, "bigint"), ("component", "bigint")]
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in ref.collect())
    assert rows == sorted(_union_find(edges).items())


def test_components_job_budget(spark):
    """A single-partition input that the contraction already turns into
    a star forest runs at most five jobs end to end: the contraction
    checkpoint, the per-node table checkpoint, its convergence probe
    and the collect of its projection."""
    edges = [(1, 2), (1, 3), (4, 3), (10, 11), (12, 10)]
    pairs, _ = _edges(spark, [edges], 1)
    rows, jobs = _jobs_in(
        spark.sparkContext, "components-budget", lambda: connected_components(pairs).collect()
    )
    assert sorted(tuple(r) for r in rows) == sorted(_union_find(edges).items())
    assert jobs <= 5


def test_components_round_bound(spark, monkeypatch):
    """Convergence is checked after the last allowed round, and a graph
    that is still not a star forest then raises, naming the function
    and its out_id."""
    from scribedb_spark.operators import dedup

    edges = _CASES["duplicate-and-reversed"]  # one star round on 8 slices
    pairs, _ = _edges(spark, [edges], 8)
    monkeypatch.setattr(dedup, "MAX_STAR_ROUNDS", 1)
    rows = connected_components(pairs, out_id="node").collect()
    assert sorted(tuple(r) for r in rows) == sorted(_union_find(edges).items())
    monkeypatch.setattr(dedup, "MAX_STAR_ROUNDS", 0)
    with pytest.raises(RuntimeError, match=r"connected_components \(out_id='node'\).* 0 rounds"):
        connected_components(pairs, out_id="node")
