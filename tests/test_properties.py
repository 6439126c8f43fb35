"""Property-based tests (hypothesis; SURVEY.md §5 engine test plan (e)):
compare/fingerprint invariants on arbitrary small datasets."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        st.text(
            alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F),
            max_size=12,
        ),
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
    ),
    min_size=1,
    max_size=30,
)

_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "a int, s string, x float")


@given(rows=ROWS)
@_settings
def test_compare_reflexive(spark, rows):
    from scribedb_spark.compare import compare

    df = _df(spark, rows)
    res = compare(df, df)
    assert res.equal and res.diff_count == 0


@given(rows=ROWS, drop=st.integers(min_value=0, max_value=29))
@_settings
def test_compare_detects_dropped_row(spark, rows, drop):
    from scribedb_spark.compare import compare

    drop = drop % len(rows)
    df = _df(spark, rows)
    shrunk = _df(spark, rows[:drop] + rows[drop + 1 :])
    res = compare(df, shrunk)
    assert not res.equal
    # the multiset difference is exactly one row (the dropped one)
    assert res.diff_count == 1
    r = res.diff.collect()[0]
    assert r["side"] == "src"


@given(rows=ROWS, parts=st.integers(min_value=1, max_value=7))
@_settings
def test_fp_unordered_partition_invariant(spark, rows, parts):
    from scribedb_spark.canonical import fp_unordered

    df = _df(spark, rows)
    a = fp_unordered(df).collect()[0]
    b = fp_unordered(df.repartition(parts)).collect()[0]
    assert (a["fp"], a["n_rows"]) == (b["fp"], b["n_rows"])


@given(rows=ROWS)
@_settings
def test_symmetric_diff_matches_exceptall(spark, rows):
    """The one-shuffle rewrite must reproduce exceptAll-both-ways
    exactly (bag semantics)."""
    from scribedb_spark.compare import symmetric_diff

    df = _df(spark, rows)
    half = df.filter(F.col("a") % 2 == 0)
    dup = df.unionAll(half)  # duplicates on one side

    # key=repr: plain tuple ordering raises on None-vs-float when
    # rows tie on every earlier field
    got = sorted(
        (tuple(r) for r in symmetric_diff(df, dup).collect()), key=repr
    )
    only_src = df.exceptAll(dup).withColumn("side", F.lit("src"))
    only_tgt = dup.exceptAll(df).withColumn("side", F.lit("tgt"))
    want = sorted(
        (tuple(r) for r in only_src.unionByName(only_tgt).collect()), key=repr
    )
    assert got == want


def test_chunk_split_reassembles_documents(spark, sf_dir):
    """Structural invariant (stronger than oracle equality): taking
    each chunk's NON-overlapping head (the first `step` tokens) in
    chunk order reconstructs every document exactly — no token is
    lost or duplicated by the windowing."""
    from scribedb_spark.operators.packing import CHUNK_STEP
    from scribedb_spark.queries import REGISTRY, load_extensions
    from scribedb_spark.sources import table

    load_extensions()
    chunks = REGISTRY["text_chunk_split"].fn(spark, sf_dir)
    heads = chunks.select(
        "doc_id",
        "chunk_idx",
        F.slice(F.split("chunk_text", " "), 1, CHUNK_STEP).alias("head"),
    )
    rebuilt = (
        heads.groupBy("doc_id")
        .agg(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_idx", "head"))
                        ),
                        lambda s: s["head"],
                    )
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    bad = (
        rebuilt.join(docs, "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_pack_greedy_budget_invariant(spark, sf_dir):
    """Packing invariants: (a) within a (source, pack) the docs are
    doc_id-contiguous in token order — pack_id is monotone in doc_id;
    (b) every pack except a shard's last STARTS before the budget
    boundary it belongs to (its first doc begins inside the pack)."""
    from scribedb_spark.operators.packing import PACK_BUDGET
    from scribedb_spark.queries import REGISTRY, load_extensions
    from pyspark.sql import Window

    load_extensions()
    packed = REGISTRY["text_pack_greedy"].fn(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    nonmono = (
        packed.withColumn("prev", F.lag("pack_id").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("pack_id") < F.col("prev")))
        .count()
    )
    assert nonmono == 0
    # each doc's pack is where its first token lands
    cum = F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
    wrong = (
        packed.withColumn("before", cum - F.col("n_tokens"))
        .filter(F.col("pack_id") != F.floor(F.col("before") / PACK_BUDGET))
        .count()
    )
    assert wrong == 0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=-100, max_value=100),
            st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[0],
    ),
    mutate=st.integers(min_value=0, max_value=24),
    drop_src=st.booleans(),
)
@_settings
def test_keyed_diff_cols_classification(spark, rows, mutate, drop_src):
    """keyed_diff_cols classifies arbitrary keyed mutations correctly:
    a row dropped from one side shows as added/removed, a payload
    mutation shows as changed with exactly the mutated column named,
    identical rows never appear."""
    from scribedb_spark.compare import keyed_diff_cols

    mutate = mutate % len(rows)
    mut_key = rows[mutate][0]
    src_rows = rows
    tgt_rows = [
        (k, v + 1 if k == mut_key else v, s) for (k, v, s) in rows
    ]
    dropped_key = None
    if drop_src and len(rows) > 1:
        # drop a DIFFERENT key than the mutated one from tgt
        for k, _, _ in rows:
            if k != mut_key:
                dropped_key = k
                break
        tgt_rows = [r for r in tgt_rows if r[0] != dropped_key]
    src = spark.createDataFrame(src_rows, "k int, v int, s string")
    tgt = spark.createDataFrame(tgt_rows, "k int, v int, s string")
    out = {r["k"]: r for r in keyed_diff_cols(src, tgt, ["k"]).collect()}
    expected_keys = {mut_key} | ({dropped_key} if dropped_key is not None else set())
    assert set(out) == expected_keys
    assert out[mut_key]["change"] == "changed"
    assert out[mut_key]["changed_cols"] == "v"
    if dropped_key is not None:
        assert out[dropped_key]["change"] == "removed"
        assert out[dropped_key]["changed_cols"] == ""


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.decimals(
                min_value="-99999.99",
                max_value="99999.99",
                places=2,
                allow_nan=False,
                allow_infinity=False,
            ),
            st.datetimes(
                min_value=__import__("datetime").datetime(1990, 1, 1),
                max_value=__import__("datetime").datetime(2050, 12, 31),
            ),
            st.one_of(st.none(), st.text(alphabet="xyz ", max_size=8)),
        ),
        min_size=1,
        max_size=20,
    ),
    parts=st.integers(min_value=1, max_value=7),
)
@_settings
def test_fp_typed_canonicalization_partition_invariant(spark, rows, parts):
    """Canonical rendering of decimal / timestamp / nullable-string
    cells is deterministic and partition-independent: the md5-based
    commutative fingerprint of a typed dataset is identical across
    repartitionings, and a single-cell decimal bump changes it."""
    from decimal import Decimal

    from scribedb_spark.canonical import fp_unordered

    schema = "a long, d decimal(18,2), ts timestamp, s string"
    df = spark.createDataFrame(rows, schema)
    a = fp_unordered(df).collect()[0]
    b = fp_unordered(df.repartition(parts)).collect()[0]
    assert (a["fp"], a["n_rows"]) == (b["fp"], b["n_rows"])

    bumped = [
        (r[0], r[1] + Decimal("0.01"), r[2], r[3]) if i == 0 else r
        for i, r in enumerate(rows)
    ]
    df2 = spark.createDataFrame(bumped, schema)
    c = fp_unordered(df2).collect()[0]
    assert c["fp"] != a["fp"]


@given(
    mutated=st.sets(
        st.integers(min_value=1, max_value=2000), min_size=1, max_size=8
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merkle_drill_locates_exactly_mutated_chunks(spark, mutated):
    """merkle_drill soundness + completeness: mutating an arbitrary
    key set must surface EXACTLY the chunks containing those keys —
    the descent prunes nothing it shouldn't (no false negatives from
    a parent hash collision path) and flags nothing clean."""
    from scribedb_spark.compare import merkle_drill

    base = spark.range(1, 2001).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 3).cast("long").alias("v"),
    )
    tgt = base.withColumn(
        "v",
        F.when(
            F.col("k").isin(*mutated), F.col("v") + 1
        ).otherwise(F.col("v")),
    )
    got = {
        r["chunk_id"]
        for r in merkle_drill(base, tgt, ["k", "v"], ["k"], bucket_rows=100).collect()
    }
    # k is 1..2000 dense, sorted by k: row number rn == k, chunk =
    # (rn-1) div 100
    want = {(k - 1) // 100 for k in mutated}
    assert got == want


def test_bloom_prefilter_exact_even_when_bloom_saturated(spark, sf_dir):
    """The bloom is an OPTIMIZATION, not a semantic: shrink it to 256
    bits so nearly every probe is a false positive — the verify join
    must still produce the exact answer (and false negatives are
    impossible by construction)."""
    from scribedb_spark.operators import dedup as D

    baseline = {
        (r["doc_id"], r["dup_of"], r["is_dup"])
        for r in D.dedup_bloom_prefilter(spark, sf_dir).collect()
    }
    orig_bits = D._BLOOM_BITS
    try:
        D._BLOOM_BITS = 256  # ~every slot set -> all-candidates regime
        saturated = {
            (r["doc_id"], r["dup_of"], r["is_dup"])
            for r in D.dedup_bloom_prefilter(spark, sf_dir).collect()
        }
    finally:
        D._BLOOM_BITS = orig_bits
    assert saturated == baseline


SIG_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),  # doc_id (collisions fine)
        st.integers(min_value=0, max_value=3),  # band
        st.integers(min_value=0, max_value=6),  # bucket signature id
    ),
    min_size=1,
    max_size=60,
)


@given(rows=SIG_ROWS)
@_settings
def test_lsh_star_components_equal_clique_property(spark, rows):
    """For ANY band-signature table (including hot buckets and
    repeated rows), star edges span exactly the same connected
    components as the full clique edges."""
    from scribedb_spark.operators.dedup import (
        connected_components,
        lsh_star_pairs,
    )

    sig = spark.createDataFrame(
        [(d, b, f"s{s}") for d, b, s in rows], "doc_id long, band int, s string"
    ).distinct()
    a = sig.select(F.col("doc_id").alias("doc_id1"), "band", "s")
    b = sig.select(F.col("doc_id").alias("doc_id2"), "band", "s")
    clique = (
        a.join(b, on=["band", "s"])
        .filter(F.col("doc_id1") < F.col("doc_id2"))
        .select("doc_id1", "doc_id2")
        .distinct()
    )
    star = lsh_star_pairs(sig)

    def comp(pairs):
        return {
            r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()
        }

    assert comp(star) == comp(clique)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-100, max_value=100),
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7F
                ),
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    swap=st.booleans(),
)
@_settings
def test_column_fingerprints_localize_exactly(spark, rows, swap):
    """Mutating (or key-swapping) ONE column flags that column and
    only that column; identical frames flag nothing."""
    from scribedb_spark.compare import column_fingerprints

    src = spark.createDataFrame(rows, "k long, num int, txt string")
    same = {
        r["col_name"]: r["equal"]
        for r in column_fingerprints(src, src, ["k"]).collect()
    }
    assert same == {"num": True, "txt": True}
    tgt = src.withColumn(
        "num", F.when(F.col("k") == rows[0][0], F.col("num") + 1).otherwise(F.col("num"))
    )
    flags = {
        r["col_name"]: r["equal"]
        for r in column_fingerprints(src, tgt, ["k"]).collect()
    }
    assert flags == {"num": False, "txt": True}


DOC_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # doc_id
        st.lists(
            st.sampled_from(["spark", "row", "key", "agg", "scan", "hash",
                             "table", "value", "sort", "merge"]),
            min_size=1,
            max_size=8,
        ),
    ),
    min_size=2,
    max_size=20,
    unique_by=lambda t: t[0],
)


@given(rows=DOC_ROWS)
@_settings
def test_containment_prefix_filter_is_exact(spark, rows):
    """The containment PPJoin-style prefix bound must lose NO true
    pair: on arbitrary small corpora, the filtered pipeline's
    (batch-doc, best-container) results equal brute force computed in
    Python."""
    import math

    from scribedb_spark.operators import dedup as D

    docs = [(i, "s0", " ".join(words)) for i, words in rows]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")

    import scribedb_spark.queries as Q

    # run the registered pipeline against a temp parquet dir
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (r["doc_id1"], r["doc_id2"], r["containment"])
            for r in D.dedup_containment(spark, tmp).collect()
        }

    # brute force in Python
    toks = {i: set(t.split(" ")) for i, _, t in docs}
    best = {}
    for a in toks:
        if a % 20 != 0:
            continue
        for b in toks:
            if a == b:
                continue
            inter = len(toks[a] & toks[b])
            c = inter / len(toks[a])
            if c >= D._CONTAIN_T:
                cr = round(c, 6)
                cur = best.get(a)
                if cur is None or (-cr, b) < (-cur[1], cur[0]):
                    best[a] = (b, cr)
    want = {(a, b, c) for a, (b, c) in best.items()}
    assert got == want


def _id_oriented_triangles(spark, edges):
    """Round-6 id-oriented wedge join — kept as the reference twin for
    the degree-ordered rewrite (counts must be identical under any
    acyclic orientation)."""
    x = edges.select(F.col("doc_id1").alias("a"), F.col("doc_id2").alias("b"))
    y = edges.select(F.col("doc_id1").alias("b"), F.col("doc_id2").alias("c"))
    z = edges.select(F.col("doc_id1").alias("a"), F.col("doc_id2").alias("c"))
    tri = x.join(y, "b").join(z, ["a", "c"])
    pern = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
    )
    return pern.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.sets(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=0,
        max_size=60,
    )
)
def test_triangle_counts_orientation_invariant(spark, pairs):
    """Degree-ordered orientation (round 7) must produce the same
    per-node triangle counts as the id-ordered twin on arbitrary
    graphs — orientation changes the wedge enumeration order, never
    the triangle set."""
    from scribedb_spark.operators.graph import triangle_counts

    edges = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_id1 long, doc_id2 long").coalesce(2)
    got = {
        (r.doc_id, r.n_triangles) for r in triangle_counts(df).collect()
    }
    want = {
        (r.doc_id, r.n_triangles)
        for r in _id_oriented_triangles(spark, df).collect()
    }
    assert got == want


def test_triangle_counts_skewed_hub(spark):
    """A hub holding ~30% of all edges — the boilerplate-cluster shape
    that motivates degree orientation. Counts must match the id-ordered
    twin, and the hub must anchor zero wedges (every incident edge
    points INTO the higher-degree hub)."""
    from scribedb_spark.operators.graph import triangle_counts

    hub = 0
    spokes = list(range(1, 31))  # hub degree 30
    edges = {(hub, s) for s in spokes}
    # ring among spokes -> hub-spoke-spoke triangles
    for i in range(len(spokes)):
        a, b = spokes[i], spokes[(i + 1) % len(spokes)]
        edges.add((min(a, b), max(a, b)))
    # a few spoke-spoke chords for asymmetry
    edges |= {(1, 9), (2, 17), (5, 23), (11, 29)}
    df = spark.createDataFrame(sorted(edges), "doc_id1 long, doc_id2 long")
    got = {(r.doc_id, r.n_triangles) for r in triangle_counts(df).collect()}
    want = {
        (r.doc_id, r.n_triangles)
        for r in _id_oriented_triangles(spark, df).collect()
    }
    assert got == want
    # hub participates in 30 ring triangles + 4 chord triangles
    assert dict(got)[hub] == 34


def test_resize_kernel_oracle_agree_on_non_ascii_newlines(spark):
    """The byte-based resize oracle (hex-pair stride) must agree with
    the Spark kernel on payloads the old char-based oracle silently
    broke on: newlines (RE2 '.' skips them) and multi-byte UTF-8
    (chars != bytes)."""
    import duckdb

    from scribedb_spark.operators.multimodal import (
        RESIZE_SCHEMA,
        fake_resize_batches,
    )

    texts = [
        (0, "plain ascii"),
        (1, "line one\nline two\nline three"),
        (2, "héllo wörld ™ — naïve façade"),
        (3, "mix\nof ünicode\nand\nnewlines ✓"),
        (4, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    got = {
        r["doc_id"]: (r["orig_bytes"], r["new_bytes"], r["resized_md5"])
        for r in df.mapInPandas(fake_resize_batches, schema=RESIZE_SCHEMA).collect()
    }
    conn = duckdb.connect()
    conn.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    conn.executemany("INSERT INTO documents VALUES (?, ?)", texts)
    from scribedb_spark.queries import REGISTRY, load_extensions

    load_extensions()
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in conn.execute(REGISTRY["multimodal_resize"].oracle).fetchall()
    }
    conn.close()
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.lists(st.integers(-40, 40), min_size=8, max_size=8),
        min_size=6,
        max_size=24,
    )
)
def test_integer_lloyd_numpy_equals_duckdb(data):
    """The integer Lloyd trainer must produce IDENTICAL codebooks in
    numpy (_pq_codebooks_int, the Spark side) and in the generated
    DuckDB CTE chain (_int_lloyd_ctes, the oracle side) on ARBITRARY
    inputs — not just the driver corpus. Exercises init, integer
    argmin ties, round-half-away-from-zero means, and the
    empty-cluster keep-previous path. Vectors are 8-dim (m=1) with an
    /16 exact-binary-fraction float encoding so the int8 quantization
    is bit-identical on both sides."""
    import duckdb
    import numpy as np

    from scribedb_spark.operators.similarity import (
        _int_lloyd_ctes,
        _pq_codebooks_int,
    )

    rows = []
    for i, v in enumerate(data):
        if all(x == 0 for x in v):
            v = v[:-1] + [1]  # quantization divides by max_abs
        rows.append((i, [x / 16.0 for x in v]))
    k, iters = 4, 2

    V = np.array([v for _, v in rows], dtype=np.float64)
    maxabs = np.max(np.abs(V), axis=1, keepdims=True)
    Q = np.floor(V / maxabs * 127 + 0.5).astype(np.int64)
    want = _pq_codebooks_int(Q, m=1, k=k, iters=iters)[0]

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    ctes = _int_lloyd_ctes(1, k, iters, 2048, dim=8)
    got = con.execute(
        f"WITH {ctes} SELECT j, c, cv FROM c{iters} ORDER BY c"
    ).fetchall()
    con.close()
    got_arr = np.array([r[2] for r in got], dtype=np.int64)
    assert got_arr.shape == want.shape, (got_arr.shape, want.shape)
    assert (got_arr == want).all()


def test_drill_rows_equals_unrestricted_diff(spark, sf_dir):
    """compare_drill_rows: the hot-chunk restriction must be LOSSLESS
    — the bounded row fetch equals the full unrestricted symmetric
    exceptAll diff of the same two sides (a row can only differ if
    its chunk fingerprint differs, because the fingerprint sums every
    row's term)."""
    from pyspark.sql import functions as FF

    from scribedb_spark.queries import REGISTRY, load_extensions
    from scribedb_spark.sources import table

    load_extensions()
    got = {
        tuple(r) for r in REGISTRY["compare_drill_rows"].fn(spark, sf_dir).collect()
    }
    cents = FF.floor(FF.col("o_totalprice") * 100 + FF.lit(0.5)).cast("long")
    base = table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        cents.alias("cents"), "o_orderpriority",
    )
    tgt = base.withColumn(
        "o_orderstatus",
        FF.when(FF.col("o_orderkey") % 1500 == 0, FF.lit("X")).otherwise(
            FF.col("o_orderstatus")
        ),
    ).withColumn(
        "cents",
        FF.col("cents")
        + FF.when(FF.col("o_orderkey") % 2000 == 0, FF.lit(100)).otherwise(
            FF.lit(0)
        ),
    )
    cols = base.columns
    want = {
        tuple(r)
        for r in base.exceptAll(tgt)
        .select(FF.lit("src").alias("side"), *cols)
        .unionByName(tgt.exceptAll(base).select(FF.lit("tgt").alias("side"), *cols))
        .collect()
    }
    assert got == want and got


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=60)
)
def test_quantile_grid_formula_is_type1(vals):
    """(n*q + 99) // 100 rank selection == numpy's inverted_cdf
    (type-1) quantile on arbitrary integer data — the semantic claim
    behind agg_quantile_grid, checked against an independent
    implementation."""
    import numpy as np

    s = sorted(vals)
    n = len(s)
    for q in (25, 50, 75, 95):
        rank = (n * q + 99) // 100  # 1-based ceil(q*n/100)
        ours = s[max(rank, 1) - 1]
        ref = np.quantile(np.array(s), q / 100, method="inverted_cdf")
        assert ours == ref, (q, n, ours, ref)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=50)
)
def test_mad_scaled_integer_formulas(vals):
    """The 2x/4x scaled-integer median/MAD/fence pipeline of
    agg_mad_outliers == a plain float reference (statistics.median,
    |x - med| > 3 * MAD) on arbitrary integers: doubling the scale at
    each median makes the .5 cases exact, so the integer fence can
    never disagree with the real-valued definition."""
    import statistics

    s = sorted(vals)
    n = len(s)
    # selection mirrors the SQL: ranks (n+1)//2 and (n+2)//2
    sel = {(n + 1) // 2, (n + 2) // 2}
    picked = [s[r - 1] for r in sorted(sel)]
    med2x = 2 * picked[0] if len(picked) == 1 else picked[0] + picked[1]
    assert med2x / 2 == statistics.median(vals)

    dev2x = sorted(abs(2 * x - med2x) for x in vals)
    sel2 = {(n + 1) // 2, (n + 2) // 2}
    picked2 = [dev2x[r - 1] for r in sorted(sel2)]
    mad4x = 2 * picked2[0] if len(picked2) == 1 else picked2[0] + picked2[1]
    ref_mad = statistics.median([abs(x - med2x / 2) for x in vals])
    assert mad4x / 4 == ref_mad

    n_out = sum(1 for x in vals if 2 * abs(2 * x - med2x) > 3 * mad4x)
    ref_out = sum(
        1 for x in vals if abs(x - med2x / 2) > 3 * ref_mad
    )
    assert n_out == ref_out


@given(rows=DOC_ROWS)
@_settings
def test_containment_corpus_and_salted_exact(spark, rows):
    """Corpus-mode containment (every doc, no batch filter) and its
    salted twin must both equal Python brute force on arbitrary small
    corpora — the prefix bound stays lossless without the batch
    restriction, and salting relocates rows without dropping any."""
    from scribedb_spark.operators import dedup as D

    docs = [(i, "s0", " ".join(words)) for i, words in rows]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    plain = {
        (r["doc_id1"], r["doc_id2"], r["containment"])
        for r in D.containment_best(df).collect()
    }
    salted = {
        (r["doc_id1"], r["doc_id2"], r["containment"])
        for r in D.containment_best(df, salt=D._CONTAIN_SALT).collect()
    }
    toks = {i: set(t.split(" ")) for i, _, t in docs}
    best = {}
    for a in toks:
        for b in toks:
            if a == b:
                continue
            inter = len(toks[a] & toks[b])
            c = inter / len(toks[a])
            if c >= D._CONTAIN_T:
                cr = round(c, 6)
                cur = best.get(a)
                if cur is None or (-cr, b) < (-cur[1], cur[0]):
                    best[a] = (b, cr)
    want = {(a, b, c) for a, (b, c) in best.items()}
    assert plain == want
    assert salted == want


CORPUS = st.lists(
    st.lists(
        st.sampled_from(["aa", "bb", "cc"]),  # tiny alphabet -> real collisions
        min_size=0,
        max_size=14,
    ),
    min_size=1,
    max_size=8,
)


@given(docs=CORPUS)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_span_dedup_report_matches_brute_force(spark, docs):
    """dedup_span core vs brute force on arbitrary tiny-alphabet
    corpora (k=3 so collisions actually occur): per-doc window and
    duplicated-window counts agree exactly, and the islands
    run-length bound equals the longest consecutive duplicated-window
    run — including the two soundness directions of the substring
    bound (any single-partner shared L-token substring forces a run
    of >= L-k+1; the reported span never exceeds the merged run)."""
    from scribedb_spark.operators.dedup import span_dedup_report

    k = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["max_dup_tokens"])
        for r in span_dedup_report(d, k).collect()
    }

    # brute force. NOTE split-semantics parity: "" splits to [""] (one
    # empty token), matching F.split/string_split on both engines.
    toks_by_doc = {
        i: (" ".join(t)).split(" ") for i, t in enumerate(docs)
    }
    windows = {
        i: [tuple(w[p : p + k]) for p in range(len(w) - k + 1)]
        for i, w in toks_by_doc.items()
        if len(w) >= k
    }
    assert set(got) == set(windows)
    for i, ws in windows.items():
        dup = [
            any(w in set(windows[j]) for j in windows if j != i) for w in ws
        ]
        best = cur = 0
        for flag in dup:
            cur = cur + 1 if flag else 0
            best = max(best, cur)
        expect = (len(ws), sum(dup), best + k - 1 if best else 0)
        assert got[i] == expect, (i, got[i], expect)


KEYED_SIDES = st.tuples(
    st.dictionaries(  # src: key -> value
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=3),
        max_size=25,
    ),
    st.dictionaries(  # tgt
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=3),
        max_size=25,
    ),
)


@given(sides=KEYED_SIDES)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_iblt_reconcile_matches_direct_diff(spark, sides):
    """iblt_reconcile on arbitrary keyed tables == the direct
    full-outer-join classification (added/removed/changed), for any
    overlap/mutation pattern that fits the cell budget."""
    from scribedb_spark.analytics import iblt_reconcile

    src_d, tgt_d = sides
    src = spark.createDataFrame(
        list(src_d.items()) or [(None, None)], "k long, v long"
    ).filter("k is not null")
    tgt = spark.createDataFrame(
        list(tgt_d.items()) or [(None, None)], "k long, v long"
    ).filter("k is not null")
    got = {
        (r["k"], r["change"])
        for r in iblt_reconcile(spark, src, tgt, "k", ["v"]).collect()
    }
    expect = set()
    for k in set(src_d) | set(tgt_d):
        if k in src_d and k not in tgt_d:
            expect.add((k, "removed"))
        elif k in tgt_d and k not in src_d:
            expect.add((k, "added"))
        elif src_d[k] != tgt_d[k]:
            expect.add((k, "changed"))
    assert got == expect


def test_iblt_capacity_exceeded_raises(spark, monkeypatch):
    """Decode must FAIL LOUDLY (never decode wrong) when the diff
    exceeds the cell budget."""
    import pytest

    from scribedb_spark import analytics

    monkeypatch.setattr(analytics, "_IBLT_CELLS", 4)
    src = spark.range(0, 40).selectExpr("id as k", "id as v")
    tgt = spark.range(100, 140).selectExpr("id as k", "id as v")
    with pytest.raises(ValueError, match="IBLT decode stalled"):
        analytics.iblt_reconcile(spark, src, tgt, "k", ["v"]).collect()


def test_iblt_decodes_at_engineering_load(spark):
    """The documented m >= 1.5*d decode margin, empirically: a
    5000-item pure diff (61% of the 8192-cell budget) decodes
    COMPLETELY and exactly. (The asymptotic 3-hash threshold is
    ~0.81 load, but finite tables grow small 2-cores near it — a
    73% trial stalled with 8 impure cells — hence the documented
    1.5x engineering margin, matching the IBLT paper's guidance.)"""
    from scribedb_spark.analytics import iblt_reconcile

    src = spark.range(0, 2500).selectExpr("id as k", "id * 7 as v")
    tgt = spark.range(2500, 5000).selectExpr("id as k", "id * 7 as v")
    got = iblt_reconcile(spark, src, tgt, "k", ["v"]).collect()
    assert len(got) == 5000
    assert all(
        (r["change"] == "removed") == (r["k"] < 2500) for r in got
    )


@given(sides=KEYED_SIDES)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_iblt_diff_estimate_covers_actual(spark, sides):
    """The adaptive-mode first pass must never undersize the sketch:
    _iblt_diff_estimate is a guaranteed UPPER bound on the
    differing-item count d (one item per side for a changed key), for
    any overlap/mutation pattern."""
    from scribedb_spark.analytics import _iblt_diff_estimate, _iblt_items

    src_d, tgt_d = sides
    src = spark.createDataFrame(
        list(src_d.items()) or [(None, None)], "k long, v long"
    ).filter("k is not null")
    tgt = spark.createDataFrame(
        list(tgt_d.items()) or [(None, None)], "k long, v long"
    ).filter("k is not null")
    est = _iblt_diff_estimate(
        _iblt_items(src, "k", ["v"]), _iblt_items(tgt, "k", ["v"])
    )
    d = (
        len(set(src_d) - set(tgt_d))
        + len(set(tgt_d) - set(src_d))
        + 2 * sum(1 for k in set(src_d) & set(tgt_d) if src_d[k] != tgt_d[k])
    )
    assert est >= d


def test_iblt_auto_sizing_recovers_past_fixed_budget(spark, monkeypatch):
    """cells='auto' converts "the diff grew past the fixed budget"
    from a decode error into a correctly-sized sketch: with the fixed
    budget shrunk to 48 cells a 400-item diff stalls, while the auto
    mode sizes from the estimator bound and recovers every key —
    the local mirror of the 16x scale-smoke capacity overrun."""
    import pytest

    from scribedb_spark import analytics

    monkeypatch.setattr(analytics, "_IBLT_CELLS", 48)
    src = spark.range(0, 200).selectExpr("id as k", "id * 7 as v")
    tgt = spark.range(200, 400).selectExpr("id as k", "id * 7 as v")
    with pytest.raises(ValueError, match="IBLT decode stalled"):
        analytics.iblt_reconcile(spark, src, tgt, "k", ["v"]).collect()
    got = analytics.iblt_reconcile(
        spark, src, tgt, "k", ["v"], cells="auto"
    ).collect()
    assert len(got) == 400
    assert all((r["change"] == "removed") == (r["k"] < 200) for r in got)


def test_iblt_auto_cap_points_at_merkle(spark, monkeypatch):
    """Past the adaptive cap the tables are too different for cheap
    set reconciliation — fail loudly naming the merkle fallback, never
    build an unboundedly large sketch. The fixed budget shrinks too so
    the r15 optimistic fixed-budget decode stalls and the SIZING path
    (where the cap guard lives) is actually reached — with the real
    8192-cell budget this diff would simply decode, which is the
    optimistic path working as intended."""
    import pytest

    from scribedb_spark import analytics

    monkeypatch.setattr(analytics, "_IBLT_CELLS", 48)
    monkeypatch.setattr(analytics, "_IBLT_AUTO_CAP", 64)
    src = spark.range(0, 200).selectExpr("id as k", "id * 7 as v")
    tgt = spark.range(200, 400).selectExpr("id as k", "id * 7 as v")
    with pytest.raises(ValueError, match="merkle"):
        analytics.iblt_reconcile(
            spark, src, tgt, "k", ["v"], cells="auto"
        ).collect()


BM25_CORPUS = st.dictionaries(
    st.integers(min_value=0, max_value=20),  # doc_id
    st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd"]),
        min_size=0,
        max_size=10,
    ),
    min_size=1,
    max_size=10,
)


@given(docs=BM25_CORPUS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_integer_formula_matches_python(spark, docs):
    """bm25_scores_from == a pure-Python recompute of the exact
    integer BM25 (rational idf, rounded-integer avgdl, one
    floor-division per term) on arbitrary tiny corpora — including
    the rarest-terms query pick and its (df, term) tiebreak."""
    from scribedb_spark.operators.curation import bm25_scores_from

    qd = sorted(docs)[0]
    rows = [(i, " ".join(t)) for i, t in sorted(docs.items())]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score_pts"]
        for r in bm25_scores_from(d, qd, 3).collect()
    }

    # pure-Python recompute with identical split semantics
    toks = {i: (" ".join(t)).split(" ") for i, t in docs.items()}
    n = len(toks)
    a = sum(len(w) for w in toks.values())
    avgdl = (a + n // 2) // n
    df = {}
    for w in toks.values():
        for t in set(w):
            df[t] = df.get(t, 0) + 1
    qterms = sorted(set(toks[qd]), key=lambda t: (df[t], t))[:3]
    expect = {}
    for i, w in toks.items():
        if i == qd:
            continue
        pts = 0
        hit = False
        for t in qterms:
            tf = w.count(t)
            if tf == 0:
                continue
            hit = True
            num = 1000000 * 22 * avgdl * tf * (2 * n - 2 * df[t] + 1)
            den = (10 * avgdl * tf + 3 * avgdl + 9 * len(w)) * (
                2 * df[t] + 1
            )
            pts += num // den
        if hit:
            expect[i] = pts
    assert got == expect


def _py_h_rounds(edges, n_rounds):
    """Pure-Python H-index rounds (the graph_kcore iteration) plus
    exact peeling coreness for the bound check."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    h = {v: len(ns) for v, ns in adj.items()}
    seq = [dict(h)]
    for _ in range(n_rounds):
        nh = {}
        for v, ns in adj.items():
            vals = sorted((h[u] for u in ns), reverse=True)
            nh[v] = max(
                (i + 1 for i, x in enumerate(vals) if x >= i + 1),
                default=0,
            )
        h = nh
        seq.append(dict(h))
    core = {v: len(ns) for v, ns in adj.items()}
    deg = {v: len(ns) for v, ns in adj.items()}
    live = {v: set(ns) for v, ns in adj.items()}
    order = sorted(deg, key=lambda v: (deg[v], v))
    import heapq

    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    k = 0
    while heap:
        d, v = heapq.heappop(heap)
        if v not in live or d != len(live[v]):
            continue
        k = max(k, len(live[v]))
        core[v] = k
        for u in live.pop(v):
            live[u].discard(v)
            heapq.heappush(heap, (len(live[u]), u))
    return seq, core


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.sets(
        st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=60,
    )
)
def test_kcore_h_rounds_match_python_and_bound_coreness(spark, pairs):
    """h_index_rounds must equal a pure-Python recompute of the same
    fixed rounds on arbitrary graphs, and the round-3 estimate must
    be a monotone upper bound on exact peeling coreness (the honesty
    claim in graph_kcore's docstring)."""
    from scribedb_spark.operators.graph import _KCORE_ROUNDS, h_index_rounds

    edges = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    df = spark.createDataFrame(edges, "doc_id1 long, doc_id2 long").coalesce(2)
    got = {
        r.doc_id: (r.degree, r.core_est)
        for r in h_index_rounds(df, _KCORE_ROUNDS).collect()
    }
    seq, core = _py_h_rounds(edges, _KCORE_ROUNDS)
    want = {v: (seq[0][v], seq[_KCORE_ROUNDS][v]) for v in seq[0]}
    assert got == want
    for v, (_, est) in got.items():
        assert est >= core[v]  # upper bound, rounds monotone
        for t in range(1, len(seq)):
            assert seq[t][v] <= seq[t - 1][v]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.dictionaries(
        st.integers(0, 40),
        st.sets(st.integers(0, 30), min_size=1, max_size=12),
        min_size=2,
        max_size=20,
    ),
    caught=st.sets(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(
            lambda p: p[0] < p[1]
        ),
        max_size=30,
    ),
)
def test_lsh_recall_report_matches_python(spark, docs, caught):
    """lsh_recall_report's bucketed recall + theory columns must match
    a pure-Python recompute on arbitrary shingle-set corpora and
    arbitrary candidate lists — including mid-Jaccard pairs the
    bimodal synthetic corpus never produces (partial recall, buckets
    2..9, the S-curve region the monitoring key exists for)."""
    import math

    from scribedb_spark.operators.dedup import (
        _RECALL_MIN_J_PPM,
        _RECALL_SAMPLE_MOD,
        _RECALL_SAMPLE_REM,
        lsh_recall_report,
    )

    tok_rows = [(d, f"t{t}") for d, ts in docs.items() for t in ts]
    tok = spark.createDataFrame(tok_rows, "doc_id long, tok string")
    pairs = spark.createDataFrame(
        sorted(caught) or [(-1, -2)], "doc_id1 long, doc_id2 long"
    )
    got = {
        r.bucket: (r.n_true_pairs, r.n_caught, r.recall_ppm, r.theory_ppm)
        for r in lsh_recall_report(pairs, tok).collect()
    }
    # python recompute
    want_cnt: dict = {}
    samp = {
        d for d in docs if d % _RECALL_SAMPLE_MOD == _RECALL_SAMPLE_REM
    }
    seen = set()
    for a in samp:
        for b in docs:
            if a == b:
                continue
            p = (min(a, b), max(a, b))
            if p in seen:
                continue
            inter = len(docs[a] & docs[b])
            if not inter:
                continue
            seen.add(p)
            j = inter * 1_000_000 // (len(docs[a]) + len(docs[b]) - inter)
            if j < _RECALL_MIN_J_PPM:
                continue
            bkt = j // 100_000
            n, c = want_cnt.get(bkt, (0, 0))
            want_cnt[bkt] = (n + 1, c + (1 if p in caught else 0))
    want = {}
    for bkt, (n, c) in want_cnt.items():
        m = min((2 * bkt + 1) / 20.0, 1.0)
        p4 = m * m * m * m
        theory = math.floor(
            (1.0 - (1.0 - p4) * (1.0 - p4) * (1.0 - p4) * (1.0 - p4))
            * 1_000_000.0
        )
        want[bkt] = (n, c, c * 1_000_000 // n, theory)
    assert got == want


def _py_collision_ppm(s: int, b: int, r: int) -> int:
    """Python-int mirror of _collision_ppm_text's fixed-point chain."""
    sr = s
    for _ in range(r - 1):
        sr = sr * s // 1_000_000
    q = 1_000_000 - sr
    qb = q
    for _ in range(b - 1):
        qb = qb * q // 1_000_000
    return 1_000_000 - qb


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1_000_000),  # j_ppm
            st.integers(1, 10_000_000_000),  # n_pairs (mega-weights)
        ),
        min_size=1,
        max_size=12,
    )
)
def test_band_tune_split_masses_match_bigint_reference(spark, rows):
    """band_tune_from_jaccards' hi/lo thousand-split accumulation must
    equal unbounded-integer reference math on arbitrary weighted audit
    frames — including weight profiles whose naive n_pairs * p_ppm sum
    exceeds int64 (the r14 ~256x ceiling; a 1024x duplication octave
    pushes sum(n_pairs) past 9.2e12 at p_ppm = 1e6)."""
    from scribedb_spark.operators.dedup import (
        _RECALL_MIN_J_PPM,
        _TUNE_CONFIGS,
        _TUNE_TARGET_PPM,
        band_tune_from_jaccards,
    )

    jac = spark.createDataFrame(rows, "j_ppm long, n_pairs long")
    got = {
        (x.n_bands, x.rows_per_band): (
            x.n_true_pairs,
            x.est_recall_ppm,
            x.est_candidates,
            x.recommended,
        )
        for x in band_tune_from_jaccards(spark, jac).collect()
    }
    scored = {}
    for b, r in _TUNE_CONFIGS:
        nt = tp = am = 0
        for j, n in rows:
            p = _py_collision_ppm(j, b, r)
            am += n * p
            if j >= _RECALL_MIN_J_PPM:
                nt += n
                tp += n * p
        scored[(b, r)] = (nt, tp // (nt or 1), am // 1_000_000)
    order = sorted(
        scored.items(),
        key=lambda kv: (
            -(kv[1][1] >= _TUNE_TARGET_PPM),
            kv[1][2] if kv[1][1] >= _TUNE_TARGET_PPM else -kv[1][1],
            kv[1][2],
            kv[0][0],
        ),
    )
    rec = order[0][0]
    want = {
        cfg: (nt, erec, ecand, 1 if cfg == rec else 0)
        for cfg, (nt, erec, ecand) in scored.items()
    }
    assert got == want


def test_band_tune_mass_guard_raises_past_limit(spark):
    """Past _TUNE_MASS_LIMIT the tuner must fail loudly (raise_error),
    never silently wrap (r14 ADVICE overflow note)."""
    import pytest

    from scribedb_spark.operators.dedup import (
        _TUNE_MASS_LIMIT,
        band_tune_from_jaccards,
    )

    jac = spark.createDataFrame(
        [(900_000, _TUNE_MASS_LIMIT + 1)], "j_ppm long, n_pairs long"
    )
    with pytest.raises(Exception, match="int64-safe mass bound"):
        band_tune_from_jaccards(spark, jac).collect()


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_bmp_codec_roundtrip_any_geometry(w, h, data):
    """bmp_decode must invert bmp_encode for every geometry —
    including widths whose 3-byte rows need 1-3 padding bytes — and
    must read a top-down (negative height) header correctly. The
    decoder is header-driven: corrupting the magic must raise, and
    unsupported bit depths must raise rather than mis-parse."""
    import struct

    import pytest

    from scribedb_spark.operators.multimodal import bmp_decode, bmp_encode

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=3 * w * h, max_size=3 * w * h
            )
        )
    )
    blob = bmp_encode(w, h, pixels)
    assert bmp_decode(blob) == (w, h, pixels)
    # top-down variant: negate the height field; rows arrive unflipped,
    # so the decoder must NOT flip them (re-encode row-reversed pixels)
    row = 3 * w
    flipped = b"".join(
        pixels[r * row : (r + 1) * row] for r in range(h - 1, -1, -1)
    )
    td = bytearray(bmp_encode(w, h, flipped))
    td[22:26] = struct.pack("<i", -h)
    assert bmp_decode(bytes(td)) == (w, h, pixels)
    with pytest.raises(ValueError, match="magic"):
        bmp_decode(b"XX" + blob[2:])
    bad = bytearray(blob)
    bad[28:30] = struct.pack("<H", 8)
    with pytest.raises(ValueError, match="24-bit"):
        bmp_decode(bytes(bad))


def test_iblt_nullsafe_fingerprint_detects_null_swaps(spark):
    """Rows differing ONLY by NULL placement or by ':'-adjacent value
    shifts must fingerprint differently (round-9 advice fix: the old
    concat_ws(':') encoding silently skipped NULLs, so
    (NULL,'x') == ('x',NULL) and ('a:b','c') == ('a','b:c'))."""
    from scribedb_spark.analytics import iblt_reconcile

    src = spark.createDataFrame(
        [(1, None, "x"), (2, "a:b", "c"), (3, "same", "same")],
        "k long, va string, vb string",
    )
    tgt = spark.createDataFrame(
        [(1, "x", None), (2, "a", "b:c"), (3, "same", "same")],
        "k long, va string, vb string",
    )
    got = {
        (r["k"], r["change"])
        for r in iblt_reconcile(spark, src, tgt, "k", ["va", "vb"]).collect()
    }
    assert got == {(1, "changed"), (2, "changed")}


@given(
    key=st.integers(min_value=0, max_value=2**50),
    fp=st.integers(min_value=0, max_value=2**50),
)
@settings(max_examples=200, deadline=None)
def test_iblt_partitioned_cells_always_distinct(key, fp):
    """The partitioned-subtable construction guarantees an item's
    three cells are pairwise distinct (the unpartitioned variant's
    3-way collision makes a tiny diff undecodable forever for that
    key — round-9 advice fix)."""
    from scribedb_spark.analytics import (
        _IBLT_CELLS,
        _IBLT_HASHES,
        _iblt_hash_py,
        _iblt_sub,
    )

    cells = [_iblt_hash_py(key, fp, i) for i in range(_IBLT_HASHES)]
    assert len(set(cells)) == _IBLT_HASHES
    for i, c in enumerate(cells):
        assert i * _iblt_sub() <= c < (i + 1) * _iblt_sub()
    assert max(cells) < _IBLT_CELLS


def test_split_cluster_no_pair_straddles(spark, sf_dir):
    """The leakage guarantee itself: NO near-dup candidate pair may
    have one side in train and the other in eval (split is a pure
    function of the shared component id, but pin it end to end
    against the actual pair list)."""
    from pyspark.sql import functions as F

    from scribedb_spark.operators.dedup import (
        dedup_minhash_lsh,
        sample_split_cluster,
    )

    splits = sample_split_cluster(spark, sf_dir).select("doc_id", "split")
    pairs = dedup_minhash_lsh(spark, sf_dir)
    crossers = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_id1"), F.col("split").alias("s1")
            ),
            "doc_id1",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_id2"), F.col("split").alias("s2")
            ),
            "doc_id2",
        )
        .filter(F.col("s1") != F.col("s2"))
        .count()
    )
    assert crossers == 0
    # both sides non-empty on the fixture corpus (the split is real)
    by = {r["split"]: r["n"] for r in splits.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by.get("train", 0) > 0 and by.get("eval", 0) > 0


PERSIST_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62),  # long
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), max_codepoint=0x2FFF
                ),
                max_size=20,
            ),
        ),
        st.floats(allow_nan=False, width=64),
        st.lists(st.floats(allow_nan=False, width=64), max_size=4),
    ),
    min_size=1,
    max_size=12,
)


@given(rows=PERSIST_ROWS)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_persist_round_trip_is_exact(spark, tmp_path_factory, rows):
    """The guarantee every *_index_persist key leans on: an artifact
    of longs / nullable unicode strings / doubles (incl. signed
    zeros, subnormals, +-inf) / double arrays survives
    save -> load BIT-EXACT through warehouse parquet."""
    import os

    from scribedb_spark import persist

    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(
        tmp_path_factory.mktemp("wh_prop")
    )
    try:
        df = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)],
            "id long, k long, s string, d double, v array<double>",
        )
        src = tmp_path_factory.mktemp("src") / "s.txt"
        src.write_text("x")
        got = persist.persisted_artifact(
            spark, "prop", "/p/sfP", [str(src)], lambda: df
        ).collect()

        def key(row):
            return row["id"]

        want = sorted(df.collect(), key=key)
        got = sorted(got, key=key)
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g["k"] == w["k"] and g["s"] == w["s"]
            # bit-exact doubles: compare via repr (distinguishes -0.0)
            assert repr(g["d"]) == repr(w["d"])
            assert [repr(x) for x in (g["v"] or [])] == [
                repr(x) for x in (w["v"] or [])
            ]
    finally:
        os.environ.pop("SPARK_GRAFT_WAREHOUSE", None)


def test_quality_drift_gate_fires_on_planted_truncation(
    spark, tmp_path_factory
):
    """The drift path of rollup_quality_drift: a batch whose documents
    arrive TRUNCATED (the length half of the quality score collapses
    to the bottom bins) must push the ppm-histogram TV distance past
    the threshold and flip the decision to 'drift'; an unshifted
    batch (every slice an unbiased sample of the same corpus) stays
    'stable'. Complements the sf-fixture oracle, which only sees the
    healthy path."""
    from scribedb_spark.operators.curation import (
        _QDRIFT_MOD,
        _QDRIFT_REM,
        _QDRIFT_THRESHOLD_PPM,
        rollup_quality_drift,
    )

    long_text = "the quick brown fox jumps over the lazy dog " * 15
    rows_stable = [
        (i, long_text.strip(), "en", "s", len(long_text)) for i in range(200)
    ]
    rows_drift = [
        (
            i,
            ("the fox" if i % _QDRIFT_MOD == _QDRIFT_REM else long_text.strip()),
            "en",
            "s",
            7,
        )
        for i in range(200)
    ]
    for rows, want in ((rows_stable, "stable"), (rows_drift, "drift")):
        d = tmp_path_factory.mktemp("qdrift")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
        row = rollup_quality_drift(spark, str(d)).collect()[0]
        assert row["decision"] == want, row
        if want == "drift":
            assert row["tv_ppm"] > _QDRIFT_THRESHOLD_PPM
        else:
            assert row["tv_ppm"] <= _QDRIFT_THRESHOLD_PPM


def test_lm_drift_gate_serves_on_unshifted_batch(spark, tmp_path_factory):
    """lm_drift_gate's serve path: when the batch slice repeats only
    base-corpus sentences (zero planted shift beyond the gate's own
    even-doc_id mangle — so use odd doc_ids only in the delta slice),
    the mangled half still fires; but a corpus whose delta slice is
    entirely odd doc_ids (mangle never applies) measures 0 OOV and
    the gate serves without a rebuild."""
    from scribedb_spark.operators.curation import (
        _LM_DELTA_MOD,
        _LM_DELTA_REM,
        lm_drift_gate,
    )

    sent = "alpha beta gamma delta epsilon zeta"
    # delta doc_ids: % 101 == 13 AND odd (mangle skips odd) -> 13+101k odd
    delta_ids = [13, 215, 417]  # 13, 13+2*101, 13+4*101 — all odd
    base_ids = [
        i for i in range(1, 40) if i % _LM_DELTA_MOD != _LM_DELTA_REM
    ]
    rows = [(i, sent, "en", "s", len(sent)) for i in base_ids] + [
        (i, sent, "en", "s", len(sent)) for i in delta_ids
    ]
    assert all(
        i % _LM_DELTA_MOD == _LM_DELTA_REM and i % 2 == 1 for i in delta_ids
    )
    d = tmp_path_factory.mktemp("lmdrift")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    row = lm_drift_gate(spark, str(d)).collect()[0]
    assert row["decision"] == "serve", row
    assert row["oov_bigram_ppm"] == 0
    assert row["n_rebuilds"] == 0
    assert row["served_oov_ppm"] == 0


_JC_KEYS = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=_JC_KEYS, right=_JC_KEYS)
def test_join_cardinality_census_matches_actual_join(spark, left, right):
    """The fanout census's core claim, pinned on arbitrary key
    multisets INCLUDING NULLs: total n_out_rows equals the row count
    the actual equi-join emits (null keys match nothing in either
    engine, so null-key left rows land in the '0' bucket), and
    n_left_rows sums to the left table size."""
    from pyspark.sql import functions as F

    from scribedb_spark.analytics import _JOIN_CARD_BUCKET_SQL

    l_df = spark.createDataFrame([(k,) for k in left] or [(None,)], "k long")
    r_df = spark.createDataFrame([(k,) for k in right] or [(None,)], "k long")
    if not left:
        l_df = l_df.limit(0)
    if not right:
        r_df = r_df.limit(0)

    lc = l_df.groupBy("k").agg(F.count(F.lit(1)).alias("cl"))
    rc = r_df.groupBy("k").agg(F.count(F.lit(1)).alias("cr"))
    census = (
        lc.join(rc, "k", "left")
        .select("cl", F.coalesce(F.col("cr"), F.lit(0)).alias("cr"))
        .groupBy(F.expr(_JOIN_CARD_BUCKET_SQL).alias("b"))
        .agg(
            F.sum("cl").alias("n_left_rows"),
            F.sum(F.expr("cl * cr")).alias("n_out_rows"),
        )
        .collect()
    )
    actual_out = l_df.join(r_df, "k").count()  # inner equi-join
    assert sum(r["n_out_rows"] for r in census) == actual_out
    assert sum(r["n_left_rows"] for r in census) == l_df.count()
    # every null-key left row is in the 0 bucket (nulls match nothing)
    n_null_left = l_df.filter(F.col("k").isNull()).count()
    zero_mass = sum(r["n_left_rows"] for r in census if r["b"] == "0")
    assert zero_mass >= n_null_left


_LPA_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=_LPA_EDGES, rounds=st.integers(min_value=1, max_value=3))
def test_min_label_rounds_equals_bfs_min(spark, raw, rounds):
    """min_label_rounds' exact semantics on arbitrary graphs: after r
    synchronous rounds, each node's label is the minimum node id
    within BFS distance r, and community_size counts the final
    labels."""
    from scribedb_spark.operators.graph import min_label_rounds

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    df = spark.createDataFrame(edges, "doc_id1 long, doc_id2 long")
    got = {
        r_["doc_id"]: (r_["community"], r_["community_size"])
        for r_ in min_label_rounds(df, rounds).collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want_lab = {}
    for v in adj:
        frontier = {v}
        seen = {v}
        for _ in range(rounds):
            frontier = {u for f in frontier for u in adj[f]} - seen
            seen |= frontier
        want_lab[v] = min(seen)
    sizes: dict[int, int] = {}
    for lab in want_lab.values():
        sizes[lab] = sizes.get(lab, 0) + 1
    want = {v: (lab, sizes[lab]) for v, lab in want_lab.items()}
    assert got == want


def test_dedup_retune_gate_flips_on_corrupted_pair_list(spark):
    """The act path of dedup_retune_gate: a served pair list that
    LOST high-similarity pairs (signature corruption / bad band
    split) must measure recall below the threshold and flip to
    'retune'; the intact list reads 1000000 ppm and serves; an empty
    audit set alarms instead of passing silently."""
    from scribedb_spark.operators.dedup import (
        _GATE_THRESHOLD_PPM,
        _RECALL_SAMPLE_MOD,
        _RECALL_SAMPLE_REM,
        lsh_gate_decision,
        shingles3,
    )

    # four near-dup pairs, each anchored on a SAMPLED doc_id
    # (doc_id % 17 == 3): (3,4), (20,21), (37,38), (54,55)
    anchors = [
        _RECALL_SAMPLE_REM + k * _RECALL_SAMPLE_MOD for k in range(4)
    ]
    rows = []
    for k, a in enumerate(anchors):
        text = f"alpha{k} beta{k} gamma{k} delta{k} epsilon{k} " * 3
        rows.append((a, text.strip()))
        rows.append((a + 1, text.strip()))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tok = docs.select(
        "doc_id", F.explode(shingles3(F.col("text"))).alias("tok")
    ).localCheckpoint()

    full = spark.createDataFrame(
        [(a, a + 1) for a in anchors], "doc_id1 long, doc_id2 long"
    )
    got = lsh_gate_decision(full, tok).collect()[0]
    assert got["n_true_pairs"] == 4 and got["n_caught"] == 4
    assert got["recall_ppm_measured"] == 1_000_000
    assert got["decision"] == "serve"

    corrupted = full.filter(F.col("doc_id1") > anchors[1])
    got = lsh_gate_decision(corrupted, tok).collect()[0]
    assert got["n_caught"] == 2
    assert got["recall_ppm_measured"] == 500_000 < _GATE_THRESHOLD_PPM
    assert got["decision"] == "retune"

    # zero audited pairs (no sampled doc in the corpus) -> alarm
    shifted = docs.withColumn("doc_id", F.col("doc_id") * 17 + 1)
    tok_none = shifted.select(
        "doc_id", F.explode(shingles3(F.col("text"))).alias("tok")
    )
    got = lsh_gate_decision(full.limit(0), tok_none).collect()[0]
    assert got["n_true_pairs"] == 0
    assert got["decision"] == "retune"


def test_dedup_substring_spans_coordinates_are_real_and_maximal(
    spark, sf_dir
):
    """Every emitted span must be REAL (the two documents' token
    slices at the reported coordinates are identical and run_tokens
    long) and MAXIMAL (extending one token left or right breaks the
    equality or a document boundary) — the guarantee a surgical
    removal job depends on."""
    from scribedb_spark.operators.dedup import dedup_substring_spans

    from scribedb_spark.sources import table as _table

    spans = dedup_substring_spans(spark, sf_dir).collect()
    assert spans, "fixture corpus must contain shared runs"
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in _table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    for r in spans:
        ta, tb = docs[r["doc_id1"]], docs[r["doc_id2"]]
        n, a0, b0 = r["run_tokens"], r["a_start"], r["b_start"]
        assert a0 >= 0 and b0 >= 0
        assert ta[a0 : a0 + n] == tb[b0 : b0 + n]
        # maximal: one more token on either side must not match
        if a0 > 0 and b0 > 0:
            assert ta[a0 - 1] != tb[b0 - 1]
        if a0 + n < len(ta) and b0 + n < len(tb):
            assert ta[a0 + n] != tb[b0 + n]


def test_dedup_substring_rewrite_receipts_are_verifiable(spark, sf_dir):
    """Every rewrite receipt must be reproducible from the raw corpus
    and the span table: slicing the victim's tokens at the winning
    span's coordinates yields exactly n_tokens_after tokens whose
    re-joined md5 equals text_md5_after — the check a production
    rewrite job runs after materializing the new shard. Also: one
    receipt per victim (the greedy single-removal contract)."""
    import hashlib

    from scribedb_spark.operators.dedup import (
        dedup_substring_rewrite,
        dedup_substring_spans,
    )
    from scribedb_spark.sources import table as _table

    receipts = dedup_substring_rewrite(spark, sf_dir).collect()
    assert receipts, "fixture corpus must contain shared runs"
    victims = [r["doc_id"] for r in receipts]
    assert len(victims) == len(set(victims))

    spans = {}
    for s in dedup_substring_spans(spark, sf_dir).collect():
        key = (s["doc_id2"], s["doc_id1"])
        spans[key] = (s["run_tokens"], s["b_start"])
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in _table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    for r in receipts:
        run, b0 = spans[(r["doc_id"], r["donor_id"])]
        toks = docs[r["doc_id"]]
        assert r["n_tokens_before"] == len(toks)
        assert r["removed_tokens"] == run
        kept = toks[:b0] + toks[b0 + run :]
        assert r["n_tokens_after"] == len(kept) == len(toks) - run
        want = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert r["text_md5_after"] == want


def test_dedup_substring_rewrite_all_receipts_greedy_and_verifiable(
    spark, sf_dir
):
    """Every multi-span receipt must be reproducible from the raw
    corpus and the span table via an independent Python recompute of
    the greedy selection: same picked spans (priority run_tokens
    DESC, b_start, donor; overlap-free), same residual count, and the
    rewritten text (all picked spans sliced out) hashes to
    text_md5_after — the check a production rewrite job runs after
    materializing the new shard. Also pins the receipt algebra:
    removed_tokens == sum of picked spans, spans disjoint, spans_csv
    in document order."""
    import hashlib

    from scribedb_spark.operators.dedup import (
        _REWRITE_MAX_SPANS,
        dedup_substring_rewrite_all,
        dedup_substring_spans,
    )
    from scribedb_spark.sources import table as _table

    receipts = dedup_substring_rewrite_all(spark, sf_dir).collect()
    assert receipts, "fixture corpus must contain shared runs"
    victims = [r["doc_id"] for r in receipts]
    assert len(victims) == len(set(victims))

    cand: dict[int, list] = {}
    for s in dedup_substring_spans(spark, sf_dir).collect():
        cand.setdefault(s["doc_id2"], []).append(
            (s["run_tokens"], s["b_start"], s["doc_id1"])
        )
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in _table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .collect()
    }
    for r in receipts:
        # independent greedy recompute
        rest = sorted(cand[r["doc_id"]], key=lambda t: (-t[0], t[1], t[2]))
        picked: list = []
        for _ in range(_REWRITE_MAX_SPANS):
            nxt = next(
                (
                    c
                    for c in rest
                    if all(
                        c[1] >= b + n or c[1] + c[0] <= b
                        for (n, b, _d) in picked
                    )
                ),
                None,
            )
            if nxt is None:
                break
            picked.append(nxt)
        resid = sum(
            1
            for c in rest
            if c not in picked
            and all(
                c[1] >= b + n or c[1] + c[0] <= b for (n, b, _d) in picked
            )
        )
        assert r["n_spans_removed"] == len(picked)
        assert r["removed_tokens"] == sum(n for (n, _b, _d) in picked)
        assert r["n_residual"] == resid
        want_csv = ",".join(
            f"{b}:{n}:{d}" for (n, b, d) in sorted(picked, key=lambda t: t[1])
        )
        assert r["spans_csv"] == want_csv
        toks = docs[r["doc_id"]]
        assert r["n_tokens_before"] == len(toks)
        covered = set()
        for n, b, _d in picked:
            covered.update(range(b, b + n))
        kept = [t for i, t in enumerate(toks) if i not in covered]
        assert r["n_tokens_after"] == len(toks) - r["removed_tokens"]
        assert len(kept) == r["n_tokens_after"]
        want = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert r["text_md5_after"] == want


def test_rollup_ingest_gaps_day_decomposition_handles_empty_days(
    spark, tmp_path_factory
):
    """The day-partitioned gap decomposition must equal the naive
    global-sort census on an ADVERSARIAL fixture: an outage spanning
    two fully-empty days (the boundary pass must bridge day 2 -> day
    5 directly), equal-timestamp events (event_id tiebreak), and a
    single-event stream (no gaps at all -> NULL max, 'continuous')."""
    from datetime import datetime, timezone

    from scribedb_spark.analytics import (
        _FRESHNESS_LAG_US,
        rollup_ingest_gaps,
    )

    day = 86_400_000_000
    t0 = int(
        datetime(2026, 4, 1, tzinfo=timezone.utc).timestamp()
    ) * 1_000_000
    rows = []
    # stream 'a': busy day 0, outage across fully-empty days 1-4,
    # resumes day 5; plus an equal-ts pair
    us_list = [
        t0 + 1_000_000,
        t0 + 2_000_000,
        t0 + 2_000_000,  # equal ts, tiebreak by event_id
        t0 + day - 5_000_000,
        t0 + 5 * day + 7_000_000,  # 4-day-ish outage over empty days
        t0 + 5 * day + 9_000_000,
    ]
    for i, us in enumerate(us_list):
        rows.append((i, "a", datetime.fromtimestamp(us / 1e6, tz=timezone.utc)))
    # stream 'b': a single event — no gaps, verdict 'continuous'
    rows.append((100, "b", datetime.fromtimestamp(t0 / 1e6, tz=timezone.utc)))
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp"
    )
    d = tmp_path_factory.mktemp("gap_corpus")
    events.write.mode("overwrite").parquet(str(d / "events.parquet"))

    got = {
        r["event_type"]: (
            r["n_events"],
            r["max_gap_us"],
            r["n_gaps_over"],
            r["verdict"],
        )
        for r in rollup_ingest_gaps(spark, str(d)).collect()
    }
    # naive global recompute in Python
    gaps = [b - a for a, b in zip(us_list, us_list[1:])]
    n_over = sum(1 for g in gaps if g > _FRESHNESS_LAG_US)
    assert got["a"] == (6, max(gaps), n_over, "gappy")
    assert n_over >= 1  # the planted outage is in the census
    assert got["b"] == (1, None, 0, "continuous")


def test_substring_family_exact_on_planted_duplicate_corpus(
    spark, tmp_path_factory
):
    """The r12 volume reductions (exact-text rep collapse + strided
    anchoring) must be LOSSLESS on a corpus that actually exercises
    them — the driver corpus has almost no exact dups, so this test
    plants a heavy-duplication fixture (every base doc appears 4x
    under distinct doc_ids, near-identical variants included, one
    fully-boilerplate victim) and asserts all four substring keys
    hash-match their UNCHANGED naive DuckDB oracles, while the rep
    map is verifiably non-identity (collapse really engaged)."""
    import duckdb

    from scribedb_spark.operators.dedup import (
        exact_text_reps,
        min_tokens_filter,
    )
    from scribedb_spark.sources import table as _table

    boiler = " ".join(f"boiler{k}" for k in range(25))
    rows = []
    for i in range(12):
        filler_a = " ".join(f"w{i}x{j}" for j in range(10))
        filler_b = " ".join(f"w{i}y{j}" for j in range(10))
        if i % 3 == 0:  # boilerplate in the middle
            text = f"{filler_a} {boiler} {filler_b}"
        elif i % 3 == 1:  # boilerplate at the start
            text = f"{boiler} {filler_a} {filler_b}"
        else:  # no boilerplate
            text = f"{filler_a} {filler_b} " + " ".join(
                f"w{i}z{j}" for j in range(25)
            )
        rows.append((i, text))
        # near-identical variant: last token changed (high-Jaccard
        # NON-exact pair — the path collapse must NOT merge)
        rows.append((100 + i, text.rsplit(" ", 1)[0] + f" tail{i}"))
    rows.append((55, boiler))  # fully-boilerplate victim (md5('') edge)
    base = list(rows)
    for copy in (1, 2, 3):  # exact copies under distinct doc_ids
        rows.extend((1000 * copy + i, t) for i, t in base)
    docs = spark.createDataFrame(
        [(i, t, "en", f"src{i % 4}", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    d = tmp_path_factory.mktemp("planted_dups")
    docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    sfd = str(d)

    # collapse really engages: the rep map is non-identity
    dd = (
        _table(spark, "documents", sfd)
        .select("doc_id", "text")
        .filter(min_tokens_filter())
    )
    rm = exact_text_reps(dd)
    assert rm.filter("doc_id <> rep_id").count() > 0

    from scribedb_spark import queries as Q

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sfd}/documents.parquet/*.parquet')"
    )
    some_rows = False
    for key in (
        "dedup_substring",
        "dedup_substring_spans",
        "dedup_substring_rewrite",
        "dedup_substring_rewrite_all",
        "dedup_levenshtein",
    ):
        qd = Q.REGISTRY[key]
        sdf = qd.fn(spark, sfd).toPandas()
        odf = con.execute(qd.oracle).df()
        cols = sorted(sdf.columns)
        a = sorted(
            tuple(str(v) for v in r)
            for r in sdf[cols].itertuples(index=False)
        )
        b = sorted(
            tuple(str(v) for v in r)
            for r in odf[cols].itertuples(index=False)
        )
        assert a == b, f"{key}: spark != oracle on the planted-dup corpus"
        if len(a) > 3:
            some_rows = True
    assert some_rows  # the fixture produced real shared runs


def test_rewrite_pass_reduces_shared_runs(spark, tmp_path_factory):
    """The production loop's claim, end to end: APPLYING the
    multi-span receipts (rewriting each victim from its own
    spans_csv — exactly what a shard-materializing job does) and
    re-running detection on the rewritten corpus must strictly reduce
    cross-document duplication: fewer 'shared_run' pairs and a
    strictly smaller total shared-run token mass. (A single pass need
    not reach zero — one span per donor pair is removed per pass; the
    loop iterates to the fixpoint.)"""
    from scribedb_spark import queries as Q
    from scribedb_spark.operators.dedup import dedup_substring_rewrite_all

    boiler = " ".join(f"boiler{k}" for k in range(25))
    rows = []
    for i in range(10):
        filler = " ".join(f"w{i}x{j}" for j in range(18))
        rows.append((i, f"{filler} {boiler}"))
    rows.extend((1000 + i, t) for i, t in list(rows))  # exact copies
    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    mk = lambda rs: spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rs], schema
    )
    d1 = tmp_path_factory.mktemp("rw_pass_before")
    mk(rows).write.mode("overwrite").parquet(str(d1 / "documents.parquet"))

    receipts = dedup_substring_rewrite_all(spark, str(d1)).collect()
    assert receipts
    spans_by_victim = {}
    for r in receipts:
        spans = [
            tuple(map(int, part.split(":")[:2]))
            for part in r["spans_csv"].split(",")
        ]
        spans_by_victim[r["doc_id"]] = spans
    rewritten = []
    for i, t in rows:
        toks = t.split(" ")
        covered = set()
        for b, n in spans_by_victim.get(i, []):
            covered.update(range(b, b + n))
        kept = [w for p, w in enumerate(toks) if p not in covered]
        if kept:  # fully-removed docs leave the corpus (empty shard)
            rewritten.append((i, " ".join(kept)))
    d2 = tmp_path_factory.mktemp("rw_pass_after")
    mk(rewritten).write.mode("overwrite").parquet(
        str(d2 / "documents.parquet")
    )

    def mass(sfd):
        out = Q.REGISTRY["dedup_substring"].fn(spark, sfd).collect()
        shared = [r for r in out if r["verdict"] == "shared_run"]
        return len(shared), sum(r["max_run_tokens"] for r in shared)

    n1, m1 = mass(str(d1))
    n2, m2 = mass(str(d2))
    assert n1 > 0 and m1 > 0
    assert n2 < n1 and m2 < m1


def test_gate_panel_healthy_fixed_point_retrains_nothing(spark, sf_dir):
    """The panel's done-criterion from the r11 verdict, pinned:
    reading the gate census on a healthy warm warehouse must trigger
    ZERO retrains (the decision halves measure, never act when
    healthy), the three index gates must read 'serve', and the census
    must be deterministic call-to-call (an operator can poll it)."""
    from scribedb_spark.operators.similarity import TRAIN_EVENTS
    from scribedb_spark.pipeline import _GATE_PANEL_KEYS, rollup_gate_panel

    first = {r["gate"]: r for r in rollup_gate_panel(spark, sf_dir).collect()}
    assert set(first) == {g for g, _k in _GATE_PANEL_KEYS}
    before = len(TRAIN_EVENTS)
    second = {
        r["gate"]: r for r in rollup_gate_panel(spark, sf_dir).collect()
    }
    assert len(TRAIN_EVENTS) == before, "healthy panel re-read retrained"
    for g in ("ann_retrain", "ann_mips_retrain", "dedup_retune"):
        assert second[g]["decision"] == "serve"
    assert first == second
    # the re-read must be DECISION-SERVED, not re-measured: the panel
    # and every gate hold a cached local frame after the first read
    from scribedb_spark import cache

    cached_keys = {k[1] for k in cache._STORE}
    assert "rollup_gate_panel" in cached_keys
    for _label, key in _GATE_PANEL_KEYS:
        assert key in cached_keys, f"{key} decision not cached"


def test_gate_decision_cache_invalidates_on_input_change(
    spark, tmp_path_factory
):
    """What makes decision-serving HONEST: a served gate decision is
    keyed by the stat fingerprint of its inputs, so mutating the
    measured corpus must force a fresh measurement — a cache that
    kept serving the old verdict would turn every monitor into a
    lie. Plant a stable corpus, read the quality gate, then rewrite
    documents.parquet with a drifted batch slice: the second read
    must report the NEW distribution, not the cached one."""
    from scribedb_spark.operators.curation import (
        _QDRIFT_MOD,
        _QDRIFT_REM,
        rollup_quality_drift,
    )

    d = tmp_path_factory.mktemp("gatecache")
    n = 400
    rows = [(i, ("the quick brown fox jumps over the lazy dog " * 4).strip())
            for i in range(n)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    first = rollup_quality_drift(spark, str(d)).collect()[0]
    assert first["decision"] == "stable"

    # drift the batch slice: truncate every batch document hard
    drifted = [
        (i, "x" if i % _QDRIFT_MOD == _QDRIFT_REM else t)
        for i, t in rows
    ]
    spark.createDataFrame(
        drifted, "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    second = rollup_quality_drift(spark, str(d)).collect()[0]
    assert second["decision"] == "drift", (
        "mutated corpus served the stale cached decision"
    )
    assert second["tv_ppm"] > first["tv_ppm"]


def test_gate_inner_session_caches_invalidate_on_input_change(
    spark, tmp_path_factory
):
    """The honesty property must hold TRANSITIVELY: dedup_retune_gate's
    measurement body reads session-cached corpus artifacts (the rep
    pair state, band signatures) — if those were keyed only by
    (appId, sf_dir), an in-session corpus rewrite would force a gate
    re-measure that silently consumed PRE-mutation pair state (r13
    ADVICE). Plant a no-duplicate corpus (zero audited pairs ->
    'retune'), rewrite documents.parquet to an all-identical corpus,
    and require the second read to measure recall 1.0 -> 'serve':
    stale inner caches would miss every new true pair and keep
    reading 'retune'."""
    from scribedb_spark.queries import REGISTRY

    d = tmp_path_factory.mktemp("gateinner")
    # 60 pairwise-dissimilar docs: no J >= 0.7 sampled pairs
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(12))) for i in range(60)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    first = REGISTRY["dedup_retune_gate"].fn(spark, str(d)).collect()[0]
    assert first["decision"] == "retune" and first["n_true_pairs"] == 0

    dup = [(i, "the quick brown fox jumps over the lazy dog now")
           for i in range(60)]
    spark.createDataFrame(dup, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    second = REGISTRY["dedup_retune_gate"].fn(spark, str(d)).collect()[0]
    assert second["n_true_pairs"] > 0, (
        "mutated corpus measured against stale cached pair state"
    )
    assert second["decision"] == "serve"
    assert second["recall_ppm_measured"] == 1_000_000


def test_megadup_group_collapses_to_one_rep_node(
    spark, tmp_path_factory
):
    """The 100 TB megadup shape: ONE template duplicated c times
    dwarfing everything else (c^2/2 ~ 4.5M member pairs here). The
    r14 rep-grain consumers must answer from the rep graph — the
    megadup group is ONE node there — with exact member-grain
    numbers: cluster stats reads a single c-cluster, weights read
    1000000 div c, the survivor is the min doc_id, and the split
    moves the whole cluster together. The one remaining enumerator
    (the member pair list, kept for the graph keys) still counts
    exactly C(c,2) + cross pairs."""
    from scribedb_spark.operators.dedup import (
        _rep_component_state,
        dedup_cluster_stats,
        dedup_survivor_pick,
        sample_dedup_weights,
    )

    d = tmp_path_factory.mktemp("megadup")
    c, n_singles = 3000, 40
    mega = [(i, "the quick brown fox jumps over the lazy dog again")
            for i in range(c)]
    singles = [
        (c + i, " ".join(f"uniq{i}w{j}" for j in range(10)))
        for i in range(n_singles)
    ]
    spark.createDataFrame(
        mega + singles, "doc_id long, text string"
    ).withColumn("n_chars", F.length("text")).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))

    stats = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in dedup_cluster_stats(spark, str(d)).collect()
    }
    assert stats[c] == (1, c)
    assert stats[1] == (n_singles, n_singles)

    # the rep state holds ONE row for the megadup group
    rst = _rep_component_state(spark, str(d))
    assert rst["rsize"].filter("cluster_size = %d" % c).count() == 1

    w = sample_dedup_weights(spark, str(d))
    assert w.filter(
        (F.col("cluster_size") == c) & (F.col("weight_ppm") == 1_000_000 // c)
    ).count() == c
    assert w.filter("cluster_size = 1 and weight_ppm = 1000000").count() == (
        n_singles
    )

    surv = dedup_survivor_pick(spark, str(d))
    assert surv.filter("keep = 1").count() == 1  # one survivor
    assert surv.filter("survivor_id = 0").count() == c  # min doc_id wins


def test_levenshtein_receipts_consistent_with_member_enumeration(
    spark, sf_dir
):
    """The receipt form is EXACTLY the member enumeration aggregated
    to rep grain: per verified rep pair, n_member_pairs sums to the
    member key's row count, and every member pair's edit_dist equals
    its rep pair's (distance is a pure function of the two texts)."""
    from scribedb_spark import queries as Q
    from scribedb_spark.operators.dedup import lsh_rep_pairs

    Q.load_extensions()
    receipts = Q.REGISTRY["dedup_levenshtein_receipts"].fn(
        spark, sf_dir
    ).collect()
    members = Q.REGISTRY["dedup_levenshtein"].fn(spark, sf_dir).collect()
    assert sum(r["n_member_pairs"] for r in receipts) == len(members)

    rep_of = {
        (r["doc_id1"], r["doc_id2"]): (r["r1"], r["r2"])
        for r in lsh_rep_pairs(spark, sf_dir).collect()
    }
    dist_of = {
        (r["rep_id1"], r["rep_id2"]): r["edit_dist"] for r in receipts
    }
    for m in members:
        rep = rep_of[(m["doc_id1"], m["doc_id2"])]
        assert dist_of[rep] == m["edit_dist"]


def test_dedup_ngram_receipts_aggregate_member_enumeration(spark, sf_dir):
    """dedup_ngram_receipts is EXACTLY dedup_ngram_jaccard aggregated
    to source-scoped rep grain: product member counts sum to the
    member key's row count, and every member pair's jaccard equals
    its rep pair's receipt row (jaccard is a pure function of the two
    texts; source lives inside the group key)."""
    from scribedb_spark import queries as Q
    from scribedb_spark.operators.dedup import _ngram_source_rep_state
    from scribedb_spark.sources import table

    Q.load_extensions()
    receipts = Q.REGISTRY["dedup_ngram_receipts"].fn(spark, sf_dir).collect()
    members = Q.REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    assert receipts and members
    assert sum(r["n_member_pairs"] for r in receipts) == len(members)

    d = (
        table(spark, "documents", sf_dir)
        .select("doc_id", "source", "text")
        .filter(F.length("text") >= 3)
    )
    _, srmap = _ngram_source_rep_state(d)
    rep = {r["doc_id"]: r["srep"] for r in srmap.collect()}
    jac_of = {
        (r["rep_id1"], r["rep_id2"]): r["jaccard"] for r in receipts
    }
    for m in members:
        r1, r2 = sorted((rep[m["doc_id1"]], rep[m["doc_id2"]]))
        assert jac_of[(r1, r2)] == m["jaccard"]


def test_dedup_simhash_receipts_aggregate_member_enumeration(spark, sf_dir):
    """dedup_simhash_receipts is EXACTLY dedup_simhash aggregated to
    exact-text rep grain: product member counts sum to the member
    key's row count, and every member pair's hamming equals its rep
    pair's receipt row (the signature is a pure function of text)."""
    from scribedb_spark import queries as Q
    from scribedb_spark.operators.dedup import text_rep_map

    Q.load_extensions()
    receipts = Q.REGISTRY["dedup_simhash_receipts"].fn(spark, sf_dir).collect()
    members = Q.REGISTRY["dedup_simhash"].fn(spark, sf_dir).collect()
    assert receipts and members
    assert sum(r["n_member_pairs"] for r in receipts) == len(members)

    rep = {
        r["doc_id"]: r["rep_id"]
        for r in text_rep_map(spark, sf_dir).collect()
    }
    ham_of = {
        (r["rep_id1"], r["rep_id2"]): r["hamming"] for r in receipts
    }
    for m in members:
        r1, r2 = sorted((rep[m["doc_id1"]], rep[m["doc_id2"]]))
        assert ham_of[(r1, r2)] == m["hamming"]
