"""Compare-core tests — the reference's observable scenarios
(FIXTURES.md F1 scenarios 1-6, reference tests/test_scribedb.py)."""

from __future__ import annotations

import re
import threading
from hashlib import md5

import pytest
from conftest import _jobs_in
from pyspark.sql import functions as F

from scribedb_spark.canonical import fp_unordered
from scribedb_spark.compare import (
    fingerprint_delta,
    CompareResult,
    CompareSpec,
    _keyed_classes,
    SchemaMismatch,
    chunk_fingerprints,
    compare,
    keyed_diff,
    keyed_diff_cols,
    symmetric_diff,
)

CONST_C = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


@pytest.fixture(scope="module")
def t_test(spark):
    """FIXTURES.md F1: a=1..5000, b=a+10, c=const 52 chars
    (reference tests/test_scribedb.py:29-41)."""
    return (
        spark.range(1, 5001)
        .select(
            F.col("id").cast("int").alias("a"),
            (F.col("id") + 10).cast("int").alias("b"),
            F.lit(CONST_C).alias("c"),
        )
    )


def test_identical(t_test):
    res = compare(t_test, t_test)
    assert res.equal and res.diff_count == 0
    assert res.src_rows == res.tgt_rows == 5000
    res.raise_on_diff()  # must not raise


def test_one_row_mutated(t_test):
    """example.md:261-269 scenario: update c where a=50."""
    mutated = t_test.withColumn(
        "c",
        F.when(F.col("a") == 50, F.lit(CONST_C[:41])).otherwise(F.col("c")),
    )
    res = compare(t_test, mutated)
    assert not res.equal
    assert res.diff_count == 2  # the row, from each side
    rows = {(r["side"], r["a"]) for r in res.diff.collect()}
    assert rows == {("src", 50), ("tgt", 50)}
    with pytest.raises(ValueError):
        res.raise_on_diff()


def test_missing_row(t_test):
    shrunk = t_test.filter(F.col("a") != 123)
    res = compare(t_test, shrunk)
    assert not res.equal and res.diff_count == 1
    r = res.diff.collect()[0]
    assert (r["side"], r["a"]) == ("src", 123)


def test_arity_mismatch(t_test):
    with pytest.raises(SchemaMismatch):
        compare(t_test, t_test.select("a"))


def test_empty_both_sides(t_test):
    empty = t_test.limit(0)
    res = compare(empty, empty)
    assert res.equal and res.src_rows == 0


def test_duplicate_rows_bag_vs_set(t_test):
    """FIXTURES.md F1 scenario 6: the reference's set() semantics miss
    a duplicated row (reference main.py:126-129); bag semantics catch it."""
    dup = t_test.unionAll(t_test.filter(F.col("a") == 7))
    res = compare(t_test, dup)
    assert not res.equal and res.diff_count == 1
    res_set = compare(t_test, dup, CompareSpec(distinct=True))
    assert res_set.equal  # reference-compat mode reproduces the flaw


def test_max_delta_tolerance(t_test):
    mutated = t_test.withColumn(
        "b", F.when(F.col("a") == 9, F.lit(0)).otherwise(F.col("b"))
    )
    assert not compare(t_test, mutated).equal
    assert compare(t_test, mutated, CompareSpec(max_delta=2)).equal


def test_keyed_diff_classification(t_test):
    tgt = (
        t_test.filter(F.col("a") != 100)  # removed
        .withColumn(
            "b", F.when(F.col("a") == 200, F.lit(-1)).otherwise(F.col("b"))
        )  # changed
        .unionAll(
            t_test.sparkSession.createDataFrame(
                [(99999, 1, "x")], "a int, b int, c string"
            )
        )  # added
    )
    kd = keyed_diff(t_test, tgt, ["a"]).collect()
    got = {(r["a"], r["change"]) for r in kd}
    assert got == {(100, "removed"), (200, "changed"), (99999, "added")}


def test_chunk_fingerprints_localize_diff(t_test):
    mutated = t_test.withColumn(
        "b", F.when(F.col("a") == 4321, F.lit(0)).otherwise(F.col("b"))
    )
    spec = CompareSpec(sort_keys=["a"], bucket_rows=1000)
    cs = chunk_fingerprints(t_test, mutated, spec).collect()
    status = {r["chunk_id"]: r["status"] for r in cs}
    assert status == {0: "OK", 1: "OK", 2: "OK", 3: "OK", 4: "NOK"}
    # chained mode agrees on localization
    spec2 = CompareSpec(sort_keys=["a"], bucket_rows=1000, hash_mode="chained")
    cs2 = chunk_fingerprints(t_test, mutated, spec2).collect()
    assert {r["chunk_id"]: r["status"] for r in cs2} == status


def _per_side_chunk_report(src, tgt, spec):
    """The chunk report as two per-side fingerprint frames joined
    full-outer on chunk_id — the definition chunk_fingerprints must
    reproduce."""
    from scribedb_spark.canonical import (
        _fp_term,
        fp_chain,
        fp_row_md5,
        global_row_number,
    )

    sort_keys = spec.sort_keys or src.columns

    def side(df):
        if spec.hash_mode == "chained":
            return fp_chain(df, sort_keys, spec.bucket_rows)
        numbered = global_row_number(fp_row_md5(df), sort_keys)
        return numbered.groupBy(
            ((F.col("rn") - 1) / F.lit(spec.bucket_rows)).cast("long").alias("chunk_id")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_fp_term(F.col("row_md5"))).cast("decimal(38,0)").alias("fp"),
        )

    s = side(src).select(
        "chunk_id", F.col("fp").alias("src_fp"), F.col("n_rows").alias("src_rows")
    )
    t = side(tgt.toDF(*src.columns)).select(
        "chunk_id", F.col("fp").alias("tgt_fp"), F.col("n_rows").alias("tgt_rows")
    )
    return (
        s.join(t, "chunk_id", "full_outer")
        .withColumn(
            "status",
            F.when(
                (F.col("src_fp") == F.col("tgt_fp"))
                & (F.col("src_rows") == F.col("tgt_rows")),
                F.lit("OK"),
            ).otherwise(F.lit("NOK")),
        )
        .orderBy("chunk_id")
    )


@pytest.mark.parametrize("hash_mode", ["chained", "unordered"])
def test_chunk_fingerprints_equal_per_side_definition(spark, hash_mode):
    """One numbering pass over both sides gives the same report, column
    for column, as numbering each side alone and joining: ties on the
    sort key with different payloads, duplicate rows, null sort keys,
    a bucket width that does not divide the row count, a chunk only
    the target has, and an empty side. (Tie groups sit inside one
    chunk: across a chunk boundary the unordered report's split of a
    tie group is arbitrary on either definition.)"""
    schema = "k int, v string, x double"
    # sorted by k (nulls first), 7 rows per chunk: two null keys and a
    # duplicated row in chunk 0, a three-way tie on k=5 in chunk 1
    rows = [(None, "n1", 1.0), (None, "n2", None), (1, "a", 0.5), (2, "b", 0.25),
            (3, "c", None), (4, "dup", 2.0), (4, "dup", 2.0),
            (5, "t3", 1.5), (5, "t1", 1.5), (5, "t2", -1.0)]
    rows += [(k, f"r{k}", k / 8) for k in range(6, 36)]
    # checkpointed: every report below rescans both sides several
    # times, and a frame built from a Python list would rerun its
    # Python-side scan each time
    src = spark.createDataFrame(rows, schema).localCheckpoint()
    tgt_rows = [r if r[0] != 12 else (12, "changed", r[2]) for r in reversed(rows)]
    tgt_rows += [(k, f"new{k}", None) for k in range(100, 104)]
    tgt = spark.createDataFrame(tgt_rows, "kk int, vv string, xx double").localCheckpoint()
    empty = src.limit(0)
    spec = CompareSpec(sort_keys=["k"], bucket_rows=7, hash_mode=hash_mode)

    reports = []
    for a, b in ((src, tgt), (src, empty), (empty, tgt), (empty, empty)):
        got = chunk_fingerprints(a, b, spec)
        want = _per_side_chunk_report(a, b, spec)
        assert got.dtypes == want.dtypes
        reports.append(got.collect())
        assert reports[-1] == want.collect()
    statuses = [r["status"] for r in reports[0]]
    # 40 vs 44 rows: chunk 2 holds k=12 (changed), chunk 5 the first
    # extra rows, chunk 6 exists on the target only
    assert statuses == ["OK", "OK", "NOK", "OK", "OK", "NOK", "NOK"]


def test_compare_builds_chunk_report_on_first_read(spark, t_test):
    """compare(with_chunks=True) runs exactly the verdict's jobs; the
    chunk report's jobs run when chunk_status is first read, and a
    second read returns the same frame without a job."""
    sc = spark.sparkContext
    spec = CompareSpec(sort_keys=["a"], bucket_rows=1000, hash_mode="chained")

    _, plain = _jobs_in(sc, "verdict-only", lambda: compare(t_test, t_test, spec))
    res, with_chunks = _jobs_in(
        sc, "verdict-with-chunks", lambda: compare(t_test, t_test, spec, with_chunks=True)
    )
    assert with_chunks == plain
    cs, first = _jobs_in(sc, "chunks-first-read", lambda: res.chunk_status)
    assert first > 0
    again, second = _jobs_in(sc, "chunks-second-read", lambda: res.chunk_status)
    assert again is cs and second == 0
    assert {r["status"] for r in cs.collect()} == {"OK"}
    assert compare(t_test, t_test, spec).chunk_status is None


@pytest.mark.parametrize(
    "bad, named",
    [({"hash_mode": "chain"}, "'chain'"), ({"bucket_rows": 0}, "0"),
     ({"sort_keys": ["a", "nope"]}, "'nope'")],
)
def test_bad_chunk_spec_rejected_before_any_job(spark, t_test, bad, named):
    """A typo'd hash_mode must not quietly select the unordered
    report; a bad width or sort key must not wait for the lazy report
    to fail."""
    sc = spark.sparkContext
    spec = CompareSpec(**{"sort_keys": ["a"], "hash_mode": "chained", **bad})
    group = f"bad-spec-{named}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=named):
            compare(t_test, t_test, spec, with_chunks=True)
        with pytest.raises(ValueError, match=named):
            chunk_fingerprints(t_test, t_test, spec)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_symmetric_diff_column_name_independence(t_test):
    """Reference compares positionally; names may differ
    (reference main.py:157-168 checks arity only)."""
    renamed = t_test.toDF("x", "y", "z")
    assert symmetric_diff(t_test, renamed).count() == 0


def test_compare_on_driver_data(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mutated = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    res = compare(orders, mutated, CompareSpec(keys=["o_orderkey"]))
    assert not res.equal
    assert res.keyed_diff is not None
    kd = res.keyed_diff.collect()
    assert len(kd) == 1 and kd[0]["change"] == "changed" and kd[0]["o_orderkey"] == 7


def test_keyed_diff_rejects_non_unique_key(spark, sf_dir):
    """Driver lineitem has duplicate (l_orderkey, l_linenumber) pairs —
    a full-outer join on it would cross-pair duplicates, so keyed_diff
    must refuse (found via runtime verification)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    with pytest.raises(ValueError, match="not unique"):
        keyed_diff(li, li, ["l_orderkey", "l_linenumber"])


def test_write_report_and_register_views(spark, sf_dir, tmp_path):
    """S6 sink + S3 view registration (sources.py)."""
    from scribedb_spark.sources import register_views, write_report

    register_views(spark, sf_dir)
    assert spark.sql("select count(*) c from nation").collect()[0]["c"] == 25

    res = compare(
        spark.table("orders"),
        spark.table("orders").withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 3, F.lit(0.0)).otherwise(
                F.col("o_totalprice")
            ),
        ),
    )
    out = str(tmp_path / "report")
    write_report(res.diff, out)
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) == set(res.diff.columns)


def test_keyed_diff_null_payload_semantics(spark):
    """Struct comparison must treat NULL==NULL as equal (no phantom
    'changed') while NULL vs value IS a change — load-bearing for
    diffing nullable tables."""
    from scribedb_spark.compare import keyed_diff

    src = spark.createDataFrame(
        [(1, None, "x"), (2, "b", None), (3, "c", "z")], "id int, p1 string, p2 string"
    )
    tgt = spark.createDataFrame(
        [(1, None, "x"), (2, "b", "now-set"), (3, None, "z")],
        "id int, p1 string, p2 string",
    )
    out = {r["id"]: r["change"] for r in keyed_diff(src, tgt, ["id"]).collect()}
    assert out == {2: "changed", 3: "changed"}


def test_fingerprint_delta_incremental_recheck(t_test):
    """Incremental compare: persisting chunk fingerprints per run and
    diffing them flags exactly the changed + appended chunks — the
    scale replacement for the reference's rehash-everything loop."""
    spec = CompareSpec(sort_keys=["a"], bucket_rows=1000)

    def run_fps(df):
        return chunk_fingerprints(df, df, spec).select(
            "chunk_id", F.col("src_fp").alias("fp")
        )

    nxt = t_test.withColumn(
        "b", F.when(F.col("a") == 4321, F.lit(0)).otherwise(F.col("b"))
    ).unionAll(
        t_test.sparkSession.createDataFrame(
            [(99999, 1, "x")], "a int, b int, c string"
        )
    )
    delta = fingerprint_delta(run_fps(t_test), run_fps(nxt)).collect()
    got = {(r["chunk_id"], r["status"]) for r in delta}
    assert got == {(4, "changed"), (5, "added")}


def test_keyed_diff_null_keys_pair_null_safe(spark):
    """Null keys match null keys (IS NOT DISTINCT FROM semantics):
    identical rows with a null key are NOT phantom added+removed
    pairs, and a payload change under a null key classifies as
    'changed' with the column named."""
    from pyspark.sql import functions as F  # noqa: F401

    from scribedb_spark.compare import keyed_diff, keyed_diff_cols

    src = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    same = spark.createDataFrame([(1, "a"), (None, "b")], "k int, v string")
    assert keyed_diff(src, same, ["k"]).count() == 0
    assert keyed_diff_cols(src, same, ["k"]).count() == 0

    mut = spark.createDataFrame([(1, "a"), (None, "c")], "k int, v string")
    rows = keyed_diff_cols(src, mut, ["k"]).collect()
    assert len(rows) == 1
    assert rows[0]["k"] is None
    assert rows[0]["change"] == "changed"
    assert rows[0]["changed_cols"] == "v"


def test_tolerance_diff_null_drift_is_violation(spark):
    """NULL<->value drift must be reported (delta is NULL — not
    computable — but viol is true); NULL==NULL must not; null-keyed
    rows must pair null-safely instead of silently dropping."""
    from scribedb_spark.compare import tolerance_diff

    src = spark.createDataFrame(
        [(1, "10.00"), (2, None), (3, None), (4, "7.00"), (None, "1.00")],
        "k int, v string",
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))
    tgt = spark.createDataFrame(
        [(1, None), (2, "5.00"), (3, None), (4, "7.005"), (None, "9.00")],
        "k int, v string",
    ).select("k", F.col("v").cast("decimal(18,2)").alias("v"))

    rows = {r["k"]: r for r in tolerance_diff(src, tgt, ["k"], ["v"]).collect()}
    # k=1: value -> NULL, k=2: NULL -> value: both violations, delta NULL
    assert 1 in rows and rows[1]["delta_v"] is None and rows[1]["viol_v"]
    assert 2 in rows and rows[2]["delta_v"] is None and rows[2]["viol_v"]
    # k=3: NULL == NULL -> not a violation
    assert 3 not in rows
    # k=4: inside tolerance (cast rounds 7.005 -> 7.01? decimal(18,2)
    # HALF_UP gives 7.01 -> delta 0.01 == tol -> not a violation)
    assert 4 not in rows
    # null key pairs null-safely: 1.00 -> 9.00 is a real violation
    assert None in rows and rows[None]["viol_v"]


def test_keyed_diff_requires_payload(spark):
    """Keys covering every column must raise a clear error, not
    IndexError/empty-struct degradation."""
    from scribedb_spark.compare import keyed_diff, keyed_diff_cols

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="payload"):
        keyed_diff(df, df, ["k", "v"])
    with pytest.raises(ValueError, match="payload"):
        keyed_diff_cols(df, df, ["k", "v"])


def test_sampled_diff_deterministic_and_complete_at_full_fraction(spark):
    """sampled_diff: fraction=1.0 must equal the full symmetric diff;
    a smaller fraction must only ever return a SUBSET of it (the
    key-hash predicate picks the same logical rows on both sides, so
    no sampled row can be a false positive); and resampling is
    deterministic across invocations."""
    from scribedb_spark.compare import sampled_diff, symmetric_diff

    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k int, v string"
    )
    tgt = spark.createDataFrame(
        [(i, f"v{i}" if i % 20 else "MUT") for i in range(200)],
        "k int, v string",
    )
    full = {tuple(r) for r in symmetric_diff(src, tgt).collect()}
    assert {tuple(r) for r in sampled_diff(src, tgt, ["k"], 1.0).collect()} == full
    half1 = {tuple(r) for r in sampled_diff(src, tgt, ["k"], 0.5).collect()}
    half2 = {tuple(r) for r in sampled_diff(src, tgt, ["k"], 0.5).collect()}
    assert half1 == half2  # deterministic, not rand()-based
    assert half1 <= full and len(half1) > 0


def test_column_fingerprints_catches_value_swap(spark, sf_dir):
    """column_fingerprints hashes key-paired cells: swapping one
    column's values between two rows leaves the column's value
    multiset unchanged but MUST still flag the column (a plain
    per-column multiset hash would miss it); untouched columns stay
    equal."""
    from pyspark.sql import functions as F

    from scribedb_spark.compare import column_fingerprints

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # swap o_orderpriority between keys 1 and 7
    a = src.filter(F.col("o_orderkey") == 1).head()["o_orderpriority"]
    b = src.filter(F.col("o_orderkey") == 7).head()["o_orderpriority"]
    if a == b:  # ensure the swap is observable
        b = a + "-X"
    tgt = src.withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") == 1, F.lit(b))
        .when(F.col("o_orderkey") == 7, F.lit(a))
        .otherwise(F.col("o_orderpriority")),
    )
    rows = {
        r["col_name"]: r["equal"]
        for r in column_fingerprints(src, tgt, ["o_orderkey"]).collect()
    }
    assert rows.pop("o_orderpriority") is False
    assert all(rows.values()), rows


def test_bucket_recommendation_null_when_no_power_fits(spark):
    """layout_bucket_advisor's rec join must EMIT the metrics row
    with rec_buckets NULL when no power of two <= 2^30 covers the
    need (the oracle's scalar subquery returns NULL there; an inner
    join dropped the row entirely — round-8 fix). Unreachable with
    real test data (needs n_rows > target * 2^30), so driven with a
    fabricated metrics row."""
    from pyspark.sql import functions as F

    from scribedb_spark.analytics import bucket_recommendation

    powers = spark.range(31).select(
        F.expr("shiftleft(1L, cast(id as int))").alias("p")
    )
    m = spark.createDataFrame(
        [
            ("huge", "k", 10**15, 10**9, 10**6, 1, 2**40),
            ("ok", "k", 8192, 100, 90, 10986, 2),
        ],
        "table_name string, key_name string, n_rows long, n_keys long,"
        " max_key_rows long, hot_key_ppm long, need long",
    )
    rows = {r["table_name"]: r for r in bucket_recommendation(m, powers).collect()}
    assert set(rows) == {"huge", "ok"}
    assert rows["huge"]["rec_buckets"] is None
    assert rows["ok"]["rec_buckets"] == 2


# ---------------------------------------------------------------------------
# keyed classification: one grouped pass against the full-outer-join reference
# ---------------------------------------------------------------------------


def _join_keyed_diff(src, tgt, keys):
    """Reference: keyed_diff as a null-safe full-outer join on the key
    (the implementation the grouped pass replaced), without the key
    check."""
    tgt = tgt.toDF(*src.columns)
    payload = [c for c in src.columns if c not in keys]
    s = src.select(*[F.col(k).alias(f"__sk_{k}") for k in keys], F.struct(*payload).alias("__src"))
    t = tgt.select(*[F.col(k).alias(f"__tk_{k}") for k in keys], F.struct(*payload).alias("__tgt"))
    cond = None
    for k in keys:
        eq = F.col(f"__sk_{k}").eqNullSafe(F.col(f"__tk_{k}"))
        cond = eq if cond is None else cond & eq
    j = s.join(t, on=cond, how="full_outer")
    out_keys = [F.coalesce(F.col(f"__sk_{k}"), F.col(f"__tk_{k}")).alias(k) for k in keys]
    return (
        j.withColumn(
            "change",
            F.when(F.col("__src").isNull(), F.lit("added"))
            .when(F.col("__tgt").isNull(), F.lit("removed"))
            .when(F.col("__src") != F.col("__tgt"), F.lit("changed")),
        )
        .filter(F.col("change").isNotNull())
        .select(*out_keys, "change", "__src", "__tgt")
    )


def _join_keyed_diff_cols(src, tgt, keys):
    """Reference: keyed_diff_cols as a null-safe full-outer join with
    column-wise payload comparison, without the key check."""
    tgt = tgt.toDF(*src.columns)
    payload = [c for c in src.columns if c not in keys]
    s = src.select(
        *[F.col(k).alias(f"__sk_{k}") for k in keys],
        F.lit(True).alias("__in_src"),
        *[F.col(c).alias(f"__s_{c}") for c in payload],
    )
    t = tgt.select(
        *[F.col(k).alias(f"__tk_{k}") for k in keys],
        F.lit(True).alias("__in_tgt"),
        *[F.col(c).alias(f"__t_{c}") for c in payload],
    )
    cond = None
    for k in keys:
        eq = F.col(f"__sk_{k}").eqNullSafe(F.col(f"__tk_{k}"))
        cond = eq if cond is None else cond & eq
    j = s.join(t, on=cond, how="full_outer")
    differs = [~F.col(f"__s_{c}").eqNullSafe(F.col(f"__t_{c}")) for c in payload]
    any_differs = differs[0]
    for d in differs[1:]:
        any_differs = any_differs | d
    change = (
        F.when(F.col("__in_src").isNull(), F.lit("added"))
        .when(F.col("__in_tgt").isNull(), F.lit("removed"))
        .when(any_differs, F.lit("changed"))
    )
    changed_cols = F.when(
        change == "changed",
        F.concat_ws(",", *[F.when(d, F.lit(c)) for c, d in zip(payload, differs)]),
    ).otherwise(F.lit(""))
    return (
        j.select(
            *[F.coalesce(F.col(f"__sk_{k}"), F.col(f"__tk_{k}")).alias(k) for k in keys],
            change.alias("change"),
            changed_cols.alias("changed_cols"),
        )
        .filter(F.col("change").isNotNull())
    )


def _values(spark, rows: str, cols: str):
    """A driver-local frame from SQL VALUES: no Python worker job."""
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t({cols})")


#: name -> (columns, src rows, tgt rows, keys, sides emptied)
_KEYED_CASES = {
    "null-keys": (
        "k1, k2, v",
        "(1, NULL, 'a'), (NULL, NULL, 'b'), (NULL, 2, 'c'), (3, 3, 'd')",
        "(1, NULL, 'a'), (NULL, NULL, 'B'), (NULL, 2, 'c'), (NULL, 5, 'e')",
        ["k1", "k2"],
        (),
    ),
    "nan-and-signed-zero-keys": (
        "k, x, v, w",
        "(double('NaN'), double('NaN'), 1, double('NaN')),"
        " (double('-0.0'), double('-0.0'), 2, double('-0.0')),"
        " (0.0D, 1.0D, 3, 0.0D), (1.5D, 0.0D, 4, 0.0D)",
        "(double('NaN'), double('NaN'), 1, double('NaN')), (0.0D, 0.0D, 20, 0.0D),"
        " (double('-0.0'), 1.0D, 30, 0.0D), (double('-0.0'), 5.0D, 5, 0.0D)",
        ["k", "x"],
        (),
    ),
    "null-payloads": (
        "k, v, w",
        "(1, NULL, 'x'), (2, 1.0D, NULL), (3, NULL, NULL), (4, NULL, NULL)",
        "(1, NULL, 'x'), (2, NULL, NULL), (3, 5.0D, NULL), (4, NULL, NULL)",
        ["k"],
        (),
    ),
    "int-vs-bigint": ("k, v", "(1, 1), (2, 2), (3, 3)", "(1L, 1L), (2L, 20L), (4L, 4L)", ["k"], ()),
    "empty-src": ("k, v", "(1, 'a')", "(1, 'a'), (2, 'b')", ["k"], ("src",)),
    "empty-tgt": ("k, v", "(1, 'a'), (2, 'b')", "(1, 'a')", ["k"], ("tgt",)),
    "both-empty": ("k, v", "(1, 'a')", "(1, 'a')", ["k"], ("src", "tgt")),
}


def _case(spark, name):
    cols, s_rows, t_rows, keys, emptied = _KEYED_CASES[name]
    src, tgt = _values(spark, s_rows, cols), _values(spark, t_rows, cols)
    src = src.limit(0) if "src" in emptied else src
    tgt = tgt.limit(0) if "tgt" in emptied else tgt
    return src, tgt, keys


def _rows(df):
    # repr keeps NaN equal to itself and -0.0 apart from 0.0
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("case", list(_KEYED_CASES))
def test_keyed_diff_matches_full_outer_join(spark, case):
    """keyed_diff, keyed_diff_cols and compare()'s keyed answers give
    the full-outer join's rows and dtypes: null keys pair null-safely,
    NaN and -0.0/0.0 keys match and keep each side's own key value, a
    null payload is a value, an int side against a bigint side keeps
    each side's own struct types, and empty sides classify as all
    added, all removed or nothing."""
    src, tgt, keys = _case(spark, case)
    want = _join_keyed_diff(src, tgt, keys)
    want_cols = _join_keyed_diff_cols(src, tgt, keys)
    res = compare(src, tgt, CompareSpec(keys=keys))
    assert res.equal == (not want.take(1))
    got_pairs = [(keyed_diff(src, tgt, keys), want), (keyed_diff_cols(src, tgt, keys), want_cols)]
    if not res.equal:
        got_pairs += [(res.keyed_diff, want), (res.changed_cols, want_cols)]
    for got, ref in got_pairs:
        assert got.dtypes == ref.dtypes
        assert _rows(got) == _rows(ref)


@pytest.mark.parametrize("case", ["null-keys", "nan-and-signed-zero-keys", "int-vs-bigint"])
@pytest.mark.parametrize("distinct, max_delta", [(False, 0), (True, 0), (False, 4)])
def test_keyed_diff_count_is_symmetric_diff_size(spark, case, distinct, max_delta):
    """With a unique key, compare()'s keyed diff_count (2·changed +
    removed + added) is the size of the symmetric difference."""
    src, tgt, keys = _case(spark, case)
    res = compare(src, tgt, CompareSpec(keys=keys, distinct=distinct, max_delta=max_delta))
    n = symmetric_diff(src, tgt, distinct).count()
    assert res.diff_count == n > 0
    assert res.equal == (n <= max_delta)


@pytest.mark.parametrize("side", ["src", "tgt"])
def test_keyed_duplicate_keys_raise(spark, side):
    """A key repeated on either side raises, naming that side, from
    compare() and from both keyed functions."""
    uniq = _values(spark, "(1, 'a'), (2, 'b')", "k, v")
    dup = _values(spark, "(1, 'a'), (2, 'b'), (2, 'c')", "k, v")
    src, tgt = (dup, uniq) if side == "src" else (uniq, dup)
    for run in (
        lambda: compare(src, tgt, CompareSpec(keys=["k"])),
        lambda: compare(src, tgt, CompareSpec(keys=["k"], distinct=True)),
        lambda: keyed_diff(src, tgt, ["k"]),
        lambda: keyed_diff_cols(src, tgt, ["k"]),
    ):
        with pytest.raises(ValueError, match=f"not unique on the {side} side"):
            run()


@pytest.mark.parametrize(
    "keys, named", [(["a", "nope"], "'nope'"), (["a", "b", "c"], r"\['a', 'b', 'c'\]")]
)
@pytest.mark.parametrize("differs", [False, True])
def test_bad_keys_rejected_before_any_job(spark, t_test, keys, named, differs):
    """A key that is not a column, or keys covering every column, raise
    a ValueError naming them before any Spark job — whether the data
    is equal (the fast path would never read the key) or not."""
    tgt = t_test.withColumn("b", F.col("b") + 1) if differs else t_test
    sc = spark.sparkContext

    def run():
        with pytest.raises(ValueError, match=named):
            compare(t_test, tgt, CompareSpec(keys=keys))
        with pytest.raises(ValueError, match=named):
            keyed_diff(t_test, tgt, keys)
        with pytest.raises(ValueError, match=named):
            keyed_diff_cols(t_test, tgt, keys)

    _, jobs = _jobs_in(sc, f"bad-keys-{keys}-{differs}", run)
    assert jobs == 0


def test_keyed_compare_job_budget(spark, t_test, tmp_path):
    """A keyed compare() of two differing frames runs at most four jobs
    (fingerprints, and the classification checkpoint, which observes
    its own counts), and reading keyed_diff and changed_cols afterwards
    scans neither input — both are projections of the checkpoint."""
    sc = spark.sparkContext
    t_test.write.parquet(str(tmp_path / "src"))
    mutated = t_test.withColumn("b", F.when(F.col("a") % 500 == 0, F.lit(0)).otherwise(F.col("b")))
    mutated.filter(F.col("a") != 7).write.parquet(str(tmp_path / "tgt"))
    src = spark.read.parquet(str(tmp_path / "src"))
    tgt = spark.read.parquet(str(tmp_path / "tgt"))
    res, jobs = _jobs_in(sc, "keyed-compare", lambda: compare(src, tgt, CompareSpec(keys=["a"])))
    assert jobs <= 4
    assert res.diff_count == symmetric_diff(src, tgt).count() == 2 * 10 + 1
    for df in (res.keyed_diff, res.changed_cols):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the checkpoint's ExistingRDD is the only leaf
        assert "FileScan" not in plan and "Exchange" not in plan, plan
        assert plan.count("Scan ExistingRDD") == 1, plan
    (kd, cc), read_jobs = _jobs_in(
        sc, "keyed-read", lambda: (res.keyed_diff.collect(), res.changed_cols.collect())
    )
    assert read_jobs <= 2
    assert {(r["a"], r["change"]) for r in kd} == {(7, "removed")} | {
        (a, "changed") for a in range(500, 5001, 500)
    }
    assert {r["changed_cols"] for r in cc} == {"", "b"}


def _operators(plan: str) -> list[str]:
    """Operator names of a plan tree string, top down."""
    return [
        re.match(r"[\s:+\-]*(?:\*\(\d+\) )?(\w+)", line).group(1)
        for line in plan.splitlines()
        if line.strip()
    ]


def test_keyed_classes_sort_once(spark, t_test, tmp_path):
    """The keyed classification sorts every row once: its plan has one
    Exchange, on the key, and one Sort above it, with both halves of
    the sort aggregate above the Exchange — not a partial aggregate
    sorting the rows before the exchange and a final one re-sorting
    them after it."""
    t_test.write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    tgt = src.withColumn("b", F.col("b") + 1)
    plan = _keyed_classes(src, tgt, ["a"])._jdf.queryExecution().executedPlan().toString()
    ops = _operators(plan)
    assert ops.count("Sort") == 1 and ops.count("Exchange") == 1, plan
    below = ops[ops.index("Exchange") :]
    assert not [op for op in below if "Aggregate" in op], plan
    assert "Sort" not in below, plan


# ---------------------------------------------------------------------------
# the verdict agrees with the symmetric diff
# ---------------------------------------------------------------------------

#: name -> (columns, src rows, tgt rows); the key column is k
_VERDICT_CASES = {
    "doubles-past-6-decimals": (
        "k, x", "(1, 0.1234561D), (2, 1.0D)", "(1, 0.1234564D), (2, 1.0D)",
    ),
    "sub-second-timestamps": (
        "k, ts",
        "(1, timestamp'2024-01-01 00:00:00.100'), (2, timestamp'2024-01-01 00:00:01')",
        "(1, timestamp'2024-01-01 00:00:00.900'), (2, timestamp'2024-01-01 00:00:01')",
    ),
    "null-swapped-between-ints": (
        "k, a, b", "(1, NULL, 5), (2, 1, 1)", "(1, 5, NULL), (2, 1, 1)",
    ),
    "signed-zero-and-nan": (
        "k, x, y",
        "(1, double('-0.0'), double('NaN')), (2, 0.0D, 1.0D)",
        "(1, 0.0D, double('NaN')), (2, double('-0.0'), 1.0D)",
    ),
    "int-vs-bigint-equal": ("k, v", "(1, 1), (2, 2)", "(1L, 1L), (2L, 2L)"),
    "int-vs-bigint-changed": ("k, v", "(1, 1), (2, 2)", "(1L, 1L), (2L, 20L)"),
    "decimal-vs-double-equal": ("k, v", "(1, 1.50), (2, 2.25)", "(1, 1.5D), (2, 2.25D)"),
    "decimal-vs-double-changed": ("k, v", "(1, 1.50), (2, 2.25)", "(1, 1.5D), (2, 2.26D)"),
    "array-and-struct-equal": (
        "k, arr, st",
        "(1, array(1, NULL), named_struct('p', 1, 'q', 'a'))",
        "(1, array(1, NULL), named_struct('p', 1, 'q', 'a'))",
    ),
    "array-changed": (
        "k, arr, st",
        "(1, array(1, NULL), named_struct('p', 1, 'q', 'a'))",
        "(1, array(NULL, 1), named_struct('p', 1, 'q', 'a'))",
    ),
    "struct-changed": (
        "k, arr, st",
        "(1, array(1, NULL), named_struct('p', 1, 'q', 'a'))",
        "(1, array(1, NULL), named_struct('p', 1, 'q', 'b'))",
    ),
}


@pytest.mark.parametrize("keys", [[], ["k"]], ids=["keyless", "keyed"])
@pytest.mark.parametrize("case", list(_VERDICT_CASES))
def test_verdict_agrees_with_symmetric_diff(spark, case, keys):
    """compare()'s verdict is the symmetric diff's: equal exactly when
    the diff has no rows, and diff_count is its size. The verdict hashes
    typed values, so doubles past 6 decimals and sub-second timestamps
    count, a null moved to another column counts, -0.0/0.0 and NaN are
    equal, and an int or decimal side compares by value with a bigint or
    double one; array and struct columns hash as their canonical text."""
    cols, s_rows, t_rows = _VERDICT_CASES[case]
    src, tgt = _values(spark, s_rows, cols), _values(spark, t_rows, cols)
    res = compare(src, tgt, CompareSpec(keys=keys))
    n = symmetric_diff(src, tgt).count()
    assert res.equal == (n == 0)
    assert res.diff_count == n
    assert res.equal == case.endswith(("equal", "signed-zero-and-nan"))


@pytest.mark.parametrize("keys", [[], ["k"]], ids=["keyless", "keyed"])
def test_map_column_verdict(spark, keys):
    """Map columns hash as their canonical text (Spark cannot hash or
    group a map): an identical map column is equal on the fast path,
    and a changed one changes the fingerprint."""
    cols = "k, m"
    same = _values(spark, "(1, map('a', 1.5D)), (2, map('b', NULL))", cols)
    changed = _values(spark, "(1, map('a', 1.5D)), (2, map('b', 0.0D))", cols)
    res = compare(same, _values(spark, "(2, map('b', NULL)), (1, map('a', 1.5D))", cols),
                  CompareSpec(keys=keys))
    assert res.equal and res.diff_count == 0

    def fp(df):
        return fp_unordered(df, algo="xxhash64").first()["fp"]

    assert fp(same) != fp(changed)


def test_fp_unordered_md5_unchanged(spark):
    """The md5 fingerprint hashes the canonical text: 6-decimal
    doubles, second-precision timestamps and the NULL marker, so it
    cannot tell these rows apart while the typed xxhash64 one can."""
    cols = "k, x, ts"
    a = _values(spark, "(1, 0.1234561D, timestamp'2024-01-01 00:00:00.100')", cols)
    b = _values(spark, "(1, 0.1234564D, timestamp'2024-01-01 00:00:00.900')", cols)
    text = [fp_unordered(df).first() for df in (a, b)]
    assert text[0] == text[1]
    assert text[0]["fp"] == int(md5(b"(1,0.123456,2024-01-01 00:00:00)").hexdigest()[:15], 16)
    xx = [fp_unordered(df, algo="xxhash64").first() for df in (a, b)]
    assert xx[0]["fp"] != xx[1]["fp"]


# ---------------------------------------------------------------------------
# counted inside the checkpoint job; diff built on first read
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("side", ["src", "tgt"])
def test_keyed_drift_with_one_side_empty_returns(spark, side):
    """The observed counts arrive with the checkpoint job even when one
    side has no rows: compare() returns instead of waiting on them."""
    full = _values(spark, "(1, 'a'), (2, 'b')", "k, v")
    src, tgt = (full.limit(0), full) if side == "src" else (full, full.limit(0))
    out = {}
    worker = threading.Thread(
        target=lambda: out.update(res=compare(src, tgt, CompareSpec(keys=["k"]))), daemon=True
    )
    worker.start()
    worker.join(timeout=300)
    assert not worker.is_alive(), "compare() did not return"
    res = out["res"]
    assert not res.equal and res.diff_count == 2
    change = "added" if side == "src" else "removed"
    assert {(r["k"], r["change"]) for r in res.keyed_diff.collect()} == {(1, change), (2, change)}


@pytest.mark.parametrize("path", ["equal", "keyed", "keyless"])
@pytest.mark.parametrize("row_limit", [0, 5, 50])
def test_diff_is_capped_symmetric_diff(spark, t_test, path, row_limit):
    """res.diff is symmetric_diff(...).limit(row_limit) on every path
    (no cap at 0), built on its first read; later reads return the same
    frame."""
    tgt = t_test if path == "equal" else t_test.withColumn(
        "b", F.when(F.col("a") % 500 == 0, F.lit(0)).otherwise(F.col("b"))
    )
    keys = ["a"] if path == "keyed" else []
    res = compare(t_test, tgt, CompareSpec(keys=keys, row_limit=row_limit))
    assert res.equal == (path == "equal")
    full = _rows(symmetric_diff(t_test, tgt))
    got = _rows(res.diff)
    assert res.diff.dtypes == symmetric_diff(t_test, tgt).dtypes
    if row_limit and row_limit < len(full):
        assert len(got) == row_limit and set(got) <= set(full)
    else:
        assert got == full
    assert res.diff is res.diff


def test_compare_result_accepts_a_diff(spark, t_test):
    """A CompareResult built by hand keeps the diff it is given,
    positionally or by name, and a later assignment replaces it."""
    a, b = t_test.limit(1), t_test.limit(2)
    assert CompareResult(False, 1, 2, 1, a).diff is a
    res = CompareResult(equal=False, src_rows=1, tgt_rows=2, diff_count=1, diff=a)
    assert res.diff is a
    res.diff = b
    assert res.diff is b
    assert CompareResult(True, 0, 0, 0).diff is None
