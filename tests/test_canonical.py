"""Unit tests for canonical formatting + fingerprints (SURVEY.md §2.9,
FIXTURES.md F3)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scribedb_spark.canonical import (
    canonical_row,
    fp_chain,
    fp_row_md5,
    fp_unordered,
    global_row_number,
)


@pytest.fixture(scope="module")
def f3(spark):
    """FIXTURES.md F3 type-canonicalization table."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("dec", T.DecimalType(12, 2)),
            T.StructField("s", T.StringType()),
            T.StructField("flag", T.BooleanType()),
        ]
    )
    base = datetime.datetime(2022, 1, 1, 0, 0, 0)
    cyc = ["plain", "has space", "has,comma", 'has"quote', "", None]
    rows = [
        (
            i,
            base + datetime.timedelta(minutes=i),
            Decimal(i) * Decimal("1.10"),
            cyc[i % 6],
            i % 2 == 0,
        )
        for i in range(1, 101)
    ]
    return spark.createDataFrame(rows, schema)


def test_canonical_row_formats(f3):
    got = f3.filter(F.col("id") <= 6).select(
        "id", canonical_row(f3).alias("c")
    ).orderBy("id").collect()
    texts = {r["id"]: r["c"] for r in got}
    assert texts[1] == "(1,2022-01-01 00:01:00,1.10,has space,false)"
    assert texts[2] == "(2,2022-01-01 00:02:00,2.20,has\\,comma,true)"
    # NULL marker distinct from empty string
    assert texts[5] == "(5,2022-01-01 00:05:00,5.50,\\N,false)"
    assert texts[4] == "(4,2022-01-01 00:04:00,4.40,,true)"


def test_null_vs_empty_no_collision(spark):
    df1 = spark.createDataFrame([("",)], "s string")
    df2 = spark.createDataFrame([(None,)], "s string")
    h1 = fp_row_md5(df1).collect()[0]["row_md5"]
    h2 = fp_row_md5(df2).collect()[0]["row_md5"]
    assert h1 != h2


def test_separator_no_collision(spark):
    df1 = spark.createDataFrame([("a,b", "c")], "x string, y string")
    df2 = spark.createDataFrame([("a", "b,c")], "x string, y string")
    assert (
        fp_row_md5(df1).collect()[0]["row_md5"]
        != fp_row_md5(df2).collect()[0]["row_md5"]
    )


def test_fp_unordered_invariant_under_repartition(f3):
    a = fp_unordered(f3).collect()[0]
    b = fp_unordered(f3.repartition(13)).collect()[0]
    assert a["fp"] == b["fp"] and a["n_rows"] == b["n_rows"] == 100


def test_fp_unordered_detects_one_row_change(f3):
    mutated = f3.withColumn(
        "s", F.when(F.col("id") == 50, F.lit("MUTATED")).otherwise(F.col("s"))
    )
    assert fp_unordered(f3).collect()[0]["fp"] != fp_unordered(mutated).collect()[0]["fp"]


def test_global_row_number(f3):
    got = global_row_number(f3, ["id"]).select("id", "rn").collect()
    assert all(r["id"] == r["rn"] for r in got)
    assert sorted(r["rn"] for r in got) == list(range(1, 101))


@pytest.mark.parametrize(
    "g, values",
    [("g", ["a", "b", None]), ("g", [0.5, float("nan"), None, -0.0, 0.0])],
    ids=["string-with-null", "double-with-nan-null-signed-zero"],
)
def test_global_row_number_per_group_matches_window(spark, g, values):
    """group_by numbers like row_number() OVER (PARTITION BY g ORDER BY
    k), also with more partitions than groups (every group spans
    partitions) and with the null / NaN / -0.0 groups Spark groups
    differently from Python."""
    from pyspark.sql import Window

    rows = [(values[i % len(values)], (i * 7919) % 211) for i in range(211)]
    df = spark.createDataFrame(rows, f"{g} {'string' if isinstance(values[0], str) else 'double'}, k int")
    want = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy(g).orderBy("k"))
    ).select("k", "rn")
    got = global_row_number(df, ["k"], num_partitions=8, group_by=[g])
    assert sorted(got.select("k", "rn").collect()) == sorted(want.collect())
    assert got.columns == df.columns + ["rn"]


def test_fp_chain_deterministic_and_order_sensitive(f3):
    chunks = fp_chain(f3, ["id"], bucket_rows=30).orderBy("chunk_id").collect()
    assert [r["chunk_id"] for r in chunks] == [0, 1, 2, 3]
    assert [r["n_rows"] for r in chunks] == [30, 30, 30, 10]
    # invariant under physical layout
    chunks2 = fp_chain(f3.repartition(7), ["id"], bucket_rows=30).orderBy("chunk_id").collect()
    assert [r["fp"] for r in chunks] == [r["fp"] for r in chunks2]
    # matches the reference recurrence computed in pure Python
    import hashlib

    rows = (
        f3.select(canonical_row(f3).alias("t"), "id").orderBy("id").collect()
    )
    state = ""
    for r in rows[:30]:
        state = hashlib.md5((state + r["t"]).encode()).hexdigest().upper()
    assert chunks[0]["fp"] == state


def test_fp_chain_merkle_two_level(f3):
    flat = fp_chain(f3, ["id"], bucket_rows=30)
    merkle = fp_chain(f3, ["id"], bucket_rows=30, subchunk_rows=7)
    # same chunking, deterministic (not equal hashes — different fold
    # shape — but stable row counts and reproducible values)
    m1 = {r["chunk_id"]: r["fp"] for r in merkle.collect()}
    m2 = {r["chunk_id"]: r["fp"] for r in fp_chain(f3.repartition(5), ["id"], 30, subchunk_rows=7).collect()}
    assert m1 == m2
    assert {r["chunk_id"]: r["n_rows"] for r in flat.collect()} == {
        r["chunk_id"]: r["n_rows"] for r in merkle.collect()
    }


def test_pg_composite_text_quoting(spark):
    """FIXTURES.md F2: values with spaces ('Jose Manuel') get PG-style
    double quotes, plain values don't (reference scribedb/oracle.py:60)."""
    from scribedb_spark.canonical import pg_composite_text

    df = spark.createDataFrame(
        [(1, "Jose Manuel"), (2, "Alice")], "id int, first_name string"
    )
    got = {
        r["id"]: r["t"]
        for r in df.select("id", pg_composite_text(df).alias("t")).collect()
    }
    assert got[1] == '(1,"Jose Manuel")'
    assert got[2] == "(2,Alice)"


def test_pg_composite_null_renders_empty(spark):
    """The reference's known flaw, reproduced in compat mode only:
    NULL and '' collide (engine-default canonical_row keeps them
    distinct)."""
    from scribedb_spark.canonical import pg_composite_text

    df1 = spark.createDataFrame([(1, None)], "id int, s string")
    df2 = spark.createDataFrame([(1, "")], "id int, s string")
    t1 = df1.select(pg_composite_text(df1).alias("t")).collect()[0]["t"]
    t2 = df2.select(pg_composite_text(df2).alias("t")).collect()[0]["t"]
    assert t1 == t2 == "(1,)"


def test_global_row_number_empty_input(spark):
    from pyspark.sql import functions as F

    empty = spark.range(0).select(F.col("id").alias("a"))
    assert global_row_number(empty, ["a"]).count() == 0
    assert fp_chain(empty, ["a"]).count() == 0


def test_fp_delta_update_composes_exactly(spark):
    """Two successive delta batches applied to a keyed-chunk
    fingerprint table must land bit-identical to a from-scratch
    recompute of the final state — the DECIMAL algebra admits no
    drift, chunks emptied by deletes carry n_rows=0."""
    from scribedb_spark.canonical import fp_delta_update, fp_keyed_chunks

    rows = [(i, f"v{i % 7}", f"p{i % 3}") for i in range(200)]
    base = spark.createDataFrame(rows, "k long, a string, b string")

    # batch 1: update k%10==0, delete k%37==0, insert 200..219
    upd1 = base.filter("k % 10 = 0 and k % 37 != 0").withColumn(
        "a", F.concat(F.lit("U1-"), F.col("a"))
    )
    dele1 = base.filter("k % 37 = 0")
    ins1 = spark.createDataFrame(
        [(200 + i, "new", "p9") for i in range(20)], "k long, a string, b string"
    )
    state1 = (
        base.join(upd1.select("k"), "k", "left_anti")
        .join(dele1.select("k"), "k", "left_anti")
        .unionByName(upd1)
        .unionByName(ins1)
    )
    fps1 = fp_delta_update(
        fp_keyed_chunks(base, "k", n_chunks=16),
        old_rows=upd1.select("k").join(base, "k").select("k", "a", "b")
        .unionByName(dele1),
        new_rows=upd1.unionByName(ins1),
        key="k",
        n_chunks=16,
    )
    # batch 2: delete all the batch-1 inserts, update k%55==0 survivors
    upd2 = state1.filter("k % 55 = 0 and k < 200").withColumn(
        "b", F.lit("p-final")
    )
    dele2 = state1.filter("k >= 200")
    state2 = (
        state1.join(upd2.select("k"), "k", "left_anti")
        .join(dele2.select("k"), "k", "left_anti")
        .unionByName(upd2)
    )
    fps2 = fp_delta_update(
        fps1, old_rows=upd2.select("k").join(state1, "k")
        .select("k", "a", "b").unionByName(dele2),
        new_rows=upd2, key="k", n_chunks=16,
    )
    scratch = fp_keyed_chunks(state2, "k", n_chunks=16)

    def snap(df):
        return {
            r["chunk_id"]: (r["n_rows"], r["fp_sum"])
            for r in df.collect()
            if r["n_rows"] != 0
        }

    assert snap(fps2) == snap(scratch)
