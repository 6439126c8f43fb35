"""Differential tests: every SQL-checkable query key vs its DuckDB
oracle — a local mirror of the driver's t2 harness (row count, column
names, order-insensitive exact values) at sf0.001."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb
import pytest

from scribedb_spark.sources import TPCH_TABLES


@pytest.fixture(scope="module")
def qmod():
    from scribedb_spark import queries as Q

    Q.load_extensions()
    return Q


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _normalize(df):
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(r[c]) for c in cols) for _, r in df[cols].iterrows()
    ]
    return cols, sorted(rows)


def get_keys():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scribedb_spark import queries as Q

    Q.load_extensions()
    return sorted(k for k, v in Q.REGISTRY.items() if v.oracle)


#: each key's output schema as test_query_matches_oracle built it, so
#: the complex-type check reads it instead of building the key again
_SCHEMAS: dict = {}


@pytest.mark.parametrize("key", get_keys())
def test_query_matches_oracle(spark, sf_dir, qmod, duck, key):
    qd = qmod.REGISTRY[key]
    df = qd.fn(spark, sf_dir)
    _SCHEMAS[(key, sf_dir)] = df.schema
    sdf = df.toPandas()
    odf = duck.execute(qd.oracle).df()
    assert len(sdf) == len(odf), f"{key}: row count {len(sdf)} != oracle {len(odf)}"
    scols, srows = _normalize(sdf)
    ocols, orows = _normalize(odf)
    assert scols == ocols, f"{key}: columns {scols} != {ocols}"
    mism = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
    ][:5]
    assert not mism, f"{key}: first value mismatches: {mism}"


def test_no_complex_typed_output_columns(spark, sf_dir, qmod):
    """Driver-canonicalization constraint: the differential driver
    sorts result cells with pandas, which cannot hash/order list,
    map, or struct cells (round-3 `unhashable type: 'list'` err on
    vec_quantize_int8). Every registry key must therefore emit only
    scalar top-level columns — arrays are either exploded or joined
    to canonical strings before return."""
    from pyspark.sql import types as T

    offenders = []
    for key, qd in qmod.REGISTRY.items():
        schema = _SCHEMAS.get((key, sf_dir)) or qd.fn(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                offenders.append((key, f.name, f.dataType.simpleString()))
    assert not offenders, f"complex-typed output columns: {offenders}"


def test_enumeration_order_reads_no_records(qmod, monkeypatch):
    """The key order is a property of the registry alone: contract keys
    first, and oracle_sql() follows the same order. Hiding every file a
    glob could find must not move a key."""
    import glob

    order = list(qmod.queries())
    monkeypatch.setattr(glob, "glob", lambda *a, **k: [])
    assert list(qmod.queries()) == order
    contract = [k for k in qmod._CONTRACT_KEYS if k in qmod.REGISTRY]
    assert order[: len(contract)] == contract
    assert list(qmod.oracle_sql()) == [
        k for k in order if qmod.REGISTRY[k].oracle
    ]


def test_agg_approx_distinct_tolerance(spark, sf_dir):
    """The error-bound verdict key: every flag must read 1 (the
    sketches honor their contracts), the emitted exact counts must
    equal an independent exact computation, and the RAW sketch
    estimates (recomputed here, outside the key) must land within the
    tighter engine tolerance (2% HLL sd -> allow 6%)."""
    from pyspark.sql import functions as F
    from scribedb_spark import queries as Q
    from scribedb_spark.sources import table

    Q.load_extensions()
    out = {
        r["l_returnflag"]: r
        for r in Q.REGISTRY["agg_approx_distinct"].fn(spark, sf_dir).collect()
    }
    li = table(spark, "lineitem", sf_dir)
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_partkey"),
            F.countDistinct("l_suppkey").alias("nd_suppkey"),
            F.approx_count_distinct("l_partkey", 0.02).alias("hp"),
            F.approx_count_distinct("l_suppkey", 0.02).alias("hs"),
        )
        .collect()
    }
    assert set(out) == set(exact)
    for flag, e in exact.items():
        a = out[flag]
        assert a["nd_partkey"] == e["nd_partkey"]
        assert a["nd_suppkey"] == e["nd_suppkey"]
        assert (
            a["hll_partkey_ok"] == a["hll_suppkey_ok"] == a["p50_ok"] == 1
        )
        assert abs(e["hp"] - e["nd_partkey"]) <= max(3, 0.06 * e["nd_partkey"])
        assert abs(e["hs"] - e["nd_suppkey"]) <= max(3, 0.06 * e["nd_suppkey"])


def test_script_key_lists_exist_in_registry(qmod):
    """bench.py / scripts/dump_plans.py / scripts/scale_smoke.py name
    registry keys by string — a rename or typo would crash the
    driver's bench run at round end, the most expensive place to
    find out."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def keys_of(path, attr):
        spec = importlib.util.spec_from_file_location("m_" + attr, path)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return getattr(m, attr)

    for path, attr in [
        (os.path.join(root, "bench.py"), "BENCH_KEYS"),
        (os.path.join(root, "bench.py"), "STABLE_KEYS"),
        (os.path.join(root, "scripts", "dump_plans.py"), "KEYS"),
        (os.path.join(root, "scripts", "scale_smoke.py"), "KEYS"),
        (os.path.join(root, "scripts", "scale_smoke.py"), "PAIR_PROBES"),
        (os.path.join(root, "scripts", "build_indexes.py"), "PERSIST_KEYS"),
    ]:
        missing = [k for k in keys_of(path, attr) if k not in qmod.REGISTRY]
        assert not missing, f"{path}: {missing}"


def test_bench_headline_line_fits_driver_tail_window():
    """The driver records only the last ~2000 chars of bench stdout.
    Rounds 5-6 lost their BENCH records because the per-key dict in
    the final JSON line outgrew that window (3071 chars at 108 keys).
    The compact-line contract must stay well under the bound no matter
    how many keys the registry grows."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(root, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    # worst plausible values: huge total, long sf string, 5-digit key count
    line = bench.headline_line(
        99999.999, "0.001", 99999, 99999.999, 99999, 99999.999, 32
    )
    assert len(line) < 1900, len(line)
    import json

    parsed = json.loads(line)
    assert parsed["metric"] == "headline_total"
    assert parsed["unit"] == "sec"
    assert parsed["n_keys"] == 99999
    assert parsed["stable_total"] == 99999.999
    # r16: cold/warm split — cold_total (first-run sum, where session
    # -cache builds land) and cpus are carried in the compact line
    assert parsed["cold_total"] == 99999.999
    assert parsed["cpus"] == 32
    # canary normalization (r14 VERDICT item 6): driver-stamped rounds
    # compare on value / stable_total without a manual correction
    assert parsed["headline_per_canary"] == 1.0
    line2 = bench.headline_line(150.0, 0.1, 200, 10.0, 16)
    assert json.loads(line2)["headline_per_canary"] == 15.0
    # zero/absent canary never divides
    assert "headline_per_canary" not in json.loads(
        bench.headline_line(150.0, 0.1, 200, 0.0, 16)
    )
    assert "headline_per_canary" not in json.loads(
        bench.headline_line(150.0, 0.1, 200)
    )
    # the pinned stable subset must stay inside the benched set
    assert set(bench.STABLE_KEYS) <= set(bench.BENCH_KEYS)


def test_oracle_word_cap_holds_for_corpus(sf_dir):
    """Several oracles unroll word positions only up to 5000
    (SQL_SHINGLES, text_rare_bigrams, frame oracles) while the Spark
    side is uncapped — a longer document would silently diverge the
    mirror. Pin the assumption against the actual corpus."""
    import duckdb

    (max_words,) = duckdb.sql(
        f"SELECT MAX(len(string_split(text, ' ')))"
        f" FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()
    assert max_words < 4998, f"corpus breaks the 5000-word oracle cap: {max_words}"
