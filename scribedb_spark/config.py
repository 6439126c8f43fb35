"""YAML compare-spec parsing (reference UX parity, SURVEY.md §2.1 S5
and M3).

The reference's YAML shape (reference example.md:162-192,
scribedb/configuration.py:19-37, pydantic models main.py:104,140-153):

    compare:
      source: {db: {type: postgres, host: ..., qry: ...}, name: src}
      target: {db: {type: oracle,  ...}, name: tgt}
      max_delta: 0

The engine keeps the same outer shape but a Spark-native source union:
``type: parquet`` (path) / ``type: sql`` (query over registered views)
/ ``type: jdbc`` (url/query/password env var — the reference's S1/S2).
Unlike the reference — whose pydantic ``__init__`` opens live DB
connections (construction-is-execution, SURVEY.md §3 entry 2) — parsing
here is pure; ``build_dataframe`` is a separate step.
"""

from __future__ import annotations

from typing import Literal, Optional, Union

import yaml
from pydantic import BaseModel, Field

from pyspark.sql import DataFrame, SparkSession

from scribedb_spark.compare import HashMode


class ParquetSource(BaseModel):
    type: Literal["parquet"]
    path: str
    columns: Optional[list[str]] = None


class SqlSource(BaseModel):
    type: Literal["sql"]
    qry: str


class JdbcSource(BaseModel):
    """Reference S1/S2 shape: connection fields + query + password env
    var name (reference scribedb/base.py:35-39)."""

    type: Literal["jdbc"]
    url: str
    qry: str
    driver: Optional[str] = None
    user: Optional[str] = None
    password_env: Optional[str] = None


class DbapiSource(BaseModel):
    """Remote-hash side for ``--mode remote-hybrid`` (the reference's
    headline WAN scenario, reference example.md:205-252): the engine
    pushes the chained-MD5 chunk hash INTO this database over a DBAPI
    connection — only 32 hex chars per chunk cross the wire.

    ``qry`` must project ONE column ``v`` — the canonical ``(a,b,...)``
    row text — with a total ORDER BY matching the Spark side's
    ``sort_keys`` (same contract as compat.hybrid_compare). ``init``
    statements run once after connect (e.g. CREATE VIEW for tests);
    ``cols`` feeds the Oracle bundle's typed concat."""

    type: Literal["dbapi"]
    kind: Literal["duckdb", "postgres", "oracle"]
    database: str = ":memory:"
    qry: str
    init: list[str] = []
    cols: Optional[list[str]] = None
    user: Optional[str] = None
    password_env: Optional[str] = None


Source = Union[ParquetSource, SqlSource, JdbcSource, DbapiSource]


class Side(BaseModel):
    db: Source = Field(discriminator="type")
    name: str = "dataset"


class CompareConfig(BaseModel):
    source: Side
    target: Side
    keys: list[str] = []
    sort_keys: list[str] = []
    bucket_rows: int = 100_000
    hash_mode: HashMode = "unordered"
    distinct: bool = False
    #: the reference declared max_delta and never used it
    #: (reference main.py:153); here it works.
    max_delta: int = 0
    row_limit: int = 50
    #: keyed-chunk count for --mode remote-keyed (hash(key) mod n)
    n_chunks: int = 64
    #: require matching column names/types, not just arity (the
    #: reference checks arity only, reference main.py:157-168)
    strict_schema: bool = False


class RootConfig(BaseModel):
    compare: CompareConfig


def load_config(path: str) -> RootConfig:
    """YAML -> validated model (reference raises on malformed/empty
    YAML — same here via pydantic)."""
    with open(path) as f:
        raw = yaml.safe_load(f)
    if raw is None:
        raise ValueError(f"empty config: {path}")
    return RootConfig.model_validate(raw)


def build_dataframe(spark: SparkSession, side: Side) -> DataFrame:
    src = side.db
    if isinstance(src, DbapiSource):
        raise ValueError(
            "a dbapi source only hashes remotely — run with "
            "--mode remote-hybrid (its rows never enter Spark by design)"
        )
    if isinstance(src, ParquetSource):
        df = spark.read.parquet(src.path)
        return df.select(*src.columns) if src.columns else df
    if isinstance(src, SqlSource):
        return spark.sql(src.qry)
    from scribedb_spark.sources import read_jdbc_query

    return read_jdbc_query(
        spark,
        src.url,
        src.qry,
        driver=src.driver,
        user=src.user,
        password_env=src.password_env,
    )


def run_compare_config(
    spark: SparkSession, cfg: RootConfig, *, with_chunks: bool = False
):
    """Spec -> result (the reference's whole main(), reference
    main.py:155-267, minus construction-is-execution).
    ``with_chunks`` also asks for ``result.chunk_status`` (the
    per-chunk OK/NOK report the CLI prints in hash mode), built on
    first read."""
    from scribedb_spark.compare import CompareSpec, compare

    c = cfg.compare
    src = build_dataframe(spark, c.source)
    tgt = build_dataframe(spark, c.target)
    spec = CompareSpec(
        keys=c.keys,
        sort_keys=c.sort_keys,
        bucket_rows=c.bucket_rows,
        hash_mode=c.hash_mode,
        distinct=c.distinct,
        max_delta=c.max_delta,
        strict_schema=c.strict_schema,
        row_limit=c.row_limit,
    )
    return compare(src, tgt, spec, with_chunks=with_chunks)


def run_hybrid_config(spark: SparkSession, cfg: RootConfig) -> list[dict]:
    """``--mode remote-hybrid``: one side is a ``dbapi`` source whose
    chunk hashes are computed INSIDE the remote database (32 hex chars
    per chunk over the wire); the other side is any Spark-readable
    source fingerprinted by canonical.fp_chain. Returns the per-chunk
    report (compat.hybrid_compare shape). Exactly one side must be
    ``type: dbapi``; ``sort_keys`` are required (the chained hash is
    order-sensitive)."""
    from scribedb_spark.compat import connect_dbapi, hybrid_compare

    c = cfg.compare
    sides = {"source": c.source, "target": c.target}
    remote = {k: s for k, s in sides.items() if isinstance(s.db, DbapiSource)}
    if len(remote) != 1:
        raise ValueError(
            "remote-hybrid needs exactly one side with type: dbapi "
            f"(got {len(remote)})"
        )
    ((_, rside),) = remote.items()
    (lside,) = [s for s in sides.values() if s is not rside]
    if not c.sort_keys:
        raise ValueError("remote-hybrid requires sort_keys (chained hash)")
    db = rside.db
    conn = connect_dbapi(
        db.kind,
        db.database,
        user=db.user,
        password_env=db.password_env,
        init=db.init,
    )
    try:
        return hybrid_compare(
            conn,
            db.kind,
            db.qry,
            build_dataframe(spark, lside),
            c.sort_keys,
            bucket_rows=c.bucket_rows,
            cols=db.cols,
        )
    finally:
        conn.close()


def run_keyed_hybrid_config(spark: SparkSession, cfg: RootConfig) -> list[dict]:
    """``--mode remote-keyed``: the ORDER-FREE hybrid compare. The
    ``dbapi`` side's ``qry`` projects TWO columns — ``k`` (the chunk
    key) and ``v`` (the canonical row text), NO ORDER BY needed — and
    the remote database computes its whole keyed-chunk fingerprint
    table in one aggregation round trip (compat.keyed_remote_hash);
    the Spark side is canonical.fp_keyed_chunks keyed on
    ``compare.keys`` (composite keys route chunks by the
    chr(2)-joined concat — the remote ``qry``'s ``k`` column must be
    the matching dialect concat, exactly as in remote-colfp). Extra
    rows on either side surface as NOK without a count preflight.
    Prefer this over remote-hybrid when both sides speak this
    engine's md5 scheme; remote-hybrid remains for reference
    chained-MD5 parity."""
    from scribedb_spark.compat import connect_dbapi, keyed_hybrid_compare

    c = cfg.compare
    sides = {"source": c.source, "target": c.target}
    remote = {k: s for k, s in sides.items() if isinstance(s.db, DbapiSource)}
    if len(remote) != 1:
        raise ValueError(
            "remote-keyed needs exactly one side with type: dbapi "
            f"(got {len(remote)})"
        )
    ((_, rside),) = remote.items()
    (lside,) = [s for s in sides.values() if s is not rside]
    if not c.keys:
        raise ValueError("remote-keyed requires keys (chunking key)")
    db = rside.db
    conn = connect_dbapi(
        db.kind,
        db.database,
        user=db.user,
        password_env=db.password_env,
        init=db.init,
    )
    try:
        from pyspark.sql import functions as F

        ldf = build_dataframe(spark, lside)
        key = c.keys[0]
        cols = db.cols
        if len(c.keys) > 1:
            # composite chunk key: rows sharing keys[0] must not be
            # forced into co-routing that a remote single-column k
            # cannot reproduce — both sides chunk on the chr(2) concat
            key = "__scdb_ck"
            ldf = ldf.withColumn(
                key,
                F.concat_ws(
                    "\x02", *[F.col(k).cast("string") for k in c.keys]
                ),
            )
            if cols is None:
                cols = [x for x in ldf.columns if x != key]
        return keyed_hybrid_compare(
            conn,
            db.kind,
            db.qry,
            ldf,
            key,
            cols=cols,
            n_chunks=c.n_chunks,
        )
    finally:
        conn.close()


def run_merkle_config(spark: SparkSession, cfg: RootConfig) -> DataFrame:
    """``--mode merkle``: compare the two sides by merkle roots and
    return only the level-0 chunks that differ (compare.merkle_drill)
    — the log-depth alternative to the full chunk report when the
    expected diff is sparse. ``sort_keys`` are required (chunking
    needs a deterministic global order); ``bucket_rows`` sets the
    chunk size."""
    from scribedb_spark.compare import merkle_drill

    c = cfg.compare
    if not c.sort_keys:
        raise ValueError("merkle mode requires sort_keys (chunk order)")
    src = build_dataframe(spark, c.source)
    tgt = build_dataframe(spark, c.target)
    cols = src.columns
    return merkle_drill(src, tgt, cols, c.sort_keys, c.bucket_rows)


def run_iblt_config(spark: SparkSession, cfg: RootConfig) -> DataFrame:
    """``--mode iblt``: reconcile the two sides via the IBLT sketch
    (analytics.iblt_reconcile) — a constant-size cell exchange per
    side and exact O(d) recovery of every differing key, classified
    added/removed/changed. Requires exactly one sort_key naming a
    unique non-negative BIGINT row key; all other shared columns form
    the row fingerprint. The diff-budget capacity error propagates
    (fail loud, never decode wrong)."""
    from pyspark.sql import functions as F

    from scribedb_spark.analytics import iblt_reconcile

    c = cfg.compare
    if not c.sort_keys or len(c.sort_keys) != 1:
        raise ValueError(
            "iblt mode requires exactly one sort_key (the BIGINT row key)"
        )
    key = c.sort_keys[0]
    src = build_dataframe(spark, c.source)
    tgt = build_dataframe(spark, c.target)
    if set(src.columns) != set(tgt.columns):
        raise ValueError(
            "iblt mode requires both sides to share the same columns "
            f"(source-only: {sorted(set(src.columns) - set(tgt.columns))}, "
            f"target-only: {sorted(set(tgt.columns) - set(src.columns))})"
        )
    from pyspark.sql.types import IntegralType

    for name, side in (("source", src), ("target", tgt)):
        if not isinstance(side.schema[key].dataType, IntegralType):
            raise ValueError(
                f"iblt mode requires an integral sort_key; {name}.{key} "
                f"is {side.schema[key].dataType.simpleString()} (string/"
                "float keys would XOR-decode garbage rather than fail)"
            )
    # Cheap loud guards for the documented preconditions: duplicate or
    # negative keys silently misclassify (XOR of equal keys cancels;
    # the peel classifier assumes one item per key per side). One
    # partial-agg pass per side, cheap next to the sketch build.
    for name, side in (("source", src), ("target", tgt)):
        chk = side.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(key).alias("n"),
            F.count_distinct(F.col(key)).alias("nd"),
            F.min(key).alias("mn"),
        ).first()
        if chk["rows"] != chk["n"]:
            # count()/count_distinct() skip NULLs, so a NULL key would
            # sail through the guards below and stall the decode with a
            # misleading capacity error — fail loud here instead.
            raise ValueError(
                f"iblt mode requires a non-NULL sort_key; {name} has "
                f"{chk['rows'] - chk['n']} rows with NULL {key}"
            )
        if chk["n"] != chk["nd"]:
            raise ValueError(
                f"iblt mode requires a unique sort_key per side; {name} "
                f"has {chk['n']} rows but {chk['nd']} distinct {key}"
            )
        if chk["mn"] is not None and chk["mn"] < 0:
            raise ValueError(
                "iblt mode requires a non-negative sort_key "
                f"(min {name}.{key} = {chk['mn']})"
            )
    value_cols = [col for col in src.columns if col != key]
    return iblt_reconcile(spark, src, tgt, key, value_cols, cells="auto")


def run_colfp_config(spark: SparkSession, cfg: RootConfig) -> DataFrame:
    """``--mode colfp``: per-column fingerprint report
    (compare.column_fingerprints) — which ATTRIBUTES diverge, one
    aggregate pass per side and no row fetch. ``keys`` are required
    (cells hash key-paired so value swaps between rows are caught)."""
    from scribedb_spark.compare import column_fingerprints

    c = cfg.compare
    if not c.keys:
        raise ValueError("colfp mode requires keys (key-paired cell hashes)")
    src = build_dataframe(spark, c.source)
    tgt = build_dataframe(spark, c.target)
    return column_fingerprints(src, tgt, c.keys)


def run_colfp_hybrid_config(spark: SparkSession, cfg: RootConfig) -> list[dict]:
    """``--mode remote-colfp``: the WAN column drill. The ``dbapi``
    side's ``qry`` projects the key column(s) (``compare.keys``,
    composite keys chr(2)-joined on both sides) plus
    the compared columns named in ``cols``; the remote database
    computes every column's key-paired fingerprint in ONE aggregation
    round trip (compat.colfp_remote_hash), the Spark side is
    compare.column_fp_table with matching cast-to-string cells.
    Returns [{col_name, remote_fp, local_fp, status}]."""
    from scribedb_spark.compat import colfp_hybrid_compare, connect_dbapi

    c = cfg.compare
    sides = {"source": c.source, "target": c.target}
    remote = {k: s for k, s in sides.items() if isinstance(s.db, DbapiSource)}
    if len(remote) != 1:
        raise ValueError(
            "remote-colfp needs exactly one side with type: dbapi "
            f"(got {len(remote)})"
        )
    ((_, rside),) = remote.items()
    (lside,) = [s for s in sides.values() if s is not rside]
    if not c.keys:
        raise ValueError("remote-colfp requires keys (cell pairing key)")
    db = rside.db
    if not db.cols:
        raise ValueError("remote-colfp requires dbapi cols (compared columns)")
    conn = connect_dbapi(
        db.kind,
        db.database,
        user=db.user,
        password_env=db.password_env,
        init=db.init,
    )
    try:
        return colfp_hybrid_compare(
            conn,
            db.kind,
            db.qry,
            build_dataframe(spark, lside),
            c.keys,
            db.cols,
        )
    finally:
        conn.close()
