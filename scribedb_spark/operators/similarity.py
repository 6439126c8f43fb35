"""Similarity search over embeddings + set-similarity join (north
star; SURVEY.md J7 / `vec_cosine_topk`).

Main tiers:

- ``vec_cosine_topk``  brute-force cosine top-k — built-in expressions
  (zip_with/aggregate), the correctness baseline.
- ``ann_lsh_topk``     sign-random-projection LSH: deterministic
  hyperplanes (md5-seeded, no RNG), bucket join + exact re-rank of
  candidates only. The 100 TB path: candidates per query are bounded
  by bucket size, the join is a shuffle on bucket key.
- ``ann_ivf_topk``     IVF coarse quantizer (FAISS-style cells):
  deterministic spherical k-means on a sample, one numpy pass assigns
  each vector its cell, queries probe their nearest cells. At scale
  the cell is the partition key — probed cells are the only data a
  query touches.
- ``ann_ivf_sq_topk``  the oracle-exact IVF member: seeded cells,
  int8-scalar-quantized codes, INTEGER dot-product assignment (no
  float summation-order ties), exact cosine re-rank.
- ``join_similarity``  token-set jaccard join with *prefix filtering*
  (PPJoin-style, see /root/repo/PAPERS.md): tokens ordered by global
  frequency, only the first |r| - ceil(t*|r|) + 1 tokens of each set
  can witness a candidate pair — an exact filter (no false negatives)
  that avoids the O(n^2) cross join.

The LSH hyperplane matrix is generated driver-side from md5 bytes
(deterministic across runs/machines) and broadcast; the per-vector
projection runs in an Arrow-batched pandas UDF (numpy matmul — the
vectorized slow-path escape hatch, ~100x a row-at-a-time UDF).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scribedb_spark.queries import REGISTRY, corpus_deps, register, served
from scribedb_spark.sources import table
from scribedb_spark.functions.vector import (
    cosine,
    dot as vdot,
    l2_distance,
    to_double_array,
)

#: default ceiling for the exact O(n^2) pairwise kernels (they remain
#: registered as recall baselines for their `_ann` twins); override
#: with $SPARK_GRAFT_EXACT_PAIRWISE_MAX to force a bigger run
_EXACT_PAIRWISE_MAX_DEFAULT = 250_000


def guard_exact_pairwise(op: str, n: int, twin: str) -> None:
    """Refuse to launch an exact all-pairs kernel on a corpus-sized
    input. The exact kernels (``vec_knn_graph``,
    ``dedup_embedding_cosine`` and its ``dedup_semantic_clusters``
    ledger) are recall BASELINES for their cell-blocked ``_ann``
    twins: correct at any size, but O(n^2) compute — pointing one at
    a real corpus is always a mistake, so fail loudly with the twin's
    name instead of burning a cluster. The cap is read per-call from
    ``$SPARK_GRAFT_EXACT_PAIRWISE_MAX`` (default 250k vectors ~ 31e9
    pair-dots, an hour-scale single-node job) so an operator who
    really wants the exact answer can raise it explicitly."""
    import os

    cap = int(
        os.environ.get(
            "SPARK_GRAFT_EXACT_PAIRWISE_MAX", str(_EXACT_PAIRWISE_MAX_DEFAULT)
        )
    )
    if n > cap:
        raise ValueError(
            f"{op}: exact O(n^2) recall baseline refused at n={n} vectors "
            f"(> SPARK_GRAFT_EXACT_PAIRWISE_MAX={cap}). Use {twin} at corpus "
            "scale, or raise the env cap to force the exact baseline."
        )


@register(
    "vec_cosine_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id,
                 ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
          FROM embeddings e, q
          WHERE e.vec_id <> 0)
    SELECT vec_id, score FROM s
    ORDER BY score DESC, vec_id LIMIT 20
    """,
)
def vec_cosine_topk(spark, sf_dir) -> DataFrame:
    """Brute-force cosine top-20 neighbors of vec_id 0.

    One broadcast of the query vector, one scan, TakeOrdered top-k —
    no shuffle of the embedding table. Scores rounded to 6 dp so the
    float compare is engine-stable."""
    e = table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(
        to_double_array("embedding").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(to_double_array("embedding"), F.col("qv")), 6).alias(
                "score"
            ),
        )
    )
    return scored.orderBy(F.desc("score"), "vec_id").limit(20)


N_PLANES = 8
N_TABLES = 4


def _hyperplanes(dim: int, tbl: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 bytes — no RNG
    state, identical on every machine/run. ``tbl`` seeds one of the
    N_TABLES independent hash tables (OR-amplification)."""
    planes = []
    for p in range(N_PLANES):
        row = []
        for d_ in range(dim):
            h = hashlib.md5(f"plane:{tbl}:{p}:{d_}".encode()).digest()
            v = int.from_bytes(h[:4], "big") / 2**31 - 1.0  # [-1, 1)
            row.append(v)
        planes.append(row)
    return planes


def _lsh_oracle(dim: int = 64) -> str:
    """DuckDB twin of ann_lsh_topk, planes embedded as literals.

    The hyperplanes are deterministic md5-derived constants (exact
    binary fractions: int/2^31 - 1, so their repr round-trips to the
    identical double), which makes the whole LSH pipeline
    SQL-expressible after all: per-(table, plane) dot products,
    sign-bit bucket assembly, same-bucket candidate join, cosine
    re-rank. ``dim`` is pinned to the test corpus width (the Spark
    side derives it from the data; a different-width corpus needs the
    oracle regenerated). Sign-flip risk from summation-order ulp
    drift (numpy matmul vs sequential list_dot_product) needs
    |dot| ~ 1e-15 — vanishingly unlikely at 64 dims with O(1)
    projections."""
    rows = []
    for t in range(N_TABLES):
        planes = _hyperplanes(dim, t)
        for p, plane in enumerate(planes):
            arr = "[" + ", ".join(repr(x) for x in plane) + "]"
            rows.append(f"({t}, {p}, {arr}::DOUBLE[])")
    values = ",\n      ".join(rows)
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    planes(tbl, p, arr) AS (VALUES
      {values}),
    proj AS (
      SELECT v.vec_id, pl.tbl,
             CAST(SUM(CASE WHEN list_dot_product(v.e, pl.arr) > 0
                           THEN (1 << pl.p) ELSE 0 END) AS BIGINT) AS bucket
      FROM v CROSS JOIN planes pl
      GROUP BY v.vec_id, pl.tbl),
    q AS (SELECT * FROM proj WHERE vec_id < 10),
    pairs AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
      FROM q JOIN proj c
        ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id),
    scored AS (
      SELECT p.q_id, p.c_id,
             ROUND(list_cosine_similarity(a.e, b.e), 6) AS score
      FROM pairs p
      JOIN v a ON a.vec_id = p.q_id
      JOIN v b ON b.vec_id = p.c_id),
    r AS (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, c_id) AS rk
      FROM scored)
    SELECT q_id, c_id, score, rk FROM r WHERE rk <= 5
    """


@register(
    "ann_lsh_topk",
    oracle=_lsh_oracle(),
    serve=corpus_deps("embeddings"),
)
def ann_lsh_topk(spark, sf_dir) -> DataFrame:
    """ANN top-5 per query via sign-random-projection LSH.

    Queries = vec_id < 10. Pipeline: bucket every vector (8
    deterministic hyperplanes -> 256 buckets), join queries to
    same-bucket candidates, exact cosine re-rank, top-5 per query.
    Compared to brute force this scans |bucket| instead of n per
    query; recall is tunable via N_PLANES / multi-probe.

    Oracle-backed since round 5: the md5-derived hyperplanes are
    exact binary fractions, so the DuckDB twin embeds them as
    literals and replicates bucketing + re-rank in SQL (_lsh_oracle);
    the numpy brute-force recall test remains as the structural
    check."""
    e = table(spark, "embeddings", sf_dir)
    # derive dim from the data (one-row head, not a hard-coded 64 —
    # any other embedding width would fail or mis-project at the
    # matmul otherwise)
    dim = len(e.select("embedding").head()["embedding"])
    # N_TABLES independent bucketings (OR-amplification): a candidate
    # only needs to collide in ONE table, which is what lifts recall
    # with random hyperplanes; each vector carries N_TABLES (tbl,
    # bucket) rows, the join key is (tbl, bucket).
    # Bucketing runs as one Arrow-batched numpy matmul per batch
    # ((batch x dim) @ (dim x tables*planes) -> sign bits) — the
    # expression form (aggregate/zip_with per plane) is interpreted
    # and was measured ~5x slower.
    import numpy as np
    import pandas as pd

    H = np.array(
        [_hyperplanes(dim, t) for t in range(N_TABLES)], dtype=np.float64
    )  # (tables, planes, dim)
    Hflat = H.reshape(N_TABLES * N_PLANES, dim).T  # (dim, tables*planes)
    bh = spark.sparkContext.broadcast(Hflat)
    pow2 = np.array([1 << i for i in range(N_PLANES)], dtype=np.int64)

    def bucket_batches(batches):
        M = bh.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            signs = (V @ M) > 0  # (batch, tables*planes)
            signs = signs.reshape(len(V), N_TABLES, N_PLANES)
            buckets = (signs * pow2).sum(axis=2)  # (batch, tables)
            out = pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), N_TABLES),
                    "v": [v for v in pdf["v"] for _ in range(N_TABLES)],
                    "tbl": np.tile(np.arange(N_TABLES), len(V)),
                    "bucket": buckets.reshape(-1),
                }
            )
            yield out

    v = e.select("vec_id", to_double_array("embedding").alias("v"))
    tb = v.mapInPandas(
        bucket_batches,
        schema="vec_id long, v array<double>, tbl int, bucket long",
    )
    queries = tb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), "tbl", "bucket"
    )
    cands = tb.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), "tbl", "bucket"
    )
    pairs = (
        queries.join(cands, ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", "qv", "cv")
        .dropDuplicates(["q_id", "c_id"])
    )
    scored = pairs.select(
        "q_id", "c_id", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "score", "rk")
    )


_SIMJOIN_THRESHOLD = 0.9

_SIMJOIN_ORACLE = f"""
    WITH tok AS ({{shingles}}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS i
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_id1, doc_id2,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_id1
    JOIN sz sb ON sb.doc_id = doc_id2
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {_SIMJOIN_THRESHOLD}
    """


from scribedb_spark.operators.dedup import SQL_SHINGLES, min_tokens_filter, shingles3  # noqa: E402


@register("join_similarity", oracle=_SIMJOIN_ORACLE.format(shingles=SQL_SHINGLES))
def join_similarity(spark, sf_dir) -> DataFrame:
    """J7: set-similarity self-join, token jaccard >= 0.9, blocked by
    source.

    Spark side uses prefix filtering: tokens ranked by global
    frequency (rare first); a pair can reach jaccard t only if the
    two sets share a token among each side's first
    |r| - ceil(t*|r|) + 1 rarest tokens. Candidates come from joining
    on *prefix* tokens only, then exact jaccard verification via the
    full intersection count. Exact — no false negatives — and the
    candidate join is linear in token occurrences, not quadratic in
    docs. The oracle brute-forces the same pairs via the full token
    join (affordable at test SF).
    """
    d = (
        table(spark, "documents", sf_dir)
        .filter(min_tokens_filter())
        .select("doc_id", "source", shingles3(F.col("text")).alias("toks"))
        # shingle arrays feed three branches (token explode + both
        # verify sides); localCheckpoint materializes the shingling
        # once and, unlike persist(), its blocks are reclaimed by the
        # ContextCleaner when the plan is dropped — no pinned cache
        # accumulating across keys in a long-lived session
        .localCheckpoint()
    )
    tok = d.select("doc_id", "source", F.explode("toks").alias("tok"))
    # global token frequency -> rarity rank. NO broadcast hint: the
    # 3-word-shingle vocabulary grows near-linearly with corpus size
    # (billions of distinct shingles at 100 TB), so a forced broadcast
    # would OOM every executor at scale. AQE sizes the join at runtime
    # — it still picks broadcast when freq is actually small (test SF)
    # and falls back to a shuffle join when it isn't.
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    # order each doc's tokens by rarity; keep only the prefix
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("tf", "tok")
    pos = (
        tok.join(freq, "tok")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )
    prefix_len = (
        F.col("n") - F.ceil(F.col("n") * F.lit(_SIMJOIN_THRESHOLD)) + 1
    )
    prefix = pos.filter(F.col("pos") <= prefix_len).select("doc_id", "source", "tok")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id1"), F.col("b.doc_id").alias("doc_id2")
        )
        .distinct()
    )
    # exact verification for candidates only: join the token *arrays*
    # back and compute |∩| in-row (array_intersect) — no token-level
    # join/groupBy in the verify phase. Plain shuffle joins on doc_id:
    # candidates are few, and broadcasting the doc table here would
    # mean broadcasting the corpus (round-1 mistake) — let AQE pick.
    d1 = d.select(
        F.col("doc_id").alias("doc_id1"), F.col("toks").alias("t1"),
        F.size("toks").alias("n1"),
    )
    d2 = d.select(
        F.col("doc_id").alias("doc_id2"), F.col("toks").alias("t2"),
        F.size("toks").alias("n2"),
    )
    verified = cand.join(d1, "doc_id1").join(d2, "doc_id2")
    inter = F.size(F.array_intersect(F.col("t1"), F.col("t2")))
    jac = inter / (F.col("n1") + F.col("n2") - inter)
    return (
        verified.filter(jac >= _SIMJOIN_THRESHOLD)
        .select("doc_id1", "doc_id2", F.round(jac, 6).alias("jaccard"))
    )


_SIMTOPK_FLOOR = 0.02
_SIMTOPK_K = 3

_SIMTOPK_ORACLE = f"""
    WITH tok AS ({{shingles}}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS i
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT doc_id1, doc_id2, i * 1.0 / (sa.n + sb.n - i) AS j
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_id1
      JOIN sz sb ON sb.doc_id = doc_id2
      WHERE i * 1.0 / (sa.n + sb.n - i) >= {_SIMTOPK_FLOOR}),
    orient AS (
      SELECT doc_id1, doc_id2, j FROM scored
      UNION ALL
      SELECT doc_id2 AS doc_id1, doc_id1 AS doc_id2, j FROM scored),
    r AS (
      SELECT doc_id1, doc_id2, j,
             row_number() OVER (PARTITION BY doc_id1
                                ORDER BY j DESC, doc_id2) AS rk
      FROM orient)
    SELECT doc_id1, doc_id2, ROUND(j, 6) AS jaccard, rk
    FROM r WHERE rk <= {_SIMTOPK_K}
    """


@register(
    "join_similarity_topk", oracle=_SIMTOPK_ORACLE.format(shingles=SQL_SHINGLES)
)
def join_similarity_topk(spark, sf_dir) -> DataFrame:
    """TOP-K similarity join — the retrieval shape: each document's
    {3} most-similar same-source neighbors by shingle jaccard, above
    a low relevance floor ({0.02}). Distinct from the threshold join
    (J7/join_similarity finds near-DUPLICATE pairs at 0.9; this key
    finds each doc's best MATCHES however weak) — the shape RAG /
    mining pipelines actually want from a sparse index.

    Plan: the classic inverted-index retrieval join — shingle
    explode, candidates = same-source doc pairs sharing >= 1 shingle
    (a.doc_id < b.doc_id so each unordered pair is counted once),
    intersection counted IN the candidate join's groupBy (map-side
    partial count on flat rows, no arrays in shuffle), jaccard from
    the two set sizes, then both orientations union and a per-query
    window keeps the top {3} — Spark compiles the rank filter to
    WindowGroupLimit, so each partition retains only k rows per query
    before the final shuffle (plan-asserted).

    Exactness: i, na, nb are exact ints; j = i/(na+nb-i) is one IEEE
    double division — bit-identical across engines, so ranking on the
    raw double (tie-break doc_id2) is deterministic; ROUND 6 only at
    emit. No floor-dependent prefix pruning at 0.02 (prefix length
    would be ~n): the candidate bound here is the inverted index
    itself — pair volume is sum over shingles of block-local df^2,
    which token rarity keeps near-linear (the dedup_ngram_jaccard
    measurement), never n^2.

    Scale: two shuffles (pair groupBy + window); the sz join inputs
    are one row per doc; no broadcast hints — AQE sizes them
    (vocabulary and doc counts grow with the corpus)."""
    from scribedb_spark.operators.dedup import min_tokens_filter, shingles3

    d = (
        table(spark, "documents", sf_dir)
        .filter(min_tokens_filter())
        .select("doc_id", "source", shingles3(F.col("text")).alias("toks"))
    )
    tok = d.select("doc_id", "source", F.explode("toks").alias("tok"))
    sz = d.select("doc_id", F.size("toks").alias("n"))
    inter = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    scored = (
        inter.join(
            sz.select(F.col("doc_id").alias("doc_id1"), F.col("n").alias("na")),
            "doc_id1",
        )
        .join(
            sz.select(F.col("doc_id").alias("doc_id2"), F.col("n").alias("nb")),
            "doc_id2",
        )
        .filter(j >= _SIMTOPK_FLOOR)
        .select("doc_id1", "doc_id2", j.alias("j"))
    )
    both = scored.unionByName(
        scored.select(
            F.col("doc_id2").alias("doc_id1"),
            F.col("doc_id1").alias("doc_id2"),
            "j",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id1").orderBy(F.desc("j"), "doc_id2")
    return (
        both.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SIMTOPK_K)
        .select(
            "doc_id1", "doc_id2", F.round(F.col("j"), 6).alias("jaccard"), "rk"
        )
    )


def cosine_topk_blocked(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bulk exact cosine top-k via Arrow-batched numpy — the scale
    path for many-query / many-vector workloads.

    The query matrix (small: |queries| x dim) is broadcast to every
    task; each Arrow batch of candidate vectors becomes one numpy
    matmul (batch x dim) @ (dim x |queries|) — vectorized BLAS instead
    of per-pair expression evaluation, ~100x a row-at-a-time UDF. Each
    partition emits only its local top-k per query; a final
    TakeOrdered-style window keeps the global top-k, so the shuffle
    carries O(partitions * queries * k) rows, never the full score
    matrix.

    Exactness caveat vs the expression-based vec_cosine_topk: BLAS
    sums in a different association order, so scores can differ in the
    last float ulp — fine for ANN serving, not for the DuckDB-oracle
    gate (which is why vec_cosine_topk stays expression-based).
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    qrows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    q_ids = np.array([r[id_col] for r in qrows])
    Q = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((q_ids, Qn))

    out_schema = "q_id long, c_id long, score double"

    def score_batches(batches):
        q_ids_l, Qn_l = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ Qn_l.T  # (batch, queries)
            c_ids = pdf[id_col].to_numpy()
            take = min(k, len(c_ids))
            for j, qid in enumerate(q_ids_l):
                col = S[:, j]
                mask = c_ids != qid
                ids_m, col_m = c_ids[mask], col[mask]
                if not len(ids_m):
                    continue
                top = np.argpartition(-col_m, min(take, len(col_m)) - 1)[:take]
                yield pd.DataFrame(
                    {"q_id": qid, "c_id": ids_m[top], "score": col_m[top]}
                )

    local_tops = embeddings.select(id_col, vec_col).mapInPandas(
        score_batches, schema=out_schema
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        local_tops.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "c_id", F.round("score", 6).alias("score"), "rk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def _int_d2_sql(a: str, b: str) -> str:
    """Exact integer squared-L2 between two BIGINT lists (DuckDB)."""
    return (
        f"CAST(list_dot_product({a}, {a}) AS BIGINT)"
        f" - 2 * CAST(list_dot_product({a}, {b}) AS BIGINT)"
        f" + CAST(list_dot_product({b}, {b}) AS BIGINT)"
    )


def _int_lloyd_ctes(
    m: int,
    k: int,
    iters: int,
    sample: int,
    dim: int = 64,
    sample_where: str = "",
) -> str:
    """Shared DuckDB CTE chain for integer Lloyd k-means training —
    the SQL twin of :func:`_pq_codebooks_int`, used by both the PQ
    (m=8 subspaces) and IVF (m=1, full-dim) oracles: int8
    quantization, per-(sub)space init from the first k sample rows,
    ``iters`` unrolled assign/update CTE pairs with
    round-half-away-from-zero integer means and empty clusters
    keeping their previous centroid. Ends with the trained codebook
    CTE ``c{iters}`` (columns j, c, cv). ``dim`` is the vector
    dimensionality (64 for the driver corpus; tests train on smaller
    synthetic vectors to property-check numpy/DuckDB equality)."""
    sub = dim // m

    def rhz(s: str, n: str) -> str:
        return (
            f"CAST((CASE WHEN {s} >= 0 THEN 1 ELSE -1 END)"
            f" * ((2 * abs({s}) + {n}) // (2 * {n})) AS BIGINT)"
        )

    mean_list = ", ".join(
        rhz(f"SUM(s.sq[{d+1}])", "COUNT(*)") for d in range(sub)
    )
    train = ""
    for t in range(iters):
        train += f"""
    a{t} AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT s.vec_id, s.j, c.c,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                                  ORDER BY {_int_d2_sql("s.sq", "c.cv")} ASC, c.c ASC) AS rn
        FROM samp s JOIN c{t} c ON c.j = s.j) WHERE rn = 1),
    m{t} AS (
      SELECT a.j, a.code AS c, COUNT(*) AS n, [{mean_list}] AS mv
      FROM a{t} a JOIN samp s ON s.vec_id = a.vec_id AND s.j = a.j
      GROUP BY a.j, a.code),
    c{t + 1} AS (
      SELECT c.j, c.c, COALESCE(m.mv, c.cv) AS cv
      FROM c{t} c LEFT JOIN m{t} m ON m.j = c.j AND m.c = c.c),"""

    return f"""v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q8 AS (
      SELECT vec_id, e,
             list_transform(e, x -> CAST(floor(
               x / (CASE WHEN list_max(list_transform(e, y -> abs(y))) = 0 THEN 1 ELSE list_max(list_transform(e, y -> abs(y))) END) * 127 + 0.5
             ) AS BIGINT)) AS q
      FROM v),
    sub AS (
      SELECT vec_id, j, list_slice(q, j * {sub} + 1, j * {sub} + {sub}) AS sq
      FROM q8 CROSS JOIN (SELECT unnest(range({m})) AS j)),
    samp AS (
      SELECT s.* FROM sub s
      JOIN (SELECT vec_id FROM q8 {sample_where}
            ORDER BY vec_id LIMIT {sample}) t
        USING (vec_id)),
    c0 AS (
      SELECT j, rn - 1 AS c, sq AS cv FROM (
        SELECT j, sq, row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn
        FROM samp) WHERE rn <= {k}),{train[:-1]}"""


N_CELLS = 16
N_PROBE = 4
_IVF_SAMPLE = 2048
_IVF_ITERS = 2    # integer Lloyd rounds (unrolled in the SQL oracle)

#: Trained quantizer artifacts (collected sample rows + integer-Lloyd
#: codebooks) are session-cached per (kind, sf_dir, params) — the
#: "train once, serve many" lifecycle every real ANN deployment has:
#: at 100 TB the quantizer is trained on a bounded sample ONCE and
#: the serving path only ever assigns/probes against the frozen
#: codebook (same deterministic training as the oracle, not repeated).
#: Every ACTUAL training run (sample collect + Lloyd) appends
#: (kind, sf_dir) here so tests can assert a second same-session
#: invocation performs zero training collects
#: (tests/test_similarity.py::test_ann_train_once_per_session)
TRAIN_EVENTS: list = []


def _ivf_vq(spark, sf_dir) -> DataFrame:
    """(vec_id, e, q): every embedding with its int8-quantized codes
    widened to long — the shared input of IVF training, assignment
    and the persisted-index build."""
    from scribedb_spark.functions.vector import quantize_int8

    e = table(spark, "embeddings", sf_dir)
    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    return e.select(
        "vec_id", to_double_array("embedding").alias("e")
    ).select(
        "vec_id",
        "e",
        F.transform(
            quantize_int8(F.col("e"), max_abs), lambda x: x.cast("long")
        ).alias("q"),
    )


@served("ivf", corpus_deps("embeddings"))
def _ivf_trained(spark, sf_dir):
    """IVF index artifacts — built once per (session, sf_dir): collect
    the vec_id-sorted driver sample (bounded: _IVF_SAMPLE rows), run
    full-dim integer Lloyd (m=1), then assign EVERY vector its
    nearest cell and checkpoint the result — the (vec_id, e, cell)
    table IS the stored IVF index at 100 TB (cell-bucketed vectors);
    serving reads the index, never the parquet. Returns
    (sample_rows, codebook, assigned_index)."""
    import numpy as np
    import pandas as pd

    vq = _ivf_vq(spark, sf_dir)
    srows = vq.orderBy("vec_id").limit(_IVF_SAMPLE).collect()
    sample = np.array([r["q"] for r in srows], dtype=np.int64)
    books = _pq_codebooks_int(sample, m=1, k=N_CELLS, iters=_IVF_ITERS)[0]
    bc = spark.sparkContext.broadcast(books)

    def assign_batches(batches):
        C = bc.value  # (cells, 64) int64
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "e": pdf["e"],
                    # argmin first-occurrence == smallest cell on
                    # ties, matching the oracle's (d2 ASC, cell
                    # ASC) row_number order
                    "cell": d2.argmin(axis=1).astype(np.int32),
                }
            )

    assigned = (
        vq.select("vec_id", "e", "q")
        .mapInPandas(
            assign_batches, schema="vec_id long, e array<double>, cell int"
        )
        .localCheckpoint()
    )
    TRAIN_EVENTS.append(("ivf", sf_dir))
    return srows, books, assigned


def _ivf_int_oracle(
    k: int = N_CELLS, iters: int = _IVF_ITERS, probe: int = N_PROBE
) -> str:
    """DuckDB twin of ann_ivf_topk: full-dim (m=1) integer Lloyd
    training via the shared :func:`_int_lloyd_ctes` chain, integer
    nearest-cell assignment, d2-ranked query probing and exact-cosine
    rerank."""
    d2 = _int_d2_sql("s.sq", "c.cv")
    return f"""
    WITH {{lloyd}},
    enc AS (
      SELECT vec_id, c AS cell FROM (
        SELECT s.vec_id, c.c,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d2} ASC, c.c ASC) AS rn
        FROM sub s JOIN c{iters} c ON c.j = s.j) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS q_id, c AS cell FROM (
        SELECT s.vec_id, c.c,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d2} ASC, c.c ASC) AS rn
        FROM sub s JOIN c{iters} c ON c.j = s.j
        WHERE s.vec_id < 10) WHERE rn <= {probe}),
    cand AS (
      SELECT p.q_id, e2.vec_id AS c_id
      FROM probes p JOIN enc e2 ON e2.cell = p.cell
      WHERE e2.vec_id <> p.q_id),
    rer AS (
      SELECT c.q_id, c.c_id,
             ROUND(list_cosine_similarity(qa.e, ca.e), 6) AS score
      FROM cand c
      JOIN v qa ON qa.vec_id = c.q_id
      JOIN v ca ON ca.vec_id = c.c_id),
    r AS (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, c_id) AS rk
      FROM rer)
    SELECT q_id, c_id, score, rk FROM r WHERE rk <= 5
    """.format(lloyd=_int_lloyd_ctes(1, k, iters, _IVF_SAMPLE))


@register(
    "ann_ivf_topk",
    oracle=_ivf_int_oracle(),
    serve=corpus_deps("embeddings"),
)
def ann_ivf_topk(spark, sf_dir) -> DataFrame:
    """ANN top-5 per query via a TRAINED IVF coarse quantizer (the
    standard billion-scale layout: FAISS-style cells, Spark-sized).

    Train: deterministic INTEGER Lloyd k-means on the full-dim
    int8-quantized vec_id-sorted driver sample — the same trainer as
    ann_pq_topk with one 64-dim "subspace" (:func:`_pq_codebooks_int`
    with m=1). Round 7 replaced the float spherical k-means here:
    integer training keeps the quantizer data-adaptive (unlike
    ann_ivf_sq_topk's untrained seeds) while making every assignment
    an exact int64 argmin, which is what lets the trained variant
    carry a full DuckDB oracle — float Lloyd's per-iteration
    summation-order ulp drift cannot.

    Index: one Arrow/numpy pass assigns every vector its nearest of
    {16} cells — at scale the cell is the partition/bucket key, so a
    cell's vectors are co-located and each query shuffles only its
    probed cells. Search: queries (vec_id < 10) probe their {4}
    nearest cells by the same integer metric (ties -> smaller cell),
    candidates re-rank by exact float cosine (shared fold, ROUND 6 +
    id tie-breaks), top-5. Recall floor vs numpy brute force pinned
    in tests/test_similarity.py."""
    scored = _ivf_scored(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "score", "rk")
    )


@register("ann_index_persist", oracle=_ivf_int_oracle())
def ann_index_persist(spark, sf_dir) -> DataFrame:
    """The persisted IVF index: write the trained codebook and the
    cell-assigned vector table to WAREHOUSE PARQUET once, reload, and
    serve the same top-5 ANN search ENTIRELY from the reloaded
    artifacts — the lifecycle step that outlives the training job
    (the session cache's 100 TB analog made literal: a serving job in
    a fresh SparkSession reads the index tables, never the embeddings
    parquet, never retrains).

    Two artifacts: ``ivf_codebook`` ({16} cells x 64 int64 centroid
    codes — the driver-side model, reloaded via a bounded
    cells-sized collect) and ``ivf_index`` (vec_id, e, q, cell — the
    cell-bucketed vector table WITH the integer codes, so queries'
    probe cells derive from the artifact alone). Staleness is
    triple-guarded (format version, {sample,cells,iters} spec,
    embeddings-file fingerprint); parquet round-trips longs and
    double arrays bit-exact.

    Exactness: the oracle is ann_ivf_topk's from-scratch DuckDB
    recompute (integer Lloyd + integer probe + exact-cosine rerank) —
    the hash match proves build -> save -> reload -> serve ==
    build -> serve == from-scratch. Zero-build serving from a second
    real SparkSession is pinned by the subprocess round-trip test;
    the serve plan scans only warehouse paths (plan-asserted)."""
    codebook, index = _ivf_persisted_artifacts(spark, sf_dir)
    return _ivf_serve_from_artifacts(spark, codebook, index)


def _ivf_persisted_artifacts(spark, sf_dir):
    """The (codebook, index) pair served from warehouse parquet,
    building if absent or stale — the build half of ann_index_persist,
    shared with the retrain gate (which must be able to re-evaluate
    whatever index the warehouse currently holds, degraded or not)."""
    from scribedb_spark.persist import persisted_artifact

    spec = {"sample": _IVF_SAMPLE, "cells": N_CELLS, "iters": _IVF_ITERS}
    src = [f"{sf_dir}/embeddings.parquet"]

    def build_codebook():
        _s, books, _a = _ivf_trained(spark, sf_dir)
        rows = [
            (int(c), [int(x) for x in books[c]]) for c in range(len(books))
        ]
        # one file: the codebook is {16} rows — 17 shuffle-partition
        # files for 18 KiB is the small-files pattern our own advisor
        # flags (layout_partition_advisor); layout-only, values identical
        return spark.createDataFrame(
            rows, "cell int, cv array<long>"
        ).coalesce(1)

    def build_index():
        vq = _ivf_vq(spark, sf_dir)
        _s, _b, assigned = _ivf_trained(spark, sf_dir)
        return assigned.join(vq.select("vec_id", "q"), "vec_id").select(
            "vec_id", "e", "q", "cell"
        )

    codebook = persisted_artifact(
        spark, "ivf_codebook", sf_dir, src, build_codebook, spec
    )
    index = persisted_artifact(
        spark, "ivf_index", sf_dir, src, build_index, spec
    )
    return codebook, index


def _ivf_serve_from_artifacts(spark, codebook, index) -> DataFrame:
    """Top-5 per query ENTIRELY from the reloaded artifacts: probe
    cells derive from the artifact codebook + the index's stored
    integer codes (bounded collects — {16} codebook rows, 10 fixture
    queries), candidates come from the index's cell routing."""
    import numpy as np

    books = np.array(
        [r["cv"] for r in codebook.orderBy("cell").collect()],  # 16 rows
        dtype=np.int64,
    )
    qrows = index.filter(F.col("vec_id") < 10).select(
        "vec_id", "q", "e"
    ).collect()  # bounded: the 10 fixture queries
    cells = np.arange(len(books), dtype=np.int64)
    probe_rows = []
    for r in sorted(qrows, key=lambda r: r["vec_id"]):
        d2q = ((np.array(r["q"], dtype=np.int64)[None, :] - books) ** 2).sum(
            axis=1
        )
        for cell in np.lexsort((cells, d2q))[:N_PROBE]:
            probe_rows.append((int(r["vec_id"]), int(cell), list(r["e"])))
    queries = spark.createDataFrame(
        probe_rows, "q_id long, cell int, qv array<double>"
    )
    cands = index.select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("cv"), "cell"
    )
    scored = (
        cands.join(F.broadcast(queries), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "score", "rk")
    )


_APPEND_MOD = 10
_APPEND_REM = 7  # vec_id % 10 == 7 stands in for the appended batch


def _append_oracle() -> str:
    """DuckDB twin of ann_index_append: train the coarse quantizer on
    the BASE only (sample_where excludes the delta from samp), assign
    every vector with the frozen codebook, emit the full 16-cell
    census split base/appended."""
    d2 = _int_d2_sql("s.sq", "c.cv")
    delta = f"vec_id % {_APPEND_MOD} = {_APPEND_REM}"
    return f"""
    WITH {_int_lloyd_ctes(1, N_CELLS, _IVF_ITERS, _IVF_SAMPLE,
                          sample_where=f"WHERE NOT ({delta})")},
    enc AS (
      SELECT vec_id, c AS cell FROM (
        SELECT s.vec_id, c.c,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d2} ASC, c.c ASC) AS rn
        FROM sub s JOIN c{_IVF_ITERS} c ON c.j = s.j) WHERE rn = 1),
    census AS (
      SELECT cell,
             COUNT(*) FILTER (WHERE NOT ({delta})) AS nb,
             COUNT(*) FILTER (WHERE {delta}) AS na
      FROM enc GROUP BY cell)
    SELECT sp.cell, COALESCE(nb, 0) AS n_base, COALESCE(na, 0) AS n_appended,
           COALESCE(nb, 0) + COALESCE(na, 0) AS n_total
    FROM (SELECT unnest(range({N_CELLS})) AS cell) sp
    LEFT JOIN census USING (cell)
    """


def _append_assign(vq, books, spark):
    """Map (vec_id, q) rows to their nearest frozen cell — one numpy
    argmin per Arrow batch, first-occurrence tie rule == the oracle's
    (d2 ASC, cell ASC) row_number."""
    import numpy as np
    import pandas as pd

    bc = spark.sparkContext.broadcast(books)

    def assign(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": d2.argmin(axis=1).astype(np.int64),
                }
            )

    return vq.select("vec_id", "q").mapInPandas(
        assign, schema="vec_id long, cell long"
    )


@served("append", corpus_deps("embeddings"))
def _append_base_index(spark, sf_dir):
    """The FROZEN index: codebook trained on the base corpus only
    (the appended batch is excluded from the training sample) plus
    the base per-cell census — built once per session and persisted
    at 100 TB (the census is N_CELLS rows)."""
    from scribedb_spark.functions.vector import quantize_int8

    import numpy as np

    e = table(spark, "embeddings", sf_dir)
    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    vq = e.select(
        "vec_id", to_double_array("embedding").alias("e")
    ).select(
        "vec_id",
        F.transform(
            quantize_int8(F.col("e"), max_abs), lambda x: x.cast("long")
        ).alias("q"),
    )
    base = vq.filter(
        F.col("vec_id") % _APPEND_MOD != F.lit(_APPEND_REM)
    )
    srows = base.orderBy("vec_id").limit(_IVF_SAMPLE).collect()
    sample = np.array([r["q"] for r in srows], dtype=np.int64)
    books = _pq_codebooks_int(sample, m=1, k=N_CELLS, iters=_IVF_ITERS)[0]
    census = (
        _append_assign(base, books, spark)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_base"))
        .localCheckpoint()
    )
    TRAIN_EVENTS.append(("append", sf_dir))
    return books, census


@register("ann_index_append", oracle=_append_oracle())
def ann_index_append(spark, sf_dir) -> DataFrame:
    """Incremental ANN index maintenance — the append-only story the
    prefix-cascade docstring claims, made concrete for the trained
    IVF layout: new vectors (vec_id % {10} == {7} stands in for the
    appended batch) assign into the FROZEN trained cells — no
    retraining, no corpus rescan — and the key emits the maintained
    per-cell census (cell, n_base, n_appended, n_total), the
    O(|delta|) grid patch that pairs with compare_cell_incremental's
    fingerprint algebra on the compare side. This is what a real
    100 TB deployment does between (rare) retrains: the quantizer is
    immutable, ingest only appends codes and bumps the census the
    routing layer uses to pick probe budgets.

    Training: integer Lloyd on the BASE's vec_id-sorted sample ONLY —
    the appended batch is excluded, because at append time the
    quantizer predates the new data (the honest freshness tradeoff;
    drift shows up as lopsided census growth, which is exactly what
    this output monitors). The DuckDB oracle replicates base-only
    training via the shared Lloyd CTEs' sample predicate and
    recomputes everything from scratch; hash equality proves the
    frozen-assignment algebra.

    Scale: the session-cached base index (codebook + {16}-row census
    checkpoint) is the persisted artifact; the steady-state plan
    scans ONLY the delta (one parquet scan, plan-asserted), assigns
    with one numpy argmin per Arrow batch against the broadcast
    codebook (map-only), aggregates |delta| rows to <= {16} cells,
    and merges against the census spine — cost O(|delta|), like
    fp_delta_update."""
    from scribedb_spark.functions.vector import quantize_int8

    books, base_census = _append_base_index(spark, sf_dir)
    e = table(spark, "embeddings", sf_dir)
    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    delta = (
        e.filter(F.col("vec_id") % _APPEND_MOD == F.lit(_APPEND_REM))
        .select("vec_id", to_double_array("embedding").alias("e"))
        .select(
            "vec_id",
            F.transform(
                quantize_int8(F.col("e"), max_abs), lambda x: x.cast("long")
            ).alias("q"),
        )
    )
    appended = (
        _append_assign(delta, books, spark)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_appended"))
    )
    spine = spark.range(N_CELLS).select(F.col("id").alias("cell"))
    nb = F.coalesce(F.col("n_base"), F.lit(0))
    na = F.coalesce(F.col("n_appended"), F.lit(0))
    return (
        spine.join(base_census, "cell", "left")
        .join(appended, "cell", "left")
        .select(
            "cell",
            nb.alias("n_base"),
            na.alias("n_appended"),
            (nb + na).alias("n_total"),
        )
    )


def _recall_oracle() -> str:
    """DuckDB twin of ann_recall_report: the full trained-IVF oracle
    as a CTE, the brute-force exact top-5, and the per-query
    intersection count in integer ppm."""
    return f"""
    WITH ann AS ({_ivf_int_oracle()}),
    ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sc AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             ROUND(list_cosine_similarity(q.e, c.e), 6) AS score
      FROM ve q JOIN ve c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    ex AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score DESC, c_id) AS rk
        FROM sc) WHERE rk <= 5),
    hits AS (
      SELECT e.q_id, COUNT(*) AS n_hits
      FROM ex e JOIN ann a ON a.q_id = e.q_id AND a.c_id = e.c_id
      GROUP BY e.q_id)
    SELECT qs.q_id, CAST(5 AS BIGINT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) * 1000000 // 5
             AS recall_ppm
    FROM (SELECT DISTINCT q_id FROM ex) qs
    LEFT JOIN hits h USING (q_id)
    """


def _ivf_recall_compute(spark, sf_dir) -> DataFrame:
    """ann_recall_report's full BUILD plan (served topk + exact
    baseline both computed from scratch, no caches) — the plan-shape
    tests' capture target."""
    return _recall_report_for(
        spark,
        sf_dir,
        REGISTRY["ann_ivf_topk"].build(spark, sf_dir).select("q_id", "c_id"),
        exact=_ivf_exact_top5.build(spark, sf_dir),
    )


@register(
    "ann_recall_report",
    oracle=_recall_oracle(),
    build=_ivf_recall_compute,
)
def ann_recall_report(spark, sf_dir) -> DataFrame:
    """Index-quality MONITORING — the fourth stage of the ANN
    lifecycle this engine now covers end to end (train once:
    _ivf_trained; serve: ann_ivf_topk; append: ann_index_append;
    monitor: THIS). For each query the served IVF top-5 is compared
    against the exact brute-force top-5 and recall@5 emits as integer
    ppm — the number an operator alarms on before deciding the
    quantizer needs retraining (e.g. after append drift shows up in
    ann_index_append's census).

    Exactness: the ANN side IS the oracle-proven ann_ivf_topk plan
    (served from the session-cached index); the exact side reuses the
    shared sequential-fold cosine with ROUND 6 + id tie-breaks (the
    vec_cosine_topk discipline), so both engines rank identically and
    the intersection count is deterministic; recall is integer ppm
    (n_hits * 1e6 div k), no float division.

    Scale: the exact pass is the expensive half (|queries| x corpus
    cosine), which is exactly how production recall audits run — on a
    BOUNDED query sample against the served index; the ann side reads
    the cached index. Queries broadcast (10 rows); one TakeOrdered-
    style window per query; the report is |queries| rows.

    r15: both halves serve from session caches (the served top-5 via
    ann_ivf_topk's cache, the exact baseline via _ivf_exact_top5) —
    the |queries| x corpus interpreted-fold cosine pass runs once per
    (session, embeddings fingerprint)."""
    ann = ann_ivf_topk(spark, sf_dir).select("q_id", "c_id")
    return _recall_report_for(spark, sf_dir, ann)


@served("ivf_exact", corpus_deps("embeddings"))
def _ivf_exact_top5(spark, sf_dir) -> DataFrame:
    """Exact cosine top-5 (q_id, c_id) per fixture query — the
    baseline side of every IVF recall audit (the recall report and
    the retrain gate's measure passes share one build): brute force
    by the shared fold cosine (ROUND 6 + id tie-breaks) — bounded, 10
    broadcast queries x corpus, one window."""
    from pyspark.sql import Window

    e = table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.round(cosine(F.col("qe"), F.col("e")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id")
    )


def _recall_report_for(
    spark, sf_dir, ann: DataFrame, exact: DataFrame | None = None
) -> DataFrame:
    """Per-query (q_id, k, n_hits, recall_ppm) of ``ann`` — a served
    (q_id, c_id) top-5 — against the exact brute-force top-5. The
    measurement half of ann_recall_report, shared with the retrain
    gate (which measures the WAREHOUSE-served index, degraded or
    not, before deciding). ``exact`` defaults to the session-cached
    baseline (a pure function of the embeddings file; the plan tests
    pass the uncached body explicitly)."""
    if exact is None:
        exact = _ivf_exact_top5(spark, sf_dir)
    hits = (
        exact.join(ann, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.lit(5).cast("long").alias("k"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr("coalesce(n_hits, 0) * 1000000L div 5").alias("recall_ppm"),
        )
    )


#: served recall@5 (mean over the query fixture, integer ppm) below
#: which the gate rebuilds the persisted IVF index — healthy trained
#: recall measures 900000/920000 ppm at sf0.001/sf0.01, random cell
#: routing ~probe-fraction (~250000), so the gate separates cleanly
_RETRAIN_THRESHOLD_PPM = 600_000


def _index_deps(codebook: str, index: str):
    """``gate=`` deps of a retrain gate: the embeddings file plus the
    two warehouse slots it measures (an act rewrites them, so the
    next read re-measures the rebuilt index)."""
    from scribedb_spark.persist import artifact_path

    return lambda sf_dir: [
        os.path.join(sf_dir, "embeddings.parquet"),
        artifact_path(codebook, sf_dir),
        artifact_path(index, sf_dir),
    ]


def _retrain_gate_oracle() -> str:
    """DuckDB twin of ann_retrain_gate's decision row: mean recall of
    the from-scratch-trained index (which is what a fresh or healthy
    warehouse serves), integer-floored, thresholded."""
    return f"""
    WITH rep AS ({_recall_oracle()}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                 SUM(recall_ppm) // COUNT(*) AS mean_ppm
          FROM rep)
    SELECT n_queries,
           CAST(mean_ppm AS BIGINT) AS recall_ppm_measured,
           CAST({_RETRAIN_THRESHOLD_PPM} AS BIGINT) AS threshold_ppm,
           CASE WHEN mean_ppm < {_RETRAIN_THRESHOLD_PPM}
                THEN 'retrain' ELSE 'serve' END AS decision,
           CAST(CASE WHEN mean_ppm < {_RETRAIN_THRESHOLD_PPM}
                THEN 1 ELSE 0 END AS BIGINT) AS n_rebuilds,
           CAST(mean_ppm AS BIGINT) AS recall_ppm_served
    FROM m
    """


@register(
    "ann_retrain_gate",
    oracle=_retrain_gate_oracle(),
    gate=_index_deps("ivf_codebook", "ivf_index"),
)
def ann_retrain_gate(spark, sf_dir) -> DataFrame:
    """MONITOR -> ACT: the deterministic retrain decision closing the
    ANN lifecycle loop (train -> serve -> append -> monitor -> THIS).
    ann_recall_report measures; this key DECIDES and ACTS: measure the
    recall@5 of the index the WAREHOUSE currently serves (whatever
    state it is in — fresh, stale-rebuilt, or degraded by drifted
    appends), and when the mean drops below the threshold, drop the
    persisted codebook+index and rebuild them from the canonical
    training path, then re-measure. Emits the one-row decision table
    (n_queries, recall_ppm_measured, threshold_ppm, decision,
    n_rebuilds, recall_ppm_served) — every cell integer-exact.

    Exactness: with a healthy (or absent -> freshly built) warehouse,
    the served index IS the oracle-proven trained index, so measured
    == served == the from-scratch oracle mean and the decision is
    'serve' with zero rebuilds — the deterministic fixed point the
    DuckDB oracle pins. The degraded path (measured < threshold ->
    exactly one rebuild -> recall restored) is pinned by the
    biased-index test in tests/test_similarity.py.

    Scale: the measurement is the bounded recall audit (10 fixture
    queries x corpus exact pass — the expensive half runs on the
    SAMPLE, as production recall audits do); the act path rewrites
    only the index artifacts (one corpus assignment pass), never
    touches other warehouse slots, and runs at most once per
    invocation — a retrain storm is structurally impossible. Mirrors
    the reference's verdict-driven exit (main.py:263-267: compare,
    then ACT on the verdict) at index-lifecycle scope.

    The decision is served via cache.gate_decision keyed by the stat
    fingerprint of (embeddings, ivf_codebook, ivf_index): repeated
    calls — rollup_gate_panel reading the pane — reuse the measured
    row; any warehouse mutation (including this gate's own act)
    changes the fingerprint and forces a fresh measurement, which is
    what keeps the degraded-index test's monitor->act loop honest."""
    import shutil

    from scribedb_spark.persist import artifact_path

    def measure() -> tuple[int, int]:
        codebook, index = _ivf_persisted_artifacts(spark, sf_dir)
        rep = _recall_report_for(
            spark,
            sf_dir,
            _ivf_serve_from_artifacts(spark, codebook, index).select(
                "q_id", "c_id"
            ),
        )
        row = rep.agg(
            F.sum("recall_ppm").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        return int(row["s"]) // int(row["n"]), int(row["n"])

    measured, n_queries = measure()
    rebuilds = 0
    served = measured
    if measured < _RETRAIN_THRESHOLD_PPM:
        for name in ("ivf_codebook", "ivf_index"):
            shutil.rmtree(artifact_path(name, sf_dir), ignore_errors=True)
        served, _n = measure()
        rebuilds = 1
    decision = "retrain" if rebuilds else "serve"
    return spark.createDataFrame(
        [
            (
                n_queries,
                measured,
                _RETRAIN_THRESHOLD_PPM,
                decision,
                rebuilds,
                served,
            )
        ],
        "n_queries long, recall_ppm_measured long, threshold_ppm long, "
        "decision string, n_rebuilds long, recall_ppm_served long",
    )


# ---------------------------------------------------------------------------
# PQ (product quantization) ANN — the memory-compression scale path
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces
PQ_K = 16         # centroids per subspace (4-bit codes)
_PQ_SAMPLE = 2048
_PQ_ITERS = 2     # integer Lloyd rounds (unrolled in the SQL oracle)
_PQ_SHORTLIST = 32


def _pq_vq(spark, sf_dir):
    """(v, vq): every embedding as a double array, and with its
    int8-quantized long codes — the shared input of PQ training and
    the persisted-codes build (v alone feeds the exact rerank)."""
    from scribedb_spark.functions.vector import quantize_int8

    e = table(spark, "embeddings", sf_dir)
    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    vq = v.select(
        "vec_id",
        "e",
        F.transform(
            quantize_int8(F.col("e"), max_abs), lambda x: x.cast("long")
        ).alias("q"),
    )
    return v, vq


@served("pq", corpus_deps("embeddings"))
def _pq_trained(spark, sf_dir):
    """PQ index artifacts — built once per (session, sf_dir): collect
    the vec_id-sorted (vec_id, q) sample, run per-subspace integer
    Lloyd, then ENCODE every vector to its 8 4-bit codes and
    checkpoint — the codes table IS the stored PQ index at 100 TB
    (64x smaller than the vectors); serving scans codes, never the
    parquet. Returns (sample_rows, codebook tensor, codes_df). Same
    train-once discipline as :func:`_ivf_trained`."""
    import numpy as np

    _v, vq = _pq_vq(spark, sf_dir)
    srows = (
        vq.select("vec_id", "q").orderBy("vec_id").limit(_PQ_SAMPLE).collect()
    )
    sample = np.array([r["q"] for r in srows], dtype=np.int64)
    books = _pq_codebooks_int(sample)
    codes_df = _pq_encode(spark, vq, books).localCheckpoint()
    TRAIN_EVENTS.append(("pq", sf_dir))
    return srows, books, codes_df


def _pq_encode(spark, vq_df, books):
    """Encode a (vec_id, q) frame to (vec_id, codes): one
    int64-numpy argmin per Arrow batch per subspace against the
    broadcast codebook tensor — map-only, O(|input|), the shared
    encode of the train path (full corpus) and the append path
    (delta batch against a FROZEN base codebook)."""
    import numpy as np
    import pandas as pd

    bc_books = spark.sparkContext.broadcast(books)

    def encode_batches(batches):
        books_ = bc_books.value
        for pdf in batches:
            if not len(pdf):
                continue
            Vq = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            n, d = Vq.shape
            s = d // PQ_M
            codes = np.empty((n, PQ_M), dtype=np.int64)
            for j in range(PQ_M):
                d2 = (
                    (Vq[:, j * s : (j + 1) * s][:, None, :] - books_[j][None])
                    ** 2
                ).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return vq_df.select("vec_id", "q").mapInPandas(
        encode_batches, schema="vec_id long, codes array<long>"
    )


def _pq_codebooks_int(Q, m: int = PQ_M, k: int = PQ_K, iters: int = _PQ_ITERS):
    """Deterministic INTEGER per-subspace Lloyd k-means on
    int8-quantized codes: init = first k rows of the vec_id-sorted
    sample, assignment by exact integer squared-L2 argmin (ties ->
    smallest centroid index, numpy argmin's first-occurrence rule),
    update = round-half-away-from-zero integer mean
    (sign(s) * ((2|s| + n) // (2n))), empty clusters keep their
    previous centroid. Every operation is int64 arithmetic — sums are
    associative, so the identical codebook falls out of numpy here
    and of unrolled GROUP BY CTEs in the DuckDB oracle, which is what
    lets ann_pq_topk carry a full value-hash oracle where float Lloyd
    (per-iteration summation-order ulp drift flipping argmins)
    cannot. Returns an (m, k, dim/m) int64 codebook tensor."""
    import numpy as np

    n, d = Q.shape
    sub = d // m
    books = np.empty((m, k, sub), dtype=np.int64)
    for j in range(m):
        X = Q[:, j * sub : (j + 1) * sub]
        C = X[:k].copy()
        for _ in range(iters):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = X[assign == c]
                if len(members):
                    s = members.sum(axis=0)
                    cnt = len(members)
                    C[c] = np.sign(s) * ((2 * np.abs(s) + cnt) // (2 * cnt))
                # else: keep previous centroid (SQL LEFT JOIN COALESCE)
        books[j] = C
    return books


def _pq_oracle(
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = _PQ_ITERS,
    sample_where: str = "",
) -> str:
    """DuckDB twin of ann_pq_topk: the same int8 quantization,
    integer Lloyd training (iterations unrolled as CTE pairs),
    integer ADC shortlist and exact-cosine rerank. Generated
    programmatically so the per-dimension SUM unrolls and the
    iteration count stay in lockstep with the Spark constants.
    ``sample_where`` restricts the TRAINING sample only (the
    ann_pq_append base-trained variant); encode/search always cover
    the full corpus."""

    def d2(a: str, b: str) -> str:
        return _int_d2_sql(a, b)

    return f"""
    WITH {_int_lloyd_ctes(m, k, iters, _PQ_SAMPLE, sample_where=sample_where)},
    enc AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT s.vec_id, s.j, c.c,
               row_number() OVER (PARTITION BY s.vec_id, s.j
                                  ORDER BY {d2("s.sq", "c.cv")} ASC, c.c ASC) AS rn
        FROM sub s JOIN c{iters} c ON c.j = s.j) WHERE rn = 1),
    tabq AS (
      SELECT s.vec_id AS q_id, s.j, c.c, {d2("s.sq", "c.cv")} AS d2
      FROM sub s JOIN c{iters} c ON c.j = s.j WHERE s.vec_id < 10),
    adc AS (
      SELECT t.q_id, e2.vec_id AS c_id, SUM(t.d2) AS adc
      FROM enc e2 JOIN tabq t ON t.j = e2.j AND t.c = e2.code
      WHERE e2.vec_id <> t.q_id
      GROUP BY t.q_id, e2.vec_id),
    short AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc ASC, c_id ASC) AS srn
        FROM adc) WHERE srn <= {_PQ_SHORTLIST}),
    rer AS (
      SELECT s.q_id, s.c_id,
             ROUND(list_cosine_similarity(qa.e, ca.e), 6) AS score
      FROM short s
      JOIN v qa ON qa.vec_id = s.q_id
      JOIN v ca ON ca.vec_id = s.c_id),
    r AS (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, c_id) AS rk
      FROM rer)
    SELECT q_id, c_id, score, rk FROM r WHERE rk <= 5
    """


@register("ann_pq_topk", oracle=_pq_oracle(), serve=corpus_deps("embeddings"))
def ann_pq_topk(spark, sf_dir) -> DataFrame:
    """ANN top-5 per query via product quantization with asymmetric
    distance (ADC) — the memory lever for billion-vector search: each
    64-dim vector compresses to 8 4-bit codes (64x smaller), and
    candidate scoring reads ONLY the codes plus a per-query (8 x 16)
    distance table, never the full vectors.

    Train: deterministic INTEGER Lloyd k-means per subspace on the
    int8-quantized vec_id-sorted driver sample (O(sample), not O(n);
    see :func:`_pq_codebooks_int` for why integer training is what
    makes the key oracle-exact — float Lloyd compounds
    summation-order ulp drift and cannot be SQL-twinned). Encode: one
    Arrow/numpy pass per batch — at 100 TB the codes are the stored
    index. Search: queries (vec_id < 10) broadcast their integer ADC
    tables; each partition scores its codes locally (one numpy
    gather + int sum per batch, bandwidth = codes only) and emits a
    partition-local (adc ASC, c_id) shortlist; a tiny window merges
    partition winners into the global {32}-candidate shortlist and
    exact float cosine re-ranks it — so emitted scores stay directly
    comparable with the exact/LSH/IVF keys, and quantization error
    only ever costs recall, never score fidelity.

    Exactness: quantization is element-wise IEEE (engine-identical),
    training/encode/ADC are pure int64, the shortlist is an order
    ideal under the strict (adc, c_id) total order, and the rerank
    reuses the shared sequential-fold cosine with ROUND 6 + id
    tie-breaks. Recall floor vs numpy brute force pinned by
    tests/test_similarity.py."""
    v, _vq = _pq_vq(spark, sf_dir)
    srows, books, codes_df = _pq_trained(spark, sf_dir)

    # queries sit inside the vec_id-sorted sample (vec_id < 10), so
    # their integer ADC tables need no second collect
    qrows = [(r["vec_id"], r["q"]) for r in srows if r["vec_id"] < 10]
    return _pq_serve(spark, v, books, qrows, codes_df)


def _pq_serve(spark, v, books, qrows, codes_df) -> DataFrame:
    """The PQ serve path shared by ann_pq_topk (codes from the
    session-cached train) and ann_pq_persist (codes RELOADED from the
    warehouse): per-query integer ADC tables broadcast, codes scanned
    locally for partition shortlists, window-merged global shortlist,
    exact-cosine rerank. ``qrows`` is the bounded (vec_id, q) query
    list in vec_id order."""
    import numpy as np
    import pandas as pd

    sub = len(qrows[0][1]) // PQ_M
    q_ids = np.array([vid for vid, _q in qrows])
    Qm = np.array([q for _vid, q in qrows], dtype=np.int64)
    # tables[q, j, c] = integer ||Q[q, subspace j] - codebook[j][c]||^2
    tables = np.stack(
        [
            ((Qm[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None]) ** 2).sum(
                axis=2
            )
            for j in range(PQ_M)
        ],
        axis=1,
    )
    bc_tables = spark.sparkContext.broadcast((q_ids, tables))

    def score_batches(batches):
        q_ids_, tables_ = bc_tables.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf["vec_id"].to_numpy()
            out_q, out_c, out_a = [], [], []
            for qi, qid in enumerate(q_ids_):
                adc = tables_[qi, np.arange(PQ_M)[None, :], codes].sum(axis=1)
                mask = ids != qid
                cand_ids = ids[mask]
                cand_adc = adc[mask]
                top = np.lexsort((cand_ids, cand_adc))[:_PQ_SHORTLIST]
                out_q.extend([qid] * len(top))
                out_c.extend(cand_ids[top])
                out_a.extend(cand_adc[top])
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "adc": out_a})

    # scoring reads ONLY the stored codes (bandwidth = codes) plus the
    # broadcast per-query ADC tables — the vectors reappear solely in
    # the shortlist rerank below
    local_short = codes_df.mapInPandas(
        score_batches, schema="q_id long, c_id long, adc long"
    )
    from pyspark.sql import Window

    w_short = Window.partitionBy("q_id").orderBy("adc", "c_id")
    short = (
        local_short.withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= _PQ_SHORTLIST)
        .select("q_id", "c_id")
    )
    qe = v.select(F.col("vec_id").alias("q_id"), F.col("e").alias("qe"))
    ce = v.select(F.col("vec_id").alias("c_id"), F.col("e").alias("ce"))
    rer = (
        qe.join(F.broadcast(short), "q_id")
        .join(ce, "c_id")
        .select(
            "q_id",
            "c_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("score"),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        rer.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "score", "rk")
    )


def _pq_persisted_artifacts(spark, sf_dir):
    """The (codebook, codes) pair served from warehouse parquet,
    building iff absent or stale — the build half of ann_pq_persist,
    shared with the warehouse catalog. Training inputs are only
    constructed inside the builders, so a fresh warehouse pays zero
    plan construction beyond the sidecar checks."""
    from scribedb_spark.persist import persisted_artifact

    spec = {"sample": _PQ_SAMPLE, "m": PQ_M, "k": PQ_K, "iters": _PQ_ITERS}
    src = [f"{sf_dir}/embeddings.parquet"]

    def build_codebook():
        _s, books, _c = _pq_trained(spark, sf_dir)
        rows = [
            (j, c, [int(x) for x in books[j][c]])
            for j in range(books.shape[0])
            for c in range(books.shape[1])
        ]
        return spark.createDataFrame(
            rows, "j int, c int, cv array<long>"
        ).coalesce(1)  # 128 rows -> one file, not 32 (see ivf_codebook)

    def build_codes():
        _s, _b, codes_df = _pq_trained(spark, sf_dir)
        return codes_df

    cb = persisted_artifact(
        spark, "pq_codebook", sf_dir, src, build_codebook, spec
    )
    codes = persisted_artifact(
        spark, "pq_codes", sf_dir, src, build_codes, spec
    )
    return cb, codes


@register("ann_pq_persist", oracle=_pq_oracle())
def ann_pq_persist(spark, sf_dir) -> DataFrame:
    """The persisted PQ index: write the per-subspace codebooks and
    the encoded 4-bit codes table to WAREHOUSE PARQUET once, reload,
    and serve the same ADC top-5 from the RELOADED codes — completing
    the persist family (LSH pairs, IVF, LM counts, PQ) for the index
    whose compression is the whole point at 100 TB: the stored
    artifact is 64x smaller than the vectors, and a serving job
    reads codes + the {8}x{16}-row codebook, touching the vector
    store only for the shortlist rerank (the deliberate ADC design —
    persisting vectors inside the codes table would undo the
    compression).

    Staleness triple-guarded by spec {sample,m,k,iters} + embeddings
    fingerprint + format version; the 4-bit codes and int64 codebook
    round-trip parquet bit-exact. Oracle: ann_pq_topk's from-scratch
    DuckDB recompute — hash match proves save -> reload -> serve ==
    from-scratch. Cross-session zero-build serving is pinned by the
    subprocess round-trip test; the serve plan's codes come from the
    warehouse FileScan (zero training stages, plan-asserted)."""
    import numpy as np

    v, vq = _pq_vq(spark, sf_dir)
    cb, codes = _pq_persisted_artifacts(spark, sf_dir)
    brows = cb.orderBy("j", "c").collect()  # bounded: m*k = 128 rows
    books = np.array([r["cv"] for r in brows], dtype=np.int64).reshape(
        PQ_M, PQ_K, -1
    )
    # the bounded query rows come from the embeddings scan (the serve
    # input, like lm_index_persist's scoring scan) in vec_id order —
    # identical values to ann_pq_topk's sample-derived queries
    qrows = [
        (r["vec_id"], r["q"])
        for r in vq.filter(F.col("vec_id") < 10)
        .select("vec_id", "q")
        .orderBy("vec_id")
        .collect()
    ]
    return _pq_serve(spark, v, books, qrows, codes)


@served("pq_append_base", corpus_deps("embeddings"))
def _pq_append_base(spark, sf_dir):
    """(books, base_codes): PQ codebook trained on the BASE slice's
    vec_id-sorted sample only (vec_id % {10} != {7} — the appended
    batch is excluded: at append time the quantizer predates the new
    data, the ann_index_append freshness contract) plus the encoded
    base codes, built once per session and checkpointed."""
    import numpy as np

    _v, vq = _pq_vq(spark, sf_dir)
    base = vq.filter(F.col("vec_id") % _APPEND_MOD != F.lit(_APPEND_REM))
    srows = (
        base.select("vec_id", "q")
        .orderBy("vec_id")
        .limit(_PQ_SAMPLE)
        .collect()
    )
    sample = np.array([r["q"] for r in srows], dtype=np.int64)
    books = _pq_codebooks_int(sample)
    base_codes = _pq_encode(spark, base, books).localCheckpoint()
    TRAIN_EVENTS.append(("pq_append_base", sf_dir))
    return books, base_codes


@register(
    "ann_pq_append",
    oracle=_pq_oracle(
        sample_where=f"WHERE vec_id % {_APPEND_MOD} <> {_APPEND_REM}"
    ),
)
def ann_pq_append(spark, sf_dir) -> DataFrame:
    """Incremental PQ index maintenance — ann_index_append's story
    for the COMPRESSED index: new vectors (vec_id % {10} == {7}
    stands in for the appended batch) encode into the FROZEN
    base-trained codebooks — no retraining, no corpus re-encode —
    and the key serves the full ADC top-5 from the MERGED codes
    (base codes checkpoint (+) O(|delta|) encoded batch), proving
    the maintained index answers queries identically to a
    from-scratch build with the same base-trained quantizer. This
    closes the append gap in the PQ lifecycle (train: ann_pq_topk;
    persist: ann_pq_persist; monitor: ann_recall_report's
    discipline; append: THIS), the operation a 100 TB ingest runs
    between rare retrains — codes are append-only bytes, the
    codebook is immutable.

    Exactness: training is integer Lloyd on the base slice's
    vec_id-sorted sample (the shared Lloyd CTEs' sample predicate
    replicates the restriction in DuckDB); encode/ADC/shortlist are
    pure int64 with (adc, c_id) tie-breaks; the rerank is the shared
    fold cosine ROUND 6. Hash equality proves
    base build (+) delta encode == from-scratch-with-base-quantizer.

    Scale: the steady-state cost is ONE map-only numpy encode pass
    over the delta (the base codes come from the session/warehouse
    checkpoint, plan-asserted no re-encode); serving scans codes
    only — identical bandwidth to ann_pq_topk. Drift in the frozen
    codebook shows up as falling recall, which ann_retrain_gate's
    decision loop owns."""
    v, vq = _pq_vq(spark, sf_dir)
    books, base_codes = _pq_append_base(spark, sf_dir)
    delta_codes = _pq_encode(
        spark,
        vq.filter(F.col("vec_id") % _APPEND_MOD == F.lit(_APPEND_REM)),
        books,
    )
    codes = base_codes.unionByName(delta_codes)
    qrows = [
        (r["vec_id"], r["q"])
        for r in vq.filter(F.col("vec_id") < 10)
        .select("vec_id", "q")
        .orderBy("vec_id")
        .collect()
    ]
    return _pq_serve(spark, v, books, qrows, codes)


_PREFIX_DIMS = 16
_PREFIX_SHORTLIST = 32


@served("prefix", corpus_deps("embeddings"))
def _prefix_index(spark, sf_dir):
    """(index, q_ids, Qp): ann_prefix_topk's prefix-code index — every
    vector's first _PREFIX_DIMS int8 codes, checkpointed — plus the 10
    query ids and prefix codes, built once per session."""
    from scribedb_spark.functions.vector import quantize_int8

    import numpy as np

    # the prefix-code index is a stored artifact at scale; the
    # checkpoint materializes it once (per session, via the same
    # cache discipline as the trained quantizers) so the
    # shortlist, the query table and the rerank all read the
    # index, not the parquet (without it this plan scanned
    # embeddings 8x)
    e = table(spark, "embeddings", sf_dir)
    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    vq = (
        e.select("vec_id", to_double_array("embedding").alias("e"))
        .select(
            "vec_id",
            "e",
            F.slice(
                F.transform(
                    quantize_int8(F.col("e"), max_abs),
                    lambda x: x.cast("long"),
                ),
                1,
                _PREFIX_DIMS,
            ).alias("pq"),
        )
        .localCheckpoint()
    )
    # 10 bounded query rows collect once; scoring is ONE int64
    # numpy matmul per Arrow batch (bit-identical to an
    # integer-dot expression, the sq_assign_cells discipline) —
    # never the interpreted per-(vector, query) higher-order
    # fold, which costs ~100x at corpus scale
    qrows = sorted(
        vq.filter(F.col("vec_id") < 10).select("vec_id", "pq").collect(),
        key=lambda r: r["vec_id"],
    )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Qp = np.array([r["pq"] for r in qrows], dtype=np.int64)
    TRAIN_EVENTS.append(("prefix", sf_dir))
    return vq, q_ids, Qp


@register(
    "ann_prefix_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q8 AS (
      SELECT vec_id, e,
             list_slice(list_transform(e, x -> CAST(floor(
               x / (CASE WHEN list_max(list_transform(e, y -> abs(y))) = 0 THEN 1 ELSE list_max(list_transform(e, y -> abs(y))) END) * 127 + 0.5
             ) AS BIGINT)), 1, {_PREFIX_DIMS}) AS pq
      FROM v),
    qs AS (
      SELECT vec_id AS q_id, pq AS qpq FROM q8 WHERE vec_id < 10),
    sc AS (
      SELECT q.q_id, c.vec_id AS c_id,
             CAST(list_dot_product(q.qpq, c.pq) AS BIGINT) AS pdot
      FROM qs q JOIN q8 c ON c.vec_id <> q.q_id),
    short AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY pdot DESC, c_id) AS srn
        FROM sc) WHERE srn <= {_PREFIX_SHORTLIST}),
    rer AS (
      SELECT s.q_id, s.c_id,
             ROUND(list_cosine_similarity(qa.e, ca.e), 6) AS score
      FROM short s
      JOIN v qa ON qa.vec_id = s.q_id
      JOIN v ca ON ca.vec_id = s.c_id),
    r AS (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, c_id) AS rk
      FROM rer)
    SELECT q_id, c_id, score, rk FROM r WHERE rk <= 5
    """,
)
def ann_prefix_topk(spark, sf_dir) -> DataFrame:
    """Matryoshka-style prefix-dimension ANN cascade — the fourth
    candidate-generation strategy next to LSH buckets, IVF cells and
    PQ codes: score every vector against each query on only the
    FIRST {16} of 64 dimensions (4x less compute and index bytes —
    the premise of Matryoshka representation learning: leading
    dimensions carry the coarse geometry), shortlist the top-{32} by
    integer prefix dot, re-rank the shortlist with exact full-dim
    cosine. Unlike the bucketed strategies there is no routing
    structure to train or store — the index IS the prefix slice of
    the int8 codes, which makes this the simplest strategy to keep
    incrementally fresh at 100 TB (append-only, no retraining).

    Exactness: the prefix dot runs on int8-quantized codes
    (element-wise IEEE quantization, exact int64 dot — the
    sq_ranked_cells discipline), so the shortlist is bit-identical
    in any engine; rerank is the shared fold cosine, ROUND 6 + id
    tiebreaks.

    Scale: the 10-row quantized query table broadcasts (bounded
    driver collect, the PQ discipline); prefix scoring is map-only —
    one int64 numpy matmul per Arrow batch against the checkpointed
    index, emitting partition-local shortlists (no shuffle until the
    per-query top-{32} window, which carries 3-long rows); rerank
    touches shortlist rows only. Compute is O(n * prefix_dims) per
    query — a constant-factor cascade, the right tool when queries
    are few and recall must degrade gracefully rather than cliff on
    a mis-routed bucket."""
    from pyspark.sql import Window

    import numpy as np
    import pandas as pd

    vq, q_ids, Qp = _prefix_index(spark, sf_dir)
    bc_q = spark.sparkContext.broadcast((q_ids, Qp))

    def prefix_score(batches):
        q_ids_, Qp_ = bc_q.value
        for pdf in batches:
            if not len(pdf):
                continue
            P = np.stack(pdf["pq"].to_numpy()).astype(np.int64)
            ids = pdf["vec_id"].to_numpy()
            pdots = P @ Qp_.T  # (batch, n_queries) exact int64
            out_q, out_c, out_p = [], [], []
            for qi, qid in enumerate(q_ids_):
                mask = ids != qid
                cand_ids = ids[mask]
                cand_p = pdots[mask, qi]
                top = np.lexsort((cand_ids, -cand_p))[:_PREFIX_SHORTLIST]
                out_q.extend([qid] * len(top))
                out_c.extend(cand_ids[top])
                out_p.extend(cand_p[top])
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "pdot": out_p})

    sc = vq.select("vec_id", "pq").mapInPandas(
        prefix_score, schema="q_id long, c_id long, pdot long"
    )
    w_short = Window.partitionBy("q_id").orderBy(F.desc("pdot"), "c_id")
    short = (
        sc.withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= _PREFIX_SHORTLIST)
        .select("q_id", "c_id")
    )
    ve = vq.select("vec_id", "e")
    rer = (
        ve.select(F.col("vec_id").alias("q_id"), F.col("e").alias("qe"))
        .join(F.broadcast(short), "q_id")
        .join(
            ve.select(F.col("vec_id").alias("c_id"), F.col("e").alias("ce")),
            "c_id",
        )
        .select(
            "q_id",
            "c_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("score"),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        rer.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "score", "rk")
    )


_KNN_K = 3

_KNN_ORACLE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    s AS (SELECT a.vec_id AS src, b.vec_id AS nbr,
                 ROUND(list_cosine_similarity(a.e, b.e), 6) AS score
          FROM v a JOIN v b ON a.vec_id <> b.vec_id),
    r AS (SELECT src, nbr,
                 ROW_NUMBER() OVER (PARTITION BY src
                                    ORDER BY score DESC, nbr) AS rk
          FROM s)
    SELECT src AS vec_id,
           string_agg(CAST(nbr AS VARCHAR), ',' ORDER BY nbr) AS neighbors
    FROM r WHERE rk <= 3 GROUP BY src
    """


@register("vec_knn_graph", oracle=_KNN_ORACLE)
def vec_knn_graph(spark, sf_dir) -> DataFrame:
    """k-nearest-neighbor graph (k=3, exact cosine): every vector's
    top-k neighbors, the building block for graph-based semantic
    curation (SemDeDup-style cluster pruning, graph connectivity
    over embeddings, kNN label propagation).

    Same blocked all-pairs layout as ``dedup_exact``'s embedding twin
    (operators/dedup.py block_pair_kernel): vectors hash into B
    blocks, each block PAIR is one ``applyInPandas`` group whose
    numpy kernel matmuls two blocks — no driver collect, no full
    broadcast, task memory bounded by two blocks. The kernel emits
    only each source's top (k+8) candidates *within the pair* by raw
    score (the +8 margin makes the block-local pruning safe under
    the global rounded-score order: dropping a global winner would
    need 9+ candidates rounded-tied above it in one block), so the
    shuffle carries O(n * B * k) rows, never n^2. A final window
    rank over ROUND(score, 6) with neighbor-id tiebreak — the same
    engine-stable float ordering as ``vec_cosine_topk`` — picks the
    global top-k; neighbors emit as an ascending comma string
    (driver-sortable scalar).

    Scale: exact kNN is inherently O(n^2) compute; B parallelizes
    it. At 100 TB use ``vec_knn_graph_ann`` — the shipped cell-blocked
    twin of this key (>=0.8 edge recall, sum(cell^2) compute); this
    exact kernel remains the recall baseline and the in-cell scorer
    pattern — do not run it on full corpora: it refuses above
    $SPARK_GRAFT_EXACT_PAIRWISE_MAX vectors (guard_exact_pairwise).
    """
    import numpy as np
    import pandas as pd

    e = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    n = e.count()
    guard_exact_pairwise("vec_knn_graph", n, "vec_knn_graph_ann")
    nblocks = int(min(64, max(4, -(-n // 1024))))
    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nblocks)).cast("int")
    pair_keys = F.array(
        *[
            F.struct(
                F.least(blk, F.lit(o)).alias("pi"),
                F.greatest(blk, F.lit(o)).alias("pj"),
            )
            for o in range(nblocks)
        ]
    )
    replicated = e.select(
        "vec_id",
        "embedding",
        blk.alias("blk"),
        F.explode(F.array_distinct(pair_keys)).alias("bp"),
    ).select("vec_id", "embedding", "blk", "bp.pi", "bp.pj")

    m = _KNN_K + 8

    def emit_topm(src_ids, nbr_ids, S):
        # per-row top-m of S (src x nbr), self-pairs pre-masked
        k = min(m, S.shape[1])
        if k == 0 or S.shape[0] == 0:
            return None
        part = np.argpartition(-S, k - 1, axis=1)[:, :k]
        rows = np.repeat(src_ids, k)
        cols = nbr_ids[part.ravel()]
        scores = np.take_along_axis(S, part, axis=1).ravel()
        keep = np.isfinite(scores)
        return pd.DataFrame(
            {"src": rows[keep], "nbr": cols[keep], "score": scores[keep]}
        )

    def block_pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "nbr": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        if not len(pdf):
            return empty
        pi, pj = int(pdf["pi"].iloc[0]), int(pdf["pj"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        if pi == pj:
            S = Vn @ Vn.T
            np.fill_diagonal(S, -np.inf)
            out = emit_topm(ids, ids, S)
            return out if out is not None else empty
        left = (pdf["blk"] == pi).to_numpy()
        if not left.any() or left.all():
            return empty
        lid, rid = ids[left], ids[~left]
        S = Vn[left] @ Vn[~left].T
        parts = [emit_topm(lid, rid, S), emit_topm(rid, lid, S.T)]
        parts = [p for p in parts if p is not None]
        return pd.concat(parts, ignore_index=True) if parts else empty

    cand = replicated.groupBy("pi", "pj").applyInPandas(
        block_pair_kernel, schema="src long, nbr long, score double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(
        F.desc(F.round(F.col("score"), 6)), F.col("nbr")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KNN_K)
        .groupBy(F.col("src").alias("vec_id"))
        .agg(
            # sort numerically FIRST, then stringify (lexicographic
            # sort of "10" < "9" would misorder); the transform lambda
            # runs interpreted but over k=3 elements per row
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("nbr")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("neighbors")
        )
    )


@register(
    "vec_l2_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id,
                 ROUND(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS dist
          FROM embeddings e, q
          WHERE e.vec_id <> 0)
    SELECT vec_id, dist FROM s
    ORDER BY dist, vec_id LIMIT 20
    """,
)
def vec_l2_topk(spark, sf_dir) -> DataFrame:
    """Brute-force Euclidean (L2) top-20 neighbors of vec_id 0 — the
    metric twin of vec_cosine_topk (L2 is what IVF/PQ indexes and
    k-means quantizers natively optimize; cosine == L2 on normalized
    vectors). Same plan shape: one broadcast of the query vector, one
    scan, TakeOrdered top-k — no shuffle of the embedding table.
    Distances rounded to 6 dp so the float compare is engine-stable."""
    e = table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(
        to_double_array("embedding").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                l2_distance(to_double_array("embedding"), F.col("qv")), 6
            ).alias("dist"),
        )
    )
    return scored.orderBy("dist", "vec_id").limit(20)


@register(
    "vec_mips_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id,
                 ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS ip
          FROM embeddings e, q
          WHERE e.vec_id <> 0)
    SELECT vec_id, ip FROM s
    ORDER BY ip DESC, vec_id LIMIT 20
    """,
)
def vec_mips_topk(spark, sf_dir) -> DataFrame:
    """Brute-force MAXIMUM-INNER-PRODUCT top-20 of vec_id 0 — the
    third exact metric beside cosine (vec_cosine_topk) and Euclidean
    (vec_l2_topk), and the one recommendation/retrieval scoring
    actually uses: unnormalized dot product rewards both direction
    AND magnitude, so a popular (long) item vector can out-score a
    closer (short) one — which is exactly why MIPS is NOT a metric
    (no triangle inequality) and needs its own exact baseline rather
    than reading cosine's. Same plan shape as its two siblings: one
    broadcast of the query vector, one scan with a sequential-fold
    dot per row, TakeOrdered top-20 — no shuffle of the embedding
    table.

    Exactness: the fold dot runs in array order on both engines
    (F.aggregate's sequential fold == DuckDB's list_dot_product loop)
    and ROUND 6 + vec_id tiebreak make the float compare
    engine-stable — the vec_cosine_topk discipline.

    Scale: map-only score + TakeOrderedAndProject; the production
    scale path for MIPS is the standard reduction to cosine via the
    augmented (sqrt(M^2-|x|^2)) dimension over the ANN family — this
    key is the exact baseline those reductions get recalled
    against."""
    e = table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(
        to_double_array("embedding").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                vdot(to_double_array("embedding"), F.col("qv")), 6
            ).alias("ip"),
        )
    )
    return scored.orderBy(F.desc("ip"), "vec_id").limit(20)


# ---------------------------------------------------------------------------
# SQ-IVF: scalar-quantized seeded coarse quantizer — the oracle-exact
# cell-probe ANN (trained k-means stays in ann_ivf_topk)
# ---------------------------------------------------------------------------

_SQ_CELLS = 16
_SQ_PROBE = 4
#: multi-assignment breadth for cell-blocked candidate generation
#: (dedup_semantic_ann / vec_knn_graph_ann): each vector belongs to
#: its top-A cells, pairs must co-reside in at least one. 4-of-16
#: measures ~0.91 pair recall vs the exact kernels at sf0.01 (the
#: seeded 16-cell quantizer is the oracle-exactness compromise; a
#: production corpus scales the cell count, not the breadth)
_SQ_ASSIGN_A = 4


def scaled_cells(n: int) -> int:
    """Corpus-scaled coarse-quantizer size: max(16, floor(sqrt(n))).

    Computed with IEEE double sqrt so DuckDB's
    ``GREATEST(16, CAST(floor(sqrt(n * 1.0)) AS BIGINT))`` lands on
    the identical integer. Keeps per-cell population ~sqrt(n), so
    cell-blocked candidate generation is ~A^2 * n^1.5 pairs instead
    of n^2 — the property that makes dedup_semantic_ann /
    vec_knn_graph_ann actually cheaper than the exact kernels as the
    corpus grows (a FIXED cell count degenerates to brute force once
    n >> cells)."""
    import math

    return max(_SQ_CELLS, int(math.floor(math.sqrt(float(n)))))


def sq_ranked_cells(v: DataFrame, n_cells: int = _SQ_CELLS) -> DataFrame:
    """(vec_id, e, cell, idot, rn) — every vector scored against the
    ``n_cells`` seeded int8-quantized centroids, rn = preference
    rank of the cell (1 = assigned cell). The shared coarse-quantizer
    stage of the oracle-exact IVF family: ``ann_ivf_sq_topk`` (rn=1
    assignment + rn<=probe query probing, fixed 16 cells) and
    ``dedup_semantic_ann`` / ``vec_knn_graph_ann`` (rn<=A
    multi-assignment blocking over ``scaled_cells(n)``).

    Integer dot products of element-wise-quantized codes make the
    ranking bit-identical in any engine — no float summation-order
    ties — which is what lets the downstream keys carry full DuckDB
    oracles. ``v`` must be (vec_id, e double-array).

    Scale: the quantized seed table is bounded (<= sqrt(n) short int8
    rows) and broadcast; scoring is map-only; the only shuffle is the
    per-vector rank window, keyed by vec_id (uniform)."""
    from pyspark.sql import Window

    from scribedb_spark.functions.vector import quantize_int8

    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    q8 = v.select(
        "vec_id",
        "e",
        F.transform(
            quantize_int8(F.col("e"), max_abs), lambda x: x.cast("long")
        ).alias("q"),
    )
    cent = q8.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell"), F.col("q").alias("cq")
    )
    idot = F.aggregate(
        F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = q8.crossJoin(F.broadcast(cent)).select(
        "vec_id", "e", "q", "cell", idot.alias("idot")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("idot"), "cell")
    return scored.withColumn("rn", F.row_number().over(w_assign))


#: DuckDB cells expression matching scaled_cells(count(embeddings))
SQ_SCALED_CELLS_SQL = (
    f"(SELECT GREATEST({_SQ_CELLS}, "
    "CAST(floor(sqrt(COUNT(*) * 1.0)) AS BIGINT)) FROM embeddings)"
)


def sq_ranked_ctes(cells_sql: str = str(_SQ_CELLS)) -> str:
    """DuckDB twin of sq_ranked_cells — CTEs
    v/q8/cent/scored_cells/ranked (ranked = per-vector cell
    preference order), parameterized by the cell-count SQL expression
    (a literal for the fixed-16 ann_ivf_sq_topk shape,
    SQ_SCALED_CELLS_SQL for the corpus-scaled blocking keys). Kept
    textually in sync with the inline CTEs of ann_ivf_sq_topk's
    oracle."""
    return f"""
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q8 AS (
      SELECT vec_id,
             list_transform(e, x -> CAST(floor(
               x / (CASE WHEN list_max(list_transform(e, y -> abs(y))) = 0 THEN 1 ELSE list_max(list_transform(e, y -> abs(y))) END) * 127 + 0.5
             ) AS BIGINT)) AS q
      FROM v),
    cent AS (SELECT vec_id AS cell, q FROM q8 WHERE vec_id < {cells_sql}),
    scored_cells AS (
      SELECT a.vec_id, c.cell,
             CAST(list_dot_product(a.q, c.q) AS BIGINT) AS idot
      FROM q8 a CROSS JOIN cent c),
    ranked AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY idot DESC, cell) AS rn
      FROM scored_cells)
"""


SQ_RANKED_CTES = sq_ranked_ctes(SQ_SCALED_CELLS_SQL)


def _ivf_scored(spark, sf_dir) -> DataFrame:
    """ann_ivf_sq_topk's CANDIDATE stage — (q_id, c_id, score) for
    every vector in every query's probed cells, before the top-k
    window. Factored out so the scale smoke can measure the scored-
    candidate volume (the quantity IVF wall time must track: probed
    cell occupancy, never the corpus square)."""
    import numpy as np

    srows, books, assigned = _ivf_trained(spark, sf_dir)
    # queries sit inside the vec_id-sorted sample: derive their probe
    # cells driver-side with the same integer metric (no second scan)
    qs = [(r["vec_id"], r["q"], r["e"]) for r in srows if r["vec_id"] < 10]
    probe_rows = []
    for qid, qcode, qe in qs:
        d2q = ((np.array(qcode, dtype=np.int64)[None, :] - books) ** 2).sum(
            axis=1
        )
        cells = np.arange(len(books), dtype=np.int64)
        order = np.lexsort((cells, d2q))[:N_PROBE]
        for cell in order:
            probe_rows.append((int(qid), int(cell), list(qe)))
    queries = spark.createDataFrame(
        probe_rows, "q_id long, cell int, qv array<double>"
    )
    cands = assigned.select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("cv"), "cell"
    )
    return (
        cands.join(F.broadcast(queries), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
    )


@register(
    "ann_ivf_sq_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q8 AS (
      SELECT vec_id,
             list_transform(e, x -> CAST(floor(
               x / (CASE WHEN list_max(list_transform(e, y -> abs(y))) = 0 THEN 1 ELSE list_max(list_transform(e, y -> abs(y))) END) * 127 + 0.5
             ) AS BIGINT)) AS q
      FROM v),
    cent AS (SELECT vec_id AS cell, q FROM q8 WHERE vec_id < {_SQ_CELLS}),
    scored_cells AS (
      SELECT a.vec_id, c.cell,
             CAST(list_dot_product(a.q, c.q) AS BIGINT) AS idot
      FROM q8 a CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY idot DESC, cell) AS rn
        FROM scored_cells) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY idot DESC, cell) AS rn
        FROM scored_cells WHERE vec_id < 10) WHERE rn <= {_SQ_PROBE}),
    cand AS (
      SELECT p.q_id, a.vec_id AS c_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.q_id),
    rer AS (
      SELECT c.q_id, c.c_id,
             ROUND(list_cosine_similarity(qa.e, ca.e), 6) AS score
      FROM cand c
      JOIN v qa ON qa.vec_id = c.q_id
      JOIN v ca ON ca.vec_id = c.c_id),
    r AS (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, c_id) AS rk
      FROM rer)
    SELECT q_id, c_id, score, rk FROM r WHERE rk <= 5
    """,
    serve=corpus_deps("embeddings"),
)
def ann_ivf_sq_topk(spark, sf_dir) -> DataFrame:
    """IVF cell-probe ANN with a SCALAR-QUANTIZED seeded coarse
    quantizer — the oracle-exact member of the IVF family: cells are
    the first {16} vectors int8-quantized (max-abs scalar
    quantization, the same element-wise exact formula as
    vec_quantize_int8), every vector assigns to the cell maximizing
    the INTEGER dot product of quantized codes, queries probe their 4
    best cells, and exact float cosine re-ranks candidates. Integer
    cell scores make assignment bit-identical in any engine — no
    float summation-order ties — which is what lets this variant
    carry a full DuckDB oracle where trained k-means (ann_ivf_topk,
    the recall-tuned production path: Lloyd iterations compound ulp
    drift) cannot.

    Plan: the 16 quantized seeds broadcast (bounded by construction);
    assignment is a map-only fold per (vector, cell) pair; cells
    become the shuffle key for the probe join; re-rank touches only
    probed-cell candidates (never all pairs). At 100 TB the
    assignment is the standard quantized scan and the cell key is the
    partition/bucket key, so each query moves only its probed cells.

    Exactness: quantization is element-wise (no sums); integer dots
    are order-free; rerank cosine uses the shared sequential-fold
    ``cosine`` (engine-identical), ROUND 6 + id tie-breaks."""
    from pyspark.sql import Window

    e = table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    ranked = sq_ranked_cells(v)
    assign = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("ce"), "cell"
    )
    probes = (
        ranked.filter((F.col("vec_id") < 10) & (F.col("rn") <= _SQ_PROBE))
        .select(F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), "cell")
    )
    rer = (
        probes.join(assign, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("score"),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("score"), "c_id")
    return (
        rer.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 5)
        .select("q_id", "c_id", "score", "rk")
    )


def sq_assign_cells(
    v: DataFrame, n_cells: int, breadth: int = _SQ_ASSIGN_A
) -> DataFrame:
    """(cell, vec_id, e, rn) top-``breadth`` cell assignments — the
    vectorized fast path of ``sq_ranked_cells``: the quantized seed
    codebook (<= ~sqrt(n) short int8 rows) is collected once
    (bounded driver state, the same discipline as ann_ivf_topk's
    capped training sample) and every batch scores against it with
    ONE numpy integer matmul inside ``mapInPandas`` — no
    (vector x cell) crossJoin row explosion, no interpreted
    higher-order folds, no rank-window shuffle.

    Bit-identical to sq_ranked_cells' rn <= breadth slice: the
    quantization (floor(x / max_abs * 127 + 0.5)) is element-wise
    IEEE double arithmetic (numpy == codegen == DuckDB), dots are
    exact int64, and stable argsort of -idot reproduces the
    (idot DESC, cell ASC) tie order because the codebook is scored
    in ascending cell order. tests/test_similarity.py asserts
    equality against sq_ranked_cells."""
    import numpy as np
    import pandas as pd

    from scribedb_spark.functions.vector import quantize_int8

    max_abs = F.array_max(F.transform(F.col("e"), F.abs))
    seed_rows = sorted(
        v.filter(F.col("vec_id") < n_cells)
        .select(
            "vec_id",
            F.transform(
                quantize_int8(F.col("e"), max_abs), lambda x: x.cast("long")
            ).alias("q"),
        )
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cell_ids = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)
    codebook_t = np.array([r["q"] for r in seed_rows], dtype=np.int64).T

    def assign_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            maxabs = np.max(np.abs(V), axis=1, keepdims=True)
            # all-zero vector: 0/0 would be NaN and floor(NaN)->int64
            # is undefined; dividing by 1 instead quantizes it to the
            # all-zero code deterministically (idot 0 with every cell,
            # so it ranks cells purely by the ascending-cell tiebreak)
            maxabs = np.where(maxabs == 0, 1.0, maxabs)
            q = np.floor(V / maxabs * 127 + 0.5).astype(np.int64)
            idots = q @ codebook_t
            order = np.argsort(-idots, axis=1, kind="stable")[:, :breadth]
            a = order.shape[1]
            yield pd.DataFrame(
                {
                    "cell": cell_ids[order.ravel()],
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), a),
                    "e": np.repeat(pdf["e"].to_numpy(), a),
                    "rn": np.tile(np.arange(1, a + 1), len(pdf)),
                }
            )

    return v.mapInPandas(
        assign_batches, schema="cell long, vec_id long, e array<double>, rn int"
    )


def sq_cell_candidates(ranked: DataFrame, breadth: int = _SQ_ASSIGN_A) -> DataFrame:
    """Undirected candidate pairs (id1 < id2) from IVF-SQ cell
    co-residence: each vector belongs to its top-``breadth`` cells
    (sq_ranked_cells rank), a pair is a candidate iff the two vectors
    share at least one assigned cell. The ANN candidate generator
    that replaces the O(n^2) exact pair kernels at scale — per-cell
    work is O(cell_size^2) and the cell count grows with the corpus
    (16 seeded cells here keep the oracle twin exact; production
    sizing is ~sqrt(n) trained cells, see ann_ivf_topk).

    Exact-by-construction in SQL: integer cell ranks, no floats.
    """
    asg = ranked.filter(F.col("rn") <= breadth).select("vec_id", "cell")
    a = asg.select(F.col("vec_id").alias("id1"), "cell")
    b = asg.select(F.col("vec_id").alias("id2"), "cell")
    return (
        a.join(b, "cell")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


_KNN_ANN_ORACLE = f"""
    WITH {SQ_RANKED_CTES},
    asg AS (SELECT vec_id, cell FROM ranked WHERE rn <= {_SQ_ASSIGN_A}),
    cand AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS nbr
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
    s AS (
      SELECT c.src, c.nbr,
             ROUND(list_cosine_similarity(va.e, vb.e), 6) AS score
      FROM cand c
      JOIN v va ON va.vec_id = c.src
      JOIN v vb ON vb.vec_id = c.nbr),
    r AS (
      SELECT src, nbr,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY score DESC, nbr) AS rk
      FROM s)
    SELECT src AS vec_id,
           string_agg(CAST(nbr AS VARCHAR), ',' ORDER BY nbr) AS neighbors
    FROM r WHERE rk <= {{k}} GROUP BY src
    """.replace("{k}", str(_KNN_K))


@register(
    "vec_knn_graph_ann",
    oracle=_KNN_ANN_ORACLE,
    serve=corpus_deps("embeddings"),
)
def vec_knn_graph_ann(spark, sf_dir) -> DataFrame:
    """Approximate kNN graph (k=3) — the IVF-SQ-blocked twin of
    ``vec_knn_graph``: candidate neighbors come from cell
    co-residence (each vector in its top-{A} of scaled_cells(n)
    seeded cells) instead of all pairs. Scoring runs as ONE numpy
    matmul per cell inside ``applyInPandas`` — the same vectorized
    kernel discipline as the exact graph (whose block-pair kernel is
    the proven numpy/DuckDB agreement baseline), emitting each
    source's per-cell candidates at or ABOVE the (k+8)-th raw score —
    a threshold, not a fixed-count slice, so rounded-score ties at the
    boundary can never be arbitrarily dropped; a global window over
    ROUND(score, 6) with neighbor-id tiebreak picks the final top-k.
    Output schema matches vec_knn_graph (vec_id, ascending
    comma-joined neighbor ids); tests/test_similarity.py pins edge
    recall against the exact graph.

    Scale: compute is sum(cell_size^2) matmuls, not n^2 — with
    scaled_cells keeping cells ~sqrt(n) that is ~A^2 * n^1.5; the
    only wide shuffle is the (cell, id, embedding) replication, n*A
    rows. A pair sharing several cells scores identically in each
    (same floats), so the duplicate drop is exact. Vectors whose
    true neighbors live in unshared cells are the recall loss,
    bounded by the multi-assignment breadth."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    e = table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    # corpus-scaled cell count (bounded scalar count — one O(1) job)
    cells = scaled_cells(e.count())
    asg = sq_assign_cells(v, cells).select("cell", "vec_id", "e")
    m = _KNN_K + 8

    def cell_knn_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype="int64"),
                "nbr": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = Vn @ Vn.T
        np.fill_diagonal(S, -np.inf)
        k = min(m, S.shape[1] - 1)
        part = np.argpartition(-S, k - 1, axis=1)[:, :k]
        # keep EVERYTHING at or above the k-th raw score, not a fixed
        # k-count slice: if >k co-residents tie at the boundary after
        # ROUND 6, an argpartition slice picks an arbitrary subset and
        # can drop a neighbor the global rounded-score order keeps
        kth = np.take_along_axis(S, part, axis=1).min(axis=1, keepdims=True)
        keep = (S >= kth) & np.isfinite(S)
        src_i, nbr_i = np.nonzero(keep)
        return pd.DataFrame(
            {"src": ids[src_i], "nbr": ids[nbr_i], "score": S[src_i, nbr_i]}
        )

    cand = (
        asg.groupBy("cell")
        .applyInPandas(cell_knn_kernel, schema="src long, nbr long, score double")
        .dropDuplicates(["src", "nbr"])
    )
    w = Window.partitionBy("src").orderBy(
        F.desc(F.round(F.col("score"), 6)), F.col("nbr")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KNN_K)
        .groupBy(F.col("src").alias("vec_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("nbr")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("neighbors")
        )
    )


# ---------------------------------------------------------------------------
# MIPS ANN: augmented-dimension reduction routed through the seeded
# SQ coarse quantizer (exact baseline: vec_mips_topk)
# ---------------------------------------------------------------------------

_MIPS_PROBE = 4
_MIPS_K = 5


def _mips_quantize_sql(src: str) -> str:
    """DuckDB CTE pair quantizing ``src``'s augmented vectors to int64
    codes — the textual twin of quantize_int8 over the ``a`` column
    (per-vector max-abs scale, zero-guarded)."""
    return f"""
    {src}m AS (
      SELECT vec_id, e, a,
             list_max(list_transform(a, y -> abs(y))) AS ma
      FROM {src}),
    {src}8 AS (
      SELECT vec_id, e,
             list_transform(a, x -> CAST(floor(
               x / (CASE WHEN ma = 0 THEN 1 ELSE ma END) * 127 + 0.5
             ) AS BIGINT)) AS q
      FROM {src}m)"""


def _mips_ann_ctes() -> str:
    """The full MIPS-ANN CTE chain (v ... r) shared by ann_mips_topk's
    oracle and the recall report's: augment with sqrt(M^2 - |x|^2)
    (query side appends 0 instead), int8-quantize, assign/probe the 16
    seeded cells by exact integer dot, re-rank probed candidates by
    the exact float inner product."""
    return f"""
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    mx AS (SELECT MAX(list_dot_product(e, e)) AS m2 FROM v),
    da AS (
      SELECT vec_id, e,
             list_append(e, sqrt(mx.m2 - list_dot_product(e, e))) AS a
      FROM v CROSS JOIN mx),
    qa AS (
      SELECT vec_id, e, list_append(e, 0.0) AS a
      FROM v WHERE vec_id < 10),
    {_mips_quantize_sql("da")},
    {_mips_quantize_sql("qa")},
    cent AS (SELECT vec_id AS cell, q FROM da8 WHERE vec_id < {_SQ_CELLS}),
    asn AS (
      SELECT vec_id AS c_id, e AS ce, cell FROM (
        SELECT d.vec_id, d.e, c.cell,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY CAST(list_dot_product(d.q, c.q) AS BIGINT) DESC,
                          c.cell) AS rn
        FROM da8 d CROSS JOIN cent c) WHERE rn = 1),
    prb AS (
      SELECT vec_id AS q_id, e AS qe, cell FROM (
        SELECT p.vec_id, p.e, c.cell,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY CAST(list_dot_product(p.q, c.q) AS BIGINT) DESC,
                          c.cell) AS rn
        FROM qa8 p CROSS JOIN cent c) WHERE rn <= {_MIPS_PROBE}),
    rer AS (
      SELECT p.q_id, a.c_id,
             ROUND(list_dot_product(a.ce, p.qe), 6) AS ip
      FROM prb p JOIN asn a ON a.cell = p.cell
      WHERE a.c_id <> p.q_id),
    r AS (
      SELECT q_id, c_id, ip,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY ip DESC, c_id) AS rk
      FROM rer)"""


def _mips_codes(df: DataFrame) -> DataFrame:
    """(vec_id, e, q): per-vector max-abs int8 quantization of the
    augmented column ``a`` as int64 codes — shared by the from-scratch
    frame and the artifact builders."""
    from scribedb_spark.functions.vector import quantize_int8

    ma = F.array_max(F.transform(F.col("a"), F.abs))
    return df.select(
        "vec_id",
        "e",
        F.transform(
            quantize_int8(F.col("a"), ma), lambda x: x.cast("long")
        ).alias("q"),
    )


def _mips_idot() -> Column:
    """Exact int64 inner product of the ``q`` and ``cq`` code columns."""
    return F.aggregate(
        F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _mips_codes_and_assignment(spark, sf_dir):
    """(d8, cent, asn): the augmented-int8 data codes, the {16} seeded
    cell codebook (cell, cq) and the exact-integer-dot cell assignment
    (c_id, ce, cell) — the build stages shared by the from-scratch
    MIPS-ANN frame and the warehouse artifact builders.

    r15 (guide §2.3/§4.2): the assignment is ONE Arrow/numpy pass —
    exact int64 matmul, argmax first-occurrence over cell-ascending
    columns == the (idot DESC, cell ASC) row_number pick it replaces
    (codes are int8-range, dim+1 <= 65, so |dot| <= 127^2*65 << 2^63:
    no overflow) — the same discipline as the IVF index build. The
    previous shape crossJoined the corpus with the {16}-cell codebook,
    ran one INTERPRETED F.aggregate fold per (vector, cell) and a
    row_number window over 16 rows per vector (a corpus-sized sort +
    shuffle); the map-only pass shuffles nothing."""
    import numpy as np
    import pandas as pd

    e = table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    m2 = v.agg(F.max(vdot(F.col("e"), F.col("e"))).alias("m2"))
    data_aug = v.crossJoin(F.broadcast(m2)).select(
        "vec_id",
        "e",
        F.concat(
            F.col("e"),
            F.array(F.sqrt(F.col("m2") - vdot(F.col("e"), F.col("e")))),
        ).alias("a"),
    )
    d8 = _mips_codes(data_aug)
    cent = d8.filter(F.col("vec_id") < _SQ_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("q").alias("cq")
    )
    # bounded codebook collect ({16} rows — the <=128-row discipline),
    # cell-ascending so argmax ties resolve to the smallest cell
    crows = cent.orderBy("cell").collect()
    cells_arr = np.array([r["cell"] for r in crows], dtype=np.int64)
    C = np.array([r["cq"] for r in crows], dtype=np.int64)
    bc = spark.sparkContext.broadcast((cells_arr, C))

    def assign_batches(batches):
        cvals, Cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Qm = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            ips = Qm @ Cm.T  # (n, cells) exact int64 inner products
            yield pd.DataFrame(
                {
                    "c_id": pdf["vec_id"],
                    "ce": pdf["e"],
                    "cell": cvals[ips.argmax(axis=1)],
                }
            )

    asn = d8.select("vec_id", "e", "q").mapInPandas(
        assign_batches, schema="c_id long, ce array<double>, cell long"
    )
    return d8, cent, asn


@served("mips_state", corpus_deps("embeddings"))
def _mips_state(spark, sf_dir) -> dict:
    """Session-cached {'cent', 'asn'} checkpoints of
    :func:`_mips_codes_and_assignment` — built once per (session,
    embeddings fingerprint) and served to the topk key, the recall
    report and the warehouse artifact builders."""
    _d8, cent, asn = _mips_codes_and_assignment(spark, sf_dir)
    return {
        "cent": cent.localCheckpoint(),
        "asn": asn.localCheckpoint(),
    }


def _mips_ann_frame(spark, sf_dir) -> DataFrame:
    """(q_id, c_id, ip, rk<=5) served MIPS top-k for the 10 fixture
    queries — the Spark half of _mips_ann_ctes (shared by the serve
    key and the recall report). The index state serves from the
    session cache (r15)."""
    st = _mips_state(spark, sf_dir)
    return _mips_frame_from(spark, sf_dir, st["cent"], st["asn"])


def _mips_ann_frame_compute(spark, sf_dir) -> DataFrame:
    """The full MIPS BUILD plan (codes + assignment + probe + rerank,
    no state cache) — the plan-shape tests' capture target."""
    _d8, cent, asn = _mips_codes_and_assignment(spark, sf_dir)
    return _mips_frame_from(spark, sf_dir, cent, asn)


def _mips_topk_compute(spark, sf_dir) -> DataFrame:
    """ann_mips_topk's full BUILD plan (no state cache) — the
    plan-shape tests' capture target."""
    return _mips_ann_frame_compute(spark, sf_dir).select(
        "q_id", "c_id", "ip", "rk"
    )


def _mips_recall_compute(spark, sf_dir) -> DataFrame:
    """ann_mips_recall_report's full BUILD plan (no state cache) —
    the plan-shape tests' capture target."""
    return _mips_recall_for(
        spark,
        sf_dir,
        _mips_ann_frame_compute(spark, sf_dir).select("q_id", "c_id"),
        exact=_mips_exact_topk.build(spark, sf_dir),
    )


def _mips_frame_from(spark, sf_dir, cent, asn) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    q_aug = v.filter(F.col("vec_id") < 10).select(
        "vec_id", "e", F.concat(F.col("e"), F.array(F.lit(0.0))).alias("a")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("idot"), "cell")
    prb = (
        _mips_codes(q_aug)
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "e", "cell", _mips_idot().alias("idot"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MIPS_PROBE)
        .select(F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), "cell")
    )
    rer = (
        prb.join(asn, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(vdot(F.col("ce"), F.col("qe")), 6).alias("ip"),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("ip"), "c_id")
    return rer.withColumn("rk", F.row_number().over(w_rank)).filter(
        F.col("rk") <= _MIPS_K
    )


@register(
    "ann_mips_topk",
    oracle=f"""
    WITH {_mips_ann_ctes()}
    SELECT q_id, c_id, ip, rk FROM r WHERE rk <= {_MIPS_K}
    """,
    build=_mips_topk_compute,
)
def ann_mips_topk(spark, sf_dir) -> DataFrame:
    """MAXIMUM-INNER-PRODUCT ANN — the scale twin of the exact
    vec_mips_topk baseline, via the standard augmented-dimension
    reduction (Bachrach et al. 2014 / Neyshabur-Srebro 2015): append
    sqrt(M^2 - |x|^2) to every data vector (M = max corpus norm) so
    all augmented vectors share norm M, and append 0 to the query —
    then inner-product order over the originals equals
    cosine/L2 order over the augmented vectors, and any cosine ANN
    index serves MIPS. Here the index is the oracle-exact seeded
    SQ-IVF family (ann_ivf_sq_topk's discipline): augmented vectors
    int8-quantize against the first-{16} augmented seed codes, data
    assigns to its best cell by exact INTEGER dot, each of the 10
    fixture queries probes its {4} best cells, and the exact float
    inner product of the ORIGINAL vectors re-ranks candidates to
    top-{5}.

    Exactness: the augmented coordinate is sqrt(MAX(selfdot) -
    selfdot) where selfdot is the sequential-fold dot (identical fold
    order both engines — the vec_mips_topk discipline), MAX and sqrt
    are single IEEE ops; quantization is element-wise; cell
    assignment is integer; the re-rank rounds to 6 dp with c_id
    tie-breaks. ann_mips_recall_report measures this index's recall
    against the exact baseline.

    Scale: at 100 TB the augmentation is one map-only projection
    (M broadcasts as one scalar), assignment is the standard quantized
    scan, the cell is the partition key, and each query moves only its
    probed cells — MIPS retrieval (recommendation scoring) costs
    exactly what cosine ANN costs, never a corpus-wide exact pass."""
    return _mips_ann_frame(spark, sf_dir).select("q_id", "c_id", "ip", "rk")


@register(
    "ann_mips_recall_report",
    oracle=f"""
    WITH {_mips_ann_ctes()},
    ann AS (SELECT q_id, c_id FROM r WHERE rk <= {_MIPS_K}),
    sc AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             ROUND(list_dot_product(c.e, q.e), 6) AS ip
      FROM v q JOIN v c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    ex AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY ip DESC, c_id) AS rk
        FROM sc) WHERE rk <= {_MIPS_K}),
    hits AS (
      SELECT e.q_id, COUNT(*) AS n_hits
      FROM ex e JOIN ann a ON a.q_id = e.q_id AND a.c_id = e.c_id
      GROUP BY e.q_id)
    SELECT qs.q_id, CAST({_MIPS_K} AS BIGINT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) * 1000000 // {_MIPS_K}
             AS recall_ppm
    FROM (SELECT DISTINCT q_id FROM ex) qs
    LEFT JOIN hits h USING (q_id)
    """,
    build=_mips_recall_compute,
)
def ann_mips_recall_report(spark, sf_dir) -> DataFrame:
    """Recall@{5} of the augmented-dimension MIPS index against the
    exact inner-product baseline, per fixture query in integer ppm —
    the monitoring row that makes ann_mips_topk a trustworthy scale
    path (the ann_recall_report discipline applied to the MIPS
    reduction, whose known weakness is exactly what this measures:
    short vectors get a dominant augmented coordinate and can land in
    norm-segregated cells away from their inner-product neighbors).

    Exactness: both sides are the already-oracle-pinned plans (the
    ANN CTE chain + the vec_mips_topk-style exact pass with ROUND 6 +
    id tie-breaks); the intersection count and ppm floor-division are
    integers end to end.

    Scale: the exact pass runs on the BOUNDED 10-query fixture only
    (|queries| x corpus map-only scoring — how production recall
    audits run); the ANN side reads the cell-probe plan."""
    return _mips_recall_for(
        spark, sf_dir, _mips_ann_frame(spark, sf_dir).select("q_id", "c_id")
    )


@served("mips_exact", corpus_deps("embeddings"))
def _mips_exact_topk(spark, sf_dir) -> DataFrame:
    """Exact inner-product top-{5} (q_id, c_id) per fixture query —
    the baseline side of every MIPS recall audit (bounded: 10 queries
    x corpus map-only scoring + one top-k window)."""
    from pyspark.sql import Window

    e = table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.round(vdot(F.col("e"), F.col("qe")), 6).alias("ip"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("ip"), "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MIPS_K)
        .select("q_id", "c_id")
    )


def _mips_recall_for(
    spark, sf_dir, ann: DataFrame, exact: DataFrame | None = None
) -> DataFrame:
    """Per-query recall@{5} of any served (q_id, c_id) MIPS answer set
    against the exact inner-product baseline — factored out so the
    retrain gate can audit whatever index the warehouse currently
    serves (the _recall_report_for discipline applied to MIPS). The
    baseline serves from the session cache unless an uncached frame
    is passed (plan capture)."""
    if exact is None:
        exact = _mips_exact_topk(spark, sf_dir)
    hits = (
        exact.join(ann, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.lit(_MIPS_K).cast("long").alias("k"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                f"coalesce(n_hits, 0) * 1000000L div {_MIPS_K}"
            ).alias("recall_ppm"),
        )
    )


def _mips_persisted_artifacts(spark, sf_dir):
    """The (codebook, index) pair for MIPS serving from warehouse
    parquet, building if absent or stale — the build half of
    ann_mips_persist (the shared-wrapper discipline: the catalog key
    calls THIS, never the serve computation)."""
    from scribedb_spark.persist import persisted_artifact

    spec = {
        "cells": _SQ_CELLS,
        "probe": _MIPS_PROBE,
        "reduction": "aug_sqrt_m2",
    }
    src = [f"{sf_dir}/embeddings.parquet"]

    def build_codebook():
        # one file: {16} rows of augmented int64 codes; the state
        # serves from the session cache shared with the topk/recall
        # keys (r15) — a rebuild after an embeddings rewrite still
        # re-measures because deps= evicts the cached state first
        return _mips_state(spark, sf_dir)["cent"].coalesce(1)

    def build_index():
        asn = _mips_state(spark, sf_dir)["asn"]
        return asn.select(
            F.col("c_id").alias("vec_id"), F.col("ce").alias("e"), "cell"
        )

    codebook = persisted_artifact(
        spark, "mips_codebook", sf_dir, src, build_codebook, spec
    )
    index = persisted_artifact(
        spark, "mips_index", sf_dir, src, build_index, spec
    )
    return codebook, index


def _mips_serve_from_artifacts(spark, codebook, index) -> DataFrame:
    """MIPS top-{5} per query ENTIRELY from the reloaded artifacts:
    query codes re-derive from the index's stored ORIGINAL vectors
    (the query-side augmentation appends 0, so its int8 code needs
    only the vector itself — bounded: 10 fixture queries), probe
    cells come from exact int64 dots against the artifact codebook
    ({16} rows), candidates from the index's cell routing. The
    embeddings parquet is never scanned and nothing re-quantizes the
    corpus."""
    import numpy as np

    from pyspark.sql import Window

    books = np.array(
        [r["cq"] for r in codebook.orderBy("cell").collect()],
        dtype=np.int64,
    )
    qrows = index.filter(F.col("vec_id") < 10).select(
        "vec_id", "e"
    ).collect()
    cells = np.arange(len(books), dtype=np.int64)
    probe_rows = []
    for r in sorted(qrows, key=lambda r: r["vec_id"]):
        a = np.append(np.array(r["e"], dtype=np.float64), 0.0)
        ma = float(np.max(np.abs(a)))
        qcode = np.floor(a / (ma if ma != 0 else 1.0) * 127 + 0.5).astype(
            np.int64
        )
        idots = books @ qcode
        for cell in np.lexsort((cells, -idots))[:_MIPS_PROBE]:
            probe_rows.append((int(r["vec_id"]), int(cell), list(r["e"])))
    queries = spark.createDataFrame(
        probe_rows, "q_id long, cell long, qv array<double>"
    )
    cands = index.select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("cv"), "cell"
    )
    scored = (
        cands.join(F.broadcast(queries), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(vdot(F.col("cv"), F.col("qv")), 6).alias("ip"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("ip"), "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MIPS_K)
        .select("q_id", "c_id", "ip", "rk")
    )


@register(
    "ann_mips_persist",
    oracle=f"""
    WITH {_mips_ann_ctes()}
    SELECT q_id, c_id, ip, rk FROM r WHERE rk <= {_MIPS_K}
    """,
)
def ann_mips_persist(spark, sf_dir) -> DataFrame:
    """The persisted MIPS index — the warehouse slot that completes
    the ANN persistence family (IVF and PQ have one; the augmented-SQ
    MIPS index did not): write the {16}-cell augmented codebook and
    the cell-assigned vector table to warehouse parquet once, reload,
    and serve the same top-{5} MIPS search ENTIRELY from the reloaded
    artifacts. A recommendation-serving job in a fresh SparkSession
    reads two index tables — never the embeddings parquet, never the
    corpus max-norm pass.

    Exactness: the oracle is ann_mips_topk's from-scratch DuckDB
    recompute — the hash match proves build -> save -> reload ->
    serve == from-scratch. The driver-side query quantization is the
    same IEEE ops (floor(x/ma*127+0.5)) numpy float64 applies
    bit-identically; probe order reproduces (idot DESC, cell) via a
    stable lexsort on (-idot, cell). Staleness triple-guarded like
    every artifact (format, spec, source fingerprint); both slots are
    registered in rollup_artifact_catalog's expected set.

    Scale: the serve plan's only corpus-sized input is the index
    (cell is the partition/bucket key — each query shuffles only its
    probed cells); the codebook collect is {16} rows. Identical cost
    profile to ann_index_persist's IVF serving."""
    codebook, index = _mips_persisted_artifacts(spark, sf_dir)
    return _mips_serve_from_artifacts(spark, codebook, index)


def _mips_retrain_gate_oracle() -> str:
    """DuckDB twin of ann_mips_retrain_gate's decision row: mean
    recall of the from-scratch MIPS-ANN (what a fresh or healthy
    warehouse serves), integer-floored, thresholded — the
    _retrain_gate_oracle shape over the MIPS recall report."""
    from scribedb_spark.queries import REGISTRY

    rep = REGISTRY["ann_mips_recall_report"].oracle
    return f"""
    WITH rep AS ({rep}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                 SUM(recall_ppm) // COUNT(*) AS mean_ppm
          FROM rep)
    SELECT n_queries,
           CAST(mean_ppm AS BIGINT) AS recall_ppm_measured,
           CAST({_RETRAIN_THRESHOLD_PPM} AS BIGINT) AS threshold_ppm,
           CASE WHEN mean_ppm < {_RETRAIN_THRESHOLD_PPM}
                THEN 'retrain' ELSE 'serve' END AS decision,
           CAST(CASE WHEN mean_ppm < {_RETRAIN_THRESHOLD_PPM}
                THEN 1 ELSE 0 END AS BIGINT) AS n_rebuilds,
           CAST(mean_ppm AS BIGINT) AS recall_ppm_served
    FROM m
    """


@register(
    "ann_mips_retrain_gate",
    oracle=_mips_retrain_gate_oracle(),
    gate=_index_deps("mips_codebook", "mips_index"),
)
def ann_mips_retrain_gate(spark, sf_dir) -> DataFrame:
    """MONITOR -> ACT for the persisted MIPS index — ann_retrain_gate's
    discipline applied to the warehouse slot ann_mips_persist added
    (build -> persist -> serve -> monitor -> THIS): measure recall@{5}
    of the index the WAREHOUSE currently serves against the exact
    inner-product baseline, and when the mean drops below {600000} ppm
    drop mips_codebook + mips_index and rebuild from the canonical
    path, then re-measure. One-row integer decision table, the same
    columns as the IVF gate. Healthy augmented-SQ recall measures
    920000/880000 ppm at sf0.001/sf0.01 (ann_mips_recall_report);
    random cell routing sits near the probe fraction (~250000), so
    the threshold separates cleanly.

    Exactness: a healthy (or absent -> freshly built) warehouse serves
    the oracle-proven from-scratch index, so measured == served == the
    oracle mean with decision 'serve' and zero rebuilds — the fixed
    point the oracle pins. The degraded path (cell-permuted index ->
    exactly one rebuild -> recall restored) is pinned by a unit test.

    Scale: the audit is the bounded 10-query exact pass; the act path
    rewrites only the two MIPS slots, at most once per invocation.
    Decision served via cache.gate_decision (fingerprint: embeddings +
    the two MIPS slots) — see ann_retrain_gate."""
    import shutil

    from scribedb_spark.persist import artifact_path

    def measure() -> tuple[int, int]:
        codebook, index = _mips_persisted_artifacts(spark, sf_dir)
        rep = _mips_recall_for(
            spark,
            sf_dir,
            _mips_serve_from_artifacts(spark, codebook, index).select(
                "q_id", "c_id"
            ),
        )
        row = rep.agg(
            F.sum("recall_ppm").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        return int(row["s"]) // int(row["n"]), int(row["n"])

    measured, n_queries = measure()
    rebuilds = 0
    served = measured
    if measured < _RETRAIN_THRESHOLD_PPM:
        for name in ("mips_codebook", "mips_index"):
            shutil.rmtree(artifact_path(name, sf_dir), ignore_errors=True)
        served, _n = measure()
        rebuilds = 1
    decision = "retrain" if rebuilds else "serve"
    return spark.createDataFrame(
        [
            (
                n_queries,
                measured,
                _RETRAIN_THRESHOLD_PPM,
                decision,
                rebuilds,
                served,
            )
        ],
        "n_queries long, recall_ppm_measured long, threshold_ppm long, "
        "decision string, n_rebuilds long, recall_ppm_served long",
    )


# dedup_semantic_ann's oracle embeds SQ_RANKED_CTES from this module;
# its registration is deferred until this module exists (see
# dedup._register_semantic_ann)
from scribedb_spark.operators.dedup import _register_semantic_ann  # noqa: E402

if "dedup_semantic_ann" not in REGISTRY:
    _register_semantic_ann()
