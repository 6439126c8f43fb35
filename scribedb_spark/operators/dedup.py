"""Deduplication operators for training-data pipelines (north star;
SURVEY.md §2.10 `dedup_exact` / `dedup_near`).

Four families, each a `queries()` key with a DuckDB oracle where the
math is engine-portable (all hashing goes through md5 -> 60-bit int,
the same construction as canonical.fp_unordered, so Spark and DuckDB
agree bit-for-bit):

- exact          content-normalized exact dedup (hash groupBy)
- minhash LSH    shingle -> minhash signature -> banded LSH buckets
- simhash        16-bit simhash + hamming-distance pairs
- ngram jaccard  character-3-gram jaccard verification join
- components     candidate pairs -> near-dup groups (iterative
                 min-label propagation; recursive-CTE oracle)
- incremental    delta-batch vs indexed-corpus classification (the
                 steady-state ingest shape: only signatures of the
                 index move, never its text)
- semantic       SemDeDup-style ledger: embedding-cosine pairs ->
                 connected components -> one survivor per cluster
- bloom          incoming-batch exact dedup where the index corpus
                 compresses to a fixed 128 KB bloom word table
                 (bounded broadcast; exact verify of positives)
- url            canonical-URL dedup (case/port/fragment/tracking
                 normalization, the first pass of a web-crawl
                 pipeline) — map-only + one hash aggregation

Scale design: every operator is explode -> groupBy -> self-join on a
*bucket key* (band signature / simhash / shingle), never an O(n^2)
cross join. At 100 TB the bucket self-joins are the standard LSH
pattern: candidates per bucket are bounded, AQE splits skewed buckets,
and the verification joins run only on candidate pairs. The
brute-force jaccard here restricts pairs to a blocking key (source)
— the un-blocked variant is operators.similarity.join_similarity with
prefix filtering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scribedb_spark.cache import session_cache
from scribedb_spark.queries import corpus_deps, register
from scribedb_spark.sources import table

#: minhash configuration: 16 hash functions in 4 bands of 4.
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def hash60(c: Column) -> Column:
    """60-bit integer hash of a string via md5 — portable (DuckDB:
    CAST('0x'||substr(md5(x),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def tokens_distinct(text: Column) -> Column:
    return F.array_distinct(F.split(text, " "))


def shingles3(text: Column) -> Column:
    """Distinct 3-word shingles. The corpus vocabulary is tiny (~30
    words), so *unigram* sets of long documents are all identical —
    shingling is what makes set similarity discriminative (and is the
    standard LLM-dedup preprocessing: shingle -> minhash -> band)."""
    # zero-width lookahead captures overlapping 3-word windows at each
    # word start — one codegen'd regexp_extract_all beats an
    # interpreted transform(sequence, element_at x3) ~2.5x (verified
    # identical output)
    return F.array_distinct(
        F.regexp_extract_all(text, F.lit(r"(?<= |^)(?=(\S+ \S+ \S+))"), 1)
    )


def min_tokens_filter() -> Column:
    """Guard: callers filter to docs with >= 3 tokens (sequence()
    would run backwards below that; the synthetic corpus has none
    anyway). A function, not a module constant — Columns can't be
    built before a SparkContext exists."""
    return F.size(F.split(F.col("text"), " ")) >= 3

#: DuckDB twin of shingles3 (a FROM-clause fragment producing
#: (doc_id, source, tok) distinct shingle rows). Position bound
#: derived from the corpus' own max token count, not a literal cap
#: (r11 ADVICE — a fixed 5000 would silently truncate long docs).
SQL_SHINGLES = """
      SELECT DISTINCT d.doc_id, d.source,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
      FROM (SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents) d
      CROSS JOIN (SELECT unnest(range(1,
        (SELECT MAX(len(string_split(text, ' '))) FROM documents))) AS i) ix
      WHERE i <= len(w) - 2
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS content_key,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY content_key
    HAVING COUNT(*) > 1
    """,
)
def dedup_exact(spark, sf_dir) -> DataFrame:
    """Exact dedup by normalized content key (sorted distinct token
    set — catches reordered/repeated-word copies, which is what the
    synthetic corpus contains; raw-text md5 would find nothing).
    One hash-groupBy: map-side partial agg, fully scalable."""
    d = table(spark, "documents", sf_dir)
    key = F.md5(F.array_join(F.array_sort(tokens_distinct(F.col("text"))), " "))
    return (
        d.groupBy(key.alias("content_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


#: shared CTE chain: shingles -> 16 minhashes -> banded signatures ->
#: LSH candidate pairs (the oracle twin of dedup_minhash_lsh's plan;
#: dedup_levenshtein reuses it as its candidate generator)
_MINHASH_CTES = f"""
    tok AS ({SQL_SHINGLES}),
    seeds AS (SELECT unnest(range({N_HASHES})) AS seed),
    th AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(tok), 18, 14)) AS BIGINT) AS h2
      FROM tok),
    mh AS (
      SELECT doc_id, seed, MIN(h1 + seed * h2) AS h
      FROM th CROSS JOIN seeds GROUP BY doc_id, seed),
    sig AS (
      SELECT doc_id, seed // {ROWS_PER_BAND} AS band,
             md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY seed)) AS s
      FROM mh GROUP BY doc_id, seed // {ROWS_PER_BAND}),
    lsh_cand AS (
      SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.s = b.s AND a.doc_id < b.doc_id)
"""

_MINHASH_ORACLE = f"""
    WITH {_MINHASH_CTES}
    SELECT doc_id1, doc_id2 FROM lsh_cand
    """


def band_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, band, s) LSH band signatures for a (doc_id, text)
    frame — the shared signature stage of `dedup_minhash_lsh` and
    `dedup_incremental` (its DuckDB twin is the `sig` CTE inside
    `_MINHASH_CTES`).

    Explode to (doc_id, shingle) rows, then derive the 16 hash
    family members by double hashing: ONE md5 per shingle, split
    into two 56-bit halves, h_i = h1 + i*h2 (long arithmetic, no
    overflow: h1 + 15*h2 < 2^60). All codegen on flat rows — a
    transform()-lambda formulation runs interpreted (~7x slower),
    and 16 independent md5s cost ~8x this. The groupBy(min x16) is
    map-side partial, so the only shuffle carries one 16-long row
    per doc.
    """
    sh = d.select("doc_id", F.explode(shingles3(F.col("text"))).alias("tok"))
    full = F.md5(F.col("tok"))
    halves = sh.select(
        "doc_id",
        F.conv(F.substring(full, 1, 14), 16, 10).cast("long").alias("_h1"),
        F.conv(F.substring(full, 18, 14), 16, 10).cast("long").alias("_h2"),
    )
    hashed = halves.select(
        "doc_id",
        *[
            (F.col("_h1") + F.lit(seed) * F.col("_h2")).alias(f"th{seed}")
            for seed in range(N_HASHES)
        ],
    )
    mh = hashed.groupBy("doc_id").agg(
        *[F.min(f"th{seed}").alias(f"h{seed}") for seed in range(N_HASHES)]
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{b * ROWS_PER_BAND + i}").cast("string")
                    for i in range(ROWS_PER_BAND)
                ],
            )
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    sigs = mh.select("doc_id", *band_cols)
    sig = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("s")
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.s").alias("s"))
    return sig


def band_signatures_cached(spark, sf_dir: str) -> DataFrame:
    """The checkpointed (doc_id, band, s) signature table for the
    documents corpus (min-token-filtered), built once per session —
    the persisted-signature-index artifact every LSH consumer reads
    at 100 TB instead of re-mining shingles."""
    def build():
        d = (
            table(spark, "documents", sf_dir)
            .select("doc_id", "text")
            .filter(min_tokens_filter())
        )
        return band_signatures(d).localCheckpoint()

    return session_cache(
        spark,
        ("lsh_sigs", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir) -> DataFrame:
    """Near-dup candidate pairs via MinHash + banded LSH.

    shingle -> 16 minhashes -> 4 band signatures -> pairs sharing any
    band. Plan: one explode (doc x token x seed), one groupBy for
    signatures, one self-join on (band, sig) — the LSH bucket join.
    No cross join anywhere; bucket sizes bound the pair blow-up, and
    at scale the band join is an AQE-skew-handled shuffle join.

    The resulting pair list builds ONCE per session (checkpoint in
    the shared session cache) — it is the artifact every downstream
    dedup/graph key reads, exactly as a production pipeline persists
    it beside the corpus snapshot rather than re-mining pairs per
    consumer.

    r13: the list is BUILT from the rep-level candidate state
    (collapse-before-candidates, see _rep_pair_state) — the band
    self-join runs over representative signatures only and member
    pairs stream out of the expansion join, so the build never hits
    the hot-band-bucket quadratic expansion that OOMed the 256x
    octave's member-level join. The expansion emits each pair exactly
    once (one oriented rep-pair row per member pair), so no .distinct
    is needed; output set is identical (sig(member) == sig(rep)) and
    every consumer oracle (_MINHASH_ORACLE is the naive member-level
    join) keeps hash-proving it. The checkpoint itself stays member-
    grain — but as of r14 only the consumers that genuinely
    enumerate edges read it (the graph keys, the persisted pair
    artifact, the member-grain levenshtein key): components,
    weights, cluster stats, survivor pick, split and the
    recall/retune audits all derive from REP-grain state instead
    (_rep_component_state / candidate_hit_flags) and never touch
    this list. Its SIZE stays linear in true pair volume — the
    graph consumers' own output grain."""
    def build():
        return (
            lsh_rep_pairs(spark, sf_dir)
            .select("doc_id1", "doc_id2")
            .localCheckpoint()
        )

    return session_cache(
        spark,
        ("lsh_pairs", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


@register("dedup_index_persist", oracle=_MINHASH_ORACLE)
def dedup_index_persist(spark, sf_dir) -> DataFrame:
    """The persisted LSH pair index: save the near-dup pair list to
    WAREHOUSE PARQUET once, then serve it from the RELOADED file —
    the cross-session lifecycle step the session cache can't model
    (an index at 100 TB outlives the job that built it; the dedup
    sweep that mined the pairs writes them beside the corpus snapshot
    and every later consumer — survivor pick, components, sampling
    weights — reloads the table, never re-mines shingles).

    persist.persisted_artifact guards staleness three ways (format
    version, band-parameter spec, source-file fingerprint) and ALWAYS
    returns a frame scanning the warehouse parquet, so this key's
    plan is pinned to the artifact FileScan with zero rebuild stages
    (plan-asserted: no documents.parquet scan).

    Exactness: the oracle recomputes the full MinHash/LSH pipeline
    from scratch in DuckDB — the hash match proves
    build -> save -> reload -> serve == from-scratch, i.e. the parquet
    round trip loses nothing (longs survive bit-exact). A fresh
    SparkSession serving the same artifact with ZERO builds is pinned
    by the two-real-sessions subprocess test."""
    return lsh_pairs_artifact(spark, sf_dir).select("doc_id1", "doc_id2")


def lsh_pairs_artifact(spark, sf_dir) -> DataFrame:
    """The warehouse-persisted LSH pair index, building iff absent or
    stale — the build half of dedup_index_persist, shared with the
    warehouse catalog (which must ensure the artifact exists without
    running any serve computation)."""
    from scribedb_spark.persist import persisted_artifact

    return persisted_artifact(
        spark,
        "lsh_pairs",
        sf_dir,
        [f"{sf_dir}/documents.parquet"],
        lambda: dedup_minhash_lsh(spark, sf_dir),
        spec={"n_hashes": N_HASHES, "bands": N_BANDS},
    )


_LSH_STAR_ORACLE = f"""
    WITH {_MINHASH_CTES},
    roots AS (SELECT band, s, MIN(doc_id) AS root FROM sig GROUP BY band, s),
    star AS (
      SELECT DISTINCT r.root AS doc_id1, g.doc_id AS doc_id2
      FROM sig g JOIN roots r ON g.band = r.band AND g.s = r.s
      WHERE g.doc_id <> r.root)
    SELECT doc_id1, doc_id2 FROM star
    """


def lsh_star_pairs(sig: DataFrame) -> DataFrame:
    """Skew-bounded LSH candidate edges: per (band, s) bucket emit the
    STAR (bucket-min doc_id, member) instead of the full clique.

    A boilerplate-heavy corpus puts a large fraction of documents
    into ONE band bucket; the clique self-join of dedup_minhash_lsh
    then emits O(n_bucket^2) pairs — quadratic work and shuffle out
    of a single skewed key. The star emits n_bucket - 1 edges and is
    *exact for grouping*: a bucket's star spans the same connected
    component as its clique, so downstream component-based dedup
    (dedup_components' large/small-star contraction) produces
    identical duplicate groups. Only pairwise-verification flows
    (which re-check each candidate edge anyway) see fewer candidate
    edges per bucket.

    Plan shape: bucket roots via groupBy(band, s).min — map-side
    partial aggregation, so the hot bucket's rows combine locally
    before one tiny record per bucket shuffles; then a 1:n equi-join
    of signatures to roots — linear output, AQE-skew-splittable.
    Nothing in the plan is quadratic in bucket size.
    """
    roots = sig.groupBy("band", "s").agg(F.min("doc_id").alias("root"))
    return (
        sig.join(roots, on=["band", "s"])
        .filter(F.col("doc_id") != F.col("root"))
        .select(
            F.col("root").alias("doc_id1"), F.col("doc_id").alias("doc_id2")
        )
        .distinct()
    )


@register("dedup_lsh_star", oracle=_LSH_STAR_ORACLE)
def dedup_lsh_star(spark, sf_dir) -> DataFrame:
    """MinHash LSH dedup candidates, star-per-bucket emission — the
    100 TB-safe twin of dedup_minhash_lsh (see lsh_star_pairs for why
    hot band buckets make the clique join quadratic and how the star
    bounds it while preserving connected components)."""
    # signatures feed BOTH the roots aggregation and the join probe
    # side: the session-cached checkpoint materializes the
    # scan+shingle+minhash stage once across branches AND consumers
    return lsh_star_pairs(band_signatures_cached(spark, sf_dir))


_INCREMENTAL_ORACLE = f"""
    WITH {_MINHASH_CTES},
    matches AS (
      SELECT i.doc_id, MIN(x.doc_id) AS dup_of
      FROM sig i JOIN sig x ON i.band = x.band AND i.s = x.s
      WHERE i.doc_id % 10 = 0 AND x.doc_id % 10 <> 0
      GROUP BY i.doc_id)
    SELECT d.doc_id, COALESCE(m.dup_of, -1) AS dup_of,
           CAST(m.dup_of IS NOT NULL AS INT) AS is_dup
    FROM documents d LEFT JOIN matches m ON d.doc_id = m.doc_id
    WHERE d.doc_id % 10 = 0
    """


@register("dedup_incremental", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental(spark, sf_dir) -> DataFrame:
    """Incremental corpus dedup: classify an INCOMING batch of
    documents (here docs with doc_id % 10 == 0 stand in for the
    daily delta) against the already-INDEXED corpus (the other 90%)
    — the steady-state shape of a production training pipeline,
    where re-running all-pairs dedup over 100 TB per ingest is not
    an option.

    Each incoming doc gets a verdict: `is_dup` = it shares at least
    one MinHash LSH band signature with some index doc, and `dup_of`
    = the smallest such index doc_id (-1 when novel — no NULL
    numeric cells, the driver's pandas sort degrades them to NaN
    floats). Reference analog: the chunked recheck loop
    (`/root/reference/scribedb/base.py` hash(start, stop)) — only
    what changed is re-verified.

    Scale: the index side contributes ONLY its band-signature table
    (4 short rows per doc — at 100 TB this is a precomputed,
    incrementally-maintained artifact, never the text); the incoming
    side is a bounded delta batch. The (band, s) join strategy is
    left to AQE: in production the delta signature table is far
    under the broadcast threshold, so the index signatures never
    shuffle at all — a forced broadcast hint here would instead pin
    the *test* split (10% of the corpus, which grows with it) as
    build side, the exact anti-pattern round 4 flagged on the
    shingle-frequency joins. Docs under 3 tokens produce no
    shingles, hence no signatures, and classify as novel on both
    engines.
    """
    d = table(spark, "documents", sf_dir).select("doc_id", "text")
    incoming = F.col("doc_id") % 10 == 0
    # the signature pipeline feeds BOTH join sides (incoming + index
    # split): the session-cached checkpoint materializes the
    # scan+shingle+minhash stage once across branches AND consumers
    sig = band_signatures_cached(spark, sf_dir)
    inc_sig = sig.filter(incoming).select(
        F.col("doc_id").alias("inc_id"), "band", "s"
    )
    idx_sig = sig.filter(~incoming).select(
        F.col("doc_id").alias("idx_id"), "band", "s"
    )
    matches = (
        inc_sig.join(idx_sig, on=["band", "s"])
        .groupBy("inc_id")
        .agg(F.min("idx_id").alias("dup_of"))
    )
    base = d.filter(incoming).select("doc_id")
    return base.join(
        matches, base.doc_id == matches.inc_id, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
        F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
    )


_SIMHASH_BITS = 16


def _simhash_pair_ctes() -> str:
    """CTE chain ending in ``smp`` — the member-grain SimHash pair
    list (doc_id1, doc_id2, hamming <= 3): the shared oracle engine of
    ``dedup_simhash`` and the rep-map aggregation of
    ``dedup_simhash_receipts``."""
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS b{k}"
        for k in range(_SIMHASH_BITS)
    )
    bit_join = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(_SIMHASH_BITS)
    )
    return f"""
    tok AS ({SQL_SHINGLES}),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
    bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
    shv AS (SELECT doc_id, {bit_join} AS simhash FROM bits),
    smp AS (
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM shv a JOIN shv b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
    """


def _simhash_sql() -> str:
    return f"""
    WITH {_simhash_pair_ctes()}
    SELECT doc_id1, doc_id2, hamming FROM smp
    """


def simhash_quarters(spark, sf_dir) -> DataFrame:
    """(doc_id, simhash, q, qv): each document's 16-bit SimHash
    signature exploded into its 4 pigeonhole quarters — the blocking
    keys of ``dedup_simhash`` (factored out so the scale smoke can
    count candidate pairs with the same pipeline).

    Shingles explode to flat rows so the md5 and bit tests run
    codegen'd (not interpreted inside array lambdas); per-bit +-1
    sums are map-side partial aggregates — one compact shuffle of 16
    ints/doc."""
    d = (
        table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .filter(min_tokens_filter())
    )
    h = d.select(
        "doc_id", F.explode(shingles3(F.col("text"))).alias("tok")
    ).select("doc_id", hash60(F.col("tok")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), k).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{k}")
        for k in range(_SIMHASH_BITS)
    ]
    bits = h.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for k in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    sh = bits.select("doc_id", simhash.alias("simhash"))
    n_quarters = _SIMHASH_BITS // 4
    return sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("q"),
                        F.shiftright(F.col("simhash"), 4 * k)
                        .bitwiseAND(F.lit(15))
                        .alias("qv"),
                    )
                    for k in range(n_quarters)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.q").alias("q"), F.col("b.qv").alias("qv"))


def _simhash_rep_pairs(spark, sf_dir) -> DataFrame:
    """Session-cached checkpoint of the verified SimHash rep pairs
    (:func:`_simhash_rep_pairs_compute`) — the dedup_minhash_lsh
    pair-index discipline applied to this family: the pair table is
    the build-once artifact, consumers (member expansion, receipts)
    serve from it. deps= ties the entry to the corpus file, so an
    in-session rewrite invalidates it (the gate-honesty rule)."""
    return session_cache(
        spark,
        ("simhash_rep_pairs", sf_dir),
        lambda: _simhash_rep_pairs_compute(spark, sf_dir).localCheckpoint(),
        deps=[f"{sf_dir}/documents.parquet"],
    )


def _simhash_rep_pairs_compute(spark, sf_dir) -> DataFrame:
    """(r1 < r2, hamming <= 3) — the verified SimHash pairs over
    exact-text REPRESENTATIVES only: the pigeonhole quarter-bucket
    join of ``dedup_simhash``, factored so the member-enumerating key
    and the rep-grain receipt key share one candidate/verify stage.
    Base-corpus-sized at any exact-duplication factor."""
    rmap = text_rep_map(spark, sf_dir)
    reps = rmap.select(F.col("rep_id").alias("doc_id")).distinct()
    quarters = simhash_quarters(spark, sf_dir).join(
        reps, "doc_id", "left_semi"
    )
    a = quarters.select(
        F.col("doc_id").alias("r1"), F.col("simhash").alias("sh1"), "q", "qv"
    )
    b = quarters.select(
        F.col("doc_id").alias("r2"), F.col("simhash").alias("sh2"), "q", "qv"
    )
    ham = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).cast("int")
    return (
        a.join(b, ["q", "qv"])
        .filter(F.col("r1") < F.col("r2"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 3)
        # a pair can collide in several quarters: dedup after the
        # cheap hamming filter so distinct() sees only survivors
        .select("r1", "r2", "hamming")
        .distinct()
    )


def _simhash_member_compute(spark, sf_dir) -> DataFrame:
    """dedup_simhash's full BUILD plan (quarter join + verify +
    expansion, no pair cache) — what the plan-shape tests pin."""
    return _simhash_expand(
        text_rep_map(spark, sf_dir), _simhash_rep_pairs_compute(spark, sf_dir)
    )


@register(
    "dedup_simhash",
    oracle=_simhash_sql(),
    build=_simhash_member_compute,
)
def dedup_simhash(spark, sf_dir) -> DataFrame:
    """SimHash near-dup: 16-bit signature (sign of per-bit weight
    sums over token hashes), ALL pairs at hamming distance <= 3.

    Blocking is pigeonhole over the signature itself: hamming <= 3
    across 16 bits means at least one of the 4 disjoint 4-bit
    quarters is IDENTICAL, so candidates = pairs sharing any
    (quarter-index, quarter-value) key — an exact filter with no
    dependence on a metadata column (round 1 blocked on `source`).
    At 100 TB widen the signature (64-bit, 4x16-bit bands -> 65536
    block values per band) so per-block candidate sets stay bounded;
    the construction is identical.

    r14: the quarter-bucket self-join runs over exact-text
    REPRESENTATIVE signatures only (collapse-before-candidates —
    SimHash is a pure function of text, so members collide iff their
    reps do), and verified rep pairs expand to member pairs by two
    rep-map joins plus the within-group cliques at hamming 0. An
    exact-duplicated corpus no longer inflates any quarter bucket
    quadratically (the same hot-bucket fix as the LSH band join);
    the unchanged member-grain oracle hash-proves the collapse.

    r15: the verified rep-pair table comes from the session cache
    (``_simhash_rep_pairs``) — shared with the receipt twin instead of
    re-running the quarter join per invocation."""
    return _simhash_expand(
        text_rep_map(spark, sf_dir), _simhash_rep_pairs(spark, sf_dir)
    )


def _simhash_expand(rmap: DataFrame, rp: DataFrame) -> DataFrame:
    """Member-pair expansion of the verified simhash rep pairs: two
    rep-map joins for cross pairs + the within-group cliques at
    hamming 0 (identical text => identical signature)."""
    m1 = rmap.select(F.col("rep_id").alias("r1"), F.col("doc_id").alias("da"))
    m2 = rmap.select(F.col("rep_id").alias("r2"), F.col("doc_id").alias("db"))
    cross = (
        rp.join(m1, "r1")
        .join(m2, "r2")
        .select(
            F.least("da", "db").alias("doc_id1"),
            F.greatest("da", "db").alias("doc_id2"),
            "hamming",
        )
    )
    s1 = rmap.select("rep_id", F.col("doc_id").alias("da"))
    s2 = rmap.select("rep_id", F.col("doc_id").alias("db"))
    selfp = (
        s1.join(s2, "rep_id")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_id1"),
            F.col("db").alias("doc_id2"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(selfp)


#: the receipts oracle aggregates dedup_simhash's member-grain pair
#: list onto the (md5, length) exact-text rep map — built over ALL
#: documents, which agrees with the Spark side's min-token-filtered
#: map on every pair-participating doc because byte-identical texts
#: share their token count (a rep group is entirely in or out of the
#: shingle stage, so the group min is computed over the same set)
_SIMHASH_RECEIPTS_ORACLE = f"""
    WITH {_simhash_pair_ctes()},
    shr_h AS (SELECT doc_id, md5(text) AS h, len(text) AS hl
              FROM documents),
    shr_q AS (SELECT h, hl, MIN(doc_id) AS rep_id
              FROM shr_h GROUP BY h, hl),
    shr_m AS (SELECT r.doc_id, q.rep_id FROM shr_h r
              JOIN shr_q q ON q.h = r.h AND q.hl = r.hl)
    SELECT LEAST(a.rep_id, b.rep_id) AS rep_id1,
           GREATEST(a.rep_id, b.rep_id) AS rep_id2,
           MAX(p.hamming) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_member_pairs
    FROM smp p
    JOIN shr_m a ON a.doc_id = p.doc_id1
    JOIN shr_m b ON b.doc_id = p.doc_id2
    GROUP BY 1, 2
    """


def _simhash_receipts_compute(spark, sf_dir) -> DataFrame:
    """dedup_simhash_receipts' full BUILD plan (no pair cache) — the
    plan-shape tests' capture target."""
    return _simhash_receipt_rows(
        text_rep_map(spark, sf_dir), _simhash_rep_pairs_compute(spark, sf_dir)
    )


@register(
    "dedup_simhash_receipts",
    oracle=_SIMHASH_RECEIPTS_ORACLE,
    build=_simhash_receipts_compute,
)
def dedup_simhash_receipts(spark, sf_dir) -> DataFrame:
    """dedup_simhash's SCALE output shape: one CLUSTER RECEIPT per
    verified representative pair — (rep_id1, rep_id2, hamming,
    n_member_pairs) — instead of materializing every member pair
    (the levenshtein-receipts discipline, r13). The r15 collapse made
    the quarter-bucket candidate/verify stages rep-corpus-sized, but
    dedup_simhash's OUTPUT still pays the duplication inflation by
    contract (SCALE_SMOKE_r15: its 256x wall is counting a 9.47
    billion-member-pair expansion). The receipt is what a dedup
    ledger actually consumes: which distinct-content pairs are
    near-dups and how many concrete document pairs each verdict
    covers.

    Member counts come from group-size PRODUCTS, never an expansion:
    a cross rep pair (A, B) covers |A| * |B| member pairs (every
    member combination is a distinct unordered pair), and a group of
    n identical texts covers C(n, 2) within-group pairs at hamming 0
    — the rollup_source_overlap counting argument. The oracle
    aggregates the naive member-grain pair list onto a SQL rebuild of
    the rep map, so the driver hash-check proves the product counting
    lossless on every run.

    Scale: every stage is rep-grain or group-count-grain; output =
    verified rep pairs. Nothing in the plan is member-pair-sized at
    any duplication factor. The verified rep-pair table serves from
    the session cache shared with dedup_simhash (r15)."""
    return _simhash_receipt_rows(
        text_rep_map(spark, sf_dir), _simhash_rep_pairs(spark, sf_dir)
    )


def _simhash_receipt_rows(rmap: DataFrame, rp: DataFrame) -> DataFrame:
    """Receipt reduction of the verified simhash rep pairs: member
    counts by group-size products (cross n1*n2, self C(n,2))."""
    gs = rmap.groupBy("rep_id").agg(F.count(F.lit(1)).alias("n"))
    cross = (
        rp.join(
            gs.select(F.col("rep_id").alias("r1"), F.col("n").alias("n1")),
            "r1",
        )
        .join(
            gs.select(F.col("rep_id").alias("r2"), F.col("n").alias("n2")),
            "r2",
        )
        .select(
            F.col("r1").alias("rep_id1"),
            F.col("r2").alias("rep_id2"),
            "hamming",
            (F.col("n1") * F.col("n2")).cast("long").alias("n_member_pairs"),
        )
    )
    selfp = gs.filter(F.col("n") >= 2).select(
        F.col("rep_id").alias("rep_id1"),
        F.col("rep_id").alias("rep_id2"),
        F.lit(0).cast("int").alias("hamming"),
        F.expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").alias("n_member_pairs"),
    )
    return cross.unionByName(selfp)


#: shared CTE chain ending in ``nmp`` — the member-grain char-3-gram
#: jaccard pair list (>= 0.9, same source): the oracle engine of
#: dedup_ngram_jaccard and the rep-map aggregation of
#: dedup_ngram_receipts
_NGRAM_PAIR_CTES = """
    sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 3) AS g
      FROM documents, (SELECT unnest(range(1, 10000)) AS i) ix
      WHERE i <= length(text) - 2),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      JOIN documents da ON da.doc_id = a.doc_id
      JOIN documents db ON db.doc_id = b.doc_id
      WHERE da.source = db.source
      GROUP BY a.doc_id, b.doc_id),
    nmp AS (
      SELECT doc_id1, doc_id2,
             ROUND(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
      FROM pairs
      JOIN sz sa ON sa.doc_id = doc_id1
      JOIN sz sb ON sb.doc_id = doc_id2
      WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.9)
    """

_NGRAM_ORACLE = f"""
    WITH {_NGRAM_PAIR_CTES}
    SELECT doc_id1, doc_id2, jaccard FROM nmp
    """


def _ngram_ppjoin_pairs(
    d: DataFrame, return_candidates: bool = False
) -> DataFrame:
    """(doc_id1, doc_id2, jaccard) — the PPJoin-bounded char-3-gram
    Jaccard pairs (>= 0.9, same source) of a (doc_id, source, text)
    frame: the engine of ``dedup_ngram_jaccard``, factored so the r14
    collapse can run it over source-scoped exact-text REPRESENTATIVES
    only. PPJoin exactness holds for whatever corpus it is given
    (prefix/positional/length bounds are valid under ANY global
    frequency order), so restricting the input to representatives and
    expanding afterwards loses nothing. ``return_candidates`` exposes
    the distinct candidate-pair frame (what the verify stage pays for)
    to the scale smoke's pair probe.

    All-pairs-per-block verification was measured at 145 s at sf0.1
    (622k pairs x interpreted array_intersect); the prefix filter
    (PPJoin bound: a >= 0.9 pair must share a gram among each side's
    |r| - ceil(0.9|r|) + 1 globally-rarest grams) cuts candidates to
    the near-dup clusters before any intersection runs. Exact — no
    false negatives.
    """
    # overlapping char trigrams via zero-width lookahead — codegen'd,
    # measured 5x over the interpreted transform(substr) form
    grams = F.array_distinct(
        F.regexp_extract_all(F.col("text"), F.lit("(?=(.{3}))"), 1)
    )
    # g feeds the size lookups, ex feeds FOUR consumers (freq agg,
    # window input, both verify joins): localCheckpoint each so the
    # scan+regexp+explode runs once, not six times (measured 7.5s ->
    # ~3s at sf0.1; blocks are ContextCleaner-reclaimed, not pinned)
    g = d.select(
        "doc_id", "source", grams.alias("gr"), F.size(grams).alias("n")
    ).localCheckpoint()
    ex = g.select(
        "doc_id", "source", "n", F.explode("gr").alias("gm")
    ).localCheckpoint()
    freq = ex.groupBy("gm").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("tf", "gm")
    # no broadcast hint on freq: char-trigram vocab is small for THIS
    # corpus, but n-gram frequency tables grow with corpus size in
    # general — AQE picks broadcast at test scale and a shuffle join
    # when the vocabulary doesn't fit (same rule as join_similarity)
    prefix = (
        ex.join(freq, "gm")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.col("n") - F.ceil(F.col("n") * F.lit(0.9)) + 1)
        .select("doc_id", "source", "gm", "n", "pos")
        # both sides of the self-join read prefix: localCheckpoint
        # materializes the explode+freq+window pipeline ONCE and —
        # unlike persist() — its blocks are reclaimed by the
        # ContextCleaner when the plan is dropped, so a long-lived
        # session running many keys doesn't accumulate pinned cache
        .localCheckpoint()
    )
    # candidate pruning: shared prefix gram (PPJoin prefix bound) AND
    # compatible set sizes (length bound: t <= |r|/|s| <= 1/t) AND the
    # PPJoin POSITIONAL bound: a gram match at per-doc rarity ranks
    # (pa, pb) caps the achievable overlap at 1 + min(na-pa, nb-pb)
    # (everything before the match in the shared global (tf, gm)
    # order can't intersect past it), which must reach the overlap
    # a >= 0.9 pair needs: alpha = ceil(0.9/1.9 * (na+nb)). The
    # char-gram vocabulary is small (~400) so the prefix alone prunes
    # weakly here — the positional bound is what cuts candidates to
    # near the true pairs (123k -> ~real-pair scale at sf0.1), and
    # keeping ANY-row semantics (a pair survives if any shared gram
    # passes) stays a superset of PPJoin's candidates: exact, no
    # false negatives.
    ubound = F.lit(1) + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    alpha = F.ceil((F.col("a.n") + F.col("b.n")) * F.lit(0.9 / 1.9))
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.gm") == F.col("b.gm"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.ceil(F.col("a.n") * F.lit(0.9)))
            & (F.col("b.n") <= F.floor(F.col("a.n") / F.lit(0.9)))
            & (ubound >= alpha),
        )
        .select(F.col("a.doc_id").alias("doc_id1"), F.col("b.doc_id").alias("doc_id2"))
        .distinct()
    )
    if return_candidates:
        return cand
    # exact verification, fully distributed: count the gram
    # intersection of each candidate pair by joining the pair list
    # back to the EXPLODED gram rows (flat codegen'd shuffle joins —
    # no gram arrays ride the shuffle, no driver-side map; round-1's
    # broadcast {doc_id -> frozenset} dict was a driver-OOM at scale).
    # Joining the gram ARRAYS onto candidates was measured 30s+
    # purely in Arrow serialization; the exploded-count form shuffles
    # only (pair, gram) longs and aggregates map-side.
    exg = ex.select("doc_id", "gm")
    inter = (
        cand.join(exg.withColumnRenamed("doc_id", "doc_id1"), "doc_id1")
        .join(
            exg.select(F.col("doc_id").alias("doc_id2"), "gm"),
            on=["doc_id2", "gm"],
        )
        .groupBy("doc_id1", "doc_id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz = g.select("doc_id", "n")
    raw = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sz.select(F.col("doc_id").alias("doc_id1"), F.col("n").alias("na")), "doc_id1")
        .join(sz.select(F.col("doc_id").alias("doc_id2"), F.col("n").alias("nb")), "doc_id2")
        .filter(raw >= 0.9)
        .select("doc_id1", "doc_id2", F.round(raw, 6).alias("jaccard"))
    )


def _ngram_source_rep_state(d: DataFrame) -> tuple:
    """(rep-restricted docs, (doc_id, srep) map) — the SOURCE-SCOPED
    exact-text rep stage of dedup_ngram_jaccard, factored so the scale
    smoke's candidate probe runs the identical collapse."""
    srh = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.length("text").alias("hl"),
    )
    srq = (
        srh.groupBy("h", "hl", "source")
        .agg(F.min("doc_id").alias("srep"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    srmap = (
        srh.join(srq, ["h", "hl", "source"])
        .select("doc_id", "srep")
        .localCheckpoint()
    )
    reps = srq.select(F.col("srep").alias("doc_id"))
    return d.join(reps, "doc_id", "left_semi"), srmap


def _ngram_docs(spark, sf_dir) -> DataFrame:
    return (
        table(spark, "documents", sf_dir)
        .select("doc_id", "source", "text")
        .filter(F.length("text") >= 3)  # sequence() would run backwards
    )


def _ngram_state_build(spark, sf_dir) -> dict:
    """{'srmap': (doc_id, srep), 'rp': verified rep pairs} — the
    ngram family's build halves, uncached (the plan-shape capture
    target and the cache builder's body)."""
    d_reps, srmap = _ngram_source_rep_state(_ngram_docs(spark, sf_dir))
    return {"srmap": srmap, "rp": _ngram_ppjoin_pairs(d_reps)}


def _ngram_rep_pair_state(spark, sf_dir) -> dict:
    """Session-cached ngram rep state: srmap is checkpointed by its
    own build; the verified rep-pair table checkpoints once here and
    serves every consumer (member expansion, receipts). deps= ties
    the entry to the corpus file (gate-honesty rule)."""
    def build():
        st = _ngram_state_build(spark, sf_dir)
        return {"srmap": st["srmap"], "rp": st["rp"].localCheckpoint()}

    return session_cache(
        spark,
        ("ngram_rep_pairs", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


def _ngram_jaccard_compute(spark, sf_dir) -> DataFrame:
    """dedup_ngram_jaccard's full BUILD plan (PPJoin + verify +
    expansion, no pair cache) — the plan-shape tests' capture
    target."""
    return _ngram_jaccard_expand(_ngram_state_build(spark, sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_ORACLE,
    build=_ngram_jaccard_compute,
)
def dedup_ngram_jaccard(spark, sf_dir) -> DataFrame:
    """Character-3-gram jaccard near-dup pairs (>= 0.9) within a
    source block — PPJoin-bounded candidates, exact verification
    (:func:`_ngram_ppjoin_pairs`).

    r14: the PPJoin runs over SOURCE-SCOPED exact-text
    REPRESENTATIVES — one exemplar per (text, source) group — and the
    verified rep pairs expand to member pairs by two rep-map joins,
    plus the within-group cliques at jaccard 1.0. Exact because the
    gram set is a pure function of text (J(a, b) = J(rep_a, rep_b)),
    the source-equality block is a pure function of the (text,
    source) group, and identical-text pairs score exactly 1.0 >= 0.9
    in the member plan too. Source-scoped (NOT the plain text rep
    map): the pair predicate reads the source column, and members of
    one exact-text group may span sources — the r13 lsh_rep_pairs
    rule that per-pair quantities may collapse but source labels may
    not, satisfied here by folding source INTO the group key. The
    unchanged member-grain oracle hash-proves it per driver run.

    Scale: the quadratic-ish PPJoin candidate/verify stages are now
    rep-corpus-sized at any exact-duplication factor (the r14
    collapse-before-candidates discipline); the expansion joins are
    output-sized — the key's own contract (it emits member pairs).

    r15: the verified rep-pair table serves from the session cache
    (``_ngram_rep_pair_state``), shared with the receipt twin."""
    return _ngram_jaccard_expand(_ngram_rep_pair_state(spark, sf_dir))


def _ngram_jaccard_expand(st: dict) -> DataFrame:
    """Member-pair expansion of the verified ngram rep pairs: two
    rep-map joins for cross pairs + within-group cliques at 1.0."""
    srmap, rp = st["srmap"], st["rp"]
    m1 = srmap.select(
        F.col("srep").alias("doc_id1"), F.col("doc_id").alias("da")
    )
    m2 = srmap.select(
        F.col("srep").alias("doc_id2"), F.col("doc_id").alias("db")
    )
    cross = (
        rp.join(m1, "doc_id1")
        .join(m2, "doc_id2")
        .select(
            F.least("da", "db").alias("doc_id1"),
            F.greatest("da", "db").alias("doc_id2"),
            "jaccard",
        )
    )
    s1 = srmap.select("srep", F.col("doc_id").alias("da"))
    s2 = srmap.select("srep", F.col("doc_id").alias("db"))
    selfp = (
        s1.join(s2, "srep")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_id1"),
            F.col("db").alias("doc_id2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(selfp)


#: the receipts oracle aggregates the member-grain jaccard pair list
#: onto a SQL rebuild of the SOURCE-SCOPED (md5, length, source) rep
#: map — source folded into the group key because the pair predicate
#: reads it (the r13 rule: per-pair quantities may collapse, source
#: labels may not). Same len >= 3 scope as the Spark side; all pair
#: docs satisfy it (a doc under 3 chars yields no 3-grams).
_NGRAM_RECEIPTS_ORACLE = f"""
    WITH {_NGRAM_PAIR_CTES},
    ngr_h AS (SELECT doc_id, source, md5(text) AS h, len(text) AS hl
              FROM documents WHERE len(text) >= 3),
    ngr_q AS (SELECT h, hl, source, MIN(doc_id) AS srep
              FROM ngr_h GROUP BY h, hl, source),
    ngr_m AS (SELECT r.doc_id, q.srep FROM ngr_h r
              JOIN ngr_q q ON q.h = r.h AND q.hl = r.hl
                          AND q.source = r.source)
    SELECT LEAST(a.srep, b.srep) AS rep_id1,
           GREATEST(a.srep, b.srep) AS rep_id2,
           MAX(p.jaccard) AS jaccard,
           CAST(COUNT(*) AS BIGINT) AS n_member_pairs
    FROM nmp p
    JOIN ngr_m a ON a.doc_id = p.doc_id1
    JOIN ngr_m b ON b.doc_id = p.doc_id2
    GROUP BY 1, 2
    """


def _ngram_receipts_compute(spark, sf_dir) -> DataFrame:
    """dedup_ngram_receipts' full BUILD plan (no pair cache) — the
    plan-shape tests' capture target."""
    return _ngram_receipt_rows(_ngram_state_build(spark, sf_dir))


@register(
    "dedup_ngram_receipts",
    oracle=_NGRAM_RECEIPTS_ORACLE,
    build=_ngram_receipts_compute,
)
def dedup_ngram_receipts(spark, sf_dir) -> DataFrame:
    """dedup_ngram_jaccard's SCALE output shape: one CLUSTER RECEIPT
    per verified source-scoped representative pair — (rep_id1,
    rep_id2, jaccard, n_member_pairs) — instead of materializing
    every member pair (the levenshtein/simhash-receipts discipline).
    The r15 collapse made the PPJoin candidate/verify stages
    rep-corpus-sized; this key removes the last member-pair-sized
    stage, the output expansion itself, for consumers that want the
    dedup ledger rather than the enumeration.

    Member counts are group-size PRODUCTS over the source-scoped rep
    map (cross pair: |A| * |B|; within-group: C(n, 2) at jaccard
    1.0) — exact because counting never transfers a per-pair quantity
    across source labels (the labels live INSIDE the group key). The
    oracle aggregates the naive member-grain pair list onto a SQL
    rebuild of the same rep map, so the driver hash-check proves the
    product counting lossless on every run.

    Scale: PPJoin over reps + two metadata-sized groupBys; output =
    verified rep pairs. Nothing is member-pair-sized at any exact
    duplication factor. The verified rep-pair table serves from the
    session cache shared with dedup_ngram_jaccard (r15)."""
    return _ngram_receipt_rows(_ngram_rep_pair_state(spark, sf_dir))


def _ngram_receipt_rows(st: dict) -> DataFrame:
    """Receipt reduction of the verified ngram rep pairs: member
    counts by group-size products (cross n1*n2, self C(n,2))."""
    srmap, rp = st["srmap"], st["rp"]
    gs = srmap.groupBy("srep").agg(F.count(F.lit(1)).alias("n"))
    cross = (
        rp.join(
            gs.select(
                F.col("srep").alias("doc_id1"), F.col("n").alias("n1")
            ),
            "doc_id1",
        )
        .join(
            gs.select(
                F.col("srep").alias("doc_id2"), F.col("n").alias("n2")
            ),
            "doc_id2",
        )
        .select(
            F.col("doc_id1").alias("rep_id1"),
            F.col("doc_id2").alias("rep_id2"),
            "jaccard",
            (F.col("n1") * F.col("n2")).cast("long").alias("n_member_pairs"),
        )
    )
    selfp = gs.filter(F.col("n") >= 2).select(
        F.col("srep").alias("rep_id1"),
        F.col("srep").alias("rep_id2"),
        F.lit(1.0).alias("jaccard"),
        F.expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").alias("n_member_pairs"),
    )
    return cross.unionByName(selfp)


def _embedding_cosine_compute(spark, sf_dir) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.42 over all pairs (exact)
    — the BUILD body (plan-shape capture target and the semantic state
    cache's builder).

    Blocked all-pairs execution, fully distributed: vectors hash into
    B blocks; each of the B(B+1)/2 block PAIRS becomes one
    ``applyInPandas`` group whose numpy kernel matmuls the two blocks
    and emits only (id1 < id2, score >= t) rows. Every vector pair
    lands in exactly one group, so the result is exact — no driver
    ``collect()``, no full-matrix broadcast (round-1 version had both).

    Scale: total compute is inherently O(n^2) for an *exact*
    threshold join; B parallelizes it and bounds task memory to two
    blocks (~2 * BLOCK_TARGET vectors). Shuffle volume is n * B rows.
    For approximate-is-fine pipelines at 100 TB, run ann_lsh_topk /
    ann_ivf_topk (operators/similarity.py) to prefilter candidates
    instead; the expression-based per-pair cosine alternative was
    measured 40x slower (interpreted fold per pair).
    """
    import numpy as np
    import pandas as pd

    e = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    # count() over parquet resolves from footer metadata — one cheap
    # job that sizes the block grid to the data
    n = e.count()
    from scribedb_spark.operators.similarity import guard_exact_pairwise

    guard_exact_pairwise(
        "dedup_embedding_cosine",
        n,
        "dedup_semantic_ann's cell-blocked candidate stage for the pair "
        "list (or vec_knn_graph_ann for per-vector top-k edges)",
    )
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

    def block_pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_id1": pd.Series(dtype="int64"), "vec_id2": pd.Series(dtype="int64")}
        )
        if not len(pdf):
            return empty
        pi, pj = int(pdf["pi"].iloc[0]), int(pdf["pj"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        if pi == pj:
            S = Vn @ Vn.T
            bi, bj = np.where(S >= 0.42)
            keep = ids[bi] < ids[bj]
            return pd.DataFrame({"vec_id1": ids[bi][keep], "vec_id2": ids[bj][keep]})
        left = (pdf["blk"] == pi).to_numpy()
        if not left.any() or left.all():
            return empty
        lid, rid = ids[left], ids[~left]
        S = Vn[left] @ Vn[~left].T
        bi, bj = np.where(S >= 0.42)
        a, b = lid[bi], rid[bj]
        return pd.DataFrame(
            {"vec_id1": np.minimum(a, b), "vec_id2": np.maximum(a, b)}
        )

    return replicated.groupBy("pi", "pj").applyInPandas(
        block_pair_kernel, schema="vec_id1 long, vec_id2 long"
    )


def _semantic_state(spark, sf_dir) -> dict:
    """Session-cached {'pairs', 'comp'} checkpoints of the exact
    cosine pair kernel and its component labels. deps= ties the entry
    to the embeddings file (gate-honesty rule: an in-session rewrite
    forces the kernel and the star rounds to re-run).

    The exact-pairwise guard is re-checked on EVERY call — warm or
    cold — so the corpus-scale refusal contract (point the caller at
    the _ann twin above $SPARK_GRAFT_EXACT_PAIRWISE_MAX) cannot be
    bypassed by a warm cache; the count resolves from parquet footer
    metadata, one cheap job."""
    from scribedb_spark.operators.similarity import guard_exact_pairwise

    guard_exact_pairwise(
        "dedup_embedding_cosine",
        table(spark, "embeddings", sf_dir).count(),
        "dedup_semantic_ann's cell-blocked candidate stage for the pair "
        "list (or vec_knn_graph_ann for per-vector top-k edges)",
    )

    def build():
        pairs = _embedding_cosine_compute(spark, sf_dir).localCheckpoint()
        comp = connected_components(
            pairs, id1="vec_id1", id2="vec_id2", out_id="vec_id"
        ).localCheckpoint()
        return {"pairs": pairs, "comp": comp}

    return session_cache(
        spark,
        ("semantic_state", sf_dir),
        build,
        deps=[f"{sf_dir}/embeddings.parquet"],
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
    SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.42
    """,
    build=_embedding_cosine_compute,
)
def dedup_embedding_cosine(spark, sf_dir) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.42 over all pairs
    (exact), served from the session-cached semantic state — see
    :func:`_embedding_cosine_compute` for the blocked-kernel build
    this key shares with ``dedup_semantic_clusters``."""
    return _semantic_state(spark, sf_dir)["pairs"]


_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
              UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id
    )
    SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id
    """


def connected_components(
    pairs: DataFrame,
    id1: str = "doc_id1",
    id2: str = "doc_id2",
    out_id: str = "doc_id",
) -> DataFrame:
    """Distributed connected components over an undirected edge list
    — the shared grouping engine behind ``dedup_components`` (minhash
    pair graph) and ``dedup_semantic_clusters`` (embedding-cosine
    pair graph). Returns (out_id, component) for every node that
    appears in an edge; component = min reachable node id.

    Two phases. (1) Partition-local contraction: each task runs a
    min-root union-find over its slice of the edge list (mapInPandas,
    no shuffle) and emits its star forest — connectivity-equivalent,
    at most one edge per local node, every edge already pointing at a
    local minimum. (2) Alternating large-star / small-star rounds
    (the MapReduce-CC algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) stitch the
    partition forests globally: O(log^2 n) rounds proven, and after
    contraction typically 2-3 — each distributed round is a groupBy +
    join, so halving rounds halves shuffles. Plain min-label
    propagation needs O(diameter) rounds and its long-chain tail was
    measured 10x slower on the sf0.1 graph. Converged state is a star
    forest: every node points directly at its component min.
    ``localCheckpoint`` truncates lineage between rounds; fixpoint =
    unchanged (checksum, count) of the edge set.
    """
    pairs = pairs.select(
        F.col(id1).alias("doc_id1"), F.col(id2).alias("doc_id2")
    )

    def contract(batches):
        import pandas as pd

        # union-find with path compression; roots are component minima
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

    e = (
        pairs.mapInPandas(contract, schema="u long, v long")
        .localCheckpoint()  # the pair computation runs once
    )

    def star_min(sym):
        # m(u) = min(neighborhood(u) incl u); u is the group key so
        # first(u) is exact
        return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    def is_star_forest(e):
        # Exact convergence test: every edge already has v < u, so e
        # is the final answer iff (a) no node has two parents and
        # (b) no edge target is itself re-pointed (no u->v->w chain).
        # Two limit-1 probes on a tiny edge set — far cheaper than
        # running a confirming star round to see the checksum repeat.
        multi = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
        )
        chain = e.alias("a").join(
            e.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi"
        )
        return multi.isEmpty() and chain.isEmpty()

    converged = False
    for _ in range(31):  # proven O(log^2 n); observed 0-7 after contraction
        if is_star_forest(e):
            converged = True
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
        sym2 = large.unionAll(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
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
    if not converged:
        # partially merged components are silently WRONG groups —
        # never hand them back as if final
        raise RuntimeError(
            "dedup_components: large/small-star did not reach its edge-set "
            "fixpoint within 30 rounds (O(log^2 n) bound implies a bug or "
            "pathological graph); refusing to return partial components"
        )
    comp = e.select(F.col("u").alias(out_id), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias(out_id)).subtract(
        e.select(F.col("u").alias(out_id))
    )
    return comp.unionAll(roots.withColumn("component", F.col(out_id)))


@register("dedup_components", oracle=_COMPONENTS_ORACLE)
def dedup_components(spark, sf_dir) -> DataFrame:
    """Connected components over the minhash candidate-pair graph:
    near-dup PAIRS become near-dup GROUPS (component = min doc_id
    reachable), the form a dedup pipeline actually consumes — keep
    one doc per component, drop the rest. The grouping engine
    (partition-local union-find contraction + large-star/small-star
    rounds) is `connected_components` above, run at REPRESENTATIVE
    grain and expanded to members by one rep-map join (see
    _rep_component_state — exact because exact-text members are
    pairwise LSH-connected and rep_id is the group min); the DuckDB
    twin is a recursive CTE over the naive MEMBER pair edges, so the
    driver hash-check proves the collapse on every run.
    """
    return member_components(spark, sf_dir)


_DEDUP_WEIGHTS_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
              UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
    sz AS (SELECT component, COUNT(*) AS n FROM comp GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS cluster,
           CAST(COALESCE(s.n, 1) AS BIGINT) AS cluster_size,
           1000000 // COALESCE(s.n, 1) AS weight_ppm
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    LEFT JOIN sz s ON s.component = c.component
    """


@register("sample_dedup_weights", oracle=_DEDUP_WEIGHTS_ORACLE)
def sample_dedup_weights(spark, sf_dir) -> DataFrame:
    """Soft-dedup reweighting: instead of DROPPING near-duplicates,
    give every document the weight 1/|its near-dup cluster| so each
    duplicated piece of content contributes exactly one document's
    worth of gradient — the "count-deduplication" alternative the
    data-mixture literature prefers when hard dedup would throw away
    naturally popular text. Clusters come from the shared MinHash-LSH
    candidate graph + connected components (the dedup_components
    stage); singletons keep weight 1. Weights emit as integer ppm
    (1000000 div size) — exact in every engine, and directly usable
    as sampling numerators.

    Scale: components and sizes come from the REP-grain state
    (_rep_component_state — member pairs never enumerate; sizes are
    group-count sums, not member-row counts); the only corpus-sized
    stages are the rep-map expansion join and the final id-keyed left
    join of the documents id column — ids only, never text."""
    comp = member_components(spark, sf_dir)
    sz = _rep_component_state(spark, sf_dir)["rsize"].withColumnRenamed(
        "cluster_size", "n"
    )
    d = table(spark, "documents", sf_dir).select("doc_id")
    out = (
        d.join(comp, "doc_id", "left")
        .join(sz, "component", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
            F.coalesce(F.col("n"), F.lit(1)).cast("long").alias("cluster_size"),
            F.expr("1000000L div coalesce(n, 1L)").alias("weight_ppm"),
        )
    )
    return out


_SEMANTIC_ORACLE = """
    WITH RECURSIVE
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= 0.42),
    edges AS (SELECT id1 AS a, id2 AS b FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e2.a, w.lbl FROM edges e2 JOIN walk w ON e2.b = w.id
    ),
    comp AS (SELECT id, MIN(lbl) AS c FROM walk GROUP BY id)
    SELECT em.vec_id,
           COALESCE(comp.c, em.vec_id) AS cluster,
           CAST(COALESCE(comp.c, em.vec_id) = em.vec_id AS INT) AS keep
    FROM embeddings em LEFT JOIN comp ON em.vec_id = comp.id
    """


def _semantic_clusters_compute(spark, sf_dir) -> DataFrame:
    """dedup_semantic_clusters' full BUILD plan (no state cache) —
    the plan-shape tests' capture target."""
    pairs = _embedding_cosine_compute(spark, sf_dir)
    comp = connected_components(
        pairs, id1="vec_id1", id2="vec_id2", out_id="vec_id"
    )
    return _semantic_ledger(spark, sf_dir, comp)


@register(
    "dedup_semantic_clusters",
    oracle=_SEMANTIC_ORACLE,
    build=_semantic_clusters_compute,
)
def dedup_semantic_clusters(spark, sf_dir) -> DataFrame:
    """SemDeDup-style semantic dedup ledger: embedding-cosine
    near-dup PAIRS (exact threshold 0.42, the blocked all-pairs
    kernel of ``dedup_embedding_cosine``) grouped into CLUSTERS via
    ``connected_components``, then every vector gets a keep/drop
    verdict — keep exactly the minimum id of each cluster, and every
    singleton. This is the end-to-end form semantic dedup ships in
    (Abbas et al., SemDeDup): pairs -> groups -> one survivor per
    group.

    Scale: pair generation is the block-pair applyInPandas kernel
    (task memory bounded, shuffle n*B rows); components run on the
    pair graph only (near-dup-bounded, not corpus-bounded); the
    final verdict is one left join of the corpus id column against
    the component table — at 100 TB the only corpus-sized stage, and
    it carries ids, never embeddings. At that scale use
    ``dedup_semantic_ann`` — the shipped twin of this key on IVF-SQ
    cell-blocked candidates (~0.91 pair recall, faster already at
    sf0.1); this exact kernel remains the oracle/recall baseline —
    do not run it on full corpora: the underlying pair kernel
    refuses above $SPARK_GRAFT_EXACT_PAIRWISE_MAX vectors (see
    ``similarity.guard_exact_pairwise``).
    """
    comp = _semantic_state(spark, sf_dir)["comp"]
    return _semantic_ledger(spark, sf_dir, comp)


def _semantic_ledger(spark, sf_dir, comp: DataFrame) -> DataFrame:
    """(vec_id, cluster, keep) from any (vec_id, component) table —
    the id-only final join both semantic ledgers share."""
    ids = table(spark, "embeddings", sf_dir).select("vec_id")
    cluster = F.coalesce(F.col("component"), F.col("vec_id"))
    return ids.join(comp, "vec_id", "left").select(
        "vec_id",
        cluster.alias("cluster"),
        (cluster == F.col("vec_id")).cast("int").alias("keep"),
    )


#: cell-blocked semantic-dedup CTE chain through `comp` (component
#: labels). Prepend `WITH RECURSIVE {SQ_RANKED_CTES},` — shared by
#: dedup_semantic_ann's ledger and pipeline_semantic's composition.
_SEMANTIC_ANN_CTES = """
    asg AS (SELECT vec_id, cell FROM ranked WHERE rn <= {breadth}),
    cellpairs AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT p.id1, p.id2 FROM cellpairs p
      JOIN v va ON va.vec_id = p.id1
      JOIN v vb ON vb.vec_id = p.id2
      WHERE list_cosine_similarity(va.e, vb.e) >= 0.42),
    edges AS (SELECT id1 AS a, id2 AS b FROM pairs
              UNION ALL SELECT id2, id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e2.a, w.lbl FROM edges e2 JOIN walk w ON e2.b = w.id
    ),
    comp AS (SELECT id, MIN(lbl) AS c FROM walk GROUP BY id)
"""


def semantic_ann_ctes() -> str:
    """`WITH RECURSIVE <...>` CTE prefix ending at `comp` for oracle
    composition (resolves similarity.py's shared quantizer CTEs)."""
    from scribedb_spark.operators.similarity import SQ_RANKED_CTES, _SQ_ASSIGN_A

    return (
        "WITH RECURSIVE\n    "
        + SQ_RANKED_CTES
        + ",\n"
        + _SEMANTIC_ANN_CTES.format(breadth=_SQ_ASSIGN_A)
    )


def _semantic_ann_oracle() -> str:
    return (
        semantic_ann_ctes()
        + """
    SELECT em.vec_id,
           COALESCE(comp.c, em.vec_id) AS cluster,
           CAST(COALESCE(comp.c, em.vec_id) = em.vec_id AS INT) AS keep
    FROM embeddings em LEFT JOIN comp ON em.vec_id = comp.id
    """
    )


def _semantic_ann_comp_compute(spark, sf_dir) -> DataFrame:
    """(vec_id, component) labels of the IVF-SQ cell-blocked cosine
    pair graph — the ANN ledger's BUILD body (cache builder and plan
    capture target)."""
    import numpy as np
    import pandas as pd

    from scribedb_spark.functions.vector import to_double_array
    from scribedb_spark.operators.similarity import (
        scaled_cells,
        sq_assign_cells,
    )

    e = table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    # corpus-scaled cell count (bounded scalar count, one O(1) job)
    cells = scaled_cells(e.count())
    asg = sq_assign_cells(v, cells).select("cell", "vec_id", "e")

    def cell_pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id1": pd.Series(dtype="int64"),
                "id2": pd.Series(dtype="int64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        S = Vn @ Vn.T
        bi, bj = np.where(S >= 0.42)
        keep = ids[bi] < ids[bj]
        return pd.DataFrame({"id1": ids[bi][keep], "id2": ids[bj][keep]})

    pairs = (
        asg.groupBy("cell")
        .applyInPandas(cell_pair_kernel, schema="id1 long, id2 long")
        .distinct()
    )
    return connected_components(pairs, id1="id1", id2="id2", out_id="vec_id")


def _semantic_ann_comp(spark, sf_dir) -> DataFrame:
    """Session-cached checkpoint of the ANN component labels —
    deps= ties the entry to the embeddings file."""
    return session_cache(
        spark,
        ("semantic_ann_comp", sf_dir),
        lambda: _semantic_ann_comp_compute(spark, sf_dir).localCheckpoint(),
        deps=[f"{sf_dir}/embeddings.parquet"],
    )


def _semantic_ann_compute(spark, sf_dir) -> DataFrame:
    """dedup_semantic_ann's full BUILD plan (no state cache) — the
    plan-shape tests' capture target."""
    return _semantic_ledger(spark, sf_dir, _semantic_ann_comp_compute(spark, sf_dir))


def _register_semantic_ann():
    """Deferred registration: the oracle embeds similarity.py's shared
    IVF-SQ CTEs, and dedup.py loads before similarity.py in
    load_extensions — resolve at import completion instead."""

    @register(
        "dedup_semantic_ann",
        oracle=_semantic_ann_oracle(),
        build=_semantic_ann_compute,
    )
    def dedup_semantic_ann(spark, sf_dir) -> DataFrame:
        """SemDeDup ledger with ANN candidate generation — the 100 TB
        twin of ``dedup_semantic_clusters``: candidates come from
        IVF-SQ cell co-residence (each vector in its top-{A} of
        scaled_cells(n) seeded cells) instead of the exact O(n^2)
        blocked kernel; within each cell ONE numpy matmul (the same
        vectorized kernel discipline as dedup_embedding_cosine, the
        proven numpy/DuckDB agreement baseline) emits the pairs with
        cosine >= 0.42; components + keep-ledger stages are
        identical. Same output schema (vec_id, cluster, keep), so
        recall against the exact ledger is directly measurable
        (tests/test_similarity.py).

        Scale: compute is sum(cell_size^2) matmuls, not n^2 — with
        scaled_cells keeping cells ~sqrt(n) that is ~A^2 * n^1.5;
        this is the SemDeDup paper's actual recipe (cluster, then
        dedup within clusters). The only wide shuffle is the
        (cell, id, embedding) replication, n*A rows; components run
        on the verified pair graph; the corpus-sized final join
        carries ids only (plan-asserted, like the exact twin). The
        component labels serve from the session cache (r15) —
        :func:`_semantic_ann_comp_compute` is the build body."""
        return _semantic_ledger(spark, sf_dir, _semantic_ann_comp(spark, sf_dir))


def _lev_member_compute(spark, sf_dir) -> DataFrame:
    """dedup_levenshtein's full BUILD plan (distance DP + expansion,
    no distance cache) — the plan-shape tests' capture target."""
    pm = lsh_rep_pairs(spark, sf_dir)
    dist = _rep_head_distances_compute(spark, sf_dir)
    return pm.join(dist, ["r1", "r2"]).select(
        "doc_id1", "doc_id2", "edit_dist"
    )


@register(
    "dedup_levenshtein",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT c.doc_id1, c.doc_id2,
           levenshtein(substr(da.text, 1, 150), substr(db.text, 1, 150))
             AS edit_dist
    FROM lsh_cand c
    JOIN documents da ON da.doc_id = c.doc_id1
    JOIN documents db ON db.doc_id = c.doc_id2
    WHERE levenshtein(substr(da.text, 1, 150), substr(db.text, 1, 150)) <= 60
    """,
    build=_lev_member_compute,
)
def dedup_levenshtein(spark, sf_dir) -> DataFrame:
    """Edit-distance near-dup verification over LSH candidate pairs:
    dedup_minhash_lsh proposes (similarity-bounded — pair count tracks
    true near-dups, not any metadata block's size), then levenshtein
    over a 150-char prefix verifies (both engines use unit edit costs,
    so distances are identical integers). Earlier rounds blocked on
    the `source` column — the one remaining operator whose pair count
    wasn't similarity-bounded; at 100 TB a hot block would have made
    it quadratic. The prefix cap is the standard record-linkage trick
    (compare the discriminative head, not the whole document) and
    bounds the O(len^2) DP per pair.

    Plan: the LSH candidate plan (explode -> minhash agg -> band
    self-join) + two doc_id equi-joins back to the 150-char heads —
    AQE sizes those (candidates are few; heads are corpus-sized), then
    a map-side levenshtein filter. No full-corpus self-join anywhere.

    r12: the O(len^2) DP runs once per EXACT-TEXT REPRESENTATIVE pair
    (lsh_rep_pairs — edit distance is a pure function of the two
    texts, so member pairs inherit the rep pair's distance verbatim;
    the filter transfers with it). An N-fold exact-duplicated corpus
    inflates candidate pairs ~N^2 but the DP volume stays base-sized;
    the transfer back is one hash join of the pair list against the
    <=1-row-per-rep-pair distance table. The DuckDB oracle is the
    naive per-pair recompute, so the driver hash-check proves the
    collapse lossless on every run.

    r15: the rep-pair distance table serves from the session cache
    (``_rep_head_distances``), shared with the receipt twin."""
    pm = lsh_rep_pairs(spark, sf_dir)
    dist = _rep_head_distances(spark, sf_dir)
    return pm.join(dist, ["r1", "r2"]).select(
        "doc_id1", "doc_id2", "edit_dist"
    )


def _rep_head_distances(spark, sf_dir) -> DataFrame:
    """Session-cached checkpoint of the rep-pair head distances
    (:func:`_rep_head_distances_compute`) — build-once like the LSH
    pair index; deps= ties the entry to the corpus file."""
    return session_cache(
        spark,
        ("lev_head_dists", sf_dir),
        lambda: _rep_head_distances_compute(spark, sf_dir).localCheckpoint(),
        deps=[f"{sf_dir}/documents.parquet"],
    )


def _rep_head_distances_compute(spark, sf_dir) -> DataFrame:
    """(r1, r2, edit_dist <= 60) — ONE 150-char-prefix levenshtein per
    oriented representative pair (the DP volume both levenshtein keys
    pay; member fanout never reaches it)."""
    heads = table(spark, "documents", sf_dir).select(
        "doc_id", F.substring("text", 1, 150).alias("head")
    )
    rp = oriented_rep_pairs(spark, sf_dir)
    return (
        rp.join(
            heads.select(
                F.col("doc_id").alias("r1"), F.col("head").alias("h1")
            ),
            "r1",
        )
        .join(
            heads.select(
                F.col("doc_id").alias("r2"), F.col("head").alias("h2")
            ),
            "r2",
        )
        .select(
            "r1", "r2", F.levenshtein("h1", "h2").alias("edit_dist")
        )
        .filter(F.col("edit_dist") <= 60)
    )


#: the receipts oracle needs the rep mapping IN SQL: a (md5, length)
#: rep map over all documents (pair docs' reps agree with the Spark
#: side's min-token-filtered map because byte-identical texts share
#: their token count), the pair list with reps attached, the per-rep
#: distance filter, then the member-pair count per surviving rep pair
_LEV_RECEIPTS_ORACLE = f"""
    WITH {_MINHASH_CTES},
    lrh AS (SELECT doc_id, md5(text) AS h, len(text) AS hl
            FROM documents),
    lrq AS (SELECT h, hl, MIN(doc_id) AS rep_id FROM lrh GROUP BY h, hl),
    lrmap AS (SELECT r.doc_id, q.rep_id FROM lrh r
              JOIN lrq q ON q.h = r.h AND q.hl = r.hl),
    lpm AS (
      SELECT c.doc_id1, c.doc_id2,
             COALESCE(a.rep_id, c.doc_id1) AS r1,
             COALESCE(b.rep_id, c.doc_id2) AS r2
      FROM lsh_cand c
      LEFT JOIN lrmap a ON a.doc_id = c.doc_id1
      LEFT JOIN lrmap b ON b.doc_id = c.doc_id2),
    ldist AS (
      SELECT rp.r1, rp.r2,
             levenshtein(substr(da.text, 1, 150), substr(db.text, 1, 150))
               AS edit_dist
      FROM (SELECT DISTINCT r1, r2 FROM lpm) rp
      JOIN documents da ON da.doc_id = rp.r1
      JOIN documents db ON db.doc_id = rp.r2
      WHERE levenshtein(substr(da.text, 1, 150), substr(db.text, 1, 150))
            <= 60)
    SELECT p.r1 AS rep_id1, p.r2 AS rep_id2, d.edit_dist,
           CAST(COUNT(*) AS BIGINT) AS n_member_pairs
    FROM lpm p JOIN ldist d ON d.r1 = p.r1 AND d.r2 = p.r2
    GROUP BY p.r1, p.r2, d.edit_dist
    """


def _lev_receipts_compute(spark, sf_dir) -> DataFrame:
    """dedup_levenshtein_receipts' full BUILD plan (no distance
    cache) — the plan-shape tests' capture target."""
    pm = lsh_rep_pairs(spark, sf_dir)
    dist = _rep_head_distances_compute(spark, sf_dir)
    cnt = pm.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("n_member_pairs")
    )
    return dist.join(cnt, ["r1", "r2"]).select(
        F.col("r1").alias("rep_id1"),
        F.col("r2").alias("rep_id2"),
        "edit_dist",
        "n_member_pairs",
    )


@register(
    "dedup_levenshtein_receipts",
    oracle=_LEV_RECEIPTS_ORACLE,
    build=_lev_receipts_compute,
)
def dedup_levenshtein_receipts(spark, sf_dir) -> DataFrame:
    """dedup_levenshtein's SCALE output shape: one CLUSTER RECEIPT per
    verified representative pair — (rep_id1, rep_id2, edit_dist,
    n_member_pairs) — instead of materializing every member pair.
    The r12 collapse already made the DP volume rep-sized, but the
    member-pair OUTPUT still paid the duplication inflation (64x
    octave: 11.2M output rows, 415 s wall, 97% of it the fanout join
    + write of rows a downstream dedup ledger immediately
    re-aggregates). The receipt is the aggregate a ledger actually
    wants: which distinct-content pairs are near-dups and how many
    concrete document pairs each verdict covers — member enumeration
    stays available as dedup_levenshtein when a consumer genuinely
    needs it.

    Exactness: the oracle rebuilds the same rep map in SQL ((md5,
    length) grouping, COALESCE for unmapped docs) and counts member
    pairs per surviving rep pair — integer counts and unit-cost
    levenshtein on both engines.

    Scale: DP volume = distinct rep pairs (base-corpus-sized under
    N-fold duplication); output = verified rep pairs; the only
    member-pair-sized stage is the groupBy COUNT, which partial-
    aggregates map-side to rep grain before its shuffle — an N-fold
    duplicated corpus shuffles ~rep-pair rows, not N^2 member rows."""
    pm = lsh_rep_pairs(spark, sf_dir)
    dist = _rep_head_distances(spark, sf_dir)
    cnt = pm.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("n_member_pairs")
    )
    return dist.join(cnt, ["r1", "r2"]).select(
        F.col("r1").alias("rep_id1"),
        F.col("r2").alias("rep_id2"),
        "edit_dist",
        "n_member_pairs",
    )


_SURVIVOR_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
              UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
    m AS (SELECT c.doc_id, c.component, d.n_chars
          FROM comp c JOIN documents d ON c.doc_id = d.doc_id),
    r AS (SELECT component, doc_id AS survivor_id,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM m)
    SELECT m.doc_id, m.component, r.survivor_id,
           CAST(m.doc_id = r.survivor_id AS INT) AS keep
    FROM m JOIN r ON m.component = r.component AND r.rn = 1
    """


@register("dedup_survivor_pick", oracle=_SURVIVOR_ORACLE)
def dedup_survivor_pick(spark, sf_dir) -> DataFrame:
    """Survivor selection over near-dup groups: the step between
    "grouped" and "deduplicated". Where dedup_components /
    dedup_semantic_clusters keep the MIN-ID member (arbitrary but
    cheap), real curation keeps the BEST member — here the longest
    document (max n_chars, min doc_id on ties), the common
    keep-the-most-complete-copy policy; swapping in
    text_quality_score as the ranking column is the same plan.

    Scale: components come from the REP-grain state (never a member
    pair enumeration — see _rep_component_state); the ranking join
    adds one per-doc metadata column, and the survivor pick is an
    AGG-based lexicographic min-struct over (-n_chars, doc_id) —
    identical to the row_number(ORDER BY n_chars DESC, doc_id) pick
    but with map-side partial aggregation, so a megadup component's
    members combine locally instead of funneling through one sort
    window partition (the substring family's pick discipline).
    Output is the dedup ledger: every grouped doc with its
    component, its group's survivor, and a keep/drop verdict."""
    comp = member_components(spark, sf_dir)
    d = table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    m = comp.join(d, "doc_id")
    r = (
        m.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("neg_chars"),
                    F.col("doc_id").alias("d"),
                )
            ).alias("b")
        )
        .select("component", F.col("b.d").alias("survivor_id"))
    )
    return m.join(r, "component").select(
        "doc_id",
        "component",
        "survivor_id",
        (F.col("doc_id") == F.col("survivor_id")).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# bloom-prefiltered incremental exact dedup — the fixed-size-state path
# ---------------------------------------------------------------------------

#: bloom geometry: 2^20 bits as 2^14 64-bit words, 3 probes per key.
#: The WORD TABLE is the bloom filter — 16384 (word_idx, mask) rows,
#: ~128 KB serialized, a constant regardless of corpus size.
_BLOOM_BITS = 1 << 20
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3


def _bloom_positions(ck: Column) -> Column:
    """K probe bit-positions for a content-key string, by standard
    double hashing (pos_i = h1 + i*h2 mod m): h1/h2 are disjoint
    56-bit md5 slices — the same split _MINHASH_CTES uses, portable
    to any engine with md5."""
    h1 = F.conv(F.substring(F.md5(ck), 1, 14), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(ck), 18, 14), 16, 10).cast("long")
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(_BLOOM_BITS)) for i in range(_BLOOM_K)]
    )


@register(
    "dedup_bloom_prefilter",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS ck
      FROM documents),
    b AS (SELECT * FROM keyed WHERE doc_id % 10 = 0),
    i AS (SELECT * FROM keyed WHERE doc_id % 10 <> 0),
    m AS (SELECT b.doc_id, MIN(i.doc_id) AS dup_of
          FROM b JOIN i ON b.ck = i.ck GROUP BY b.doc_id)
    SELECT b.doc_id,
           COALESCE(m.dup_of, -1) AS dup_of,
           CASE WHEN m.dup_of IS NULL THEN 0 ELSE 1 END AS is_dup
    FROM b LEFT JOIN m ON b.doc_id = m.doc_id
    """,
)
def dedup_bloom_prefilter(spark, sf_dir) -> DataFrame:
    """Incoming-batch exact dedup against an indexed corpus with a
    BLOOM prefilter built entirely from built-in aggregations — the
    fixed-size-state sibling of dedup_incremental (which moves the
    index's LSH signature table, O(index) rows; here the index side
    compresses to a 128 KB bitmap no matter how big it is).

    Build: every index doc contributes K=3 bit positions (double
    hashing over md5 slices of the dedup_exact content key);
    ``groupBy(pos div 64).agg(bit_or(1 << pos%64))`` folds them into
    a <=16384-row (word_idx, mask) table — THE bloom filter as a
    DataFrame, built map-side-partial with no driver state and no
    Python. Probe: incoming positions broadcast-join that table
    (forced broadcast is CORRECT here, unlike a shingle-frequency
    table: the word table is bounded by construction at 2^14 rows),
    keep docs whose 3 probes all hit -> candidates. Verify: exact
    semi-grain join of candidates to the index on the full content
    key — bloom false positives die here, false negatives cannot
    exist, so the result is EXACT and the oracle is plain SQL with
    no bloom at all.

    Scale: only bloom-positive incoming rows (true dups + ~0.1% FP
    at this geometry) reach the verify shuffle; the index's text
    never moves — its keyed projection streams once through the
    word-table aggregation, and the verify join touches only the
    candidate key set. Reference analog: chunked recheck
    (/root/reference/scribedb/base.py hash(start, stop)) — re-verify
    only what a cheap signal flags."""
    d = table(spark, "documents", sf_dir)
    keyed = d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(tokens_distinct(F.col("text"))), " ")
        ).alias("ck"),
    )
    incoming = F.col("doc_id") % 10 == 0
    batch = keyed.filter(incoming)
    index = keyed.filter(~incoming).localCheckpoint()

    pos = index.select(F.explode(_bloom_positions(F.col("ck"))).alias("pos"))
    # shiftleft/shiftright take a Column shift only through the SQL
    # surface (the Python wrappers require a literal int)
    words = pos.groupBy(F.expr("pos div 64").alias("w")).agg(
        F.bit_or(F.expr("shiftleft(1L, cast(pos % 64 as int))")).alias("mask")
    )

    probes = batch.select(
        "doc_id", "ck", F.explode(_bloom_positions(F.col("ck"))).alias("pos")
    )
    hits = (
        probes.join(F.broadcast(words), F.expr("pos div 64") == F.col("w"))
        .filter(F.expr("shiftright(mask, cast(pos % 64 as int)) % 2 != 0"))
        .groupBy("doc_id", "ck")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") == _BLOOM_K)
        .select("doc_id", "ck")
    )
    verified = (
        hits.join(
            index.select(F.col("ck").alias("ick"), F.col("doc_id").alias("idx_id")),
            F.col("ck") == F.col("ick"),
        )
        .groupBy(F.col("doc_id"))
        .agg(F.min("idx_id").alias("dup_of"))
    )
    return batch.select("doc_id").join(verified, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
        F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# URL-canonical dedup — the web-pipeline staple
# ---------------------------------------------------------------------------


def _url_variants() -> Column:
    """Deterministic messy-URL synthesis from documents columns (the
    scalar_url_parse idiom: build the fixture from table values so the
    check covers real diversity). Four variants per id-group — three
    collapse under canonicalization, one (a real pagination param)
    survives as its own canonical URL."""
    g = F.expr("doc_id div 4").cast("string")
    v = F.col("doc_id") % 4
    return (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example.COM:443/docs/"),
                g,
                F.lit("/?utm_source=feed&utm_campaign=x#top"),
            ),
        )
        .when(v == 1, F.concat(F.lit("https://www.example.com/docs/"), g, F.lit("/")))
        .when(v == 2, F.concat(F.lit("https://example.com/docs/"), g))
        .otherwise(
            F.concat(F.lit("https://Example.com/docs/"), g, F.lit("?page=2"))
        )
    )


#: DuckDB CTE chain ending in canon(doc_id, canonical_url) — the SQL
#: twin of _url_variants() + canonical_url(); shared by the
#: dedup_url_canonical oracle and pipeline_dedup_cascade's URL stage
SQL_URL_CANON = """
    u AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/docs/' || (doc_id // 4)
                           || '/?utm_source=feed&utm_campaign=x#top'
               WHEN 1 THEN 'https://www.example.com/docs/' || (doc_id // 4) || '/'
               WHEN 2 THEN 'https://example.com/docs/' || (doc_id // 4)
               ELSE 'https://Example.com/docs/' || (doc_id // 4) || '?page=2'
             END AS url
      FROM documents),
    nofrag AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '') AS url FROM u),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             regexp_replace(
               regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                              '^www\\.', ''),
               ':(80|443)$', '') AS host,
             regexp_replace(
               regexp_replace(
                 regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+(.*)$', 1),
                                '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
                 '[?&]+$', ''),
               '/+$', '') AS rest
      FROM nofrag),
    canon AS (
      SELECT doc_id, scheme || '://' || host || rest AS canonical_url
      FROM parts)"""


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH {SQL_URL_CANON}
    SELECT canonical_url,
           COUNT(*) AS n_variants,
           MIN(doc_id) AS survivor_doc_id
    FROM canon
    GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark, sf_dir) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of every
    web-crawl training pipeline: fold scheme/host case, www. prefix,
    default ports, fragments, tracking parameters (utm_*/ref) and
    trailing slashes away, then group by the canonical URL and keep
    one survivor per group. Real query parameters (?page=2) survive —
    canonicalization must never merge genuinely different resources.

    Every step is a codegen'd regexp over one row (map-only until the
    single canonical-key groupBy with map-side partials — the same
    one-shuffle shape as dedup_exact); patterns avoid lookaround so
    the DuckDB (RE2) twin is literally the same regex.

    Scale: canonical keys are near-uniform (URL hash), no skew; at
    100 TB this is a scan + one hash aggregation, the cheapest
    possible dedup."""
    d = table(spark, "documents", sf_dir).select(
        "doc_id", _url_variants().alias("url")
    )
    return (
        d.select("doc_id", canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("survivor_doc_id"),
        )
    )


def canonical_url(url: Column) -> Column:
    """The canonicalization expression behind dedup_url_canonical
    (scheme/host case fold, www./default-port/fragment/tracking-param
    /trailing-slash strip) — shared with pipeline_dedup_cascade's URL
    stage. Codegen'd RE2-compatible regexps only."""
    nofrag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, "^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(nofrag, "^[A-Za-z]+://([^/?#]+)", 1)),
            "^www\\.",
            "",
        ),
        ":(80|443)$",
        "",
    )
    rest = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_extract(nofrag, "^[A-Za-z]+://[^/?#]+(.*)$", 1),
                "(utm_[a-z]+|ref)=[^&]*&?",
                "",
            ),
            "[?&]+$",
            "",
        ),
        "/+$",
        "",
    )
    return F.concat(scheme, F.lit("://"), host, rest)


_CONTAIN_T = 0.9

#: apply the PPJoin positional bound in the containment candidate
#: join (exact either way; a probe/tuning toggle)
_CONTAIN_POSITIONAL = True

#: salt fan-out for the skew-safe containment variant: the full-token
#: side splits into this many sub-keys per token, the (small, rarest-
#: tokens-only) prefix side replicates to match
_CONTAIN_SALT = 8


def _contain_oracle(incoming_sql: str) -> str:
    """Brute-force all same-source ordered pairs, keep each left
    doc's best container — parameterized by the left-side predicate
    ('' = corpus mode; the plan under test changes, the truth
    does not)."""
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS inter
      FROM tok a JOIN tok b
        ON a.tok = b.tok AND a.doc_id <> b.doc_id AND a.source = b.source
      {incoming_sql}
      GROUP BY 1, 2),
    scored AS (
      SELECT doc_id1, doc_id2, ROUND(inter * 1.0 / sa.n, 6) AS containment
      FROM pairs JOIN sz sa ON sa.doc_id = doc_id1
      WHERE inter * 1.0 / sa.n >= {_CONTAIN_T}),
    best AS (
      SELECT doc_id1, doc_id2, containment,
             row_number() OVER (PARTITION BY doc_id1
                                ORDER BY containment DESC, doc_id2) AS rk
      FROM scored)
    SELECT doc_id1, doc_id2, containment FROM best WHERE rk = 1
    """


_CONTAIN_ORACLE = _contain_oracle("WHERE a.doc_id % 20 = 0")
_CONTAIN_CORPUS_ORACLE = _contain_oracle("")


def containment_stages(docs: DataFrame):
    """The (g, ex) stage pair behind containment_best: per-doc
    distinct token arrays + sizes, and the exploded flat rows WITH
    each token's per-doc global-rarity position (pos — one window
    pass, reused by both the prefix filter and the positional
    candidate bound). The global token frequency table is consumed
    INSIDE the ex build (pos bakes the rarity order in), so it is
    neither checkpointed nor returned — materializing it was a pure
    extra eager job no consumer read (round-9 advice fix)."""
    toks = tokens_distinct(F.col("text"))
    g = docs.select(
        "doc_id", "source", toks.alias("tk"), F.size(toks).alias("n")
    ).localCheckpoint()
    ex0 = g.select("doc_id", "source", "n", F.explode("tk").alias("tok"))
    freq = ex0.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("doc_id").orderBy("tf", "tok")
    ex = (
        ex0.join(freq, "tok")
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "source", "n", "tok", "pos")
        .localCheckpoint()
    )
    return g, ex


def _containment_rep_state(docs: DataFrame) -> dict:
    """The r15 rep collapse's build-once pieces for a (doc_id, source,
    text) frame: SOURCE-SCOPED exact-text groups (key (md5, length,
    source) — the collision-hardened text key with source folded in,
    because the containment pair predicate reads the source column and
    members of one exact-text group may span sources: the
    lsh_rep_pairs rule that per-pair quantities collapse but source
    labels may not, satisfied like dedup_ngram_jaccard by grouping on
    source too). ``grp`` carries each group's member count and the
    SECOND-smallest member id (srep itself is the group min, so the
    within-group argmin-excluding-self is srep or mn2 — no member
    enumeration, no window); ``g``/``ex`` are the containment_stages
    token tables over REPRESENTATIVE documents only."""
    srh = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.length("text").alias("hl"),
    )
    srq = (
        srh.groupBy("h", "hl", "source")
        .agg(F.min("doc_id").alias("srep"), F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    srmap = (
        srh.join(srq, ["h", "hl", "source"])
        .select("doc_id", "srep")
        .localCheckpoint()
    )
    mn2 = (
        srmap.filter(F.col("doc_id") != F.col("srep"))
        .groupBy("srep")
        .agg(F.min("doc_id").alias("mn2"))
    )
    grp = srq.select("srep", "c").join(mn2, "srep", "left")
    reps = srq.select(F.col("srep").alias("doc_id"))
    g, ex = containment_stages(docs.join(reps, "doc_id", "left_semi"))
    return {"srmap": srmap, "grp": grp, "g": g, "ex": ex}


def containment_best(
    docs: DataFrame,
    incoming=None,
    salt: int | None = None,
    spark=None,
    cache_key: tuple | None = None,
    return_candidates: bool = False,
    cache_tag: str | None = None,
):
    """Best-container search over a (doc_id, source, text) frame —
    the engine behind the three containment keys. ``incoming``
    optionally restricts the LEFT (contained) side; ``salt`` > 1
    splits the candidate join's token key into ``salt`` sub-keys:
    the corpus-sized full-token side routes by
    pmod(xxhash64(doc_id), salt) while only the prefix side (already
    pruned to each doc's rarest tokens) replicates salt-fold — the
    same hot-key treatment as join_skew_salted, aimed at stop-word-
    grade tokens whose single (tok) reduce partition would otherwise
    receive a constant fraction of the corpus. Salting relocates
    rows, never drops them, so results are identical (pinned by a
    hot-token fixture test).

    r15 collapse-before-candidates: every stage through verification
    runs over one exemplar per (text, source) group
    (:func:`_containment_rep_state`) — containment C(A in B) is a
    pure function of the two texts, so rep-pair scores transfer to
    members verbatim, and an exact-duplicated corpus no longer
    inflates the prefix x full-token join or the intersection count
    (the 16x octave measured 515-570 s member-grain with one
    out-of-resource failure — r14 VERDICT item 2). The per-doc BEST
    row expands at output grain with no window: best score = max of
    the group's best external ROUNDED score mx_e and the within-group
    duplicate's 1.0 (identical text => identical token set => C =
    1.0, gated on the group having >= 2 members and >= 1 token — a
    tokenless group has no oracle pairs at all); the id tiebreak over
    argmax external groups is min(r2) because rep = group min, and
    the within-group argmin excluding the doc itself is srep (or mn2
    when the doc IS the rep). The unchanged brute-force member-grain
    oracle and the hypothesis property tests (which generate
    duplicate texts) hash-prove the collapse.

    When ``spark`` and ``cache_key`` are given, the rep state (group
    map + rep-restricted token stages) comes from the per-session
    cache — identical for every containment variant over the same
    corpus, so the three registry keys share one build instead of
    recomputing the tokenize/explode/frequency pipeline each (the
    round-7 bench's two most expensive keys were exactly that
    double-compute)."""
    if spark is not None and cache_key is not None:
        st = session_cache(
            spark,
            ("contain_rep",) + cache_key,
            lambda: _containment_rep_state(docs),
            # cache_key is (table_name, sf_dir) for every registry
            # caller: tie the cached stages to the corpus file so an
            # in-session rewrite invalidates them
            deps=(
                [f"{cache_key[-1]}/{cache_key[0]}.parquet"]
                if len(cache_key) == 2
                else None
            ),
        )
    else:
        st = _containment_rep_state(docs)
    g, ex = st["g"], st["ex"]
    srmap, grp = st["srmap"], st["grp"]
    mem = srmap.filter(incoming) if incoming is not None else srmap
    if incoming is not None:
        # candidate LEFT side = groups with >= 1 incoming member (the
        # group-level image of the member-level batch restriction)
        g1 = mem.select("srep").distinct()
        left = ex.join(
            g1.select(F.col("srep").alias("doc_id")), "doc_id", "left_semi"
        )
    else:
        left = ex
    pref = left.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.col("n") * F.lit(_CONTAIN_T)) + 1
    ).select("doc_id", "source", "tok", "n", "pos")
    right = ex
    if salt and salt > 1:
        pref = pref.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        right = ex.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt)).cast("int")
        )
    # candidate bounds, all EXACT (property-tested lossless): the
    # one-sided rarity prefix on A, B's size floor, and the PPJoin
    # POSITIONAL bound — a qualifying pair's globally-first common
    # token sits at (a.pos, b.pos) with at least ceil(t*|A|)-1 common
    # tokens after it in BOTH lists, so rows failing
    # 1+min(|A|-a.pos, |B|-b.pos) >= ceil(t|A|) can be dropped
    # without losing the pair. Measured at sf0.1: ~11% of join rows
    # (uniform doc sizes + tiny vocabulary blunt it here; on real
    # corpora with varied lengths it is the standard second filter).
    # The larger win is structural: positions are computed ONCE in
    # the cached ex stage, so the per-key prefix is a plain filter
    # instead of a freq-join + rarity window per variant.
    alpha = F.ceil(F.col("a.n") * F.lit(_CONTAIN_T))
    join_cond = (
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        & (F.col("b.n") >= alpha)
    )
    if _CONTAIN_POSITIONAL:
        join_cond = join_cond & (
            F.lit(1)
            + F.least(
                F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
            )
            >= alpha
        )
    if salt and salt > 1:
        join_cond = join_cond & (F.col("a.salt") == F.col("b.salt"))
    cand = (
        pref.alias("a")
        .join(right.alias("b"), join_cond)
        .select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .distinct()
    )
    if return_candidates:
        # the distinct candidate-pair frame — what the verify stage
        # pays for; scripts/scale_smoke.py records its count next to
        # wall time so pair-bound growth is visible in the smoke rows
        return cand
    exg = ex.select("doc_id", "tok")
    inter = (
        cand.join(exg.withColumnRenamed("doc_id", "doc_id1"), "doc_id1")
        .join(
            exg.select(F.col("doc_id").alias("doc_id2"), "tok"),
            on=["doc_id2", "tok"],
        )
        .groupBy("doc_id1", "doc_id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz = g.select("doc_id", "n")
    c = F.col("inter") / F.col("na")
    scored = (
        inter.join(
            sz.select(F.col("doc_id").alias("doc_id1"), F.col("n").alias("na")),
            "doc_id1",
        )
        .filter(c >= _CONTAIN_T)
        .select("doc_id1", "doc_id2", F.round(c, 6).alias("containment"))
    )
    if spark is not None and cache_key is not None and cache_tag is not None:
        # r15: the verified rep-level score table is the variant's
        # build-once artifact (candidate join + intersection count —
        # the expensive half); checkpoint it once per session under
        # the caller's tag so each variant's candidate plan still
        # runs once, and the cheap best-pick/expansion below stays
        # per-call. deps= ties the entry to the corpus file.
        scored_built = scored
        scored = session_cache(
            spark,
            ("contain_scored", cache_tag) + cache_key,
            lambda: scored_built.localCheckpoint(),
            deps=(
                [f"{cache_key[-1]}/{cache_key[0]}.parquet"]
                if len(cache_key) == 2
                else None
            ),
        )
    # per-group best EXTERNAL container: max rounded score, min rep id
    # among argmax groups (min member of an argmax group IS its rep) —
    # one agg min-struct, never a window (CLAUDE.md pick discipline).
    # Rounded score in the struct because the oracle's tiebreak window
    # orders by the rounded column.
    ext = scored.groupBy(F.col("doc_id1").alias("srep")).agg(
        F.max(
            F.struct(
                F.col("containment").alias("s"),
                (-F.col("doc_id2")).alias("nr"),
            )
        ).alias("mx")
    )
    e = (
        mem.join(grp, "srep")
        .join(
            sz.select(F.col("doc_id").alias("srep"), F.col("n").alias("nrep")),
            "srep",
            "left",
        )
        .join(ext, "srep", "left")
    )
    int_ok = (F.col("c") >= 2) & (F.col("nrep") >= 1)
    id_int = F.when(F.col("doc_id") == F.col("srep"), F.col("mn2")).otherwise(
        F.col("srep")
    )
    mx_e = F.col("mx.s")
    best = F.greatest(F.when(int_ok, F.lit(1.0)), mx_e)
    doc2 = F.least(
        F.when(int_ok & (best == 1.0), id_int),
        F.when(mx_e == best, -F.col("mx.nr")),
    )
    return e.select(
        F.col("doc_id").alias("doc_id1"),
        doc2.alias("doc_id2"),
        best.alias("containment"),
    ).filter(F.col("containment").isNotNull())


def _containment_batch_compute(spark, sf_dir) -> DataFrame:
    """dedup_containment's full BUILD plan (candidate join + verify,
    no scored cache; the shared rep-state cache still serves) — the
    plan-shape tests' capture target."""
    d = table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    return containment_best(
        d,
        incoming=F.col("doc_id") % 20 == 0,
        spark=spark,
        cache_key=("documents", sf_dir),
    )


@register(
    "dedup_containment",
    oracle=_CONTAIN_ORACLE,
    build=_containment_batch_compute,
)
def dedup_containment(spark, sf_dir) -> DataFrame:
    """ASYMMETRIC near-dup detection: token-set containment
    C(A in B) = |tok(A) & tok(B)| / |tok(A)| >= 0.9 within a source
    block — catches sub-document duplication (quotes, boilerplate
    wrapping, page-of-a-larger-page crawls) that symmetric jaccard
    misses, the third member of the RefinedWeb-style text-dedup trio
    (exact / jaccard / containment). Shaped as the incremental-batch
    check (the steady-state ingest form, like dedup_incremental):
    each INCOMING doc (doc_id % 20 == 0 stands in for the delta)
    reports its single BEST container (highest containment, smallest
    id tiebreak) — output bounded by the batch, not by the corpus's
    pair count.

    The prefix filter is the containment variant of
    dedup_ngram_jaccard's PPJoin bound: a >= t pair must share a
    token among A's |A| - ceil(t|A|) + 1 globally-RAREST tokens, so
    only that prefix joins — against ALL of B's tokens (the prefix
    is one-sided), but each B row carries its own rarity position
    and the PPJoin POSITIONAL bound 1 + min(|A|-posA, |B|-posB) >=
    ceil(t|A|) prunes rows whose match leaves too little list left
    on either side, plus the size bound |B| >= ceil(t|A|). All
    exact, no false negatives (hypothesis property test vs brute
    force) — the DuckDB oracle brute-forces all same-source pairs
    and the results hash-match.

    Scale: the same explode -> frequency -> per-doc rarity-window
    motif as the jaccard key (no broadcast hints — token vocabulary
    grows with the corpus, AQE picks the strategy); the asymmetric
    join is prefix x full-token, candidate-bounded by token rarity;
    verification counts intersections on exploded flat rows (no
    arrays in shuffle, map-side partial count)."""
    d = table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    return containment_best(
        d,
        incoming=F.col("doc_id") % 20 == 0,
        spark=spark,
        cache_key=("documents", sf_dir),
        cache_tag="batch20",
    )


def _containment_corpus_compute(spark, sf_dir) -> DataFrame:
    """dedup_containment_corpus' full BUILD plan (no scored cache) —
    the plan-shape tests' capture target."""
    d = table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    return containment_best(d, spark=spark, cache_key=("documents", sf_dir))


@register(
    "dedup_containment_corpus",
    oracle=_CONTAIN_CORPUS_ORACLE,
    build=_containment_corpus_compute,
)
def dedup_containment_corpus(spark, sf_dir) -> DataFrame:
    """Corpus-mode containment sweep: EVERY document reports its best
    container (not just an incoming batch) — the bootstrap form of
    ``dedup_containment``, run once over a crawl to strip
    sub-document duplication before training. Exercises the
    one-sided prefix bound at symmetric scale: all n docs emit a
    rarest-token prefix, the candidate join stays prefix x
    full-token, and the output is exactly one row per contained doc.

    Scale: identical motif to the batch key; total candidate volume
    grows with corpus rarity structure, not n^2 (the prefix bound is
    lossless — property-tested in tests/test_properties.py for the
    batch form, same code path). The per-doc best-container window
    keys on doc_id1 (uniform)."""
    d = table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    return containment_best(
        d,
        spark=spark,
        cache_key=("documents", sf_dir),
        cache_tag="corpus",
    )


def _containment_salted_compute(spark, sf_dir) -> DataFrame:
    """dedup_containment_salted's full BUILD plan (no scored cache) —
    the plan-shape tests' capture target."""
    d = table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    return containment_best(
        d, salt=_CONTAIN_SALT, spark=spark, cache_key=("documents", sf_dir)
    )


@register(
    "dedup_containment_salted",
    oracle=_CONTAIN_CORPUS_ORACLE,
    build=_containment_salted_compute,
)
def dedup_containment_salted(spark, sf_dir) -> DataFrame:
    """Skew-safe corpus-mode containment: same result as
    ``dedup_containment_corpus`` (same oracle — salting relocates
    rows, never drops them), but the candidate join's token key is
    salted {8} ways: the corpus-sized full-token side routes by
    pmod(xxhash64(doc_id), 8) and only the rarest-token prefix side
    replicates — the ``join_skew_salted`` treatment applied to the
    containment prefix join. On a real crawl the token frequency
    distribution is zipfian: one stop-word-grade token can put a
    constant fraction of all (tok, doc) rows on a single reduce
    partition, and the unsalted join stalls on that straggler; with
    the salt, each hot token spreads over 8 partitions at the cost
    of replicating the (already rarity-pruned) prefix rows.
    Equality with the unsalted plan is pinned by a hot-token fixture
    (one token in 30% of docs) in tests/test_skew.py.

    r15 optimization round: the scored cache TAG is shared with
    dedup_containment_corpus — the two keys' verified score tables
    are row-identical by construction (same oracle; the salt only
    relocates candidate-join rows), so whichever key runs first pays
    the one candidate+verify build and the other serves it. The
    salted candidate plan stays pinned via the cache-free
    _containment_salted_compute body (the registry ``build``) and
    the hot-token equality fixture."""
    d = table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    return containment_best(
        d,
        salt=_CONTAIN_SALT,
        spark=spark,
        cache_key=("documents", sf_dir),
        cache_tag="corpus",
    )


_PARA_TOKENS = 8
_PARA_DROP = 0.6
_PARA_TRIM = 0.2

#: DuckDB CTE chain ending in per(doc_id, n_paras, n_dup_paras) — the
#: paragraph-fingerprint rollup shared by the dedup_paragraph oracle
#: and pipeline_dedup_cascade's paragraph stage
SQL_PARA_PER = f"""
    ps AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ch AS (
      SELECT doc_id, i AS para_idx,
             array_to_string(w[i*{_PARA_TOKENS}+1 : i*{_PARA_TOKENS}+{_PARA_TOKENS}], ' ')
               AS ptxt
      FROM ps CROSS JOIN (SELECT unnest(range(0, 1000)) AS i) ix
      WHERE i <= (len(w) - 1) // {_PARA_TOKENS}),
    pfp AS (SELECT doc_id, para_idx, md5(ptxt) AS h FROM ch),
    pnd AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM pfp GROUP BY h),
    per AS (
      SELECT doc_id, COUNT(*) AS n_paras,
             CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paras
      FROM pfp JOIN pnd USING (h) GROUP BY doc_id)"""

_PARA_ORACLE = f"""
    WITH {SQL_PARA_PER}
    SELECT doc_id, n_paras, n_dup_paras,
           ROUND(n_dup_paras * 1.0 / n_paras, 6) AS dup_ratio,
           CASE WHEN n_dup_paras * 1.0 / n_paras >= {_PARA_DROP} THEN 'drop'
                WHEN n_dup_paras * 1.0 / n_paras >= {_PARA_TRIM} THEN 'trim'
                ELSE 'keep' END AS verdict
    FROM per
    """


@register("dedup_paragraph", oracle=_PARA_ORACLE)
def dedup_paragraph(spark, sf_dir) -> DataFrame:
    """Paragraph-grain boilerplate dedup — the pass real pipelines run
    BETWEEN exact and near dedup (CCNet/RefinedWeb line-dedup): split
    each document into non-overlapping {8}-token paragraphs (the
    text_chunk_split slice machinery with step == window, the
    sub-document analog of the reference's row-level diff
    localization, ref main.py:228-239), fingerprint each paragraph,
    and mark an occurrence BOILERPLATE when the same paragraph
    appears in more than one document. Verdicts roll back up to
    documents: dup_ratio >= {0.6} -> 'drop' (the doc is mostly
    recycled), >= {0.2} -> 'trim' (strip the shared paragraphs, keep
    the rest), else 'keep' — the drop/trim/keep triage a curation
    pipeline consumes.

    Exactness: md5 of the identical paragraph string on both engines;
    counts are ints; dup_ratio is one IEEE division (bit-identical),
    ROUND 6 at emit only, and the verdict thresholds compare the raw
    double the same way on both sides.

    Scale: paragraphs explode map-only (~n_tokens/{8} rows per doc);
    the paragraph table materializes ONCE (localCheckpoint — one
    documents scan total, plan-asserted) and feeds both the
    frequency aggregation and the join back; both shuffles key on
    the content hash (uniform by construction — no skew, unlike raw
    tokens); the final per-doc rollup is a partial-agg groupBy. At
    100 TB this is exactly three hash shuffles over flat rows, and
    the paragraph-hash frequency table is reusable as a persisted
    boilerplate index for incremental ingest (the
    dedup_bloom_prefilter pattern).

    r15: the paragraph table is built over exact-text
    REPRESENTATIVES only (text_rep_map_all — unfiltered scope: every
    doc emits paragraphs). Per-paragraph doc frequency is exact at
    rep grain because paragraph membership is a pure function of
    text: ndocs(h) = sum of GROUP SIZES over the rep groups whose
    text contains h (every member contains h iff its rep does), and
    the per-doc stats are pure functions of (text, frequency table),
    so they compute once per rep and transfer to members by one
    rep-map join — output stays per-doc by contract. The unchanged
    member-grain oracle hash-proves the collapse; an N-fold
    duplicated corpus explodes base-sized paragraphs."""
    rmap = text_rep_map_all(spark, sf_dir)
    fp = _rep_paragraph_fps(spark, sf_dir)
    nd = _paragraph_freqs(rmap, fp)
    return _paragraph_report(rmap, fp, nd)


def _rep_paragraph_fps(spark, sf_dir: str) -> DataFrame:
    """The checkpointed (rep_id, para_idx, h) paragraph-fingerprint
    table over exact-text REPRESENTATIVES — base-corpus-sized at any
    duplication; shared by dedup_paragraph, the persisted boilerplate
    index build, and its serve path."""
    def build():
        rmap = text_rep_map_all(spark, sf_dir)
        reps = rmap.select(F.col("rep_id").alias("doc_id")).distinct()
        d = table(spark, "documents", sf_dir).join(
            reps, "doc_id", "left_semi"
        )
        toks = F.split("text", " ")
        idx = F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size(toks) - 1) / _PARA_TOKENS).cast("int"),
            )
        )
        w = d.select(
            F.col("doc_id").alias("rep_id"),
            toks.alias("w"),
            idx.alias("para_idx"),
        )
        seg = F.slice(
            "w", F.col("para_idx") * _PARA_TOKENS + 1, _PARA_TOKENS
        )
        return w.select(
            "rep_id", "para_idx", F.md5(F.array_join(seg, " ")).alias("h")
        ).localCheckpoint()

    return session_cache(
        spark,
        ("rep_paras", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


def _paragraph_freqs(rmap: DataFrame, fp: DataFrame) -> DataFrame:
    """(h, ndocs) — the paragraph-hash document-frequency table at
    rep grain: group-size sums over the rep groups containing each
    fingerprint (exact member doc counts; paragraph membership is a
    pure text function). THE boilerplate index — what
    paragraph_index_persist writes to the warehouse."""
    gs = rmap.groupBy("rep_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        fp.select("rep_id", "h")
        .distinct()
        .join(gs, "rep_id")
        .groupBy("h")
        .agg(F.sum("n_docs").alias("ndocs"))
    )


def _paragraph_report(
    rmap: DataFrame, fp: DataFrame, nd: DataFrame
) -> DataFrame:
    """dedup_paragraph's per-doc verdict rollup from the rep
    fingerprints and a (h, ndocs) frequency table (freshly aggregated
    or warehouse-reloaded — the shared serve half)."""
    per_rep = (
        fp.join(nd, "h")
        .groupBy("rep_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias(
                "n_dup_paras"
            ),
        )
    )
    ratio = F.col("n_dup_paras") / F.col("n_paras")
    return rmap.join(per_rep, "rep_id").select(
        "doc_id",
        "n_paras",
        "n_dup_paras",
        F.round(ratio, 6).alias("dup_ratio"),
        F.when(ratio >= _PARA_DROP, "drop")
        .when(ratio >= _PARA_TRIM, "trim")
        .otherwise("keep")
        .alias("verdict"),
    )


#: builder-parameter spec shared verbatim with pipeline._catalog_expected
_PARA_INDEX_SPEC = {"para_tokens": _PARA_TOKENS, "grain": "rep_weighted"}


def paragraph_index_artifact(spark, sf_dir):
    """The warehouse-persisted (h, ndocs) boilerplate frequency
    table, building iff absent or stale — the build half of
    paragraph_index_persist, shared with the warehouse catalog.
    ndocs sums are a monoid, so ingest batches can append-merge like
    the LM count tables."""
    from scribedb_spark.persist import persisted_artifact

    def build():
        rmap = text_rep_map_all(spark, sf_dir)
        return _paragraph_freqs(rmap, _rep_paragraph_fps(spark, sf_dir))

    return persisted_artifact(
        spark,
        "paragraph_index",
        sf_dir,
        [f"{sf_dir}/documents.parquet"],
        build,
        spec=_PARA_INDEX_SPEC,
    )


@register("paragraph_index_persist", oracle=_PARA_ORACLE)
def paragraph_index_persist(spark, sf_dir) -> DataFrame:
    """The persisted BOILERPLATE INDEX: write the paragraph-hash
    document-frequency table (h, ndocs) to warehouse parquet once,
    then serve dedup_paragraph's drop/trim/keep verdicts from the
    RELOAD — the serve plan re-fingerprints at rep grain (map-only,
    from the session-checkpointed fingerprint table) and joins the
    reloaded frequencies; the corpus-wide frequency AGGREGATION never
    re-runs (plan-asserted: the serve side reads the artifact parquet
    and no documents scan). This is the incremental-ingest lifecycle
    the dedup_paragraph docstring promises: new batches fingerprint
    map-only and join the standing index (ndocs is append-mergeable —
    a monoid like the LM/BM25 count tables).

    Exactness: integer ndocs round-trip parquet bit-exact; the oracle
    recomputes everything from raw text (same output contract and
    oracle as dedup_paragraph), so the hash match proves
    fingerprint -> persist -> reload -> verdict == from-scratch.

    Scale: the artifact is vocabulary-sized (distinct paragraph
    hashes), the serve join keys on uniform md5 — no skew; everything
    corpus-sized stays in the one rep-grain fingerprint pass."""
    rmap = text_rep_map_all(spark, sf_dir)
    fp = _rep_paragraph_fps(spark, sf_dir)
    return _paragraph_report(rmap, fp, paragraph_index_artifact(spark, sf_dir))


# ---------------------------------------------------------------------------
# overlapping-span (exact substring) dedup
# ---------------------------------------------------------------------------

_SPAN_TOKENS = 8

#: DuckDB CTE chain ending in sp(doc_id, pos, h) — one row per
#: OVERLAPPING {_SPAN_TOKENS}-token window start; shared by the
#: dedup_span oracle and text_decontaminate's benchmark-overlap oracle
SQL_SPAN_HASHES = f"""
    ps AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sp AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(w[i+1 : i+{_SPAN_TOKENS}], ' ')) AS h
      FROM ps CROSS JOIN (SELECT unnest(range(0, 5000)) AS i) ix
      WHERE len(w) >= {_SPAN_TOKENS} AND i <= len(w) - {_SPAN_TOKENS})"""

_SPAN_ORACLE = f"""
    WITH {SQL_SPAN_HASHES},
    nd AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM sp GROUP BY h),
    d AS (SELECT sp.doc_id, sp.pos, nd.ndocs > 1 AS dup
          FROM sp JOIN nd USING (h)),
    runs AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM d WHERE dup),
    rl AS (
      SELECT doc_id, MAX(cnt) AS max_run
      FROM (SELECT doc_id, grp, COUNT(*) AS cnt
            FROM runs GROUP BY doc_id, grp) g
      GROUP BY doc_id),
    per AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans
      FROM d GROUP BY doc_id)
    SELECT per.doc_id, n_spans, n_dup_spans,
           CAST(CASE WHEN max_run IS NULL THEN 0
                ELSE max_run + {_SPAN_TOKENS} - 1 END AS BIGINT)
             AS max_dup_tokens
    FROM per LEFT JOIN rl ON per.doc_id = rl.doc_id
    """


def rep_span_hashes_cached(spark, sf_dir: str) -> DataFrame:
    """The checkpointed (rep_id, pos, h) span table over exact-text
    REPRESENTATIVES only — base-corpus-sized at any duplication
    factor; shared by the r15-collapsed dedup_span and
    text_decontaminate (span presence/counts are pure text functions,
    so per-rep span rows carry every member's)."""
    from scribedb_spark.sources import table as _table

    def build():
        rmap = text_rep_map_all(spark, sf_dir)
        reps = rmap.select(F.col("rep_id").alias("doc_id")).distinct()
        d = (
            _table(spark, "documents", sf_dir)
            .select("doc_id", "text")
            .join(reps, "doc_id", "left_semi")
        )
        return (
            span_hashes(d)
            .withColumnRenamed("doc_id", "rep_id")
            .localCheckpoint()
        )

    return session_cache(
        spark,
        ("rep_spans", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


def span_hashes(d: DataFrame, k: int = _SPAN_TOKENS) -> DataFrame:
    """(doc_id, pos, h): md5 of every OVERLAPPING k-token window of
    every document with >= k tokens — the Lee-et-al exact-substring
    grain (one span per token position, vs dedup_paragraph's
    non-overlapping chunks which miss duplicates that straddle an
    alignment boundary). Map-only: one scan, one explode, ~n_tokens
    output rows; md5 runs on the flat exploded rows (codegen, the
    module's higher-order-lambda rule)."""
    toks = F.split("text", " ")
    w = d.select("doc_id", toks.alias("w")).filter(F.size("w") >= k)
    pos = F.explode(F.sequence(F.lit(0), F.size("w") - k)).alias("pos")
    w = w.select("doc_id", "w", pos)
    seg = F.slice("w", F.col("pos") + 1, k)
    return w.select(
        "doc_id", "pos", F.md5(F.array_join(seg, " ")).alias("h")
    )


@register("dedup_span", oracle=_SPAN_ORACLE)
def dedup_span(spark, sf_dir) -> DataFrame:
    """Exact-substring span dedup at token grain (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): hash
    every overlapping {8}-token window, mark a window duplicated when
    the identical window occurs in another document, and report per
    document the duplicated-window count plus the LONGEST duplicated
    run in tokens (consecutive duplicated starts merge: a run of r
    consecutive duplicated windows spans r+{8}-1 tokens — an UPPER
    bound on the longest substring shared with any single document,
    tight when one contiguous copy is responsible; any shared
    L-token substring, L >= {8}, forces a run of >= L-{8}+1, so the
    bound never misses — property-tested in
    tests/test_properties.py). Overlap is the point — ``dedup_paragraph``'s
    non-overlapping chunks miss any duplicate that straddles a chunk
    boundary; the sliding window is alignment-free, the sub-document
    analog of the reference's row-level diff localization
    (ref main.py:228-239) taken to character... token resolution.

    Exactness: md5 of the identical span string both engines; the
    run-length compaction is the pos - row_number() islands idiom
    (identical integer window arithmetic both engines); outputs are
    all BIGINT counts — no floats anywhere.

    Scale: span explosion is map-only and linear in corpus tokens
    (~one row per token); the span table materializes once
    (localCheckpoint, one documents scan) and feeds the frequency
    aggregation and the join back, both keyed on the content hash
    (uniform by construction). The run-length window partitions by
    doc_id — frames are document-sized. At 100 TB the span-frequency
    table doubles as a persisted substring index for incremental
    decontamination (join new docs' spans against it, no corpus
    rescan) — exactly how ``text_decontaminate`` consumes
    ``span_hashes``.

    r15: the span table is built over exact-text REPRESENTATIVES
    only (text_rep_map_all; the >= {8}-token scope applies inside the
    span stage and is a pure text function, so rep groups are
    entirely in or out). Per-span doc frequency at rep grain is the
    group-size sum over rep groups containing the span (span
    membership is pure text); runs and counts are pure functions of
    (text, frequency table), so the islands window and the rollup
    run once per rep and transfer to members by one rep-map join.
    The unchanged member-grain oracle hash-proves it; an N-fold
    duplicated corpus explodes and windows base-sized spans."""
    rmap = text_rep_map_all(spark, sf_dir)
    gs = rmap.groupBy("rep_id").agg(F.count(F.lit(1)).alias("n_docs"))
    sp = rep_span_hashes_cached(spark, sf_dir)
    nd = (
        sp.select("rep_id", "h")
        .distinct()
        .join(gs, "rep_id")
        .groupBy("h")
        .agg(F.sum("n_docs").alias("ndocs"))
    )
    dd = sp.join(nd, "h").select(
        "rep_id", "pos", (F.col("ndocs") > 1).alias("dup")
    )
    win = Window.partitionBy("rep_id").orderBy("pos")
    runs = (
        dd.filter("dup")
        .select(
            "rep_id", (F.col("pos") - F.row_number().over(win)).alias("grp")
        )
        .groupBy("rep_id", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("rep_id")
        .agg(F.max("cnt").alias("max_run"))
    )
    per = dd.groupBy("rep_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_spans"),
    )
    rep_report = per.join(runs, "rep_id", "left")
    return rmap.join(rep_report, "rep_id").select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.when(F.col("max_run").isNull(), F.lit(0))
        .otherwise(F.col("max_run") + _SPAN_TOKENS - 1)
        .cast("long")
        .alias("max_dup_tokens"),
    )


def span_dedup_report(d: DataFrame, k: int = _SPAN_TOKENS) -> DataFrame:
    """The dedup_span core over any (doc_id, text) frame — factored
    out so the hypothesis property test can drive it on arbitrary
    corpora (brute-force agreement on n/dup counts and the run
    bound)."""
    return span_report_from(span_hashes(d, k).localCheckpoint(), k)


def span_report_from(sp: DataFrame, k: int = _SPAN_TOKENS) -> DataFrame:
    """dedup_span rollup over an already-materialized span table."""
    nd = sp.groupBy("h").agg(F.count_distinct("doc_id").alias("ndocs"))
    dd = sp.join(nd, "h").select(
        "doc_id", "pos", (F.col("ndocs") > 1).alias("dup")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        dd.filter("dup")
        .select(
            "doc_id", (F.col("pos") - F.row_number().over(win)).alias("grp")
        )
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("max_run"))
    )
    per = dd.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_spans"),
    )
    return per.join(runs, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.when(F.col("max_run").isNull(), F.lit(0))
        .otherwise(F.col("max_run") + k - 1)
        .cast("long")
        .alias("max_dup_tokens"),
    )


_CLUSTER_STATS_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
              UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM walk GROUP BY id),
    sz AS (SELECT component, COUNT(*) AS n FROM comp GROUP BY component),
    dist AS (
      SELECT n AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(n) AS BIGINT) AS n_docs
      FROM sz GROUP BY n),
    single AS (
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE doc_id NOT IN (SELECT id FROM comp))
    SELECT * FROM dist
    UNION ALL
    SELECT * FROM single WHERE n_clusters > 0
    """


@register("dedup_cluster_stats", oracle=_CLUSTER_STATS_ORACLE)
def dedup_cluster_stats(spark, sf_dir) -> DataFrame:
    """Duplication profile of the corpus: the cluster-SIZE
    distribution of the near-dup graph (how many 2-groups, 3-groups,
    ... the MinHash-LSH components form, plus the singleton mass) —
    the one-table answer to "how duplicated is this crawl?", read
    before choosing dedup aggressiveness (a heavy tail of giant
    clusters argues for survivor-pick + weights; mostly pairs argues
    exact dedup already caught the bulk). Consumes the REP-grain
    component state and the same component labels as
    ``dedup_components`` / ``sample_dedup_weights``.

    Exactness: pure integer counts over the identical component
    labels both engines (recursive min-label CTE in DuckDB over the
    naive member pair graph — the hash match proves the rep-grain
    collapse).

    Scale: the whole computation is rep-component-sized — sizes come
    from _rep_component_state's (component, cluster_size) table
    (group-count sums; member pairs never enumerate, member rows
    never shuffle), the distribution is at most max-cluster-size
    rows, and the singleton row costs one corpus count plus one
    O(1)-result sum over the size table. Output is histogram-sized
    — safe to collect anywhere."""
    rsize = _rep_component_state(spark, sf_dir)["rsize"]
    dist = rsize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )
    n_total = table(spark, "documents", sf_dir).count()
    n_edged = rsize.agg(F.sum("cluster_size")).first()[0] or 0
    singles = int(n_total - n_edged)
    if singles > 0:
        dist = dist.unionByName(
            spark.createDataFrame(
                [(1, singles, singles)],
                "cluster_size long, n_clusters long, n_docs long",
            )
        )
    return dist


def cluster_stats_from_group_state(
    grp: DataFrame, gsig: DataFrame, n_total: int
) -> DataFrame:
    """``dedup_cluster_stats``' size distribution derived from
    MAINTAINED rep-group state — the streamed reader of the r14
    rep-grain collapse (stream_components_maintain):

    - ``grp``  = (h, hl, rep_id, n): one row per exact-text group
      (md5 + length key, exact_text_reps' hardening) with its min
      doc_id and member count — a (min, sum) monoid fold over
      batches,
    - ``gsig`` = (h, hl, band, s): band signatures per GROUP —
      signatures are a pure function of text, so one exemplar per
      novel text serves every member forever,
    - ``n_total`` = all documents seen (singleton accounting).

    Same machinery as _rep_component_state, state-shaped inputs: the
    band self-join runs over GROUP signatures (base-corpus-sized at
    any duplication), components over rep ids, sizes by group-count
    sums. Nothing is member-pair-sized."""
    sg = gsig.join(grp.select("h", "hl", "rep_id"), ["h", "hl"]).select(
        "rep_id", "band", "s"
    )
    a = sg.select(F.col("rep_id").alias("r1"), "band", "s")
    b = sg.select(F.col("rep_id").alias("r2"), "band", "s")
    edges = (
        a.join(b, ["band", "s"])
        .filter(F.col("r1") < F.col("r2"))
        .select("r1", "r2")
        .distinct()
    )
    rc = connected_components(edges, id1="r1", id2="r2", out_id="rep_id")
    lone = (
        grp.filter(F.col("n") >= 2)
        .select("rep_id")
        .join(rc, "rep_id", "left_anti")
        .select("rep_id", F.col("rep_id").alias("component"))
    )
    rcomp = rc.unionByName(lone)
    rsize = (
        rcomp.join(grp.select("rep_id", "n"), "rep_id")
        .groupBy("component")
        .agg(F.sum("n").cast("long").alias("cluster_size"))
    )
    dist = rsize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )
    n_edged = rsize.agg(F.sum("cluster_size")).first()[0] or 0
    singles = int(n_total - n_edged)
    if singles > 0:
        dist = dist.unionByName(
            grp.sparkSession.createDataFrame(
                [(1, singles, singles)],
                "cluster_size long, n_clusters long, n_docs long",
            )
        )
    return dist


_RECALL_SAMPLE_MOD = 17
_RECALL_SAMPLE_REM = 3
_RECALL_MIN_J_PPM = 200_000

#: measured-vs-theory columns share one arithmetic text: bucket
#: midpoint (capped at 1.0), band-hit s^4, miss-all-4-bands — every
#: step a single correctly-rounded IEEE op in both engines, so the
#: doubles agree to the bit before the final floor to ppm
_RECALL_THEORY = (
    "cast(floor((1.0 - (1.0 - m*m*m*m) * (1.0 - m*m*m*m)"
    " * (1.0 - m*m*m*m) * (1.0 - m*m*m*m)) * 1000000.0) as bigint)"
)


#: the sampled exact-Jaccard stage (sizes -> sample postings ->
#: inverted-index co-occurrence -> integer ppm Jaccard) shared by the
#: recall-report and band-tune oracles; expects a ``tok`` CTE upstream
_SAMPLED_JAC_CTES = f"""
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY 1),
    samp AS (SELECT doc_id, tok FROM tok
             WHERE doc_id % {_RECALL_SAMPLE_MOD} = {_RECALL_SAMPLE_REM}),
    inter AS (
      SELECT LEAST(s.doc_id, t.doc_id) AS doc_id1,
             GREATEST(s.doc_id, t.doc_id) AS doc_id2,
             COUNT(DISTINCT s.tok) AS i
      FROM samp s JOIN tok t ON s.tok = t.tok AND s.doc_id <> t.doc_id
      GROUP BY 1, 2),
    jac AS (SELECT i.doc_id1, i.doc_id2,
                   (i.i * 1000000) // (z1.sz + z2.sz - i.i) AS j_ppm
            FROM inter i JOIN sizes z1 ON z1.doc_id = i.doc_id1
                         JOIN sizes z2 ON z2.doc_id = i.doc_id2)"""


def _recall_report_oracle() -> str:
    return f"""
    WITH {_MINHASH_CTES},
    {_SAMPLED_JAC_CTES},
    tp AS (SELECT * FROM jac WHERE j_ppm >= {_RECALL_MIN_J_PPM}),
    lab AS (SELECT t.j_ppm // 100000 AS bucket,
                   CASE WHEN l.doc_id1 IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM tp t LEFT JOIN lsh_cand l
              ON l.doc_id1 = t.doc_id1 AND l.doc_id2 = t.doc_id2),
    rep AS (SELECT bucket, COUNT(*) AS n_true_pairs,
                   CAST(SUM(hit) AS BIGINT) AS n_caught
            FROM lab GROUP BY bucket)
    SELECT bucket, n_true_pairs, n_caught,
           (n_caught * 1000000) // n_true_pairs AS recall_ppm,
           {_RECALL_THEORY} AS theory_ppm
    FROM (SELECT rep.*,
                 LEAST(CAST(2 * bucket + 1 AS DOUBLE) / 20.0, 1.0) AS m
          FROM rep)
    """


def sampled_jaccards(tok: DataFrame) -> DataFrame:
    """Exact integer-ppm Jaccard of every pair touching the fixed doc
    sample, through the inverted shingle index — ALL sampled pairs,
    unfiltered (the recall report keeps J >= threshold as true pairs;
    the band tuner also needs the low-J mass, which is what drives
    candidate COST)."""
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    samp = tok.filter(
        F.col("doc_id") % _RECALL_SAMPLE_MOD == _RECALL_SAMPLE_REM
    ).select(F.col("doc_id").alias("s_id"), "tok")
    inter = (
        samp.join(tok, "tok")
        .filter(F.col("s_id") != F.col("doc_id"))
        .select(
            F.least("s_id", "doc_id").alias("doc_id1"),
            F.greatest("s_id", "doc_id").alias("doc_id2"),
            "tok",
        )
        .groupBy("doc_id1", "doc_id2")
        .agg(F.count_distinct("tok").alias("i"))
    )
    z1 = sizes.select(F.col("doc_id").alias("doc_id1"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("doc_id2"), F.col("sz").alias("sz2"))
    return (
        inter.join(z1, "doc_id1")
        .join(z2, "doc_id2")
        .select(
            "doc_id1",
            "doc_id2",
            F.expr("(i * 1000000) div (sz1 + sz2 - i)").alias("j_ppm"),
        )
    )


def _recall_curve_from_labels(lab: DataFrame) -> DataFrame:
    """(bucket, hit, n_pairs) labeled true pairs -> the per-decile
    measured recall next to the theoretical band S-curve — the shared
    back half of the pair-list and rep-grain recall reports. Member-
    grain callers pass n_pairs = 1 per row; the rep-grain path passes
    the member-pair count each rep row stands for (weighted sums ==
    the member enumeration exactly)."""
    rep = lab.groupBy("bucket").agg(
        F.sum("n_pairs").cast("long").alias("n_true_pairs"),
        F.sum(F.col("n_pairs") * F.col("hit")).cast("long").alias("n_caught"),
    )
    return rep.withColumn(
        "m", F.expr("least(cast(2 * bucket + 1 as double) / 20.0, 1.0)")
    ).select(
        "bucket",
        "n_true_pairs",
        "n_caught",
        F.expr("(n_caught * 1000000) div n_true_pairs").alias("recall_ppm"),
        F.expr(_RECALL_THEORY).alias("theory_ppm"),
    )


def sampled_rep_jaccards(spark, sf_dir: str) -> DataFrame:
    """The session-cached sampled exact-Jaccard audit frame (see
    :func:`_sampled_rep_jaccards_compute` for the semantics and the
    rep-grain collapse argument): built once per (session, corpus
    fingerprint) and shared by dedup_recall_report,
    dedup_minhash_band_tune and the retune gate's measurement —
    the sampled inverted-index join is the expensive stage all three
    audits read, and it is a pure function of the documents file
    (plan tests pin the consuming keys' cache-free registry
    ``build`` bodies)."""
    return session_cache(
        spark,
        ("sampled_jac", sf_dir, _RECALL_SAMPLE_MOD, _RECALL_SAMPLE_REM),
        lambda: _sampled_rep_jaccards_compute(spark, sf_dir).localCheckpoint(),
        deps=[f"{sf_dir}/documents.parquet"],
    )


def _sampled_rep_jaccards_compute(spark, sf_dir: str) -> DataFrame:
    """(j_ppm, n_pairs, hit) — the sampled exact-Jaccard audit frame
    at REP grain: one row per co-occurring pair of exact-text GROUPS
    (plus one self row per sampled group of >= 2), carrying the
    member-pair count the row stands for and whether the pair is an
    LSH candidate. This is the r14 collapse applied to the audits'
    EXACT side: the 256x octave filled the host disk inside the
    member-grain sampled-postings join (sample and postings both
    inflate N-fold on identical text, so the co-occurrence join pays
    ~N^2 — SCALE_SMOKE_r14's honest boundary row), while every
    quantity the audits aggregate is a pure function of the two
    TEXTS times a member COUNT:

    - J(a, b) = J(rep(a), rep(b)) — shingle sets are text-pure;
    - hit(a, b) = hit(rep(a), rep(b)) — candidacy is signature-pure;
    - the member-pair count with >= 1 sampled endpoint is a product
      of per-group (members, sampled) counts: cross groups
      s1*c2 + c1*s2 - s1*s2 (inclusion-exclusion), within a group
      C(c,2) - C(c-s,2) at J = 1.0 — exactly rollup_source_overlap's
      count-by-products argument, which is exact because counts
      transfer, never rows.

    The postings join runs over REP texts only, with the sample-side
    restriction mapped to groups CONTAINING a sampled member — at
    duplication 1 that is the same ~{6}% bound as the member-grain
    sample, and at any duplication the join is base-corpus-sized.
    The unchanged member-grain DuckDB oracles of the recall report,
    the retune gate and the band tuner hash-prove the collapse on
    every driver run. (Weighted masses stay inside int64 through
    ~256x; a 1024x octave would need the tuner's p_ppm mass split.)
    """
    st = _rep_pair_state(spark, sf_dir)
    sampled = (
        F.col("doc_id") % _RECALL_SAMPLE_MOD == _RECALL_SAMPLE_REM
    ).cast("long")
    gstat = (
        st["rmap"]
        .groupBy("rep_id")
        .agg(F.count(F.lit(1)).alias("c"), F.sum(sampled).alias("s"))
        .localCheckpoint()  # one row per distinct text
    )
    reps = gstat.select(F.col("rep_id").alias("doc_id"))
    d = (
        table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .join(reps, "doc_id")
    )
    tok = d.select(
        "doc_id", F.explode(shingles3(F.col("text"))).alias("tok")
    ).localCheckpoint()
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sreps = gstat.filter(F.col("s") >= 1).select(
        F.col("rep_id").alias("s_id")
    )
    samp = tok.withColumnRenamed("doc_id", "s_id").join(sreps, "s_id")
    inter = (
        samp.join(tok, "tok")
        .filter(F.col("s_id") != F.col("doc_id"))
        .select(
            F.least("s_id", "doc_id").alias("r_lo"),
            F.greatest("s_id", "doc_id").alias("r_hi"),
            "tok",
        )
        .groupBy("r_lo", "r_hi")
        .agg(F.count_distinct("tok").alias("i"))
    )
    z1 = sizes.select(F.col("doc_id").alias("r_lo"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("r_hi"), F.col("sz").alias("sz2"))
    g1 = gstat.select(
        F.col("rep_id").alias("r_lo"),
        F.col("c").alias("c1"),
        F.col("s").alias("s1"),
    )
    g2 = gstat.select(
        F.col("rep_id").alias("r_hi"),
        F.col("c").alias("c2"),
        F.col("s").alias("s2"),
    )
    cross = (
        inter.join(z1, "r_lo")
        .join(z2, "r_hi")
        .join(g1, "r_lo")
        .join(g2, "r_hi")
        .select(
            "r_lo",
            "r_hi",
            F.expr("(i * 1000000) div (sz1 + sz2 - i)").alias("j_ppm"),
            F.expr("s1 * c2 + c1 * s2 - s1 * s2")
            .cast("long")
            .alias("n_pairs"),
        )
    )
    selfp = gstat.filter((F.col("c") >= 2) & (F.col("s") >= 1)).select(
        F.col("rep_id").alias("r_lo"),
        F.col("rep_id").alias("r_hi"),
        F.lit(1_000_000).cast("long").alias("j_ppm"),
        F.expr("(c * (c - 1)) div 2 - ((c - s) * (c - s - 1)) div 2")
        .cast("long")
        .alias("n_pairs"),
    )
    rset = (
        st["rp"]
        .select(
            F.least("r1", "r2").alias("r_lo"),
            F.greatest("r1", "r2").alias("r_hi"),
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        cross.unionByName(selfp)
        .join(rset, ["r_lo", "r_hi"], "left")
        .select("j_ppm", "n_pairs", F.coalesce("hit", F.lit(0)).alias("hit"))
    )


def lsh_recall_report(pairs: DataFrame, tok: DataFrame) -> DataFrame:
    """The measured band S-curve over any (doc_id, tok) distinct
    shingle frame and (doc_id1, doc_id2) LSH pair list — factored out
    so the property test can pin it against a Python recompute on
    corpora that DO have borderline-similarity pairs (the synthetic
    corpus is bimodal: noise or near-exact)."""
    jac = sampled_jaccards(tok).filter(
        F.col("j_ppm") >= _RECALL_MIN_J_PPM
    )
    lab = jac.join(
        pairs.withColumn("hit", F.lit(1)), ["doc_id1", "doc_id2"], "left"
    ).select(
        F.expr("j_ppm div 100000").alias("bucket"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
        F.lit(1).cast("long").alias("n_pairs"),
    )
    return _recall_curve_from_labels(lab)


def _recall_report_compute(spark, sf_dir) -> DataFrame:
    """dedup_recall_report's full BUILD plan (the sampled audit frame
    rebuilt cache-free) — the plan-shape tests' capture target."""
    lab = _sampled_rep_jaccards_compute(spark, sf_dir).filter(
        F.col("j_ppm") >= _RECALL_MIN_J_PPM
    ).select(
        F.expr("j_ppm div 100000").alias("bucket"), "hit", "n_pairs"
    )
    return _recall_curve_from_labels(lab)


@register(
    "dedup_recall_report",
    oracle=_recall_report_oracle(),
    build=_recall_report_compute,
)
def dedup_recall_report(spark, sf_dir) -> DataFrame:
    """Dedup-index MONITORING — the near-dup lifecycle's analog of
    ``ann_recall_report`` (mine: dedup_minhash_lsh; maintain:
    dedup_incremental; monitor: THIS). Ground truth is the exact
    shingle Jaccard of every pair touching a fixed ~{6}% doc sample
    (doc_id % {17} == {3}), computed through the inverted shingle
    index; each true pair (J >= {0.2}) is checked against the banded
    LSH candidate list, and recall is reported per Jaccard decile
    NEXT TO the theoretical band S-curve 1-(1-s^4)^4 at the bucket
    midpoint — the operator alarms when measured falls off theory
    (signature corruption, bad band split, drifted shingling), and
    reads the curve to retune bands before a recall hole ships.

    Exactness: Jaccard and recall are integer ppm (floor-divisions);
    the theory column is a fixed sequence of single IEEE ops on a
    bucket-derived double — bit-identical across engines, floored to
    ppm (no pow(), the libm rule).

    Scale: the whole audit runs at REP grain (sampled_rep_jaccards —
    the r14 collapse): the exact side's inverted-index join reads
    representative texts only with the sample restriction mapped to
    sampled GROUPS (the same ~{6}% bound at duplication 1,
    base-corpus-bounded at any duplication), candidacy probes the
    rep pair set, and member-pair counts transfer as per-group count
    products — the member pair list never materializes for the
    audit, and no stage inflates with exact duplication (the
    member-grain plan filled host disk at 256x, SCALE_SMOKE_r14's
    boundary row). Output is <= 9 decile rows.

    r15 optimization round: the audit frame comes from the session-
    cached sampled_rep_jaccards (shared with the band tuner and the
    retune gate); only the <= 9-row curve aggregation runs per call.
    Plan tests pin the cache-free registry ``build`` body."""
    lab = sampled_rep_jaccards(spark, sf_dir).filter(
        F.col("j_ppm") >= _RECALL_MIN_J_PPM
    ).select(
        F.expr("j_ppm div 100000").alias("bucket"), "hit", "n_pairs"
    )
    return _recall_curve_from_labels(lab)


#: every (bands, rows_per_band) factorization of the {16}-hash
#: signature budget — the tuner's search space
_TUNE_CONFIGS = ((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
_TUNE_TARGET_PPM = 900_000


def _collision_ppm_text(s: str, b: int, r: int, idiv: str) -> str:
    """Integer banded-LSH collision probability 1-(1-s^r)^b in ppm,
    as an UNROLLED floor-multiply chain over a ppm similarity ``s`` —
    identical arithmetic text in both engines (only the integer-
    division token differs: Spark ``div``, DuckDB ``//``), so the
    fixed-point powers agree exactly with no pow()/libm (the
    dedup_recall_report theory discipline, moved from doubles to pure
    int64: every operand <= 1e6 so products stay < 1e12)."""
    sr = s
    for _ in range(r - 1):
        sr = f"(({sr}) * ({s})) {idiv} 1000000"
    q = f"(1000000 - ({sr}))"
    qb = q
    for _ in range(b - 1):
        qb = f"(({qb}) * ({q})) {idiv} 1000000"
    return f"(1000000 - ({qb}))"


def _band_tune_oracle() -> str:
    p = " ".join(
        f"WHEN c.b = {b} AND c.r = {r} "
        f"THEN {_collision_ppm_text('j.j_ppm', b, r, '//')}"
        for b, r in _TUNE_CONFIGS
    )
    vals = ", ".join(f"({b}, {r})" for b, r in _TUNE_CONFIGS)
    return f"""
    WITH {_MINHASH_CTES},
    {_SAMPLED_JAC_CTES},
    pp AS (
      SELECT c.b, c.r, j.j_ppm, CASE {p} END AS p_ppm
      FROM jac j CROSS JOIN (VALUES {vals}) c(b, r)),
    agg AS (
      SELECT b, r,
             CAST(SUM(CASE WHEN j_ppm >= {_RECALL_MIN_J_PPM}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pairs,
             SUM(CASE WHEN j_ppm >= {_RECALL_MIN_J_PPM}
                      THEN p_ppm ELSE 0 END) AS tp_mass,
             SUM(p_ppm) AS all_mass
      FROM pp GROUP BY b, r),
    sc AS (
      SELECT b, r, n_true_pairs,
             CAST(tp_mass // (CASE WHEN n_true_pairs = 0 THEN 1
                                   ELSE n_true_pairs END) AS BIGINT)
               AS est_recall_ppm,
             CAST(all_mass // 1000000 AS BIGINT) AS est_candidates
      FROM agg),
    rk AS (
      SELECT sc.*,
             row_number() OVER (ORDER BY
               CASE WHEN est_recall_ppm >= {_TUNE_TARGET_PPM}
                    THEN 1 ELSE 0 END DESC,
               CASE WHEN est_recall_ppm >= {_TUNE_TARGET_PPM}
                    THEN est_candidates ELSE -est_recall_ppm END ASC,
               est_candidates ASC, b ASC) AS rn
      FROM sc)
    SELECT CAST(b AS BIGINT) AS n_bands, CAST(r AS BIGINT) AS rows_per_band,
           n_true_pairs, est_recall_ppm, est_candidates,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS recommended
    FROM rk
    """


def _band_tune_compute(spark, sf_dir) -> DataFrame:
    """dedup_minhash_band_tune's full BUILD plan (the sampled audit
    frame rebuilt cache-free) — the plan-shape tests' capture
    target."""
    jac = _sampled_rep_jaccards_compute(spark, sf_dir).select(
        "j_ppm", "n_pairs"
    )
    return band_tune_from_jaccards(spark, jac)


@register(
    "dedup_minhash_band_tune",
    oracle=_band_tune_oracle(),
    build=_band_tune_compute,
)
def dedup_minhash_band_tune(spark, sf_dir) -> DataFrame:
    """The ACTIONABLE half of recall monitoring: dedup_recall_report
    measures the deployed {4}x{4} band S-curve; this key evaluates the
    WHOLE (bands, rows_per_band) design space of the {16}-hash budget
    against the corpus's MEASURED similarity distribution and
    recommends the factorization — the recall/cost frontier an
    operator reads before retuning bands (more bands = higher recall
    AND more candidate pairs; the right point depends on where the
    corpus's pair-similarity mass actually sits, which is exactly what
    the sampled exact-Jaccard stage measures).

    Per config, expected recall = mean collision probability
    1-(1-s^r)^b over the TRUE sampled pairs (J >= {0.2}), and expected
    cost = the summed collision mass over ALL sampled pairs (the
    low-J mass is what explodes candidate counts at b=16,r=1).
    Recommendation: cheapest config reaching {0.9} expected recall,
    else the highest-recall config — a pure integer decision.

    Exactness: collision probabilities are unrolled int64 fixed-point
    power chains (every operand <= 1e6, floor-divide per step,
    identical arithmetic text in both engines — no pow()); recall and
    cost are integer floor-divisions of those masses.

    Scale: the sampled-Jaccard stage runs at REP grain
    (sampled_rep_jaccards — the r14 collapse; member-pair counts ride
    along as integer weights, so every mass below is the member-grain
    sum exactly), then a 5-config broadcast cross join over pair-count
    rows and a 5-row window. The output is design-space-sized, safe
    to collect anywhere. Weighted masses accumulate SPLIT in
    thousands (see band_tune_from_jaccards) so the r14 ~256x int64
    ceiling is gone.

    r15 optimization round: the audit frame comes from the session-
    cached sampled_rep_jaccards (shared with the recall report and
    the retune gate); only the 5-config reducer runs per call. Plan
    tests pin the cache-free registry ``build`` body."""
    jac = sampled_rep_jaccards(spark, sf_dir).select("j_ppm", "n_pairs")
    return band_tune_from_jaccards(spark, jac)


#: hard weight ceiling for the split band-tune masses: with
#: sum(n_pairs) = N, the recombination terms are bounded by ~2000 * N
#: (rm < n_true <= N plus lo <= 999 * N), so N < 4e15 keeps every
#: intermediate inside int64 with margin — ~5 octaves past the 1024x
#: profile the r14 note worried about. Exceeding it raises loudly
#: instead of overflowing silently (r14 ADVICE).
_TUNE_MASS_LIMIT = 4_000_000_000_000_000


def band_tune_from_jaccards(spark, jac: DataFrame) -> DataFrame:
    """The (bands, rows_per_band) design-space reducer over a
    (j_ppm, n_pairs) weighted audit frame — the back half of
    dedup_minhash_band_tune, factored so the 1024x-weight-profile
    test can drive it with planted mega-weights.

    int64 mass split (r15): n_pairs * p_ppm sums overflow int64 once
    sum(n_pairs) approaches 9.2e12 (~a 1024x duplication octave —
    the r14 headroom note). The masses therefore accumulate as two
    sums in thousands, hi = sum(n_pairs * (p_ppm div 1000)) and
    lo = sum(n_pairs * (p_ppm mod 1000)), each bounded by
    1000 * sum(n_pairs), and every floor-division
    (hi*1000 + lo) div d recombines WITHOUT forming the full mass:
    (hi*1000 + lo) div d == (hi div d)*1000 + ((hi mod d)*1000 + lo)
    div d — exact by Euclidean division, so the member-grain DuckDB
    oracle (whose HUGEINT sums never overflow) stays byte-identical.
    Safe while sum(n_pairs) < 4e15 (_TUNE_MASS_LIMIT); beyond that
    the guard column raises loudly (raise_error) instead of silently
    wrapping."""
    cfg = spark.createDataFrame(list(_TUNE_CONFIGS), "b int, r int")
    p = " ".join(
        f"WHEN b = {b} AND r = {r} "
        f"THEN {_collision_ppm_text('j_ppm', b, r, 'div')}"
        for b, r in _TUNE_CONFIGS
    )
    pp = jac.crossJoin(F.broadcast(cfg)).select(
        "b", "r", "j_ppm", "n_pairs", F.expr(f"CASE {p} END").alias("p_ppm")
    )
    true_pair = F.col("j_ppm") >= _RECALL_MIN_J_PPM
    hi = F.col("n_pairs") * F.expr("p_ppm div 1000")
    lo = F.col("n_pairs") * (F.col("p_ppm") % 1000)
    agg = pp.groupBy("b", "r").agg(
        F.sum(F.when(true_pair, F.col("n_pairs")).otherwise(0))
        .cast("long")
        .alias("n_true_pairs"),
        F.sum("n_pairs").cast("long").alias("n_all_pairs"),
        F.sum(F.when(true_pair, hi).otherwise(0)).alias("tp_hi"),
        F.sum(F.when(true_pair, lo).otherwise(0)).alias("tp_lo"),
        F.sum(hi).alias("all_hi"),
        F.sum(lo).alias("all_lo"),
    )

    def _div_split(hi_col: str, lo_col: str, d: str):
        # floor((hi*1000 + lo) / d) without materializing hi*1000+lo
        return F.expr(
            f"({hi_col} div ({d})) * 1000"
            f" + ((({hi_col} % ({d})) * 1000 + {lo_col}) div ({d}))"
        )

    guard = F.when(
        F.col("n_all_pairs") > _TUNE_MASS_LIMIT,
        F.expr(
            "raise_error('dedup_minhash_band_tune: audited pair weight"
            " exceeds the int64-safe mass bound — split p_ppm masses"
            " further before this octave')"
        ).cast("long"),
    )
    nt = "(case when n_true_pairs = 0 then 1 else n_true_pairs end)"
    sc = agg.select(
        "b",
        "r",
        "n_true_pairs",
        F.coalesce(guard, _div_split("tp_hi", "tp_lo", nt))
        .cast("long")
        .alias("est_recall_ppm"),
        _div_split("all_hi", "all_lo", "1000000")
        .cast("long")
        .alias("est_candidates"),
    )
    from pyspark.sql import Window

    qualified = (F.col("est_recall_ppm") >= _TUNE_TARGET_PPM).cast("int")
    w = Window.orderBy(
        qualified.desc(),
        F.when(
            F.col("est_recall_ppm") >= _TUNE_TARGET_PPM,
            F.col("est_candidates"),
        )
        .otherwise(-F.col("est_recall_ppm"))
        .asc(),
        F.col("est_candidates").asc(),
        F.col("b").asc(),
    )
    return sc.withColumn("rn", F.row_number().over(w)).select(
        F.col("b").cast("long").alias("n_bands"),
        F.col("r").cast("long").alias("rows_per_band"),
        "n_true_pairs",
        "est_recall_ppm",
        "est_candidates",
        (F.col("rn") == 1).cast("long").alias("recommended"),
    )


_SPLIT_EVAL_MOD = 10
_SPLIT_EVAL_REM = 7

_SPLIT_CLUSTER_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
              UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
    allc AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id))
    SELECT doc_id, component,
           CASE WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR)),
                                          1, 15)) AS BIGINT)
                     % {_SPLIT_EVAL_MOD} = {_SPLIT_EVAL_REM}
                THEN 'eval' ELSE 'train' END AS split
    FROM allc
    """


@register("sample_split_cluster", oracle=_SPLIT_CLUSTER_ORACLE)
def sample_split_cluster(spark, sf_dir) -> DataFrame:
    """Leakage-free train/eval split at NEAR-DUP-CLUSTER grain: every
    document is assigned train or eval by a deterministic hash of its
    LSH connected COMPONENT id (singletons are their own component),
    so a near-duplicate pair can never straddle the split — the
    standard defense against the eval-contamination failure where a
    paraphrase of a test document sits in the training set and the
    benchmark silently measures memorization (same practice as
    splitting by entity/user in sample_split_entity, moved to the
    similarity grain dedup actually operates at; GPT-3's and The
    Pile's dedup-aware split discipline). ~{10}% of clusters land in
    eval (component-hash mod {10} == {7}); whole clusters move
    together, so eval fraction is exact in clusters, approximate in
    documents — which is the correct trade (the alternative biases
    eval toward duplicated content).

    Exactness: the component id is the cluster-min doc_id (engine
    connected_components == the oracle's recursive walk, proven by
    dedup_components), and the split hash is the shared md5-substr
    integer idiom — bit-identical in both engines.

    Scale: reads the REP-grain component state (the O(log^2 n)
    star-contraction runs over rep edges; member pairs never
    enumerate — see _rep_component_state), LEFT-joins the corpus id
    list (ids only — text never shuffles) and applies one codegen'd
    hash expression. The no-pair-straddles property is
    plan-independent (split is a pure function of component) and
    test-asserted against the pair list."""
    d = table(spark, "documents", sf_dir).select("doc_id")
    comp = member_components(spark, sf_dir)
    allc = d.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
    )
    split_hash = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("component").cast("string")), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(_SPLIT_EVAL_MOD),
    )
    return allc.select(
        "doc_id",
        "component",
        F.when(split_hash == _SPLIT_EVAL_REM, "eval")
        .otherwise("train")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# dedup_substring — maximal shared token run per LSH candidate pair
# (the suffix-array "repeated substring" dedup mode, scoped to the
# candidate pairs the LSH index already mined)
# ---------------------------------------------------------------------------

#: a shared run at or above this many TOKENS marks the pair as a
#: substring-duplication case (cross-document boilerplate / quotation
#: block) rather than incidental overlap
_SUBSTR_RUN_TOKENS = 20

#: anchor stride for the spans act-half: a QUALIFYING run spans
#: >= _SUBSTR_RUN_TOKENS - 2 consecutive matched shingle positions,
#: and any that many consecutive integers contain a multiple of the
#: stride — so joining only every stride-th doc_id1 position still
#: witnesses every qualifying run's diagonal (exact, unlike a
#: rare-shingle anchor, which can miss a run made of common shingles)
_SUBSTR_STRIDE = _SUBSTR_RUN_TOKENS - 2


def positional_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, pos, tok3) ALL overlapping 3-token shingles in
    document order — the positional variant of ``shingles3`` (which
    deduplicates): pos is the 0-based word index of the window start,
    so a run of k consecutive equal shingles witnesses a shared run
    of k+2 tokens. Same codegen'd lookahead regex, one posexplode."""
    sh = F.regexp_extract_all(
        F.col("text"), F.lit(r"(?<= |^)(?=(\S+ \S+ \S+))"), 1
    )
    return d.select(
        "doc_id", F.posexplode(sh).alias("pos", "tok3")
    )


#: DuckDB twin of positional_shingles (0-based pos). The unnest bound
#: is derived from the corpus' own max token count (r11 ADVICE: a
#: fixed literal cap would silently truncate DuckDB-side shingles on a
#: longer corpus while Spark processes the full text); MAX(len) over
#: an empty corpus is NULL and range(1, NULL) is empty — no rows, same
#: as the Spark side.
SQL_POS_SHINGLES = """
      SELECT doc_id, i - 1 AS pos,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok3
      FROM (SELECT doc_id, string_split(text, ' ') AS w
            FROM documents) d
      CROSS JOIN (SELECT unnest(range(1,
        (SELECT MAX(len(string_split(text, ' '))) FROM documents))) AS i) ix
      WHERE i <= len(w) - 2
"""


def exact_text_reps(d: DataFrame) -> DataFrame:
    """(doc_id, rep_id) — each document's EXACT-TEXT representative:
    the smallest doc_id among documents with byte-identical text.
    One md5 per document, one metadata-sized groupBy + join — never
    a text-text comparison. The substring family computes runs per
    REPRESENTATIVE pair and transfers them to every member pair,
    which is exact because run structure is a pure function of the
    two texts: text(d) == text(rep(d)) implies every (diag, pa)
    match set — hence every run length and coordinate — is
    identical.

    The grouping key is (md5, length): md5 collisions are practically
    constructible (r12 ADVICE), and colliding texts necessarily
    differ in content — requiring equal length too makes an
    accidental/adversarial collapse of two DISTINCT texts onto one
    representative require a same-length md5 collision, which no
    published construction produces against a keyless corpus. The
    SQL rep maps (receipts oracle) group on the same pair."""
    h = d.select(
        "doc_id", F.md5("text").alias("h"), F.length("text").alias("hl")
    )
    reps = h.groupBy("h", "hl").agg(F.min("doc_id").alias("rep_id"))
    return h.join(reps, ["h", "hl"]).select("doc_id", "rep_id")


def text_rep_map_all(spark, sf_dir: str) -> DataFrame:
    """The UNFILTERED (doc_id, rep_id) exact-text rep map — every
    document, no min-token scope. For collapses of keys whose own
    scope differs from the LSH family's >= 3-token filter
    (dedup_paragraph emits a row for every document; dedup_span's
    >= 8-token scope applies inside its span stage). Checkpointed
    once per session like text_rep_map."""
    from ..cache import session_cache

    def build():
        d = table(spark, "documents", sf_dir).select("doc_id", "text")
        return exact_text_reps(d).localCheckpoint()

    return session_cache(
        spark,
        ("text_reps_all", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


def text_rep_map(spark, sf_dir: str) -> DataFrame:
    """The checkpointed (doc_id, rep_id) exact-text rep map, built
    once per session — shared by the LSH rep state and the collapses
    that need ONLY the map (dedup_simhash), so a map-only consumer
    never triggers the band-signature build as a side effect."""
    from ..cache import session_cache

    def build():
        d = (
            table(spark, "documents", sf_dir)
            .select("doc_id", "text")
            .filter(min_tokens_filter())
        )
        return exact_text_reps(d).localCheckpoint()

    return session_cache(
        spark,
        ("text_reps", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


def _rep_pair_state(spark, sf_dir: str) -> dict:
    """{'rmap': (doc_id, rep_id), 'rp': oriented (r1, r2)} — the two
    SMALL checkpointed pieces every rep-collapsed key derives from,
    built once per session. This is the r13 collapse-BEFORE-candidates
    fix: r12 collapsed runs/distances to representative pairs but
    still MATERIALIZED the member-pair LSH list first (the band
    self-join over all documents) — at the 256x duplicated-union
    octave a single hot band bucket's quadratic pair expansion OOMs
    one task's heap (SCALE_SMOKE_r13 boundary record). Here the band
    join runs over REPRESENTATIVE signatures only, so bucket sizes —
    and the whole candidate stage — stay base-corpus-sized at ANY
    duplication factor; member pairs are derived lazily (see
    lsh_rep_pairs) only where a consumer genuinely enumerates them.

    Exactness of the rep-level candidate set: sig(doc) is a pure
    function of text, so sig(member) == sig(rep) and two documents
    band-collide iff their reps do (or share a rep — identical texts
    collide in every band, hence the self-pairs for groups of >= 2).
    ORIENTATION: downstream run/span coordinates are computed per
    ORIENTED rep pair (r1 = rep of the smaller doc_id), and an
    orientation (x, y) occurs among member pairs iff min(doc_id in
    X) < max(doc_id in Y) — derivable from per-group id ranges, no
    member enumeration. The unchanged member-grain DuckDB oracles
    hash-prove all of this on every driver run."""
    from ..cache import session_cache

    def build():
        rmap = text_rep_map(spark, sf_dir)
        stats = rmap.groupBy("rep_id").agg(
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
        reps = rmap.select(
            F.col("rep_id").alias("doc_id")
        ).distinct()
        sig = band_signatures_cached(spark, sf_dir).join(
            reps, "doc_id", "left_semi"
        )
        a = sig.select(F.col("doc_id").alias("ra"), "band", "s")
        b = sig.select(F.col("doc_id").alias("rb"), "band", "s")
        u = (
            a.join(b, ["band", "s"])
            .filter(F.col("ra") < F.col("rb"))
            .select("ra", "rb")
            .distinct()
        )
        # orientation (ra, rb): ALWAYS present — rep_id is its group's
        # min doc_id (exact_text_reps uses F.min), so min(members of
        # ra's group) = ra < rb <= max(members of rb's group) holds for
        # every band-join row unconditionally. (If rep selection ever
        # stops being group-min, reinstate the a_mn < b_mx filter.)
        # The reverse orientation (rb, ra) needs some member of rb's
        # group below some member of ra's group: b_mn < a_mx.
        sa = stats.select(
            F.col("rep_id").alias("ra"), F.col("mx").alias("a_mx")
        )
        sb = stats.select(
            F.col("rep_id").alias("rb"), F.col("mn").alias("b_mn")
        )
        o1 = u.select(F.col("ra").alias("r1"), F.col("rb").alias("r2"))
        o2 = (
            u.join(sa, "ra")
            .join(sb, "rb")
            .filter(F.col("b_mn") < F.col("a_mx"))
            .select(F.col("rb").alias("r1"), F.col("ra").alias("r2"))
        )
        selfp = stats.filter(F.col("n") >= 2).select(
            F.col("rep_id").alias("r1"), F.col("rep_id").alias("r2")
        )
        rp = o1.unionByName(o2).unionByName(selfp).localCheckpoint()
        return {"rmap": rmap, "rp": rp}

    return session_cache(
        spark,
        ("substr_rep_state", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


def oriented_rep_pairs(spark, sf_dir: str) -> DataFrame:
    """The distinct oriented representative pair set — what the match
    and distance stages iterate. Base-corpus-sized at any exact
    duplication factor (see _rep_pair_state)."""
    return _rep_pair_state(spark, sf_dir)["rp"]


def lsh_rep_pairs(spark, sf_dir: str) -> DataFrame:
    """(doc_id1, doc_id2, r1, r2) — the LSH candidate MEMBER pair
    list with each side's exact-text representative attached,
    derived LAZILY from the checkpointed (rmap, oriented rep pairs)
    state: expand each oriented rep pair by its member groups and
    keep da < db (each member pair matches exactly its own
    orientation's row). Identical to the member-level band self-join
    (sig(member) == sig(rep)), but the N^2-inflated volume now exists
    only as JOIN FANOUT streamed through the consumer's own
    aggregation/transfer — never a materialized checkpoint, never a
    hot band bucket (the r13 256x fix). Consumers that only need the
    rep-pair set read oriented_rep_pairs instead."""
    st = _rep_pair_state(spark, sf_dir)
    a = st["rmap"].select(
        F.col("rep_id").alias("r1"), F.col("doc_id").alias("da")
    )
    b = st["rmap"].select(
        F.col("rep_id").alias("r2"), F.col("doc_id").alias("db")
    )
    return (
        st["rp"]
        .join(a, "r1")
        .join(b, "r2")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_id1"),
            F.col("db").alias("doc_id2"),
            "r1",
            "r2",
        )
    )


def _rep_component_state(spark, sf_dir: str) -> dict:
    """{'rcomp': (rep_id, component), 'rsize': (component,
    cluster_size)} — connected components of the LSH candidate graph
    at REPRESENTATIVE grain, built once per session. This is the r14
    collapse of the last member-grain LSH consumers (components,
    weights, cluster stats, survivor pick, split): components and
    sizes are pure functions of the REP graph, because exact-text
    members share band signatures — every member of a group is
    pairwise LSH-connected to every member of any band-colliding
    group, and to its own group via the self-pair clique. Hence
    member components == rep components expanded by group, and the
    member-grain component LABEL (min member doc_id reachable)
    equals the rep-grain label (min rep_id reachable) because rep_id
    is its group's min doc_id (exact_text_reps). cluster_size = sum
    of group member counts over the rep component.

    Scale: nothing on this path enumerates member pairs — the 989M
    member-pair checkpoint of the 256x octave is no longer on any
    component consumer's path, and a megadup template (c ~ 1e6
    identical members at 100 TB) costs ONE rep node here instead of
    pushing c^2/2 expansion rows through a single join key (the
    hot-bucket mechanism r13 fixed in candidate generation, one
    level downstream — r13 verdict #1). The unchanged member-grain
    DuckDB oracles of every consumer hash-prove the collapse exact
    on every driver run."""
    from ..cache import session_cache

    def build():
        st = _rep_pair_state(spark, sf_dir)
        edges = st["rp"].filter(F.col("r1") != F.col("r2"))
        rc = connected_components(
            edges, id1="r1", id2="r2", out_id="rep_id"
        )
        # groups of >= 2 members are in the member pair graph even
        # with no external rep edge (the group is a clique): each
        # such rep not already labeled is its own component
        selfr = (
            st["rp"]
            .filter(F.col("r1") == F.col("r2"))
            .select(F.col("r1").alias("rep_id"))
        )
        lone = selfr.join(rc, "rep_id", "left_anti").select(
            "rep_id", F.col("rep_id").alias("component")
        )
        rcomp = rc.unionByName(lone).localCheckpoint()
        gn = st["rmap"].groupBy("rep_id").agg(
            F.count(F.lit(1)).alias("n")
        )
        rsize = (
            rcomp.join(gn, "rep_id")
            .groupBy("component")
            .agg(F.sum("n").cast("long").alias("cluster_size"))
            .localCheckpoint()
        )
        return {"rcomp": rcomp, "rsize": rsize}

    return session_cache(
        spark,
        ("rep_comp", sf_dir),
        build,
        deps=[f"{sf_dir}/documents.parquet"],
    )


def member_components(spark, sf_dir: str) -> DataFrame:
    """(doc_id, component) for every document appearing in at least
    one LSH candidate pair — row-identical to
    ``connected_components(dedup_minhash_lsh(...))`` but derived at
    rep grain (see _rep_component_state): one hash join of the rep
    map against the rep component table, never a member-pair
    enumeration."""
    st = _rep_pair_state(spark, sf_dir)
    rc = _rep_component_state(spark, sf_dir)["rcomp"]
    return st["rmap"].join(rc, "rep_id").select("doc_id", "component")


def _rep_positional_shingles(spark, sf_dir: str) -> DataFrame:
    """positional_shingles restricted to REPRESENTATIVE documents —
    the only texts the substring match stages read (an N-fold
    exact-duplicated corpus explodes 1/N of its positions)."""
    d = (
        table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .filter(min_tokens_filter())
    )
    reps = (
        _rep_pair_state(spark, sf_dir)["rmap"]
        .select(F.col("rep_id").alias("doc_id"))
        .distinct()
    )
    return positional_shingles(d.join(reps, "doc_id"))


def substring_matches(spark, sf_dir: str) -> DataFrame:
    """(r1, r2, diag, pa) — every matched shingle position per
    REPRESENTATIVE pair (the census key's match stage; the volume its
    islands window shuffles and wall time must track). No .distinct():
    positional shingles carry ONE tok3 per (doc, pos) and the rep pair
    list is distinct, so each match row is a unique (pa, pb) — and
    (diag, pa) is bijective with it. A distinct here would be a full
    extra shuffle of the largest intermediate for nothing."""
    rp = oriented_rep_pairs(spark, sf_dir)
    psh = _rep_positional_shingles(spark, sf_dir)
    a = psh.select(
        F.col("doc_id").alias("r1"), F.col("pos").alias("pa"), "tok3"
    )
    b = psh.select(
        F.col("doc_id").alias("r2"), F.col("pos").alias("pb"), "tok3"
    )
    return (
        rp.join(a, "r1")
        .join(b, ["r2", "tok3"])
        .select(
            "r1", "r2", (F.col("pa") - F.col("pb")).alias("diag"), "pa"
        )
    )


def substring_anchored_matches(spark, sf_dir: str) -> DataFrame:
    """(r1, r2, diag, pa) — matched positions on SURVIVING diagonals
    only: the spans act-half's two-stage match. Stage 1 joins only
    every {stride}-th doc_id1 position (1/{stride} of the raw match
    volume) to find candidate diagonals; stage 2 re-derives the FULL
    match set on those diagonals via an equi-join on (doc, position,
    shingle) — fanout <= 1 per probed position, so its volume is the
    matched positions on surviving diagonals, not the raw volume.

    EXACT for the act-half: a qualifying run covers >= {stride}
    consecutive doc_id1 positions, and any {stride} consecutive
    integers contain a multiple of {stride}, so every qualifying
    run's diagonal survives stage 1; stage 2 reproduces that
    diagonal's complete match set, hence identical islands, run
    lengths and coordinates. Runs living only on non-surviving
    diagonals are shorter than the threshold and would be filtered
    anyway. (A rare-shingle anchor would be cheaper still but is NOT
    complete — a run built entirely from common shingles has no rare
    anchor; the stride guarantee costs nothing extra and keeps the
    DuckDB oracle byte-identical.)"""
    rp = oriented_rep_pairs(spark, sf_dir)
    psh = _rep_positional_shingles(spark, sf_dir)
    a = psh.select(
        F.col("doc_id").alias("r1"), F.col("pos").alias("pa"), "tok3"
    )
    b = psh.select(
        F.col("doc_id").alias("r2"), F.col("pos").alias("pb"), "tok3"
    )
    anch = a.filter(F.col("pa") % _SUBSTR_STRIDE == 0)
    sd = (
        rp.join(anch, "r1")
        .join(b, ["r2", "tok3"])
        .select(
            "r1", "r2", (F.col("pa") - F.col("pb")).alias("diag")
        )
        .distinct()
    )
    a_exp = sd.join(a, "r1").withColumn(
        "pb", F.col("pa") - F.col("diag")
    ).filter(F.col("pb") >= 0)
    return a_exp.join(b, ["r2", "pb", "tok3"]).select(
        "r1", "r2", "diag", "pa"
    )


def _substring_runs(m: DataFrame) -> DataFrame:
    """(r1, r2, diag, run_len, pa_start) — gaps-and-islands over the
    matched positions: maximal consecutive-position runs per (pair,
    diagonal). The groupBy key is a superset of the window partition
    key, so the aggregation reuses the window's shuffle."""
    w = Window.partitionBy("r1", "r2", "diag").orderBy("pa")
    return (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("r1", "r2", "diag", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("pa").alias("pa_start"),
        )
    )


_SUBSTR_ORACLE = f"""
    WITH {_MINHASH_CTES},
    psh AS ({SQL_POS_SHINGLES}),
    m AS (
      SELECT c.doc_id1, c.doc_id2,
             a.pos - b.pos AS diag, a.pos AS pa
      FROM lsh_cand c
      JOIN psh a ON a.doc_id = c.doc_id1
      JOIN psh b ON b.doc_id = c.doc_id2 AND b.tok3 = a.tok3),
    isl AS (
      SELECT doc_id1, doc_id2, diag, pa,
             pa - row_number() OVER (
               PARTITION BY doc_id1, doc_id2, diag ORDER BY pa) AS grp
      FROM m),
    runs AS (
      SELECT doc_id1, doc_id2, diag, grp, COUNT(*) AS run_len
      FROM isl GROUP BY doc_id1, doc_id2, diag, grp),
    best AS (
      SELECT doc_id1, doc_id2, MAX(run_len) AS mr
      FROM runs GROUP BY doc_id1, doc_id2)
    SELECT c.doc_id1, c.doc_id2,
           CAST(COALESCE(b.mr + 2, 0) AS BIGINT) AS max_run_tokens,
           CASE WHEN COALESCE(b.mr + 2, 0) >= {_SUBSTR_RUN_TOKENS}
                THEN 'shared_run' ELSE 'minor_overlap' END AS verdict
    FROM lsh_cand c
    LEFT JOIN best b
      ON b.doc_id1 = c.doc_id1 AND b.doc_id2 = c.doc_id2
    """


@register("dedup_substring", oracle=_SUBSTR_ORACLE)
def dedup_substring(spark, sf_dir) -> DataFrame:
    """EXACT REPEATED-SUBSTRING dedup — the classic cross-document
    repeated-run detection (the public suffix-array deduplication
    technique: Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better"), re-expressed over the LSH candidate
    pair index instead of a corpus-wide suffix array: for each
    candidate pair, the MAXIMAL shared consecutive token run. A run
    of k consecutive position-aligned equal 3-shingles is a shared
    run of k+2 tokens; alignment is the gaps-and-islands grouping on
    the position DIAGONAL (pa - pb constant along a shared run, the
    dedup_span islands idiom lifted to two documents), so no
    quadratic per-pair alignment matrix is ever built.

    Output: (doc_id1, doc_id2, max_run_tokens, verdict) — pairs whose
    longest shared run reaches {20} tokens are 'shared_run' (the
    remove-the-duplicated-span cases), others 'minor_overlap'. Pairs
    sharing no shingle at all (possible: a band signature can match
    on minhash values alone) report 0.

    Exactness: token positions, row_number islands and COUNT/MAX are
    integers end to end; the shingle text join is exact string
    equality — no hashing, no floats.

    Scale: runs are computed once per REPRESENTATIVE pair (exact-text
    collapse, see lsh_rep_pairs — run structure is a pure
    function of the two texts, so member pairs inherit the rep pair's
    result verbatim; the r11 64x duplicated-union octave inflated
    pairs 4895x and exhausted host spill disk in this key's match
    shuffle, while the rep-pair set stays base-sized). Shingles are
    restricted to representative documents and joined through the rep
    pair list, so the cost is sum over DISTINCT-TEXT pairs of
    (|doc1 shingles| + matched positions) — never corpus x corpus
    (a full suffix array at 100 TB is a dedicated sort job; scoping
    exact-run detection to LSH candidates is the standard two-stage
    compromise: LSH finds WHO overlaps, this finds WHERE and HOW
    MUCH). The diagonal window shuffles only rep-pair matched
    positions; the transfer back to member pairs is one hash join of
    the pair list against the <=1-row-per-rep-pair run table."""
    pm = lsh_rep_pairs(spark, sf_dir)
    m = substring_matches(spark, sf_dir)
    best = _substring_runs(m).groupBy("r1", "r2").agg(
        F.max("run_len").alias("mr")
    )
    mrt = F.coalesce(F.col("mr") + 2, F.lit(0)).cast("long")
    return (
        pm.join(best, ["r1", "r2"], "left")
        .select(
            "doc_id1",
            "doc_id2",
            mrt.alias("max_run_tokens"),
            F.when(mrt >= _SUBSTR_RUN_TOKENS, "shared_run")
            .otherwise("minor_overlap")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_retune_gate — monitor -> act for the dedup index (the ANN
# retrain gate's discipline applied to banded LSH)
# ---------------------------------------------------------------------------

#: the gate audits HIGH-similarity true pairs only (J >= 0.7): the
#: pairs a near-dup sweep MUST catch (the 4x4 band S-curve is ~0.93+
#: there); lower deciles are the tuner's cost/recall trade, not a
#: serving guarantee
_GATE_MIN_J_PPM = 700_000
#: measured recall below this over the audited pairs flips the gate
#: to 'retune' (healthy banded LSH measures 1000000 ppm on the
#: bimodal fixture at every SF — near-exact pairs are always caught)
_GATE_THRESHOLD_PPM = 900_000


def lsh_gate_decision(pairs: DataFrame, tok: DataFrame) -> DataFrame:
    """The one-row gate decision for any (doc_id1, doc_id2) pair list
    against any (doc_id, tok) distinct shingle frame — factored out so
    the degraded-index test can feed a corrupted pair list (the
    ann_retrain_gate test pattern). Zero audited pairs reads as
    recall 0 -> 'retune' (no evidence is an alarm, never a pass)."""
    jac = sampled_jaccards(tok).filter(F.col("j_ppm") >= _GATE_MIN_J_PPM)
    lab = jac.join(
        pairs.withColumn("hit", F.lit(1)), ["doc_id1", "doc_id2"], "left"
    ).select(
        F.coalesce("hit", F.lit(0)).alias("hit"),
        F.lit(1).cast("long").alias("n_pairs"),
    )
    return _gate_decision_from_labels(lab)


def _gate_decision_from_labels(lab: DataFrame) -> DataFrame:
    """(hit, n_pairs) labeled audited pairs -> the one-row retune
    decision — the shared back half of the pair-list (n_pairs = 1)
    and weighted rep-grain gate paths."""
    thr = _GATE_THRESHOLD_PPM
    return (
        lab.agg(
            F.coalesce(F.sum("n_pairs"), F.lit(0))
            .cast("long")
            .alias("n_true_pairs"),
            F.coalesce(F.sum(F.col("n_pairs") * F.col("hit")), F.lit(0))
            .cast("long")
            .alias("n_caught"),
        )
        .select(
            "n_true_pairs",
            "n_caught",
            F.expr(
                "CASE WHEN n_true_pairs = 0 THEN 0L "
                "ELSE n_caught * 1000000L div n_true_pairs END"
            ).alias("recall_ppm_measured"),
            F.lit(thr).cast("long").alias("threshold_ppm"),
            F.expr(
                f"CASE WHEN n_true_pairs = 0 THEN 'retune' "
                f"WHEN n_caught * 1000000L div n_true_pairs < {thr} "
                "THEN 'retune' ELSE 'serve' END"
            ).alias("decision"),
            F.lit(N_BANDS).cast("long").alias("bands"),
            F.lit(ROWS_PER_BAND).cast("long").alias("rows_per_band"),
        )
    )


_RETUNE_GATE_ORACLE = f"""
    WITH {_MINHASH_CTES},
    {_SAMPLED_JAC_CTES},
    tp AS (SELECT * FROM jac WHERE j_ppm >= {_GATE_MIN_J_PPM}),
    lab AS (SELECT CASE WHEN l.doc_id1 IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM tp t LEFT JOIN lsh_cand l
              ON l.doc_id1 = t.doc_id1 AND l.doc_id2 = t.doc_id2),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
                 CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_caught
          FROM lab)
    SELECT n_true_pairs, n_caught,
           CAST(CASE WHEN n_true_pairs = 0 THEN 0
                ELSE n_caught * 1000000 // n_true_pairs END AS BIGINT)
             AS recall_ppm_measured,
           CAST({_GATE_THRESHOLD_PPM} AS BIGINT) AS threshold_ppm,
           CASE WHEN n_true_pairs = 0 THEN 'retune'
                WHEN n_caught * 1000000 // n_true_pairs
                     < {_GATE_THRESHOLD_PPM} THEN 'retune'
                ELSE 'serve' END AS decision,
           CAST({N_BANDS} AS BIGINT) AS bands,
           CAST({ROWS_PER_BAND} AS BIGINT) AS rows_per_band
    FROM m
    """


@register(
    "dedup_retune_gate",
    oracle=_RETUNE_GATE_ORACLE,
    gate=corpus_deps("documents"),
)
def dedup_retune_gate(spark, sf_dir) -> DataFrame:
    """MONITOR -> ACT for the DEDUP index — the near-dup lifecycle's
    analog of ann_retrain_gate (mine: dedup_minhash_lsh; maintain:
    dedup_incremental; monitor: dedup_recall_report; decide: THIS):
    measure the recall of the SERVED pair list over the sampled
    high-similarity true pairs (J >= {0.7} — the pairs a near-dup
    sweep must catch; the audited ground truth is the same
    inverted-index exact-Jaccard sample the recall report reads) and
    emit the one-row decision table: below {900000} ppm the verdict
    is 'retune' and the operator reads dedup_minhash_band_tune's
    measured cost/recall frontier to pick the new (bands, rows) —
    re-banding changes the index CONTRACT (a spec change rebuilds the
    persisted pair index via the staleness guards), so the act here
    is the decision + current config rendering, exactly the
    lm_drift_gate shape. Zero audited pairs alarms ('retune'), never
    passes silently.

    Exactness: counts, one guarded floor-division and integer CASEs;
    the config cells are the builder's own N_BANDS/ROWS_PER_BAND
    constants (the catalog-key discipline). The healthy fixed point
    (recall 1000000 ppm -> 'serve') is what the oracle pins; the
    degraded path (corrupted pair list -> 'retune') is pinned by a
    unit test via the factored lsh_gate_decision.

    Scale: the audit is the SAMPLE-bounded exact pass the recall
    report already pays (~6% of PPJoin cost), the pair list is the
    session-cached index — a standing gate costs one sampled join
    per corpus snapshot at 100 TB. The whole audit runs at REP grain
    (sampled_rep_jaccards): exact Jaccard over representative texts,
    candidacy from the rep pair set, member-pair counts by group
    products — nothing member-pair-sized anywhere. Decision served
    via cache.gate_decision (fingerprint: documents.parquet) —
    repeated calls (rollup_gate_panel) reuse the measured row."""
    lab = sampled_rep_jaccards(spark, sf_dir).filter(
        F.col("j_ppm") >= _GATE_MIN_J_PPM
    ).select("hit", "n_pairs")
    return _gate_decision_from_labels(lab)


# ---------------------------------------------------------------------------
# dedup_substring_spans — WHERE the shared run lives (the surgical-
# removal coordinates for dedup_substring's shared_run pairs)
# ---------------------------------------------------------------------------

_SPANS_ORACLE = f"""
    WITH {_MINHASH_CTES},
    psh AS ({SQL_POS_SHINGLES}),
    m AS (
      SELECT c.doc_id1, c.doc_id2,
             a.pos - b.pos AS diag, a.pos AS pa
      FROM lsh_cand c
      JOIN psh a ON a.doc_id = c.doc_id1
      JOIN psh b ON b.doc_id = c.doc_id2 AND b.tok3 = a.tok3),
    isl AS (
      SELECT doc_id1, doc_id2, diag, pa,
             pa - row_number() OVER (
               PARTITION BY doc_id1, doc_id2, diag ORDER BY pa) AS grp
      FROM m),
    runs AS (
      SELECT doc_id1, doc_id2, diag, grp,
             COUNT(*) AS run_len, MIN(pa) AS pa_start
      FROM isl GROUP BY doc_id1, doc_id2, diag, grp),
    pick AS (
      SELECT doc_id1, doc_id2, run_len, pa_start, diag,
             row_number() OVER (
               PARTITION BY doc_id1, doc_id2
               ORDER BY run_len DESC, pa_start, diag) AS rn
      FROM runs)
    SELECT doc_id1, doc_id2,
           CAST(run_len + 2 AS BIGINT) AS run_tokens,
           CAST(pa_start AS BIGINT) AS a_start,
           CAST(pa_start - diag AS BIGINT) AS b_start
    FROM pick
    WHERE rn = 1 AND run_len + 2 >= {_SUBSTR_RUN_TOKENS}
    """


def _rep_substring_spans_compute(spark, sf_dir) -> DataFrame:
    """The rep-grain span table BUILD plan: (r1, r2, run_tokens,
    a_start, b_start) — one deterministic maximal qualifying span per
    representative pair, from the strided-anchor two-stage match.
    Uncached (the cache builder's body and, via the *_compute
    wrappers, the plan-shape capture target)."""
    m = substring_anchored_matches(spark, sf_dir)
    runs = _substring_runs(m)
    qual = runs.filter(F.col("run_len") + 2 >= _SUBSTR_RUN_TOKENS)
    best = qual.groupBy("r1", "r2").agg(F.max("run_len").alias("mr"))
    return (
        qual.join(best, ["r1", "r2"])
        .filter(F.col("run_len") == F.col("mr"))
        .groupBy("r1", "r2", "run_len")
        .agg(F.min(F.struct("pa_start", "diag")).alias("t"))
        .select(
            "r1",
            "r2",
            (F.col("run_len") + 2).cast("long").alias("run_tokens"),
            F.col("t.pa_start").cast("long").alias("a_start"),
            (F.col("t.pa_start") - F.col("t.diag")).cast("long").alias(
                "b_start"
            ),
        )
    )


def rep_substring_spans(spark, sf_dir) -> DataFrame:
    """Session-cached localCheckpoint of the rep-grain span table — a
    pure function of the corpus file, built once per (session,
    corpus fingerprint) and shared by spans / rewrite / rewrite_all /
    the receipts artifact. deps= evicts on a corpus rewrite."""
    return session_cache(
        spark,
        ("substr_rep_spans", sf_dir, _SUBSTR_RUN_TOKENS, _SUBSTR_STRIDE),
        lambda: _rep_substring_spans_compute(spark, sf_dir).localCheckpoint(),
        deps=[f"{sf_dir}/documents.parquet"],
    )


def _spans_member(spark, sf_dir, rep_spans: DataFrame) -> DataFrame:
    """Member-pair expansion of the rep span table — the one hash
    join against the <=1-row-per-rep-pair span table."""
    pm = lsh_rep_pairs(spark, sf_dir)
    return pm.join(rep_spans, ["r1", "r2"]).select(
        "doc_id1", "doc_id2", "run_tokens", "a_start", "b_start"
    )


def _substring_spans_compute(spark, sf_dir) -> DataFrame:
    """dedup_substring_spans' full BUILD plan (anchored match + picks
    + member transfer, no span cache) — the plan-shape tests' capture
    target."""
    return _spans_member(spark, sf_dir, _rep_substring_spans_compute(spark, sf_dir))


@register(
    "dedup_substring_spans",
    oracle=_SPANS_ORACLE,
    build=_substring_spans_compute,
)
def dedup_substring_spans(spark, sf_dir) -> DataFrame:
    """WHERE the duplication lives: for every 'shared_run' pair of
    dedup_substring, the MAXIMAL shared run's coordinates —
    (doc_id1, doc_id2, run_tokens, a_start, b_start): token index of
    the run start in each document. This is the surgical-removal half
    of the suffix-array dedup recipe (Lee et al. 2022 REMOVES the
    duplicated span rather than the document — dedup_span does it at
    single-document grain, this does it cross-document): a downstream
    rewrite job slices tokens [a_start, a_start + run_tokens) out of
    the lower-quality side. Ties between equal-length runs break
    deterministically (smallest a_start, then diagonal), so exactly
    ONE span row per qualifying pair.

    Exactness: the same integer islands machinery as dedup_substring
    plus one MIN and one deterministic pick — no floats. The two
    volume reductions are both provably lossless here: exact-text rep
    collapse (run structure is a pure function of the two texts) and
    strided anchoring (every qualifying run's diagonal contains an
    anchor by the pigeonhole on {18} consecutive positions; stage 2
    re-derives the complete match set on surviving diagonals, and
    runs confined to non-surviving diagonals are below the threshold
    by the same pigeonhole) — see substring_anchored_matches. The
    unchanged DuckDB oracle computes the naive full-volume plan, so
    the driver hash-check proves both reductions exact on every run.

    Scale: the r11 64x duplicated-union octave killed this key in the
    match-volume shuffle (SPILL out of host disk, SCALE_SMOKE_r11 —
    4895x pair inflation times full per-pair match volume). Now the
    match stage pays (a) stage-1 anchored volume = raw rep-pair
    volume / {18}, then (b) matched positions on qualifying-run
    diagonals only — both over the base-sized rep-pair set. The pick
    stages stay AGG-based (max + lexicographic min-struct, never a
    per-pair sort window that funnels a hot pair's runs into one
    task); the member-pair transfer is one hash join against the
    <=1-row-per-rep-pair span table.

    r15: the rep span table serves from the session cache
    (``rep_substring_spans``), shared with rewrite / rewrite_all and
    the receipts artifact build; plan tests pin the registry
    ``build`` body."""
    return _spans_member(spark, sf_dir, rep_substring_spans(spark, sf_dir))


# ---------------------------------------------------------------------------
# dedup_substring_rewrite — APPLY the surgical removal (the act half
# of the suffix-array recipe: detect -> locate -> REMOVE)
# ---------------------------------------------------------------------------

_REWRITE_ORACLE = f"""
    WITH {_MINHASH_CTES},
    psh AS ({SQL_POS_SHINGLES}),
    m AS (
      SELECT c.doc_id1, c.doc_id2,
             a.pos - b.pos AS diag, a.pos AS pa
      FROM lsh_cand c
      JOIN psh a ON a.doc_id = c.doc_id1
      JOIN psh b ON b.doc_id = c.doc_id2 AND b.tok3 = a.tok3),
    isl AS (
      SELECT doc_id1, doc_id2, diag, pa,
             pa - row_number() OVER (
               PARTITION BY doc_id1, doc_id2, diag ORDER BY pa) AS grp
      FROM m),
    runs AS (
      SELECT doc_id1, doc_id2, diag, grp,
             COUNT(*) AS run_len, MIN(pa) AS pa_start
      FROM isl GROUP BY doc_id1, doc_id2, diag, grp),
    pick AS (
      SELECT doc_id1, doc_id2, run_len, pa_start, diag,
             row_number() OVER (
               PARTITION BY doc_id1, doc_id2
               ORDER BY run_len DESC, pa_start, diag) AS rn
      FROM runs),
    spans AS (
      SELECT doc_id1, doc_id2,
             CAST(run_len + 2 AS BIGINT) AS run_tokens,
             CAST(pa_start - diag AS BIGINT) AS b_start
      FROM pick
      WHERE rn = 1 AND run_len + 2 >= {_SUBSTR_RUN_TOKENS}),
    vic AS (
      SELECT doc_id1, doc_id2, run_tokens, b_start,
             row_number() OVER (
               PARTITION BY doc_id2
               ORDER BY run_tokens DESC, b_start, doc_id1) AS vrn
      FROM spans),
    dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT v.doc_id2 AS doc_id, v.doc_id1 AS donor_id,
           CAST(len(d.w) AS BIGINT) AS n_tokens_before,
           v.run_tokens AS removed_tokens,
           CAST(len(d.w) - v.run_tokens AS BIGINT) AS n_tokens_after,
           md5(COALESCE(array_to_string(
             d.w[1:CAST(v.b_start AS INT)]
               || d.w[CAST(v.b_start + v.run_tokens + 1 AS INT):len(d.w)],
             ' '), '')) AS text_md5_after
    FROM vic v JOIN dw d ON d.doc_id = v.doc_id2
    WHERE v.vrn = 1
    """


def _substring_rewrite_compute(spark, sf_dir) -> DataFrame:
    """dedup_substring_rewrite's full BUILD plan (span detection +
    victim pick + corpus slice, no span cache) — the plan-shape
    tests' capture target."""
    return _rewrite_from_spans(
        spark, sf_dir, _substring_spans_compute(spark, sf_dir)
    )


@register(
    "dedup_substring_rewrite",
    oracle=_REWRITE_ORACLE,
    build=_substring_rewrite_compute,
)
def dedup_substring_rewrite(spark, sf_dir) -> DataFrame:
    """APPLY the surgical removal — the act half of the suffix-array
    dedup recipe (Lee et al. 2022 removes the duplicated SPAN, not
    the document): for each victim document, slice the maximal shared
    run out of its token stream and emit the rewrite receipt —
    (doc_id, donor_id, n_tokens_before, removed_tokens,
    n_tokens_after, text_md5_after). Victim = doc_id2 of each span
    pair (keep-first-occurrence, the dedup survivor convention); a
    document hit by several donors gets exactly ONE removal per pass
    (its longest span, ties broken by b_start then donor id) — the
    greedy first iteration of the production rewrite loop, which
    re-runs detection on the rewritten corpus until no shared_run
    remains. The md5 receipt is what the rewrite job verifies after
    materializing the new corpus shard.

    Exactness: integer token coordinates end to end; both engines
    slice the same single-space token array (Spark slice(arr, start,
    len) with 1-based start == DuckDB end-inclusive w[a:b] — length-0
    and beyond-end slices both yield [] on both engines, checked) and
    md5 the same re-joined string (DuckDB array_to_string([]) is NULL
    where Spark array_join([]) is '' — COALESCE'd, so a fully-
    contained victim hashes the empty string on both engines).

    Scale: span detection is pair-attributed (1396x pairs -> 3.4x
    wall measured at 16x, SCALE_SMOKE_r11); the rewrite itself joins
    the <=1-row-per-victim span table back to the corpus on doc_id —
    one hash join keyed by the primary key, then per-row slicing
    inside codegen. At 100 TB the receipt table is the shuffle-cheap
    side; the corpus is never shuffled (join key = its own key).

    r15: consumes the session-cached rep span table (via
    dedup_substring_spans); the victim pick + corpus slice stay
    per-call."""
    return _rewrite_from_spans(
        spark, sf_dir, dedup_substring_spans(spark, sf_dir)
    )


def _rewrite_from_spans(spark, sf_dir, spans: DataFrame) -> DataFrame:
    # skew-tolerant victim pick (same reasoning as the spans pick): a
    # document near-dup to thousands of donors would funnel all its
    # span rows into one window task; max + min-struct aggregates
    # reproduce the (run_tokens DESC, b_start, doc_id1) pick with
    # partial aggregation.
    vmax = spans.groupBy("doc_id2").agg(F.max("run_tokens").alias("mx"))
    one = (
        spans.join(vmax, "doc_id2")
        .filter(F.col("run_tokens") == F.col("mx"))
        .groupBy("doc_id2", "run_tokens")
        .agg(F.min(F.struct("b_start", "doc_id1")).alias("t"))
        .select(
            F.col("t.doc_id1").alias("doc_id1"),
            "doc_id2",
            "run_tokens",
            F.col("t.b_start").alias("b_start"),
        )
    )
    d = table(spark, "documents", sf_dir).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    n_before = F.size("w").cast("long")
    prefix = F.slice(F.col("w"), F.lit(1), F.col("b_start").cast("int"))
    suf_start = (F.col("b_start") + F.col("run_tokens") + 1).cast("int")
    suf_len = F.greatest(
        F.size("w") - (F.col("b_start") + F.col("run_tokens")).cast("int"),
        F.lit(0),
    )
    rewritten = F.array_join(F.concat(prefix, F.slice(F.col("w"), suf_start, suf_len)), " ")
    return (
        one.join(d, one.doc_id2 == d.doc_id)
        .select(
            F.col("doc_id2").alias("doc_id"),
            F.col("doc_id1").alias("donor_id"),
            n_before.alias("n_tokens_before"),
            F.col("run_tokens").alias("removed_tokens"),
            (n_before - F.col("run_tokens")).cast("long").alias("n_tokens_after"),
            F.md5(rewritten).alias("text_md5_after"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_substring_rewrite_all — the FULL multi-span receipt (all
# maximal-disjoint spans per victim, not just the single greedy pick)
# ---------------------------------------------------------------------------

#: greedy-pick unroll bound: at most this many disjoint spans are
#: selected per victim (the graph_kcore unrolled-rounds discipline —
#: Spark has no recursive CTE). Each span is >= _SUBSTR_RUN_TOKENS
#: tokens, so 4 picks cover every victim shorter than
#: 5 * _SUBSTR_RUN_TOKENS = 100 tokens outright; the n_residual
#: column counts candidates still selectable after the unroll, so a
#: truncated receipt is visible in the row, never silent
_REWRITE_MAX_SPANS = 4

#: the spans chain shared with _SPANS_ORACLE/_REWRITE_ORACLE, ending
#: in one deterministic maximal span per qualifying pair
_SPANS_CHAIN_SQL = f"""
    psh AS ({SQL_POS_SHINGLES}),
    m AS (
      SELECT c.doc_id1, c.doc_id2,
             a.pos - b.pos AS diag, a.pos AS pa
      FROM lsh_cand c
      JOIN psh a ON a.doc_id = c.doc_id1
      JOIN psh b ON b.doc_id = c.doc_id2 AND b.tok3 = a.tok3),
    isl AS (
      SELECT doc_id1, doc_id2, diag, pa,
             pa - row_number() OVER (
               PARTITION BY doc_id1, doc_id2, diag ORDER BY pa) AS grp
      FROM m),
    runs AS (
      SELECT doc_id1, doc_id2, diag, grp,
             COUNT(*) AS run_len, MIN(pa) AS pa_start
      FROM isl GROUP BY doc_id1, doc_id2, diag, grp),
    pick AS (
      SELECT doc_id1, doc_id2, run_len, pa_start, diag,
             row_number() OVER (
               PARTITION BY doc_id1, doc_id2
               ORDER BY run_len DESC, pa_start, diag) AS rn
      FROM runs),
    spans AS (
      SELECT doc_id1, doc_id2,
             CAST(run_len + 2 AS BIGINT) AS run_tokens,
             CAST(pa_start - diag AS BIGINT) AS b_start
      FROM pick
      WHERE rn = 1 AND run_len + 2 >= {_SUBSTR_RUN_TOKENS})"""

#: one greedy round: pick the top remaining span per victim, then
#: drop candidates overlapping it
_GREEDY_ROUND_SQL = """
    p{i} AS (
      SELECT victim, donor, b, r FROM (
        SELECT *, row_number() OVER (
          PARTITION BY victim ORDER BY r DESC, b, donor) AS rn
        FROM c{prev}) WHERE rn = 1),
    c{i} AS (
      SELECT c.victim, c.donor, c.b, c.r
      FROM c{prev} c JOIN p{i}
        ON p{i}.victim = c.victim
       AND (c.b >= p{i}.b + p{i}.r OR c.b + c.r <= p{i}.b))"""

_REWRITE_ALL_ORACLE = (
    f"""
    WITH {_MINHASH_CTES},
    {_SPANS_CHAIN_SQL},
    c0 AS (
      SELECT doc_id2 AS victim, doc_id1 AS donor,
             b_start AS b, run_tokens AS r
      FROM spans),"""
    + ",".join(
        _GREEDY_ROUND_SQL.format(i=i + 1, prev=i)
        for i in range(_REWRITE_MAX_SPANS)
    )
    + f""",
    picked AS ({" UNION ALL ".join(
        f"SELECT * FROM p{i + 1}" for i in range(_REWRITE_MAX_SPANS)
    )}),
    ag AS (
      SELECT victim, COUNT(*) AS n_spans, SUM(r) AS removed,
             string_agg(
               CAST(b AS VARCHAR) || ':' || CAST(r AS VARCHAR)
                 || ':' || CAST(donor AS VARCHAR), ',' ORDER BY b
             ) AS spans_csv
      FROM picked GROUP BY victim),
    resid AS (
      SELECT victim, COUNT(*) AS n_resid
      FROM c{_REWRITE_MAX_SPANS} GROUP BY victim),
    dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    vtok AS (
      SELECT d.doc_id AS victim, i - 1 AS pos, d.w[i] AS tok
      FROM dw d
      JOIN (SELECT DISTINCT victim FROM picked) v ON v.victim = d.doc_id
      CROSS JOIN (SELECT unnest(range(1,
        (SELECT MAX(len(string_split(text, ' '))) FROM documents) + 1
        )) AS i) ix
      WHERE i <= len(d.w)),
    surv AS (
      SELECT t.victim, t.pos, t.tok FROM vtok t
      WHERE NOT EXISTS (
        SELECT 1 FROM picked p
        WHERE p.victim = t.victim
          AND t.pos >= p.b AND t.pos < p.b + p.r)),
    h AS (
      SELECT victim,
             md5(COALESCE(string_agg(tok, ' ' ORDER BY pos), ''))
               AS md5a
      FROM surv GROUP BY victim)
    SELECT ag.victim AS doc_id,
           CAST(ag.n_spans AS BIGINT) AS n_spans_removed,
           CAST(ag.removed AS BIGINT) AS removed_tokens,
           CAST(len(d.w) AS BIGINT) AS n_tokens_before,
           CAST(len(d.w) - ag.removed AS BIGINT) AS n_tokens_after,
           ag.spans_csv,
           CAST(COALESCE(resid.n_resid, 0) AS BIGINT) AS n_residual,
           COALESCE(h.md5a, md5('')) AS text_md5_after
    FROM ag
    JOIN dw d ON d.doc_id = ag.victim
    LEFT JOIN resid ON resid.victim = ag.victim
    LEFT JOIN h ON h.victim = ag.victim
    """
)


def _substring_rewrite_all_compute(spark, sf_dir) -> DataFrame:
    """dedup_substring_rewrite_all's full BUILD plan (span detection
    + greedy picks + token rebuild, no span cache) — the plan-shape
    tests' capture target."""
    return _rewrite_all_from_spans(
        spark, sf_dir, _substring_spans_compute(spark, sf_dir)
    )


@register(
    "dedup_substring_rewrite_all",
    oracle=_REWRITE_ALL_ORACLE,
    build=_substring_rewrite_all_compute,
)
def dedup_substring_rewrite_all(spark, sf_dir) -> DataFrame:
    """The FULL multi-span rewrite receipt — the remaining depth of
    the suffix-array recipe (Lee et al. 2022 remove EVERY duplicated
    span, where dedup_substring_rewrite removes one per victim per
    pass): per victim, greedily select maximal-length NON-OVERLAPPING
    spans across all donors (priority: run_tokens DESC, then b_start,
    then donor id — deterministic), remove them all in one slice, and
    emit (doc_id, n_spans_removed, removed_tokens, n_tokens_before,
    n_tokens_after, spans_csv, n_residual, text_md5_after). spans_csv
    is the b_start:run_tokens:donor list in document order (scalar
    string — the registry's no-complex-columns rule); n_residual
    counts candidates still selectable after the {4}-pick unroll
    (Spark has no recursive CTE; the unroll bound covers any victim
    under {5 * 20} tokens outright, and a longer victim's truncation
    is visible in its own row, never silent — the graph_kcore
    unrolled-rounds discipline).

    Exactness: integer coordinates and counts; the rewritten text is
    rebuilt token-by-token (positions NOT covered by any picked span,
    re-joined in position order) so both engines hash the identical
    string — a fully-covered victim hashes md5('') via the same
    COALESCE on both sides.

    Scale: the greedy rounds operate on the <=1-row-per-pair span
    table (metadata-sized); each round is one agg + one hash join —
    never a per-victim sort window (a victim hit by thousands of
    donors would funnel its spans into one task; the agg-based
    min-struct pick keeps partial aggregation). The token rebuild
    explodes ONLY victim documents and anti-joins the picked spans —
    at 100 TB the corpus is touched once, keyed by its own primary
    key.

    r15: consumes the session-cached rep span table (via
    dedup_substring_spans); the greedy rounds + token rebuild stay
    per-call."""
    return _rewrite_all_from_spans(
        spark, sf_dir, dedup_substring_spans(spark, sf_dir)
    )


def _rewrite_all_from_spans(spark, sf_dir, spans: DataFrame) -> DataFrame:
    cand = spans.select(
        F.col("doc_id2").alias("victim"),
        F.col("doc_id1").alias("donor"),
        F.col("b_start").alias("b"),
        F.col("run_tokens").alias("r"),
    ).localCheckpoint()
    picks = []
    for _ in range(_REWRITE_MAX_SPANS):
        p = (
            cand.groupBy("victim")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("r")).alias("nr"), "b", "donor"
                    )
                ).alias("t")
            )
            .select(
                "victim",
                (-F.col("t.nr")).alias("r"),
                F.col("t.b").alias("b"),
                F.col("t.donor").alias("donor"),
            )
        )
        picks.append(p)
        pk = p.select(
            "victim", F.col("b").alias("pb"), F.col("r").alias("pr")
        )
        cand = (
            cand.join(pk, "victim")
            .filter(
                (F.col("b") >= F.col("pb") + F.col("pr"))
                | (F.col("b") + F.col("r") <= F.col("pb"))
            )
            .drop("pb", "pr")
        )
    picked = picks[0]
    for p in picks[1:]:
        picked = picked.unionByName(p)
    picked = picked.localCheckpoint()
    ag = picked.groupBy("victim").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans_removed"),
        F.sum("r").cast("long").alias("removed_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "r", "donor"))),
                lambda s: F.concat_ws(
                    ":",
                    s.b.cast("string"),
                    s.r.cast("string"),
                    s.donor.cast("string"),
                ),
            ),
            ",",
        ).alias("spans_csv"),
    )
    resid = cand.groupBy("victim").agg(
        F.count(F.lit(1)).cast("long").alias("n_resid")
    )
    dw = table(spark, "documents", sf_dir).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    vdocs = dw.join(
        picked.select("victim").distinct(),
        dw.doc_id == F.col("victim"),
    ).select("victim", "w")
    tok = vdocs.select(
        "victim", F.posexplode("w").alias("pos", "tok")
    )
    surv = tok.alias("t").join(
        picked.alias("p"),
        (F.col("t.victim") == F.col("p.victim"))
        & (F.col("t.pos") >= F.col("p.b"))
        & (F.col("t.pos") < F.col("p.b") + F.col("p.r")),
        "left_anti",
    )
    h = surv.groupBy("victim").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            )
        ).alias("md5a")
    )
    return (
        ag.join(dw, ag.victim == dw.doc_id)
        .join(resid, "victim", "left")
        .join(h, "victim", "left")
        .select(
            F.col("victim").alias("doc_id"),
            "n_spans_removed",
            "removed_tokens",
            F.size("w").cast("long").alias("n_tokens_before"),
            (F.size("w") - F.col("removed_tokens"))
            .cast("long")
            .alias("n_tokens_after"),
            "spans_csv",
            F.coalesce("n_resid", F.lit(0)).cast("long").alias(
                "n_residual"
            ),
            F.coalesce("md5a", F.md5(F.lit(""))).alias("text_md5_after"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_rewrite_persist — the act half PERSISTED: rewrite receipts as
# a warehouse slot (what a 100 TB curation pipeline writes back and
# re-serves after the dedup sweep)
# ---------------------------------------------------------------------------

#: the receipts builder's parameter contract — shared verbatim with
#: rollup_artifact_catalog's expected set (the catalog-key discipline)
_REWRITE_RECEIPTS_SPEC = {
    "run_tokens": _SUBSTR_RUN_TOKENS,
    "max_spans": _REWRITE_MAX_SPANS,
    "n_hashes": N_HASHES,
    "bands": N_BANDS,
}


def rewrite_receipts_artifact(spark, sf_dir) -> DataFrame:
    """The warehouse-persisted multi-span rewrite receipts, building
    iff absent or stale — the build half of dedup_rewrite_persist,
    shared with the warehouse catalog (which must ensure the artifact
    exists without paying the span-detection serve cost)."""
    from ..persist import persisted_artifact

    return persisted_artifact(
        spark,
        "rewrite_receipts",
        sf_dir,
        [f"{sf_dir}/documents.parquet"],
        # receipts are victim-bounded (<= one row per victim doc):
        # one file, like every new-slot artifact since the r11 sweep
        lambda: dedup_substring_rewrite_all(spark, sf_dir).coalesce(1),
        spec=_REWRITE_RECEIPTS_SPEC,
    )


@register("dedup_rewrite_persist", oracle=_REWRITE_ALL_ORACLE)
def dedup_rewrite_persist(spark, sf_dir) -> DataFrame:
    """The PERSISTED rewrite receipts — the warehouse slot for the
    substring family's act half: run the multi-span greedy rewrite
    once, write the receipt table beside the corpus snapshot, and
    serve every later consumer (the shard-materializing rewrite job,
    its md5 verifier, the dataset card's removed-token accounting)
    from the RELOADED parquet. The corpus is never re-scanned and the
    span detection never re-runs while the snapshot is unchanged —
    receipts are exactly what a 100 TB curation pipeline writes back
    after the dedup sweep.

    Exactness: the oracle is dedup_substring_rewrite_all's
    from-scratch DuckDB recompute — the hash match proves
    build -> save -> reload -> serve == from-scratch (BIGINT counts,
    csv strings and md5 hex survive the parquet round trip
    bit-exact). Staleness is triple-guarded (format version, the
    {run_tokens, max_spans, bands} spec, source fingerprint) and the
    slot is registered in rollup_artifact_catalog's expected set; a
    fresh SparkSession serving with ZERO builds is pinned by the
    two-real-sessions subprocess test.

    Scale: the serve plan is one FileScan of the receipts parquet —
    victim-bounded rows, no joins, no corpus input."""
    return rewrite_receipts_artifact(spark, sf_dir).select(
        "doc_id",
        "n_spans_removed",
        "removed_tokens",
        "n_tokens_before",
        "n_tokens_after",
        "spans_csv",
        "n_residual",
        "text_md5_after",
    )


# ---------------------------------------------------------------------------
# rollup_source_overlap — inter-source duplication census (the
# dataset-mixing decision's input: how much of source B near-dups A)
# ---------------------------------------------------------------------------

_SOURCE_OVERLAP_ORACLE = f"""
    WITH {_MINHASH_CTES},
    src AS (SELECT doc_id, source FROM documents),
    lab AS (
      SELECT CASE WHEN sa.source <= sb.source
                  THEN sa.source ELSE sb.source END AS source_a,
             CASE WHEN sa.source <= sb.source
                  THEN sb.source ELSE sa.source END AS source_b
      FROM lsh_cand c
      JOIN src sa ON sa.doc_id = c.doc_id1
      JOIN src sb ON sb.doc_id = c.doc_id2),
    cnt AS (SELECT source_a, source_b,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM lab GROUP BY source_a, source_b),
    ds AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source)
    SELECT c.source_a, c.source_b, c.n_pairs,
           da.n_docs AS n_docs_a, db.n_docs AS n_docs_b,
           CAST(c.n_pairs * 1000000 // (
             CASE WHEN c.source_a = c.source_b
                  THEN da.n_docs * (da.n_docs - 1) // 2
                  ELSE da.n_docs * db.n_docs END) AS BIGINT)
             AS dup_rate_ppm
    FROM cnt c
    JOIN ds da ON da.source = c.source_a
    JOIN ds db ON db.source = c.source_b
    """


@register("rollup_source_overlap", oracle=_SOURCE_OVERLAP_ORACLE)
def rollup_source_overlap(spark, sf_dir) -> DataFrame:
    """INTER-SOURCE duplication census — per unordered source pair,
    how many near-dup candidate pairs cross it and what fraction of
    the possible doc pairs that is (ppm): the table a dataset-mixing
    decision reads before setting per-source sampling weights ("crawl
    B is 40% near-dup of curated A -> downweight B"), and the
    between-sources companion of rollup_domain_mix. Within-source
    rows use the n*(n-1)/2 possible-pair denominator, cross-source
    rows n_a*n_b. Every downstream mix tool gets integers.

    Exactness: the pair list is the session-cached LSH index both
    engines recompute identically (md5-band minhash); the member-
    grain DuckDB oracle labels every pair with string joins, and the
    Spark side COUNTS the same census at rep grain (below) — the
    driver hash-check proves the counting identity per run. The rate
    is one guarded integer floor-division (operands bounded:
    pairs*1e6 < 2^63 far past 16x).

    Scale — the census COLLAPSES (r13): the unordered source census
    does not need member enumeration, because within a rep pair the
    member sources factor. Per-rep source counts gsc(r, s) = |{d in
    group r: source(d) = s}| give, for each unordered CROSS rep pair
    {A, B}, exactly gsc(A, s1) * gsc(B, s2) member pairs per source
    combination (every cross member pair occurs once across the two
    orientations), and for each SELF pair (r, r): C(c, 2) same-source
    plus c1*c2 cross-source within the group. So the plan is one
    linear (rep, source) groupBy plus joins of the base-sized rep-pair
    set against the <= |groups x sources| count table — the 256x
    octave's member-grain labeling (989M pairs, 1520 s) collapses to
    rep-grain seconds, with the member-grain oracle still proving the
    identity. Pure per-pair-quantity transfers must still NOT collapse
    source labels (they vary per member); counting them this way is
    exact BECAUSE it never transfers, it multiplies."""
    st = _rep_pair_state(spark, sf_dir)
    d = table(spark, "documents", sf_dir)
    src = d.select("doc_id", "source")
    gsc = (
        st["rmap"]
        .join(src, "doc_id")
        .groupBy("rep_id", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rp = st["rp"]
    cross = (
        rp.filter(F.col("r1") != F.col("r2"))
        .select(
            F.least("r1", "r2").alias("ra"),
            F.greatest("r1", "r2").alias("rb"),
        )
        .distinct()
    )
    ga = gsc.select(
        F.col("rep_id").alias("ra"),
        F.col("source").alias("s1"),
        F.col("c").alias("ca"),
    )
    gb = gsc.select(
        F.col("rep_id").alias("rb"),
        F.col("source").alias("s2"),
        F.col("c").alias("cb"),
    )
    cross_n = (
        cross.join(ga, "ra")
        .join(gb, "rb")
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
            (F.col("ca") * F.col("cb")).alias("n"),
        )
    )
    selfg = rp.filter(F.col("r1") == F.col("r2")).select(
        F.col("r1").alias("rep_id")
    )
    sa = gsc.join(selfg, "rep_id").select(
        "rep_id", F.col("source").alias("s1"), F.col("c").alias("ca")
    )
    sb = gsc.join(selfg, "rep_id").select(
        "rep_id", F.col("source").alias("s2"), F.col("c").alias("cb")
    )
    self_n = (
        sa.join(sb, "rep_id")
        .filter(F.col("s1") <= F.col("s2"))
        .select(
            F.col("s1").alias("source_a"),
            F.col("s2").alias("source_b"),
            F.when(
                F.col("s1") == F.col("s2"),
                F.expr("ca * (ca - 1) div 2"),
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .cast("long")
            .alias("n"),
        )
    )
    cnt = (
        cross_n.unionByName(self_n)
        .groupBy("source_a", "source_b")
        .agg(F.sum("n").cast("long").alias("n_pairs"))
    )
    ds = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return source_overlap_decision(cnt, ds)


def source_overlap_decision(cnt: DataFrame, ds: DataFrame) -> DataFrame:
    """The census decision table from the two maintained monoids —
    per-source-pair n_pairs and per-source n_docs — factored out so
    the streaming fold (streaming/diff.stream_source_overlap_maintain)
    reads the same decision the batch key computes from scratch."""
    da = ds.select(F.col("source").alias("source_a"), F.col("n_docs").alias("n_docs_a"))
    db = ds.select(F.col("source").alias("source_b"), F.col("n_docs").alias("n_docs_b"))
    return (
        cnt.join(F.broadcast(da), "source_a")
        .join(F.broadcast(db), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "n_docs_a",
            "n_docs_b",
            F.expr(
                "CAST(n_pairs * 1000000L div ("
                "CASE WHEN source_a = source_b "
                "THEN n_docs_a * (n_docs_a - 1) div 2 "
                "ELSE n_docs_a * n_docs_b END) AS BIGINT)"
            ).alias("dup_rate_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# sample_source_budget — per-source effective size under count-dedup
# (the act half of the rollup_source_overlap census)
# ---------------------------------------------------------------------------

#: a source whose duplication-discounted mass falls below this ppm of
#: its raw document count gets the 'downweight' advice
_SOURCE_BUDGET_THRESHOLD_PPM = 700_000

_SOURCE_BUDGET_ORACLE = f"""
    WITH wts AS ({_DEDUP_WEIGHTS_ORACLE})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w.weight_ppm) AS BIGINT) AS effective_docs_ppm,
           CAST(SUM(w.weight_ppm) // COUNT(*) AS BIGINT)
             AS effective_ratio_ppm,
           CASE WHEN SUM(w.weight_ppm) // COUNT(*)
                     < {_SOURCE_BUDGET_THRESHOLD_PPM}
                THEN 'downweight' ELSE 'keep' END AS advice
    FROM wts w JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


@register(
    "sample_source_budget",
    oracle=_SOURCE_BUDGET_ORACLE,
    gate=corpus_deps("documents"),
)
def sample_source_budget(spark, sf_dir) -> DataFrame:
    """PER-SOURCE sampling budget under count-deduplication — the act
    half of the inter-source census (rollup_source_overlap measures
    WHERE duplication crosses sources; this key says what each
    source's mass is WORTH once every near-dup cluster counts as one
    document spread over its members): per source, raw doc count, the
    summed dedup weights (effective unique docs x 1e6 — exactly
    sample_dedup_weights' ppm numerators), their ratio, and the
    mixing advice ('downweight' below {700000} ppm). A mixture tuner
    multiplies its per-source temperature weights by
    effective_ratio_ppm and the cross-source double-count the raw
    counts would hide is gone.

    Exactness: SUM over the integer ppm weights (each 1000000 div
    cluster_size) and one integer floor-division per source — the
    weights oracle's CTE chain reused verbatim, so a mismatch
    localizes to the source rollup.

    Scale: sample_dedup_weights' cost (components on the pair-bounded
    LSH graph + one id-keyed corpus join) plus a map-side-partial
    groupBy over the source domain — metadata-sized output, no new
    corpus-sized shuffle (the weights join already carries source-
    sized strings only after the id join). Decision served via
    cache.gate_decision (fingerprint: documents.parquet)."""
    w = sample_dedup_weights(spark, sf_dir).select("doc_id", "weight_ppm")
    src = table(spark, "documents", sf_dir).select("doc_id", "source")
    thr = _SOURCE_BUDGET_THRESHOLD_PPM
    return (
        w.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("weight_ppm").cast("long").alias("effective_docs_ppm"),
        )
        .select(
            "source",
            "n_docs",
            "effective_docs_ppm",
            F.expr("CAST(effective_docs_ppm div n_docs AS BIGINT)").alias(
                "effective_ratio_ppm"
            ),
            F.expr(
                f"CASE WHEN effective_docs_ppm div n_docs < {thr} "
                "THEN 'downweight' ELSE 'keep' END"
            ).alias("advice"),
        )
    )
