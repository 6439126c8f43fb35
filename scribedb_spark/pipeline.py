"""End-to-end training-data curation pipeline (flagship composition).

A user of the reference compares datasets; a user of THIS engine also
prepares them. This module chains the text-analysis and dedup
operator families into the standard LLM-corpus curation shape:

    raw documents
      -> language marker filter      (functions/text.py heuristics)
      -> heuristic quality filter    (length + stopword-ratio score)
      -> content-normalized exact dedup, keep lowest doc_id
      -> token accounting per source (the training-mix ledger)

Every stage is a narrow filter/projection or one hash shuffle:
- the two filters are codegen'd scans (no shuffle, pushdown-friendly);
- dedup is ONE row_number window over the content key (same shuffle
  count as the groupBy formulation but keeps the winning ROW, not
  just the key);
- the final per-source stats are a map-side-partial aggregation.
At 100 TB the whole pipeline is two shuffles total.

Exactness: the quality score is a double, but it is only FILTERED on
(same IEEE expression tree both engines), never summed; all outputs
are exact ints/strings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scribedb_spark.functions.text import (
    SQL_NTOK,
    normalized,
    occurrences,
    sql_occ,
    ws_token_count,
)
from scribedb_spark.queries import REGISTRY, corpus_deps, register
from scribedb_spark.sources import table

#: pipeline thresholds (chosen so each stage drops a real fraction of
#: the synthetic corpus: marker >=1 keeps all, quality >=0.2 keeps
#: ~70%, dedup collapses ~11% of survivors)
MIN_QUALITY = 0.2


def quality_score(t) -> "F.Column":
    """0.5 * saturating-length score + 0.5 * stopword ratio — the
    same expression as the text_quality_score key."""
    ntok = ws_token_count(t)
    len_score = F.least(ntok, F.lit(100)).cast("double") / 100
    stop_ratio = occurrences(t, "the").cast("double") / ntok
    return 0.5 * len_score + 0.5 * stop_ratio


def curate(docs: DataFrame, min_quality: float = MIN_QUALITY) -> DataFrame:
    """The kept-documents view: filters + exact-dedup winner rows.
    Returns the surviving (doc_id, source, text, n_tokens) rows."""
    t = F.col("text")
    filtered = docs.filter(
        (occurrences(t, "the") + occurrences(t, "a") >= 1)
        & (quality_score(t) >= F.lit(min_quality))
    )
    key = F.md5(F.array_join(F.array_sort(F.array_distinct(F.split(t, " "))), " "))
    w = Window.partitionBy("content_key").orderBy("doc_id")
    return (
        filtered.withColumn("content_key", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source", "text", ws_token_count(t).alias("n_tokens"))
    )


@register(
    "pipeline_curation",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             {SQL_NTOK} AS n_tokens,
             CAST(least({SQL_NTOK}, 100) AS DOUBLE) / 100 * 0.5
               + 0.5 * CAST({sql_occ('the')} AS DOUBLE) / {SQL_NTOK} AS quality
      FROM documents
      WHERE {sql_occ('the')} + {sql_occ('a')} >= 1
    ),
    kept AS (
      SELECT doc_id, source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY md5(array_to_string(
                 list_sort(list_distinct(string_split(text, ' '))), ' '))
               ORDER BY doc_id) AS rn
      FROM scored
      WHERE quality >= {MIN_QUALITY}
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(n_tokens) AS max_doc_tokens
    FROM kept WHERE rn = 1
    GROUP BY source
    """,
)
def pipeline_curation(spark, sf_dir) -> DataFrame:
    """Flagship composition: filter -> quality-gate -> dedup -> token
    ledger per source, hash-checked end to end against one DuckDB SQL
    program — proving the composed operator semantics, not just each
    stage in isolation."""
    kept = curate(table(spark, "documents", sf_dir))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("n_tokens").alias("max_doc_tokens"),
    )


@register(
    "pipeline_shard_ledger",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             {SQL_NTOK} AS n_tokens,
             CAST(least({SQL_NTOK}, 100) AS DOUBLE) / 100 * 0.5
               + 0.5 * CAST({sql_occ('the')} AS DOUBLE) / {SQL_NTOK} AS quality
      FROM documents
      WHERE {sql_occ('the')} + {sql_occ('a')} >= 1
    ),
    kept AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY md5(array_to_string(
                 list_sort(list_distinct(string_split(text, ' '))), ' '))
               ORDER BY doc_id) AS rn
      FROM scored
      WHERE quality >= {MIN_QUALITY}
    ),
    sh AS (
      SELECT doc_id, n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 8 AS shard
      FROM kept WHERE rn = 1)
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc
    FROM sh GROUP BY shard
    """,
)
def pipeline_shard_ledger(spark, sf_dir) -> DataFrame:
    """Flagship composition #2: the curated corpus dealt into
    deterministic hash shards with a per-shard size/token ledger —
    what a writer needs to emit balanced, reproducible training shard
    files (and what an auditor re-derives to check them). Adds ONE
    map-side-partial aggregation after curate(); the shard key is a
    pure doc_id function, so no extra shuffle of text ever happens."""
    kept = curate(table(spark, "documents", sf_dir)).select("doc_id", "n_tokens")
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(8),
    )
    return (
        kept.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _pipeline_incremental_oracle() -> str:
    from scribedb_spark.operators.dedup import _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    dup AS (
      SELECT DISTINCT i.doc_id
      FROM sig i JOIN sig x ON i.band = x.band AND i.s = x.s
      WHERE i.doc_id % 10 = 0 AND x.doc_id % 10 <> 0),
    novel AS (
      SELECT d.doc_id, d.text FROM documents d
      LEFT JOIN dup ON d.doc_id = dup.doc_id
      WHERE d.doc_id % 10 = 0 AND dup.doc_id IS NULL),
    scored AS (
      SELECT doc_id, {SQL_NTOK} AS n_tokens,
             CAST(least({SQL_NTOK}, 100) AS DOUBLE) / 100 * 0.5
               + 0.5 * CAST({sql_occ('the')} AS DOUBLE) / {SQL_NTOK} AS quality
      FROM novel
      WHERE {sql_occ('the')} + {sql_occ('a')} >= 1),
    kept AS (SELECT doc_id, n_tokens FROM scored WHERE quality >= {MIN_QUALITY}),
    sh AS (
      SELECT doc_id, n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 8 AS shard
      FROM kept)
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc
    FROM sh GROUP BY shard
    """


@register("pipeline_incremental", oracle=_pipeline_incremental_oracle())
def pipeline_incremental(spark, sf_dir) -> DataFrame:
    """Flagship composition #3: the DAILY-INGEST path. An incoming
    delta batch (docs with doc_id % 10 == 0) is near-dedup'd against
    the indexed corpus (MinHash band signatures — the index side
    contributes only its signature table, the steady-state 100 TB
    shape of dedup_incremental), survivors pass the same marker +
    quality gates as pipeline_curation, and the batch lands in
    deterministic hash shards with a per-shard doc/token ledger.
    This is the pipeline a training corpus actually runs every day:
    full-corpus curation once (pipeline_curation), then this
    incremental form per ingest, with identical gate semantics.

    Scale: the dedup stage shuffles band signatures (4 short rows
    per doc), the anti-join carries ids, and the gates + shard
    ledger are map-only expressions + one partial-aggregated
    groupBy on the batch — the index's text is never read beyond
    signature construction (at 100 TB the signature table is a
    maintained artifact, so even that scan disappears).
    """
    from scribedb_spark.operators.dedup import (
        band_signatures,
        min_tokens_filter,
    )

    d = table(spark, "documents", sf_dir).select("doc_id", "text")
    incoming = F.col("doc_id") % 10 == 0
    sig = band_signatures(d.filter(min_tokens_filter())).localCheckpoint()
    dup_ids = (
        sig.filter(incoming)
        .select(F.col("doc_id").alias("inc_id"), "band", "s")
        .join(
            sig.filter(~incoming).select("band", "s"),
            on=["band", "s"],
        )
        .select(F.col("inc_id").alias("doc_id"))
        .distinct()
    )
    novel = d.filter(incoming).join(dup_ids, "doc_id", "left_anti")
    t = F.col("text")
    kept = novel.filter(
        (occurrences(t, "the") + occurrences(t, "a") >= 1)
        & (quality_score(t) >= F.lit(MIN_QUALITY))
    ).select("doc_id", ws_token_count(t).alias("n_tokens"))
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(8),
    )
    return (
        kept.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _pipeline_semantic_oracle() -> str:
    from scribedb_spark.operators.dedup import semantic_ann_ctes

    return (
        semantic_ann_ctes()
        + f""",
    keepids AS (
      SELECT em.vec_id FROM embeddings em
      LEFT JOIN comp ON em.vec_id = comp.id
      WHERE COALESCE(comp.c, em.vec_id) = em.vec_id),
    scored AS (
      SELECT doc_id, source, text,
             {SQL_NTOK} AS n_tokens,
             CAST(least({SQL_NTOK}, 100) AS DOUBLE) / 100 * 0.5
               + 0.5 * CAST({sql_occ('the')} AS DOUBLE) / {SQL_NTOK} AS quality
      FROM documents
      WHERE {sql_occ('the')} + {sql_occ('a')} >= 1
    ),
    kept AS (
      SELECT doc_id, source, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY md5(array_to_string(
                 list_sort(list_distinct(string_split(text, ' '))), ' '))
               ORDER BY doc_id) AS rn
      FROM scored
      WHERE quality >= {MIN_QUALITY}
    ),
    fin AS (
      SELECT k.source, k.n_tokens, k.doc_id
      FROM kept k JOIN keepids s ON k.doc_id = s.vec_id
      WHERE k.rn = 1)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc
    FROM fin GROUP BY source
    """
    )


def _semantic_token_ledger(spark, sf_dir, ledger_fn) -> DataFrame:
    """curate() survivors joined to the keep side of the semantic
    ledger ``ledger_fn`` returns, reduced to the per-source ledger."""
    kept = curate(table(spark, "documents", sf_dir)).select(
        "doc_id", "source", "n_tokens"
    )
    ledger = ledger_fn(spark, sf_dir)
    keep_ids = ledger.filter(F.col("keep") == 1).select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        kept.join(keep_ids, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _pipeline_semantic_compute(spark, sf_dir) -> DataFrame:
    """pipeline_semantic's full BUILD plan (the ANN ledger built from
    scratch, no state cache) — the plan-shape tests' capture target."""
    return _semantic_token_ledger(
        spark, sf_dir, REGISTRY["dedup_semantic_ann"].build
    )


@register(
    "pipeline_semantic",
    oracle=_pipeline_semantic_oracle(),
    build=_pipeline_semantic_compute,
)
def pipeline_semantic(spark, sf_dir) -> DataFrame:
    """Flagship composition #4: heuristic curation AND semantic dedup
    in one program — curate() survivors (marker + quality + exact
    dedup) intersect the keep side of the ANN semantic ledger
    (dedup_semantic_ann: each embedding cluster keeps its min id),
    then the per-source token ledger. This is the full SemDeDup-style
    recipe a training corpus actually ships through: cheap text
    filters first, embedding-level dedup on what survives, ledger
    out.

    Scale: curation is two shuffles (pipeline_curation); the
    semantic ledger side is cell-bounded (dedup_semantic_ann) and
    joins by ID only — text and embeddings never meet in a shuffle.
    The keep-id join is AQE-sized; at 100 TB both sides are id
    columns."""
    return _semantic_token_ledger(
        spark, sf_dir, REGISTRY["dedup_semantic_ann"].fn
    )


@register(
    "pipeline_quality_gate",
    oracle="""
    WITH pk AS (
      SELECT COUNT(*) AS v FROM (
        SELECT l_orderkey, l_linenumber FROM lineitem
        GROUP BY 1, 2 HAVING COUNT(*) > 1)),
    fk AS (
      SELECT COUNT(*) AS v FROM lineitem l
      LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL),
    nk AS (
      SELECT COUNT(*) AS v FROM orders WHERE o_custkey IS NULL),
    vr AS (
      SELECT COUNT(*) AS v FROM events WHERE value < 0)
    SELECT 'pk_lineitem' AS check_name, v AS n_violations,
           CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INT) AS passed FROM pk
    UNION ALL SELECT 'fk_lineitem_orders', v,
           CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INT) FROM fk
    UNION ALL SELECT 'null_custkey', v,
           CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INT) FROM nk
    UNION ALL SELECT 'negative_value', v,
           CAST(CASE WHEN v = 0 THEN 1 ELSE 0 END AS INT) FROM vr
    """,
)
def pipeline_quality_gate(spark, sf_dir) -> DataFrame:
    """Promotion gate: the pass/fail report a shard-publishing
    pipeline runs before exposing a new snapshot — key uniqueness,
    referential integrity, null keys and value-domain checks rolled
    into one 4-row verdict table (check_name, n_violations, passed).
    Composes the preflight family (profile_pk_violations,
    profile_fk_orphans) into the decision artifact: a CI step greps
    `passed = 0` and blocks the publish, mirroring the reference's
    exit-code verdict (ref main.py:263-267) at dataset scope.

    Scale: each check is a count-shaped aggregate or key-only
    anti-join (no row payload moves); the union is 4 scalar rows.
    On the driver corpus the PK check FAILS by construction
    (lineitem's (l_orderkey, l_linenumber) is non-unique — the same
    planted violation profile_pk_violations reports), so the gate
    demonstrably gates."""
    li = table(spark, "lineitem", sf_dir)
    o = table(spark, "orders", sf_dir)
    e = table(spark, "events", sf_dir)
    pk = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("v"))
    )
    fk = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    nk = o.filter(F.col("o_custkey").isNull()).agg(F.count(F.lit(1)).alias("v"))
    vr = e.filter(F.col("value") < 0).agg(F.count(F.lit(1)).alias("v"))

    def row(name, df):
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("long").alias("n_violations"),
            (F.col("v") == 0).cast("int").alias("passed"),
        )

    return (
        row("pk_lineitem", pk)
        .unionByName(row("fk_lineitem_orders", fk))
        .unionByName(row("null_custkey", nk))
        .unionByName(row("negative_value", vr))
    )


def _cascade_ctes() -> str:
    """The cascade verdict CTE chain through ``verdict`` (doc_id,
    caught_by, keep) — shared by the pipeline_dedup_cascade oracle
    (direct select) and the rollup_domain_mix oracle (per-source
    aggregation over the same verdicts)."""
    from scribedb_spark.operators.dedup import (
        _MINHASH_ORACLE,
        _PARA_DROP,
        SQL_PARA_PER,
        SQL_URL_CANON,
    )

    return f"""
    WITH RECURSIVE
    ek AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS k
      FROM documents),
    e1 AS (
      SELECT doc_id, 1 AS prio
      FROM ek JOIN (SELECT k, MIN(doc_id) AS s FROM ek GROUP BY k) m
        USING (k)
      WHERE doc_id <> s),
    {SQL_URL_CANON},
    u1 AS (
      SELECT doc_id, 2 AS prio
      FROM canon JOIN (SELECT canonical_url, MIN(doc_id) AS s
                       FROM canon GROUP BY canonical_url) m
        USING (canonical_url)
      WHERE doc_id <> s),
    {SQL_PARA_PER},
    p1 AS (
      SELECT doc_id, 3 AS prio FROM per
      WHERE n_dup_paras * 1.0 / n_paras >= {_PARA_DROP}),
    pairs AS ({_MINHASH_ORACLE}),
    edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
              UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
    walk(id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, w.lbl FROM edges e JOIN walk w ON e.b = w.id
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM walk GROUP BY id),
    n1 AS (SELECT doc_id, 4 AS prio FROM comp WHERE doc_id <> component),
    allc AS (
      SELECT doc_id, MIN(prio) AS prio
      FROM (SELECT * FROM e1 UNION ALL SELECT * FROM u1
            UNION ALL SELECT * FROM p1 UNION ALL SELECT * FROM n1)
      GROUP BY doc_id),
    verdict AS (
      SELECT d.doc_id,
             CASE allc.prio WHEN 1 THEN 'exact' WHEN 2 THEN 'url'
                            WHEN 3 THEN 'paragraph' WHEN 4 THEN 'near'
                            ELSE 'none' END AS caught_by,
             CAST(allc.prio IS NULL AS INT) AS keep
      FROM documents d LEFT JOIN allc USING (doc_id))
    """


def _dedup_cascade_oracle() -> str:
    return _cascade_ctes() + "SELECT doc_id, caught_by, keep FROM verdict"


@register("pipeline_dedup_cascade", oracle=_dedup_cascade_oracle())
def pipeline_dedup_cascade(spark, sf_dir) -> DataFrame:
    """The FULL dedup cascade a 100 TB corpus actually runs — exact
    content key -> canonical URL -> paragraph boilerplate -> MinHash
    near-dup — composed into one per-document triage verdict:
    (doc_id, caught_by, keep), where caught_by names the FIRST
    (cheapest) stage that would have caught the document and keep=1
    means it survives all four. The stage ordering is the standard
    cost ladder (hash groupBy < regex groupBy < paragraph index <
    LSH); labeling by minimum priority reproduces the sequential
    cascade's attribution while letting all four stages evaluate in
    parallel from their own scans — at scale each stage is an
    independent single-shuffle job over the same snapshot and the
    verdict merge is a tiny id-keyed aggregation, so the cascade
    costs max(stage) wall time, not sum(stage).

    Every stage reuses the proven registry machinery verbatim:
    dedup_exact's sorted-distinct-token key, dedup_url_canonical's
    canonical_url() expression, dedup_paragraph's drop verdict, and
    sample_dedup_weights' LSH-component clustering — and the oracle
    composes the same four proven SQL fragments, so a hash mismatch
    localizes to the merge logic.

    Survivor semantics: each catching stage keeps its group's MIN
    doc_id (the cross-stage convention), so a document is caught iff
    it is a non-minimal member at that grain; paragraph 'drop' has no
    survivor notion (the doc is mostly recycled text — it is caught
    outright)."""
    from scribedb_spark.operators.dedup import (
        _url_variants,
        canonical_url,
        dedup_paragraph,
        member_components,
        tokens_distinct,
    )

    d = table(spark, "documents", sf_dir)
    # stage 1: exact content-key non-survivors
    key = F.md5(F.array_join(F.array_sort(tokens_distinct(F.col("text"))), " "))
    ek = d.select("doc_id", key.alias("k"))
    e1 = (
        ek.join(ek.groupBy("k").agg(F.min("doc_id").alias("s")), "k")
        .filter(F.col("doc_id") != F.col("s"))
        .select("doc_id", F.lit(1).alias("prio"))
    )
    # stage 2: canonical-URL non-survivors
    cu = d.select(
        "doc_id", canonical_url(_url_variants()).alias("canonical_url")
    )
    u1 = (
        cu.join(
            cu.groupBy("canonical_url").agg(F.min("doc_id").alias("s")),
            "canonical_url",
        )
        .filter(F.col("doc_id") != F.col("s"))
        .select("doc_id", F.lit(2).alias("prio"))
    )
    # stage 3: paragraph-boilerplate drops
    p1 = (
        dedup_paragraph(spark, sf_dir)
        .filter(F.col("verdict") == "drop")
        .select("doc_id", F.lit(3).alias("prio"))
    )
    # stage 4: MinHash-LSH near-dup non-minimal cluster members
    # (rep-grain components — member pairs never enumerate)
    comp = member_components(spark, sf_dir)
    n1 = comp.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id", F.lit(4).alias("prio")
    )
    allc = (
        e1.unionByName(u1)
        .unionByName(p1)
        .unionByName(n1)
        .groupBy("doc_id")
        .agg(F.min("prio").alias("prio"))
    )
    return d.select("doc_id").join(allc, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("prio") == 1, "exact")
        .when(F.col("prio") == 2, "url")
        .when(F.col("prio") == 3, "paragraph")
        .when(F.col("prio") == 4, "near")
        .otherwise("none")
        .alias("caught_by"),
        F.col("prio").isNull().cast("int").alias("keep"),
    )


def _domain_mix_parts() -> tuple[str, str]:
    """(CTE chain, final SELECT) of the domain-mix oracle — split so
    the curriculum oracle can mount the same mix as a subquery."""
    from scribedb_spark.operators.curation import (
        _LM_SCALE,
        _MIX_BUDGET,
        _MIX_CAP_PPM,
    )

    ctes = (
        _cascade_ctes()
        + f""",
    docs AS (SELECT doc_id, source, len(string_split(text, ' ')) AS tk
             FROM documents),
    j AS (SELECT docs.source, docs.tk, v.caught_by, v.keep
          FROM docs JOIN verdict v USING (doc_id)),
    agg AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(tk) AS BIGINT) AS toks,
             CAST(SUM(keep) AS BIGINT) AS kept_docs,
             CAST(SUM(keep * tk) AS BIGINT) AS kept_toks,
             CAST(SUM(CASE WHEN caught_by = 'exact' THEN 1 ELSE 0 END)
               AS BIGINT) AS caught_exact,
             CAST(SUM(CASE WHEN caught_by = 'url' THEN 1 ELSE 0 END)
               AS BIGINT) AS caught_url,
             CAST(SUM(CASE WHEN caught_by = 'paragraph' THEN 1 ELSE 0 END)
               AS BIGINT) AS caught_paragraph,
             CAST(SUM(CASE WHEN caught_by = 'near' THEN 1 ELSE 0 END)
               AS BIGINT) AS caught_near
      FROM j GROUP BY source),
    ns AS (SELECT COUNT(*) AS n_src FROM agg),
    t AS (
      SELECT agg.*,
             ({_LM_SCALE} * (n_docs - kept_docs)) // n_docs AS dedup_ppm,
             (({_MIX_BUDGET} // ns.n_src) * {_LM_SCALE})
               // (CASE WHEN kept_toks = 0 THEN 1 ELSE kept_toks END)
               AS raw_ppm
      FROM agg CROSS JOIN ns)"""
    )
    select = f"""
    SELECT source, n_docs, toks, kept_docs, kept_toks,
           caught_exact, caught_url, caught_paragraph, caught_near,
           CAST(dedup_ppm AS BIGINT) AS dedup_ppm,
           CAST(LEAST({_MIX_CAP_PPM}, raw_ppm) AS BIGINT) AS repeat_ppm,
           CAST((kept_toks * LEAST({_MIX_CAP_PPM}, raw_ppm))
             // {_LM_SCALE} AS BIGINT) AS expected_toks
    FROM t
    """
    return ctes, select


def _domain_mix_oracle() -> str:
    ctes, select = _domain_mix_parts()
    return ctes + select


@register("rollup_domain_mix", oracle=_domain_mix_oracle())
def rollup_domain_mix(spark, sf_dir) -> DataFrame:
    """The pre-training dataset card: one row per source crossing the
    dedup cascade's verdicts with the token-budget mixing allocation —
    raw vs surviving docs/tokens, the per-stage catch census, the
    dedup rate, and the repeat factor the shard writer will apply to
    the DEDUPED corpus. This is the mix report every large-scale
    pipeline publishes next to the snapshot (what's in the data, how
    much was removed and by which stage, and how often each domain
    repeats in an epoch).

    Composition, not recomputation: the verdicts are
    pipeline_dedup_cascade's (whose stages each reuse their proven
    registry machinery), the budget math is sample_token_budget's
    integer floor-division discipline applied to KEPT tokens
    (budget split {100000} div n_sources, repeat ppm capped at 4
    epochs), and dedup_ppm = 1e6 * removed div docs. The oracle
    composes the same cascade CTE chain plus the same integer
    formulas, so a mismatch localizes to the merge.

    Scale: the verdict join keys on doc_id (id + verdict + token
    COUNT — text never shuffles); everything after the
    groupBy(source) is sources-sized metadata with a 1-row
    source-count broadcast. Zero-kept-token sources divide by a
    guarded 1 (cap then clamps ppm; expected_toks is 0), never NaN."""
    from scribedb_spark.operators.curation import (
        _LM_SCALE,
        _MIX_BUDGET,
        _MIX_CAP_PPM,
    )

    d = table(spark, "documents", sf_dir).select(
        "doc_id", "source", ws_token_count(F.col("text")).alias("tk")
    )
    v = pipeline_dedup_cascade(spark, sf_dir)
    j = d.join(v, "doc_id")
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tk").cast("long").alias("toks"),
        F.sum("keep").cast("long").alias("kept_docs"),
        F.sum(F.col("keep") * F.col("tk")).cast("long").alias("kept_toks"),
        *[
            F.sum((F.col("caught_by") == s).cast("int"))
            .cast("long")
            .alias(f"caught_{s}")
            for s in ("exact", "url", "paragraph", "near")
        ],
    )
    ns = agg.agg(F.count(F.lit(1)).alias("n_src"))
    t = agg.crossJoin(F.broadcast(ns))
    capped = f"least({_MIX_CAP_PPM}, raw_ppm)"
    return t.withColumn(
        "raw_ppm",
        F.expr(
            f"(({_MIX_BUDGET} div n_src) * {_LM_SCALE}) "
            "div (case when kept_toks = 0 then 1 else kept_toks end)"
        ),
    ).select(
        "source",
        "n_docs",
        "toks",
        "kept_docs",
        "kept_toks",
        "caught_exact",
        "caught_url",
        "caught_paragraph",
        "caught_near",
        F.expr(f"({_LM_SCALE} * (n_docs - kept_docs)) div n_docs")
        .cast("long")
        .alias("dedup_ppm"),
        F.expr(capped).cast("long").alias("repeat_ppm"),
        F.expr(f"(kept_toks * {capped}) div {_LM_SCALE}")
        .cast("long")
        .alias("expected_toks"),
    )


_CURRICULUM_PHASES = 4


def _mix_curriculum_oracle() -> str:
    from scribedb_spark.operators.curation import _MIX_BUDGET

    ctes, select = _domain_mix_parts()
    phases = ", ".join(f"({p})" for p in range(1, _CURRICULUM_PHASES + 1))
    return (
        ctes
        + f""",
    mix AS ({select}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
                   CAST(SUM(expected_toks) AS BIGINT) AS total_toks
            FROM mix),
    base AS (
      SELECT m.source, m.expected_toks,
             1000000 // t.n_src AS w_u,
             (m.expected_toks * 1000000)
               // (CASE WHEN t.total_toks = 0 THEN 1 ELSE t.total_toks END)
               AS w_f,
             row_number() OVER (ORDER BY m.dedup_ppm ASC, m.source ASC)
               AS quality_rank
      FROM mix m CROSS JOIN tot t),
    sched AS (
      SELECT p.phase, b.source, b.quality_rank,
             (({_CURRICULUM_PHASES} - p.phase) * b.w_u
               + (p.phase - 1) * b.w_f) // {_CURRICULUM_PHASES - 1}
               AS weight_ppm
      FROM base b CROSS JOIN (VALUES {phases}) p(phase))
    SELECT CAST(phase AS BIGINT) AS phase, source,
           CAST(quality_rank AS BIGINT) AS quality_rank,
           CAST(weight_ppm AS BIGINT) AS weight_ppm,
           CAST((({_MIX_BUDGET} // {_CURRICULUM_PHASES}) * weight_ppm)
             // 1000000 AS BIGINT) AS phase_toks
    FROM sched
    """
    )


@register(
    "sample_mix_curriculum",
    oracle=_mix_curriculum_oracle(),
    serve=corpus_deps("documents"),
)
def sample_mix_curriculum(spark, sf_dir) -> DataFrame:
    """The ORDERED training-mix schedule derived from
    rollup_domain_mix's allocation — the curriculum the shard writer
    executes: {4} training phases, each granted budget div {4} tokens,
    with per-domain weights ANNEALING linearly from uniform (phase 1:
    every domain seen equally — the exploration prior) to the
    budget-allocated target mix (phase {4}: expected_toks-proportional
    — dedup-discounted, 4-epoch-capped), plus a quality_rank ordering
    domains by dedup rate (least-duplicated first, the standard
    cleanliness proxy when no external quality model is attached).
    This is the curriculum-learning discipline large pretraining runs
    publish next to their mix report: WHAT each phase samples, not
    just the aggregate ratio.

    Exactness: phase weights are the integer interpolation
    (({4}-p)*w_uniform + (p-1)*w_target) div {3} — non-negative
    operands only, so Spark's truncating ``div`` and DuckDB's
    flooring ``//`` agree — and phase token grants floor through the
    same ppm scale as sample_token_budget. The oracle mounts the
    domain-mix oracle's own CTE chain as the ``mix`` subquery, so a
    mismatch localizes to the scheduling math.

    Scale: everything downstream of rollup_domain_mix's
    sources-sized table, which is CHECKPOINTED before reuse — the
    totals arm and the weights arm both read the |sources|-row
    snapshot instead of each re-mounting the whole mix cascade
    (unchecked, the serve plan re-scanned the corpus 16 times for
    ~80 rows of schedule); a 1-row totals broadcast, a {4}-row phase
    grid, one sources-sized window. Output is |sources| x {4} rows of
    metadata."""
    mix = rollup_domain_mix(spark, sf_dir).localCheckpoint()
    tot = mix.agg(
        F.count(F.lit(1)).cast("long").alias("n_src"),
        F.sum("expected_toks").cast("long").alias("total_toks"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("dedup_ppm").asc(), F.col("source").asc())
    base = (
        mix.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "expected_toks",
            F.expr("1000000 div n_src").alias("w_u"),
            F.expr(
                "(expected_toks * 1000000) div"
                " (case when total_toks = 0 then 1 else total_toks end)"
            ).alias("w_f"),
            F.row_number().over(w).alias("quality_rank"),
        )
    )
    phases = spark.range(1, _CURRICULUM_PHASES + 1).select(
        F.col("id").alias("phase")
    )
    from scribedb_spark.operators.curation import _MIX_BUDGET

    return (
        base.crossJoin(F.broadcast(phases))
        .select(
            F.col("phase").cast("long").alias("phase"),
            "source",
            F.col("quality_rank").cast("long").alias("quality_rank"),
            F.expr(
                f"(({_CURRICULUM_PHASES} - phase) * w_u"
                f" + (phase - 1) * w_f) div {_CURRICULUM_PHASES - 1}"
            )
            .cast("long")
            .alias("weight_ppm"),
        )
        .withColumn(
            "phase_toks",
            F.expr(
                f"(({_MIX_BUDGET} div {_CURRICULUM_PHASES}) * weight_ppm)"
                " div 1000000"
            ).cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# rollup_artifact_catalog — the operator's view of the warehouse
# ---------------------------------------------------------------------------


def _catalog_spec_md5(spec: dict) -> str:
    """Canonical 16-hex spec hash: md5 over the sort_keys JSON render
    (the same render the sidecar stores, so disk and code agree)."""
    import hashlib
    import json

    return hashlib.md5(
        json.dumps(spec, sort_keys=True).encode()
    ).hexdigest()[:16]


def _catalog_expected() -> dict[str, dict]:
    """The expected warehouse artifact set {name: builder spec} — the
    ONE list the catalog key and its oracle share. The spec dicts
    import the builders' own parameter constants, so a parameter
    change moves both sides together, while an artifact added without
    being listed here (or listed without being buildable) fails the
    catalog's oracle in the sf0.01 mirror."""
    from scribedb_spark.analytics import _IBLT_CELLS, _IBLT_COLS, _IBLT_HASHES
    from scribedb_spark.operators.curation import (
        _LM_DELTA_MOD,
        _LM_DELTA_REM,
        _LM_SCALE,
    )
    from scribedb_spark.operators.dedup import (
        _PARA_INDEX_SPEC,
        _REWRITE_RECEIPTS_SPEC,
        N_BANDS,
        N_HASHES,
    )
    from scribedb_spark.operators.similarity import (
        _IVF_ITERS,
        _IVF_SAMPLE,
        _MIPS_PROBE,
        _PQ_ITERS,
        _PQ_SAMPLE,
        _SQ_CELLS,
        N_CELLS,
        PQ_K,
        PQ_M,
    )

    ivf = {"sample": _IVF_SAMPLE, "cells": N_CELLS, "iters": _IVF_ITERS}
    pq = {"sample": _PQ_SAMPLE, "m": PQ_M, "k": PQ_K, "iters": _PQ_ITERS}
    mips = {
        "cells": _SQ_CELLS,
        "probe": _MIPS_PROBE,
        "reduction": "aug_sqrt_m2",
    }
    return {
        "lsh_pairs": {"n_hashes": N_HASHES, "bands": N_BANDS},
        "lm_bigram_counts": {"scale": _LM_SCALE},
        "lm_prefix_counts": {"scale": _LM_SCALE},
        "bm25_postings": {"tokenizer": "ws_split"},
        "bm25_postings_base": {
            "tokenizer": "ws_split",
            "delta": [_LM_DELTA_MOD, _LM_DELTA_REM],
        },
        "ivf_codebook": ivf,
        "ivf_index": ivf,
        "pq_codebook": pq,
        "pq_codes": pq,
        "mips_codebook": mips,
        "mips_index": mips,
        "rewrite_receipts": dict(_REWRITE_RECEIPTS_SPEC),
        "paragraph_index": dict(_PARA_INDEX_SPEC),
        "iblt_orders_sketch": {
            "cells": _IBLT_CELLS,
            "hashes": _IBLT_HASHES,
            "cols": _IBLT_COLS,
        },
    }


def _catalog_ensure_built(spark, sf_dir) -> None:
    """Ensure every expected artifact exists in the warehouse by
    calling each persist key's BUILD HALF only (the shared
    persisted_artifact wrappers) — never the serve computations
    (IVF/PQ top-k, IBLT decode, BM25 scoring), which are pure wasted
    work for a metadata-sized catalog. A no-op when the warehouse is
    fresh: each call is sidecar check + stat fingerprint."""
    from scribedb_spark.analytics import _iblt_sketch_artifact
    from scribedb_spark.operators.curation import (
        _bm25_base_postings_artifact,
        _bm25_postings_artifact,
        _lm_count_artifacts,
    )
    from scribedb_spark.operators.dedup import (
        lsh_pairs_artifact,
        paragraph_index_artifact,
        rewrite_receipts_artifact,
    )
    from scribedb_spark.operators.similarity import (
        _ivf_persisted_artifacts,
        _mips_persisted_artifacts,
        _pq_persisted_artifacts,
    )

    lsh_pairs_artifact(spark, sf_dir)
    _ivf_persisted_artifacts(spark, sf_dir)
    _pq_persisted_artifacts(spark, sf_dir)
    _mips_persisted_artifacts(spark, sf_dir)
    rewrite_receipts_artifact(spark, sf_dir)
    paragraph_index_artifact(spark, sf_dir)
    _lm_count_artifacts(spark, sf_dir)
    _bm25_postings_artifact(spark, sf_dir)
    _bm25_base_postings_artifact(spark, sf_dir)
    _iblt_sketch_artifact(spark, sf_dir)


def _catalog_oracle() -> str:
    from scribedb_spark.persist import ARTIFACT_FORMAT

    rows = ",\n      ".join(
        f"('{name}', CAST({ARTIFACT_FORMAT} AS BIGINT), "
        f"'{_catalog_spec_md5(spec)}', CAST(1 AS BIGINT), "
        "CAST(1 AS BIGINT))"
        for name, spec in sorted(_catalog_expected().items())
    )
    return f"""
    SELECT artifact, format, spec_md5, n_sources, nonempty
    FROM (VALUES
      {rows}
    ) AS t(artifact, format, spec_md5, n_sources, nonempty)
    """


@register("rollup_artifact_catalog", oracle=_catalog_oracle())
def rollup_artifact_catalog(spark, sf_dir) -> DataFrame:
    """The WAREHOUSE CATALOG: one row per persisted index artifact of
    this corpus snapshot, read from the meta sidecars — (artifact,
    format, spec_md5, n_sources, nonempty). This is the operational
    complement of the *_index_persist keys: they prove each artifact
    round-trips; the catalog proves the WAREHOUSE AS A WHOLE is what
    the code expects — every artifact present, current-format, with
    the exact builder-parameter hash, its source files recorded (the
    GC contract, persist.gc_warehouse) and non-empty data on disk.

    First the full artifact set is ensured via the persist keys'
    BUILD HALVES (build-if-stale only — never their serve
    computations; a no-op when the warehouse is fresh, the normal
    case), then the sidecars are read driver-side (one tiny JSON per
    artifact, the catalog is metadata-sized: 14 rows here, one row
    per index even at 100 TB) and each artifact's data presence is
    probed from the parquet footers driver-side (row counts are
    footer metadata — zero Spark jobs, no data pages read; a missing
    directory reads as nonempty=0/format=-1 so drift fails by oracle
    mismatch, never by crash).

    Exactness: the oracle pins the expected catalog as literal VALUES
    computed from the SAME spec constants the builders use — a drifted
    sidecar, a missing artifact, a format mismatch, or an unrecorded
    source list each flip a cell. Reference analog: the reference
    trusts its in-database aggregate exists per run (postgres.py:65);
    here the artifact inventory is itself a queryable, oracle-checked
    table."""
    from scribedb_spark.persist import (
        _artifact_data_files,
        artifact_path,
        read_sidecar,
    )

    _catalog_ensure_built(spark, sf_dir)

    def footer_nonempty(dest: str) -> int:
        import os

        import pyarrow.parquet as pq

        for f in _artifact_data_files(dest):
            if pq.ParquetFile(os.path.join(dest, f)).metadata.num_rows:
                return 1
        return 0

    rows = []
    for name in sorted(_catalog_expected()):
        dest = artifact_path(name, sf_dir)
        meta = read_sidecar(dest) or {}
        nonempty = footer_nonempty(dest)
        rows.append(
            (
                name,
                int(meta.get("format", -1)),
                _catalog_spec_md5(meta.get("spec", {})),
                len(meta.get("sources", [])),
                nonempty,
            )
        )
    return spark.createDataFrame(
        rows,
        "artifact string, format long, spec_md5 string, "
        "n_sources long, nonempty long",
    )


# ---------------------------------------------------------------------------
# rollup_gc_census — the stale half of the warehouse lifecycle, proven
# over a PLANTED fixture warehouse
# ---------------------------------------------------------------------------

#: every gc_warehouse failure mode, one fixture slot each (+ one fresh
#: slot) — (slot name, expected reason); 'fresh' is the None-reason
#: rendering so the output stays scalar-typed
_GC_FIXTURE_SLOTS = [
    ("crash_bad_sidecar", "bad_sidecar"),
    ("crash_no_sidecar", "no_sidecar"),
    ("drifted_source", "stale_source"),
    ("fresh_ok", "fresh"),
    ("missing_source", "missing_source"),
    ("old_format", "format"),
]


def _plant_gc_fixture(spark, sf_dir: str, root: str) -> None:
    """Build the deterministic fixture warehouse under ``root``: one
    artifact slot per gc_warehouse failure mode plus one fresh slot.
    Every slot holds the same 1-row parquet payload (GC never reads
    data pages — classification is sidecar-only); the sidecars differ
    in exactly the field each failure mode corrupts."""
    import json
    import shutil

    from scribedb_spark.persist import (
        _META_NAME,
        ARTIFACT_FORMAT,
        source_fingerprint,
    )

    snap = os.path.join(root, "fixture")
    src = f"{sf_dir}/region.parquet"
    fp = source_fingerprint([src])
    seed = os.path.join(snap, "fresh_ok")
    spark.range(1).coalesce(1).write.mode("overwrite").parquet(seed)
    for slot, _reason in _GC_FIXTURE_SLOTS:
        dest = os.path.join(snap, slot)
        if slot != "fresh_ok":
            shutil.copytree(seed, dest)
        meta = {
            "format": ARTIFACT_FORMAT,
            "name": slot,
            "spec": {"fixture": 1},
            "source_fp": fp,
            "sources": [src],
        }
        if slot == "old_format":
            meta["format"] = ARTIFACT_FORMAT - 1
        elif slot == "missing_source":
            meta["sources"] = [f"{sf_dir}/__no_such_table__.parquet"]
        elif slot == "drifted_source":
            meta["source_fp"] = "0" * 32
        side = os.path.join(dest, _META_NAME)
        if slot == "crash_no_sidecar":
            continue
        if slot == "crash_bad_sidecar":
            with open(side, "w") as fh:
                fh.write("{not json")
            continue
        with open(side, "w") as fh:
            json.dump(meta, fh, sort_keys=True)


def _gc_census_oracle() -> str:
    rows = ",\n      ".join(
        f"('fixture/{slot}', CAST({int(reason != 'fresh')} AS BIGINT), "
        f"'{reason}', CAST({int(reason != 'fresh')} AS BIGINT), "
        f"CAST({int(reason == 'fresh')} AS BIGINT))"
        for slot, reason in sorted(_GC_FIXTURE_SLOTS)
    )
    return f"""
    SELECT artifact, stale, reason, deleted, exists_after
    FROM (VALUES
      {rows}
    ) AS t(artifact, stale, reason, deleted, exists_after)
    """


@register("rollup_gc_census", oracle=_gc_census_oracle())
def rollup_gc_census(spark, sf_dir) -> DataFrame:
    """The STALE half of the warehouse lifecycle, driver-proven: plant
    a fixture warehouse with one artifact slot per failure mode —
    half-written build (sidecar missing / unparseable JSON), an older
    ARTIFACT_FORMAT, a recorded source file that no longer exists, a
    drifted source stat-fingerprint — plus one fresh slot, then run
    persist.gc_warehouse twice (census, then delete) and emit the
    reason-coded outcome per slot: (artifact, stale, reason, deleted,
    exists_after). rollup_artifact_catalog proves the FRESH warehouse
    serves; this key proves every stale state is (a) classified with
    the right reason, (b) deleted only under the delete flag, and
    (c) the fresh slot survives the delete pass untouched.

    Exactness: the oracle pins the census as literal VALUES from the
    same slot list the fixture is planted from (the catalog-key
    discipline) — a misclassified reason, a missed deletion, or a
    wrongly-deleted fresh slot each flip a cell. The fixture lives in
    a fresh temp dir per invocation (never the real warehouse) and is
    removed afterwards, so the key is idempotent and cannot disturb
    served artifacts.

    Scale: GC is driver-side sidecar JSON + file stats — zero Spark
    jobs beyond the 1-row fixture payload write; a real warehouse
    census is O(#artifacts) tiny reads at any corpus size. Reference
    analog: the reference tears down its per-run database objects
    (drop_objects, scribedb/postgres.py:72-77); here teardown is
    reason-coded, censused and oracle-checked at warehouse scope."""
    import shutil
    import tempfile

    from scribedb_spark.persist import gc_warehouse

    root = tempfile.mkdtemp(prefix="gc_census_")
    try:
        _plant_gc_fixture(spark, sf_dir, root)
        census = {r["artifact"]: r for r in gc_warehouse(root=root)}
        swept = {r["artifact"]: r for r in gc_warehouse(delete=True, root=root)}
        rows = []
        for slot, _reason in sorted(_GC_FIXTURE_SLOTS):
            key = f"fixture/{slot}"
            rows.append(
                (
                    key,
                    int(census[key]["stale"]),
                    census[key]["reason"] or "fresh",
                    int(swept[key]["deleted"]),
                    int(os.path.isdir(os.path.join(root, "fixture", slot))),
                )
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "artifact string, stale long, reason string, "
        "deleted long, exists_after long",
    )


# ---------------------------------------------------------------------------
# rollup_gate_panel — ONE census over every monitor -> act decision
# (the rollup_artifact_catalog discipline applied to DECISIONS)
# ---------------------------------------------------------------------------

#: (panel gate label, registry key) in panel order — the ONE list the
#: Spark side and the oracle composer share
_GATE_PANEL_KEYS = (
    ("ann_retrain", "ann_retrain_gate"),
    ("ann_mips_retrain", "ann_mips_retrain_gate"),
    ("dedup_retune", "dedup_retune_gate"),
    ("lm_drift", "lm_drift_gate"),
    ("quality_drift", "rollup_quality_drift"),
    ("source_freshness", "rollup_source_freshness"),
    ("ingest_gaps", "rollup_ingest_gaps"),
    ("source_budget", "sample_source_budget"),
    ("compaction", "layout_compaction_advisor"),
)


def _panel_specs() -> dict:
    """label -> (sql_reducer, spark_reducer): HOW each gate's output
    collapses to the uniform (gate, measured, threshold, decision)
    row. _GATE_PANEL_KEYS is the one load-bearing ordered list — BOTH
    the Spark body and the oracle composer iterate it and look their
    reducer up here, so adding a gate is one tuple entry plus one
    reducer, and a missing reducer fails loudly at import instead of
    silently under-reporting the pane. Single-decision-row gates
    share the ``simple`` reducer (measured column + the gate's own
    threshold_ppm); multi-row monitors reduce to their headline with
    IDENTICAL integer aggregates on both engines. Every row is
    unit-consistent: measured and threshold are the same quantity
    (ppm vs ppm, microseconds vs microseconds, counts vs counts —
    ingest_gaps reports over-threshold-gap COUNT against a zero-count
    threshold, not a count against a microsecond lag)."""
    from scribedb_spark.analytics import _FRESHNESS_LAG_US
    from scribedb_spark.operators.dedup import (
        _SOURCE_BUDGET_THRESHOLD_PPM,
    )
    from scribedb_spark.persist import _ADVISOR_FLOOR_FILES

    def simple(label: str, measured_col: str):
        def sql(o: str) -> str:
            return (
                f"SELECT '{label}' AS gate, "
                f"CAST({measured_col} AS BIGINT) AS measured, "
                f"CAST(threshold_ppm AS BIGINT) AS threshold, decision "
                f"FROM ({o}) t"
            )

        def spark(df: DataFrame) -> DataFrame:
            return df.select(
                F.lit(label).alias("gate"),
                F.col(measured_col).cast("long").alias("measured"),
                F.col("threshold_ppm").cast("long").alias("threshold"),
                "decision",
            )

        return (sql, spark)

    def fresh_sql(o: str) -> str:
        return f"""SELECT 'source_freshness' AS gate,
           CAST(MAX(lag_us) AS BIGINT) AS measured,
           CAST({_FRESHNESS_LAG_US} AS BIGINT) AS threshold,
           CASE WHEN SUM(CASE WHEN verdict <> 'fresh' THEN 1 ELSE 0 END) > 0
                THEN 'stale' ELSE 'fresh' END AS decision
        FROM ({o}) t"""

    def fresh_spark(df: DataFrame) -> DataFrame:
        return (
            df.agg(
                F.max("lag_us").cast("long").alias("measured"),
                F.sum(
                    F.when(F.col("verdict") != "fresh", 1).otherwise(0)
                ).alias("nbad"),
            )
            .select(
                F.lit("source_freshness").alias("gate"),
                "measured",
                F.lit(_FRESHNESS_LAG_US).cast("long").alias("threshold"),
                F.when(F.col("nbad") > 0, "stale")
                .otherwise("fresh")
                .alias("decision"),
            )
        )

    def gaps_sql(o: str) -> str:
        # count vs count: ANY gap over the lag threshold trips the
        # gate, so the comparable threshold for the reported
        # over-threshold-gap count is zero
        return f"""SELECT 'ingest_gaps' AS gate,
           CAST(SUM(n_gaps_over) AS BIGINT) AS measured,
           CAST(0 AS BIGINT) AS threshold,
           CASE WHEN SUM(CASE WHEN verdict = 'gappy' THEN 1 ELSE 0 END) > 0
                THEN 'gappy' ELSE 'continuous' END AS decision
        FROM ({o}) t"""

    def gaps_spark(df: DataFrame) -> DataFrame:
        return (
            df.agg(
                F.sum("n_gaps_over").cast("long").alias("measured"),
                F.sum(
                    F.when(F.col("verdict") == "gappy", 1).otherwise(0)
                ).alias("nbad"),
            )
            .select(
                F.lit("ingest_gaps").alias("gate"),
                "measured",
                F.lit(0).cast("long").alias("threshold"),
                F.when(F.col("nbad") > 0, "gappy")
                .otherwise("continuous")
                .alias("decision"),
            )
        )

    def budget_sql(o: str) -> str:
        return f"""SELECT 'source_budget' AS gate,
           CAST(MIN(effective_ratio_ppm) AS BIGINT) AS measured,
           CAST({_SOURCE_BUDGET_THRESHOLD_PPM} AS BIGINT) AS threshold,
           CASE WHEN SUM(CASE WHEN advice = 'downweight' THEN 1 ELSE 0 END)
                     > 0
                THEN 'downweight' ELSE 'keep' END AS decision
        FROM ({o}) t"""

    def budget_spark(df: DataFrame) -> DataFrame:
        return (
            df.agg(
                F.min("effective_ratio_ppm").cast("long").alias("measured"),
                F.sum(
                    F.when(F.col("advice") == "downweight", 1).otherwise(0)
                ).alias("nbad"),
            )
            .select(
                F.lit("source_budget").alias("gate"),
                "measured",
                F.lit(_SOURCE_BUDGET_THRESHOLD_PPM)
                .cast("long")
                .alias("threshold"),
                F.when(F.col("nbad") > 0, "downweight")
                .otherwise("keep")
                .alias("decision"),
            )
        )

    def compact_sql(o: str) -> str:
        return f"""SELECT 'compaction' AS gate,
           CAST(SUM(CASE WHEN verdict = 'compact' THEN 1 ELSE 0 END)
                AS BIGINT) AS measured,
           CAST({_ADVISOR_FLOOR_FILES} AS BIGINT) AS threshold,
           CASE WHEN SUM(CASE WHEN verdict = 'compact' THEN 1 ELSE 0 END) > 0
                THEN 'compact' ELSE 'ok' END AS decision
        FROM ({o}) t"""

    def compact_spark(df: DataFrame) -> DataFrame:
        return (
            df.agg(
                F.sum(F.when(F.col("verdict") == "compact", 1).otherwise(0))
                .cast("long")
                .alias("measured"),
            )
            .select(
                F.lit("compaction").alias("gate"),
                "measured",
                F.lit(_ADVISOR_FLOOR_FILES).cast("long").alias("threshold"),
                F.when(F.col("measured") > 0, "compact")
                .otherwise("ok")
                .alias("decision"),
            )
        )

    return {
        "ann_retrain": simple("ann_retrain", "recall_ppm_measured"),
        "ann_mips_retrain": simple(
            "ann_mips_retrain", "recall_ppm_measured"
        ),
        "dedup_retune": simple("dedup_retune", "recall_ppm_measured"),
        "lm_drift": simple("lm_drift", "oov_bigram_ppm"),
        "quality_drift": simple("quality_drift", "tv_ppm"),
        "source_freshness": (fresh_sql, fresh_spark),
        "ingest_gaps": (gaps_sql, gaps_spark),
        "source_budget": (budget_sql, budget_spark),
        "compaction": (compact_sql, compact_spark),
    }


def _gate_panel_oracle() -> str:
    """The panel oracle: each gate's EXISTING registered oracle,
    scoped in its own nested-WITH subquery (the search_eval_overlap
    pattern — CTE names cannot collide across subqueries), reduced to
    the uniform (gate, measured, threshold, decision) row with the
    same integer aggregates the Spark side applies, UNION ALL'd in
    _GATE_PANEL_KEYS order (the one list both sides iterate)."""
    # force-register the gate modules so REGISTRY holds their oracles
    import scribedb_spark.analytics  # noqa: F401
    import scribedb_spark.operators.curation  # noqa: F401
    import scribedb_spark.operators.dedup  # noqa: F401
    import scribedb_spark.operators.similarity  # noqa: F401

    specs = _panel_specs()
    parts = [
        specs[label][0](REGISTRY[key].oracle)
        for label, key in _GATE_PANEL_KEYS
    ]
    return " UNION ALL ".join(parts)


def _panel_deps(sf_dir: str) -> list[str]:
    """The union of every panel gate's input files: the corpus tables
    the monitors read plus the four warehouse index slots the retrain
    gates measure — the panel's own serve fingerprint."""
    from scribedb_spark.persist import artifact_path

    return [
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(sf_dir, "embeddings.parquet"),
        os.path.join(sf_dir, "events.parquet"),
        artifact_path("ivf_codebook", sf_dir),
        artifact_path("ivf_index", sf_dir),
        artifact_path("mips_codebook", sf_dir),
        artifact_path("mips_index", sf_dir),
    ]


def _panel_frame(spark, sf_dir, gate_fns: dict) -> DataFrame:
    """Assemble the panel from _GATE_PANEL_KEYS: per (label, key),
    apply the label's spark reducer to gate_fns[key]'s frame and
    union in panel order. Shared by the registered (decision-served)
    panel and gate_panel_compute (the measurement-plan twin the plan
    tests pin)."""
    specs = _panel_specs()
    parts = [
        specs[label][1](gate_fns[key](spark, sf_dir))
        for label, key in _GATE_PANEL_KEYS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _gate_fns(attr: str) -> dict:
    """key -> REGISTRY[key].<attr> for every panel gate."""
    return {k: getattr(REGISTRY[k], attr) for _l, k in _GATE_PANEL_KEYS}


def gate_panel_compute(spark, sf_dir) -> DataFrame:
    """rollup_gate_panel assembled from the gates' MEASUREMENT bodies
    (their registry ``build``, never the decision cache) — the plan
    the invariance census pins across data scale."""
    return _panel_frame(spark, sf_dir, _gate_fns("build"))


@register(
    "rollup_gate_panel",
    oracle=_gate_panel_oracle(),
    gate=_panel_deps,
    build=gate_panel_compute,
)
def rollup_gate_panel(spark, sf_dir) -> DataFrame:
    """The OPERATOR'S ONE PANE: every monitor -> act decision in the
    engine as one census table — (gate, measured, threshold,
    decision), one row per standing gate: ANN retrain (IVF and MIPS),
    dedup retune, LM drift, quality drift, source freshness, ingest
    gaps, source budget and warehouse compaction. This is the
    rollup_artifact_catalog discipline applied to DECISIONS: the
    catalog proves the warehouse as a whole is what the code expects;
    the panel proves the MONITORING as a whole is readable in one
    query — what an on-call operator actually loads before touching a
    100 TB corpus snapshot.

    Each row comes from the gate's OWN registered computation (the
    decision halves are already factored and their inputs
    session-cached or warehouse-served — lsh_gate_decision,
    _mips_recall_for, quality_drift_from_hist, freshness_decision,
    compaction_advice; nothing here re-runs a serve path the gates
    themselves would not run). Multi-row gates reduce to their
    headline: freshness -> worst lag + any-stale, gaps -> total
    over-threshold gaps + any-gappy, budget -> worst source ratio +
    any-downweight, compaction -> count of compact verdicts. The
    healthy fixed point reads serve/serve/serve/stable/keep/ok;
    rebuild counts stay zero when healthy because the panel calls the
    same gate functions whose acts are build-once-gated.

    Exactness: the oracle composes each gate's EXISTING oracle
    unchanged inside its own nested-WITH subquery (the
    search_eval_overlap scoping pattern) and applies the identical
    integer reductions — a drifted decision, threshold or measurement
    in ANY gate flips a panel cell, so this one key re-proves the
    whole monitor family end to end.

    Scale: the panel adds ONLY the 9 one-row reductions on top of
    measurements the gates already pay (sample-bounded audits,
    warehouse-served recalls, metadata-sized censuses) — and since
    every gate serves its decision through cache.gate_decision (and
    so does the panel itself), a panel read in a session whose gates
    already ran costs nine stat fingerprints plus the tiny
    reductions, never a re-measurement — the standing control-plane
    read an on-call operator wants at 100 TB."""
    return _panel_frame(spark, sf_dir, _gate_fns("fn"))


def gate_panel_from_state(
    spark, sf_dir, quality_hist: DataFrame, freshness_state: DataFrame
) -> DataFrame:
    """The panel with the two CORPUS-STREAM monitors read from
    MAINTAINED state instead of a from-scratch scan: quality_drift
    derives from the streamed (is_batch, bin, c) histogram and
    source_freshness from the streamed per-type (count, max-ts)
    table (the streaming maintainers' holder states); every other
    gate reads through its decision-served registry fn as usual.
    This is the pane an ingest pipeline polls BETWEEN snapshot
    rebuilds — the streamed rows stay current per micro-batch at
    O(|batch|) while the warehouse/audit gates stay
    fingerprint-served. Row-equality with the batch panel after a
    drain is pinned by the streaming test."""
    from scribedb_spark.analytics import freshness_decision
    from scribedb_spark.operators.curation import quality_drift_from_hist

    fns = _gate_fns("fn")
    # the maintainers initialize holder.state = None and only set it
    # on the first non-empty micro-batch — polling the pane before any
    # rows arrive must fall back to the decision-served registry fn,
    # not raise on a None frame
    if quality_hist is not None:
        fns["rollup_quality_drift"] = (
            lambda s, _sd: quality_drift_from_hist(s, quality_hist)
        )
    if freshness_state is not None:
        fns["rollup_source_freshness"] = (
            lambda _s, _sd: freshness_decision(freshness_state)
        )
    return _panel_frame(spark, sf_dir, fns)
