"""Incremental (streaming) dataset diff — the compare core applied to
a stream via foreachBatch (SURVEY.md §2.10 "incremental diff as
foreachBatch over the batch compare core").

Each micro-batch of incoming rows is compared against the reference
dataset restricted to the batch's key range; per-batch verdicts
accumulate in a driver-side list (tests) or a sink table (production).
This is the streaming analog of the reference's chunk loop
(reference main.py:216-247): a chunk == a micro-batch.

Every sink here runs through one function, ``maintain(stream_df,
state, fold, query_name)``. Its state is a namespace built per call
(``types.SimpleNamespace``; ``stream_compare`` keeps its
``StreamDiffResult``), and ``maintain`` pins each micro-batch once
(``localCheckpoint``: the source view is transient), skips empty
batches, and hands the rest to ``fold(state, rows, batch_id)``.
foreachBatch is at-least-once — a restart re-delivers a batch_id — so
``maintain`` skips any batch_id at or below the last one it folded
(``state.last_batch_id``, Spark's foreachBatch dedupe recipe). The
per-batch function is ``state.commit_batch(batch_df, batch_id)`` on
every holder, so a replay can be driven without a stream.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scribedb_spark.compare import CompareSpec, compare


@dataclass
class StreamDiffResult:
    batches: list = field(default_factory=list)

    @property
    def total_diff(self) -> int:
        return sum(b["diff_count"] for b in self.batches)


def maintain(stream_df: DataFrame, state, fold, query_name: str) -> tuple:
    """Start an ``availableNow`` foreachBatch query over ``stream_df``
    that folds every non-empty micro-batch into ``state`` with
    ``fold(state, rows, batch_id)``, where ``rows`` is the batch
    pinned once by ``localCheckpoint``. A batch_id at or below the
    last one folded is a replay and is skipped, so a re-delivered
    batch never folds twice. Sets ``state.last_batch_id`` and
    ``state.commit_batch`` (the per-batch function) and returns
    (query, state)."""
    state.last_batch_id = -1

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state.last_batch_id:
            return
        rows = batch_df.localCheckpoint()  # pin: the source view is transient
        if rows.take(1):  # an empty batch folds nothing
            fold(state, rows, batch_id)
            state.last_batch_id = batch_id

    state.commit_batch = commit_batch
    w = stream_df.writeStream.foreachBatch(commit_batch).queryName(query_name)
    return w.trigger(availableNow=True).start(), state


def _union(parts: list) -> DataFrame:
    """Lazy union of same-schema frames (each already pinned)."""
    return functools.reduce(DataFrame.unionByName, parts)


def _refold(state, patch: DataFrame, keys: list, *aggs) -> DataFrame:
    """Fold ``patch`` into ``state`` (None before the first batch):
    union, re-aggregate on ``keys`` with ``aggs``, and checkpoint so
    the lineage stays flat across batches."""
    u = patch if state is None else state.unionByName(patch)
    return u.groupBy(*keys).agg(*aggs).localCheckpoint()


def _reject_seen(seen, rows: DataFrame, who: str, what: str) -> DataFrame:
    """LOUD replay guard for states that are exact only under
    at-most-once ingestion of disjoint doc_ids: raise if any doc_id of
    ``rows`` was already ingested or occurs twice in ``rows`` (fail
    the query, never corrupt the state), else return the ``seen``
    doc_ids grown by the batch's."""
    ids = rows.select("doc_id")
    grown = ids if seen is None else seen.unionByName(ids)
    dup = grown.groupBy("doc_id").count().filter("count > 1").take(1)
    if dup:
        raise ValueError(
            f"{who}: batch replays already-ingested doc_id "
            f"{dup[0]['doc_id']} — {what}"
        )
    # every id once, so a plain union stays a set of ids
    return grown.localCheckpoint()


def stream_compare(
    stream_df: DataFrame,
    reference_df: DataFrame,
    keys: list[str],
    spec: CompareSpec | None = None,
    query_name: str = "stream_diff",
) -> tuple:
    """Start a foreachBatch comparison of ``stream_df`` against
    ``reference_df``. Returns (query, result_accumulator).

    Each batch joins (semi) the reference down to the keys present in
    the batch, then runs the full batch compare — so per-batch cost is
    proportional to batch size, not reference size (the semi-join
    prunes; with a partitioned reference, partition pruning applies).
    """
    spec = spec or CompareSpec()

    def fold(acc, rows: DataFrame, batch_id: int) -> None:
        ref_slice = reference_df.join(
            rows.select(*keys).distinct(), on=keys, how="left_semi"
        )
        res = compare(ref_slice, rows.select(*reference_df.columns), spec)
        acc.batches.append(
            {
                "batch_id": batch_id,
                "equal": res.equal,
                "src_rows": res.src_rows,
                "tgt_rows": res.tgt_rows,
                "diff_count": res.diff_count,
            }
        )

    return maintain(stream_df, StreamDiffResult(), fold, query_name)


def stream_fp_maintain(
    stream_df: DataFrame,
    base_fps: DataFrame,
    key: str,
    cols: list[str] | None = None,
    n_chunks: int = 64,
    query_name: str = "stream_fp",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS a keyed-chunk
    fingerprint table from an INSERT stream: every micro-batch folds
    into the running table via canonical.fp_delta_update (old_rows
    empty — append-only ingest), so after any prefix of batches the
    table equals a from-scratch fp_keyed_chunks over base + all rows
    seen, at O(|batch|) per batch. This is the streaming half of the
    incremental-recheck story: a CDC/ingest stream keeps the local
    fingerprint artifact current, and keyed_hybrid_compare(local_fps=…)
    verifies it against the remote side in one aggregation round trip
    whenever a check is due.

    Returns (query, holder) where ``holder.fps`` is the maintained
    DataFrame (localCheckpoint'd per batch so the lineage stays flat
    across many batches instead of growing one union per batch).
    """
    from scribedb_spark.canonical import fp_delta_update

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        s.fps = fp_delta_update(
            s.fps, rows.limit(0), rows, key, cols, n_chunks
        ).localCheckpoint()

    state = SimpleNamespace(fps=base_fps.localCheckpoint())
    return maintain(stream_df, state, fold, query_name)


def stream_iblt_maintain(
    stream_df: DataFrame,
    base_cells: DataFrame,
    key_col: str,
    value_cols: list[str],
    query_name: str = "stream_iblt",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS an IBLT cell sketch
    (analytics.iblt_reconcile's state) from an INSERT stream: each
    micro-batch sketches only its own rows and folds in via
    _iblt_merge — counts add, XORs fold (group operations), so after
    any prefix of batches the table equals a from-scratch sketch of
    base + all rows seen, at O(|batch|) cost per batch. The
    streaming half of the set-reconciliation story: a CDC/ingest
    stream keeps the ~256 KB sketch current beside the table, and
    any replica diffs against it in one exchange + O(d) decode
    whenever a check is due (the stream_fp_maintain shape, upgraded
    from chunk fingerprints to full differing-key recovery).

    Returns (query, holder) where ``holder.cells`` is the maintained
    cell table (localCheckpoint'd per batch — flat lineage).
    """
    from scribedb_spark.analytics import (
        _iblt_cell_agg,
        _iblt_merge,
        _iblt_sketch,
    )

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        patch = _iblt_cell_agg(_iblt_sketch(rows, 1, key_col, value_cols))
        s.cells = _iblt_merge(s.cells, patch).localCheckpoint()

    state = SimpleNamespace(cells=base_cells.localCheckpoint())
    return maintain(stream_df, state, fold, query_name)


def stream_lm_maintain(
    stream_df: DataFrame,
    base_cb: DataFrame,
    base_cp: DataFrame,
    query_name: str = "stream_lm",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS the bigram-LM count
    tables (text_lm_score's model) from an INSERT stream of
    (doc_id, text) rows: each micro-batch's bigram occurrences fold
    into the running (bg, cb) / (t1, cp) tables by union + sum —
    counts are a commutative monoid, so after any prefix of batches
    the tables equal a from-scratch count over base + all rows seen,
    at O(|batch| + vocabulary) per batch. The streaming half of the
    LM-filter lifecycle (batch twin: text_lm_score_incremental):
    the quality model stays current beside the ingest stream, and any
    new batch scores against it without a corpus recount.

    Returns (query, holder) where ``holder.cb`` / ``holder.cp`` are
    the maintained tables (localCheckpoint'd per batch — flat
    lineage)."""
    from scribedb_spark.operators.curation import lm_bigrams

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        bg = lm_bigrams(rows.filter(F.size(F.split(F.col("text"), " ")) >= 2))
        one = F.lit(1).cast("long")
        s.cb = _refold(
            s.cb, bg.select("bg", one.alias("cb")), ["bg"], F.sum("cb").alias("cb")
        )
        s.cp = _refold(
            s.cp, bg.select("t1", one.alias("cp")), ["t1"], F.sum("cp").alias("cp")
        )

    state = SimpleNamespace(
        cb=base_cb.localCheckpoint(), cp=base_cp.localCheckpoint()
    )
    return maintain(stream_df, state, fold, query_name)


def stream_postings_persist(
    stream_df: DataFrame,
    dest: str,
    query_name: str = "stream_postings",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS the PERSISTED BM25
    postings artifact ON DISK from an INSERT stream of (doc_id, text)
    rows — the streaming half of the bm25_index_persist/append
    lifecycle (batch twin: bm25_index_append, whose DuckDB oracle
    proves the same merge algebra): each micro-batch tokenizes only
    its own rows to (doc_id, term, tf) and APPENDS them as new
    parquet files under the artifact path. Ingested doc_ids are
    disjoint from everything already indexed, and tf counts are a
    per-(doc,term) monoid, so append IS the exact merge — O(|batch|)
    disk I/O per batch, no read-modify-rewrite of the index
    (same-doc upserts would read+union+re-sum, the LM-count pattern).
    Every reader (`_bm25_serve_from_postings`, the *_persist keys'
    plans) sees base + all drained batches.

    Idempotent under replay: foreachBatch is at-least-once (a crash
    before the checkpoint commit, or a restart mid-batch, re-delivers
    the same batch_id), so a bare ``mode('append')`` would land the
    batch's (doc_id, term, tf) rows twice and permanently double-count
    dl/df/tf in every downstream BM25 score. ``maintain`` skips a
    batch_id this query already committed; across a restart (a fresh
    holder) each batch is instead staged to an underscore-prefixed
    scratch dir (invisible to parquet readers) and its part files are
    then renamed into the artifact under DETERMINISTIC per-batch names
    (``batch-<id>-<k>.parquet``), after deleting whatever a previous
    attempt of the SAME batch_id left behind — a replay rewrites its
    own files instead of duplicating them. (Posix rename semantics; an
    object-store deployment swaps this step for the table format's
    commit protocol.)

    The artifact's meta sidecar (persist.py) is untouched: its source
    fingerprint describes the BASE build inputs; once a stream owns
    the artifact, freshness is the stream's checkpoint story, not the
    fingerprint's (parquet readers ignore the underscore-prefixed
    sidecar).

    Returns (query, holder) where ``holder.dest`` names the
    maintained artifact path and ``holder.commit_batch`` exposes the
    per-batch commit for replay tests."""
    import glob
    import os
    import shutil

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        stage = os.path.join(dest, f"_stage_batch_{batch_id}")
        (
            rows.select(
                "doc_id", F.explode(F.split("text", " ")).alias("term")
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .write.mode("overwrite")
            .parquet(stage)
        )
        for old in glob.glob(os.path.join(dest, f"batch-{batch_id}-*.parquet")):
            os.remove(old)
        parts = sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
        for k, part in enumerate(parts):
            os.replace(
                part, os.path.join(dest, f"batch-{batch_id}-{k:05d}.parquet")
            )
        shutil.rmtree(stage, ignore_errors=True)

    return maintain(stream_df, SimpleNamespace(dest=dest), fold, query_name)


def stream_quality_maintain(
    stream_df: DataFrame,
    base_hist: DataFrame,
    query_name: str = "stream_quality",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS the quality-score
    drift histogram (rollup_quality_drift's state) from an INSERT
    stream of (doc_id, text) rows: each micro-batch bins only its own
    documents (the stream IS the incoming-batch side, so is_batch is
    a literal True) and folds into the running (is_batch, bin, c)
    histogram by union + re-sum — counts are a commutative monoid, so
    after any prefix of batches the histogram equals a from-scratch
    binning of base + all rows seen, at O(|batch|) cost per batch.
    The streaming half of the distribution-shift monitor (batch twin
    and oracle: rollup_quality_drift): the standing TV-distance gate
    stays current beside the ingest stream, and
    ``quality_drift_from_hist(spark, holder.h)`` reads the decision
    row at any point without a corpus rescan.

    ``base_hist`` is the base side's (is_batch=False, bin, c) rows.
    Returns (query, holder) where ``holder.h`` is the maintained
    <=20-row histogram (localCheckpoint'd per batch — flat lineage)."""
    from scribedb_spark.operators.curation import (
        quality_bin_hist,
        quality_bins,
    )

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        patch = quality_bin_hist(quality_bins(rows, is_batch=F.lit(True)))
        s.h = _refold(s.h, patch, ["is_batch", "bin"], F.sum("c").alias("c"))

    state = SimpleNamespace(h=base_hist.localCheckpoint())
    return maintain(stream_df, state, fold, query_name)


def stream_freshness_maintain(
    stream_df: DataFrame,
    query_name: str = "stream_freshness",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS the ingest-freshness
    monitor's state (rollup_source_freshness's per-type table) from
    an INSERT stream of events rows: each micro-batch's per-type
    (count, max last_seen_us) folds into the running state by union +
    re-agg — COUNT-sum and MAX are a commutative monoid, so after any
    prefix of batches the state equals a from-scratch aggregate of
    all rows seen, at O(|batch|) cost per batch. The streaming half
    of the "did one upstream topic stop" alarm (batch twin and
    oracle: rollup_source_freshness):
    ``freshness_decision(holder.state)`` reads the per-stream
    lag/verdict table at any point without an events rescan.

    Returns (query, holder) where ``holder.state`` is the maintained
    per-type table (<= #event_types rows, localCheckpoint'd per batch
    — flat lineage)."""
    from scribedb_spark.analytics import freshness_state

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        s.state = _refold(
            s.state,
            freshness_state(rows),
            ["event_type"],
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("last_seen_us").cast("long").alias("last_seen_us"),
        )

    return maintain(stream_df, SimpleNamespace(state=None), fold, query_name)


def stream_source_overlap_maintain(
    stream_df: DataFrame,
    query_name: str = "stream_source_overlap",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS the inter-source
    duplication census (rollup_source_overlap's state) from an INSERT
    stream of (doc_id, text, source) rows. State per batch:

    - ``holder.sig`` — the source-carrying band-signature table of
      every document seen (the incrementally-maintained LSH index a
      production pipeline keeps beside the corpus). It is a LAZY
      UNION of per-batch localCheckpoint'd frames: each batch pins
      only its OWN signatures (O(|batch|) checkpoint work —
      re-checkpointing the accumulated index every batch would be
      quadratic in total documents streamed) and the union plan just
      scans the already-pinned blocks when the next batch joins
      against it,
    - ``holder.cnt`` — per (source_a, source_b) near-dup pair counts,
    - ``holder.ds`` — per-source document counts.

    A candidate pair is DISCOVERED exactly once — in the micro-batch
    where its LATER document arrives (new-batch signatures join the
    maintained index for new x old pairs, and self-join for new x new)
    — so the count fold is exact: after any prefix of batches the
    census equals the batch twin's from-scratch LSH over all rows
    seen. ``source_overlap_decision(holder.cnt, holder.ds)`` reads
    the decision table at any point without re-mining pairs.

    Scale: per batch the work is O(|batch| signatures) + the
    band-bucket join against the index — the same incremental shape
    dedup_incremental proves; the count tables are |sources|^2-
    bounded."""
    from scribedb_spark.operators.dedup import band_signatures

    def side(sig: DataFrame, id_col: str, src_col: str) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias(id_col), "band", "s",
            F.col("source").alias(src_col),
        )

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        bsig = (
            band_signatures(rows.select("doc_id", "text"))
            .join(rows.select("doc_id", "source"), "doc_id")
            .localCheckpoint()
        )
        # new x new (within-batch) + new x old (the maintained index)
        a = side(bsig, "id_a", "sa")
        arms = [
            a.join(side(bsig, "id_b", "sb"), ["band", "s"]).filter(
                F.col("id_a") < F.col("id_b")
            )
        ]
        if s.sig is not None:
            arms.append(a.join(side(s.sig, "id_b", "sb"), ["band", "s"]))
        new_pairs = (
            _union(arms)
            .select(
                F.least("id_a", "id_b").alias("doc_id1"),
                F.greatest("id_a", "id_b").alias("doc_id2"),
                F.least("sa", "sb").alias("source_a"),
                F.greatest("sa", "sb").alias("source_b"),
            )
            .distinct()  # a pair can share several bands
        )
        one = F.lit(1).cast("long")
        s.cnt = _refold(
            s.cnt,
            new_pairs.select("source_a", "source_b", one.alias("n_pairs")),
            ["source_a", "source_b"],
            F.sum("n_pairs").alias("n_pairs"),
        )
        s.ds = _refold(
            s.ds,
            rows.select("source", one.alias("n_docs")),
            ["source"],
            F.sum("n_docs").alias("n_docs"),
        )
        # append the batch's already-checkpointed signatures — no
        # re-checkpoint of the accumulated index (O(|batch|) per batch)
        s._sig_parts.append(bsig)
        s.sig = _union(s._sig_parts)

    state = SimpleNamespace(sig=None, cnt=None, ds=None, _sig_parts=[])
    return maintain(stream_df, state, fold, query_name)


def stream_components_maintain(
    stream_df: DataFrame,
    query_name: str = "stream_components",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS the near-dup
    component census at REP-GROUP grain from an INSERT stream of
    (doc_id, text) rows — the streaming twin of the r14 rep-grain
    collapse (dedup_components / dedup_cluster_stats). State:

    - ``holder.grp`` — (h, hl, rep_id, n): one row per exact-text
      group (md5 + length key) holding its min doc_id and member
      count. Folds by union + (min, sum) re-agg — a commutative
      monoid, so after any prefix of batches the table equals a
      from-scratch group-by over all rows seen. A later-arriving
      smaller doc_id correctly BECOMES the group rep (min fold);
      signatures are unaffected because they are keyed by the group,
      not the rep.
    - ``holder.gsig`` — (h, hl, band, s) band signatures per group,
      a LAZY UNION of per-batch checkpointed parts (the
      stream_source_overlap_maintain discipline): signatures are a
      pure function of text, so each NOVEL text is signed exactly
      once from one exemplar and never touched again — re-signing
      every member would be the member-grain cost the collapse
      removes. Per-batch work is O(new groups), not O(batch) on a
      duplicate-heavy stream.
    - ``holder.n_total`` — all documents seen (the singleton row's
      denominator; sub-3-token docs carry no signatures and count
      only here, matching the batch key).

    ``holder.stats()`` derives the cluster-size distribution at any
    point via cluster_stats_from_group_state (group-signature band
    join -> rep components -> group-count sums) — after a drain it
    ROW-EQUALS the batch dedup_cluster_stats over the same corpus,
    whose own DuckDB oracle is the naive member-pair recursive CTE
    (pinned by the streaming drain test)."""
    from scribedb_spark.operators.dedup import (
        band_signatures,
        cluster_stats_from_group_state,
        min_tokens_filter,
    )

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        # the (min, sum) group fold and n_total are exact ONLY under
        # at-most-once ingestion — a repeated doc would silently
        # inflate member counts, the singleton row and every cluster
        # size
        s._seen = _reject_seen(
            s._seen,
            rows,
            "stream_components_maintain",
            "group-count state requires at-most-once ingestion of "
            "disjoint doc_ids",
        )
        s.n_total += rows.count()
        docs = rows.filter(min_tokens_filter()).select(
            "doc_id",
            "text",
            F.md5("text").alias("h"),
            F.length("text").alias("hl"),
        )
        patch = docs.groupBy("h", "hl").agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        new_groups = patch if s.grp is None else patch.join(
            s.grp.select("h", "hl"), ["h", "hl"], "left_anti"
        )
        s.grp = _refold(
            s.grp,
            patch,
            ["h", "hl"],
            F.min("rep_id").alias("rep_id"),
            F.sum("n").cast("long").alias("n"),
        )
        # sign each NOVEL text once: one exemplar member per new group
        # (agg min-struct — doc_id is unique, text never compares)
        ex = (
            docs.join(new_groups.select("h", "hl"), ["h", "hl"], "left_semi")
            .groupBy("h", "hl")
            .agg(
                F.min(
                    F.struct(
                        F.col("doc_id").alias("d"), F.col("text").alias("t")
                    )
                ).alias("b")
            )
            .select(
                "h",
                "hl",
                F.col("b.d").alias("doc_id"),
                F.col("b.t").alias("text"),
            )
        )
        s._sig_parts.append(
            band_signatures(ex.select("doc_id", "text"))
            .join(ex.select("doc_id", "h", "hl"), "doc_id")
            .select("h", "hl", "band", "s")
            .localCheckpoint()
        )
        s.gsig = _union(s._sig_parts)

    state = SimpleNamespace(
        grp=None, gsig=None, n_total=0, _sig_parts=[], _seen=None
    )
    state.stats = lambda: cluster_stats_from_group_state(
        state.grp, state.gsig, state.n_total
    )
    return maintain(stream_df, state, fold, query_name)


def stream_search_eval_maintain(
    stream_df: DataFrame,
    base_docs: DataFrame,
    query_name: str = "stream_search_eval",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS the retrieval-drift
    eval (search_eval_overlap's decision row) beside an INSERT stream
    of (doc_id, text) rows — the streaming half of the retrieval
    monitor family (the postings already had persistence and streamed
    append; this keeps the EVAL current too). State per batch:

    - ``holder._parts`` — the BM25-sufficient postings
      (doc_id, term, tf, dl) of every document seen, base included: a
      LAZY UNION of per-batch localCheckpoint'd frames (each batch
      pins only its OWN postings — O(|batch|) checkpoint work, the
      stream_source_overlap signature-index discipline). Ingested
      doc_ids arrive whole and disjoint, so postings APPEND is the
      exact merge; df and avgdl re-derive from the accumulated rows,
    - ``holder.n_docs`` / ``holder.total_tokens`` — the additive
      scalar monoid avgdl needs,
    - ``holder.top_base`` — the base corpus' serving top-k, computed
      ONCE at start (the fixed reference ranking),
    - ``holder.row`` — the maintained drift row, refreshed per batch.

    The row is computed through the SAME code as the batch key
    (bm25_scores_from_postings + _bm25_top_ranks + eval_overlap_row),
    so after draining, the decision row-equals search_eval_overlap's
    from-scratch recompute over base + all streamed rows — the batch
    key IS the oracle (its own DuckDB twin proves the chain).

    Scale: per batch the maintenance cost is O(|batch|) tokenize +
    checkpoint; refreshing the row scores the accumulated postings
    once (BM25's df/avgdl are global — no monitor can rank from less
    than the postings), which is exactly the one-postings-scan cost
    the persisted-index serve path pays, never a corpus re-tokenize."""
    from scribedb_spark.operators.curation import (
        _BM25_N_TERMS,
        _BM25_QUERY_DOC,
        _bm25_top_ranks,
        bm25_postings_from,
        bm25_scores_from_postings,
        eval_overlap_row,
    )

    def sizes(d: DataFrame) -> tuple:
        n, t = d.select(
            F.count(F.lit(1)), F.sum(F.size(F.split("text", " ")))
        ).first()
        return int(n), int(t)

    def top_ranks(postings: DataFrame) -> DataFrame:
        return _bm25_top_ranks(
            bm25_scores_from_postings(
                postings,
                state.n_docs,
                state.total_tokens,
                _BM25_QUERY_DOC,
                _BM25_N_TERMS,
            )
        )

    base = base_docs.select("doc_id", "text").localCheckpoint()
    n0, t0 = sizes(base)
    state = SimpleNamespace(
        n_docs=n0,
        total_tokens=t0,
        _parts=[bm25_postings_from(base).localCheckpoint()],
        # replay guard state: every doc_id accumulated so far (doc_id-
        # only rows — tiny beside the postings)
        _seen=base.select("doc_id").distinct().localCheckpoint(),
    )
    state.top_base = top_ranks(state._parts[0]).localCheckpoint()
    state.drift_row = lambda: eval_overlap_row(
        state.top_base, top_ranks(_union(state._parts))
    )
    state.row = state.drift_row()  # pre-ingest: full == base

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        # the postings append is an exact merge ONLY under at-most-once
        # ingestion of whole disjoint docs — a repeated doc would
        # silently double-count tf/df/n_docs/total_tokens
        s._seen = _reject_seen(
            s._seen,
            rows,
            "stream_search_eval_maintain",
            "postings state requires at-most-once ingestion of disjoint "
            "doc_ids",
        )
        n, t = sizes(rows)
        s.n_docs += n
        s.total_tokens += t
        s._parts.append(bm25_postings_from(rows).localCheckpoint())
        s.row = s.drift_row()

    return maintain(stream_df, state, fold, query_name)


def stream_decontaminate_maintain(
    stream_df: DataFrame,
    bench_docs: DataFrame,
    query_name: str = "stream_decontaminate",
) -> tuple:
    """Start a foreachBatch sink that MAINTAINS benchmark
    decontamination (text_decontaminate's report) over an INSERT
    stream of train (doc_id, text) rows — the incremental half the
    batch key's docstring promises ("join new docs' spans against the
    persisted index, no corpus rescan"). State:

    - ``holder.bench`` — the DISTINCT benchmark span-hash set, built
      ONCE from ``bench_docs`` (the decontamination contract: the
      benchmark is fixed before the crawl streams through; a
      benchmark update means a new maintainer, exactly like a
      codebook retrain),
    - ``holder._parts`` — lazy union of per-batch FLAGGED-doc report
      frames (contamination-sized, the batch key's own output bound),
      seeded with the empty report of an empty slice,
    - ``holder._seen`` — doc_id replay guard (the search-eval
      discipline: a repeated doc would duplicate report rows — fail
      the query loudly, never corrupt the state).

    Exactness: a doc's (n_spans, n_hit_spans, verdict) is a pure
    function of its own text and the fixed benchmark set, so the
    union of per-batch reports after a drain EQUALS the batch twin's
    from-scratch report over the same train corpus row-for-row —
    regardless of batch boundaries or arrival order. The batch key's
    DuckDB oracle proves the shared span/threshold chain.

    Scale: per batch the cost is one O(|batch|) span explode joined
    against the benchmark-sized hash set (AQE broadcasts it when
    small); nothing corpus-sized is ever rescanned or re-checkpointed.
    ``holder.report()`` assembles the accumulated report lazily."""
    from scribedb_spark.operators.curation import _DECON_QUARANTINE
    from scribedb_spark.operators.dedup import span_hashes

    def report_of(docs: DataFrame) -> DataFrame:
        per = (
            span_hashes(docs.select("doc_id", "text"))
            .join(state.bench, "h", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("long")
                .alias("n_hit_spans"),
            )
            .filter(F.col("n_hit_spans") > 0)
        )
        ratio = F.col("n_hit_spans") / F.col("n_spans")
        return per.select(
            "doc_id",
            "n_spans",
            "n_hit_spans",
            F.round(ratio, 6).alias("hit_ratio"),
            F.when(ratio >= _DECON_QUARANTINE, "quarantine")
            .otherwise("review")
            .alias("verdict"),
        )

    state = SimpleNamespace(
        bench=span_hashes(bench_docs.select("doc_id", "text"))
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
        .localCheckpoint(),
        _seen=None,
    )
    state._parts = [report_of(bench_docs.limit(0))]
    state.report = lambda: _union(state._parts)

    def fold(s, rows: DataFrame, batch_id: int) -> None:
        s._seen = _reject_seen(
            s._seen,
            rows,
            "stream_decontaminate_maintain",
            "the report union requires at-most-once ingestion",
        )
        s._parts.append(report_of(rows).localCheckpoint())

    return maintain(stream_df, state, fold, query_name)


def stream_gate_panel_maintain(
    doc_stream: DataFrame,
    base_hist: DataFrame,
    event_stream: DataFrame,
    query_prefix: str = "stream_gate_panel",
) -> tuple:
    """Streamed half of rollup_gate_panel: maintain the two
    corpus-stream monitors' states per micro-batch (the quality
    histogram from an INSERT stream of incoming documents, the
    freshness per-type table from the events stream — the existing
    maintainers, composed) and expose ``holder.panel(spark, sf_dir)``:
    the full nine-row pane with those two rows derived from MAINTAINED
    state and every other gate read through its decision-served
    registry fn (pipeline.gate_panel_from_state). This is the pane an
    ingest pipeline polls between snapshot rebuilds: the streamed
    rows stay current at O(|batch|) per micro-batch, the
    warehouse/audit gates stay fingerprint-served, and after a drain
    the pane ROW-EQUALS the batch rollup_gate_panel over the same
    corpus (pinned by the streaming test — the batch key, whose own
    DuckDB oracle the driver checks, is the oracle here).

    The remaining gates have no streamed half by design:
    rollup_ingest_gaps needs full ordering (documented impossible
    under bounded state), the retrain/retune gates monitor WAREHOUSE
    artifacts (their lifecycle is build events, not row streams), and
    compaction/budget are metadata censuses.

    Returns ((quality_query, freshness_query), holder), where
    ``holder.quality`` / ``holder.freshness`` are the two maintainers'
    holders."""
    q1, qh = stream_quality_maintain(
        doc_stream, base_hist, query_name=f"{query_prefix}_quality"
    )
    q2, fh = stream_freshness_maintain(
        event_stream, query_name=f"{query_prefix}_freshness"
    )

    def panel(spark, sf_dir) -> DataFrame:
        from scribedb_spark.pipeline import gate_panel_from_state

        return gate_panel_from_state(spark, sf_dir, qh.h, fh.state)

    return (q1, q2), SimpleNamespace(quality=qh, freshness=fh, panel=panel)
