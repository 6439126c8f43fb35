"""Structured Streaming tests: windowed aggs + incremental diff via
foreachBatch, each validated against its batch twin (batch-first
design, SURVEY.md §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scribedb_spark.sources import table
from scribedb_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from scribedb_spark.streaming.diff import stream_compare


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return table(spark, "events", sf_dir)


@pytest.fixture(scope="module")
def events_stream_dir(spark, events_batch, tmp_path_factory):
    """Re-write events as several parquet files so the file stream has
    multiple micro-batches."""
    d = tmp_path_factory.mktemp("events_stream")
    events_batch.repartition(4).write.mode("overwrite").parquet(str(d))
    return str(d)


def _drain(spark, stream_df, name, mode="complete"):
    q = run_to_memory(stream_df, name, output_mode=mode)
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events_batch, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    got = _drain(spark, tumbling_counts(stream), "t_tumbling")
    want = tumbling_counts(events_batch)
    cols = ["win_start", "event_type", "cnt", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_stream_equals_batch(spark, events_batch, events_stream_dir):
    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    got = _drain(spark, sliding_counts(stream), "t_sliding")
    want = sliding_counts(events_batch)
    cols = ["win_start", "cnt"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_stream_equals_batch(spark, events_batch, events_stream_dir):
    """No watermark here: the replayed files are not time-ordered, so
    a watermark would (correctly) drop 'late' events; complete-mode
    session state doesn't need one."""
    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    got = _drain(spark, session_counts(stream, watermark=None), "t_session")
    want = session_counts(events_batch)
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_compare_detects_mutation(spark, events_batch, events_stream_dir):
    """Incremental diff: stream the events table against a reference
    with one mutated row -> exactly that row is flagged across all
    micro-batches (the reference's chunk loop, incrementalized)."""
    reference = events_batch.withColumn(
        "value",
        F.when(F.col("event_id") == 42, F.col("value") + 999).otherwise(
            F.col("value")
        ),
    )
    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    q, acc = stream_compare(stream, reference, keys=["event_id"])
    q.awaitTermination(120)
    assert len(acc.batches) >= 2  # several micro-batches ran
    assert acc.total_diff == 2  # the mutated row, from each side
    assert sum(0 if b["equal"] else 1 for b in acc.batches) == 1


def test_stateful_running_stats_converges_to_batch(
    spark, events_batch, events_stream_dir
):
    """applyInPandasWithState: after draining all micro-batches, the
    last update emitted per user must equal the batch aggregation.
    (Update mode re-emits a user's row on every batch that touches it;
    the memory sink keeps appends, so take each user's final row —
    max n_events.)"""
    from scribedb_spark.streaming.stateful import (
        batch_user_stats,
        running_user_stats,
    )

    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_all = spark.table("t_stateful").collect()
    final = {}
    for r in got_all:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    want = {r["user_id"]: r for r in batch_user_stats(events_batch).collect()}
    assert set(final) == set(want)
    for uid, w in want.items():
        g = final[uid]
        assert g["n_events"] == w["n_events"]
        assert abs(g["sum_value"] - w["sum_value"]) < 1e-6
        assert g["max_value"] == w["max_value"]


def test_streaming_dedup_across_batches_and_state_eviction(spark, tmp_path_factory):
    """Streaming dropDuplicates: duplicates arriving in a LATER
    micro-batch are removed (cross-batch dedup state), and the
    watermark evicts old keys from state (bounded memory — the 100 TB
    requirement). Note Spark guarantees state cleanup only; rows
    later than the watermark "may or may not" be dropped (observed:
    admitted), so that is deliberately not asserted.
    """
    import os
    from datetime import datetime, timedelta

    d = tmp_path_factory.mktemp("stream_dedup")
    base = datetime(2024, 1, 1, 10, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )

    def write_file(rows, name, mtime):
        p = str(d / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (mtime, mtime))

    write_file(
        [(i, base + timedelta(minutes=i), 1, "a", 1.0) for i in range(10)],
        "b1",
        1_700_000_000,
    )
    write_file(
        [
            (5, base + timedelta(minutes=5), 1, "a", 1.0),  # dup of b1's id 5
            (101, base + timedelta(hours=3), 1, "a", 1.0),  # advances watermark
        ],
        "b2",
        1_700_000_100,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/b*")
    )
    from scribedb_spark.streaming.windows import dedup_stream

    dedup = dedup_stream(stream, ["event_id"], watermark="1 hour")
    q = (
        dedup.writeStream.format("memory")
        .queryName("t_sdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = [r["event_id"] for r in spark.table("t_sdedup").collect()]
    assert sorted(ids) == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 101]  # id 5 once
    # watermark after batch2 = 13:00 - 1h = 12:00 > every b1 key ->
    # all b1 dedup state evicted; only id 101's key can remain
    evicted = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert evicted and evicted[-1] <= 2


def test_stream_rollup_tier_chain(spark, events_batch, events_stream_dir):
    """Continuous-aggregate split: the STREAMING minute tier drained
    over all micro-batches, then batch-merged up to day via
    merge_tier, equals the all-batch tier chain — so partial-merge
    exactness holds across the streaming/batch boundary too."""
    from scribedb_spark.operators.rollup import (
        merge_tier,
        stream_minute_tier,
        tiered_rollup,
    )

    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    minute = _drain(
        spark, stream_minute_tier(stream, watermark=None), "t_rollup_minute"
    )
    got = merge_tier(merge_tier(minute, "hour", ["event_type"]), "day", ["event_type"])
    want = tiered_rollup(events_batch, "ts", "value", ["event_type"])["day"]
    cols = ["bucket", "event_type", "n_events", "sum_value", "min_value", "max_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_static_enrich_equals_batch(spark, events_batch, events_stream_dir, sf_dir):
    """Stream-static join: every micro-batch joins the static customer
    dim; the drained result equals the batch join exactly."""
    from scribedb_spark.streaming.joins import stream_static_enrich

    dim = table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey"
    )
    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    got = _drain(
        spark,
        stream_static_enrich(stream, dim, "user_id").select(
            "event_id", "user_id", "c_name", "c_nationkey"
        ),
        "t_enrich",
        mode="append",
    )
    want = stream_static_enrich(events_batch, dim, "user_id").select(
        "event_id", "user_id", "c_name", "c_nationkey"
    )
    cols = ["event_id", "user_id", "c_name", "c_nationkey"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_attribution_equals_batch(spark, events_batch, events_stream_dir):
    """Stream-stream time-bounded inner join (view->click attribution
    within 10 minutes) drained over unordered micro-batches equals the
    batch self-join twin. No watermark: replayed files are unordered,
    and an inner join without one is allowed (state just isn't
    evicted)."""
    from scribedb_spark.streaming.joins import view_click_attribution

    stream = read_events_stream(spark, events_stream_dir, schema=events_batch.schema)
    sv = stream.filter(F.col("event_type") == "view")
    sc = stream.filter(F.col("event_type") == "click")
    got = _drain(
        spark, view_click_attribution(sv, sc, watermark=None), "t_attrib", mode="append"
    )
    bv = events_batch.filter(F.col("event_type") == "view")
    bc = events_batch.filter(F.col("event_type") == "click")
    want = view_click_attribution(bv, bc, watermark=None)
    cols = ["v_user", "view_id", "click_id", "v_ts", "c_ts"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_fp_maintain_equals_batch_recompute(
    spark, events_batch, events_stream_dir
):
    """Streamed keyed-chunk fingerprint maintenance: after draining
    the ingest stream on top of an empty base, the maintained table
    must equal a from-scratch fp_keyed_chunks over the whole dataset
    — the batch twin — bit-for-bit (exact DECIMAL algebra across
    micro-batch folds)."""
    from scribedb_spark.canonical import fp_keyed_chunks
    from scribedb_spark.streaming.diff import stream_fp_maintain

    cols = ["event_id", "event_type", "user_id"]
    base = events_batch.select(*cols).limit(0)
    base_fps = fp_keyed_chunks(base, "event_id", cols, n_chunks=16)
    stream = read_events_stream(
        spark, events_stream_dir, schema=events_batch.schema
    ).select(*cols)
    q, holder = stream_fp_maintain(
        stream, base_fps, "event_id", cols, n_chunks=16
    )
    q.awaitTermination(120)
    got = {
        r["chunk_id"]: (r["n_rows"], r["fp_sum"])
        for r in holder.fps.collect()
        if r["n_rows"] != 0
    }
    want = {
        r["chunk_id"]: (r["n_rows"], r["fp_sum"])
        for r in fp_keyed_chunks(
            events_batch.select(*cols), "event_id", cols, n_chunks=16
        ).collect()
    }
    assert got == want


def test_stream_iblt_maintain_reconciles_exactly(
    spark, events_batch, events_stream_dir
):
    """Streamed IBLT sketch maintenance: after draining the ingest
    stream on top of an empty sketch, (a) reconciling the maintained
    cells against a from-scratch sketch of the full dataset decodes
    to ZERO differences (the fold algebra is exact across
    micro-batches), and (b) against a sketch missing two keys it
    recovers exactly those keys as 'removed'."""
    from scribedb_spark.analytics import (
        _iblt_cell_agg,
        _iblt_decode,
        _iblt_merge,
        _iblt_sketch,
    )
    from scribedb_spark.streaming.diff import stream_iblt_maintain

    cols = ["event_type", "user_id"]
    batch = events_batch.select("event_id", *cols)
    base_cells = _iblt_cell_agg(
        _iblt_sketch(batch.limit(0), 1, "event_id", cols)
    )
    stream = read_events_stream(
        spark, events_stream_dir, schema=events_batch.schema
    ).select("event_id", *cols)
    q, holder = stream_iblt_maintain(stream, base_cells, "event_id", cols)
    q.awaitTermination(120)

    full = _iblt_cell_agg(_iblt_sketch(batch, -1, "event_id", cols))
    same = _iblt_decode(
        spark, _iblt_merge(holder.cells, full), "event_id"
    ).collect()
    assert same == []

    drop = [r["event_id"] for r in batch.limit(2).collect()]
    partial = _iblt_cell_agg(
        _iblt_sketch(
            batch.filter(~F.col("event_id").isin(drop)), -1, "event_id", cols
        )
    )
    got = _iblt_decode(
        spark, _iblt_merge(holder.cells, partial), "event_id"
    ).collect()
    assert sorted((r["event_id"], r["change"]) for r in got) == sorted(
        (k, "removed") for k in drop
    )


def test_stream_lm_maintain_equals_batch_recompute(spark, sf_dir, tmp_path_factory):
    """Streamed LM maintenance: after draining a multi-file documents
    ingest stream on top of base tables built from a held-back split,
    the maintained bigram/prefix counts equal a from-scratch count
    over the WHOLE corpus — the union-sum fold is exact across
    micro-batches (the batch twin text_lm_score_incremental proves
    the same algebra against DuckDB)."""
    from scribedb_spark.operators.curation import lm_bigrams
    from scribedb_spark.streaming.diff import stream_lm_maintain

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    ok = F.size(F.split(F.col("text"), " ")) >= 2
    base = docs.filter(ok & (F.col("doc_id") % 3 == 0))
    arriving = docs.filter(F.col("doc_id") % 3 != 0)
    d = tmp_path_factory.mktemp("docs_stream")
    arriving.repartition(4).write.mode("overwrite").parquet(str(d))

    bg0 = lm_bigrams(base)
    cb0 = bg0.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    cp0 = bg0.groupBy("t1").agg(F.count(F.lit(1)).alias("cp"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q, holder = stream_lm_maintain(stream, cb0, cp0)
    q.awaitTermination(120)

    bg_full = lm_bigrams(docs.filter(ok))
    want_cb = _rows(
        bg_full.groupBy("bg").agg(F.count(F.lit(1)).alias("cb")), ["bg", "cb"]
    )
    want_cp = _rows(
        bg_full.groupBy("t1").agg(F.count(F.lit(1)).alias("cp")), ["t1", "cp"]
    )
    assert _rows(holder.cb, ["bg", "cb"]) == want_cb
    assert _rows(holder.cp, ["t1", "cp"]) == want_cp


def test_stream_postings_persist_maintains_disk_artifact(
    spark, sf_dir, tmp_path_factory
):
    """Streamed maintenance of the PERSISTED inverted index: base
    postings are saved to a warehouse path, a multi-file documents
    ingest stream appends its batches' postings, and afterwards the
    ON-DISK artifact (a) row-equals a from-scratch tokenize of the
    whole corpus and (b) serves the identical BM25 top-20 — the
    durable-index counterpart of stream_lm_maintain's in-memory
    holders (batch twin with DuckDB oracle: bm25_index_append)."""
    from scribedb_spark.operators.curation import _bm25_serve_from_postings
    from scribedb_spark.persist import save_artifact
    from scribedb_spark.streaming.diff import stream_postings_persist

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")

    def postings_of(d):
        return (
            d.select(
                "doc_id", F.explode(F.split("text", " ")).alias("term")
            )
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    base = docs.filter(F.col("doc_id") % 3 == 0)
    arriving = docs.filter(F.col("doc_id") % 3 != 0)
    dest = str(tmp_path_factory.mktemp("wh") / "bm25_postings_stream")
    save_artifact(postings_of(base), dest, {"base": "split3"})

    d = tmp_path_factory.mktemp("docs_stream2")
    arriving.repartition(4).write.mode("overwrite").parquet(str(d))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q, holder = stream_postings_persist(stream, dest)
    q.awaitTermination(120)

    maintained = spark.read.parquet(holder.dest)
    want = _rows(postings_of(docs), ["doc_id", "term", "tf"])
    assert _rows(maintained, ["doc_id", "term", "tf"]) == want
    got_topk = _rows(
        _bm25_serve_from_postings(maintained),
        ["doc_id", "score_pts", "rk"],
    )
    want_topk = _rows(
        _bm25_serve_from_postings(postings_of(docs)),
        ["doc_id", "score_pts", "rk"],
    )
    assert got_topk == want_topk

    # Replay idempotency: foreachBatch is at-least-once — recommitting
    # the SAME batch_id must rewrite that batch's files, not append a
    # second copy (a duplicate would double-count dl/df/tf forever).
    replay = docs.filter(F.col("doc_id") % 7 == 1).limit(50)
    holder.commit_batch(replay, 777001)
    once = _rows(spark.read.parquet(holder.dest), ["doc_id", "term", "tf"])
    holder.commit_batch(replay, 777001)
    twice = _rows(spark.read.parquet(holder.dest), ["doc_id", "term", "tf"])
    assert twice == once

    # Compaction: REFUSED by default on a stream-owned artifact
    # (folding batch-N files away breaks the replay-delete guard — an
    # at-least-once redelivery would silently double-count); with the
    # stream stopped and drained, the explicit flag rewrites the
    # accumulated per-batch file sets into a few files with the
    # identical row multiset — every BM25 reader is oblivious.
    from scribedb_spark.persist import _artifact_data_files, compact_artifact

    n_before = len(_artifact_data_files(holder.dest))
    assert not compact_artifact(spark, holder.dest, max_files=2, target_files=2)
    assert len(_artifact_data_files(holder.dest)) == n_before
    assert compact_artifact(
        spark, holder.dest, max_files=2, target_files=2, allow_stream_owned=True
    )
    assert len(_artifact_data_files(holder.dest)) <= 2
    compacted = _rows(spark.read.parquet(holder.dest), ["doc_id", "term", "tf"])
    assert compacted == twice


def test_stream_quality_maintain_matches_batch_twin_on_planted_drift(
    spark, tmp_path_factory
):
    """Streamed drift monitoring: a PLANTED-drift corpus (the batch
    slice arrives truncated — test_properties' quality-drift fixture)
    is split into base + a multi-file ingest stream of the batch
    slice; after draining 3+ micro-batches the maintained histogram's
    decision row EQUALS the batch twin rollup_quality_drift computes
    from scratch on the same corpus — same TV, same 'drift' verdict
    (and the monitor fires). The union-sum histogram fold is exact
    across micro-batches."""
    from scribedb_spark.operators.curation import (
        _QDRIFT_MOD,
        _QDRIFT_REM,
        quality_bin_hist,
        quality_bins,
        quality_drift_from_hist,
        rollup_quality_drift,
    )
    from scribedb_spark.streaming.diff import stream_quality_maintain

    long_text = ("the quick brown fox jumps over the lazy dog " * 15).strip()
    rows = [
        (
            i,
            ("the fox" if i % _QDRIFT_MOD == _QDRIFT_REM else long_text),
            "en",
            "s",
            7,
        )
        for i in range(200)
    ]
    d = tmp_path_factory.mktemp("qdrift_stream")
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))

    base = docs.filter(F.col("doc_id") % _QDRIFT_MOD != _QDRIFT_REM)
    arriving = docs.filter(F.col("doc_id") % _QDRIFT_MOD == _QDRIFT_REM)
    sdir = tmp_path_factory.mktemp("qdrift_ingest")
    arriving.repartition(4).write.mode("overwrite").parquet(str(sdir))

    base_hist = quality_bin_hist(quality_bins(base, is_batch=F.lit(False)))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q, holder = stream_quality_maintain(stream, base_hist)
    q.awaitTermination(120)

    got = quality_drift_from_hist(spark, holder.h).collect()[0]
    want = rollup_quality_drift(spark, str(d)).collect()[0]
    assert got.asDict() == want.asDict()
    assert got["decision"] == "drift"


def test_stream_freshness_maintain_matches_batch_twin_on_dead_topic(
    spark, tmp_path_factory
):
    """Streamed ingest-freshness monitoring: a corpus with a PLANTED
    dead topic (one event_type whose newest row lags the freshest
    stream by 2h) arrives as a multi-file ingest stream; after
    draining the micro-batches the maintained per-type state's
    decision table EQUALS the batch twin rollup_source_freshness
    computes from scratch on the same corpus — and the dead topic
    reads 'stale'. The count/max state fold is exact across
    micro-batches."""
    from datetime import datetime, timezone

    from scribedb_spark.analytics import (
        freshness_decision,
        rollup_source_freshness,
    )
    from scribedb_spark.streaming.diff import stream_freshness_maintain

    t0 = datetime(2026, 3, 1, 12, 0, 0, tzinfo=timezone.utc)
    rows = []
    for i in range(240):
        typ = ["click", "view", "purchase"][i % 3]
        ts = datetime.fromtimestamp(
            t0.timestamp() - (i % 50) * 60, tz=timezone.utc
        )
        rows.append((i, typ, ts))
    for i in range(240, 260):  # dead producer: newest row 2h old
        ts = datetime.fromtimestamp(
            t0.timestamp() - 7200 - (i % 7) * 60, tz=timezone.utc
        )
        rows.append((i, "heartbeat", ts))
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp"
    )
    d = tmp_path_factory.mktemp("freshness_corpus")
    events.write.mode("overwrite").parquet(str(d / "events.parquet"))

    sdir = tmp_path_factory.mktemp("freshness_ingest")
    events.repartition(4).write.mode("overwrite").parquet(str(sdir))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q, holder = stream_freshness_maintain(stream)
    q.awaitTermination(120)

    cols = ["event_type", "n_events", "last_seen_us", "lag_us", "verdict"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in freshness_decision(holder.state).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in rollup_source_freshness(spark, str(d)).collect()
    )
    assert got == want
    verdicts = {r[0]: r[4] for r in got}
    assert verdicts["heartbeat"] == "stale"
    assert all(v == "fresh" for t, v in verdicts.items() if t != "heartbeat")


def test_stream_source_overlap_maintain_matches_batch_twin(
    spark, sf_dir, tmp_path_factory
):
    """Streamed inter-source duplication census: the documents corpus
    arrives as a 4-file ingest stream; after draining, the maintained
    (pair counts, doc counts) state's decision table must row-equal
    the batch twin's from-scratch LSH census over the same corpus —
    the exactly-once pair-discovery argument (a pair is found in the
    micro-batch where its later document arrives, and never again)
    checked against the real banded-LSH pair set."""
    from scribedb_spark.operators.dedup import (
        rollup_source_overlap,
        source_overlap_decision,
    )
    from scribedb_spark.sources import table as _table
    from scribedb_spark.streaming.diff import stream_source_overlap_maintain

    docs = _table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source"
    )
    sdir = tmp_path_factory.mktemp("overlap_ingest")
    docs.repartition(4).write.mode("overwrite").parquet(str(sdir))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q, holder = stream_source_overlap_maintain(stream)
    q.awaitTermination(180)

    cols = [
        "source_a",
        "source_b",
        "n_pairs",
        "n_docs_a",
        "n_docs_b",
        "dup_rate_ppm",
    ]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in source_overlap_decision(holder.cnt, holder.ds).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in rollup_source_overlap(spark, sf_dir).collect()
    )
    assert got == want and got


def test_stream_components_maintain_matches_batch_twin(
    spark, sf_dir, tmp_path_factory
):
    """Streamed near-dup component census: the documents corpus
    arrives as a 4-file ingest stream (arbitrary id order, so group
    reps are frequently discovered AFTER larger members — exercising
    the min-fold rep handoff); after draining, the maintained
    rep-group state's cluster-size distribution must row-equal the
    batch dedup_cluster_stats over the same corpus — whose own DuckDB
    oracle is the naive member-pair recursive CTE, so the equality
    transitively proves the streamed rep-grain fold against the
    member-grain ground truth."""
    from scribedb_spark.operators.dedup import dedup_cluster_stats
    from scribedb_spark.sources import table as _table
    from scribedb_spark.streaming.diff import stream_components_maintain

    docs = _table(spark, "documents", sf_dir).select("doc_id", "text")
    sdir = tmp_path_factory.mktemp("components_ingest")
    docs.repartition(4).write.mode("overwrite").parquet(str(sdir))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q, holder = stream_components_maintain(stream)
    q.awaitTermination(180)

    cols = ["cluster_size", "n_clusters", "n_docs"]
    got = sorted(
        tuple(r[c] for c in cols) for r in holder.stats().collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in dedup_cluster_stats(spark, sf_dir).collect()
    )
    assert got == want and got
    # the signature state is GROUP-sized: one signature set per
    # distinct text, never per member (the streamed analog of the
    # rep-grain collapse's volume claim)
    n_groups = holder.grp.count()
    assert holder.gsig.count() <= 4 * n_groups


def test_stream_search_eval_maintain_matches_batch_twin(
    spark, sf_dir, tmp_path_factory
):
    """Streamed retrieval-drift monitoring: the corpus' crawl-delta
    slice (doc_id % 101 == 13 — the same split search_eval_overlap
    scores) arrives as a multi-file ingest stream on top of the base
    corpus; after draining, the maintained drift row EQUALS the batch
    twin's from-scratch recompute over the full corpus — the postings
    append + df/avgdl re-derive fold is exact across micro-batches,
    and the decision (honestly 'shifted' at sf0.001) fires from the
    stream exactly when the batch key says it must."""
    from scribedb_spark.operators.curation import (
        _LM_DELTA_MOD,
        _LM_DELTA_REM,
        search_eval_overlap,
    )
    from scribedb_spark.sources import table as _table
    from scribedb_spark.streaming.diff import stream_search_eval_maintain

    docs = _table(spark, "documents", sf_dir).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % _LM_DELTA_MOD != _LM_DELTA_REM)
    delta = docs.filter(F.col("doc_id") % _LM_DELTA_MOD == _LM_DELTA_REM)
    sdir = tmp_path_factory.mktemp("search_eval_ingest")
    delta.repartition(3).write.mode("overwrite").parquet(str(sdir))
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q, holder = stream_search_eval_maintain(stream, base)
    # pre-ingest the row must read full == base (perfect overlap)
    pre = holder.row.collect()[0]
    assert pre["overlap_ppm"] == 1_000_000 and pre["verdict"] == "stable"
    q.awaitTermination(180)

    got = holder.row.collect()[0].asDict()
    want = search_eval_overlap(spark, sf_dir).collect()[0].asDict()
    assert got == want


def _replay_streams(spark, docs, tmp_path_factory):
    """Two one-file-per-batch streams that each replay ``docs``'
    doc_ids: the slice written twice (the second batch replays the
    first's docs) and the slice doubled inside one file (one batch
    carries every doc_id twice)."""
    across = tmp_path_factory.mktemp("replay_across")
    docs.coalesce(1).write.mode("overwrite").parquet(str(across))
    docs.coalesce(1).write.mode("append").parquet(str(across))
    within = tmp_path_factory.mktemp("replay_within")
    docs.unionByName(docs).coalesce(1).write.mode("overwrite").parquet(
        str(within)
    )
    return [
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        for d in (across, within)
    ]


def test_stream_components_maintain_rejects_replayed_batch(
    spark, sf_dir, tmp_path_factory
):
    """ADVICE r14: the components maintainer's (min, sum) group fold
    and n_total are exact only under at-most-once ingestion — a
    replayed batch must FAIL THE QUERY loudly (the
    stream_search_eval_maintain discipline), never silently inflate
    member counts, the singleton row, or cluster sizes."""
    from pyspark.sql.streaming import StreamingQueryException

    from scribedb_spark.sources import table as _table
    from scribedb_spark.streaming.diff import stream_components_maintain

    docs = (
        _table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        .limit(60)
        .localCheckpoint()
    )
    streams = _replay_streams(spark, docs, tmp_path_factory)
    for i, stream in enumerate(streams):
        q, holder = stream_components_maintain(
            stream, query_name=f"components_replay{i}"
        )
        with pytest.raises(StreamingQueryException, match="replays"):
            q.awaitTermination(180)
            raise AssertionError("replayed batch was ingested silently")


def test_stream_search_eval_maintain_rejects_replayed_batch(
    spark, sf_dir, tmp_path_factory
):
    """ADVICE r12: the postings append is an exact merge only under
    at-most-once ingestion — a replayed batch must FAIL THE QUERY
    loudly (the --mode iblt input-validation discipline), never
    silently double-count tf/df/n_docs/total_tokens."""
    from pyspark.sql.streaming import StreamingQueryException

    from scribedb_spark.operators.curation import (
        _LM_DELTA_MOD,
        _LM_DELTA_REM,
    )
    from scribedb_spark.sources import table as _table
    from scribedb_spark.streaming.diff import stream_search_eval_maintain

    docs = _table(spark, "documents", sf_dir).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % _LM_DELTA_MOD != _LM_DELTA_REM)
    delta = docs.filter(
        F.col("doc_id") % _LM_DELTA_MOD == _LM_DELTA_REM
    ).localCheckpoint()
    streams = _replay_streams(spark, delta, tmp_path_factory)
    for i, stream in enumerate(streams):
        q, holder = stream_search_eval_maintain(
            stream, base, query_name=f"search_eval_replay{i}"
        )
        with pytest.raises(StreamingQueryException, match="replays"):
            q.awaitTermination(180)
            raise AssertionError("replayed batch was ingested silently")


def test_stream_gate_panel_maintain_matches_batch_panel(
    spark, sf_dir, tmp_path_factory
):
    """Streamed gate panel: stream the quality batch slice (documents)
    and the full events history as multi-file ingest streams; after
    draining, holder.panel() must ROW-EQUAL the batch
    rollup_gate_panel over the same corpus — the two streamed rows
    derive from maintained state, the other seven from their
    decision-served gates, and the batch key (driver-oracle-proven)
    is the oracle."""
    from scribedb_spark import queries as Q
    from scribedb_spark.operators.curation import (
        _QDRIFT_MOD,
        _QDRIFT_REM,
        quality_bin_hist,
        quality_bins,
    )
    from scribedb_spark.sources import table as _table
    from scribedb_spark.streaming.diff import stream_gate_panel_maintain

    Q.load_extensions()
    docs = _table(spark, "documents", sf_dir).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % _QDRIFT_MOD != _QDRIFT_REM)
    arriving = docs.filter(F.col("doc_id") % _QDRIFT_MOD == _QDRIFT_REM)
    events = _table(spark, "events", sf_dir)

    ddir = tmp_path_factory.mktemp("panel_docs_ingest")
    arriving.repartition(3).write.mode("overwrite").parquet(str(ddir))
    edir = tmp_path_factory.mktemp("panel_events_ingest")
    events.repartition(3).write.mode("overwrite").parquet(str(edir))

    doc_stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ddir))
    )
    event_stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(edir))
    )
    base_hist = quality_bin_hist(quality_bins(base, is_batch=F.lit(False)))
    (q1, q2), holder = stream_gate_panel_maintain(
        doc_stream, base_hist, event_stream
    )
    q1.awaitTermination(180)
    q2.awaitTermination(180)

    cols = ["gate", "measured", "threshold", "decision"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in holder.panel(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in Q.REGISTRY["rollup_gate_panel"].fn(spark, sf_dir).collect()
    )
    assert got == want


def test_stream_decontaminate_maintain_matches_batch_twin(
    spark, tmp_path_factory
):
    """Streamed benchmark decontamination: a PLANTED-contamination
    corpus (two exact benchmark copies -> quarantine, one 8-token
    prefix leak -> review, a sub-span-length doc and an unrelated
    train-train duplicate as controls) streams its train split in
    multi-file micro-batches against the fixed benchmark span set;
    after the drain the accumulated report ROW-EQUALS the batch
    twin's from-scratch text_decontaminate over the same corpus —
    per-doc reports are pure functions of (text, benchmark set), so
    batch boundaries cannot change them."""
    from scribedb_spark.operators.curation import text_decontaminate
    from scribedb_spark.streaming.diff import stream_decontaminate_maintain

    bench_a = " ".join(f"a{i}" for i in range(12))
    bench_b = " ".join(f"b{i}" for i in range(12))

    def uniq(i):
        return " ".join(f"u{i}x{j}" for j in range(12))

    rows = []
    for i in range(150):
        if i % 101 == 7:
            text = bench_a if i == 7 else bench_b
        elif i in (10, 20):
            text = bench_a  # exact benchmark copy -> quarantine
        elif i == 30:  # one shared 8-token span -> review
            text = " ".join(bench_a.split()[:8]) + " " + " ".join(
                f"t{j}" for j in range(6)
            )
        elif i == 40:
            text = "too short for spans"  # < 8 tokens: no row
        elif i == 50:
            text = uniq(60)  # train-train duplicate: no bench hit
        else:
            text = uniq(i)
        rows.append((i, text, "en", "s", len(text)))
    d = tmp_path_factory.mktemp("decon_stream")
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))

    bench = docs.filter(F.col("doc_id") % 101 == 7)
    train = docs.filter(F.col("doc_id") % 101 != 7)
    sdir = tmp_path_factory.mktemp("decon_ingest")
    train.repartition(4).write.mode("overwrite").parquet(str(sdir))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(sdir))
    )
    q, holder = stream_decontaminate_maintain(stream, bench)
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in holder.report().collect())
    want = sorted(
        tuple(r) for r in text_decontaminate(spark, str(d)).collect()
    )
    assert got == want
    verdicts = {r[0]: r[4] for r in got}
    assert verdicts[10] == verdicts[20] == "quarantine"
    assert verdicts[30] == "review"
    assert 40 not in verdicts and 50 not in verdicts


def test_stream_decontaminate_maintain_rejects_replayed_batch(
    spark, sf_dir, tmp_path_factory
):
    """The report union is exact only under at-most-once ingestion —
    a replayed batch must FAIL THE QUERY loudly (the
    stream_search_eval_maintain discipline), never silently duplicate
    report rows."""
    from pyspark.sql.streaming import StreamingQueryException

    from scribedb_spark.sources import table as _table
    from scribedb_spark.streaming.diff import stream_decontaminate_maintain

    docs = (
        _table(spark, "documents", sf_dir)
        .select("doc_id", "text", F.lit("en").alias("lang"))
        .limit(40)
        .localCheckpoint()
    )
    bench = docs.limit(5)
    streams = _replay_streams(spark, docs, tmp_path_factory)
    for i, stream in enumerate(streams):
        q, holder = stream_decontaminate_maintain(
            stream, bench, query_name=f"decon_replay{i}"
        )
        with pytest.raises(StreamingQueryException, match="replays"):
            q.awaitTermination(180)
            raise AssertionError("replayed batch was ingested silently")


def _snap(*frames):
    """A state snapshot: each frame collected as a sorted row list."""
    return [sorted(map(tuple, f.collect()), key=repr) for f in frames]


def _replay_docs(spark, sf_dir):
    return (
        table(spark, "documents", sf_dir)
        .select("doc_id", "text", "source")
        .orderBy("doc_id")
        .limit(40)
        .localCheckpoint()
    )


def _replay_compare(spark, sf_dir, tmp, empty):
    ev = table(spark, "events", sf_dir)
    q, h = stream_compare(
        empty(ev.schema), ev, keys=["event_id"], query_name="replay_compare"
    )
    return [q], [(h, ev.limit(20), lambda: [dict(b) for b in h.batches])]


def _replay_fp(spark, sf_dir, tmp, empty):
    from scribedb_spark.canonical import fp_keyed_chunks
    from scribedb_spark.streaming.diff import stream_fp_maintain

    cols = ["event_id", "event_type", "user_id"]
    ev = table(spark, "events", sf_dir).select(*cols)
    base = fp_keyed_chunks(ev.limit(0), "event_id", cols, n_chunks=16)
    q, h = stream_fp_maintain(
        empty(ev.schema), base, "event_id", cols, n_chunks=16,
        query_name="replay_fp",
    )
    return [q], [(h, ev.limit(20), lambda: _snap(h.fps))]


def _replay_iblt(spark, sf_dir, tmp, empty):
    from scribedb_spark.analytics import _iblt_cell_agg, _iblt_sketch
    from scribedb_spark.streaming.diff import stream_iblt_maintain

    cols = ["event_type", "user_id"]
    ev = table(spark, "events", sf_dir).select("event_id", *cols)
    base = _iblt_cell_agg(_iblt_sketch(ev.limit(0), 1, "event_id", cols))
    q, h = stream_iblt_maintain(
        empty(ev.schema), base, "event_id", cols, query_name="replay_iblt"
    )
    return [q], [(h, ev.limit(20), lambda: _snap(h.cells))]


def _replay_lm(spark, sf_dir, tmp, empty):
    from scribedb_spark.operators.curation import lm_bigrams
    from scribedb_spark.streaming.diff import stream_lm_maintain

    docs = _replay_docs(spark, sf_dir).select("doc_id", "text")
    bg0 = lm_bigrams(docs.filter(F.col("doc_id") % 3 == 0))
    q, h = stream_lm_maintain(
        empty(docs.schema),
        bg0.groupBy("bg").agg(F.count(F.lit(1)).alias("cb")),
        bg0.groupBy("t1").agg(F.count(F.lit(1)).alias("cp")),
        query_name="replay_lm",
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return [q], [(h, batch, lambda: _snap(h.cb, h.cp))]


def _replay_postings(spark, sf_dir, tmp, empty):
    from scribedb_spark.streaming.diff import stream_postings_persist

    docs = _replay_docs(spark, sf_dir).select("doc_id", "text")
    q, h = stream_postings_persist(
        empty(docs.schema), str(tmp / "postings"), query_name="replay_postings"
    )
    return [q], [(h, docs, lambda: _snap(spark.read.parquet(h.dest)))]


def _replay_quality(spark, sf_dir, tmp, empty):
    from scribedb_spark.operators.curation import quality_bin_hist, quality_bins
    from scribedb_spark.streaming.diff import stream_quality_maintain

    docs = _replay_docs(spark, sf_dir)
    base = quality_bin_hist(quality_bins(docs, is_batch=F.lit(False)))
    q, h = stream_quality_maintain(
        empty(docs.schema), base, query_name="replay_quality"
    )
    return [q], [(h, docs, lambda: _snap(h.h))]


def _replay_freshness(spark, sf_dir, tmp, empty):
    from scribedb_spark.streaming.diff import stream_freshness_maintain

    ev = table(spark, "events", sf_dir)
    q, h = stream_freshness_maintain(
        empty(ev.schema), query_name="replay_freshness"
    )
    return [q], [(h, ev.limit(50), lambda: _snap(h.state))]


def _replay_source_overlap(spark, sf_dir, tmp, empty):
    from scribedb_spark.streaming.diff import stream_source_overlap_maintain

    docs = _replay_docs(spark, sf_dir)
    q, h = stream_source_overlap_maintain(
        empty(docs.schema), query_name="replay_source_overlap"
    )
    return [q], [(h, docs, lambda: _snap(h.sig, h.cnt, h.ds))]


def _replay_components(spark, sf_dir, tmp, empty):
    from scribedb_spark.streaming.diff import stream_components_maintain

    docs = _replay_docs(spark, sf_dir).select("doc_id", "text")
    q, h = stream_components_maintain(
        empty(docs.schema), query_name="replay_components"
    )

    def snap():
        return [h.n_total] + _snap(h.grp, h.gsig, h.stats())

    return [q], [(h, docs, snap)]


def _replay_search_eval(spark, sf_dir, tmp, empty):
    from scribedb_spark.streaming.diff import stream_search_eval_maintain

    docs = _replay_docs(spark, sf_dir).select("doc_id", "text")
    q, h = stream_search_eval_maintain(
        empty(docs.schema),
        docs.filter(F.col("doc_id") % 3 == 0),
        query_name="replay_search_eval",
    )

    def snap():
        return [h.n_docs, h.total_tokens] + _snap(h.row)

    return [q], [(h, docs.filter(F.col("doc_id") % 3 != 0), snap)]


def _replay_decontaminate(spark, sf_dir, tmp, empty):
    from scribedb_spark.streaming.diff import stream_decontaminate_maintain

    docs = _replay_docs(spark, sf_dir).select("doc_id", "text")
    q, h = stream_decontaminate_maintain(
        empty(docs.schema), docs.limit(5), query_name="replay_decontaminate"
    )
    return [q], [(h, docs, lambda: _snap(h.report()))]


def _replay_gate_panel(spark, sf_dir, tmp, empty):
    from scribedb_spark.operators.curation import quality_bin_hist, quality_bins
    from scribedb_spark.streaming.diff import stream_gate_panel_maintain

    docs = _replay_docs(spark, sf_dir)
    ev = table(spark, "events", sf_dir)
    base = quality_bin_hist(quality_bins(docs, is_batch=F.lit(False)))
    qs, h = stream_gate_panel_maintain(
        empty(docs.schema), base, empty(ev.schema),
        query_prefix="replay_gate_panel",
    )
    return list(qs), [
        (h.quality, docs, lambda: _snap(h.quality.h)),
        (h.freshness, ev.limit(50), lambda: _snap(h.freshness.state)),
    ]


_REPLAY_SINKS = {
    "compare": _replay_compare,
    "fp": _replay_fp,
    "iblt": _replay_iblt,
    "lm": _replay_lm,
    "postings": _replay_postings,
    "quality": _replay_quality,
    "freshness": _replay_freshness,
    "source_overlap": _replay_source_overlap,
    "components": _replay_components,
    "search_eval": _replay_search_eval,
    "decontaminate": _replay_decontaminate,
    "gate_panel": _replay_gate_panel,
}


@pytest.mark.parametrize("sink", list(_REPLAY_SINKS))
def test_stream_sink_skips_replayed_batch_id(spark, sf_dir, tmp_path, sink):
    """foreachBatch is at-least-once: a restart re-delivers the same
    batch_id. Every sink (both of the gate panel's) drains an empty
    stream, then commits one batch by hand; committing it again under
    the SAME batch_id must leave the state exactly as one fold left
    it. A repeated doc under a NEW batch_id is a different case: the
    doc_id-guarded sinks still reject it (the *_rejects_replayed_batch
    tests)."""
    import tempfile

    def empty(schema):
        d = tempfile.mkdtemp(dir=tmp_path)
        return spark.readStream.schema(schema).parquet(d)

    queries, holders = _REPLAY_SINKS[sink](spark, sf_dir, tmp_path, empty)
    for q in queries:
        q.awaitTermination(120)
    for holder, batch, snap in holders:
        holder.commit_batch(batch, 10**6)
        once = snap()
        holder.commit_batch(batch, 10**6)
        assert snap() == once
