"""Canonical row formatting + dataset fingerprints (SURVEY.md §2.9).

The reference's only "type system" is *text rendering inside each
database*: PostgreSQL hashes the composite-literal rendering of the
row (reference scribedb/postgres.py:17-23, the ``$2::text`` cast in
``md5_agg_sfunc``), and Oracle imitates PG's rendering by
comma-concatenating columns and regexp-quoting whitespace tokens
(reference scribedb/oracle.py:60,107,170-188), with timestamps pinned
via ``NLS_TIMESTAMP_FORMAT='YYYY-MM-DD HH24:MI:SS'`` (reference
scribedb/oracle.py:140-145).

This module replaces that ad-hoc scheme with an explicit, documented,
engine-independent spec:

``canonical_cell``  per-type text rendering (NULL marker, escaped
                    separators, fixed-format timestamps/floats).
``canonical_row``   ``(c1,c2,...)`` rendering of a full row.
``fp_row_md5``      per-row MD5 of the canonical text (ref F1).
``fp_unordered``    commutative dataset fingerprint — SUM of a 60-bit
                    integer slice of each row's MD5 (the default, any
                    engine can reproduce it), or with
                    ``algo='xxhash64'`` of a hash of the row's typed
                    values (the ``compare()`` verdict). Fully parallel
                    (map-side partial aggregation, no order
                    dependency) and scales to any row count via
                    DECIMAL(38,0) accumulation (2^60 * 10^12 rows ~
                    2^100 < 10^38).
``fp_chain``        the reference's order-sensitive chained MD5
                    (state <- upper(md5(state || row_text)), state0='',
                    reference scribedb/postgres.py:17-30), computed
                    per chunk with *deterministic* chunk boundaries.
                    Unlike Oracle's ODCIAggregateMerge — which merges
                    partial chains in nondeterministic split order, a
                    latent bug (reference scribedb/oracle.py:77-81) —
                    chunks here are defined by global row number, so
                    the result is reproducible under any parallelism.

The canonical text is lossy on purpose — doubles print to 6 decimals,
timestamps to the second, as the reference renders them — so the text
fingerprints (``fp_row_md5``, ``fp_chain`` and the md5 ``fp_unordered``)
can match for rows whose values differ. The verdict and the diffs of
``compare`` compare exact typed values instead: a pair whose verdict
is "different" can still get an all-``OK`` chunk report.

Scale notes (100 TB design):
- ``fp_unordered`` is one ``groupBy().agg(sum)`` — partial aggregation
  map-side, a single scalar crosses the shuffle per partition.
- ``fp_chain`` avoids the single-partition global window: row numbers
  come from ``global_row_number`` (one range repartition, checkpointed
  with a ``monotonically_increasing_id`` per row, one tiny driver-side
  segment table, then a narrow projection — the rows shuffle once),
  then the sequential fold runs *per chunk* via
  ``aggregate(sort_array(collect_list(...)))`` — JVM-side, no Python
  UDF. The fold stays sequential: the chain contract (each state
  hashes the previous one) admits no partial combine. Chunk width
  bounds the per-group state; for very wide chunks use
  ``subchunk_rows`` (two-level Merkle-style fold with deterministic
  boundaries). ``group_by`` numbers and folds several datasets in
  the same pass (``compare.chunk_fingerprints`` tags both sides).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Rendered in place of SQL NULL. The reference renders NULL as the
#: empty string inside PG composite literals, which collides with ''
#: (a flaw noted in SURVEY.md §7 hard-part 3). We use an explicit
#: marker; postgres-compat rendering is available via pg_compat=True.
NULL_MARKER = "\\N"

#: Timestamp format matching the reference's session-level
#: normalization (reference scribedb/oracle.py:140).
TS_FORMAT = "yyyy-MM-dd HH:mm:ss"
#: Engine-default keeps sub-second precision (divergence documented).
TS_FORMAT_FULL = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _escape(c: Column) -> Column:
    """Escape separator chars so '(a,b' , 'c)' can't collide with
    '(a','b,c)'. Backslash first, then comma/parens."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit(","), F.lit("\\,"))
    return c


def canonical_cell(col: Column, dtype: T.DataType, *, full_ts: bool = False) -> Column:
    """Deterministic text rendering of one cell (pre-escape).

    Per-type rules (SURVEY.md §1.2 "Spark mapping"):
      timestamp -> fixed date_format (ref NLS_TIMESTAMP_FORMAT parity)
      float/double -> printf '%.6f' (cross-engine-stable, unlike
                      engine-default float->text)
      decimal -> plain string cast (scale preserved)
      boolean -> 'true'/'false'
      binary -> lowercase hex
      array/map/struct -> to_json (deterministic for deterministic input)
      everything else -> string cast
    """
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        out = F.date_format(col, TS_FORMAT_FULL if full_ts else TS_FORMAT)
    elif isinstance(dtype, T.DateType):
        out = F.date_format(col, "yyyy-MM-dd")
    elif isinstance(dtype, (T.DoubleType, T.FloatType)):
        out = F.format_string("%.6f", col.cast("double"))
    elif isinstance(dtype, T.DecimalType):
        out = col.cast("string")
    elif isinstance(dtype, T.BooleanType):
        out = F.when(col, F.lit("true")).otherwise(F.lit("false"))
    elif isinstance(dtype, T.BinaryType):
        out = F.lower(F.hex(col))
    elif isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        out = F.to_json(col)
    else:
        out = col.cast("string")
    return F.coalesce(_escape(out), F.lit(NULL_MARKER))


def canonical_row(df: DataFrame, cols: list[str] | None = None, *, full_ts: bool = False) -> Column:
    """``(v1,v2,...)`` canonical text of a row — the engine's version of
    PG's composite rendering (reference scribedb/postgres.py:22
    ``$2::text``) / Oracle's paren-wrapped concat (reference
    scribedb/oracle.py:107)."""
    cols = cols or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    cells = [canonical_cell(F.col(c), fields[c], full_ts=full_ts) for c in cols]
    return F.concat(F.lit("("), F.concat_ws(",", *cells), F.lit(")"))


def fp_row_md5(df: DataFrame, cols: list[str] | None = None, out_col: str = "row_md5") -> DataFrame:
    """F1: append a per-row MD5 over the canonical row text
    (reference scribedb/postgres.py:22 ``md5(state || row::text)``'s
    inner rendering, minus the chain)."""
    return df.withColumn(out_col, F.md5(canonical_row(df, cols)))


def _fp_term(row_md5: Column) -> Column:
    """60-bit integer slice of a row MD5 (15 hex chars), as
    DECIMAL(38,0) so the SUM never overflows at any scale."""
    return F.conv(F.substring(row_md5, 1, 15), 16, 10).cast("decimal(38,0)")


def _typed_values(df: DataFrame, cols: list[str] | None = None) -> list[Column]:
    """The columns a row's typed hash reads: one null flag per column,
    then the values. Spark's hash skips a null value, so without the
    flags (null, 5) and (5, null) would hash alike. Its double and
    float hashes already map -0.0 to 0.0 and every NaN to one value,
    as ``groupBy`` does. Array, struct and map values hash as their
    ``canonical_cell`` text: Spark cannot hash a map, and a nested
    null would again be skipped."""
    cols = cols or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    nested = (T.ArrayType, T.MapType, T.StructType)
    values = [
        canonical_cell(F.col(c), fields[c]) if isinstance(fields[c], nested) else F.col(c)
        for c in cols
    ]
    return [F.isnull(c) for c in cols] + values


def fp_unordered(
    df: DataFrame,
    cols: list[str] | None = None,
    group_by: list[str] | None = None,
    algo: str = "md5",
) -> DataFrame:
    """F3: commutative dataset fingerprint.

    Returns one row (or one per ``group_by`` key):
    ``n_rows`` + ``fp`` = SUM over rows of a per-row hash.
    Order-insensitive, so Spark's partial/final aggregation is
    safe — unlike the reference's chained hash, whose Oracle Merge is
    order-unsafe (reference scribedb/oracle.py:77-81).

    ``algo``: 'md5' (default — 60-bit slice of the MD5 of the
    canonical row text, reproducible in any engine for cross-system
    checks) or 'xxhash64' (Spark-native, for when both sides are
    computed by this engine, e.g. the compare() fast path). The
    xxhash64 term hashes the typed values, not the lossy text: two
    rows get the same term when a ``groupBy`` on every column would
    put them in one group, so it agrees with the symmetric diff.
    """
    if algo == "xxhash64":
        term = F.xxhash64(*_typed_values(df, cols)).cast("decimal(38,0)")
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(term).alias("fp"),
        ]
        if group_by:
            return df.groupBy(*group_by).agg(*aggs)
        return df.agg(*aggs)
    hashed = fp_row_md5(df, cols)
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_fp_term(F.col("row_md5"))).alias("fp"),
    ]
    if group_by:
        return hashed.groupBy(*group_by).agg(*aggs)
    return hashed.agg(*aggs)


def _segment_offset(mid: Column, segs: list[tuple[int, int]]) -> Column:
    """Offset of the segment holding id ``mid``: ``segs`` is
    ``(first id, offset)`` sorted by first id, and a row belongs to the
    last segment starting at or before its id. A balanced CASE tree,
    so each row makes log2(len(segs)) comparisons."""
    if len(segs) == 1:
        return F.lit(segs[0][1])
    half = len(segs) // 2
    return F.when(mid >= segs[half][0], _segment_offset(mid, segs[half:])).otherwise(
        _segment_offset(mid, segs[:half])
    )


def global_row_number(
    df: DataFrame,
    sort_keys: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """1-based row number over ``sort_keys`` WITHOUT the
    single-partition ``Window.orderBy`` bottleneck — with ``group_by``,
    ``row_number() OVER (PARTITION BY group_by ORDER BY sort_keys)``.

    One range-partitioned pass:
      1. range-repartition by (group_by, sort_keys) and sort within
         partitions (sampled range boundaries -> partitions are
         globally ordered), tag each row with
         ``monotonically_increasing_id`` and localCheckpoint,
      2. one tiny collect: per (partition, group) segment, its smallest
         id and its row count; the segments of one group are told
         apart by the group's smallest id (a Spark window over the
         segments), never by comparing or sorting group values in
         Python, which orders null and NaN differently from Spark,
      3. a narrow projection: rn = id - (segment's smallest id) + 1 +
         (the group's rows in earlier partitions). Rows of one segment
         are consecutive within their partition, so their ids are too.

    The reference leans on server-side LIMIT/OFFSET for the same job
    (reference scribedb/postgres.py:84-88) — O(chunks) re-sorts; this
    is one sort total and no second shuffle of the rows.

    Determinism requires ``sort_keys`` to uniquely order rows within a
    group; rows tying on every key get arbitrary (run-dependent)
    numbers. Callers needing run-stable output append a content
    tiebreaker — fp_chain appends its canonical ``__txt`` column.
    """
    groups = list(group_by or [])
    order = [F.col(k) for k in groups + list(sort_keys)]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *order).sortWithinPartitions(*order)
    # localCheckpoint so the segment table and the ids see the exact
    # same partitioning (repartitionByRange SAMPLES its boundaries; a
    # recompute could partition differently). Stronger than persist():
    # a persist'd block evicted under memory pressure would silently
    # recompute-and-resample, and checkpoint blocks are reclaimed by
    # the ContextCleaner when the plan is dropped instead of pinning
    # cache across keys in a long-lived session.
    parted = parted.withColumn("__mid", F.monotonically_increasing_id()).localCheckpoint()
    # the id's upper 31 bits are the partition index
    segs = parted.groupBy(F.shiftright("__mid", 33).alias("__pid"), *groups).agg(
        F.min("__mid").alias("start"), F.count(F.lit(1)).alias("cnt")
    )
    if groups:
        segs = segs.withColumn("group_start", F.min("start").over(Window.partitionBy(*groups)))
    else:
        segs = segs.withColumn("group_start", F.lit(0))
    rows = sorted(segs.select("start", "cnt", "group_start").collect())
    if not rows:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    seen: dict[int, int] = {}
    offsets = []
    for start, cnt, group_start in rows:
        before = seen.get(group_start, 0)
        offsets.append((start, before + 1 - start))
        seen[group_start] = before + cnt
    mid = F.col("__mid")
    return parted.withColumn(out_col, mid + _segment_offset(mid, offsets)).drop("__mid")


def _chain_fold(items: Column) -> Column:
    """Fold sorted (rn, txt) structs with the reference's recurrence
    state <- upper(md5(state || txt)), state0 = ''
    (reference scribedb/postgres.py:17-23). Pure JVM expression via
    F.aggregate — no Python UDF in the hot path."""
    return F.aggregate(
        items,
        F.lit(""),
        lambda acc, x: F.upper(F.md5(F.concat(acc, x["txt"]))),
    )


def fp_chain(
    df: DataFrame,
    sort_keys: list[str],
    bucket_rows: int = 100_000,
    cols: list[str] | None = None,
    subchunk_rows: int | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """F2: order-sensitive chunked fingerprint.

    Output: ``chunk_id, n_rows, fp`` — one row per chunk of
    ``bucket_rows`` consecutive rows of the globally ordered dataset
    (clean [i*b, (i+1)*b) windows; the reference's overlapping-window
    quirk, SURVEY.md §2.5, is intentionally not reproduced).

    With ``group_by``, each group is chunked and chained on its own
    (numbering restarts per group) and the output leads with the group
    columns: ``*group_by, chunk_id, n_rows, fp``. ``cols`` should then
    leave the group columns out of the hashed text.

    For chunks too wide to collect_list comfortably, pass
    ``subchunk_rows``: rows fold into sub-chunk hashes first, then the
    sub-chunk hashes fold (in order) into the chunk hash — a
    deterministic two-level Merkle fold (SURVEY.md §7 hard-part 1),
    bounding per-group state at max(subchunk_rows, bucket/subchunk).
    """
    groups = list(group_by or [])
    keys = list(dict.fromkeys(sort_keys))
    txt = canonical_row(df, cols)
    # number only (groups, sort_keys, __txt): global_row_number
    # persists its range-partitioned input for determinism, and nothing
    # downstream needs the original columns — at scale this shrinks
    # the cached footprint to the canonical text instead of the full
    # row width
    slim = df.withColumn("__txt", txt).select(*dict.fromkeys(groups + keys), "__txt")
    # __txt as final tiebreaker: rows tying on sort_keys are ordered
    # by content, so numbering — and therefore every chunk hash — is
    # reproducible under any parallelism even when sort_keys don't
    # uniquely order the dataset (ties with IDENTICAL text are
    # interchangeable: any order folds to the same chunk hashes)
    numbered = global_row_number(slim, keys + ["__txt"], group_by=groups)
    numbered = numbered.withColumn(
        "chunk_id", ((F.col("rn") - 1) / F.lit(bucket_rows)).cast("long")
    )

    def fold(frame: DataFrame, key_cols: list[str]) -> DataFrame:
        return frame.groupBy(*groups, *key_cols).agg(
            F.sum(F.lit(1)).alias("n_rows"),
            _chain_fold(
                F.array_sort(F.collect_list(F.struct(F.col("rn"), F.col("__txt").alias("txt"))))
            ).alias("fp"),
        )

    if subchunk_rows:
        numbered = numbered.withColumn(
            "sub_id", ((F.col("rn") - 1) / F.lit(subchunk_rows)).cast("long")
        )
        subs = numbered.groupBy(*groups, "chunk_id", "sub_id").agg(
            F.sum(F.lit(1)).alias("n_rows"),
            _chain_fold(
                F.array_sort(F.collect_list(F.struct(F.col("rn"), F.col("__txt").alias("txt"))))
            ).alias("sub_fp"),
        )
        return subs.groupBy(*groups, "chunk_id").agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            _chain_fold(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub_id").alias("rn"), F.col("sub_fp").alias("txt")))
                )
            ).alias("fp"),
        )
    out = fold(numbered, ["chunk_id"])
    return out.withColumn("n_rows", F.col("n_rows").cast("long"))


def pg_composite_text(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Reference-compat row rendering: imitates PostgreSQL's composite
    literal form the way the reference's Oracle side does — comma
    concat, parens, tokens containing whitespace wrapped in double
    quotes via regexp (reference scribedb/oracle.py:60
    ``regexp_replace(value,'(\\w*\\s[^,)]*)','"\\1"')``, same trick in
    example.md:63), timestamps via NLS-style 'YYYY-MM-DD HH24:MI:SS'
    (reference scribedb/oracle.py:140).

    Divergences from true PG composite rendering are the reference's
    own (documented, SURVEY.md §7 hard-part 3): NULL renders empty
    (collides with ''), quotes inside values are not doubled, and
    only whitespace triggers quoting. Use ``canonical_row`` (the
    engine default) unless byte-parity with the reference's hash
    input is required.
    """
    cols = cols or df.columns
    fields = {f.name: f.dataType for f in df.schema.fields}
    cells = []
    for c in cols:
        dtype = fields[c]
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            cell = F.date_format(F.col(c), TS_FORMAT)
        else:
            cell = F.col(c).cast("string")
        cell = F.coalesce(cell, F.lit(""))  # reference: NULL -> empty
        cells.append(cell)
    joined = F.concat_ws(",", *cells)
    quoted = F.regexp_replace(joined, r"(\w*\s[^,)]*)", '"$1"')
    return F.concat(F.lit("("), quoted, F.lit(")"))


# ---------------------------------------------------------------------------
# keyed-chunk fingerprints + incremental delta maintenance
# ---------------------------------------------------------------------------

FP_MOD = 2305843009213693951  # 2^61 - 1: BIGINT-safe, cross-engine exact


def keyed_chunk_id(key: Column, n_chunks: int = 64) -> Column:
    """Stable chunk assignment as a pure function of the KEY (60-bit
    md5 slice mod n_chunks): a row keeps its chunk for life, so chunk
    fingerprints are incrementally maintainable — row-number chunking
    (global_row_number) shifts every downstream chunk on insert or
    delete and forces a full recompute."""
    return F.pmod(
        F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(n_chunks),
    )


def fp_keyed_chunks(
    df: DataFrame,
    key: str,
    cols: list[str] | None = None,
    n_chunks: int = 64,
) -> DataFrame:
    """Per-keyed-chunk commutative fingerprints: (chunk_id, n_rows,
    fp_sum DECIMAL(38,0)). Persist this table (parquet) and maintain
    it with fp_delta_update — sums stay UNREDUCED so deltas add
    exactly; reduce with ``pmod(fp_sum, FP_MOD)`` only at compare
    time."""
    h = fp_row_md5(df, cols).withColumn(
        "chunk_id", keyed_chunk_id(F.col(key), n_chunks)
    )
    return h.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_fp_term(F.col("row_md5"))).alias("fp_sum"),
    )


def fp_delta_update(
    base_fps: DataFrame,
    old_rows: DataFrame,
    new_rows: DataFrame,
    key: str,
    cols: list[str] | None = None,
    n_chunks: int = 64,
) -> DataFrame:
    """Apply a change batch to a persisted keyed-chunk fingerprint
    table in O(|delta|): because the fingerprint is a SUM of row
    hashes (a group, unlike the reference's order-chained MD5 —
    scribedb/postgres.py:47 — which re-chains a whole window on any
    change), each chunk updates as

        fp' = fp - sum(terms of rows leaving) + sum(terms of rows arriving)

    ``old_rows``: prior images of updated/deleted rows (rows leaving);
    ``new_rows``: new images of updated rows plus inserts (rows
    arriving). Chunks untouched by the delta pass through unchanged;
    chunks emptied by deletes keep an n_rows=0 row. Returns the same
    (chunk_id, n_rows, fp_sum) shape as fp_keyed_chunks — exact
    DECIMAL(38,0) algebra, so iterating updates composes without
    drift."""

    def signed(df: DataFrame, sign: int) -> DataFrame:
        h = fp_row_md5(df, cols).withColumn(
            "chunk_id", keyed_chunk_id(F.col(key), n_chunks)
        )
        return h.groupBy("chunk_id").agg(
            (F.count(F.lit(1)) * sign).cast("long").alias("n_rows"),
            (F.sum(_fp_term(F.col("row_md5"))) * sign).alias("fp_sum"),
        )

    return (
        base_fps.select("chunk_id", "n_rows", "fp_sum")
        .unionByName(signed(old_rows, -1))
        .unionByName(signed(new_rows, 1))
        .groupBy("chunk_id")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("fp_sum").alias("fp_sum"),
        )
    )
