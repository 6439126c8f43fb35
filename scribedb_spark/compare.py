"""Dataset compare core (SURVEY.md §3 "Spark lifecycle equivalent").

The reference's end-to-end behavior (reference main.py:155-267):
validate arity -> calibrate chunk size -> per-chunk server-side hash ->
on mismatch fetch rows and print the symmetric set difference -> raise
if different. Re-expressed here as ONE declarative pipeline:

    spec -> schema check -> per-side fingerprints -> fingerprint join
         -> (only if unequal) row-level diff -> result

The row-level diff is one grouped shuffle either way: the symmetric
diff groups the union of both sides on every column; with a key, the
keyed classification groups it on the key and is kept once for the
count, ``keyed_diff`` and ``changed_cols``.

Differences by design (SURVEY.md §7):
- No calibration: the reference times probe queries to pick a bucket
  size (reference scribedb/base.py:108-154); here AQE sizes shuffle
  partitions from real data and ``bucket_rows`` is only a *logical*
  diff granularity.
- No per-chunk re-planning: the reference rebuilds a view per chunk
  (reference scribedb/base.py:156-159); here a single pass assigns all
  chunk ids and a single aggregation computes all chunk hashes.
- Bag semantics by default: the reference's ``set(rows)`` silently
  collapses duplicates (reference main.py:126-129); ``exceptAll``
  catches duplicate-count drift. ``distinct=True`` restores strict
  reference compatibility.
- ``max_delta`` (declared but never used in the reference,
  reference main.py:153) and ``row_limit`` (reference
  scribedb/base.py:15, also unused) actually work here.

Scale: the diff path is aggregation-shaped (exceptAll == hash
aggregation on all columns; keyed diff == aggregation on the key), so
AQE partition sizing applies; nothing is collected to the driver
except the verdict scalars and an optionally row-capped diff sample.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from dataclasses import InitVar, dataclass, field, replace
from functools import cached_property, reduce
from typing import Literal, get_args

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from scribedb_spark.canonical import (
    _fp_term,
    fp_chain,
    fp_row_md5,
    fp_unordered,
    global_row_number,
)

#: chunk-report hash modes; anything else is rejected
HashMode = Literal["unordered", "chained"]


class SchemaMismatch(ValueError):
    """Arity/type mismatch between the two sides (reference
    main.py:157-168 raises ValueError on select-list count drift)."""


@dataclass
class CompareSpec:
    """Declarative compare spec (the engine splits the reference's
    construction-is-execution ``Compare.__init__``, reference
    main.py:155-267, into spec + run)."""

    #: optional primary-key columns: enables added/removed/changed
    #: classification, grouped on the key (SURVEY.md J3).
    keys: list[str] = field(default_factory=list)
    #: sort keys for ordered (chunked) fingerprints; defaults to all
    #: columns (the reference orders PG hashing by the whole row
    #: record, reference scribedb/postgres.py:47).
    sort_keys: list[str] = field(default_factory=list)
    #: logical chunk width for the chunked fingerprint report.
    bucket_rows: int = 100_000
    #: 'unordered' (default, fully parallel) or 'chained'
    #: (reference-style order-sensitive chunk hashes).
    hash_mode: HashMode = "unordered"
    #: reference set()-semantics compat (collapses duplicate rows).
    distinct: bool = False
    #: allow up to N differing rows before the verdict is 'different'
    #: (the reference declared this and never used it).
    max_delta: int = 0
    #: cap on diff rows materialized for display (ref ROW_LIMIT=50).
    row_limit: int = 50
    #: require matching column names/types, not just arity.
    strict_schema: bool = False


@dataclass
class CompareResult:
    """The verdict and its reports. ``equal``, ``diff_count`` and the
    keyed reports compare exact typed values, like ``symmetric_diff``;
    ``chunk_status`` hashes the reference's canonical text (doubles to
    6 decimals, timestamps to the second), so it can read all 'OK' for
    a pair that is not equal."""

    equal: bool
    src_rows: int
    tgt_rows: int
    diff_count: int
    #: the ``diff`` property's value when given; its default is that
    #: property, which builds the diff on first read instead
    diff: InitVar[DataFrame | None]
    #: keyed classification (when spec.keys): key cols + 'change' in
    #: {'added','removed','changed'}.
    keyed_diff: DataFrame | None = None
    #: scalar keyed report (when spec.keys): key cols + 'change' +
    #: 'changed_cols' (comma-joined differing payload column names).
    changed_cols: DataFrame | None = None
    #: builds ``diff`` (set by ``compare()``)
    _diff_rows: Callable[[], DataFrame] | None = field(
        default=None, init=False, repr=False, compare=False
    )
    #: builds ``chunk_status`` (set by ``compare(with_chunks=True)``)
    _chunk_report: Callable[[], DataFrame] | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def __post_init__(self, diff: DataFrame | None) -> None:
        if isinstance(diff, DataFrame):
            self.diff = diff

    @cached_property
    def diff(self) -> DataFrame | None:
        """Rows present on one side only: diff columns + 'side' in
        {'src','tgt'} (reference prints 'src:'/'tgt:' labels,
        reference main.py:116-137), capped at ``row_limit`` rows.
        ``compare()`` builds its plan on first read: the keyed and
        equal verdicts never run it. Later reads return the same
        frame."""
        return self._diff_rows() if self._diff_rows else None

    @cached_property
    def chunk_status(self) -> DataFrame | None:
        """chunk_id, src_fp, src_rows, tgt_fp, tgt_rows, status
        ('OK'/'NOK') — the reference's per-chunk console report
        (reference main.py:229-247) as data; None unless asked for.
        Built on first read, not by ``compare()``: the verdict never
        waits for the chunk numbering. Later reads return the same
        frame."""
        return self._chunk_report() if self._chunk_report else None

    def raise_on_diff(self) -> None:
        """Reference exit behavior (reference main.py:263-267)."""
        if not self.equal:
            raise ValueError("Datasets are different.")


def check_schema(src: DataFrame, tgt: DataFrame, strict: bool = False) -> None:
    """Arity check (reference main.py:157-168 counts select-list items
    by parsing SQL text; here the real schema is available)."""
    if len(src.columns) != len(tgt.columns):
        raise SchemaMismatch(
            f"column count differs: src={len(src.columns)} tgt={len(tgt.columns)}"
        )
    if strict:
        s = [(f.name, f.dataType.simpleString()) for f in src.schema.fields]
        t = [(f.name, f.dataType.simpleString()) for f in tgt.schema.fields]
        if s != t:
            raise SchemaMismatch(f"schemas differ: {s} vs {t}")


def symmetric_diff(src: DataFrame, tgt: DataFrame, distinct: bool = False) -> DataFrame:
    """E1: symmetric difference, tagged by side (reference
    ``compare_d7``, main.py:116-137). Bag semantics unless
    ``distinct`` (reference set() compat).

    Output is identical to ``exceptAll`` in both directions (a row
    with multiplicity m on one side and k on the other appears
    |m - k| times, tagged with the surplus side) but the plan is ONE
    shuffle: union both sides with a tag, groupBy all columns counting
    per-side multiplicities, re-expand the surplus with
    explode(sequence). Two exceptAlls would shuffle the full data
    twice and scan each side twice."""
    a, b = (src.distinct(), tgt.distinct()) if distinct else (src, tgt)
    # align target columns positionally, as the reference compares
    # tuples by position (names may differ across sides)
    b = b.toDF(*a.columns)
    cols = a.columns
    u = a.withColumn("__side", F.lit("src")).unionByName(
        b.withColumn("__side", F.lit("tgt"))
    )
    g = u.groupBy(*cols).agg(
        F.sum(F.when(F.col("__side") == "src", 1).otherwise(0)).alias("__ns"),
        F.sum(F.when(F.col("__side") == "tgt", 1).otherwise(0)).alias("__nt"),
    )
    surplus = g.filter(F.col("__ns") != F.col("__nt")).select(
        *cols,
        F.when(F.col("__ns") > F.col("__nt"), F.lit("src"))
        .otherwise(F.lit("tgt"))
        .alias("side"),
        F.abs(F.col("__ns") - F.col("__nt")).alias("__n"),
    )
    return surplus.withColumn(
        "__i", F.explode(F.sequence(F.lit(1), F.col("__n")))
    ).select(*cols, "side")


def _check_keys(keys: list[str], columns: list[str]) -> None:
    """Reject keys the keyed diff cannot use, before any Spark job
    runs: a key that is not a column of the source side, or keys that
    cover every column (nothing is left to compare)."""
    missing = [k for k in keys if k not in columns]
    if missing:
        raise ValueError(f"keys {missing} are not columns of {columns}")
    if set(columns) <= set(keys):
        raise ValueError(
            f"keys {keys} must leave at least one payload column (every "
            "column is a key — use setop/except for pure key-set "
            "membership diffs)"
        )


def _require_unique(counts, keys: list[str], who: str) -> None:
    """Raise when the largest per-side key count (``counts`` =
    (src, tgt); None on an empty side) is above 1."""
    for name, n in zip(("src", "tgt"), counts):
        if (n or 0) > 1:
            raise ValueError(
                f"{who}: key {keys} is not unique on the {name} side"
            )


def _keyed_classes(src: DataFrame, tgt: DataFrame, keys: list[str]) -> DataFrame:
    """Both sides classified by key in ONE shuffle: the sides are
    tagged and unioned as ``(keys, __src | null, __tgt | null)`` and
    grouped on the key. Per key it gives the row count on each side
    (``__n_src``, ``__n_tgt``), each side's payload struct (null where
    the key is absent), ``change`` ('added', 'removed', 'changed' or
    null) and ``changed_cols`` (the comma-joined payload columns whose
    values differ, null-safe; '' unless changed).

    - Each side's structs sit in their own columns and the union fills
      the other side's with a typed null, so ``__src`` and ``__tgt``
      keep each side's own types; only the group key is widened.
    - ``groupBy`` puts null keys in one group: key matching is
      null-safe, like an ``eqNullSafe`` join. The group key is
      normalised (-0.0 to 0.0, one NaN), so each side carries its own
      key values and the output key is the source's, else the
      target's.
    - With a non-unique key a group stands for several rows; callers
      check ``__n_src``/``__n_tgt`` before trusting the class.
    - Payload values compare exactly (``eqNullSafe``), as in the
      symmetric diff.
    """
    cols = src.columns
    payload = [c for c in cols if c not in keys]

    def side(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            *keys, F.struct(*keys).alias(f"__{name}_key"), F.struct(*payload).alias(f"__{name}")
        )

    grouped = (
        side(src, "src")
        .unionByName(side(tgt.toDF(*cols), "tgt"), allowMissingColumns=True)
        # the struct buffers of first() make this a sort aggregate;
        # partitioned on the key first, its partial and final halves
        # share one sort after the only exchange, instead of a partial
        # sort before the exchange and a second one after it
        .repartition(*keys)
        .groupBy(*keys)
        .agg(
            # the key structs are never null on their own side, and a
            # count of them reads only the key columns
            F.count("__src_key").alias("__n_src"),
            F.count("__tgt_key").alias("__n_tgt"),
            *[
                F.first(c, ignorenulls=True).alias(c)
                for c in ("__src_key", "__tgt_key", "__src", "__tgt")
            ],
        )
    )
    differs = [~F.col("__src")[c].eqNullSafe(F.col("__tgt")[c]) for c in payload]
    change = (
        F.when(F.col("__n_src") == 0, F.lit("added"))
        .when(F.col("__n_tgt") == 0, F.lit("removed"))
        .when(reduce(operator.or_, differs), F.lit("changed"))
    )
    changed_cols = F.when(
        change == "changed",
        # concat_ws skips the NULLs that non-differing columns produce
        F.concat_ws(",", *[F.when(d, F.lit(c)) for c, d in zip(payload, differs)]),
    ).otherwise(F.lit(""))
    return grouped.select(
        *[F.coalesce(F.col("__src_key")[k], F.col("__tgt_key")[k]).alias(k) for k in keys],
        "__n_src",
        "__n_tgt",
        "__src",
        "__tgt",
        change.alias("change"),
        changed_cols.alias("changed_cols"),
    )


def _keyed_report(
    src: DataFrame, tgt: DataFrame, keys: list[str], validate_keys: bool, who: str
) -> DataFrame:
    """The differing keys of ``_keyed_classes``; with
    ``validate_keys``, first one job over both sides checks that the
    key is unique on each."""
    _check_keys(keys, src.columns)
    classes = _keyed_classes(src, tgt, keys)
    if validate_keys:
        _require_unique(classes.agg(F.max("__n_src"), F.max("__n_tgt")).first(), keys, who)
    return classes.filter(F.col("change").isNotNull())


def keyed_diff(
    src: DataFrame, tgt: DataFrame, keys: list[str], *, validate_keys: bool = True
) -> DataFrame:
    """J3: diff classification by primary key — added (tgt only),
    removed (src only), changed (both, payload differs). Returns the
    key columns, ``change`` and each side's payload struct (``__src``,
    ``__tgt``; null on the absent side). The reference can only pair
    rows visually in its diff output (reference README.md:12-13); this
    makes the pairing a first-class operator.

    Plan: both sides tagged, unioned and grouped on the key — one
    shuffle (``_keyed_classes``). A non-unique key would fold several
    rows into one group and make the classification meaningless, so
    keys are validated by default: one count-only aggregation over
    both sides. Disable with ``validate_keys=False`` when the key is
    known-unique (e.g. enforced upstream).

    Key matching is NULL-SAFE: a null key on both sides pairs up, so
    identical rows with null keys don't surface as phantom
    added+removed pairs the way a plain equi-join would report them.
    """
    return _keyed_report(src, tgt, keys, validate_keys, "keyed_diff").select(
        *keys, "change", "__src", "__tgt"
    )


def keyed_diff_cols(
    src: DataFrame, tgt: DataFrame, keys: list[str], *, validate_keys: bool = True
) -> DataFrame:
    """Scalar-output variant of ``keyed_diff``: per differing key, the
    change class ('added'/'removed'/'changed') plus ``changed_cols`` —
    a comma-joined list of the payload columns whose values differ
    (null-safe comparison). The reference's NOK output makes the user
    eyeball which column diverged (reference README.md:12-13); this
    names the columns as data, and the flat schema (no structs) makes
    the report directly writable/hashable by any sink.

    Same grouped plan as keyed_diff (one shuffle on the key, payload
    compared column-wise JVM-side) and the same key validation.
    """
    return _keyed_report(src, tgt, keys, validate_keys, "keyed_diff_cols").select(
        *keys, "change", "changed_cols"
    )


def tolerance_diff(
    src: DataFrame,
    tgt: DataFrame,
    keys: list[str],
    value_cols: list[str],
    abs_tol: str = "0.01",
) -> DataFrame:
    """Numeric-tolerance keyed compare: per key, per value column, the
    exact delta and whether it exceeds ``abs_tol``. ETL pipelines that
    recompute money math routinely drift by rounding ulps; a bit-exact
    diff flags every row, this reports only real violations while
    keeping the deltas auditable.

    ``abs_tol`` is a DECIMAL STRING on purpose: the comparison runs in
    exact decimal arithmetic (no float round-off deciding a verdict);
    cast to double only happens in display columns the caller adds.
    Plan: one inner join on the key (added/removed rows are
    ``keyed_diff``'s job), map-side delta expressions — scales like
    the join.

    NULL handling: a NULL<->value change on either side IS a
    violation (its ``delta_<c>`` is NULL — not computable — but
    ``viol_<c>`` is true); NULL==NULL is not. The key join is
    null-safe, matching keyed_diff: null-keyed rows pair up instead
    of silently dropping.
    """
    tgt = tgt.toDF(*src.columns)
    s = src.select(
        *[F.col(k).alias(f"__sk_{k}") for k in keys],
        *[F.col(c).alias(f"__s_{c}") for c in value_cols],
    )
    t = tgt.select(
        *[F.col(k).alias(f"__tk_{k}") for k in keys],
        *[F.col(c).alias(f"__t_{c}") for c in value_cols],
    )
    cond = None
    for k in keys:
        eq = F.col(f"__sk_{k}").eqNullSafe(F.col(f"__tk_{k}"))
        cond = eq if cond is None else cond & eq
    j = s.join(t, on=cond, how="inner")
    tol = F.lit(abs_tol).cast("decimal(18,6)")

    def viol(c: str):
        sv, tv = F.col(f"__s_{c}"), F.col(f"__t_{c}")
        delta = tv - sv
        # one-sided NULL -> delta is NULL but the values differ ->
        # violation; both-NULL -> eqNullSafe short-circuits to OK
        return ~sv.eqNullSafe(tv) & (delta.isNull() | (F.abs(delta) > tol))

    out_cols: list = [F.col(f"__sk_{k}").alias(k) for k in keys]
    for c in value_cols:
        delta = F.col(f"__t_{c}") - F.col(f"__s_{c}")
        out_cols.append(delta.alias(f"delta_{c}"))
        out_cols.append(viol(c).alias(f"viol_{c}"))
    viol_any = None
    for c in value_cols:
        v = viol(c)
        viol_any = v if viol_any is None else viol_any | v
    return j.select(*out_cols).filter(viol_any)


def _check_chunk_spec(spec: CompareSpec, columns: list[str]) -> None:
    """Reject a chunk-report spec the report cannot honour, before any
    Spark job runs: an unknown ``hash_mode`` (a typo must not quietly
    select another report), ``bucket_rows < 1``, or ``sort_keys`` that
    are not columns of the source side."""
    if spec.hash_mode not in get_args(HashMode):
        raise ValueError(
            f"hash_mode must be one of {get_args(HashMode)}, got {spec.hash_mode!r}"
        )
    if spec.bucket_rows < 1:
        raise ValueError(f"bucket_rows must be at least 1, got {spec.bucket_rows!r}")
    missing = [k for k in spec.sort_keys if k not in columns]
    if missing:
        raise ValueError(f"sort_keys {missing} are not columns of {columns}")


def chunk_fingerprints(
    src: DataFrame,
    tgt: DataFrame,
    spec: CompareSpec,
) -> DataFrame:
    """Per-chunk fingerprint join — the reference's chunk loop
    (reference main.py:216-247) as one plan. Returns
    ``chunk_id, src_fp, src_rows, tgt_fp, tgt_rows, status``; a chunk
    present on one side only has nulls for the other side.

    Both sides are tagged, unioned and numbered in ONE pass
    (``global_row_number(group_by=["__side"])``: one range sample, one
    checkpoint, one segment collect), folded once per (side, chunk)
    and pivoted to the ``src_*``/``tgt_*`` columns — the same report
    as numbering each side on its own and joining the two full-outer
    on ``chunk_id``."""
    _check_chunk_spec(spec, src.columns)
    cols = src.columns
    sort_keys = spec.sort_keys or cols
    tagged = src.withColumn("__side", F.lit("src")).unionByName(
        tgt.toDF(*cols).withColumn("__side", F.lit("tgt"))
    )
    if spec.hash_mode == "chained":
        fps = fp_chain(tagged, sort_keys, spec.bucket_rows, cols=cols, group_by=["__side"])
    else:
        keys = list(dict.fromkeys(sort_keys))
        hashed = fp_row_md5(tagged, cols).select("__side", *keys, "row_md5")
        numbered = global_row_number(hashed, keys, group_by=["__side"])
        fps = numbered.groupBy(
            "__side", ((F.col("rn") - 1) / F.lit(spec.bucket_rows)).cast("long").alias("chunk_id")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_fp_term(F.col("row_md5"))).cast("decimal(38,0)").alias("fp"),
        )

    def side(name: str, col: str) -> Column:
        # one (side, chunk) row at most: max picks it, or null
        return F.max(F.when(F.col("__side") == name, F.col(col)))

    return (
        fps.groupBy("chunk_id")
        .agg(
            side("src", "fp").alias("src_fp"),
            side("src", "n_rows").alias("src_rows"),
            side("tgt", "fp").alias("tgt_fp"),
            side("tgt", "n_rows").alias("tgt_rows"),
        )
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


def compare(
    src: DataFrame,
    tgt: DataFrame,
    spec: CompareSpec | None = None,
    *,
    with_chunks: bool = False,
) -> CompareResult:
    """End-to-end verdict (reference main.py:216-267): ``equal`` is
    ``symmetric_diff(src, tgt, spec.distinct)`` having at most
    ``spec.max_delta`` rows, and a non-zero ``diff_count`` is its size.

    Fast path: one commutative fingerprint per side, over a hash of
    each row's typed values (``fp_unordered(algo='xxhash64')``; one
    job, no shuffle of full rows across sides). It is exact where the
    reference's text is lossy: doubles past 6 decimals and sub-second
    timestamps count. Only when fingerprints disagree does a row-level
    diff plan execute — the same early-exit/lazy-materialization shape
    as the reference (reference main.py:228-239), but the "cheap
    check" is a full-data parallel hash instead of N sequential chunk
    round-trips.

    With ``spec.keys`` the keys are checked before any Spark job, and
    a failed fast path classifies both sides by key in one grouped
    pass, kept as a local checkpoint. The checkpoint job also observes
    the key-uniqueness check and ``diff_count`` (2·changed + removed +
    added — the symmetric diff's size under a unique key), and
    ``keyed_diff``/``changed_cols`` are projections of it. Without
    keys ``diff_count`` counts the symmetric diff. ``diff`` is built
    on its first read.

    ``with_chunks`` asks for the per-chunk report, ``chunk_status``.
    It is built on its first read, so ``compare()`` returns without
    running any chunk job; the spec's chunk fields are still checked
    here, before any Spark job runs. The report hashes the reference's
    canonical text, so it can read all 'OK' when ``equal`` is False.
    """
    spec = spec or CompareSpec()
    check_schema(src, tgt, spec.strict_schema)
    _check_chunk_spec(spec, src.columns)
    if spec.keys:
        _check_keys(spec.keys, src.columns)

    # both sides' fingerprints in ONE job: union with a side tag,
    # grouped aggregation — halves the scan/action count vs two
    # separate collects
    tagged = src.withColumn("__cmp_side", F.lit("src")).unionByName(
        tgt.toDF(*src.columns).withColumn("__cmp_side", F.lit("tgt"))
    )
    fps = {
        r["__cmp_side"]: r
        for r in fp_unordered(
            tagged, cols=src.columns, group_by=["__cmp_side"], algo="xxhash64"
        ).collect()
    }
    empty = {"n_rows": 0, "fp": None}
    sfp, tfp = fps.get("src", empty), fps.get("tgt", empty)
    src_rows, tgt_rows = sfp["n_rows"], tfp["n_rows"]

    fast_equal = (sfp["fp"] == tfp["fp"]) and (src_rows == tgt_rows)

    diff = keyed = None
    if fast_equal:
        diff_count = 0
    elif spec.keys:
        # the differing keys have three readers (the counts, keyed_diff,
        # changed_cols): classify once and keep the result; the counts
        # are observed by the checkpoint job itself
        counts = Observation()
        keyed = (
            _keyed_classes(src, tgt, spec.keys)
            .observe(
                counts,
                F.max("__n_src").alias("n_src"),
                F.max("__n_tgt").alias("n_tgt"),
                *[F.count_if(F.col("change") == c).alias(c) for c in ("added", "removed", "changed")],
            )
            .filter(F.col("change").isNotNull())
            .localCheckpoint()
        )
        st = counts.get
        _require_unique((st["n_src"], st["n_tgt"]), spec.keys, "compare")
        # with a unique key a changed key is one surplus row per side,
        # an added or removed key one row: the symmetric diff's size
        diff_count = 2 * st["changed"] + st["removed"] + st["added"]
    else:
        diff = symmetric_diff(src, tgt, spec.distinct)
        diff_count = diff.count()

    result = CompareResult(
        equal=diff_count <= spec.max_delta,
        src_rows=src_rows,
        tgt_rows=tgt_rows,
        diff_count=diff_count,
    )
    # an equal verdict's diff is empty; a row_limit of 0 means no cap
    cap = 0 if fast_equal else spec.row_limit or None
    distinct = spec.distinct

    def diff_rows() -> DataFrame:
        rows = diff if diff is not None else symmetric_diff(src, tgt, distinct)
        return rows if cap is None else rows.limit(cap)

    result._diff_rows = diff_rows
    if with_chunks:
        # a copy: the caller may reuse and change its spec before the read
        result._chunk_report = lambda s=replace(spec): chunk_fingerprints(src, tgt, s)
    if keyed is not None:
        result.keyed_diff = keyed.select(*spec.keys, "change", "__src", "__tgt")
        result.changed_cols = keyed.select(*spec.keys, "change", "changed_cols")
    return result


def fingerprint_delta(
    prev: DataFrame,
    cur: DataFrame,
    id_col: str = "chunk_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental recheck: diff two persisted fingerprint tables.

    The 100 TB compare loop is: each run persists its chunk
    fingerprints (``chunk_fingerprints`` -> ``write_report``); the
    next run diffs against the previous table and re-runs the
    row-level plan ONLY for chunks reported here — the reference
    re-hashes every chunk every run (reference main.py:216-247),
    which at scale re-reads the world to confirm nothing changed.

    Returns ``id_col, prev_fp, cur_fp, status`` for every chunk whose
    status is not 'unchanged': 'added' / 'removed' / 'changed'.
    One full-outer join on the (tiny) fingerprint tables — no touch
    of the underlying data.
    """
    p = prev.select(F.col(id_col), F.col(fp_col).alias("prev_fp"))
    c = cur.select(F.col(id_col), F.col(fp_col).alias("cur_fp"))
    j = p.join(c, id_col, "full_outer")
    return (
        j.withColumn(
            "status",
            F.when(F.col("prev_fp").isNull(), F.lit("added"))
            .when(F.col("cur_fp").isNull(), F.lit("removed"))
            .when(F.col("prev_fp") != F.col("cur_fp"), F.lit("changed"))
            .otherwise(F.lit("unchanged")),
        )
        .filter(F.col("status") != "unchanged")
        .orderBy(id_col)
    )


def sampled_diff(
    src: DataFrame,
    tgt: DataFrame,
    keys: list[str],
    fraction: float = 0.01,
    distinct: bool = False,
) -> DataFrame:
    """Deterministic sampled pre-compare: restrict BOTH sides to the
    same key-hash sample, then run the symmetric diff on that slice.

    The sample predicate is a pure function of the key values
    (md5 -> 60-bit int < fraction * 2^60), so the two sides select
    the SAME logical rows regardless of engine, partitioning, or row
    order — unlike rand()/TABLESAMPLE, a drift found in the sample
    is a real drift, and the expected hit rate on uniformly-spread
    corruption is ~fraction. This is the cheap first pass a 100 TB
    compare runs before committing to the full fingerprint sweep
    (reference analog: the COUNT(*) pre-flight, base.py:86-94, as a
    value-level spot check). The hash predicate cannot prune parquet
    I/O (it is opaque to row-group stats — both sides still scan),
    but it runs map-side before the diff's one shuffle, so only
    ~fraction of rows ever move or aggregate; sources partitioned or
    bucketed by key can additionally prune by mapping the hash range
    onto buckets.

    A clean sampled diff is NOT proof of equality (it bounds drift
    only probabilistically); `compare()` remains the verdict. Use
    this to fail fast and to size `row_limit` before the full run.
    """
    threshold = int(fraction * float(1 << 60))
    key_str = F.concat_ws(":", *[F.col(k).cast("string") for k in keys])
    pred = (
        F.conv(F.substring(F.md5(key_str), 1, 15), 16, 10).cast("long")
        < F.lit(threshold)
    )
    return symmetric_diff(src.filter(pred), tgt.filter(pred), distinct)


# ---------------------------------------------------------------------------
# merkle fingerprint tree (log-depth chunk drill-down)
# ---------------------------------------------------------------------------

MERKLE_FANOUT = 16
_MERSENNE61 = 2305843009213693951


def merkle_levels(
    df: DataFrame,
    cols: list[str],
    sort_keys: list[str],
    bucket_rows: int = 1000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build a 3-level merkle tree over a frame: level 0 is the
    per-chunk commutative fingerprint (``bucket_rows``-row chunks in
    ``sort_keys`` order, 60-bit md5 sum mod 2^61-1 rendered as a
    decimal string), and each parent level hashes its children's
    strings joined by ',' in node_id order (fanout MERKLE_FANOUT).
    Persist the three levels next to a dataset snapshot and two
    snapshots can be compared root-first (see ``merkle_drill``).

    The chunk level is the only stage that touches the raw table and
    is reused by every consumer (parents, per-level diffs), so it is
    localCheckpoint'd — the in-session analog of writing each level
    to a file."""
    from scribedb_spark.canonical import fp_unordered, global_row_number

    nb = global_row_number(df.select(*cols), sort_keys)
    chunked = nb.withColumn("chunk_id", F.expr(f"(rn - 1) div {bucket_rows}"))
    l0 = (
        fp_unordered(chunked, cols, group_by=["chunk_id"])
        .select(
            F.col("chunk_id").alias("node_id"),
            F.pmod(F.col("fp"), F.lit(_MERSENNE61))
            .cast("long")
            .cast("string")
            .alias("h"),
        )
        .localCheckpoint()
    )

    def up(level_df: DataFrame) -> DataFrame:
        kids = F.array_sort(
            F.collect_list(F.struct(F.col("node_id"), F.col("h")))
        )
        joined = F.concat_ws(",", F.transform(kids, lambda s: s["h"]))
        return (
            level_df.groupBy(
                F.expr(f"node_id div {MERKLE_FANOUT}").alias("node_id")
            ).agg(F.md5(joined).alias("h"))
        )

    l1 = up(l0)
    return l0, l1, up(l1)


def merkle_drill(
    src: DataFrame,
    tgt: DataFrame,
    cols: list[str],
    sort_keys: list[str],
    bucket_rows: int = 1000,
    src_levels: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    tgt_levels: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Top-down merkle compare: build both trees, diff the roots, and
    descend only subtrees whose hashes disagree — each level's diff is
    an equi-join on node_id pruned by a left-semi join against the
    PARENT level's differing set. Returns the level-0 chunks that
    differ as (chunk_id, h_src, h_tgt): O(diff_chunks * fanout *
    depth) probes where a flat chunk compare touches every chunk.

    ``src_levels`` / ``tgt_levels`` accept trees already built by
    ``merkle_levels`` — the persisted-tree usage pattern: a snapshot's
    tree is written once and every later compare probes it without
    rescanning the table."""
    s0, s1, s2 = src_levels or merkle_levels(src, cols, sort_keys, bucket_rows)
    t0, t1, t2 = tgt_levels or merkle_levels(tgt, cols, sort_keys, bucket_rows)

    def diff(sd: DataFrame, td: DataFrame) -> DataFrame:
        return (
            sd.alias("s")
            .join(td.alias("t"), "node_id")
            .filter(F.col("s.h") != F.col("t.h"))
            .select(
                "node_id",
                F.col("s.h").alias("h_src"),
                F.col("t.h").alias("h_tgt"),
            )
        )

    def descend(child_diff: DataFrame, parent_diff: DataFrame) -> DataFrame:
        parents = parent_diff.select(F.col("node_id").alias("p"))
        return child_diff.join(
            parents,
            F.expr(f"node_id div {MERKLE_FANOUT}") == F.col("p"),
            "left_semi",
        )

    d1 = descend(diff(s1, t1), diff(s2, t2))
    d0 = descend(diff(s0, t0), d1)
    return d0.select(F.col("node_id").alias("chunk_id"), "h_src", "h_tgt")


def column_fp_table(
    df: DataFrame,
    keys: list[str],
    cols: list[str] | None = None,
    cell_exprs: dict[str, Column] | None = None,
    out: str = "fp",
) -> DataFrame:
    """(col_name, fp) — one side of ``column_fingerprints``: every
    column's commutative key-paired cell fingerprint in ONE
    aggregation pass (map-side partial sums, one scalar row, then an
    |cols|-row unpivot). The local twin of the remote one-round-trip
    aggregate (compat.colfp_remote_hash) — persist this next to a
    snapshot and later compares skip the scan entirely."""
    from pyspark.sql import types as T

    from scribedb_spark.canonical import canonical_cell

    cols = cols or [c for c in df.columns if c not in keys]
    key_txt = F.concat_ws("\x02", *[F.col(k).cast("string") for k in keys])
    fields = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for c in cols:
        cell = (
            cell_exprs[c]
            if cell_exprs and c in cell_exprs
            else canonical_cell(F.col(c), fields.get(c, T.StringType()))
        )
        term = F.conv(
            F.substring(
                F.md5(F.concat(key_txt, F.lit(":"), F.coalesce(cell, F.lit("\x01")))),
                1,
                15,
            ),
            16,
            10,
        ).cast("decimal(38,0)")
        aggs.append(F.pmod(F.sum(term), F.lit(_MERSENNE61)).cast("long").alias(c))
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', `{c}`" for c in cols)
    return wide.select(
        F.expr(f"stack({len(cols)}, {stack_args}) as (col_name, {out})")
    )


def column_fingerprints(
    src: DataFrame,
    tgt: DataFrame,
    keys: list[str],
    cols: list[str] | None = None,
    cell_exprs: dict[str, Column] | None = None,
) -> DataFrame:
    """Column-level fingerprint drill: WHICH columns differ between
    two keyed datasets, without fetching a row. Per column, a
    commutative 60-bit md5 sum mod 2^61-1 over '(key):(cell)' texts —
    key-paired, so swapping two rows' values in one column flags that
    column even though its value multiset is unchanged. Returns
    (col_name, src_fp, tgt_fp, equal), one row per compared column.

    The chunk axis (chunk_fingerprints / merkle_drill) answers
    "WHERE in the table"; this answers "WHICH attribute" — together
    they bound a re-fetch to (chunk x column). Cells render through
    canonical_cell (engine-deterministic); pass ``cell_exprs`` to
    override the rendering per column (e.g. integer-cents money for
    cross-engine twins, the compare_col_fingerprint registry key).

    Scale: ONE aggregation pass per side computes every column's fp
    (map-side partial sums, a single scalar row out); the unpivot +
    join stage touches |cols| rows. Like the keyed-chunk remote mode,
    the same per-column sums push down to a remote SQL side in one
    aggregate round trip (compat.colfp_remote_hash)."""
    cols = cols or [c for c in src.columns if c not in keys]
    s = column_fp_table(src, keys, cols, cell_exprs, out="src_fp")
    t = column_fp_table(tgt, keys, cols, cell_exprs, out="tgt_fp")
    return s.join(t, "col_name").select(
        "col_name",
        "src_fp",
        "tgt_fp",
        (F.col("src_fp") == F.col("tgt_fp")).alias("equal"),
    )
