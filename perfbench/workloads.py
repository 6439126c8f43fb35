"""The closed-loop workloads: inputs, one op, its check, and the
isolated layer calls of the traced run.

An op calls the library's public DataFrame-level functions only. Every
call is wrapped in a span (see ``trace.Spans``); untraced, a span is
just two clock reads. ``layers`` re-runs, on the same inputs, the inner
layer calls an op makes implicitly, so the traced run can subtract them
from the op's spans (``SELF_CHILDREN``).

Checks are pure functions of the op's collected summary and the
generator's truth. They return ``None`` or a one-line reason.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

from perfbench import gen

# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CompareSummary:
    equal: bool
    diff_count: int
    src_rows: int
    tgt_rows: int
    #: replicas phase: (chunk_id, status, src_rows, tgt_rows) per chunk
    chunks: tuple = ()
    #: drift phase: change class -> keyed_diff rows
    classes: tuple = ()
    #: drift phase: (change, changed_cols) -> keyed_diff_cols rows
    changed_cols: tuple = ()


def check_replicas(s: CompareSummary, rows: int, bucket_rows: int) -> str | None:
    if not s.equal or s.diff_count != 0:
        return f"replicas reported different: equal={s.equal} diff_count={s.diff_count}"
    if s.src_rows != rows or s.tgt_rows != rows:
        return f"row counts {s.src_rows}/{s.tgt_rows}, expected {rows}"
    want = math.ceil(rows / bucket_rows)
    if len(s.chunks) != want:
        return f"{len(s.chunks)} chunks, expected {want}"
    bad = [c for c in s.chunks if c[1] != "OK"]
    if bad:
        return f"{len(bad)} chunks not OK, first {bad[0]}"
    if sum(c[2] for c in s.chunks) != rows:
        return "chunk row counts do not sum to the table"
    return None


def check_drift(s: CompareSummary, truth: gen.DriftTruth) -> str | None:
    if s.equal:
        return "drifted target reported equal"
    got = (s.diff_count, s.src_rows, s.tgt_rows)
    want = (truth.diff_count, truth.rows, truth.tgt_rows)
    if got != want:
        return f"(diff_count, src_rows, tgt_rows) = {got}, expected {want}"
    classes = {"changed": truth.changed, "removed": truth.removed, "added": truth.added}
    if dict(s.classes) != classes:
        return f"keyed_diff classes {dict(s.classes)}, expected {classes}"
    cols = {
        ("changed", truth.column): truth.changed,
        ("removed", ""): truth.removed,
        ("added", ""): truth.added,
    }
    if dict(s.changed_cols) != cols:
        return f"changed_cols {dict(s.changed_cols)}, expected {cols}"
    return None


@dataclass(frozen=True)
class CurateSummary:
    survivors: int
    #: doc_id -> component (min doc_id of its near-duplicate group)
    components: dict


def check_curate(s: CurateSummary, truth: gen.CorpusTruth) -> str | None:
    """Survivors exact; verbatim families whole; the near-duplicate
    groups exactly those of the library's documented banding
    (``gen.lsh_components``)."""
    if s.survivors != truth.survivors:
        return f"curate kept {s.survivors} documents, expected {truth.survivors}"
    comp = s.components
    for c in truth.copies:
        if c.kind == "verbatim" and (c.base not in comp or comp.get(c.copy) != comp[c.base]):
            return f"verbatim copy {c.copy} of {c.base} not in its base's component"
    if comp != truth.components:
        wrong = sorted(d for d in comp.keys() | truth.components.keys()
                       if comp.get(d) != truth.components.get(d))
        d = wrong[0]
        return (f"{len(wrong)} documents in other groups than the banding gives, first "
                f"{d}: {comp.get(d)} instead of {truth.components.get(d)}")
    return None


def mixed_components(s: CurateSummary, truth: gen.CorpusTruth) -> list[int]:
    """Components holding documents of two unrelated families (a
    document outside every planted family is a family of its own)."""
    family = truth.family()
    first: dict[int, int] = {}
    mixed = set()
    for doc, cid in s.components.items():
        if first.setdefault(cid, family.get(doc, doc)) != family.get(doc, doc):
            mixed.add(cid)
    return sorted(mixed)


def recovery(s: CurateSummary, truth: gen.CorpusTruth) -> dict:
    """kind -> (copies in their base's component, copies, analytic floor)
    for the planted copies whose shingle sets differ from their base's.
    A measure of grouping quality, reported beside the check: the floor
    is what banding with 16 independent minhashes promises."""
    comp, out = s.components, {}
    for kind in ("rotated", "near"):
        n, floor = truth.recovery_floor(kind)
        hit = sum(
            1
            for c in truth.copies
            if c.kind == kind and c.base in comp and comp.get(c.copy) == comp[c.base]
        )
        out[kind] = (hit, n, floor)
    return out


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


class _Workload:
    #: untimed ops run before the first timed op (JIT and codegen warm-up)
    warmup_ops = 1

    def notes(self, summary, inp) -> dict:
        """Counts worth reporting beside the check's verdict."""
        return {}


@dataclass
class _Trio:
    src: object
    replica: object
    drifted: object
    truth: gen.DriftTruth


@dataclass
class _Corpus:
    docs: object
    texts: object
    truth: gen.CorpusTruth


def _write(df, root: str, name: str, span) -> None:
    from scribedb_spark.sources import convert_to_parquet

    with span("sources.convert_to_parquet"):
        convert_to_parquet(df, os.path.join(root, name))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class CompareReplicasDrift(_Workload):
    """Two compares of one source table per op, back to back:

    - replicas: identical content, target written in another row order;
      the verdict plus the reference's per-chunk chained-MD5 report
      (``hash_mode="chained"``, ``with_chunks=True``). The fast path
      succeeds and the work is in ``canonical``.
    - drift: a target with planted drift; the fast path fails and the
      work moves to the symmetric and keyed diffs, while the chunk
      report is never asked for.
    """

    name = "compare_replicas_drift"
    #: rows per side of each compare, times the two compares of an op
    rows = 2 * gen.COMPARE_ROWS
    op_spans = (
        "compare.compare",
        "compare.chunk_fingerprints",
        "compare.keyed_diff",
        "compare.keyed_diff_cols",
    )
    layer_spans = ("canonical.fp_unordered", "canonical.fp_chain", "compare.symmetric_diff")
    #: span -> (spans it recomputes, with the part of each that runs
    #: inside it: "call" = until the child's call returns, "rest" = the
    #: remainder, "all" = the whole child span)
    SELF_CHILDREN = {
        "compare.compare": (
            ("canonical.fp_unordered", "all"),
            ("canonical.fp_chain", "call"),
            ("compare.symmetric_diff", "all"),
        ),
        "compare.chunk_fingerprints": (("canonical.fp_chain", "rest"),),
    }

    def write_inputs(self, spark, seed: int, root: str, rows: int, span):
        per_side = rows // 2
        _write(gen.keyed_table(spark, seed, per_side), root, "src", span)
        _write(gen.keyed_table(spark, seed, per_side, shuffled=True), root, "replica", span)
        drifted, truth = gen.drift_target(spark, seed, per_side)
        _write(drifted, root, "drifted", span)
        return truth

    def load(self, spark, root: str, truth):
        def read(name):
            return spark.read.parquet(os.path.join(root, name))

        return _Trio(read("src"), read("replica"), read("drifted"), truth)

    def op(self, inp, span) -> tuple[CompareSummary, CompareSummary]:
        from scribedb_spark.compare import CompareSpec, compare

        spec = CompareSpec(
            keys=["id"], sort_keys=["id"], hash_mode="chained", bucket_rows=gen.BUCKET_ROWS
        )
        with span("compare.compare"):
            r = compare(inp.src, inp.replica, spec, with_chunks=True)
        with span("compare.chunk_fingerprints"):
            chunks = tuple(
                (x["chunk_id"], x["status"], x["src_rows"], x["tgt_rows"])
                for x in r.chunk_status.collect()
            )
        replicas = CompareSummary(r.equal, r.diff_count, r.src_rows, r.tgt_rows, chunks=chunks)

        with span("compare.compare"):
            d = compare(inp.src, inp.drifted, CompareSpec(keys=["id"]))
        with span("compare.keyed_diff"):
            classes = tuple(
                (x["change"], x["count"]) for x in d.keyed_diff.groupBy("change").count().collect()
            )
        with span("compare.keyed_diff_cols"):
            cols = tuple(
                ((x["change"], x["changed_cols"]), x["count"])
                for x in d.changed_cols.groupBy("change", "changed_cols").count().collect()
            )
        drift = CompareSummary(
            d.equal, d.diff_count, d.src_rows, d.tgt_rows, classes=classes, changed_cols=cols
        )
        return replicas, drift

    def check(self, summary, inp) -> str | None:
        replicas, drift = summary
        return check_replicas(replicas, inp.truth.rows, gen.BUCKET_ROWS) or check_drift(
            drift, inp.truth
        )

    def layers(self, inp, span) -> None:
        from scribedb_spark.canonical import fp_chain
        from scribedb_spark.compare import symmetric_diff

        _fp_unordered_as_compare(inp.src, inp.replica, span)
        with span("canonical.fp_chain") as s:
            sides = [fp_chain(df, ["id"], gen.BUCKET_ROWS) for df in (inp.src, inp.replica)]
            s.mark()
            for df in sides:
                df.collect()
        _fp_unordered_as_compare(inp.src, inp.drifted, span)
        with span("compare.symmetric_diff"):
            symmetric_diff(inp.src, inp.drifted).count()


class CurateCorpus(_Workload):
    """Curation survivors, then near-duplicate groups over the whole
    corpus through minhash bands, star LSH pairs and components."""

    name = "curate_corpus"
    rows = gen.CORPUS_DOCS
    #: its op walls still fall by a tenth per op after two
    warmup_ops = 3
    op_spans = ("pipeline.curate", "operators.dedup.connected_components")
    layer_spans = ("operators.dedup.band_signatures", "operators.dedup.lsh_star_pairs")
    SELF_CHILDREN = {
        "operators.dedup.connected_components": (("operators.dedup.lsh_star_pairs", "all"),),
        "operators.dedup.lsh_star_pairs": (("operators.dedup.band_signatures", "all"),),
    }

    def write_inputs(self, spark, seed: int, root: str, rows: int, span):
        frame, truth = gen.corpus(seed, rows)
        _write(spark.createDataFrame(frame), root, "documents", span)
        return truth

    def load(self, spark, root: str, truth):
        docs = spark.read.parquet(os.path.join(root, "documents"))
        return _Corpus(docs, docs.select("doc_id", "text"), truth)

    def op(self, inp, span) -> CurateSummary:
        from scribedb_spark.operators.dedup import (
            band_signatures,
            connected_components,
            lsh_star_pairs,
        )
        from scribedb_spark.pipeline import curate

        with span("pipeline.curate"):
            survivors = curate(inp.docs).count()
        with span("operators.dedup.connected_components"):
            comps = connected_components(lsh_star_pairs(band_signatures(inp.texts)))
            components = {x["doc_id"]: x["component"] for x in comps.collect()}
        return CurateSummary(survivors, components)

    def check(self, summary, inp) -> str | None:
        return check_curate(summary, inp.truth)

    def notes(self, summary, inp) -> dict:
        rec = recovery(summary, inp.truth)
        return {
            "mixed_components": len(mixed_components(summary, inp.truth)),
            **{f"{k}_recovered": [hit, n, round(floor, 1)] for k, (hit, n, floor) in rec.items()},
        }

    def layers(self, inp, span) -> None:
        from scribedb_spark.operators.dedup import band_signatures, lsh_star_pairs

        with span("operators.dedup.band_signatures"):
            _materialize(band_signatures(inp.texts))
        with span("operators.dedup.lsh_star_pairs"):
            _materialize(lsh_star_pairs(band_signatures(inp.texts)))


WORKLOADS = {w.name: w for w in (CompareReplicasDrift(), CurateCorpus())}


# ---------------------------------------------------------------------------
# layer calls
# ---------------------------------------------------------------------------


def _fp_unordered_as_compare(src, tgt, span) -> None:
    """The fingerprint job ``compare()`` runs for its verdict, called
    directly with the same arguments."""
    from pyspark.sql import functions as F

    from scribedb_spark.canonical import fp_unordered

    tagged = src.withColumn("__cmp_side", F.lit("src")).unionByName(
        tgt.toDF(*src.columns).withColumn("__cmp_side", F.lit("tgt"))
    )
    with span("canonical.fp_unordered"):
        fp_unordered(tagged, cols=src.columns, group_by=["__cmp_side"], algo="xxhash64").collect()


def _materialize(df) -> None:
    """Compute every column of every row and keep nothing."""
    df.write.format("noop").mode("overwrite").save()
