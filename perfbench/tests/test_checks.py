"""Each workload check accepts the planted truth and rejects a result
that is wrong in one place."""

from __future__ import annotations

import dataclasses

import pytest

from perfbench import gen
from perfbench.workloads import (
    CompareSummary,
    CurateSummary,
    check_curate,
    check_drift,
    check_replicas,
    mixed_components,
    recovery,
)

ROWS, BUCKET = 45_000, 20_000


def _replicas(**kw) -> CompareSummary:
    chunks = ((0, "OK", 20_000, 20_000), (1, "OK", 20_000, 20_000), (2, "OK", 5_000, 5_000))
    base = CompareSummary(True, 0, ROWS, ROWS, chunks=chunks)
    return dataclasses.replace(base, **kw)


def test_replicas_accepts_truth():
    assert check_replicas(_replicas(), ROWS, BUCKET) is None


@pytest.mark.parametrize(
    "wrong",
    [
        {"equal": False, "diff_count": 2},
        {"tgt_rows": ROWS - 1},
        {"chunks": ((0, "OK", 20_000, 20_000), (1, "OK", 25_000, 25_000))},
        {"chunks": ((0, "OK", 20_000, 20_000), (1, "NOK", 20_000, 20_000), (2, "OK", 5_000, 5_000))},
    ],
)
def test_replicas_rejects(wrong):
    assert check_replicas(_replicas(**wrong), ROWS, BUCKET) is not None


TRUTH = gen.drift_truth(seed=3, rows=200_000)


def _drift(changed=TRUTH.changed, column=TRUTH.column) -> CompareSummary:
    t = TRUTH
    return CompareSummary(
        equal=False,
        diff_count=2 * changed + t.removed + t.added,
        src_rows=t.rows,
        tgt_rows=t.tgt_rows,
        classes=(("changed", changed), ("removed", t.removed), ("added", t.added)),
        changed_cols=(
            (("changed", column), changed),
            (("removed", ""), t.removed),
            (("added", ""), t.added),
        ),
    )


def test_drift_accepts_truth():
    assert TRUTH.changed == 1000 and TRUTH.removed == 20 and TRUTH.added == 200
    assert check_drift(_drift(), TRUTH) is None


def test_drift_rejects_one_extra_changed_row():
    assert check_drift(_drift(changed=TRUTH.changed + 1), TRUTH) is not None


def test_drift_rejects_wrong_column():
    other = next(c for c in gen.PAYLOAD if c != TRUTH.column)
    assert check_drift(_drift(column=other), TRUTH) is not None


def test_drift_rejects_equal_verdict():
    assert check_drift(dataclasses.replace(_drift(), equal=True), TRUTH) is not None


@pytest.fixture(scope="module")
def corpus_truth():
    return gen.corpus(seed=5, docs=4_000)[1]


def _expected(truth: gen.CorpusTruth) -> CurateSummary:
    return CurateSummary(truth.survivors, dict(truth.components))


def test_curate_accepts_truth(corpus_truth):
    assert check_curate(_expected(corpus_truth), corpus_truth) is None


def test_curate_rejects_wrong_survivor_count(corpus_truth):
    s = dataclasses.replace(_expected(corpus_truth), survivors=corpus_truth.survivors + 1)
    assert check_curate(s, corpus_truth) is not None


def test_curate_rejects_missing_planted_copy(corpus_truth):
    s = _expected(corpus_truth)
    for kind in ("verbatim", "near"):
        victim = next(
            c for c in corpus_truth.copies
            if c.kind == kind and corpus_truth.components.get(c.copy) is not None
        )
        comps = {d: c for d, c in s.components.items() if d != victim.copy}
        assert check_curate(CurateSummary(s.survivors, comps), corpus_truth) is not None


def test_curate_rejects_joined_families(corpus_truth):
    s = _expected(corpus_truth)
    a, b = sorted(set(s.components.values()))[:2]
    comps = {d: a if c == b else c for d, c in s.components.items()}
    assert check_curate(CurateSummary(s.survivors, comps), corpus_truth) is not None


def test_curate_rejects_extra_document(corpus_truth):
    s = _expected(corpus_truth)
    loner = next(d for d in range(corpus_truth.docs) if d not in s.components)
    comps = {**s.components, loner: min(s.components.values())}
    assert check_curate(CurateSummary(s.survivors, comps), corpus_truth) is not None


def test_recovery_counts_copies_in_their_base_component(corpus_truth):
    """The reported grouping quality: an ideal grouping of every planted
    family recovers every copy, and the floor lies below the count."""
    fam = corpus_truth.family()
    low: dict[int, int] = {}
    for doc, base in fam.items():
        low[base] = min(low.get(base, doc), doc)
    ideal = CurateSummary(corpus_truth.survivors, {d: low[b] for d, b in fam.items()})
    assert mixed_components(ideal, corpus_truth) == []
    for kind, (hit, n, floor) in recovery(ideal, corpus_truth).items():
        assert hit == n and 0 < floor < n, kind
