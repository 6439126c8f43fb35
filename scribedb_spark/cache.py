"""Per-Spark-session cache for built index artifacts.

Several keys model a "build once, serve many" lifecycle whose build
step is expensive relative to the serve step: merkle trees
(queries.fp_merkle / compare_merkle_drill), the keyed cell-fingerprint
grid (analytics.compare_cell_incremental), trained ANN quantizers
(operators/similarity.py) and the containment token stages
(operators/dedup.py). At 100 TB each of those artifacts is a persisted
table or a served index; in-session the honest analog is building it
exactly once per SparkSession and reusing it across invocations.

``session_cache`` is the one shared discipline over the one store:
entries are keyed by ``(applicationId, tag, *rest)`` — the tag names
the artifact family (a registry key for the frames
``queries.register(serve=...)`` serves) — and every lookup first
EVICTS entries whose applicationId differs from the live session's —
a stopped session's localCheckpoint'd DataFrames reference a dead
SparkContext and must not outlive it (long-lived pytest runners and
multi-session drivers would otherwise pin them forever). Every build
appends its tag to ``BUILD_EVENTS`` (the ``persist.BUILD_EVENTS``
idiom), so callers count builds instead of patching builders.
"""

from __future__ import annotations

import os
from typing import Any, Callable

#: the one session store: (appId, tag, *rest) -> (deps fingerprint or
#: None, built value)
_STORE: dict = {}

#: tag of every session_cache build, in build order
BUILD_EVENTS: list = []

#: tags whose store entries are gate decisions (clear_gate_decisions)
_GATE_TAGS: set = set()


def session_cache(
    spark,
    key_tail: tuple,
    builder: Callable[[], Any],
    deps: list[str] | None = None,
) -> Any:
    """Return the ``(appId, *key_tail)`` entry, building it on first use.

    ``key_tail[0]`` is the entry's tag. Evicts every entry belonging
    to a different applicationId before the lookup, so at most one
    session's artifacts are ever held and nothing from a stopped
    SparkContext is pinned.

    ``deps`` (optional) lists the SOURCE FILES the built artifact is a
    pure function of (e.g. the corpus parquet a signature table reads).
    When given, their stat fingerprint is stored with the entry and an
    entry with a DIFFERENT fingerprint is evicted and rebuilt — so an
    in-session rewrite of the source invalidates the artifact instead
    of silently serving pre-mutation state (the honesty property
    ``gate_decision`` documents must hold TRANSITIVELY through the
    session caches a gate's measurement body reads). Cost per lookup:
    one os.stat per dep file.
    """
    app = spark.sparkContext.applicationId
    for stale in [k for k in _STORE if k[0] != app]:
        del _STORE[stale]
    key = (app,) + tuple(key_tail)
    fp = None if deps is None else deps_fingerprint(deps)
    hit = _STORE.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    _STORE.pop(key, None)
    BUILD_EVENTS.append(key_tail[0])
    value = builder()
    _STORE[key] = (fp, value)
    return value


def evict(tags) -> None:
    """Drop every stored entry whose tag is in ``tags``."""
    for k in [k for k in _STORE if k[1] in tags]:
        del _STORE[k]


def deps_fingerprint(paths: list[str]) -> tuple:
    """Stat-only fingerprint of a gate's input files: per path, the
    persist.source_fingerprint of its tree, or 'absent' when the path
    does not exist (an absent->built warehouse slot must invalidate).
    Cheap (os.stat only) — this is what makes serving a cached
    decision HONEST: any mutation of the measured inputs changes the
    fingerprint and forces a fresh measurement."""
    from scribedb_spark.persist import source_fingerprint

    return tuple(
        (p, source_fingerprint([p]) if os.path.exists(p) else "absent")
        for p in paths
    )


def gate_decision(
    spark,
    gate_key: str,
    sf_dir: str,
    deps: list[str],
    compute: Callable[[], Any],
):
    """Serve a monitor gate's decision frame from the session cache.

    The monitor -> act gates (ANN/MIPS retrain, dedup retune, LM /
    quality drift, freshness, gaps, budget, compaction) each produce a
    <=#streams-row decision table whose measurement step is the
    expensive half. Within one session the decision is a pure function
    of the gate's input files (corpus parquet + warehouse artifact
    dirs), so it is computed ONCE per distinct input fingerprint and
    every later call — in particular rollup_gate_panel, which reads
    all nine — serves the collected rows back as a local frame (each
    fingerprint keeps its own entry, tagged ``gate_key``). The
    retrain gates' act paths stay correct: an act rewrites warehouse
    artifacts, which changes the fingerprint, so the NEXT call
    re-measures the rebuilt index instead of serving the stale
    verdict (pinned by the degraded-index tests in
    tests/test_similarity.py). ``queries.register(gate=...)`` wires a
    key through here; plan-shape tests pin the underlying measurement
    plans via ``REGISTRY[key].build``, not this serve layer.
    """
    fp = deps_fingerprint(deps)

    def build():
        df = compute()
        # materialize AND keep the local frame: rebuilding a
        # createDataFrame per read costs ~0.3 s of session RPC, so
        # the cached value is the ready-to-collect local relation
        return spark.createDataFrame(df.collect(), df.schema)

    _GATE_TAGS.add(gate_key)
    return session_cache(spark, (gate_key, sf_dir, fp), build)


def clear_gate_decisions() -> None:
    """Drop every cached gate decision (tests that mutate gate inputs
    behind identical stat fingerprints — e.g. same-mtime rewrites —
    use this to force re-measurement)."""
    evict(_GATE_TAGS)
