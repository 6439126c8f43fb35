"""Span recorder and Spark event-log parser for the traced run.

A span is one public-function call, timed from the benchmark's side.
In a traced session every span also sets the Spark job group
``<span>#<op>``, so each job the call triggers, and every task of that
job's stages, can be attributed to it afterwards from the event log
(``spark.eventLog.enabled``). Nothing is read from the status store:
its stage list is not callable through py4j in PySpark 4.1.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: per-span metrics, in report order
SPAN_METRICS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
)

#: every span any workload records, in report order: the set-up spans
#: first, then the compare, canonical, pipeline and dedup layers
ALL_SPANS = (
    "session.get_spark",
    "sources.convert_to_parquet",
    "compare.compare",
    "compare.chunk_fingerprints",
    "canonical.fp_unordered",
    "canonical.fp_chain",
    "compare.symmetric_diff",
    "compare.keyed_diff",
    "compare.keyed_diff_cols",
    "pipeline.curate",
    "operators.dedup.band_signatures",
    "operators.dedup.lsh_star_pairs",
    "operators.dedup.connected_components",
)

#: per-op metrics of the traced run, beside the per-span ones
OP_METRICS = (
    ("op.wall_s", "s"),
    ("op.untraced_wall_s", "s"),
    ("op.trace_overhead", "ratio"),
    ("op.layer_self_sum_s", "s"),
    ("op.unattributed_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric, in report order."""
    spans = [(f"{n}.{m}", u) for n in ALL_SPANS for m, u in SPAN_METRICS]
    return spans + list(OP_METRICS)


#: session settings that turn the event log on; rolling logs are off
#: because PySpark 4.1 otherwise writes a zstd rolling directory
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def group_id(name: str, op: int) -> str:
    return f"{name}#{op}"


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    #: when the call returned, for spans that time a call and then the
    #: collect of its lazy result; None when not marked
    call_end: float | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    def part(self, which: str) -> float:
        """'all' = the whole span, 'call' = until mark(), 'rest' = after."""
        if which == "all":
            return self.wall
        cut = self.end if self.call_end is None else self.call_end
        return cut - self.start if which == "call" else self.end - cut

    def mark(self) -> None:
        self.call_end = time.time()


class Spans:
    """Records spans in memory. ``sc`` is the SparkContext of a traced
    session, or None for an untraced run (the spans then cost two clock
    reads each)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.op = -1  # -1 = set-up
        self.spans: list[Span] = []

    @contextmanager
    def __call__(self, name: str):
        if self.sc is not None:
            self.sc.setJobGroup(group_id(name, self.op), name)
        s = Span(name, self.op, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def walls(self, name: str) -> list[float]:
        """Summed wall time of ``name`` per op, in op order."""
        per_op: dict[int, float] = {}
        for s in self.spans:
            if s.name == name:
                per_op[s.op] = per_op.get(s.op, 0.0) + s.wall
        return [per_op[k] for k in sorted(per_op)]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class GroupMetrics:
    """Spark's own task metrics, summed over one job group."""

    jobs: int = 0
    #: (submission, completion) of each job, epoch seconds
    intervals: list = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: stage id -> executor run times (ms) of its tasks
    stage_tasks: dict = field(default_factory=dict)

    def task_skew(self) -> float:
        """max/median task run time of the stage with the most run time;
        0 when the group ran no task."""
        if not self.stage_tasks:
            return 0.0
        runs = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0


def parse_event_log(lines) -> dict[str, GroupMetrics]:
    """Job group -> metrics, from the lines of an uncompressed event log.
    Jobs and tasks outside any job group are ignored."""
    groups: dict[str, GroupMetrics] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            groups.setdefault(g, GroupMetrics()).jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            gm = groups[g]
            gm.gc_ms += m.get("JVM GC Time", 0)
            gm.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            gm.spill_bytes += m.get("Disk Bytes Spilled", 0)
            gm.stage_tasks.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    return groups


def covered(intervals, start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


def span_metrics(spans: Spans, groups: dict[str, GroupMetrics], self_children: dict):
    """name -> metric -> median over ops, for every recorded span name.
    ``self_children`` maps a span to the (child span, part) pairs it
    recomputes (see ``workloads``)."""
    by_key: dict[tuple[str, int], list[Span]] = {}
    for s in spans.spans:
        by_key.setdefault((s.name, s.op), []).append(s)
    per_op: dict[str, list[dict]] = {}
    for (name, op), ss in by_key.items():
        g = groups.get(group_id(name, op), GroupMetrics())
        wall = sum(s.wall for s in ss)
        child = 0.0
        for cname, part in self_children.get(name, ()):
            child += sum(c.part(part) for c in by_key.get((cname, op), ()))
        in_jobs = sum(covered(g.intervals, s.start, s.end) for s in ss)
        per_op.setdefault(name, []).append(
            {
                "wall_s": wall,
                "self_s": wall - child,
                "driver_s": wall - in_jobs,
                "jobs": g.jobs,
                "gc_s": g.gc_ms / 1000.0,
                "shuffle_write_mb": g.shuffle_write_bytes / 1e6,
                "spill_mb": g.spill_bytes / 1e6,
                "task_skew": g.task_skew(),
            }
        )
    return {
        name: {m: statistics.median(r[m] for r in rows) for m, _ in SPAN_METRICS}
        for name, rows in per_op.items()
    }
