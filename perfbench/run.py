"""Benchmark entry point: one closed-loop client, one op at a time.

    python3 perfbench/run.py --workload compare_replicas_drift --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout; it imports ``scribedb_spark`` from
there and exits with code 2 when the package is missing. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a
detail record (host settings, every op wall, failure reasons).
Everything the run writes goes under ``.perfbench_tmp/`` in the
checkout and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

#: host fit: at most this many cores (on a 4-core host, one is left to
#: the driver, the JVM's collector and the Python workers, which makes
#: op walls steadier and no slower), and a heap of at most this many MB
#: or a quarter of the host's RAM, whichever is smaller
MAX_CPUS = 3
MAX_HEAP_MB = 2048
#: the canary: a fixed Spark query that uses no library code, run
#: CANARY_WARMUP times during set-up and CANARY_RUNS times after the
#: timed ops (run between them, it slows the next op). The median of the
#: latter measures how fast the host is; every time is reported at the
#: host speed where it takes CANARY_REFERENCE_S
CANARY_ROWS = 200_000
CANARY_WARMUP = 3
CANARY_RUNS = 5
CANARY_REFERENCE_S = 1.0
#: pause after the forced collection in ``settle``, for Spark's context
#: cleaner to drop the blocks and files it freed
SETTLE_S = 0.2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class Host:
    """Host-fit settings and the run's private directories. Entering sets
    the environment ``get_spark`` and the JVM read; leaving stops the JVM
    and removes every directory the run wrote."""

    def __init__(self, root: Path):
        self.cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
        self.heap_mb = min(MAX_HEAP_MB, _mem_total_mb() // 4)
        self.tmp = root / ".perfbench_tmp" / f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
        self.data = str(self.tmp / "data")
        self.eventlog = str(self.tmp / "eventlog")

    def __enter__(self):
        for d in ("local", "warehouse", "data", "eventlog", "tmp"):
            (self.tmp / d).mkdir(parents=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM=f"{self.heap_mb}m",
            SPARK_LOCAL_DIRS=str(self.tmp / "local"),
            SPARK_GRAFT_WAREHOUSE=str(self.tmp / "warehouse"),
            TMPDIR=str(self.tmp / "tmp"),
            PYSPARK_PYTHON=sys.executable,
        )
        return self

    def __exit__(self, *exc):
        stop_jvm()
        shutil.rmtree(self.tmp, ignore_errors=True)
        try:
            self.tmp.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there
        return False

    def conf(self, traced: bool) -> dict[str, str]:
        from perfbench.trace import EVENT_LOG_CONF

        conf = {
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp / 'tmp'} -XX:-UsePerfData",
            # a later session in the same JVM inherits the first one's
            # launch settings unless they are set again
            "spark.eventLog.enabled": "false",
        }
        if traced:
            conf.update(EVENT_LOG_CONF, **{"spark.eventLog.dir": self.eventlog})
        return conf

    def record(self) -> dict:
        return {
            "SPARK_GRAFT_CPUS": self.cpus,
            "SPARK_GRAFT_DRIVER_MEM": f"{self.heap_mb}m",
            "SPARK_LOCAL_DIRS": "<run dir>/local",
            "SPARK_GRAFT_WAREHOUSE": "<run dir>/warehouse",
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": _mem_total_mb(),
        }


def start_session(host: Host, traced: bool):
    from scribedb_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=host.conf(traced))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Tally:
    """Runs ops and counts them; a failed check or an exception is a
    failed op, never an abort."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self.notes: list[dict] = []

    def run(self, w, inp, span) -> tuple[float, bool]:
        self.attempted += 1
        t = time.perf_counter()
        try:
            summary = w.op(inp, span)
            wall = time.perf_counter() - t
            reason = w.check(summary, inp)
            self.notes.append(w.notes(summary, inp))
        except Exception as e:  # the loop must go on; the op counts as failed
            wall = time.perf_counter() - t
            traceback.print_exc()
            reason = f"{type(e).__name__}: {e}"
        if reason is not None:
            self.failed += 1
            self.reasons.append(reason)
        return wall, reason is None


def canary(spark) -> float:
    """Wall time of the canary query: two aggregations of one generated
    frame, joined and collected (five jobs, driver work like an op's)."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    df = spark.range(0, CANARY_ROWS, numPartitions=4).select(
        "id", (F.col("id") % 97).alias("k"), F.md5(F.col("id").cast("string")).alias("s")
    )
    lo = df.groupBy("k").agg(F.min("s").alias("lo"))
    hi = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.max("s").alias("hi"))
    hi.join(lo, "k").orderBy("k").collect()
    return time.perf_counter() - t


def settle(spark) -> None:
    """Free what earlier ops left behind before the next one is timed:
    the library's ``localCheckpoint`` blocks and shuffle files go only
    when the driver JVM collects their last reference, which otherwise
    happens at a random point inside a later op."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def timed_loop(w, inp, spans, tally: Tally, seconds: float, each=None, before=None) -> list[float]:
    """Ops back to back until ``seconds`` have passed (the op in flight
    finishes), each after ``before()`` when given. Returns the walls of
    the ops that passed their check, or of all ops when none did."""
    walls, good = [], []
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        if before is not None:
            before()
        spans.op = len(walls)
        wall, ok = tally.run(w, inp, spans)
        walls.append(wall)
        if ok:
            good.append(wall)
        if each is not None:
            each(spans)
    return good or walls


def set_up(w, host: Host, seed: int, traced: bool, spans, tally: Tally):
    """Session, inputs written through sources.convert_to_parquet, and
    the warm-up ops. The canary's own warm-up runs between the inputs and
    the warm-up ops, outside the parts' times. Returns (spark, inputs,
    seconds per set-up part)."""
    from perfbench.trace import Spans

    parts = {}
    t = time.perf_counter()
    with spans("session.get_spark"):
        spark = start_session(host, traced)
    if traced:
        spans.sc = spark.sparkContext
    parts["get_spark"] = time.perf_counter() - t
    t = time.perf_counter()
    truth = w.write_inputs(spark, seed, host.data, w.rows, spans)
    inp = w.load(spark, host.data, truth)
    parts["write_inputs"] = time.perf_counter() - t
    for _ in range(CANARY_WARMUP):
        canary(spark)
    t = time.perf_counter()
    for _ in range(w.warmup_ops):
        settle(spark)
        tally.run(w, inp, Spans())
    parts["warm_up"] = time.perf_counter() - t
    return spark, inp, parts


def run_untraced(w, host: Host, args) -> tuple[dict, dict, Tally]:
    from perfbench.trace import Spans

    tally = Tally()
    spark, inp, parts = set_up(w, host, args.seed, False, Spans(), tally)
    setup_s = sum(parts.values())
    spans = Spans()
    walls = timed_loop(w, inp, spans, tally, args.seconds, before=lambda: settle(spark))
    settle(spark)
    canaries = [canary(spark) for _ in range(CANARY_RUNS)]
    verdicts = spans.walls(w.op_spans[0])
    raw = {
        "rows_per_s": w.rows / statistics.median(walls),
        "verdict_s": statistics.median(verdicts),
        "setup_s": setup_s,
    }
    # every time at the reference host speed
    speed = CANARY_REFERENCE_S / statistics.median(canaries)
    metrics = {
        "rows_per_s": (raw["rows_per_s"] / speed, "rows/s"),
        "verdict_s": (raw["verdict_s"] * speed, "s"),
        "setup_s": (setup_s * speed, "s"),
    }
    detail = {
        "raw": raw,
        "canary_s": canaries,
        "op_walls_s": walls,
        "verdict_walls_s": verdicts,
        "timed_ops": len(walls),
        "setup_parts_s": parts,
    }
    return metrics, detail, tally


def run_traced(w, host: Host, args) -> tuple[dict, dict, Tally]:
    """Traced session: set-up and ops with every span in its own job
    group, plus the isolated layer calls after each op. Then a plain
    session in the same JVM runs the same op untraced, for the tracing
    overhead. Per-layer numbers come from the event log."""
    from perfbench import trace
    from perfbench.trace import Spans

    tally = Tally()
    spans = Spans()
    spark, inp, _ = set_up(w, host, args.seed, True, spans, tally)

    def layers(s):
        tally.attempted += 1
        try:
            w.layers(inp, s)
        except Exception as e:  # counted like a failed op
            traceback.print_exc()
            tally.failed += 1
            tally.reasons.append(f"layer calls: {type(e).__name__}: {e}")

    traced_walls = timed_loop(
        w, inp, spans, tally, args.seconds, each=layers, before=lambda: settle(spark)
    )
    spark.stop()
    spark = start_session(host, traced=False)
    plain = w.load(spark, host.data, inp.truth)
    tally.run(w, plain, Spans())  # first op of the new session
    untraced_walls = timed_loop(
        w, plain, Spans(), tally, args.seconds / 2, before=lambda: settle(spark)
    )
    spark.stop()

    groups = {}
    for name in os.listdir(host.eventlog):
        with open(os.path.join(host.eventlog, name)) as f:
            groups.update(trace.parse_event_log(f))
    per_span = trace.span_metrics(spans, groups, w.SELF_CHILDREN)

    values = {
        f"{n}.{m}": per_span.get(n, {}).get(m, 0.0) for n in trace.ALL_SPANS for m, _ in trace.SPAN_METRICS
    }
    op_wall = statistics.median(traced_walls)
    untraced = statistics.median(untraced_walls)
    self_sum = sum(
        max(0.0, per_span[n]["self_s"]) for n in (*w.op_spans, *w.layer_spans) if n in per_span
    )
    values.update(
        {
            "op.wall_s": op_wall,
            "op.untraced_wall_s": untraced,
            "op.trace_overhead": op_wall / untraced - 1.0,
            "op.layer_self_sum_s": self_sum,
            "op.unattributed_s": op_wall - self_sum,
        }
    )
    metrics = {name: (values[name], unit) for name, unit in trace.per_layer_names()}
    detail = {
        "traced_op_walls_s": traced_walls,
        "untraced_op_walls_s": untraced_walls,
        "event_log_groups": len(groups),
    }
    return metrics, detail, tally


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "scribedb_spark" / "__init__.py").is_file():
        print(f"perfbench: no scribedb_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with Host(ROOT) as host:
        run = run_traced if args.trace else run_untraced
        metrics, detail, tally = run(w, host, args)
        detail.update(
            workload=w.name,
            seed=args.seed,
            trace=args.trace,
            host=host.record(),
            failed_share=tally.failed / tally.attempted,
            failures=tally.reasons[:5],
            notes=tally.notes[-1] if tally.notes else {},
        )
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
