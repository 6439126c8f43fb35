"""SparkSession construction with scale-oriented defaults.

Local testing runs on local[N] (single JVM), but every config here is
chosen for the 1000-executor / 100 TB case and merely *also* behaves
well locally:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic join-strategy switch replace the reference's empirical
  "bucket size" calibration (reference scribedb/base.py:108-154) —
  Spark measures actual partition sizes instead of timing probe
  queries.
- session timezone pinned to UTC so timestamp canonicalization
  (canonical.py) is deterministic across drivers/executors — the
  reference pins Oracle's NLS_TIMESTAMP_FORMAT per session for the
  same reason (reference scribedb/oracle.py:140-145).
- Arrow enabled for the few pandas-UDF paths (vectorized batch
  transfer, not row-at-a-time pickling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else this host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


#: where the host's memory size is read (Linux)
MEMINFO = "/proc/meminfo"


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half of this host's
    memory (``MemTotal`` in :data:`MEMINFO`), between 1g and 16g: the
    JVM shares the host with the Python workers and the page cache.
    16g where the host's memory cannot be read."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(MEMINFO) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16 * 1024, max(1024, kb // 2048))}m"


def get_spark(
    app_name: str = "scribedb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master``/``shuffle_partitions`` default from :func:`default_cpus`
    and the driver heap from :func:`default_driver_memory`, so tests,
    bench and the driver harness all share one code path.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver test data writes TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default (PARQUET_TYPE_ILLEGAL); read as long and
        # convert in sources.table() (ns -> us truncation matches
        # DuckDB's own read of the same files).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small local test data: don't let tiny files explode into
        # thousands of splits; at cluster scale this would be tuned to
        # HDFS/object-store block size (128-256 MB).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # stage-progress bars interleave with stdout when the driver
        # captures a merged stream — they drowned the one-line bench
        # JSON in round 5 (BENCH_r05 parsed=null); keep them off
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


#: target on-heap bytes per shuffle partition. 128 MB compressed
#: shuffle blocks keep per-task state well under a 4-8 GB executor
#: heap share after decompression/deserialization (~2-4x inflation).
TARGET_PARTITION_BYTES = 128 * 1024 * 1024


def scale_conf(
    total_input_bytes: int,
    executors: int = 1000,
    cores_per_executor: int = 4,
    shuffle_fraction: float = 0.5,
) -> dict[str, str]:
    """Recommended conf overrides for a given data scale — the
    arithmetic behind "would this hold at 1000 executors / 100 TB",
    written down as code instead of folklore. Pass the result as
    ``get_spark(extra_conf=scale_conf(...))``.

    - ``spark.sql.shuffle.partitions``: sized so the LARGEST shuffle
      (~``shuffle_fraction`` of input after scan-level pruning) lands
      ~128 MB per partition, floored at 2 tasks per core so AQE's
      coalescing has slack to merge, never the other way around.
      AQE then shrinks small stages at runtime — a static number can
      only be "big enough", so this errs high.
    - ``spark.sql.files.maxPartitionBytes``: stays at 128 MB — scan
      parallelism follows file splits, not the shuffle number.
    - advisory sizes feed AQE's coalescing/skew-split so runtime
      re-planning aims at the same 128 MB target.

    At 100 TB input, defaults give: shuffle ≈ 50 TB ->
    ~400k partitions (~128 MB each) across 4k cores (~100 waves) —
    bounded task state, no 2 GB-block overflow, skew handled by AQE
    splitting anything past 2x the advisory size.
    """
    if total_input_bytes <= 0:
        raise ValueError("total_input_bytes must be positive")
    cores = max(1, executors * cores_per_executor)
    shuffle_bytes = int(total_input_bytes * shuffle_fraction)
    parts = max(
        2 * cores,
        -(-shuffle_bytes // TARGET_PARTITION_BYTES),  # ceil div
    )
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(TARGET_PARTITION_BYTES),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            TARGET_PARTITION_BYTES
        ),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16m",
        # splits any post-shuffle partition 2x past advisory: the
        # salting fallback for keys we didn't know were hot
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(
            2 * TARGET_PARTITION_BYTES
        ),
    }
