"""Driver-environment mirror (the hard gate's actual setup).

The correctness driver builds its OWN vanilla SparkSession — no UTC
pin, no Arrow flag, no legacy-parquet conf, default 200 shuffle
partitions — and runs the first ~50 enumerated keys. Round 1 lost 7
keys to exactly this gap (events TIMESTAMP(NANOS) under a session
without the nanosAsLong conf). This test reproduces that environment
in SUBPROCESSES (a second SparkContext cannot exist in-process) and
smoke-runs the driver's whole key budget.

Round-16 fix (VERDICT_r15 item 1): the single 270-key subprocess hit
its 480 s timeout under a loaded host (~341 s even idle). The smoke is
now SHARDED — N parallel subprocesses, each a fully vanilla session
over a contiguous slice of the registry (contiguous, not round-robin,
so family-local session caches still amortize within a shard). Each
shard gets its own timeout and reports a loud per-key failure list.
"""

from __future__ import annotations

import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

from scribedb_spark.session import default_cpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: parallel vanilla sessions and the cores of each; by default shards x
#: cores stays within the host's cores (4 x local[1] on 4, 4 x local[8] on 32)
N_SHARDS = int(os.environ.get("SPARK_GRAFT_SMOKE_SHARDS") or min(4, default_cpus()))
SHARD_CORES = max(1, default_cpus() // N_SHARDS)
SHARD_TIMEOUT = 480

SMOKE = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession

# deliberately NOT scribedb_spark.session.get_spark: mirror the
# driver's bare builder (plus a non-UTC timezone, harsher than the
# driver's default, to prove table()'s read-time UTC pin holds)
spark = (
    SparkSession.builder.appName("driver-mirror-%(shard)d")
    .master("local[%(cores)d]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# the WHOLE registry, not just the driver's ~50-key budget: every
# key must survive the driver's session.
# This process owns a contiguous shard of the enumeration order.
qs = e.queries()
keys = list(qs)
n, i = %(n_shards)d, %(shard)d
lo = (len(keys) * i) // n
hi = (len(keys) * (i + 1)) // n
failed = []
for k in keys[lo:hi]:
    try:
        qs[k](spark, %(sf)r).count()
    except Exception as ex:  # noqa: BLE001
        failed.append((k, repr(ex)[:200]))
print("CHECKED", hi - lo)
for k, err in failed:
    print("FAILED", k, err)
sys.exit(1 if failed else 0)
"""


def _run_shard(shard: int, sf_dir: str) -> subprocess.CompletedProcess:
    code = SMOKE % {
        "repo": REPO,
        "sf": sf_dir,
        "shard": shard,
        "n_shards": N_SHARDS,
        "cores": SHARD_CORES,
    }
    return subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=SHARD_TIMEOUT,
        cwd=REPO,
    )


def test_registry_runs_under_vanilla_session(sf_dir):
    with ThreadPoolExecutor(max_workers=N_SHARDS) as pool:
        procs = list(
            pool.map(lambda i: _run_shard(i, sf_dir), range(N_SHARDS))
        )
    total_checked = 0
    failures: list[str] = []
    for i, proc in enumerate(procs):
        out = proc.stdout + proc.stderr
        assert "CHECKED" in out, f"shard {i}: {out[-2000:]}"
        total_checked += int(out.split("CHECKED", 1)[1].split()[0])
        if proc.returncode != 0:
            failures.append(
                f"shard {i} rc={proc.returncode}:\n"
                + "\n".join(
                    ln for ln in out.splitlines() if ln.startswith("FAILED")
                )[:4000]
            )
    assert total_checked >= 131, total_checked
    assert not failures, "\n".join(failures)


def test_default_cpus_follows_env_then_host(monkeypatch):
    """local[N] and the shuffle partitions come from SPARK_GRAFT_CPUS
    when it is set, else from the host's core count (never a fixed
    number sized for another machine)."""
    from scribedb_spark import session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 5)
    assert session.default_cpus() == 5


def test_default_driver_memory_follows_env_then_host(monkeypatch, tmp_path):
    """The driver heap comes from SPARK_GRAFT_DRIVER_MEM when it is set,
    else half of the host's MemTotal, kept between 1g and 16g (never a
    fixed heap larger than the host)."""
    from scribedb_spark import session

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    info = tmp_path / "meminfo"
    monkeypatch.setattr(session, "MEMINFO", str(info))
    for total_kb, want in ((16456384, "8035m"), (268435456, "16384m"), (1048576, "1024m")):
        info.write_text(f"MemFree:  1000 kB\nMemTotal:       {total_kb} kB\n")
        assert session.default_driver_memory() == want
    info.unlink()
    assert session.default_driver_memory() == "16g"
