"""SparkSession builder with scale-oriented defaults.

Defaults mirror what we would set on a 1000-executor cluster: AQE on
(coalesce + skew-join split), Arrow execution for pandas UDFs, and a
shuffle-partition count sized from available parallelism. Tests run on
local[*]; production runs via spark-submit --py-files with the same conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# a container's memory limit (cgroup v2, then v1; v2 writes "max" and
# v1 a huge number when there is none) and the kernel's free-memory
# estimate
_CGROUP_MEM_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_MEMINFO = "/proc/meminfo"


def _host_mem_bytes() -> int:
    """Memory the local JVM can take: the least of physical memory, the
    cgroup limit (SC_PHYS_PAGES reports the host's RAM even inside a
    container) and MemAvailable at session start (the heap grows to its
    cap, so on a shared host a cap past free memory gets the JVM
    killed)."""
    limits = [os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")]
    for path in _CGROUP_MEM_FILES:
        try:
            with open(path) as f:
                limits.append(int(f.read()))
            break
        except (OSError, ValueError):
            continue
    try:
        with open(_MEMINFO) as f:
            limits += [int(ln.split()[1]) << 10 for ln in f if ln.startswith("MemAvailable:")]
    except OSError:
        pass
    return min(limits)


def _driver_mem(master: str) -> str:
    """Heap for the single local-mode JVM: ~1.5 GiB per task slot,
    16 GiB floor, capped at ~3/4 of ``_host_mem_bytes`` (a heap past
    it lets the JVM be killed mid-query). Explicit
    SPARK_DRIVER_MEM always wins."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    slots = 0
    if master.startswith("local"):
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "1"
        slots = os.cpu_count() or 8 if inner in ("*", "") else int(inner.split(",")[0])
    cap = max(1, _host_mem_bytes() * 3 // 4 >> 30)
    return f"{min(max(16, slots * 3 // 2), cap)}g"


def get_spark(
    app_name: str = "simkit_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        # single-box local mode: never idle a core waiting for locality
        .config("spark.locality.wait", "0s")
        # local mode = ONE JVM standing in for every executor, so the
        # heap must scale with task slots the way a cluster's total heap
        # scales with executor count: a fixed cap anti-scales (measured
        # on the 1M-doc extraction probe: local[32] under 16g spends the
        # whole speedup on GC — 26.8s compute vs 7.2s at 48g). -Xmx is a
        # cap, not a reservation, so the larger bound costs nothing when
        # unused. On a real cluster the driver runs no tasks and
        # spark.executor.memory comes from spark-submit conf instead.
        .config("spark.driver.memory", _driver_mem(master))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # timestamp windows and date_trunc follow the session zone: pin
        # it so no result depends on the host's zone (streaming_hll
        # windows vs the DuckDB twin on non-whole-hour offsets)
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
