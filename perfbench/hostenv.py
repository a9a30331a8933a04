"""Host fit and the environment record every result carries.

Everything here reads ``/proc`` directly (psutil is not a dependency of
the repository). The CPU burn has the shape of ``bench.py``'s
``probe_ceiling`` (one partition, then all cores) at a size small
enough to run before and after every benchmark run.
"""

from __future__ import annotations

import os
import platform
import time


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints, without
    honouring ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Spark's task slots: one fewer than the host's cores. The JVM's JIT
    and GC threads, the Python driver and py4j run beside the tasks;
    with a slot per core they queue behind them, and the figures spread
    wider from run to run (README.md, host fit)."""
    return max(1, host_cores() - 1)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(total_mb: int) -> int:
    """Driver heap: an eighth of RAM, between 1 and 4 GiB.

    Local mode runs every executor thread inside the driver JVM, and the
    tables, shuffle files and page cache need the rest of the host; the
    engine's own 16g default exceeds a 15 GB host outright."""
    return max(1024, min(4096, total_mb // 8))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return round(100.0 * (t1[0] - t0[0]) / total, 3) if total > 0 else 0.0


def probe_ceiling(spark, cores: int, burn: int = 8_000_000) -> dict:
    """Pure-compute burn (codegen range -> sum, no IO) at one partition
    and at ``cores`` partitions: per-core speed and parallel headroom of
    the host at the moment of measurement."""
    spark.range(1_000_000, numPartitions=1).selectExpr("sum(id % 7919)").collect()
    t0 = time.perf_counter()
    spark.range(burn, numPartitions=1).selectExpr("sum(id % 7919)").collect()
    one = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(burn * cores, numPartitions=cores).selectExpr(
        "sum(id % 7919)").collect()
    alln = time.perf_counter() - t0
    return {
        "burn_rows": burn,
        "burn_1part_s": round(one, 4),
        "burn_parallel_s": round(alln, 4),
        "parallel_speedup": round(one * cores / alln, 3) if alln else None,
    }


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": host_cores(),
        "spark_cores": spark_cores(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(mem_total_mb()),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "kernel": platform.release(),
    }
