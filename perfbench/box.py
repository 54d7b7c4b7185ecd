"""What the box looked like: configuration, speed probes, /proc counters.

These values go into every result record so that two runs can be
compared only within one configuration.  They are recorded, never used
to drop or rescale a run.
"""

from __future__ import annotations

import os
import platform
import sys
import time

from metrics import MB


def process_age_s() -> float:
    """Seconds since this process started, from /proc/self/stat."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of the full line
    boot_now = time.clock_gettime(time.CLOCK_BOOTTIME)
    return boot_now - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta) or 1
    return {
        "busy": round(1 - (delta[3] + delta[4]) / total, 4),
        "iowait": round(delta[4] / total, 4),
        "steal": round(delta[7] / total, 4),
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:
                pass
    return total


def tree_mb(*paths: str) -> float:
    return sum(tree_bytes(p) for p in paths) / MB


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def config(spark, workload: str, seed: int, sf_dir: str) -> dict:
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    conf = spark.sparkContext.getConf()
    return {
        "workload": workload,
        "seed": seed,
        "sf_dir": os.path.basename(sf_dir),
        "cores": usable_cores(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_heap_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / MB, 1),
        "jvm_args": list(mx.getInputArguments()),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "mem_available_gib": _mem_available_gib(),
        "argv": sys.argv[1:],
    }


def _mem_available_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return round(int(line.split()[1]) / (1024 * 1024), 2)
    return 0.0


def probes(spark) -> dict[str, float]:
    """One shot of each substrate probe (bench.py's three, at a twentieth of its sizes, plus a single-thread pure-Python loop), in seconds."""
    from pyspark.sql import functions as F

    def _inc(batches):  # nested, so cloudpickle ships it by value
        for pdf in batches:
            pdf["id"] = pdf["id"] + 1
            yield pdf

    runs = {
        "jvm": lambda: spark.range(5_000_000)
        .select(F.sum((F.col("id") * 2 + 1) % 97))
        .collect(),
        "shuffle": lambda: spark.range(500_000)
        .groupBy((F.col("id") % 5_000).alias("k"))
        .count()
        .select(F.sum("count"))
        .collect(),
        "python": lambda: spark.range(100_000)
        .mapInPandas(_inc, "id long")
        .select(F.sum("id"))
        .collect(),
        "py_loop": lambda: sum(i * i % 7 for i in range(1_000_000)),
    }
    out = {}
    for name, fn in runs.items():
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 4)
    return out
