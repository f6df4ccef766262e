"""Host-noise record of one run, so an unsteady figure can be attributed
from the artifact alone: run-wide steal share, a fixed CPU probe
(``tests/_host_probe.probe_sec``), load average, and the regime the run
used (cores, heap, local dirs)."""

from __future__ import annotations

import os


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def rss_mb(pid: int) -> float:
    """Current resident set (VmRSS) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmRSS for pid {pid}")


def jvm_live_heap_mb(spark) -> float:
    """Spark JVM heap in use right after a full collection: what the
    run still retains (caches, broadcasts, status store), not garbage."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024.0 * 1024.0)
    raise RuntimeError("no MemTotal in /proc/meminfo")


class HostRecord:
    """Start it before the session, ``finish()`` it after the last
    timed operation."""

    def __init__(self) -> None:
        self.t0 = cpu_ticks()
        self.probe_start_s = _probe()

    def finish(self) -> dict:
        t1 = cpu_ticks()
        total = t1[1] - self.t0[1]
        return {
            "steal_pct": 100.0 * (t1[0] - self.t0[0]) / total if total else 0.0,
            "probe_start_s": self.probe_start_s,
            "probe_end_s": _probe(),
            "loadavg": list(os.getloadavg()),
            "cores": os.environ.get("SPARK_GRAFT_CPUS"),
            "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        }


def _probe() -> float:
    from tests._host_probe import probe_sec

    return probe_sec()
