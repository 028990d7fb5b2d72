"""Paths, Spark settings and host readings shared by the benchmark."""

from __future__ import annotations

import os
import statistics
import time

#: everything the benchmark writes lives under these checkout-relative
#: directories (all ignored by git)
DATA_DIR = os.path.join("perfbench", ".data")
WORK_DIR = os.path.join("perfbench", ".work")
OUT_DIR = os.path.join("perfbench", ".out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical RAM, at most 3 GB (the
    engine's 32g default is more than many hosts have)."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(3072, int(total_kb / 4 / 1024))


def spark_env(work: str) -> None:
    """Environment the JVM and Python workers inherit: driver memory,
    parallelism and every temporary directory inside ``work``."""
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(
        os.path.join(work, "spark-local"))
    os.environ["TMPDIR"] = tmp


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    return {
        "spark.driver.memory": f"{driver_mem_mb()}m",
        # a fixed heap and young generation, so peak RSS follows the live
        # data rather than when the collector chose to grow them
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_mem_mb()}m -Xmn512m -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.abspath(
            os.path.join(work, "warehouse")),
        "spark.ui.showConsoleProgress": "false",
    }


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) cumulative jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return (v[7] if len(v) > 7 else 0), sum(v)


class HostWindow:
    """loadavg and hypervisor steal over a stretch of the run."""

    def __init__(self):
        self.load_start = os.getloadavg()
        self.jiffies = cpu_jiffies()

    def close(self) -> dict:
        s1, t1 = cpu_jiffies()
        s0, t0 = self.jiffies
        return {"loadavg_start": [round(x, 2) for x in self.load_start],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "steal_pct": 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0
                else 0.0}


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def summary(values: list[float]) -> dict:
    """Median, sample count, and the highest percentile with at least
    ten samples beyond it (None below eleven samples)."""
    v = sorted(values)
    n = len(v)
    tail = n > 10
    return {"median": statistics.median(v), "n": n,
            "tail_pct": 100 * (n - 10) // n if tail else None,
            "tail": v[n - 11] if tail else None}


class Spans:
    """Named time and count accumulators for the traced layers."""

    def __init__(self):
        self.values: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.values[name] = self.values.get(name, 0.0) + value

    def timed(self, name: str, fn, *a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            self.add(name, time.perf_counter() - t0)
