"""Host-side measurements: resident memory of the process tree, load
average, stolen CPU, and the quantile helpers every workload reports
with. CPU time comes from the engine's own ``etl_rs_spark.cpu``, whose
/proc process-tree walk this module reuses for memory."""

from __future__ import annotations

import os
import statistics
import threading

from etl_rs_spark import cpu

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of this process and every descendant (the Spark
    JVM and its python workers), each page shared between processes
    (forked python workers) counted once: the sum of PSS."""
    scan = cpu._scan_procs()
    if scan is None:
        return 0.0
    procs, children = scan
    pids = cpu._tree(os.getpid(), procs, children)
    return sum(_pss_kb(p) for p in pids) / 1024.0


def spark_cpu_s(spark) -> float:
    """CPU seconds used so far by the whole Spark runtime: the python
    driver, the JVM and the python workers."""
    ms = cpu.spark_cpu_ms(spark)
    if ms is None:
        raise RuntimeError("process-tree CPU is not measurable on this host")
    return ms / 1e3


def loadavg() -> list[float]:
    return list(os.getloadavg())


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests so far, summed
    over this host's cores (the ``steal`` field of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / _CLK_TCK
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler:
    """Samples the process tree's resident memory on a background thread
    and keeps the peak. Started before the session, stopped at the end."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def p50(values: list[float]) -> float:
    return statistics.median(values)


def p90(values: list[float]) -> float:
    """90th percentile by linear interpolation between closest ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]
