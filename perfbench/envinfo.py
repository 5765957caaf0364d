"""The machine a run measured on: core count, RAM, driver heap, library
versions, and a memory-bandwidth gate.

The gate is recorded beside every run so a throttled run can be
identified afterwards. It is never used to drop a run.
"""

from __future__ import annotations

import os
import platform
import threading
import time

import numpy as np

#: int64 elements each gate thread copies (32 MB per array)
GATE_ELEMS = 4_000_000
GATE_REPS = 8


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1e9


def _copy_rate(n: int, start: threading.Barrier, out: list, i: int) -> None:
    a = np.ones(n, dtype=np.int64)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault the pages in before timing
    start.wait()
    t0 = time.perf_counter()
    for _ in range(GATE_REPS):
        np.copyto(b, a)
    out[i] = GATE_REPS * a.nbytes / (time.perf_counter() - t0)


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user … steal), or [] where
    the file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def memcpy_gbps(workers: int) -> float:
    """Aggregate streaming-copy bandwidth of ``workers`` threads, GB/s.
    numpy releases the GIL while it copies, so the threads copy in
    parallel; threads rather than processes leave nothing running after
    the gate returns."""
    start = threading.Barrier(workers)
    rates = [0.0] * workers
    threads = [threading.Thread(target=_copy_rate,
                                args=(GATE_ELEMS, start, rates, i))
               for i in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(rates) / 1e9


def describe(driver_mem: str, cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_gb(), 2),
        "spark_cores": cores,
        "driver_heap": driver_mem,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }
