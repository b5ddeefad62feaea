"""Host state recorded with every run: the CPU-burn probe and memory.

The probe times the engine's own calibration kernel
(``functions.hanoi.burn_us_per_record``) on one thread and on every core
at once, next to the load average. These figures let a reader judge
contention; nothing rescales or drops a sample with them.
"""

from __future__ import annotations

import os
import threading

PROBE_HEIGHT = 7
PROBE_REPS = 3000


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


def burn_probe() -> dict[str, float]:
    """µs per record at height 7: best of three on one thread, and the
    mean over ``cores()`` threads burning at once (the numpy burn
    releases the interpreter lock, so the threads share the cores)."""
    from spark_streaming_testbed_spark.functions.hanoi import burn_us_per_record

    one = min(burn_us_per_record(PROBE_HEIGHT, PROBE_REPS) for _ in range(3))
    results: list[float] = []
    lock = threading.Lock()

    def burn() -> None:
        v = burn_us_per_record(PROBE_HEIGHT, PROBE_REPS)
        with lock:
            results.append(v)

    threads = [threading.Thread(target=burn) for _ in range(cores())]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {
        "kernel_us_per_row_1t": one,
        "kernel_us_per_row_allcores": sum(results) / len(results),
    }


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MiB, read from
    ``/proc``; 0 when the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0
