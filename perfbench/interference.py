"""Interference record: the machine's load and a fixed memory-bandwidth
probe, taken before and after a run. A co-tenant that competes for memory
bandwidth can leave the load average low, so the probe times a fixed
amount of memory traffic; a run whose `after` probe or load is far from
its `before` (or from the idle-box values in METRICS.md) was shaded."""
import os
import time

import numpy as np

PROBE_MB = 64


def probe():
    src = np.ones(PROBE_MB * 1024 * 1024 // 8)
    dst = np.empty_like(src)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        times.append(time.perf_counter() - t0)
    return {"loadavg_1m": os.getloadavg()[0],
            "copy_gb_per_s": 2 * PROBE_MB / 1024 / min(times)}
