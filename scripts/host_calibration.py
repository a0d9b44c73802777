#!/usr/bin/env python
"""Host CPU-delivery probe for the scaling benches.

Runs the engine's batched feature fabric (synthetic series through
``features._feature_batches``: pooled, grouped and cache-blocked by
``functions/dispatch.py``) as plain OS processes — no Spark, no JVM —
at the two levels of the host ladder, the same rows in every process.
Its efficiency, throughput speedup ÷ (hi/lo) = wall_lo / wall_hi, is
the plain-process ceiling any lo→hi scale-up of the engine can reach
on this host right now; a reading outside :data:`BAND` means a
neighbour is contending for CPU or memory, so a timing taken in that
window is retried instead of graded (``bench.py``, ``bench_scaling.py
--probe-gate``).

Usage: python scripts/host_calibration.py  →  one JSON line (the probe).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: clean-window efficiency band at the host ladder, set from readings on
#: a 4-core host at 1→4 (CHANGES.md): quiet readings, whose per-process
#: kernel time matched within 5% across the two legs, read 0.91–0.99;
#: disturbed ones read 0.69–0.87, or above 1.0. The upper edge is ideal
#: scaling, which only contention on the lo leg can push a reading past.
BAND = (0.89, 1.0)

WORK = """
import sys; sys.path.insert(0, {repo!r})
import numpy as np, pandas as pd, time
from fforma_spark.sources.synth import _gen_one
from fforma_spark.functions.features import _feature_batches
rows = []
for i in range(int(sys.argv[1]), int(sys.argv[1]) + 10000):
    _, toks, _ = _gen_one(42, i)
    rows.append({{"doc_id": "X%07d" % i, "tokens": list(toks)}})
pdf = pd.DataFrame(rows)
# warm numpy/kernel imports outside the timed span
for _ in _feature_batches(iter([pdf.iloc[:8]]), 1):
    pass
t0 = time.time()
for _ in _feature_batches(iter([pdf]), 1):
    pass
print(time.time() - t0)
"""


def ladder() -> tuple[int, int]:
    """The two parallelism levels graded on this host: (cores/4, cores),
    with cores from the affinity mask as in ``get_spark``."""
    cores = len(os.sched_getaffinity(0))
    return max(1, cores // 4), cores


def measure(n: int) -> dict:
    """Wall time of ``n`` concurrent probe processes, 10k series each."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    code = WORK.format(repo=REPO)
    t0 = time.time()
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, str(10000 * i)],
            stdout=subprocess.PIPE,
            env=env,
        )
        for i in range(n)
    ]
    work = sum(float(p.communicate()[0]) for p in procs)
    wall = time.time() - t0
    return {"procs": n, "wall_sec": round(wall, 2),
            "total_work_sec": round(work, 2),
            "effective_cores": round(work / wall, 2)}


def probe() -> dict:
    """One probe at the host ladder. A probe that fails reads as an
    out-of-band window, never an exception, so a gate always ends."""
    lo, hi = ladder()
    try:
        r_lo, r_hi = measure(lo), measure(hi)
        eff = round(r_lo["wall_sec"] / r_hi["wall_sec"], 3)
    except Exception as exc:  # noqa: BLE001
        return {"levels": [lo, hi], "in_band": False,
                "error": repr(exc)[:200]}
    return {
        "levels": [lo, hi],
        "speedup": round(eff * hi / lo, 3),
        "efficiency": eff,
        "in_band": BAND[0] <= eff <= BAND[1],
        "lo": r_lo,
        "hi": r_hi,
    }


if __name__ == "__main__":
    print(json.dumps(probe()))
