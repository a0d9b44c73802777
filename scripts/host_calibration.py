#!/usr/bin/env python
"""Host CPU-delivery calibration for the scaling-efficiency report.

Runs the engine's actual per-series kernels (synthetic generation +
feature extraction) as N plain OS processes — no Spark, no JVM — at
N=8 and N=32, and reports effective cores at each level. On ideal
hardware effective cores == N; on an overcommitted VM the ratio
(eff32 / eff8) is the MAXIMUM speedup any 8→32 scale-up can achieve
on that host. BENCH_SCALING.json's engine speedup (measured on a
32-core host) should be read against this ceiling. The levels are
fixed: on a host with fewer than 32 cores both levels oversubscribe
it and the ratio reads ~1.0, which says nothing about the engine.

Usage: python scripts/host_calibration.py  →  one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

WORK = """
import sys; sys.path.insert(0, {repo!r})
import numpy as np, time
from fforma_spark.sources.synth import _gen_one
from fforma_spark.functions.kernels import feature_vector
t0 = time.time()
for i in range(int(sys.argv[1]), int(sys.argv[1]) + 1500):
    _, toks, _ = _gen_one(42, i)
    feature_vector(np.asarray(toks, dtype=np.float64), 1)
print(time.time() - t0)
"""


#: the batched-dispatch twin: synthetic series driven through the
#: production feature fabric (features._feature_batches: pooled,
#: grouped and cache-blocked by functions/dispatch.py). This workload
#: is memory-bandwidth-heavy where the scalar one is dispatch-heavy,
#: so its plain-process ceiling is the one to grade the batched tiers
#: phase against: on the 32-core host it was written for, 4x the
#: threads shared one memory controller, which no engine scales past.
WORK_BATCHED = """
import sys; sys.path.insert(0, {repo!r})
import numpy as np, pandas as pd, time
from fforma_spark.sources.synth import _gen_one
from fforma_spark.functions.features import _feature_batches
rows = []
# 10k series/proc: the batched path runs ~7x faster per core than the
# scalar one, so more rows are needed for a multi-second timed span
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


def measure(n: int, repo: str, batched: bool = False) -> dict:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    code = (WORK_BATCHED if batched else WORK).format(repo=repo)
    t0 = time.time()
    stride = 10000 if batched else 1500
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, str(stride * i)],
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


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    batched = "--batched" in sys.argv
    r8, r32 = measure(8, repo, batched), measure(32, repo, batched)
    out = {
        "workload": "batched_cache_blocked" if batched else "scalar_dispatch",
        "local8": r8,
        "local32": r32,
        "host_max_speedup_8_to_32": round(
            r32["effective_cores"] / r8["effective_cores"], 3
        ),
        "host_max_efficiency": round(
            r32["effective_cores"] / r8["effective_cores"] / 4, 3
        ),
        # effective-cores divides out per-proc slowdown, which is right
        # for CPU steal (work stays flat, wall inflates) but hides
        # memory-bandwidth contention (the stalled cycles inflate work
        # itself). The direct throughput ratio is the workload's true
        # plain-process ceiling — identical rows/proc at both levels,
        # so it reduces to 4 * wall8/wall32.
        "throughput_speedup_8_to_32": round(
            4.0 * r8["wall_sec"] / r32["wall_sec"], 3
        ),
        "throughput_efficiency": round(
            r8["wall_sec"] / r32["wall_sec"], 3
        ),
    }
    print(json.dumps(out))
