"""Box-state canary: a fixed-cost calibration probe recorded next to
every benchmark artifact (round-11 verdict task 5).

Three same-code full-registry runs in round 11 spanned 573-827 s, and
the spread was NOT uniform box noise: simple scans agreed across runs
while iterative/checkpoint-heavy queries ran 2-4x slower on a cold or
loaded box — the demand-paging signature this sandbox exhibits
(first-touch pages fault at ~300 us/page; a cold 128 MB numpy fill
costs seconds where a warm one costs ~15 ms). Without a mechanical
probe in the artifact, round-over-round deltas are unadjudicable.

The probe records:
- ``load1/5/15``: os.getloadavg() — concurrent load on the shared box.
- ``fill_s``: first-touch fill of a fresh 128 MB float64 buffer — the
  demand-paging cost new task memory pays on this box right now.
- ``matmul_s``: a 2048x2048 float64 dgemm on the (now warm) buffers —
  pure CPU throughput under whatever contention exists. BLAS is pinned
  to 1 thread (session.py), so this is deterministic work.

Interpretation: a query-time shift accompanied by a proportional
``matmul_s``/``fill_s`` shift is box state, not a plan change.
"""

from __future__ import annotations

import os
import time


def box_canary() -> dict:
    import numpy as np

    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:  # pragma: no cover - platform without getloadavg
        load1 = load5 = load15 = -1.0
    t0 = time.perf_counter()
    a = np.empty((2048, 4096), dtype=np.float64)  # 64 MB, untouched
    a.fill(1.0)  # first touch: demand-pages every page
    b = np.empty((4096, 2048), dtype=np.float64)
    b.fill(1.0)
    fill_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    c = a[:2048, :2048] @ b[:2048, :2048]  # 17.2 GFLOP dgemm, warm pages
    # touch the result so lazy evaluation can't skip the work
    float(c[0, 0])
    matmul_s = time.perf_counter() - t0
    return {
        "load1": round(load1, 2),
        "load5": round(load5, 2),
        "load15": round(load15, 2),
        "fill_s": round(fill_s, 4),
        "matmul_s": round(matmul_s, 4),
    }
