#!/usr/bin/env python3
"""Machine-deliverable-compute control for the scaling evidence.

Runs the scorer's attention kernel (its two batched matmul
contractions, at its shapes) in N concurrent pure-python
processes (no Spark, no JVM, no shuffle) and reports iterations/proc.
If this degrades with N, the box — not the engine — caps wall-clock
scaling at those levels; BENCH.md normalizes the engine's measured
speedup by this table's aggregate ratio.

Usage: python tools/bench_kernel_control.py [levels...]   (default 2 8 16 32)
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 << 20))


def work(q: "mp.Queue", seconds: float) -> None:
    import numpy as np

    rng = np.random.RandomState(0)
    # (B, m, n, d) = (1024, 32, 64, 32): the old chunk layout's
    # attention shapes (marker_max_length=32, model_max_length=64,
    # hidden=32), not the per-sentence scorer's; kept so runs stay
    # comparable with the BENCH.md control table
    q_ = rng.randn(1024, 32, 32).astype(np.float32)
    k = rng.randn(1024, 64, 32).astype(np.float32)
    v = rng.randn(1024, 64, 32).astype(np.float32)
    t0 = time.time()
    iters = 0
    while time.time() - t0 < seconds:
        s = q_ @ k.transpose(0, 2, 1)
        e = np.exp(s - s.max(-1, keepdims=True))
        e @ v
        iters += 1
    q.put(iters)


def main() -> None:
    levels = [int(x) for x in sys.argv[1:]] or [2, 8, 16, 32]
    seconds = float(os.environ.get("KERNEL_CONTROL_SECONDS", "8"))
    out = {}
    for n in levels:
        queue: "mp.Queue" = mp.Queue()
        procs = [mp.Process(target=work, args=(queue, seconds)) for _ in range(n)]
        for p in procs:
            p.start()
        total = sum(queue.get() for _ in procs)
        for p in procs:
            p.join()
        out[str(n)] = {"total_iters": total, "per_proc": round(total / n, 1)}
    print(json.dumps({"metric": "kernel_control", "levels": out}))


if __name__ == "__main__":
    main()
