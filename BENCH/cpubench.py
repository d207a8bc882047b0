"""Per-core COMPUTE throughput measurement — the companion to membw.py.

Round 5 found a host regime membw.py alone cannot diagnose: STREAM triad
bandwidth at 8/32 workers matched round 4 (~99 / ~211-216 GB/s) while the
bit-identical round-4 engine commit ran 57% slower end-to-end and local[2]
runs drifted 592 -> 847 s within one day.  The missing axis was per-core
COMPUTE speed (frequency boost / co-tenancy), which a bandwidth-bound
kernel is blind to below the memory wall.  This benchmark times a
cache-resident compute kernel (repeated 256x256 float64 matmul — ~1 MB
working set, fits L2, zero DRAM pressure) at 1 and N workers:

- the 1-worker score tracks per-core boost clocks (the thing that decays
  under host co-tenancy);
- the N/1 ratio is the box's COMPUTE scaling ceiling for the same pair of
  parallelism levels the job is measured at (sibling of membw's ratio);
- comparing today's 1-worker score against a prior recorded one separates
  "the engine regressed" from "every core is slower today" in 30 seconds,
  without re-running any Spark job.

Protocol mirrors membw.py: one OS process per worker, barrier start, fixed
duration, keep the MAX across repeats (a single run can absorb a transient
co-tenant; the best repeat is the steady state).

Usage: python BENCH/cpubench.py [--workers 1,2,8,32] [--seconds 3]
[--repeat 3].  Prints one JSON line per level plus pairwise scaling
efficiencies.  Scores are matmuls/sec (per-worker mean and aggregate).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import queue
import time

N = 256  # 256x256 f64 = 512 KB per operand: L2-resident, DRAM-silent


def _worker(seconds: float, barrier, out_q) -> None:
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((N, N))
    b = rng.random((N, N))
    a @ b  # warm: page-touch + BLAS thread-pool init outside the window
    barrier.wait()
    t0 = time.perf_counter()
    it = 0
    while True:
        a @ b
        it += 1
        if it % 16 == 0 and time.perf_counter() - t0 >= seconds:
            break
    out_q.put((it, time.perf_counter() - t0))


def run_level(workers: int, seconds: float) -> dict:
    barrier = mp.Barrier(workers)
    out_q: mp.Queue = mp.Queue()
    procs = [
        mp.Process(target=_worker, args=(seconds, barrier, out_q))
        for _ in range(workers)
    ]
    for p in procs:
        p.start()
    # a worker that died (OOM kill, BLAS abort) never reports: fail loudly
    # instead of blocking forever on the queue
    timeout = seconds * 3 + 30
    try:
        results = [out_q.get(timeout=timeout) for _ in procs]
    except queue.Empty:
        codes = [p.exitcode for p in procs]  # None: still running
        for p in procs:
            p.kill()
            p.join()
        raise RuntimeError(
            f"{workers}-worker level: a worker did not report within {timeout:.0f}s "
            f"(exit codes {codes})"
        ) from None
    for p in procs:
        p.join()
    total_it = sum(it for it, _ in results)
    max_el = max(el for _, el in results)
    return {
        "workers": workers,
        "matmuls_per_sec": round(total_it / max_el, 1),
        "per_worker": round(total_it / max_el / workers, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workers", default="1,2,8,32")
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()
    # one core per worker, like a task: set before any worker starts, so
    # every start method (fork, forkserver, spawn) hands it to the BLAS
    # pool at numpy import
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    levels = [int(w) for w in args.workers.split(",")]

    best: dict[int, dict] = {}
    for w in levels:
        runs = [run_level(w, args.seconds) for _ in range(args.repeat)]
        top = max(runs, key=lambda r: r["matmuls_per_sec"])
        top["all_runs"] = [r["matmuls_per_sec"] for r in runs]
        best[w] = top
        print(json.dumps(top), flush=True)
    for lo, hi in zip(levels, levels[1:]):
        eff = best[hi]["matmuls_per_sec"] / best[lo]["matmuls_per_sec"] / (hi / lo)
        print(
            json.dumps(
                {
                    "metric": f"cpu_scaling_efficiency_{lo}_to_{hi}",
                    "value": round(eff, 3),
                    f"score_{lo}": best[lo]["matmuls_per_sec"],
                    f"score_{hi}": best[hi]["matmuls_per_sec"],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
