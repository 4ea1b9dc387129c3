"""Standalone (no Spark) concurrency probe for the sketch-build kernel.

Replays the exact per-task workload of the kron_17 ingest build stage
(2048-vertex partition blocks, ~250k net updates per task, samples_factor=1.0
geometry) under N concurrent OS processes, sweeping the update chunk size.
Used to find the chunk size that keeps per-worker scratch cache-resident so
aggregate throughput scales 8 -> 32 (the north_rule efficiency evidence).

Usage: python scripts/kernel_scaling_probe.py [chunk ...]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

SCALE = 17
N = 1 << SCALE
PARTS = 64                # num_partitions in scaling_bench
UPDATES_PER_TASK = 250_000
UNIQ = N // PARTS
FACTOR = float(os.environ.get("PROBE_FACTOR", "1.0"))
VARIANT = os.environ.get("PROBE_VARIANT", "cubesketch")


def one_task(seed: int, chunk: int) -> float:
    from graphzeppelin_spark.sketch.kernel import (
        SketchGeometry,
        SketchMatrix,
        encode_group_rows,
    )

    geom = SketchGeometry(
        num_vertices=N, seed=42, samples_factor=FACTOR, variant=VARIANT
    )
    rng = np.random.default_rng(seed)
    rows = np.sort(rng.integers(0, UNIQ, size=UPDATES_PER_TASK)).astype(np.int64)
    lo = rng.integers(0, N - 1, size=UPDATES_PER_TASK).astype(np.uint64)
    hi = lo + 1 + rng.integers(0, 100, size=UPDATES_PER_TASK).astype(np.uint64)
    eids = lo * np.uint64(N) + hi
    signs = rng.choice(np.array([-1, 1], dtype=np.int64), size=UPDATES_PER_TASK)
    t0 = time.time()
    sm = SketchMatrix(geom, UNIQ, reuse_slot="probe")
    sm.update_many(rows, eids, signs=signs, chunk=chunk)
    encoded = encode_group_rows(
        sm.buckets, geom.cols_per_sample * geom.bkt_per_col, geom.num_samples
    )
    dt = time.time() - t0
    del encoded
    return dt


_BARRIER = None


def _init(barrier):
    global _BARRIER
    _BARRIER = barrier


def worker(args):
    seed, chunk, n_tasks = args
    # warm scratch once (mirrors long-lived Spark python workers), then
    # rendezvous so spawn/import/warmup never pollutes the timed window
    one_task(seed, chunk)
    _BARRIER.wait()
    t0 = time.time()
    for i in range(n_tasks):
        one_task(seed + i + 1, chunk)
    return time.time() - t0


def run(procs: int, chunk: int, tasks_per_proc: int = 2) -> float:
    barrier = mp.Barrier(procs)
    with mp.Pool(procs, initializer=_init, initargs=(barrier,)) as pool:
        durs = pool.map(
            worker, [(1000 * p, chunk, tasks_per_proc) for p in range(procs)]
        )
    total_updates = procs * tasks_per_proc * UPDATES_PER_TASK
    return total_updates / max(durs)


def main() -> None:
    chunks = [int(c) for c in sys.argv[1:]] or [1024, 4096, 16384, 32768]
    print(f"geometry: kron_{SCALE} factor={FACTOR} variant={VARIANT}, "
          f"{UNIQ} verts x {UPDATES_PER_TASK} upd per task")
    for chunk in chunks:
        thr8 = run(8, chunk)
        thr32 = run(32, chunk)
        eff = thr32 / (4 * thr8)
        print(f"chunk={chunk:6d}  8p: {thr8/1e6:6.2f} M/s  "
              f"32p: {thr32/1e6:6.2f} M/s  eff(8->32)={eff:.3f}", flush=True)


if __name__ == "__main__":
    mp.set_start_method("spawn", force=True)
    main()
