"""A/B probe for the sketch-ingest Arrow boundary (the measured ~2.5s flat
python-build-stage cost that holds 8->32 scaling at ~0.57 of the hardware
ceiling — see BENCH/BASELINE.md).

Variants, interleaved best-of-K in one session (VM noise is 2-4x between
runs, so only interleaved A/B in one process is trustworthy):

  pandas      — build_state as shipped (mapInPandas over packed updates)
  pandas_big  — same, spark.sql.execution.arrow.maxRecordsPerBatch = 1M
  arrow       — mapInArrow consuming the packed (vertex, seid) int64 batches
                directly and emitting one RecordBatch per partition (no
                pandas construction on either side)
  arrow_big   — arrow + 1M records per batch

Decision rule (VERDICT r2 item 4): adopt a variant only if best-of-K beats
the shipped path by >= 20% at local[32]; record the numbers either way.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa

SCALE = int(os.environ.get("SPARK_GRAFT_KRON_SCALE", "17"))
EF = int(os.environ.get("SPARK_GRAFT_KRON_EF", "256"))
RUNS = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "4"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_state_arrow(alg, stream):
    """mapInArrow twin of SketchCC.build_state: same packed updates, same
    kernel, but RecordBatches in/out with zero pandas construction."""
    from graphzeppelin_spark.operators.sketch_cc import STATE_SCHEMA
    from graphzeppelin_spark.sketch.kernel import SketchMatrix, encode_group_rows

    geom = alg.geom
    updates = alg.packed_updates(stream).repartition(alg.num_partitions, "vertex")

    def _build(batches):
        vs, ss = [], []
        for rb in batches:
            vs.append(rb.column(0).to_numpy(zero_copy_only=False))
            ss.append(rb.column(1).to_numpy(zero_copy_only=False))
        if not vs:
            return
        verts = np.concatenate(vs)
        seid = np.concatenate(ss)
        uniq, inv = np.unique(verts, return_inverse=True)
        signs = np.where(seid >= 0, np.int64(1), np.int64(-1))
        sm = SketchMatrix(geom, len(uniq), reuse_slot="build")
        sm.update_many(inv, np.abs(seid).astype(np.uint64), signs=signs)
        dets, grps = encode_group_rows(
            sm.buckets, geom.cols_per_sample * geom.bkt_per_col, geom.num_samples
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(uniq),
                pa.array(dets, type=pa.binary()),
                pa.array(grps, type=pa.list_(pa.binary())),
            ],
            names=["vertex", "det", "grp"],
        )

    return updates.mapInArrow(_build, schema=STATE_SCHEMA)


def main() -> None:
    from graphzeppelin_spark import get_spark
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off

    spark = get_spark(cores=CPUS, shuffle_partitions=2 * CPUS)
    path = f"/tmp/gz_bench_kron_{SCALE}_{EF}.parquet"
    if not os.path.exists(path):
        from graphzeppelin_spark.sources.generators import kron_stream

        pdf = kron_stream(scale=SCALE, edge_factor=EF, seed=42)
        spark.createDataFrame(pdf).repartition(64).write.mode("overwrite").parquet(path)
    stream = spark.read.parquet(path)
    n_upd = stream.count()
    alg = SketchCC(spark, num_vertices=1 << SCALE, seed=42, samples_factor=0.5,
                   num_partitions=128)

    def timed(fn):
        t0 = time.time()
        fn().count()
        return time.time() - t0

    variants = {
        "pandas": ("65536", lambda: alg.build_state(stream)),
        "pandas_big": ("1048576", lambda: alg.build_state(stream)),
        "arrow": ("65536", lambda: build_state_arrow(alg, stream)),
        "arrow_big": ("1048576", lambda: build_state_arrow(alg, stream)),
    }
    times = {k: [] for k in variants}
    with aqe_off(spark):
        alg.build_state(stream).count()  # warm-up
        build_state_arrow(alg, stream).count()  # warm the arrow path too
        for _ in range(RUNS):
            for name, (batch_sz, fn) in variants.items():
                spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_sz)
                times[name].append(timed(fn))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")

    best = {k: min(v) for k, v in times.items()}
    out = {
        "workload": f"kron_{SCALE} build_state, edge_factor={EF}, local[{CPUS}]",
        "n_updates": n_upd,
        "runs": RUNS,
        "best_sec": {k: round(v, 3) for k, v in best.items()},
        "times": {k: [round(t, 2) for t in v] for k, v in times.items()},
        "speedup_vs_pandas": {
            k: round(best["pandas"] / v, 3) for k, v in best.items()
        },
    }
    print(json.dumps(out, indent=1))
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCH", "arrow_boundary_probe.json"), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
