"""Dump formatted physical plans for the headline operators into
BENCH/plans/*.txt — reviewable evidence of pushdown/pruning/broadcast/
partial-agg properties without running Spark (the same properties
tests/test_plans.py asserts mechanically).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH", "plans")


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    from graphzeppelin_spark import get_spark

    spark = get_spark(app_name="dump_plans", cores=8, shuffle_partitions=8)
    import __spark_entry__ as e

    plans = {}

    # contract queries whose plans carry the scale story
    for name in [
        "rel_scan_agg",      # PushedFilters + ReadSchema pruning + partial agg
        "dedup_minhash",     # JVM shingle hash, banded join, full-set verify
        "triangle_count_circulant",  # degree-oriented join plan
        "pages_edges",       # href explode + dictionary joins + salt
        "pipeline_quality_dedup",    # composed pipeline
    ]:
        plans[name] = fmt(e.queries()[name](spark, SF))

    # sketch ingest + per-round Boruvka shuffle (the engine's hot path)
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.sources.generators import multiples_graph_stream

    stream = spark.createDataFrame(multiples_graph_stream(1024))
    alg = SketchCC(spark, num_vertices=1024, seed=7)
    plans["sketch_build_state"] = fmt(alg.build_state(stream))
    state = alg.build_state(stream).localCheckpoint(eager=True)
    v = np.arange(1024, dtype=np.int64)
    labels_df = alg._labels_df(v, v)  # every vertex its own root
    plans["sketch_boruvka_round"] = fmt(alg._sampled_components(state, labels_df, 0, 1))

    for name, plan in plans.items():
        with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote BENCH/plans/{name}.txt ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
