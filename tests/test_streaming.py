"""Streaming driver: breakpoints, query-during-stream, eager cache invalidation,
checkpoint/resume (mirrors reference test/cc_alg_test.cpp streaming suites)."""

from __future__ import annotations

import numpy as np
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.sources.generators import (
    dynamic_erdos_stream,
    multiples_graph_stream,
)
from graphzeppelin_spark.streaming.driver import GraphStreamDriver
from tests.conftest import stream_df


def test_query_during_stream_every_25pct(spark):
    """Reference cc_alg_test.cpp:178-221: query at breakpoints, resume streaming."""
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=2, seed=13)
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=3, eager=False)
    for frac in (0.25, 0.5, 0.75, 1.0):
        upto = int(len(s) * frac)
        drv.process_stream_until(upto)
        expected = oracle.connected_components(oracle.live_edges(s, n, upto), n)
        got = drv.connected_components()
        np.testing.assert_array_equal(got, expected)


def test_query_overlaps_ingest(spark):
    """Reference pause/flush analog (worker_thread_group.h:136-161): a query
    launched against a snapshot keeps running while the next micro-batch
    folds; it answers as-of ITS watermark, the post-batch query as-of the
    stream head — and the ingest's unpersist of the superseded state must not
    break the in-flight query (the snapshot pins it)."""
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=2, seed=21)
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=7, eager=False)
    half, full = len(s) // 2, len(s)
    drv.process_stream_until(half)
    fut = drv.connected_components_async()  # Boruvka on the half-stream state
    drv.process_stream_until(full)  # ingest continues concurrently
    got_half = fut.result(timeout=300)
    exp_half = oracle.connected_components(oracle.live_edges(s, n, half), n)
    np.testing.assert_array_equal(got_half, exp_half)
    exp_full = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv.connected_components(), exp_full)
    assert not drv._pinned  # snapshot released its pin after the query


def test_snapshot_pins_superseded_state(spark):
    """An open snapshot must keep answering from its own watermark even after
    several further batches supersede (and would otherwise unpersist) its
    state DataFrame."""
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=2, seed=22)
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=9, eager=False)
    third = len(s) // 3
    drv.process_stream_until(third)
    with drv.snapshot() as snap:
        drv.process_stream_until(2 * third, batch_size=max(third // 2, 1))
        drv.process_stream_until(len(s))
        exp_third = oracle.connected_components(oracle.live_edges(s, n, third), n)
        np.testing.assert_array_equal(snap.connected_components(), exp_third)
        assert snap.seq_watermark == third
    assert not drv._pinned


def test_eager_cache_insert_only(spark):
    """Insert-only stream: every query served from the eager DSU (no Boruvka)."""
    n = 256
    s = multiples_graph_stream(n)
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=5, eager=True)
    drv.process_stream_until(len(s))
    assert drv._dsu_valid
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv.connected_components(), expected)


def test_eager_batch_over_limit_invalidates_without_collect(spark, monkeypatch):
    """A batch whose non-loop updates would not fit the driver byte budget
    invalidates the cache on the row count the ingest job observes: it
    starts no collect job, so it runs as many jobs as an eager=False
    driver. The budget is shrunk to 10 collected rows (32 bytes each)."""
    import graphzeppelin_spark.streaming.driver as driver_mod

    monkeypatch.setattr(driver_mod, "DRIVER_BYTES", 10 * 32)
    n = 256
    s = multiples_graph_stream(n)
    sc = spark.sparkContext
    jobs, drivers = {}, {}
    try:
        for eager in (True, False):
            group = f"eager-over-limit-{eager}-{id(s)}"
            sc.setJobGroup(group, "eager over-limit test")
            drv = GraphStreamDriver(
                spark, stream_df(spark, s), n, seed=5, eager=eager
            )
            drv.process_stream_until(len(s))
            jobs[eager] = len(sc.statusTracker().getJobIdsForGroup(group))
            drivers[eager] = drv
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not drivers[True]._dsu_valid
    assert drivers[True].metrics[-1]["rows"] == len(s)  # no self-loops
    assert jobs[True] == jobs[False] > 0
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drivers[True].connected_components(), expected)


def test_checkpointed_batch_runs_one_job(spark, tmp_path):
    """With a checkpoint store and no eager cache a batch runs one Spark
    job, the commit, which also runs the fold: the state is read back with
    the committed schema, so no schema-inference job runs, and the schema
    it plans with equals the one Spark infers from the committed files."""
    import os

    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=2, seed=31)
    ckpt = str(tmp_path / "ckpt")
    drv = GraphStreamDriver(
        spark, stream_df(spark, s), n, seed=3, checkpoint_dir=ckpt, eager=False
    )
    sc = spark.sparkContext
    jobs = []
    try:
        for b, upto in enumerate((len(s) // 2, len(s))):
            group = f"one-job-batch-{b}-{id(s)}"
            sc.setJobGroup(group, "checkpointed batch test")
            drv.process_stream_until(upto)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [1, 1]
    snap = os.path.join(ckpt, f"snap-{drv.store.latest_id():08d}", "state")
    assert drv.state.schema == spark.read.parquet(snap).schema
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv.connected_components(), expected)


def test_state_cached_on_first_query(spark, tmp_path):
    """Ingest leaves the state uncached; a Boruvka query caches the state
    it runs on, and the next batch folds onto that cached state exactly."""
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=2, seed=32)
    drv = GraphStreamDriver(
        spark, stream_df(spark, s), n, seed=5,
        checkpoint_dir=str(tmp_path / "ckpt"), eager=False,
    )
    half = len(s) // 2
    drv.process_stream_until(half)
    assert not drv.state.is_cached
    expected = oracle.connected_components(oracle.live_edges(s, n, half), n)
    np.testing.assert_array_equal(drv.connected_components(), expected)
    assert drv.state.is_cached
    drv.process_stream_until(len(s))
    assert not drv.state.is_cached
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv.connected_components(), expected)


def test_failed_fold_drops_eager_rows(spark):
    """The eager cache's rows are collected beside the fold and applied
    only after it commits: a batch whose fold raises (an edge inserted
    twice, the sketch stage's non-alternating error) leaves the watermark,
    the cache's validity, its labels and its forest as they were, and a
    following good batch is exact."""
    import pandas as pd

    n = 64
    # path 0-1-...-9; then a batch that inserts (20, 21) and (22, 23) but
    # inserts (30, 31) twice; its good replacement inserts (30, 31) once
    path = [(i, i + 1) for i in range(9)]
    bad = [(20, 21), (22, 23), (30, 31), (30, 31)]
    good = [(20, 21), (22, 23), (30, 31), (0, 30)]

    def stream(edges):
        e = np.array(edges, dtype=np.int64)
        return pd.DataFrame({"seq": np.arange(len(e), dtype=np.int64), "type": 0,
                             "src": e[:, 0], "dst": e[:, 1]}).astype({"type": "int32"})

    drv = GraphStreamDriver(spark, stream_df(spark, stream(path + bad)), n, seed=7)
    drv.process_stream_until(len(path))
    assert drv._dsu_valid
    labels, forest = drv._dsu.labels().copy(), drv._forest.copy()
    with pytest.raises(Exception, match="non-alternating"):
        drv.process_stream_until(len(path) + len(bad))
    assert drv.applied_seq == len(path)
    assert drv._dsu_valid
    np.testing.assert_array_equal(drv._dsu.labels(), labels)
    np.testing.assert_array_equal(drv._forest, forest)

    s = stream(path + good)
    drv.stream = stream_df(spark, s)
    drv.process_stream_until(len(s))
    assert drv._dsu_valid
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv.connected_components(), expected)


def test_eager_cache_invalidated_by_forest_delete(spark):
    """Reference cc_alg_test.cpp:223-263: deleting a spanning-forest edge must
    invalidate the cache; the next query recomputes correctly via sketches."""
    import pandas as pd

    n = 64
    # path 0-1-2-...-9, then delete edge (4,5) -> splits into two chains
    src = np.arange(9, dtype=np.int64)
    dst = src + 1
    ins = pd.DataFrame(
        {"seq": np.arange(9), "type": 0, "src": src, "dst": dst}
    )
    dele = pd.DataFrame({"seq": [9], "type": [1], "src": [4], "dst": [5]})
    s = pd.concat([ins, dele], ignore_index=True)
    s["seq"] = s["seq"].astype("int64")
    s["type"] = s["type"].astype("int32")
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=7, eager=True)
    drv.process_stream_until(9)
    assert drv._dsu_valid
    assert drv.point_query(0, 9) is True
    drv.process_stream_until(10)
    assert not drv._dsu_valid  # forest-edge delete invalidated the cache
    assert drv.point_query(0, 9) is False  # recomputed via Boruvka
    assert drv.point_query(0, 4) is True
    assert drv.point_query(5, 9) is True


def test_checkpoint_resume_equality(spark, tmp_path):
    """Reference cc_alg_test.cpp:97-125: reheated state answers identically."""
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=2, seed=17)
    ckpt = str(tmp_path / "ckpt")
    half = len(s) // 2
    drv = GraphStreamDriver(
        spark, stream_df(spark, s), n, seed=11, checkpoint_dir=ckpt, eager=False
    )
    drv.process_stream_until(half)

    # resume in a "new job" and finish the stream
    drv2 = GraphStreamDriver.resume(spark, stream_df(spark, s), ckpt, eager=False)
    assert drv2.applied_seq == half
    drv2.process_stream_until(len(s))
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv2.connected_components(), expected)

    # snapshot metadata carries per-partition lineage
    _, meta = drv2.store.read()
    assert meta["seq_watermark"] == len(s)
    assert meta["total_rows"] > 0 and len(meta["partitions"]) >= 1


def test_samples_factor_survives_checkpoint_resume(spark, tmp_path):
    """SketchConfig.samples_factor sets the sample budget: the driver must
    hand it to its sketch, record it in checkpoint metadata and restore it
    on resume — 1.0 for a checkpoint written without the key."""
    import glob
    import json
    import os

    from graphzeppelin_spark.config import SketchConfig

    n = 64
    s = multiples_graph_stream(n)
    ckpt = str(tmp_path / "ckpt")
    drv = GraphStreamDriver(
        spark, stream_df(spark, s), n, checkpoint_dir=ckpt, eager=False,
        sketch_config=SketchConfig(seed=5, samples_factor=0.7),
    )
    assert drv.alg.geom.samples_factor == 0.7
    drv.process_stream_until(len(s) // 2)
    assert drv.store.read()[1]["samples_factor"] == 0.7

    drv2 = GraphStreamDriver.resume(spark, stream_df(spark, s), ckpt, eager=False)
    assert drv2.alg.geom.samples_factor == 0.7
    assert drv2.alg.geom.num_samples == drv.alg.geom.num_samples
    drv2.process_stream_until(len(s))
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv2.connected_components(), expected)

    for path in glob.glob(os.path.join(ckpt, "**", "metadata.json"), recursive=True):
        with open(path) as f:
            meta = json.load(f)
        meta.pop("samples_factor")
        with open(path, "w") as f:
            json.dump(meta, f)
    drv3 = GraphStreamDriver.resume(spark, stream_df(spark, s), ckpt, eager=False)
    assert drv3.alg.geom.samples_factor == 1.0


def test_micro_batched_ingest_matches_oneshot(spark):
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.03, rounds=3, seed=19)
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=13, eager=False)
    drv.process_stream_until(len(s), batch_size=max(1, len(s) // 7))
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv.connected_components(), expected)


def test_unified_config_surface(spark):
    """CCAlgConfiguration analog: the sketch dataclass config must drive the
    same knobs as the keyword arguments."""
    from graphzeppelin_spark.config import SketchConfig
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver
    from graphzeppelin_spark.sources.generators import multiples_graph_stream
    from tests.conftest import stream_df

    sc = SketchConfig(seed=11, variant="cubesketch", samples_factor=0.7)
    alg = SketchCC(spark, num_vertices=64, config=sc)
    assert alg.geom.seed == 11
    assert alg.geom.variant == "cubesketch"
    assert alg.geom.samples_factor == 0.7

    s = multiples_graph_stream(64)
    drv = GraphStreamDriver(
        spark, stream_df(spark, s), num_vertices=64,
        sketch_config=SketchConfig(seed=11), eager=False,
    )
    assert drv.seed == 11 and drv.eager is False


def test_aqe_off_is_reentrant_across_threads(spark):
    """Interleaved aqe_off holds from two threads must restore the original
    setting on the LAST exit — the naive save/restore left AQE disabled for
    the rest of the session."""
    import threading

    from graphzeppelin_spark.session import aqe_off

    orig = spark.conf.get("spark.sql.adaptive.enabled")
    inner_entered = threading.Event()
    outer_may_exit = threading.Event()

    def holder():
        with aqe_off(spark):
            inner_entered.set()
            outer_may_exit.wait(timeout=30)

    t = threading.Thread(target=holder)
    cm = aqe_off(spark)
    cm.__enter__()
    t.start()
    inner_entered.wait(timeout=30)
    cm.__exit__(None, None, None)  # T1 exits while T2 still holds
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"  # T2 active
    outer_may_exit.set()
    t.join(timeout=30)
    assert spark.conf.get("spark.sql.adaptive.enabled") == orig
