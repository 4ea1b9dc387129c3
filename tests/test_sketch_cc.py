"""Distributed sketch-CC vs the exact oracle — the engine's flagship parity suite
(mirrors reference test/cc_alg_test.cpp at pytest scale)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.operators.sketch_cc import MAX_VERTICES, SketchCC
from graphzeppelin_spark.sketch.kernel import decode_group_rows
from graphzeppelin_spark.sources.generators import (
    _stream_pdf,
    dynamic_erdos_stream,
    kron_stream,
    multiples_graph_stream,
    path_graph_stream,
)
from tests.conftest import stream_df


def _check(spark, stream_pdf, n, **kwargs):
    alg = SketchCC(spark, num_vertices=n, seed=7, **kwargs)
    state = alg.build_state(stream_df(spark, stream_pdf))
    labels, forest = alg.boruvka(state)
    edges_np = oracle.live_edges(stream_pdf, n)
    expected = oracle.connected_components(edges_np, n)
    np.testing.assert_array_equal(labels, expected)
    assert oracle.spanning_forest_is_valid(forest, edges_np, n)
    return alg, state, labels


def test_sketch_cc_multiples_golden(spark):
    _check(spark, multiples_graph_stream(256), 256)


def test_sketch_cc_erdos_with_deletes(spark):
    s = dynamic_erdos_stream(num_vertices=128, density=0.02, rounds=3, seed=5)
    assert (s["type"] == 1).sum() > 0
    _check(spark, s, 128)


def test_sketch_cc_path_graph(spark):
    # adversarial diameter: needs many Boruvka rounds, exercises sample budget
    _check(spark, path_graph_stream(128, seed=2), 128)


def test_sketch_cc_kron_skew(spark):
    _check(spark, kron_stream(scale=7, edge_factor=4, seed=3), 128)


def test_sketch_cc_cameo_variant(spark):
    _check(spark, multiples_graph_stream(128), 128, variant="cameo")


def test_sketch_cc_point_query(spark):
    s = multiples_graph_stream(128)
    alg, state, labels = _check(spark, s, 128)
    # 4 and 8 share the even component; 0 is isolated
    assert alg.point_query(labels, 4, 8) is True
    assert alg.point_query(labels, 0, 4) is False


def test_sketch_cc_incremental_merge(spark):
    """Split the stream in two, build states separately, merge — must equal the
    one-shot build (linearity; basis for micro-batch streaming)."""
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.03, rounds=2, seed=11)
    half = len(s) // 2
    alg = SketchCC(spark, num_vertices=n, seed=9)
    st1 = alg.build_state(stream_df(spark, s.iloc[:half]))
    st2 = alg.build_state(stream_df(spark, s.iloc[half:].reset_index(drop=True)))
    merged = alg.merge_states(st1, st2)
    labels, _ = alg.boruvka(merged)
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(labels, expected)


def test_sketch_cc_distributed_labels(spark):
    """The DataFrame-resident-labels path (no Θ(n) driver structures) must
    produce the same labeling as the driver-DSU fast path / exact oracle."""
    n = 256
    s = multiples_graph_stream(n)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    out = alg.connected_components_distributed(state).toPandas()
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    got = dict(zip(out["vertex"], out["component"]))
    for v, c in got.items():
        assert expected[v] == c
    # vertices absent from state are isolated singletons by contract
    present = set(got)
    for v in range(n):
        if v not in present:
            assert expected[v] == v


def test_sketch_cc_distributed_labels_with_deletes(spark):
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=3, seed=5)
    alg = SketchCC(spark, num_vertices=n, seed=3)
    state = alg.build_state(stream_df(spark, s))
    out = alg.connected_components_distributed(state).toPandas()
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    for v, c in zip(out["vertex"], out["component"]):
        assert expected[v] == c


def test_boruvka_moves_on_after_a_fail_only_group(spark, monkeypatch):
    """A sample group that merges nothing because its samples FAILed must
    not end the query: the next group carries on, as in the reference,
    which counts a FAIL as a modification. The driver-side patch FAILs
    every non-ZERO sample of the first driver-finish group; round 0 samples
    in the Python workers, which the patch does not reach."""
    from graphzeppelin_spark.sketch import kernel

    n = 128
    s = path_graph_stream(n, seed=2)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s)).persist()
    state.count()
    real = kernel.SketchMatrix.sample_many
    calls = []
    forced = []

    def first_call_fails(self, sample_idx):
        status, eid = real(self, sample_idx)
        if not calls:
            status = np.where(status == kernel.ZERO, kernel.ZERO, kernel.FAIL)
            status = status.astype(np.int8)
            eid[:] = 0
            forced.append(int((status == kernel.FAIL).sum()))
        calls.append(sample_idx)
        return status, eid

    monkeypatch.setattr(kernel.SketchMatrix, "sample_many", first_call_fails)
    labels, forest = alg.boruvka(state)
    monkeypatch.undo()
    state.unpersist()
    assert len(calls) > 1  # the finish ran past the FAILed group
    finish = alg.last_boruvka_stats["rounds"][-1]
    assert finish["kind"] == "driver_finish"
    for key in ("giant_rows", "collected_rows", "est_bytes", "collected_bytes"):
        assert key in finish  # the finish's gate decision is recorded
    assert finish["fail_samples"] >= forced[0] > 0  # the forced FAILs are recorded
    edges_np = oracle.live_edges(s, n)
    np.testing.assert_array_equal(labels, oracle.connected_components(edges_np, n))
    assert oracle.spanning_forest_is_valid(forest, edges_np, n)


def test_zero_driver_budget_disables_the_finish(spark):
    """fits_driver admits nothing under a zero budget, so boruvka runs every
    round in Spark — with the same labels."""
    from graphzeppelin_spark.config import fits_driver

    assert fits_driver(16, 16) and not fits_driver(17, 16) and not fits_driver(0, 0)
    n = 128
    s = multiples_graph_stream(n)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    labels, _ = alg.boruvka(alg.build_state(stream_df(spark, s)), driver_finish_bytes=0)
    assert {r["kind"] for r in alg.last_boruvka_stats["rounds"]} == {"distributed"}
    np.testing.assert_array_equal(
        labels, oracle.connected_components(oracle.live_edges(s, n), n)
    )


def test_vertex_id_limit_fails_loudly(spark):
    """Edge ids lo*n + hi must fit int64, i.e. n*n - 1 <= 2^63 - 1, which
    holds up to n = 3,037,000,499: beyond it construction must raise rather
    than let ids wrap."""
    SketchCC(spark, num_vertices=3_037_000_499)
    with pytest.raises(ValueError, match="overflow int64"):
        SketchCC(spark, num_vertices=3_037_000_500)


# --------------------------------------------------- the zero-sum invariant
# Every update adds +eid at its lo endpoint and -eid at its hi endpoint, so
# all vertex sketches of a state sum to zero, mod 2^64, in every bucket —
# the premise of boruvka()'s complement finish, which never reads the
# largest component's rows.


def _state_sum(alg, state) -> np.ndarray:
    """Sum of every row of `state`, decoded at full width (uint64 wraps)."""
    g = alg.geom
    rows = state.toArrow()
    assert rows.num_rows
    arr = decode_group_rows(
        rows.column("det").combine_chunks(), rows.column("grp").combine_chunks(),
        g.num_samples, g.cols_per_sample * g.bkt_per_col, g.num_buckets,
    )
    return arr.sum(axis=0)


VARIANTS = pytest.mark.parametrize("variant", ["cameo", "cubesketch"])


@VARIANTS
def test_built_state_sums_to_zero(spark, variant):
    s = dynamic_erdos_stream(num_vertices=128, density=0.05, rounds=3, seed=21)
    assert (s["type"] == 1).sum() > 0
    alg = SketchCC(spark, num_vertices=128, seed=7, variant=variant)
    assert not _state_sum(alg, alg.build_state(stream_df(spark, s))).any()


@VARIANTS
def test_merged_delta_states_sum_to_zero(spark, variant):
    """Two delta builds where the second deletes edges the first inserted:
    each delta and their merge sum to zero."""
    rng = np.random.default_rng(5)
    n = 96
    a = rng.integers(0, n, size=(300, 2))
    a = np.unique(np.sort(a[a[:, 0] != a[:, 1]], axis=1), axis=0)
    b = rng.integers(0, n, size=(100, 2))
    b = np.unique(np.sort(b[b[:, 0] != b[:, 1]], axis=1), axis=0)
    b = b[~(b[:, None, :] == a[None, :, :]).all(-1).any(1)]  # fresh inserts only
    dels = a[::3]
    first = _stream_pdf(np.zeros(len(a)), a[:, 0], a[:, 1])
    both = np.concatenate([dels, b])
    types = np.concatenate([np.ones(len(dels)), np.zeros(len(b))])
    second = _stream_pdf(types, both[:, 0], both[:, 1])
    alg = SketchCC(spark, num_vertices=n, seed=7, variant=variant)
    d1 = alg.build_state(stream_df(spark, first))
    d2 = alg.build_state(stream_df(spark, second))
    folded = alg.build_state(stream_df(spark, second), base=d1)
    for st in (d1, d2, alg.merge_states(d1, d2), folded):
        assert not _state_sum(alg, st).any()


# far=True runs on the largest universe SketchCC accepts, with vertex ids at
# its top, so the ingest keys eid*2 + is_hi pass 2^63 (the uint64 key range)
FOLD_PATHS = pytest.mark.parametrize("far", [False, True])


def _shifted(pdf: pd.DataFrame, off: int) -> pd.DataFrame:
    out = pdf.copy()
    out["src"] += off
    out["dst"] += off
    return out


def _assert_exact_labels(alg, state, stream_pdf: pd.DataFrame, n_local: int, off: int):
    """Labels of `state` equal the oracle's on the stream, whose ids are
    [off, off + n_local). At off 0 through boruvka(); above, through the
    DataFrame-resident path, which keeps no array of num_vertices."""
    local = _shifted(stream_pdf, -off)
    local["seq"] = np.arange(len(local))
    expected = oracle.connected_components(oracle.live_edges(local, n_local), n_local)
    if off == 0:
        np.testing.assert_array_equal(alg.boruvka(state)[0], expected)
        return
    out = alg.connected_components_distributed(state).toPandas()
    got = np.arange(n_local) + off  # vertices absent from state are singletons
    got[out["vertex"].to_numpy() - off] = out["component"].to_numpy()
    np.testing.assert_array_equal(got - off, expected)


def _fold_streams(n: int):
    """A base stream of inserts on [0, n - 16) and a batch that deletes a
    third of them, inserts edges on vertices absent from the base, and
    deletes vertex 0's only edge, so its folded sketch is all-zero."""
    rng = np.random.default_rng(11)
    a = rng.integers(1, n - 16, size=(200, 2))
    a = np.unique(np.sort(a[a[:, 0] != a[:, 1]], axis=1), axis=0)
    a = np.concatenate([[[0, 1]], a])
    fresh = np.stack([np.arange(n - 16, n - 1), np.arange(n - 15, n)], axis=1)
    dels = np.concatenate([[[0, 1]], a[1::3]])
    batch = np.concatenate([dels, fresh])
    types = np.concatenate([np.ones(len(dels)), np.zeros(len(fresh))])
    return (
        _stream_pdf(np.zeros(len(a)), a[:, 0], a[:, 1]),
        _stream_pdf(types, batch[:, 0], batch[:, 1]),
    )


# _state_checksum of build_state(first) and of the fold of second into it
# (_fold_streams(96), seed 7), as the ingest that netted updates in the JVM
# before the python stage produced them: a rewrite of the ingest must give
# the same bytes, not only agree with itself
GOLDEN_CHECKSUMS = {
    "cameo": ((-376776583116307544, 80), (5638389609316584627, 96)),
    "cubesketch": ((2940622044037624068, 80), (-603352367956210327, 96)),
}


@VARIANTS
def test_state_checksum_golden(spark, variant):
    from tests.test_round8_fixes import _state_checksum

    first, second = _fold_streams(96)
    alg = SketchCC(spark, num_vertices=96, seed=7, variant=variant)
    base = alg.build_state(stream_df(spark, first)).localCheckpoint(eager=True)
    folded = alg.build_state(stream_df(spark, second), base=base)
    assert (_state_checksum(base), _state_checksum(folded)) == GOLDEN_CHECKSUMS[variant]


@VARIANTS
@FOLD_PATHS
def test_fold_matches_merge_of_delta_build(spark, variant, far):
    """build_state(batch, base=state) is byte-identical to merging a delta
    build of the batch into the state, on a small universe and near
    MAX_VERTICES, and its labels are exact."""
    from tests.test_round8_fixes import _state_checksum

    n = MAX_VERTICES if far else 96
    off = n - 96
    first, second = (_shifted(p, off) for p in _fold_streams(96))
    alg = SketchCC(spark, num_vertices=n, seed=7, variant=variant)
    base = alg.build_state(stream_df(spark, first)).localCheckpoint(eager=True)
    batch = stream_df(spark, second)
    folded = alg.build_state(batch, base=base).localCheckpoint(eager=True)
    merged = alg.merge_states(base, alg.build_state(batch))
    assert _state_checksum(folded) == _state_checksum(merged)
    zero = folded.where(f"vertex = {off}").collect()
    assert len(zero) == 1 and zero[0]["det"] == bytes(16)
    assert not any(zero[0]["grp"])
    assert folded.where(f"vertex = {n - 1}").count() == 1  # absent from the base
    _assert_exact_labels(alg, folded, pd.concat([first, second], ignore_index=True), 96, off)


@FOLD_PATHS
def test_fold_raises_on_double_insert(spark, far):
    """The stream-contract guard still fires on a batch folded into a
    state: two inserts of one edge inside the batch."""
    n = MAX_VERTICES if far else 16
    off = n - 16
    alg = SketchCC(spark, num_vertices=n, seed=5)
    base = alg.build_state(
        stream_df(spark, _shifted(_stream_pdf(np.zeros(1), np.array([3]), np.array([4])), off))
    )
    bad = _shifted(_stream_pdf(np.zeros(2), np.array([1, 2]), np.array([2, 1])), off)
    with pytest.raises(Exception, match="malformed stream"):
        alg.build_state(stream_df(spark, bad), base=base).count()


@pytest.mark.parametrize("src,dst,bad", [(1, 20, "20"), (-1, 3, "-1")])
def test_out_of_range_vertex_raises(spark, src, dst, bad):
    """An endpoint outside [0, n) is rejected by a build, by a fold and by
    packed_updates, naming the id, rather than keyed as another edge: at
    n = 16 the edge (1, 20) has eid 36, which decodes as (2, 4)."""
    alg = SketchCC(spark, num_vertices=16, seed=5)
    base = alg.build_state(
        stream_df(spark, _stream_pdf(np.zeros(1), np.array([3]), np.array([4])))
    ).localCheckpoint(eager=True)
    batch = stream_df(spark, _stream_pdf(np.zeros(2), np.array([5, src]), np.array([6, dst])))
    match = rf"vertex id {bad} outside \[0, 16\)"
    with pytest.raises(Exception, match=match):
        alg.build_state(batch).count()
    with pytest.raises(Exception, match=match):
        alg.build_state(batch, base=base).count()
    with pytest.raises(Exception, match=match):
        alg.packed_updates(batch).collect()


def test_guard_nets_across_arrow_batches(spark):
    """Updates of one edge in different Arrow batches of one map task land
    in different gutters; the sketch stage nets them all the same: an
    insert and its delete cancel out of the state, and two inserts raise."""
    from tests.test_round8_fixes import _state_checksum

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    src, dst = [1, 2, 4, 5, 6, 8], [2, 3, 5, 6, 7, 9]
    alg = SketchCC(spark, num_vertices=16, seed=5)

    def stream(types, lo, hi):
        pdf = _stream_pdf(np.asarray(types), np.asarray(lo), np.asarray(hi))
        return stream_df(spark, pdf).coalesce(1)  # one map task

    spark.conf.set(conf, "2")
    try:
        plain = alg.build_state(stream(np.zeros(6), src, dst))
        # (10, 11) goes in first and out last, three batches apart
        toggle = stream([0] * 7 + [1], [10, *src, 10], [11, *dst, 11])
        assert alg._gutters(toggle).count() == 4 * alg.num_partitions
        toggled = alg.build_state(toggle)
        assert _state_checksum(toggled) == _state_checksum(plain)
        assert toggled.where("vertex in (10, 11)").count() == 0
        with pytest.raises(Exception, match="malformed stream"):
            alg.build_state(stream(np.zeros(8), [10, *src, 11], [11, *dst, 10])).count()
    finally:
        spark.conf.set(conf, prev)


def test_gutter_routing_matches_spark(spark):
    """The numpy and Catalyst forms of _vertex_partition agree on ids up to
    MAX_VERTICES, and Spark's hashpartitioning sends each int route key to
    its own partition, so each sketch-stage task holds one vertex
    partition; state rows and gutters both carry int route keys."""
    from pyspark.sql import functions as F

    from graphzeppelin_spark.operators.sketch_cc import _route_keys, _vertex_partition

    v = np.concatenate([np.arange(1000), MAX_VERTICES - 1 - np.arange(1000)])
    df = spark.createDataFrame(pd.DataFrame({"v": v}))
    got = df.select(_vertex_partition(F.col("v"), 8).alias("p")).toPandas()["p"]
    np.testing.assert_array_equal(got.to_numpy(), _vertex_partition(v, 8))
    for parts in (3, 8):
        routes = _route_keys(parts)
        placed = (
            spark.createDataFrame(pd.DataFrame({"route": routes}))
            .repartition(parts, "route")
            .select("route", F.spark_partition_id().alias("p"))
            .toPandas()
        )
        assert dict(zip(placed["route"], placed["p"])) == {r: p for p, r in enumerate(routes)}
    alg = SketchCC(spark, num_vertices=16, seed=5)
    stream = stream_df(spark, _stream_pdf(np.zeros(1), np.array([3]), np.array([4])))
    rows = alg._state_rows(alg.build_state(stream)).unionAll(alg._gutters(stream))
    assert dict(rows.dtypes)["route"] == "int"


def _er_block(rng, lo: int, size: int, p: float) -> np.ndarray:
    """Erdős–Rényi G(size, p) edges on vertices [lo, lo + size)."""
    iu = np.triu_indices(size, 1)
    keep = rng.random(len(iu[0])) < p
    return np.stack([iu[0][keep], iu[1][keep]], axis=1) + lo


def _bridged(rng, giant: int, p_giant: float, blobs: list, p_blob: float) -> np.ndarray:
    """An ER giant on [0, giant) plus ER blobs of the given sizes after it,
    each joined to the giant by ONE bridge edge — round 0 rarely samples a
    bridge, so the blobs are still separate active pieces at the finish."""
    parts, lo = [_er_block(rng, 0, giant, p_giant)], giant
    for size in blobs:
        parts.append(_er_block(rng, lo, size, p_blob))
        parts.append(np.array([[int(rng.integers(giant)), lo]]))
        lo += size
    return np.concatenate(parts)


def _check_finish(spark, monkeypatch, edges: np.ndarray, n: int, **boruvka_kwargs) -> dict:
    """Run boruvka with every sample but the largest active component's
    FAILed after round 0, so every merge of the finish comes from the
    largest component's sum — the complement — and labels are exact only
    if that sum is. Checks labels and forest against the oracle."""
    from graphzeppelin_spark.operators import sketch_cc
    from graphzeppelin_spark.sketch import kernel

    real = sketch_cc._boruvka_step
    giant_goods = []

    def giant_only(dsu, forest, n, roots, status, eid):
        if giant_goods:  # not round 0
            giant = np.argmax(np.bincount(dsu.labels()))  # largest component's root
            forced = (status != kernel.ZERO) & (roots != giant)
            status = np.where(forced, kernel.FAIL, status).astype(status.dtype)
            eid = np.where(forced, 0, eid).astype(eid.dtype)
            giant_goods[0] += int((status == kernel.GOOD).sum())
        else:
            giant_goods.append(0)
        return real(dsu, forest, n, roots, status, eid)

    s = _stream_pdf(np.zeros(len(edges)), edges[:, 0], edges[:, 1])
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    monkeypatch.setattr(sketch_cc, "_boruvka_step", giant_only)
    labels, forest = alg.boruvka(state, **boruvka_kwargs)
    monkeypatch.undo()
    edges_np = oracle.live_edges(s, n)
    np.testing.assert_array_equal(labels, oracle.connected_components(edges_np, n))
    assert oracle.spanning_forest_is_valid(forest, edges_np, n)
    finish = alg.last_boruvka_stats["rounds"][-1]
    assert finish["kind"] == "driver_finish"
    assert finish["giant_rows"] > 0  # the largest component's rows were skipped
    assert giant_goods[0] > 0  # ... and its complement sum merged something
    return finish


def test_complement_finish_giant_with_pendant_pairs(spark, monkeypatch):
    """An ER giant with bridged blobs, plus pendant pairs (components of
    two, still active entering the finish): the finish collects only the
    non-giant rows and the giant's complement sum merges the blobs."""
    rng = np.random.default_rng(31)
    edges = _bridged(rng, 200, 0.08, [25] * 4, 0.4)
    pairs = np.stack([np.arange(300, 320, 2), np.arange(301, 321, 2)], axis=1)
    finish = _check_finish(spark, monkeypatch, np.concatenate([edges, pairs]), 330)
    assert finish["collected_rows"] < finish["giant_rows"]


def test_finish_gate_counts_the_non_giant_member_rows(spark):
    """boruvka()'s gate counts the member rows the finish collects — every
    active component's but the largest's. After round 0, two 150-vertex
    blobs, each hanging off a 650-vertex giant by one bridge, are still
    apart: a budget of exactly their 300 rows starts the finish, one row
    less runs round 1 in Spark. Labels stay exact either way."""
    from graphzeppelin_spark.operators.sketch_cc import FINISH_BATCH_GROUPS, ROUND0_GROUPS

    rng = np.random.default_rng(17)
    edges = _bridged(rng, 500, 0.03, [150] * 3, 0.08)
    n = 960
    s = _stream_pdf(np.zeros(len(edges)), edges[:, 0], edges[:, 1])
    edges_np = oracle.live_edges(s, n)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s)).persist()
    row = alg._slice_bytes(min(alg.geom.num_samples - ROUND0_GROUPS, FINISH_BATCH_GROUPS))
    rounds = {}
    for rows in (300, 299):
        labels, forest = alg.boruvka(state, driver_finish_bytes=rows * row)
        np.testing.assert_array_equal(labels, oracle.connected_components(edges_np, n))
        assert oracle.spanning_forest_is_valid(forest, edges_np, n)
        rounds[rows] = alg.last_boruvka_stats["rounds"]
        assert rounds[rows][0]["active"] == 3
    finish = rounds[300][1]
    assert finish["kind"] == "driver_finish"
    assert (finish["giant_rows"], finish["collected_rows"]) == (650, 300)
    assert finish["est_bytes"] == 300 * row
    assert rounds[299][1]["kind"] == "distributed"  # merged the blobs in Spark
    state.unpersist()
