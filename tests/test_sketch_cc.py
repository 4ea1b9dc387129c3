"""Distributed sketch-CC vs the exact oracle — the engine's flagship parity suite
(mirrors reference test/cc_alg_test.cpp at pytest scale)."""

from __future__ import annotations

import numpy as np
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.sources.generators import (
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
    assert finish["fail_samples"] >= forced[0] > 0  # the forced FAILs are recorded
    edges_np = oracle.live_edges(s, n)
    np.testing.assert_array_equal(labels, oracle.connected_components(edges_np, n))
    assert oracle.spanning_forest_is_valid(forest, edges_np, n)


def test_vertex_id_limit_fails_loudly(spark):
    """Edge ids lo*n + hi must fit int64, i.e. n*n - 1 <= 2^63 - 1, which
    holds up to n = 3,037,000,499: beyond it construction must raise rather
    than let ids wrap."""
    SketchCC(spark, num_vertices=3_037_000_499)
    with pytest.raises(ValueError, match="overflow int64"):
        SketchCC(spark, num_vertices=3_037_000_500)
