"""Property-based sketch-kernel tests (hypothesis): linearity, invertibility,
sample soundness on arbitrary well-formed update sequences."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from graphzeppelin_spark.sketch.kernel import (
    FAIL,
    GOOD,
    ZERO,
    SketchGeometry,
    SketchMatrix,
)

GEOM = SketchGeometry(num_vertices=64, seed=11)

eids = st.lists(st.integers(min_value=1, max_value=4000), min_size=0, max_size=60)


def _support_and_signs(items: list[int]) -> tuple[np.ndarray, np.ndarray, set[int]]:
    """Turn an arbitrary id list into a well-formed insert/delete sequence:
    odd occurrence count => final insert survives."""
    ids, signs, live = [], [], set()
    for e in items:
        if e in live:
            ids.append(e)
            signs.append(-1)
            live.discard(e)
        else:
            ids.append(e)
            signs.append(1)
            live.add(e)
    return (
        np.array(ids, dtype=np.uint64),
        np.array(signs, dtype=np.int64),
        live,
    )


@settings(max_examples=40, deadline=None)
@given(eids)
def test_sample_sound_and_zero_iff_empty(items):
    ids, signs, live = _support_and_signs(items)
    sm = SketchMatrix(GEOM, 1)
    if len(ids):
        sm.update_many(np.zeros(len(ids), dtype=np.int64), ids, signs=signs)
    status, eid = sm.sample_many(0)
    if not live:
        assert status[0] == ZERO
    else:
        assert status[0] != ZERO
        if status[0] == GOOD:
            assert int(eid[0]) in live
    assert sm.exhaustive_sample(0) <= live


@settings(max_examples=25, deadline=None)
@given(eids, eids)
def test_merge_equals_concatenation(a_items, b_items):
    """Linearity: sketch(A) + sketch(B) == sketch(A ++ B), bucket-for-bucket."""
    a_ids, a_signs, _ = _support_and_signs(a_items)
    # b's signs computed over the CONCATENATED history so the stream stays well-formed
    both = a_items + b_items
    ids, signs, _ = _support_and_signs(both)
    b_ids, b_signs = ids[len(a_ids):], signs[len(a_ids):]

    sm_a = SketchMatrix(GEOM, 1)
    sm_b = SketchMatrix(GEOM, 1)
    sm_all = SketchMatrix(GEOM, 1)
    if len(a_ids):
        sm_a.update_many(np.zeros(len(a_ids), dtype=np.int64), a_ids, signs=a_signs)
    if len(b_ids):
        sm_b.update_many(np.zeros(len(b_ids), dtype=np.int64), b_ids, signs=b_signs)
    if len(ids):
        sm_all.update_many(np.zeros(len(ids), dtype=np.int64), ids, signs=signs)
    assert np.array_equal(sm_a.buckets + sm_b.buckets, sm_all.buckets)


@settings(max_examples=25, deadline=None)
@given(eids)
def test_full_deletion_restores_zero(items):
    """Applying the exact inverse of every update restores the zero sketch."""
    ids, signs, _ = _support_and_signs(items)
    sm = SketchMatrix(GEOM, 1)
    if len(ids):
        sm.update_many(np.zeros(len(ids), dtype=np.int64), ids, signs=signs)
        sm.update_many(np.zeros(len(ids), dtype=np.int64), ids, signs=-signs)
    assert (sm.buckets == 0).all()


# ---- end-to-end property: the full distributed pipeline on random streams


_pairs = st.lists(
    st.tuples(st.integers(0, 31), st.integers(0, 31)).filter(lambda p: p[0] != p[1]),
    min_size=0,
    max_size=120,
)


@settings(max_examples=5, deadline=None)
@given(_pairs)
def test_sketch_cc_random_toggle_streams(spark, pairs):
    """Arbitrary well-formed toggle streams (types derived from occurrence
    parity, so the alternation contract holds by construction) through the
    FULL distributed path — build_state + boruvka — must label components
    exactly like the union-find oracle on the surviving edge set."""
    import pandas as pd

    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from tests.conftest import stream_df

    n = 32
    seen: dict[tuple[int, int], int] = {}
    rows = []
    for i, (a, b) in enumerate(pairs):
        lo, hi = (a, b) if a < b else (b, a)
        t = seen.get((lo, hi), 0) % 2
        seen[(lo, hi)] = seen.get((lo, hi), 0) + 1
        rows.append((i, t, lo, hi))
    s = pd.DataFrame(rows, columns=["seq", "type", "src", "dst"])
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    alg = SketchCC(spark, num_vertices=n, seed=97)
    if len(s) == 0:
        labels = np.arange(n, dtype=np.int64)
    else:
        labels, forest = alg.boruvka(alg.build_state(stream_df(spark, s)))
        assert oracle.spanning_forest_is_valid(forest, oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(labels, expected)


@settings(max_examples=4, deadline=None)
@given(_pairs, st.integers(min_value=1, max_value=5))
def test_driver_random_streams_random_batches(spark, pairs, n_batches):
    """The micro-batch driver with the EAGER cache on: arbitrary toggle
    streams cut into arbitrary batch sizes must answer exactly like the
    oracle at every batch boundary — this drives the linear cross-batch
    merge AND the eager-DSU invalidation logic under random deletes."""
    import pandas as pd

    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver
    from tests.conftest import stream_df

    n = 32
    seen: dict[tuple[int, int], int] = {}
    rows = []
    for i, (a, b) in enumerate(pairs):
        lo, hi = (a, b) if a < b else (b, a)
        t = seen.get((lo, hi), 0) % 2
        seen[(lo, hi)] = seen.get((lo, hi), 0) + 1
        rows.append((i, t, lo, hi))
    s = pd.DataFrame(rows, columns=["seq", "type", "src", "dst"])
    if len(s) == 0:
        return
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=5, eager=True)
    batch = max(len(s) // n_batches, 1)
    upto = 0
    while upto < len(s):
        upto = min(upto + batch, len(s))
        drv.process_stream_until(upto)
        expected = oracle.connected_components(oracle.live_edges(s, n, upto), n)
        np.testing.assert_array_equal(drv.connected_components(), expected)


def test_column_success_group_acceptance_reduced():
    """Reduced run of the reference's statistical column-success protocol
    (tools/sketch_testing.cpp / sum_sketch_testing.py, full 500-trial run in
    scripts/column_success_harness.py → BENCH/column_success.json): the
    sample-group success probability must clear the reference's 0.76
    acceptance at EVERY nonzero count for both variants."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from scripts.column_success_harness import run

    for variant in ("cubesketch", "cameo"):
        r = run(32, 150, variant)  # z ∈ [1, 257]
        assert r["group"]["n_below_0.76"] == 0, (variant, r["group"])
