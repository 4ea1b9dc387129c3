"""Pure-numpy sketch kernel tests — ports of the reference's sketch unit +
statistical suite (test/sketch_test.cpp) at reduced trial counts (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pytest

from graphzeppelin_spark.sketch.kernel import (
    FAIL,
    GOOD,
    ZERO,
    SketchGeometry,
    SketchMatrix,
    decode_edges,
    encode_edges,
    splitmix64,
)


def geom(n=64, seed=1, variant="cubesketch"):
    return SketchGeometry(num_vertices=n, seed=seed, variant=variant)


def test_geometry_scales_logarithmically():
    g1 = geom(n=1 << 10)
    g2 = geom(n=1 << 17)
    assert g2.num_buckets < 4 * g1.num_buckets  # polylog growth
    assert g1.num_samples >= 4
    assert g1.num_buckets == g1.num_columns * g1.bkt_per_col + 1


def test_empty_sketch_samples_zero():
    g = geom()
    sm = SketchMatrix(g, 3)
    status, eid = sm.sample_many(0)
    assert (status == ZERO).all()


def test_single_update_sampled_exactly():
    g = geom()
    sm = SketchMatrix(g, 1)
    sm.update_many(np.array([0]), np.array([12345], dtype=np.uint64))
    status, eid = sm.sample_many(0)
    assert status[0] == GOOD and eid[0] == 12345


def test_insert_delete_cancels():
    g = geom()
    sm = SketchMatrix(g, 1)
    sm.update_many(
        np.array([0, 0]), np.array([777, 777], dtype=np.uint64), signs=np.array([1, -1])
    )
    status, _ = sm.sample_many(0)
    assert status[0] == ZERO
    assert (sm.buckets == 0).all()  # exact inverse, bucket-for-bucket


def test_merge_cancels_deleted_edges():
    # a holds {5, 9}; b holds {21} plus a delete of 9 — merged support = {5, 21}
    g = geom()
    a = SketchMatrix(g, 1)
    b = SketchMatrix(g, 1)
    a.update_many(np.zeros(2, int), np.array([5, 9], dtype=np.uint64))
    b.update_many(
        np.zeros(2, int), np.array([9, 21], dtype=np.uint64), signs=np.array([-1, 1])
    )
    merged = SketchMatrix(g, 1, a.buckets + b.buckets)
    status, eid = merged.sample_many(0)
    assert status[0] == GOOD and eid[0] in (5, 21)
    assert merged.exhaustive_sample(0) <= {5, 21}


def test_sample_idx_groups_independent():
    g = geom()
    sm = SketchMatrix(g, 1)
    eids = np.arange(1, 20, dtype=np.uint64)
    sm.update_many(np.zeros(len(eids), int), eids)
    hits = 0
    for s_idx in range(g.num_samples):
        status, eid = sm.sample_many(s_idx)
        if status[0] == GOOD:
            hits += 1
            assert eid[0] in set(eids.tolist())
    assert hits >= g.num_samples // 2  # most sample groups succeed


@pytest.mark.parametrize("variant", ["cubesketch", "cameo"])
def test_statistical_sample_correctness(variant):
    """Port of sketch_test.cpp sample-error budgets at reduced trials:
    sampled element must be a true member; failure rate bounded."""
    rng = np.random.default_rng(0)
    trials = 300
    g = SketchGeometry(num_vertices=128, seed=3, variant=variant)
    incorrect = 0
    fails = 0
    sm = SketchMatrix(g, trials)
    membership = []
    for t in range(trials):
        k = int(rng.integers(1, 40))
        eids = rng.choice(np.arange(1, 16000, dtype=np.uint64), size=k, replace=False)
        sm.update_many(np.full(k, t), eids)
        membership.append(set(eids.tolist()))
    status, eid = sm.sample_many(0)
    for t in range(trials):
        if status[t] == FAIL:
            fails += 1
        elif status[t] == GOOD:
            if int(eid[t]) not in membership[t]:
                incorrect += 1
        elif status[t] == ZERO:
            incorrect += 1  # nonzero support must not report ZERO
    assert incorrect == 0
    assert fails / trials <= 0.05  # reference budget: 3% over 10k sketches


def test_column_success_probability():
    """Per-column success probability > 0.76 at various support sizes
    (reference tools/sum_sketch_testing.py acceptance)."""
    rng = np.random.default_rng(1)
    g = SketchGeometry(num_vertices=128, seed=5, variant="cubesketch")
    for z in (2, 8, 64, 512):
        trials = 120
        sm = SketchMatrix(g, trials)
        for t in range(trials):
            eids = rng.choice(np.arange(1, 16384, dtype=np.uint64), size=z, replace=False)
            sm.update_many(np.full(z, t), eids)
        status, _ = sm.sample_many(0)
        ok = (status == GOOD).sum()
        assert ok / trials > 0.76, f"z={z}: {ok}/{trials}"


def test_edge_encoding_roundtrip():
    rng = np.random.default_rng(2)
    n = 1 << 17
    src = rng.integers(0, n, 10000)
    dst = rng.integers(0, n, 10000)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    eid = encode_edges(src, dst, n)
    lo, hi = decode_edges(eid, n)
    assert np.array_equal(lo, np.minimum(src, dst))
    assert np.array_equal(hi, np.maximum(src, dst))


def test_edge_encoding_at_documented_vertex_limit():
    """eid = lo*n + hi in signed int64 is documented to hold to n ~ 3e9
    (kernel.encode_edges): prove the roundtrip at the boundary instead of
    trusting the comment — max eid = (n-2)*n + (n-1) must stay < 2^63."""
    n = 3_000_000_000
    assert (n - 2) * n + (n - 1) < 2**63
    src = np.array([0, 1, n - 2, n // 2, 123], dtype=np.int64)
    dst = np.array([n - 1, n - 2, n - 1, n // 2 + 1, 456], dtype=np.int64)
    eid = encode_edges(src, dst, n)
    lo, hi = decode_edges(eid, n)
    assert np.array_equal(lo, np.minimum(src, dst))
    assert np.array_equal(hi, np.maximum(src, dst))


def test_splitmix_deterministic_and_seeded():
    x = np.arange(100, dtype=np.uint64)
    a = splitmix64(x, 1)
    b = splitmix64(x, 1)
    c = splitmix64(x, 2)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
