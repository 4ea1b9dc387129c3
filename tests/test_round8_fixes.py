"""Round-8 optimization regression tests: grouped state layout, JVM-side
group pruning, batched driver finish, bulk-DSU edge application."""

from __future__ import annotations

import numpy as np
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.sketch.kernel import (
    add_group_rows,
    decode_group_rows,
    encode_group_rows,
)
from graphzeppelin_spark.sources.generators import (
    multiples_graph_stream,
    path_graph_stream,
)
from tests.conftest import stream_df


def _reference_group_rows(m: np.ndarray, gsz: int, G: int) -> tuple[list, list]:
    """The documented state layout written row by row: det = the last
    bucket's (alpha, gamma) as two u64; grp[g] = <idx u16[nnz]><alpha
    u64[nnz]><gamma u64[nnz]> over group g's nonzero buckets, idx relative
    to the group's first bucket."""
    dets, grps = [], []
    for row in m:
        dets.append(row[-1].astype("<u8").tobytes())
        blobs = []
        for g in range(G):
            block = row[g * gsz : (g + 1) * gsz]
            (idx,) = np.nonzero(block.any(axis=1))
            blobs.append(
                idx.astype("<u2").tobytes()
                + block[idx, 0].astype("<u8").tobytes()
                + block[idx, 1].astype("<u8").tobytes()
            )
        grps.append(blobs)
    return dets, grps


def _slice_decoded(m: np.ndarray, gsz: int, lo: int, k: int) -> np.ndarray:
    """Groups [lo, lo+k) of m at the slice's start, det in the last slot."""
    out = np.zeros((len(m), k * gsz + 1, 2), dtype=np.uint64)
    out[:, : k * gsz] = m[:, lo * gsz : (lo + k) * gsz]
    out[:, -1] = m[:, -1]
    return out


def test_group_codec_roundtrip():
    import pyarrow.compute as pc

    rng = np.random.default_rng(0)
    cases = [(7, 4, 10, 0.3), (100, 12, 105, 0.3), (1, 1, 3, 0.3), (5, 3, 7, 0.3),
             (0, 3, 7, 0.3), (6, 4, 9, 0.0), (9, 5, 6, 0.05)]
    for n, G, gsz, p in cases:
        nb = G * gsz + 1
        m = np.zeros((n, nb, 2), dtype=np.uint64)
        mask = rng.random((n, nb)) < p
        m[..., 0][mask] = rng.integers(1, 2**63, size=mask.sum(), dtype=np.uint64)
        m[..., 1][mask] = rng.integers(1, 2**63, size=mask.sum(), dtype=np.uint64)
        if n > 2:
            m[2, :-1] = 0  # a row whose groups are all empty
        det, grp = encode_group_rows(m, gsz, G)
        # the bytes are the documented layout, not only a self-consistent one
        assert (det.to_pylist(), grp.to_pylist()) == _reference_group_rows(m, gsz, G)
        assert np.array_equal(decode_group_rows(det, grp, G, gsz, nb), m)
        # partial slice decode (the per-round JVM pruning contract): groups
        # [lo, lo+k) land at the slice's start, det in the last slot
        k = min(2, G)
        lo = 1 if G > 1 else 0
        sl = pc.list_slice(grp, lo, lo + k)
        assert np.array_equal(
            decode_group_rows(det, sl, k, gsz, k * gsz + 1), _slice_decoded(m, gsz, lo, k)
        )
        # arrays with non-zero offsets: row slices of both columns, and a
        # round slice of a row slice
        a = min(1, n)
        assert np.array_equal(
            decode_group_rows(det.slice(a), grp.slice(a), G, gsz, nb), m[a:]
        )
        assert np.array_equal(
            decode_group_rows(det.slice(a), pc.list_slice(grp.slice(a), lo, lo + k),
                              k, gsz, k * gsz + 1),
            _slice_decoded(m[a:], gsz, lo, k),
        )
        # full-width add into named slots: a slot named twice gets the sum
        rows = rng.integers(0, max(1, n // 2), size=n)
        acc = np.zeros((n, nb, 2), dtype=np.uint64)
        add_group_rows(acc, rows, det, grp, gsz)
        exp = np.zeros((n, nb, 2), dtype=np.uint64)
        np.add.at(exp, rows, m)
        assert np.array_equal(acc, exp)


def test_group_codec_refuses_batches_past_int32_offsets():
    """Blob bytes of one Arrow batch past 2^31 - 1 raise instead of
    wrapping the int32 offsets (checked on int64 offsets, no such batch
    is built)."""
    from graphzeppelin_spark.sketch.kernel import GROUP_ITEM_BYTES, arrow_offsets

    fits = np.array([0, 5, (2**31 - 1) // GROUP_ITEM_BYTES], np.int64) * GROUP_ITEM_BYTES
    assert arrow_offsets(fits).dtype == np.int32
    assert np.array_equal(arrow_offsets(fits), fits)
    for top in (2**31, 2**32 + 3):
        with pytest.raises(ValueError, match=r"exceed 2\^31 - 1"):
            arrow_offsets(np.array([0, 7, top], np.int64))


def test_round_sampler_ships_sliced_groups(spark):
    """The per-round samplers must slice the grp array JVM-side: the plan
    feeding the python stage carries `slice(grp, ...)`, so pruned groups
    never cross the Arrow boundary (the round-8 replacement for python-side
    slice_rows pruning)."""
    alg = SketchCC(spark, num_vertices=256, seed=3)
    state = alg.build_state(
        stream_df(spark, multiples_graph_stream(256))
    ).localCheckpoint(eager=True)
    plan = state.sparkSession._jvm.PythonSQLUtils  # noqa: F841 (import guard)
    df = alg._sampled_vertices(state, 1, 2)
    txt = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "slice(grp" in txt, txt


def test_driver_finish_batches_match_oracle(spark):
    """The driver finish collects fixed 3-group batches; on the adversarial
    path graph convergence needs several batches, and the batched collect
    must reproduce the exact oracle labeling (per-component sums commute
    with DSU contraction)."""
    n = 128
    s = path_graph_stream(n, seed=2)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    labels, forest = alg.boruvka(state)
    edges_np = oracle.live_edges(s, n)
    np.testing.assert_array_equal(
        labels, oracle.connected_components(edges_np, n)
    )
    assert oracle.spanning_forest_is_valid(forest, edges_np, n)


def _edges_df(spark, edges_np):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"src": edges_np[:, 0], "dst": edges_np[:, 1]}),
        schema="src long, dst long",
    )


def test_exact_cc_driver_finish_matches_star_contraction(spark):
    """connected_components_df's byte-gated driver finish must reproduce the
    star-contraction labeling exactly — at round 0 (gate passes instantly),
    mid-convergence (gate passes only after contraction shrinks the edge
    set), and disabled (pure star contraction)."""
    from graphzeppelin_spark.operators.connectivity import (
        connected_components_df,
    )

    rng = np.random.default_rng(5)
    n = 400
    m = 500
    e = rng.integers(0, n, size=(m, 2))
    e = e[e[:, 0] != e[:, 1]]
    e = np.stack([e.min(axis=1), e.max(axis=1)], axis=1)
    e = np.unique(e, axis=0)
    expected = oracle.connected_components(e, n)
    verts = spark.range(n).selectExpr("id as v")
    for gate in (64 * 1024 * 1024, (len(e) * 16) // 2, 0):
        out = connected_components_df(
            _edges_df(spark, e), vertices=verts, driver_finish_bytes=gate
        ).toPandas()
        got = np.zeros(n, dtype=np.int64)
        got[out["v"].to_numpy()] = out["component"].to_numpy()
        np.testing.assert_array_equal(got, expected, err_msg=f"gate={gate}")


def test_pagerank_driver_finish_matches_distributed(spark):
    """The numpy lockstep driver finish must agree with the distributed loop
    (bit-identical on in-degree<=2 graphs; ulp-level elsewhere — assert a
    tight allclose on a random multigraph with in-degree >= 3)."""
    from graphzeppelin_spark.operators.pagerank import pagerank_df

    rng = np.random.default_rng(9)
    e = rng.integers(0, 200, size=(400, 2))
    e = e[e[:, 0] != e[:, 1]]
    e = np.unique(
        np.stack([e.min(axis=1), e.max(axis=1)], axis=1), axis=0
    )
    edges = _edges_df(spark, e)
    verts = spark.range(200).selectExpr("id as v")
    fast = pagerank_df(edges, vertices=verts, num_iters=8).orderBy("v").toPandas()
    slow = pagerank_df(
        edges, vertices=verts, num_iters=8, driver_finish_bytes=0
    ).orderBy("v").toPandas()
    np.testing.assert_array_equal(fast["v"].to_numpy(), slow["v"].to_numpy())
    np.testing.assert_allclose(
        fast["score"].to_numpy(), slow["score"].to_numpy(), rtol=0, atol=1e-15
    )


def test_labelprop_driver_finish_matches_superstep_loop(spark):
    """min+jump driver finish = the superstep loop's fixpoint, including the
    induced-subgraph restriction (edges through unlabeled vertices must NOT
    merge components)."""
    from graphzeppelin_spark.operators.labelprop import label_propagation_df

    # 0-1-2 chain, but vertex 1 is NOT in the labeled universe: 0 and 2 stay
    # separate components in both paths
    e = np.array([[0, 1], [1, 2], [3, 4]])
    edges = _edges_df(spark, e)
    verts = spark.createDataFrame([(0,), (2,), (3,), (4,)], "v long")
    fast = label_propagation_df(edges, vertices=verts, max_iters=60)
    slow = label_propagation_df(
        edges, vertices=verts, max_iters=60, driver_finish_bytes=0
    )
    f = {r["v"]: r["label"] for r in fast.collect()}
    s = {r["v"]: r["label"] for r in slow.collect()}
    assert f == s == {0: 0, 2: 2, 3: 3, 4: 3}


def test_bulk_apply_edges_labels_canonical(spark):
    """boruvka's vectorized edge application must keep labels canonical
    (component = min member id) and the forest a valid spanning forest."""
    n = 256
    s = multiples_graph_stream(n)
    alg = SketchCC(spark, num_vertices=n, seed=11)
    labels, forest = alg.boruvka(alg.build_state(stream_df(spark, s)))
    edges_np = oracle.live_edges(s, n)
    expected = oracle.connected_components(edges_np, n)
    np.testing.assert_array_equal(labels, expected)
    # canonical: every label is the minimum vertex id of its component
    for comp in np.unique(labels):
        assert comp == np.flatnonzero(labels == comp).min()


def _state_checksum(state):
    """Order-insensitive full-content checksum of a (vertex, det, grp) state."""
    from pyspark.sql import functions as F

    return tuple(
        state.select(
            F.expr("bit_xor(xxhash64(vertex, det, to_json(struct(grp))))").alias("cs"),
            F.count("*").alias("n"),
        ).collect()[0]
    )


def _toggle_stream(n: int, ops: int, seed: int):
    """Random insert/delete toggles on [0, n), alternating per edge as the
    stream contract requires (an op on an edge flips its live state)."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    live: set[tuple[int, int]] = set()
    for _ in range(ops):
        a, b = (int(x) for x in rng.integers(0, n, size=2))
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        rows.append((len(rows), int(key in live), a, b))
        live.symmetric_difference_update({key})
    return pd.DataFrame(rows, columns=["seq", "type", "src", "dst"])


# _state_checksum of the build in the test below, as the two-column
# (vertex, signed eid) ingest path that larger universes once took made it
FAR_BUILD_CHECKSUM = (-389718083365154086, 299)


def test_fused_skey_build_state_byte_identical(spark):
    """The fused ingest key eid*2 + is_hi, its sign carried beside it, on the
    largest universe SketchCC accepts with vertex ids at its top, so keys
    pass 2^63: a build of random insert/delete toggles gives the bytes the
    two-column ingest gave (pinned checksum), folding the second half of
    the stream into a build of the first equals merge_states of the two
    halves' builds, and the labels are exact."""
    from graphzeppelin_spark.operators.sketch_cc import MAX_VERTICES
    from tests.test_sketch_cc import _assert_exact_labels, _shifted

    n, off = MAX_VERTICES, MAX_VERTICES - 300
    pdf = _shifted(_toggle_stream(300, 900, 7), off)
    alg = SketchCC(spark, num_vertices=n, seed=5)
    state = alg.build_state(stream_df(spark, pdf)).localCheckpoint(eager=True)
    assert _state_checksum(state) == FAR_BUILD_CHECKSUM
    half = len(pdf) // 2
    first = alg.build_state(stream_df(spark, pdf[:half])).localCheckpoint(eager=True)
    second = stream_df(spark, pdf[half:])
    assert _state_checksum(alg.build_state(second, base=first)) == _state_checksum(
        alg.merge_states(first, alg.build_state(second))
    )
    _assert_exact_labels(alg, state, pdf, 300, off)


def test_fused_skey_build_state_raises_on_malformed(spark):
    """The |net|>1 stream-contract guard must still fire through the fused
    ingest key (two inserts of one edge in one slice)."""
    import pandas as pd

    bad = pd.DataFrame(
        [(0, 0, 1, 2), (1, 0, 1, 2)], columns=["seq", "type", "src", "dst"]
    )
    alg = SketchCC(spark, num_vertices=16, seed=5)
    with pytest.raises(Exception, match="non-alternating"):
        alg.build_state(stream_df(spark, bad)).count()
