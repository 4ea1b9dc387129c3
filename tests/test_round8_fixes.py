"""Round-8 optimization regression tests: grouped state layout, JVM-side
group pruning, batched driver finish, bulk-DSU edge application."""

from __future__ import annotations

import numpy as np
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.sketch.kernel import (
    decode_group_rows,
    encode_group_rows,
)
from graphzeppelin_spark.sources.generators import (
    multiples_graph_stream,
    path_graph_stream,
)
from tests.conftest import stream_df


def test_group_codec_roundtrip():
    rng = np.random.default_rng(0)
    for n, G, gsz in [(7, 4, 10), (100, 12, 105), (1, 1, 3), (5, 3, 7)]:
        nb = G * gsz + 1
        m = np.zeros((n, nb, 2), dtype=np.uint64)
        mask = rng.random((n, nb)) < 0.3
        m[..., 0][mask] = rng.integers(1, 2**63, size=mask.sum(), dtype=np.uint64)
        m[..., 1][mask] = rng.integers(1, 2**63, size=mask.sum(), dtype=np.uint64)
        dets, grps = encode_group_rows(m, gsz, G)
        assert np.array_equal(decode_group_rows(dets, grps, G, gsz, nb), m)
        # partial slice decode (the per-round JVM pruning contract): groups
        # [lo, lo+k) land at the slice's start, det in the last slot
        k = min(2, G)
        lo = 1 if G > 1 else 0
        sl = [row[lo : lo + k] for row in grps]
        nb2 = k * gsz + 1
        got = decode_group_rows(dets, sl, k, gsz, nb2)
        exp = np.zeros((n, nb2, 2), dtype=np.uint64)
        exp[:, : k * gsz] = m[:, lo * gsz : (lo + k) * gsz]
        exp[:, -1] = m[:, -1]
        assert np.array_equal(got, exp)


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


def test_fused_skey_build_state_byte_identical(spark, monkeypatch):
    """build_state's fused one-column ingest encoding (skey = u*(eid*2+is_hi))
    must produce a byte-identical state to the two-column (vertex, seid)
    path — including delete updates and repeat insert/delete toggles."""
    import pandas as pd

    from graphzeppelin_spark.operators import sketch_cc as scc

    n = 300
    rng = np.random.default_rng(7)
    rows = []
    seq = 0
    live: set[tuple[int, int]] = set()
    # random insert/delete toggles, alternating per edge as the stream
    # contract requires (an op on an edge flips its live state)
    for _ in range(900):
        a, b = rng.integers(0, n, size=2)
        if a == b:
            continue
        key = (min(a, b), max(a, b))
        if key in live:
            rows.append((seq, 1, int(a), int(b))); seq += 1
            live.discard(key)
        else:
            rows.append((seq, 0, int(a), int(b))); seq += 1
            live.add(key)
    pdf = pd.DataFrame(rows, columns=["seq", "type", "src", "dst"])
    stream = stream_df(spark, pdf)

    alg = SketchCC(spark, num_vertices=n, seed=5)
    assert n <= scc.FUSED_KEY_MAX_N  # fused path engaged
    cs_fused = _state_checksum(alg.build_state(stream))
    monkeypatch.setattr(scc, "FUSED_KEY_MAX_N", 0)  # force two-column path
    cs_twocol = _state_checksum(alg.build_state(stream))
    assert cs_fused == cs_twocol
    # and the query result over the fused state matches the exact oracle
    monkeypatch.undo()
    assert n <= scc.FUSED_KEY_MAX_N
    labels, _ = alg.boruvka(alg.build_state(stream))
    edges_np = oracle.live_edges(pdf, n)
    np.testing.assert_array_equal(labels, oracle.connected_components(edges_np, n))


def test_fused_skey_build_state_raises_on_malformed(spark):
    """The |net|>1 stream-contract guard must still fire through the fused
    encoding (two inserts of one edge in one slice)."""
    import pandas as pd

    bad = pd.DataFrame(
        [(0, 0, 1, 2), (1, 0, 1, 2)], columns=["seq", "type", "src", "dst"]
    )
    alg = SketchCC(spark, num_vertices=16, seed=5)
    with pytest.raises(Exception, match="non-alternating"):
        alg.build_state(stream_df(spark, bad)).count()
