"""Exact DataFrame graph operators vs the numpy oracle."""

from __future__ import annotations

import numpy as np
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.functions.edges import live_edges_df
from graphzeppelin_spark.operators.connectivity import connected_components_df
from graphzeppelin_spark.operators.labelprop import label_propagation_df
from graphzeppelin_spark.operators.pagerank import pagerank_df
from graphzeppelin_spark.operators.triangles import triangle_count_df, triangles_per_vertex_df
from graphzeppelin_spark.sources.generators import (
    dynamic_erdos_stream,
    kron_stream,
    multiples_graph_stream,
    path_graph_stream,
)
from tests.conftest import edges_df, stream_df


def _vertices(spark, n):
    return spark.range(n).selectExpr("id as v")


def _cc_check(spark, stream_pdf, n, **kwargs):
    edges_np = oracle.live_edges(stream_pdf, n)
    expected = oracle.connected_components(edges_np, n)
    e = live_edges_df(stream_df(spark, stream_pdf))
    got = (
        connected_components_df(e, vertices=_vertices(spark, n), **kwargs)
        .orderBy("v")
        .toPandas()
    )
    assert got["v"].tolist() == list(range(n))
    np.testing.assert_array_equal(got["component"].to_numpy(), expected)


def test_cc_multiples_golden(spark):
    _cc_check(spark, multiples_graph_stream(1024), 1024)


def test_cc_erdos_dynamic(spark):
    _cc_check(spark, dynamic_erdos_stream(num_vertices=256, density=0.005, rounds=3, seed=9), 256)


def test_cc_path_graph_log_rounds(spark):
    # diameter 255; pointer jumping must converge well under 50 rounds
    _cc_check(spark, path_graph_stream(256, seed=5), 256, max_iters=20)


def test_cc_kron(spark):
    _cc_check(spark, kron_stream(scale=9, edge_factor=2, seed=11), 512)


def test_pagerank_vs_oracle(spark):
    n = 256
    s = kron_stream(scale=8, edge_factor=4, seed=1)
    edges_np = oracle.live_edges(s, n)
    expected = oracle.pagerank(edges_np, n, tol=1e-12)
    e = edges_df(spark, edges_np)
    got = (
        pagerank_df(e, vertices=_vertices(spark, n), tol=1e-10, max_iters=200)
        .orderBy("v")
        .toPandas()
    )
    np.testing.assert_allclose(got["score"].to_numpy(), expected, atol=1e-6)
    assert abs(got["score"].sum() - 1.0) < 1e-6


def test_labelprop_min_vs_oracle(spark):
    n = 256
    s = dynamic_erdos_stream(num_vertices=n, density=0.01, rounds=2, seed=3)
    edges_np = oracle.live_edges(s, n)
    expected = oracle.connected_components(edges_np, n)  # min-label fixpoint == CC min labels
    e = edges_df(spark, edges_np)
    got = label_propagation_df(e, vertices=_vertices(spark, n)).orderBy("v").toPandas()
    np.testing.assert_array_equal(got["label"].to_numpy(), expected)


def test_labelprop_mode_rule_communities(spark):
    # two cliques joined by one bridge edge: mode rule keeps two communities
    import numpy as np

    clique = lambda off: [[off + i, off + j] for i in range(4) for j in range(i + 1, 4)]
    edges_np = np.array(clique(0) + clique(10) + [[3, 10]])
    e = edges_df(spark, edges_np)
    got = (
        label_propagation_df(e, max_iters=10, rule="mode").orderBy("v").toPandas()
    )
    labels = dict(zip(got["v"], got["label"]))
    assert len({labels[v] for v in (0, 1, 2)}) == 1  # clique 1 agrees
    assert len({labels[v] for v in (11, 12, 13)}) == 1  # clique 2 agrees
    assert labels[0] != labels[11]  # bridge does not merge the communities


def test_pagerank_directed(spark):
    # directed star 1..5 -> 0: vertex 0 collects mass, others share dangling
    import numpy as np

    edges_np = np.array([[i, 0] for i in range(1, 6)])
    e = edges_df(spark, edges_np)
    got = (
        pagerank_df(e, vertices=_vertices(spark, 6), directed=True, num_iters=30)
        .orderBy("v")
        .toPandas()
    )
    expected = oracle.pagerank(edges_np, 6, directed=True, num_iters=30)
    np.testing.assert_allclose(got["score"].to_numpy(), expected, atol=1e-9)
    assert got["score"][0] == got["score"].max()


def test_triangle_count_k4_plus_isolated(spark):
    edges = np.array([[0, 1], [0, 2], [0, 3], [1, 2], [1, 3], [2, 3], [4, 5]])
    got = triangle_count_df(edges_df(spark, edges)).collect()[0]["n_triangles"]
    assert got == 4


def test_triangle_count_kron_vs_oracle(spark):
    n = 256
    s = kron_stream(scale=8, edge_factor=6, seed=2)
    edges_np = oracle.live_edges(s, n)
    expected = oracle.triangle_count(edges_np, n)
    got = triangle_count_df(edges_df(spark, edges_np)).collect()[0]["n_triangles"]
    assert got == expected


def test_triangle_wedges_past_the_driver_gate_keep_the_distributed_plan(spark):
    """K_30's 435 edges (6,960 bytes) fit a 100 kB driver gate but its
    wedges do not: every degree ties, so the orientation goes by id,
    out-degrees run 0..29 and there are C(30, 3) = 4,060 wedges at
    WEDGE_BYTES each. The count must come from the distributed plan and
    stay exact."""
    from graphzeppelin_spark.operators.triangles import WEDGE_BYTES, _driver_triangle_rows

    n = 30
    edges_np = np.array([(u, v) for u in range(n) for v in range(u + 1, n)])
    wedges = n * (n - 1) * (n - 2) // 6
    gate = 100_000
    assert len(edges_np) * 16 <= gate < wedges * WEDGE_BYTES
    edges = edges_df(spark, edges_np)
    assert _driver_triangle_rows(edges, gate) is None
    got = triangle_count_df(edges, driver_finish_bytes=gate).collect()[0]["n_triangles"]
    assert got == oracle.triangle_count(edges_np, n) == wedges


def test_triangles_per_vertex_sums_to_3x(spark):
    n = 128
    s = kron_stream(scale=7, edge_factor=6, seed=4)
    edges_np = oracle.live_edges(s, n)
    total = oracle.triangle_count(edges_np, n)
    per_v = triangles_per_vertex_df(edges_df(spark, edges_np)).toPandas()
    assert per_v["tri"].sum() == 3 * total


def test_pagerank_resumes_mid_convergence(spark, tmp_path):
    """north_rule resumability: 6 iterations with per-iteration checkpoints,
    then a fresh call resuming from the snapshot store, must equal one
    straight 12-iteration run exactly."""
    import numpy as np
    from graphzeppelin_spark.sources.generators import multiples_graph_stream
    from graphzeppelin_spark.functions import live_edges_df
    from tests.conftest import stream_df

    edges = live_edges_df(stream_df(spark, multiples_graph_stream(128)))
    ck = str(tmp_path / "pr_ck")
    pagerank_df(edges, num_iters=6, checkpoint_dir=ck)  # phase 1: crash here
    resumed = pagerank_df(edges, num_iters=12, checkpoint_dir=ck).toPandas()
    straight = pagerank_df(edges, num_iters=12).toPandas()
    merged = resumed.merge(straight, on="v", suffixes=("_r", "_s"))
    np.testing.assert_allclose(merged["score_r"], merged["score_s"], atol=1e-12)


def test_pagerank_checkpoint_guards(spark, tmp_path):
    """A checkpoint dir reused for a DIFFERENT edge set (same n) must restart
    fresh, not silently resume the wrong ranks; requesting fewer iterations
    than already checkpointed must raise instead of returning over-iterated
    scores."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F
    from graphzeppelin_spark.sources.generators import multiples_graph_stream
    from graphzeppelin_spark.functions import live_edges_df
    from tests.conftest import stream_df

    edges_a = live_edges_df(stream_df(spark, multiples_graph_stream(128)))
    # graph B: same vertex universe, different edges (shift the chain)
    edges_b = edges_a.select(
        (F.col("src") + 1).alias("s0"), (F.col("dst") + 1).alias("d0")
    ).select(
        (F.col("s0") % 128).alias("src"), (F.col("d0") % 128).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    verts = edges_a.selectExpr("src as v").union(edges_a.selectExpr("dst as v")).union(
        edges_b.selectExpr("src as v")
    ).union(edges_b.selectExpr("dst as v")).distinct()
    ck = str(tmp_path / "pr_guard_ck")
    pagerank_df(edges_a, vertices=verts, num_iters=4, checkpoint_dir=ck)
    got = pagerank_df(edges_b, vertices=verts, num_iters=4, checkpoint_dir=ck).toPandas()
    fresh = pagerank_df(edges_b, vertices=verts, num_iters=4).toPandas()
    merged = got.merge(fresh, on="v", suffixes=("_g", "_f"))
    np.testing.assert_allclose(merged["score_g"], merged["score_f"], atol=1e-12)
    # the B checkpoint now holds 4 iterations; asking for 2 must refuse
    with _pytest.raises(ValueError, match="exceeds the requested"):
        pagerank_df(edges_b, vertices=verts, num_iters=2, checkpoint_dir=ck)
