"""Triangle counting via degree-ordered edge orientation + 2-path closure join.

The textbook shuffle-efficient plan (BASELINE.json north_rule): orient every
undirected edge from the lower-(degree, id) endpoint to the higher one; every
triangle then has exactly one "apex" vertex with two out-edges, so

    triangles = wedges(apex) ⋉ edges

Degree ordering bounds the out-degree of every vertex by O(sqrt(m)) on any
graph, so the self-join of out-adjacency never explodes on power-law hubs —
this IS the skew handling for triangle counting, no salting needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphzeppelin_spark.config import DRIVER_BYTES
from graphzeppelin_spark.functions.edges import degrees

# driver bytes held per wedge at the peak of the driver-side plan: the ten
# int64 wedge-length arrays _wedges_from_csr has live when it returns, which
# is more than the closure probe adds to its three results (tracemalloc: 80.0
# bytes per wedge over 1.95M wedges)
WEDGE_BYTES = 80


def _oriented(edges: DataFrame) -> DataFrame:
    """Orient canonical edges by (degree, id): low endpoint -> high endpoint."""
    deg = degrees(edges)
    ds = deg.select(F.col("v").alias("sv"), F.col("degree").alias("sdeg"))
    dd = deg.select(F.col("v").alias("dv"), F.col("degree").alias("ddeg"))
    e = edges.join(ds, edges.src == ds.sv).join(dd, edges.dst == dd.dv)
    src_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("w"),
    )


def _triangle_rows(edges: DataFrame) -> DataFrame:
    """(u, v1, v2) — one row per triangle (apex u; v1 < v2 by vertex id)."""
    o = _oriented(edges)
    a = o.select(F.col("u"), F.col("w").alias("v1"))
    b = o.select(F.col("u"), F.col("w").alias("v2"))
    wedges = a.join(b, "u").where(F.col("v1") < F.col("v2"))
    # closing edges are canonical (src<dst), exactly the input edge set
    closing = edges.select(F.col("src").alias("v1"), F.col("dst").alias("v2"))
    return wedges.join(closing, ["v1", "v2"], "left_semi")


def _driver_triangle_rows(edges: DataFrame, driver_finish_bytes: int):
    """Collect a byte-gated edge set and generate the closed-wedge rows
    (v1, v2, apex) in numpy — the same degree-ordered orientation + CSR
    wedge generation + closure probe as the distributed plan, off one
    collect (the driver-finish economics of connected_components_df applied
    to triangles; a handful of tiny-shuffle Spark jobs otherwise dominate
    small inputs). Returns None — and the caller keeps the distributed
    plan — when the edges don't fit the byte gate, ids don't pack into the
    (int32, uint32) closure probe, or the wedges (counted exactly from the
    oriented out-degrees, WEDGE_BYTES each) don't fit the byte gate."""
    import numpy as np

    from graphzeppelin_spark.operators.adjacency import (
        _csr_from_pairs,
        _wedges_from_csr,
    )

    if driver_finish_bytes <= 0:
        return None
    staged = edges.select("src", "dst").persist()  # gate count + collect: one plan run
    try:
        m = staged.count()
        if m * 16 > driver_finish_bytes:
            return None
        pdf = staged.toPandas()
    finally:
        staged.unpersist()
    s = pdf["src"].to_numpy(np.int64)
    d = pdf["dst"].to_numpy(np.int64)
    if len(s) and not (
        s.min() >= 0 and d.min() >= 0 and s.max() < 2**31 and d.max() < 2**32
    ):
        return None
    ids, counts = np.unique(np.concatenate([s, d]), return_counts=True)
    deg_s = counts[np.searchsorted(ids, s)]
    deg_d = counts[np.searchsorted(ids, d)]
    src_first = (deg_s < deg_d) | ((deg_s == deg_d) & (s < d))
    u = np.where(src_first, s, d)
    w = np.where(src_first, d, s)
    # exact wedge count from oriented out-degrees — bound the blowup BEFORE
    # materializing it
    _, ocnt = np.unique(u, return_counts=True) if len(u) else (None, np.zeros(0, np.int64))
    wedges = int((ocnt.astype(np.int64) * (ocnt - 1) // 2).sum())
    if wedges * WEDGE_BYTES > driver_finish_bytes:
        return None
    uniq, indptr, indices = _csr_from_pairs(u, w)
    v1, v2, apex = _wedges_from_csr(uniq, indptr, indices)
    table = np.sort((s << np.int64(32)) + d)
    probe = (v1 << np.int64(32)) + v2
    pos = np.searchsorted(table, probe)
    ok = pos < len(table)
    closed = np.zeros(len(probe), dtype=bool)
    closed[ok] = table[pos[ok]] == probe[ok]
    return v1[closed], v2[closed], apex[closed]


def triangle_count_df(
    edges: DataFrame, driver_finish_bytes: int = DRIVER_BYTES
) -> DataFrame:
    """Return a 1-row DataFrame (n_triangles: long). `edges` canonical undirected."""
    rows = _driver_triangle_rows(edges, driver_finish_bytes)
    if rows is not None:
        return edges.sparkSession.createDataFrame(
            [(int(len(rows[0])),)], "n_triangles long"
        )
    return _triangle_rows(edges).agg(F.count("*").alias("n_triangles"))


def triangles_per_vertex_df(
    edges: DataFrame, driver_finish_bytes: int = DRIVER_BYTES
) -> DataFrame:
    """Return (v: long, tri: long) — triangles incident to each vertex (vertices
    in no triangle are omitted)."""
    rows = _driver_triangle_rows(edges, driver_finish_bytes)
    if rows is not None:
        import numpy as np
        import pandas as pd

        flat = np.concatenate([rows[2], rows[0], rows[1]])
        vs, tri = (
            np.unique(flat, return_counts=True)
            if len(flat)
            else (np.zeros(0, np.int64), np.zeros(0, np.int64))
        )
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"v": vs.astype(np.int64), "tri": tri.astype(np.int64)}),
            schema="v long, tri long",
        )
    tris = _triangle_rows(edges)
    return (
        tris.select(F.col("u").alias("v"))
        .unionAll(tris.select(F.col("v1").alias("v")))
        .unionAll(tris.select(F.col("v2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("tri"))
    )
