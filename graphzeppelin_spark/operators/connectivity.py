"""Exact connected components over an edge DataFrame.

Algorithm: alternating large-star / small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the published
shuffle-native CC algorithm, converging in O(log^2 n) supersteps (O(log n)
observed) on any graph including adversarial high-diameter paths (the
reference's worst-case Boruvka inputs, tools/test_correctness.cpp:37-48).

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
    small-star(u): S = {v ∈ N(u) : v ≤ u} ∪ {u}; m = min(S);
                   emit (v, m) for v ∈ S, v ≠ m

The edge set contracts toward per-component stars centered at the minimum
vertex id. Each half-round is one groupBy(u).min shuffle + one join + one
distinct; the edge set never grows beyond the input size and shrinks
geometrically, so late rounds are nearly free. Every round is
localCheckpoint-ed to truncate lineage (production: Iceberg snapshot per
round → resumable mid-convergence per BASELINE.json north_rule).

Scale notes (100 TB): all shuffles key on vertex id; min is algebraic so
map-side partial aggregation collapses power-law hub fan-in before the
exchange. Star contraction is exactly what makes hubs *cheaper* over time:
after round 1 a hub's neighbors point at the component min, not the hub.
Final labeling is canonical (component = min vertex id) matching the exact
labelings of the reference correctness suite (test/cc_alg_test.cpp).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graphzeppelin_spark.config import DRIVER_BYTES, DRIVER_ROW_BYTES, fits_driver
from graphzeppelin_spark.functions.edges import content_hash, hash_value, vertices_of
from graphzeppelin_spark.session import free_local_checkpoint
from graphzeppelin_spark.sketch.dsu import driver_components


def _large_star(edges: DataFrame, broadcast_min: bool = False) -> DataFrame:
    adj = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        adj.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("u"), F.least("mn", "src").alias("m"))
    )
    if broadcast_min:
        # one ≤16-byte row per live vertex: broadcasting the min-map makes
        # the adj join map-side, halving the exchanges per half-round
        m = F.broadcast(m)
    return (
        adj.join(m, adj.src == m.u)
        .where(F.col("dst") > F.col("src"))
        .select(
            F.least("dst", "m").alias("src"),
            F.greatest("dst", "m").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame, broadcast_min: bool = False) -> DataFrame:
    adj = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    small = adj.where(F.col("dst") <= F.col("src")).unionAll(
        adj.select("src", F.col("src").alias("dst")).distinct()
    )
    m = small.groupBy(F.col("src").alias("u")).agg(F.min("dst").alias("m"))
    if broadcast_min:
        m = F.broadcast(m)
    return (
        small.join(m, small.src == m.u)
        .where(F.col("dst") != F.col("m"))
        .select(
            F.least("dst", "m").alias("src"),
            F.greatest("dst", "m").alias("dst"),
        )
        .distinct()
    )


def driver_remap(edges: DataFrame, key: str = "v", target: str = "c") -> DataFrame:
    """The one driver remap: collect an edge set (src, dst) whose bytes the
    caller has gated with fits_driver, run the vectorized numpy DSU over it
    and broadcast back (key, target) rows — target = the component's min
    vertex id — only for the vertices that move (target != key). Serves
    connected_components_df's driver finish and the per-round contraction of
    SketchCC.connected_components_distributed."""
    pdf = edges.select("src", "dst").toPandas()
    ids, comp = driver_components(pdf["src"], pdf["dst"])
    moved = comp != ids
    return F.broadcast(
        edges.sparkSession.createDataFrame(
            pd.DataFrame({key: ids[moved], target: comp[moved]}),
            schema=f"{key} long, {target} long",
        )
    )


def connected_components_df(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
    driver_finish_bytes: int = DRIVER_BYTES,
) -> DataFrame:
    """Return (v:long, component:long), component = min vertex id in component.

    `edges` must be canonical undirected (src<dst, no loops); `vertices`
    optionally supplies the full vertex universe (isolated vertices included).
    Each star round is one localCheckpoint, its convergence test riding
    observe() on it.

    checkpoint_dir: commit the contracted edge set after every round
    (snapshot + round/stats metadata + per-partition lineage) and RESUME
    mid-convergence when the latest snapshot is an exact-CC run over the
    same input (guarded by the input edge set's count+hash fingerprint);
    any other snapshot starts fresh — the same resume check as pagerank_df
    / label_propagation_df (CheckpointStore.resume_point). A converged
    snapshot short-circuits straight to the labeling join.

    driver_finish_bytes: when the (possibly already contracted) edge set
    provably fits this byte budget (16 bytes/edge), finish with one collect
    and a vectorized numpy DSU (driver_remap) instead of more
    star-contraction rounds — the same bounded driver-finish economics as
    SketchCC.boruvka (the reference's whole query is in-memory; we drop down
    exactly when it provably fits). Correct mid-convergence because each
    star round preserves the component partition over the surviving
    vertices and every non-minimum member stays an edge endpoint until
    convergence (Kiveris et al. §3 invariants; regression-tested against the
    recursive oracle from forced mid-round finishes). The DSU labels are
    canonical (min member id) — identical to the star-contraction fixpoint.
    Disabled when checkpointing (the per-round snapshot/resume contract is
    the point there); 0 disables it outright."""
    verts = vertices if vertices is not None else vertices_of(edges)
    cur = edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).distinct()
    cur = cur.localCheckpoint(eager=True)
    # one aggregate job: (row count, order-insensitive content hash) — equal
    # stats <=> equal edge set whp; replaces a count + exceptAll join
    cur_stats = hash_value(cur.agg(*content_hash("src", "dst")).collect()[0])
    store = None
    start_iter = 0
    edge_fp = None
    resumed_converged = False
    if checkpoint_dir is not None:
        from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

        edge_fp = "%d:%d" % cur_stats  # INPUT fingerprint
        store = CheckpointStore(edges.sparkSession, checkpoint_dir)
        found = store.resume_point("exact_cc", edge_fp=edge_fp)
        if found is not None:
            snap, meta = found
            free_local_checkpoint(cur)
            # no repartition-on-resume here (unlike pagerank/labelprop):
            # the snapshot feeds _large_star, whose first op is a UNION
            # of cur with its column-swapped reverse — the union destroys
            # any input co-partitioning before the groupBy(src) exchange,
            # so restoring a partitioning would add a shuffle and save
            # none. The fresh path has the same shape (distinct on
            # (src,dst) ≠ partitioned on src).
            cur = snap.persist()
            cur_stats = (int(meta["c"]), int(meta["h"]))
            start_iter = int(meta["iteration"])
            resumed_converged = bool(meta.get("converged"))

    def _label(mapping: DataFrame) -> DataFrame:
        labels = verts.select(F.col("v").cast("long")).join(mapping, "v", "left")
        return labels.select("v", F.coalesce("c", "v").alias("component"))

    broadcast_min = None
    it = max_iters if resumed_converged else start_iter
    while True:
        if store is None and fits_driver(cur_stats[0] * DRIVER_ROW_BYTES, driver_finish_bytes):
            # the (contracted) edge set fits: finish now, or cut the
            # convergence tail (the remaining rounds are many tiny
            # all-cluster jobs)
            remap = driver_remap(cur)
            free_local_checkpoint(cur)
            return _label(remap)
        if it >= max_iters:
            break
        if broadcast_min is None:
            # the per-star min-map is one skinny row per live vertex and
            # shrinks every round; broadcasting it makes the adj join
            # map-side, halving the exchanges per half-round. Size-gated
            # BOTH ways (the pagerank lesson): worth it only when adj is
            # big enough that its shuffle dominates the per-half-round
            # broadcast construction (≥1M edges), and possible only while
            # the vertex set fits the one driver budget (16 bytes a row,
            # about 4.2M rows; see pagerank_df's gate rationale)
            broadcast_min = cur_stats[0] >= 1_000_000 and fits_driver(
                verts.count() * DRIVER_ROW_BYTES, DRIVER_BYTES
            )
        # one large-star + small-star pair per convergence check: 2 pairs
        # per check measured SLOWER on this setup (7.5s vs 30s at sf0.1 —
        # the un-checkpointed intermediate star pass costs more than the
        # check it saves)
        stepped = _small_star(_large_star(cur, broadcast_min), broadcast_min)
        # the convergence stats ride observe() on the round's own
        # materialization — one action per round (the separate stats agg
        # was the second)
        it_obs = Observation()
        stepped = stepped.observe(it_obs, *content_hash("src", "dst")).localCheckpoint(
            eager=True
        )
        new_stats = hash_value(it_obs.get)
        free_local_checkpoint(cur)  # superseded round checkpoint
        cur = stepped
        it += 1
        converged = new_stats == cur_stats
        if store is not None:
            store.commit(
                cur,
                {
                    "kind": "exact_cc",
                    "iteration": it,
                    "edge_fp": edge_fp,
                    "c": new_stats[0],
                    "h": new_stats[1],
                    "converged": converged,
                },
            )
        if converged:
            break
        cur_stats = new_stats

    # converged: `cur` is a star forest (src = component min, dst = member)
    return _label(cur.select(F.col("dst").alias("v"), F.col("src").alias("c")))
