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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphzeppelin_spark.config import DRIVER_BYTES, DRIVER_ROW_BYTES, fits_driver
from graphzeppelin_spark.functions.edges import vertices_of


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


def connected_components_df(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 50,
    checkpoint_each_round: bool = True,
    pairs_per_check: int = 1,
    checkpoint_dir: str | None = None,
    driver_finish_bytes: int = DRIVER_BYTES,
) -> DataFrame:
    """Return (v:long, component:long), component = min vertex id in component.

    `edges` must be canonical undirected (src<dst, no loops); `vertices`
    optionally supplies the full vertex universe (isolated vertices included).

    checkpoint_dir: commit the contracted edge set after every round
    (snapshot + round/stats metadata + per-partition lineage) and RESUME
    mid-convergence when the directory holds snapshots for the same input
    (guarded by the input edge set's count+hash fingerprint) — the same
    mechanism as pagerank_df / label_propagation_df; a converged snapshot
    short-circuits straight to the labeling join.

    driver_finish_bytes: when the (possibly already contracted) edge set
    provably fits this byte budget (16 bytes/edge), finish with one collect
    and a vectorized numpy DSU instead of more star-contraction rounds —
    the same bounded driver-finish economics as SketchCC.boruvka (the
    reference's whole query is in-memory; we drop down exactly when it
    provably fits). Correct mid-convergence because each star round
    preserves the component partition over the surviving vertices and every
    non-minimum member stays an edge endpoint until convergence (Kiveris et
    al. §3 invariants; regression-tested against the recursive oracle from
    forced mid-round finishes). The DSU labels are canonical (min member
    id) — identical to the star-contraction fixpoint. Disabled when
    checkpointing (the per-round snapshot/resume contract is the point
    there); 0 disables it outright."""
    verts = vertices if vertices is not None else vertices_of(edges)
    cur = edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).distinct()
    cur = cur.localCheckpoint(eager=True) if checkpoint_each_round else cur.persist()
    def _stats(df: DataFrame) -> tuple[int, int]:
        # one aggregate job: (row count, order-insensitive content hash) —
        # equal stats <=> equal edge set whp; replaces a count + exceptAll join
        r = df.agg(
            F.count("*").alias("c"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return int(r["c"]), int(r["h"] or 0)

    cur_stats = _stats(cur)
    store = None
    start_iter = 0
    edge_fp = None
    resumed_converged = False
    if checkpoint_dir is not None:
        from graphzeppelin_spark.session import free_local_checkpoint
        from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

        edge_fp = f"{cur_stats[0]}:{cur_stats[1]}"  # INPUT fingerprint
        store = CheckpointStore(edges.sparkSession, checkpoint_dir)
        if store.latest_id() is not None:
            snap, meta = store.read()
            if (
                meta.get("kind") == "exact_cc"
                and meta.get("edge_fp") == edge_fp
                and meta.get("pairs_per_check") == pairs_per_check
            ):
                if checkpoint_each_round:
                    free_local_checkpoint(cur)
                else:
                    cur.unpersist()
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

    def _driver_finish(cur_df: DataFrame) -> DataFrame:
        """One collect + vectorized numpy DSU over a byte-gated edge set;
        returns the (v, c) remap (c = component min, rows only where
        c != v) to feed the same labeling join as the star-forest path."""
        import pandas as pd

        from graphzeppelin_spark.sketch.dsu import driver_components

        pdf = cur_df.select("src", "dst").toPandas()
        ids, comp = driver_components(pdf["src"], pdf["dst"])
        changed = comp != ids
        return F.broadcast(
            edges.sparkSession.createDataFrame(
                pd.DataFrame({"v": ids[changed], "c": comp[changed]}),
                schema="v long, c long",
            )
        )

    finish_enabled = store is None
    if finish_enabled and fits_driver(cur_stats[0] * DRIVER_ROW_BYTES, driver_finish_bytes):
        remap = _driver_finish(cur)
        if checkpoint_each_round:
            from graphzeppelin_spark.session import free_local_checkpoint

            free_local_checkpoint(cur)
        else:
            cur.unpersist()
        return _label(remap)

    # the per-star min-map is one skinny row per live vertex and shrinks
    # every round; broadcasting it makes the adj join map-side, halving the
    # exchanges per half-round. Size-gated BOTH ways (the pagerank lesson):
    # worth it only when adj is big enough that its shuffle dominates the
    # per-half-round broadcast construction (≥1M edges), and possible only
    # while the vertex set safely fits a broadcast (≤4M rows — conservative,
    # validated well below the ceiling; see pagerank_df's gate rationale)
    broadcast_min = cur_stats[0] >= 1_000_000 and verts.count() <= 4_000_000
    from pyspark.sql import Observation

    for it in range(max_iters if resumed_converged else start_iter, max_iters):
        # pairs_per_check > 1 trades convergence checks for deeper lineage
        # per materialization; measured SLOWER on this setup (7.5s vs 30s at
        # sf0.1 with 2 pairs — the un-checkpointed intermediate star pass
        # costs more than the check it saves), so the default stays 1
        stepped = _small_star(_large_star(cur, broadcast_min), broadcast_min)
        if it > 0:
            for _ in range(pairs_per_check - 1):
                stepped = _small_star(_large_star(stepped, broadcast_min), broadcast_min)
        # the convergence stats ride observe() on the round's own
        # materialization — one action per round (the separate _stats agg
        # was the second)
        it_obs = Observation()
        stepped = stepped.observe(
            it_obs,
            F.count(F.lit(1)).alias("c"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        )
        if checkpoint_each_round:
            stepped = stepped.localCheckpoint(eager=True)
        else:
            stepped = stepped.persist()
            stepped.count()  # materialize + fire the observation
        r = it_obs.get
        new_stats = (int(r["c"]), int(r["h"] or 0))
        prev = cur
        cur = stepped
        if checkpoint_each_round:
            from graphzeppelin_spark.session import free_local_checkpoint

            free_local_checkpoint(prev)  # superseded round checkpoint
        else:
            prev.unpersist()
        converged = new_stats == cur_stats
        if store is not None:
            store.commit(
                cur,
                {
                    "kind": "exact_cc",
                    "iteration": it + 1,
                    "edge_fp": edge_fp,
                    "pairs_per_check": pairs_per_check,
                    "c": new_stats[0],
                    "h": new_stats[1],
                    "converged": converged,
                },
            )
        if converged:
            break
        cur_stats = new_stats
        if finish_enabled and fits_driver(cur_stats[0] * DRIVER_ROW_BYTES, driver_finish_bytes):
            # the contracted set shrank under the gate: cut the convergence
            # tail (the remaining rounds are many tiny all-cluster jobs)
            remap = _driver_finish(cur)
            if checkpoint_each_round:
                from graphzeppelin_spark.session import free_local_checkpoint

                free_local_checkpoint(cur)
            else:
                cur.unpersist()
            return _label(remap)

    # converged: `cur` is a star forest (src = component min, dst = member)
    return _label(cur.select(F.col("dst").alias("v"), F.col("src").alias("c")))
