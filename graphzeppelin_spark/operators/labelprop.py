"""Label propagation over an edge DataFrame.

Deterministic synchronous variant (FIXTURES.md §3): every vertex starts with
label = its own id; each superstep every vertex adopts the minimum label among
itself and its neighbors; fixpoint. (The min-rule makes the fixpoint exactly
the connected-component min-labeling, which gives an exact oracle; the classic
mode-label community variant is non-deterministic under ties and is exposed
via `rule="mode"` for completeness, tie-broken by smallest label.)

One shuffle per superstep (groupBy(v) of neighbor labels — min/mode both
partial-aggregable; mode uses count-per-(v,label) then argmax, two shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphzeppelin_spark.config import DRIVER_BYTES
from graphzeppelin_spark.functions.edges import (
    fits_broadcast,
    stage_edges,
)


def label_propagation_df(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 30,
    rule: str = "min",
    jump: bool = True,
    checkpoint_dir: str | None = None,
    broadcast_max_bytes: int = 64 * 1024 * 1024,
    big_threshold: int = 1_000_000,
    driver_finish_bytes: int = DRIVER_BYTES,
) -> DataFrame:
    """Return (v:long, label:long).

    jump (min rule only): add a pointer-jumping step label(v) <- label(label(v))
    per superstep — labels are vertex ids, so this reaches the same min-label
    fixpoint in O(log d) instead of O(d) rounds on high-diameter graphs.

    checkpoint_dir: commit the label table after every superstep (snapshot +
    iteration/signature metadata + per-partition lineage, streaming/
    checkpoint.py — same mechanism and guard discipline as pagerank_df) and
    RESUME mid-convergence when the directory already holds snapshots for
    the same (rule, jump, n, edge-fingerprint) run; a converged snapshot
    short-circuits without re-iterating."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # size-gated plan shape, same discipline and same measured rationale as
    # pagerank_df: big graphs partition the immutable edge table ONCE on the
    # superstep join key and broadcast the skinny label tables; small graphs
    # keep the plain AQE-coalesced shuffle plan (per-superstep broadcast
    # construction costs more than it saves there). stage_edges persists the
    # narrow projection BEFORE the gate count — caller's plan runs once.
    edges_bi, m_bi, big_edges = stage_edges(
        edges, directed=False, n_part=n_part, big_threshold=big_threshold
    )
    # bidirected table: every vertex appears as src, so distinct(src) IS the
    # vertex set — half the scan of vertices_of's src∪dst union (same
    # observation as pagerank_df's deg-from-outdeg path)
    verts = (
        vertices
        if vertices is not None
        else edges_bi.select(F.col("src").alias("v")).distinct()
    )
    labels = verts.select(F.col("v").cast("long"), F.col("v").cast("long").alias("label"))

    labels = labels.persist()
    n_verts = labels.count()

    # Driver finish (round 8): the min-rule + jump fixpoint IS the
    # min-labeling of the connected components of the subgraph induced on
    # the labeled vertex set (labels only ever cross edges whose BOTH
    # endpoints are labeled — the nbr join keys on the labeled src, the
    # adopt join on the labeled dst), and with pointer jumping the
    # distributed loop provably reaches that fixpoint within
    # ~log2(n) supersteps (reach doubles per superstep). So when max_iters
    # covers a conservative 2*ceil(log2(n)) + 4 bound and the edge+vertex
    # set fits the byte gate, compute the fixpoint with one collect and the
    # vectorized numpy DSU instead of ~6 supersteps x 4 shuffles of Spark
    # round-trips — identical output by the fixpoint argument (same
    # economics and gate discipline as connected_components_df's driver
    # finish). Mode rule, no-jump, and checkpointed runs keep the loop.
    import math

    if (
        rule == "min"
        and jump
        and checkpoint_dir is None
        and max_iters >= 2 * math.ceil(math.log2(max(n_verts, 2))) + 4
        and (m_bi + n_verts) * 16 <= driver_finish_bytes
    ):
        import numpy as np
        import pandas as pd

        from graphzeppelin_spark.sketch.dsu import driver_components

        epdf = edges_bi.select("src", "dst").toPandas()
        ids = labels.select("v").toPandas()["v"].to_numpy(np.int64)
        s = epdf["src"].to_numpy(np.int64)
        d = epdf["dst"].to_numpy(np.int64)
        keep = np.isin(s, ids) & np.isin(d, ids)  # induced subgraph: both endpoints labeled
        ids, comp = driver_components(s[keep], d[keep], ids)
        labels.unpersist()
        edges_bi.unpersist()
        return spark.createDataFrame(
            pd.DataFrame({"v": ids, "label": comp}),
            schema="v long, label long",
        )

    # labels are two longs per row (16B); same byte-gate helper as pagerank
    broadcast_labels = big_edges and fits_broadcast(n_verts, 16, broadcast_max_bytes)

    def _sig(df: DataFrame) -> int:
        # order-insensitive content hash in one job (fixpoint detection)
        return int(
            df.agg(
                F.sum(F.xxhash64("v", "label").cast("decimal(38,0)")).alias("h")
            ).collect()[0]["h"]
            or 0
        )

    store = None
    start_iter = 0
    edge_fp = None
    cur_sig = None
    if checkpoint_dir is not None:
        from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

        # one cheap agg over the CACHED bidirected edges — a checkpoint dir
        # reused across different graphs must not silently resume
        fp = edges_bi.agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(30,0)")).alias("chk"),
        ).collect()[0]
        edge_fp = f"{fp['m']}:{fp['chk']}"
        store = CheckpointStore(spark, checkpoint_dir)
        if store.latest_id() is not None:
            snap, meta = store.read()
            if (
                meta.get("kind") == "labelprop"
                and meta.get("rule") == rule
                and meta.get("jump") == jump
                and meta.get("n") == n_verts
                and meta.get("edge_fp") == edge_fp
            ):
                labels.unpersist()
                # labels is the per-superstep join spine: re-establish the
                # v-partitioning the in-loop checkpoints would carry (same
                # resume treatment as pagerank_df — a resumed big-graph run
                # must not lose the tuned co-partitioned plan shape)
                if big_edges:
                    snap = snap.repartition(n_part, "v")
                labels = snap.persist()
                start_iter = int(meta["iteration"])
                cur_sig = int(meta["sig"])
                if meta.get("converged"):
                    edges_bi.unpersist()
                    return labels.select("v", "label")
    if cur_sig is None:
        cur_sig = _sig(labels)
    from pyspark.sql import Observation

    for _it in range(start_iter, max_iters):
        lbl = F.broadcast(labels) if broadcast_labels else labels
        nbr = edges_bi.join(lbl, edges_bi.src == lbl.v).select(
            F.col("dst").alias("v2"), "label"
        )
        if rule == "min":
            agg = nbr.groupBy("v2").agg(F.min("label").alias("nbr_label"))
        elif rule == "mode":
            counted = nbr.groupBy("v2", "label").agg(F.count("*").alias("c"))
            w = Window.partitionBy("v2").orderBy(F.desc("c"), F.asc("label"))
            agg = (
                counted.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("v2", F.col("label").alias("nbr_label"))
            )
        else:
            raise ValueError(f"unknown rule: {rule}")
        if broadcast_labels:
            agg = F.broadcast(agg)
        stepped = labels.join(agg, labels.v == F.col("v2"), "left").select(
            labels.v,
            (
                F.least("label", F.coalesce("nbr_label", "label"))
                if rule == "min"
                else F.coalesce("nbr_label", "label")
            ).alias("label"),
        )
        if rule == "min" and jump:
            mapping = stepped.select(
                F.col("v").alias("mv"), F.col("label").alias("mlabel")
            )
            if broadcast_labels:
                mapping = F.broadcast(mapping)
            stepped = stepped.join(
                mapping, stepped.label == mapping.mv, "left"
            ).select(
                stepped.v,
                F.least(stepped.label, F.coalesce("mlabel", stepped.label)).alias(
                    "label"
                ),
            )
        # the fixpoint signature rides observe() on the checkpoint that
        # materializes the superstep anyway — ONE action per superstep
        # (the separate _sig job was the second action)
        it_obs = Observation()
        new_labels = stepped.observe(
            it_obs,
            F.sum(F.xxhash64("v", "label").cast("decimal(38,0)")).alias("h"),
        ).localCheckpoint(eager=True)
        new_sig = int(it_obs.get["h"] or 0)
        labels.unpersist()
        from graphzeppelin_spark.session import free_local_checkpoint

        free_local_checkpoint(labels)  # no-op for the initial persisted plan
        labels = new_labels
        converged = new_sig == cur_sig
        if store is not None:
            store.commit(
                labels,
                {
                    "kind": "labelprop",
                    "iteration": _it + 1,
                    "rule": rule,
                    "jump": jump,
                    "n": n_verts,
                    "edge_fp": edge_fp,
                    "sig": new_sig,
                    "converged": converged,
                },
            )
        if converged:
            break
        cur_sig = new_sig
    edges_bi.unpersist()
    return labels.select("v", "label")
