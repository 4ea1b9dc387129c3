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

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from graphzeppelin_spark.config import DRIVER_BYTES, DRIVER_ROW_BYTES, fits_driver
from graphzeppelin_spark.functions.edges import (
    content_hash,
    hash_value,
    stage_edges,
)
from graphzeppelin_spark.session import free_local_checkpoint
from graphzeppelin_spark.sketch.dsu import driver_components


def label_propagation_df(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 30,
    rule: str = "min",
    jump: bool = True,
    checkpoint_dir: str | None = None,
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
    RESUME mid-convergence when the latest snapshot is a label propagation
    run with the same (rule, jump, n, edge-fingerprint); any other snapshot
    starts fresh, and a converged one short-circuits without re-iterating.

    The min rule with jump, no checkpoint_dir, max_iters >= 2*ceil(log2 n)
    + 4 and edges + vertices within `driver_finish_bytes` (0 disables it)
    takes the numpy driver finish. big_threshold is the bidirected-edge row
    count from which the superstep loop partitions the edge table once and
    broadcasts labels (while they fit DRIVER_BYTES)."""
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
    if (
        rule == "min"
        and jump
        and checkpoint_dir is None
        and max_iters >= 2 * math.ceil(math.log2(max(n_verts, 2))) + 4
        and fits_driver((m_bi + n_verts) * DRIVER_ROW_BYTES, driver_finish_bytes)
    ):
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

    # labels are two longs per row (16B): broadcast under the one driver budget
    broadcast_labels = big_edges and fits_driver(n_verts * DRIVER_ROW_BYTES, DRIVER_BYTES)

    store = None
    start_iter = 0
    edge_fp = None
    if checkpoint_dir is not None:
        from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

        # one cheap agg over the CACHED bidirected edges — a checkpoint dir
        # reused across different graphs must not silently resume
        fp = edges_bi.agg(*content_hash("src", "dst")).collect()[0]
        edge_fp = "%d:%d" % hash_value(fp)
        store = CheckpointStore(spark, checkpoint_dir)
        found = store.resume_point(
            "labelprop", rule=rule, jump=jump, n=n_verts, edge_fp=edge_fp
        )
        if found is not None:
            snap, meta = found
            labels.unpersist()
            # labels is the per-superstep join spine: re-establish the
            # v-partitioning the in-loop checkpoints would carry (same
            # resume treatment as pagerank_df — a resumed big-graph run
            # must not lose the tuned co-partitioned plan shape)
            if big_edges:
                snap = snap.repartition(n_part, "v")
            labels = snap.persist()
            start_iter = int(meta["iteration"])
            if meta.get("converged"):
                edges_bi.unpersist()
                return labels.select("v", "label")
    # order-insensitive content hash in one job (fixpoint detection)
    cur_sig = hash_value(labels.agg(*content_hash("v", "label")).collect()[0])

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
        # (a separate hash job was the second action)
        it_obs = Observation()
        new_labels = stepped.observe(
            it_obs, *content_hash("v", "label")
        ).localCheckpoint(eager=True)
        new_sig = hash_value(it_obs.get)
        labels.unpersist()
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
                    "c": new_sig[0],
                    "h": new_sig[1],
                    "converged": converged,
                },
            )
        if converged:
            break
        cur_sig = new_sig
    edges_bi.unpersist()
    return labels.select("v", "label")
