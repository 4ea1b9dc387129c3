"""PageRank as iterative DataFrame joins + groupBy(dst).sum().

Standard power iteration (damping 0.85 default), dangling mass redistributed
uniformly. Mandated by BASELINE.json north_rule (not in the reference repo,
which is CC-only); correctness target: allclose 1e-6 vs numpy power iteration
at convergence.

Scale notes: the contribution shuffle is groupBy(dst) with a *sum* — algebraic,
so partial aggregation collapses hub fan-in map-side. out-degree table is
computed once and persisted; ranks table is small (one row per vertex) and the
edges-join uses src as the key each round. Lineage truncated per iteration via
localCheckpoint (Iceberg snapshot per round in production — resumability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphzeppelin_spark.config import DRIVER_BYTES
from graphzeppelin_spark.functions.edges import (
    fits_broadcast,
    stage_edges,
    vertices_of,
)


def pagerank_df(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iters: int = 100,
    num_iters: int | None = None,
    directed: bool = False,
    checkpoint_dir: str | None = None,
    broadcast_max_bytes: int = 64 * 1024 * 1024,
    big_threshold: int = 1_000_000,
    driver_finish_bytes: int = DRIVER_BYTES,
) -> DataFrame:
    """Return (v:long, score:double). Undirected edges contribute both ways.

    num_iters: run exactly that many iterations (lockstep with an unrolled SQL
    oracle); otherwise iterate until max |delta| < tol.

    checkpoint_dir: commit the ranks table after every iteration (snapshot +
    iteration/delta metadata + per-partition lineage, streaming/checkpoint.py)
    and, if the directory already holds snapshots for the same (n, damping,
    directed) run, RESUME from the last committed iteration instead of
    starting over — the north_rule mid-convergence resumability, same
    mechanism for a crashed job or an intentional two-phase run.
    """
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # plan shape is SIZE-GATED (both effects measured on this box):
    # - big edge tables (≥1M directed rows): hash-partition ONCE on the
    #   per-iteration join key so the edge table never reshuffles, and
    #   broadcast the skinny ranks/contribs tables through the joins —
    #   kron_17's 21M-directed-row graph went 57s → 29s for 8 iterations;
    # - small graphs: per-iteration broadcast construction and fixed-width
    #   partitioning COST more than the AQE-coalesced tiny shuffles they
    #   replace (sf0.1 chain regressed 6s → 21s before this gate), so the
    #   plain shuffle plan stays.
    # stage_edges persists the directed-edge table BEFORE the gate count, so
    # the caller's (possibly expensive lazy) plan materializes exactly once.
    directed_edges, m_directed, big_edges = stage_edges(
        edges, directed=directed, n_part=n_part, big_threshold=big_threshold
    )

    # order-independent edge-set fingerprint (count + summed hash), needed
    # only when checkpointing: piggy-backed on the one-time deg
    # materialization via observe() so it costs no extra pass — a checkpoint
    # dir reused across different graphs (same n) must NOT silently resume
    # from the wrong ranks
    obs = None
    deg_src = directed_edges
    if checkpoint_dir is not None:
        from pyspark.sql import Observation

        obs = Observation()
        deg_src = directed_edges.observe(
            obs,
            F.count(F.lit(1)).alias("m"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(30,0)")).alias("chk"),
        )

    outdeg = (
        deg_src.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("outdeg"))
    )
    # one row per vertex: (v, outdeg or 0); for big graphs, partitioned on v
    # so the per-iteration deg⋈contribs join is co-partitioned with the
    # groupBy(v2) aggregation output (no exchange on either side)
    if vertices is None and not directed:
        # undirected default universe: EVERY graph vertex appears as src of
        # the bidirected table, so outdeg's key set IS the vertex set — no
        # second edge scan, no union+distinct, no join (measured: the
        # vertices_of distinct over the doubled edge cache was the dominant
        # setup cost at kron_19, BENCH/pagerank_staging.json)
        deg = outdeg
    else:
        verts = (
            vertices if vertices is not None else vertices_of(directed_edges)
        ).select(F.col("v").cast("long"))
        deg = verts.join(outdeg, "v", "left").select(
            "v", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
        )
    if big_edges:
        deg = deg.repartition(n_part, "v")
    deg = deg.persist()
    # ONE action: materializes deg (and fires the fingerprint observation);
    # its return value is the vertex count
    n = deg.count()

    store = None
    start_iter = 0
    ranks = None
    edge_fp = None
    iters = num_iters if num_iters is not None else max_iters
    if checkpoint_dir is not None:
        from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

        # the deg.count() above scanned the observed plan, so the fingerprint
        # is already computed — no extra job
        fp_row = obs.get
        edge_fp = f"{fp_row['m']}:{fp_row['chk']}"
        store = CheckpointStore(spark, checkpoint_dir)
        if store.latest_id() is not None:
            snap, meta = store.read()
            if (
                meta.get("kind") == "pagerank"
                and meta.get("n") == n
                and meta.get("damping") == damping
                and meta.get("directed") == directed
                and meta.get("edge_fp") == edge_fp
            ):
                if int(meta["iteration"]) > iters:
                    raise ValueError(
                        f"checkpoint at iteration {meta['iteration']} exceeds the "
                        f"requested {iters} iterations; use a fresh checkpoint_dir "
                        "or request more iterations"
                    )
                # ranks is the per-iteration join spine: re-establish the
                # v-partitioning the in-loop checkpoints would carry
                if big_edges:
                    snap = snap.repartition(n_part, "v")
                ranks = snap.persist()
                start_iter = int(meta["iteration"])

    if ranks is None:
        ranks = deg.select("v", F.lit(1.0 / n).alias("score"), "outdeg").persist()
        # uniform start: dangling mass is exactly n_dangling/n — countable
        # once, no per-iteration scan
        n_dangling = deg.where(F.col("outdeg") == 0).count()
        has_dangling = n_dangling > 0
        dangling = n_dangling / n
    else:  # resumed: one collect to recover the snapshot's dangling mass
        has_dangling = deg.where(F.col("outdeg") == 0).limit(1).count() > 0
        dangling = (
            (ranks.where(F.col("outdeg") == 0).agg(F.sum("score")).collect()[0][0] or 0.0)
            if has_dangling
            else 0.0
        )
    # ranks is one 24-byte row per vertex: while the estimated broadcast
    # payload fits (byte gate, default 64MB data ≈ 2.6M rows — a few hundred
    # MB as a built hash relation, inside default driver configs; row-count
    # gates undercount wide relations, so the gate is on bytes) the whole
    # iteration collapses to ONE skinny exchange (map-side join with edges +
    # partial-agg before the groupBy shuffle, contribs broadcast back into
    # ranks). Beyond that, the co-partitioned plan (edges and ranks
    # pre-hashed on their join keys, exchange only the contribs side) takes
    # over — the web-scale shape, since the edge table never reshuffles
    # either way. Only active for big edge tables (see the size gate above).
    broadcast_ranks = big_edges and fits_broadcast(n, 24, broadcast_max_bytes)
    from pyspark.sql import Observation

    # Driver finish (round 8): a LOCKSTEP power iteration over a byte-gated
    # small graph runs in numpy off one collect — 12 unrolled iterations cost
    # ~24 tiny shuffles as Spark jobs (~4s of pure round-trip latency at
    # sf0.1) vs milliseconds of vectorized scatter-adds. Same bounded
    # driver-finish economics as connected_components_df / boruvka: gated on
    # actual bytes (16B/row for edges + vertices), distributed beyond the
    # gate. Arithmetic is the Spark plan's expression verbatim, applied
    # per-edge then scatter-added per dst: on graphs with in-degree <= 2
    # (the oracle chains) the per-vertex sums are order-insensitive, so
    # results are bit-identical; beyond that the reduction order may differ
    # from the distributed partial-agg tree at the last-ulp level (the
    # operator's stated correctness target is allclose 1e-6). Lockstep mode
    # only — no dangling-mass feedback, no checkpoint store, no resume.
    if (
        num_iters is not None
        and store is None
        and not has_dangling
        and (m_directed + n) * 16 <= driver_finish_bytes
    ):
        import numpy as np
        import pandas as pd

        epdf = directed_edges.select("src", "dst").toPandas()
        dpdf = deg.select("v", "outdeg").toPandas()
        dv = dpdf["v"].to_numpy(np.int64)
        ids = np.sort(dv)
        odeg = np.zeros(len(ids), dtype=np.float64)
        odeg[np.searchsorted(ids, dv)] = dpdf["outdeg"].to_numpy(np.float64)
        s = epdf["src"].to_numpy(np.int64)
        d = epdf["dst"].to_numpy(np.int64)

        def _lookup(x):
            pos = np.searchsorted(ids, x)
            ok = (pos < len(ids)) & (ids[np.minimum(pos, len(ids) - 1)] == x)
            return pos, ok

        sp, s_ok = _lookup(s)  # src outside the universe: no ranks row joins
        dp, d_ok = _lookup(d)  # dst outside: contribution dropped by deg join
        sp, dp, d_ok = sp[s_ok], dp[s_ok], d_ok[s_ok]
        dp = dp[d_ok]
        score = np.full(len(ids), 1.0 / n)
        for _ in range(iters):
            contrib = score[sp] / odeg[sp]
            incoming = np.zeros(len(ids))
            np.add.at(incoming, dp, contrib[d_ok])
            score = (1 - damping) / n + damping * (incoming + dangling / n)
        ranks.unpersist()
        directed_edges.unpersist()
        deg.unpersist()
        return spark.createDataFrame(
            pd.DataFrame({"v": ids, "score": score}),
            schema="v long, score double",
        )

    # Lockstep fusion (round 8): when no per-iteration scalar feedback is
    # needed — fixed iteration count, no dangling mass to re-measure, no
    # checkpoint store — iterations chain LAZILY and only every FUSE-th one
    # materializes (localCheckpoint). The loop body is restructured onto the
    # persisted deg table as the join spine, so `ranks` is referenced exactly
    # once per iteration (in the contribs join) and the lazy plan grows
    # LINEARLY (the old ranks-spine would double the subtree per level). The
    # score expression is verbatim the unfused one (dangling is the constant
    # 0 here), so results are bit-identical; with in-degree <= 2 the
    # per-vertex sums are order-insensitive anyway. Measured at sf0.1
    # (12 unrolled iterations): 3.22s -> see OPTIMIZATION_r08.md.
    fuse = num_iters is not None and not has_dangling and store is None
    if fuse:
        FUSE = 4  # 2 and 4 measured equal-best at sf0.1; 12 regressed (AQE
        # replans the deep chained query per stage) — 4 keeps checkpoints rare
        prev_ckpt = None
        init_ranks = ranks
        for _it in range(start_iter, iters):
            r = F.broadcast(ranks) if broadcast_ranks else ranks
            contribs = (
                directed_edges.join(r, directed_edges.src == r.v)
                .select(
                    F.col("dst").alias("v2"),
                    (F.col("score") / F.col("outdeg")).alias("contrib"),
                )
                .groupBy("v2")
                .agg(F.sum("contrib").alias("incoming"))
            )
            c = F.broadcast(contribs) if broadcast_ranks else contribs
            new_ranks = deg.join(c, deg.v == c.v2, "left").select(
                deg.v,
                (
                    F.lit((1 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("incoming", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("score"),
                deg.outdeg,
            )
            if (_it + 1 - start_iter) % FUSE == 0 or _it == iters - 1:
                new_ranks = new_ranks.localCheckpoint(eager=True)
                if prev_ckpt is not None:
                    from graphzeppelin_spark.session import free_local_checkpoint

                    free_local_checkpoint(prev_ckpt)
                prev_ckpt = new_ranks
            ranks = new_ranks
        if init_ranks is not ranks:
            init_ranks.unpersist()
        directed_edges.unpersist()
        deg.unpersist()
        return ranks.select("v", "score")

    for _it in range(start_iter, iters):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (
            directed_edges.join(r, directed_edges.src == r.v)
            .select(
                F.col("dst").alias("v2"),
                (F.col("score") / F.col("outdeg")).alias("contrib"),
            )
            .groupBy("v2")
            .agg(F.sum("contrib").alias("incoming"))
        )
        c = F.broadcast(contribs) if broadcast_ranks else contribs
        # ONE action per iteration: the eager localCheckpoint materializes
        # the new ranks AND (via observe(), fired on that same job) yields
        # max|Δ| for the convergence test plus the new dangling mass for the
        # NEXT iteration — the old separate delta join-collect and dangling
        # scan actions are fused away (measured: they were ~half the
        # per-iteration actions at kron_19)
        new_core = ranks.join(c, ranks.v == c.v2, "left").select(
            ranks.v,
            (
                F.lit((1 - damping) / n)
                + F.lit(damping)
                * (F.coalesce("incoming", F.lit(0.0)) + F.lit(dangling / n))
            ).alias("score"),
            ranks.outdeg,
            F.col("score").alias("_old"),
        )
        metrics = []
        if num_iters is None:
            metrics.append(
                F.max(F.abs(F.col("score") - F.col("_old"))).alias("d")
            )
        if has_dangling:
            metrics.append(
                F.sum(
                    F.when(F.col("outdeg") == 0, F.col("score")).otherwise(0.0)
                ).alias("dmass")
            )
        if metrics:
            it_obs = Observation()
            new_core = new_core.observe(it_obs, *metrics)
        new_ranks = new_core.drop("_old").localCheckpoint(eager=True)
        if metrics:
            fired = it_obs.get
            if num_iters is None:
                delta = fired["d"]
            if has_dangling:
                dangling = fired["dmass"] or 0.0
        ranks.unpersist()
        if _it > start_iter:  # superseded per-iteration localCheckpoint
            from graphzeppelin_spark.session import free_local_checkpoint

            free_local_checkpoint(ranks)
        ranks = new_ranks
        if store is not None:
            store.commit(
                ranks,
                {
                    "kind": "pagerank",
                    "iteration": _it + 1,
                    "n": n,
                    "damping": damping,
                    "directed": directed,
                    "edge_fp": edge_fp,
                    "delta": None if num_iters is not None else float(delta),
                },
            )
        if num_iters is None and delta < tol:
            break
    directed_edges.unpersist()
    deg.unpersist()
    return ranks.select("v", "score")
