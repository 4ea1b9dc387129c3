"""Micro-batch graph-stream driver: breakpoints, eager cache, checkpoint/resume.

The Spark rendering of the reference's GraphSketchDriver + eager-DSU
optimization (SURVEY.md §3, include/graph_sketch_driver.h, eager pre_insert at
src/cc_sketch_alg.cpp:79-104):

- the stream is a seq-ordered DataFrame of (seq, type, src, dst) toggle
  updates; `process_stream_until(k)` applies micro-batches of updates with
  seq < k (the reference's breakpoint mechanism, graph_sketch_driver.h:141-191);
- per batch the sketch state advances by a *linear merge* with the batch
  delta (sketches are additive), so ingest is incremental and replayable;
- an eager driver-side DSU answers connectivity queries instantly during
  insert-dominant stretches; it is invalidated when a batch deletes a current
  spanning-forest edge and repopulated by the next Boruvka query — exactly
  the reference's caching contract (has_cached_query / prep_query);
- every batch optionally commits a checkpoint snapshot (state + seq
  watermark + per-partition metrics); `GraphStreamDriver.resume` continues
  from the latest snapshot (north_rule resumability).
"""

from __future__ import annotations

import threading
from concurrent.futures import Future, ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphzeppelin_spark.config import DriverConfig, SketchConfig
from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.sketch.dsu import NumpyDSU
from graphzeppelin_spark.streaming.checkpoint import CheckpointStore


class GraphStreamDriver:
    def __init__(
        self,
        spark: SparkSession,
        stream: DataFrame,
        num_vertices: int,
        seed: int = 42,
        variant: str = "cameo",
        checkpoint_dir: str | None = None,
        eager: bool = True,
        eager_batch_limit: int = 500_000,
        config: "DriverConfig | None" = None,
        sketch_config: "SketchConfig | None" = None,
        validate_stream: bool = False,
    ):
        if sketch_config is None:
            sketch_config = SketchConfig(seed=seed, variant=variant)
        if config is not None:  # unified config surface (config.DriverConfig)
            checkpoint_dir = config.checkpoint_dir
            eager = config.eager
            eager_batch_limit = config.eager_batch_limit
            validate_stream = config.validate_stream
        self.spark = spark
        self.stream = stream
        self.num_vertices = num_vertices
        self.alg = SketchCC(spark, num_vertices, config=sketch_config)
        self.state: DataFrame | None = None
        self.applied_seq = 0
        self.store = CheckpointStore(spark, checkpoint_dir) if checkpoint_dir else None
        self.seed = sketch_config.seed
        self.variant = sketch_config.variant
        # eager cache (reference pre_insert / dsu_valid)
        self.eager = eager
        self.eager_batch_limit = eager_batch_limit
        self._dsu: NumpyDSU | None = NumpyDSU(num_vertices) if eager else None
        # spanning-forest membership, packed as a SORTED int64 array of
        # lo*n+hi codes (lo<hi): ~8B/edge vs ~100B+/edge for a Python set of
        # tuples — at the driver-DSU ceiling (~10^8-vertex graphs) the
        # difference is tens of GB of driver heap. Probes are vectorized
        # binary searches (_forest_contains); codes fit int64 for
        # n < 3*10^9, far beyond this path's own regime.
        self._forest: np.ndarray = np.empty(0, dtype=np.int64)
        self._dsu_valid = eager
        # opt-in CROSS-BATCH stream validation (the one malformation class
        # the |net|>1 in-slice guard cannot see: two inserts of one edge in
        # DIFFERENT micro-batches each net +1 and silently corrupt the
        # merged state — SketchCC._canonical_updates docstring). The
        # reference assumes an alternating stream per edge at the producer;
        # this engine can additionally CHECK it, because unlike the
        # reference it already materializes distributed per-batch tables: a
        # live-edge parity side-table (one 16-byte row per live edge,
        # checkpointed per batch) is outer-joined with each batch's net edge
        # view and raises on a double-insert or dead-delete. Cost: one
        # extra O(live edges) join+checkpoint per batch — opt-in. Parity is
        # a PURE FUNCTION of the stream prefix, so resume() rebuilds it
        # with one group-by over stream[seq < watermark] (_rebuild_parity)
        # — full validation coverage survives a restart, no persisted
        # side-table needed.
        self.validate_stream = validate_stream
        self._parity: DataFrame | None = None
        # track_insertions analog (reference tools/process_stream.cpp:27-61):
        # per-batch ingest metrics, also embedded in checkpoint metadata
        self.metrics: list[dict] = []
        # query-during-ingest overlap: live snapshots pin their state DF so
        # ingest's unpersist of a superseded state can't yank blocks out from
        # under a concurrently running query (see snapshot())
        self._pinned: dict[int, tuple[DataFrame, int]] = {}  # id -> (df, refs)
        self._pin_lock = threading.Lock()  # guards _pinned + the unpersist race
        self._executor: ThreadPoolExecutor | None = None

    # ----------------------------------------------------------------- ingest

    def process_stream_until(self, seq: int, batch_size: int | None = None) -> None:
        """Apply updates with applied_seq <= `seq` < seq, in micro-batches."""
        if seq <= self.applied_seq:
            return
        lo = self.applied_seq
        # watermark advances PER BATCH, not after the loop: if batch k+1
        # fails (e.g. validate_stream rejects it) after batch k merged,
        # applied_seq must reflect the merged batches or a retry would
        # re-apply them into the linear state
        if batch_size is None:
            self._apply_batch(lo, seq)
            self.applied_seq = seq
        else:
            for b_lo in range(lo, seq, batch_size):
                b_hi = min(b_lo + batch_size, seq)
                self._apply_batch(b_lo, b_hi)
                self.applied_seq = b_hi

    def _apply_batch(self, lo: int, hi: int) -> None:
        import time

        from graphzeppelin_spark.session import aqe_off

        t0 = time.time()
        batch = self.stream.where((F.col("seq") >= lo) & (F.col("seq") < hi))
        if self.validate_stream:
            self._validate_batch(batch)
        delta = self.alg.build_state(batch)
        if self.state is None:
            new_state = delta
        else:
            new_state = self.alg.merge_states(self.state, delta)
        # the ingest shuffles are few/large/fixed-width: AQE off for the
        # materializing action (see session.aqe_off)
        with aqe_off(self.spark):
            if self.store is not None:
                snap = self.store.commit(
                    new_state,
                    {
                        "seed": self.seed,
                        "num_vertices": self.num_vertices,
                        "variant": self.variant,
                        "samples_factor": self.alg.geom.samples_factor,
                        "seq_watermark": hi,
                        "dsu_valid": False,  # reheat always requires a fresh query
                        "ingest_metrics": self.metrics[-20:],
                    },
                )
                new_state, _ = self.store.read(snap)  # clean lineage from disk
            else:
                new_state = new_state.localCheckpoint(eager=True)
            # swap FIRST, then drop: _unpin decides "superseded?" by comparing
            # against self.state, so the old state must already be superseded
            # when its pin check runs (unpersist is idempotent, a miss is not)
            old_state = self.state
            self.state = new_state.persist()
            if old_state is not None:
                self._drop_state(old_state)
        wall = time.time() - t0
        self.metrics.append(
            {
                "seq_lo": lo,
                "seq_hi": hi,
                "wall_s": round(wall, 3),
                "updates_per_sec": round((hi - lo) / max(wall, 1e-9), 1),
            }
        )
        if self.eager:
            self._eager_maintain(batch)

    def _validate_batch(self, batch: DataFrame) -> None:
        """Cross-batch stream-contract check (opt-in, see __init__).

        Per batch: canonical per-edge net (the within-batch |net|>1 guard
        comes along via _net_guard's eid alias) is full-outer-joined with
        the live-edge parity table; a live edge with batch net=+1 is a
        cross-batch double insert, a dead edge with net=-1 a dead delete —
        both raise inside the join job (F.raise_error), so a malformed
        producer fails the batch BEFORE its delta reaches the sketch state.
        The surviving rows are exactly the new live-edge set, checkpointed
        as next batch's table."""
        from graphzeppelin_spark.session import free_local_checkpoint

        canon = self.alg._canonical_updates(batch)
        net = (
            canon.groupBy("lo", "hi")
            .agg(F.sum("sign").alias("net"))
            # reuse the shared guard (it references an `eid` column)
            .withColumn("eid", F.col("lo") * F.lit(self.num_vertices) + F.col("hi"))
            .where(self.alg._net_guard())
            .select("lo", "hi", "net")
        )
        live = (
            self._parity
            if self._parity is not None
            else self.spark.createDataFrame([], "lo long, hi long")
        ).withColumn("_live", F.lit(True))
        joined = net.join(live, ["lo", "hi"], "full_outer").select(
            "lo",
            "hi",
            F.coalesce("_live", F.lit(False)).alias("was_live"),
            F.coalesce("net", F.lit(0)).alias("net"),
        )
        bad = (F.col("was_live") & (F.col("net") == 1)) | (
            ~F.col("was_live") & (F.col("net") == -1)
        )
        checked = joined.select(
            "lo",
            "hi",
            F.when(
                bad,
                F.raise_error(
                    F.concat(
                        F.lit("malformed stream: cross-batch "),
                        F.when(F.col("net") == 1, F.lit("double insert"))
                        .otherwise(F.lit("dead delete")),
                        F.lit(" of edge ("),
                        F.col("lo").cast("string"),
                        F.lit(","),
                        F.col("hi").cast("string"),
                        F.lit(")"),
                    )
                ).cast("boolean"),
            )
            .otherwise(
                # live XOR toggled: net=0 keeps prior liveness; net=+1 turns
                # on (was dead, checked above); net=-1 turns off
                F.when(F.col("net") == 0, F.col("was_live")).otherwise(
                    F.col("net") == 1
                )
            )
            .alias("now_live"),
        )
        new_parity = (
            checked.where(F.col("now_live")).select("lo", "hi")
            .localCheckpoint(eager=True)  # raises here on violation
        )
        if self._parity is not None:
            free_local_checkpoint(self._parity)
        self._parity = new_parity

    def _rebuild_parity(self) -> None:
        """Reconstruct the live-edge parity table from the stream prefix.

        Liveness is 'signed net = +1 before the watermark' (insert +1,
        delete -1) — a pure function of the stream — so a resumed driver
        does NOT need a persisted side-table: one O(prefix) canonical
        group-by restores cross-batch validation coverage. Without this, a
        resumed parity table restarting empty would raise a FALSE 'dead
        delete' on any legitimate delete of an edge inserted before the
        checkpoint (it would see was_live=False with net=-1 on a well-formed
        stream).

        The rebuild also guards the prefix itself: a per-edge signed net
        outside {0, 1} (double insert -> +2, dead delete -> -1 overall)
        raises, so enabling validate_stream first at resume over a prefix
        that was never validated still rejects a malformed prefix instead
        of silently folding it into the parity table. (This is net-level,
        not event-order-level: an in-prefix sequence like insert,insert,
        delete,delete nets to 0 and passes here, where the from-seq-0
        driver would have raised at the batch boundary — full event-order
        coverage of the prefix requires it to have been validated when it
        was first applied.)"""
        pre = self.stream.where(F.col("seq") < F.lit(self.applied_seq))
        net = (
            pre.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"),
                F.when(F.col("type") == 0, F.lit(1)).otherwise(F.lit(-1)).alias(
                    "sign"
                ),
            )
            .groupBy("lo", "hi")
            .agg(F.sum("sign").alias("net"))
        )
        bad = ~F.col("net").isin(0, 1)
        self._parity = (
            net.select(
                "lo",
                "hi",
                F.when(
                    bad,
                    F.raise_error(
                        F.concat(
                            F.lit("malformed stream prefix at resume: edge ("),
                            F.col("lo").cast("string"),
                            F.lit(","),
                            F.col("hi").cast("string"),
                            F.lit(") has signed net "),
                            F.col("net").cast("string"),
                            F.lit(" (expected 0 or 1)"),
                        )
                    ).cast("long"),
                ).otherwise(F.col("net")).alias("net"),
            )
            .where(F.col("net") == 1)
            .select("lo", "hi")
            .localCheckpoint(eager=True)  # raises here on a malformed prefix
        )

    def _eager_maintain(self, batch: DataFrame) -> None:
        """Reference pre_insert analog on a whole micro-batch: insert edges
        union-found eagerly; a delete of a current forest edge invalidates the
        cached labeling. Skipped (cache invalidated) for oversized batches."""
        if not self._dsu_valid:
            return
        rows = (
            batch.select(
                "seq",
                "type",
                F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"),
            )
            .where(F.col("lo") != F.col("hi"))
            .limit(self.eager_batch_limit + 1)
            .toPandas()
        )
        if len(rows) > self.eager_batch_limit:
            self._dsu_valid = False
            return
        types = rows["type"].to_numpy()
        lo = rows["lo"].to_numpy(np.int64)
        hi = rows["hi"].to_numpy(np.int64)
        del_mask = types != 0
        n = self.num_vertices
        if del_mask.any():
            # sequential-order reasoning without sequential replay: forest
            # edges never leave the forest except via invalidation, so a
            # delete invalidates iff its edge is in the PRE-batch forest or
            # was inserted (and unioned) earlier in this same batch. The
            # first case is a vectorized binary-search probe; the second is
            # only possible when a delete's edge also appears as an insert
            # in this batch — rare, and the one case that genuinely needs
            # ordered replay.
            del_codes = lo[del_mask] * n + hi[del_mask]
            if self._forest_contains(del_codes).any():
                self._dsu_valid = False
                return
            ins_codes = lo[~del_mask] * n + hi[~del_mask]
            if np.isin(del_codes, ins_codes).any():
                self._eager_replay_ordered(rows)
                return
            lo, hi = lo[~del_mask], hi[~del_mask]
        # insert-only (or delete-is-no-op) batch: vectorized DSU union passes,
        # no per-row Python loop on the ingest critical path
        applied = self._dsu.union_edges_bulk(lo, hi)
        if applied.any():
            self._forest_add(lo[applied] * n + hi[applied])

    def _forest_contains(self, codes: np.ndarray) -> np.ndarray:
        """Vectorized membership mask against the sorted packed forest."""
        if len(self._forest) == 0:
            return np.zeros(len(codes), dtype=bool)
        idx = np.searchsorted(self._forest, codes)
        idx[idx == len(self._forest)] = 0  # clip; compare will reject
        return self._forest[idx] == codes

    def _forest_add(self, codes: np.ndarray) -> None:
        """Merge new codes into the sorted packed forest in O(F + B log F)
        (B = batch adds): sort/dedupe the small batch, binary-search the
        insertion points, one np.insert copy. The previous np.union1d
        concatenated and RE-SORTED the entire forest every micro-batch —
        an O(F log F) full-array sort per batch, a 10^8-element sort each
        time at the driver-DSU ceiling this packing targets."""
        if len(codes) == 0:
            return
        codes = np.unique(codes.astype(np.int64, copy=False))
        if len(self._forest) == 0:
            self._forest = codes
            return
        idx = np.searchsorted(self._forest, codes)
        # defensive dedupe vs the existing forest (applied edges are new,
        # but a duplicate would silently break the binary-search probes)
        probe = np.minimum(idx, len(self._forest) - 1)
        present = self._forest[probe] == codes
        if present.any():
            codes, idx = codes[~present], idx[~present]
        if len(codes):
            self._forest = np.insert(self._forest, idx, codes)

    def _eager_replay_ordered(self, rows) -> None:
        """Scalar stream-order replay — only for the rare batch where a
        delete may cancel an insert from the same batch (unordered replay
        could union a net-dead edge into the forest with no invalidation)."""
        rows = rows.sort_values("seq")
        types = rows["type"].to_numpy()
        lo = rows["lo"].to_numpy(np.int64)
        hi = rows["hi"].to_numpy(np.int64)
        n = self.num_vertices
        codes = lo * n + hi
        # batch-local adds buffered in a small set (bounded by batch size);
        # merged into the packed array once at the end — per-row probes are
        # one binary search + one set probe
        pending: set[int] = set()
        for s, d, c, t in zip(lo.tolist(), hi.tolist(), codes.tolist(), types.tolist()):
            if t == 0:
                ra, rb = self._dsu.find(s), self._dsu.find(d)
                if ra != rb:
                    lo_r, hi_r = (ra, rb) if ra < rb else (rb, ra)
                    self._dsu.parent[hi_r] = lo_r
                    pending.add(c)
            else:
                if c in pending or self._forest_contains(
                    np.array([c], dtype=np.int64)
                ).any():
                    self._dsu_valid = False
                    return
        if pending:
            self._forest_add(np.fromiter(pending, dtype=np.int64, count=len(pending)))

    # ------------------------------------------------- query-during-ingest

    def _drop_state(self, df: DataFrame) -> None:
        """Unpersist a superseded state unless a live snapshot pins it.

        All pin-map mutations and the unpersist decision run under one lock:
        the ingest thread and the query executor thread both touch this map,
        and an unlocked read-modify-write could lose a live pin (state
        unpersisted under a running query) or leak one forever."""
        from graphzeppelin_spark.session import free_local_checkpoint

        with self._pin_lock:
            if id(df) in self._pinned:
                return  # released when the last snapshot referencing it closes
            df.unpersist()
            free_local_checkpoint(df)  # non-store states are localCheckpoints

    def _unpin(self, df: DataFrame) -> None:
        from graphzeppelin_spark.session import free_local_checkpoint

        with self._pin_lock:
            key = id(df)
            held, refs = self._pinned[key]
            if refs > 1:
                self._pinned[key] = (held, refs - 1)
            else:
                del self._pinned[key]
                if held is not self.state:  # superseded while the snapshot ran
                    held.unpersist()
                    free_local_checkpoint(held)

    def snapshot(self) -> "StateSnapshot":
        """Point-in-time query handle over the current state.

        The Spark analog of the reference's pause/flush worker protocol
        (worker_thread_group.h:136-161): there, queries run against a flushed
        consistent state while reader threads keep buffering; here, the
        persisted state DataFrame is immutable, so a snapshot simply pins the
        current state + seq watermark and queries it — concurrently with
        further process_stream_until() batches, which build NEW state DFs and
        never mutate pinned ones. Spark schedules jobs submitted from
        different driver threads concurrently, so a long Boruvka and the next
        batch's build/merge genuinely overlap. Close the snapshot (or use it
        as a context manager) to release its pin.

        State is captured ONCE under the pin lock and that same reference is
        pinned in the same critical section — reading self.state twice would
        let an _apply_batch swap between the reads pin the new state while
        the snapshot queries (and later unpins) the old one."""
        with self._pin_lock:
            state = self.state
            seq = self.applied_seq
            if state is not None:
                key = id(state)
                held, refs = self._pinned.get(key, (state, 0))
                self._pinned[key] = (held, refs + 1)
        return StateSnapshot(self, state, seq)

    def connected_components_async(self) -> Future:
        """Boruvka on a snapshot of the current state, on a background
        thread; ingest may continue immediately. Returns a Future of the
        labels array (as-of the snapshot's seq watermark)."""
        snap = self.snapshot()
        if self._executor is None:
            self._executor = ThreadPoolExecutor(
                max_workers=2, thread_name_prefix="gz-query"
            )

        def _run():
            with snap:
                return snap.connected_components()

        return self._executor.submit(_run)

    # ---------------------------------------------------------------- queries

    def connected_components(self) -> np.ndarray:
        """Exact labeling (component = min member id). Uses the eager cache when
        valid (no sketch work at all — the reference's cached-query fast path);
        otherwise runs distributed Boruvka and repopulates the cache."""
        if self.eager and self._dsu_valid:
            return self._dsu.labels()
        if self.state is None:
            return np.arange(self.num_vertices, dtype=np.int64)
        labels, forest = self.alg.boruvka(self.state)
        if self.eager:
            self._dsu = NumpyDSU(self.num_vertices)
            self._dsu.parent = labels.copy()
            if len(forest):
                flo = np.minimum(forest[:, 0], forest[:, 1])
                fhi = np.maximum(forest[:, 0], forest[:, 1])
                self._forest = np.sort(flo * self.num_vertices + fhi)
            else:
                self._forest = np.empty(0, dtype=np.int64)
            self._dsu_valid = True
        self._last_forest = forest
        return labels

    def spanning_forest(self) -> np.ndarray:
        if self.state is None:
            return np.empty((0, 2), dtype=np.int64)
        _, forest = self.alg.boruvka(self.state)
        return forest

    def point_query(self, a: int, b: int) -> bool:
        labels = self.connected_components()
        return bool(labels[a] == labels[b])

    def num_components(self) -> int:
        return int(len(np.unique(self.connected_components())))

    # ----------------------------------------------------------------- resume

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        stream: DataFrame,
        checkpoint_dir: str,
        eager: bool = True,
        eager_batch_limit: int = 500_000,
        validate_stream: bool = False,
    ) -> "GraphStreamDriver":
        """Reconstruct a driver from the latest snapshot; continues the stream
        from the committed seq watermark (reference construct_from_serialized_data:
        reheated state, dsu_valid=false).

        validate_stream: forwarded (it previously dropped silently across
        restarts); the live-edge parity table is rebuilt from the stream
        prefix (_rebuild_parity) so coverage is identical to a driver that
        validated from seq 0 — one extra O(prefix) group-by at resume."""
        store = CheckpointStore(spark, checkpoint_dir)
        state, meta = store.read()
        drv = cls(
            spark,
            stream,
            num_vertices=meta["num_vertices"],
            sketch_config=SketchConfig(
                seed=meta["seed"],
                variant=meta["variant"],
                samples_factor=meta.get("samples_factor", 1.0),
            ),
            checkpoint_dir=checkpoint_dir,
            eager=eager,
            eager_batch_limit=eager_batch_limit,
            validate_stream=validate_stream,
        )
        drv.state = state.persist()
        drv.applied_seq = meta["seq_watermark"]
        drv._dsu_valid = False  # reheat forces a fresh query
        if validate_stream and drv.applied_seq > 0:
            drv._rebuild_parity()
        return drv


class StateSnapshot:
    """Frozen (state, seq_watermark) view for queries that overlap ingest.

    All queries answer as-of `seq_watermark`. The snapshot holds a pin on the
    state DataFrame's cached blocks; close() (or context-manager exit)
    releases it, at which point a superseded state is unpersisted."""

    def __init__(self, driver: GraphStreamDriver, state: DataFrame | None, seq: int):
        self._driver = driver
        self._state = state
        self.seq_watermark = seq
        self._closed = False

    def connected_components(self) -> np.ndarray:
        if self._state is None:
            return np.arange(self._driver.num_vertices, dtype=np.int64)
        labels, _ = self._driver.alg.boruvka(self._state)
        return labels

    def spanning_forest(self) -> np.ndarray:
        if self._state is None:
            return np.empty((0, 2), dtype=np.int64)
        _, forest = self._driver.alg.boruvka(self._state)
        return forest

    def point_query(self, a: int, b: int) -> bool:
        labels = self.connected_components()
        return bool(labels[a] == labels[b])

    def num_components(self) -> int:
        return int(len(np.unique(self.connected_components())))

    def close(self) -> None:
        if not self._closed and self._state is not None:
            self._driver._unpin(self._state)
        self._closed = True

    def __enter__(self) -> "StateSnapshot":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
