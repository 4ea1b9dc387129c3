"""Distributed GraphZeppelin-style sketch connected components (Boruvka merges).

The Spark rendering of the reference's CC pipeline (SURVEY.md §3.1):

  reference (C++, one box)                     this engine (Spark)
  ------------------------------------------   --------------------------------
  guttering system shuffle by vertex           numpy gutters: a mapInArrow stage
                                               reads one packed seid column and
                                               ships one row of update keys per
                                               (Arrow batch, partition); one
                                               exchange; keys netted in numpy
  delta sketches + locked merge                per-partition SketchMatrix build
                                               (partition == final owner, so no
                                               second merge); a later batch
                                               folds into the state rows in
                                               the same python stage
  boruvka round: group members by root,        prune to round's sample-group
  range_merge + sample (OpenMP)                columns (the range_merge column
                                               pruning, done BEFORE the shuffle)
                                               → partial per-partition sums →
                                               groupBy(root) final sum + sample
  driver DSU on sampled edges                  numpy DSU on collected (root,eid)
                                               rows (≤ #components per round,
                                               geometrically shrinking)

The query is one Boruvka step, repeated (reference boruvka_emulation and
perform_boruvka_round, src/cc_sketch_alg.cpp:246-380 and 464-513): sum the
member sketches of every active component over a fresh sample group
(_sampled_components, the one per-root reduce — round 0 skips it because
every vertex is its own component), l0-sample each sum (_sample_batch), and
union the GOOD samples' edges in a DSU (_boruvka_step). boruvka() runs the first rounds in
Spark and finishes on the driver once the member rows of every active
component but the largest fit DRIVER_BYTES; connected_components_distributed
keeps the labels in Spark.

The driver finish never reads the largest component. Every update adds +eid
at its lo endpoint and -eid at its hi endpoint, so the sketches of all
vertices sum to zero, mod 2^64, in every bucket; a component that left the
active set sampled ZERO (empty cut), so its sum is zero too. The largest
active component's sum is therefore the negated sum of the other active
components' (the complement rule, _finish_driver_side): at kron_15 the
finish collects ~10-30 member rows where a per-root reduce read ~27k.

All three loops stop by one rule (_boruvka_done):

  - a ZERO sample (det bucket zero: the component's cut is empty) drops its
    component from the active set for good;
  - a group that merged nothing but had a FAIL moves on to the next group,
    as the reference counts a FAIL as a modification;
  - the loop stops when a group neither merged nor FAILed, once at most one
    non-ZERO component is left (cut edges are symmetric, so a lone one has
    nothing to merge with), or when the sample budget is spent.

State is a DataFrame (vertex: long, det: binary, grp: array<binary>) — the
Spark image of the reference's Bucket* arrays, laid out one sparse blob per
sample group (see STATE_SCHEMA) — checkpointable to parquet at any point.
Every python stage here is a mapInArrow stage over the Arrow state codec
(kernel.encode_group_rows / decode_group_rows): no pandas frame and no
Python object per row or blob on either side of the boundary.
The sketch is a linear aggregate, so a later micro-batch folds straight
into it: build_state(batch, base=state) decodes each state row into its
vertex's dense slot, adds the batch's updates and encodes once
(streaming/driver.py builds on this); merge_states sums two states in the
same stage.

Scale notes: the only full-width shuffle is the ingest's gutter exchange
(the reference's gutter shuffle), which moves a few hundred rows of packed
keys. Boruvka rounds ship pruned slices (~1/num_samples of the state) and
partial-aggregate per partition before the groupBy(root) exchange, so a
giant component never concentrates more rows on one reducer than there are
map partitions. At ingest a hub vertex's updates travel as bytes inside its
partition's gutters, and repeat updates net per key in numpy.
"""

from __future__ import annotations

from functools import cached_property
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphzeppelin_spark.config import (
    DRIVER_BYTES,
    DRIVER_ROW_BYTES,
    SketchConfig,
    fits_driver,
)
from graphzeppelin_spark.sketch.dsu import NumpyDSU
from graphzeppelin_spark.sketch.kernel import (
    FAIL,
    GOOD,
    ZERO,
    SketchGeometry,
    SketchMatrix,
    add_group_rows,
    binary_array,
    blob_values,
    cached_zero_buckets,
    decode_edges,
    decode_group_rows,
    encode_group_rows,
)

# State layout (round 8): det = the 16-byte deterministic bucket dense;
# grp[g] = sample group g's buckets as a sparse blob (kernel.encode_group_rows).
# Sample groups are contiguous bucket ranges, so a Boruvka round's column
# pruning (the reference's range_merge, sketch.cpp:156-179) is a JVM-side
# `slice(grp, lo, k)` — only the round's k/num_samples of the state bytes
# cross the JVM->Python Arrow boundary. The old single-blob layout shipped
# every row's FULL sketch and pruned in Python: the transfer dominated
# (440MB/round at kron_17 for a 1-group round that needed 37MB).
def _blob_schema(key: str) -> T.StructType:
    return T.StructType([
        T.StructField(key, T.LongType(), False),
        T.StructField("det", T.BinaryType(), False),
        T.StructField("grp", T.ArrayType(T.BinaryType(), False), False),
    ])


STATE_SCHEMA = _blob_schema("vertex")
# per-(map partition, root) partial sums, same grouped-sparse layout — the
# groupBy(root) exchange ships sparse slices, never dense blobs
GROUPED_PARTIAL_SCHEMA = _blob_schema("root")

# driver-finish batching (see _finish_driver_side): FINISH_BATCH_GROUPS
# sample groups per collected batch. boruvka()'s gate admits the finish once
# the non-giant member rows fit the driver at the batch's width, so a narrow
# batch starts it rounds earlier when no component dominates, and one narrow
# batch almost always converges the tail. Interleaved runs, 4-core host,
# local[4], labels exact on every call: on the sf0.1 chain (15k vertices, no
# giant) 3 groups start the finish after round 0 (14,968 rows, 63 MB dense)
# while all 17 remaining groups wait three more Spark rounds, query median
# 1.16 vs 1.77 s, 3 won 5/5; on one persisted kron_15 state per seed (10
# pairs, ~10-30 non-giant rows) it is a tie: seed 601 0.63 vs 0.67 s (3 won
# 7/10), seed 602 0.56 vs 0.56 s (6/10), both converged in one batch.
FINISH_BATCH_GROUPS = 3

# sample groups consumed by boruvka's round 0 (every vertex samples its own
# sketch): the extra group rides the same map pass and collapses the active
# set entering the driver finish ~100x at kron_17 (see _boruvka_impl)
ROUND0_GROUPS = 2

# eid = lo*n + hi must fit the signed-long eid columns of the query side, so
# n*n - 1 <= 2^63 - 1; the ingest key eid*2 + is_hi then fits a uint64
MAX_VERTICES = 3_037_000_499  # largest n with n*n - 1 <= 2^63 - 1

# the vertex -> build partition mix (_vertex_partition): xorshift64 steps as
# (shift, left?). Shifts and xors only, so numpy and Catalyst agree bit for
# bit and nothing can overflow under ANSI mode. On kron_15's 4.4M endpoint
# rows the largest of 8 partitions holds 1.06x the mean (v % 8: 3.05x).
_MIX = ((13, True), (7, False), (17, True), (29, False))

BUCKET_BYTES = 16  # one dense (alpha, gamma) uint64 bucket

SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("grp", T.IntegerType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("eid", T.LongType(), False),
    ]
)


class SketchCC:
    """Sketch-based dynamic connected components over an edge-update stream."""

    def __init__(
        self,
        spark: SparkSession,
        num_vertices: int,
        seed: int = 42,
        variant: str = "cameo",
        samples_factor: float = 1.0,
        num_partitions: int | None = None,
        config: "SketchConfig | None" = None,
        groups_per_round: int = 4,
    ):
        if num_vertices > MAX_VERTICES:
            raise ValueError(
                f"num_vertices={num_vertices} exceeds {MAX_VERTICES}: edge ids "
                "lo*n + hi would overflow int64"
            )
        if config is not None:  # unified config surface (config.SketchConfig)
            seed, variant, samples_factor = (
                config.seed,
                config.variant,
                config.samples_factor,
            )
        self.spark = spark
        self.num_vertices = num_vertices
        self.geom = SketchGeometry(
            num_vertices=num_vertices,
            seed=seed,
            samples_factor=samples_factor,
            variant=variant,
        )
        # default: session shuffle parallelism, capped at the larger of the
        # cluster core count and 8 (so 8 at local[4]), and at 64 — each
        # partition owns a SketchMatrix block; python build tasks add
        # per-task fixed cost (~15 ms of stage wall per task at local[4],
        # see _query_parts; a cluster passes this explicitly to go wider
        # for skew/memory headroom)
        self.num_partitions = num_partitions or max(2, min(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            max(spark.sparkContext.defaultParallelism, 8),
            64,
        ))
        # sample groups consumed per DISTRIBUTED-labels Boruvka round: k
        # fresh groups sampled against one component partition give up to k
        # candidate cut edges per component, and one star-contraction of the
        # combined component graph does the work of >= k classic rounds — so
        # the number of sequential Spark rounds (the distributed path's cost
        # driver) drops ~k-fold for the same sample budget
        self.groups_per_round = groups_per_round

    # ------------------------------------------------------------------ build

    @cached_property
    def _ingest(self) -> SimpleNamespace:
        """The ingest plans' Column expressions, built once per instance:
        they depend on n and the partition count only, and building them
        made about 700 of the ~820 py4j round trips of a fold plan, which
        the streaming driver plans once per micro-batch. Build, fold and
        merge then only chain DataFrame operations over them."""
        n, parts, col = self.num_vertices, self.num_partitions, F.col
        lo, hi = col("lo").cast("long"), col("hi").cast("long")
        low, high = (
            F.raise_error(F.concat(F.lit("vertex id "), c.cast("string"),
                                   F.lit(f" outside [0, {n})")))
            for c in (lo, hi)
        )
        seid = F.when(lo < 0, low).when(hi >= n, high).otherwise(
            col("sign") * (lo * F.lit(n).cast("long") + hi)
        ).alias("seid")
        pid = _vertex_partition(col("vertex"), parts)
        route = F.element_at(F.lit(_route_keys(parts).tolist()), (pid + 1).cast("int"))
        # EMPTY blobs, not nulls: Spark's Arrow writer took ~15x longer
        # (16 s vs 1.2 s, kron_14 batch) to ship null det/grp values mixed
        # with the state rows' blobs
        empty = F.lit(b"")
        keys, signs, routed = (col(c) for c in ("keys", "signs", "route"))
        verts = [col(c) for c in ("vertex", "det", "grp")]
        sign = F.when(col("type") == 0, F.lit(1)).otherwise(F.lit(-1))
        return SimpleNamespace(
            canon=[F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi"),
                   sign.alias("sign")],
            not_loop=col("lo") != col("hi"),
            seid=seid,
            gutter=[
                routed, F.lit(-1).cast("long").alias("vertex"), empty.alias("det"),
                F.array().cast(T.ArrayType(T.BinaryType())).alias("grp"), keys, signs,
            ],
            state=[route.alias("route"), *verts, empty.alias("keys"), empty.alias("signs")],
            route=routed,
            stage=[*verts, keys, signs],
        )

    def _canonical_updates(self, stream: DataFrame) -> DataFrame:
        """(lo, hi, sign) canonical undirected updates in Catalyst: the edge
        canonicalization and insert/delete sign convention of both ingest
        paths (_signed_updates: the table API packed_updates and the build's
        gutters) and of the streaming driver's validator.

        Stream contract (validated, not assumed): updates of one edge must
        alternate insert/delete — exactly what the reference asserts on its
        stream readers (a delete of a dead edge / re-insert of a live edge is
        malformed there too). Under that contract the signed sum per
        (vertex, edge) over ANY stream slice lies in {-1, 0, +1} and equals
        the slice's occurrence-parity contribution, which is what makes
        toggle semantics compose with folding micro-batches into the state
        (an insert in batch k cancels a delete in batch k+1 bucket-for-bucket
        when batch k+1 folds in — the role XOR plays in the reference). The
        |net| > 1 guard (_net_guard here, _net_gutters in the build) catches
        malformed updates WITHIN one stream slice; a malformation split
        across separately folded slices (e.g. two inserts of one edge in
        different micro-batches, each netting +1) is invisible to it and
        corrupts the folded state — cross-batch well-formedness is the
        producer's contract, exactly as the reference's stream readers
        assume an alternating stream per edge. Each undirected update hits
        both endpoints (the reference's double gutter insert,
        graph_sketch_driver.h:171-172) with the AGM signed-incidence
        convention: +eid at the lo endpoint, -eid at the hi endpoint — so
        summing a supernode's member sketches cancels internal edges
        exactly."""
        return stream.select(*self._ingest.canon).where(self._ingest.not_loop)

    @staticmethod
    def _net_guard():
        """Keep net != 0 rows; raise on |net| > 1 (non-alternating stream) —
        the Catalyst form of the stream-contract guard. Expects columns
        `net` and `eid` in scope."""
        return F.when(
            F.abs("net") > 1,
            F.raise_error(
                F.concat(
                    F.lit("malformed stream: non-alternating updates for eid "),
                    F.col("eid").cast("string"),
                )
            ).cast("boolean"),
        ).otherwise(F.col("net") != 0)

    def _signed_updates(self, stream: DataFrame) -> DataFrame:
        """(lo, hi, seid) canonical updates, seid = sign * (lo*n + hi): the
        one ingest key of packed_updates and the build's _gutters. An
        endpoint outside [0, num_vertices) raises, naming the id, before the
        product is formed: its eid would decode as another edge (at n = 16
        the edge (1, 20) has eid 36, which is (2, 4))."""
        return self._canonical_updates(stream).select("lo", "hi", self._ingest.seid)

    def packed_updates(self, stream: DataFrame) -> DataFrame:
        """(vertex, seid) net updates as a table, hash-partitioned by vertex,
        the sign folded into the edge id (eid >= 1 always). The build does
        not run this plan (it nets its gutters in numpy, _sketch_stage);
        perfbench's layer probes read net rows through it.

        hashpartitioning(vertex) satisfies the (vertex, eid) clustered
        distribution, so the groupBy that nets repeat updates runs
        partition-local after the one exchange."""
        seid = F.col("seid")
        # ONE generator scan (inline of a 2-struct array), not a unionAll of
        # two selects, which would scan the stream twice
        both = self._signed_updates(stream).select(
            F.inline(
                F.array(
                    F.struct(F.col("lo").alias("vertex"), seid.alias("seid")),
                    F.struct(F.col("hi").alias("vertex"), (-seid).alias("seid")),
                )
            )
        ).repartition(self.num_partitions, "vertex")
        net = both.groupBy("vertex", F.abs("seid").alias("eid")).agg(
            F.sum(F.when(F.col("seid") > 0, F.lit(1)).otherwise(F.lit(-1))).alias("net")
        )
        guarded = net.where(self._net_guard())
        return guarded.select("vertex", (F.col("net") * F.col("eid")).alias("seid"))

    def _gutters(self, stream: DataFrame) -> DataFrame:
        """The reference's gutters (GutteringSystem, graph_sketch_driver.h:
        100-108) as a python map stage over a stream slice, in the sketch
        stage's row layout. Per Arrow batch of signed updates it keys both
        endpoint rows of each and groups the keys by their vertex's build
        partition (_vertex_partition), then emits ONE row per (batch,
        partition): the partition's route key (_route_keys), the keys as a
        uint64 blob and the signs as an int8 blob. The exchange moves
        batches x partitions rows instead of one per endpoint update.

        The stage reads one packed long column, not the stream's three:
        _signed_updates' seid, canonical and range-checked in Catalyst, from
        which numpy recovers lo = eid // n and hi = eid % n. A key is
        eid*2 + is_hi (is_hi names the endpoint, so the sketch stage
        recovers the vertex from the key); it fits a uint64 for every
        n <= MAX_VERTICES. The sign is the AGM one: +u at lo and -u at hi,
        u = +1 for an insert and -1 for a delete."""
        n = np.uint64(self.num_vertices)
        parts = self.num_partitions
        route = pa.array(_route_keys(parts))

        def _emit(batches):
            for b in batches:
                seid = b.column(0).to_numpy()
                eid = np.abs(seid).view(np.uint64)
                lo, hi = np.divmod(eid, n)
                u = np.sign(seid).astype(np.int8)
                key = eid << np.uint64(1)
                pid = _vertex_partition(np.concatenate([lo, hi]).view(np.int64), parts)
                order = np.argsort(pid)
                keys = np.concatenate([key, key | np.uint64(1)])[order]
                signs = np.concatenate([u, -u])[order]
                ends = np.zeros(parts + 1, np.int64)
                np.cumsum(np.bincount(pid, minlength=parts), out=ends[1:])
                yield pa.RecordBatch.from_arrays(
                    [route, binary_array(keys, ends * 8), binary_array(signs, ends)],
                    ["route", "keys", "signs"],
                )

        return (
            self._canonical_updates(stream).select(self._ingest.seid)
            .mapInArrow(_emit, "route int, keys binary, signs binary")
            .select(*self._ingest.gutter)
        )

    def _state_rows(self, state: DataFrame) -> DataFrame:
        """A state's rows in the sketch stage's row layout, routed to their
        vertex's build partition by the Catalyst form of _vertex_partition;
        they carry no keys."""
        return state.select(*self._ingest.state)

    def build_state(self, stream: DataFrame, base: DataFrame | None = None) -> DataFrame:
        """Build the (vertex, det, grp) state table from a stream slice, or
        fold the slice into an existing state `base`.

        The slice enters as gutters (_gutters): one row per (Arrow batch,
        build partition) holding that partition's keys, so the one exchange
        moves a few hundred rows, and the sketch stage nets them in numpy
        (_net_gutters). This reverses round 8's rule that a JVM net
        aggregation stay between the exchange and the python stage, which
        was measured at local[32] on another VM with one Arrow row per net
        update. On a 4-core host (local[4], perfbench kron_batch, kron_15,
        interleaved pairs against that JVM-netting build) ingest went from
        a median 292k to 437k updates/s on seed 831 (10 pairs, 10 won) and
        from 484k to 726k on seed 833 (6 pairs, 6 won), with a
        byte-identical state.

        With `base`, the base rows are routed to their vertex's build
        partition (_state_rows), unioned with the slice's gutters and
        repartitioned once, and ONE python stage decodes the base rows into
        their vertices' dense slots, runs the kernel over the net updates
        and encodes once (_sketch_stage). The result is byte-identical to
        merge_states(base, build_state(stream)) without encoding, shuffling
        and decoding a delta state."""
        gutters = self._gutters(stream)
        rows = gutters if base is None else self._state_rows(base).unionAll(gutters)
        return self._sketch_stage(rows)

    def merge_states(self, a: DataFrame, b: DataFrame) -> DataFrame:
        """Additive merge of two state tables (linear-sketch property): the
        fold's python stage over the two states' rows and no updates."""
        return self._sketch_stage(self._state_rows(a).unionAll(self._state_rows(b)))

    def _sketch_stage(self, rows: DataFrame) -> DataFrame:
        """The one python stage of build, fold and merge, over rows of the
        layout (route, vertex, det, grp, keys, signs), repartitioned here by
        route so that all rows of a vertex meet on one task:

        - a gutter (vertex -1, empty det/grp): keys and signs of updates,
          netted per key over the partition's gutters (_net_gutters);
        - a state row (empty keys/signs): decoded into its vertex's slot and
          summed, so two rows of one vertex (merge_states) add up.

        Every vertex of a partition gets one dense SketchMatrix row, the
        kernel adds the net updates, and the matrix is encoded once."""
        geom = self.geom
        n = np.uint64(self.num_vertices)
        gsz = geom.cols_per_sample * geom.bkt_per_col
        n_groups = geom.num_samples

        def _apply(batches):
            b = _one_batch(batches)
            if b is None:
                return
            verts = b.column("vertex").to_numpy()
            old = verts >= 0
            eids, signs, upd = _net_gutters(b.column("keys"), b.column("signs"), n)
            uniq, inv = np.unique(np.concatenate([verts[old], upd]), return_inverse=True)
            if not len(uniq):
                return
            sm = SketchMatrix(geom, len(uniq), reuse_slot="build")
            k = int(old.sum())
            if k:
                st = b.filter(pa.array(old))
                add_group_rows(sm.buckets, inv[:k], st.column("det"), st.column("grp"), gsz)
            sm.update_many(inv[k:], eids, signs=signs)
            yield _state_batch("vertex", uniq, *encode_group_rows(sm.buckets, gsz, n_groups))

        return (
            rows.repartition(self.num_partitions, self._ingest.route)
            .select(*self._ingest.stage)
            .mapInArrow(_apply, STATE_SCHEMA)
        )

    # ------------------------------------------------------------------ query

    def _query_parts(self) -> int:
        """Python-task parallelism for QUERY-side map stages.

        The build shuffle keeps self.num_partitions (the gutter geometry),
        but query stages over the built state are latency-bound by per-task
        overhead, not bytes. On a 4-core host (local[4]) a pandas map stage
        of trivial tasks (the stages are mapInArrow now, on the same
        per-task runner) costs 0.26 s at 4 tasks and 1.24 s at 64: ~15 ms
        of stage wall per extra task, PythonRunner's per-task `init` a
        median 1 ms. Before the package guarded Spark's zip archives
        against re-reads (session.skip_unchanged_zip_rereads) the same
        stages took 0.64 s and 8.4 s: ~127 ms per task, `init` a median
        277 ms. Scale-adaptive: sc.defaultParallelism is total cores on a
        cluster, so this tracks the machine, never a local-mode constant;
        small states additionally shrink toward ~2048 vertices per task
        (the same fixed cost per task at the next scale down)."""
        # floor 2: repartition(1, root) would plan an Exchange SinglePartition
        # (losing the hash-partitioned reduce shape the plan gates pin)
        return max(2, min(
            self.num_partitions,
            self.spark.sparkContext.defaultParallelism,
            -(-self.num_vertices // 2048),
        ))

    def _slice_bytes(self, k: int) -> int:
        """Bytes of one dense k-group slice (k groups' buckets + det)."""
        g = self.geom
        return (k * g.cols_per_sample * g.bkt_per_col + 1) * BUCKET_BYTES

    def _sliced(self, state: DataFrame, group_lo: int, group_hi: int) -> DataFrame:
        """JVM-side column pruning: keep only sample groups
        [group_lo, group_hi) (+ det) — the reference's range_merge pruning
        (sketch.cpp:156-179) as a Catalyst array slice, so the pruned bytes
        never reach the Arrow boundary. Also coalesces to query parallelism
        (no shuffle): every downstream python stage runs _query_parts tasks
        instead of one per build partition."""
        k = group_hi - group_lo
        return state.select(
            "vertex", "det", F.slice("grp", group_lo + 1, k).alias("grp")
        ).coalesce(self._query_parts())

    def boruvka(
        self,
        state: DataFrame,
        max_rounds: int | None = None,
        driver_finish_bytes: int = DRIVER_BYTES,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Run Boruvka over the sketch state.

        Returns (labels: int64[num_vertices] — component = min member id,
        forest: (m,2) int64 spanning-forest edges).

        Once the member rows a finish batch collects fit in
        `driver_finish_bytes` as dense slices, the tail rounds are finished
        driver-side in numpy (_finish_driver_side) — components shrink
        geometrically, so this removes the long tail of per-round Spark jobs
        while keeping driver memory bounded (the reference's whole query is
        in-memory; we only drop down when it provably fits); until then the
        rounds run in Spark. The gate counts the rows that reach the driver:
        those of every active component but the largest, whose sum the
        finish sets to the negated sum of the others (all vertex sketches
        sum to zero, and components that sampled ZERO have zero sums).
        `driver_finish_bytes=0` disables the finish.
        `last_boruvka_stats["rounds"]` records each round; the
        driver_finish entry also records what the finish skipped and
        collected.
        """
        from graphzeppelin_spark.session import aqe_off

        with aqe_off(self.spark):
            return self._boruvka_impl(state, max_rounds, driver_finish_bytes)

    def _boruvka_impl(
        self,
        state: DataFrame,
        max_rounds: int | None,
        driver_finish_bytes: int,
    ) -> tuple[np.ndarray, np.ndarray]:
        import time

        from pyspark import StorageLevel

        g = self.geom
        n = self.num_vertices
        budget = g.num_samples if max_rounds is None else min(max_rounds, g.num_samples)
        dsu = NumpyDSU(n)
        forest: list[np.ndarray] = []
        # persist only if the CALLER hasn't: persist() on an already-cached
        # plan is a no-op, so unconditionally unpersisting at the end would
        # silently drop the caller's cache — every later query on that state
        # then re-runs the whole sketch build (measured at kron_19: back-to-
        # back boruvka calls went 30s → 140s, ~7x python-worker CPU; this
        # WAS the bulk of the "late-session tax" on repeated CC queries)
        owns_cache = state.storageLevel == StorageLevel.NONE
        if owns_cache:
            state = state.persist()
            state.count()

        active: np.ndarray | None = None  # None: every vertex its own component
        gidx = 0  # sample groups consumed
        rounds_stats: list[dict] = []
        self.last_boruvka_stats = {"rounds": rounds_stats, "driver_finish_round": None}
        t_round = time.time()
        while gidx < budget:
            if active is None:
                # round 0 samples ROUND0_GROUPS fresh groups of every
                # vertex's own sketch in the same map pass: a second group
                # costs nothing extra (identical transfer/decode shape) and
                # collapses the post-round-0 active set dramatically — at
                # kron_17, 2406 active components after 1 group vs 21 after
                # 2 at the same 0.6-0.7s round cost — so the driver finish
                # starts from a near-converged partition
                k = min(ROUND0_GROUPS, budget)
                samples = self._sampled_vertices(state, 0, k)
            else:
                # the finish collects the member rows of every active
                # component but the largest, whose sum is the complement of
                # the others' (_finish_driver_side); it starts once those
                # rows fit the driver as dense slices, else one more round
                # runs in Spark
                members = _active_members(dsu.labels(), active)
                verts, mroots, sizes = members
                kb = min(budget - gidx, FINISH_BATCH_GROUPS)
                est = (len(mroots) - int(sizes.max())) * self._slice_bytes(kb)
                if fits_driver(est, driver_finish_bytes):
                    self.last_boruvka_stats["driver_finish_round"] = len(rounds_stats)
                    self.last_boruvka_stats["driver_finish_components"] = len(active)
                    finish = self._finish_driver_side(
                        state, active, members, gidx, budget, dsu, forest
                    )
                    rounds_stats.append(
                        {"round": len(rounds_stats), "kind": "driver_finish",
                         "active": len(active), **finish,
                         "sec": round(time.time() - t_round, 3)}
                    )
                    break
                k = 1
                samples = self._sampled_components(
                    state, self._labels_df(verts, mroots), gidx, gidx + 1
                )
            gidx += k
            roots, status, eid = _collect_samples(samples)
            active, go = _boruvka_step(dsu, forest, n, roots, status, eid)
            rounds_stats.append(
                {"round": len(rounds_stats), "kind": "distributed",
                 "active": len(active), "good_samples": int((status == GOOD).sum()),
                 "fail_samples": int((status == FAIL).sum()),
                 "sec": round(time.time() - t_round, 3)}
            )
            t_round = time.time()
            if not go:
                break
        if owns_cache:
            state.unpersist()
        return dsu.labels(), np.concatenate([np.empty((0, 2), np.int64), *forest])

    def _sampled_components(
        self, state: DataFrame, labels_df: DataFrame, group_lo: int, group_hi: int
    ) -> DataFrame:
        """(root, grp, status, eid) — one l0-sample per component per sample
        group in [group_lo, group_hi), from the one per-root reduce: sum the
        member sketches of every component in labels_df over those groups
        plus the deterministic bucket (last slot), then sample each final
        partition's dense sums (_sample_batch). Sampling k fresh groups
        against one component partition is statistically equivalent to k
        classic rounds' worth of samples and costs ONE distributed reduce
        instead of k.

        Two vectorized stages: per-map-partition partial sums (emitted in
        the grouped-SPARSE layout, so the exchange ships ~nnz*18 bytes per
        root instead of a dense slice), then a repartition(root) exchange
        and a final per-partition sum — a giant component never
        concentrates more rows on one reducer than there are map
        partitions, and no per-root Python function calls happen anywhere.
        The input is pruned JVM-side (_sliced), so only the requested
        groups' bytes cross into Python, and components absent from
        labels_df never enter the reduce (the join is inner)."""
        g = self.geom
        k = group_hi - group_lo
        gsz = g.cols_per_sample * g.bkt_per_col
        slice_nb = k * gsz + 1
        joined = self._sliced(state, group_lo, group_hi).join(
            labels_df, "vertex"
        ).select("root", "det", "grp")

        def _sum(b, stage):
            arr = decode_group_rows(
                b.column("det"), b.column("grp"), k, gsz, slice_nb, reuse_slot="gdec_" + stage
            )
            uniq, inv = np.unique(b.column("root").to_numpy(), return_inverse=True)
            acc = cached_zero_buckets(slice_nb, len(uniq), "gacc_" + stage)
            with np.errstate(over="ignore"):
                np.add.at(acc, inv, arr)
            return uniq, acc

        def _partial(batches):
            # a root's rows may span batches: the final stage sums its partials
            for b in batches:
                uniq, acc = _sum(b, "partial")
                yield _state_batch("root", uniq, *encode_group_rows(acc, gsz, k))

        def _final(batches):
            b = _one_batch(batches)
            if b is not None:
                yield _sample_batch(g, *_sum(b, "final"), group_lo)

        return (
            joined.mapInArrow(_partial, GROUPED_PARTIAL_SCHEMA)
            .repartition(self._query_parts(), "root")
            .mapInArrow(_final, SAMPLE_SCHEMA)
        )

    def _finish_driver_side(
        self,
        state: DataFrame,
        active: np.ndarray,
        members: tuple,
        group_lo: int,
        budget: int,
        dsu: NumpyDSU,
        forest: list,
    ) -> dict:
        """Run the remaining Boruvka steps in pure numpy on per-component
        slice sums brought to the driver once per BATCH of
        FINISH_BATCH_GROUPS sample groups (reference cc_sketch_alg.cpp:464-
        513 analog). `members` is _active_members of `active`.

        The complement rule: every update adds +eid at its lo endpoint and
        -eid at its hi endpoint in the same buckets, so the member sketches
        of ALL vertices sum to zero, mod 2^64, in every bucket. Components
        that left the active set sampled ZERO — det bucket zero, empty cut —
        so their sums are zero (the ZERO premise), and the largest active
        component's sum is the negated sum of the other active ones. Its
        member rows are never read: the broadcast (vertex, root) map covers
        the other components only, so the JVM join drops the largest one's
        rows before the Arrow boundary, and one JVM-only job collects the
        rest, which are summed per root here (no Python stage, no
        exchange). boruvka()'s gate admits the first batch's rows; a later
        batch's are never more, nor wider: the component holding the first
        batch's largest one either stays active, and the largest is at
        least its size, or sampled ZERO and left with all its rows.

        After every step the slices are re-contracted through the step's
        merges — the per-component sums are identical to a fresh collect
        because the slice aggregation commutes with DSU contraction (linear
        sketch) — and a component whose det bucket is now zero has an empty
        cut (ZERO) and leaves the active set. A later batch starts over from
        the contracted active set and names its largest component afresh.

        Returns the finish's record: FAIL samples over all groups run, and,
        summed over batches, the largest components' member rows skipped
        (giant_rows), the member rows collected, their estimated dense bytes
        (the gate's measure) and their collected bytes."""
        g = self.geom
        gsz = g.cols_per_sample * g.bkt_per_col
        rec = {"fail_samples": 0, "giant_rows": 0, "collected_rows": 0,
               "est_bytes": 0, "collected_bytes": 0}
        while group_lo < budget and len(active) > 1:
            kb = min(budget - group_lo, FINISH_BATCH_GROUPS)
            slice_nb = kb * gsz + 1
            if members is None:
                members = _active_members(dsu.labels(), active)
            verts, mroots, sizes = members
            giant = int(np.argmax(sizes))
            others = mroots != active[giant]
            rows = self._sliced(state, group_lo, group_lo + kb).join(
                self._labels_df(verts[others], mroots[others]), "vertex"
            ).select("root", "det", "grp").toArrow()
            group_lo += kb
            det, grp = (rows.column(c).combine_chunks() for c in ("det", "grp"))
            rec["giant_rows"] += int(sizes[giant])
            rec["collected_rows"] += rows.num_rows
            rec["est_bytes"] += int(others.sum()) * self._slice_bytes(kb)
            rec["collected_bytes"] += (
                blob_values(det, np.uint8).size + blob_values(grp.flatten(), np.uint8).size
            )
            arr = decode_group_rows(det, grp, kb, gsz, slice_nb)
            roots = active
            acc = np.zeros((len(roots), slice_nb, 2), dtype=np.uint64)
            with np.errstate(over="ignore"):
                np.add.at(acc, np.searchsorted(roots, rows.column("root").to_numpy()), arr)
                acc[giant] = np.negative(acc.sum(axis=0))  # acc[giant] is still 0
            for gi in range(kb):
                status, eid = SketchMatrix(g, len(roots), acc).sample_many(gi)
                rec["fail_samples"] += int((status == FAIL).sum())
                active, go = _boruvka_step(dsu, forest, self.num_vertices, roots, status, eid)
                if not go:
                    return rec
                uniq, inv = np.unique(dsu.find_many(roots), return_inverse=True)
                merged = np.zeros((len(uniq), slice_nb, 2), dtype=np.uint64)
                with np.errstate(over="ignore"):
                    np.add.at(merged, inv, acc)
                nonzero = merged[:, -1].any(axis=1)  # sample_many's ZERO test
                acc, roots = merged[nonzero], uniq[nonzero]
            active, members = roots, None
        return rec

    def _sampled_vertices(
        self, state: DataFrame, group_lo: int, group_hi: int
    ) -> DataFrame:
        """(root=vertex, grp, status, eid) for sample groups
        [group_lo, group_hi) of every vertex's OWN sketch — the no-shuffle,
        no-join sampler for rounds where the label map is the identity
        (every vertex its own component; cc_sketch_alg.cpp:223-244 analog):
        one map pass over the JVM-pruned group slice (_sliced), no
        aggregation. At web scale this round would otherwise be the most
        expensive one — every vertex is an "active component", so the
        per-root reduce would shuffle Θ(vertices x slice bytes)."""
        geom = self.geom
        k = group_hi - group_lo
        gsz = geom.cols_per_sample * geom.bkt_per_col

        def _sample(batches):
            for b in batches:
                arr = decode_group_rows(
                    b.column("det"), b.column("grp"), k, gsz, k * gsz + 1,
                    reuse_slot="gdec_sample",
                )
                yield _sample_batch(geom, b.column("vertex").to_numpy(), arr, group_lo)

        return self._sliced(state, group_lo, group_hi).mapInArrow(_sample, SAMPLE_SCHEMA)

    def _labels_df(self, verts: np.ndarray, roots: np.ndarray):
        """Broadcastable (vertex, root) map."""
        return F.broadcast(
            self.spark.createDataFrame(pd.DataFrame({"vertex": verts, "root": roots}))
        )

    # ------------------------------------------------------------- public API

    def connected_components(self, state: DataFrame) -> DataFrame:
        labels, _ = self.boruvka(state)
        return self.spark.createDataFrame(
            pd.DataFrame(
                {"v": np.arange(self.num_vertices, dtype=np.int64), "component": labels}
            )
        )

    def connected_components_distributed(
        self,
        state: DataFrame,
        max_rounds: int | None = None,
        groups_per_round: int | None = None,
        complete: bool = False,
    ) -> DataFrame:
        """(vertex, component) with labels resident as a DataFrame end-to-end —
        the 10^9+-vertex path: no driver structure is ever Θ(num_vertices)
        (boruvka()'s numpy DSU + labels array is the fast path up to ~10^8).

        Per Spark round (the sequential-latency unit this path is bound by):

        1. sample k = groups_per_round FRESH sample groups per active
           component in ONE pruned two-stage reduce (k candidate cut edges
           per component for the price of one shuffle);
        2. decode endpoints in the JVM, lift them to component ids through
           the label table, dedupe — the round's component multigraph;
        3. contract it (_remap): if the sampled edge set fits
           DRIVER_BYTES (bounded by actual EDGES collected, never
           Θ(num_vertices)), a numpy DSU computes the (root → new_root)
           remap in-process (connectivity.driver_remap); otherwise the
           exact star-contraction operator (operators/connectivity.py)
           contracts it distributed. A
           same-session interleaved A/B at kron_21's 5.4M-edge/87MB round-0
           multigraph (BENCH/remap_gate_ab.json) measured NO benefit from a
           256MB gate over 64MB (64MB: 182/202s; 256MB: 396/180s — the
           spread sits in the Boruvka confirmation passes, identical either
           way);
        4. one labels checkpoint applies the remap AND carries a per-vertex
           `act` flag (old root sampled non-ZERO). ZERO components have empty
           sketches — no incident cut edges — so they can never merge again
           and a new component is active iff any member was (in fact all
           members agree: ZERO components only ever merge with nobody), which
           makes next round's active-component input a simple filter on the
           labels table instead of a join against a separately checkpointed
           active set.

        Termination is boruvka()'s rule (_boruvka_done): a round that
        merged nothing and counted no FAIL sample ends the loop, a round
        with FAILs but no merges moves on, and the loop ends WITHOUT a
        confirmation round once at most one active component remains. The
        FAIL count rides observe() on the samples checkpoint. Because the
        per-round active count is an approx_count_distinct estimate, small
        estimates (<=4) are confirmed with one exact distinct-count over the
        checkpointed labels table (cheap) before exiting; at kron_21 this
        removes two full pruned state scans (~108s of a 192s run) that
        existed only to observe the inevitable empty sample.

        Contracting a k-edge-per-component graph collapses whole merge chains
        in one round, so the sample budget is consumed in ceil(budget/k)
        Spark rounds — at kron_17 this plus the fused active flag and the
        checkpoint-then-count comp-edge materialization (the old
        isEmpty()-then-recompute double join is gone) is what brings the
        path's round overhead down toward the driver-DSU fast path.

        Vertices with no updates in the stream never appear in `state`; they
        are isolated singletons and are implicitly their own component.
        By default returns labels for state vertices only (the compact form
        for sparse universes); `complete=True` unions the implicit
        singletons in — a `spark.range(n)` anti-join, generated and joined
        distributed, never collected — so every vertex in [0, n) gets a row,
        matching the reference's full-universe labeling
        (include/return_types.h:13-37, src/return_types.cpp:5-19) and the
        driver-DSU path's `n_components` on the same graph.

        Budget accounting (k = groups_per_round): the sketch budget
        (num_samples ≈ 1.71·log2(n)·samples_factor) is derived for ONE fresh
        group per classic Boruvka round; consuming k per round cuts the
        worst-case round count to ceil(budget/k). Multi-edge contraction
        usually compensates (a k-edge component multigraph collapses whole
        merge chains per round), but it is not guaranteed to, so this path
        is ADAPTIVE: after each round it reads an approximate active-
        component count off the labels checkpoint's own materialization
        (observe(), no extra job) and drops k toward 1 whenever the
        remaining budget could not finish single-group rounds for the
        components still active (remaining − k < ceil(log2(active))). If
        the budget still exhausts while the rule asks for another round, a
        RuntimeWarning
        is raised and `last_distributed_stats['exhausted']` is set — the
        labeling is then possibly partial (components under-merged, never
        wrongly merged) and the caller should raise samples_factor.

        Per-round timings/counts are recorded in `last_distributed_stats`."""
        import math
        import time
        import warnings

        from pyspark.sql import Observation

        from graphzeppelin_spark.session import free_local_checkpoint

        g = self.geom
        n = self.num_vertices
        budget = g.num_samples if max_rounds is None else min(max_rounds, g.num_samples)
        k_default = groups_per_round or self.groups_per_round
        labels = state.select(
            "vertex", F.col("vertex").alias("root"), F.lit(True).alias("act")
        ).localCheckpoint(eager=True)
        prev_samples: DataFrame | None = None
        gidx = 0
        active_est: int | None = None  # approx active components, post-round
        active: int | None = None  # exact when small, else active_est
        stats: list[dict] = []
        self.last_distributed_stats = {"rounds": stats, "exhausted": False}
        while gidx < budget:
            k = min(k_default, budget - gidx)
            if active_est is not None and active_est > 1:
                # stretch the tail of the budget: keep k only if, assuming
                # this round achieves no more than one classic halving, the
                # leftover budget could still finish one group at a time
                reserve = math.ceil(math.log2(active_est))
                if budget - gidx - k < reserve:
                    k = max(1, min(k, budget - gidx - reserve))
            t_round = time.time()
            first_round = gidx == 0
            if first_round:
                # identity label map: every vertex is its own component, so
                # per-component sampling needs no join, no aggregation and
                # no shuffle — the per-root reduce would ship a dense slice
                # per VERTEX through the exchange here (the most expensive
                # round by far at web scale)
                samples = self._sampled_vertices(state, 0, k)
            else:
                lbl_in = labels.where(F.col("act")).select("vertex", "root")
                samples = self._sampled_components(state, lbl_in, gidx, gidx + k)
            # the FAIL count rides observe() on the checkpoint that
            # materializes the samples anyway
            s_obs = Observation()
            samples = samples.observe(
                s_obs, F.sum((F.col("status") == F.lit(int(FAIL))).cast("long")).alias("f")
            ).localCheckpoint(eager=True)
            n_fail = int(s_obs.get["f"] or 0)
            gidx += k
            if prev_samples is not None:
                free_local_checkpoint(prev_samples)
            prev_samples = samples
            good = samples.where(F.col("status") == F.lit(int(GOOD)))
            # endpoints of the sampled edges, lifted to component ids;
            # dedupe across groups before the label joins
            ends = good.select(
                F.expr(f"eid div {n}").alias("lo"),
                F.pmod("eid", F.lit(n)).cast("long").alias("hi"),
            ).where(
                (F.col("lo") >= 0) & (F.col("lo") < F.col("hi")) & (F.col("hi") < n)
            ).distinct()
            if first_round:
                # identity labels: endpoints ARE the component ids
                comp_edges = ends.select(
                    F.col("lo").alias("src"), F.col("hi").alias("dst")
                )
            else:
                lv = labels.select(F.col("vertex").alias("lo"), F.col("root").alias("ra"))
                hv = labels.select(F.col("vertex").alias("hi"), F.col("root").alias("rb"))
                comp_edges = (
                    ends.join(lv, "lo")
                    .join(hv, "hi")
                    .where(F.col("ra") != F.col("rb"))
                    .select(
                        F.least("ra", "rb").alias("src"), F.greatest("ra", "rb").alias("dst")
                    )
                    .distinct()
                )
            # the edge count rides observe() on the checkpoint that
            # materializes comp_edges anyway — no separate count job
            ce_obs = Observation()
            comp_edges = comp_edges.observe(
                ce_obs, F.count(F.lit(1)).alias("m")
            ).localCheckpoint(eager=True)
            n_edges = int(ce_obs.get["m"])
            round_stat = {"round": len(stats), "k": k, "n_edges": n_edges,
                          "n_fail": n_fail, "active_est": active_est}
            stats.append(round_stat)
            if n_edges or n_fail:
                lbl = labels.select("vertex", "root")
                if n_edges:
                    lbl = lbl.join(
                        self._remap(comp_edges, n_edges), "root", "left"
                    )
                else:
                    lbl = lbl.withColumn("new_root", F.col("root"))
                nonzero = (
                    samples.where(F.col("status") != F.lit(int(ZERO)))
                    .select("root")
                    .distinct()
                    .withColumn("_nz", F.lit(True))
                )
                old_labels = labels
                lbl_obs = Observation()
                labels = (
                    lbl.join(nonzero, "root", "left")
                    .select(
                        "vertex",
                        F.coalesce("new_root", "root").alias("root"),
                        F.coalesce("_nz", F.lit(False)).alias("act"),
                    )
                    # next round's adaptive-k input, read off this
                    # checkpoint's own materialization: approximate count of
                    # distinct active roots (nulls — inactive vertices — are
                    # ignored)
                    .observe(
                        lbl_obs,
                        F.approx_count_distinct(
                            F.when(F.col("act"), F.col("root"))
                        ).alias("ac"),
                    )
                    .localCheckpoint(eager=True)
                )
                active = active_est = int(lbl_obs.get["ac"])
                free_local_checkpoint(old_labels)
                # active_est is approx_count_distinct (~2-5% error): when it
                # is small, one cheap exact distinct-count over the
                # just-checkpointed labels decides the <=1 exit (measured
                # at kron_21: the exit saves 2 full pruned state scans,
                # ~108s of a 192s total, that existed only to observe the
                # inevitable empty sample)
                if active_est <= 4:
                    active = labels.where(F.col("act")).select("root").distinct().count()
                    round_stat["active_exact"] = int(active)
            free_local_checkpoint(comp_edges)
            round_stat["sec"] = round(time.time() - t_round, 3)
            if _boruvka_done(active, n_edges, n_fail):
                if n_edges or n_fail:
                    round_stat["early_exit"] = True  # the <=1-active exit
                break
        else:
            if stats:
                # the sample budget ran out while the rule still asked for
                # another group. Labels are consistent but possibly
                # under-merged (never wrongly merged).
                self.last_distributed_stats["exhausted"] = True
                warnings.warn(
                    "connected_components_distributed: sample budget exhausted "
                    f"with ~{active} active components; labeling may be "
                    "partial — raise samples_factor (budget scales with it) or "
                    "lower groups_per_round",
                    RuntimeWarning,
                    stacklevel=2,
                )
        if prev_samples is not None:
            free_local_checkpoint(prev_samples)
        out = labels.select("vertex", F.col("root").alias("component"))
        if complete:
            untouched = (
                self.spark.range(n)
                .select(F.col("id").cast("long").alias("vertex"))
                .join(out.select("vertex"), "vertex", "left_anti")
                .select("vertex", F.col("vertex").alias("component"))
            )
            out = out.unionByName(untouched)
        return out

    @staticmethod
    def _remap(comp_edges: DataFrame, n_edges: int) -> DataFrame:
        """(root, new_root) for one round's component multigraph, rows only
        where the root moves: the driver remap when the edges fit
        DRIVER_BYTES (bounded by the edges collected, never
        Θ(num_vertices)), else the exact star-contraction operator."""
        from graphzeppelin_spark.operators.connectivity import (
            connected_components_df,
            driver_remap,
        )

        if fits_driver(n_edges * DRIVER_ROW_BYTES, DRIVER_BYTES):
            return driver_remap(comp_edges, "root", "new_root")
        return connected_components_df(comp_edges).select(
            F.col("v").alias("root"), F.col("component").alias("new_root")
        ).where(F.col("root") != F.col("new_root"))

    def spanning_forest(self, state: DataFrame) -> DataFrame:
        _, forest = self.boruvka(state)
        return self.spark.createDataFrame(
            pd.DataFrame({"src": forest[:, 0], "dst": forest[:, 1]}),
            schema="src long, dst long",
        )

    def point_query(self, state_or_labels, a: int, b: int) -> bool:
        if isinstance(state_or_labels, np.ndarray):
            labels = state_or_labels
        else:
            labels, _ = self.boruvka(state_or_labels)
        return bool(labels[a] == labels[b])

    def k_spanning_forests(self, state: DataFrame, k: int) -> list[np.ndarray]:
        """k edge-disjoint spanning forests (reference query type
        KSPANNINGFORESTS, cc_sketch_alg.h:60-63 / exhaustive_sample use).

        Round i extracts a forest from the current state, then *deletes* its
        edges by folding their deletes into the state — valid because the
        sketch is an invertible aggregate, exactly how the reference peels
        forests."""
        spark = self.spark
        forests: list[np.ndarray] = []
        cur = state
        for _ in range(k):
            _, forest = self.boruvka(cur)
            forests.append(forest)
            if len(forest) == 0:
                break
            del_stream = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "seq": np.arange(len(forest), dtype=np.int64),
                        "type": np.ones(len(forest), dtype=np.int32),
                        "src": forest[:, 0],
                        "dst": forest[:, 1],
                    }
                )
            )
            cur = self.build_state(del_stream, base=cur).localCheckpoint(eager=True)
        return forests

    def component_sets(self, state: DataFrame) -> DataFrame:
        """(component, members: sorted array) — reference get_component_sets
        (return_types.cpp:23-30).

        collect_list is holistic (no map-side combine), so a web-scale giant
        component would funnel every member row through one reducer; the
        two-stage salted aggregation bounds any single reducer's fan-in at
        ~|component|/salt rows (functions/skew.py). The OUTPUT row is still
        O(|component|) by definition of this query — at 10^9-vertex scale use
        connected_components' labeling instead; this materialized-set form
        matches the reference API for result-set-sized components."""
        from graphzeppelin_spark.functions.skew import salted_agg

        cc = self.connected_components(state)
        return salted_agg(
            cc,
            ["component"],
            {"part": F.collect_list("v")},
            {"members": F.sort_array(F.flatten(F.collect_list("part")))},
        )


def _one_batch(batches) -> pa.RecordBatch | None:
    """A task's Arrow batches as one record batch; None if they hold no
    rows."""
    batches = [b for b in batches if b.num_rows]
    if len(batches) > 1:
        cols = [pa.concat_arrays(c) for c in zip(*(b.columns for b in batches))]
        return pa.RecordBatch.from_arrays(cols, schema=batches[0].schema)
    return batches[0] if batches else None


def _state_batch(key: str, ids: np.ndarray, det: pa.Array, grp: pa.Array) -> pa.RecordBatch:
    """(key, det, grp) rows: STATE_SCHEMA's layout keyed by vertex, or
    GROUPED_PARTIAL_SCHEMA's keyed by root."""
    return pa.RecordBatch.from_arrays([pa.array(ids, pa.int64()), det, grp], [key, "det", "grp"])


def _vertex_partition(v, parts: int):
    """The build partition of each vertex: xorshift64 steps (_MIX), then
    pmod. `v` is an int64 numpy array or a Catalyst long column; both forms
    wrap left shifts to 64 bits and shift right arithmetically, so they
    agree bit for bit."""
    h = v
    for s, left in _MIX:
        if isinstance(h, np.ndarray):
            h = h ^ ((h << s) if left else (h >> s))
        else:
            h = h.bitwiseXOR(F.shiftleft(h, s) if left else F.shiftright(h, s))
    return h % parts if isinstance(h, np.ndarray) else F.pmod(h, F.lit(parts))


def _murmur3_int(k: int, seed: int = 42) -> int:
    """Spark's hash of an int column (Murmur3_x86_32.hashInt, seed 42), the
    hash that hashpartitioning takes pmod of."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    h = rotl(seed ^ (rotl(k * 0xCC9E2D51 & m, 15) * 0x1B873593 & m), 13)
    h = (h * 5 + 0xE6546B64) & m ^ 4
    h = (h ^ h >> 16) * 0x85EBCA6B & m
    h = (h ^ h >> 13) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _route_keys(parts: int) -> np.ndarray:
    """route[p]: the smallest int that Spark's hashpartitioning into `parts`
    partitions sends to partition p. Rows repartitioned by
    route[_vertex_partition(v)] meet on one task per vertex whatever the
    table holds; this one also gives each task exactly one vertex
    partition."""
    route = np.full(parts, -1, np.int32)
    r = 0
    while (route < 0).any():
        p = _murmur3_int(r) % parts
        if route[p] < 0:
            route[p] = r
        r += 1
    return route


def _net_gutters(keys: pa.Array, signs: pa.Array, n: np.uint64):
    """(eid, signed net, vertex) of the nonzero net updates in one
    partition's gutters (_gutters): the signs summed per key. The keys and
    signs columns are read in place (state rows carry empty blobs). Under
    the stream contract a key's net over a slice is -1, 0 or +1; anything
    else raises, naming the edge."""
    uk, inv = np.unique(blob_values(keys, np.uint64), return_inverse=True)
    signs = blob_values(signs, np.int8)
    net = np.bincount(inv, signs, len(uk)).astype(np.int64)
    bad = np.abs(net) > 1
    if bad.any():
        raise ValueError(
            f"malformed stream: non-alternating updates for eid {uk[bad][0] >> np.uint64(1)}"
        )
    keep = net != 0
    uk, net = uk[keep], net[keep]
    eids = uk >> np.uint64(1)
    verts = np.where((uk & np.uint64(1)).astype(bool), eids % n, eids // n)
    return eids, net, verts.astype(np.int64)


def _boruvka_done(active: int, merged: int, failed: int) -> bool:
    """The one termination rule of every Boruvka loop here, checked after
    each sample group (or batch of groups sampled together).

    Stop when the group merged nothing and no sample FAILed — every active
    component then sampled ZERO, so no later group can merge anything — or
    once at most one non-ZERO component is left: cut edges are symmetric,
    so a lone component with a nonempty cut cannot exist, and ZERO
    components have no cut edges at all. A group that merged nothing but
    had a FAIL moves on to the next group: the reference counts a FAIL as a
    modification of the round (cc_sketch_alg.cpp:246-380, 464-513). Running
    out of sample groups is each loop's own bound. `active` is read only
    when something merged or FAILed."""
    return (merged == 0 and failed == 0) or active <= 1


def _boruvka_step(
    dsu: NumpyDSU,
    forest: list,
    n: int,
    roots: np.ndarray,
    status: np.ndarray,
    eid: np.ndarray,
) -> tuple[np.ndarray, bool]:
    """Apply the (root, status, eid) samples of one sample group, or of
    several groups sampled together: union the GOOD samples' edges into
    `dsu` and append the tree edges to `forest`.

    Returns (active, go): the non-ZERO sampled components contracted
    through this step's merges, and whether another group should run
    (_boruvka_done). The bulk union is a few numpy passes; its tree-edge
    set is a valid spanning forest of the sampled edges (dsu.py), and
    labels are identical to sequential replay."""
    good = status == GOOD
    lo, hi = decode_edges(eid[good], n)
    ok = (lo >= 0) & (lo < hi) & (hi < n)  # checksum false-positive guard
    lo, hi = lo[ok], hi[ok]
    tree = dsu.union_edges_bulk(lo, hi)
    forest.append(np.stack([lo[tree], hi[tree]], axis=1))
    active = np.unique(dsu.find_many(roots[status != ZERO]))
    failed = int((status == FAIL).sum())
    return active, not _boruvka_done(len(active), int(tree.sum()), failed)


def _active_members(labels: np.ndarray, active: np.ndarray) -> tuple:
    """(vertex, root, size): the members of the components in `active` (its
    sorted roots) as (vertex, root) arrays, and each component's member
    count — one pass over the label array."""
    verts = np.flatnonzero(np.isin(labels, active))
    roots = labels[verts]
    return verts, roots, np.bincount(np.searchsorted(active, roots), minlength=len(active))


def _collect_samples(samples: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collect a sample frame's non-ZERO rows as (root, status, eid) arrays.
    ZERO rows (isolated vertices, usually most of a web graph, and closed
    components) never reach the driver."""
    pdf = samples.where(F.col("status") != ZERO).toPandas()
    return (
        pdf["root"].to_numpy(np.int64),
        pdf["status"].to_numpy(np.int32),
        pdf["eid"].to_numpy(np.int64).view(np.uint64),
    )


def _sample_batch(
    geom: SketchGeometry, roots: np.ndarray, acc: np.ndarray, group_lo: int
) -> pa.RecordBatch:
    """(root, grp, status, eid) rows: every row of `acc` — a dense slice of
    k sample groups starting at group_lo — l0-sampled once per group, group
    by group; eid is 0 unless the sample is GOOD."""
    k = (acc.shape[1] - 1) // (geom.cols_per_sample * geom.bkt_per_col)
    sm = SketchMatrix(geom, len(roots), acc)
    status, eid = (np.concatenate(a) for a in zip(*map(sm.sample_many, range(k))))
    eid[status != GOOD] = 0
    cols = (
        np.tile(roots, k).astype(np.int64),
        np.repeat(np.arange(group_lo, group_lo + k, dtype=np.int32), len(roots)),
        status.astype(np.int32),
        eid.view(np.int64),
    )
    return pa.RecordBatch.from_arrays(list(map(pa.array, cols)), SAMPLE_SCHEMA.names)

