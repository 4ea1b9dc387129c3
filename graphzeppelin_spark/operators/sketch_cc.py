"""Distributed GraphZeppelin-style sketch connected components (Boruvka merges).

The Spark rendering of the reference's CC pipeline (SURVEY.md §3.1):

  reference (C++, one box)                     this engine (Spark)
  ------------------------------------------   --------------------------------
  guttering system shuffle by vertex           repartition(vertex) + mapInPandas
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
every vertex is its own component), l0-sample each sum (_sample_frame), and
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
The sketch is a linear aggregate, so a later micro-batch folds straight
into it: build_state(batch, base=state) decodes each state row into its
vertex's dense slot, adds the batch's updates and encodes once
(streaming/driver.py builds on this); merge_states sums two states in the
same stage.

Scale notes: the only full-width shuffle is the initial repartition(vertex)
(the reference's gutter shuffle). Boruvka rounds ship pruned slices
(~1/num_samples of the state) and partial-aggregate per partition before the
groupBy(root) exchange, so a giant component never concentrates more rows on
one reducer than there are map partitions. Hub skew at ingest is handled by
the net-multiplicity pre-aggregation (groupBy(vertex, eid) partial agg) which
collapses repeat updates JVM-side before any Python work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphzeppelin_spark.config import (
    DRIVER_BYTES,
    DRIVER_ROW_BYTES,
    SketchConfig,
    fits_driver,
)
from graphzeppelin_spark.sketch.dsu import NumpyDSU, driver_components
from graphzeppelin_spark.sketch.kernel import (
    FAIL,
    GOOD,
    ZERO,
    SketchGeometry,
    SketchMatrix,
    add_group_rows,
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
STATE_SCHEMA = T.StructType(
    [
        T.StructField("vertex", T.LongType(), False),
        T.StructField("det", T.BinaryType(), False),
        T.StructField("grp", T.ArrayType(T.BinaryType(), False), False),
    ]
)

# per-(map partition, root) partial sums, same grouped-sparse layout — the
# groupBy(root) exchange ships sparse slices, never dense blobs
GROUPED_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("det", T.BinaryType(), False),
        T.StructField("grp", T.ArrayType(T.BinaryType(), False), False),
    ]
)

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

# build_state's fused single-column ingest key (see _packed_skeys): the
# magnitude eid*2 + is_hi < 2*n^2 must stay inside a signed int64, so the
# fused path engages only for num_vertices <= 2^30 (~10^9 vertices — every
# workload in this repo). Larger universes take the two-column path, whose
# eid = lo*n + hi itself fits int64 only while n*n - 1 does (n <=
# MAX_VERTICES); SketchCC refuses anything larger.
FUSED_KEY_MAX_N = 1 << 30
MAX_VERTICES = 3_037_000_499  # largest n with n*n - 1 <= 2^63 - 1

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
        # default: session shuffle parallelism, capped at the cluster core
        # count — each partition owns a SketchMatrix block; python build
        # tasks beyond the core count only add per-task fixed cost (~15 ms
        # of stage wall per task at local[4], see _query_parts; a cluster
        # passes this explicitly to go wider for skew/memory headroom)
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

    @staticmethod
    def _canonical_updates(stream: DataFrame) -> DataFrame:
        """(lo, hi, sign) canonical undirected updates — the single shared
        definition of edge canonicalization and the insert/delete sign
        convention for both ingest encodings (packed_updates, _packed_skeys).

        Stream contract (validated, not assumed): updates of one edge must
        alternate insert/delete — exactly what the reference asserts on its
        stream readers (a delete of a dead edge / re-insert of a live edge is
        malformed there too). Under that contract the signed sum per
        (vertex, edge) over ANY stream slice lies in {-1, 0, +1} and equals
        the slice's occurrence-parity contribution, which is what makes
        toggle semantics compose with folding micro-batches into the state
        (an insert in batch k cancels a delete in batch k+1 bucket-for-bucket
        when batch k+1 folds in — the role XOR plays in the reference). The
        |net| > 1 guard (_net_guard) catches malformed updates WITHIN one
        stream slice; a malformation split across separately folded slices
        (e.g. two inserts of one edge in different micro-batches, each
        netting +1) is invisible to it and corrupts the folded state —
        cross-batch well-formedness is the producer's contract, exactly as
        the reference's stream readers assume an alternating stream per
        edge. Each undirected update hits both endpoints (the reference's
        double gutter insert, graph_sketch_driver.h:171-172) with the AGM
        signed-incidence convention: +eid at the lo endpoint, -eid at the hi
        endpoint — so summing a supernode's member sketches cancels internal
        edges exactly. All of this collapses in the JVM partial agg before
        any Python runs."""
        return stream.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            F.when(F.col("type") == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
        ).where(F.col("lo") != F.col("hi"))

    @staticmethod
    def _net_guard():
        """Keep net != 0 rows; raise on |net| > 1 (non-alternating stream) —
        the single shared definition of the stream-contract guard. Expects
        columns `net` and `eid` in scope."""
        return F.when(
            F.abs("net") > 1,
            F.raise_error(
                F.concat(
                    F.lit("malformed stream: non-alternating updates for eid "),
                    F.col("eid").cast("string"),
                )
            ).cast("boolean"),
        ).otherwise(F.col("net") != 0)

    def packed_updates(self, stream: DataFrame) -> DataFrame:
        """(vertex, seid) net updates, hash-partitioned by vertex — the build
        shuffle's 16-byte row format (sign folded into the edge id; eid >= 1
        always).

        The ingest path's ONE full-width exchange happens here, BEFORE the
        net-multiplicity aggregation: hashpartitioning(vertex) satisfies the
        (vertex, eid) clustered distribution, so the groupBy that collapses
        duplicate updates runs partition-local with no second exchange. The
        round-3 plan aggregated first (exchange on (vertex, eid)) and then
        repartitioned by vertex — two exchanges; collapsing them measured
        11.9s → 9.5s best (and an ~8x tighter run spread) on the kron_17
        31.6M-update ingest at local[32]. Skew note: a hub vertex now
        concentrates its GROSS update rows (not just net) on one reducer,
        but the reference's alternating-stream contract bounds gross at a
        small multiple of net, and the per-partition aggregation is
        vectorized JVM code either way."""
        part = self._partitioned_updates(stream)
        net = part.groupBy("vertex", F.abs("seid").alias("eid")).agg(
            F.sum(F.when(F.col("seid") > 0, F.lit(1)).otherwise(F.lit(-1))).alias("net")
        )
        guarded = net.where(self._net_guard())
        return guarded.select("vertex", (F.col("net") * F.col("eid")).alias("seid"))

    def _partitioned_updates(self, stream: DataFrame) -> DataFrame:
        """(vertex, seid) GROSS signed incidence rows, hash-partitioned by
        vertex — the build shuffle WITHOUT the net aggregation (build_state
        nets in numpy inside the build stage; packed_updates layers the JVM
        aggregation on top for consumers that want net rows as a table)."""
        n = self.num_vertices
        canon = self._canonical_updates(stream)
        seid = F.col("sign") * (F.col("lo") * F.lit(n) + F.col("hi"))
        # ONE generator scan (inline of a 2-struct array), not a unionAll of
        # two selects: the union form scanned the stream parquet (and computed
        # the canonicalization) twice per materialization — the same lesson as
        # functions/edges.bidirect, applied to the ingest hot path (measured
        # ~0.25s of the kron_17 exchange stage at local[32])
        both = canon.select(
            F.inline(
                F.array(
                    F.struct(F.col("lo").alias("vertex"), seid.alias("seid")),
                    F.struct(F.col("hi").alias("vertex"), (-seid).alias("seid")),
                )
            )
        )
        return both.repartition(self.num_partitions, "vertex")

    def _packed_skeys(self, stream: DataFrame) -> DataFrame:
        """Net updates for the build hot path as (vertex, o) int64 rows,
        hash-partitioned by vertex; ``o`` alone carries the SAME information
        as packed_updates' (vertex, seid). A first build selects ``o`` only
        and recomputes the vertex from the edge id instead of shipping it; a
        fold keeps the grouping's ``vertex`` to repartition its union with
        the base state rows.

        Encoding: a gross incidence row is ``skey = u * (eid*2 + is_hi)``
        where u is the update sign, eid = lo*n + hi, and is_hi says which
        endpoint this row is for (the vertex is then lo or hi of eid — 1
        redundant bit instead of a redundant 8-byte column). After the
        per-(endpoint, edge) net aggregation, ``o = seid_sign * (eid*2 +
        is_hi)`` with seid_sign = net * (+1 at lo / -1 at hi), i.e. exactly
        packed_updates' AGM-signed net rows in one column. Why (guide §2.3,
        §4.1): the build exchange ships 16-byte UnsafeRows instead of
        24-byte two-column rows (-33% shuffle bytes on the ingest's ONE
        full-width exchange) and the Arrow boundary crosses 8 bytes/row
        instead of 16 — kron_17 interleaved A/B over 8 pairs: fused best
        6.59s / median ~7.2 vs two-col best 7.10 / median ~8.6, with a
        byte-identical state (bit_xor checksum over (vertex, det, grp)
        equal) and visibly smaller stall exposure (max 10.2s vs 20.0s under
        co-tenant bursts). All decode arithmetic is exact integer ops
        (shiftright / div / %): float division would silently lose
        precision past 2^53. Gated on FUSED_KEY_MAX_N."""
        n = self.num_vertices
        canon = self._canonical_updates(stream)
        eid2 = (F.col("lo") * F.lit(n) + F.col("hi")) * F.lit(2)
        both = canon.select(
            F.inline(
                F.array(
                    F.struct((F.col("sign") * eid2).alias("skey")),
                    F.struct((F.col("sign") * (eid2 + F.lit(1))).alias("skey")),
                )
            )
        )
        # vertex recomputed from skey; the SAME expression object partitions
        # and groups, so the groupBy reuses the one exchange (plan-gated)
        vexpr = F.expr(
            f"if((abs(skey) & 1) = 1,"
            f" shiftright(abs(skey), 1) % {n},"
            f" shiftright(abs(skey), 1) div {n})"
        )
        part = both.repartition(self.num_partitions, vexpr)
        grouped = part.groupBy(
            vexpr.alias("v"), F.abs(F.col("skey")).alias("akey")
        ).agg(
            F.sum(
                F.when(F.col("skey") > 0, F.lit(1)).otherwise(F.lit(-1))
            ).alias("net")
        )
        guarded = grouped.select(
            "v", "akey", "net", F.shiftright(F.col("akey"), 1).alias("eid")
        ).where(self._net_guard())
        agm = F.when(
            F.col("akey").bitwiseAND(F.lit(1)) == 1, -F.col("net")
        ).otherwise(F.col("net"))
        return guarded.select(
            F.col("v").alias("vertex"), (agm * F.col("akey")).alias("o")
        )

    def build_state(self, stream: DataFrame, base: DataFrame | None = None) -> DataFrame:
        """Build the (vertex, det, grp) state table from a stream slice, or
        fold the slice into an existing state `base`.

        The JVM net-multiplicity aggregation between the exchange and the
        python stage stays DELIBERATELY (round-8 interleaved A/B): the Arrow
        boundary charges per row, and netting cuts the rows crossing it 3x
        at kron_17 (63M gross -> 21M net) — moving the netting into numpy
        (sort + segmented reduce, body measured at 0.29s/partition) still
        lost ~6s end-to-end to the extra 42M rows of Arrow serialization
        (old best 7.2s / median 8.6 vs new 13.1/18.7).

        For num_vertices <= FUSED_KEY_MAX_N the exchange + Arrow rows are
        the fused one-column encoding (_packed_skeys); the state produced is
        byte-identical either way (checksum-pinned regression test).

        With `base`, the slice's net rows keep their vertex, are unioned
        with the base rows (tagged key 0: edge ids are >= 1, so no update
        row has key 0) and repartitioned by vertex once, and ONE python
        stage decodes the base rows into their vertices' dense slots, runs
        the kernel over the updates and encodes once (_sketch_stage). The
        result is byte-identical to merge_states(base, build_state(stream))
        without encoding, shuffling and decoding a delta state: on a 4-core
        host a later kron_14 micro-batch of ~259k updates went from 4.7-5.6 s
        to 3.4-3.9 s, commit and eager DSU included."""
        fused = self.num_vertices <= FUSED_KEY_MAX_N
        # both inputs are already hash-partitioned by vertex
        updates = self._packed_skeys(stream) if fused else self.packed_updates(stream)
        key = "o" if fused else "seid"
        if base is None:
            return self._sketch_stage(updates.select("o") if fused else updates)
        # update rows carry EMPTY blobs, not nulls: Spark's Arrow writer took
        # ~15x longer (16 s vs 1.2 s, kron_14 batch) to ship null det/grp
        # values mixed with the state rows' blobs
        rows = base.select(
            "vertex", "det", "grp", F.lit(0).cast("long").alias(key)
        ).unionAll(
            updates.select(
                "vertex",
                F.lit(b"").alias("det"),
                F.array().cast(T.ArrayType(T.BinaryType())).alias("grp"),
                key,
            )
        )
        return self._sketch_stage(rows.repartition(self.num_partitions, "vertex"))

    def merge_states(self, a: DataFrame, b: DataFrame) -> DataFrame:
        """Additive merge of two state tables (linear-sketch property): the
        fold's python stage over the two states' rows and no updates."""
        both = a.select("vertex", "det", "grp").unionAll(b.select("vertex", "det", "grp"))
        return self._sketch_stage(both.repartition(self.num_partitions, "vertex"))

    def _sketch_stage(self, rows: DataFrame) -> DataFrame:
        """The one python stage of build, fold and merge, over rows that
        are hash-partitioned by vertex. Its columns say what each row is:

        - ``o`` (fused key, o = +-(eid*2 + is_hi)) or ``seid`` (signed
          eid): an update row; a first build ships ``o`` without its
          vertex, which the stage recomputes from eid and is_hi;
        - ``det``/``grp``: a state row, key 0 when a key column exists.
          State rows are decoded into their vertex's slot and summed, so
          two rows of one vertex (merge_states) add up.

        Every vertex of a partition gets one dense SketchMatrix row, the
        kernel adds the updates, and the matrix is encoded once."""
        geom = self.geom
        n = self.num_vertices
        gsz = geom.cols_per_sample * geom.bkt_per_col
        n_groups = geom.num_samples
        cols = set(rows.columns)
        key_col = "o" if "o" in cols else "seid" if "seid" in cols else None
        shift = np.uint64(1 if key_col == "o" else 0)
        has_vertex, has_state = "vertex" in cols, "det" in cols

        def _apply(batches):
            for pdf in _concat(batches):
                if key_col is None:
                    key = np.zeros(len(pdf), dtype=np.int64)
                else:
                    key = pdf[key_col].to_numpy(np.int64)
                akey = np.abs(key).astype(np.uint64)
                eids = akey >> shift
                if has_vertex:
                    verts = pdf["vertex"].to_numpy(np.int64)
                else:
                    is_hi = (akey & np.uint64(1)).astype(bool)
                    lo = (eids // np.uint64(n)).astype(np.int64)
                    hi = (eids % np.uint64(n)).astype(np.int64)
                    verts = np.where(is_hi, hi, lo)
                uniq, inv = np.unique(verts, return_inverse=True)
                sm = SketchMatrix(geom, len(uniq), reuse_slot="build")
                if has_state:
                    old = key == 0
                    add_group_rows(
                        sm.buckets, inv[old], pdf["det"][old].tolist(),
                        pdf["grp"][old].tolist(), gsz,
                    )
                    new = ~old
                    key, eids, inv = key[new], eids[new], inv[new]
                signs = np.where(key >= 0, np.int64(1), np.int64(-1))
                sm.update_many(inv, eids, signs=signs)
                dets, grps = encode_group_rows(sm.buckets, gsz, n_groups)
                yield pd.DataFrame({"vertex": uniq, "det": dets, "grp": grps})

        return rows.mapInPandas(_apply, schema=STATE_SCHEMA)

    # ------------------------------------------------------------------ query

    def _query_parts(self) -> int:
        """Python-task parallelism for QUERY-side map stages.

        The build shuffle keeps self.num_partitions (the gutter geometry),
        but query stages over the built state are latency-bound by per-task
        overhead, not bytes. On a 4-core host (local[4]) a mapInPandas
        stage of trivial tasks costs 0.26 s at 4 tasks and 1.24 s at 64:
        ~15 ms of stage wall per extra task, PythonRunner's per-task `init`
        a median 1 ms. Before the package guarded Spark's zip archives
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
        partition's dense sums (_sample_frame). Sampling k fresh groups
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

        def _sum(pdf, stage):
            arr = decode_group_rows(
                pdf["det"].tolist(), pdf["grp"].tolist(), k, gsz, slice_nb,
                reuse_slot="gdec_" + stage,
            )
            uniq, inv = np.unique(pdf["root"].to_numpy(np.int64), return_inverse=True)
            acc = cached_zero_buckets(slice_nb, len(uniq), "gacc_" + stage)
            with np.errstate(over="ignore"):
                np.add.at(acc, inv, arr)
            return uniq, acc

        def _partial(batches):
            for pdf in _concat(batches):
                uniq, acc = _sum(pdf, "partial")
                dets, grps = encode_group_rows(acc, gsz, k)
                yield pd.DataFrame({"root": uniq, "det": dets, "grp": grps})

        def _final(batches):
            for pdf in _concat(batches):
                yield _sample_frame(g, *_sum(pdf, "final"), group_lo)

        return (
            joined.mapInPandas(_partial, schema=GROUPED_PARTIAL_SCHEMA)
            .repartition(self._query_parts(), "root")
            .mapInPandas(_final, schema=SAMPLE_SCHEMA)
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
            ).select("root", "det", "grp").collect()
            group_lo += kb
            dets = [r["det"] for r in rows]
            grps = [r["grp"] for r in rows]
            rec["giant_rows"] += int(sizes[giant])
            rec["collected_rows"] += len(rows)
            rec["est_bytes"] += int(others.sum()) * self._slice_bytes(kb)
            rec["collected_bytes"] += sum(map(len, dets)) + sum(
                len(b) for row in grps for b in row
            )
            arr = decode_group_rows(dets, grps, kb, gsz, slice_nb)
            roots = active
            acc = np.zeros((len(roots), slice_nb, 2), dtype=np.uint64)
            with np.errstate(over="ignore"):
                np.add.at(acc, np.searchsorted(roots, [r["root"] for r in rows]), arr)
                acc[giant] = np.negative(acc.sum(axis=0))  # acc[giant] is still 0
            slice_geom = _SliceGeom(g, slice_nb, kb)
            for gi in range(kb):
                status, eid = SketchMatrix(slice_geom, len(roots), acc).sample_many(gi)
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
            for pdf in _concat(batches):
                arr = decode_group_rows(
                    pdf["det"].tolist(), pdf["grp"].tolist(), k, gsz, k * gsz + 1,
                    reuse_slot="gdec_sample",
                )
                yield _sample_frame(geom, pdf["vertex"].to_numpy(np.int64), arr, group_lo)

        return self._sliced(state, group_lo, group_hi).mapInPandas(
            _sample, schema=SAMPLE_SCHEMA
        )

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
        remap_driver_bytes: int = DRIVER_BYTES,
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
           `remap_driver_bytes` (bounded by actual EDGES collected, never
           Θ(num_vertices)), a numpy DSU computes the (root → new_root)
           remap in-process; otherwise the exact star-contraction operator
           (operators/connectivity.py) contracts it distributed. A
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
                        self._remap(comp_edges, n_edges, remap_driver_bytes), "root", "left"
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

    def _remap(
        self, comp_edges: DataFrame, n_edges: int, remap_driver_bytes: int
    ) -> DataFrame:
        """(root, new_root) for one round's component multigraph, rows only
        where the root moves: a driver numpy DSU when the edges fit
        `remap_driver_bytes` (bounded by the edges collected, never
        Θ(num_vertices)), else the exact star-contraction operator."""
        if not fits_driver(n_edges * DRIVER_ROW_BYTES, remap_driver_bytes):
            from graphzeppelin_spark.operators.connectivity import (
                connected_components_df,
            )

            return connected_components_df(comp_edges).select(
                F.col("v").alias("root"), F.col("component").alias("new_root")
            ).where(F.col("root") != F.col("new_root"))
        pdf = comp_edges.toPandas()
        ids, comp = driver_components(pdf["src"], pdf["dst"])
        moved = comp != ids
        return F.broadcast(
            self.spark.createDataFrame(
                pd.DataFrame({"root": ids[moved], "new_root": comp[moved]}),
                schema="root long, new_root long",
            )
        )

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


class _SliceGeom:
    """Geometry view for a pruned k-sample-group slice: the slice looks like
    a sketch with num_samples=k whose columns are those groups' columns
    (contiguous in the bucket layout), det bucket in the last slot."""

    def __init__(self, full: SketchGeometry, slice_nbuckets: int, k: int = 1):
        self.num_vertices = full.num_vertices
        self.seed = full.seed
        self.variant = full.variant
        self.bkt_per_col = full.bkt_per_col
        self.cols_per_sample = full.cols_per_sample
        self.num_samples = k
        self.num_columns = k * full.cols_per_sample
        self.num_buckets = slice_nbuckets
        self.checksum_seed = full.checksum_seed

    def column_seed(self, col):
        raise NotImplementedError("pruned slices are query-only")


def _concat(batches):
    """Coalesce an iterator of small Arrow batches into one pandas frame."""
    pdfs = list(batches)
    if not pdfs:
        return
    yield pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]


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


def _sample_frame(
    geom: SketchGeometry, roots: np.ndarray, acc: np.ndarray, group_lo: int
) -> pd.DataFrame:
    """(root, grp, status, eid) rows: every row of `acc` — a dense slice of
    k sample groups starting at group_lo — l0-sampled once per group; eid
    is 0 unless the sample is GOOD."""
    k = (acc.shape[1] - 1) // (geom.cols_per_sample * geom.bkt_per_col)
    sm = SketchMatrix(_SliceGeom(geom, acc.shape[1], k), len(roots), acc)
    frames = []
    for gi in range(k):
        status, eid = sm.sample_many(gi)
        eid[status != GOOD] = 0
        frames.append(
            pd.DataFrame(
                {
                    "root": roots,
                    "grp": np.full(len(roots), group_lo + gi, np.int32),
                    "status": status.astype(np.int32),
                    "eid": eid.view(np.int64),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)

