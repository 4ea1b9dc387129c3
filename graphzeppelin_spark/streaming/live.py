"""Structured Streaming live mode: readStream → foreachBatch → sketch state.

The batch driver (driver.py) replays a seq-ordered table deterministically —
the reference's model. This wrapper runs the same linear-merge ingest against
a *live* file stream (new parquet files appearing in a directory, the
Spark-native stand-in for a Kafka topic): each micro-batch's updates fold
into the sketch state inside foreachBatch, and queries run against the
current state between (or during) triggers.

Because the sketch is a commutative, associative, invertible aggregate,
exactly-once vs at-least-once delivery is the only correctness concern —
foreachBatch + the streaming checkpoint gives exactly-once batch replay, and
our own snapshot store versions the state per batch for resumability.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from graphzeppelin_spark.operators.sketch_cc import STATE_SCHEMA, SketchCC
from graphzeppelin_spark.session import free_local_checkpoint
from graphzeppelin_spark.sources.stream import STREAM_SCHEMA
from graphzeppelin_spark.streaming.checkpoint import CheckpointStore


def _has_committed_batches(stream_checkpoint_dir: str) -> bool:
    """True if a Structured Streaming checkpoint at this path has COMPLETED
    at least one batch (commits/ entry) — only completed batches are skipped
    on restart, so only they make a fresh instance's empty state unsafe.
    (offsets/N is written BEFORE a batch processes; a crash mid-first-batch
    leaves offsets/0 with no commit, and that checkpoint is safe to resume
    from scratch — the engine will replay batch 0.)"""
    import os

    commits = os.path.join(stream_checkpoint_dir, "commits")
    return os.path.isdir(commits) and any(
        not f.startswith(".") for f in os.listdir(commits)
    )


class LiveGraphStream:
    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        num_vertices: int,
        stream_checkpoint_dir: str,
        state_checkpoint_dir: str | None = None,
        seed: int = 42,
        variant: str = "cubesketch",
    ):
        self.spark = spark
        self.alg = SketchCC(spark, num_vertices, seed=seed, variant=variant)
        self.num_vertices = num_vertices
        self.state: DataFrame | None = None
        self.batches_seen = 0
        self.store = (
            CheckpointStore(spark, state_checkpoint_dir) if state_checkpoint_dir else None
        )
        import os

        os.makedirs(source_dir, exist_ok=True)
        self._source = (
            spark.readStream.schema(STREAM_SCHEMA).parquet(source_dir)
        )
        self._stream_ckpt = stream_checkpoint_dir
        self._seed = seed
        self._variant = variant
        # a stream checkpoint with completed batches means previously-ingested
        # files will be SKIPPED on restart; a fresh instance must therefore
        # restore the state that matched those batches, or refuse to start —
        # resuming with empty state would silently drop every pre-restart edge
        self._committed_through = -1  # highest batch id folded INTO self.state
        if _has_committed_batches(stream_checkpoint_dir):
            if self.store is None or self.store.latest_id() is None:
                raise ValueError(
                    f"stream checkpoint {stream_checkpoint_dir!r} already has "
                    "committed offsets but no state snapshot is available to "
                    "restore; pass the state_checkpoint_dir used by the "
                    "previous run, or start with a fresh stream checkpoint dir"
                )
            state, meta = self.store.read()
            # the snapshot must belong to THIS sketch family — merging deltas
            # hashed under a different seed/variant/universe into it would
            # silently corrupt every later answer
            for key, want in (
                ("seed", seed),
                ("variant", variant),
                ("num_vertices", num_vertices),
            ):
                if meta.get(key) != want:
                    raise ValueError(
                        f"state snapshot {key}={meta.get(key)!r} does not match "
                        f"this instance's {key}={want!r}; construct the stream "
                        "with the previous run's parameters (or use fresh dirs)"
                    )
            self.state = state.persist()
            self._committed_through = int(meta.get("stream_batch_id", -1))
            self.batches_seen = self._committed_through + 1

    def _fold_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # replay guard: foreachBatch is at-least-once. If the previous run
        # crashed AFTER our state snapshot committed but BEFORE Structured
        # Streaming wrote commits/N, the engine re-delivers batch N on
        # restart — folding it again would net every edge to +-2 in the
        # signed-sum buckets (silent corruption). The snapshot's batch id is
        # exactly the replay watermark.
        if batch_id <= self._committed_through:
            return
        if batch_df.isEmpty():
            return
        from graphzeppelin_spark.session import aqe_off

        # Same two disciplines as the batch driver's _apply_batch, which the
        # round-7 kron_17 live bench showed this path was missing (per-wave
        # fold cost grew 21 -> 126 -> 310s across 4 equal waves, and a
        # restarted instance whose state came from the store's parquet ran
        # the SAME next wave in 215s): (1) the fold's shuffles are
        # few/large/fixed-width — AQE off for the materializing action;
        # (2) after a store commit, adopt the state read back FROM the
        # store, so the working state's lineage is a clean parquet scan
        # instead of an ever-deepening fold-over-localCheckpoint chain
        # whose in-JVM blocks compound memory pressure wave over wave. The
        # wave folds straight into the state (build_state's base): no
        # delta state is built, shuffled or merged.
        with aqe_off(self.spark):
            new_state = self.alg.build_state(batch_df, base=self.state)
            if self.store is not None:
                snap = self.store.commit(
                    new_state,
                    {
                        "seed": self._seed,
                        "num_vertices": self.num_vertices,
                        "variant": self._variant,
                        "seq_watermark": -1,  # live mode: source supplies order
                        "stream_batch_id": int(batch_id),
                    },
                )
                new_state, _ = self.store.read(snap, schema=new_state.schema)
            else:
                new_state = new_state.localCheckpoint(eager=True)
        if self.state is not None:
            self.state.unpersist()
            free_local_checkpoint(self.state)
        self.state = new_state.persist()
        self._committed_through = int(batch_id)
        self.batches_seen += 1

    def process_available(self) -> None:
        """Consume everything currently in the source directory and stop
        (Trigger.AvailableNow) — the streaming analog of process_stream_until."""
        q = (
            self._source.writeStream.foreachBatch(self._fold_batch)
            .option("checkpointLocation", self._stream_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def connected_components(self) -> np.ndarray:
        if self.state is None:
            return np.arange(self.num_vertices, dtype=np.int64)
        labels, _ = self.alg.boruvka(self.state)
        return labels


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


class LivePagesStream:
    """Live-crawl front-end: the BASELINE input_hint pages table consumed as
    a Structured Stream, maintaining an incremental url dictionary and a
    sketch-CC state over the resolved link graph.

    Per micro-batch (foreachBatch):
    1. new urls get dense ids appended to the dictionary (url_dictionary on
       the batch's novel urls + the current offset — ids are stable once
       assigned, never reshuffled);
    2. extracted hrefs whose target page has not arrived yet wait in a
       `pending` table (a crawl links forward as often as back);
    3. hrefs whose both endpoints exist resolve to canonical (src, dst) id
       pairs; pairs never folded before become INSERT updates into the
       sketch state (the `inserted` table guards toggle semantics — folding
       the same edge twice would DELETE it under the signed-sum algebra).

    Queries run between triggers against the current state, exactly like
    LiveGraphStream. Vertex capacity is fixed up front (sketch geometry),
    so `num_vertices_capacity` bounds the crawl size of one state.

    Durability: with `state_checkpoint_dir` set, every micro-batch commits
    an atomic snapshot of all four tables (dictionary/pending/inserted/
    sketch state) + next_vid, and a NEW instance pointed at the same dirs
    RESUMES it — source offsets from the stream checkpoint, graph state
    from the snapshot, nothing replayed twice and nothing lost. Without it,
    a committed stream checkpoint is refused for a fresh instance (resuming
    offsets with empty state would silently drop every pre-restart page)."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        stream_checkpoint_dir: str,
        num_vertices_capacity: int,
        seed: int = 42,
        variant: str = "cameo",
        state_checkpoint_dir: str | None = None,
    ):
        import os

        self.spark = spark
        self.alg = SketchCC(spark, num_vertices_capacity, seed=seed, variant=variant)
        self.capacity = num_vertices_capacity
        self.state: DataFrame | None = None
        self.dict_df: DataFrame | None = None  # (url, vid)
        self.pending: DataFrame | None = None  # (src_url, dst_url)
        self.inserted: DataFrame | None = None  # canonical (src, dst) vids
        self.next_vid = 0
        self.batches_seen = 0
        os.makedirs(source_dir, exist_ok=True)
        self._source = spark.readStream.schema(PAGES_SCHEMA).parquet(source_dir)
        self._stream_ckpt = stream_checkpoint_dir
        self._state_ckpt = state_checkpoint_dir
        self._seed = seed
        self._variant = variant
        self._committed_through = -1  # highest batch id folded into this state
        if _has_committed_batches(stream_checkpoint_dir):
            snap = self._latest_snapshot()
            if snap is None:
                raise ValueError(
                    f"stream checkpoint {stream_checkpoint_dir!r} already has "
                    "committed offsets but no state snapshot exists to restore; "
                    "pass the state_checkpoint_dir the previous run used, or "
                    "start with a fresh stream checkpoint dir (and replay the "
                    "source) to rebuild the full graph"
                )
            self._restore_snapshot(snap)

    # -------------------------------------------------- durable state snapshots

    _TABLES = ("dict_df", "pending", "inserted", "state")
    _SCHEMAS = {
        "dict_df": "url string, vid long",
        "pending": "src_url string, dst_url string",
        "inserted": "src long, dst long",
        "state": STATE_SCHEMA,
    }

    def _latest_snapshot(self) -> str | None:
        import os

        if self._state_ckpt is None or not os.path.isdir(self._state_ckpt):
            return None
        snaps = sorted(
            d
            for d in os.listdir(self._state_ckpt)
            if d.startswith("snap-")
            and os.path.exists(os.path.join(self._state_ckpt, d, "metadata.json"))
        )
        return os.path.join(self._state_ckpt, snaps[-1]) if snaps else None

    def _commit_snapshot(self, batch_id: int) -> None:
        """Atomic snapshot of the full crawl state: four parquet tables +
        metadata, metadata written LAST so readers never see a half
        snapshot (same discipline as CheckpointStore)."""
        import json
        import os

        d = os.path.join(self._state_ckpt, f"snap-{self.batches_seen:08d}")
        for name in self._TABLES:
            df = getattr(self, name)
            if df is None:
                df = self.spark.createDataFrame([], self._SCHEMAS[name])
            df.write.mode("overwrite").parquet(os.path.join(d, name))
        with open(os.path.join(d, "metadata.json"), "w") as f:
            json.dump(
                {
                    "next_vid": self.next_vid,
                    "batches_seen": self.batches_seen,
                    "stream_batch_id": int(batch_id),
                    "capacity": self.capacity,
                    "seed": self._seed,
                    "variant": self._variant,
                },
                f,
            )

    def _restore_snapshot(self, snap_dir: str) -> None:
        import json
        import os

        with open(os.path.join(snap_dir, "metadata.json")) as f:
            meta = json.load(f)
        for key, want in (
            ("capacity", self.capacity),
            ("seed", self._seed),
            ("variant", self._variant),
        ):
            if meta.get(key, want) != want:  # older snapshots lack seed/variant
                raise ValueError(
                    f"snapshot {key}={meta.get(key)!r} does not match this "
                    f"instance's {key}={want!r}; construct the stream with the "
                    "previous run's parameters (or use fresh dirs)"
                )
        for name in self._TABLES:
            df = self.spark.read.parquet(os.path.join(snap_dir, name))
            setattr(self, name, None if df.isEmpty() else df)
        if self.state is not None:
            self.state = self.state.persist()
        self.next_vid = int(meta["next_vid"])
        self.batches_seen = int(meta["batches_seen"])
        self._committed_through = int(meta.get("stream_batch_id", -1))

    def _fold_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from graphzeppelin_spark.sources.pages import extract_hrefs, url_dictionary

        # replay guard (see LiveGraphStream._fold_batch): a re-delivered batch
        # whose effects are already in the restored snapshot must not fold
        # again — double-folding an edge DELETES it under toggle semantics
        if batch_id <= self._committed_through:
            return
        if batch_df.isEmpty():
            return
        # superseded checkpoints, freed once this batch's replacements have
        # materialized — otherwise dead checkpoint blocks accumulate for the
        # lifetime of a long-running crawl
        superseded = [self.dict_df, self.pending, self.inserted]
        # 1. extend the dictionary with the batch's novel urls
        new_urls = batch_df.select("url").distinct()
        if self.dict_df is not None:
            new_urls = new_urls.join(self.dict_df.select("url"), "url", "left_anti")
        new_entries = url_dictionary(new_urls.select("url")).select(
            "url", (F.col("vid") + F.lit(self.next_vid)).alias("vid")
        )
        n_new = new_entries.count()
        if self.next_vid + n_new > self.capacity:
            raise ValueError(
                f"crawl exceeds num_vertices_capacity={self.capacity}; "
                "start a new state with a larger capacity"
            )
        self.dict_df = (
            new_entries if self.dict_df is None else self.dict_df.unionAll(new_entries)
        ).localCheckpoint(eager=True)
        self.next_vid += n_new

        # 2. pending ∪ new hrefs, split by resolvability
        hrefs = extract_hrefs(batch_df)
        all_hrefs = (
            hrefs if self.pending is None else self.pending.unionAll(hrefs)
        )
        dst_d = self.dict_df.select(
            F.col("url").alias("dst_url"), F.col("vid").alias("dvid")
        )
        src_d = self.dict_df.select(
            F.col("url").alias("src_url"), F.col("vid").alias("svid")
        )
        with_dst = all_hrefs.join(dst_d, "dst_url", "left")
        self.pending = (
            with_dst.where(F.col("dvid").isNull())
            .select("src_url", "dst_url")
            .localCheckpoint(eager=True)
        )
        resolved = (
            with_dst.where(F.col("dvid").isNotNull())
            .join(src_d, "src_url")
            .select(
                F.least("svid", "dvid").alias("src"),
                F.greatest("svid", "dvid").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

        # 3. fold only never-before-inserted edges (toggle-safety)
        new_edges = (
            resolved
            if self.inserted is None
            else resolved.join(self.inserted, ["src", "dst"], "left_anti")
        ).localCheckpoint(eager=True)
        self.inserted = (
            new_edges if self.inserted is None else self.inserted.unionAll(new_edges)
        ).localCheckpoint(eager=True)
        if new_edges.isEmpty():
            self._committed_through = int(batch_id)
            self.batches_seen += 1
            if self._state_ckpt is not None:
                self._commit_snapshot(batch_id)
            self._free(superseded + [new_edges])
            return
        stream = new_edges.select(
            F.monotonically_increasing_id().alias("seq"),
            F.lit(0).alias("type"),
            "src",
            "dst",
        )
        new_state = self.alg.build_state(stream, base=self.state).localCheckpoint(
            eager=True
        )
        if self.state is not None:
            self.state.unpersist()
            superseded.append(self.state)
        self.state = new_state.persist()
        self._committed_through = int(batch_id)
        self.batches_seen += 1
        if self._state_ckpt is not None:
            self._commit_snapshot(batch_id)
        superseded.append(new_edges)  # consumed by the fold above
        self._free(superseded)

    @staticmethod
    def _free(dfs) -> None:
        for df in dfs:
            if df is not None:
                free_local_checkpoint(df)

    def process_available(self) -> None:
        """Consume everything currently in the source directory and stop."""
        q = (
            self._source.writeStream.foreachBatch(self._fold_batch)
            .option("checkpointLocation", self._stream_ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def url_components_df(self) -> DataFrame:
        """(url, component) DataFrame — component labels are sketch-CC over
        the assigned vids. This is the scale path: the result stays
        distributed (join of the url dictionary against the label table), so
        no driver structure is Θ(corpus)."""
        import pandas as pd
        from pyspark.sql import functions as F

        if self.dict_df is None:
            return self.spark.createDataFrame([], "url string, component long")
        if self.state is None:
            return self.dict_df.select("url", F.col("vid").alias("component"))
        labels, _ = self.alg.boruvka(self.state)
        labels_df = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "vid": np.arange(self.next_vid, dtype=np.int64),
                    "component": labels[: self.next_vid],
                }
            )
        )
        return self.dict_df.join(labels_df, "vid").select("url", "component")

    def url_components(self) -> dict[str, int]:
        """Dict form of url_components_df — Θ(corpus) on the driver by
        signature; test/debug convenience only, use url_components_df at
        scale."""
        return {
            r["url"]: int(r["component"]) for r in self.url_components_df().collect()
        }
