"""SparkSession factory with scale-appropriate defaults.

Local mode is single-JVM; on a real cluster the same configs apply, with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and AQE left on to
coalesce/split at runtime (power-law web graphs produce skewed shuffles; AQE
skew-join splitting plus our explicit hub salting handle that — SURVEY.md §4).
"""

from __future__ import annotations

import os
import sys
import threading

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "graphzeppelin_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or "*".
    shuffle_partitions defaults to the core count (local mode: no network
    shuffle, so partitions ≈ cores minimizes task overhead; a real cluster
    would use 2-3x total cores and rely on AQE coalescing).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores), 8)
        except (TypeError, ValueError):
            shuffle_partitions = 32

    # AQE default: ON — iterative small-shuffle queries (star-contraction CC,
    # unrolled PageRank) rely on its partition coalescing (measured 12x
    # slower without it at sf0.1). The big one-pass sketch-ingest shuffles
    # are the opposite case: AQE's per-query-stage materialization costs 5x
    # there (kron_17 agg: 19.2s on vs 3.9s off at local[32], any advisory
    # size) — so the sketch hot paths disable it per-action via aqe_off()
    # below. Both effects are measured on this VM, not assumed.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") == "1"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", str(aqe).lower())
        # if AQE is on: default 64MB advisory would coalesce most sandbox
        # shuffles to 1-2 partitions and serialize the downstream stage
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", str(aqe).lower())
        # sandbox tables are a few MB-100MB: the 128MB default gives 1-3 scan
        # tasks and starves the 32 cores; a 100TB cluster deployment would
        # raise this back (or rely on AQE) to bound task count
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def default_driver_memory(total_bytes: int | None = None) -> str:
    """spark.driver.memory when $SPARK_DRIVER_MEM is unset: a quarter of the
    host's RAM (`total_bytes`, read from the host when None), clamped to
    2-8 GB. In local mode the driver JVM is the executor too, and it shares
    the host with the Python workers and the inputs; a heap sized past the
    host's RAM only turns an OutOfMemoryError into the host killing it."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(2, min(8, total_bytes // 2**32))}g"


def skip_unchanged_zip_rereads() -> None:
    """Make `importlib.invalidate_caches()` re-read a zip archive on sys.path
    only when the archive changed.

    PySpark's Python worker calls importlib.invalidate_caches() before every
    task (setup_spark_files in pyspark/worker_util.py). Before CPython 3.12,
    zipimporter.invalidate_caches re-reads its archive's central directory
    in pure Python, and a worker's sys.path holds pyspark.zip (1,328
    entries), the py4j zip and the spark-core jar (5,359 entries) behind 16
    zipimporters (one per archive and sub-package): 130-435 ms of every
    task's start on a 4-core host. The wrapper installed here re-reads an
    archive only when its (st_ino, st_mtime_ns, st_size) differs from the
    one stat-ed before its last re-read through the wrapper; otherwise the
    importer takes the directory that zipimport already caches for the
    archive, which is the one that re-read produced. An unchanged archive
    then costs one stat per importer, and a rewritten one is still reloaded.
    CPython 3.12 made this invalidation lazy, so there it does nothing.

    The package runs this at import, so a reused worker pays the re-reads
    once instead of on every task. Idempotent."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "skips_unchanged", False):
        return
    stat_at_read: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)  # gone or unreadable: the original drops the cache
            return
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stat_at_read.get(self.archive) == key:
            self._files = files
            return
        reread(self)  # stat first: a change during the read re-reads next time
        stat_at_read[self.archive] = key

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_AQE_LOCK = threading.Lock()
_AQE_STATE: dict[int, tuple[str, int]] = {}  # session id -> (original, depth)


class aqe_off:
    """Disable adaptive execution around a block of Spark ACTIONS.

    AQE is read at query-execution time, so wrapping the action (not the
    plan construction) is what matters. The sketch ingest/query paths use
    this: their shuffles are few, large, and fixed-width, where AQE's
    query-stage materialization costs ~5x (see get_spark); the rest of the
    engine keeps AQE's coalescing.

    Reentrant and thread-safe via a per-session depth counter: with
    query-during-ingest overlap (streaming/driver.py), two threads can hold
    this simultaneously — a naive save/restore would capture the OTHER
    thread's "false" as its restore value and leave AQE off for the rest of
    the session. Only the outermost exit restores the original setting.
    (Session conf is still process-global: a concurrent non-sketch query
    launched inside the window runs without AQE — a perf nuance only.)"""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        with _AQE_LOCK:
            key = id(self.spark)
            if key not in _AQE_STATE:
                orig = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
                _AQE_STATE[key] = (orig, 1)
                self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            else:
                orig, depth = _AQE_STATE[key]
                _AQE_STATE[key] = (orig, depth + 1)
        return self

    def __exit__(self, *exc):
        with _AQE_LOCK:
            key = id(self.spark)
            orig, depth = _AQE_STATE[key]
            if depth == 1:
                del _AQE_STATE[key]
                self.spark.conf.set("spark.sql.adaptive.enabled", orig)
            else:
                _AQE_STATE[key] = (orig, depth - 1)
        return False


def free_local_checkpoint(df) -> None:
    """Deterministically release a SUPERSEDED localCheckpoint's cached blocks.

    `Dataset.unpersist()` only clears CacheManager entries; the RDD a
    localCheckpoint materialized stays in the block manager until the
    ContextCleaner's periodic GC notices the reference died (default every
    30 min) — so iterative jobs that re-checkpoint per round accumulate dead
    blocks for the whole run. The checkpointed RDD is reachable as the
    analyzed plan's LogicalRDD, and unpersisting IT frees the blocks now.

    The DataFrame is unusable afterwards (its lineage was truncated at
    checkpoint time) — only call this on a checkpoint that nothing will read
    again. No-op for non-localCheckpoint DataFrames and on any reflection
    failure (this leans on Spark internals; leaking until the periodic GC is
    the acceptable fallback)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
