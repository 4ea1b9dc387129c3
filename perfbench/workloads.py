"""The two workloads: a batch sketch build with repeated CC queries, and a
micro-batched stream with CC probes, checkpoints and a resume.

Both run in one local Spark session sized to the host. Every result is checked
against the package's exact oracle: a result that differs counts as a failed
operation and the run goes on.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import host, inputs
from perfbench.trace import Tracer

KRON_BATCH = {"scale": 15, "edge_factor": 64}
KRON_STREAM = {"scale": 14, "edge_factor": 64, "batches": 4}
# pages table for the web layers, measured in kron_batch's traced run only
WEB_GRAPH = {"scale": 12, "edge_factor": 32}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark run: its session, tracer, and operation tally."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(f"{workload}-seed{seed}-{os.getpid()}", enabled=trace)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.stream = None
        self.session_start_s = None
        self.steal_pct = 0.0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what} differs from the oracle")

    def failed_op(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        log(f"FAILED: {what} raised\n{traceback.format_exc()}")

    def setup(self, stream_path: str) -> float:
        """Start the session (a cold JVM) and read and cache the input;
        returns the seconds it took."""
        t0 = time.perf_counter()
        with self.tracer.span("session.start", "session"):
            self.spark, self.session_start_s = host.start_session()
        self.tracer.sc = self.spark.sparkContext
        with self.tracer.span("sources.read_cache", "sources"):
            self.stream = self.spark.read.parquet(stream_path).cache()
            self.stream.count()
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop the session but keep the JVM."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = self.tracer.sc = None

    def timed(self, once, min_reps: int, min_traced: int) -> tuple[list, list]:
        """Call once() after a JVM GC each time, at least min_reps times and
        then as long as one more call, at the median length of the calls so
        far, still ends within --seconds. So a run measures about --seconds
        and never overshoots them by a whole call. A traced run alternates
        untraced and traced calls (at least min_traced, an odd number, so
        a steady warm-up drift weighs on both kinds alike) and so measures
        the tracing overhead within one process. Returns the results of the
        traced calls (all calls, untraced) and of the untraced calls of a
        traced run; calls that failed return None and are left out."""
        from graphzeppelin_spark.hostmeter import StealMeter

        traced = self.tracer.enabled
        main, plain = [], []
        meter = StealMeter()
        start = time.perf_counter()
        calls = []
        i = 0
        while i < (min_traced if traced else min_reps) or (
                time.perf_counter() - start + statistics.median(calls) <= self.seconds):
            self.tracer.enabled = traced and i % 2 == 1
            t = time.perf_counter()
            host.jvm_gc(self.spark)
            r = once()
            calls.append(time.perf_counter() - t)
            if r is not None:
                (plain if traced and not self.tracer.enabled else main).append(r)
            i += 1
        self.tracer.enabled = traced
        self.steal_pct = meter.steal_pct() or 0.0
        log(f"host steal over the timed window: {self.steal_pct}%")
        if not main:
            raise RuntimeError("no timed repetition completed")
        return main, plain


def storage_bytes(spark) -> int:
    """Bytes held by every cached dataset, memory plus disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# --------------------------------------------------------------- kron_batch


def kron_batch(run: Run) -> tuple[dict, dict]:
    """Build the whole stream into a persisted state, then run a Boruvka CC
    query on it; repeat. Warm-up: two untimed repetitions; after only one,
    the next build is still 10-20% slower than later ones."""
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off

    inp = inputs.kron_batch(run.seed, **KRON_BATCH)
    web = inputs.web_graph(run.seed, **WEB_GRAPH) if run.tracer.enabled else None
    n = inp["num_vertices"]
    expect_rows = len(np.unique(np.load(inp["live"])))
    tr = run.tracer

    setup_s = run.setup(inp["stream"])
    spark = run.spark
    t0 = time.perf_counter()
    alg = SketchCC(spark, n)
    base_bytes = storage_bytes(spark)

    def rep() -> dict | None:
        out = {}
        state = None
        try:
            with tr.span("bench.rep", "bench"):
                t = time.perf_counter()
                with tr.span("sketch_cc.build_state", "sketch_cc") as span, aqe_off(spark):
                    state = alg.build_state(run.stream).persist()
                    rows = state.count()
                out["build_s"] = time.perf_counter() - t
                out["build_span"] = span
                out["state_rows"] = rows
                out["state_mb"] = (storage_bytes(spark) - base_bytes) / 1e6
                # one query per build: a second would cost a build sample
                # every other repetition, and builds vary most between runs
                host.jvm_gc(spark)
                t = time.perf_counter()
                with tr.span("boruvka.boruvka", "boruvka") as span:
                    labels = alg.boruvka(state)[0]
                out["query_s"] = time.perf_counter() - t
                out["boruvka_span"] = span
                out["stats"] = alg.last_boruvka_stats
        except Exception:
            run.failed_op("build_state + boruvka")
            return None
        finally:
            if state is not None:
                state.unpersist(blocking=True)
        run.check(rows == expect_rows, f"state rows {rows} (expected {expect_rows})")
        run.check(np.array_equal(labels, inp["labels"]), "boruvka labels")
        log(f"build {out['build_s']:.2f}s boruvka {out['query_s']:.2f}s")
        return out

    for _ in range(2):
        host.jvm_gc(spark)
        rep()
    setup_s += time.perf_counter() - t0
    log(f"set-up with warm-up {setup_s:.2f}s")

    reps, plain = run.timed(rep, min_reps=3, min_traced=5)
    build_s = statistics.median(r["build_s"] for r in reps)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ingest_per_s": (inp["updates"] / build_s, "1/s"),
        "query_s": (statistics.median(r["query_s"] for r in reps), "s"),
        "state_mb": (statistics.median(r["state_mb"] for r in reps), "MB"),
    }
    if not tr.enabled:
        return metrics, {}

    from perfbench import layers as L

    wall = lambda r: r["build_s"] + r["query_s"]  # noqa: E731
    per_layer = {
        **L.session_layer(run),
        **L.overhead([wall(r) for r in reps], [wall(r) for r in plain]),
        **L.build_spans(run, [r["build_span"] for r in reps], reps),
        **L.boruvka_spans(run, [r["boruvka_span"] for r in reps],
                          reps[-1]["stats"]),
        **L.ingest_probes(run, alg, run.stream),
        **L.kernel_probe(run, alg, run.stream),
        **L.dsu_probe(run, np.load(inp["live"]), n, inp["labels"]),
        **L.web_probe(run, web),
    }
    # last: it leaves the session at half the cores
    per_layer.update(L.scaling_probe(run, inp["stream"], n, build_s))
    return metrics, per_layer


# -------------------------------------------------------------- kron_stream


def stream_pass(run: Run, n: int, bounds: list[int], labels: np.ndarray,
                ckpt: str) -> dict | None:
    """Apply the stream in micro-batches up to each bound, probe CC after
    every batch against the oracle labels of that prefix, then resume from
    the last checkpoint and probe once more."""
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver

    tr = run.tracer
    spark = run.spark
    shutil.rmtree(ckpt, ignore_errors=True)
    out = {"batch_s": [], "probe_s": [], "batch_spans": [], "probe_spans": []}
    drv = resumed = None
    try:
        drv = GraphStreamDriver(spark, run.stream, n, checkpoint_dir=ckpt)
        for b, hi in enumerate(bounds):
            t = time.perf_counter()
            with tr.span("driver.process_stream_until", "driver") as span:
                drv.process_stream_until(hi)
            out["batch_s"].append(time.perf_counter() - t)
            if span is not None:
                out["batch_spans"].append(span)
            t = time.perf_counter()
            with tr.span("driver.connected_components", "driver") as span:
                got = drv.connected_components()
            out["probe_s"].append(time.perf_counter() - t)
            if span is not None:
                out["probe_spans"].append(span)
            run.check(np.array_equal(got, labels[b]), f"CC probe after batch {b}")
        out["stats"] = getattr(drv.alg, "last_boruvka_stats", None)
        snaps = sorted(d for d in os.listdir(ckpt) if d.startswith("snap-"))
        out["state_mb"] = host.dir_mb(os.path.join(ckpt, snaps[-1]))
        drv.state.unpersist(blocking=True)
        t = time.perf_counter()
        with tr.span("driver.resume", "driver"):
            resumed = GraphStreamDriver.resume(spark, run.stream, ckpt)
            got = resumed.connected_components()
        out["resume_s"] = time.perf_counter() - t
        run.check(np.array_equal(got, labels[-1]), "CC after resume")
        log(f"batches {[round(t, 2) for t in out['batch_s']]}s probes "
            f"{[round(t, 2) for t in out['probe_s']]}s resume {out['resume_s']:.2f}s")
    except Exception:
        run.failed_op("stream pass")
        return None
    finally:
        for d in (drv, resumed):
            if d is not None and d.state is not None:
                d.state.unpersist(blocking=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def kron_stream(run: Run) -> tuple[dict, dict]:
    """Micro-batched ingest with a CC probe after every batch, then a resume
    from the last checkpoint; repeat. Warm-up: one untimed pass over the
    first batch split in two, which reaches every code path of a pass."""
    inp = inputs.kron_stream(run.seed, **KRON_STREAM)
    tr = run.tracer
    ckpt = os.path.join(host.WORK_DIR, "checkpoints")
    n = inp["num_vertices"]

    setup_s = run.setup(inp["stream"])
    t0 = time.perf_counter()
    host.jvm_gc(run.spark)
    stream_pass(run, n, inp["warm_bounds"], inp["warm_labels"], ckpt)
    setup_s += time.perf_counter() - t0
    log(f"set-up with warm-up {setup_s:.2f}s")

    passes, plain = run.timed(
        lambda: stream_pass(run, n, inp["bounds"], inp["labels"], ckpt),
        min_reps=1, min_traced=3)
    med = lambda f: statistics.median(f(p) for p in passes)  # noqa: E731
    metrics = {
        "setup_s": (setup_s, "s"),
        "ingest_per_s": (med(lambda p: inp["updates"] / sum(p["batch_s"])), "1/s"),
        "query_s": (med(lambda p: statistics.fmean(p["probe_s"])), "s"),
        "state_mb": (med(lambda p: p["state_mb"]), "MB"),
    }
    if not tr.enabled:
        return metrics, {}

    from perfbench import layers as L

    wall = lambda p: sum(p["batch_s"]) + sum(p["probe_s"])  # noqa: E731
    per_layer = {
        **L.session_layer(run),
        **L.overhead([wall(p) for p in passes], [wall(p) for p in plain]),
        **L.driver_spans(run, passes),
        **L.stream_probes(run, inp, ckpt),
    }
    return metrics, per_layer


WORKLOADS = {"kron_batch": kron_batch, "kron_stream": kron_stream}
