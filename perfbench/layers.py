"""Per-layer metrics for a traced run.

Everything here runs after the timed repetitions and calls only the package's
public functions: the layer microbenchmarks time them on the driver, and the
Spark figures come from the job groups the tracer set (trace.group_stages).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import host
from perfbench.trace import group_stages
from perfbench.workloads import log

# self time per layer, from the spans of the run up to the end of its
# timed repetitions
SELF_LAYERS = ["bench", "session", "sources", "sketch_cc", "boruvka", "driver"]

PROBE_REPS = 3


def report(per_layer: dict) -> dict:
    """Every per_layer metric of BENCHMARK.json as (value, unit), with
    derived ratios filled in and 0 for the ones the run did not measure."""
    if per_layer.get("sketch_cc.gross_rows"):
        per_layer["sketch_cc.net_ratio"] = (
            per_layer["sketch_cc.net_rows"] / per_layer["sketch_cc.gross_rows"])
    with open(os.path.join(host.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    return {m["name"]: (float(per_layer.get(m["name"], 0.0)), m["unit"]) for m in declared}


MB = 1e6


def _timed(fn, reps: int = PROBE_REPS):
    """(median seconds of fn() over reps calls, the last call's result)."""
    runs = []
    for _ in range(reps):
        t = time.perf_counter()
        out = fn()
        runs.append(time.perf_counter() - t)
    return statistics.median(runs), out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def session_layer(run) -> dict:
    """Session figures, and self time per layer over the run so far; call
    it right after the timed repetitions."""
    return {
        "session.start_s": run.session_start_s,
        "session.jvm_peak_rss_mb": host.jvm_peak_rss_mb(host.jvm_pid(run.spark)),
        "session.steal_pct": run.steal_pct,
        **{f"{k}.self_s": v for k, v in run.tracer.self_times().items() if k in SELF_LAYERS},
    }


def overhead(traced_walls: list[float], plain_walls: list[float]) -> dict:
    """Traced repetitions against untraced ones of the same run."""
    t, p = statistics.median(traced_walls), statistics.median(plain_walls)
    return {"trace.overhead_pct": 100.0 * (t / p - 1.0)}


def build_spans(run, spans: list[dict], reps: list[dict]) -> dict:
    stages = [group_stages(run.spark.sparkContext, s["group"]) for s in spans]
    med = lambda k: statistics.median(s[k] for s in stages)  # noqa: E731
    return {
        "sketch_cc.build_s": statistics.median(s["end"] - s["start"] for s in spans),
        "sketch_cc.gross_rows": med("shuffle_write_records"),
        "sketch_cc.shuffle_write_mb": med("shuffle_write_bytes") / MB,
        "sketch_cc.gc_s": med("gc_ms") / 1e3,
        "sketch_cc.spill_mb": med("spill_bytes") / MB,
        "sketch_cc.task_skew": med("task_skew"),
        "sketch_cc.state_rows": statistics.median(r["state_rows"] for r in reps),
    }


def boruvka_spans(run, spans: list[dict], stats: dict | None) -> dict:
    out = {}
    if spans:
        stages = [group_stages(run.spark.sparkContext, s["group"]) for s in spans]
        out["boruvka.s"] = statistics.median(s["end"] - s["start"] for s in spans)
        out["boruvka.jobs"] = statistics.median(s["jobs"] for s in stages)
        out["boruvka.shuffle_write_mb"] = statistics.median(
            s["shuffle_write_bytes"] for s in stages) / MB
    if stats:
        rounds = stats["rounds"]
        out["boruvka.round0_s"] = rounds[0]["sec"]
        out["boruvka.finish_s"] = sum(r["sec"] for r in rounds if r["kind"] == "driver_finish")
        out["boruvka.rounds"] = len(rounds)
        out["boruvka.active_after_round0"] = rounds[1]["active"] if len(rounds) > 1 else 0
        out["boruvka.good_samples"] = rounds[0].get("good_samples", 0)
    return out


def ingest_probes(run, alg, stream) -> dict:
    """Noop-sink floors under the build: the scan alone, and the scan plus
    exchange plus net aggregation of packed_updates. packed_updates ships
    two-column (vertex, seid) rows, while build_state takes its fused
    one-column key path, so packed_s is a proxy for the build's exchange,
    not a part of it."""
    from graphzeppelin_spark.session import aqe_off

    out = {"sources.scan_s": _timed(lambda: _noop(stream))[0]}
    with aqe_off(run.spark):
        packed = alg.packed_updates(stream)
        out["sketch_cc.packed_s"] = _timed(lambda: _noop(packed))[0]
        out["sketch_cc.net_rows"] = packed.count()
    return out


def kernel_probe(run, alg, stream) -> dict:
    """The sketch kernel on one build partition's net rows, on one driver
    thread: update, encode, decode and sample. The decode must give back
    the updated buckets exactly."""
    from pyspark.sql import functions as F

    from graphzeppelin_spark.session import aqe_off
    from graphzeppelin_spark.sketch.kernel import (
        FAIL, GOOD, SketchMatrix, decode_group_rows, encode_group_rows)

    with aqe_off(run.spark):
        part = alg.packed_updates(stream).where(F.spark_partition_id() == 0).toPandas()
    verts = part["vertex"].to_numpy(np.int64)
    seid = part["seid"].to_numpy(np.int64)
    signs = np.where(seid >= 0, np.int64(1), np.int64(-1))
    eids = np.abs(seid).astype(np.uint64)
    uniq, inv = np.unique(verts, return_inverse=True)
    geom = alg.geom
    gsz = geom.cols_per_sample * geom.bkt_per_col
    groups = geom.num_samples

    def update():
        sm = SketchMatrix(geom, len(uniq), reuse_slot="perfbench")
        sm.update_many(inv, eids, signs=signs)
        return sm

    update_s, sm = _timed(update)
    encode_s, (dets, grps) = _timed(lambda: encode_group_rows(sm.buckets, gsz, groups))
    decode_s, decoded = _timed(
        lambda: decode_group_rows(dets, grps, groups, gsz, geom.num_buckets))
    run.check(np.array_equal(decoded, sm.buckets), "kernel encode/decode round trip")
    sample_s, st = _timed(
        lambda: np.concatenate([sm.sample_many(g)[0] for g in range(groups)]))
    good, fail = int((st == GOOD).sum()), int((st == FAIL).sum())
    return {
        "kernel.update_per_s_core": len(verts) / update_s,
        "kernel.encode_s": encode_s,
        "kernel.decode_s": decode_s,
        "kernel.sample_per_s": len(uniq) * groups / sample_s,
        "kernel.good_ratio": good / max(good + fail, 1),
        "kernel.fail_count": fail,
    }


def dsu_probe(run, live: np.ndarray, n: int, expect: np.ndarray) -> dict:
    """Bulk union of the live edge set on the driver, checked exactly."""
    from graphzeppelin_spark.sketch.dsu import NumpyDSU

    src = np.ascontiguousarray(live[:, 0])
    dst = np.ascontiguousarray(live[:, 1])

    def union():
        dsu = NumpyDSU(n)
        dsu.union_edges_bulk(src, dst)
        return dsu

    sec, dsu = _timed(union)
    run.check(np.array_equal(dsu.labels(), expect), "DSU labels")
    return {"dsu.ns_per_union": sec / max(len(src), 1) * 1e9}


def scaling_probe(run, stream_path: str, n: int, build_full_s: float) -> dict:
    """Build at half the cores in a restarted session; efficiency of the
    full-core build relative to it (1.0 = linear). Leaves the session at
    half the cores, so it runs last."""
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off

    half = max(1, host.host_cores() // 2)
    run.stop_session()
    run.spark, _ = host.start_session(cores=half)
    run.tracer.sc = run.spark.sparkContext
    stream = run.spark.read.parquet(stream_path).cache()
    stream.count()
    alg = SketchCC(run.spark, n)

    def build():
        with aqe_off(run.spark):
            state = alg.build_state(stream).persist()
            state.count()
        state.unpersist(blocking=True)

    build()  # warm the new session's workers
    build_half_s = _timed(build, reps=2)[0]
    return {"sketch_cc.scaling_eff_2_4": build_half_s / (2.0 * build_full_s)}


def driver_spans(run, passes: list[dict]) -> dict:
    sc = run.spark.sparkContext
    batch = [s for p in passes for s in p["batch_s"]]
    firsts = [p["batch_s"][0] for p in passes]
    lasts = [p["batch_s"][-1] for p in passes]
    batch_jobs = [group_stages(sc, s["group"])["jobs"] for p in passes for s in p["batch_spans"]]
    probe_jobs = [group_stages(sc, s["group"])["jobs"] for p in passes for s in p["probe_spans"]]
    out = {
        "driver.batch_s": statistics.median(batch),
        "driver.batch_first_s": statistics.median(firsts),
        "driver.batch_last_s": statistics.median(lasts),
        "driver.batch_growth": statistics.median(lasts) / statistics.median(firsts),
        "driver.eager_hit_ratio": sum(j == 0 for j in probe_jobs) / len(probe_jobs),
        "driver.jobs_per_batch": statistics.fmean(batch_jobs),
        "driver.resume_s": statistics.median(p["resume_s"] for p in passes),
    }
    probe_spans = [s for p in passes for s in p["probe_spans"]]
    boruvka = [s for s, j in zip(probe_spans, probe_jobs) if j > 0]
    out.update(boruvka_spans(run, boruvka, passes[-1]["stats"]))
    return out


def stream_probes(run, inp: dict, ckpt_root: str) -> dict:
    """Sketch layers on the stream's own batches, called directly: build of
    the first batch, merge of two states, checkpoint commit and read."""
    from pyspark.sql import functions as F

    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off
    from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

    spark, tr, b = run.spark, run.tracer, inp["bounds"]
    n = inp["num_vertices"]
    alg = SketchCC(spark, n)
    first = run.stream.where(F.col("seq") < b[0])
    out = {}
    with tr.span("sketch_cc.build_state", "sketch_cc") as span, aqe_off(spark):
        state = alg.build_state(first).persist()
        rows = state.count()
    out.update(build_spans(run, [span], [{"state_rows": rows}]))
    state.unpersist(blocking=True)
    out.update(ingest_probes(run, alg, first))
    out.update(kernel_probe(run, alg, first))
    out.update(dsu_probe(run, np.load(inp["live"]), n, inp["labels"][-1]))

    with aqe_off(spark):
        a = alg.build_state(run.stream.where(F.col("seq") < b[1])).persist()
        a.count()
        d = alg.build_state(run.stream.where((F.col("seq") >= b[1]) & (F.col("seq") < b[2])))
        d = d.persist()
        d.count()
        out["driver.merge_s"] = _timed(lambda: _noop(alg.merge_states(a, d)))[0]
        merged = alg.merge_states(a, d).persist()
        merged.count()
    labels, _ = alg.boruvka(merged)
    run.check(np.array_equal(labels, inp["labels"][2]), "merge_states then boruvka")

    root = os.path.join(ckpt_root, "probe")
    shutil.rmtree(root, ignore_errors=True)
    store = CheckpointStore(spark, root)
    with aqe_off(spark):
        out["checkpoint.commit_s"], snap = _timed(
            lambda: store.commit(merged, {"seq_watermark": b[2]}))
        out["checkpoint.read_s"] = _timed(lambda: _noop(store.read()[0]))[0]
    out["checkpoint.mb"] = host.dir_mb(os.path.join(root, f"snap-{snap:08d}"))
    for df in (a, d, merged):
        df.unpersist(blocking=True)
    shutil.rmtree(root, ignore_errors=True)
    return out


def web_probe(run, inp: dict) -> dict:
    """The pages pipeline on a small seeded pages table: url dictionary,
    edge table, then PageRank to convergence, CC and LP over every page,
    each once and checked against the oracle through urls. The graph
    operators are held to their distributed iterative plans (big_threshold=0,
    driver_finish_bytes=0), the plans a web-scale edge table takes. Only
    PageRank gets an untimed warm-up (a few iterations): its first call
    costs half as much again as later ones, and a full warm-up pass would
    not fit the run's time limit."""
    from pyspark.sql import functions as F

    from graphzeppelin_spark.operators.connectivity import connected_components_df
    from graphzeppelin_spark.operators.labelprop import label_propagation_df
    from graphzeppelin_spark.operators.pagerank import pagerank_df
    from graphzeppelin_spark.sources import pages as P
    from graphzeppelin_spark.sources.generators import url_for_vertex

    spark, tr, n = run.spark, run.tracer, inp["num_vertices"]
    pages = spark.read.parquet(inp["pages"]).cache()
    pages.count()
    spans, t = {}, {}

    def timed(name: str, fn):
        s = time.perf_counter()
        with tr.span(name, name.split(".")[0]) as spans[name]:
            out = fn()
        t[name] = time.perf_counter() - s
        return out

    def materialise(df):
        df = df.persist()
        df.count()
        return df

    graph_kw = {"big_threshold": 0, "driver_finish_bytes": 0}
    d = timed("pages.url_dictionary", lambda: materialise(P.url_dictionary(pages)))
    e = timed("pages.edge_table", lambda: materialise(P.edge_table(pages, d)))
    verts = d.select(F.col("vid").alias("v"))
    pagerank_df(e, vertices=verts, max_iters=3, **graph_kw).toPandas()  # warm-up
    pr = timed("pagerank.pagerank_df",
               lambda: pagerank_df(e, vertices=verts, **graph_kw).toPandas())
    cc = timed("connectivity.connected_components_df", lambda: connected_components_df(
        e, vertices=verts, driver_finish_bytes=0).toPandas())
    lp = timed("labelprop.label_propagation_df",
               lambda: label_propagation_df(e, vertices=verts, **graph_kw).toPandas())
    log(f"pages pipeline {({k: round(v, 2) for k, v in t.items()})}s")

    dpdf, epdf = d.toPandas(), e.toPandas()
    for df in (d, e, pages):
        df.unpersist(blocking=True)
    vertex_of = {url_for_vertex(v): v for v in range(n)}
    vid_to_v = np.full(len(dpdf), -1, dtype=np.int64)
    vid_to_v[dpdf["vid"].to_numpy(np.int64)] = [vertex_of[u] for u in dpdf["url"]]
    a = vid_to_v[epdf["src"].to_numpy(np.int64)]
    b = vid_to_v[epdf["dst"].to_numpy(np.int64)]
    got = np.unique(np.stack([np.minimum(a, b), np.maximum(a, b)], axis=1), axis=0)
    run.check(len(got) == len(epdf) and np.array_equal(got, inp["live"]),
              "edge_table edges mapped to urls")

    def by_vertex(pdf, col: str) -> np.ndarray:
        out = np.full(n, -1, dtype=pdf[col].dtype)
        out[vid_to_v[pdf["v"].to_numpy(np.int64)]] = pdf[col].to_numpy()
        return out

    run.check(np.allclose(by_vertex(pr, "score"), inp["pagerank"], rtol=0, atol=1e-6),
              "pagerank_df scores")
    cc_v = by_vertex(cc, "component")
    run.check(np.array_equal(_partition(cc_v), inp["labels"]), "connected_components_df")
    run.check(np.array_equal(by_vertex(lp, "label"), cc_v),
              "label_propagation_df labels equal CC labels")

    st = {k: group_stages(spark.sparkContext, s["group"]) for k, s in spans.items()}
    return {
        "pages.url_dictionary_s": t["pages.url_dictionary"],
        "pages.edge_table_s": t["pages.edge_table"],
        "pages.edges": len(epdf),
        "pages.shuffle_write_mb": st["pages.edge_table"]["shuffle_write_bytes"] / MB,
        "pagerank.s": t["pagerank.pagerank_df"],
        "pagerank.jobs": st["pagerank.pagerank_df"]["jobs"],
        "pagerank.shuffle_write_mb": st["pagerank.pagerank_df"]["shuffle_write_bytes"] / MB,
        "connectivity.s": t["connectivity.connected_components_df"],
        "connectivity.jobs": st["connectivity.connected_components_df"]["jobs"],
        "labelprop.s": t["labelprop.label_propagation_df"],
        "labelprop.jobs": st["labelprop.label_propagation_df"]["jobs"],
    }


def _partition(labels: np.ndarray) -> np.ndarray:
    """Component labels renamed to each component's smallest vertex, so two
    labelings of the same partition compare equal."""
    uniq, inv = np.unique(labels, return_inverse=True)
    low = np.full(len(uniq), len(labels), dtype=np.int64)
    np.minimum.at(low, inv, np.arange(len(labels), dtype=np.int64))
    return low[inv]
