"""Seeded inputs and their oracle answers, cached per (workload, seed).

Generation and oracle work run before the benchmark starts any clock, and a
cache hit skips them. Entries are written to a temporary directory and renamed
into place, so an interrupted run never leaves a partial entry behind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.host import BENCH_DIR

CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
STREAM_FILES = 8


def _cached(key: str, build) -> str:
    path = os.path.join(CACHE_DIR, key)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, path)
    return path


def _write_stream(pdf, out_dir: str) -> None:
    """The stream as STREAM_FILES parquet files of consecutive seq ranges."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // STREAM_FILES)
    stream_dir = os.path.join(out_dir, "stream")
    os.makedirs(stream_dir)
    for i in range(STREAM_FILES):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(stream_dir, f"part-{i:02d}.parquet"))


def kron_batch(seed: int, scale: int, edge_factor: int) -> dict:
    """kron_stream input plus the exact CC labels of its final graph."""
    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.sources.generators import kron_stream

    n = 1 << scale

    def build(out: str) -> None:
        pdf = kron_stream(scale=scale, edge_factor=edge_factor, seed=seed)
        _write_stream(pdf, out)
        live = oracle.live_edges(pdf, n)
        np.save(os.path.join(out, "live.npy"), live)
        np.save(os.path.join(out, "labels.npy"), oracle.connected_components(live, n))
        np.save(os.path.join(out, "updates.npy"), np.int64(len(pdf)))

    path = _cached(f"kron_batch-s{scale}-e{edge_factor}-seed{seed}", build)
    return {
        "stream": os.path.join(path, "stream"),
        "num_vertices": n,
        "updates": int(np.load(os.path.join(path, "updates.npy"))),
        "live": os.path.join(path, "live.npy"),
        "labels": np.load(os.path.join(path, "labels.npy")),
    }


def kron_stream(seed: int, scale: int, edge_factor: int, batches: int) -> dict:
    """kron_stream input, its micro-batch boundaries, and the exact CC labels
    at every boundary (the prefix each mid-stream probe must answer for).
    The warm-up pass splits the first batch in two, so it has boundaries
    and labels of its own."""
    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.sources.generators import kron_stream as gen

    n = 1 << scale

    def build(out: str) -> None:
        pdf = gen(scale=scale, edge_factor=edge_factor, seed=seed)
        _write_stream(pdf, out)
        step = -(-len(pdf) // batches)
        bounds = [min(len(pdf), (i + 1) * step) for i in range(batches)]
        probes = np.array([bounds[0] // 2] + bounds)
        labels = np.stack([
            oracle.connected_components(oracle.live_edges(pdf, n, upto_seq=int(b)), n)
            for b in probes
        ])
        np.save(os.path.join(out, "probes.npy"), probes)
        np.save(os.path.join(out, "labels.npy"), labels)
        np.save(os.path.join(out, "live.npy"), oracle.live_edges(pdf, n))

    path = _cached(f"kron_stream-s{scale}-e{edge_factor}-b{batches}-seed{seed}", build)
    probes = [int(b) for b in np.load(os.path.join(path, "probes.npy"))]
    labels = np.load(os.path.join(path, "labels.npy"))
    return {
        "stream": os.path.join(path, "stream"),
        "num_vertices": n,
        "updates": probes[-1],
        "bounds": probes[1:],
        "labels": labels[1:],
        "warm_bounds": probes[:2],
        "warm_labels": labels[:2],
        "live": os.path.join(path, "live.npy"),
    }


def web_graph(seed: int, scale: int, edge_factor: int) -> dict:
    """A Common-Crawl-style pages table whose hrefs are the live edges of a
    kron_stream, with the oracle PageRank and CC labels of that graph over
    every page (vertex v is the page at url_for_vertex(v))."""
    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.sources.generators import kron_stream, pages_table

    n = 1 << scale

    def build(out: str) -> None:
        live = oracle.live_edges(kron_stream(scale=scale, edge_factor=edge_factor, seed=seed), n)
        pages = pa.Table.from_pandas(pages_table(live, n, seed=seed), preserve_index=False)
        os.makedirs(os.path.join(out, "pages"))
        pq.write_table(pages, os.path.join(out, "pages", "part-00.parquet"),
                       coerce_timestamps="us")
        np.save(os.path.join(out, "live.npy"), live)
        np.save(os.path.join(out, "pagerank.npy"), oracle.pagerank(live, n, tol=1e-12))
        np.save(os.path.join(out, "labels.npy"), oracle.connected_components(live, n))

    path = _cached(f"web_graph-s{scale}-e{edge_factor}-seed{seed}", build)
    return {
        "pages": os.path.join(path, "pages"),
        "num_vertices": n,
        "live": np.load(os.path.join(path, "live.npy")),
        "pagerank": np.load(os.path.join(path, "pagerank.npy")),
        "labels": np.load(os.path.join(path, "labels.npy")),
    }
