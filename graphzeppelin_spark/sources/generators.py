"""Deterministic synthetic graph-stream and pages-table generators (FIXTURES.md).

These mirror the *behavior* of the reference's test inputs — not its code:
- multiples_graph_1024: golden fixture, 78 connected components
  (reference test/res/multiples_graph_1024.txt, test/cc_alg_test.cpp:56).
- dynamic Erdős–Rényi insert/delete streams (DynamicErdosGenerator usage at
  reference test/cc_alg_test.cpp:21-33).
- kron/RMAT power-law streams (reference benches read kron_15_stream_binary,
  tools/benchmark/graphcc_bench.cpp:44) — the skew workload.
- path graphs (reference tools/test_correctness.cpp:37-48) — worst case for
  Boruvka round counts.
- pages: Common-Crawl-style web-page table with hrefs encoding a known edge
  set (BASELINE.json input_hint).

All generators are seeded numpy; output is a pandas DataFrame with the
edge-update-stream schema (seq:int64, type:int32, src:int64, dst:int64) where
type 0=insert, 1=delete, and the *toggle* semantics of the reference stream
format apply: the live graph at any point is the set of edges seen an odd
number of times (reference test/util/graph_verifier.cpp:62).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

STREAM_COLUMNS = ["seq", "type", "src", "dst"]

INSERT = 0
DELETE = 1


def _stream_pdf(types: np.ndarray, src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    n = len(src)
    return pd.DataFrame(
        {
            "seq": np.arange(n, dtype=np.int64),
            "type": types.astype(np.int32),
            "src": src.astype(np.int64),
            "dst": dst.astype(np.int64),
        }
    )


def multiples_graph_stream(num_vertices: int = 1024) -> pd.DataFrame:
    """Insert-only stream of edges (i, k*i) for 2 <= i, k >= 2, k*i < num_vertices.

    At num_vertices=1024 this regenerates the reference golden fixture:
    5206 updates, exactly 78 connected components (vertices 0 and 1 are
    isolated; primes > n/2 are isolated; everything else joins via factors).
    """
    srcs, dsts = [], []
    for i in range(2, num_vertices // 2 + 1):
        for j in range(2 * i, num_vertices, i):
            srcs.append(i)
            dsts.append(j)
    src = np.array(srcs, dtype=np.int64)
    dst = np.array(dsts, dtype=np.int64)
    return _stream_pdf(np.zeros(len(src), dtype=np.int32), src, dst)


def dynamic_erdos_stream(
    num_vertices: int = 1024,
    density: float = 0.03,
    delete_portion: float = 0.5,
    adtl_portion: float = 0.05,
    rounds: int = 3,
    seed: int = 42,
) -> pd.DataFrame:
    """Dynamic Erdős–Rényi insert/delete/re-insert stream.

    Per round: insert a fresh batch of random edges, delete a seeded fraction
    of currently-live edges, then re-insert a fraction of previously-deleted
    edges. Parameter names mirror the reference generator's call sites
    (test/cc_alg_test.cpp:63). Toggle semantics: every emitted record flips
    the edge's liveness.
    """
    rng = np.random.default_rng(seed)
    n = num_vertices
    max_edges = n * (n - 1) // 2
    target = int(density * max_edges)

    live: set[int] = set()
    dead: set[int] = set()
    recs_type: list[int] = []
    recs_eid: list[int] = []

    def _emit(eid: int, t: int) -> None:
        recs_type.append(t)
        recs_eid.append(eid)

    for _ in range(rounds):
        # fresh inserts up to target live edges
        need = max(0, target - len(live))
        while need > 0:
            cand = rng.integers(0, n, size=(2 * need + 16, 2), dtype=np.int64)
            cand = cand[cand[:, 0] != cand[:, 1]]
            lo = np.minimum(cand[:, 0], cand[:, 1])
            hi = np.maximum(cand[:, 0], cand[:, 1])
            eids = lo * n + hi
            for eid in eids:
                e = int(eid)
                if e not in live:
                    live.add(e)
                    dead.discard(e)
                    _emit(e, INSERT)
                    need -= 1
                    if need == 0:
                        break
        # deletes
        ndel = int(delete_portion * len(live))
        if ndel:
            arr = np.fromiter(live, dtype=np.int64, count=len(live))
            arr.sort()
            chosen = rng.choice(arr, size=ndel, replace=False)
            for e in chosen:
                e = int(e)
                live.discard(e)
                dead.add(e)
                _emit(e, DELETE)
        # re-inserts of previously deleted edges
        nre = int(adtl_portion * len(dead))
        if nre:
            arr = np.fromiter(dead, dtype=np.int64, count=len(dead))
            arr.sort()
            chosen = rng.choice(arr, size=nre, replace=False)
            for e in chosen:
                e = int(e)
                dead.discard(e)
                live.add(e)
                _emit(e, INSERT)

    eid = np.array(recs_eid, dtype=np.int64)
    return _stream_pdf(np.array(recs_type), eid // n, eid % n)


def kron_stream(
    scale: int = 13,
    edge_factor: int = 8,
    delete_portion: float = 0.5,
    seed: int = 42,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
) -> pd.DataFrame:
    """RMAT/Kronecker power-law edge stream with interleaved deletes.

    num_vertices = 2**scale; ~edge_factor * n insert attempts (self-loops and
    exact-duplicate live edges dropped to respect the reference's
    no-multi-edge model); delete_portion of inserted edges are later deleted
    in seeded order, interleaved after the inserts. Exhibits the hub skew the
    salting logic must handle (SURVEY.md §7.8, BASELINE.json metric).
    """
    rng = np.random.default_rng(seed)
    n = 1 << scale
    m = edge_factor * n

    # vectorized RMAT: each of `scale` bits chosen by quadrant probabilities.
    # All per-bit work runs in PREALLOCATED buffers with out= ufuncs: a fresh
    # rng.random(m)/astype per bit allocates (and first-touch page-faults)
    # gigabytes per iteration, which on this VM dominates end-to-end (275 s
    # vs seconds for the same arithmetic at scale 19). Same rng consumption
    # and same arithmetic → byte-identical streams to the allocating form.
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    r = np.empty(m, dtype=np.float64)
    bit_buf = np.empty(m, dtype=np.int64)
    mask = np.empty(m, dtype=bool)
    tmp = np.empty(m, dtype=bool)
    for bit in range(scale):
        rng.random(out=r)
        np.greater_equal(r, a + b, out=mask)  # quadrants c,d set src bit
        np.copyto(bit_buf, mask)
        np.left_shift(bit_buf, bit, out=bit_buf)
        np.bitwise_or(src, bit_buf, out=src)
        np.greater_equal(r, a, out=mask)  # dst bit: quadrant b or d
        np.less(r, a + b, out=tmp)
        np.logical_and(mask, tmp, out=mask)
        np.greater_equal(r, a + b + c, out=tmp)
        np.logical_or(mask, tmp, out=mask)
        np.copyto(bit_buf, mask)
        np.left_shift(bit_buf, bit, out=bit_buf)
        np.bitwise_or(dst, bit_buf, out=dst)

    keep = src != dst
    src, dst = src[keep], dst[keep]
    lo = np.minimum(src, dst)
    hi = np.maximum(src, dst)
    eid = lo * n + hi
    # drop duplicate edges (keep first occurrence) — reference model has no multi-edges
    _, first_idx = np.unique(eid, return_index=True)
    first_idx.sort()
    eid = eid[first_idx]

    ndel = int(delete_portion * len(eid))
    del_order = rng.permutation(len(eid))[:ndel]
    ins_types = np.zeros(len(eid), dtype=np.int32)
    del_eid = eid[del_order]
    all_eid = np.concatenate([eid, del_eid])
    all_types = np.concatenate([ins_types, np.ones(ndel, dtype=np.int32)])
    return _stream_pdf(all_types, all_eid // n, all_eid % n)


def path_graph_stream(num_vertices: int = 1024, seed: int = 42) -> pd.DataFrame:
    """Random Hamiltonian path over shuffled vertices (1 component, max diameter)."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(num_vertices).astype(np.int64)
    src, dst = order[:-1], order[1:]
    return _stream_pdf(np.zeros(len(src), dtype=np.int32), src, dst)


# ---------------------------------------------------------------------------
# pages table (Common-Crawl-style) with hrefs encoding a known edge set
# ---------------------------------------------------------------------------

_LANGS = np.array(["en", "de", "fr", "es", "zh"])

_FILLER_WORDS = np.array(
    "the quick brown fox jumps over lazy dog stream sketch graph vertex edge "
    "component forest merge sample bucket column hash seed page link anchor "
    "crawl index rank label propagate triangle count data spark arrow".split()
)


def url_for_vertex(v: int) -> str:
    return f"https://site{v % 1000:05d}.example/page/{v:06d}"


def pages_table(
    edges: pd.DataFrame | np.ndarray,
    num_vertices: int,
    seed: int = 42,
) -> pd.DataFrame:
    """Build the Common-Crawl-style pages table (url, warc_ts, html, text, lang).

    Every vertex becomes a page; each undirected edge (u,v) is emitted as an
    href u->v on u's page (directed by canonical order). The page's `text`
    column is the exact extraction target: extracting text from `html` must be
    byte-identical to it (BASELINE.json input_hint).
    """
    if isinstance(edges, pd.DataFrame):
        earr = edges[["src", "dst"]].to_numpy(dtype=np.int64)
    else:
        earr = np.asarray(edges, dtype=np.int64)
    rng = np.random.default_rng(seed)

    out_links: dict[int, list[int]] = {}
    for s, d in earr:
        out_links.setdefault(int(s), []).append(int(d))

    n_words = rng.integers(8, 40, size=num_vertices)
    lang_idx = rng.integers(0, len(_LANGS), size=num_vertices)
    ts_jitter = rng.integers(0, 86400 * 30, size=num_vertices)
    base_ts = pd.Timestamp("2025-05-16T00:00:00Z").value // 10**9

    rows = []
    for v in range(num_vertices):
        words = rng.choice(_FILLER_WORDS, size=int(n_words[v]))
        text = f"Page {v}. " + " ".join(words.tolist()) + "."
        anchors = "".join(
            f'<p><a href="{url_for_vertex(d)}">link-{d}</a></p>'
            for d in sorted(out_links.get(v, []))
        )
        html = (
            f"<html><head><title>Page {v}</title></head><body>"
            f"<article>{text}</article>{anchors}</body></html>"
        ).encode("utf-8")
        rows.append(
            {
                "url": url_for_vertex(v),
                "warc_ts": pd.Timestamp(base_ts + int(ts_jitter[v]), unit="s", tz="UTC"),
                "html": html,
                "text": text,
                "lang": str(_LANGS[lang_idx[v]]),
            }
        )
    return pd.DataFrame(rows)
