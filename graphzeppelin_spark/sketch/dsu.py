"""Driver-side union-find over sampled supernode edges.

Per Boruvka round the sketch path collects at most one sampled edge per
current component (geometrically shrinking), so the DSU operates on tiny
driver-resident data — the Spark analog of the reference's in-process DSU
(include/dsu.h behavior). Vectorized numpy path compression.
"""

from __future__ import annotations

import numpy as np


class NumpyDSU:
    def __init__(self, n: int):
        self.parent = np.arange(n, dtype=np.int64)

    def find_many(self, xs: np.ndarray) -> np.ndarray:
        """Vectorized root lookup with full path compression."""
        p = self.parent
        xs = np.asarray(xs, dtype=np.int64)
        roots = xs.copy()
        while True:
            nxt = p[roots]
            if np.array_equal(nxt, roots):
                break
            roots = nxt
        # compress the touched paths
        p[xs] = roots
        return roots

    def find(self, x: int) -> int:
        return int(self.find_many(np.array([x]))[0])

    def union_edges(self, src: np.ndarray, dst: np.ndarray) -> int:
        """Union a batch of edges; returns number of successful merges.
        Roots are merged min-wards so labels stay canonical (min vertex id)."""
        merged = 0
        for s, d in zip(np.asarray(src, dtype=np.int64), np.asarray(dst, dtype=np.int64)):
            rs, rd = self.find(int(s)), self.find(int(d))
            if rs == rd:
                continue
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            self.parent[hi] = lo
            merged += 1
        return merged

    def union_edges_bulk(self, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
        """Vectorized union of an edge batch; returns the boolean mask of
        edges that became tree (forest) edges.

        Per pass: find all roots (one vectorized find), pick at most one edge
        per high root (np.unique), write parent[hi_root] = lo_root for the
        whole selection at once, retry the rest. Writes always point high →
        low so the parent forest stays acyclic and labels stay canonical
        (min vertex id). Connectivity equals sequential replay; the tree-edge
        SET may differ from sequential order but is always a valid spanning
        forest of the applied edges. Passes needed ≈ log(longest merge
        chain), each O(batch) numpy work — no per-edge Python."""
        src = np.asarray(src, dtype=np.int64)
        dst = np.asarray(dst, dtype=np.int64)
        applied = np.zeros(len(src), dtype=bool)
        idx = np.arange(len(src))
        while len(idx):
            rs = self.find_many(src[idx])
            rd = self.find_many(dst[idx])
            diff = rs != rd
            if not diff.any():
                break
            idx = idx[diff]
            a = np.minimum(rs[diff], rd[diff])
            b = np.maximum(rs[diff], rd[diff])
            _, first = np.unique(b, return_index=True)
            self.parent[b[first]] = a[first]
            applied[idx[first]] = True
            keep = np.ones(len(idx), dtype=bool)
            keep[first] = False
            idx = idx[keep]
        return applied

    def labels(self) -> np.ndarray:
        """Fully-compressed parent array: label[v] = min vertex id of component."""
        return self.find_many(np.arange(len(self.parent)))

    def num_components(self) -> int:
        return int(len(np.unique(self.labels())))


def driver_components(
    src: np.ndarray, dst: np.ndarray, ids: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of a driver-resident edge list over sparse ids.

    Returns (ids, comp): the sorted vertex ids and each one's component
    label, the minimum member id. `ids` defaults to the edge endpoints; a
    caller passing its own vertex set must pass edges among those vertices
    only. Ids are compressed to [0, len(ids)) so the DSU is sized by the
    edge list, never by the id range."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    ids = np.unique(np.concatenate([src, dst]) if ids is None else ids)
    local = NumpyDSU(len(ids))
    local.union_edges_bulk(np.searchsorted(ids, src), np.searchsorted(ids, dst))
    return ids, ids[local.labels()]
