"""Vectorized numpy kernel for l0-sampling linear graph sketches.

Re-derivation (NOT a port) of the sketch the reference implements in C++
(include/sketch.h, src/sketch.cpp — behavior documented in SURVEY.md §1-2):
each vertex v holds a linear sketch of the characteristic vector of its
incident-edge set. Where the reference accumulates buckets with XOR over
GF(2) (bucket.h:69-73), this kernel uses the equally classical *additive*
one-sparse recovery over Z/2^64: a bucket accumulates (alpha += s*x,
gamma += s*checksum(x)) with s = +1 for insert / -1 for delete (the stream
format carries the type byte; README.md:65-71). A bucket holding exactly one
surviving element x has gamma == checksum(alpha), which is detectable and
yields an l0-sample. Columns route x to a geometrically-distributed depth via
trailing-zero counts of a per-column hash. The additive form was chosen
because numpy's add.at has a fast indexed scatter loop that bitwise_xor.at
lacks (~4x); the algebra is still a commutative, associative, invertible
linear aggregate, so insert/delete cancel and merging two vertices' sketches
yields the sketch of the (signed) union of their edge sets — exactly what
Boruvka contraction needs. On any well-formed stream (deletes only of live
edges) the result is identical to the XOR formulation.

Two variants, matching the reference's compile-time switch
(include/sketch.h:183-190, src/cc_alg_configuration.cpp:32-36):
- "cubesketch" (l0-sampling, -DL0_SAMPLING): update all buckets of a column
  from depth 0 down to the sampled depth; cols_per_sample=7.
- "cameo" (CameoSketch, the default): update only the single deepest bucket;
  cols_per_sample=1 with a larger sample count.

Everything here is batch-vectorized numpy over *matrices* of sketches
(one row per vertex) so a Spark Arrow batch is processed without Python
loops over rows. Hashing is splitmix64 (public domain constant mixing),
seeded per (sketch_seed, column).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# splitmix64 constants (public domain; Steele et al.)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)

ZERO = 0  # sample statuses
GOOD = 1
FAIL = 2

# De Bruijn sequence for branch-free 64-bit ctz (public-domain bit trick)
_DEBRUIJN = np.uint64(0x03F79D71B4CA8B09)
_DEBRUIJN_TBL = np.zeros(64, dtype=np.int64)
for _i in range(64):
    _DEBRUIJN_TBL[int((_DEBRUIJN << np.uint64(_i)) >> np.uint64(58))] = _i


_SCRATCH: dict[tuple[int, int], tuple[np.ndarray, ...]] = {}


def _scratch(b: int, c: int) -> tuple[np.ndarray, ...]:
    """Per-process scratch buffers (H, T, DEPTH, IDX, VAL) for update_many.

    Keyed by column count only and sized to the largest chunk seen, so
    long-lived Spark python workers pay the first-touch page faults exactly
    once, not per task (the faults dominate cold-task latency otherwise)."""
    cur = _SCRATCH.get(c)
    if cur is None or cur[0].shape[0] < b:
        if len(_SCRATCH) > 4:  # bound residency in long-lived executors
            _SCRATCH.clear()
        H = np.empty((b, c), dtype=np.uint64)
        T = np.empty_like(H)
        DEPTH = np.empty((b, c), dtype=np.int64)
        IDX = np.empty((b, c), dtype=np.int64)
        VAL = np.empty(b * c, dtype=np.uint64)
        # touch now so the cost is attributable and paid once
        for a in (H, T, DEPTH, IDX, VAL):
            a.fill(0)
        _SCRATCH[c] = (H, T, DEPTH, IDX, VAL)
        cur = _SCRATCH[c]
    return tuple(a[:b] if a.ndim == 2 else a[: b * c] for a in cur)


def splitmix64(x: np.ndarray, seed: int | np.uint64) -> np.ndarray:
    """Vectorized splitmix64 finalizer of (x + seeded stream position)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + (np.uint64(seed) + np.uint64(1)) * _SM_GAMMA
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        return z ^ (z >> np.uint64(31))


def _ctz(h: np.ndarray, cap: int) -> np.ndarray:
    """Count trailing zeros of each uint64, capped at cap-1 (cap = bkt_per_col)."""
    capped = h | (np.uint64(1) << np.uint64(cap - 1))
    # ctz(x) = popcount((x & -x) - 1); use bit_count (numpy >= 1.23 via uint64 method)
    low = capped & (~capped + np.uint64(1))
    return _popcount(low - np.uint64(1))


def _popcount(x: np.ndarray) -> np.ndarray:
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    with np.errstate(over="ignore"):
        return ((x * h01) >> np.uint64(56)).astype(np.int64)


@dataclass(frozen=True)
class SketchGeometry:
    """Sketch shape derived from the vertex-universe size (SURVEY.md §1.2).

    num_samples = max(4, ceil(f * log2(n) / div)) with div = log2(3)-1 for
    cubesketch (l0) / 1 - log2(2-0.8) for cameo — the reference's sample
    budget (include/sketch.h:74-76,183-190) guaranteeing enough independent
    sample groups for every Boruvka round whp.

    Deliberate divergence: the reference floors num_samples at 18; this
    kernel floors at 4. The reference's floor also buys one-sparse-detection
    confidence, which here comes from the 64-bit additive checksum instead
    (a non-one-sparse bucket passes with prob 2^-64 per query, vs the XOR
    formulation's weaker per-column guard), so extra sample groups only
    hedge Boruvka round failures — bounded statistically in
    tests/test_sketch_properties.py. Callers wanting reference-parity margins
    pass samples_factor >= 1.5.
    """

    num_vertices: int
    seed: int = 42
    samples_factor: float = 1.0
    variant: str = "cubesketch"

    @property
    def vector_len(self) -> int:
        # edge ids are lo * n + hi < n^2
        return self.num_vertices * self.num_vertices

    @property
    def bkt_per_col(self) -> int:
        return int(np.ceil(np.log2(max(self.vector_len, 2)))) + 1

    @property
    def cols_per_sample(self) -> int:
        return 7 if self.variant == "cubesketch" else 3

    @property
    def num_samples(self) -> int:
        div = (np.log2(3) - 1) if self.variant == "cubesketch" else (1 - np.log2(1.2))
        n = max(self.num_vertices, 2)
        return int(max(4, np.ceil(self.samples_factor * np.log2(n) / div)))

    @property
    def num_columns(self) -> int:
        return self.num_samples * self.cols_per_sample

    @property
    def num_buckets(self) -> int:
        return self.num_columns * self.bkt_per_col + 1  # +1 deterministic bucket

    @property
    def nbytes(self) -> int:
        return self.num_buckets * 16  # alpha + gamma, uint64 each

    def column_seed(self, col: int | np.ndarray) -> np.ndarray:
        return np.uint64(self.seed) + np.uint64(7) * np.asarray(col, dtype=np.uint64)

    @property
    def checksum_seed(self) -> np.uint64:
        return np.uint64(self.seed) ^ np.uint64(0xC3A5C85C97CB3127)


_BUF_CACHE: dict[tuple[str, int], np.ndarray] = {}


def cached_zero_buckets(num_buckets: int, rows: int, slot: str) -> np.ndarray:
    """Per-process reusable zeroed (rows, num_buckets, 2) buffer.

    Fresh np.zeros per Spark task page-faults gigabytes per stage and the
    kernel serializes page allocation, flattening multi-core scaling; a
    worker-resident buffer is faulted once and memset per task. Contract:
    at most ONE live matrix per (slot, num_buckets) per process — callers in
    the hot paths (build/decode/merge) each use their own slot and drop the
    matrix before the next task."""
    key = (slot, num_buckets)
    buf = _BUF_CACHE.get(key)
    if buf is None or buf.shape[0] < rows:
        if len(_BUF_CACHE) > 8:
            _BUF_CACHE.clear()
        buf = np.empty((rows, num_buckets, 2), dtype=np.uint64)
        _BUF_CACHE[key] = buf
    view = buf[:rows]
    view.fill(0)
    return view


class SketchMatrix:
    """A batch of sketches: rows = local vertex slots, columns = buckets.

    buckets: (num_rows, num_buckets, 2) uint64 — [..., 0] = alpha, [..., 1] = gamma.
    """

    def __init__(
        self,
        geom: SketchGeometry,
        num_rows: int,
        buckets: np.ndarray | None = None,
        reuse_slot: str | None = None,
    ):
        self.geom = geom
        self.num_rows = num_rows
        if buckets is None:
            if reuse_slot is not None:
                buckets = cached_zero_buckets(geom.num_buckets, num_rows, reuse_slot)
            else:
                buckets = np.zeros((num_rows, geom.num_buckets, 2), dtype=np.uint64)
        self.buckets = buckets

    # -- update ------------------------------------------------------------

    def update_many(
        self,
        rows: np.ndarray,
        eids: np.ndarray,
        signs: np.ndarray | None = None,
        chunk: int = 512,
    ) -> None:
        """Apply updates: rows[i] receives edge-id eids[i] with sign signs[i]
        (+1 insert / -1 delete; default all inserts). Deletes are exact
        inverses, so a delete cancels the prior insert bucket-for-bucket.

        Storage is *exact-depth*: column c's bucket at depth d accumulates
        exactly the elements whose column-hash has d trailing zeros. The
        classical l0-sampling semantics (bucket d holds all elements of depth
        >= d) is recovered at query time by a suffix-sum along the depth axis
        — valid because the aggregate is associative — which turns the l0
        update from O(depth) scatters into exactly one scatter per column.
        This is the engine's own re-formulation, not the reference's layout.

        Fully vectorized: per chunk, one broadcasted splitmix64 over
        (batch x columns) and a single add.at scatter.

        chunk=512 keeps every scratch array (chunk x num_columns u64) inside
        the core-private L2 cache, so the ~12-pass hash pipeline never round-
        trips DRAM. This is what makes 32 concurrent python workers scale on
        one box: measured at local[32] on the round-8 32-core VM, chunk<=1024
        gave 0.81-0.83 aggregate efficiency 8->32 procs vs 0.10-0.42 at the
        old 32768 (where each worker dragged ~100MB of scratch through DRAM).
        """
        g = self.geom
        rows = np.asarray(rows, dtype=np.int64)
        x_all = np.asarray(eids, dtype=np.uint64)
        if signs is None:
            sgn_all = None
        else:
            sgn_all = np.asarray(signs, dtype=np.int64).astype(np.uint64)  # -1 wraps
        # process updates grouped by row so each row's bucket region stays
        # cache-resident through its block — the scatter is otherwise
        # DRAM-latency-bound and ~3x slower (order is irrelevant: commutative)
        if len(rows) > 1 and np.any(np.diff(rows) < 0):
            order = np.argsort(rows, kind="stable")
            rows = rows[order]
            x_all = x_all[order]
            if sgn_all is not None:
                sgn_all = sgn_all[order]
        alpha = self.buckets[..., 0].reshape(-1)
        gamma = self.buckets[..., 1].reshape(-1)
        nb = g.num_buckets
        bpc = g.bkt_per_col
        C = g.num_columns
        seeds = self.geom.column_seed(np.arange(C))
        col_off = (np.arange(C, dtype=np.int64) * bpc)[None, :]

        # process-cached scratch, reused across chunks AND across calls (Spark
        # UDFs invoke update_many once per Arrow batch; first-touch page
        # faults on ~170MB of scratch would otherwise dominate)
        H, T, DEPTH, IDX, VAL = _scratch(min(chunk, len(x_all)), C)
        seed_term = (seeds + np.uint64(1)) * _SM_GAMMA
        cap_bit = np.uint64(1) << np.uint64(bpc - 1)

        with np.errstate(over="ignore"):
            for lo_i in range(0, len(x_all), chunk):
                x = x_all[lo_i : lo_i + chunk]
                b = len(x)
                base = rows[lo_i : lo_i + chunk] * nb
                checks = splitmix64(x, g.checksum_seed)
                if sgn_all is not None:
                    s = sgn_all[lo_i : lo_i + chunk]
                    xv = x * s
                    checks = checks * s
                else:
                    xv = x
                h, t, dep, idx = H[:b], T[:b], DEPTH[:b], IDX[:b]
                # splitmix64(x + (seed_c+1)*GAMMA) for all columns, in place
                np.add(x[:, None], seed_term[None, :], out=h)
                np.right_shift(h, np.uint64(30), out=t)
                np.bitwise_xor(h, t, out=h)
                np.multiply(h, _SM_M1, out=h)
                np.right_shift(h, np.uint64(27), out=t)
                np.bitwise_xor(h, t, out=h)
                np.multiply(h, _SM_M2, out=h)
                np.right_shift(h, np.uint64(31), out=t)
                np.bitwise_xor(h, t, out=h)
                # capped ctz via De Bruijn: depth = ctz(h | cap_bit)
                np.bitwise_or(h, cap_bit, out=h)
                np.negative(h, out=t)
                np.bitwise_and(h, t, out=t)  # lowest set bit
                np.multiply(t, _DEBRUIJN, out=t)
                np.right_shift(t, np.uint64(58), out=t)
                # t < 64 after the >>58, so the int64 view is value-identical
                np.take(_DEBRUIJN_TBL, t.view(np.int64), out=dep, mode="clip")
                # flat bucket index = base + col*bpc + depth
                np.add(dep, col_off, out=idx)
                np.add(idx, base[:, None], out=idx)
                # flat 1-D scatter: ~4x faster than 2-D fancy-index .at
                flat_idx = idx.reshape(-1)
                val = VAL[: b * C]
                np.copyto(val.reshape(b, C), xv[:, None])
                np.add.at(alpha, flat_idx, val)
                np.copyto(val.reshape(b, C), checks[:, None])
                np.add.at(gamma, flat_idx, val)
                det = base + (nb - 1)
                np.add.at(alpha, det, xv)
                np.add.at(gamma, det, checks)

    # -- sampling ----------------------------------------------------------

    def _good_resolve(
        self, alpha: np.ndarray, gamma: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """One-sparse detection under the signed-incidence convention.

        Elements enter a sketch as +x (vertex is the edge's lo endpoint) or
        -x (hi endpoint) — the classic AGM signed incidence vector — so that
        summing the sketches of a supernode's members cancels internal edges
        exactly and leaves only cut edges. A bucket holding one surviving
        element is therefore (+x, +checksum(x)) or (-x, -checksum(x)); check
        both orientations and return the recovered |x|.

        Returns (good_mask, resolved_value). Edge-id 0 never occurs
        (eid = lo*n + hi with hi > lo >= 0 ⇒ eid >= 1), so alpha == 0 means
        empty/cancelled; collisions fail the checksum whp (2^-64)."""
        cs = self.geom.checksum_seed
        with np.errstate(over="ignore"):
            neg_alpha = -alpha
            pos = gamma == splitmix64(alpha, cs)
            neg = (-gamma) == splitmix64(neg_alpha, cs)
        nonzero = alpha != 0
        good = nonzero & (pos | neg)
        val = np.where(pos, alpha, neg_alpha)
        return good, val

    def sample_many(self, sample_idx: int) -> tuple[np.ndarray, np.ndarray]:
        """l0-sample every row using sample group `sample_idx`'s columns only.

        Returns (status: int8 array, eid: uint64 array). Mirrors the
        reference query discipline: each Boruvka round consumes one fresh
        sample group so query rounds stay independent (sketch.cpp:94-116).
        """
        g = self.geom
        bpc, cps = g.bkt_per_col, g.cols_per_sample
        det_alpha = self.buckets[:, -1, 0]
        det_gamma = self.buckets[:, -1, 1]
        status = np.full(self.num_rows, FAIL, dtype=np.int8)
        eid = np.zeros(self.num_rows, dtype=np.uint64)

        empty = (det_alpha == 0) & (det_gamma == 0)
        status[empty] = ZERO

        det_good_m, det_val = self._good_resolve(det_alpha, det_gamma)
        det_good = det_good_m & ~empty
        status[det_good] = GOOD
        eid[det_good] = det_val[det_good]

        start = sample_idx * cps * bpc
        cols = self.buckets[:, start : start + cps * bpc, :]
        a = cols[..., 0]
        gm = cols[..., 1]
        if g.variant == "cubesketch":
            # materialize l0 ">= depth" semantics: suffix-sum along depth axis
            with np.errstate(over="ignore"):
                a4 = a.reshape(self.num_rows, cps, bpc)
                g4 = gm.reshape(self.num_rows, cps, bpc)
                a = np.flip(
                    np.add.accumulate(np.flip(a4, axis=2), axis=2), axis=2
                ).reshape(self.num_rows, cps * bpc)
                gm = np.flip(
                    np.add.accumulate(np.flip(g4, axis=2), axis=2), axis=2
                ).reshape(self.num_rows, cps * bpc)
        good, val = self._good_resolve(a, gm)
        rows_todo = ~empty & ~det_good
        anygood = good.any(axis=1) & rows_todo
        first = np.argmax(good, axis=1)
        status[anygood] = GOOD
        eid[anygood] = val[np.arange(self.num_rows), first][anygood]
        return status, eid

    def exhaustive_sample(self, row: int) -> set[int]:
        """All distinct elements recoverable from any good bucket of one row
        (reference exhaustive_sample, sketch.cpp:118-147 — used for
        k-spanning-forest queries)."""
        g = self.geom
        a = self.buckets[row, :-1, 0]
        gm = self.buckets[row, :-1, 1]
        if g.variant == "cubesketch":
            with np.errstate(over="ignore"):
                a3 = a.reshape(g.num_columns, g.bkt_per_col)
                g3 = gm.reshape(g.num_columns, g.bkt_per_col)
                a = np.flip(np.add.accumulate(np.flip(a3, axis=1), axis=1), axis=1).ravel()
                gm = np.flip(np.add.accumulate(np.flip(g3, axis=1), axis=1), axis=1).ravel()
        good, val = self._good_resolve(a, gm)
        out = set(val[good].tolist())
        det_good, det_val = self._good_resolve(
            self.buckets[row, -1:, 0], self.buckets[row, -1:, 1]
        )
        if det_good[0]:
            out.add(int(det_val[0]))
        return out


# -- group-sliced state serialization ---------------------------------------
#
# State layout: each state row carries (det: 16-byte dense deterministic
# bucket, grp: array of num_samples sparse per-GROUP blobs). Sparse because
# the sketch of a degree-d vertex touches only ~num_columns * ceil(log d)
# buckets, so on power-law graphs the dense bucket matrix is overwhelmingly
# zero. A sample group's columns are contiguous in the bucket layout, so a
# Boruvka round's column pruning (reference range_merge, sketch.cpp:156-179)
# becomes a JVM-side `slice(grp, lo, k)` — only the round's ~k/num_samples
# of the state bytes ever cross the JVM->Python Arrow boundary, where the
# earlier one-blob-per-vertex layout shipped every row's FULL blob and pruned
# in Python (the transfer, not the decode, dominated: 440MB/round at kron_17).
# Per-group element format: <idx u16[nnz]><alpha u64[nnz]><gamma u64[nnz]>,
# idx relative to the group's first bucket; nnz = len(blob) // 18. The codec
# speaks Arrow: encode returns (det BinaryArray, grp ListArray<binary>) that
# a mapInArrow stage yields as is, and decode reads those columns in place,
# so no Python object is made per row or per blob.

GROUP_ITEM_BYTES = 18  # u16 idx + u64 alpha + u64 gamma


def arrow_offsets(offsets: np.ndarray) -> np.ndarray:
    """int64 byte offsets as an Arrow binary array's int32 offsets; raises
    past 2^31 - 1 bytes, which int32 offsets would wrap."""
    if len(offsets) and int(offsets[-1]) > 2**31 - 1:
        raise ValueError(f"{int(offsets[-1])} bytes of blobs in one Arrow batch exceed 2^31 - 1")
    return offsets.astype(np.int32)


def binary_array(data, offsets: np.ndarray) -> pa.Array:
    """An Arrow binary array over data's bytes (a numpy array or an Arrow
    buffer) without a copy: element i is bytes [offsets[i], offsets[i+1])."""
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(arrow_offsets(offsets)), pa.py_buffer(data)],
    )


def _byte_offsets(arr: pa.Array) -> np.ndarray:
    """A binary array's len+1 element offsets into its data buffer, as int64
    (honours the array's own offset, e.g. a slice's)."""
    return np.frombuffer(arr.buffers()[1], np.int32, len(arr) + 1, arr.offset * 4).astype(np.int64)


def blob_values(arr: pa.Array, dtype) -> np.ndarray:
    """Every element of a binary array, concatenated and viewed as `dtype`
    in place in the data buffer (no copy)."""
    lo, hi = _byte_offsets(arr)[[0, -1]]
    if hi == lo:  # no bytes to view
        return np.empty(0, dtype)
    return np.frombuffer(arr.buffers()[2], dtype, (hi - lo) // np.dtype(dtype).itemsize, lo)


def encode_group_rows(
    buckets: np.ndarray, gsz: int, num_groups: int
) -> tuple[pa.Array, pa.Array]:
    """Encode a dense (n, num_groups*gsz + 1, 2) bucket matrix (det bucket in
    the last slot) into (det: BinaryArray of 16-byte blobs, grp:
    ListArray<binary> of num_groups sparse blobs per row); inverse of
    decode_group_rows. One flatnonzero scan, one (alpha, gamma) gather,
    bincount offsets and one binary_join_element_wise of the idx, alpha and
    gamma blocks, three arrays that share those offsets."""
    n, nb = buckets.shape[:2]
    buckets = np.ascontiguousarray(buckets)
    # (alpha != 0, gamma != 0) read as one uint16 per bucket: contiguous
    # passes, about twice as fast as a strided alpha | gamma
    flags = (buckets.reshape(-1) != 0).view(np.uint16).reshape(n, nb)[:, :-1]
    pos = np.flatnonzero(flags != 0)  # row * (nb - 1) + col; det has its own column
    row, col = np.divmod(pos, nb - 1)
    alpha, gamma = np.take(buckets.reshape(-1, 2), pos + row, axis=0).T.copy()
    offs = np.zeros(n * num_groups + 1, np.int64)
    np.cumsum(np.bincount(pos // gsz, minlength=n * num_groups), out=offs[1:])
    arrow_offsets(offs * GROUP_ITEM_BYTES)  # the joined blobs must fit one batch
    blobs = pc.binary_join_element_wise(
        binary_array((col % gsz).astype(np.uint16), offs * 2),
        binary_array(alpha, offs * 8),
        binary_array(gamma, offs * 8),
        pa.scalar(b"", pa.binary()),
    )
    lists = pa.array(np.arange(0, n * num_groups + 1, num_groups, dtype=np.int32))
    det = binary_array(buckets[:, -1].copy(), np.arange(n + 1, dtype=np.int64) * 16)
    return det, pa.ListArray.from_arrays(lists, blobs)


def decode_group_rows(
    det: pa.Array, grp: pa.Array, k: int, gsz: int, out_nbuckets: int,
    reuse_slot: str | None = None,
) -> np.ndarray:
    """Decode k-group rows back to a dense (n, out_nbuckets, 2) matrix with
    group j's buckets at [j*gsz, (j+1)*gsz) and det in the last slot —
    the layout SketchMatrix.sample_many samples (group j at offset j*gsz);
    out_nbuckets = k*gsz + 1. det and grp are Arrow arrays of
    encode_group_rows' layout; grp may be a JVM-side slice of the state's
    groups. reuse_slot: decode into a process-cached buffer
    (cached_zero_buckets contract — the returned matrix is invalidated by
    the next same-slot call)."""
    n = len(grp)
    if reuse_slot is not None:
        out = cached_zero_buckets(out_nbuckets, n, reuse_slot)
    else:
        out = np.zeros((n, out_nbuckets, 2), dtype=np.uint64)
    add_group_rows(out, np.arange(n), det, grp, gsz)
    return out


def add_group_rows(
    out: np.ndarray, rows: np.ndarray, det: pa.Array, grp: pa.Array, gsz: int
) -> None:
    """out[rows[i]] += encoded row i, decoded at out's width (k =
    (width - 1) // gsz groups, det in the last slot). A slot named twice
    gets the sum of its rows: the additive merge of linear sketches. Flat
    1-D add.at scatters: as fast as a fancy-index assignment of the same
    items."""
    n = len(grp)
    nb = out.shape[1]
    k = (nb - 1) // gsz
    blobs = grp.flatten()  # honours the list array's offset
    offs = _byte_offsets(blobs)
    nnz = np.diff(offs) // GROUP_ITEM_BYTES
    # offsets that tile every blob into its idx, alpha and gamma blocks: one
    # take per block gathers that block of every blob into one buffer
    starts = offs[:-1]
    tiled = np.append(np.stack([starts, starts + 2 * nnz, starts + 10 * nnz], 1), offs[-1])
    blocks = binary_array(blobs.buffers()[2], tiled)
    idx_b, a_b, g_b = (pc.take(blocks, pa.array(np.arange(j, 3 * len(nnz), 3))) for j in range(3))
    seg = np.arange(n * k, dtype=np.int64)
    rows = np.asarray(rows, dtype=np.int64)
    idx = np.repeat(rows[seg // k] * nb + (seg % k) * gsz, nnz) + blob_values(idx_b, np.uint16)
    alpha = out[..., 0].reshape(-1)
    gamma = out[..., 1].reshape(-1)
    np.add.at(alpha, idx, blob_values(a_b, np.uint64))
    np.add.at(gamma, idx, blob_values(g_b, np.uint64))
    dets = blob_values(det, np.uint64).reshape(n, 2)
    idx = rows * nb + (nb - 1)
    np.add.at(alpha, idx, dets[:, 0])
    np.add.at(gamma, idx, dets[:, 1])


def encode_edges(src: np.ndarray, dst: np.ndarray, num_vertices: int) -> np.ndarray:
    """Canonical edge id: lo * n + hi (uint64). Inverse: (eid // n, eid % n).

    Range limit: eid < n^2 must fit the Spark-side signed-long columns, so
    n <= 3,037,000,499 vertices — 20x the largest public web-crawl host
    graph. SketchCC raises beyond that (sketch_cc.MAX_VERTICES); the kernel
    algebra itself only ever sees hashes and signed sums of eids."""
    lo = np.minimum(src, dst).astype(np.uint64)
    hi = np.maximum(src, dst).astype(np.uint64)
    return lo * np.uint64(num_vertices) + hi


def decode_edges(eids: np.ndarray, num_vertices: int) -> tuple[np.ndarray, np.ndarray]:
    n = np.uint64(num_vertices)
    return (eids // n).astype(np.int64), (eids % n).astype(np.int64)
