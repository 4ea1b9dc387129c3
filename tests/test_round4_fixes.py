"""Round-4 scale fixes: vectorized eager maintain, bulk DSU union, bounded
streaming-dedup state, live-stream checkpoint safety, single-job commits,
deterministic localCheckpoint cleanup."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from graphzeppelin_spark.sketch.dsu import NumpyDSU
from tests.conftest import stream_df


# ---------------------------------------------------------------- bulk DSU


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_union_edges_bulk_matches_sequential(seed):
    rng = np.random.default_rng(seed)
    n = 500
    m = 2000
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    keep = src != dst
    src, dst = src[keep], dst[keep]

    seq = NumpyDSU(n)
    seq.union_edges(src, dst)
    bulk = NumpyDSU(n)
    applied = bulk.union_edges_bulk(src, dst)

    np.testing.assert_array_equal(seq.labels(), bulk.labels())
    # applied edges form a spanning forest: exactly n - #components of them
    assert applied.sum() == n - bulk.num_components()
    # and each applied edge connects two vertices of one component
    lbl = bulk.labels()
    assert (lbl[src[applied]] == lbl[dst[applied]]).all()


def test_union_edges_bulk_empty():
    d = NumpyDSU(4)
    out = d.union_edges_bulk(np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    assert len(out) == 0 and d.num_components() == 4


# ------------------------------------------------------- eager maintain paths


def _mk_stream(rows):
    pdf = pd.DataFrame(rows, columns=["seq", "type", "src", "dst"])
    pdf["seq"] = pdf["seq"].astype("int64")
    pdf["type"] = pdf["type"].astype("int32")
    pdf["src"] = pdf["src"].astype("int64")
    pdf["dst"] = pdf["dst"].astype("int64")
    return pdf


def test_eager_mixed_batch_with_noop_deletes_stays_valid(spark):
    """Deletes of non-forest, not-in-batch edges are no-ops: the vectorized
    path must keep the cache valid and the labeling exact."""
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver

    n = 32
    s = _mk_stream(
        [
            (0, 0, 0, 1),
            (1, 0, 1, 2),
            (2, 0, 0, 2),  # redundant → NOT a forest edge
        ]
    )
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=3, eager=True)
    drv.process_stream_until(3)
    assert drv._dsu_valid
    # batch 2: a fresh edge + a delete of the non-forest (0,2)
    s2 = _mk_stream(s.values.tolist() + [(3, 0, 3, 4), (4, 1, 0, 2)])
    drv2 = GraphStreamDriver(spark, stream_df(spark, s2), n, seed=3, eager=True)
    drv2.process_stream_until(3)
    drv2.process_stream_until(5)
    assert drv2._dsu_valid  # non-forest delete did not invalidate
    labels = drv2.connected_components()
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4]
    assert labels[0] != labels[3]


def test_eager_delete_cancels_same_batch_insert(spark):
    """A delete canceling an insert from the SAME batch takes the ordered
    replay path; the net-dead edge must not linger in the forest."""
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver

    n = 16
    s = _mk_stream([(0, 0, 0, 1), (1, 1, 0, 1), (2, 0, 2, 3)])
    drv = GraphStreamDriver(spark, stream_df(spark, s), n, seed=9, eager=True)
    drv.process_stream_until(3)
    # ordered replay saw insert(0,1) become a forest edge then its delete →
    # invalidation; the sketch query must answer exactly
    assert not drv._dsu_valid
    labels = drv.connected_components()
    assert labels[0] != labels[1]
    assert labels[2] == labels[3]


def test_eager_vectorized_insert_only_large(spark):
    """Insert-only batch takes the bulk path and yields the exact labeling."""
    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver

    n = 256
    rng = np.random.default_rng(11)
    src = rng.integers(0, n, 800)
    dst = rng.integers(0, n, 800)
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    uniq = np.unique(lo * n + hi)
    ins_only = _mk_stream(
        [(i, 0, int(c // n), int(c % n)) for i, c in enumerate(uniq)]
    )
    drv = GraphStreamDriver(spark, stream_df(spark, ins_only), n, seed=4, eager=True)
    drv.process_stream_until(len(ins_only))
    assert drv._dsu_valid
    expected = oracle.connected_components(
        oracle.live_edges(ins_only, n), n
    )
    np.testing.assert_array_equal(drv.connected_components(), expected)


# --------------------------------------------------- bounded streaming dedup


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """3 waves through StreamingDedup: survivors equal the batch-oracle
    first-occurrence set, and on-disk state rows stay O(distinct hashes)
    (appended novel rows only — never rewritten per batch)."""
    from graphzeppelin_spark.streaming.windows import StreamingDedup

    src = str(tmp_path / "src")
    dd = StreamingDedup(
        spark,
        src,
        table_dir=str(tmp_path / "seen"),
        stream_checkpoint_dir=str(tmp_path / "ck"),
    )
    waves = [
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["aaa", "bbb", "aaa"]}),
        pd.DataFrame({"doc_id": [4, 5], "text": ["bbb", "ccc"]}),
        pd.DataFrame({"doc_id": [6, 7, 8], "text": ["ccc", "ddd", "aaa"]}),
    ]
    expected = {}  # text -> first doc_id
    table_rows = []
    for w in waves:
        spark.createDataFrame(w).write.mode("append").parquet(src)
        dd.process_available()
        for did, txt in w.sort_values("doc_id").itertuples(index=False):
            expected.setdefault(txt, did)
        got = {r["doc_id"] for r in dd.survivors().collect()}
        assert got == set(expected.values())
        table_rows.append(dd.survivors().count())
    # bounded state: table holds exactly one row per distinct hash — the
    # per-batch append added only the novel hashes, nothing was rewritten
    assert table_rows == [2, 3, 4]
    assert dd.state_bytes() > 0


def test_streaming_dedup_compaction_preserves_set(spark, tmp_path):
    from graphzeppelin_spark.streaming.windows import StreamingDedup

    src = str(tmp_path / "src")
    dd = StreamingDedup(
        spark,
        src,
        table_dir=str(tmp_path / "seen"),
        stream_checkpoint_dir=str(tmp_path / "ck"),
        compact_threshold=2,  # force compaction immediately
    )
    for i in range(3):
        w = pd.DataFrame({"doc_id": [10 * i, 10 * i + 1], "text": [f"t{i}", f"u{i}"]})
        spark.createDataFrame(w).write.mode("append").parquet(src)
        dd.process_available()
    assert dd.survivors().count() == 6
    assert len(dd._table_files()) <= 2  # compacted


# ------------------------------------------------ live-stream checkpoint safety


def test_live_pages_fail_fast_on_reused_checkpoint(spark, tmp_path):
    from graphzeppelin_spark.sources.generators import pages_table
    from graphzeppelin_spark.streaming.live import LivePagesStream

    n = 8
    edges = pd.DataFrame({"src": [0, 1], "dst": [1, 2]})
    pages = pages_table(edges, n)
    src_dir = str(tmp_path / "crawl")
    ckpt = str(tmp_path / "ck")
    live = LivePagesStream(spark, src_dir, stream_checkpoint_dir=ckpt, num_vertices_capacity=n)
    spark.createDataFrame(pages).coalesce(1).write.mode("append").parquet(src_dir)
    live.process_available()
    assert live.batches_seen >= 1
    # a FRESH instance on the same committed checkpoint would silently skip
    # every pre-restart page — it must refuse instead
    with pytest.raises(ValueError, match="committed offsets"):
        LivePagesStream(spark, src_dir, stream_checkpoint_dir=ckpt, num_vertices_capacity=n)


def test_live_graph_stream_restores_state_on_resume(spark, tmp_path):
    """A new LiveGraphStream over a committed stream checkpoint restores the
    sketch state from the state snapshot store and continues correctly."""
    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.sources.generators import dynamic_erdos_stream
    from graphzeppelin_spark.streaming.live import LiveGraphStream

    n = 64
    s = dynamic_erdos_stream(num_vertices=n, density=0.04, rounds=1, seed=31)
    half = len(s) // 2
    src_dir = str(tmp_path / "in")
    kw = dict(
        num_vertices=n,
        stream_checkpoint_dir=str(tmp_path / "sck"),
        state_checkpoint_dir=str(tmp_path / "state"),
        seed=6,
    )
    live = LiveGraphStream(spark, src_dir, **kw)
    stream_df(spark, s.iloc[:half]).write.mode("append").parquet(src_dir)
    live.process_available()

    # simulate process restart: fresh instance, same checkpoint dirs
    live2 = LiveGraphStream(spark, src_dir, **kw)
    assert live2.state is not None  # restored, not empty
    stream_df(spark, s.iloc[half:].reset_index(drop=True)).write.mode("append").parquet(src_dir)
    live2.process_available()
    final = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(live2.connected_components(), final)


def test_live_graph_stream_refuses_without_state_store(spark, tmp_path):
    from graphzeppelin_spark.sources.generators import dynamic_erdos_stream
    from graphzeppelin_spark.streaming.live import LiveGraphStream

    n = 32
    s = dynamic_erdos_stream(num_vertices=n, density=0.05, rounds=1, seed=13)
    src_dir = str(tmp_path / "in")
    kw = dict(num_vertices=n, stream_checkpoint_dir=str(tmp_path / "sck"), seed=2)
    live = LiveGraphStream(spark, src_dir, **kw)
    stream_df(spark, s).write.mode("append").parquet(src_dir)
    live.process_available()
    with pytest.raises(ValueError, match="committed offsets"):
        LiveGraphStream(spark, src_dir, **kw)


def test_url_components_df_matches_dict(spark, tmp_path):
    from graphzeppelin_spark.sources.generators import pages_table, url_for_vertex
    from graphzeppelin_spark.streaming.live import LivePagesStream

    n = 12
    src = np.array([0, 1, 2, 4, 5], dtype=np.int64)
    edges = pd.DataFrame({"src": src, "dst": src + 1})
    pages = pages_table(edges, n)
    src_dir = str(tmp_path / "crawl")
    live = LivePagesStream(
        spark, src_dir, stream_checkpoint_dir=str(tmp_path / "ck"), num_vertices_capacity=n
    )
    spark.createDataFrame(pages).coalesce(1).write.mode("append").parquet(src_dir)
    live.process_available()
    df_rows = {r["url"]: r["component"] for r in live.url_components_df().collect()}
    assert df_rows == live.url_components()
    # chains {0..3} and {4..6} share labels
    assert df_rows[url_for_vertex(0)] == df_rows[url_for_vertex(3)]
    assert df_rows[url_for_vertex(4)] == df_rows[url_for_vertex(6)]
    assert df_rows[url_for_vertex(0)] != df_rows[url_for_vertex(4)]


def test_live_pages_checkpoint_blocks_bounded(spark, tmp_path):
    """Superseded per-batch localCheckpoints are freed deterministically: the
    persistent-RDD census after many waves stays bounded instead of growing
    by ~4 checkpoints per wave."""
    from graphzeppelin_spark.sources.generators import pages_table
    from graphzeppelin_spark.streaming.live import LivePagesStream

    n = 64
    src = np.arange(n - 1, dtype=np.int64)
    edges = pd.DataFrame({"src": src, "dst": src + 1})
    pages = pages_table(edges, n)
    src_dir = str(tmp_path / "crawl")
    live = LivePagesStream(
        spark, src_dir, stream_checkpoint_dir=str(tmp_path / "ck"), num_vertices_capacity=n
    )
    sc = spark.sparkContext
    waves = 5
    per_wave = len(pages) // waves
    counts = []
    for w in range(waves):
        lo = w * per_wave
        hi = len(pages) if w == waves - 1 else lo + per_wave
        spark.createDataFrame(pages.iloc[lo:hi]).coalesce(1).write.mode("append").parquet(src_dir)
        live.process_available()
        counts.append(sc._jsc.sc().getPersistentRDDs().size())
    # live state after a wave: dict/pending/inserted/state (+ persist) ≈ 5-6
    # entries; unbounded growth would show ~5 MORE per wave
    assert counts[-1] <= counts[0] + 4, counts


# ------------------------------------------------------- single-job commits


def test_checkpoint_commit_footer_metrics(spark, tmp_path):
    from graphzeppelin_spark.streaming.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "store"))
    df = spark.range(1000).selectExpr("id as vertex", "unhex(hex(id)) as sketch")
    sid = store.commit(df.repartition(4), {"seed": 1})
    back, meta = store.read(sid)
    assert back.count() == 1000
    assert meta["total_rows"] == 1000
    assert sum(p["rows"] for p in meta["partitions"]) == 1000
    assert len(meta["partitions"]) == 4
    assert "_part" not in back.columns


def test_live_pages_resume_from_state_snapshot(spark, tmp_path):
    """With state_checkpoint_dir set, a NEW LivePagesStream instance resumes
    the committed stream offsets AND the full crawl state (dictionary,
    pending forward-links, inserted edges, sketch) — no page lost, no edge
    double-folded. A snapshot committed before any link resolves holds an
    empty state table of the state's own schema."""
    import os

    from graphzeppelin_spark.operators.sketch_cc import STATE_SCHEMA
    from graphzeppelin_spark.oracle import UnionFind
    from graphzeppelin_spark.sources.generators import pages_table, url_for_vertex
    from graphzeppelin_spark.streaming.live import LivePagesStream

    n = 32
    src = np.array([v for v in range(n - 1) if v != 15], dtype=np.int64)
    edges = pd.DataFrame({"src": src, "dst": src + 1})
    pages = pages_table(edges, n)
    src_dir = str(tmp_path / "crawl")
    kw = dict(
        stream_checkpoint_dir=str(tmp_path / "sck"),
        num_vertices_capacity=n,
        state_checkpoint_dir=str(tmp_path / "state"),
    )
    live = LivePagesStream(spark, src_dir, **kw)
    # first wave: page 0 alone, whose one href (page 1) is not crawled yet
    spark.createDataFrame(pages.iloc[:1]).coalesce(1).write.mode("append").parquet(src_dir)
    live.process_available()
    assert live.state is None and live.pending.count() == 1
    empty = spark.read.parquet(os.path.join(live._latest_snapshot(), "state"))
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        (f.name, f.dataType.simpleString()) for f in STATE_SCHEMA
    ]
    spark.createDataFrame(pages.iloc[1:16]).coalesce(1).write.mode("append").parquet(src_dir)
    live.process_available()
    vid_before = {r["url"]: r["vid"] for r in live.dict_df.collect()}

    # restart: fresh instance, same dirs
    live2 = LivePagesStream(spark, src_dir, **kw)
    assert live2.next_vid == live.next_vid
    # vids are stable across the restart (ids never reshuffled)
    assert {r["url"]: r["vid"] for r in live2.dict_df.collect()} == vid_before
    spark.createDataFrame(pages.iloc[16:]).coalesce(1).write.mode("append").parquet(src_dir)
    live2.process_available()

    uf = UnionFind(n)
    for s, d in edges.itertuples(index=False):
        uf.union(int(s), int(d))
    got = {}
    for url, label in live2.url_components().items():
        got.setdefault(label, set()).add(url)
    want = {}
    for v in range(n):
        want.setdefault(uf.find(v), set()).add(url_for_vertex(v))
    assert {frozenset(g) for g in got.values()} == {frozenset(g) for g in want.values()}
    assert live2.pending.count() == 0


def test_streaming_dedup_restart_continuity(spark, tmp_path):
    """StreamingDedup keeps NO in-memory state, so a fresh instance over the
    same table/checkpoint dirs continues exactly: committed offsets skip
    wave 1, the survivor table supplies the cross-restart seen-set."""
    from graphzeppelin_spark.streaming.windows import StreamingDedup

    src = str(tmp_path / "src")
    kw = dict(table_dir=str(tmp_path / "seen"), stream_checkpoint_dir=str(tmp_path / "ck"))
    dd1 = StreamingDedup(spark, src, **kw)
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["aaa", "bbb"]})
    ).write.mode("append").parquet(src)
    dd1.process_available()

    dd2 = StreamingDedup(spark, src, **kw)  # simulated restart
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [3, 4], "text": ["aaa", "ccc"]})
    ).write.mode("append").parquet(src)
    dd2.process_available()
    got = {r["doc_id"] for r in dd2.survivors().collect()}
    assert got == {1, 2, 4}  # doc 3 deduped against the pre-restart table


def test_live_graph_replay_guard_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-folded batch
    must NOT fold again — under toggle semantics a double-fold DELETES every
    edge of the batch from the linear sketch state."""
    from graphzeppelin_spark.sources.generators import dynamic_erdos_stream
    from graphzeppelin_spark.streaming.live import LiveGraphStream

    n = 64
    s = dynamic_erdos_stream(num_vertices=n, density=0.05, rounds=1, seed=17)
    src_dir = str(tmp_path / "in")
    live = LiveGraphStream(
        spark,
        src_dir,
        num_vertices=n,
        stream_checkpoint_dir=str(tmp_path / "sck"),
        state_checkpoint_dir=str(tmp_path / "state"),
        seed=3,
    )
    stream_df(spark, s).write.mode("append").parquet(src_dir)
    live.process_available()
    before = live.connected_components()
    # simulate the engine re-delivering batch 0 after a crash-before-commit
    live._fold_batch(spark.read.parquet(src_dir), 0)
    np.testing.assert_array_equal(live.connected_components(), before)


def test_live_graph_restore_rejects_wrong_seed(spark, tmp_path):
    from graphzeppelin_spark.sources.generators import dynamic_erdos_stream
    from graphzeppelin_spark.streaming.live import LiveGraphStream

    n = 32
    s = dynamic_erdos_stream(num_vertices=n, density=0.05, rounds=1, seed=29)
    src_dir = str(tmp_path / "in")
    kw = dict(
        num_vertices=n,
        stream_checkpoint_dir=str(tmp_path / "sck"),
        state_checkpoint_dir=str(tmp_path / "state"),
    )
    live = LiveGraphStream(spark, src_dir, seed=3, **kw)
    stream_df(spark, s).write.mode("append").parquet(src_dir)
    live.process_available()
    # restoring under a different sketch seed would merge incompatible
    # hash families — must refuse loudly, not corrupt silently
    with pytest.raises(ValueError, match="seed"):
        LiveGraphStream(spark, src_dir, seed=99, **kw)


def test_streaming_dedup_compaction_crash_recovery(spark, tmp_path):
    """A crash between the two compaction renames leaves the survivor set in
    the .old directory; a fresh instance must restore it, not start empty."""
    import os

    from graphzeppelin_spark.streaming.windows import StreamingDedup

    src = str(tmp_path / "src")
    table = str(tmp_path / "seen")
    kw = dict(table_dir=table, stream_checkpoint_dir=str(tmp_path / "ck"))
    dd = StreamingDedup(spark, src, **kw)
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["aaa", "bbb"]})
    ).write.mode("append").parquet(src)
    dd.process_available()
    # simulate the torn state: table renamed away, replacement never landed
    os.rename(table, table + ".old")
    dd2 = StreamingDedup(spark, src, **kw)
    assert dd2.survivors().count() == 2  # recovered from .old
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [3], "text": ["aaa"]})
    ).write.mode("append").parquet(src)
    dd2.process_available()
    assert {r["doc_id"] for r in dd2.survivors().collect()} == {1, 2}
