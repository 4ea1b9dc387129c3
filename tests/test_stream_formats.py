"""Reference stream-format readers (binary 9-byte records, ascii) round-trip
and feed the engine (README.md:57-81 formats)."""

from __future__ import annotations

import numpy as np

from graphzeppelin_spark import oracle
from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.sources.generators import multiples_graph_stream
from graphzeppelin_spark.sources.stream import (
    read_ascii_stream,
    read_binary_stream,
    write_ascii_stream,
    write_binary_stream,
)


def test_binary_roundtrip_and_query(spark, tmp_path):
    n = 128
    s = multiples_graph_stream(n)
    p = str(tmp_path / "stream.bin")
    write_binary_stream(p, n, s)
    assert (tmp_path / "stream.bin").stat().st_size == 12 + 9 * len(s)
    meta, df = read_binary_stream(spark, p)
    assert meta == {"num_nodes": n, "num_updates": len(s)}
    got = df.orderBy("seq").toPandas()
    assert got[["type", "src", "dst"]].astype("int64").equals(
        s[["type", "src", "dst"]].astype("int64")
    )
    alg = SketchCC(spark, num_vertices=n, seed=3)
    labels, _ = alg.boruvka(alg.build_state(df))
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(labels, expected)


def test_ascii_roundtrip(spark, tmp_path):
    n = 64
    s = multiples_graph_stream(n)
    p = str(tmp_path / "stream.txt")
    write_ascii_stream(p, n, s, has_types=True)
    meta, df = read_ascii_stream(spark, p, has_types=True)
    assert meta["num_nodes"] == n
    assert df.count() == len(s)
    # cumulative (no types) variant
    p2 = str(tmp_path / "cumulative.txt")
    write_ascii_stream(p2, n, s, has_types=False)
    meta2, df2 = read_ascii_stream(spark, p2, has_types=False)
    assert df2.where("type != 0").count() == 0
    assert df2.count() == len(s)


def test_import_reference_stream_roundtrip(spark, tmp_path):
    """Migration path: reference binary stream file -> engine checkpoint via
    scripts/import_reference_stream.py -> resume -> ingest the tail -> CC
    matches the oracle. Closes the write_binary interchange gap at the
    documented stream level."""
    import os
    import sys

    scripts = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts")
    sys.path.insert(0, scripts)
    from import_reference_stream import import_stream

    from graphzeppelin_spark.sources.generators import dynamic_erdos_stream
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver

    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=2, seed=33)
    p = str(tmp_path / "ref_stream.bin")
    write_binary_stream(p, n, s)
    ck = str(tmp_path / "ck")
    upto = int(len(s) * 0.7)
    summary = import_stream(spark, p, ck, fmt="binary", upto=upto)
    assert summary["seq_watermark"] == upto
    # resume from the imported snapshot and finish the stream
    _, stream = read_binary_stream(spark, p)
    drv = GraphStreamDriver.resume(spark, stream, ck)
    assert drv.applied_seq == upto
    exp_mid = oracle.connected_components(oracle.live_edges(s, n, upto), n)
    np.testing.assert_array_equal(drv.connected_components(), exp_mid)
    drv.process_stream_until(len(s))
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(drv.connected_components(), expected)
