"""Physical-plan quality gates: pushdown, pruning, partial aggregation,
broadcast — the properties that keep these operators viable at 100 TB.
Asserting on explain() output pins them against regressions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphzeppelin_spark.functions.edges import live_edges_df
from graphzeppelin_spark.functions.text import text_profile


@pytest.fixture(scope="module")
def parquet_stream(spark, tmp_path_factory):
    from graphzeppelin_spark.sources.generators import multiples_graph_stream

    p = str(tmp_path_factory.mktemp("plans") / "stream.parquet")
    spark.createDataFrame(multiples_graph_stream(256)).write.parquet(p)
    return spark.read.parquet(p)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_seq_filter_pushed_to_scan(spark, parquet_stream):
    plan = _plan(live_edges_df(parquet_stream, upto_seq=100))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "LessThan(seq,100)" in pushed


def test_parity_agg_is_partial_then_final(spark, parquet_stream):
    plan = _plan(live_edges_df(parquet_stream))
    # map-side combine: partial_count before the exchange, count after
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_scan_prunes_unused_columns(spark, parquet_stream):
    plan = _plan(live_edges_df(parquet_stream))
    # live_edges_df needs only src/dst (+seq when filtered); type must be pruned
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "type" not in read_schema


def test_text_profile_reads_only_needed_columns(spark, tmp_path_factory):
    import pandas as pd

    p = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1], "text": ["hello"], "lang": ["en"], "source": ["s"], "n_chars": [5]}
        )
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = _plan(text_profile(docs))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_boruvka_label_join_broadcasts(spark, parquet_stream):
    """The per-round labels join must be a broadcast, not a sort-merge —
    sketch rows are KB-sized; shuffling them on the join key would dominate."""
    import numpy as np
    import pandas as pd

    from graphzeppelin_spark.operators.sketch_cc import SketchCC

    alg = SketchCC(spark, num_vertices=256, seed=3)
    state = alg.build_state(parquet_stream)
    labels_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"vertex": np.arange(256), "root": np.zeros(256, dtype=np.int64)})
        )
    )
    plan = _plan(state.join(labels_df, "vertex"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sampled_components_shuffle_is_pruned(spark, parquet_stream):
    """The per-Boruvka-round exchange must carry only the round's pruned
    slice blobs: Exchange hashpartitioning(root) sits BETWEEN the
    prune+partial-sum python stage and the final sample stage — never
    upstream of the prune, where it would shuffle full-width sketches. Holds
    for both the driver-DSU and the distributed-labels path (both call
    _sampled_components)."""
    import numpy as np

    from graphzeppelin_spark.operators.sketch_cc import SketchCC

    alg = SketchCC(spark, num_vertices=256, seed=3)
    state = alg.build_state(parquet_stream).localCheckpoint(eager=True)
    v = np.arange(256, dtype=np.int64)
    labels_df = alg._labels_df(v, v)  # every vertex its own root
    plan = _plan(alg._sampled_components(state, labels_df, 0, 1))
    # formatted-explain details are numbered in execution order
    i_partial = plan.index("_partial(")
    i_exchange = plan.index("hashpartitioning(root")
    i_final = plan.index("_final(")
    assert i_partial < i_exchange < i_final, plan
    # and the labels join itself is a broadcast (driver-DSU path labels)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_url_dictionary_has_no_global_sort_window(spark):
    """Id assignment must never funnel all urls through one reducer: no
    single-partition Exchange feeding the url-numbering Window."""
    import pandas as pd

    from graphzeppelin_spark.sources.pages import url_dictionary

    pages = spark.createDataFrame(
        pd.DataFrame({"url": [f"https://e{i}.com/" for i in range(64)]})
    )
    plan = _plan(url_dictionary(pages, num_partitions=8))
    lines = plan.splitlines()
    # the only SinglePartition exchange allowed is the one feeding the tiny
    # (num_partitions rows) offsets window — urls themselves must never funnel
    n_single = sum("Exchange SinglePartition" in l for l in lines)
    assert n_single <= 1, f"{n_single} single-partition exchanges:\n{plan}"
    # the window numbering urls partitions by pid (hash exchange, not global)
    assert any("hashpartitioning(url" in l for l in lines)


def test_bucketed_join_needs_no_exchange(spark, tmp_path_factory):
    """Two tables bucketed on the join key must join WITHOUT any Exchange —
    the write-time shuffle amortization that makes repeated big-big joins
    viable at 100 TB. Also asserts the sort-merge join skips the sort (the
    buckets are written sorted)."""
    import pandas as pd

    from graphzeppelin_spark.sources.tables import read_table, write_bucketed

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.createDataFrame(
            pd.DataFrame({"src": range(1000), "dst": [i * 7 % 1000 for i in range(1000)]})
        )
        labels = spark.createDataFrame(
            pd.DataFrame({"src": range(1000), "root": [i % 50 for i in range(1000)]})
        )
        write_bucketed(edges, "t_edges_bkt", ["src"], num_buckets=8)
        write_bucketed(labels, "t_labels_bkt", ["src"], num_buckets=8)
        joined = read_table(spark, "t_edges_bkt").join(
            read_table(spark, "t_labels_bkt"), "src"
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_edges_bkt")
        spark.sql("DROP TABLE IF EXISTS t_labels_bkt")


def test_ann_candidate_scoring_has_no_cartesian(spark):
    """lsh_topk must score candidate pairs by joining embeddings onto them —
    a crossJoin-derived scored table would make pruning a no-op."""
    from graphzeppelin_spark.operators.similarity import lsh_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5, float(i % 3)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where(F.col("vec_id") < 4)
    plan = _plan(lsh_topk(emb, q, k=3, num_tables=2, num_planes=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _exchange_records(df) -> list[int]:
    """Shuffle records written by each Exchange of df's executed plan, read
    after an action on df itself. Plan and run df under aqe_off: an adaptive
    plan hides its exchanges from this walk."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Exchange":
            out.append(int(node.metrics().apply("shuffleRecordsWritten").value()))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_build_state_has_single_exchange(spark, parquet_stream):
    """Ingest = exactly ONE exchange, and it moves gutters: the map stage
    ships one row per (Arrow batch, build partition) holding that
    partition's update keys, and the sketch stage nets them in numpy. So no
    HashAggregate remains, and the exchange writes at most batches x
    partitions records, not one per endpoint update. (Round 8 kept a JVM
    net aggregation after the exchange, measured at local[32] on another
    VM; on a 4-core host the gutters build faster, see build_state.)"""
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off

    import re

    alg = SketchCC(spark, num_vertices=256, seed=3)
    with aqe_off(spark):
        state = alg.build_state(parquet_stream)
        plan = _plan(state)
        state.collect()
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) == 1, plan
    assert "HashAggregate" not in plan, plan
    per_task = parquet_stream.groupBy(F.spark_partition_id()).count().collect()
    most = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = sum(-(-r["count"] // most) for r in per_task)
    (records,) = _exchange_records(state)
    assert 0 < records <= batches * alg.num_partitions


def test_fold_has_one_python_stage(spark, parquet_stream):
    """A later batch folds into the state with one gutter map stage and ONE
    sketch stage, both Arrow-native (no pandas stage): the batch's gutters
    are unioned with the state rows, which are routed to their vertex's
    build partition in Catalyst, and the union is repartitioned once. No
    delta state is encoded, shuffled or decoded by a second stage, and no
    net aggregation runs in the JVM."""
    import re

    from graphzeppelin_spark.operators.sketch_cc import SketchCC

    alg = SketchCC(spark, num_vertices=256, seed=3)
    state = alg.build_state(parquet_stream).localCheckpoint(eager=True)
    plan = _plan(alg.build_state(parquet_stream, base=state))
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, flags=re.M)) == 2, plan
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, flags=re.M)) == 0, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) == 1, plan


def test_fold_plan_round_trips(spark, parquet_stream, monkeypatch):
    """A fold plan built from a SketchCC that already built one makes at
    most 300 py4j round trips: its Column expressions are built once per
    instance (SketchCC._ingest), so the streaming driver's per-batch plan
    only chains DataFrame operations. Each call is counted, including the
    garbage-collection messages py4j sends for released Java objects."""
    from py4j.clientserver import ClientServerConnection

    from graphzeppelin_spark.operators.sketch_cc import SketchCC

    alg = SketchCC(spark, num_vertices=256, seed=3)
    state = alg.build_state(parquet_stream).localCheckpoint(eager=True)
    alg.build_state(parquet_stream, base=state)
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls.append(command[:1])
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    fold = alg.build_state(parquet_stream, base=state)
    monkeypatch.undo()
    assert 0 < len(calls) <= 300, len(calls)
    assert fold.count() == state.count()


def test_simhash_is_pure_catalyst(spark):
    """SimHash signatures must contain no Python evaluation nodes at all."""
    import pandas as pd

    from graphzeppelin_spark.operators.dedup import simhash_signatures

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c", "d e"]})
    )
    plan = _plan(simhash_signatures(docs))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan
