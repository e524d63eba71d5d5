"""S2 colocated grouping parity (``YugabyteDBConnectorUtils.java:16-103``,
mirroring ``YugabyteDBgRPCConnectorUtilsTest.java``), the
MilliSecondsBehindSource lag gauge, and logical-decoding message dispatch
(``LogicalDecodingMessageMonitor.java``)."""

import pyspark.sql.functions as F
import pytest

from debezium_connector_yugabytedb_1_spark.operators.metrics import (
    batch_metrics,
    decode_messages,
)
from debezium_connector_yugabytedb_1_spark.operators.skew import (
    group_partitions,
    group_partitions_smartly,
    group_tablets_colocated,
)


# ------------------------------------------------------------- grouping
def test_group_partitions_contiguous_split():
    assert group_partitions([1, 2, 3, 4, 5], 2) == [[1, 2, 3], [4, 5]]
    assert group_partitions([1, 2], 5) == [[1], [2]]  # empty groups dropped


def test_colocated_tables_stay_in_one_task():
    # 3 tables colocated on tablet_c + 2 regular tablets, 2 tasks
    pairs = [
        ("t1", "tablet_c"), ("t2", "tablet_c"), ("t3", "tablet_c"),
        ("t4", "tablet_x"), ("t5", "tablet_y"),
    ]
    groups = group_partitions_smartly(pairs, 2)
    assert len(groups) == 2
    for g in groups:
        tablets = {tab for _, tab in g}
        # every colocated pair is whole: tablet_c appears in exactly one task
        if "tablet_c" in tablets:
            assert sum(1 for _, tab in g if tab == "tablet_c") == 3
    all_pairs = [p for g in groups for p in g]
    assert sorted(all_pairs) == sorted(pairs)


def test_no_colocation_falls_back_to_plain_grouping():
    pairs = [("t1", "a"), ("t2", "b"), ("t3", "c"), ("t4", "d")]
    assert group_partitions_smartly(pairs, 2) == [pairs[:2], pairs[2:]]


def test_smartly_single_group_and_errors():
    pairs = [("t1", "a"), ("t2", "a")]
    assert group_partitions_smartly(pairs, 1) == [pairs]
    with pytest.raises(ValueError):
        group_partitions_smartly(pairs, 0)
    with pytest.raises(ValueError):
        group_partitions_smartly([], 3)


def test_colocated_weighted_lpt():
    triples = [
        ("t1", "hot", 90), ("t2", "hot", 10),  # colocated, total 100
        ("t3", "a", 60), ("t4", "b", 50),
    ]
    tasks = group_tablets_colocated(triples, 2)
    assert len(tasks) == 2
    hot_tasks = [i for i, g in enumerate(tasks) if any(tab == "hot" for _, tab in g)]
    assert len(hot_tasks) == 1  # colocation invariant
    # LPT: hot (100) alone-ish, a+b (110) together on the other task
    loads = [sum(1 for _ in g) for g in tasks]
    flat = sorted(p for g in tasks for p in g)
    assert flat == sorted((t, tab) for t, tab, _ in triples)


# ------------------------------------------------------------- lag metric
def test_ms_behind_source(spark):
    # commit_time is a HybridTime: physical micros << 12
    wall_ms = 1_600_000_100_000
    commit_micros = 1_600_000_000_000_000  # 100s earlier
    df = spark.createDataFrame(
        [("t0", "c", 1, commit_micros << 12)],
        "tablet_id string, op string, index long, commit_time long",
    )
    m = batch_metrics(df, "b0", wallclock_ms=wall_ms).collect()[0]
    assert m["ms_behind_source"] == 100_000
    assert m["batch_id"] == "b0" and m["n"] == 1


def test_lineage_sink_reads_spark_and_pyarrow_appends(spark, tmp_path):
    """Lineage sinks Spark wrote (``batch_metrics`` appends) and rows the
    pipeline now writes with pyarrow read back as one table, same schema;
    the pyarrow write leaves no ``_``-prefixed temp file behind."""
    import os

    from debezium_connector_yugabytedb_1_spark.operators.metrics import (
        MetricsSink,
        lineage_rows,
        meter_partials,
    )

    df = spark.createDataFrame(
        [("t0", "c", 1, 0, 5 << 12, "x", "tbl"), ("t1", "u", 2, 0, 6 << 12, "y", "tbl")],
        "tablet_id string, op string, index long, write_id long, "
        "commit_time long, txn_id string, table string",
    )
    sink = MetricsSink(str(tmp_path / "lineage"))
    sink.append(batch_metrics(df, "old", wallclock_ms=9))
    sink.append(lineage_rows(meter_partials(df), "new", wallclock_ms=9))
    sink.append([])  # an empty batch writes nothing
    got = sink.read(spark)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in batch_metrics(df, "old").schema
    ]
    rows = sorted(tuple(r) for r in got.collect())
    assert [r[:-1] for r in rows if r[-1] == "new"] == [
        r[:-1] for r in rows if r[-1] == "old"
    ]
    assert len(rows) == 4
    assert not [n for n in os.listdir(sink.path) if n.startswith("_part")]


# ------------------------------------------------------------- messages
def _msg_df(spark):
    rows = [
        ("t0", "tx1", "wal", 0, 1, 0, 5 << 12, 5 << 12, "m", "app.sig", "hello"),
        ("t0", "tx1", "wal", 0, 2, 0, 6 << 12, 6 << 12, "m", "other.sig", "world"),
        ("t0", "tx1", "wal", 0, 3, 0, 7 << 12, 7 << 12, "c", None, "{}"),
    ]
    return spark.createDataFrame(
        rows,
        "tablet_id string, txn_id string, table string, term long, index long, "
        "write_id long, commit_time long, record_time long, op string, "
        "msg_prefix string, payload string",
    )


def test_decode_messages_shape_and_filter(spark):
    out = decode_messages(_msg_df(spark), include="^app\\.").collect()
    assert len(out) == 1
    r = out[0]
    assert r["key"]["prefix"] == "app.sig"
    assert r["op"] == "m"
    assert r["message"]["prefix"] == "app.sig"
    assert bytes(r["message"]["content"]) == b"hello"
    assert r["ts_ms"] == 0  # (5 << 12) >> 12 micros → 0 ms
    assert r["source"]["tablet_id"] == "t0"


def test_decode_messages_binary_modes(spark):
    hexed = decode_messages(_msg_df(spark), include="^app\\.", binary_mode="hex").collect()[0]
    assert hexed["message"]["content"] == "68656c6c6f"
    b64 = decode_messages(_msg_df(spark), include="^app\\.", binary_mode="base64").collect()[0]
    assert b64["message"]["content"] == "aGVsbG8="
    # no filter: both messages, the DML row never leaks into the side output
    assert decode_messages(_msg_df(spark)).count() == 2


def test_pipeline_message_side_output(spark, tmp_path):
    """End-to-end: op='m' logical-decoding messages flow to the side sink
    (prefix-filtered), never into the lake table, and replay state matches a
    message-free run."""
    from debezium_connector_yugabytedb_1_spark.generator import (
        generate_events,
        write_events,
    )
    from debezium_connector_yugabytedb_1_spark.lake import LakeTable
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
    from debezium_connector_yugabytedb_1_spark.operators.metrics import MetricsSink
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline

    ev_path = str(tmp_path / "events")
    ev = generate_events(spark, 4000, msg_per_mille=10)
    write_events(ev, ev_path)
    n_msgs = ev.where(F.col("op") == "m").count()
    n_app = ev.where((F.col("op") == "m") & F.col("msg_prefix").startswith("app.")).count()
    assert n_msgs > 0 and 0 < n_app < n_msgs

    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    sink = MetricsSink(str(tmp_path / "messages"))
    pipe = CdcPipeline(
        spark, ev_path, t, CheckpointStore(spark, str(tmp_path / "ckpt")),
        events_per_batch=1500, message_sink=sink,
        message_prefix_include=r"^app\.",
    )
    pipe.run()
    msgs = sink.read(spark)
    assert msgs.count() == n_app
    r = msgs.collect()[0]
    assert r["op"] == "m" and r["key"]["prefix"].startswith("app.")
    assert r["message"]["content"] is not None
    # messages never land in the table
    assert t.read().where(F.col("commit").isNull() & F.col("content").isNull()).count() == 0
