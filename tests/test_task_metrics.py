"""TaskMetrics — the MXBean-parity gauge surface.

Asserts the snapshot's counters equal ground truth computed directly
from the corpus, that the attribute names match the reference's JMX
surface (``YugabyteDBPartitionMetricsMXBean`` +
``YugabyteDBStreamingPartitionMetricsMXBean``), and that the pipeline
wiring accumulates across batches and carries the checkpoint position.
"""

from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark.operators.metrics import TaskMetrics

MXBEAN_ATTRS = {
    "TotalNumberOfEventsSeen",
    "TotalNumberOfCreateEventsSeen",
    "TotalNumberOfUpdateEventsSeen",
    "TotalNumberOfDeleteEventsSeen",
    "NumberOfEventsFiltered",
    "NumberOfErroneousEvents",
    "NumberOfCommittedTransactions",
    "LastEvent",
    "LastTransactionId",
    "MilliSecondsSinceLastEvent",
    "MilliSecondsBehindSource",
    "CapturedTables",
    "SourceEventPosition",
}


def _truth(df):
    r = df.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("op") == "c").cast("long")).alias("c"),
        F.sum((F.col("op") == "u").cast("long")).alias("u"),
        F.sum((F.col("op") == "d").cast("long")).alias("d"),
    ).first()
    return r["total"], r["c"] or 0, r["u"] or 0, r["d"] or 0


def test_counters_match_ground_truth_and_accumulate(spark, corpus_path):
    ev = spark.read.parquet(corpus_path)
    half = F.col("eid") < 2000
    tm = TaskMetrics()
    tm.update(ev.where(half), n_filtered=7, wallclock_ms=1_000)
    tm.update(ev.where(~half), n_erroneous=2, wallclock_ms=2_000)
    snap = tm.snapshot(wallclock_ms=5_000)

    total, c, u, d = _truth(ev)
    assert snap["TotalNumberOfEventsSeen"] == total
    assert snap["TotalNumberOfCreateEventsSeen"] == c
    assert snap["TotalNumberOfUpdateEventsSeen"] == u
    assert snap["TotalNumberOfDeleteEventsSeen"] == d
    assert snap["NumberOfEventsFiltered"] == 7
    assert snap["NumberOfErroneousEvents"] == 2
    assert set(snap) == MXBEAN_ATTRS

    truth_tables = {
        r["table"]
        for r in ev.where(F.col("op").isin("c", "u", "d", "r"))
        .select("table").distinct().collect()
    }
    assert set(snap["CapturedTables"]) == truth_tables
    # ms-since-last-event is wall - wall of the LAST update that saw rows
    assert snap["MilliSecondsSinceLastEvent"] == 5_000 - 2_000
    # behind-source uses commit_time physical millis (ht >> 12 = micros)
    max_ct = ev.agg(F.max("commit_time")).first()[0]
    assert snap["MilliSecondsBehindSource"] == 5_000 - ((max_ct >> 12) // 1000)
    # last event is the max-(commit_time,index,write_id) row's descriptor
    last = (
        ev.orderBy(F.desc("commit_time"), F.desc("index"), F.desc("write_id"))
        .select("table", "op", "tablet_id", "index").first()
    )
    assert snap["LastEvent"] == (
        f"{last['table']}/{last['op']}/{last['tablet_id']}/{last['index']}"
    )


def test_commit_markers_count_transactions(spark):
    from debezium_connector_yugabytedb_1_spark.generator import generate_events

    ev = generate_events(spark, 800, n_tablets=2, txn_markers=True)
    tm = TaskMetrics()
    tm.update(ev, wallclock_ms=1_000)
    snap = tm.snapshot(wallclock_ms=1_000)
    n_commits = ev.where(F.col("op") == "COMMIT").count()
    assert n_commits > 0
    assert snap["NumberOfCommittedTransactions"] == n_commits
    assert snap["LastTransactionId"] is not None


def test_empty_batch_is_a_noop(spark, corpus_path):
    ev = spark.read.parquet(corpus_path)
    tm = TaskMetrics()
    tm.update(ev.where(F.lit(False)), wallclock_ms=1_000)
    snap = tm.snapshot(wallclock_ms=9_000)
    assert snap["TotalNumberOfEventsSeen"] == 0
    assert snap["LastEvent"] is None
    assert snap["MilliSecondsSinceLastEvent"] == -1
    assert snap["MilliSecondsBehindSource"] == -1


def test_pipeline_wiring_accumulates_and_positions(spark, corpus_path, tmp_path):
    from debezium_connector_yugabytedb_1_spark.lake import LakeTable
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import (
        CheckpointStore,
    )
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline

    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    ck = CheckpointStore(spark, str(tmp_path / "ckpt"))
    tm = TaskMetrics()
    CdcPipeline(
        spark, corpus_path, t, ck, events_per_batch=1500, task_metrics=tm
    ).run()
    snap = tm.snapshot()
    ev = spark.read.parquet(corpus_path)
    # every wire row except DDL markers flows through update() exactly once
    # (DDL rows take the driver-side schema cut, not the data apply path —
    # the reference's CommonEventMeter likewise ticks on data events)
    total = ev.where(F.col("op") != "ddl").count()
    assert snap["TotalNumberOfEventsSeen"] == total
    # position mirrors the committed checkpoint offsets
    pos = snap["SourceEventPosition"]
    assert pos and all(":" in v for v in pos.values())
    committed = {t for (t, _term, _idx, _w, _p) in ck.load_rows()}
    assert set(pos) == committed


def test_streaming_front_end_ticks_task_metrics(spark, corpus_path, tmp_path):
    from debezium_connector_yugabytedb_1_spark.lake import LakeTable
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import (
        CheckpointStore,
    )
    from debezium_connector_yugabytedb_1_spark.streaming.stream import run_streaming

    t = LakeTable(spark, str(tmp_path / "slake"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    ck = CheckpointStore(spark, str(tmp_path / "sck"))
    tm = TaskMetrics()
    run_streaming(
        spark, corpus_path, t, ck, str(tmp_path / "scp"), task_metrics=tm
    )
    snap = tm.snapshot()
    ev = spark.read.parquet(corpus_path)
    # streaming triggers see the raw wire rows (DDLs apply inside the
    # trigger AFTER the meter), so the streaming meter counts every row
    assert snap["TotalNumberOfEventsSeen"] == ev.count()
    assert snap["TotalNumberOfCreateEventsSeen"] == ev.where(
        F.col("op") == "c"
    ).count()
    assert snap["LastEvent"] is not None


def _pipeline(spark, corpus_path, root, ckpt, metrics=None, task_metrics=None):
    from debezium_connector_yugabytedb_1_spark.lake import LakeTable
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline

    t = LakeTable(spark, str(root / "lake"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    return CdcPipeline(
        spark, corpus_path, t, ckpt, events_per_batch=1500,
        metrics=metrics, task_metrics=task_metrics,
    )


def test_stats_pass_meters_equal_dataframe_reference(spark, corpus_path, tmp_path):
    """Lineage rows and meters folded from the window-stats partials equal
    the DataFrame reference (``batch_metrics`` / ``update``) on the rows
    each window applies — one batch id per window, the window [1500, 3000)
    that holds the DDL at 2000 included — and under a checkpoint that runs
    ahead of ``next_lo`` on one tablet, so the resume filter drops rows."""
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import (
        CheckpointStore,
        resume_filter,
    )
    from debezium_connector_yugabytedb_1_spark.operators.metrics import (
        MetricsSink,
        batch_metrics,
    )
    from debezium_connector_yugabytedb_1_spark.operators.order import ht_to_epoch_ms_py

    ev = spark.read.parquet(corpus_path)
    ahead = (
        ev.where((F.col("tablet_id") == ev.first()["tablet_id"]) & (F.col("index") < 2300))
        .orderBy(F.desc("index")).first()
    )
    ck = CheckpointStore(spark, str(tmp_path / "ckpt"))
    ck.commit([(ahead["tablet_id"], ahead["term"], ahead["index"], ahead["write_id"], "streaming")])
    assert ck.meta().get("next_lo") is None  # the run starts at 0, behind it

    sink, tm = MetricsSink(str(tmp_path / "lineage")), TaskMetrics()
    pipe = _pipeline(spark, corpus_path, tmp_path, ck, metrics=sink, task_metrics=tm)
    applied = []  # (batch_id, the rows the window applies)
    apply = pipe._apply

    def spy(batch, batch_id, stats):
        applied.append((batch_id, resume_filter(batch, ck.load())))
        return apply(batch, batch_id, stats)

    pipe._apply = spy
    pipe.run()
    assert [b for b, _ in applied] == ["b0-1500", "b1500-3000", "b3000-4500"]

    lineage = [r.asDict() for r in sink.read(spark).collect()]
    n_metered = 0
    for batch_id, rows in applied:
        got = sorted(
            (r for r in lineage if r["batch_id"] == batch_id),
            key=lambda r: (r["tablet_id"], r["op"]),
        )
        # one wall clock per batch: recover it from the lag gauge
        walls = {r["ms_behind_source"] + ht_to_epoch_ms_py(r["max_commit_time"]) for r in got}
        assert len(walls) == 1
        want = sorted(
            (r.asDict() for r in batch_metrics(rows, batch_id, wallclock_ms=walls.pop()).collect()),
            key=lambda r: (r["tablet_id"], r["op"]),
        )
        assert got == want
        n_metered += sum(r["n"] for r in got)
    assert n_metered == sum(r["n"] for r in lineage)  # no rows from elsewhere
    # the checkpoint ahead of next_lo really dropped rows
    assert 0 < n_metered < ev.where(F.col("op") != "ddl").count()

    ref = TaskMetrics()
    for _, rows in applied:
        ref.update(rows)
    snap, want = tm.snapshot(wallclock_ms=1 << 50), ref.snapshot(wallclock_ms=1 << 50)
    for k in MXBEAN_ATTRS - {"MilliSecondsSinceLastEvent", "SourceEventPosition"}:
        assert snap[k] == want[k], k
    assert snap["TotalNumberOfEventsSeen"] == n_metered


def test_meters_cost_no_spark_jobs(spark, corpus_path, tmp_path):
    """Lineage and meters on add no Spark job to a run (counted from every
    thread, the lookahead stats thread included), and task metrics add none
    to a Structured Streaming trigger: ``apply_batch`` over the same
    index-range triggers (the DDL in the third) runs the same jobs per
    trigger with them on as with them off."""
    from debezium_connector_yugabytedb_1_spark.lake import LakeTable
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import (
        CheckpointStore,
    )
    from debezium_connector_yugabytedb_1_spark.operators.metrics import MetricsSink
    from debezium_connector_yugabytedb_1_spark.streaming.stream import apply_batch

    def jobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def count(root, meters):
        root.mkdir()
        pipe = _pipeline(
            spark, corpus_path, root, CheckpointStore(spark, str(root / "ckpt")),
            metrics=MetricsSink(str(root / "lineage")) if meters else None,
            task_metrics=TaskMetrics() if meters else None,
        )
        j0 = jobs()
        pipe.run()
        return jobs() - j0

    off = count(tmp_path / "off", False)
    on = count(tmp_path / "on", True)
    assert on == off

    ev = spark.read.parquet(corpus_path)

    def per_trigger(root, tm):
        t = LakeTable(spark, str(root / "lake"), n_buckets=4)
        t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
        ck = CheckpointStore(spark, str(root / "ckpt"))
        counts = []
        for lo in range(0, 4000, 1000):
            batch = ev.where((F.col("index") >= lo) & (F.col("index") < lo + 1000))
            j0 = jobs()
            apply_batch(batch, lo, t, ck, task_metrics=tm)
            counts.append(jobs() - j0)
        return counts

    tm = TaskMetrics()
    stream_off = per_trigger(tmp_path / "stream_off", None)
    stream_on = per_trigger(tmp_path / "stream_on", tm)
    assert stream_on == stream_off
    assert tm.snapshot()["TotalNumberOfEventsSeen"] == ev.count()
