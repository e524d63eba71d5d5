"""S3 — mid-snapshot resume: a snapshot killed partway restarts from the
per-tablet chunk checkpoint without re-reading completed chunks, and the
final state equals the base table. Mirrors
``YugabyteDBSnapshotResumeTest.java:94-107`` (kill after N records, resume
from the snapshot key) and the end marker ``:902-905``."""

import pyspark.sql.functions as F
import pytest

from debezium_connector_yugabytedb_1_spark.lake import LakeTable
from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
from debezium_connector_yugabytedb_1_spark.operators.snapshot import (
    SNAPSHOT_TERM,
    run_snapshot,
)

COLS = [("commit", "string"), ("lang", "string"), ("content", "string")]


def _base(spark, n=240):
    return spark.range(n).select(
        F.concat(F.lit("repo-"), F.pmod(F.col("id"), F.lit(24)).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("commit"),
        F.lit("python").alias("lang"),
        F.concat(F.lit("body-"), F.col("id").cast("string")).alias("content"),
    )


def _state(t):
    return sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in t.read().collect()
    )


def test_snapshot_kill_and_resume(spark, tmp_path):
    base = _base(spark)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(COLS)
    ck = CheckpointStore(spark, str(tmp_path / "ckpt"))
    # kill after 3 of 8 chunks
    n1 = run_snapshot(base, t, ck, n_tablets=4, chunks_per_tablet=2, max_chunks=3)
    assert n1 == 3
    assert not ck.meta().get("snapshot_done")
    assert len(ck.meta()["snapshot_chunks_done"]) == 3
    # the per-tablet snapshot key advanced (term = -1, index = chunks done)
    snap_rows = [r for r in ck.load_rows() if r[1] == SNAPSHOT_TERM]
    assert snap_rows and all(r[4] == "snapshot" for r in snap_rows)
    applied_after_kill = list(t.manifest()["applied_batches"])

    # resume with FRESH objects (restart): only the remaining 5 chunks run
    t2 = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    ck2 = CheckpointStore(spark, str(tmp_path / "ckpt"))
    n2 = run_snapshot(base, t2, ck2, n_tablets=4, chunks_per_tablet=2)
    assert n2 == 5
    assert ck2.meta()["snapshot_done"]
    # completed chunks were NOT re-merged: their batch ids appear exactly once
    batches = t2.manifest()["applied_batches"]
    assert len(batches) == len(set(batches)) == 8
    assert all(b in batches for b in applied_after_kill)

    # final state equals the base table, row for row
    assert _state(t2) == sorted(tuple(r) for r in base.collect())
    assert len(_state(t2)) == 240

    # a third call is a no-op
    assert run_snapshot(base, t2, ck2, n_tablets=4, chunks_per_tablet=2) == 0


def test_snapshot_staged_chunks(spark, tmp_path):
    """With staging_path the base is staged once into chunk-partitioned
    parquet; chunk reads prune partitions, and resume reuses the staging."""
    base = _base(spark, 120)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(COLS)
    ck = CheckpointStore(spark, str(tmp_path / "ckpt"))
    staging = str(tmp_path / "staging")
    n1 = run_snapshot(
        base, t, ck, n_tablets=2, chunks_per_tablet=2, max_chunks=2, staging_path=staging
    )
    assert n1 == 2
    import os

    assert os.path.exists(os.path.join(staging, "_staged"))
    n2 = run_snapshot(
        base, t, ck, n_tablets=2, chunks_per_tablet=2, staging_path=staging
    )
    assert n2 == 2 and ck.meta()["snapshot_done"]
    assert len(_state(t)) == 120


def test_snapshot_metrics_gauges(spark, tmp_path):
    """SnapshotMetrics mirrors the snapshot MXBean
    (``YugabyteDBSnapshotPartitionMetrics.java:29-124``): running →
    completed across a kill/resume, per-table rows scanned equals the
    base row count exactly once (no chunk double-count), chunk window
    exposed."""
    from debezium_connector_yugabytedb_1_spark.operators.metrics import (
        SnapshotMetrics,
    )

    base = _base(spark)
    t = LakeTable(spark, str(tmp_path / "lake_m"), n_buckets=4)
    t.init(COLS)
    ck = CheckpointStore(spark, str(tmp_path / "ckpt_m"))
    sm = SnapshotMetrics()
    run_snapshot(
        base, t, ck, n_tablets=4, chunks_per_tablet=2, max_chunks=3, metrics=sm
    )
    mid = sm.snapshot()
    assert mid["SnapshotRunning"] and not mid["SnapshotCompleted"]
    assert mid["RemainingTableCount"] == 1 and mid["TotalTableCount"] == 1
    assert mid["ChunkId"] is not None
    assert 0 < sum(mid["RowsScanned"].values()) < 240

    run_snapshot(base, t, ck, n_tablets=4, chunks_per_tablet=2, metrics=sm)
    done = sm.snapshot()
    assert done["SnapshotCompleted"] and not done["SnapshotRunning"]
    assert done["RemainingTableCount"] == 0
    assert sum(done["RowsScanned"].values()) == 240  # each chunk exactly once
    assert set(done) >= {
        "TotalTableCount", "RemainingTableCount", "SnapshotRunning",
        "SnapshotCompleted", "SnapshotAborted", "SnapshotDurationInSeconds",
        "CapturedTables", "RowsScanned", "ChunkId", "ChunkFrom", "ChunkTo",
    }
    # aborted path flips the right flags
    sm2 = SnapshotMetrics()
    sm2.snapshot_started(["t"], wallclock_ms=1000)
    sm2.snapshot_aborted(wallclock_ms=4000)
    aborted = sm2.snapshot()
    assert aborted["SnapshotAborted"] and not aborted["SnapshotCompleted"]
    assert aborted["SnapshotDurationInSeconds"] == 3
