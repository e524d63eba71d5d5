"""Long-horizon soak: driver-side state and on-disk file counts must stay
BOUNDED in trigger count over hundreds of micro-batches — the sandbox-sized
stand-in for the 10^10-event sustained run, where "grows O(#triggers)" is
the difference between a pipeline and an outage.

Three unbounded-growth vectors called out by the round-4 review, each with
its retention mechanism under test:

- gate segment list under a pathological COLD tablet (gate never opens):
  ``ConsistentGate.MAX_LIVE_SEGMENTS`` squash
- checkpoint version history: ``CheckpointStore(keep_history=...)`` trim
- lake manifest versions + dead data dirs: ``expire_versions`` wired into
  the per-window commit (``CdcPipeline(expire_keep=...)``/``apply_batch``)
"""

import json
import os

import pyspark.sql.functions as F

from debezium_connector_yugabytedb_1_spark.generator import generate_events
from debezium_connector_yugabytedb_1_spark.lake import LakeTable
from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
from debezium_connector_yugabytedb_1_spark.operators.decode import decode_envelope
from debezium_connector_yugabytedb_1_spark.operators.emit import DML_OPS, split_pk_updates
from debezium_connector_yugabytedb_1_spark.streaming.gate import (
    NON_DISPATCHED_OPS,
    ConsistentGate,
)

from .gating import gate_process

N_TRIGGERS = 60


def test_gate_segments_bounded_under_cold_tablet(spark, tmp_path):
    """One tablet never reports a safetime → the gate stays CLOSED for the
    whole run and every trigger appends held rows. Segment count, state.json
    size, and the replay snapshot must stay O(MAX_LIVE_SEGMENTS), not
    O(#triggers) — and after the cold tablet finally reports, every held
    row must come out exactly once."""
    ev = generate_events(spark, 1800, n_tablets=2).localCheckpoint()
    tablets = [r[0] for r in ev.select("tablet_id").distinct().collect()]
    cold = tablets[1]
    # strip the cold tablet's safepoints: its safetime stays unknown
    ev = ev.where(
        ~((F.col("tablet_id") == cold) & (F.col("op") == "SAFEPOINT"))
    ).localCheckpoint()
    total_dispatched = ev.where(~F.col("op").isin(*NON_DISPATCHED_OPS)).count()

    gate = ConsistentGate(spark, str(tmp_path / "gate"), tablets=tablets)
    gate.MAX_LIVE_SEGMENTS = 6  # tight cap so the soak exercises the squash
    per = 1800 // N_TRIGGERS
    max_segments = max_state_bytes = 0
    released = 0
    for i in range(N_TRIGGERS):
        w = ev.where(
            (F.col("index") >= i * per) & (F.col("index") < (i + 1) * per)
        )
        released += gate_process(gate, w, i).count()
        st = gate.state()
        max_segments = max(max_segments, len(st["segments"]))
        max_state_bytes = max(
            max_state_bytes, os.path.getsize(gate._state_path())
        )
    assert released == 0, "gate must stay closed while a tablet is unknown"
    assert max_segments <= gate.MAX_LIVE_SEGMENTS + 1, max_segments
    assert max_state_bytes < 64 << 10, max_state_bytes
    # on-disk segment files must also be bounded (retired dirs are deleted
    # on the next NEW trigger, so at most one trigger's retirees linger)
    seg_dirs = [
        d for d in os.listdir(str(tmp_path / "gate"))
        if d.startswith(("seg_b", "compact_b"))
    ]
    assert len(seg_dirs) <= 2 * (gate.MAX_LIVE_SEGMENTS + 1), seg_dirs
    # the cold tablet reports: everything releases, nothing lost or doubled
    thaw = ev.where(
        (F.col("tablet_id") == cold) & (F.col("op") == "SAFEPOINT")
    )
    assert thaw.isEmpty()  # (we stripped them all — craft one manually)
    safepoint = (
        ev.where(F.col("op") != "SAFEPOINT")
        .orderBy(F.col("index").desc())
        .limit(1)
        .withColumn("tablet_id", F.lit(cold))
        .withColumn("op", F.lit("SAFEPOINT"))
        .withColumn("commit_time", F.lit(2**62))
    )
    out = gate_process(gate, safepoint, N_TRIGGERS).count()
    drained = gate.flush()
    leftover = 0 if drained is None else drained.count()
    assert out + leftover == total_dispatched


def test_checkpoint_history_bounded_and_resumable(spark, tmp_path):
    """300 commits: on-disk entries stay O(keep_history); a cold restart
    still loads the exact final offsets."""
    ck = CheckpointStore(spark, str(tmp_path / "ck"), keep_history=10)
    for i in range(300):
        ck.commit([("t1", 1, i, 0, "streaming")], meta={"next_lo": i})
    entries = os.listdir(str(tmp_path / "ck"))
    assert len(entries) <= 2 * 10 + 2, sorted(entries)[:30]
    fresh = CheckpointStore(spark, str(tmp_path / "ck"))
    assert fresh.load_rows() == [("t1", 1, 299, 0, "streaming")]
    assert fresh.meta()["next_lo"] == 299


def test_lake_versions_bounded_over_many_batches(spark, tmp_path):
    """Many merge windows with per-window expire (the pipeline default):
    manifest version files AND data dirs stay bounded while the final
    table state matches a single-shot replay of the same events."""
    ev = generate_events(spark, 3000).localCheckpoint()

    def dml(w):
        return split_pk_updates(
            decode_envelope(w.where(F.col("op").isin(*DML_OPS, "pku")))
        )

    cols = [("commit", "string"), ("lang", "string"), ("content", "string")]
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=2)
    t.init(cols)
    per = 3000 // 30
    for i in range(30):
        w = ev.where((F.col("index") >= i * per) & (F.col("index") < (i + 1) * per))
        t.merge_events(dml(w), f"b{i}")
        t.expire_versions(keep_last=5)
    vfiles = os.listdir(os.path.join(str(tmp_path / "lake"), "_versions"))
    assert len(vfiles) <= 5 + 1, vfiles  # +1 for the CURRENT pointer
    data_dirs = os.listdir(os.path.join(str(tmp_path / "lake"), "data"))
    assert len(data_dirs) <= 5 + 2, data_dirs
    # applied-batch ledger is capped (lake.py) — replay protection memory
    assert len(t.manifest()["applied_batches"]) <= 1000
    ref = LakeTable(spark, str(tmp_path / "ref"), n_buckets=2)
    ref.init(cols)
    ref.merge_events(dml(ev), "all")
    assert sorted(map(tuple, t.read().collect())) == sorted(
        map(tuple, ref.read().collect())
    )


def test_pipeline_vacuum_reclaims_tombstones_during_run(spark, tmp_path):
    """Opt-in maintenance hook: with ``vacuum_every=N`` the pipeline
    reclaims tombstones whose delete offset is below the committed
    checkpoint's min index across tablets, DURING the run — and the
    visible table state is identical to a run without vacuuming."""
    from debezium_connector_yugabytedb_1_spark.generator import write_events
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline

    ev_path = str(tmp_path / "events")
    write_events(generate_events(spark, 4000), ev_path)
    cols = [("commit", "string"), ("lang", "string"), ("content", "string")]

    def run(name, **kw):
        t = LakeTable(spark, str(tmp_path / name), n_buckets=4)
        t.init(cols)
        ck = CheckpointStore(spark, str(tmp_path / f"ck_{name}"))
        # 4000/1000 = 4 windows: with vacuum_every=2 the LAST commit also
        # vacuums, so the no-tombstone-below-committed-min assert below
        # holds at end-of-run (between vacuums the bound lags by design)
        p = CdcPipeline(spark, ev_path, t, ck, events_per_batch=1000, **kw)
        p.run()
        return t, ck, p

    t_v, ck_v, p_v = run("vac", vacuum_every=2)
    t_p, _, _ = run("plain")
    assert p_v.vacuumed > 0, "corpus has deletes; some tombstone must reclaim"
    # no tombstone below the committed min offset survives
    committed = ck_v.load_rows()
    safe = min(int(r[2]) for r in committed)
    dead = t_v.read(with_meta=True, with_deleted=True).where(
        F.coalesce(F.col("_deleted"), F.lit(False))
        & (F.col("_last_index") < F.lit(safe))
    )
    assert dead.isEmpty()
    # visible semantics unchanged by maintenance
    assert sorted(map(tuple, t_v.read().collect())) == sorted(
        map(tuple, t_p.read().collect())
    )
