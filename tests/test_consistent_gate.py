"""M1 integration — the consistent-mode release gate wired into the
streaming front-end.

Transport model (the reference's actual contract): per-TABLET order is
preserved, cross-tablet interleaving is arbitrary. The scenario below
delivers every OTHER tablet's full stream first and the DDL-carrying
tablet's stream last — without the gate, post-DDL events of the early
tablets fold under the old schema (the documented DDL-placement caveat);
with the gate, nothing is released until every consumed tablet has a known
safetime, so the merged prefixes are commit-order-complete and the result
converges to the offset-ordered batch pipeline exactly.
"""

import os

import pyspark.sql.functions as F

from debezium_connector_yugabytedb_1_spark.generator import generate_events, write_events
from debezium_connector_yugabytedb_1_spark.lake import LakeTable
from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
from debezium_connector_yugabytedb_1_spark.streaming.gate import ConsistentGate
from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline
from debezium_connector_yugabytedb_1_spark.streaming.stream import apply_batch

from .gating import gate_process, trigger_safetimes

N = 4000
N_TABLETS = 4
DDL = (N // 2,)


def _corpus(spark):
    return generate_events(
        spark, N, n_tablets=N_TABLETS, ddl_at=DDL, payload_format="shredded"
    ).localCheckpoint()


def _expected(spark, tmp, ev):
    """Offset-ordered batch replay — ground truth."""
    evp = os.path.join(tmp, "events")
    write_events(ev, evp, segment_size=1000)
    t = LakeTable(spark, os.path.join(tmp, "lake_ref"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    CdcPipeline(
        spark, evp, t, CheckpointStore(spark, os.path.join(tmp, "ck_ref")),
        events_per_batch=1500,
    ).run()
    return {tuple(r) for r in t.read().collect()}


def _triggers(spark, ev):
    """Per-tablet order kept; the DDL tablet's whole stream arrives LAST."""
    ddl_tab = ev.where(F.col("op") == "ddl").select("tablet_id").first()["tablet_id"]
    t1 = ev.where(F.col("tablet_id") != ddl_tab)
    t2 = ev.where(F.col("tablet_id") == ddl_tab)
    all_tablets = [r["tablet_id"] for r in ev.select("tablet_id").distinct().collect()]
    return [t1, t2], all_tablets


def _streamed(spark, tmp, triggers, tablets, use_gate):
    t = LakeTable(spark, os.path.join(tmp, "lake_s"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    ck = CheckpointStore(spark, os.path.join(tmp, "ck_s"))
    gate = ConsistentGate(spark, os.path.join(tmp, "gate"), tablets=tablets) if use_gate else None
    for i, trig in enumerate(triggers):
        apply_batch(trig, i, t, ck, gate=gate)
    if gate is not None:
        drained = gate.flush()
        if drained is not None:
            apply_batch(drained, "gate-flush", t, ck)
    return {tuple(r) for r in t.read().collect()}


def test_gated_stream_converges_to_batch_under_cross_tablet_disorder(
    spark, tmp_path
):
    ev = _corpus(spark)
    expected = _expected(spark, str(tmp_path), ev)
    triggers, tablets = _triggers(spark, ev)
    got = _streamed(spark, str(tmp_path / "gated"), triggers, tablets, use_gate=True)
    assert got == expected


def test_ungated_stream_diverges_on_ddl_placement(spark, tmp_path):
    """The scenario has teeth: without the gate the early tablets' post-DDL
    events decode under the pre-DDL schema and their stars values are lost."""
    ev = _corpus(spark)
    expected = _expected(spark, str(tmp_path), ev)
    triggers, tablets = _triggers(spark, ev)
    got = _streamed(spark, str(tmp_path / "raw"), triggers, tablets, use_gate=False)
    assert got != expected


def test_gate_holds_all_while_any_tablet_safetime_unknown(spark, tmp_path):
    ev = _corpus(spark)
    triggers, tablets = _triggers(spark, ev)
    gate = ConsistentGate(spark, str(tmp_path / "g"), tablets=tablets)
    released = gate_process(gate, triggers[0], 0)
    assert released.count() == 0  # the DDL tablet has not spoken yet
    assert gate.stream_safetime() is None
    released2 = gate_process(gate, triggers[1], 1)
    assert released2.count() > 0
    # released prefix is exactly the commit-time ball below the stream safetime
    st = gate.stream_safetime()
    assert st is not None
    assert released2.where(F.col("commit_time") > st).count() == 0


def test_gate_pending_survives_restart(spark, tmp_path):
    ev = _corpus(spark)
    triggers, tablets = _triggers(spark, ev)
    path = str(tmp_path / "g2")
    gate_process(ConsistentGate(spark, path, tablets=tablets), triggers[0], 0)
    # fresh object over the same store: state + pending carried
    g2 = ConsistentGate(spark, path, tablets=tablets)
    assert g2.flush().count() == triggers[0].where(
        ~F.col("op").isin("SAFEPOINT", "NOOP", "BEGIN", "COMMIT")
    ).count()


# ---------------------------------------------------------------------------
# round 4: append-only pending store, replay idempotence, sweep/compaction


def _dir_bytes(root):
    out = {}
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if os.path.isdir(p):
            out[name] = sum(
                os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
            )
    return out


def test_gate_append_only_bytes_while_closed(spark, tmp_path):
    """k closed-gate triggers write O(backlog) total: one NEW segment per
    trigger, earlier segments' bytes untouched (no rewrite amplification)."""
    ev = _corpus(spark)
    triggers, tablets = _triggers(spark, ev)
    chunks = [
        triggers[0].where((F.col("index") % 4) == i).localCheckpoint()
        for i in range(4)
    ]
    path = str(tmp_path / "g_append")
    gate = ConsistentGate(spark, path, tablets=tablets)
    seen_bytes = {}
    for i, chunk in enumerate(chunks):
        released = gate_process(gate, chunk, i)
        assert released.count() == 0  # DDL tablet silent -> closed
        sizes = _dir_bytes(path)
        segs = [n for n in sizes if n.startswith("seg_b")]
        assert len(segs) == i + 1  # exactly one new segment per trigger
        for name, nbytes in seen_bytes.items():
            assert sizes[name] == nbytes  # prior segments never rewritten
        seen_bytes = sizes
    held_total = sum(
        c.where(~F.col("op").isin("SAFEPOINT", "NOOP", "BEGIN", "COMMIT")).count()
        for c in chunks
    )
    assert gate.flush().count() == held_total  # no duplication across segments


def test_gate_replay_of_same_trigger_is_idempotent(spark, tmp_path):
    """Crash-after-state-save then foreachBatch replay: the replayed id
    restores the pre-trigger view and re-derives the SAME released rows;
    no AnalysisException, no duplicates, and the full double-applied
    stream still converges to the batch ground truth."""
    ev = _corpus(spark)
    expected = _expected(spark, str(tmp_path), ev)
    triggers, tablets = _triggers(spark, ev)

    # direct unit: process twice with the state save in between
    g = ConsistentGate(spark, str(tmp_path / "g_unit"), tablets=tablets)
    gate_process(g, triggers[0], 0)
    rel_a = sorted(str(r) for r in gate_process(g, triggers[1], 1).collect())
    rel_b = sorted(str(r) for r in gate_process(g, triggers[1], 1).collect())
    assert rel_b == rel_a and len(rel_a) > 0

    # end-to-end: every trigger applied twice (replay) through apply_batch
    t = LakeTable(spark, str(tmp_path / "lake_rp"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    ck = CheckpointStore(spark, str(tmp_path / "ck_rp"))
    gate = ConsistentGate(spark, str(tmp_path / "g_rp"), tablets=tablets)
    for i, trig in enumerate(triggers):
        apply_batch(trig, i, t, ck, gate=gate)
        apply_batch(trig, i, t, ck, gate=gate)  # replayed trigger
    drained = gate.flush()
    if drained is not None:
        apply_batch(drained, "gate-flush", t, ck)
    assert {tuple(r) for r in t.read().collect()} == expected


def test_gate_sweep_drops_released_segments_and_compacts(spark, tmp_path):
    """Release is a monotone commit-time threshold: fully-released segments
    are dropped whole, and once the estimated dead fraction crosses 50% the
    live remainder is compacted into one segment — with deferred physical
    deletion (files survive until the next NEW trigger id)."""
    path = str(tmp_path / "g_cpt")
    schema = "tablet_id string, op string, commit_time long, k string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    gate = ConsistentGate(spark, path, tablets=["a", "b"])
    for i, lo in enumerate((1, 11, 21)):  # three closed-gate segments
        batch = mk([("a", "c", ct, f"k{ct}") for ct in range(lo, lo + 10)])
        assert gate_process(gate, batch, i).count() == 0
    # safepoints open the gate at min(100, 17) = 17
    rel = gate_process(
        gate,
        mk([("a", "SAFEPOINT", 100, None), ("b", "SAFEPOINT", 17, None)]), 3
    )
    assert sorted(r["commit_time"] for r in rel.collect()) == list(range(1, 18))
    st = gate.state()
    from debezium_connector_yugabytedb_1_spark.operators.order import ht_key_py

    assert st["released_upto"] == ht_key_py(17)
    # seg_b0 (1-10) fully dead -> dropped; dead est 16.7/30 > 0.5 -> compacted
    assert [s["name"] for s in st["segments"]] == ["compact_b3"]
    assert {"seg_b0", "seg_b1", "seg_b2"} <= set(st["retired"])
    assert os.path.isdir(os.path.join(path, "seg_b1"))  # deletion deferred
    assert sorted(r["commit_time"] for r in gate.flush().collect()) == list(
        range(18, 31)
    )
    # a NEW trigger id proves the previous one committed -> physical cleanup
    gate_process(gate, mk([("a", "NOOP", 101, None)]), 4)
    left = {n for n in os.listdir(path) if n.startswith(("seg_", "compact_"))}
    assert left == {"compact_b3"}
    assert sorted(r["commit_time"] for r in gate.flush().collect()) == list(
        range(18, 31)
    )


def test_gate_late_row_below_watermark_released_not_lost(spark, tmp_path):
    """Seen-tablets mode (tablets=None): after the gate has released up to
    watermark W, a newly-discovered tablet delivering rows at commit_time
    <= W (while closing the gate) must have them RELEASED immediately —
    the reference Merger's peek releases any record already below the
    safetime — never held into the segment store where the scalar
    released_upto liveness filter would silently drop them."""
    schema = "tablet_id string, op string, commit_time long, k string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    gate = ConsistentGate(spark, str(tmp_path / "g_late"))  # tablets unknown
    rel1 = gate_process(
        gate,
        mk([("a", "c", 50, "k50"), ("a", "SAFEPOINT", 100, None)]), 0
    )
    assert [r["commit_time"] for r in rel1.collect()] == [50]
    # tablet b appears with rows at 80 and 120; its safetime is unknown, so
    # the gate is fully closed — but 80 is already below the watermark 100
    rel2 = gate_process(gate, mk([("b", "c", 80, "k80"), ("b", "c", 120, "k120")]), 1)
    assert sorted(r["commit_time"] for r in rel2.collect()) == [80]
    # 120 is genuinely pending; nothing was lost
    assert sorted(r["commit_time"] for r in gate.flush().collect()) == [120]
    # when b's safetime arrives the pending row releases normally
    rel3 = gate_process(
        gate,
        mk([("a", "SAFEPOINT", 130, None), ("b", "SAFEPOINT", 125, None)]), 2
    )
    assert [r["commit_time"] for r in rel3.collect()] == [120]
    assert gate.flush() is None


def test_gate_release_read_prunes_segments_by_extent(spark, tmp_path):
    """The released-side backlog read must be PRUNED by the per-segment
    commit-time extents held in driver state: a closed-gate trigger over a
    deep backlog opens ZERO segment files, and a partially-open gate opens
    only segments whose min_ct can contribute — never the whole backlog."""
    schema = "tablet_id string, op string, commit_time long, k string"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    gate = ConsistentGate(spark, str(tmp_path / "g_prune"), tablets=["a", "b"])
    # three disjoint-extent segments accumulate while the gate is closed
    for i, lo in enumerate((1, 101, 201)):
        batch = mk([("a", "c", ct, f"k{ct}") for ct in range(lo, lo + 10)])
        assert gate_process(gate, batch, i).count() == 0
    # closed gate + deep backlog: the release path reads NO segment files
    assert gate_process(gate, mk([("a", "c", 301, "k301")]), 3).count() == 0
    # (the current trigger's own segment is written after the read: live=3)
    assert gate.last_release_scan == {"segments_read": 0, "segments_live": 3}
    # gate opens at 5: only the (1..10) segment is extent-eligible
    rel = gate_process(
        gate,
        mk([("a", "SAFEPOINT", 500, None), ("b", "SAFEPOINT", 5, None)]), 4
    )
    assert sorted(r["commit_time"] for r in rel.collect()) == [1, 2, 3, 4, 5]
    assert gate.last_release_scan["segments_live"] == 4
    assert gate.last_release_scan["segments_read"] == 1
    # nothing lost to the pruning: the rest is still pending, in order
    assert sorted(r["commit_time"] for r in gate.flush().collect()) == (
        list(range(6, 11)) + list(range(101, 111)) + list(range(201, 211))
        + [301]
    )


def test_gate_process_runs_one_spark_job(spark, tmp_path):
    """The gate runs no pass of its own: its safetimes come from the
    trigger's stats pass and a segment's stats from an Observation on its
    write. With no carried segment and no compaction, ``process`` runs
    exactly one Spark job (the held-rows write), whether the gate stays
    closed or opens."""
    schema = "tablet_id string, op string, commit_time long, k string"

    def jobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    ev = _corpus(spark)
    triggers, tablets = _triggers(spark, ev)
    opening = spark.createDataFrame(
        [
            ("a", "c", 50, "k50"),
            ("b", "c", 150, "k150"),
            ("a", "SAFEPOINT", 100, None),
            ("b", "SAFEPOINT", 120, None),
        ],
        schema,
    )
    cases = [
        (ConsistentGate(spark, str(tmp_path / "g_closed"), tablets=tablets), triggers[0]),
        (ConsistentGate(spark, str(tmp_path / "g_open"), tablets=["a", "b"]), opening),
    ]
    for gate, batch in cases:
        safetimes = trigger_safetimes(batch)
        j0 = jobs()
        released = gate.process(batch, 0, safetimes)
        assert jobs() - j0 == 1
        assert len(gate.state()["segments"]) == 1  # the held rows, observed
    assert [r["commit_time"] for r in released.collect()] == [50]
    assert gate.state()["segments"][0]["rows"] == 1
