"""merge_events (fused fold+MERGE), the lake's one MERGE path, checked
against the pure-Python replay oracle (``tests/oracle.py``): final table
state, per-window stats, the sha256 invariant, packed-offset round trips,
and redelivery/stale absorption."""

import hashlib
import re

import pyspark.sql.functions as F
import pytest

from debezium_connector_yugabytedb_1_spark import lake
from debezium_connector_yugabytedb_1_spark.generator import generate_events
from debezium_connector_yugabytedb_1_spark.lake import LakeTable, bucket_expr
from debezium_connector_yugabytedb_1_spark.operators.decode import decode_envelope
from debezium_connector_yugabytedb_1_spark.operators.emit import DML_OPS, split_pk_updates

from .oracle import engine_state, key_offsets, replay, window_counts

COLS = [("commit", "string"), ("lang", "string"), ("content", "string")]


def _dml(ev):
    return split_pk_updates(
        decode_envelope(ev.where(F.col("op").isin(*DML_OPS, "pku")))
    )


def _snap(table):
    rows = table.read(with_meta=True).collect()
    return sorted(
        (
            r["repo"], r["path"], r["commit"], r["lang"], r["content"],
            r["_last_term"], r["_last_index"], r["_last_write_id"],
            r["content_sha256"],
        )
        for r in rows
    )


def test_merge_events_matches_oracle_per_window(spark, tmp_path):
    """Three windows, then a full redelivery of the second under a new batch
    id (stale offsets: the guard must absorb every row). Each window's
    upserted/deleted/carried stats and the final state, sha256 included,
    equal the pure-Python replay oracle."""
    ev = generate_events(spark, 6000)
    rows = [r.asDict() for r in ev.collect()]
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    t.init(COLS)
    windows = [(0, 2000), (2000, 4000), (4000, 6000), (2000, 4000)]
    merged: list[dict] = []
    for i, (lo, hi) in enumerate(windows):
        w_rows = [r for r in rows if lo <= r["index"] < hi]
        dml = _dml(ev.where((F.col("index") >= lo) & (F.col("index") < hi)))
        touched = [
            r["b"] for r in dml.select(bucket_expr(8).alias("b")).distinct().collect()
        ]
        stored = t.read(buckets=touched, with_deleted=True).count()
        want = window_counts(merged, w_rows)
        st = t.merge_events(dml, f"b{i}")
        assert (st.upserted, st.deleted) == (
            want["upserted"], want["deleted"],
        ), f"stats diverge in window {i}"
        assert st.carried == stored - want["overwritten"], f"carried diverges in window {i}"
        merged += w_rows
    assert st.upserted == st.deleted == 0  # the stale redelivery is absorbed
    assert st.carried == stored
    final, _ = replay(rows)
    assert engine_state(t) == final


def test_merge_events_sha_reuse_and_invariant(spark, tmp_path):
    """The sha256 column must equal sha256(content) even when the fused path
    reuses the stored digest for carried/unchanged rows."""
    ev = generate_events(spark, 3000)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    t.init(COLS)
    t.merge_events(_dml(ev.where(F.col("index") < 1500)), "b0")
    t.merge_events(
        _dml(ev.where((F.col("index") >= 1500) & (F.col("index") < 3000))), "b1"
    )
    for r in t.read(with_meta=True).select("content", "content_sha256").collect():
        if r["content"] is None:
            assert r["content_sha256"] is None
        else:
            assert (
                hashlib.sha256(r["content"].encode()).hexdigest()
                == r["content_sha256"]
            )


def test_merge_events_batch_id_idempotent(spark, tmp_path):
    ev = generate_events(spark, 1000)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(COLS)
    t.merge_events(_dml(ev), "b0")
    before = _snap(t)
    s = t.merge_events(_dml(ev), "b0")
    assert s.skipped
    assert _snap(t) == before


def test_merge_events_single_aggregation_plan(spark, tmp_path, monkeypatch):
    """The DataFrame merge_events writes, on a lake that already holds data
    (so the target read is in the plan), has ONE exchange — the
    (bucket, _salt) repartition, four units per core — and ONE aggregation
    above it: the fold is the merge, with no aggregate below the exchange
    and no join."""
    ev = generate_events(spark, 600)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(COLS)
    t.merge_events(_dml(ev.where(F.col("index") < 300)), "b0")
    written = []
    write = lake._write_version
    monkeypatch.setattr(
        lake, "_write_version", lambda df, out: (written.append(df), write(df, out))
    )
    t.merge_events(_dml(ev.where(F.col("index") >= 300)), "b1")
    assert len(written) == 1
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    fanout = re.search(
        r"Exchange hashpartitioning\(bucket#\d+L?, _salt#\d+L?, (\d+)\)", lines[exchanges[0]]
    )
    assert fanout, plan
    cores = spark.sparkContext.defaultParallelism
    assert int(fanout.group(1)) == t.n_buckets * max(1, -(-4 * cores // t.n_buckets)), plan
    aggs = [i for i, ln in enumerate(lines) if "Aggregate(" in ln]
    assert len(aggs) == 2 and all(i < exchanges[0] for i in aggs), plan
    assert "partial_max(" in lines[aggs[1]] and "partial_" not in lines[aggs[0]], plan
    assert "FileScan parquet" in plan  # the target buckets are read
    assert "SortMergeJoin" not in plan and "BroadcastExchange" not in plan


def test_out_of_order_delete_no_resurrection(spark, tmp_path):
    """A delete arriving BEFORE the (lower-offset) create it kills — e.g.
    the streaming file source across triggers — must not let the create
    resurrect the row: tombstones persist the delete's offset."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(COLS)
    dele = spark.createDataFrame(
        [(0, 20, 0, "d", "r", "p", None)],
        "term long, index long, write_id long, op string, repo string, path string, payload string",
    )
    crea = spark.createDataFrame(
        [(0, 10, 0, "c", "r", "p", '{"after":{"commit":"c1","content":"x"},"changed":["commit","content"]}')],
        "term long, index long, write_id long, op string, repo string, path string, payload string",
    )
    t.merge_events(_dml(dele), "b-del")   # delete arrives first
    t.merge_events(_dml(crea), "b-crea")  # stale create arrives later
    assert t.read().isEmpty(), "stale create must not resurrect a deleted row"
    # with-deleted view holds the tombstone at the delete's offset
    tomb = t.read(with_meta=True, with_deleted=True).collect()
    assert len(tomb) == 1 and tomb[0]["_deleted"] and tomb[0]["_last_index"] == 20
    # a genuinely newer create DOES resurrect
    crea2 = spark.createDataFrame(
        [(0, 30, 0, "c", "r", "p", '{"after":{"commit":"c2","content":"y"},"changed":["commit","content"]}')],
        "term long, index long, write_id long, op string, repo string, path string, payload string",
    )
    st = t.merge_events(_dml(crea2), "b-crea2")
    assert st.upserted == 1
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["commit"] == "c2"
    # vacuum: tombstone gone after its offset is safe (none left here since
    # the key is live again) — seed another deleted key and reclaim it
    dele2 = spark.createDataFrame(
        [(0, 40, 0, "d", "r2", "p2", None)],
        "term long, index long, write_id long, op string, repo string, path string, payload string",
    )
    t.merge_events(_dml(dele2), "b-del2")
    assert t.vacuum_tombstones(before_index=50) == 1
    assert t.read(with_meta=True, with_deleted=True).where("_deleted").isEmpty()
    assert t.read().count() == 1  # live row survived the rewrite


def test_streaming_multi_trigger_converges_with_batch(spark, tmp_path):
    """The Structured Streaming front-end (file source, multiple triggers,
    NO offset order across triggers) must converge to the batch pipeline's
    visible state: same keys, same row images (DDL corpus: base columns —
    see stream.py's ordering contract for the per-column caveat)."""
    import os

    from debezium_connector_yugabytedb_1_spark.generator import write_events
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline
    from debezium_connector_yugabytedb_1_spark.streaming.stream import run_streaming

    ev = os.path.join(str(tmp_path), "events")
    write_events(generate_events(spark, 4000, ddl_at=(2000,)), ev)
    ta = LakeTable(spark, str(tmp_path / "la"), n_buckets=8)
    ta.init(COLS)
    ca = CheckpointStore(spark, str(tmp_path / "ca"))
    CdcPipeline(spark, ev, ta, ca, events_per_batch=900).run()
    tb = LakeTable(spark, str(tmp_path / "lb"), n_buckets=8)
    tb.init(COLS)
    cb = CheckpointStore(spark, str(tmp_path / "cb"))
    run_streaming(spark, ev, tb, cb, str(tmp_path / "sb"))
    a = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in ta.read().collect()
    )
    b = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in tb.read().collect()
    )
    assert a == b and len(a) > 0
    assert tb.read().columns == ta.read().columns  # DDL applied in both
    # both front ends ack the log's per-tablet max offset
    log_max = sorted(
        (r["tablet_id"], *r["o"], "streaming")
        for r in spark.read.parquet(ev)
        .groupBy("tablet_id")
        .agg(F.max(F.struct("term", "index", "write_id")).alias("o"))
        .collect()
    )
    assert cb.load_rows() == ca.load_rows() == log_max


def test_merge_events_packed_offsets_match_oracle_at_field_limits(spark, tmp_path):
    """The fused path packs (term, index, write_id) into one long
    (14/38/11-bit fields, +2 bias). Push every field to its extremes —
    term near 2^14, index near the 38-bit ceiling, write_id (incl. the
    pku-split doubling) near the 11-bit ceiling — and demand the oracle's
    final state, plus every stored offset (tombstones included) equal to
    the key's max event offset computed unpacked in Python (any bit-budget
    error silently reorders offsets or corrupts the round trip)."""
    ev = generate_events(spark, 4000)
    hi_index = (1 << 38) - 5000  # index + 2 must stay < 2^38
    remapped = (
        ev.withColumn("term", F.when(F.col("term") >= 0, F.col("term") + 16370)
                      .otherwise(F.col("term")))
        .withColumn("index", F.col("index") + F.lit(hi_index))
        .withColumn("write_id", F.col("write_id") + 960)  # split doubles: up to ~2040
    )
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init(COLS)
    windows = [(0, 2000), (2000, 4000), (0, 2000)]  # incl. stale redelivery
    for i, (lo, hi) in enumerate(windows):
        w = remapped.where(
            (F.col("index") >= lo + hi_index) & (F.col("index") < hi + hi_index)
        )
        t.merge_events(_dml(w), f"b{i}")
    rows = [r.asDict() for r in remapped.collect()]
    final, _ = replay(rows)
    assert engine_state(t) == final
    stored = {
        (r["repo"], r["path"]): (r["_last_term"], r["_last_index"], r["_last_write_id"])
        for r in t.read(with_meta=True, with_deleted=True).collect()
    }
    assert stored == key_offsets(rows)
    # the boundary offsets round-trip exactly through pack/unpack
    assert {o[0] for o in stored.values()} <= {16370 + k for k in range(3)} | {-1}
    assert all(o[1] >= hi_index for o in stored.values())
    assert all(960 <= o[2] <= 2044 for o in stored.values())


def test_merge_events_rejects_out_of_budget_offsets(spark, tmp_path):
    """An offset outside the packed 14/38/11-bit field budget must fail
    loudly — silent carry into the neighboring field would reorder offsets."""
    ev = generate_events(spark, 200).withColumn(
        "write_id", F.col("write_id") + 4000  # > 2^11-2
    )
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=2)
    t.init(COLS)
    with pytest.raises(Exception, match="packed 14/38/11-bit budget"):
        t.merge_events(_dml(ev), "b0")
