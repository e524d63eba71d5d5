"""Coverage for the remaining SURVEY §2 operators: snapshot phase, skew,
SMT transforms, truncate, tablet split, txn metadata, multimodal plumbing,
Structured Streaming front-end, plus a property test of the fold vs a
sequential oracle."""

import pytest
from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark.generator import (
    generate_events,
    tablets_table,
    write_events,
)
from debezium_connector_yugabytedb_1_spark.lake import LakeTable
from debezium_connector_yugabytedb_1_spark.operators import (
    filters,
    metrics,
    multimodal,
    skew,
    split,
    transforms,
)
from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
from debezium_connector_yugabytedb_1_spark.operators.decode import decode_envelope
from debezium_connector_yugabytedb_1_spark.operators.emit import (
    apply_truncate,
    split_pk_updates,
)
from debezium_connector_yugabytedb_1_spark.operators.order import fold_changes
from debezium_connector_yugabytedb_1_spark.operators.snapshot import run_snapshot

from .oracle import engine_state, replay

INIT_COLS = [("commit", "string"), ("lang", "string"), ("content", "string")]


# ---------------------------------------------------------------- S2 skew
def test_skew_salted_count_equals_plain(spark, corpus_path):
    ev = spark.read.parquet(corpus_path)
    salted = {
        (r["op"], r["n_events"])
        for r in skew.salted_count(ev, "op", salt=8, salt_cols=("eid",)).collect()
    }
    plain = {(r["op"], r["count"]) for r in ev.groupBy("op").count().collect()}
    assert salted == plain


def test_skew_detect_hot_keys(spark):
    df = generate_events(spark, 2000, n_repos=10, hot_repo_pct=50)
    hot = skew.detect_hot_keys(df, "repo", hot_fraction=0.3).collect()
    assert [r["repo"] for r in hot] == ["org/repo-0"]


def test_skew_grouping_lpt():
    groups = skew.group_tablets_smartly(
        [("t1", 100), ("t2", 60), ("t3", 50), ("t4", 10)], 2
    )
    # LPT greedy: 100 | 60+50+10 → balanced loads [110, 110]
    loads = sorted(sum({"t1": 100, "t2": 60, "t3": 50, "t4": 10}[t] for t in g) for g in groups)
    assert loads == [110, 110]
    assert skew.group_tablets_smartly([("a", 1)], 4) == [["a"]]


# ---------------------------------------------------------------- S3 snapshot
def test_snapshot_phase_then_streaming(spark, tmp_path):
    base = spark.createDataFrame(
        [("r1", "a.py", "c0", "python", "body0"), ("r2", "b.rs", "c1", "rust", "body1")],
        "repo string, path string, commit string, lang string, content string",
    )
    table = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(INIT_COLS)
    ckpt = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_snapshot(base, table, ckpt)
    st = engine_state(table)
    assert st[("r1", "a.py")]["commit"] == "c0" and len(st) == 2
    assert ckpt.meta()["snapshot_done"]
    # idempotent: second call is a no-op
    v1 = table.manifest()["version"]
    run_snapshot(base, table, ckpt)
    assert table.manifest()["version"] == v1  # unchanged after completion

    # a streaming update with offset > snapshot offset wins
    ev = spark.createDataFrame(
        [(0, 1, 0, "u", "r1", "a.py", '{"after":{"commit":"c9"},"changed":["commit"]}')],
        "term long, index long, write_id long, op string, repo string, path string, payload string",
    )
    st = table.merge_events(decode_envelope(ev, columns=table.columns), "s1")
    assert (st.upserted, st.deleted) == (1, 0)
    assert engine_state(table)[("r1", "a.py")]["commit"] == "c9"
    assert engine_state(table)[("r1", "a.py")]["content"] == "body0"  # partial update


# ---------------------------------------------------------------- filters
def test_column_exclude(spark, corpus_path):
    ev = decode_envelope(spark.read.parquet(corpus_path).where(F.col("op") == "c").limit(20))
    out = filters.column_exclude(ev, ("lang",))
    r = out.collect()[0]
    assert "lang" not in r["after"].asDict()
    assert "lang" not in (r["changed"] or [])


def test_message_prefix_filter(spark):
    df = spark.createDataFrame(
        [("m", "wal2json"), ("m", "audit"), ("c", None)],
        "op string, msg_prefix string",
    )
    kept = filters.message_prefix_filter(df, include="audit").collect()
    assert {(r["op"], r["msg_prefix"]) for r in kept} == {("m", "audit"), ("c", None)}


# ---------------------------------------------------------------- P4/P6
def test_pk_update_split_offsets(spark, corpus_path):
    dec = decode_envelope(spark.read.parquet(corpus_path))
    pku = dec.where(F.col("op") == "pku").limit(1).collect()[0]
    out = split_pk_updates(dec.where(F.col("index") == pku["index"]))
    rows = sorted(out.collect(), key=lambda r: r["write_id"])
    assert [r["op"] for r in rows] == ["d", "c"]
    assert rows[0]["path"] == pku["before_key"]["path"]  # delete targets old key
    assert rows[1]["path"] == pku["path"]
    assert rows[0]["write_id"] < rows[1]["write_id"]  # delete sorts first


def test_truncate_barrier(spark):
    df = spark.createDataFrame(
        [
            (0, 1, 0, "c", "t1"),
            (0, 2, 0, "TRUNCATE", "t1"),
            (0, 3, 0, "c", "t1"),
            (0, 1, 0, "c", "t2"),
        ],
        "term long, index long, write_id long, op string, table string",
    )
    out = apply_truncate(df)
    got = {(r["table"], r["index"]) for r in out.collect()}
    assert got == {("t1", 3), ("t2", 1)}  # pre-truncate t1 rows die; t2 untouched


# ---------------------------------------------------------------- SMTs
def test_transforms(spark, corpus_path):
    dec = decode_envelope(spark.read.parquet(corpus_path).where(F.col("op").isin("c", "u", "d")))
    pg = transforms.pg_compatible(dec).limit(1).collect()[0]
    assert set(pg.asDict()) == {"repo", "path", "op", "after", "ts_ms"}
    st = transforms.striim_compatible(dec.where(F.col("op") == "c")).limit(1).collect()[0]
    assert st["metadata"]["OperationName"] == "INSERT"
    assert len(st["data"]) == 4 and st["metadata"]["LSN"].count(":") == 2
    et = transforms.extract_topic(
        spark.read.parquet(corpus_path).limit(3), "tablet_id"
    ).collect()
    assert all(r["topic"] == r["tablet_id"] for r in et)


# ---------------------------------------------------------------- D2 split
def test_tablet_split(spark):
    tablets = tablets_table(spark, 4, key_space=65536)
    ckpt = spark.createDataFrame(
        [("tablet-1", 0, 42, 1, "streaming")],
        "tablet_id string, term long, index long, write_id long, phase string",
    )
    new_t, new_c = split.split_tablet(
        tablets, ckpt, "tablet-1", ("tablet-1a", 16384, 24576), ("tablet-1b", 24576, 32768)
    )
    from debezium_connector_yugabytedb_1_spark.generator import validate_complete_ranges

    assert validate_complete_ranges(new_t)
    offs = {r["tablet_id"]: r["index"] for r in new_c.collect()}
    assert offs == {"tablet-1a": 42, "tablet-1b": 42}  # children inherit parent offset
    with pytest.raises(ValueError):
        split.split_tablet(
            tablets, ckpt, "tablet-0", ("x", 0, 100), ("y", 100, 200)
        )  # does not tile


# ---------------------------------------------------------------- A1/H1/T1
def test_wal_backlog_warning():
    assert metrics.warn_wal_backlog(20_000, 0)
    assert not metrics.warn_wal_backlog(20_000, 5)
    assert not metrics.warn_wal_backlog(10, 0)


def test_txn_metadata(spark, corpus_path):
    ev = spark.read.parquet(corpus_path)
    tm = metrics.txn_metadata(ev)
    r = tm.where(F.col("event_count") > 1).limit(1).collect()[0]
    assert r["begin_time"] <= r["end_time"]


# ---------------------------------------------------------------- multimodal
def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(i, f"text body number {i} " * 10) for i in range(9)], "doc_id long, text string"
    )
    media = multimodal.attach_fake_media(docs)
    feats = multimodal.extract_features(media, n_features=4).collect()
    assert all(len(r["features"]) == 4 and r["n_bytes"] > 0 for r in feats)
    resized = multimodal.resize_images(media).collect()
    assert all(r["width"] == 64 and len(bytes(r["payload"])) == 64 * 64 for r in resized)
    frames = multimodal.sample_frames(media, every_ms=500)
    n_videos = media.where("media_type = 'video'").count()
    assert frames.select("doc_id").distinct().count() == n_videos
    assert frames.count() >= n_videos * 2  # >=1s durations → >=2 samples at 500ms


# ---------------------------------------------------------------- streaming
def test_structured_streaming_matches_oracle(spark, tmp_path):
    from debezium_connector_yugabytedb_1_spark.streaming.stream import run_streaming

    ev_path = str(tmp_path / "events")
    df = generate_events(spark, 1500, n_repos=6, paths_per_repo=5, n_tablets=4, ddl_at=(700,))
    write_events(df, ev_path)
    rows = [r.asDict() for r in spark.read.parquet(ev_path).collect()]

    table = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    table.init(INIT_COLS)
    ckpt = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_streaming(spark, ev_path, table, ckpt, str(tmp_path / "sckpt"))

    expected, cols = replay(rows)
    assert [n for n, _ in table.columns] == cols
    got = engine_state(table)
    assert got == expected


# ---------------------------------------------------------------- property
def test_fold_property_random_event_sets(spark):
    """Randomized (seeded) event sequences: aggregation fold == sequential
    per-key replay, including delete barriers and partial updates."""
    import json
    import random

    rng = random.Random(1234)
    cols = ("commit", "lang", "content")
    for trial in range(8):
        rows = []
        for i in range(rng.randint(5, 60)):
            key = (f"r{rng.randint(0, 2)}", f"p{rng.randint(0, 2)}")
            op = rng.choice(["c", "u", "u", "d", "t"])
            if op in ("c", "u"):
                changed = (
                    list(cols)
                    if op == "c"
                    else rng.sample(cols, rng.randint(1, 3))
                )
                payload = json.dumps(
                    {
                        "after": {c: f"v{i}-{c}" for c in changed},
                        "changed": changed,
                    }
                )
            else:
                payload = None
            rows.append((0, i, 0, op, key[0], key[1], payload))
        df = spark.createDataFrame(
            rows,
            "term long, index long, write_id long, op string, repo string, path string, payload string",
        )
        folded = fold_changes(decode_envelope(df), columns=cols)
        got = {
            (r["repo"], r["path"]): {c: r[f"{c}_val"] for c in cols}
            for r in folded.collect()
            if r["exists"]
        }
        expected, _ = replay(
            [
                dict(
                    term=t, index=i, write_id=w, op=o, repo=r_, path=p, payload=pl
                )
                for (t, i, w, o, r_, p, pl) in rows
            ],
            initial_columns=cols,
        )
        exp = {
            k: {c: v[c] for c in cols} for k, v in expected.items()
        }
        assert got == exp, f"trial {trial} mismatch"


# ---------------------------------------------------------------- D3 poller
def test_dynamic_table_addition(spark):
    from debezium_connector_yugabytedb_1_spark.operators import tablepoll

    df = spark.createDataFrame(
        [("public.repo_files",), ("public.new_table",)], "table string"
    )
    observed = tablepoll.observe_tables(df)
    diff = tablepoll.diff_table_sets({"public.repo_files"}, observed)
    assert diff.needs_reconfiguration and diff.added == ("public.new_table",)
    inc = tablepoll.reconfigure_include("^public\\.repo_files$", diff.added)
    assert "new_table" in inc
    assert not tablepoll.diff_table_sets(observed, observed).needs_reconfiguration


# ---------------------------------------------------------------- X1 before
def test_before_image_reconstruction(spark):
    from debezium_connector_yugabytedb_1_spark.operators.before_image import (
        BeforeImageMode,
        reconstruct_before_images,
    )

    rows = [
        (0, 1, 0, "c", "r", "p", '{"after":{"commit":"a","lang":"L","content":"c1"},"changed":["commit","lang","content"]}'),
        (0, 2, 0, "u", "r", "p", '{"after":{"commit":"b"},"changed":["commit"]}'),
        (0, 3, 0, "d", "r", "p", None),
        (0, 4, 0, "c", "r", "p", '{"after":{"commit":"z","lang":"M","content":"c2"},"changed":["commit","lang","content"]}'),
    ]
    df = spark.createDataFrame(
        rows, "term long, index long, write_id long, op string, repo string, path string, payload string"
    )
    out = reconstruct_before_images(
        decode_envelope(df), BeforeImageMode.FULL, columns=("commit", "lang", "content")
    )
    by_idx = {r["index"]: r for r in out.collect()}
    assert by_idx[1]["before"]["commit"] is None            # insert: no prior image
    assert by_idx[2]["before"]["commit"] == "a"             # update sees insert image
    assert by_idx[2]["before"]["lang"] == "L"
    assert by_idx[3]["before"]["commit"] == "b"             # delete sees updated image
    assert by_idx[4]["before"]["commit"] is None            # reinsert after delete: none


# ---------------------------------------------------------------- lake GC
def test_lake_expire_versions(spark, tmp_path):
    import os

    t = LakeTable(spark, str(tmp_path / "gc"), n_buckets=2)
    t.init(INIT_COLS)

    def one(i):
        return decode_envelope(
            spark.createDataFrame(
                [(0, i, 0, "c", "r", f"p{i}",
                  f'{{"after":{{"commit":"c{i}","lang":"x","content":"y"}},'
                  '"changed":["commit","lang","content"]}')],
                "term long, index long, write_id long, op string, repo string, "
                "path string, payload string",
            ),
            columns=t.columns,
        )

    for i in range(1, 7):
        assert t.merge_events(one(i), f"b{i}").upserted == 1
    before = engine_state(t)
    n_dirs_before = len(os.listdir(str(tmp_path / "gc" / "data")))
    removed = t.expire_versions(keep_last=2)
    assert removed > 0 and len(os.listdir(str(tmp_path / "gc" / "data"))) < n_dirs_before
    assert engine_state(t) == before  # current snapshot untouched
    # table still writable after GC
    assert t.merge_events(one(99), "b99").upserted == 1
    assert ("r", "p99") in engine_state(t)


def test_before_image_all_modes(spark):
    """X1 — the full 8-mode matrix (HelperBeforeImageModes.java:6-49),
    shapes mirroring YugabyteDBBeforeImageTest: insert → partial update →
    delete, checking each mode's old image and new-image width."""
    from debezium_connector_yugabytedb_1_spark.operators.before_image import (
        BeforeImageMode,
        reconstruct_before_images,
    )

    rows = [
        (0, 1, 0, "c", "r", "p", '{"after":{"commit":"a","lang":"L","content":"c1"},"changed":["commit","lang","content"]}'),
        (0, 2, 0, "u", "r", "p", '{"after":{"commit":"b"},"changed":["commit"]}'),
        (0, 3, 0, "d", "r", "p", None),
    ]
    df = spark.createDataFrame(
        rows, "term long, index long, write_id long, op string, repo string, path string, payload string"
    )
    cols = ("commit", "lang", "content")
    dec = decode_envelope(df)

    def run(mode):
        out = reconstruct_before_images(dec, mode, columns=cols)
        return {r["index"]: r for r in out.collect()}

    # ALL == FULL: full old image, full new image (update fills lang/content)
    for mode in (BeforeImageMode.ALL, BeforeImageMode.FULL):
        m = run(mode)
        assert m[2]["before"]["lang"] == "L" and m[2]["before"]["commit"] == "a"
        assert m[2]["after"]["lang"] == "L" and m[2]["after"]["commit"] == "b"
        assert m[3]["before"]["commit"] == "b" and m[3]["after"] is None

    # CHANGE_OLD_NEW / MODIFIED_COLUMNS: old+new of the modified column only
    for mode in (BeforeImageMode.CHANGE_OLD_NEW, BeforeImageMode.MODIFIED_COLUMNS_OLD_AND_NEW):
        m = run(mode)
        assert m[2]["before"]["commit"] == "a"
        assert m[2]["before"]["lang"] is None          # not modified -> no old image
        assert m[2]["after"]["lang"] is None           # new image stays changed-cols

    # FULL_ROW_NEW_IMAGE: full new image; old image ONLY for delete
    m = run(BeforeImageMode.FULL_ROW_NEW_IMAGE)
    assert m[2]["before"] is None
    assert m[2]["after"]["lang"] == "L"
    assert m[3]["before"]["commit"] == "b" and m[3]["before"]["lang"] == "L"

    # DEFAULT: full new image; key-only old image for delete (value cols null)
    m = run(BeforeImageMode.DEFAULT)
    assert m[2]["before"] is None
    assert m[2]["after"]["content"] == "c1"
    assert m[3]["before"] is not None
    assert all(m[3]["before"][c] is None for c in cols)

    # CHANGE / NOTHING: stream passes through untouched
    for mode in (BeforeImageMode.CHANGE, BeforeImageMode.NOTHING):
        m = run(mode)
        assert "before" not in m[2].asDict()
        assert m[2]["after"]["lang"] is None


def test_tablet_split_waits_for_explicit_checkpoint(spark):
    """D2 — split ack wait-list: a requested split is NOT applied until the
    committed checkpoint reaches the split barrier; the parent pauses
    polling meanwhile; children inherit the parent offset on apply
    (handleTabletSplit:1104-1162, wait-list :468-498)."""
    from debezium_connector_yugabytedb_1_spark.operators.split import (
        apply_ready_splits,
        request_split,
        waiting_parents,
    )
    from debezium_connector_yugabytedb_1_spark.generator import tablets_table

    tablets = tablets_table(spark, n_tablets=2, key_space=100)
    ckpt = spark.createDataFrame(
        [("tablet-0", 0, 50, 0, "streaming"), ("tablet-1", 0, 60, 0, "streaming")],
        "tablet_id string, term long, index long, write_id long, phase string",
    )
    wl = request_split(
        {}, "tablet-0", ("tablet-0a", 0, 25), ("tablet-0b", 25, 50), (0, 50, 0)
    )
    assert waiting_parents(wl) == {"tablet-0"}

    # ack behind the barrier: nothing happens
    behind = spark.createDataFrame(
        [("tablet-0", 0, 40, 0)], "tablet_id string, term long, index long, write_id long"
    )
    t2, c2, wl2, applied = apply_ready_splits(tablets, ckpt, wl, behind)
    assert applied == [] and waiting_parents(wl2) == {"tablet-0"}
    assert {r["tablet_id"] for r in t2.collect()} == {"tablet-0", "tablet-1"}

    # ack reaches the barrier: split applies, children inherit offset 50
    caught = spark.createDataFrame(
        [("tablet-0", 0, 50, 0)], "tablet_id string, term long, index long, write_id long"
    )
    t3, c3, wl3, applied3 = apply_ready_splits(tablets, ckpt, wl2, caught)
    assert applied3 == ["tablet-0"] and not wl3
    ids = {r["tablet_id"] for r in t3.collect()}
    assert ids == {"tablet-0a", "tablet-0b", "tablet-1"}
    offs = {r["tablet_id"]: r["index"] for r in c3.collect()}
    assert offs["tablet-0a"] == 50 and offs["tablet-0b"] == 50 and "tablet-0" not in offs


def test_auto_table_poller_reconfigures_include(spark, tmp_path):
    """D3 hook — a table appearing mid-stream extends the include regex
    BEFORE its first window is processed (no lost rows), and the
    reconfiguration is recorded (YugabyteDBTablePoller.java:31-120)."""
    import os

    from debezium_connector_yugabytedb_1_spark.generator import generate_events, write_events
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline

    ev = generate_events(spark, 2000)
    # second half of the log belongs to a table unknown at config time
    ev = ev.withColumn(
        "table",
        F.when(F.col("index") >= 1000, F.lit("public.new_table")).otherwise(F.col("table")),
    )
    evp = os.path.join(str(tmp_path), "events")
    write_events(ev, evp, segment_size=500)

    t = LakeTable(spark, os.path.join(str(tmp_path), "lake"), n_buckets=4)
    t.init(INIT_COLS)
    pipe = CdcPipeline(
        spark, evp, t,
        CheckpointStore(spark, os.path.join(str(tmp_path), "ck")),
        events_per_batch=1000,
        table_include=r"^public\.repo_files$",
        auto_add_tables=True,
    )
    results = pipe.run()
    # one reconfiguration, at the window where the table first appeared
    assert pipe.reconfigurations == [(1000, ("public.new_table",))]
    assert "new_table" in pipe.table_include
    # the new table's rows were dispatched in their own window (not lost)
    assert results[-1].n_dispatched > 0

    # control: without the poller the second window dispatches nothing
    t2 = LakeTable(spark, os.path.join(str(tmp_path), "lake2"), n_buckets=4)
    t2.init(INIT_COLS)
    pipe2 = CdcPipeline(
        spark, evp, t2,
        CheckpointStore(spark, os.path.join(str(tmp_path), "ck2")),
        events_per_batch=1000,
        table_include=r"^public\.repo_files$",
    )
    r2 = pipe2.run()
    assert r2[-1].n_dispatched == 0 and not pipe2.reconfigurations
