"""Unit tests for individual operators (mirrors the reference's unit suites:
``MergerTest.java``, ``HashPartitionTest.java``,
``YugabyteDBgRPCConnectorUtilsTest.java``, SMT tests)."""

from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark.generator import (
    generate_events,
    tablets_table,
    validate_complete_ranges,
)
from debezium_connector_yugabytedb_1_spark.lake import LakeTable
from debezium_connector_yugabytedb_1_spark.operators import filters
from debezium_connector_yugabytedb_1_spark.operators.checkpoint import (
    max_merge,
    resume_filter,
    resume_predicate,
)
from debezium_connector_yugabytedb_1_spark.operators.decode import (
    decode_envelope,
    extract_new_record_state,
)
from debezium_connector_yugabytedb_1_spark.operators.order import (
    assert_tablet_monotonic,
    fold_changes,
    last_writer_wins,
)


# ---------------------------------------------------------------- generator
def test_generator_deterministic(spark):
    a = generate_events(spark, 500, n_repos=5, paths_per_repo=5).collect()
    b = generate_events(spark, 500, n_repos=5, paths_per_repo=5, num_partitions=3).collect()
    ka = sorted(map(tuple, a))
    kb = sorted(map(tuple, b))
    assert ka == kb, "corpus must be identical across parallelism levels"


def test_generator_skew(spark):
    df = generate_events(spark, 4000, n_repos=10, hot_repo_pct=40)
    frac = df.where(F.col("repo") == "org/repo-0").count() / 4000
    assert 0.38 < frac < 0.52  # 40% hot + ~10% uniform share


def test_tablet_ranges_complete(spark):
    assert validate_complete_ranges(tablets_table(spark, 8))
    # a gap must be detected
    bad = tablets_table(spark, 8).where(F.col("tablet_id") != "tablet-3")
    assert not validate_complete_ranges(bad)


def test_per_tablet_offsets_monotonic_in_commit_time(spark):
    df = generate_events(spark, 2000)
    # offsets monotone in eid and commit_time monotone in eid => no violations
    assert assert_tablet_monotonic(df).isEmpty()


# ---------------------------------------------------------------- decode
def test_decode_golden(spark, corpus_path):
    ev = spark.read.parquet(corpus_path)
    d = decode_envelope(ev.where(F.col("op") == "c").limit(1)).collect()[0]
    assert d["after"]["commit"] is not None
    assert set(d["changed"]) >= {"commit", "lang", "content"}
    assert d["after"]["content"].startswith("// " + d["repo"] + "/")
    pk = decode_envelope(ev.where(F.col("op") == "pku").limit(1)).collect()[0]
    assert pk["before_key"]["repo"] == pk["repo"]
    assert pk["before_key"]["path"] != pk["path"]
    dd = decode_envelope(ev.where(F.col("op") == "ddl").limit(1)).collect()[0]
    assert (dd["ddl_action"], dd["ddl_name"]) == ("add_column", "stars")


def test_pandas_decode_equals_jvm_decode(spark, corpus_path):
    ev = spark.read.parquet(corpus_path).where(F.col("index") < 500)
    cols = ["index", "after", "changed", "before_key", "ddl_action"]
    jvm = {r["index"]: r for r in decode_envelope(ev).select(cols).collect()}
    pan = {r["index"]: r for r in decode_envelope(ev, use_pandas=True).select(cols).collect()}
    assert jvm == pan


def test_extract_new_record_state(spark, corpus_path):
    ev = spark.read.parquet(corpus_path).where(F.col("op").isin("c", "u", "d", "t"))
    flat = extract_new_record_state(decode_envelope(ev))
    rows = flat.where(F.col("__deleted")).limit(3).collect()
    assert rows and all(r["commit"] is None for r in rows)  # unset cells dropped
    ins = flat.where(~F.col("__deleted")).limit(3).collect()
    assert all(r["commit"] is not None for r in ins)


# ---------------------------------------------------------------- filters
def test_filters(spark, corpus_path):
    ev = spark.read.parquet(corpus_path)
    assert filters.drop_safepoints(ev).where("op = 'SAFEPOINT'").isEmpty()
    sys_rows = ev.withColumn("table", F.lit("pg_catalog.pg_class"))
    assert filters.table_filter(sys_rows).isEmpty()
    assert filters.table_filter(ev, include="public\\..*").count() == ev.count()
    assert filters.table_filter(ev, exclude="public\\..*").isEmpty()
    assert filters.skipped_operations_filter(ev, ("d", "t")).where(
        "op in ('d','t')"
    ).isEmpty()
    wm = filters.extract_safepoint_watermark(ev)
    assert wm.count() > 0 and wm.agg(F.max("safe_time")).collect()[0][0] is not None


# ---------------------------------------------------------------- ordering
def test_window_lww_equals_fold_for_full_images(spark, corpus_path):
    """On insert-only events (full images), fold == window row_number LWW."""
    ev = decode_envelope(spark.read.parquet(corpus_path).where(F.col("op") == "c"))
    w = last_writer_wins(ev).select(
        "repo", "path", F.col("after.commit").alias("commit")
    )
    f = fold_changes(ev).select("repo", "path", F.col("commit_val").alias("commit"))
    assert w.exceptAll(f).isEmpty() and f.exceptAll(w).isEmpty()


def test_fold_delete_barrier(spark):
    """A reinsert after a delete must not resurrect pre-delete columns."""
    rows = [
        # (term,index,write_id,op,repo,path, payload)
        (0, 1, 0, "c", "r", "p", '{"after":{"commit":"a","lang":"x","content":"c1"},"changed":["commit","lang","content"]}'),
        (0, 2, 0, "d", "r", "p", None),
        (0, 3, 0, "u", "r", "p", '{"after":{"commit":"b"},"changed":["commit"]}'),
    ]
    df = spark.createDataFrame(
        rows, "term long, index long, write_id long, op string, repo string, path string, payload string"
    )
    out = fold_changes(decode_envelope(df), columns=("commit", "lang", "content")).collect()[0]
    assert out["exists"] and out["had_delete"]
    assert out["commit_val"] == "b" and out["commit_set"]
    assert not out["lang_set"] and out["lang_val"] is None  # NOT resurrected
    # pure delete at the end → exists False
    rows2 = rows + [(0, 4, 0, "t", "r", "p", None)]
    df2 = spark.createDataFrame(
        rows2, "term long, index long, write_id long, op string, repo string, path string, payload string"
    )
    out2 = fold_changes(decode_envelope(df2), columns=("commit", "lang", "content")).collect()[0]
    assert not out2["exists"]


# ---------------------------------------------------------------- checkpoint
def test_max_merge_monotonic(spark):
    old = spark.createDataFrame(
        [("t1", 0, 10, 0, "streaming"), ("t2", 0, 5, 1, "streaming")],
        "tablet_id string, term long, index long, write_id long, phase string",
    )
    new = spark.createDataFrame(
        [("t1", 0, 8, 3, "streaming"), ("t2", 1, 2, 0, "streaming"), ("t3", 0, 1, 0, "streaming")],
        "tablet_id string, term long, index long, write_id long, phase string",
    )
    got = {r["tablet_id"]: (r["term"], r["index"], r["write_id"]) for r in max_merge(old, new).collect()}
    assert got == {"t1": (0, 10, 0), "t2": (1, 2, 0), "t3": (0, 1, 0)}


def test_resume_filter(spark):
    # a tablet id with SQL quote/escape characters, checkpointed at a
    # snapshot offset (term -1): streaming rows after it are kept
    odd = "t'3\\é"
    ev = spark.createDataFrame(
        [("t1", 0, 1, 0), ("t1", 0, 2, 0), ("t1", 0, 3, 0), ("t2", 0, 1, 0),
         (odd, -1, 5, 0), (odd, 0, 1, 0)],
        "tablet_id string, term long, index long, write_id long",
    )
    ck = spark.createDataFrame(
        [("t1", 0, 2, 0, "streaming"), (odd, -1, 5, 0, "snapshot")],
        "tablet_id string, term long, index long, write_id long, phase string",
    )
    want = [(odd, 1), ("t1", 3), ("t2", 1)]
    got = sorted((r["tablet_id"], r["index"]) for r in resume_filter(ev, ck).collect())
    assert got == want
    # the job-free predicate form over the driver-side rows keeps the same
    rows = [tuple(r) for r in ck.collect()]
    got = sorted((r["tablet_id"], r["index"]) for r in ev.where(resume_predicate(rows)).collect())
    assert got == want
    assert ev.where(resume_predicate(None)).count() == 6


# ---------------------------------------------------------------- lake unit
_EVENT_DDL = (
    "term long, index long, write_id long, op string, repo string, path string, "
    "payload string"
)


def _merge(t, rows, batch_id):
    """Raw (term, index, write_id, op, repo, path, after-dict) event rows
    through decode → ``merge_events`` under the table's live columns."""
    import json as _json

    df = t.spark.createDataFrame(
        [
            (term, index, wid, op, repo, path,
             _json.dumps({"after": after, "changed": list(after)}) if after else None)
            for term, index, wid, op, repo, path, after in rows
        ],
        _EVENT_DDL,
    )
    return t.merge_events(decode_envelope(df, columns=t.columns), batch_id)


def test_lake_merge_guard_and_pruning(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lk"), n_buckets=4)
    t.init([("commit", "string"), ("content", "string")])

    st = _merge(t, [(0, 5, 0, "c", "r", "p", {"commit": "a", "content": "c1"})], "b1")
    assert (st.upserted, st.deleted, st.carried) == (1, 0, 0)
    assert [r["commit"] for r in t.read().collect()] == ["a"]
    v1 = t.manifest()["version"]

    # stale offset → no change
    st = _merge(t, [(0, 3, 0, "u", "r", "p", {"commit": "STALE"})], "b2")
    assert st.upserted == 0 and st.carried == 1
    row = t.read(with_meta=True).collect()[0]
    assert row["commit"] == "a" and row["_last_index"] == 5

    # partial update: content untouched
    st = _merge(t, [(0, 7, 0, "u", "r", "p", {"commit": "b"})], "b3")
    assert st.upserted == 1
    row = t.read().collect()[0]
    assert (row["commit"], row["content"]) == ("b", "c1")

    # same batch id skipped
    st = _merge(t, [(0, 9, 0, "u", "r", "p", {"commit": "zzz"})], "b3")
    assert st.skipped and t.read().collect()[0]["commit"] == "b"

    # delete
    st = _merge(t, [(0, 11, 0, "d", "r", "p", None)], "b4")
    assert st.deleted == 1 and st.upserted == 0
    assert t.read().isEmpty()

    # bucket pointers: untouched buckets must be carried, not rewritten.
    # (the deleted key's bucket still holds its tombstone row) — pick a
    # second key that provably hashes to a DIFFERENT bucket
    def bucket_of(repo, path):
        return spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(repo), F.lit(path)), F.lit(4)).alias("b")
        ).collect()[0]["b"]

    b_rp = bucket_of("r", "p")
    other = next(
        f"other{i}" for i in range(50) if bucket_of(f"other{i}", "q") != b_rp
    )
    m_before = t.manifest()["buckets"]
    st = _merge(t, [(0, 12, 0, "c", other, "q", {"commit": "x", "content": "y"})], "b5")
    assert (st.upserted, st.carried) == (1, 0)
    m_after = t.manifest()["buckets"]
    assert m_after[str(b_rp)] == m_before[str(b_rp)], "untouched bucket rewritten"
    assert v1 < t.manifest()["version"]


def test_lake_schema_evolution(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lk2"), n_buckets=2)
    t.init([("commit", "string"), ("content", "string")])
    st = _merge(t, [(0, 1, 0, "c", "r", "p", {"commit": "a", "content": "c"})], "b1")
    assert st.upserted == 1
    assert t.add_column("stars", "long")
    assert not t.add_column("stars", "long")  # refresh-only-if-changed
    assert t.read().collect()[0]["stars"] is None  # old files read as NULL
    buckets_before = dict(t.manifest()["buckets"])
    assert t.rename_column("commit", "commit_sha")
    assert t.read().collect()[0]["commit_sha"] == "a"
    assert [n for n, _ in t.columns] == ["commit_sha", "content", "stars"]
    # RENAME is metadata-only: no data file was rewritten (field-ID-style
    # physical-name indirection; Iceberg parity)
    assert t.manifest()["buckets"] == buckets_before
    # a later ADD COLUMN reusing the old logical name gets a FRESH physical
    # name — old files' physical 'commit' data must not leak into it
    assert t.add_column("commit", "string")
    row = t.read().collect()[0]
    assert row["commit"] is None and row["commit_sha"] == "a"
    # writes after the rename still round-trip through physical names
    st = _merge(
        t, [(0, 2, 0, "c", "r2", "p2", {"commit_sha": "zz", "content": "c2"})], "b2"
    )
    assert (st.upserted, st.deleted) == (1, 0)
    got = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert got[("r2", "p2")]["commit_sha"] == "zz"
    assert got[("r", "p")]["commit_sha"] == "a"


def test_lake_drop_column_metadata_only(spark, tmp_path):
    """DROP COLUMN leaves files untouched (attisdropped storage model) and
    retires the physical name so re-adding the same logical name can never
    resurrect dropped data."""
    t = LakeTable(spark, str(tmp_path / "lk3"), n_buckets=2)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    st = _merge(
        t, [(0, 1, 0, "c", "r", "p", {"commit": "a", "lang": "py", "content": "c"})], "b1"
    )
    assert st.upserted == 1
    buckets_before = dict(t.manifest()["buckets"])
    assert t.drop_column("lang")
    assert not t.drop_column("lang")  # already gone
    assert not t.drop_column("repo")  # key columns are not droppable
    assert [n for n, _ in t.columns] == ["commit", "content"]
    row = t.read().collect()[0]
    assert "lang" not in row.asDict()
    assert t.manifest()["buckets"] == buckets_before  # no rewrite
    # re-adding the same logical name maps to a FRESH physical column:
    # the dropped data must NOT come back, even before any bucket rewrite
    assert t.add_column("lang", "string")
    assert t.read().collect()[0]["lang"] is None
    # the next merge (copy-on-write) physically sheds the dropped column
    st = _merge(
        t, [(0, 2, 0, "c", "r", "p2", {"commit": "a", "lang": "go", "content": "c"})], "b2"
    )
    assert (st.upserted, st.deleted) == (1, 0)
    got = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert got[("r", "p2")]["lang"] == "go"
    assert got[("r", "p")]["lang"] is None


def test_pipeline_applies_drop_column_ddl(spark, tmp_path):
    """Mid-stream DROP COLUMN DDL: events after the cut fold under the
    narrowed schema (the dropped column's payload cells are ignored)."""
    import json as _json

    from debezium_connector_yugabytedb_1_spark.generator import (
        generate_events,
        write_events,
    )
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import (
        CheckpointStore,
    )
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline

    ev = generate_events(spark, 2000, n_tablets=2, payload_format="shredded")
    # splice a drop_column DDL over a NOOP row mid-log
    noop = ev.where(F.col("op") == "NOOP").select("index").first()["index"]
    payload = _json.dumps({"action": "drop_column", "name": "lang"})
    spliced = ev.withColumn(
        "op", F.when(F.col("index") == noop, F.lit("ddl")).otherwise(F.col("op"))
    ).withColumn(
        "payload",
        F.when(F.col("index") == noop, F.lit(payload)).otherwise(F.col("payload")),
    )
    evp = str(tmp_path / "events")
    write_events(spliced, evp, segment_size=500)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    res = CdcPipeline(
        spark, evp, t, CheckpointStore(spark, str(tmp_path / "ck")),
        events_per_batch=800,
    ).run()
    assert any("drop_column lang" in r.ddl_applied for r in res)
    cols = t.read().columns
    assert "lang" not in cols and "content" in cols
    assert t.read().count() > 0
