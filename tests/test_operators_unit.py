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
    ev = spark.createDataFrame(
        [("t1", 0, 1, 0), ("t1", 0, 2, 0), ("t1", 0, 3, 0), ("t2", 0, 1, 0)],
        "tablet_id string, term long, index long, write_id long",
    )
    ck = spark.createDataFrame(
        [("t1", 0, 2, 0, "streaming")],
        "tablet_id string, term long, index long, write_id long, phase string",
    )
    got = sorted((r["tablet_id"], r["index"]) for r in resume_filter(ev, ck).collect())
    assert got == [("t1", 3), ("t2", 1)]
    # the job-free predicate form over the driver-side rows keeps the same
    rows = [tuple(r) for r in ck.collect()]
    got = sorted((r["tablet_id"], r["index"]) for r in ev.where(resume_predicate(rows)).collect())
    assert got == [("t1", 3), ("t2", 1)]
    assert ev.where(resume_predicate(None)).count() == 4


# ---------------------------------------------------------------- lake unit
def test_lake_merge_guard_and_pruning(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lk"), n_buckets=4)
    t.init([("commit", "string"), ("content", "string")])

    def folded(rows):
        return spark.createDataFrame(
            rows,
            "repo string, path string, exists boolean, had_delete boolean, "
            "last_offset struct<term:long,index:long,write_id:long>, n_events long, "
            "commit_val string, content_val string, commit_set boolean, content_set boolean",
        )

    t.merge(folded([("r", "p", True, False, (0, 5, 0), 1, "a", "c1", True, True)]), "b1")
    assert [r["commit"] for r in t.read().collect()] == ["a"]
    v1 = t.manifest()["version"]

    # stale offset → no change
    t.merge(folded([("r", "p", True, False, (0, 3, 0), 1, "STALE", None, True, False)]), "b2")
    row = t.read(with_meta=True).collect()[0]
    assert row["commit"] == "a" and row["_last_index"] == 5

    # partial update: content untouched
    t.merge(folded([("r", "p", True, False, (0, 7, 0), 1, "b", None, True, False)]), "b3")
    row = t.read().collect()[0]
    assert (row["commit"], row["content"]) == ("b", "c1")

    # same batch id skipped
    st = t.merge(folded([("r", "p", True, False, (0, 9, 0), 1, "zzz", None, True, False)]), "b3")
    assert st.skipped and t.read().collect()[0]["commit"] == "b"

    # delete
    t.merge(folded([("r", "p", False, True, (0, 11, 0), 1, None, None, False, False)]), "b4")
    assert t.read().isEmpty()

    # bucket pointers: untouched buckets must be carried, not rewritten.
    # (the deleted key's bucket still holds its tombstone row) — pick a
    # second key that provably hashes to a DIFFERENT bucket
    from debezium_connector_yugabytedb_1_spark.lake import bucket_expr

    def bucket_of(repo, path):
        return spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(repo), F.lit(path)), F.lit(4)).alias("b")
        ).collect()[0]["b"]

    b_rp = bucket_of("r", "p")
    other = next(
        f"other{i}" for i in range(50) if bucket_of(f"other{i}", "q") != b_rp
    )
    m_before = t.manifest()["buckets"]
    t.merge(folded([(other, "q", True, False, (0, 12, 0), 1, "x", "y", True, True)]), "b5")
    m_after = t.manifest()["buckets"]
    assert m_after[str(b_rp)] == m_before[str(b_rp)], "untouched bucket rewritten"
    assert v1 < t.manifest()["version"]


def test_lake_schema_evolution(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lk2"), n_buckets=2)
    t.init([("commit", "string"), ("content", "string")])
    f = spark.createDataFrame(
        [("r", "p", True, False, (0, 1, 0), 1, "a", "c", True, True)],
        "repo string, path string, exists boolean, had_delete boolean, "
        "last_offset struct<term:long,index:long,write_id:long>, n_events long, "
        "commit_val string, content_val string, commit_set boolean, content_set boolean",
    )
    t.merge(f, "b1")
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
    f2 = spark.createDataFrame(
        [("r2", "p2", True, False, (0, 2, 0), 1, "zz", "c2", True, True)],
        "repo string, path string, exists boolean, had_delete boolean, "
        "last_offset struct<term:long,index:long,write_id:long>, n_events long, "
        "commit_sha_val string, content_val string, commit_sha_set boolean, "
        "content_set boolean",
    ).withColumn("stars_val", F.lit(None).cast("long")) \
     .withColumn("stars_set", F.lit(False)) \
     .withColumn("commit_val", F.lit(None).cast("string")) \
     .withColumn("commit_set", F.lit(False))
    t.merge(f2, "b2")
    got = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert got[("r2", "p2")]["commit_sha"] == "zz"
    assert got[("r", "p")]["commit_sha"] == "a"


def test_lake_drop_column_metadata_only(spark, tmp_path):
    """DROP COLUMN leaves files untouched (attisdropped storage model) and
    retires the physical name so re-adding the same logical name can never
    resurrect dropped data."""
    t = LakeTable(spark, str(tmp_path / "lk3"), n_buckets=2)
    t.init([("commit", "string"), ("lang", "string"), ("content", "string")])
    f = spark.createDataFrame(
        [("r", "p", True, False, (0, 1, 0), 1, "a", "py", "c", True, True, True)],
        "repo string, path string, exists boolean, had_delete boolean, "
        "last_offset struct<term:long,index:long,write_id:long>, n_events long, "
        "commit_val string, lang_val string, content_val string, "
        "commit_set boolean, lang_set boolean, content_set boolean",
    )
    t.merge(f, "b1")
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
    f2 = f.withColumnRenamed("lang_val", "drop_me").drop("lang_set") \
        .withColumn("lang_val", F.lit("go")).withColumn("lang_set", F.lit(True)) \
        .drop("drop_me") \
        .withColumn("path", F.lit("p2")) \
        .withColumn("last_offset", F.struct(F.lit(0).cast("long").alias("term"),
                                            F.lit(2).cast("long").alias("index"),
                                            F.lit(0).cast("long").alias("write_id")))
    t.merge(f2, "b2")
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
