"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC replay (envelope decode → per-key
LWW fold) over ``/root/testdata/sf0.001``. ``queries()`` exposes one entry
per implemented operator family from SURVEY.md §2 plus the training-data
pipeline operators; ``oracle_sql()`` gives the DuckDB-checkable equivalent
for every SQL-expressible one (hash/LSH-based ops are rows-only by nature).

The CDC queries model the ``events`` table as a change feed:
op mapping signup→c, view→r, click→u, purchase→u, error→d; offset =
(ts, event_id) (the OpId analogue); tablet = user_id % 8.

Column-naming rule honored: every computed column is aliased identically in
the Spark plan and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

_OP_CASE_SQL = (
    "CASE event_type WHEN 'signup' THEN 'c' WHEN 'view' THEN 'r' "
    "WHEN 'click' THEN 'u' WHEN 'purchase' THEN 'u' ELSE 'd' END"
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CDC change-feed shape (op + tablet + offset columns)."""
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "view", "r")
        .when(F.col("event_type") == "click", "u")
        .when(F.col("event_type") == "purchase", "u")
        .otherwise("d")
    )
    return _events(spark, sf_dir).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "props",
        op.alias("op"),
        F.concat(F.lit("t"), F.pmod(F.col("user_id"), F.lit(8))).alias("tablet_id"),
    )


_TOK_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_SH_SQL = f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split({_TOK_NORM}, ' ')) - 2, 1) + 1),
           i -> string_split({_TOK_NORM}, ' ')[i] || ' ' ||
                coalesce(string_split({_TOK_NORM}, ' ')[i+1], '') || ' ' ||
                coalesce(string_split({_TOK_NORM}, ' ')[i+2], '')))) AS shingle
  FROM documents
"""


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC replay over sf0.001 — envelope-encode the event feed,
    run the engine's real decode (P1) + per-key LWW fold (M2), return the
    live final state."""
    from debezium_connector_yugabytedb_1_spark.operators.decode import decode_envelope
    from debezium_connector_yugabytedb_1_spark.operators.order import fold_changes

    feed = _feed(spark, SF0001)
    env = feed.select(
        F.col("tablet_id"),
        F.lit(0).cast("long").alias("term"),
        F.col("event_id").alias("index"),
        F.lit(0).cast("long").alias("write_id"),
        F.col("op"),
        F.concat(F.lit("u"), F.col("user_id")).alias("repo"),
        F.col("event_type").alias("path"),
        F.to_json(
            F.struct(
                F.struct(
                    F.conv(F.col("event_id").cast("string"), 10, 16).alias("commit"),
                    F.col("event_type").alias("lang"),
                    F.col("props").alias("content"),
                    F.col("user_id").alias("stars"),
                ).alias("after"),
                F.array(
                    F.lit("commit"), F.lit("lang"), F.lit("content"), F.lit("stars")
                ).alias("changed"),
            )
        ).alias("payload"),
    )
    decoded = decode_envelope(env)
    folded = fold_changes(decoded, columns=("commit", "lang", "content", "stars"))
    return folded.where(F.col("exists")).select(
        "repo",
        "path",
        F.col("commit_val").alias("commit"),
        F.col("content_val").alias("content"),
        F.col("stars_val").alias("stars"),
    )


# ---------------------------------------------------------------------------
# CDC operator queries (events table)
# ---------------------------------------------------------------------------

def q_cdc_lww_dedup(spark, sf_dir):
    """M2 — window-over-offset last-writer-wins per key."""
    from debezium_connector_yugabytedb_1_spark.operators.order import last_writer_wins

    feed = _feed(spark, sf_dir)
    last = last_writer_wins(feed, key_cols=("user_id",), order_desc=("ts", "event_id"))
    return last.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


def q_cdc_replay_state(spark, sf_dir):
    """Replay final state: latest op per key; deleted keys drop out."""
    from debezium_connector_yugabytedb_1_spark.operators.order import last_writer_wins

    feed = _feed(spark, sf_dir)
    last = last_writer_wins(feed, key_cols=("user_id",), order_desc=("ts", "event_id"))
    return last.where(F.col("op") != "d").select(
        "user_id", "op", F.col("event_id").alias("last_event_id")
    )


def q_cdc_checkpoint_max_merge(spark, sf_dir):
    """O1 — per-tablet monotonic max offset."""
    feed = _feed(spark, sf_dir)
    return feed.groupBy("tablet_id").agg(
        F.max_by("event_id", F.struct("ts", "event_id")).alias("last_event_id"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_cdc_resume_filter(spark, sf_dir):
    """O3 — events strictly after the per-tablet checkpoint taken at the
    log midpoint."""
    feed = _feed(spark, sf_dir)
    half = feed.agg(F.floor(F.max("event_id") / 2).cast("long")).collect()[0][0]
    ckpt = (
        feed.where(F.col("event_id") < half)
        .groupBy("tablet_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("off"))
    )
    resumed = feed.join(F.broadcast(ckpt), "tablet_id", "left").where(
        F.col("off").isNull() | (F.struct("ts", "event_id") > F.col("off"))
    )
    return resumed.groupBy("tablet_id").agg(F.count(F.lit(1)).alias("n_resumed"))


def q_cdc_metrics_counts(spark, sf_dir):
    """A1 — per-(tablet, op) applied-op metrics."""
    feed = _feed(spark, sf_dir)
    return feed.groupBy("tablet_id", "op").agg(F.count(F.lit(1)).alias("n"))


def q_cdc_envelope_project(spark, sf_dir):
    """P1/P3 — envelope projection: typed payload extraction + sha256
    lineage digest (the per-row content invariant)."""
    feed = _feed(spark, sf_dir)
    return feed.select(
        "event_id",
        "op",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        F.sha2(F.concat(F.col("event_type"), F.lit(":"), F.col("event_id").cast("string")), 256).alias(
            "content_sha"
        ),
    )


def q_cdc_cloud_events(spark, sf_dir):
    """P12 — CloudEvents envelope maker
    (``converters/YugabyteDBCloudEventsMaker.java:18-31``): synthesize a
    decoded envelope deterministically from event ids, reshape through
    ``transforms.cloud_events``, and emit the attribute columns plus
    JSON-extracted ``data`` fields (the exact JSON text is Spark's
    serializer concern; the CONTENT is what the oracle pins)."""
    from debezium_connector_yugabytedb_1_spark.operators import transforms

    feed = _feed(spark, sf_dir)
    i = F.col("event_id")
    dec = feed.select(
        "op",
        "tablet_id",
        F.pmod(i, F.lit(3)).alias("term"),
        i.alias("index"),
        F.pmod(i, F.lit(5)).alias("write_id"),
        F.when(F.pmod(i, F.lit(4)) == 0, F.lit(None).cast("string"))
        .otherwise(F.floor(i / 10).cast("string"))
        .alias("txn_id"),
        # hybrid time = physical micros << 12
        ((F.lit(1_600_000_000_000_000) + i * 1000) * F.lit(4096)).alias("commit_time"),
        F.lit("public.events").alias("table"),
        F.concat(F.lit("r"), F.col("user_id").cast("string")).alias("repo"),
        F.concat(F.lit("p"), i.cast("string")).alias("path"),
        F.struct(
            F.concat(F.lit("c"), i.cast("string")).alias("commit"),
            F.lit("python").alias("lang"),
            F.concat(F.lit("body"), i.cast("string")).alias("content"),
            F.pmod(i, F.lit(100)).cast("long").alias("stars"),
        ).alias("after"),
        F.when(
            F.pmod(i, F.lit(3)) == 0,
            F.array(F.lit("commit"), F.lit("lang"), F.lit("content"), F.lit("stars")),
        )
        .when(F.pmod(i, F.lit(3)) == 1, F.array(F.lit("commit")))
        .otherwise(F.array(F.lit("content"), F.lit("stars")))
        .alias("changed"),
    )
    ce = transforms.cloud_events(dec)
    return ce.select(
        "ce_id", "ce_source", "ce_specversion", "ce_type",
        "ce_time_ms", "ce_datacontenttype",
        F.get_json_object("data", "$.op").alias("d_op"),
        F.get_json_object("data", "$.key.repo").alias("d_repo"),
        F.get_json_object("data", "$.after.commit").alias("d_commit"),
        F.get_json_object("data", "$.after.stars").alias("d_stars"),
        F.get_json_object("data", "$.source.lsn").alias("d_lsn"),
    )


def q_cdc_pk_update_split(spark, sf_dir):
    """P4 — PK update → DELETE(old)+CREATE(new) pair."""
    feed = _feed(spark, sf_dir).where(F.col("event_type") == "purchase")
    old_key = F.concat(F.lit("u"), F.col("user_id"))
    new_key = F.concat(F.lit("u"), F.col("user_id"), F.lit("_v2"))
    d = feed.select("event_id", F.lit("d").alias("part_op"), old_key.alias("key"))
    c = feed.select("event_id", F.lit("c").alias("part_op"), new_key.alias("key"))
    return d.unionByName(c)


def q_cdc_tombstones(spark, sf_dir):
    """P5 — delete + trailing tombstone emission."""
    feed = _feed(spark, sf_dir).where(F.col("op") == "d")
    d = feed.select("event_id", F.lit("d").alias("part_op"))
    t = feed.select("event_id", F.lit("t").alias("part_op"))
    return d.unionByName(t)


def q_cdc_txn_metadata(spark, sf_dir):
    """T1 — transaction-boundary metadata (txn = 10-event blocks)."""
    feed = _feed(spark, sf_dir)
    return (
        feed.withColumn("txn_id", F.floor(F.col("event_id") / 10).cast("long"))
        .groupBy("txn_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


def q_cdc_snapshot_read(spark, sf_dir):
    """S3 — snapshot phase: bounded scan emitting op='r' envelopes."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        F.col("c_custkey").alias("key"),
        F.lit("r").alias("op"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
    )


def q_cdc_tablet_assignment(spark, sf_dir):
    """S1/S2 — hash-range tablet assignment + per-tablet load."""
    ev = _events(spark, sf_dir)
    key = F.pmod(F.col("event_id"), F.lit(65536))
    tablet = F.floor(key / 8192).cast("long")
    return (
        ev.select(tablet.alias("tablet"))
        .groupBy("tablet")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "tablet",
            (F.col("tablet") * 8192).alias("key_start"),
            ((F.col("tablet") + 1) * 8192).alias("key_end"),
            "n_events",
        )
    )


def q_cdc_skew_salted_count(spark, sf_dir):
    """S2 — two-phase salted aggregation (hot-key safe); result equals the
    plain GROUP BY the oracle runs."""
    from debezium_connector_yugabytedb_1_spark.operators.skew import salted_count

    ev = _events(spark, sf_dir)
    return salted_count(ev, "event_type", salt=16, salt_cols=("event_id",))


def q_cdc_release_gate(spark, sf_dir):
    """M1 — the consistent-streaming release gate (``Merger.java:116-133``):
    'view' rows act as per-tablet SAFEPOINT carriers; a record releases only
    when ``commit_time <= min(safetime over ALL consumed tablets)``."""
    from debezium_connector_yugabytedb_1_spark.operators.filters import (
        extract_safepoint_watermark,
    )
    from debezium_connector_yugabytedb_1_spark.operators.order import release_gate

    feed = (
        _events(spark, sf_dir)
        .select(
            "event_id",
            F.concat(F.lit("tablet-"), F.pmod(F.col("user_id"), F.lit(8))).alias(
                "tablet_id"
            ),
            # ts is TIMESTAMP_NTZ; session TZ is pinned UTC, so the cast is
            # a pure reinterpretation
            F.unix_micros(F.col("ts").cast("timestamp")).alias("commit_time"),
            F.when(F.col("event_type") == "view", F.lit("SAFEPOINT"))
            .otherwise(F.lit("c"))
            .alias("op"),
        )
    )
    tablets = [f"tablet-{i}" for i in range(8)]
    released, _held = release_gate(
        feed, extract_safepoint_watermark(feed), consumed_tablets=tablets
    )
    return released.where(F.col("op") != "SAFEPOINT").select(
        "event_id", "tablet_id", "commit_time"
    )


def q_cdc_truncate_barrier(spark, sf_dir):
    """P6 — TRUNCATE barrier: 'error' rows act as per-table TRUNCATE
    markers; every event at or before its table's last truncate dies
    (``apply_truncate``: per-table max-offset barrier, one window pass)."""
    from debezium_connector_yugabytedb_1_spark.operators.emit import apply_truncate

    feed = _events(spark, sf_dir).select(
        "event_id",
        F.concat(F.lit("t"), F.pmod(F.col("user_id"), F.lit(4))).alias("table"),
        F.when(F.col("event_type") == "error", F.lit("TRUNCATE"))
        .otherwise(F.lit("c"))
        .alias("op"),
        F.lit(0).cast("long").alias("term"),
        F.col("event_id").alias("index"),
        F.lit(0).cast("long").alias("write_id"),
    )
    kept = apply_truncate(feed)
    return kept.where(F.col("op") != "TRUNCATE").select("event_id", "table")


def q_cdc_smt_flatten(spark, sf_dir):
    """P8 — YBExtractNewRecordState flatten: envelope → after image with
    unset cells nulled + __deleted flag."""
    from debezium_connector_yugabytedb_1_spark.operators.decode import (
        decode_envelope,
        extract_new_record_state,
    )

    feed = _feed(spark, sf_dir)
    env = feed.select(
        F.col("event_id"),
        F.col("op"),
        F.concat(F.lit("u"), F.col("user_id")).alias("repo"),
        F.col("event_type").alias("path"),
        F.to_json(
            F.struct(
                F.struct(
                    F.conv(F.col("event_id").cast("string"), 10, 16).alias("commit"),
                    F.col("event_type").alias("lang"),
                    F.when(F.col("op") != "u", F.col("props")).alias("content"),
                    F.col("user_id").alias("stars"),
                ).alias("after"),
                F.array_compact(
                    F.array(
                        F.lit("commit"),
                        F.lit("lang"),
                        F.when(F.col("op") != "u", F.lit("content")),
                        F.lit("stars"),
                    )
                ).alias("changed"),
            )
        ).alias("payload"),
    )
    flat = extract_new_record_state(decode_envelope(env), keep_cols=("event_id",))
    return flat.select(
        "event_id", "repo", "path", "commit", "lang", "content",
        F.col("stars").cast("long").alias("stars"), "__deleted",
    )


def q_cdc_column_exclude(spark, sf_dir):
    """F3 — column.exclude.list: drop a payload column from the decoded
    after-image and its changed array (pure projection)."""
    from debezium_connector_yugabytedb_1_spark.operators.decode import decode_envelope
    from debezium_connector_yugabytedb_1_spark.operators.filters import column_exclude

    feed = _feed(spark, sf_dir)
    env = feed.select(
        F.col("event_id"),
        F.col("op"),
        F.to_json(
            F.struct(
                F.struct(
                    F.conv(F.col("event_id").cast("string"), 10, 16).alias("commit"),
                    F.col("event_type").alias("lang"),
                    F.col("props").alias("content"),
                    F.col("user_id").alias("stars"),
                ).alias("after"),
                F.array(
                    F.lit("commit"), F.lit("lang"), F.lit("content"), F.lit("stars")
                ).alias("changed"),
            )
        ).alias("payload"),
    )
    out = column_exclude(decode_envelope(env), excluded=("content",))
    return out.select(
        "event_id",
        F.col("after.commit").alias("commit"),
        F.col("after.lang").alias("lang"),
        F.col("after.stars").cast("long").alias("stars"),
        F.array_join(F.array_sort("changed"), ",").alias("changed_cols"),
        # the excluded column is gone from the struct itself — field count
        # proves it (3 remaining after-image fields)
        F.json_object_keys(F.to_json("after")).alias("_keys"),
    ).withColumn("n_after_fields", F.size("_keys") + F.lit(0)).drop("_keys")


def q_cdc_order_consistent(spark, sf_dir):
    """M1 — global commit-time order. Scale path: two-pass rank
    (``order.global_sequence`` — deterministic range buckets + per-bucket
    windows), NOT a single-partition ``row_number() OVER (ORDER BY ...)``
    that funnels the dataset through one task."""
    from debezium_connector_yugabytedb_1_spark.operators.order import global_sequence

    ev = _events(spark, sf_dir)
    return global_sequence(ev, ("ts", "event_id"), out_col="rn").select(
        "event_id", F.col("rn").cast("long").alias("rn")
    )


def q_cdc_before_image(spark, sf_dir):
    """X1 — FULL-mode before images via the real history-window operator
    (``reconstruct_before_images``): per key, the prior image of every
    event — last-set value per column, nulled across delete barriers
    (partial updates leave ``content`` unset on 'u' rows)."""
    from debezium_connector_yugabytedb_1_spark.operators.before_image import (
        BeforeImageMode,
        reconstruct_before_images,
    )
    from debezium_connector_yugabytedb_1_spark.operators.decode import decode_envelope

    feed = _feed(spark, sf_dir)
    env = feed.select(
        F.col("event_id"),
        F.col("op"),
        F.lit(0).cast("long").alias("term"),
        F.col("event_id").alias("index"),
        F.lit(0).cast("long").alias("write_id"),
        F.concat(F.lit("u"), F.col("user_id")).alias("repo"),
        F.lit("f").alias("path"),
        F.to_json(
            F.struct(
                F.struct(
                    F.conv(F.col("event_id").cast("string"), 10, 16).alias("commit"),
                    F.col("event_type").alias("lang"),
                    F.when(F.col("op") != "u", F.col("props")).alias("content"),
                    F.col("user_id").alias("stars"),
                ).alias("after"),
                F.array_compact(
                    F.array(
                        F.lit("commit"),
                        F.lit("lang"),
                        F.when(F.col("op") != "u", F.lit("content")),
                        F.lit("stars"),
                    )
                ).alias("changed"),
            )
        ).alias("payload"),
    )
    out = reconstruct_before_images(
        decode_envelope(env), BeforeImageMode.FULL,
        columns=("commit", "lang", "content", "stars"),
    )
    return out.select(
        "event_id",
        F.col("before.commit").alias("b_commit"),
        F.col("before.lang").alias("b_lang"),
        F.col("before.content").alias("b_content"),
        F.col("before.stars").cast("long").alias("b_stars"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from debezium_connector_yugabytedb_1_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from debezium_connector_yugabytedb_1_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.5, max_df=256
    ).select("doc_a", "doc_b", "inter", "na", "nb")


def q_dedup_groups(spark, sf_dir):
    """Duplicate-group resolution: distributed connected components
    (iterative min-label propagation + pointer jumping) over the exact
    n-gram Jaccard pairs, with min-doc_id survivor election."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import (
        ngram_jaccard_pairs,
        resolve_groups,
    )

    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.5, max_df=256)
    return resolve_groups(pairs)


def q_dedup_exact_index(spark, sf_dir):
    """Incremental exact-dedup index: ingest the documents table in two
    id-ordered batches through ``ExactDedupIndex.add`` (partition-pruned
    hash store) and return every row's duplicate flag + retained first
    occurrence. Because batch 1's ids all precede batch 2's, first-seen ≡
    global min(doc_id) per hash — the SQL oracle."""
    import shutil
    import tempfile

    from debezium_connector_yugabytedb_1_spark.operators.dedup import ExactDedupIndex

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    path = tempfile.mkdtemp(prefix="exidx_query_")
    try:
        idx = ExactDedupIndex(spark, path, n_parts=8)
        o1 = idx.add(docs.where(F.col("doc_id") <= mid))
        o2 = idx.add(docs.where(F.col("doc_id") > mid))
        out = o1.unionByName(o2).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def q_dedup_survivors(spark, sf_dir):
    """Quality-scored survivor election: per duplicate group keep the
    LONGEST document (ties → smallest id) — the production policy on top
    of ``resolve_groups``' min-id default."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import (
        elect_survivors,
        ngram_jaccard_pairs,
        resolve_groups,
    )

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_df=256)
    groups = resolve_groups(pairs)
    scores = docs.select("doc_id", F.length("text").cast("long").alias("score"))
    return elect_survivors(groups, scores)


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (duplicate-line fraction +
    top-bigram share)."""
    from debezium_connector_yugabytedb_1_spark.operators.text import (
        repetition_features,
    )

    return repetition_features(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark, sf_dir):
    """Rows-only check: MinHash+LSH candidates verified by exact Jaccard
    (signature hashes are engine-specific, not SQL-replicable)."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5, max_df=256)


def q_ann_ivf_index(spark, sf_dir):
    """Rows-only check: the persisted IVF-Flat index — train once, ingest
    the embeddings table in two increments, query with partition-pruned
    list reads. Equivalence with one-shot build and the recall gate are
    pytest-asserted; centroid assignment is engine-specific, no SQL oracle."""
    import shutil
    import tempfile

    from debezium_connector_yugabytedb_1_spark.operators.similarity import IvfIndex

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="ivfidx_query_")
    try:
        idx = IvfIndex(spark, path, n_lists=8, n_parts=4)
        idx.train(emb)
        idx.add(emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 0))
        idx.add(emb.where(F.pmod(F.col("vec_id"), F.lit(2)) == 1))
        out = (
            idx.query(emb.where(F.col("vec_id") < 20), k=5, nprobe=4)
            .select("query_id", "neighbor_id", "rank")
            .orderBy("query_id", "rank")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def q_text_line_dedup(spark, sf_dir):
    """C4-style inter-document line dedup: documents are lineified into
    5-word lines (deterministically, same formula as the oracle), then a
    line repeated anywhere in the corpus survives only at its globally
    first (doc_id, position) occurrence and texts are rebuilt."""
    from debezium_connector_yugabytedb_1_spark.functions import let
    from debezium_connector_yugabytedb_1_spark.operators.text import line_dedup

    W = 5
    lines_arr = let(
        F.split(F.col("text"), " "),
        lambda ws: F.transform(
            F.sequence(F.lit(0), F.ceil(F.size(ws) / F.lit(W)).cast("int") - 1),
            lambda g: F.array_join(F.slice(ws, g * W + 1, W), " "),
        ),
    )
    ml = _docs(spark, sf_dir).select(
        "doc_id", F.array_join(lines_arr, "\n").alias("text")
    )
    out = line_dedup(ml, min_words=2)
    return out.select("doc_id", "text_dedup", "n_lines", "n_kept")


def q_text_mask_pii(spark, sf_dir):
    """PII scrubbing with synthesized teeth: inject deterministic emails /
    URLs / phone numbers / IPv4 literals into each document (same formula
    as the oracle), mask, and report per-kind counts."""
    from debezium_connector_yugabytedb_1_spark.operators.text import mask_pii

    i = F.col("doc_id")
    inject = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit(" user"), i.cast("string"), F.lit("@ex"), F.pmod(i, F.lit(10)).cast("string"),
        F.lit(".com visit https://site"), i.cast("string"), F.lit(".org/p?q="), i.cast("string"),
        F.lit(" call 555-"), F.lpad(F.pmod(i, F.lit(900)).cast("string") , 3, "0"),
        F.lit("-"), F.lpad(F.pmod(i * 7, F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" from 10.0."), F.pmod(i, F.lit(256)).cast("string"),
        F.lit("."), F.pmod(i * 3, F.lit(256)).cast("string"),
    )
    docs = _docs(spark, sf_dir).select("doc_id", inject.alias("text"))
    out = mask_pii(docs)
    return out.select(
        "doc_id", "text_masked",
        *[F.col(c).cast("long").alias(c) for c in ("n_email", "n_url", "n_phone", "n_ip")],
    )


def q_dedup_incremental_index(spark, sf_dir):
    """Rows-only check: the persisted incremental MinHash-LSH index.
    Ingest the documents table in two batches through ``MinHashIndex.add``
    (partition-pruned postings + sets stores) and return every verified
    near-dup pair surfaced across the increments — equivalence with the
    one-shot batch path is pytest-asserted; LSH candidacy itself is not
    SQL-replicable, hence no DuckDB oracle."""
    import shutil
    import tempfile

    from debezium_connector_yugabytedb_1_spark.operators.dedup import MinHashIndex

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    half = F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0
    path = tempfile.mkdtemp(prefix="mhidx_query_")
    try:
        idx = MinHashIndex(
            spark, path, threshold=0.5, n_posting_parts=8, n_set_parts=8
        )
        p1 = idx.add(docs.where(half))
        p2 = idx.add(docs.where(~half))
        out = (
            p1.unionByName(p2)
            .select("doc_a", "doc_b", "inter", "na", "nb")
            .orderBy("doc_a", "doc_b")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per-doc 3-gram overlap against a
    broadcast benchmark shingle set (every 20th doc plays the eval set)."""
    from debezium_connector_yugabytedb_1_spark.operators.mixing import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontaminate(corpus, bench, threshold=0.5)


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-stratum hash sampling (corpus mixing weights);
    membership = pure function of (seed, doc_id) — engine-reproducible."""
    from debezium_connector_yugabytedb_1_spark.operators.mixing import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir),
        rates={"en": 0.5, "zh": 1.0, "de": 0.25},
        strata_col="lang",
        default_rate=0.0,
        seed=7,
    )
    return out.select("doc_id", "lang")


def q_pack_sequences(spark, sf_dir):
    """Token-budget chunk assignment (sequence packing) within language
    strata."""
    from debezium_connector_yugabytedb_1_spark.operators.mixing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=2000)


def q_dedup_simhash(spark, sf_dir):
    """Rows-only check: SimHash band-collision candidate pairs."""
    from debezium_connector_yugabytedb_1_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir))


def q_ann_brute_force_topk(spark, sf_dir):
    from debezium_connector_yugabytedb_1_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 10)
    out = brute_force_topk(emb, q, k=5)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def q_ann_lsh_topk(spark, sf_dir):
    """Rows-only check: LSH-bucketed approximate top-k (recall depends on
    random-hyperplane buckets, not SQL-replicable)."""
    from debezium_connector_yugabytedb_1_spark.operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 10)
    # dim passed explicitly: the testdata embeddings are 64-wide, and the
    # default's driver-side .first() probe would serialize a scan into the
    # query path
    return lsh_topk(emb, q, k=5, dim=64).select("query_id", "neighbor_id")


def q_ann_ivf_topk(spark, sf_dir):
    """Rows-only check: IVF approximate top-k (sample-trained coarse
    quantizer, nprobe probing — recall not SQL-replicable)."""
    from debezium_connector_yugabytedb_1_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 10)
    return ivf_topk(emb, q, k=5, n_lists=16, nprobe=8).select(
        "query_id", "neighbor_id"
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs among the first 200 vectors (brute-force
    exact; the LSH variant is q_ann_lsh_topk)."""
    from debezium_connector_yugabytedb_1_spark.functions import cosine_similarity

    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= 0.3)
        .select("id_a", "id_b")
    )


def q_text_quality(spark, sf_dir):
    from debezium_connector_yugabytedb_1_spark.operators.text import quality_features

    out = quality_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_punct").cast("long").alias("n_punct"),
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
        "is_quality",
    )


def q_text_langid(spark, sf_dir):
    from debezium_connector_yugabytedb_1_spark.operators.text import language_id

    out = language_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("score_en").cast("long").alias("score_en"),
        F.col("score_de").cast("long").alias("score_de"),
        F.col("score_es").cast("long").alias("score_es"),
        F.col("score_fr").cast("long").alias("score_fr"),
        "lang_pred",
    )


def q_text_fingerprint(spark, sf_dir):
    from debezium_connector_yugabytedb_1_spark.operators.text import fingerprints

    return fingerprints(_docs(spark, sf_dir))


def q_token_count(spark, sf_dir):
    from debezium_connector_yugabytedb_1_spark.functions import token_count

    return _docs(spark, sf_dir).select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: binary payload + typed metadata; n_bytes comes
    back from the mapInPandas feature extractor (the decode stub)."""
    from debezium_connector_yugabytedb_1_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    media = attach_fake_media(_docs(spark, sf_dir))
    # metadata rides through the Arrow batch (carry_cols) — no join back to
    # the media table, one pass over the binary payloads
    feats = extract_features(media, carry_cols=("media_type", "width", "height"))
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


def q_multimodal_frame_counts(spark, sf_dir):
    """Video frame-sampling: frames per video doc at 1000 ms cadence."""
    from debezium_connector_yugabytedb_1_spark.operators.multimodal import (
        attach_fake_media,
        sample_frames,
    )

    media = attach_fake_media(_docs(spark, sf_dir))
    return (
        sample_frames(media, every_ms=1000)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )


def q_cdc_typed_decode(spark, sf_dir):
    """P2 — the widened value-conversion surface: synthesize wire datums
    (the text/number forms a logical-decoding plugin emits) deterministically
    from event ids, run every converter family, and emit hash-stable typed
    outputs. Mirrors ``YugabyteDBValueConverter``'s OID dispatch: decimal
    specials, ±infinity temporals, interval modes, money, hstore, enum,
    uuid, bytea, bit/varbit, arrays, point, inet, ranges."""
    from debezium_connector_yugabytedb_1_spark.functions import converters as C

    i = F.col("event_id")
    m = F.pmod(i, F.lit(10))
    base = _events(spark, sf_dir).select("event_id").where(i < 2000)
    dec_wire = (
        F.when(m == 0, F.lit("NaN"))
        .when(m == 1, F.lit("Infinity"))
        .when(m == 2, F.lit("-Infinity"))
        .otherwise(
            F.concat(
                i.cast("string"), F.lit("."),
                F.lpad(F.pmod(i, F.lit(1000)).cast("string"), 3, "0"), F.lit("00"),
            )
        )
    )
    ts = F.timestamp_seconds(F.lit(1600000000) + i)
    ts_wire = (
        F.when(m == 3, F.lit("infinity"))
        .when(m == 4, F.lit("-infinity"))
        .otherwise(F.date_format(ts, "yyyy-MM-dd HH:mm:ss"))
    )
    tstz_wire = F.concat(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+00:00"))
    date_wire = (
        F.when(m == 5, F.lit("infinity"))
        .when(m == 6, F.lit("-infinity"))
        .otherwise(F.date_format(F.date_add(F.lit("1970-01-01").cast("date"), i.cast("int")), "yyyy-MM-dd"))
    )
    time_wire = F.concat(
        F.lpad(F.pmod(i, F.lit(24)).cast("string"), 2, "0"), F.lit(":"),
        F.lpad(F.pmod(i, F.lit(60)).cast("string"), 2, "0"), F.lit(":"),
        F.lpad(F.pmod(i * 7, F.lit(60)).cast("string"), 2, "0"),
        F.when(F.pmod(i, F.lit(2)) == 1, F.lit(".25")).otherwise(F.lit("")),
    )
    iv_micros = i * 1000003 + F.pmod(i, F.lit(7))
    hstore_wire = F.concat(
        F.lit('"a"=>"'), i.cast("string"), F.lit('", "b"=>"x'), i.cast("string"),
        # value with escaped quotes + the literal ", " and "=>" sequences
        F.lit('", "q"=>"v\\"=>\\", \\"w'), i.cast("string"), F.lit('"'),
    )
    enum_wire = F.element_at(
        F.array(F.lit("red"), F.lit("green"), F.lit("blue"), F.lit("bogus")),
        (F.pmod(i, F.lit(4)) + 1).cast("int"),
    )
    uuid_wire = F.upper(F.md5(F.concat(F.lit("u"), i.cast("string"))))
    bytea_wire = F.concat(F.lit("\\x"), F.upper(F.hex(F.concat(F.lit("v"), i.cast("string")))))
    bit_wire = F.element_at(
        F.array(F.lit("1"), F.lit("101"), F.lit("10110"), F.lit("11111111")),
        (F.pmod(i, F.lit(4)) + 1).cast("int"),
    )
    varbit_wire = F.element_at(
        F.array(F.lit("1"), F.lit("10100000"), F.lit("101"), F.lit("1111000011110000")),
        (F.pmod(i, F.lit(4)) + 1).cast("int"),
    )
    arr_wire = F.concat(
        F.lit("{"), i.cast("string"), F.lit(","), (i + 1).cast("string"),
        F.lit(",NULL,"), (i * 2).cast("string"), F.lit("}"),
    )
    point_wire = F.concat(
        F.lit("("), (i.cast("double") + 0.5).cast("string"), F.lit(","),
        (-i.cast("double") - 0.25).cast("string"), F.lit(")"),
    )
    inet_wire = F.concat(F.lit(" FE80::"), F.pmod(i, F.lit(10)).cast("string"), F.lit(" "))
    range_wire = F.concat(F.lit("["), i.cast("string"), F.lit(","), (i + 10).cast("string"), F.lit(")"))

    # r3 additions: variable-scale NUMERIC beyond decimal(38,18) (textual
    # exactness path), quoted/escaped text-array elements (PgArray parse),
    # EWKB geometry with/without the SRID flag
    bigdec_wire = F.when(
        m < 5, F.concat(F.lit("1"), i.cast("string"), F.lit("0" * 19), F.lit(".10"))
    ).otherwise(
        F.concat(
            F.lit("0."), F.lpad(F.pmod(i, F.lit(1000)).cast("string"), 3, "0"),
            F.lit("0" * 16), F.lit("500"),
        )
    )
    qarr_wire = F.concat(
        F.lit('{"x,'), i.cast("string"), F.lit('","q\\"z",NULL,plain'),
        i.cast("string"), F.lit("}"),
    )
    h32 = F.lpad(F.lower(F.hex(i)), 8, "0")
    srid_le = F.concat(
        F.substring(h32, 7, 2), F.substring(h32, 5, 2),
        F.substring(h32, 3, 2), F.substring(h32, 1, 2),
    )
    geom_wire = F.when(
        F.pmod(i, F.lit(2)) == 0,
        F.concat(
            F.lit("0101000020"), srid_le,
            F.lit("000000000000f03f0000000000000040"),
        ),
    ).otherwise(F.lit("0101000000000000000000f03f0000000000000040"))
    g = C.convert_geometry(geom_wire)
    timetz_wire = F.concat(
        time_wire,
        F.when(F.pmod(i, F.lit(2)) == 0, F.lit("+05:30")).otherwise(F.lit("-02")),
    )

    arr = C.convert_array(arr_wire, "bigint")
    pt = C.convert_point(point_wire)
    # the ~30 converter columns are independent expression trees whose
    # construction is py4j-latency-bound (each chained Column op is a
    # socket round trip; ~0.5s of the query's wall was driver-side build) —
    # build them on a small thread pool (py4j is thread-safe, one
    # connection per thread; measured ~2x) and select in a fixed order
    builders = [
        lambda: i.alias("event_id"),
        lambda: C.convert_decimal(dec_wire, mode="precise", scale=None).alias("dec_var"),
        lambda: C.decimal_special_flag(dec_wire).alias("dec_special"),
        lambda: F.when(m == 0, F.lit(None).cast("double"))
        .otherwise(C.convert_decimal(dec_wire, mode="double"))
        .alias("dec_double"),
        lambda: C.convert_timestamp_micros(ts_wire).alias("ts_micros"),
        lambda: C.convert_timestamptz_string(tstz_wire).alias("tstz_iso"),
        lambda: C.convert_date_days(date_wire).cast("long").alias("date_days"),
        lambda: C.convert_time_micros(time_wire).alias("time_micros"),
        lambda: C.convert_interval(iv_micros, mode="numeric").alias("interval_micros"),
        lambda: C.convert_interval(iv_micros, mode="string").alias("interval_iso"),
        lambda: C.convert_money(i * 123 + 7).cast("string").alias("money_str"),
        lambda: C.convert_hstore(hstore_wire, mode="json").alias("hstore_json"),
        lambda: C.convert_enum(enum_wire, allowed=("red", "green", "blue")).alias("enum_val"),
        lambda: C.convert_uuid(uuid_wire).alias("uuid_lc"),
        lambda: C.convert_bytea(bytea_wire, mode="hex").alias("bytea_hex"),
        lambda: C.convert_bit(bit_wire).cast("long").alias("bit_int"),
        lambda: F.lower(F.hex(C.convert_varbit_bytes(varbit_wire))).alias("varbit_hex"),
        lambda: F.array_join(F.transform(arr, lambda x: x.cast("string")), "|", "N").alias("arr_join"),
        lambda: F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + F.coalesce(x, F.lit(0).cast("long"))).alias("arr_sum"),
        lambda: pt["x"].alias("px"),
        lambda: pt["y"].alias("py"),
        lambda: C.convert_inet(inet_wire).alias("inet_norm"),
        lambda: C.convert_range(range_wire).alias("range_str"),
        lambda: C.convert_decimal(bigdec_wire, mode="precise", scale=None).alias("dec_big"),
        lambda: F.array_join(C.convert_array(qarr_wire, "string"), "|", "N").alias("arr_quoted"),
        lambda: F.lower(F.hex(g["wkb"])).alias("geom_wkb_hex"),
        lambda: g["srid"].cast("long").alias("geom_srid"),
        lambda: C.convert_timetz(timetz_wire).alias("timetz_utc"),
        # r6: Ltree logical type (data/Ltree.java:16; convertLtree :580)
        lambda: C.convert_ltree(
            F.concat(F.lit("Top.Science.n"), F.pmod(i, F.lit(100)).cast("string"))
        ).alias("ltree_path"),
        lambda: F.array_join(
            C.convert_ltree_array(
                F.concat(
                    F.lit("{Top.A"), i.cast("string"),
                    F.lit(",Top.B"), (i * 2).cast("string"), F.lit("}"),
                )
            ),
            "|",
        ).alias("ltree_arr"),
    ]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(4) as ex:
        out_cols = list(ex.map(lambda b: b(), builders))
    return base.select(*out_cols)


def q_cdc_cql_typed_decode(spark, sf_dir):
    """P2b — the CQL (YCQL) converter family: synthesize the *binary*
    wire datums a CQL table delivers (``YbProtoCqlColumnValue`` wraps raw
    ``QLValuePB`` payloads) and run ``YugabyteDBCQLValueConverter``'s
    distinctive conversions: 4-octet INET (invalid length → ""), 16-byte
    UUID → canonical string (empty → ""), VARINT text ("" → 0), BLOB
    base64/hex modes, and the DATE/TIME/TIMESTAMP precision ladders."""
    from debezium_connector_yugabytedb_1_spark.functions import converters_cql as CQ

    i = F.col("event_id")
    m = F.pmod(i, F.lit(10))
    base = _events(spark, sf_dir).select("event_id").where(i < 2000)
    h2 = lambda k: F.lpad(F.hex(F.pmod(i * k, F.lit(256)).cast("int")), 2, "0")  # noqa: E731
    # m==3/m==4 rows carry a NULL wire payload: nullable columns round-trip
    # null (r6 ADVICE fix), distinct from the malformed-length '' fallback
    inet_wire = (
        F.when(m == 3, F.lit(None).cast("binary"))
        .when(m == 0, F.unhex(F.lit("0A0B0C")))
        .otherwise(F.unhex(F.concat(h2(1), h2(7), h2(13), h2(31))))
    )
    uuid_wire = (
        F.when(m == 4, F.lit(None).cast("binary"))
        .when(m == 1, F.unhex(F.lit("")))
        .otherwise(F.unhex(F.md5(F.concat(F.lit("q"), i.cast("string")))))
    )
    varint_wire = F.when(m == 2, F.lit("")).otherwise((i * 1000003 - 500).cast("string"))
    blob_wire = F.unhex(F.md5(F.concat(F.lit("b"), i.cast("string"))))
    days_wire = (i - 500).cast("int")
    time_nanos = F.pmod(i * F.lit(123_456_789_011), F.lit(86_400_000_000_000))
    ts_micros = F.lit(1_600_000_000_000_000) + i * 1000003
    # independent converter columns built concurrently (py4j-latency-bound,
    # same as q_cdc_typed_decode), selected in fixed order
    builders = [
        lambda: i.alias("event_id"),
        lambda: CQ.cql_inet_from_bytes(inet_wire).alias("inet_str"),
        lambda: CQ.cql_uuid_from_bytes(uuid_wire).alias("uuid_str"),
        lambda: CQ.cql_varint(varint_wire).alias("varint_val"),
        lambda: CQ.cql_blob(blob_wire, "base64").alias("blob_b64"),
        lambda: CQ.cql_blob(blob_wire, "hex").alias("blob_hex"),
        lambda: F.lower(F.hex(CQ.normalize_binary(F.unhex(F.substring(F.md5(i.cast("string")), 1, 4)), 4))).alias("binary_padded_hex"),
        lambda: CQ.cql_date(days_wire).cast("long").alias("date_days"),
        lambda: CQ.cql_date(days_wire, "connect").alias("date_epoch_ms"),
        lambda: CQ.cql_time(time_nanos, precision=3).alias("time_ms"),
        lambda: CQ.cql_time(time_nanos, precision=6).alias("time_us"),
        lambda: CQ.cql_time(time_nanos, precision=9).alias("time_ns"),
        lambda: CQ.cql_timestamp(ts_micros, precision=3).alias("ts_ms"),
        lambda: CQ.cql_timestamp(ts_micros, precision=6).alias("ts_us"),
        lambda: CQ.cql_timestamp(ts_micros, precision=9).alias("ts_ns"),
    ]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(4) as ex:
        out_cols = list(ex.map(lambda b: b(), builders))
    return base.select(*out_cols)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_typed_decode": q_cdc_typed_decode,
        "cdc_cql_typed_decode": q_cdc_cql_typed_decode,
        "cdc_lww_dedup": q_cdc_lww_dedup,
        "cdc_replay_state": q_cdc_replay_state,
        "cdc_checkpoint_max_merge": q_cdc_checkpoint_max_merge,
        "cdc_resume_filter": q_cdc_resume_filter,
        "cdc_metrics_counts": q_cdc_metrics_counts,
        "cdc_envelope_project": q_cdc_envelope_project,
        "cdc_cloud_events": q_cdc_cloud_events,
        "cdc_pk_update_split": q_cdc_pk_update_split,
        "cdc_tombstones": q_cdc_tombstones,
        "cdc_txn_metadata": q_cdc_txn_metadata,
        "cdc_snapshot_read": q_cdc_snapshot_read,
        "cdc_tablet_assignment": q_cdc_tablet_assignment,
        "cdc_skew_salted_count": q_cdc_skew_salted_count,
        "cdc_order_consistent": q_cdc_order_consistent,
        "cdc_release_gate": q_cdc_release_gate,
        "cdc_truncate_barrier": q_cdc_truncate_barrier,
        "cdc_column_exclude": q_cdc_column_exclude,
        "cdc_smt_flatten": q_cdc_smt_flatten,
        "cdc_before_image": q_cdc_before_image,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_groups": q_dedup_groups,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_incremental_index": q_dedup_incremental_index,
        "text_line_dedup": q_text_line_dedup,
        "text_decontaminate": q_text_decontaminate,
        "dedup_survivors": q_dedup_survivors,
        "dedup_exact_index": q_dedup_exact_index,
        "text_repetition": q_text_repetition,
        "sample_stratified": q_sample_stratified,
        "pack_sequences": q_pack_sequences,
        "text_mask_pii": q_text_mask_pii,
        "dedup_simhash": q_dedup_simhash,
        "ann_brute_force_topk": q_ann_brute_force_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_index": q_ann_ivf_index,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "token_count": q_token_count,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_frame_counts": q_multimodal_frame_counts,
    }


def oracle_sql() -> dict[str, str]:
    feed = f"SELECT *, {_OP_CASE_SQL} AS op, 't' || (user_id % 8) AS tablet_id FROM events"
    tok = "string_split_regex(lower(trim(text)), '\\s+')"
    return {
        "cdc_typed_decode": """
            WITH base AS (
              SELECT event_id AS i,
                ((((event_id % 24) * 3600000000 + (event_id % 60) * 60000000
                   + ((event_id * 7) % 60) * 1000000 + (event_id % 2) * 250000)
                  - (CASE WHEN event_id % 2 = 0 THEN 19800000000 ELSE -7200000000 END))
                 % 86400000000 + 86400000000) % 86400000000 AS tzus
              FROM events WHERE event_id < 2000)
            SELECT i AS event_id,
              CASE WHEN i % 10 IN (0, 1, 2) THEN NULL ELSE
                rtrim(rtrim(i::VARCHAR || '.' || lpad((i % 1000)::VARCHAR, 3, '0') || '00', '0'), '.')
              END AS dec_var,
              CASE WHEN i % 10 = 0 THEN 'NaN' WHEN i % 10 = 1 THEN 'Infinity'
                   WHEN i % 10 = 2 THEN '-Infinity' END AS dec_special,
              CASE WHEN i % 10 = 0 THEN NULL
                   WHEN i % 10 = 1 THEN 'Infinity'::DOUBLE
                   WHEN i % 10 = 2 THEN '-Infinity'::DOUBLE
                   ELSE (i::VARCHAR || '.' || lpad((i % 1000)::VARCHAR, 3, '0') || '00')::DOUBLE
              END AS dec_double,
              (CASE WHEN i % 10 = 3 THEN 9223372036825200000
                   WHEN i % 10 = 4 THEN -9223372036832400000
                   ELSE (1600000000 + i) * 1000000 END)::BIGINT AS ts_micros,
              strftime(make_timestamp((1600000000 + i) * 1000000), '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS tstz_iso,
              (CASE WHEN i % 10 = 5 THEN 106751991
                   WHEN i % 10 = 6 THEN -106751991 ELSE i END)::BIGINT AS date_days,
              ((i % 24) * 3600000000 + (i % 60) * 60000000 + ((i * 7) % 60) * 1000000
               + (i % 2) * 250000)::BIGINT AS time_micros,
              (i * 1000003 + i % 7)::BIGINT AS interval_micros,
              'P0Y0M0DT0H0M' ||
                rtrim(rtrim((((i * 1000003 + i % 7)::DECIMAL(38,6)) / 1000000)::DECIMAL(38,6)::VARCHAR, '0'), '.')
                || 'S' AS interval_iso,
              (((i * 123 + 7)::DECIMAL(38,2)) / 100)::DECIMAL(38,2)::VARCHAR AS money_str,
              '{"a":"' || i || '","b":"x' || i || '","q":"v\\"=>\\", \\"w' || i || '"}' AS hstore_json,
              CASE i % 4 WHEN 0 THEN 'red' WHEN 1 THEN 'green' WHEN 2 THEN 'blue' END AS enum_val,
              md5('u' || i) AS uuid_lc,
              lower(hex('v' || i)) AS bytea_hex,
              (CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 5 WHEN 2 THEN 22 ELSE 255 END)::BIGINT AS bit_int,
              CASE i % 4 WHEN 0 THEN '01' WHEN 1 THEN 'a0' WHEN 2 THEN '05' ELSE 'f0f0' END AS varbit_hex,
              i::VARCHAR || '|' || (i + 1)::VARCHAR || '|N|' || (i * 2)::VARCHAR AS arr_join,
              (4 * i + 1)::BIGINT AS arr_sum,
              i + 0.5 AS px,
              -i - 0.25 AS py,
              'fe80::' || (i % 10) AS inet_norm,
              '[' || i || ',' || (i + 10) || ')' AS range_str,
              CASE WHEN i % 10 < 5 THEN '1' || i::VARCHAR || repeat('0', 19) || '.1'
                   ELSE '0.' || lpad((i % 1000)::VARCHAR, 3, '0') || repeat('0', 16) || '5'
              END AS dec_big,
              'x,' || i || '|q"z|N|plain' || i AS arr_quoted,
              CASE WHEN i % 2 = 0 THEN
                '0101000020'
                  || substr(printf('%08x', i), 7, 2) || substr(printf('%08x', i), 5, 2)
                  || substr(printf('%08x', i), 3, 2) || substr(printf('%08x', i), 1, 2)
                  || '000000000000f03f0000000000000040'
              ELSE '0101000000000000000000f03f0000000000000040' END AS geom_wkb_hex,
              (CASE WHEN i % 2 = 0 THEN i END)::BIGINT AS geom_srid,
              lpad(CAST(tzus // 3600000000 AS VARCHAR), 2, '0') || ':' ||
                lpad(CAST((tzus // 60000000) % 60 AS VARCHAR), 2, '0') || ':' ||
                lpad(CAST((tzus // 1000000) % 60 AS VARCHAR), 2, '0') || '.' ||
                lpad(CAST(tzus % 1000000 AS VARCHAR), 6, '0') || 'Z' AS timetz_utc,
              'Top.Science.n' || CAST(i % 100 AS VARCHAR) AS ltree_path,
              'Top.A' || CAST(i AS VARCHAR) || '|' ||
                'Top.B' || CAST(i * 2 AS VARCHAR) AS ltree_arr
            FROM base
        """,
        "cdc_cql_typed_decode": """
            WITH base AS (
              SELECT event_id AS i,
                (event_id * 123456789011) % 86400000000000 AS tn,
                1600000000000000 + event_id * 1000003 AS tu
              FROM events WHERE event_id < 2000)
            SELECT i AS event_id,
              CASE WHEN i % 10 = 3 THEN NULL WHEN i % 10 = 0 THEN '' ELSE
                concat_ws('.', (i % 256)::VARCHAR, ((i * 7) % 256)::VARCHAR,
                          ((i * 13) % 256)::VARCHAR, ((i * 31) % 256)::VARCHAR)
              END AS inet_str,
              CASE WHEN i % 10 = 4 THEN NULL WHEN i % 10 = 1 THEN '' ELSE
                concat_ws('-', substr(md5('q' || i), 1, 8), substr(md5('q' || i), 9, 4),
                          substr(md5('q' || i), 13, 4), substr(md5('q' || i), 17, 4),
                          substr(md5('q' || i), 21, 12))
              END AS uuid_str,
              (CASE WHEN i % 10 = 2 THEN 0 ELSE i * 1000003 - 500 END)::BIGINT AS varint_val,
              to_base64(from_hex(md5('b' || i))) AS blob_b64,
              md5('b' || i) AS blob_hex,
              substr(md5(i::VARCHAR), 1, 4) || '0000' AS binary_padded_hex,
              (i - 500)::BIGINT AS date_days,
              ((i - 500) * 86400000)::BIGINT AS date_epoch_ms,
              (tn // 1000000)::BIGINT AS time_ms,
              (tn // 1000)::BIGINT AS time_us,
              tn::BIGINT AS time_ns,
              (tu // 1000)::BIGINT AS ts_ms,
              tu::BIGINT AS ts_us,
              (tu * 1000)::BIGINT AS ts_ns
            FROM base
        """,
        "text_mask_pii": """
            WITH d AS (
              SELECT doc_id,
                substr(text, 1, 40)
                || ' user' || doc_id || '@ex' || (doc_id % 10)
                || '.com visit https://site' || doc_id || '.org/p?q=' || doc_id
                || ' call 555-' || lpad((doc_id % 900)::VARCHAR, 3, '0')
                || '-' || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0')
                || ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) AS text
              FROM documents)
            SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                'https?://[^\\s]+', '<URL>', 'g'),
                '(\\(\\d{3}\\)\\s?|\\d{3}-)\\d{3}-\\d{4}', '<PHONE>', 'g'),
                '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS text_masked,
              len(regexp_extract_all(text, '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
              len(regexp_extract_all(text, 'https?://[^\\s]+'))::BIGINT AS n_url,
              len(regexp_extract_all(text, '(\\(\\d{3}\\)\\s?|\\d{3}-)\\d{3}-\\d{4}'))::BIGINT AS n_phone,
              len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ip
            FROM d
        """,
        "dedup_exact_index": """
            WITH t AS (
              SELECT doc_id, md5(text) AS text_md5,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS first_id
              FROM documents)
            SELECT doc_id, text_md5,
                   doc_id != first_id AS is_duplicate,
                   CASE WHEN doc_id != first_id THEN first_id END AS dup_of
            FROM t
        """,
        "dedup_survivors": f"""
            WITH RECURSIVE sh0 AS ({_SH_SQL}),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 256),
            sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            pairs AS (
              SELECT doc_a, doc_b
              FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
              WHERE inter * 1.0 >= 0.5 * (sa.n_sh + sb.n_sh - inter)),
            edges AS (
              SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
            groups AS (
              SELECT n AS doc_id, least(n, min(m)) AS group_id FROM reach GROUP BY n),
            scored AS (
              SELECT g.doc_id, g.group_id, CAST(length(d.text) AS BIGINT) AS score
              FROM groups g JOIN documents d USING (doc_id)),
            winners AS (
              SELECT group_id, doc_id AS survivor_id FROM scored
              QUALIFY row_number() OVER (
                PARTITION BY group_id ORDER BY score DESC, doc_id ASC) = 1)
            SELECT s.doc_id, s.group_id, s.score,
                   s.doc_id = w.survivor_id AS is_survivor
            FROM scored s JOIN winners w USING (group_id)
        """,
        "text_repetition": f"""
            WITH lines AS (
              SELECT doc_id,
                len(string_split(text, chr(10))) AS n_lines,
                CAST(1 AS DOUBLE)
                  - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
                    / len(string_split(text, chr(10))) AS dup_line_frac
              FROM documents),
            grams AS (
              SELECT doc_id, unnest(list_transform(
                range(1, greatest(len(string_split({_TOK_NORM}, ' ')) - 1, 1) + 1),
                i -> string_split({_TOK_NORM}, ' ')[i] || ' ' ||
                     coalesce(string_split({_TOK_NORM}, ' ')[i+1], ''))) AS gram
              FROM documents),
            per_gram AS (
              SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram),
            per_doc AS (
              SELECT doc_id, CAST(max(c) AS BIGINT) AS top,
                     CAST(sum(c) AS BIGINT) AS n_bigrams
              FROM per_gram GROUP BY doc_id)
            SELECT l.doc_id, l.n_lines, l.dup_line_frac, p.n_bigrams,
                   CAST(p.top AS DOUBLE) / p.n_bigrams AS top_bigram_share
            FROM lines l JOIN per_doc p USING (doc_id)
        """,
        "text_decontaminate": f"""
            WITH sh AS ({_SH_SQL}),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
            corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 != 0)
            SELECT c.doc_id,
                   COUNT(*)::BIGINT AS n_shingles,
                   SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
                   CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*) AS overlap_frac,
                   (CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*)) >= 0.5 AS contaminated
            FROM corpus c LEFT JOIN bench b USING (shingle)
            GROUP BY c.doc_id
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 4) <
              CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN 'g000'
                        WHEN 'de' THEN '4000' ELSE '0000' END
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id, lang,
                CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_tokens
              FROM documents)
            SELECT doc_id, lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                   CAST((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) - n_tokens)
                        // 2000 AS BIGINT) AS chunk_id
            FROM t
        """,
        "text_line_dedup": """
            WITH s AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
            l AS (SELECT doc_id, u.grp AS pos, u.line AS line FROM (
              SELECT doc_id, unnest(list_transform(range(0, CAST(ceil(len(ws)/5.0) AS BIGINT)),
                g -> struct_pack(grp := g, line := array_to_string(list_slice(ws, g*5+1, g*5+5), ' ')))) AS u
              FROM s)),
            r AS (SELECT *,
              row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn,
              len(string_split(trim(line), ' ')) >= 2 AS eligible
              FROM l)
            SELECT doc_id,
              coalesce(string_agg(CASE WHEN rn = 1 OR NOT eligible THEN line END,
                                  chr(10) ORDER BY pos), '') AS text_dedup,
              count(*) AS n_lines,
              sum(CASE WHEN rn = 1 OR NOT eligible THEN 1 ELSE 0 END)::BIGINT AS n_kept
            FROM r GROUP BY doc_id
        """,
        "cdc_lww_dedup": f"""
            WITH feed AS ({feed})
            SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM feed)
            WHERE rn = 1
        """,
        "cdc_replay_state": f"""
            WITH feed AS ({feed})
            SELECT user_id, op, event_id AS last_event_id
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM feed)
            WHERE rn = 1 AND op <> 'd'
        """,
        "cdc_checkpoint_max_merge": f"""
            WITH feed AS ({feed})
            SELECT tablet_id, max(event_id ORDER BY ts, event_id) AS last_event_id,
                   count(*) AS n_events
            FROM feed GROUP BY tablet_id
        """,
        "cdc_resume_filter": f"""
            WITH feed AS ({feed}),
            half AS (SELECT CAST(floor(max(event_id)/2) AS BIGINT) AS h FROM feed),
            ckpt AS (
              SELECT tablet_id, max(ts ORDER BY ts, event_id) AS cts,
                     max(event_id ORDER BY ts, event_id) AS cid
              FROM feed, half WHERE event_id < h GROUP BY tablet_id)
            SELECT f.tablet_id, count(*) AS n_resumed
            FROM feed f LEFT JOIN ckpt c ON f.tablet_id = c.tablet_id
            WHERE c.cts IS NULL OR f.ts > c.cts OR (f.ts = c.cts AND f.event_id > c.cid)
            GROUP BY f.tablet_id
        """,
        "cdc_metrics_counts": f"""
            WITH feed AS ({feed})
            SELECT tablet_id, op, count(*) AS n FROM feed GROUP BY tablet_id, op
        """,
        "cdc_envelope_project": f"""
            WITH feed AS ({feed})
            SELECT event_id, op, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                   sha256(event_type || ':' || CAST(event_id AS VARCHAR)) AS content_sha
            FROM feed
        """,
        "cdc_cloud_events": f"""
            WITH feed AS ({feed})
            SELECT
              'name:dbserver1;lsn:' || CAST(event_id % 3 AS VARCHAR) || ':'
                || CAST(event_id AS VARCHAR) || ':' || CAST(event_id % 5 AS VARCHAR)
                || ';txId:'
                || CASE WHEN event_id % 4 = 0 THEN 'null'
                        ELSE CAST(event_id // 10 AS VARCHAR) END AS ce_id,
              '/debezium/yugabytedb/dbserver1' AS ce_source,
              '1.0' AS ce_specversion,
              'io.debezium.yugabytedb.datachangeevent' AS ce_type,
              1600000000000 + event_id AS ce_time_ms,
              'application/json' AS ce_datacontenttype,
              op AS d_op,
              'r' || CAST(user_id AS VARCHAR) AS d_repo,
              CASE WHEN event_id % 3 IN (0, 1)
                   THEN 'c' || CAST(event_id AS VARCHAR) END AS d_commit,
              CASE WHEN event_id % 3 IN (0, 2)
                   THEN CAST(event_id % 100 AS VARCHAR) END AS d_stars,
              CAST(event_id % 3 AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)
                || ':' || CAST(event_id % 5 AS VARCHAR) AS d_lsn
            FROM feed
        """,
        "cdc_pk_update_split": """
            SELECT event_id, 'd' AS part_op, 'u' || user_id AS key FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id, 'c' AS part_op, 'u' || user_id || '_v2' AS key FROM events WHERE event_type = 'purchase'
        """,
        "cdc_tombstones": f"""
            WITH feed AS ({feed})
            SELECT event_id, 'd' AS part_op FROM feed WHERE op = 'd'
            UNION ALL
            SELECT event_id, 't' AS part_op FROM feed WHERE op = 'd'
        """,
        "cdc_txn_metadata": """
            SELECT CAST(floor(event_id / 10) AS BIGINT) AS txn_id, count(*) AS n_events,
                   min(event_id) AS first_event, max(event_id) AS last_event
            FROM events GROUP BY 1
        """,
        "cdc_snapshot_read": """
            SELECT c_custkey AS key, 'r' AS op, c_name AS name,
                   CAST(c_nationkey AS BIGINT) AS nationkey
            FROM customer
        """,
        "cdc_tablet_assignment": """
            SELECT tablet, tablet * 8192 AS key_start, (tablet + 1) * 8192 AS key_end,
                   count(*) AS n_events
            FROM (SELECT CAST(floor((event_id % 65536) / 8192) AS BIGINT) AS tablet FROM events)
            GROUP BY tablet
        """,
        "cdc_skew_salted_count": """
            SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
        """,
        "cdc_order_consistent": """
            SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn FROM events
        """,
        "cdc_column_exclude": f"""
            WITH feed AS ({feed})
            SELECT event_id, printf('%X', event_id) AS "commit", event_type AS lang,
                   user_id::BIGINT AS stars,
                   'commit,lang,stars' AS changed_cols,
                   3::INT AS n_after_fields
            FROM feed
        """,
        "cdc_truncate_barrier": """
            WITH feed AS (
              SELECT event_id, 't' || (user_id % 4) AS "table",
                     CASE WHEN event_type = 'error' THEN 'TRUNCATE' ELSE 'c' END AS op
              FROM events),
            barrier AS (SELECT "table", max(event_id) AS b
                        FROM feed WHERE op = 'TRUNCATE' GROUP BY 1)
            SELECT f.event_id, f."table" FROM feed f LEFT JOIN barrier USING ("table")
            WHERE f.op <> 'TRUNCATE' AND (b IS NULL OR f.event_id > b)
        """,
        "cdc_smt_flatten": f"""
            WITH feed AS ({feed})
            SELECT event_id, 'u' || user_id AS repo, event_type AS path,
                   printf('%X', event_id) AS "commit",
                   event_type AS lang,
                   CASE WHEN op <> 'u' THEN props END AS content,
                   user_id::BIGINT AS stars,
                   op = 'd' AS __deleted
            FROM feed
        """,
        "cdc_release_gate": """
            WITH feed AS (
              SELECT event_id, 'tablet-' || (user_id % 8) AS tablet_id,
                     epoch_us(ts) AS commit_time,
                     CASE WHEN event_type = 'view' THEN 'SAFEPOINT' ELSE 'c' END AS op
              FROM events),
            st AS (SELECT tablet_id, max(commit_time) AS safe_time
                   FROM feed WHERE op = 'SAFEPOINT' GROUP BY 1),
            gate AS (SELECT CASE WHEN count(*) = 8 THEN min(safe_time) END AS g FROM st)
            SELECT f.event_id, f.tablet_id, f.commit_time
            FROM feed f, gate WHERE f.op <> 'SAFEPOINT' AND f.commit_time <= gate.g
        """,
        "cdc_before_image": f"""
            WITH feed AS ({feed}),
            env AS (
              SELECT event_id, op, 'u' || user_id AS repo,
                     printf('%X', event_id) AS v_commit,
                     event_type AS v_lang,
                     CASE WHEN op <> 'u' THEN props END AS v_content,
                     user_id AS v_stars,
                     op <> 'u' AS set_content
              FROM feed),
            w AS (
              SELECT event_id,
                max(CASE WHEN op IN ('c','r','u') THEN event_id END)
                  OVER wp AS so_commit,
                last_value(CASE WHEN op IN ('c','r','u') THEN v_commit END IGNORE NULLS)
                  OVER wp AS sv_commit,
                last_value(CASE WHEN op IN ('c','r','u') THEN v_lang END IGNORE NULLS)
                  OVER wp AS sv_lang,
                max(CASE WHEN op IN ('c','r','u') AND set_content THEN event_id END)
                  OVER wp AS so_content,
                last_value(CASE WHEN op IN ('c','r','u') AND set_content THEN v_content END IGNORE NULLS)
                  OVER wp AS sv_content,
                last_value(CASE WHEN op IN ('c','r','u') THEN v_stars END IGNORE NULLS)
                  OVER wp AS sv_stars,
                max(CASE WHEN op = 'd' THEN event_id END) OVER wp AS last_del
              FROM env
              WINDOW wp AS (PARTITION BY repo ORDER BY event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT event_id,
              CASE WHEN so_commit IS NOT NULL AND (last_del IS NULL OR so_commit > last_del)
                   THEN sv_commit END AS b_commit,
              CASE WHEN so_commit IS NOT NULL AND (last_del IS NULL OR so_commit > last_del)
                   THEN sv_lang END AS b_lang,
              CASE WHEN so_content IS NOT NULL AND (last_del IS NULL OR so_content > last_del)
                   THEN sv_content END AS b_content,
              (CASE WHEN so_commit IS NOT NULL AND (last_del IS NULL OR so_commit > last_del)
                   THEN sv_stars END)::BIGINT AS b_stars
            FROM w
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, md5(text) AS text_md5, count(*) AS n_dupes
            FROM documents GROUP BY md5(text)
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh0 AS ({_SH_SQL}),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 256),
            sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b, inter, sa.n_sh AS na, sb.n_sh AS nb
            FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
            WHERE inter * 1.0 >= 0.5 * (sa.n_sh + sb.n_sh - inter)
        """,
        "dedup_groups": f"""
            WITH RECURSIVE sh0 AS ({_SH_SQL}),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 256),
            sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            pairs AS (
              SELECT doc_a, doc_b
              FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
              WHERE inter * 1.0 >= 0.5 * (sa.n_sh + sb.n_sh - inter)),
            edges AS (
              SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
            SELECT n AS doc_id, least(n, min(m)) AS group_id,
                   least(n, min(m)) = n AS is_survivor
            FROM reach GROUP BY n
        """,
        "ann_brute_force_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qv, e.embedding) AS cosine
              FROM q, embeddings e WHERE q.query_id <> e.vec_id)
            SELECT query_id, neighbor_id, rank FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored)
            WHERE rank <= 5
        """,
        "dedup_embedding_cosine": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a, embeddings b
            WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id
              AND list_cosine_similarity(a.embedding, b.embedding) >= 0.3
        """,
        "text_quality": f"""
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len({tok}) AS BIGINT) AS n_tokens_ws,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter({tok}, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS BIGINT) AS n_stopwords,
                   (length(text) >= 50 AND len({tok}) >= 10
                    AND len(regexp_extract_all(text, '[^\\w\\s]')) * 4
                        <= len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))) AS is_quality
            FROM documents
        """,
        "text_langid": f"""
            WITH s AS (
              SELECT doc_id,
                     CAST(len(list_filter({tok}, t -> t IN ('the','and','of'))) AS BIGINT) AS score_en,
                     CAST(len(list_filter({tok}, t -> t IN ('der','und','die'))) AS BIGINT) AS score_de,
                     CAST(len(list_filter({tok}, t -> t IN ('el','de','que'))) AS BIGINT) AS score_es,
                     CAST(len(list_filter({tok}, t -> t IN ('le','et','la'))) AS BIGINT) AS score_fr
              FROM documents)
            SELECT doc_id, score_en, score_de, score_es, score_fr,
                   CASE WHEN greatest(score_en, score_de, score_es, score_fr) <= 0 THEN 'und'
                        WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
                        WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
                        WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM s
        """,
        "text_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({tok})), ' ')) AS fingerprint,
                   md5(text) AS raw_md5
            FROM documents
        """,
        "token_count": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   (doc_id % 64) * 16 + 64 AS width,
                   (doc_id % 48) * 16 + 64 AS height
            FROM documents
        """,
        "multimodal_frame_counts": """
            SELECT doc_id,
                   CAST(floor(((doc_id % 9000) + 1000 - 1) / 1000) + 1 AS BIGINT) AS n_frames
            FROM documents WHERE doc_id % 3 = 2
        """,
    }
