"""Deterministic synthetic CDC change-event corpus.

Models the wire stream the reference connector consumes: per-tablet
``RowMessage`` records with op + old/new tuples + commit/record hybrid times
(``YugabyteDBStreamingChangeEventSource.java:583-599``,
``YbProtoReplicationMessage.java:36-181``), over a source table of
code-repository files ``(repo, path, commit, lang, content)``.

Everything is a pure function of ``(event id, seed)`` computed with JVM-side
expressions on ``spark.range`` — no driver-side loops, no wall-clock, so the
same call scales from 10^4 (pytest) to 10^10 (cluster) rows and is bit-stable
across parallelism levels (the scaling-efficiency evidence depends on that).

Event kinds generated (op column):
  r/c/u      read/insert/update envelopes (update = changed-columns-only,
             mirroring the gRPC connector's partial new-tuples,
             ``YBTableSchemaBuilder.java:280-292``)
  d/t        delete / tombstone (after = null)
  pku        primary-key update (path rename) — split downstream into
             DELETE(old)+CREATE(new), mirroring
             ``YugabyteDBChangeRecordEmitter.java:365-378``
  ddl        schema-evolution marker (add_column), mirroring DDL records
             that trigger schema refresh
             (``YugabyteDBStreamingChangeEventSource.java:688-720``)
  SAFEPOINT / NOOP   watermark carriers / non-dispatched records
             (``:590-593``, ``:743-744``)

Offsets ``(term, index, write_id)`` are monotone in event id (OpId analogue);
``commit_time`` carries jitter so arrival/commit order differ. Rows are
written in a *shuffled* order so ordering must come from the engine, not from
file layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCE_TABLE = "public.repo_files"

_LANGS = ["py", "java", "rs", "go", "md"]
_LANG_NAMES = ["python", "java", "rust", "go", "markdown"]


def _h(col, seed: int):
    """Deterministic 64-bit hash stream keyed by seed."""
    return F.xxhash64(col, F.lit(seed))


def _pm(col, seed: int, mod: int):
    return F.pmod(_h(col, seed), F.lit(mod))


def generate_events(
    spark: SparkSession,
    n_events: int,
    *,
    n_repos: int = 50,
    paths_per_repo: int = 40,
    n_tablets: int = 8,
    seed: int = 42,
    hot_repo_pct: int = 25,
    ddl_at: tuple[int, ...] = (),
    msg_per_mille: int = 0,
    num_partitions: int | None = None,
    payload_format: str = "json",
    txn_markers: bool = False,
    start: int = 0,
) -> DataFrame:
    """Build the enveloped change-event DataFrame (not yet written anywhere).

    ``hot_repo_pct``: percentage of traffic hitting repo-0 (skew knob, the
    analogue of the colocated/hot-tablet imbalance the reference's
    ``groupPartitionsSmartly`` exists for, ``YugabyteDBConnectorUtils.java:51-103``).
    ``ddl_at``: event ids replaced by ``add_column stars`` DDL markers.

    ``payload_format``: ``"json"`` writes the DML payload as a JSON string
    (the transport-agnostic wire form, decoded by ``from_json``);
    ``"shredded"`` stores the same envelope as a typed ``change`` struct
    column — parquet then shreds it columnar, so a consumer skips the JSON
    parse entirely and the scan touches ~40% fewer bytes per event (the
    measured decode stage is the scaling bottleneck on shared-memory
    hosts). Rare non-DML payloads (DDL markers, logical-decoding messages)
    stay JSON in the ``payload`` string column in both formats, since
    their consumers are driver-side point lookups.

    ``start``: first event id — every column is a pure function of the
    event id, so ``generate_events(n, start=s)`` is bit-identical to the
    ``[s, s+n)`` slice of ``generate_events(s+n)``. This is what lets a
    long-horizon soak stream windows of a 10^8+-event log without ever
    materializing (or re-ranging) the whole log per batch.
    """
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    df = spark.range(start, start + n_events, 1, num_partitions).withColumnRenamed(
        "id", "eid"
    )

    # --- key space (skewed) -------------------------------------------------
    repo_idx = F.when(
        _pm(F.col("eid"), seed + 1, 100) < hot_repo_pct, F.lit(0)
    ).otherwise(_pm(F.col("eid"), seed + 2, n_repos))
    path_idx = _pm(F.col("eid"), seed + 3, paths_per_repo)
    lang_idx = F.pmod(F.col("path_idx"), F.lit(len(_LANGS))).cast("int")

    df = (
        df.withColumn("repo_idx", repo_idx)
        .withColumn("path_idx", path_idx)
        .withColumn("repo", F.concat(F.lit("org/repo-"), F.col("repo_idx")))
        .withColumn("lang_idx", lang_idx)
        .withColumn(
            "path",
            F.concat(
                F.lit("src/f"),
                F.col("path_idx"),
                F.lit("."),
                F.element_at(F.array(*[F.lit(x) for x in _LANGS]), (F.col("lang_idx") + 1).cast("int")),
            ),
        )
    )

    # --- tablet assignment: hash-sharding over the row key ------------------
    # HashPartition analogue (HashPartition.java:25-49): tablet = hash-range
    # bucket of the partition key. We shard on repo so one repo = one tablet
    # stream (per-tablet offset monotonicity then holds per key too).
    df = df.withColumn(
        "tablet_id",
        F.concat(F.lit("tablet-"), F.pmod(F.xxhash64("repo"), F.lit(n_tablets))),
    )

    # --- offsets (OpId analogue): monotone in eid ---------------------------
    df = (
        df.withColumn("term", (F.col("eid") / F.lit(10_000_000)).cast("long"))
        .withColumn("index", F.col("eid").cast("long"))
        .withColumn("write_id", _pm(F.col("eid"), seed + 4, 4))
        .withColumn(
            "commit_time",
            F.lit(1_700_000_000_000_000) + F.col("eid") * 1000 + _pm(F.col("eid"), seed + 5, 997),
        )
        .withColumn("record_time", F.col("commit_time") - _pm(F.col("eid"), seed + 6, 500))
        .withColumn("txn_id", F.conv((F.col("eid") / 16).cast("long").cast("string"), 10, 16))
    )

    # --- op mix --------------------------------------------------------------
    opr = _pm(F.col("eid"), seed + 7, 1000)
    op = (
        F.when(opr < 15, F.lit("SAFEPOINT"))
        .when(opr < 20, F.lit("NOOP"))
        .when(opr < 520, F.lit("c"))
        .when(opr < 840, F.lit("u"))
        .when(opr < 920, F.lit("d"))
        .when(opr < 950, F.lit("t"))
        .when(opr < 970, F.lit("pku"))
        .when(opr < 970 + msg_per_mille, F.lit("m"))
        .otherwise(F.lit("u"))
    )
    if ddl_at:
        op = F.when(F.col("eid").isin(*ddl_at), F.lit("ddl")).otherwise(op)
    df = df.withColumn("op", op)

    min_ddl = min(ddl_at) if ddl_at else None
    df = df.withColumn(
        "schema_version",
        F.lit(0) if min_ddl is None else F.when(F.col("eid") > min_ddl, 1).otherwise(0),
    )

    # --- payload (after/before images as JSON, decoded by P1) ---------------
    commit_hex = F.lower(F.conv(F.abs(_h(F.col("eid"), seed + 8)).cast("string"), 10, 16))
    content = F.concat(
        F.lit("// "),
        F.col("repo"),
        F.lit("/"),
        F.col("path"),
        F.lit(" rev="),
        commit_hex,
        F.lit(" body="),
        F.repeat(F.concat(F.lit("x"), F.pmod(F.col("eid"), F.lit(7))), 16),
    )
    lang_name = F.element_at(F.array(*[F.lit(x) for x in _LANG_NAMES]), (F.col("lang_idx") + 1).cast("int"))
    stars = F.when(
        F.col("schema_version") >= 1, _pm(F.col("eid"), seed + 9, 10_000)
    ).otherwise(F.lit(None).cast("long"))

    # changed-column subset for updates (always >=1 changed: commit)
    chg = _h(F.col("eid"), seed + 10)
    chg_content = (F.abs(chg) % 2) == 0
    chg_lang = (F.abs(chg) % 5) == 0
    chg_stars = (F.col("schema_version") >= 1) & ((F.abs(chg) % 3) == 0)

    is_full = F.col("op").isin("c", "r", "pku")
    after = F.struct(
        commit_hex.alias("commit"),
        F.when(is_full | chg_lang, lang_name).alias("lang"),
        F.when(is_full | chg_content, content).alias("content"),
        F.when(is_full | chg_stars, stars).alias("stars"),
    )
    changed = F.array_compact(
        F.array(
            F.lit("commit"),
            F.when(is_full | chg_lang, F.lit("lang")),
            F.when(is_full | chg_content, F.lit("content")),
            F.when(is_full | chg_stars, F.lit("stars")),
        )
    )
    # pku: the event's (repo, path) is the NEW key; before_key carries the old
    old_path = F.concat(
        F.lit("src/f"),
        F.pmod(F.col("path_idx") + 7, F.lit(paths_per_repo)),
        F.lit("."),
        F.element_at(F.array(*[F.lit(x) for x in _LANGS]), (F.col("lang_idx") + 1).cast("int")),
    )
    before_key = F.struct(F.col("repo").alias("repo"), old_path.alias("path"))
    payload = (
        F.when(
            F.col("op").isin("c", "r", "u"),
            F.to_json(F.struct(after.alias("after"), changed.alias("changed"))),
        )
        .when(
            F.col("op") == "pku",
            F.to_json(
                F.struct(
                    after.alias("after"),
                    changed.alias("changed"),
                    before_key.alias("before_key"),
                )
            ),
        )
        .when(
            F.col("op") == "m",
            F.to_json(
                F.struct(
                    F.col("txn_id").alias("txid"),
                    F.concat(F.lit("note-"), F.pmod(F.col("eid"), F.lit(97))).alias(
                        "note"
                    ),
                )
            ),
        )
        .when(
            F.col("op") == "ddl",
            F.to_json(
                F.struct(
                    F.lit("add_column").alias("action"),
                    F.lit("stars").alias("name"),
                    F.lit("long").alias("type"),
                )
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    if payload_format == "shredded":
        # DML envelope as a typed struct column; `payload` keeps only the
        # rare non-DML JSON (ddl markers, messages) for the point-lookup
        # consumers. `changed` marks unset cells, exactly as in JSON.
        change = F.when(
            F.col("op").isin("c", "r", "u", "pku"),
            F.struct(
                after.alias("after"),
                changed.alias("changed"),
                F.when(F.col("op") == "pku", before_key).alias("before_key"),
            ),
        )
        payload = F.when(F.col("op").isin("m", "ddl"), payload)
        df = df.withColumn("change", change)
    elif payload_format != "json":
        raise ValueError(f"unknown payload_format {payload_format!r}")
    df = (
        df.withColumn("payload", payload)
        .withColumn("table", F.lit(SOURCE_TABLE))
        # PK updates carry the old key top-level too (record-key block):
        # planners can find touched keys without opening the payload blob
        .withColumn(
            "old_repo", F.when(F.col("op") == "pku", F.col("repo"))
        )
        # logical-decoding message prefix (pg_logical_emit_message analogue)
        .withColumn(
            "msg_prefix",
            F.when(
                F.col("op") == "m",
                F.element_at(
                    F.array(F.lit("app.audit"), F.lit("app.signal"), F.lit("ext.other")),
                    (F.pmod(F.col("eid"), F.lit(3)) + 1).cast("int"),
                ),
            ),
        )
        .withColumn(
            "old_path", F.when(F.col("op") == "pku", old_path)
        )
    )

    cols = [
        "eid",
        "tablet_id",
        "table",
        "term",
        "index",
        "write_id",
        "commit_time",
        "record_time",
        "txn_id",
        "op",
        "repo",
        "path",
        "old_repo",
        "old_path",
        "msg_prefix",
        "schema_version",
        "payload",
    ]
    if payload_format == "shredded":
        cols.append("change")
    out = df.select(*cols)
    if txn_markers:
        out = out.unionByName(_txn_marker_rows(out), allowMissingColumns=True)
    return out


def _txn_marker_rows(events: DataFrame) -> DataFrame:
    """Transaction-boundary records: one BEGIN / COMMIT pair per
    (txn, tablet) stream fragment, interleaved with the DML exactly as the
    reference's streaming source books them
    (``YugabyteDBStreamingChangeEventSource.java:626-686``): BEGIN shares
    the commit time of the transaction's first record and COMMIT of its
    last, both with ``record_time`` NULL — equal-commit-time ordering then
    comes from the comparator's BEGIN < DML < COMMIT law
    (``Message.compareTo:64-79``, mirrored by ``order.msg_rank``).

    Marker offsets sit just outside the fragment's DML slots
    (``write_id`` −1 / +1 around the boundary rows), keeping per-tablet
    offset order consistent with commit order."""
    dml = events.where(F.col("op").isin("c", "r", "u", "d", "t", "pku", "m"))
    g = dml.groupBy("txn_id", "tablet_id").agg(
        F.min(F.struct("commit_time", "term", "index", "write_id")).alias("b"),
        F.max(F.struct("commit_time", "term", "index", "write_id")).alias("e"),
        F.first("table").alias("table"),
    )
    mk = g.select(
        "txn_id",
        "tablet_id",
        "table",
        F.explode(
            F.array(
                F.struct(
                    F.lit("BEGIN").alias("op"),
                    F.col("b.commit_time").alias("commit_time"),
                    F.col("b.term").alias("term"),
                    F.col("b.index").alias("index"),
                    (F.col("b.write_id") - 1).alias("write_id"),
                ),
                F.struct(
                    F.lit("COMMIT").alias("op"),
                    F.col("e.commit_time").alias("commit_time"),
                    F.col("e.term").alias("term"),
                    F.col("e.index").alias("index"),
                    (F.col("e.write_id") + 1).alias("write_id"),
                ),
            )
        ).alias("m"),
    )
    return mk.select(
        "txn_id",
        "tablet_id",
        "table",
        F.col("m.op").alias("op"),
        F.col("m.commit_time").alias("commit_time"),
        F.col("m.term").alias("term"),
        F.col("m.index").alias("index"),
        F.col("m.write_id").alias("write_id"),
        F.lit(None).cast("long").alias("record_time"),
        F.lit(None).cast("long").alias("eid"),
        F.lit(None).cast("string").alias("payload"),
    )


def write_events(
    df: DataFrame, path: str, *, shuffle_seed: int = 99, segment_size: int | None = None
) -> None:
    """Persist the corpus in *shuffled arrival order* (file order must not be
    offset order — the engine's ordering logic has to do the work).

    ``segment_size`` partitions the log into WAL-segment directories
    (``segment = index // segment_size``): rows stay shuffled *within* a
    segment, but a tailing reader can partition-prune to the segments of its
    poll window instead of rescanning the whole log — exactly how a real WAL
    / Kafka topic is consumed, and the difference between O(batch) and
    O(log) per poll at 10^10 events."""
    out = df.withColumn("_arr", F.xxhash64("eid", F.lit(shuffle_seed))).sortWithinPartitions(
        "_arr"
    ).drop("_arr")
    if segment_size:
        out = out.withColumn("segment", F.floor(F.col("index") / segment_size))
        # one file per segment: a WAL segment is one contiguous object, and
        # per-file open/footer overhead otherwise dominates small-file scans;
        # parquet row-groups keep a big segment file splittable across cores
        out = out.repartition("segment").sortWithinPartitions(
            F.xxhash64("eid", F.lit(shuffle_seed))
        )
        out.write.mode("overwrite").partitionBy("segment").parquet(path)
        import json
        import os

        with open(os.path.join(path, "_ybcdc_meta.json"), "w") as f:
            json.dump({"segment_size": segment_size}, f)
    else:
        out.write.mode("overwrite").parquet(path)


def prune_wal_segments(path: str, upto_index: int) -> int:
    """WAL-retention acknowledgement — the Spark-side analogue of the
    reference's offset-commit handshake: Kafka Connect's periodic
    ``commit()`` max-merges processed offsets and hands them to the
    server via ``commitOffset`` (``YugabyteDBConnectorTask.java:437-477``,
    ``getHigherOffsets:488-518``), which lets the database trim WAL the
    consumer no longer needs. Here the consumed log is a
    segment-partitioned parquet WAL, so acking = deleting every
    ``segment=K`` directory whose rows all have ``index < upto_index``.

    ``upto_index`` must be a durably-committed resume point (the
    pipeline's ``next_lo`` checkpoint meta: everything below it is
    processed AND checkpointed, so a crash-resume never re-reads it).
    Partially-covered segments are kept — trimming is whole-segment,
    like the server's WAL-file granularity. Driver-side directory
    surgery, zero Spark jobs; returns the number of segments removed.
    Requires a ``segment_size``-partitioned log (``write_events``);
    unsegmented logs are one object and cannot be trimmed."""
    import json
    import os
    import shutil

    meta = os.path.join(path, "_ybcdc_meta.json")
    if not os.path.exists(meta):
        return 0
    with open(meta) as f:
        seg_size = json.load(f).get("segment_size")
    if not seg_size:
        return 0
    removed = 0
    for name in os.listdir(path):
        if not name.startswith("segment="):
            continue
        k = int(name.split("=", 1)[1])
        if (k + 1) * seg_size <= upto_index:  # max index in segment K is (k+1)*s - 1
            shutil.rmtree(os.path.join(path, name))
            removed += 1
    return removed


def tablets_table(spark: SparkSession, n_tablets: int = 8, key_space: int = 65536) -> DataFrame:
    """S1 — tablet discovery output: hash-range shards covering the keyspace.

    Mirrors ``HashPartition.getListFrom`` (``HashPartition.java:261-269``):
    contiguous ``[key_start, key_end)`` ranges over the hash space.
    """
    step = key_space // n_tablets
    rows = [
        (f"tablet-{i}", i * step, key_space if i == n_tablets - 1 else (i + 1) * step)
        for i in range(n_tablets)
    ]
    return spark.createDataFrame(rows, "tablet_id string, key_start int, key_end int")


def validate_complete_ranges(tablets: DataFrame) -> bool:
    """S1 — range-completeness check (``HashPartition.validateCompleteRanges``,
    ``HashPartition.java:290-312``): sorted ranges must tile the keyspace with
    no gaps/overlaps. Window lag over sorted starts, fully declarative."""
    from pyspark.sql import Window as W

    w = W.orderBy("key_start")
    chk = tablets.select(
        "key_start",
        "key_end",
        F.lag("key_end").over(w).alias("prev_end"),
    ).where(F.col("prev_end").isNotNull() & (F.col("prev_end") != F.col("key_start")))
    return chk.isEmpty()
