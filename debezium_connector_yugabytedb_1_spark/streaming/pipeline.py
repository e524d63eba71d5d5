"""S4 + Q1 + the apply loop — the engine's equivalent of the reference's
per-tablet GetChanges poll loop feeding the dispatcher and sink.

Reference shape being re-created (``YugabyteDBStreamingChangeEventSource
.getChanges2:333-827``): poll a bounded batch from the WAL position after
the checkpoint → filter (safepoint/table/NOOP) → decode → handle DDL by
refreshing schema → emit envelopes → sink → ack checkpoint. Backpressure is
the events-per-batch bound (Q1, the ``ChangeEventQueue``/``cdc.poll.limit``
analogue, ``YugabyteDBConnectorTask.java:169-175``).

Spark-first execution per poll window:

    window stats, one aggregation per (tablet_id, op)  [1-slot lookahead
      thread: runs while the previous window MERGEs]
      → ack offsets, row count, touched buckets, DDL markers, table set
      → lineage + meter partials of the rows the resume filter will keep
    then per sub-batch (one pass, all JVM):
      parquet scan (index-range + checkpoint pushdown)
        → filters (pushed to scan)
        → from_json decode (codegen)
        → PK-update split (union)
        → hash-agg fold per (repo, path)  [map-side partial agg]
        → bucket-pruned copy-on-write MERGE
      → lineage append (pyarrow) + meter fold, driver-side, no Spark job
    → checkpoint commit (pyarrow, no Spark job)

The DDL cut: a batch containing DDL markers is split at each DDL offset so
schema evolution applies between sub-batches, exactly the reference's
per-tablet lazy refresh collapsed to batch boundaries
(``YugabyteDBStreamingChangeEventSource.java:688-720``;
``YugabyteDBSchemaEvolutionTest.java:54-92``).

Exactly-once: MERGE is idempotent (batch-id skip + per-row monotonic offset
guard) and the checkpoint commits only after the MERGE version pointer
swap — a crash between the two replays a batch that the guards absorb. Same
stance as the reference's explicit-checkpoint protocol
(``YugabyteDBStreamingChangeEventSource.java:941-995``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable, MergeStats
from ..operators import filters
from ..offsets import offset_struct
from ..operators.checkpoint import (
    CheckpointStore,
    merge_offset_rows,
    resume_filter,
    resume_predicate,
)
from ..operators.decode import decode_envelope
from ..operators.emit import DML_OPS, split_pk_updates
from ..operators.metrics import (
    MeterPartial,
    MetricsSink,
    TaskMetrics,
    lineage_rows,
    partial_aggs,
    to_partial,
    warn_wal_backlog,
)


@dataclass
class BatchResult:
    batch_id: str
    n_input: int
    n_dispatched: int
    merge: MergeStats
    ddl_applied: list[str] = field(default_factory=list)


class CdcPipeline:
    """Micro-batch CDC replay: events parquet → lake table, resumable."""

    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        table: LakeTable,
        ckpt: CheckpointStore,
        metrics: MetricsSink | None = None,
        events_per_batch: int = 500_000,
        table_include: str | None = None,
        table_exclude: str | None = None,
        skipped_ops: tuple[str, ...] = (),
        use_pandas_decode: bool = False,
        message_sink: MetricsSink | None = None,
        message_prefix_include: str | None = None,
        message_prefix_exclude: str | None = None,
        auto_add_tables: bool = False,
        expire_keep: int | None = 64,
        vacuum_every: int | None = None,
        prune_wal_every: int | None = None,
        task_metrics: "TaskMetrics | None" = None,
        snapshot_mode: str = "initial",
        snapshot_source: DataFrame | None = None,
    ):
        from ..config import validate_config

        # fail-fast front door (reference: config validated before any work
        # starts — YugabyteDBConnectorConfig.validate:1428): bad regexes,
        # op codes, or batch sizes error HERE, not mid-stream
        validate_config(
            {
                k: v
                for k, v in {
                    "table_include": table_include,
                    "table_exclude": table_exclude,
                    "skipped_operations": skipped_ops,
                    "message_prefix_include": message_prefix_include,
                    "message_prefix_exclude": message_prefix_exclude,
                    "events_per_batch": events_per_batch,
                    "snapshot_mode": snapshot_mode,
                }.items()
                if v not in (None, ())
            }
        )
        #: snapshot.mode policy honored by ``start()``
        #: (``YugabyteDBConnectorConfig.java:985-1046``); ``run()`` remains
        #: the bare streaming loop for callers managing snapshots themselves
        self.snapshot_mode = snapshot_mode
        self.snapshot_source = snapshot_source
        self.spark = spark
        self.events_path = events_path
        self.table = table
        self.ckpt = ckpt
        self.metrics = metrics
        #: opt-in MXBean-parity gauges (``TaskMetrics.snapshot()``); folded
        #: from partials the window-stats pass computes, so no extra job
        self.task_metrics = task_metrics
        self.events_per_batch = events_per_batch
        self.table_include = table_include
        self.table_exclude = table_exclude
        self.skipped_ops = skipped_ops
        self.use_pandas_decode = use_pandas_decode
        self.message_sink = message_sink
        self.message_prefix_include = message_prefix_include
        self.message_prefix_exclude = message_prefix_exclude
        #: D3 — auto table-poller (``YugabyteDBTablePoller.java:31-120``):
        #: each poll window's observed table set (a collect_set folded into
        #: the existing stats aggregation — no extra job) is diffed against
        #: the include config; a new table extends the include regex BEFORE
        #: the window is processed, mirroring the reference's restart-at-
        #: unprocessed-offset reconfiguration. Applied diffs land in
        #: ``self.reconfigurations``.
        self.auto_add_tables = auto_add_tables
        self.reconfigurations: list[tuple[int, tuple[str, ...]]] = []
        #: lake-version retention: every window commits 1+ manifest
        #: versions, so a long-running stream accumulates version files and
        #: dead data dirs O(#windows); expiring down to the last
        #: ``expire_keep`` after each commit is an O(keep) driver-side
        #: listing (None disables — e.g. to keep full time-travel history)
        if expire_keep is not None and int(expire_keep) < 1:
            raise ValueError(f"expire_keep must be >= 1 or None, got {expire_keep}")
        self.expire_keep = expire_keep
        #: opt-in tombstone maintenance: every ``vacuum_every`` committed
        #: windows, reclaim tombstones whose delete offset is below the
        #: committed checkpoint's min index across tablets — below that
        #: bound no transport can redeliver an out-of-order CREATE that the
        #: tombstone exists to absorb, so reclaiming is safe. Off by
        #: default: it is a full-table rewrite (Iceberg rewrite_data_files
        #: analogue), a maintenance cost the operator schedules, not a
        #: per-batch tax. Reclaim counts land in ``self.vacuumed``.
        if vacuum_every is not None and int(vacuum_every) < 1:
            raise ValueError(f"vacuum_every must be >= 1 or None, got {vacuum_every}")
        self.vacuum_every = vacuum_every
        self.vacuumed = 0
        #: opt-in WAL-retention ack: every ``prune_wal_every`` committed
        #: batches, delete log segments wholly below the committed resume
        #: point (``generator.prune_wal_segments`` — the reference's
        #: commitOffset handshake, ``YugabyteDBConnectorTask.java:437-477``).
        #: Only effective on segment-partitioned logs. Counts land in
        #: ``self.pruned_segments``.
        if prune_wal_every is not None and int(prune_wal_every) < 1:
            raise ValueError(
                f"prune_wal_every must be >= 1 or None, got {prune_wal_every}"
            )
        self.prune_wal_every = prune_wal_every
        self.pruned_segments = 0

    # ------------------------------------------------------------------
    def _events(self) -> DataFrame | None:
        import os

        # a segmented WAL whose every segment was retention-pruned is a
        # fully-consumed log: nothing to read, not an error (the resume
        # point is at/above the trim point by construction)
        if os.path.exists(os.path.join(self.events_path, "_ybcdc_meta.json")) and not any(
            n.startswith("segment=") for n in os.listdir(self.events_path)
        ):
            return None
        return self.spark.read.parquet(self.events_path)

    def _segment_size(self) -> int | None:
        import json
        import os

        meta = os.path.join(self.events_path, "_ybcdc_meta.json")
        if os.path.exists(meta):
            with open(meta) as f:
                return json.load(f).get("segment_size")
        return None

    def _max_index(self, events: DataFrame) -> int | None:
        """Log extent. On a WAL-segment-partitioned log the max index lives
        in the MAX segment directory (``segment = index // segment_size`` is
        the write invariant ``_window``'s pruning already relies on), so the
        extent scan prunes to ONE segment — O(segment), not O(log): the full
        column scan here was several seconds of serial start-up time per
        replay at 8M events and would be O(100 TB) on a real log."""
        import os

        seg = self._segment_size()
        if seg and "segment" in events.columns:
            segs = [
                int(n.split("=", 1)[1])
                for n in os.listdir(self.events_path)
                if n.startswith("segment=")
            ]
            if segs:
                m = (
                    events.where(F.col("segment") == max(segs))
                    .agg(F.max("index"))
                    .collect()[0][0]
                )
                if m is not None:
                    return int(m)
                # max segment dir committed but empty — fall through to the
                # full scan rather than mis-report an empty log
        m = events.agg(F.max("index")).collect()[0][0]
        return None if m is None else int(m)

    def _window(self, events: DataFrame, lo: int, hi: int) -> DataFrame:
        """Poll window [lo, hi): pushes an index-range predicate and — when
        the log is WAL-segment partitioned — a partition-pruning segment
        predicate, so a poll reads O(batch), not O(log)."""
        w = events.where((F.col("index") >= lo) & (F.col("index") < hi))
        seg = self._segment_size()
        if seg and "segment" in events.columns:
            w = w.where(F.col("segment").between(lo // seg, (hi - 1) // seg))
        return w

    def start(
        self,
        max_batches: int | None = None,
        snapshot_kwargs: dict | None = None,
    ) -> list[BatchResult]:
        """Connector start: execute the configured ``snapshot_mode`` policy,
        then stream iff the mode streams (the task's doExecute sequence —
        snapshotter consulted first, streaming source started after:
        ``YugabyteDBConnectorTask.java`` / ``spi/Snapshotter.java``).

        ``never`` skips the snapshot entirely (and refuses to resume over a
        half-taken one); ``initial_only`` returns after the snapshot without
        processing a single stream window; ``always`` re-snapshots on every
        start. Snapshot chunk counts land in ``self.snapshot_chunks``."""
        from ..operators.snapshot import execute_snapshot_policy

        self.snapshot_chunks, should_stream = execute_snapshot_policy(
            self.snapshot_mode,
            self.snapshot_source,
            self.table,
            self.ckpt,
            **(snapshot_kwargs or {}),
        )
        if not should_stream:
            return []
        return self.run(max_batches=max_batches)

    def run(self, max_batches: int | None = None) -> list[BatchResult]:
        """Process micro-batch windows from the stored cursor to the end of
        the available log (or ``max_batches`` windows — the kill/resume
        test's kill switch)."""
        import os
        import time
        from concurrent.futures import ThreadPoolExecutor

        prof = os.environ.get("SPARK_GRAFT_PROFILE") == "1"

        def _t(label, t0):
            if prof:
                print(f"[profile] {label}: {time.monotonic() - t0:.3f}s", flush=True)

        t0 = time.monotonic()
        events = self._events()
        if events is None:  # fully retention-pruned log — all consumed
            return []
        _t("events_read", t0)
        lo = int(self.ckpt.meta().get("next_lo", 0))
        results: list[BatchResult] = []
        n = 0

        # pipelined stats: window k+1's stats job runs concurrently with
        # window k's merges (stats depends only on the log, not the lake),
        # hiding the stats pass behind the merge — the GetChanges prefetch
        # the reference gets from its poll loop, expressed as a 1-slot
        # lookahead thread (Spark schedulers are thread-safe). ``ckpt_rows``
        # is the checkpoint the window's ``_apply`` will resume-filter
        # against, known at submit time: the committed rows max-merged with
        # the offsets of every window before it.
        def submit(pool, wlo, whi, ckpt_rows):
            w = self._window(events, wlo, whi)
            return pool.submit(self._window_stats, w, ckpt_rows), w

        with ThreadPoolExecutor(max_workers=1) as pool:
            # the first window's stats job runs concurrently with the
            # log-extent scan below — neither depends on the other, and both
            # are otherwise serial time ahead of the first merge
            t0 = time.monotonic()
            fut, window = submit(
                pool, lo, lo + self.events_per_batch, self.ckpt.load_rows()
            )
            _t("stats_submit", t0)
            t0 = time.monotonic()
            max_index = self._max_index(events)
            _t("max_index", t0)
            if max_index is None:
                fut.result()
                return []
            while lo <= max_index and (max_batches is None or n < max_batches):
                hi = lo + self.events_per_batch
                if fut is None:
                    fut, window = submit(pool, lo, hi, self.ckpt.load_rows())
                t0 = time.monotonic()
                stats = fut.result()
                _t("stats_wait", t0)
                if self.auto_add_tables:
                    self._poll_tables(stats["tables"], lo)
                nxt_lo, nxt_hi = hi, hi + self.events_per_batch
                if nxt_lo <= max_index and (max_batches is None or n + 1 < max_batches):
                    nxt_fut, nxt_window = submit(
                        pool, nxt_lo, nxt_hi,
                        merge_offset_rows(self.ckpt.load_rows(), stats["offsets"]),
                    )
                else:
                    nxt_fut, nxt_window = None, None
                t0 = time.monotonic()
                results.extend(self._process_window(window, lo, hi, stats))
                _t("process_window", t0)
                # offsets were part of the single stats pass; commit + advance
                t0 = time.monotonic()
                self.ckpt.commit(stats["offsets"], meta={"next_lo": hi})
                if self.expire_keep is not None:
                    self.table.expire_versions(self.expire_keep)
                if self.vacuum_every is not None and (n + 1) % self.vacuum_every == 0:
                    committed = self.ckpt.load_rows() or []
                    if committed:
                        safe = min(int(r[2]) for r in committed)
                        self.vacuumed += self.table.vacuum_tombstones(safe)
                if (
                    self.prune_wal_every is not None
                    and (n + 1) % self.prune_wal_every == 0
                ):
                    from ..generator import prune_wal_segments

                    # hi is durably committed (next_lo) — the log below it
                    # is never re-read, even on crash-resume
                    self.pruned_segments += prune_wal_segments(
                        self.events_path, hi
                    )
                _t("ckpt_commit", t0)
                fut, window = nxt_fut, nxt_window
                lo = hi
                n += 1
        return results

    def _poll_tables(self, observed: set, window_lo: int) -> None:
        """D3 — the between-batch table poll: extend the include config
        with newly observed tables that the current include would filter,
        BEFORE this window is processed (the reference's task
        reconfiguration restarts polling at the unprocessed offset, so no
        rows of the new table are lost — ``YugabyteDBTablePoller.java
        :31-120``). No-op when no include filter is set (everything already
        dispatches) or nothing new appeared."""
        import re

        from ..operators.tablepoll import reconfigure_include

        if self.table_include is None:
            return
        new = tuple(
            sorted(
                t for t in observed
                if not re.search(self.table_include, t)
                and not (self.table_exclude and re.search(self.table_exclude, t))
            )
        )
        if not new:
            return
        self.table_include = reconfigure_include(self.table_include, new)
        self.reconfigurations.append((window_lo, new))

    def _window_stats(self, window: DataFrame, ckpt_rows: list | None) -> dict:
        """ONE aggregation job per poll window, grouped by ``(tablet_id,
        op)``, yields everything the driver needs: per-tablet ack offsets +
        row counts, the touched-bucket set (incl. PK-update old keys,
        decoded inline for the rare pku rows), the DDL markers, the table
        set, and — with lineage or meters on — the ``MeterPartial`` rows of
        exactly the rows ``_apply`` meters: no DDL markers, and only rows
        strictly newer than ``ckpt_rows``, the checkpoint its
        ``resume_filter`` will load. A DDL window adds one
        ``(sub_batch, tablet_id, op)`` aggregation that returns the DDL
        payloads and the partials per sub-batch of the DDL cut. Collapsing
        these scans keeps the per-batch serial fraction small enough for
        the N→4N scaling criterion (Amdahl: every extra driver-synchronous
        job is pure serial time), and running them in the lookahead thread
        hides them behind the previous window's MERGE."""
        import json

        from ..lake import bucket_expr

        nb = self.table.n_buckets
        bucket_main = F.when(
            F.col("op").isin(*DML_OPS, "pku"), bucket_expr(nb, ("repo", "path"))
        )
        # PK updates carry the old key top-level (record-key block), so this
        # pass never opens the payload blob at all: with column pruning the
        # scan reads only the narrow key/offset columns — the dominant-size
        # payload column stays on disk (DDL payloads, if any, come from the
        # DDL window's second aggregation below; DDLs are rare by
        # construction)
        if "old_path" in window.columns:
            # a cross-repo PK update carries old_repo in the key block; when
            # absent (same-repo rename, or legacy corpus) the repo is shared
            old_repo = (
                F.coalesce(F.col("old_repo"), F.col("repo"))
                if "old_repo" in window.columns
                else F.col("repo")
            )
            old_key_hash = F.xxhash64(old_repo, F.col("old_path"))
        else:  # legacy corpus without the key block: regexp the payload
            old_key_hash = F.xxhash64(
                F.regexp_extract("payload", r'"before_key":\{"repo":"([^"]*)"', 1),
                F.regexp_extract(
                    "payload", r'"before_key":\{"repo":"[^"]*","path":"([^"]*)"', 1
                ),
            )
        bucket_old = F.when(
            F.col("op") == "pku", F.pmod(old_key_hash, F.lit(nb))
        )
        op = F.col("op")
        meters = self.metrics is not None or self.task_metrics is not None
        # the rows ``_apply`` meters: no DDL markers, resume-filtered
        keep = (op != "ddl") & resume_predicate(ckpt_rows)
        aggs = partial_aggs(keep) if meters else []
        # collect_set of a scalar bucket id is map-side combinable and its
        # buffer is bounded by n_buckets (~16) — NOT one entry per event.
        # (collect_list of per-event arrays buffered one element per event
        # per tablet before array_distinct: an executor-memory blowup on a
        # hot tablet at 10^8-event windows.)
        rows = (
            window.groupBy("tablet_id", "op")
            .agg(
                F.max(offset_struct()).alias("o"),
                F.count(F.lit(1)).alias("n"),
                F.array_union(
                    F.collect_set(bucket_main), F.collect_set(bucket_old)
                ).alias("buckets"),
                F.array_compact(
                    F.collect_list(F.when(op == "ddl", F.col("index")))
                ).alias("ddl_idx"),
                # table-poller input: bounded by #tables, map-side combinable
                F.collect_set("table").alias("tables"),
                *aggs,
            )
            .collect()
        )
        # roll the (tablet_id, op) groups up per tablet
        offsets: dict[str, tuple] = {}
        for r in rows:
            o = tuple(r["o"])
            offsets[r["tablet_id"]] = max(offsets.get(r["tablet_id"], o), o)
        ddl_indexes = sorted(int(i) for r in rows for i in r["ddl_idx"])
        partials: dict[int, list[MeterPartial]] = {}
        if meters and not ddl_indexes:
            partials[0] = [to_partial(r) for r in rows]
        ddls = []
        if ddl_indexes:
            # sub-batch i of the DDL cut holds the rows with i DDL markers
            # at or below their index (``_process_window``'s cuts). Without
            # meters only the marker rows are read: a point lookup that
            # keeps the payload column of every other row on disk.
            sub_batch = sum(
                ((F.col("index") >= i).cast("int") for i in ddl_indexes), F.lit(0)
            )
            src = window if meters else window.where(F.col("index").isin(*ddl_indexes))
            sub_rows = (
                src.groupBy(sub_batch.alias("sub_batch"), "tablet_id", "op")
                .agg(
                    F.collect_list(
                        F.when(op == "ddl", F.struct("index", "payload"))
                    ).alias("ddl"),
                    *aggs,
                )
                .collect()
            )
            payloads = {int(d["index"]): d["payload"] for r in sub_rows for d in r["ddl"]}
            ddls = [(i, json.loads(payloads[i])) for i in ddl_indexes]
            if meters:
                for r in sub_rows:
                    partials.setdefault(r["sub_batch"], []).append(to_partial(r))
        return {
            "offsets": [
                (t, term, idx, wid, "streaming")
                for t, (term, idx, wid) in offsets.items()
            ],
            "n_input": sum(r["n"] for r in rows),
            "buckets": sorted({int(b) for r in rows for b in r["buckets"]}),
            "ddls": ddls,
            "tables": {t for r in rows for t in r["tables"]},
            "partials": partials,
        }

    # ------------------------------------------------------------------
    def _process_window(
        self, window: DataFrame, lo: int, hi: int, stats: dict
    ) -> list[BatchResult]:
        """Split the window at DDL offsets; apply sub-batches in order with
        schema evolution between them (the DDL cut)."""
        cuts = [lo] + [i for i, _ in stats["ddls"]] + [hi]
        results = []
        pending_ddl: list[str] = []
        for i in range(len(cuts) - 1):
            sub_lo, sub_hi = cuts[i], cuts[i + 1]
            if i > 0:
                # apply the DDL that opens this sub-batch (D1)
                pending_ddl += self._apply_ddl(stats["ddls"][i - 1][1])
            if sub_lo >= sub_hi or (i > 0 and sub_hi - sub_lo <= 1):
                # empty slice (DDL at a window edge / adjacent DDLs that
                # leave only the marker row itself) — nothing to replay
                continue
            sub = window.where((F.col("index") >= sub_lo) & (F.col("index") < sub_hi))
            if i > 0:
                sub = sub.where(F.col("op") != "ddl")
            res = self._apply(
                sub, f"b{sub_lo}-{sub_hi}", stats, stats["partials"].get(i, [])
            )
            res.ddl_applied = pending_ddl
            pending_ddl = []
            results.append(res)
        return results

    def _apply_ddl(self, d: dict) -> list[str]:
        """D1 — schema evolution between batches; refresh-only-if-changed
        (``YugabyteDBSchema.shouldRefreshSchema:213-243``)."""
        applied = []
        if d.get("action") == "add_column":
            if self.table.add_column(d["name"], d.get("type", "string")):
                applied.append(f"add_column {d['name']}")
        elif d.get("action") == "rename_column":
            if self.table.rename_column(d["old"], d["new"]):
                applied.append(f"rename_column {d['old']}->{d['new']}")
        elif d.get("action") == "drop_column":
            if self.table.drop_column(d["name"]):
                applied.append(f"drop_column {d['name']}")
        return applied

    # ------------------------------------------------------------------
    def _apply(
        self,
        batch: DataFrame,
        batch_id: str,
        stats: dict,
        partials: list[MeterPartial],
    ) -> BatchResult:
        """One sub-batch through the full operator chain — a single Spark
        job (decode→fold→MERGE write); offsets/counts/buckets came from the
        window-level stats pass, and so did ``partials``, this sub-batch's
        lineage and meter input: appending the lineage rows and folding the
        meters run on the driver with no Spark job."""
        batch = resume_filter(batch, self.ckpt.load())
        if self.metrics is not None:
            self.metrics.append(lineage_rows(partials, batch_id))
        if self.task_metrics is not None:
            self.task_metrics.fold(
                partials,
                position={
                    t: f"{term}:{idx}:{w}"
                    for (t, term, idx, w, _src) in stats["offsets"]
                },
            )
        if self.message_sink is not None and "msg_prefix" in batch.columns:
            # logical-decoding message side output
            # (``LogicalDecodingMessageMonitor.java``)
            from ..operators.metrics import decode_messages

            self.message_sink.append(
                decode_messages(
                    batch,
                    include=self.message_prefix_include,
                    exclude=self.message_prefix_exclude,
                )
            )
        disp = filters.dispatchable(
            filters.table_filter(batch, self.table_include, self.table_exclude)
        )
        disp = filters.skipped_operations_filter(disp, self.skipped_ops)
        decoded = decode_envelope(
            disp.where(F.col("op").isin(*DML_OPS, "pku")),
            use_pandas=self.use_pandas_decode,
            columns=self.table.columns,
        )
        dml = split_pk_updates(decoded)
        # fused fold+MERGE: one aggregation job does the whole apply
        mstats = self.table.merge_events(dml, batch_id, touched_buckets=stats["buckets"])
        n_dispatched = mstats.upserted + mstats.deleted
        warn_wal_backlog(stats["n_input"] - n_dispatched, n_dispatched)
        return BatchResult(batch_id, stats["n_input"], n_dispatched, mstats)
