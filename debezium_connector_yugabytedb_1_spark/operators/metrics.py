"""A1/H1 — per-partition lineage + applied-op metrics, WAL-backlog warning.

Reference: per-partition counters (total/create/update/delete/filtered/
erroneous events, ``AbstractYugabyteDBPartitionMetrics.java:26-121``),
``MilliSecondsBehindSource`` / committed-txn count
(``YugabyteDBStreamingPartitionMetrics.java:22-70``), and the
growing-WAL-backlog warning when >10k consecutive records are filtered with
none dispatched (``maybeWarnAboutGrowingWalBacklog:921-939``, const ``:66``).

Spark-first: a batch's lineage rows and its meter ticks both derive from
one set of per-``(tablet_id, op)`` partials (``partial_aggs``: count,
min/max index, newest offset in the unsigned HybridTime domain, last event,
last COMMIT txn, captured tables). The reference keeps its meters as
on-heap counters that cost the poll loop nothing; here the partials are
extra aggregate columns of an aggregation that already runs (the
window-stats pass both front ends run, ``streaming.pipeline.window_stats``),
so lineage rows (``lineage_rows``, appended with pyarrow by
``MetricsSink``) and meters (``TaskMetrics.fold``) cost no Spark job of
their own. ``batch_metrics`` and ``TaskMetrics.update`` are the DataFrame
forms of the same lineage rows and meter ticks, kept as the references
tests compare against.
"""

from __future__ import annotations

import logging
import os
import time
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .order import ht_key, ht_key_py, ht_to_epoch_ms, ht_to_epoch_ms_py, max_ht

log = logging.getLogger("ybcdc.metrics")

WAL_BACKLOG_WARN_THRESHOLD = 10_000  # reference: GROWING_WAL_WARNING_LOG_THRESHOLD

#: Lineage table columns and their parquet types, in the order (and with the
#: types) Spark wrote ``batch_metrics`` output, so sinks written by either
#: path read as one table.
LINEAGE_FIELDS = (
    ("tablet_id", "string"),
    ("op", "string"),
    ("n", "int64"),
    ("min_index", "int64"),
    ("max_index", "int64"),
    ("max_commit_time", "int64"),
    ("ms_behind_source", "int64"),
    ("batch_id", "string"),
)


def batch_metrics(
    events: DataFrame, batch_id: str, wallclock_ms: int | None = None
) -> DataFrame:
    """A1 — per (tablet, op) counts + offset span for one batch; the lineage
    record of what was applied from where. The DataFrame reference for
    ``lineage_rows``, which the pipeline writes.

    ``max_commit_time`` is the newest commit HybridTime in the UNSIGNED
    domain (``order.ht_key``), as the raw wire value. ``ms_behind_source``
    is the reference's lag gauge
    (``YugabyteDBStreamingPartitionMetrics.java:46-48``): wall clock minus
    that HybridTime's physical millis (``order.ht_to_epoch_ms``). Pass
    ``wallclock_ms`` for deterministic tests; defaults to the batch's
    processing time."""
    wall = F.lit(wallclock_ms) if wallclock_ms is not None else F.unix_millis(
        F.current_timestamp()
    )
    return events.groupBy("tablet_id", "op").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("index").alias("min_index"),
        F.max("index").alias("max_index"),
        max_ht("commit_time").alias("max_commit_time"),
    ).withColumn(
        "ms_behind_source",
        (wall - ht_to_epoch_ms("max_commit_time")).cast("long"),
    ).withColumn("batch_id", F.lit(batch_id))


class MeterPartial(NamedTuple):
    """One ``(tablet_id, op)`` group's contribution to a batch's lineage row
    and to the ``TaskMetrics`` meters (see ``partial_aggs``)."""

    tablet_id: str
    op: str
    n: int
    min_index: int | None
    max_index: int | None
    #: newest row's ``(ht_key(commit_time), index, write_id)``: its first
    #: field is the max commit time in the unsigned domain
    last: tuple | None
    last_event: str | None
    #: txn_id of the newest row (the last txn on a ``COMMIT`` group)
    last_txn: str | None
    tables: tuple


def partial_aggs(keep: Column) -> list[Column]:
    """Aggregate columns of a ``MeterPartial`` over the rows where ``keep``
    holds, for a ``groupBy(..., "tablet_id", "op")``. All built-in and
    map-side combinable, so they ride along in any aggregation over the
    same rows at no extra job."""
    order = F.when(
        keep, F.struct(ht_key("commit_time").alias("ct"), "index", "write_id")
    )
    return [
        F.count(F.when(keep, F.lit(1))).alias("m_n"),
        F.min(F.when(keep, F.col("index"))).alias("m_min_index"),
        F.max(F.when(keep, F.col("index"))).alias("m_max_index"),
        F.max(order).alias("m_last"),
        F.max_by(
            F.concat_ws(
                "/", F.col("table"), F.col("op"), F.col("tablet_id"),
                F.col("index").cast("string"),
            ),
            order,
        ).alias("m_last_event"),
        F.max_by(F.col("txn_id"), order).alias("m_last_txn"),
        F.collect_set(F.when(keep, F.col("table"))).alias("m_tables"),
    ]


def to_partial(row) -> MeterPartial:
    """A collected row carrying ``tablet_id``, ``op`` and ``partial_aggs``."""
    last = row["m_last"]
    return MeterPartial(
        row["tablet_id"], row["op"], row["m_n"], row["m_min_index"],
        row["m_max_index"], None if last is None else tuple(last),
        row["m_last_event"], row["m_last_txn"], tuple(row["m_tables"]),
    )


def meter_partials(events: DataFrame) -> list[MeterPartial]:
    """Every row of ``events`` as per-``(tablet_id, op)`` partials (one
    aggregation)."""
    rows = events.groupBy("tablet_id", "op").agg(*partial_aggs(F.lit(True))).collect()
    return [to_partial(r) for r in rows]


def _now_ms(wallclock_ms: int | None) -> int:
    return int(time.time() * 1000) if wallclock_ms is None else wallclock_ms


def lineage_rows(
    partials: list[MeterPartial], batch_id: str, wallclock_ms: int | None = None
) -> list[tuple]:
    """Driver-side ``batch_metrics``: one ``LINEAGE_FIELDS`` row per
    non-empty partial, no Spark job."""
    wall = _now_ms(wallclock_ms)
    rows = []
    for p in partials:
        if not p.n:
            continue
        ct = None if p.last[0] is None else ht_key_py(p.last[0])
        rows.append((
            p.tablet_id, p.op, p.n, p.min_index, p.max_index, ct,
            None if ct is None else wall - ht_to_epoch_ms_py(ct), batch_id,
        ))
    return rows


class MetricsSink:
    """Append-only parquet metrics/lineage table."""

    def __init__(self, path: str):
        self.path = path

    def append(self, m: DataFrame | list[tuple]) -> None:
        """Append a DataFrame (one Spark write), or pre-collected lineage
        rows (``lineage_rows``) written driver-side with pyarrow at no Spark
        job — the ``CheckpointStore.commit`` technique. The pyarrow file is
        written under an ``_``-prefixed name, which readers skip, and then
        renamed into place, so a crash never leaves a torn file for
        ``read``."""
        if isinstance(m, DataFrame):
            m.write.mode("append").parquet(self.path)
            return
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        # an empty first append still creates a readable (empty) table, as
        # a Spark write of an empty batch does
        if not m and os.path.isdir(self.path):
            return
        os.makedirs(self.path, exist_ok=True)
        cols = list(zip(*m)) if m else [()] * len(LINEAGE_FIELDS)
        table = pa.table(
            {
                name: pa.array(col, getattr(pa, typ)())
                for (name, typ), col in zip(LINEAGE_FIELDS, cols)
            }
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "_" + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)


def warn_wal_backlog(n_filtered: int, n_dispatched: int) -> bool:
    """H1 — true (and logs) when a batch filtered a large record volume but
    dispatched nothing, meaning checkpoints cannot advance on real data."""
    if n_dispatched == 0 and n_filtered >= WAL_BACKLOG_WARN_THRESHOLD:
        log.warning(
            "Filtered %d consecutive records with none dispatched; "
            "WAL/backlog may be growing (checkpoint cannot advance).",
            n_filtered,
        )
        return True
    return False


def decode_messages(
    events: DataFrame,
    include: str | None = None,
    exclude: str | None = None,
    binary_mode: str = "bytes",
) -> DataFrame:
    """Logical-decoding message dispatch
    (``LogicalDecodingMessageMonitor.java:40-133``): ``op == 'm'`` rows
    become a side-output stream shaped like the reference's MessageValue —
    key ``{prefix}``, value ``{op, ts_ms, source, message{prefix,
    content}}`` — with the content converted per ``binary.handling.mode``
    (``convertContent :123-133``). The prefix include/exclude filter (F5)
    applies first."""
    from .emit import source_block
    from .filters import message_prefix_filter

    msgs = message_prefix_filter(events.where(F.col("op") == "m"), include, exclude)
    raw = F.encode(F.coalesce(F.col("payload"), F.lit("")), "utf-8")
    if binary_mode == "hex":
        content = F.lower(F.hex(raw))
    elif binary_mode == "base64":
        content = F.base64(raw)
    else:
        content = raw
    return msgs.select(
        F.struct(F.col("msg_prefix").alias("prefix")).alias("key"),
        F.lit("m").alias("op"),
        (F.shiftright(F.col("commit_time"), 12) / 1000).cast("long").alias("ts_ms"),
        source_block().alias("source"),
        F.struct(
            F.col("msg_prefix").alias("prefix"), content.alias("content")
        ).alias("message"),
        F.col("term"),
        F.col("index"),
        F.col("write_id"),
    )


class SnapshotMetrics:
    """MXBean-parity snapshot gauges — the Spark analogue of
    ``YugabyteDBSnapshotPartitionMetrics.java:29-124`` /
    ``YugabyteDBSnapshotPartitionMetricsMXBean``: table progress,
    running/completed/aborted state, duration, per-table rows scanned,
    and the current-chunk window the reference exposes for incremental
    snapshots. Fed by ``run_snapshot``'s driver loop at zero extra Spark
    cost (chunk row counts come from the MERGE's own observed stats)."""

    def __init__(self):
        self._tables: list[str] = []
        self._completed_tables: set[str] = set()
        self._running = False
        self._completed = False
        self._aborted = False
        self._t0_ms: int | None = None
        self._t1_ms: int | None = None
        self._rows: dict[str, int] = {}
        self._chunk: tuple[str | None, str | None, str | None] = (None, None, None)

    def _now(self, wallclock_ms: int | None) -> int:
        import time

        return int(time.time() * 1000) if wallclock_ms is None else wallclock_ms

    def snapshot_started(self, tables, wallclock_ms: int | None = None) -> None:
        """``snapshotStarted`` + ``monitoredDataCollectionsDetermined``."""
        self._tables = list(tables)
        self._running, self._completed, self._aborted = True, False, False
        if self._t0_ms is None:  # resume keeps the original start
            self._t0_ms = self._now(wallclock_ms)

    def current_chunk(self, chunk_id: str, chunk_from, chunk_to) -> None:
        self._chunk = (chunk_id, str(chunk_from), str(chunk_to))

    def rows_scanned(self, table: str, n: int) -> None:
        self._rows[table] = self._rows.get(table, 0) + int(n)

    def table_completed(self, table: str) -> None:
        self._completed_tables.add(table)

    def snapshot_completed(self, wallclock_ms: int | None = None) -> None:
        self._running, self._completed = False, True
        self._t1_ms = self._now(wallclock_ms)

    def snapshot_aborted(self, wallclock_ms: int | None = None) -> None:
        self._running, self._aborted = False, True
        self._t1_ms = self._now(wallclock_ms)

    def snapshot(self, wallclock_ms: int | None = None) -> dict:
        end = self._t1_ms if self._t1_ms is not None else self._now(wallclock_ms)
        return {
            "TotalTableCount": len(self._tables),
            "RemainingTableCount": len(
                [t for t in self._tables if t not in self._completed_tables]
            ),
            "SnapshotRunning": self._running,
            "SnapshotCompleted": self._completed,
            "SnapshotAborted": self._aborted,
            "SnapshotDurationInSeconds": (
                0 if self._t0_ms is None else max(0, (end - self._t0_ms) // 1000)
            ),
            "CapturedTables": tuple(sorted(self._tables)),
            "RowsScanned": dict(self._rows),
            "ChunkId": self._chunk[0],
            "ChunkFrom": self._chunk[1],
            "ChunkTo": self._chunk[2],
        }


def _last_order(p: MeterPartial) -> tuple:
    """``MeterPartial.last`` as a sort key (a null commit time sorts first,
    as in Spark's struct order)."""
    ct, index, write_id = p.last
    return (ct is not None, ct or 0, index, write_id)


class TaskMetrics:
    """MXBean-parity task metrics — the Spark analogue of the reference's
    JMX surface: the per-partition event meter
    (``AbstractYugabyteDBPartitionMetrics.java:37-77`` /
    ``YugabyteDBPartitionMetricsMXBean``) and the streaming meter
    (``YugabyteDBStreamingPartitionMetrics.java:41-63`` /
    ``YugabyteDBStreamingTaskMetricsMXBean``).

    Spark-first shape: instead of on-heap meters ticked per record, each
    batch contributes its per-``(tablet_id, op)`` ``MeterPartial`` rows,
    which ``fold`` adds into driver-side counters. Both front ends
    (``CdcPipeline`` and ``stream.apply_batch``) compute the partials
    inside their window-stats pass, so a batch ticks the meters at no Spark
    job. ``update`` takes a DataFrame, aggregates its partials (one job)
    and runs the same fold: the DataFrame reference tests compare the
    pass-fed meters against. ``snapshot()`` returns a
    dict keyed by the MXBean attribute names so a dashboard reads the same
    gauges a JMX console would. Driver state is O(#tables) + O(#tablets) —
    the same bound the reference holds on-heap.

    Op mapping per ``CommonEventMeter``: ``c``→create, ``u``→update,
    ``d``→delete; snapshot reads (``r``) count toward the total only;
    every row counts toward TotalNumberOfEventsSeen. Filtered/erroneous
    counts are driver-supplied (the pipeline knows how many rows its
    filters dropped — ``onFilteredEvent:86-94`` / ``onErroneousEvent``).
    ``SourceEventPosition`` is supplied from the checkpoint commit the
    pipeline already computes (no extra shuffle).
    """

    def __init__(self):
        self._c = {
            "TotalNumberOfEventsSeen": 0,
            "TotalNumberOfCreateEventsSeen": 0,
            "TotalNumberOfUpdateEventsSeen": 0,
            "TotalNumberOfDeleteEventsSeen": 0,
            "NumberOfEventsFiltered": 0,
            "NumberOfErroneousEvents": 0,
            "NumberOfCommittedTransactions": 0,
        }
        self._captured_tables: set[str] = set()
        self._last_event: str | None = None
        self._last_txn_id: str | None = None
        self._last_event_wall_ms: int | None = None
        self._max_commit_time_ms: int | None = None
        self._position: dict[str, str] = {}

    def update(
        self,
        batch: DataFrame,
        n_filtered: int = 0,
        n_erroneous: int = 0,
        position: dict[str, str] | None = None,
        wallclock_ms: int | None = None,
    ) -> None:
        """Fold one batch DataFrame into the meters: ``meter_partials`` (one
        aggregation, every row counted), then ``fold``."""
        self.fold(meter_partials(batch), n_filtered, n_erroneous, position, wallclock_ms)

    def fold(
        self,
        partials: list[MeterPartial],
        n_filtered: int = 0,
        n_erroneous: int = 0,
        position: dict[str, str] | None = None,
        wallclock_ms: int | None = None,
    ) -> None:
        """Fold one batch's partials into the meters, driver-side."""
        seen = [p for p in partials if p.n]

        def count(*ops):
            return sum(p.n for p in seen if p.op in ops)

        self._c["TotalNumberOfEventsSeen"] += sum(p.n for p in seen)
        self._c["TotalNumberOfCreateEventsSeen"] += count("c")
        self._c["TotalNumberOfUpdateEventsSeen"] += count("u")
        self._c["TotalNumberOfDeleteEventsSeen"] += count("d")
        self._c["NumberOfCommittedTransactions"] += count("COMMIT")
        self._c["NumberOfEventsFiltered"] += n_filtered
        self._c["NumberOfErroneousEvents"] += n_erroneous
        self._captured_tables.update(
            t for p in seen if p.op in ("c", "u", "d", "r") for t in p.tables
        )
        # hybrid times compare in the UNSIGNED domain everywhere in the
        # engine (order.ht_key): ``last`` leads with the flipped key, so a
        # sign-bit HT is the newest and its epoch is not negative
        if seen:
            self._last_event = max(seen, key=_last_order).last_event
            self._last_event_wall_ms = _now_ms(wallclock_ms)
        cts = [p.last[0] for p in seen if p.last[0] is not None]
        if cts:
            # undo the ht_key sign-bit flip (an involution), then the shared
            # driver-side HT→epoch decode (ht_to_epoch_ms_py masks to the
            # unsigned magnitude and applies the SourceInfo.java:96 >>12)
            ms = ht_to_epoch_ms_py(ht_key_py(max(cts)))
            self._max_commit_time_ms = max(self._max_commit_time_ms or 0, ms)
        commits = [p for p in seen if p.op == "COMMIT"]
        if commits:
            txn = max(commits, key=_last_order).last_txn
            if txn is not None:
                self._last_txn_id = txn
        if position:
            self._position.update(position)

    def snapshot(self, wallclock_ms: int | None = None) -> dict:
        """The MXBean attribute view (names match the reference's JMX
        surface attribute-for-attribute)."""
        wall = _now_ms(wallclock_ms)
        return {
            **self._c,
            "LastEvent": self._last_event,
            "LastTransactionId": self._last_txn_id,
            "MilliSecondsSinceLastEvent": (
                -1
                if self._last_event_wall_ms is None
                else wall - self._last_event_wall_ms
            ),
            "MilliSecondsBehindSource": (
                -1
                if self._max_commit_time_ms is None
                else wall - self._max_commit_time_ms
            ),
            "CapturedTables": tuple(sorted(self._captured_tables)),
            "SourceEventPosition": dict(self._position),
        }


def txn_metadata(events: DataFrame) -> DataFrame:
    """T1 — transaction-boundary metadata stream: per txn, event count +
    commit-time span (analogue of BEGIN/END metadata records,
    ``YugabyteDBTransactionMonitor.java``).

    When the stream carries real BEGIN/COMMIT marker records
    (``generate_events(txn_markers=True)``, the reference's bookkeeping at
    ``YugabyteDBStreamingChangeEventSource.java:626-686``), the span comes
    from the markers themselves — begin = min BEGIN commit time, end = max
    COMMIT commit time across the txn's tablet fragments; otherwise both
    fall back to the applied-DML span (markers span ALL of the txn's
    records, so they can widen the span beyond the c/u/d subset). Both
    ends are taken in the UNSIGNED hybrid-time order, as raw wire values."""
    is_dml = F.col("op").isin("c", "u", "d")
    return (
        events.where(is_dml | F.col("op").isin("BEGIN", "COMMIT"))
        .groupBy("txn_id")
        .agg(
            F.sum(is_dml.cast("long")).alias("event_count"),
            F.coalesce(
                ht_key(F.min(ht_key(F.when(F.col("op") == "BEGIN", F.col("commit_time"))))),
                ht_key(F.min(ht_key(F.when(is_dml, F.col("commit_time"))))),
            ).alias("begin_time"),
            F.coalesce(
                max_ht(F.when(F.col("op") == "COMMIT", F.col("commit_time"))),
                max_ht(F.when(is_dml, F.col("commit_time"))),
            ).alias("end_time"),
        )
    )
