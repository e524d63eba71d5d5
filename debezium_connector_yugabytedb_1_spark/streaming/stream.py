"""Structured Streaming front-end: readStream → foreachBatch(apply).

The micro-batch loop in ``pipeline.py`` is the deterministic/resumable
driver used for tests and benchmarks; this wrapper runs the *same* apply
path under Spark's own streaming engine (file source + availableNow
trigger), demonstrating the production topology:

    spark.readStream → withWatermark
      → foreachBatch(window stats → decode→fold→MERGE → ckpt)

Each trigger costs what a pipeline window costs: one ``window_stats``
aggregation (ack offsets, DDL markers, touched buckets, meter partials),
one fused fold+MERGE, and a driver-side checkpoint commit and meter fold.
A gated trigger adds the write of the rows it holds (the gate takes its
safetimes from the trigger's own stats pass) and a stats pass over the
rows it releases.

Watermarking note: the safepoint stream carries the source's safe time (the
reference Merger's gate, ``Merger.java:116-133``); in Structured Streaming
the same role is played by ``withWatermark`` on the commit-time column when
windowed aggregations are involved. The replay MERGE itself needs no
watermark — it is monotonic via offsets.

Ordering contract: the file source groups rows by file listing, not offset.
Row-level semantics are fully order-free — tombstone rows persist delete
offsets, so inserts/updates/deletes arriving across triggers in ANY order
converge (``test_out_of_order_delete_no_resurrection``). Two constructs
assume per-key in-order delivery across triggers:

- per-COLUMN last-writer-wins for *partial* updates: the stored row keeps
  one offset, not per-column offsets, so a column set at offset 25 arriving
  after a offset-30 partial update that did NOT touch it would be shadowed;
- DDL placement: a DDL arriving in a later trigger than events beyond it
  folds those events under the older schema.

Passing ``gate=ConsistentGate(...)`` closes both for transports that only
guarantee per-TABLET order (the reference's actual contract): each trigger
releases the commit-time prefix below the min-over-all-tablets safetime and
carries the rest to the next trigger — the reference Merger's pending
queue (``Merger.java:116-133``). Convergence with the offset-ordered batch
pipeline, including partial updates and a mid-stream DDL under cross-tablet
disorder, is asserted in ``test_consistent_gate.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable
from ..operators import filters
from ..operators.checkpoint import CheckpointStore
from ..sources import read_event_stream
from .pipeline import merge_window, window_stats


def apply_batch(
    batch: DataFrame,
    batch_id: int | str,
    table: LakeTable,
    ckpt: CheckpointStore,
    gate=None,
    expire_keep: int | None = 64,
    task_metrics=None,
) -> None:
    """The foreachBatch body — identical operator chain to CdcPipeline
    (minus index windowing, which Spark's source handles), fed by the same
    ``window_stats`` pass: ONE aggregation of the trigger gives the offsets
    to ack, the DDL markers, the touched buckets and, with ``task_metrics``,
    the meter partials of every wire row the trigger consumed, DDL markers
    included. With a gate, the same pass gives the gate its per-tablet
    safetimes, and the DDLs and buckets come from a second stats pass over
    the rows it releases.

    No resume predicate here: Structured Streaming's file source does NOT
    deliver rows offset-ordered across triggers (files are grouped by
    listing, the corpus is in arrival order), so filtering a trigger by the
    previous trigger's max offsets would silently DROP late-arriving lower
    offsets. Exactly-once comes from the layers that do not assume order:
    Spark's own source checkpoint (no re-delivery of file batches),
    ``merge_events``'s batch-id skip (foreachBatch replays reuse the batch
    id), and the per-row monotonic offset guard (stale rows lose the fold).
    The engine checkpoint is still committed for observability/resume of
    the batch pipeline."""
    stats = window_stats(
        batch, table.n_buckets, None if task_metrics is None else F.lit(True)
    )
    if task_metrics is not None:
        # MXBean-parity gauges, folded driver-side as CdcPipeline folds its
        # stats partials; position is carried by the checkpoint commits
        task_metrics.fold(stats["partials"])
    applied = stats
    if gate is not None:
        # consistent mode: offsets are committed for the CONSUMED batch,
        # but only AFTER gate.process has persisted the held rows — the
        # checkpoint may run ahead of applied state only because the
        # pending store is durable first; a crash between the two leaves
        # un-acked offsets, which the source re-delivers and the gate's
        # replay path re-derives idempotently (gate.py module docstring)
        batch = gate.process(batch, batch_id, stats["safetimes"])
        ckpt.commit(stats["offsets"])
        applied = window_stats(batch, table.n_buckets, None)
    # each DDL applies exactly at its offset: the events before/after it
    # decode under the schema of their time, and the whole trigger is one
    # fused fold+MERGE committing the DDLs with the data — the same
    # ``merge_window`` CdcPipeline applies a window with
    merge_window(
        table,
        filters.dispatchable(filters.table_filter(batch)),
        applied["ddls"],
        f"stream-{batch_id}",
        touched_buckets=applied["buckets"],
    )
    if gate is None:
        ckpt.commit(stats["offsets"])
    if expire_keep is not None:
        # bound version-file/dead-dir growth on long-running streams —
        # O(keep) driver-side listing, no Spark job (lake.expire_versions)
        table.expire_versions(expire_keep)


def run_streaming(
    spark: SparkSession,
    events_path: str,
    table: LakeTable,
    ckpt: CheckpointStore,
    checkpoint_location: str,
    available_now: bool = True,
    gate=None,
    expire_keep: int | None = 64,
    task_metrics=None,
    batch_hook=None,
    max_files_per_trigger: int = 4,
) -> None:
    """Run the streaming pipeline until the available data is exhausted
    (availableNow) — the bounded-test mode; drop the trigger for continuous
    tailing in production. With ``gate`` (consistent mode), a bounded run
    drains the gate's pending store after the source is exhausted (end of
    log ⇒ commit-order release is trivially satisfied for the tail).

    ``batch_hook(batch_id, wall_seconds)`` is called after every trigger's
    ``apply_batch`` — the observability seam soak/latency harnesses use to
    record per-trigger cost without forking the production path."""
    import time

    stream = read_event_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )

    def _apply(df, bid):
        t0 = time.monotonic()
        apply_batch(
            df, bid, table, ckpt, gate=gate, expire_keep=expire_keep,
            task_metrics=task_metrics,
        )
        if batch_hook is not None:
            batch_hook(bid, time.monotonic() - t0)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_location
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    q.awaitTermination()
    if gate is not None and available_now:
        drained = gate.flush()
        if drained is not None:
            apply_batch(drained, "gate-flush", table, ckpt, expire_keep=expire_keep)
            gate.clear_pending()
