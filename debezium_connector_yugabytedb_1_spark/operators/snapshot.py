"""S3/S5 — snapshot phase: initial consistent scan before streaming.

Reference: per-tablet snapshot via GetChanges in snapshot mode, resumable
mid-snapshot, end detected by a snapshot-complete marker, then transition to
streaming (``YugabyteDBSnapshotChangeEventSource.doExecute:384-771``,
complete marker ``:902-905``; SNAPSHOT_DONE sentinel
``YugabyteDBOffsetContext.java:37,155-158``; bootstrap-to-(0,0)
``bootstrapTabletWithRetry:181-269`` /
``YugabyteDBOffsetContext.java:147-149``).

Spark-first: the snapshot is a bounded batch pass — read the base table in
chunks, emit ``op='r'`` envelopes at a snapshot offset strictly below every
streaming offset (term = -1, the snapshot-format analogue of the reference's
distinct snapshot OpId format, which ``getHigherOffsets`` keeps separate
from streaming offsets), and apply each chunk with the streaming sink's own
``LakeTable.merge_events``. Resumability comes from the same idempotent
MERGE + checkpoint protocol as streaming — a re-run snapshot is absorbed,
the stance the reference takes for snapshot re-delivery
(``YugabyteDBSnapshotResumeTest.java:120-133``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lake import LakeTable
from .checkpoint import CheckpointStore

SNAPSHOT_TERM = -1  # sorts below every streaming offset (term >= 0)


def snapshot_envelopes(base: DataFrame, n_tablets: int = 8) -> DataFrame:
    """Turn a base-table state ``(repo, path, commit, lang, content, ...)``
    into READ envelopes (decoded shape) at the snapshot offset."""
    payload_cols = [c for c in base.columns if c not in ("repo", "path")]
    return base.select(
        F.concat(F.lit("tablet-"), F.pmod(F.xxhash64("repo"), F.lit(n_tablets))).alias(
            "tablet_id"
        ),
        F.lit(SNAPSHOT_TERM).cast("long").alias("term"),
        F.lit(0).cast("long").alias("index"),
        F.lit(0).cast("long").alias("write_id"),
        F.lit("r").alias("op"),
        F.col("repo"),
        F.col("path"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("after"),
        F.array(*[F.lit(c) for c in payload_cols]).alias("changed"),
    )


def run_snapshot(
    base: DataFrame,
    table: LakeTable,
    ckpt: CheckpointStore,
    n_tablets: int = 8,
    chunks_per_tablet: int = 1,
    max_chunks: int | None = None,
    staging_path: str | None = None,
    metrics=None,
    batch_prefix: str = "snapshot",
) -> int:
    """Execute the snapshot phase **resumably**: the base state is cut into
    per-tablet key-range chunks, each chunk is MERGEd and checkpointed
    independently, and a restart skips completed chunks — a crash at 99% of
    a 100 TB initial load redoes at most one chunk, not the world.

    Mirrors the reference's per-tablet snapshot-key resume
    (``YugabyteDBSnapshotChangeEventSource.java:341-353`` — resume from the
    stored snapshot key; end marker ``:902-905``; exercised by
    ``YugabyteDBSnapshotResumeTest.java:94-107``): the per-tablet checkpoint
    row carries ``term = -1`` (the snapshot OpId format) and
    ``index = number of completed chunks`` — the snapshot-key analogue.

    Chunking: chunk (t, c) = rows with ``hash(repo) % n_tablets == t`` and
    ``hash(repo, path) % chunks_per_tablet == c``. With ``staging_path``
    set, the base is first staged ONCE into chunk-partitioned parquet so
    each chunk read is partition-pruned — one full scan total instead of
    one per chunk (the scale path; without staging each chunk filter
    re-scans the source, acceptable only for small snapshots or sources
    that already push the chunk predicate down).

    ``max_chunks`` bounds the number of chunks processed this call (the
    kill switch the resume test uses). ``metrics`` is an optional
    ``SnapshotMetrics`` (the MXBean-parity gauges) ticked by this driver
    loop — chunk row counts reuse the MERGE's observed stats, zero extra
    jobs. Returns chunks processed."""
    meta = ckpt.meta()
    table_name = getattr(table, "path", "table")
    if meta.get("snapshot_done"):
        if metrics is not None:
            metrics.snapshot_started([table_name])
            metrics.table_completed(table_name)
            metrics.snapshot_completed()
        return 0
    if metrics is not None:
        metrics.snapshot_started([table_name])
    # align base to the table's current schema (missing columns → NULL)
    for name, typ in table.columns:
        if name not in base.columns:
            base = base.withColumn(name, F.lit(None).cast(typ))

    tablet_of = F.pmod(F.xxhash64("repo"), F.lit(n_tablets))
    chunk_of = F.pmod(F.xxhash64("repo", "path"), F.lit(chunks_per_tablet))
    src = base
    if staging_path is not None:
        import os

        marker = os.path.join(staging_path, "_staged")
        if not os.path.exists(marker):
            (
                base.withColumn("_t", tablet_of)
                .withColumn("_c", chunk_of)
                .repartition(n_tablets * chunks_per_tablet, "_t", "_c")
                .write.partitionBy("_t", "_c")
                .mode("overwrite")
                .parquet(staging_path)
            )
            open(marker, "w").close()
        src = base.sparkSession.read.parquet(staging_path)

    done = {tuple(x) for x in meta.get("snapshot_chunks_done", [])}
    done_per_tablet: dict[int, int] = {}
    for t, _ in done:
        done_per_tablet[t] = done_per_tablet.get(t, 0) + 1
    processed = 0
    for t in range(n_tablets):
        for c in range(chunks_per_tablet):
            if (t, c) in done:
                continue
            if max_chunks is not None and processed >= max_chunks:
                return processed  # killed mid-snapshot; resume continues here
            if staging_path is not None:
                rows = src.where((F.col("_t") == t) & (F.col("_c") == c)).drop("_t", "_c")
            else:
                rows = src.where((tablet_of == t) & (chunk_of == c))
            env = snapshot_envelopes(rows, n_tablets=n_tablets)
            if metrics is not None:
                metrics.current_chunk(f"t{t}-c{c}", (t, c), (t, c))
            mstats = table.merge_events(env, batch_id=f"{batch_prefix}-t{t}-c{c}")
            if metrics is not None:
                metrics.rows_scanned(table_name, mstats.upserted)
            done.add((t, c))
            done_per_tablet[t] = done_per_tablet.get(t, 0) + 1
            ckpt.commit(
                [(f"tablet-{t}", SNAPSHOT_TERM, done_per_tablet[t], 0, "snapshot")],
                meta={"snapshot_chunks_done": sorted(done)},
            )
            processed += 1
    ckpt.commit([], meta={"snapshot_done": True})
    if metrics is not None:
        metrics.table_completed(table_name)
        metrics.snapshot_completed()
    return processed


def snapshot_in_effect(ckpt: CheckpointStore) -> bool:
    """True while a snapshot has started (chunks committed) but not
    completed — the ``OffsetState.snapshotInEffect`` analogue
    (``YugabyteDBOffsetContext.java:155-158``): offsets exist in the
    snapshot OpId format without the SNAPSHOT_DONE sentinel."""
    meta = ckpt.meta()
    return bool(meta.get("snapshot_chunks_done")) and not meta.get("snapshot_done")


def execute_snapshot_policy(
    mode: str,
    base: DataFrame | None,
    table: LakeTable,
    ckpt: CheckpointStore,
    **snapshot_kwargs,
) -> tuple[int, bool]:
    """``snapshot.mode`` policy dispatch — the Snapshotter SPI collapsed to
    a function (``spi/Snapshotter.java``; mode classes under ``snapshot/``:
    ``NeverSnapshotter.java:21``, ``InitialSnapshotter.java``,
    ``InitialOnlySnapshotter.java``, ``AlwaysSnapshotter.java``; mode enum
    ``YugabyteDBConnectorConfig.java:985-1046``).

    Returns ``(chunks_processed, should_stream)``:

    - ``initial``       snapshot once (skip if complete, resume if
                        incomplete), then stream.
    - ``never``         no snapshot, stream only.  A previously started but
                        incomplete snapshot RAISES, exactly the reference's
                        NeverSnapshotter.init ConnectException — silently
                        streaming over a half-loaded table would serve
                        wrong state forever.
    - ``initial_only``  snapshot once, never stream
                        (``InitialOnlySnapshotter.shouldStream`` = false).
    - ``always``        re-snapshot on EVERY start, then stream: the done
                        markers are cleared so every chunk re-runs; the
                        idempotent MERGE + per-row monotonic offset guard
                        absorbs re-delivery, and streamed rows newer than
                        the snapshot offset (term -1) are never clobbered.
    """
    from ..config import SNAPSHOT_MODES, ConfigError

    if mode not in SNAPSHOT_MODES:
        raise ConfigError(
            "snapshot_mode", f"valid values are {list(SNAPSHOT_MODES)}, but got {mode!r}"
        )
    if mode == "never":
        if snapshot_in_effect(ckpt):
            raise RuntimeError(
                "The connector previously stopped while taking a snapshot, "
                "but now the connector is configured to never allow "
                "snapshots. Reconfigure the connector to use snapshots "
                "initially or when needed."
            )
        return 0, True
    if mode == "initial" and base is None and ckpt.meta().get("snapshot_done"):
        # the snapshot already completed: InitialSnapshotter streams without
        # a source once offsets exist (r6 ADVICE — a restart otherwise had
        # to re-supply a base it would never read, and a default
        # CdcPipeline(snapshot_source=None) could never start())
        return 0, True
    if base is None:
        raise ConfigError(
            "snapshot_mode",
            f"mode {mode!r} requires a snapshot source (base DataFrame)",
        )
    if mode == "always":
        # re-snapshot on every start (AlwaysSnapshotter never resumes a
        # prior run): clear the completion/chunk markers and bump the
        # snapshot generation — the generation suffixes the MERGE batch ids,
        # else the lake's applied-batch idempotency skip would turn the
        # re-snapshot into a no-op and base rows added since the last run
        # would never load
        meta = ckpt.meta()
        gen = int(meta.get("snapshot_generation", 0))
        if meta.get("snapshot_done") or meta.get("snapshot_chunks_done"):
            gen += 1
            ckpt.commit(
                [],
                meta={
                    "snapshot_done": False,
                    "snapshot_chunks_done": [],
                    "snapshot_generation": gen,
                },
            )
            # a prior run's staging is a frozen copy of the OLD base — a
            # re-snapshot that reuses it silently never loads the rows the
            # mode exists to pick up; drop it so run_snapshot restages
            sp = snapshot_kwargs.get("staging_path")
            if sp is not None:
                import shutil

                shutil.rmtree(sp, ignore_errors=True)
        snapshot_kwargs = dict(snapshot_kwargs, batch_prefix=f"snapshot-g{gen}")
    processed = run_snapshot(base, table, ckpt, **snapshot_kwargs)
    return processed, mode != "initial_only"

