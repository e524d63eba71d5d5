"""Shared crash-safe batch-store protocol for the persisted incremental
indexes (``dedup.ExactDedupIndex`` hashes, ``dedup.MinHashIndex``
postings/sets, ``similarity.IvfIndex`` vectors), plus the one atomic
text-file commit every on-disk pointer and manifest of the package uses.

The protocol (``BatchStore``) owns add and compaction; an index supplies
only what it writes and how it folds. ``_add_batch`` takes the next slot
``n``, writes the index's rows under ``<root>/batch=<n>/<key>=<v>/``
partition directories in a pool while the index's own body (its result
materialization) runs on the calling thread, waits every write out, and
only then atomically commits ``n`` into ``<path>/manifest.json``
(``atomic_write``). Readers consult only committed batch ids, so a crash
between the data write and the manifest commit leaves orphan directories
that are invisible to every reader and simply overwritten when the add
retries (``_next_slot`` is stable until the commit lands). Reads prune
driver-side: one directory listing per committed batch — O(#batches)
metadata calls — selecting only the ``<key>=<v>`` dirs whose ``v`` is
wanted, so bytes read are proportional to matching partitions, with no
planner cooperation required. ``_compact`` keeps #batches small on
long-running ingest: it reads every committed row of each root, applies
the index's fold, writes one new slot and swaps it in
(``_commit_compacted``); committed batches that hold no rows at all fold
to the latest of them.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame


def atomic_write(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` all-or-nothing: write a sibling
    ``.tmp`` file, then ``os.replace`` it over the target, so a reader
    sees the old content or the new, never a torn file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def write_batch(df: DataFrame, root: str, key: str, n: int) -> None:
    """Write ``df`` as slot ``<root>/batch=<n>``, one ``<key>=<v>``
    partition dir per key value. The overwrite is pinned STATIC: the whole
    slot is cleared first, so a retry into a slot whose earlier attempt was
    never committed (a failed or rejected add) keeps none of that attempt's
    partitions. The session's dynamic mode would replace only the
    partitions the retry writes, and the manifest commit would then
    publish the rest."""
    (
        df.repartition(key)
        .write.partitionBy(key)
        .mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .parquet(os.path.join(root, f"batch={n}"))
    )


class BatchStore:
    """Base of the persisted incremental indexes: owns the store directory,
    its immutable geometry, the committed-batch manifest, the next write
    slot and the pruned reads over committed slots.

    ``geometry`` is persisted on first open and verified on every later
    one. Geometry baked into a store's partitioning/hash families is
    immutable: reopening with different values would read the wrong
    partitions or join incomparable hashes with no error. A params.json
    missing a key (older/foreign layout) is the same mismatch, not a
    KeyError."""

    def __init__(self, spark, path: str, geometry: dict):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        pfile = os.path.join(path, "params.json")
        if os.path.exists(pfile):
            with open(pfile) as f:
                stored = json.load(f)
            if {k: stored.get(k) for k in geometry} != geometry:
                raise ValueError(
                    f"index at {path} was built with {stored}, reopened with "
                    f"{geometry}; geometry is immutable per index"
                )
        else:
            atomic_write(pfile, json.dumps(geometry))

    def _manifest(self) -> list[int]:
        """Committed batch ids (empty store → [])."""
        p = os.path.join(self.path, "manifest.json")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)["batches"]

    def _commit_manifest(self, batches: list[int]) -> None:
        """Atomically publish the committed-batch list (the commit point)."""
        atomic_write(
            os.path.join(self.path, "manifest.json"), json.dumps({"batches": batches})
        )

    def _next_slot(self) -> int:
        """The slot the next write goes to: ``max(committed) + 1``, stable
        until the manifest commit lands, so a retried add overwrites its
        own orphan."""
        return max(self._manifest(), default=-1) + 1

    def _add_batch(
        self,
        writes: list[tuple[DataFrame, str, str]],
        body: Callable[[], object] | None = None,
    ) -> tuple[int, object]:
        """One add: take slot ``n``, run ``write_batch(df, root, key, n)``
        for every ``(df, root, key)`` of ``writes`` in a pool while
        ``body`` runs on the calling thread, then commit ``manifest + [n]``.
        Returns ``(n, body())``.

        The new slot stays invisible until the commit, and everything
        ``body`` reads prunes against the committed manifest, so the two
        overlap safely and the add pays the longest job, not the sum.
        ``body`` must materialize its result itself: a later add or
        compaction may delete the committed dirs its plan reads. Leaving
        the ``with`` block waits every writer out on every exit path, a
        failed write or body included (a caller may delete the store
        directory on error; no writer may outlive the call), and a write
        failure is re-raised before the commit."""
        n = self._next_slot()
        with ThreadPoolExecutor(len(writes)) as pool:
            futs = [pool.submit(write_batch, df, root, key, n) for df, root, key in writes]
            out = body() if body is not None else None
            for f in futs:
                f.result()
        self._commit_manifest(self._manifest() + [n])
        return n, out

    def _compact(
        self,
        keys: dict[str, str],
        fold: Callable[[DataFrame], DataFrame] = lambda df: df.drop("batch"),
    ) -> int:
        """Rewrite every committed row of each ``root`` in ``keys`` (root →
        partition key) into one new slot and swap it in. ``fold`` maps a
        root's committed rows, read with their ``batch`` and key partition
        columns, to the rows to write, key column included; the default
        projects ``batch`` away. Committed batches that hold no rows at all
        leave nothing to write: the latest of them becomes the only one.
        Returns the slot left committed."""
        n, wrote = self._next_slot(), False
        for root, key in keys.items():
            stored, _, _ = self._pruned_read(root, key, None)
            if stored is not None:
                write_batch(fold(stored), root, key, n)
                wrote = True
        if not wrote:
            n = max(self._manifest())
        self._commit_compacted(n, *keys)
        return n

    def _commit_compacted(self, n: int, *roots: str) -> None:
        """Publish slot ``n`` as the store's only batch, then delete every
        superseded ``batch=<b>`` dir under each of ``roots``. The manifest
        swap is the commit point: a crash before it leaves the old batches
        live, a crash after it leaves only dirs no reader consults."""
        superseded = [b for b in self._manifest() if b != n]
        self._commit_manifest([n])
        for root in roots:
            for b in superseded:
                shutil.rmtree(os.path.join(root, f"batch={b}"), ignore_errors=True)

    def _pruned_read(
        self, root: str, key: str, wanted: set[int] | None
    ) -> tuple[DataFrame | None, int, int]:
        """Read ONLY the ``key=<v>`` partition dirs of the committed batches
        whose ``v`` is in ``wanted`` (``None``: every value). Returns
        (df|None, dirs_read, dirs_total) so callers can record/assert the
        pruning instead of claiming it. An unpruned read names each batch
        dir once rather than each partition dir: past 32 paths Spark lists
        them with a Spark job."""
        sel, read, total = [], 0, 0
        for n in self._manifest():
            bdir = os.path.join(root, f"batch={n}")
            if not os.path.isdir(bdir):
                continue
            parts = [e for e in os.listdir(bdir) if e.startswith(f"{key}=")]
            hits = [e for e in parts if wanted is None or int(e.split("=", 1)[1]) in wanted]
            total, read = total + len(parts), read + len(hits)
            if wanted is None:
                sel += [bdir] if hits else []
            else:
                sel += [os.path.join(bdir, e) for e in hits]
        if not sel:
            return None, 0, total
        return self.spark.read.option("basePath", root).parquet(*sel), read, total
