"""Shared crash-safe batch-store protocol for the persisted incremental
indexes (``dedup.ExactDedupIndex`` hashes, ``dedup.MinHashIndex``
postings/sets, ``similarity.IvfIndex`` vectors), plus the one atomic
text-file commit every on-disk pointer and manifest of the package uses.

The protocol (``BatchStore``): each ``add()`` writes its rows under
``<root>/batch=<n>/<key>=<v>/`` partition directories, then atomically
commits ``n`` into ``<path>/manifest.json`` (``atomic_write``). Readers
consult only committed batch ids, so a crash between the data write and
the manifest commit leaves orphan directories that are invisible to every
reader and simply overwritten when the add() retries (``_next_slot`` is
stable until the commit lands). Reads prune driver-side: one directory
listing per committed batch — O(#batches) metadata calls — selecting only
the ``<key>=<v>`` dirs whose ``v`` is wanted, so bytes read are
proportional to matching partitions, with no planner cooperation
required. ``compact()`` implementations keep #batches small on
long-running ingest: each rewrites the committed batches into one new slot
and hands it to ``_commit_compacted``.
"""

from __future__ import annotations

import json
import os
import shutil

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
        self, root: str, key: str, wanted: set[int]
    ) -> tuple[DataFrame | None, int, int]:
        """Read ONLY the ``key=<v>`` partition dirs of the committed batches
        whose ``v`` is in ``wanted``. Returns (df|None, dirs_read,
        dirs_total) so callers can record/assert the pruning instead of
        claiming it."""
        sel, total = [], 0
        for n in self._manifest():
            bdir = os.path.join(root, f"batch={n}")
            if not os.path.isdir(bdir):
                continue
            for entry in os.listdir(bdir):
                if not entry.startswith(f"{key}="):
                    continue
                total += 1
                if int(entry.split("=", 1)[1]) in wanted:
                    sel.append(os.path.join(bdir, entry))
        if not sel:
            return None, 0, total
        return self.spark.read.option("basePath", root).parquet(*sel), len(sel), total
