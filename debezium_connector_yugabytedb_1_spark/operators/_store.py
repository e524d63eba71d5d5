"""Shared crash-safe batch-store protocol for the persisted incremental
indexes (``dedup.MinHashIndex`` postings/sets, ``similarity.IvfIndex``
vectors).

The protocol: each ``add()`` writes its rows under
``<root>/batch=<n>/<key>=<v>/`` partition directories, then atomically
commits ``n`` into ``<path>/manifest.json`` via write-temp + ``os.replace``.
Readers consult only committed batch ids, so a crash between the data
write and the manifest commit leaves orphan directories that are
invisible to every reader and simply overwritten when the add() retries
(``max(manifest) + 1`` is stable until the commit lands). Reads prune
driver-side: one directory listing per committed batch — O(#batches)
metadata calls — selecting only the ``<key>=<v>`` dirs whose ``v`` is
wanted, so bytes read are proportional to matching partitions, with no
planner cooperation required. ``compact()`` implementations keep
#batches small on long-running ingest.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def read_manifest(path: str) -> list[int]:
    """Committed batch ids (empty store → [])."""
    p = os.path.join(path, "manifest.json")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)["batches"]


def commit_manifest(path: str, batches: list[int]) -> None:
    """Atomically publish the committed-batch list (the commit point)."""
    p = os.path.join(path, "manifest.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batches": batches}, f)
    os.replace(tmp, p)


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


def pruned_partition_read(
    spark, root: str, key: str, wanted: set[int], batches: list[int]
) -> tuple[DataFrame | None, int, int]:
    """Read ONLY the ``key=<v>`` partition dirs of the committed batches
    whose ``v`` is in ``wanted``. Returns (df|None, dirs_read, dirs_total)
    so callers can record/assert the pruning instead of claiming it."""
    sel, total = [], 0
    for n in batches:
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
    return spark.read.option("basePath", root).parquet(*sel), len(sel), total


def check_or_write_geometry(path: str, geo: dict) -> None:
    """Persist the index geometry on first open, verify it on every later
    one (write-temp + atomic replace, like the manifest). Geometry baked
    into a store's partitioning/hash families is immutable: reopening with
    different values would read the wrong partitions or join incomparable
    hashes with no error. A params.json missing a key (older/foreign
    layout) is the same mismatch, not a KeyError."""
    pfile = os.path.join(path, "params.json")
    if os.path.exists(pfile):
        with open(pfile) as f:
            stored = json.load(f)
        if {k: stored.get(k) for k in geo} != geo:
            raise ValueError(
                f"index at {path} was built with {stored}, reopened with "
                f"{geo}; geometry is immutable per index"
            )
    else:
        tmp = pfile + ".tmp"
        with open(tmp, "w") as f:
            json.dump(geo, f)
        os.replace(tmp, pfile)
