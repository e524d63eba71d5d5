"""O1/O2/O3 — per-tablet checkpoint offsets: monotonic max-merge, explicit
commit, resume filter.

Reference semantics:
  O1 ``getHigherOffsets`` — merge cached vs read-back offset maps keeping the
     per-tablet max OpId, never regressing
     (``YugabyteDBConnectorTask.java:488-518``, rationale ``:420-435``).
  O2 explicit checkpoint commit: acked offsets persisted; never backwards;
     idle tablets advance too (``YugabyteDBStreamingChangeEventSource.java:
     954-995``, guard ``:976-986``, idle-advance ``:788-797``).
  O3 resume: on start, load stored offsets, poll strictly after them
     (``YugabyteDBOffsetContext.Loader:355-392``, ``OpId.valueOf:71-81``).

Spark-first: the offset map is a tiny DataFrame/parquet table (one row per
tablet), versioned with an atomic pointer like the lake manifest. The merge
is ``union → groupBy(tablet).agg(max(offset_struct))`` — the reference's
per-entry max loop as one aggregate. Resume is ``resume_predicate``, a row
predicate over a literal map of the O(#tablets) checkpoint: it rides
inside any projection or aggregate at no shuffle and no extra job, so the
pipeline meters and applies with the same predicate. ``resume_filter``, the
broadcast-join form (events ⋉ checkpoint with ``offset > ckpt``), is the
reference tests compare it against.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..offsets import offset_struct
from ._store import atomic_write

CKPT_SCHEMA = "tablet_id string, term long, index long, write_id long, phase string"


def max_merge(old: DataFrame | None, new: DataFrame) -> DataFrame:
    """O1 — monotonic per-tablet max of two offset sets."""
    df = new if old is None else old.unionByName(new, allowMissingColumns=True)
    return (
        df.groupBy("tablet_id")
        .agg(
            F.max(offset_struct()).alias("o"),
            F.max_by("phase", offset_struct()).alias("phase"),
        )
        .select(
            "tablet_id",
            F.col("o.term").alias("term"),
            F.col("o.index").alias("index"),
            F.col("o.write_id").alias("write_id"),
            "phase",
        )
    )


def merge_offset_rows(old_rows, new_rows) -> list[tuple]:
    """O1 on driver-side rows: the per-tablet max of ``(term, index,
    write_id)`` over ``(tablet_id, term, index, write_id, phase)`` rows,
    sorted by tablet — the offset map ``CheckpointStore.commit`` stores."""
    merged: dict[str, tuple] = {}
    for t, term, index, wid, phase in list(old_rows or []) + [
        tuple(r)[:5] for r in new_rows
    ]:
        off = (term, index, wid, phase)
        if t not in merged or off[:3] > merged[t][:3]:
            merged[t] = off
    return sorted((t, *o) for t, o in merged.items())


def resume_filter(events: DataFrame, ckpt: DataFrame | None) -> DataFrame:
    """O3 — keep only events strictly newer than the committed per-tablet
    offset. Broadcast join: the checkpoint is tiny by construction. The
    DataFrame reference for ``resume_predicate``, which the pipeline runs."""
    if ckpt is None:
        return events
    c = F.broadcast(
        ckpt.select(
            "tablet_id",
            F.struct("term", "index", "write_id").alias("_ckpt_off"),
        )
    )
    return (
        events.join(c, "tablet_id", "left")
        .where(F.col("_ckpt_off").isNull() | (offset_struct() > F.col("_ckpt_off")))
        .drop("_ckpt_off")
    )


def resume_predicate(ckpt_rows) -> Column:
    """O3 as a row predicate over the driver-side offset map
    (``CheckpointStore.load_rows`` form): true exactly for the events
    ``resume_filter`` keeps. The map is O(#tablets), so it is a literal map
    lookup that rides inside any projection or aggregate — no broadcast
    join, which would cost a Spark job of its own.

    The map is ONE SQL literal, parsed JVM-side, so building it is one
    py4j call at any tablet count; a ``create_map`` of per-tablet Column
    literals takes ~10 round trips per tablet, 1.4-2.0 s of driver time
    per call at 64 tablets (measured on 4 cores), and the pipeline builds
    it every window. Tablet ids enter as hex byte literals, so no id can
    break out of the SQL text."""
    if not ckpt_rows:
        return F.lit(True)
    entries = ", ".join(
        f"CAST(X'{t.encode().hex()}' AS STRING), named_struct("
        f"'term', {int(term)}L, 'index', {int(index)}L, 'write_id', {int(wid)}L)"
        for t, term, index, wid, _phase in ckpt_rows
    )
    ckpt = F.expr(f"map({entries})")
    # a tablet absent from the checkpoint keeps every row
    return F.coalesce(offset_struct() > ckpt[F.col("tablet_id")], F.lit(True))


class CheckpointStore:
    """Versioned checkpoint table + tiny key/value progress metadata.

    Mirrors the two offset maps the reference keeps (committed offsets vs
    next-poll position, ``YugabyteDBOffsetContext.java:42-52``): the offset
    DataFrame is the committed map; ``meta['next_lo']`` is the poll cursor.
    """

    def __init__(self, spark: SparkSession, path: str, keep_history: int = 20):
        """``keep_history``: number of committed versions retained on disk.
        Each commit writes a new ``v<N>`` dir + meta file; a long-running
        stream commits once per trigger, so without retention the store
        grows O(#triggers) forever. Only ``_CURRENT`` is ever read back —
        history exists purely for debugging — so trimming is safe at any
        depth ≥ 1."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.keep_history = max(1, int(keep_history))
        os.makedirs(self.path, exist_ok=True)
        # in-memory copy of the committed offsets (tiny: one row per tablet)
        # so per-batch load() costs no file read; rebuilt from parquet on a
        # fresh instance (restart)
        self._mem: tuple | None = None

    def _cur(self) -> int:
        p = os.path.join(self.path, "_CURRENT")
        if not os.path.exists(p):
            return -1
        with open(p) as f:
            return int(f.read().strip())

    def _commit(self, version: int, meta: dict) -> None:
        with open(os.path.join(self.path, f"meta-v{version:08d}.json"), "w") as f:
            json.dump(meta, f)
        atomic_write(os.path.join(self.path, "_CURRENT"), str(version))
        self._trim(version)

    def _trim(self, cur: int) -> None:
        """Delete versions below cur - keep_history + 1 (after the pointer
        swap, so a crash mid-trim only leaves extra files for next time)."""
        import shutil

        floor = cur - self.keep_history + 1
        if floor <= 0:
            return
        for entry in os.listdir(self.path):
            v = None
            if entry.startswith("v") and entry[1:].isdigit():
                v = int(entry[1:])
            elif entry.startswith("meta-v") and entry.endswith(".json"):
                v = int(entry[6:-5])
            if v is not None and v < floor:
                p = os.path.join(self.path, entry)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)

    def load(self) -> DataFrame | None:
        rows = self.load_rows()
        if rows is None:
            return None
        return self.spark.createDataFrame(rows, CKPT_SCHEMA)

    def load_rows(self) -> list[tuple] | None:
        """Offset map as plain tuples (tablet_id, term, index, write_id,
        phase) — the O(#tablets) driver-side form."""
        if self._mem is not None:
            return self._mem
        v = self._cur()
        if v < 0:
            return None
        df = self.spark.read.parquet(os.path.join(self.path, f"v{v:08d}"))
        self._mem = [
            (r["tablet_id"], r["term"], r["index"], r["write_id"], r["phase"])
            for r in df.collect()
        ]
        return self._mem

    def meta(self) -> dict:
        v = self._cur()
        if v < 0:
            return {}
        with open(os.path.join(self.path, f"meta-v{v:08d}.json")) as f:
            return json.load(f)

    def commit(self, new_offsets, meta: dict | None = None) -> None:
        """O2 — max-merge the new offsets into the store and atomically
        publish (checkpoint never moves backwards even if the caller hands
        us stale offsets).

        The offset map is O(#tablets), so the merge runs driver-side and the
        parquet version is written with pyarrow directly: committing a
        checkpoint costs ZERO Spark jobs. (The reference's commit path is
        likewise a driver-side map merge, ``getHigherOffsets:488-518``.)
        Accepts a DataFrame (collected once) or pre-collected rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if isinstance(new_offsets, DataFrame):
            new_offsets = [
                (r["tablet_id"], r["term"], r["index"], r["write_id"], r["phase"])
                for r in new_offsets.collect()
            ]
        rows = merge_offset_rows(self.load_rows(), new_offsets)
        v = self._cur() + 1
        vdir = os.path.join(self.path, f"v{v:08d}")
        os.makedirs(vdir, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[], [], [], [], []]
        pq.write_table(
            pa.table(
                {
                    "tablet_id": pa.array(cols[0], pa.string()),
                    "term": pa.array(cols[1], pa.int64()),
                    "index": pa.array(cols[2], pa.int64()),
                    "write_id": pa.array(cols[3], pa.int64()),
                    "phase": pa.array(cols[4], pa.string()),
                }
            ),
            os.path.join(vdir, "part-00000.parquet"),
        )
        self._commit(v, {**self.meta(), **(meta or {})})
        self._mem = rows
