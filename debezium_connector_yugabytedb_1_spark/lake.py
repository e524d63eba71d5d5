"""K1 + D1 — the sink: a versioned, bucket-partitioned lake table with an
idempotent MERGE and metadata schema evolution.

On a production cluster this layer is Apache Iceberg: the pipeline's merge is
exactly

    MERGE INTO target t USING batch s
      ON t.repo = s.repo AND t.path = s.path
      WHEN MATCHED AND NOT s.exists AND s.last_offset > t._last_offset THEN DELETE
      WHEN MATCHED AND s.last_offset > t._last_offset THEN UPDATE SET
           c = CASE WHEN s.c_set THEN s.c_val
                    WHEN s.had_delete THEN NULL ELSE t.c END, ...
      WHEN NOT MATCHED AND s.exists THEN INSERT ...

with ``ALTER TABLE ADD/RENAME COLUMN`` for DDL. The Iceberg runtime jar is
not available in this sandbox, so this module implements the same semantics
on plain parquet with Iceberg's *mechanisms*: immutable data files, a
manifest (JSON) mapping bucket partitions to data directories, an atomically
swapped current-version pointer, copy-on-write of only the touched buckets,
and applied-batch-id tracking for exactly-once re-delivery skips. The public
API is sink-agnostic so Iceberg can be swapped in without touching the
pipeline.

Scale design: the table is hash-bucketed on the merge key (xxhash64(repo,
path) % n_buckets). A MERGE reads **only the buckets the batch touches**
(partition pruning by manifest lookup, not file scan), unions them with
the batch's events, folds the union in ONE aggregation (no join), and
rewrites only those buckets. Untouched buckets are carried forward by
manifest pointer — zero data movement, exactly Iceberg copy-on-write. At
100 TB with n_buckets sized so a bucket ~ a few GB, per-batch work is
proportional to touched data, not table size.

Reference parity: the merge's monotonic offset guard re-creates the
connector's "never move the checkpoint backwards" rule
(``YugabyteDBStreamingChangeEventSource.java:976-986``) at row granularity;
applied-batch tracking mirrors the explicit-checkpoint ack dance
(``YugabyteDBConnectorTask.java:437-477``) — re-delivered batches are
absorbed, which is how the reference absorbs snapshot re-delivery too
(``YugabyteDBSnapshotResumeTest.java:120-133``).

Single-writer assumption (one streaming query), like a Kafka Connect task.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators._store import atomic_write
from .operators.decode import cell_set
from .operators.emit import UPSERT_OPS
from .operators.order import fold_aggs, newer_than_delete

KEY_COLS = ("repo", "path")
#: hidden bookkeeping columns stored per row. ``_deleted`` rows are
#: tombstones: a deleted key keeps (key, last offset, _deleted=true) so a
#: LATE-ARRIVING lower-offset upsert (out-of-order transport, e.g. the
#: Structured Streaming file source across triggers) loses the monotonic
#: guard instead of resurrecting the row. Tombstones are invisible to
#: readers and reclaimable via ``vacuum_tombstones``.
_META_COLS = ("_last_term", "_last_index", "_last_write_id", "content_sha256", "_deleted")


def _packed_offset(term, index, write_id):
    """Order-preserving single-long encoding of (term, index, write_id):
    14/38/11-bit fields with a +2 bias (covers the snapshot term -1). An
    out-of-budget field would silently carry into its neighbor and
    scramble offset ordering — worth 6 long comparisons per row to fail
    loudly instead (the budget is generous: term < 16,382,
    index < 2^38-2 ≈ 2.7e11, write_id < 2,046 even after the PK-split
    doubling)."""
    t, i, w = term + 2, index + 2, write_id + 2
    bad = (
        (t < 0) | (t >= (1 << 14))
        | (i < 0) | (i >= (1 << 38))
        | (w < 0) | (w >= (1 << 11))
    )
    packed = (F.shiftleft(t, 49) + F.shiftleft(i, 11) + w).cast("long")
    err = F.concat(
        F.lit("offset outside the packed 14/38/11-bit budget: term="),
        term.cast("string"), F.lit(" index="), index.cast("string"),
        F.lit(" write_id="), write_id.cast("string"),
    )
    return F.when(bad, F.raise_error(err).cast("long")).otherwise(packed)


def _write_version(df: DataFrame, out: str) -> None:
    """Write a new version's bucket partitions into its data directory.
    Static overwrite: an attempt that crashed before its pointer swap left
    the same directory behind (the version number is reused), and the
    session's dynamic mode would keep that attempt's buckets next to this
    one's — to be listed by ``_written_buckets`` and published."""
    df.write.partitionBy("bucket").mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).parquet(out)


def bucket_expr(n_buckets: int, key_cols=KEY_COLS):
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))


@dataclass
class MergeStats:
    version: int
    skipped: bool = False
    upserted: int = 0
    deleted: int = 0
    carried: int = 0


class LakeTable:
    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 16, key_cols=KEY_COLS):
        from .config import validate_config  # fail fast on a bad bucket count

        validate_config({"n_buckets": n_buckets})
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_buckets = n_buckets
        self.key_cols = tuple(key_cols)

    # ---------------- manifest protocol ----------------
    def _vdir(self) -> str:
        return os.path.join(self.path, "_versions")

    def _current_version(self) -> int:
        cur = os.path.join(self.path, "_CURRENT")
        if not os.path.exists(cur):
            return -1
        with open(cur) as f:
            return int(f.read().strip())

    def manifest(self) -> dict:
        v = self._current_version()
        if v < 0:
            raise FileNotFoundError(f"lake table not initialized at {self.path}")
        with open(os.path.join(self._vdir(), f"v{v:08d}.json")) as f:
            return json.load(f)

    def _commit_manifest(self, m: dict) -> None:
        """Write manifest v, then atomically swap the pointer (the commit
        point — crash before the swap leaves the old version live)."""
        os.makedirs(self._vdir(), exist_ok=True)
        v = m["version"]
        with open(os.path.join(self._vdir(), f"v{v:08d}.json"), "w") as f:
            json.dump(m, f)
        atomic_write(os.path.join(self.path, "_CURRENT"), str(v))

    def init(self, columns: list[tuple[str, str]]) -> None:
        """Create version 0 with the given (name, spark-ddl-type) payload
        columns and no data."""
        os.makedirs(self.path, exist_ok=True)
        if self._current_version() >= 0:
            return
        self._commit_manifest(
            {
                "version": 0,
                "columns": list(map(list, columns)),
                "buckets": {},
                "applied_batches": [],
                "n_buckets": self.n_buckets,
            }
        )

    @staticmethod
    def cols3(m: dict) -> list[tuple[str, str, str]]:
        """(logical, type, physical) triples. ``init`` writes 2-element
        (name, type) columns, whose physical name is the logical one; a
        column added by ``evolve`` carries its physical name as a third
        element."""
        return [(c[0], c[1], c[2] if len(c) > 2 else c[0]) for c in m["columns"]]

    @property
    def columns(self) -> list[tuple[str, str]]:
        return [(n, t) for n, t, _ in self.cols3(self.manifest())]

    def applied(self, batch_id: str) -> bool:
        return batch_id in self.manifest()["applied_batches"]

    # ---------------- read ----------------
    def read(
        self,
        buckets: list[int] | None = None,
        with_meta: bool = False,
        with_deleted: bool = False,
        manifest: dict | None = None,
    ) -> DataFrame:
        """Current snapshot, optionally pruned to a bucket subset (manifest
        lookup — no file-system scan of untouched partitions). Tombstone
        rows are excluded unless ``with_deleted`` (the merge reads them to
        keep the offset guard order-free). ``manifest`` reads that
        manifest's buckets under its columns instead of the current one's
        (``merge_events`` reads its target under a not-yet-committed
        evolved schema)."""
        m = self.manifest() if manifest is None else manifest
        sel = m["buckets"]
        if buckets is not None:
            want = {str(b) for b in buckets}
            sel = {b: p for b, p in sel.items() if b in want}
        cols = self.cols3(m)
        meta_ddl = (
            "_last_term long, _last_index long, _last_write_id long, "
            "content_sha256 string, _deleted boolean"
        )
        # data files store PHYSICAL column names; renames are applied here at
        # read projection — the Iceberg field-ID indirection emulated with a
        # per-column physical name, which is what makes RENAME metadata-only
        ddl = ", ".join(
            [f"{k} string" for k in self.key_cols]
            + [f"{p} {t}" for _, t, p in cols]
            + [meta_ddl]
        )
        names = (
            [F.col(k) for k in self.key_cols]
            + [F.col(p).alias(n) for n, _, p in cols]
            + [F.col(c) for c in _META_COLS]
        )
        if not sel:
            logical_ddl = ", ".join(
                [f"{k} string" for k in self.key_cols]
                + [f"{n} {t}" for n, t, _ in cols]
                + [meta_ddl]
            )
            df = self.spark.createDataFrame([], logical_ddl)
        else:
            # explicit manifest schema: no footer sampling/mergeSchema cost;
            # files predating an ADD COLUMN read the new column as NULL
            paths = [os.path.join(self.path, p) for p in sel.values()]
            df = self.spark.read.schema(ddl).parquet(*paths).select(*names)
        if not with_deleted:
            df = df.where(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df if with_meta else df.drop(*_META_COLS)

    # ---------------- DDL (D1) ----------------
    def evolve(self, m: dict, ddl: dict) -> tuple[dict, str | None]:
        """Apply one DDL record (``{"action": "add_column" | "rename_column"
        | "drop_column", ...}``) to manifest ``m`` **in memory**. Returns
        the evolved copy (``m`` itself is untouched; the version is not
        bumped — the caller's commit does that) and a description of the
        change, or ``(m, None)`` when nothing changed: the
        refresh-only-if-changed check (``YugabyteDBSchema
        .shouldRefreshSchema:213-243``). Every schema change goes through
        here, whether committed alone (``add_column`` & co.) or together
        with a window's data (``merge_events(manifest=...)``).

        All three are **metadata only**, zero data movement — Iceberg's
        field-ID indirection emulated with per-column physical names
        (``read()`` maps physical to logical at projection):

        - ADD picks a physical name no file has ever used (a prior column
          may have been renamed away from the name — or DROPPED — leaving
          old files with a physical column of that name holding THAT
          column's data), so old files read the new column as NULL;
        - RENAME rewrites only the logical name (at 100 TB a rename that
          rewrote data would be a full-table write inside the batch loop);
        - DROP removes the column from the manifest while existing files
          keep the physical data until their bucket's next copy-on-write
          rewrite — PostgreSQL's ``attisdropped`` storage model (the
          reference's schema refresh reads only non-dropped columns,
          ``YugabyteDBSchema:531-543``). The physical name is retired
          permanently, so a later ADD of the same name maps to a FRESH
          physical column and can never resurrect dropped data. Key
          columns cannot be dropped."""
        cols = self.cols3(m)
        names = {n for n, _, _ in cols}
        action = ddl.get("action")
        dropped = list(m.get("dropped_physicals", []))
        if action == "add_column" and ddl["name"] not in names:
            name = ddl["name"]
            used = (
                {p for _, _, p in cols}
                | set(_META_COLS)
                | set(self.key_cols)
                | set(dropped)
            )
            physical, fid = name, m["version"] + 1
            while physical in used:
                physical = f"{name}_f{fid}"
                fid += 1
            cols = cols + [(name, ddl.get("type", "string"), physical)]
            change = f"add_column {name}"
        elif (
            action == "rename_column"
            and ddl["old"] in names
            and ddl["new"] not in names
        ):
            old, new = ddl["old"], ddl["new"]
            cols = [(new if n == old else n, t, p) for n, t, p in cols]
            change = f"rename_column {old}->{new}"
        elif (
            action == "drop_column"
            and ddl["name"] in names
            and ddl["name"] not in self.key_cols
        ):
            name = ddl["name"]
            dropped += [p for n, _, p in cols if n == name]
            cols = [c for c in cols if c[0] != name]
            change = f"drop_column {name}"
        else:
            return m, None
        out = {**m, "columns": [list(c) for c in cols]}
        if dropped:
            out["dropped_physicals"] = dropped
        return out, change

    def _commit_ddl(self, ddl: dict) -> bool:
        """``evolve`` the current manifest and commit it as the next
        version; False (and no commit) when the DDL changes nothing."""
        m, change = self.evolve(self.manifest(), ddl)
        if change is None:
            return False
        m["version"] += 1
        self._commit_manifest(m)
        return True

    def add_column(self, name: str, ddl_type: str) -> bool:
        """Metadata-only ADD COLUMN (Iceberg-style; rules in ``evolve``).
        Returns False if the column already exists."""
        return self._commit_ddl({"action": "add_column", "name": name, "type": ddl_type})

    def rename_column(self, old: str, new: str) -> bool:
        """Metadata-only RENAME COLUMN (rules in ``evolve``). Returns False
        if ``old`` is missing or ``new`` already exists."""
        return self._commit_ddl({"action": "rename_column", "old": old, "new": new})

    def drop_column(self, name: str) -> bool:
        """Metadata-only DROP COLUMN (rules in ``evolve``). Returns False
        if the column is missing or is a key column."""
        return self._commit_ddl({"action": "drop_column", "name": name})

    def _written_buckets(self, out_dir: str, rel: str) -> dict:
        found = {}
        if os.path.isdir(out_dir):
            for d in os.listdir(out_dir):
                if d.startswith("bucket="):
                    found[d.split("=", 1)[1]] = f"{rel}/{d}"
        return found

    def expire_versions(self, keep_last: int = 5) -> int:
        """Iceberg ``expire_snapshots`` analogue: delete version manifests
        older than the last ``keep_last`` and any data directory no longer
        referenced by a kept manifest. Returns #data dirs removed.

        Safe under the single-writer assumption: the current pointer is
        never touched, and only unreferenced directories are deleted."""
        import shutil

        cur = self._current_version()
        if cur < 0:
            return 0
        keep = set(range(max(0, cur - keep_last + 1), cur + 1))
        referenced: set[str] = set()
        for v in keep:
            p = os.path.join(self._vdir(), f"v{v:08d}.json")
            if not os.path.exists(p):
                continue
            with open(p) as f:
                m = json.load(f)
            for rel in m["buckets"].values():
                # bucket paths look like data/vNNNNNNNN/bucket=K
                referenced.add(rel.split("/bucket=")[0])
        removed = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                rel = f"data/{d}"
                if rel not in referenced:
                    shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
                    removed += 1
        for f_ in os.listdir(self._vdir()):
            v = int(f_[1:9]) if f_.startswith("v") else None
            if v is not None and v not in keep:
                os.remove(os.path.join(self._vdir(), f_))
        return removed

    def vacuum_tombstones(self, before_index: int) -> int:
        """Reclaim tombstone rows whose delete offset is older than
        ``before_index`` — safe once no transport can still deliver events
        below that index (e.g. the committed checkpoint's min across
        tablets). Rewrites every bucket (a maintenance job, like Iceberg
        ``rewrite_data_files``); returns the number of tombstones dropped."""
        m = self.manifest()
        df = self.read(with_meta=True, with_deleted=True)
        dead = F.coalesce(F.col("_deleted"), F.lit(False)) & (
            F.col("_last_index") < F.lit(before_index)
        )
        obs = Observation("vacuum")
        kept = (
            df.observe(obs, F.sum(dead.cast("long")).alias("dropped"))
            .where(~dead)
            .withColumn("bucket", bucket_expr(self.n_buckets, self.key_cols))
        )
        phys = {n: p for n, _, p in self.cols3(m) if n != p}
        if phys:
            kept = kept.select(
                *[F.col(c).alias(phys.get(c, c)) for c in kept.columns]
            )
        version = m["version"] + 1
        rel = f"data/v{version:08d}"
        out = os.path.join(self.path, rel)
        _write_version(kept.repartition(self.n_buckets, "bucket"), out)
        try:
            dropped = int(dict(obs.get)["dropped"] or 0)
        except Exception:
            dropped = 0
        m["version"] = version
        m["buckets"] = self._written_buckets(out, rel)
        self._commit_manifest(m)
        return dropped

    # ---------------- MERGE (K1) ----------------
    def merge_events(
        self,
        dml: DataFrame,
        batch_id: str,
        touched_buckets: list[int] | None = None,
        manifest: dict | None = None,
    ) -> MergeStats:
        """Fused fold + MERGE — the pipeline hot path.

        The LWW fold is associative: the target's current row image IS the
        fold of every prior event, so merging a batch is just *one more
        fold* over (batch events ∪ target rows re-encoded as READ events at
        their stored offsets). That collapses the whole batch apply into a
        single aggregation job:

            scan events + scan touched target buckets (union, map side)
              → ONE exchange, hashpartitioning(bucket, _salt) — no
                aggregate below it (the WAL arrives in shuffled key order,
                so map-side partial aggregation was measured to reduce
                rows <20% while paying a full extra sort)
              → the fold per key, a partial + final aggregate pair that
                both run above the exchange, whose partitioning already
                clusters every key (delete barriers, per-column LWW,
                monotonic guard all fall out of offset comparison —
                stale/redelivered events simply lose the max())
              → partitionBy("bucket") write: no second exchange, no join.

        The fold is ``order.fold_aggs`` with the ``order.newer_than_delete``
        barrier — the rule ``order.fold_changes`` also uses — over a packed
        long offset, plus the target-only aggregates the stats and the
        sha256 reuse need (``_t_off``, ``_t_vis_off``, ``_s_off``,
        ``_m_sha``). ``test_merge_events_single_aggregation_plan`` pins that
        plan. A separate fold followed by a MERGE join would cost one more
        aggregation, exchange and sort — per-batch fixed cost is what caps
        N→4N scaling efficiency (Amdahl).

        ``content_sha256`` (the per-row invariant) rides along as a column
        only target rows set; it is reused verbatim whenever the winning
        content offset is the target's, so only genuinely changed rows are
        re-hashed.

        Idempotent per ``batch_id`` (a re-delivered batch is skipped) and
        per-row offset-guarded: an event no newer than the row's stored
        offset loses the max() and leaves the row untouched (guard
        ``YugabyteDBStreamingChangeEventSource.java:976-986``, redelivery
        absorption ``YugabyteDBSnapshotResumeTest.java:120-133``). Final
        state and the upserted/deleted/carried stats are checked against
        the pure-Python replay oracle (``tests/oracle.py``) in
        ``test_merge_events.py``.

        ``touched_buckets``: the bucket set the batch touches, when the
        caller already knows it (the pipeline derives it from the window
        stats); omitted, one distinct pass over the batch derives it.

        ``manifest``: merge under this manifest instead of the current one
        — the current one ``evolve``-d through a window's DDLs. ``dml``
        then carries that schema's logical columns, the target is read
        under it, and its schema lands in the SAME version as the data:
        one pointer swap commits the window's DDLs and rows together, so a
        crash leaves either none or all of them live."""
        m = self.manifest() if manifest is None else manifest
        if batch_id in m["applied_batches"]:
            return MergeStats(version=m["version"], skipped=True)
        cols = [c[0] for c in m["columns"]]
        key = list(self.key_cols)

        # bucket + a key-salt computed map-side: shuffling on (bucket, salt)
        # lets the fold aggregation AND the bucketed write share ONE
        # exchange — each reduce partition holds whole (bucket, salt) units,
        # so partitionBy("bucket") emits at most `salt_width` files per
        # bucket with no post-agg repartition (and no third stage).
        # ~4 units per core. The units must be fine enough that bucket-size
        # skew and wave quantization don't idle cores in the fold/write
        # stage: on 16M-event batches, 16 units on 8 cores ran the reduce at
        # parallelism 4.3, and 64 units (8 per core) lifted throughput
        # 335k -> 449k ev/s. But each unit is a write task with a fixed
        # cost: on 4 cores, a 2k-event window over a 16-bucket lake spent
        # 1.0-1.7 s of executor CPU deserializing its 32 write tasks, as
        # much as their run CPU. 4 per core halved the tasks and files and
        # cut the write stage from 1.2-1.9 to 0.9-1.1 s, and over a 10x
        # larger lake (~112k rows) 1 salt was still faster than 2.
        salt_width = max(
            1,
            -(-4 * self.spark.sparkContext.defaultParallelism // self.n_buckets),
        )
        bkt = bucket_expr(self.n_buckets, self.key_cols)
        salt = F.pmod(F.xxhash64(*self.key_cols, F.lit(7)), F.lit(salt_width))
        # offsets ride the shuffle as ONE packed long instead of 3: the
        # (term, index, write_id) lexicographic order is preserved by a
        # 14/38/11-bit split with a +2 bias (covers the snapshot term -1).
        # Budget: term < 2^14-2 (Raft terms are small), index < 2^38-2
        # ≈ 2.7e11 (27x the 10^10-event target),
        # write_id < 2^11-2 = 2046 — the intra-WAL-record index is single
        # digits, but split_pk_updates DOUBLES it (2w / 2w+1 for the
        # delete/create pair), so the field must hold 2*max+1 (boundary-
        # value test: test_merge_events_packed_offsets_match_oracle_at_field
        # _limits). This narrows both the shuffle row and every
        # max(struct) sort buffer from 3 longs to 1.
        pack = _packed_offset(F.col("term"), F.col("index"), F.col("write_id"))
        # 8-byte key hash leading the grouping columns: the fold is a
        # SortAggregate over (bucket, salt, key...), and putting _kh before
        # the (repo, path) strings lets every sort comparison short-circuit
        # on a long instead of comparing two strings (equal-hash ties fall
        # through to the real key, so grouping is unchanged — _kh is a pure
        # function of the key). +8 bytes of shuffle row for cheaper sort
        # compares: measured +7-12% at 1-8 cores with the lz4 codec.
        kh = F.xxhash64(*self.key_cols).alias("_kh")
        ev = dml.select(
            *key,
            bkt.alias("bucket"),
            salt.alias("_salt"),
            kh,
            "op",
            pack.alias("_off"),
            *[F.col(f"after.{c}").alias(f"_v_{c}") for c in cols],
            *[cell_set(c).alias(f"_set_{c}") for c in cols],
        )
        if touched_buckets is None:
            touched = [r["bucket"] for r in ev.select("bucket").distinct().collect()]
        else:
            touched = [int(b) for b in touched_buckets]
        t = self.read(buckets=touched, with_meta=True, with_deleted=True, manifest=m)
        # tombstone target rows re-enter the fold as DELETE events at their
        # stored offset — a late lower-offset upsert then loses the max()
        t_dead = F.coalesce(F.col("_deleted"), F.lit(False))
        t_pack = _packed_offset(
            F.col("_last_term"), F.col("_last_index"), F.col("_last_write_id")
        )
        tev = t.select(
            *key,
            bkt.alias("bucket"),
            salt.alias("_salt"),
            kh,
            F.when(t_dead, F.lit("d")).otherwise(F.lit("r")).alias("op"),
            t_pack.alias("_off"),
            *[F.col(c).alias(f"_v_{c}") for c in cols],
            *[(~t_dead).alias(f"_set_{c}") for c in cols],
            F.col("content_sha256").alias("_sha"),
            F.lit(True).alias("_is_target"),
        )
        u = ev.unionByName(tev, allowMissingColumns=True)

        off = F.col("_off")
        is_target = F.col("_is_target").isNotNull() & F.col("_is_target")
        aggs = [
            *fold_aggs(off, {c: (F.col(f"_v_{c}"), F.col(f"_set_{c}")) for c in cols}),
            F.max(F.when(is_target, off)).alias("_t_off"),
            F.max(F.when(is_target & F.col("op").isin(*UPSERT_OPS), off)).alias("_t_vis_off"),
            F.max(F.when(~is_target, off)).alias("_s_off"),
            F.max(
                F.when(is_target, F.struct(off.alias("off"), F.col("_sha").alias("v")))
            ).alias("_m_sha"),
        ]
        g = (
            u.repartition(self.n_buckets * salt_width, "bucket", "_salt")
            .groupBy("bucket", "_salt", "_kh", *key)
            .agg(*aggs)
        )

        exists = newer_than_delete(F.col("_last_up"), F.col("_last_del"))
        t_here = F.col("_t_off").isNotNull()
        t_vis = F.col("_t_vis_off").isNotNull()  # target row was visible
        newer = F.col("_s_off").isNotNull() & (
            ~t_here | (F.col("_s_off") > F.col("_t_off"))
        )
        stats_exprs = [
            F.sum((newer & exists).cast("long")).alias("upserted"),
            F.sum((newer & t_vis & ~exists).cast("long")).alias("deleted"),
            F.sum((t_here & ~newer).cast("long")).alias("carried"),
        ]

        def live(c):
            return newer_than_delete(F.col(f"_m_{c}")["off"], F.col("_last_del"))

        out_cols = [F.col("bucket")] + [F.col(k) for k in key]
        for c in cols:
            out_cols.append(F.when(live(c), F.col(f"_m_{c}")["v"]).alias(c))
        out_cols += [
            (F.shiftright("_last_off", 49) - 2).alias("_last_term"),
            (F.shiftright("_last_off", 11).bitwiseAND(F.lit((1 << 38) - 1)) - 2).alias(
                "_last_index"
            ),
            (F.col("_last_off").bitwiseAND(F.lit(0x7FF)) - 2).alias("_last_write_id"),
        ]
        if "content" in cols:
            mc, ms = F.col("_m_content"), F.col("_m_sha")
            content_final = F.when(live("content"), mc["v"])
            out_cols.append(
                F.when(
                    live("content") & ms.isNotNull() & (ms["off"] == mc["off"]),
                    ms["v"],
                )
                .otherwise(F.sha2(content_final, 256))
                .alias("content_sha256")
            )
        else:
            out_cols.append(F.lit(None).cast("string").alias("content_sha256"))

        out_cols.append((~exists).alias("_deleted"))
        obs = Observation(f"merge-{batch_id}")
        # EVERY key is kept — deleted keys as tombstone rows (null values,
        # real offset) so the guard works under any event-arrival order
        merged = g.observe(obs, *stats_exprs).select(*out_cols)
        version = m["version"] + 1
        rel = f"data/v{version:08d}"
        out = os.path.join(self.path, rel)
        # data files store PHYSICAL column names (rename indirection); one
        # atomic select — sequential renames could collide when a logical
        # name equals another column's physical name (rename + re-add case)
        phys = {n: p for n, _, p in self.cols3(m) if n != p}
        if phys:
            merged = merged.select(
                *[F.col(c).alias(phys.get(c, c)) for c in merged.columns]
            )
        _write_version(merged, out)
        try:
            row = dict(obs.get)
        except Exception:
            # AQE's empty-relation propagation can eliminate the observe node
            # when the input is empty; recompute the SAME guarded stats with
            # an explicit (tiny) aggregation job so redelivered / stale
            # batches are not over-counted.
            row = g.agg(*stats_exprs).collect()[0].asDict()

        written = self._written_buckets(out, rel)
        stray = set(written) - {str(b) for b in touched}
        if stray:
            # a caller-supplied bucket set that misses batch rows would drop
            # the unread target rows of those buckets — refuse loudly
            raise ValueError(
                f"merge wrote buckets {sorted(stray)} not in touched_buckets; "
                "caller passed an incomplete bucket set"
            )
        buckets = dict(m["buckets"])
        for b in map(str, touched):
            buckets.pop(b, None)
        buckets.update(written)
        m["version"] = version
        m["buckets"] = buckets
        m["applied_batches"] = (m["applied_batches"] + [batch_id])[-1000:]
        self._commit_manifest(m)
        return MergeStats(
            version=version,
            upserted=int(row["upserted"] or 0),
            deleted=int(row["deleted"] or 0),
            carried=int(row["carried"] or 0),
        )
