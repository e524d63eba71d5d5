"""M1 integration — the consistent-mode release gate as a stateful
multi-trigger operator for the streaming front-end.

Reference semantics: the consistent streaming source keeps a per-tablet
safetime map fed by SAFEPOINT records and lets the Merger release a record
only once ``commit_time <= min(safetime over ALL consumed tablets)``;
records beyond the gate wait in a pending queue and re-enter on a later
poll (``Merger.java:116-133``, ``YugabyteDBConsistentStreamingSource
.java:174-254``).

Spark-first re-expression: the pending queue is an APPEND-ONLY parquet
segment store — each trigger writes exactly one segment holding only the
NEWLY held rows of that trigger; the carried backlog is the union of live
segments filtered to ``commit_time > released_upto``. Because release is a
monotone commit-time threshold, a row's liveness is decided by the scalar
``released_upto`` alone: no segment is ever rewritten on release, so total
bytes written across k closed-gate triggers is O(backlog), not O(k*backlog).
Segments whose max commit-time falls below the threshold are dropped whole;
when the estimated dead fraction of the remaining segments exceeds ~50%,
the live remainder is compacted into one fresh segment. The safetime map is
driver-side JSON state (one entry per tablet — the same cardinality the
reference holds on-heap).

The gate runs no pass of its own over a trigger. Its per-tablet safetimes
come from the caller's stats pass (``streaming.pipeline.window_stats``,
which ``apply_batch`` already runs), its release threshold is
``order.stream_safetime``, and a segment's row count and commit-time
extent are observed on the segment write itself. Its Spark work per
trigger is that write, plus the read of carried segments when the gate is
open and some exist (and a compaction's rewrite when one is due).

Why this closes the two documented out-of-order caveats (stream.py): the
released sets form commit-time-complete prefixes per trigger — the
transport's per-tablet order + the min-over-all-tablets gate guarantee no
later trigger can deliver a record older than anything already applied, so
per-column LWW never sees a stale partial update after a newer one, and a
DDL marker is always applied in its commit-order position.

Crash-recovery invariant (ordering with the checkpoint): ``apply_batch``
calls ``gate.process`` BEFORE ``ckpt.commit`` — held rows are durable in
this store before the source offsets are acknowledged, so a crash between
the two never leaves acked rows that exist nowhere durable. Within
``process`` itself, replay of the same trigger id (Spark re-runs
foreachBatch when the crash lands after our state save but before Spark's
own source commit) is handled by snapshotting the pre-trigger view
(``prev``) in the state file: a replayed id restores that view, excludes
its own half-written segment from the carried set, and re-derives the SAME
released rows. Physical deletion of retired segments is deferred one
trigger (until a NEW id arrives, proving Spark committed the previous one),
so a restored view's segment files still exist. The returned ``released``
DataFrame is lazy — it reads segment files when the caller's MERGE runs —
which is safe for the same reason: nothing it reads is deleted until the
next trigger id is processed.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import order
from ..operators._store import atomic_write
from ..operators.filters import NON_DISPATCHED_OPS
from ..operators.order import ht_key, ht_key_py


class ConsistentGate:
    """Stateful release gate: hold records beyond the stream safetime in an
    append-only parquet segment store; re-inject them on later triggers."""

    #: compact the live remainder when estimated-dead/total exceeds this
    COMPACT_DEAD_FRACTION = 0.5
    #: squash all live segments into one when more than this many remain
    #: after the sweep (bounds segment-list growth under a cold tablet
    #: that keeps the gate closed for hundreds of triggers)
    MAX_LIVE_SEGMENTS = 64

    def __init__(
        self, spark: SparkSession, path: str, tablets: list[str] | None = None
    ):
        """``tablets``: the full tablet assignment being consumed (from
        tablet discovery, S1). The reference's source knows this up front —
        a tablet whose stream has not arrived AT ALL must still constrain
        the gate (unknown safetime ⇒ nothing is safe). Without it the gate
        falls back to the weaker tablets-seen-so-far set.

        ``tablets=None`` trades consistency for availability: a row from a
        tablet discovered only after the gate has already released up to
        some threshold is released on arrival (never silently held or
        dropped), even though that tablet's own safetime is still unknown —
        i.e. the record may be emitted above its tablet's safetime. In
        production, pass the discovered tablet assignment (S1) so the gate
        is closed until every consumed tablet has reported; seen-tablets
        mode is for ad-hoc replay where the assignment is unknowable."""
        self.spark = spark
        self.path = path
        self.tablets = list(tablets) if tablets is not None else None
        #: scan accounting for the most recent _seg_df / release read —
        #: {"segments_read", "segments_live"}; tested, not just claimed
        self.last_scan: dict = {}
        self.last_release_scan: dict = {}
        os.makedirs(path, exist_ok=True)

    # ---------------------------------------------------------- state
    def _state_path(self) -> str:
        return os.path.join(self.path, "state.json")

    def state(self) -> dict:
        p = self._state_path()
        if os.path.exists(p):
            with open(p) as f:
                st = json.load(f)
        else:
            st = {}
        st.setdefault("safetimes", {})
        st.setdefault("seen", [])
        st.setdefault("segments", [])  # [{name, rows, min_ct, max_ct}]
        st.setdefault("retired", [])  # names; deleted on the next NEW id
        st.setdefault("released_upto", None)
        st.setdefault("last_bid", None)
        st.setdefault("prev", None)  # {segments, released_upto} snapshot
        return st

    def _save_state(self, st: dict) -> None:
        atomic_write(self._state_path(), json.dumps(st))

    # ---------------------------------------------------------- gate
    def stream_safetime(self, st: dict | None = None) -> int | None:
        """``order.stream_safetime`` over the carried safetimes: the
        unsigned min over every consumed tablet (the assignment, or the
        tablets seen so far), None while any of them is unknown."""
        st = st or self.state()
        consumed = self.tablets if self.tablets is not None else st["seen"]
        return order.stream_safetime(st["safetimes"], consumed)

    # ------------------------------------------------------- segments
    def _seg_df(
        self,
        st: dict,
        exclude: set[str] = frozenset(),
        min_ct_leq: int | None = None,
    ) -> DataFrame | None:
        """Union of live segments, filtered to logically-live rows.

        ``min_ct_leq`` prunes the READ itself using the per-segment
        commit-time extents held in driver state: a segment whose
        ``min_ct`` (ht_key domain) is above the threshold cannot contain a
        row at or below it, so its files are never opened. The release path
        passes the gate here — while one cold tablet drags the gate low, a
        deep backlog is carried WITHOUT re-reading it every trigger.
        Segments are immutable, so pruning never changes carried-forward
        semantics, only which files back the union."""
        names = [
            s["name"]
            for s in st["segments"]
            if s["name"] not in exclude
            and (min_ct_leq is None or s["min_ct"] <= min_ct_leq)
        ]
        self.last_scan = {
            "segments_read": len(names),
            "segments_live": sum(1 for s in st["segments"] if s["name"] not in exclude),
        }
        if not names:
            return None
        df = self.spark.read.parquet(*[os.path.join(self.path, n) for n in names])
        if st["released_upto"] is not None:
            # released_upto (and segment extents) live in the ht_key domain
            df = df.where(ht_key("commit_time") > F.lit(st["released_upto"]))
        return df

    def _write_segment(self, df: DataFrame, name: str, st: dict) -> None:
        """Write ``df`` as a segment and record its row count + commit-time
        extent (in the UNSIGNED-order ht_key domain) — O(#segments) driver
        state used for whole-segment drops and the compaction heuristic.
        One job: the stats are an Observation on the write itself (an
        empty input reports ``n=0``)."""
        full = os.path.join(self.path, name)
        obs = Observation()
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.min(ht_key("commit_time")).alias("lo"),
            F.max(ht_key("commit_time")).alias("hi"),
        ).write.mode("overwrite").parquet(full)
        stats = obs.get
        if stats["n"] == 0:  # nothing held this trigger — drop the husk
            shutil.rmtree(full, ignore_errors=True)
            return
        st["segments"].append(
            {
                "name": name,
                "rows": int(stats["n"]),
                "min_ct": int(stats["lo"]),
                "max_ct": int(stats["hi"]),
            }
        )

    def _sweep_and_compact(self, st: dict, bid: str) -> None:
        """Drop fully-released segments; compact the rest when the
        estimated dead fraction crosses COMPACT_DEAD_FRACTION **or** the
        live-segment count exceeds MAX_LIVE_SEGMENTS. Retired names are
        only physically deleted on the next NEW trigger id.

        The count trigger is the cold-tablet guard: with the gate closed
        (``released_upto`` still None — e.g. one tablet never reports a
        safetime) every trigger appends a segment and nothing is ever
        released, so without it the segment list — and with it state.json,
        the replay ``prev`` snapshot, and every ``_seg_df`` union plan —
        grows O(#triggers) forever. Squashing all live segments into one
        every MAX_LIVE_SEGMENTS triggers costs an O(backlog) rewrite
        amortized to O(backlog / MAX_LIVE_SEGMENTS) per trigger and keeps
        driver state O(1) in trigger count (still O(backlog) on disk,
        which is inherent — the rows really are pending)."""
        upto = st["released_upto"]
        if not st["segments"]:
            return
        live, total_rows, dead_est = [], 0, 0.0
        for s in st["segments"]:
            total_rows += s["rows"]
            if upto is not None and s["max_ct"] <= upto:  # fully released
                st["retired"].append(s["name"])
                dead_est += s["rows"]
            else:
                live.append(s)
                if upto is not None and s["min_ct"] <= upto:  # partial
                    span = max(s["max_ct"] - s["min_ct"], 1)
                    dead_est += s["rows"] * (upto - s["min_ct"]) / span
        st["segments"] = live
        if len(live) > 1 and (
            (total_rows > 0 and dead_est / total_rows > self.COMPACT_DEAD_FRACTION)
            or len(live) > self.MAX_LIVE_SEGMENTS
        ):
            remainder = self._seg_df(st)
            old = st["segments"]
            st["segments"] = []
            # new path name, old paths only read — no self-overwrite
            self._write_segment(remainder, f"compact_b{bid}", st)
            st["retired"].extend(s["name"] for s in old)

    def _delete_retired_and_orphans(self, st: dict) -> None:
        """Physical cleanup, called only when a NEW trigger id arrives (the
        previous trigger is then known committed, so nothing restored from
        ``prev`` can still need these files). Orphans are half-written
        segments from a crashed attempt that never reached the state file."""
        known = {s["name"] for s in st["segments"]}
        if st["prev"]:
            known |= {s["name"] for s in st["prev"]["segments"]}
        for name in st["retired"]:
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        st["retired"] = []
        for entry in os.listdir(self.path):
            if entry.startswith(("seg_b", "compact_b")) and entry not in known:
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)

    # -------------------------------------------------------- process
    def process(
        self, batch: DataFrame, batch_id: int | str, safetimes: dict
    ) -> DataFrame:
        """One trigger: advance safetimes from this batch's SAFEPOINTs,
        union the carried backlog, release the ``commit_time <= safetime``
        prefix, append ONLY the newly held rows as one segment. Returns the
        released rows (lazy — consumed by the caller's apply chain).

        ``safetimes``: the ``window_stats`` map of ``batch`` — every tablet
        in the trigger mapped to its unsigned-max SAFEPOINT commit time, or
        None. Its keys join the seen-tablet set; its values are max-merged
        (unsigned) into the carried safetimes, so a replay is idempotent.
        Spark work: the held-rows segment write, plus the carried-segment
        read when the gate is open over a backlog."""
        bid = str(batch_id)
        st = self.state()
        replay = st["last_bid"] is not None and bid == st["last_bid"]
        if replay:
            # crashed-then-replayed trigger: restore the pre-trigger view so
            # the SAME released set is re-derived; our own segment from the
            # crashed attempt is excluded (it will be overwritten below) and
            # retired files were never deleted (deletion is deferred).
            st["segments"] = st["prev"]["segments"]
            st["released_upto"] = st["prev"]["released_upto"]
            st["retired"] = []
        else:
            self._delete_retired_and_orphans(st)
        prev = {
            "segments": [dict(s) for s in st["segments"]],
            "released_upto": st["released_upto"],
        }
        for t, safe in safetimes.items():
            if t not in st["seen"]:
                st["seen"].append(t)
            if safe is not None:
                st["safetimes"][t] = max(
                    st["safetimes"].get(t, safe), safe, key=ht_key_py
                )
        new_rows = batch.where(~F.col("op").isin(*NON_DISPATCHED_OPS))
        gate = self.stream_safetime(st)
        # released-side read is PRUNED by driver-held segment extents: only
        # segments that can hold a row <= gate are opened (closed gate ⇒
        # zero segment files touched, however deep the backlog)
        if gate is not None:
            carried = self._seg_df(
                st, exclude={f"seg_b{bid}"}, min_ct_leq=ht_key_py(gate)
            )
            self.last_release_scan = dict(self.last_scan)
        else:
            carried = None
            self.last_release_scan = {
                "segments_read": 0,
                "segments_live": len(st["segments"]),
            }
        # the effective release threshold for NEW rows is the max of the
        # current gate and the already-released watermark: a row arriving
        # AT OR BELOW released_upto (a late tablet in seen-tablets mode can
        # drag the gate, or close it entirely, below rows already released)
        # is past its release condition and must go out NOW — the reference
        # Merger's peek releases any record with commit_time <= safetime on
        # arrival. Holding it would be fatal: segment liveness is the
        # scalar released_upto, so a held row at/below it would be filtered
        # as already-released and silently dropped.
        eff_keys = [k for k in (
            ht_key_py(gate) if gate is not None else None, st["released_upto"]
        ) if k is not None]
        if not eff_keys:
            released = new_rows.where(F.lit(False))
            held_new = new_rows
        else:
            gk = F.lit(max(eff_keys))
            released = new_rows.where(ht_key("commit_time") <= gk)
            if carried is not None and gate is not None:
                # carried rows live strictly above released_upto, so the
                # plain gate decides them (no late-release case there)
                released = released.unionByName(
                    carried.where(ht_key("commit_time") <= F.lit(ht_key_py(gate))),
                    allowMissingColumns=True,
                )
            held_new = new_rows.where(ht_key("commit_time") > gk)
        # durable FIRST (before the caller commits offsets): only the new
        # trigger's held rows are written — the backlog is never rewritten
        self._write_segment(held_new, f"seg_b{bid}", st)
        if gate is not None:
            gate_key = ht_key_py(gate)
            st["released_upto"] = (
                gate_key
                if st["released_upto"] is None
                else max(st["released_upto"], gate_key)
            )
        self._sweep_and_compact(st, bid)
        st["last_bid"] = bid
        st["prev"] = prev
        self._save_state(st)
        return released

    # ---------------------------------------------------------- drain
    def flush(self) -> DataFrame | None:
        """End-of-log drain: release everything still pending (no further
        records can arrive, so commit-order release is trivially satisfied).
        Returns the drained rows, or None if nothing is pending."""
        return self._seg_df(self.state())

    def clear_pending(self) -> None:
        """Drop the pending store after a flush drain has been applied —
        the sink's batch-id skip and monotonic fold would absorb a
        re-drain, but clearing keeps restarts from re-reading stale rows."""
        st = self.state()
        for name in [s["name"] for s in st["segments"]] + st["retired"]:
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        st["segments"], st["retired"], st["prev"] = [], [], None
        self._save_state(st)
