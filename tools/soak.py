"""Long-horizon soak harness: sustained micro-batch replay evidence toward
the 10^10-event target (BASELINE.json workload).

Streams ``--batches`` windows of ``--events`` total synthetic change events
through the REAL trigger path (``apply_batch``: gate → epoch decode →
fused fold+MERGE → checkpoint → expire) against one fixed-key-space lake,
then replays the SAME log in one shot on a fresh table and compares final
state by sha256. Per-batch wall clock and every driver/disk state dimension
that could grow O(#triggers) are recorded per batch and summarized:

- wall flatness: mean wall of the last 20 batches vs batches 10..30
  (vacuum batches excluded from both — a scheduled full-table rewrite is
  a known spike, reported separately)
- gate live-segment count (``MAX_LIVE_SEGMENTS`` squash + extent pruning)
- lake ``_versions`` files + data dirs (``expire_versions`` in the loop)
- checkpoint dir entries (``keep_history`` trim)
- gate ``state.json`` bytes (the replay ``prev`` snapshot rides in it)

The generator windows are exact slices of one deterministic log
(``generate_events(..., start=lo)``), so the one-shot replay consumes
bit-identical events without ever materializing the log on disk.

Usage (the round artifact is committed as BENCH/soak_r{N}.json):
    python tools/soak.py --events 100000000 --batches 200 \
        --out BENCH/soak_r5.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from debezium_connector_yugabytedb_1_spark.generator import generate_events  # noqa: E402
from debezium_connector_yugabytedb_1_spark.lake import LakeTable  # noqa: E402
from debezium_connector_yugabytedb_1_spark.operators.checkpoint import (  # noqa: E402
    CheckpointStore,
)
from debezium_connector_yugabytedb_1_spark.session import get_spark  # noqa: E402
from debezium_connector_yugabytedb_1_spark.streaming.gate import ConsistentGate  # noqa: E402
from debezium_connector_yugabytedb_1_spark.streaming.stream import apply_batch  # noqa: E402

COLS = [("commit", "string"), ("lang", "string"), ("content", "string")]


def _sha_state(table: LakeTable) -> tuple[str, int]:
    rows = sorted(map(str, table.read().collect()))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
    return h.hexdigest(), len(rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000_000)
    ap.add_argument("--batches", type=int, default=200)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    ap.add_argument("--n-tablets", type=int, default=8)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--vacuum-every", type=int, default=50,
                    help="tombstone vacuum cadence in batches (0 = off)")
    ap.add_argument("--root", default="/tmp/spark_graft_soak")
    ap.add_argument("--out", default=None)
    ap.add_argument("--skip-oneshot", action="store_true")
    args = ap.parse_args()

    import shutil

    shutil.rmtree(args.root, ignore_errors=True)
    os.makedirs(args.root)
    spark = get_spark(cores=args.cores)
    per = args.events // args.batches
    # the batched loop consumes exactly per*batches events; the one-shot
    # replay and throughput must use the SAME count or a non-divisible
    # --events guarantees a spurious state-mismatch FAIL
    total_events = per * args.batches

    table = LakeTable(spark, os.path.join(args.root, "lake"),
                      n_buckets=args.n_buckets)
    table.init(COLS)
    ckpt = CheckpointStore(spark, os.path.join(args.root, "ckpt"),
                           keep_history=10)
    gate_path = os.path.join(args.root, "gate")
    gate = ConsistentGate(
        spark, gate_path,
        tablets=[f"tablet-{i}" for i in range(args.n_tablets)],
    )

    batches = []
    t_run0 = time.monotonic()
    for i in range(args.batches):
        lo = i * per
        # materialize the window ONCE: apply_batch runs several actions
        # (stats agg, DDL probe, segment write, released-side stats, the
        # merge) and each would otherwise recompute the generation lineage
        w = generate_events(
            spark, per, start=lo, n_tablets=args.n_tablets,
            payload_format="shredded",
        ).localCheckpoint()
        t0 = time.monotonic()
        apply_batch(w, i, table, ckpt, gate=gate, expire_keep=8)
        vac = bool(args.vacuum_every) and (i + 1) % args.vacuum_every == 0
        dropped = 0
        if vac:
            committed = ckpt.load_rows() or []
            if committed:
                dropped = table.vacuum_tombstones(min(int(r[2]) for r in committed))
        wall = time.monotonic() - t0
        st = gate.state()
        rec = {
            "batch": i,
            "wall_s": round(wall, 3),
            "vacuum": vac,
            "vacuumed": dropped,
            "gate_segments": len(st["segments"]),
            "gate_state_bytes": os.path.getsize(gate._state_path()),
            "versions": len(os.listdir(os.path.join(args.root, "lake", "_versions"))),
            "data_dirs": len(os.listdir(os.path.join(args.root, "lake", "data"))),
            "ckpt_entries": len(os.listdir(os.path.join(args.root, "ckpt"))),
        }
        batches.append(rec)
        print(json.dumps(rec), flush=True)
    drained = gate.flush()
    if drained is not None:
        apply_batch(drained, "soak-flush", table, ckpt)
        gate.clear_pending()
    run_wall = time.monotonic() - t_run0
    sha, n_rows = _sha_state(table)

    result = {
        "events": total_events,
        "batches": args.batches,
        "events_per_batch": per,
        "cores": args.cores,
        "run_wall_s": round(run_wall, 1),
        "events_per_sec": round(total_events / run_wall),
        "final_rows": n_rows,
        "final_sha256": sha,
        "per_batch": batches,
    }
    steady = [b["wall_s"] for b in batches[10:30] if not b["vacuum"]]
    tail = [b["wall_s"] for b in batches[-20:] if not b["vacuum"]]
    if steady and tail:
        result["wall_early_mean_s"] = round(sum(steady) / len(steady), 3)
        result["wall_tail_mean_s"] = round(sum(tail) / len(tail), 3)
        result["wall_tail_over_early"] = round(
            result["wall_tail_mean_s"] / result["wall_early_mean_s"], 3
        )
    result["max_gate_segments"] = max(b["gate_segments"] for b in batches)
    result["max_versions"] = max(b["versions"] for b in batches)
    result["max_ckpt_entries"] = max(b["ckpt_entries"] for b in batches)
    result["max_gate_state_bytes"] = max(b["gate_state_bytes"] for b in batches)

    if not args.skip_oneshot:
        t1 = LakeTable(spark, os.path.join(args.root, "oneshot"),
                       n_buckets=args.n_buckets)
        t1.init(COLS)
        ck1 = CheckpointStore(spark, os.path.join(args.root, "ck1"))
        t0 = time.monotonic()
        apply_batch(
            generate_events(spark, total_events, n_tablets=args.n_tablets,
                            payload_format="shredded"),
            "oneshot", t1, ck1,
        )
        result["oneshot_wall_s"] = round(time.monotonic() - t0, 1)
        sha1, n1 = _sha_state(t1)
        result["oneshot_sha256"] = sha1
        result["oneshot_rows"] = n1
        result["state_matches_oneshot"] = sha1 == sha and n1 == n_rows

    out = json.dumps(
        {k: v for k, v in result.items() if k != "per_batch"}, indent=1
    )
    print(out)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    ok = (
        result.get("state_matches_oneshot", True)
        and result.get("wall_tail_over_early", 1.0) < 1.5
        and result["max_gate_segments"] <= ConsistentGate.MAX_LIVE_SEGMENTS + 1
        and result["max_versions"] <= 8 + 1
        and result["max_ckpt_entries"] <= 2 * 10 + 2
    )
    print("SOAK", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
