"""Curation-index soak: prove the incremental dedup indexes' O(batch)
per-add claims AT TRIGGER COUNT, not just per call.

Drives ``ExactDedupIndex.add`` and ``MinHashIndex.add`` for N successive
batches (deterministic synthetic docs with a controlled duplicate rate
against earlier batches), recording per-add wall, the pruned-read stats
(read vs total partition dirs), and the store's directory count; runs
``compact()`` at the configured cadence and records its effect. A healthy
engine shows FLAT per-add wall (the guard/candidate/verify reads scale
with the batch, not the corpus) and directory counts that saw-tooth with
compaction instead of growing without bound.

Usage (round artifact):
  python tools/soak_curation.py --out BENCH/soak_curation_r7.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from debezium_connector_yugabytedb_1_spark.operators.dedup import (  # noqa: E402
    ExactDedupIndex,
    MinHashIndex,
)
from debezium_connector_yugabytedb_1_spark.session import get_spark  # noqa: E402


def _batch(spark, n_docs: int, batch_no: int, dup_pct: int):
    """Deterministic docs; ``dup_pct`` % of rows repeat a text from an
    EARLIER batch (same generator formula, earlier batch number) so adds
    exercise the cross-batch duplicate path, not just self-dedup."""
    base = batch_no * n_docs
    src_batch = F.when(
        (F.pmod(F.col("id"), F.lit(100)) < dup_pct) & (F.lit(batch_no) > 0),
        F.pmod(F.col("id"), F.lit(max(batch_no, 1))),
    ).otherwise(F.lit(batch_no))
    src_id = F.pmod(F.col("id"), F.lit(n_docs)) + src_batch * n_docs
    # wide per-slot vocabulary: texts are unique unless src_id matches, so
    # pairs come only from the INTENTIONAL duplicates and per-add pair
    # counts stay bounded by the batch's dup rate (a 50-word vocabulary
    # made every doc a near-dup of the whole corpus — O(corpus) pairs per
    # add by construction, which would measure the data, not the engine)
    words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"w{j}-"),
                F.pmod(src_id * (j + 3) + j, F.lit(100_000)).cast("string"),
            )
            for j in range(12)
        ],
    )
    return spark.range(n_docs).select(
        (F.col("id") + base).alias("doc_id"),
        F.concat(F.lit("doc "), src_id.cast("string"), F.lit(" "), words).alias("text"),
    )


def _dirs(root: str) -> int:
    n = 0
    for r, ds, _fs in os.walk(root):
        n += len(ds)
    return n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--triggers", type=int, default=50)
    ap.add_argument("--docs-per-batch", type=int, default=2000)
    ap.add_argument("--dup-pct", type=int, default=10)
    ap.add_argument("--compact-every", type=int, default=10)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))
    ap.add_argument("--root", default="/tmp/spark_graft_soak_curation")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    shutil.rmtree(args.root, ignore_errors=True)
    os.makedirs(args.root)
    spark = get_spark(app_name="soak-curation", cores=args.cores)

    ex_path = os.path.join(args.root, "exidx")
    mh_path = os.path.join(args.root, "mhidx")
    exidx = ExactDedupIndex(spark, ex_path, n_parts=16)
    mhidx = MinHashIndex(spark, mh_path, threshold=0.5,
                         n_posting_parts=16, n_set_parts=16)
    rows = []
    for t in range(args.triggers):
        docs = _batch(spark, args.docs_per_batch, t, args.dup_pct)
        t0 = time.monotonic()
        ex_out = exidx.add(docs)
        ex_dupes = ex_out.where("is_duplicate").count()
        ex_wall = time.monotonic() - t0
        ex_stats = dict(exidx.last_add_stats)

        t0 = time.monotonic()
        mh_pairs = mhidx.add(docs).count()
        mh_wall = time.monotonic() - t0
        mh_stats = dict(mhidx.last_add_stats)

        compacted = 0
        t0 = time.monotonic()
        if args.compact_every and (t + 1) % args.compact_every == 0:
            compacted = exidx.compact() + mhidx.compact()
        compact_wall = time.monotonic() - t0
        rec = {
            "trigger": t,
            "exact_add_sec": round(ex_wall, 3),
            "exact_dupes": ex_dupes,
            "exact_stats": ex_stats,
            "minhash_add_sec": round(mh_wall, 3),
            "minhash_pairs": mh_pairs,
            "minhash_stats": mh_stats,
            "compacted_batches": compacted,
            "compact_sec": round(compact_wall, 3),
            "exact_dirs": _dirs(ex_path),
            "minhash_dirs": _dirs(mh_path),
            "loadavg": round(os.getloadavg()[0], 2),
        }
        rows.append(rec)
        print(
            f"trigger {t:3d}: exact {ex_wall:5.2f}s ({ex_dupes} dupes) "
            f"minhash {mh_wall:5.2f}s ({mh_pairs} pairs) "
            f"dirs ex={rec['exact_dirs']} mh={rec['minhash_dirs']}"
            + (f" [compacted {compacted}]" if compacted else ""),
            flush=True,
        )

    def _fit(key):
        xs = [r["trigger"] for r in rows]
        ys = [r[key] for r in rows]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        den = sum((x - mx) ** 2 for x in xs) or 1.0
        return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den

    first5 = rows[: max(5, len(rows) // 10)]
    last5 = rows[-max(5, len(rows) // 10):]
    summary = {
        "triggers": args.triggers,
        "docs_per_batch": args.docs_per_batch,
        "dup_pct": args.dup_pct,
        "compact_every": args.compact_every,
        "cores": args.cores,
        "exact_first_mean": round(sum(r["exact_add_sec"] for r in first5) / len(first5), 3),
        "exact_last_mean": round(sum(r["exact_add_sec"] for r in last5) / len(last5), 3),
        "minhash_first_mean": round(sum(r["minhash_add_sec"] for r in first5) / len(first5), 3),
        "minhash_last_mean": round(sum(r["minhash_add_sec"] for r in last5) / len(last5), 3),
        "exact_slope_sec_per_trigger": round(_fit("exact_add_sec"), 5),
        "minhash_slope_sec_per_trigger": round(_fit("minhash_add_sec"), 5),
        "max_exact_dirs": max(r["exact_dirs"] for r in rows),
        "max_minhash_dirs": max(r["minhash_dirs"] for r in rows),
        "final_exact_dirs": rows[-1]["exact_dirs"],
        "final_minhash_dirs": rows[-1]["minhash_dirs"],
        "rows": rows,
    }
    print(json.dumps({k: v for k, v in summary.items() if k != "rows"}, indent=2))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f)
        print(f"wrote {args.out}")
    shutil.rmtree(args.root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
