"""Workload ``curation_queries``: read-only curation queries, no lake, no
pipeline.

A pass runs the queries in ``EXPECTED`` through
``__spark_entry__.queries()`` and ``.count()``s each one. They cover
``functions.converters`` (typed decode), ``operators.dedup`` (n-gram
Jaccard), ``operators.similarity`` (brute-force top-k), ``operators.text``
(quality features) and ``operators.mixing`` (stratified sampling,
sequence packing). At this data size they are bound by query planning,
code generation and per-job cost, not by rows.

The inputs are the ``documents``, ``embeddings`` and ``events`` tables in
``perfbench/data``. The seed shuffles their row order before each run, so
every seed reads different files with the same rows.

Two untimed passes warm the JVM: a ``.count()`` pass on the cold JVM, then
a check pass that fetches every query's rows (so each computes all its
output columns, which ``.count()`` lets Spark prune) and checks them
against the recorded digest. The timed passes ``.count()`` again, and each
query's row count must equal the recorded one in every pass.

``pass_s`` is the median wall of a timed pass. A step is one query, its
latency the median of its walls over the timed passes; ``step_gmean_s`` is
the geometric mean over the queries.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import nullcontext

from spans import spark_jobs

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("documents", "embeddings", "events")

#: query -> (row count, ``digest`` of its rows), recorded on the vendored
#: tables; the same for every row order the seed picks
EXPECTED = {
    "cdc_typed_decode": (2000, "9a6712ca4d73"),
    "dedup_ngram_jaccard": (25, "52533331a3b5"),
    "ann_brute_force_topk": (50, "b3854ba24a45"),
    "text_quality": (500, "fbdd0c30fdd7"),
    "sample_stratified": (192, "4456b174fca7"),
    "pack_sequences": (500, "d96bf0cd714b"),
}
QUERIES = tuple(EXPECTED)
#: one timed pass per this many seconds of ``--seconds``: two at 10 s,
#: as many as the run budget allows next to the check pass
PASS_S = 5


def digest(rows: list[dict]) -> str:
    """Order-independent digest of a query's rows: sha256 over the sorted
    reprs of their value tuples, first 12 hex digits."""
    reprs = sorted(repr(tuple(r.values())) for r in rows)
    return hashlib.sha256(repr(reprs).encode()).hexdigest()[:12]


def prepare(work: str, seed: int) -> str:
    """Write each table with its rows in a seeded random order; return the
    directory the queries read."""
    import numpy as np
    import pyarrow.parquet as pq

    out = os.path.join(work, "tables")
    rng = np.random.default_rng(seed)
    for name in TABLES:
        t = pq.read_table(os.path.join(HERE, "data", f"{name}.parquet"))
        os.makedirs(os.path.join(out, f"{name}.parquet"))
        pq.write_table(
            t.take(rng.permutation(t.num_rows)),
            os.path.join(out, f"{name}.parquet", "part-0.parquet"),
        )
    return out


def run(b, queries=QUERIES) -> dict:
    import __spark_entry__ as entry

    spark, now = b.spark, time.perf_counter
    traced = b.tracer is not None
    t0 = now()
    sf = prepare(b.work, b.seed)
    b.setup["setup.corpus_s"] = now() - t0
    declared = entry.queries()

    def one_pass() -> tuple[float, dict, dict]:
        walls, jobs = {}, {}
        b.settle()
        start = now()
        for name in queries:
            j0 = spark_jobs(spark) if traced else 0
            t0 = now()
            with b.tracer.span(f"q.{name}") if traced else nullcontext():
                n = declared[name](spark, sf).count()
            walls[name] = now() - t0
            jobs[name] = spark_jobs(spark) - j0 if traced else 0
            b.check(n == EXPECTED[name][0])
        return now() - start, walls, jobs

    def check_pass() -> float:
        b.settle()
        start = now()
        for name in queries:
            rows = declared[name](spark, sf).toArrow().to_pylist()
            b.check((len(rows), digest(rows)) == EXPECTED[name])
        return now() - start

    warm = [one_pass()[0], check_pass()]
    b.setup["setup.warmup_s"] = sum(warm)
    timed = [one_pass() for _ in range(max(1, round(b.seconds / PASS_S)))]
    passes = [p for p, _, _ in timed]
    # a query's step latency is its median over the timed passes
    steps = [statistics.median(w[name] for _, w, _ in timed) for name in queries]
    b.samples.update(
        warm_pass_s=warm, pass_s=passes, query_s=[walls for _, walls, _ in timed],
        trend=passes[-1] / passes[0],
    )
    if traced:
        for name, step in zip(queries, steps):
            b.layers[f"q.{name}_s"] = step
            b.layers[f"q.{name}.jobs"] = statistics.median(j[name] for _, _, j in timed)
        b.layers["spark.jobs"] = statistics.median(sum(j.values()) for _, _, j in timed)
        b.layers["steps.samples"] = len(steps)
        b.layers["warm.trend"] = b.samples["trend"]
    return {"pass_s": statistics.median(passes), "step_gmean_s": statistics.geometric_mean(steps)}
