"""Workload ``tail_wide_table``: the connector keeping a lake fresh one
small poll window at a time.

Set-up generates a change log from the seed (shredded wire) and preloads
a 16-bucket lake from its first ``N_PRELOAD`` events in one window.
``MetricsSink`` (lineage) and ``TaskMetrics`` (MXBean-style counters) are
on throughout. One ``CdcPipeline`` then applies windows of ``WINDOW``
events: ``WARM_WINDOWS`` untimed ones, then the timed ones. The log's one
DDL, an ``add_column``, sits halfway through the first timed window, so
that window applies a real schema change and the DDL cut splits it into
two sub-batch MERGEs; the other windows have none. The table is several
times what a window touches, and every window touches most buckets, so
each window pays copy-on-write rewrite amplification and the per-window
fixed cost (stats pass, metrics passes, checkpoint commit).

``pass_s`` is the wall of the timed windows. A step is one window, from
its start (the previous window's commit) to its checkpoint commit;
``step_gmean_s`` is the geometric mean over the timed windows.

Checked: the preloaded and the final lake against ``tests/oracle.py``'s
replay of the same events in the JSON wire form, every row's
``content_sha256``, and the lineage and task-metric event counts.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
import traceback

from spans import spark_jobs

#: 20k keys with a 5% hot repo: the preloaded table is several times what
#: a window touches, so a window rewrites several carried rows per applied row
CORPUS = dict(n_repos=500, paths_per_repo=40, n_tablets=64, hot_repo_pct=5)
COLUMNS = [("commit", "string"), ("lang", "string"), ("content", "string")]
N_BUCKETS = 16
N_PRELOAD = 20_000
WINDOW = 2_000
#: untimed windows after the preload; with the preload they warm the JVM
WARM_WINDOWS = 1
#: one timed window per this many seconds of ``--seconds``, at least two
#: (the DDL window and a plain one)
WINDOW_S = 5
ORACLE_COLS = ("term", "index", "write_id", "op", "table", "repo", "path", "payload")


def digest(state: dict) -> str:
    """sha256 over the sorted (key, sorted row items) pairs of an
    oracle-shaped state."""
    rows = sorted((key, sorted(row.items())) for key, row in state.items())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def lake_ok(table, want: str) -> bool:
    """The lake's rows equal the oracle's, and every row's stored hash is
    the sha256 of its content. A lake that cannot be read fails too."""
    from tests.oracle import engine_state, sha256

    try:
        state = engine_state(table)
    except Exception:
        traceback.print_exc()
        return False
    hashes_ok = all(r["content_sha256"] == sha256(r["content"]) for r in state.values())
    return hashes_ok and digest(state) == want


def _wrap(tracer) -> None:
    from debezium_connector_yugabytedb_1_spark.lake import LakeTable
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
    from debezium_connector_yugabytedb_1_spark.operators.metrics import MetricsSink, TaskMetrics
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline

    for owner, attr, name in [
        (CdcPipeline, "run", "pipeline.run"),
        (LakeTable, "merge_events", "lake.merge_events"),
        (LakeTable, "add_column", "lake.schema_change"),
        (LakeTable, "rename_column", "lake.schema_change"),
        (LakeTable, "drop_column", "lake.schema_change"),
        (LakeTable, "expire_versions", "lake.expire_versions"),
        (CheckpointStore, "commit", "checkpoint.commit"),
        (MetricsSink, "append", "metrics.sink_append"),
        (TaskMetrics, "update", "metrics.task_update"),
    ]:
        tracer.wrap(owner, attr, name)


def _data_files(merge_span) -> tuple[int, int]:
    """(files, bytes) of the data version one ``merge_events`` call wrote."""
    stats = merge_span["result"]
    if stats.skipped:
        return 0, 0
    root = os.path.join(merge_span["self"].path, "data", f"v{stats.version:08d}")
    n = size = 0
    for d, _, names in os.walk(root):
        for f in names:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def run(b, n_preload: int = N_PRELOAD, window: int = WINDOW) -> dict:
    from debezium_connector_yugabytedb_1_spark.generator import generate_events, write_events
    from debezium_connector_yugabytedb_1_spark.lake import LakeTable
    from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
    from debezium_connector_yugabytedb_1_spark.operators.metrics import MetricsSink, TaskMetrics
    from debezium_connector_yugabytedb_1_spark.streaming.pipeline import CdcPipeline
    from tests.oracle import replay

    spark, now = b.spark, time.perf_counter
    traced = b.tracer is not None
    warm = WARM_WINDOWS
    n_windows = warm + max(2, round(b.seconds / WINDOW_S))
    n_total = n_preload + n_windows * window
    ddl_at = (n_preload + warm * window + window // 2,)
    gen = dict(CORPUS, seed=b.seed, ddl_at=ddl_at)
    if traced:
        _wrap(b.tracer)

    log = os.path.join(b.work, "wal")
    t0 = now()
    events = generate_events(spark, n_total, payload_format="shredded", **gen)
    write_events(events, log, shuffle_seed=b.seed, segment_size=window)
    b.setup["setup.corpus_s"] = now() - t0

    t0 = now()
    wire = (
        generate_events(spark, n_total, payload_format="json", **gen)
        .select(*ORACLE_COLS).toArrow().to_pylist()
    )
    want_preload = digest(replay([r for r in wire if r["index"] < n_preload])[0])
    want_final = digest(replay(wire)[0])
    del wire
    b.setup["setup.oracle_s"] = now() - t0

    commits: list[tuple[float, int]] = []
    merges: list[float] = []

    class Commits(CheckpointStore):
        """Stamps each checkpoint commit: a tail window ends there."""

        def commit(self, new_offsets, meta=None):
            super().commit(new_offsets, meta)
            commits.append((now(), spark_jobs(spark) if traced else 0))

    class Stamped(LakeTable):
        """Stamps each MERGE start: a window's MERGEs follow its stats pass
        (and, in the first window of a ``run()``, the start-up)."""

        def merge_events(self, *args, **kwargs):
            merges.append(now())
            return super().merge_events(*args, **kwargs)

    task_metrics = TaskMetrics()
    sink = MetricsSink(os.path.join(b.work, "lineage"))
    lake = Stamped(spark, os.path.join(b.work, "lake"), n_buckets=N_BUCKETS)
    lake.init(COLUMNS)
    ckpt_dir = os.path.join(b.work, "ckpt")
    preload = CdcPipeline(
        spark, log, lake, CheckpointStore(spark, ckpt_dir), metrics=sink,
        task_metrics=task_metrics, events_per_batch=n_preload,
    )
    b.settle()
    t0 = now()
    preload.run(max_batches=1)
    b.setup["setup.preload_s"] = now() - t0
    b.check(lake_ok(lake, want_preload))

    tail = CdcPipeline(
        spark, log, lake, Commits(spark, ckpt_dir), metrics=sink,
        task_metrics=task_metrics, events_per_batch=window,
    )
    b.settle()
    t_run = now()
    tail.run()
    t_end = now()

    ends = [t for t, _ in commits]
    latencies = [e - s for s, e in zip([t_run] + ends, ends)]
    b.setup["setup.warmup_s"] = ends[warm - 1] - t_run
    steps = latencies[warm:]

    # every event but the DDL marker reaches the lineage and the meters
    n_seen = n_total - len(ddl_at)
    seen = task_metrics.snapshot()["TotalNumberOfEventsSeen"]
    lineage = sink.read(spark).agg({"n": "sum"}).collect()[0][0]
    b.check(
        len(commits) == n_windows and lake_ok(lake, want_final)
        and seen == n_seen and lineage == n_seen,
        n=n_windows,
    )

    # the last timed window over the last warm-up one, each from its first
    # MERGE to its commit, so neither holds the stats pass or the start-up
    def merging(w: int) -> float:
        start = ends[w - 1] if w else t_run
        return ends[w] - min(t for t in merges if t > start)

    trend = merging(n_windows - 1) / merging(warm - 1)
    b.samples.update(window_s=latencies, trend=trend)
    if traced:
        jobs = commits[-1][1] - commits[warm - 1][1]
        b.layers.update(_layers(b.tracer, [(ends[warm - 1], t_end)], jobs))
        b.layers["pipeline.startup_s"] = _startup(b.tracer, t_run)
        b.layers["steps.samples"] = len(steps)
        b.layers["tail.ddl_window_s"] = steps[0]
        b.layers["tail.plain_window_s"] = statistics.median(steps[1:])
        b.layers["warm.trend"] = trend
    return {"pass_s": sum(steps), "step_gmean_s": statistics.geometric_mean(steps)}


def _startup(tr, t_run: float) -> float:
    """Tail ``run()`` entry to its first ``merge_events`` call (the log
    extent probe and the first window's stats), measured in the warm-up."""
    run = next(s for s in tr.spans if s["name"] == "pipeline.run" and s["t0"] >= t_run)
    first = min(
        s["t0"] for s in tr.spans if s["parent"] == run["id"] and s["name"] == "lake.merge_events"
    )
    return first - run["t0"]


def _layers(tr, intervals, jobs: int) -> dict:
    """Per-layer metrics over the timed windows."""
    merges = tr.calls("lake.merge_events", intervals)
    files = [_data_files(m) for m in merges]
    applied = sum(m["result"].upserted + m["result"].deleted for m in merges)
    carried = sum(m["result"].carried for m in merges)
    out = {
        "lake.merge_events_s": tr.total("lake.merge_events", intervals),
        "lake.merge_events_calls": len(merges),
        "lake.rows_applied": applied,
        "lake.rows_carried": carried,
        "lake.files_written": sum(f for f, _ in files),
        "lake.bytes_written": sum(s for _, s in files),
        "lake.schema_change_s": tr.total("lake.schema_change", intervals),
        "lake.expire_versions_s": tr.total("lake.expire_versions", intervals),
        "checkpoint.commit_s": tr.total("checkpoint.commit", intervals),
        "checkpoint.commit_calls": len(tr.calls("checkpoint.commit", intervals)),
        "metrics.sink_append_s": tr.total("metrics.sink_append", intervals),
        "metrics.task_update_s": tr.total("metrics.task_update", intervals),
        "pipeline.run_s": tr.total("pipeline.run", intervals),
        "pipeline.self_s": tr.self_time("pipeline.run", intervals),
        "spark.jobs": jobs,
    }
    out["lake.rewrite_amplification"] = carried / applied if applied else 0.0
    return out
