"""Benchmark of the CDC ingest engine: one workload per invocation.

    python3 perfbench/run.py --workload tail_wide_table --seed 1 --seconds 15 --trace 0

Run from the repository root. The harness imports the package from the
tree it sits in, makes its inputs from ``--seed``, warms the JVM with
untimed passes, times the workload's passes, checks every output against
a reference, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
package's public calls and reports the per-layer metrics instead. Scratch
data lives under ``.bench_work/`` and is removed at exit; the run's
provenance (Spark conf, load, host control, spans) stays in
``.bench_work/provenance/``. See ``perfbench/README.md`` for the method.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import curation  # noqa: E402
import replay  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {"tail_wide_table": replay.run, "curation_queries": curation.run}

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "step_gmean_s": "s"}

LAYER_UNITS = {
    "lake.merge_events_s": "s",
    "lake.merge_events_calls": "count",
    "lake.rows_applied": "count",
    "lake.rows_carried": "count",
    "lake.rewrite_amplification": "x",
    "lake.bytes_written": "B",
    "lake.files_written": "count",
    "lake.schema_change_s": "s",
    "lake.expire_versions_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.commit_calls": "count",
    "metrics.sink_append_s": "s",
    "metrics.task_update_s": "s",
    "pipeline.run_s": "s",
    "pipeline.startup_s": "s",
    "pipeline.self_s": "s",
    "tail.ddl_window_s": "s",
    "tail.plain_window_s": "s",
    "spark.jobs": "count",
    **{f"q.{q}_s": "s" for q in curation.QUERIES},
    **{f"q.{q}.jobs": "count" for q in curation.QUERIES},
    "setup.session_s": "s",
    "setup.corpus_s": "s",
    "setup.preload_s": "s",
    "setup.warmup_s": "s",
    "setup.oracle_s": "s",
    "traced.pass_s": "s",
    "traced.step_gmean_s": "s",
    "steps.samples": "count",
    "warm.trend": "x",
    "jvm.peak_rss_mb": "MB",
    "host.cpu_control_s": "s",
}


@dataclass
class Bench:
    """What a workload gets from the harness, and what it hands back."""

    spark: object
    work: str
    seed: int
    seconds: int
    tracer: Tracer | None
    setup: dict = field(default_factory=dict)  # setup.* seconds
    layers: dict = field(default_factory=dict)  # per-layer metric values
    samples: dict = field(default_factory=dict)  # raw timings, for provenance
    attempted: int = 0
    failed: int = 0

    def settle(self) -> None:
        """Between passes, outside any timer: flush dirty pages and collect
        the JVM heap, so one pass's leftovers do not land in the next."""
        os.sync()
        self.spark._jvm.System.gc()

    def check(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n


def cpu_control_s() -> float:
    """Median wall of a fixed single-thread loop: a host-speed reference
    recorded next to every run, so drift between runs can be told apart
    from a change in the program."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _confine(work: str, cpus: int) -> None:
    """Keep every file the run writes inside ``work``, size Spark to the
    host, and drop caller overrides of the library's defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM (and the workers it owns) exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the next session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


def measure(workload: str, seed: int, seconds: int, trace: bool, sizes: dict | None = None) -> dict:
    """One run of ``workload``; returns the result object. ``sizes``
    overrides the workload's size constants (the self-test runs tiny)."""
    # the package comes from this tree: without it the run fails here,
    # before it writes anything
    from debezium_connector_yugabytedb_1_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _confine(work, cpus)

    prov = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": cpus, "loadavg_start": os.getloadavg(), "cpu_control_start_s": cpu_control_s(),
    }
    ticks0 = _cpu_ticks()
    tracer = Tracer() if trace else None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        bench = Bench(spark, work, seed, seconds, tracer)
        bench.setup["setup.session_s"] = time.perf_counter() - t0
        e2e = WORKLOADS[workload](bench, **(sizes or {}))
        prov["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        prov["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
    finally:
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    prov["steal_pct"] = 100.0 * steal / max(1, total)
    prov["cpu_control_end_s"] = cpu_control_s()
    prov["loadavg_end"] = os.getloadavg()
    # timed steps still clearly speeding up (see each workload's ``trend``)
    prov["still_warming"] = bench.samples.get("trend", 1.0) < 0.9
    e2e["setup_s"] = sum(
        bench.setup.get(k, 0.0)
        for k in ("setup.session_s", "setup.corpus_s", "setup.preload_s", "setup.warmup_s")
    )
    if trace:
        layers = dict.fromkeys(LAYER_UNITS, 0.0)
        layers.update(bench.setup)
        layers.update(bench.layers)
        layers["traced.pass_s"] = e2e["pass_s"]
        layers["traced.step_gmean_s"] = e2e["step_gmean_s"]
        layers["jvm.peak_rss_mb"] = prov["jvm_peak_rss_mb"]
        layers["host.cpu_control_s"] = statistics.mean(
            [prov["cpu_control_start_s"], prov["cpu_control_end_s"]]
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    prov.update(setup=bench.setup, samples=bench.samples, e2e=e2e, result=result)
    out = os.path.join(base, "provenance")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{workload}-seed{seed}-trace{int(trace)}")
    with open(stem + ".json", "w") as f:
        json.dump(prov, f, indent=1, default=str)
    if tracer is not None:
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.dump(), f)
    print(
        f"perfbench: {workload} seed={seed} load={prov['loadavg_start'][0]:.2f} "
        f"cpu_control={prov['cpu_control_start_s']:.3f}s steal={prov['steal_pct']:.1f}% "
        f"rss={prov['jvm_peak_rss_mb']:.0f}MB still_warming={prov['still_warming']} "
        f"samples={json.dumps(bench.samples)}",
        file=sys.stderr,
    )
    return result


if __name__ == "__main__":
    sys.exit(main())
