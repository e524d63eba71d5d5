"""Self-test of the benchmark harness at tiny sizes.

    python3 perfbench/selftest.py

Checks that ``BENCHMARK.json`` names exactly the metrics the harness
emits, with the same units; that both workloads emit every per-layer
metric (``--trace 1``) and a run emits every end-to-end metric
(``--trace 0``) with a unit; and that a lake corrupted before its check is
reported as failed operations in the result, not as a crash. Takes a few minutes: each run
starts its own JVM.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq

import replay
import run

TINY = {
    "tail_wide_table": dict(n_preload=2_000, window=500),
    "curation_queries": dict(queries=("sample_stratified", "pack_sequences")),
}


def corrupt(table) -> None:
    """Overwrite the content of one row in the live data of ``table``,
    leaving its stored hash as it was; drop the file's checksum so the
    read succeeds and only the oracle check can catch it."""
    rel = next(iter(table.manifest()["buckets"].values()))
    d = os.path.join(table.path, rel)
    f = os.path.join(d, next(n for n in sorted(os.listdir(d)) if n.endswith(".parquet")))
    t = pq.read_table(f)
    content = t.column("content").to_pylist()
    content[0] = "corrupted"
    pq.write_table(t.set_column(t.schema.get_field_index("content"), "content", [content]), f)
    crc = os.path.join(d, f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def check_declared() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == run.E2E_UNITS, (declared, run.E2E_UNITS)
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == run.LAYER_UNITS, set(declared) ^ set(run.LAYER_UNITS)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def check_emitted(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(units), set(result["metrics"]) ^ set(units)
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name], (name, m)
        assert isinstance(m["value"], (int, float)), (name, m)
    json.dumps(result)


def main() -> int:
    check_declared()
    for workload in sorted(run.WORKLOADS):
        traced = run.measure(workload, 1, 1, True, TINY[workload])
        check_emitted(traced, run.LAYER_UNITS)
        assert traced["correct"] and traced["failed"] == 0, traced

    lake_ok = replay.lake_ok

    def corrupted_ok(table, want):
        corrupt(table)
        return lake_ok(table, want)

    replay.lake_ok = corrupted_ok
    try:
        bad = run.measure("tail_wide_table", 2, 1, False, TINY["tail_wide_table"])
    finally:
        replay.lake_ok = lake_ok
    check_emitted(bad, run.E2E_UNITS)
    assert not bad["correct"] and bad["failed"] == bad["attempted"], bad
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
