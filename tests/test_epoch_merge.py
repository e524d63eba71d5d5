"""One copy-on-write MERGE per poll window: every DDL epoch of a window
decodes under its own schema, and the window's schema changes commit in the
same manifest version as its rows.

- Epoch semantics: the same log applied as one window and as one window
  per DDL gives the same lake, equal to the oracle replay (add, rename,
  drop + re-add; shredded and JSON wire).
- The single commit point: a crash before the pointer swap leaves the
  pre-window schema and rows live; the rerun, a full redelivery, and a
  resume over a lake left by the per-sub-batch commit protocol all
  converge to the oracle state.
"""

import hashlib
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark import lake
from debezium_connector_yugabytedb_1_spark.generator import generate_events, write_events
from debezium_connector_yugabytedb_1_spark.lake import LakeTable
from debezium_connector_yugabytedb_1_spark.operators import filters
from debezium_connector_yugabytedb_1_spark.operators.checkpoint import CheckpointStore
from debezium_connector_yugabytedb_1_spark.operators.emit import DML_OPS
from debezium_connector_yugabytedb_1_spark.streaming.pipeline import (
    CdcPipeline,
    merge_window,
)

from .oracle import engine_state, replay

COLUMNS = [("commit", "string"), ("lang", "string"), ("content", "string")]
ORACLE_COLS = ("term", "index", "write_id", "op", "table", "repo", "path", "payload")


def _digest(state: dict) -> str:
    rows = sorted((key, sorted(row.items())) for key, row in state.items())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _run(spark, events, root, events_per_batch, max_batches=None, ckpt="ckpt"):
    t = LakeTable(spark, os.path.join(root, "lake"), n_buckets=4)
    t.init(COLUMNS)
    ck = CheckpointStore(spark, os.path.join(root, ckpt))
    res = CdcPipeline(
        spark, events, t, ck, events_per_batch=events_per_batch
    ).run(max_batches=max_batches)
    return t, ck, res


# ---------------------------------------------------------------------------
# epoch semantics
N, W = 1500, 300
DDLS = [
    {"action": "add_column", "name": "stars", "type": "long"},
    {"action": "rename_column", "old": "commit", "new": "commit_sha"},
    {"action": "drop_column", "name": "lang"},
    {"action": "add_column", "name": "lang", "type": "string"},
]


def _epoch_log(spark, wire: str):
    """A log whose k-th DDL (``DDLS``) sits in window k of ``W`` events.
    Every upsert also sets ``commit`` — as ``commit_sha`` after the
    rename — and ``stars``: before its ADD too, which must be ignored, and
    after it on every repo but ``org/repo-1``, so that repo's rows must end
    with no stars. ``org/repo-2`` has no change after the first DDL, so
    its rows keep only what the first epoch decoded."""
    ev = generate_events(
        spark, N, n_repos=6, paths_per_repo=8, n_tablets=2, payload_format="shredded"
    )
    free = sorted(
        r["index"]
        for r in ev.where(F.col("op").isin("SAFEPOINT", "NOOP")).select("index").collect()
    )
    at = [next(i for i in free if i >= k * W + 10) for k in (1, 2, 3, 4)]
    assert all(k * W < i < (k + 1) * W for k, i in zip((1, 2, 3, 4), at))
    c = F.col("change")
    after = F.struct(
        *[c["after"][n].alias(n) for n in ("commit", "lang", "content")],
        (F.col("index") % 1000 + 1).alias("stars"),
        c["after"]["commit"].alias("commit_sha"),
    )
    changed = F.transform(
        F.array_union(
            F.array_except(c["changed"], F.array(F.lit("stars"))),
            F.array(
                F.when(
                    (F.col("index") < at[0]) | (F.col("repo") != "org/repo-1"),
                    F.lit("stars"),
                ).otherwise(F.lit("commit"))
            ),
        ),
        lambda x: F.when(
            (x == "commit") & (F.col("index") > at[1]), F.lit("commit_sha")
        ).otherwise(x),
    )
    change = F.when(
        c.isNotNull(),
        F.struct(after.alias("after"), changed.alias("changed"), c["before_key"].alias("before_key")),
    )
    op, payload = F.col("op"), F.col("payload")
    for i, d in zip(at, DDLS):
        op = F.when(F.col("index") == i, F.lit("ddl")).otherwise(op)
        payload = F.when(F.col("index") == i, F.lit(json.dumps(d))).otherwise(payload)
    ev = ev.withColumn("change", change).withColumn("op", op).withColumn("payload", payload)
    ev = ev.where(
        (F.col("repo") != "org/repo-2") | (F.col("index") < at[0]) | ~F.col("op").isin(*DML_OPS, "pku")
    )
    if wire == "json":
        ev = ev.withColumn(
            "payload", F.when(F.col("change").isNotNull(), F.to_json("change")).otherwise(F.col("payload"))
        ).drop("change")
    return ev, at


@pytest.mark.parametrize("wire", ["shredded", "json"])
def test_epoch_decode_equals_ddl_per_window_and_oracle(spark, tmp_path, wire):
    ev, at = _epoch_log(spark, wire)
    path = str(tmp_path / "events")
    write_events(ev, path, segment_size=W)

    one, _, res = _run(spark, path, str(tmp_path / "one"), N)
    assert [r.batch_id for r in res] == [f"b0-{N}"]
    assert res[0].ddl_applied == [
        "add_column stars", "rename_column commit->commit_sha",
        "drop_column lang", "add_column lang",
    ]
    assert one.manifest()["version"] == 1  # schema + rows: ONE commit

    many, _, res = _run(spark, path, str(tmp_path / "many"), W)
    assert [len(r.ddl_applied) for r in res] == [0, 1, 1, 1, 1]

    assert one.columns == many.columns == [
        ("commit_sha", "string"), ("content", "string"), ("stars", "long"), ("lang", "string"),
    ]
    state = engine_state(one)
    assert state == engine_state(many)

    # the oracle knows ADD and RENAME; the DROP + re-ADD of lang means no
    # lang value set before the re-add may survive, which is the oracle
    # replay of the log with lang unset before the re-add
    json_ev = ev if wire == "json" else _epoch_log(spark, "json")[0]
    wire_rows = [r.asDict() for r in json_ev.select(*ORACLE_COLS).collect()]
    for r in wire_rows:
        if r["op"] != "ddl" and r["payload"] and r["index"] < at[3]:
            p = json.loads(r["payload"])
            p["changed"] = [c for c in p.get("changed") or [] if c != "lang"]
            r["payload"] = json.dumps(p)
    want, cols = replay(wire_rows)
    assert sorted(cols) == sorted(n for n, _ in one.columns)
    assert state == want
    # org/repo-1's stars cells all came before the ADD and were ignored
    assert {v["stars"] for k, v in state.items() if k[0] == "org/repo-1"} == {None}
    # org/repo-2's commits survive the rename, its langs the drop + re-add
    # not, and its rows reached the oracle comparison
    repo2 = [v for k, v in state.items() if k[0] == "org/repo-2"]
    assert repo2 and all(v["commit_sha"] and v["lang"] is None for v in repo2)


@pytest.mark.parametrize("wire", ["shredded", "json"])
def test_window_across_every_ddl_scans_the_log_once(spark, tmp_path, monkeypatch, wire):
    """A window that crosses all four DDLs, over a lake that holds data:
    the DataFrame ``merge_events`` writes scans the events once (plus the
    lake's target read), however many schema epochs and PK-update rows the
    window has. The shredded wire's DML needs no ``from_json`` at all; on
    the JSON wire there is one parse per epoch, each over its own rows."""
    ev, _ = _epoch_log(spark, wire)
    path = str(tmp_path / "events")
    write_events(ev, path, segment_size=W)
    root = str(tmp_path)
    _run(spark, path, root, W, max_batches=1)
    written = []
    write = lake._write_version
    monkeypatch.setattr(
        lake, "_write_version", lambda df, out: (written.append(df), write(df, out))
    )
    _, _, res = _run(spark, path, root, N - W)
    assert [r.batch_id for r in res] == [f"b{W}-{N}"] and len(res[0].ddl_applied) == 4
    assert len(written) == 1
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    # a scan's location is truncated in the plan text: tell the two apart
    # by what they read, the log's op column or the lake's stored offsets
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 2, plan
    assert len([ln for ln in scans if re.search(r"\bop#\d+", ln)]) == 1, plan
    assert len([ln for ln in scans if "_last_index#" in ln]) == 1, plan
    assert plan.count("from_json(") == (0 if wire == "shredded" else 5), plan


# ---------------------------------------------------------------------------
# the single commit point
N2, W2, DDL_AT = 3000, 600, 1650  # the DDL window is [1200, 1800)


@pytest.fixture(scope="module")
def ddl_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ddl_log") / "events")
    ev = generate_events(
        spark, N2, n_repos=12, paths_per_repo=8, n_tablets=4, ddl_at=(DDL_AT,)
    )
    write_events(ev, path, segment_size=W2)
    want, _ = replay([r.asDict() for r in ev.select(*ORACLE_COLS).collect()])
    return path, want


def test_crash_at_window_commit_point_then_rerun_and_redelivery(
    spark, tmp_path, ddl_log, monkeypatch
):
    path, want = ddl_log
    root = str(tmp_path)
    t, ck, _ = _run(spark, path, root, W2, max_batches=2)
    before, cols, v = engine_state(t), t.columns, t.manifest()["version"]
    assert ck.meta()["next_lo"] == 2 * W2

    def crash(self, m):
        raise OSError("injected crash before the pointer swap")

    monkeypatch.setattr(LakeTable, "_commit_manifest", crash)
    with pytest.raises(OSError, match="injected"):
        _run(spark, path, root, W2)
    monkeypatch.undo()
    # the DDL window's rows were written, but nothing of it is live
    assert os.path.isdir(os.path.join(root, "lake", "data", f"v{v + 1:08d}"))
    t = LakeTable(spark, os.path.join(root, "lake"), n_buckets=4)
    assert t.manifest()["version"] == v
    assert t.columns == cols and ("stars", "long") not in cols
    assert engine_state(t) == before
    assert CheckpointStore(spark, os.path.join(root, "ckpt")).meta()["next_lo"] == 2 * W2

    t, _, res = _run(spark, path, root, W2)
    assert [r.batch_id for r in res] == ["b1200-1800", "b1800-2400", "b2400-3000"]
    assert res[0].ddl_applied == ["add_column stars"]
    final = engine_state(t)
    assert final == want

    # full redelivery: a fresh checkpoint replays the whole log
    t, _, res = _run(spark, path, root, W2, ckpt="ckpt-fresh")
    assert res and all(r.merge.skipped for r in res)
    assert _digest(engine_state(t)) == _digest(final)


def test_resume_over_per_sub_batch_commits(spark, tmp_path, ddl_log):
    """A lake left by the per-sub-batch protocol: the DDL window's pre-DDL
    sub-batch ``b1200-1650`` applied and the ADD committed, the checkpoint
    still at the window start."""
    path, want = ddl_log
    root = str(tmp_path)
    t, ck, _ = _run(spark, path, root, W2, max_batches=2)
    sub = spark.read.parquet(path).where(
        (F.col("index") >= 2 * W2) & (F.col("index") < DDL_AT)
    )
    rows = filters.dispatchable(filters.table_filter(sub))
    merge_window(t, rows, [], f"b{2 * W2}-{DDL_AT}")
    assert t.add_column("stars", "long")
    assert ck.meta()["next_lo"] == 2 * W2

    _, _, res = _run(spark, path, root, W2)
    assert [r.batch_id for r in res] == ["b1200-1800", "b1800-2400", "b2400-3000"]
    assert engine_state(t) == want


def test_restart_with_another_window_after_a_crash_before_the_swap(
    spark, tmp_path, ddl_log, monkeypatch
):
    """The crashed attempt's data directory belongs to the version number
    the next commit reuses. A restart with a smaller poll window touches
    fewer buckets, and must neither publish nor trip over the buckets only
    the crashed attempt wrote."""
    path, want = ddl_log
    root = str(tmp_path)

    def run(events_per_batch, max_batches=None):
        t = LakeTable(spark, os.path.join(root, "lake"), n_buckets=16)
        t.init(COLUMNS)
        ck = CheckpointStore(spark, os.path.join(root, "ckpt"))
        pipe = CdcPipeline(spark, path, t, ck, events_per_batch=events_per_batch)
        return t, pipe.run(max_batches=max_batches)

    run(W2, max_batches=1)

    def crash(self, m):
        raise OSError("injected crash before the pointer swap")

    monkeypatch.setattr(LakeTable, "_commit_manifest", crash)
    with pytest.raises(OSError, match="injected"):
        run(2 * W2, max_batches=1)
    monkeypatch.undo()
    t, res = run(10, max_batches=1)
    written = os.listdir(os.path.join(root, "lake", "data", f"v{res[0].merge.version:08d}"))
    assert 0 < len([d for d in written if d.startswith("bucket=")]) < 16
    t, _ = run(W2)
    assert engine_state(t) == want
