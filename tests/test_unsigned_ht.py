"""Unsigned hybrid-time comparison fidelity: the reference compares commit
/ record / safe times as UNSIGNED 64-bit (``Message.toUnsignedBigInteger
:173-184``). A raw signed-long compare would order a sign-bit HT (>= 2^63,
arriving as a negative long on the wire) BEFORE small positive times; the
``ht_key`` sign-bit flip restores unsigned order in every comparator."""

from hypothesis import given, settings
from hypothesis import strategies as st_

from debezium_connector_yugabytedb_1_spark.operators.order import (
    commit_time_order,
    ht_key_py,
    release_gate,
)
from debezium_connector_yugabytedb_1_spark.operators.filters import (
    extract_safepoint_watermark,
)
from debezium_connector_yugabytedb_1_spark.streaming.gate import ConsistentGate

from .gating import gate_process, trigger_safetimes

U64 = 1 << 64
SCHEMA = (
    "tablet_id string, op string, commit_time long, record_time long, "
    "term long, index long, write_id long"
)


def _row(ct, op="c", idx=0, tablet="t1"):
    return (tablet, op, ct, ct, 1, idx, 0)


@given(st_.integers(-(1 << 63), (1 << 63) - 1), st_.integers(-(1 << 63), (1 << 63) - 1))
@settings(max_examples=200, deadline=None)
def test_ht_key_py_is_unsigned_order_isomorphism(a, b):
    assert (ht_key_py(a) < ht_key_py(b)) == ((a % U64) < (b % U64))


def test_commit_time_order_places_sign_bit_ht_last(spark):
    # -1 is the LARGEST unsigned 64-bit value; signed compare would put it first
    df = spark.createDataFrame(
        [_row(-1, idx=0), _row(5, idx=1), _row(1 << 62, idx=2)], SCHEMA
    )
    got = [r["commit_time"] for r in commit_time_order(df).collect()]
    assert got == [5, 1 << 62, -1]


def test_release_gate_unsigned_threshold(spark):
    # safetime raw -5 == unsigned 2^64-5: 10 and -7 (2^64-7) are inside the
    # gate, -3 (2^64-3) is beyond it
    df = spark.createDataFrame([_row(10), _row(-7), _row(-3)], SCHEMA)
    safetimes = spark.createDataFrame(
        [("t1", -5)], "tablet_id string, safe_time long"
    )
    released, held = release_gate(df, safetimes, consumed_tablets=["t1"])
    assert sorted(r["commit_time"] for r in released.collect()) == [-7, 10]
    assert [r["commit_time"] for r in held.collect()] == [-3]
    # the watermark itself: a second, OLDER safepoint (raw 5) in the same
    # batch must not win a signed max over -5
    points = spark.createDataFrame(
        [_row(5, op="SAFEPOINT"), _row(-5, op="SAFEPOINT")], SCHEMA
    )
    safetimes = extract_safepoint_watermark(points)
    assert [tuple(r) for r in safetimes.collect()] == [("t1", -5)]
    released, held = release_gate(df, safetimes, consumed_tablets=["t1"])
    assert sorted(r["commit_time"] for r in released.collect()) == [-7, 10]
    assert [r["commit_time"] for r in held.collect()] == [-3]


def test_window_stats_safetimes_take_the_unsigned_max(spark):
    """Every tablet of the window maps to its unsigned-max SAFEPOINT commit
    time, or None when it has rows but no SAFEPOINT."""
    batch = spark.createDataFrame(
        [
            _row(5, op="SAFEPOINT"),
            _row(-5, op="SAFEPOINT"),
            _row(10),
            _row(7, tablet="t2"),
            _row(8, op="NOOP", tablet="t2"),
        ],
        SCHEMA,
    )
    assert trigger_safetimes(batch) == {"t1": -5, "t2": None}


def test_consistent_gate_unsigned_threshold(spark, tmp_path):
    g = ConsistentGate(spark, str(tmp_path / "g"), tablets=["t1"])
    batch = spark.createDataFrame(
        [
            _row(10),
            _row(-7),
            _row(-3),
            _row(5, op="SAFEPOINT"),
            _row(-5, op="SAFEPOINT"),
        ],
        SCHEMA,
    )
    rel = gate_process(g, batch, 0)
    assert g.state()["safetimes"]["t1"] == -5
    assert sorted(r["commit_time"] for r in rel.collect()) == [-7, 10]
    assert [r["commit_time"] for r in g.flush().collect()] == [-3]
    # a later LOWER-unsigned safepoint must not regress the safetime max-merge
    batch2 = spark.createDataFrame([_row(99, op="SAFEPOINT")], SCHEMA)
    assert gate_process(g, batch2, 1).count() == 0
    assert g.state()["safetimes"]["t1"] == -5


def test_lineage_and_meters_take_the_unsigned_max_commit_time(spark):
    """A sign-bit HT (>= 2^63, a negative long on the wire) is the NEWEST
    commit time: ``batch_metrics``, the driver-side ``lineage_rows`` and
    ``TaskMetrics`` must all report it, with a positive epoch lag."""
    from debezium_connector_yugabytedb_1_spark.operators.metrics import (
        TaskMetrics,
        batch_metrics,
        lineage_rows,
        meter_partials,
    )
    from debezium_connector_yugabytedb_1_spark.operators.order import ht_to_epoch_ms_py

    small = 1_600_000_000_000_000 << 12
    big = ht_key_py(5 << 12)  # unsigned 2^63 + (5 << 12): sign bit set
    assert big < 0 < small
    wall = ht_to_epoch_ms_py(big) + 100
    df = spark.createDataFrame(
        [
            ("t1", "c", small, 1, 0, "A", "tbl"),
            ("t1", "COMMIT", small, 2, 0, "A", None),
            ("t1", "COMMIT", big, 3, 0, "B", None),
        ],
        "tablet_id string, op string, commit_time long, index long, "
        "write_id long, txn_id string, table string",
    )
    ref = {
        r["op"]: r.asDict()
        for r in batch_metrics(df, "b0", wallclock_ms=wall).collect()
    }
    assert ref["COMMIT"]["max_commit_time"] == big
    assert ref["COMMIT"]["ms_behind_source"] == 100
    assert ref["c"]["ms_behind_source"] == wall - ht_to_epoch_ms_py(small) > 0
    fields = list(ref["c"])
    got = {
        r[1]: dict(zip(fields, r))
        for r in lineage_rows(meter_partials(df), "b0", wallclock_ms=wall)
    }
    assert got == ref
    tm = TaskMetrics()
    tm.update(df, wallclock_ms=wall)
    snap = tm.snapshot(wallclock_ms=wall)
    assert snap["LastTransactionId"] == "B"
    assert snap["LastEvent"] == "COMMIT/t1/3"
    assert snap["MilliSecondsBehindSource"] == 100


def test_txn_metadata_span_is_unsigned(spark):
    """A transaction whose last DML has a sign-bit HT (a negative long on
    the wire) ends at that HT and begins at the small one."""
    from debezium_connector_yugabytedb_1_spark.operators.metrics import txn_metadata

    small, big = 5 << 12, ht_key_py(5 << 12)
    df = spark.createDataFrame(
        [("A", "c", small), ("A", "u", big)],
        "txn_id string, op string, commit_time long",
    )
    row = txn_metadata(df).collect()[0]
    assert (row["begin_time"], row["end_time"]) == (small, big)
