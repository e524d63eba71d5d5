"""Feed ``ConsistentGate.process`` the safetimes of the trigger's own stats
pass, as ``stream.apply_batch`` does."""

from pyspark.sql import functions as F

from debezium_connector_yugabytedb_1_spark.streaming.pipeline import window_stats

#: wire columns ``window_stats`` reads that synthetic test batches may omit
_WIRE = {
    "repo": "string",
    "path": "string",
    "old_repo": "string",
    "old_path": "string",
    "table": "string",
    "term": "long",
    "index": "long",
    "write_id": "long",
}


def trigger_safetimes(batch) -> dict:
    """``window_stats(batch, 1, None)["safetimes"]``, with any missing wire
    column of a synthetic batch read as NULL."""
    missing = [F.lit(None).cast(t).alias(c) for c, t in _WIRE.items() if c not in batch.columns]
    return window_stats(batch.select("*", *missing), 1, None)["safetimes"]


def gate_process(gate, batch, batch_id):
    """One gated trigger: ``gate.process`` with the trigger's safetimes."""
    return gate.process(batch, batch_id, trigger_safetimes(batch))
