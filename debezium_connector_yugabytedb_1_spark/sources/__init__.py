"""Sources: the CDC event log's wire schema and its streaming reader.

The event log is parquet (the sandbox stand-in for the gRPC GetChanges
stream). The batch pipeline (``streaming.pipeline``) pushes index-range
predicates into its scan — the analogue of passing ``fromOpId`` to
GetChangesCDCSDK (``YugabyteDBStreamingChangeEventSource.java:530-535``):
Spark never reads a row the cursor already passed (parquet row-group
stats prune files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eid", T.LongType()),
        T.StructField("tablet_id", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("term", T.LongType()),
        T.StructField("index", T.LongType()),
        T.StructField("write_id", T.LongType()),
        T.StructField("commit_time", T.LongType()),
        T.StructField("record_time", T.LongType()),
        T.StructField("txn_id", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("old_repo", T.StringType()),
        T.StructField("old_path", T.StringType()),
        T.StructField("msg_prefix", T.StringType()),
        T.StructField("schema_version", T.IntegerType()),
        T.StructField("payload", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Structured Streaming file source over the event log (schema must be
    explicit for streaming reads). ``maxFilesPerTrigger`` is the
    backpressure knob (Q1 analogue).

    The schema comes from the log's OWN parquet footers (one driver-side
    batch-read at stream start), not a hard-coded literal: the wire has two
    variants (JSON ``payload`` vs the shredded typed ``change`` struct),
    and pinning the JSON one silently decoded every shredded cell to NULL —
    columns absent from an explicit file-source schema don't error, they
    null out.  A WAL with no segments yet (continuous tailing started
    before the first write) can't be sniffed — fall back to the JSON wire
    literal so the stream still starts empty and picks up files as they
    arrive, exactly the pre-sniff behavior."""
    from pyspark.errors import AnalysisException

    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException:
        schema = EVENT_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
