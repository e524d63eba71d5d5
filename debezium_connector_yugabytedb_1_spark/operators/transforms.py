"""P9/P10/P11 — single-message transforms (SMT analogues) as DataFrame
projections.

Reference:
  P9  ``PGCompatible.java:18-127`` — strip {value,set} wrappers so records
      look like stock-Postgres connector output.
  P10 ``StriimCompatible.java:23-216`` — WAEvent reshape: metadata struct +
      ordered string arrays data[]/before[], PK-change detection.
  P11 ``ExtractTopic`` (Aiven, ``ExtractTopic.java:36-150``) — route each
      record to an output partition named by a field value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decode import TABLE_COLUMNS, cell_set
from .emit import DELETE_OPS
from .order import ht_to_epoch_ms


def pg_compatible(decoded: DataFrame, columns=TABLE_COLUMNS) -> DataFrame:
    """P9 — plain-Postgres-shaped envelope: after struct without cell
    wrappers (unset columns become NULL), keeping op + key."""
    return decoded.select(
        "repo",
        "path",
        "op",
        F.struct(
            *[F.when(cell_set(c), F.col(f"after.{c}")).alias(c) for c in columns]
        ).alias("after"),
        F.col("commit_time").alias("ts_ms"),
    )


def striim_compatible(decoded: DataFrame, columns=TABLE_COLUMNS) -> DataFrame:
    """P10 — WAEvent shape: metadata{LSN, OperationName, Sequence, TableName,
    TxnID, PK_UPDATE} + data[] as ordered string array."""
    opname = (
        F.when(F.col("op").isin("c", "r"), "INSERT")
        .when(F.col("op") == "u", "UPDATE")
        .when(F.col("op").isin(*DELETE_OPS), "DELETE")
        .otherwise(F.upper(F.col("op")))
    )
    return decoded.select(
        F.struct(
            F.concat_ws(":", F.col("term"), F.col("index"), F.col("write_id")).alias("LSN"),
            opname.alias("OperationName"),
            F.col("index").alias("Sequence"),
            F.col("table").alias("TableName"),
            F.col("txn_id").alias("TxnID"),
            (F.col("op") == "pku").alias("PK_UPDATE"),
        ).alias("metadata"),
        F.array(*[F.col(f"after.{c}").cast("string") for c in columns]).alias("data"),
        F.struct(F.col("repo"), F.col("path")).alias("key"),
    )


def cloud_events(
    decoded: DataFrame,
    server_name: str = "dbserver1",
    columns=TABLE_COLUMNS,
    data_content_type: str = "application/json",
) -> DataFrame:
    """P12 — CloudEvents envelope maker
    (``converters/YugabyteDBCloudEventsMaker.java:18-31``,
    ``YugabyteDBRecordParser.java:23-49``, registered via
    ``YugabyteDBCloudEventsProvider.java``; attribute defaults from the
    Debezium-core CloudEventsMaker contract).

    Field contract reproduced:

    - ``ce_id``      ``"name:<server>;lsn:<lsn>;txId:<txId>"`` — the maker's
                     ceId (``YugabyteDBCloudEventsMaker.java:25-30``); the
                     LSN here is the offset triple ``term:index:write_id``
                     (the engine's OpId rendering, same one the Striim SMT
                     emits as its LSN).
    - ``ce_source``  ``"/debezium/yugabytedb/<server>"``
    - ``ce_specversion`` ``"1.0"``
    - ``ce_type``    ``"io.debezium.yugabytedb.datachangeevent"``
    - ``ce_time``    commit hybrid-time → epoch millis (HT>>12 = micros)
    - ``ce_datacontenttype`` ``application/json``
    - ``data``       the serialized change payload (op, key, after cells
                     with unset cells as NULL — the PGCompatible cell rule —
                     plus the source block: table/tablet/offset/txn).

    One codegen projection, no shuffle — envelope reshapes must stay free
    at 100 TB.
    """
    lsn = F.concat_ws(":", F.col("term"), F.col("index"), F.col("write_id"))
    tx = F.coalesce(F.col("txn_id").cast("string"), F.lit("null"))
    ms = (ht_to_epoch_ms("commit_time")).alias("ce_time_ms")
    return decoded.select(
        F.concat(
            F.lit(f"name:{server_name};lsn:"), lsn, F.lit(";txId:"), tx
        ).alias("ce_id"),
        F.lit(f"/debezium/yugabytedb/{server_name}").alias("ce_source"),
        F.lit("1.0").alias("ce_specversion"),
        F.lit("io.debezium.yugabytedb.datachangeevent").alias("ce_type"),
        ms,
        F.lit(data_content_type).alias("ce_datacontenttype"),
        F.to_json(
            F.struct(
                F.col("op"),
                F.struct(F.col("repo"), F.col("path")).alias("key"),
                F.struct(
                    *[
                        F.when(cell_set(c), F.col(f"after.{c}")).alias(c)
                        for c in columns
                    ]
                ).alias("after"),
                F.struct(
                    F.lit(server_name).alias("name"),
                    F.col("table"),
                    F.col("tablet_id"),
                    lsn.alias("lsn"),
                    F.col("txn_id").alias("txId"),
                    F.col("commit_time"),
                ).alias("source"),
            ),
            # explicit JSON nulls: the Debezium JSON converter serializes
            # null fields (an unset cell must be distinguishable downstream);
            # Spark's to_json default DROPS them
            {"ignoreNullFields": "false"},
        ).alias("data"),
    )


def extract_topic(df: DataFrame, field: str) -> DataFrame:
    """P11 — output routing column: topic = value of ``field`` (used as the
    write ``partitionBy`` / topic selector)."""
    return df.withColumn("topic", F.col(field).cast("string"))
