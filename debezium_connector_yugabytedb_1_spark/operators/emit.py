"""P3-P6 — envelope emit: CREATE/READ/UPDATE/DELETE, PK-update split,
tombstones, TRUNCATE.

Reference: ``YugabyteDBChangeRecordEmitter.emitCreateRecord:317-329``,
``emitReadRecord:332-339``, ``emitUpdateRecord:342-379`` (PK-change split at
``:365-378``), ``emitDeleteRecord:382-394``; tombstone emission
``YugabyteDBEventDispatcher.java:216-228``; truncate receiver
``YugabyteDBEventDispatcher.java:200-203``.

Spark-first: emission is projection; the PK-update split is one generator
over the input (a row yields one or two rows), so it scans its source once.
Downstream replay only distinguishes upsert ops (c/r/u) from delete ops
(d/t) — the split rewrites 'pku' into exactly that vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UPSERT_OPS = ("c", "r", "u")
DELETE_OPS = ("d", "t")
DML_OPS = UPSERT_OPS + DELETE_OPS


def split_pk_updates(decoded: DataFrame) -> DataFrame:
    """P4 — a primary-key update (here: a path rename) becomes a
    DELETE(old key) + CREATE(new key) pair, both carrying the original
    offset; the delete sorts immediately before the create via ``write_id``
    (reference sends them as two records with headers,
    ``YugabyteDBChangeRecordEmitter.java:365-378``).

    The synthetic delete gets ``write_id`` and the create ``write_id + 1``
    within the same (term, index) slot, preserving OpId total order; every
    other row keeps its op with ``write_id`` doubled. One ``inline`` over
    a one- or two-element array of row structs does it in a single pass.
    """
    w2 = F.col("write_id") * 2

    def row(**over):
        return F.struct(*[over.get(c, F.col(c)).alias(c) for c in decoded.columns])

    delete = row(
        op=F.lit("d"),
        repo=F.col("before_key.repo"),
        path=F.col("before_key.path"),
        after=F.lit(None).cast(decoded.schema["after"].dataType),
        changed=F.lit(None).cast("array<string>"),
        write_id=w2,
    )
    create = row(op=F.lit("c"), write_id=w2 + 1)
    rows = F.when(F.col("op") == "pku", F.array(delete, create)).otherwise(
        F.array(row(write_id=w2))
    )
    return decoded.select(F.inline(rows))


def source_block(server: str = "ybcdc") -> "F.Column":
    """Source-metadata struct column (``SourceInfo.java:29-105``): lineage
    block attached to every emitted record. ``ht_micros`` mirrors the
    HybridTime>>12 physical-micros extraction (``SourceInfo.java:96``)."""
    return F.struct(
        F.lit(server).alias("server"),
        F.col("table").alias("table"),
        F.col("tablet_id").alias("tablet_id"),
        F.col("txn_id").alias("txn_id"),
        F.col("commit_time").alias("commit_time"),
        F.col("record_time").alias("record_time"),
        F.shiftright(F.col("commit_time"), 12).alias("ht_micros"),
    )


def apply_truncate(decoded: DataFrame) -> DataFrame:
    """P6 — TRUNCATE: all rows of the table die before any later op. In
    batch replay this is a synthetic per-table delete barrier: drop every
    event whose offset precedes the last truncate of its table, and signal
    the sink to clear state at that offset (handled by the pipeline)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("table")
    trunc_off = F.max(
        F.when(F.col("op") == "TRUNCATE", F.struct("term", "index", "write_id"))
    ).over(w)
    return (
        decoded.withColumn("_trunc", trunc_off)
        .where(
            F.col("_trunc").isNull()
            | (F.struct("term", "index", "write_id") > F.col("_trunc"))
        )
        .drop("_trunc")
    )
