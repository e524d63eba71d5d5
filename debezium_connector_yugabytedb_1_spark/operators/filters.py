"""F1-F6 — record filters, applied before decode (predicate pushdown: these
reach the parquet scan as PushedFilters since they touch plain columns).

Reference points:
  F1 safepoint drop        ``YugabyteDBStreamingChangeEventSource.java:590-593``
  F2 table include/exclude ``Filters.java:36-62`` (system schemas always out)
  F3 column exclude        ``YugabyteDBSchema.java:341-373``
  F4 NOOP drop             ``YugabyteDBStreamingChangeEventSource.java:743-744``
  F5 message-prefix filter ``LogicalDecodingMessageFilter.java``
  F6 skipped operations    ``YugabyteDBEventDispatcher.java:137-143``
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .order import max_ht

SYSTEM_SCHEMA_EXCLUDE = r"^(pg_catalog|information_schema|pg_temp).*"

#: ops that never reach the dispatcher (watermark carriers / no-ops)
NON_DISPATCHED_OPS = ("SAFEPOINT", "NOOP", "BEGIN", "COMMIT")


def extract_safepoint_watermark(df: DataFrame):
    """F1 side-channel — safepoints carry the stream safe time (the
    watermark the consistent Merger gates on, ``Merger.java:116-133``).
    Returns ``(tablet_id, safe_time)``, one row per tablet with a
    SAFEPOINT: the UNSIGNED max of its safepoint commit times
    (``order.max_ht``, the aggregate ``window_stats`` also uses), as the
    raw wire value."""
    return (
        df.where(F.col("op") == "SAFEPOINT")
        .groupBy("tablet_id")
        .agg(max_ht("commit_time").alias("safe_time"))
    )


def drop_safepoints(df: DataFrame) -> DataFrame:
    """F1 — safepoint records are never dispatched."""
    return df.where(F.col("op") != "SAFEPOINT")


def table_filter(
    df: DataFrame,
    include: str | None = None,
    exclude: str | None = None,
) -> DataFrame:
    """F2 — regex include/exclude on ``schema.table``; system schemas always
    excluded (``Filters.java:36-62``)."""
    cond = ~F.col("table").rlike(SYSTEM_SCHEMA_EXCLUDE)
    if include:
        cond = cond & F.col("table").rlike(include)
    if exclude:
        cond = cond & ~F.col("table").rlike(exclude)
    return df.where(cond)


def skipped_operations_filter(df: DataFrame, skipped: tuple[str, ...] = ()) -> DataFrame:
    """F6 — drop envelope ops configured to skip."""
    return df.where(~F.col("op").isin(*skipped)) if skipped else df


def column_exclude(df: DataFrame, excluded: tuple[str, ...] = ()) -> DataFrame:
    """F3 — column.exclude.list analogue: drop payload columns from the
    decoded after-image (pure projection — Catalyst prunes the read)."""
    out = df
    for c in excluded:
        out = out.withColumn(
            "after", F.col("after").dropFields(c)
        ).withColumn("changed", F.array_remove(F.coalesce("changed", F.array()), c))
    return out


def message_prefix_filter(
    df: DataFrame, include: str | None = None, exclude: str | None = None
) -> DataFrame:
    """F5 — logical-decoding-message prefix include/exclude (applies to
    ``op == 'm'`` rows; others pass through)."""
    is_msg = F.col("op") == "m"
    cond = F.lit(True)
    if include:
        cond = cond & F.col("msg_prefix").rlike(include)
    if exclude:
        cond = cond & ~F.col("msg_prefix").rlike(exclude)
    return df.where(~is_msg | cond)


def dispatchable(df: DataFrame) -> DataFrame:
    """F1+F4 + txn-marker drop: the record set that reaches the emitter."""
    return df.where(~F.col("op").isin(*NON_DISPATCHED_OPS))
