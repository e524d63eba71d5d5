"""X1 — before-image modes.

Reference: ``HelperBeforeImageModes.java:6-49`` defines the 8 modes —
ALL / CHANGE (default) / FULL_ROW_NEW_IMAGE /
MODIFIED_COLUMNS_OLD_AND_NEW_IMAGES / FULL / CHANGE_OLD_NEW / DEFAULT /
NOTHING — gated in ``YugabyteDBChangeRecordEmitter.java:118-123``. Per the
mode, an event's OLD image carries the full prior row, the modified
columns' prior values, only the key (DELETE under DEFAULT), or nothing;
and its NEW image is either the changed columns as delivered (CHANGE
family) or the entire updated row (FULL family — unchanged columns filled
from the prior image).

Replay state only needs (after, op, offset); before images are *lineage* —
consumed by diff/audit pipelines. Spark-first: the prior image of an event
is the previous image of its key, i.e. a ``last(..., ignorenulls) OVER``
per-key offset window up to 1 PRECEDING. That reconstructs FULL before
images from a CHANGE stream without the source having to ship them (the
reference needs server cooperation for this; a batch engine gets it for
free from history).
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .decode import TABLE_COLUMNS, cell_set
from .emit import DELETE_OPS, UPSERT_OPS
from .order import newer_than_delete


class BeforeImageMode(str, Enum):
    ALL = "ALL"                        # full before + full after (legacy FULL)
    CHANGE = "CHANGE"                  # default: changed cols only, no before
    FULL = "FULL"                      # full before + full after
    FULL_ROW_NEW_IMAGE = "FULL_ROW_NEW_IMAGE"  # full after; full before on DELETE
    MODIFIED_COLUMNS_OLD_AND_NEW = "MODIFIED_COLUMNS_OLD_AND_NEW_IMAGES"
    CHANGE_OLD_NEW = "CHANGE_OLD_NEW"  # old+new of modified cols (new-name twin)
    DEFAULT = "DEFAULT"                # full after; key-only before on DELETE
    NOTHING = "NOTHING"                # no before for any op


#: modes whose NEW image is the entire updated row (unchanged columns
#: filled from the prior image) rather than the changed columns as shipped
_FULL_AFTER_MODES = frozenset(
    {
        BeforeImageMode.ALL,
        BeforeImageMode.FULL,
        BeforeImageMode.FULL_ROW_NEW_IMAGE,
        BeforeImageMode.DEFAULT,
    }
)


def reconstruct_before_images(
    decoded: DataFrame,
    mode: BeforeImageMode = BeforeImageMode.FULL,
    columns=TABLE_COLUMNS,
    key_cols=("repo", "path"),
) -> DataFrame:
    """Attach the mode's ``before`` struct (and widen ``after`` to the full
    row for the FULL-after modes) by folding the key's history up to
    (exclusive) the event's offset.

    Implementation: per key, running last-set value of every column via a
    window ``last(value_if_set, ignorenulls) OVER (... ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)``, nulled out across delete
    barriers by the fold's own barrier (``order.newer_than_delete``). One
    shuffle + per-key sort (lineage path, not the hot replay path); every
    mode shares the same single window pass."""
    mode = BeforeImageMode(mode)
    if mode == BeforeImageMode.NOTHING:
        return decoded
    if mode == BeforeImageMode.CHANGE:
        return decoded  # the wire format already is changed-columns-only

    w = (
        W.partitionBy(*key_cols)
        .orderBy("term", "index", "write_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    off = F.struct("term", "index", "write_id")
    is_del = F.col("op").isin(*DELETE_OPS)
    last_del = F.max(F.when(is_del, off)).over(w)
    prior, before_fields, after_fields = {}, [], []
    for c in columns:
        last_set = F.last(
            F.when(
                F.col("op").isin(*UPSERT_OPS) & cell_set(c),
                F.struct(off.alias("off"), F.col(f"after.{c}").alias("v")),
            ),
            ignorenulls=True,
        ).over(w)
        prior[c] = F.when(newer_than_delete(last_set["off"], last_del), last_set["v"])
        if mode in (
            BeforeImageMode.MODIFIED_COLUMNS_OLD_AND_NEW,
            BeforeImageMode.CHANGE_OLD_NEW,
        ):
            # old images only for the columns this event modified
            before_fields.append(F.when(cell_set(c), prior[c]).alias(c))
        elif mode == BeforeImageMode.DEFAULT:
            # key-only old image for DELETE (the key is the top-level
            # repo/path; value columns stay null), nothing otherwise
            before_fields.append(F.lit(None).cast(
                decoded.schema["after"].dataType[c].dataType
            ).alias(c))
        else:  # ALL / FULL / FULL_ROW_NEW_IMAGE: full prior row
            before_fields.append(prior[c].alias(c))
        # FULL-after modes: unchanged columns of an upsert fill from prior
        after_fields.append(
            F.when(~is_del, F.when(cell_set(c), F.col(f"after.{c}")).otherwise(prior[c])).alias(c)
        )
    before = F.struct(*before_fields)
    if mode == BeforeImageMode.FULL_ROW_NEW_IMAGE:
        before = F.when(is_del, before)  # old image only for DELETE
    elif mode == BeforeImageMode.DEFAULT:
        before = F.when(is_del, before)  # key-only, DELETE only
    out = decoded.withColumn("before", before)
    if mode in _FULL_AFTER_MODES:
        full_after = F.when(~is_del, F.struct(*after_fields))
        out = out.withColumn("after", full_after).withColumn(
            "changed",
            F.when(~is_del, F.array(*[F.lit(c) for c in columns])).otherwise(
                F.col("changed")
            ),
        )
    return out
