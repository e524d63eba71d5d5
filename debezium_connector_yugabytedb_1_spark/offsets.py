"""Offset (OpId) model: the connector's per-tablet checkpoint position.

Reference semantics: an OpId is a 5-tuple ``(term, index, key, write_id,
time)`` totally ordered by unsigned comparison on term -> index -> write_id
(``OpId.java:14-29``, compare at ``OpId.java:126-135``); serialized as
``"term:index:keyB64:write_id:time"`` (``OpId.java:95-97``).

Spark-first mapping: an offset is a ``struct<term:long, index:long,
write_id:long>`` column. Spark's struct ordering is lexicographic by field
position — the same term → index → write_id priority as the reference's
comparator — as a single JVM-side expression, usable in filters (resume:
``offset > checkpoint``), in ``max()`` aggregates (monotonic merge), and in
``max_by`` (last-writer-wins), all whole-stage-codegen'd, no UDF.

Deliberate divergence: the reference compares components as UNSIGNED longs
(``OpId.compareTo:126-135`` adds ``Long.MIN_VALUE``); this engine compares
SIGNED. Real stream offsets never exceed 2^63, so the orders agree on the
wire range — and the snapshot phase **relies** on signed order: snapshot
offsets use ``term = -1`` so they sort strictly below every streaming offset
(under the reference's unsigned order, -1 would sort above everything; the
reference instead keeps snapshot OpIds in a distinct format,
``YugabyteDBOffsetContext.java:147-158``). If parity with
reference-serialized OpIds ever matters, map term -1 to the reference's
snapshot sentinel at the border, not in the comparator.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Ordered offset component columns (comparison priority order).
OFFSET_COLS = ("term", "index", "write_id")


def offset_struct(prefix: str = "") -> Column:
    """Offset as one orderable struct column.

    ``prefix`` lets callers point at qualified columns (e.g. ``"s."``).
    """
    return F.struct(*[F.col(prefix + c).alias(c) for c in OFFSET_COLS])
