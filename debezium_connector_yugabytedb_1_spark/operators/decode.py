"""P1/P2/P7/P8 — envelope decode, value conversion, cell semantics, flatten.

Reference: the protobuf ``RowMessage`` is decoded into op + typed old/new
tuples (``YbProtoReplicationMessage.java:36-181``, per-datum extraction
``YbProtoColumnValue.java:63-157``), every column wrapped as a ``{value, set}``
cell so "column unchanged" is distinguishable from "column set to NULL"
(``YBTableSchemaBuilder.java:436-449`` schema, ``:280-292`` fill), then
optionally flattened by the ``YBExtractNewRecordState`` SMT
(``YBExtractNewRecordState.java:57-221``).

Spark-first mapping: the wire payload is a JSON document column; decode is a
single ``from_json`` JVM expression (whole-stage codegen, Arrow-free) — the
default hot path. A vectorized pandas-UDF decoder is provided as the
drop-in for payload formats Spark can't parse natively (protobuf, custom
binary); it demonstrates the mandated Arrow-batched path with identical
output. The ``{value, set}`` cell is represented as the ``after`` struct plus
a ``changed`` array; ``cell_set()`` reads the flag.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .emit import DELETE_OPS

#: Typed schema of the decoded payload (self-describing — replaces the
#: reference's serialized OID type registry, ``YugabyteDBTypeRegistry.java``).
AFTER_SCHEMA = T.StructType(
    [
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("stars", T.LongType()),
    ]
)
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("after", AFTER_SCHEMA),
        T.StructField("changed", T.ArrayType(T.StringType())),
        T.StructField(
            "before_key",
            T.StructType(
                [T.StructField("repo", T.StringType()), T.StructField("path", T.StringType())]
            ),
        ),
        T.StructField("action", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("type", T.StringType()),
    ]
)

#: Columns of the replicated source table, in schema order.
TABLE_COLUMNS = ("commit", "lang", "content", "stars")


def payload_schema(columns: list[tuple[str, str]]) -> T.StructType:
    """Payload schema for the CURRENT source-table columns — the decode
    analogue of the reference's per-tablet schema refresh
    (``YugabyteDBSchema.shouldRefreshSchema:213-243``): after a rename/add
    DDL, subsequent events carry the new field names, so the decode schema
    must be built from the live column set, not a static one."""
    after = T.StructType(
        [T.StructField(n, _parse_ddl_type(t)) for n, t in columns]
    )
    return T.StructType(
        [T.StructField("after", after)] + [f for f in PAYLOAD_SCHEMA.fields[1:]]
    )


def _parse_ddl_type(ddl: str) -> T.DataType:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)


def decode_columns(
    df: DataFrame,
    columns: list[tuple[str, str]] | None = None,
    *,
    use_pandas: bool = False,
    name: str = "_p",
) -> tuple[Column, dict[str, Column]]:
    """P1 — the envelope decode as Columns over ``df``'s wire columns.
    Returns ``(parse, fields)``: ``fields`` maps ``after``, ``changed``,
    ``before_key``, ``ddl_action``, ``ddl_name`` and ``ddl_type`` to
    Columns. Those that need the payload parsed read the column ``name``,
    which the caller projects from ``parse`` one step below them: Catalyst
    splits a ``from_json`` read through two fields into two parses, one
    per field, but does not inline a projected parse into several
    readers, so one projected parse is one parse per row.

    The JSON wire's ``parse`` is the whole payload: ``from_json`` (pure
    JVM), or with ``use_pandas=True`` an Arrow-batched pandas UDF with
    identical semantics. ``columns`` (name, ddl-type) overrides the
    after-image schema — pass the sink table's live columns so mid-stream
    DDL (add/rename) decodes.

    The pre-shredded wire (a typed ``change`` struct column from
    ``generate_events(payload_format="shredded")``) needs no parse for its
    DML: ``after``, ``changed`` and ``before_key`` project straight out of
    the parquet struct, aligned to the live schema (wire fields missing
    from ``columns`` are dropped, live columns missing on the wire decode
    as NULL — the semantics ``from_json`` gives a narrower schema). Its
    ``parse`` holds only the DDL fields of the JSON ``payload`` string,
    which is non-null only on the rare marker rows; a caller that reads no
    ``ddl_*`` field never plans it."""
    schema = payload_schema(columns) if columns is not None else PAYLOAD_SCHEMA
    p = F.col(name)
    ddl = {"ddl_action": p["action"], "ddl_name": p["name"], "ddl_type": p["type"]}
    if "change" in df.columns and isinstance(
        df.schema["change"].dataType, T.StructType
    ):
        wire = df.schema["change"].dataType
        wire_after = (
            wire["after"].dataType if "after" in wire.names else T.StructType([])
        )
        after = F.when(
            F.col("change").isNotNull(),
            F.struct(
                *[
                    (
                        F.col(f"change.after.{f.name}").cast(f.dataType)
                        if f.name in wire_after.names
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in schema["after"].dataType.fields
                ]
            ),
        )
        parse = F.from_json(
            F.col("payload"),
            T.StructType(
                [f for f in PAYLOAD_SCHEMA.fields if f.name in ("action", "name", "type")]
            ),
        )
        return parse, {
            "after": after,
            "changed": F.col("change.changed"),
            "before_key": F.col("change.before_key"),
            **ddl,
        }
    if use_pandas:
        if columns is not None and not {n for n, _ in columns} <= set(TABLE_COLUMNS):
            raise NotImplementedError(
                "the pandas decode path extracts the default field set only"
            )
        parse = _decode_payload_pandas(F.col("payload"))
    else:
        parse = F.from_json(F.col("payload"), schema)
    return parse, {
        "after": p["after"],
        "changed": p["changed"],
        "before_key": p["before_key"],
        **ddl,
    }


def decode_envelope(
    df: DataFrame,
    *,
    use_pandas: bool = False,
    columns: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """P1 — ``df`` with the typed ``after``/``changed``/``before_key``/
    ``ddl_*`` columns of ``decode_columns`` (its docstring gives the
    wires and the options)."""
    parse, fields = decode_columns(df, columns, use_pandas=use_pandas)
    return df.withColumn("_p", parse).withColumns(fields).drop("_p")


def realign(
    after: Column, changed: Column, cols: list, final: list
) -> tuple[Column, Column]:
    """Re-key one schema epoch's decoded ``after``/``changed`` Columns to
    a later schema. ``cols`` (the epoch's) and ``final`` are the lake's
    ``(logical, type, physical)`` triples; columns match by PHYSICAL name,
    the lake's field-ID analogue, so a rename maps the old logical name to
    the new one, a final column the epoch lacks (added later) is unset,
    and an epoch column ``final`` lacks (dropped) is not projected — nor
    is a dropped-then-re-added one, whose re-add has a fresh physical
    name. The epoch's events thus merge under ``final`` exactly as if
    the schema had changed between them."""
    if cols == final:
        return after, changed
    logical = {p: n for n, _, p in cols}
    pairs = [(n, t, logical.get(p)) for n, t, p in final]
    struct = F.struct(
        *[
            (
                after[src] if src is not None
                else F.lit(None).cast(_parse_ddl_type(t))
            ).alias(n)
            for n, t, src in pairs
        ]
    )
    names = F.array(
        *[F.when(F.array_contains(changed, src), F.lit(n)) for n, _, src in pairs if src]
    ).cast("array<string>")
    return (
        F.when(after.isNotNull(), struct),
        F.when(changed.isNotNull(), F.array_compact(names)),
    )


@F.pandas_udf(PAYLOAD_SCHEMA)
def _decode_payload_pandas(payload: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized JSON decode (stand-in for a protobuf decoder; one
    Python call per ~10k-row Arrow batch, not per row)."""
    after, changed, before_key, action, name, typ = [], [], [], [], [], []
    for s in payload:
        d = json.loads(s) if s else {}
        a = d.get("after")
        after.append(
            None
            if a is None
            else {k: a.get(k) for k in ("commit", "lang", "content", "stars")}
        )
        changed.append(d.get("changed"))
        before_key.append(d.get("before_key"))
        action.append(d.get("action"))
        name.append(d.get("name"))
        typ.append(d.get("type"))
    return pd.DataFrame(
        {
            "after": after,
            "changed": changed,
            "before_key": before_key,
            "action": action,
            "name": name,
            "type": typ,
        }
    )


def cell_set(column_name: str) -> Column:
    """P7 — the ``set`` flag of a ``{value, set}`` cell: was this column
    delivered in the event? (``YBTableSchemaBuilder.java:280-292``)."""
    return F.coalesce(F.array_contains(F.col("changed"), column_name), F.lit(False))


def extract_new_record_state(
    decoded: DataFrame,
    columns=TABLE_COLUMNS,
    *,
    delete_to_tombstone: bool = False,
    drop_tombstones: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """P8 — ``YBExtractNewRecordState`` SMT analogue
    (``YBExtractNewRecordState.java:57-221``): unwrap envelope → after image,
    drop unset cells (null), add ``__deleted``.

    Modes (``:64-67, 88-125``):
    - default: deletes keep a row image with ``__deleted = true``;
      explicitly-received tombstones (``op = 't'``) are dropped when
      ``drop_tombstones`` (the base SMT's ``drop.tombstones`` default).
    - ``delete_to_tombstone=True``: a DELETE becomes a tombstone — key
      kept, every value column nulled, ``__tombstone = true`` (the
      Kafka null-value record re-expressed relationally) — and source
      tombstone records are dropped (``:103-107``).

    ``keep_cols``: extra envelope columns passed through unchanged (the
    SMT copies non-payload fields verbatim)."""
    is_del = F.col("op") == "d"
    is_tomb = F.col("op") == "t"
    src = decoded
    if delete_to_tombstone:
        src = src.where(~is_tomb)  # drop source tombstones (:103-107)
        proj = [*[F.col(c) for c in keep_cols], F.col("repo"), F.col("path")]
        proj += [
            F.when(~is_del & cell_set(c), F.col(f"after.{c}")).alias(c)
            for c in columns
        ]
        proj.append(is_del.alias("__tombstone"))
        return src.select(*proj)
    if drop_tombstones:
        src = src.where(~is_tomb)
    proj = [*[F.col(c) for c in keep_cols], F.col("repo"), F.col("path")]
    proj += [F.when(cell_set(c), F.col(f"after.{c}")).alias(c) for c in columns]
    proj.append(F.col("op").isin(*DELETE_OPS).alias("__deleted"))
    return src.select(*proj)
