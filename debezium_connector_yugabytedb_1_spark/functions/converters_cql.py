"""CQL (YCQL) value converters — the Cassandra-protocol half of the
reference's value-conversion surface.

The reference ships a second, CQL-specific converter provider
(``YugabyteDBCQLValueConverter.java``) beside the YSQL one: CQL tables
deliver column values as raw protobuf ``QLValuePB`` payloads
(``connection/pgproto/YbProtoCqlColumnValue.java:19-29``), so several
families convert from *bytes* where the YSQL path converts from text:

- INET arrives as the 4 raw address octets, not dotted-quad text
  (``convertInet:616-628`` / ``convertInetToIPAddress:630-642``); a
  non-4-byte payload is invalid and converts to ``""`` (with a warning).
- UUID / TIMEUUID arrive as the 16 raw bytes, decoded big-endian
  msb/lsb into the canonical string (``convertUUID:644-663`` /
  ``convertByteStringToUUID:664-681``); an empty payload converts to
  ``""``.
- VARINT arrives as utf8 text and is parsed into a 64-bit integer, with
  the empty string mapping to 0 (``convertVarInt``; the reference
  narrows CQL varint to Java ``Long`` — values outside int64 raise
  there, so ANSI ``cast`` keeps that contract here).
- BLOB honours the three binary handling modes: raw bytes, base64, or
  lowercase hex (``convertBinary:683-694`` and the three
  ``convertBinaryTo*`` bodies; Debezium's ``HexConverter`` emits
  lowercase), with fixed-width BINARY columns right-padded with 0x00
  (``normalizeBinaryData``).
- DATE / TIME / TIMESTAMP follow the Debezium precision ladder
  (``converter():276-293`` / ``convertTime:909-923``): in adaptive
  modes DATE → epoch days, TIME → millis/micros/nanos past midnight by
  column precision (≤3 / ≤6 / else), TIMESTAMP → epoch
  millis/micros/nanos; in connect mode DATE and TIMESTAMP collapse to
  epoch-millis instants (``convertDateToEpochDaysAsDate:890-907``,
  ``convertTimestampToEpochMillisAsDate``). Reference quirk, not
  reproduced: its TIME ≤3 branch (``convertTimeToMillisPastMidnight``)
  actually delivers nano-of-day through ``NanoTime.toNanoOfDay``
  despite the millis schema; this module emits true milli-of-day, the
  value the schema declares.

Everything here is a pure Catalyst ``Column`` expression — no UDFs —
so the conversions stay inside whole-stage codegen exactly like the
YSQL family in ``converters.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "cql_inet_from_bytes",
    "cql_uuid_from_bytes",
    "cql_varint",
    "cql_blob",
    "normalize_binary",
    "cql_string",
    "cql_date",
    "cql_time",
    "cql_timestamp",
    "cql_typed_decode",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _idiv(c: Column, n: int) -> Column:
    """Exact floored integer division. ``floor(c / n)`` goes through a
    double and loses exactness past 2^53 — real for nano-precision epoch
    values — so divide the pmod-aligned numerator as decimal instead."""
    num = (c - F.pmod(c, F.lit(n))).cast("decimal(38,0)")
    return (num / F.lit(n)).cast("long")


def cql_inet_from_bytes(col: Column | str) -> Column:
    """4 raw octets → dotted-quad string; a present-but-malformed length →
    ``""`` (``convertInetToIPAddress:630-642`` warns and returns empty).
    NULL stays NULL — ``""`` is only the non-nullable-column default in the
    reference; ``convertValue`` delivers null for a nullable column, so the
    empty-string fallback must not swallow a null wire payload."""
    c = _c(col)
    octet = lambda i: F.conv(F.hex(F.substring(c, i, 1)), 16, 10)  # noqa: E731
    return F.when(c.isNull(), F.lit(None).cast("string")).when(
        F.length(c) == 4,
        F.concat_ws(".", octet(1), octet(2), octet(3), octet(4)),
    ).otherwise(F.lit(""))


def cql_uuid_from_bytes(col: Column | str) -> Column:
    """16 raw bytes → canonical lowercase 8-4-4-4-12 string; empty
    payload → ``""`` (``convertByteStringToUUID:664-681`` returns null
    for zero bytes and ``convertUUID`` delivers ``""``); a NULL wire
    payload stays NULL (nullable columns round-trip null through
    ``convertValue`` — ``""`` is only the non-nullable default). Big-endian
    byte order is exactly ``hex()`` order, so no byte swizzling."""
    c = _c(col)
    h = F.lower(F.hex(c))
    return F.when(c.isNull(), F.lit(None).cast("string")).when(
        F.length(c) == 0, F.lit("")
    ).otherwise(
        F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.substring(h, 13, 4),
            F.substring(h, 17, 4),
            F.substring(h, 21, 12),
        )
    )


def cql_varint(col: Column | str) -> Column:
    """VARINT utf8 text → long; ``""`` → 0 (``convertVarInt``). The
    reference parses with ``Long.valueOf`` — int64 overflow is an error
    there, so the ANSI cast (raises on junk) is the faithful mapping."""
    c = _c(col)
    return F.when(c == "", F.lit(0).cast("long")).otherwise(c.cast("long"))


def normalize_binary(col: Column | str, length: int) -> Column:
    """Right-pad a fixed-width BINARY column's payload with 0x00 up to
    ``length`` bytes (``normalizeBinaryData`` — CHAR-style binary
    columns are space-, i.e. zero-, padded on the wire)."""
    c = _c(col)
    pad_hex = F.repeat(F.lit("00"), F.lit(length) - F.length(c))
    return F.when(F.length(c) >= length, c).otherwise(
        F.concat(c, F.unhex(pad_hex))
    )


def cql_blob(col: Column | str, mode: str = "bytes") -> Column:
    """BLOB raw bytes under the binary handling mode: ``bytes`` (raw),
    ``base64``, or lowercase ``hex`` (``convertBinary:683-694``)."""
    c = _c(col)
    if mode == "base64":
        return F.base64(c)
    if mode == "hex":
        return F.lower(F.hex(c))
    if mode == "bytes":
        return c
    raise ValueError(f"unknown binary handling mode: {mode!r}")


def cql_string(col: Column | str) -> Column:
    """TEXT/VARCHAR raw utf8 bytes → string (``convertString:603-614``:
    ``ByteString.toStringUtf8``)."""
    return _c(col).cast("string")


def cql_date(col_days: Column | str, mode: str = "adaptive") -> Column:
    """DATE wire = days since epoch. ``adaptive`` → epoch days (int,
    ``convertDateToEpochDays:867-880``); ``connect`` → epoch millis at
    midnight (long, ``convertDateToEpochDaysAsDate:890-907``)."""
    c = _c(col_days).cast("long")
    if mode == "adaptive":
        return c.cast("int")
    if mode == "connect":
        return c * 86_400_000
    raise ValueError(f"unknown temporal mode: {mode!r}")


def cql_time(
    col_nanos: Column | str, precision: int = 6, mode: str = "adaptive"
) -> Column:
    """TIME wire = nanos past midnight. ``adaptive_micros`` → always
    micro-of-day; ``adaptive`` → milli/micro/nano-of-day by column
    precision ≤3 / ≤6 / else (``convertTime:909-923``); ``connect`` →
    milli-of-day (the instant-at-epoch-day representation)."""
    c = _c(col_nanos).cast("long")
    if mode == "adaptive_micros":
        return _idiv(c, 1_000)
    if mode == "adaptive":
        if precision <= 3:
            return _idiv(c, 1_000_000)
        if precision <= 6:
            return _idiv(c, 1_000)
        return c
    if mode == "connect":
        return _idiv(c, 1_000_000)
    raise ValueError(f"unknown temporal mode: {mode!r}")


def cql_timestamp(
    col_micros: Column | str, precision: int = 6, mode: str = "adaptive"
) -> Column:
    """TIMESTAMP wire = epoch micros. ``adaptive`` → epoch
    millis/micros/nanos by precision ≤3 / ≤6 / else
    (``converter():283-293``); ``connect`` → epoch millis
    (``convertTimestampToEpochMillisAsDate``)."""
    c = _c(col_micros).cast("long")
    if mode == "adaptive":
        if precision <= 3:
            return _idiv(c, 1_000)
        if precision <= 6:
            return c
        return c * 1_000
    if mode == "connect":
        return _idiv(c, 1_000)
    raise ValueError(f"unknown temporal mode: {mode!r}")


_CQL_DISPATCH = {
    "inet": cql_inet_from_bytes,
    "uuid": cql_uuid_from_bytes,
    "timeuuid": cql_uuid_from_bytes,
    "varint": cql_varint,
    "text": cql_string,
    "blob": lambda c: cql_blob(c, "bytes"),
    "blob_base64": lambda c: cql_blob(c, "base64"),
    "blob_hex": lambda c: cql_blob(c, "hex"),
    "tinyint": lambda c: _c(c).cast("tinyint"),
    "smallint": lambda c: _c(c).cast("smallint"),
    "int": lambda c: _c(c).cast("int"),
    "bigint": lambda c: _c(c).cast("long"),
    "float": lambda c: _c(c).cast("float"),
    "double": lambda c: _c(c).cast("double"),
    "boolean": lambda c: _c(c).cast("boolean"),
    "date": cql_date,
    "date_connect": lambda c: cql_date(c, "connect"),
    "time_millis": lambda c: cql_time(c, precision=3),
    "time_micros": lambda c: cql_time(c, precision=6),
    "time_nanos": lambda c: cql_time(c, precision=9),
    "timestamp_millis": lambda c: cql_timestamp(c, precision=3),
    "timestamp_micros": lambda c: cql_timestamp(c, precision=6),
    "timestamp_nanos": lambda c: cql_timestamp(c, precision=9),
}


def cql_typed_decode(df, specs: list[tuple[str, str]], prefix: str = ""):
    """Apply the CQL converter family to wire columns: ``specs`` is a list
    of ``(column, cql_type)`` pairs; each wire column ``<prefix><name>``
    becomes a typed ``<name>`` column. Mirrors the ``converter()``
    nativeType dispatch (``YugabyteDBCQLValueConverter.java:241-299``)
    the way ``converters.typed_decode`` mirrors the YSQL OID dispatch."""
    out = df
    for name, cql_type in specs:
        fn = _CQL_DISPATCH.get(cql_type)
        if fn is None:
            raise ValueError(f"unsupported CQL type: {cql_type!r}")
        out = out.withColumn(name, fn(F.col(f"{prefix}{name}")))
    return out
