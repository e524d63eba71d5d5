"""P2 — the value-conversion surface: wire-format text/number datums → typed
Spark columns, mirroring the reference's converter semantics.

Reference: ``YugabyteDBValueConverter.java`` — type dispatch ``:175-344``,
decimal with NaN/±Infinity specials and variable-scale handling
``:539-571,977-988``, hstore ``:575-608``, bit/varbit little-endian padding
``:697-732``, money (64-bit int, last two digits are decimals) ``:734-744``,
interval micros/ISO-string modes ``:746-782``, timestamptz ±infinity
sentinels ``:784-807``; per-datum wire extraction ``YbProtoColumnValue.java
:41-363``; array OIDs ``:224-293,505-528``.

Spark-first: every converter is a pure Catalyst ``Column`` expression
(whole-stage codegen, no UDFs) — the reference's per-row Java converter
lambdas become vectorized JVM expressions. Converters take the *wire* column
(string datum as a logical-decoding plugin emits it, or a long for
micros-based types) and return the typed column.

Mode knobs mirror the connector config:
``decimal.handling.mode`` (precise | double | string),
``hstore.handling.mode`` (map | json),
``interval.handling.mode`` (numeric | string),
``binary.handling.mode`` (bytes | hex | base64),
``time.precision.mode`` (adaptive micros — the only mode implemented; the
connector's default).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import let

# ---- special sentinels (reference :84-116) --------------------------------
#: micros-since-epoch sentinels for ``timestamp 'infinity'`` rows — the
#: PGStatement DATE_POSITIVE_INFINITY / DATE_NEGATIVE_INFINITY constants the
#: reference maps onto (``YugabyteDBValueConverter.java:84-93``)
POSITIVE_INFINITY_MICROS = 9223372036825200000
NEGATIVE_INFINITY_MICROS = -9223372036832400000
#: days-since-epoch sentinels for ``date 'infinity'``
POSITIVE_INFINITY_DAYS = 106751991
NEGATIVE_INFINITY_DAYS = -106751991
NAN = "NaN"
POS_INF = "Infinity"
NEG_INF = "-Infinity"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------- numeric
def convert_decimal(
    col: Column | str, mode: str = "precise", precision: int = 38, scale: int | None = None
) -> Column:
    """NUMERIC with NaN/±Infinity specials (``toSpecialValue :977-988``).

    - ``precise`` + fixed scale → ``decimal(precision, scale)``; the three
      special strings become NULL (Kafka Decimal cannot carry them either —
      the reference parks them in a struct side-channel; pair with
      ``decimal_special_flag`` to keep the information).
    - ``precise`` + ``scale=None`` (variable-scale NUMERIC, reference
      ``isVariableScaleDecimal :970-974``) → normalized string, trailing
      zeros stripped (``convertDecimal :560-567`` stripTrailingZeros).
    - ``double`` → DOUBLE; specials become real NaN/±Inf doubles.
    - ``string`` → datum as-is.
    """
    c = _c(col)
    if mode == "string":
        return c
    if mode == "double":
        return c.cast("double")  # Spark parses NaN/Infinity/-Infinity natively
    if scale is None:
        # variable-scale precise: exact textual value, canonicalized
        # (``convertDecimal :560-567`` stripTrailingZeros). Values inside
        # decimal(38,18) canonicalize through the decimal cast; anything
        # outside (>20 integer digits — ANSI cast would throw — or >18
        # fractional digits — cast would silently round) falls back to a
        # purely textual trailing-zero strip, preserving the exact wire
        # value like the reference.
        num = c.try_cast(f"decimal({precision},18)")
        frac_digits = F.length(F.regexp_extract(c, r"\.(\d+)$", 1))
        exact = num.isNotNull() & (frac_digits <= 18)
        stripped = F.regexp_replace(
            F.regexp_replace(num.cast("string"), r"(\.\d*?)0+$", "$1"), r"\.$", ""
        )
        textual = F.regexp_replace(  # leading-zero strip = BigDecimal parity
            F.regexp_replace(
                F.regexp_replace(F.trim(c), r"^(-?)0+(?=\d)", "$1"),
                r"(\.\d*?)0+$", "$1",
            ),
            r"\.$", "",
        )
        return F.when(c.isin(NAN, POS_INF, NEG_INF), F.lit(None)).otherwise(
            F.when(exact, stripped).otherwise(textual)
        )
    return F.when(c.isin(NAN, POS_INF, NEG_INF), F.lit(None)).otherwise(
        c.cast(f"decimal({precision},{scale})")
    )


def decimal_special_flag(col: Column | str) -> Column:
    """Side-channel for the three decimal specials (NULL otherwise)."""
    c = _c(col)
    return F.when(c.isin(NAN, POS_INF, NEG_INF), c)


def convert_money(col: Column | str) -> Column:
    """MONEY: 64-bit int where the last two digits are decimals
    (``convertMoney :734-744``) → decimal scale 2."""
    return (_c(col).cast("decimal(38,2)") / 100).cast("decimal(38,2)")


# ---------------------------------------------------------------- temporal
def convert_timestamp_micros(col: Column | str) -> Column:
    """TIMESTAMP (no tz) → micros since epoch (Debezium MicroTimestamp),
    with ±infinity sentinels (``convertTimestampToEpochMicros`` +
    ``:999-1007``)."""
    c = _c(col)
    return (
        F.when(c == "infinity", F.lit(POSITIVE_INFINITY_MICROS))
        .when(c == "-infinity", F.lit(NEGATIVE_INFINITY_MICROS))
        .otherwise(
            # session.py pins spark.sql.session.timeZone=UTC, so the naive
            # wire string is interpreted as UTC and the result is stable
            F.unix_micros(F.to_timestamp(c))
        )
    )


def convert_timestamptz_string(col: Column | str) -> Column:
    """TIMESTAMPTZ → normalized UTC ISO string (Debezium ZonedTimestamp);
    'infinity'/'-infinity' pass through verbatim (``:784-807``)."""
    c = _c(col)
    return (
        F.when(c.isin("infinity", "-infinity"), c)
        .otherwise(
            F.date_format(F.to_timestamp(c), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        )
    )


def convert_date_days(col: Column | str) -> Column:
    """DATE → days since epoch (Debezium io.debezium.time.Date) with
    ±infinity sentinels."""
    c = _c(col)
    return (
        F.when(c == "infinity", F.lit(POSITIVE_INFINITY_DAYS))
        .when(c == "-infinity", F.lit(NEGATIVE_INFINITY_DAYS))
        .otherwise(F.datediff(F.to_date(c), F.lit("1970-01-01")))
        .cast("int")
    )


def convert_time_micros(col: Column | str) -> Column:
    """TIME → micros past midnight (Debezium MicroTime; ``convertTime
    :530-537`` parses the duration string)."""
    c = _c(col)
    parts = F.split(c, ":")
    secs = F.split(F.element_at(parts, 3), r"\.")
    # try_element_at: the fraction is optional (ANSI mode throws on plain
    # element_at past the end)
    frac = F.rpad(F.coalesce(F.try_element_at(secs, F.lit(2)), F.lit("0")), 6, "0")
    return (
        F.element_at(parts, 1).cast("long") * 3_600_000_000
        + F.element_at(parts, 2).cast("long") * 60_000_000
        + F.element_at(secs, 1).cast("long") * 1_000_000
        + frac.cast("long")
    )


def convert_timetz(col: Column | str) -> Column:
    """TIMETZ wire ``HH:mm:ss[.ffffff]±HH[:mm]`` → UTC-shifted ISO time
    string (Debezium ZonedTime; ``convertTimeWithZone :805-813`` shifts the
    parsed offset-time to ``ZoneOffset.UTC``). Pure expressions: the offset
    is parsed and subtracted in micros, wrapped mod 24h."""
    c = F.trim(_c(col))
    body = F.regexp_extract(c, r"^([0-9:.]+)", 1)
    sign = F.when(c.contains("-"), F.lit(-1)).otherwise(F.lit(1))
    # nullif-guard BOTH extracts: a bare "HH:MM:SS" (or trailing "Z" = UTC)
    # yields '' from regexp_extract, and ''::long throws under ANSI mode
    oh = F.coalesce(
        F.nullif(F.regexp_extract(c, r"[+-](\d{1,2})", 1), F.lit("")).cast("long"),
        F.lit(0),
    )
    om = F.coalesce(
        F.nullif(F.regexp_extract(c, r"[+-]\d{1,2}:(\d{2})", 1), F.lit("")).cast(
            "long"
        ),
        F.lit(0),
    )
    off_us = sign * (oh * 3_600_000_000 + om * 60_000_000)
    us = F.pmod(convert_time_micros(body) - off_us, F.lit(86_400_000_000))
    h = F.lpad((us / 3_600_000_000).cast("long").cast("string"), 2, "0")
    m = F.lpad(
        F.pmod((us / 60_000_000).cast("long"), F.lit(60)).cast("string"), 2, "0"
    )
    s = F.lpad(F.pmod((us / 1_000_000).cast("long"), F.lit(60)).cast("string"), 2, "0")
    frac = F.lpad(F.pmod(us, F.lit(1_000_000)).cast("string"), 6, "0")
    return F.concat(h, F.lit(":"), m, F.lit(":"), s, F.lit("."), frac, F.lit("Z"))


def convert_citext(col: Column | str) -> Column:
    """CITEXT → string as-is (case-preserving value, case-insensitive
    compare semantics live in the database — ``convertCitext :874-885``)."""
    return _c(col)


def convert_ltree(col: Column | str) -> Column:
    """LTREE label path → string as-is (logical type
    ``data/Ltree.java:16-18`` ``io.debezium.data.Ltree``; value delivery is
    a charset-decoded passthrough, ``convertLtree :580-592``)."""
    return _c(col)


def convert_ltree_array(col: Column | str) -> Column:
    """LTREE[] wire literal ``{a.b,c.d}`` → array<string>.

    Parity note: the reference's ``convertLtreeArray :594-604`` is a NAIVE
    brace-strip + comma-split (ltree labels are ``[A-Za-z0-9_]`` segments
    joined by dots, so no quoting can occur) — deliberately simpler than
    ``convert_array``'s quoted-element tokenizer."""
    c = _c(col)
    body = _strip_braces(c)
    return F.when(
        c.isNull(), F.lit(None).cast("array<string>")
    ).otherwise(F.split(body, ","))


def convert_interval(col: Column | str, mode: str = "numeric") -> Column:
    """INTERVAL from wire micros (``convertInterval :746-782``):
    ``numeric`` → the micros long; ``string`` → the reference's ISO form
    ``Interval.toIsoString(0,0,0,0,0, micros/1e6)`` = ``P0Y0M0DT0H0M<sec>S``."""
    c = _c(col).cast("long")
    if mode == "numeric":
        return c
    secs = (c.cast("decimal(38,6)") / 1_000_000).cast("decimal(38,6)")
    sec_str = F.regexp_replace(
        F.regexp_replace(secs.cast("string"), r"(\.\d*?)0+$", "$1"), r"\.$", ""
    )
    return F.concat(F.lit("P0Y0M0DT0H0M"), sec_str, F.lit("S"))


# ---------------------------------------------------------------- containers
def convert_hstore(col: Column | str, mode: str = "map") -> Column:
    """HSTORE wire text ``"k"=>"v", ...`` → map<string,string> or a JSON
    string (``convertHStore :575-580``, json writer ``:655-667``).

    Full quoting parity with the JDBC HStore converter the reference
    delegates to: pairs are tokenized as quoted-run patterns (escapes
    ``\\\"`` and ``\\\\`` stay inside their run, exactly like
    ``convert_array``'s element tokenizer), so keys/values containing
    escaped quotes or the literal separator sequences ``", "`` / ``"=>"``
    parse correctly; an unquoted ``NULL`` value is a real NULL."""
    c = _c(col)
    qrun = r'"(?:[^"\\]|\\.)*"'
    # one token per "key"=>"value" (or =>NULL) pair; inter-pair commas are
    # never inside a quoted run, so pair-shaped matches can't mis-split
    toks = F.regexp_extract_all(c, F.lit(qrun + r"\s*=>\s*(?:" + qrun + "|NULL)"), 0)

    def unesc(x):
        return F.regexp_replace(x, r"\\(.)", "$1")

    def entry(tok):
        key = unesc(F.regexp_extract(tok, r'^"((?:[^"\\]|\\.)*)"', 1))
        val = F.when(
            tok.rlike(r"=>\s*NULL$"), F.lit(None).cast("string")
        ).otherwise(unesc(F.regexp_extract(tok, r'"((?:[^"\\]|\\.)*)"$', 1)))
        return F.struct(key.alias("key"), val.alias("value"))

    m = F.map_from_entries(F.transform(toks, entry))
    empty = c.isNull() | (F.trim(c) == "")
    m = F.when(empty, F.lit(None)).otherwise(m)
    if mode == "json":
        return F.to_json(m)
    return m


def _strip_braces(c: Column) -> Column:
    return F.regexp_replace(c, r"^\{|\}$", "")


def convert_array(col: Column | str, element_type: str = "string") -> Column:
    """PG array literal ``{a,b,c}`` → typed Spark array. Covers the int2/
    int4/int8/float4/float8/bool/numeric/uuid/text element families of the
    reference's array OIDs (``:224-293``).

    Full text-element quoting rules (the JDBC ``PgArray`` parse the
    reference delegates to, ``YbProtoColumnValue.java:312-343``): elements
    are tokenized with commas INSIDE double-quoted runs kept together,
    outer quotes stripped, backslash escapes (``\\\"``, ``\\\\``)
    unescaped. An unquoted ``NULL`` is a real NULL; a quoted ``\"NULL\"``
    is the 4-char string."""
    c = _c(col)
    body = _strip_braces(c)
    # one token per element: quoted runs (with escapes) or unquoted chars
    toks = F.regexp_extract_all(body, F.lit(r'(?:"(?:[^"\\]|\\.)*"|[^,])+'), 0)
    arr = F.when(F.trim(body) == "", F.array().cast("array<string>")).otherwise(toks)

    def clean(x):
        t = F.trim(x)
        quoted = t.rlike(r'^".*"$')
        unq = F.regexp_replace(  # strip outer quotes, then unescape \" \\
            F.regexp_replace(t, r'^"|"$', ""), r"\\(.)", "$1"
        )
        return (
            F.when(~quoted & (t == "NULL"), F.lit(None))
            .when(quoted, unq)
            .otherwise(t)
        )

    cleaned = F.transform(arr, clean)
    if element_type == "string":
        return cleaned
    return cleaned.cast(f"array<{element_type}>")


# ---------------------------------------------------------------- misc scalar
def convert_enum(col: Column | str, allowed: tuple[str, ...] | None = None) -> Column:
    """ENUM → string (reference ``ENUM_OID → string schema :211``); when the
    resolved enum's value list is known, out-of-set datums become NULL (the
    schema's allowed-values contract, ``:327-334``)."""
    c = _c(col)
    if allowed:
        return F.when(c.isin(*allowed), c)
    return c


def convert_uuid(col: Column | str) -> Column:
    """UUID → canonical lowercase string (Debezium Uuid logical type)."""
    return F.lower(_c(col))


def convert_bytea(col: Column | str, mode: str = "bytes") -> Column:
    """BYTEA wire hex ``\\x4142`` → binary / hex / base64
    (``binaryMode.getSchema() :222``)."""
    c = _c(col)
    hexpart = F.regexp_replace(c, r"^\\x", "")
    if mode == "hex":
        return F.lower(hexpart)
    raw = F.unhex(hexpart)
    if mode == "base64":
        return F.base64(raw)
    return raw


def convert_bit(col: Column | str) -> Column:
    """BIT(n<=32) wire '101' → integer (``convertBit :705-710``)."""
    return F.conv(_c(col), 2, 10).cast("int")


def convert_varbit_bytes(col: Column | str) -> Column:
    """VARBIT → little-endian padded bytes, trimmed to the bytes the set
    bits need — NOT the declared length (``convertBits :712-732``: b'101'
    in a BIT VARYING(33) ships one byte 0b00000101, not five).

    Wire strings up to 64 bits (the practical varbit width for flags)."""
    c = _c(col)
    val = F.conv(c, 2, 16)  # big-endian hex of the bit value
    nbits = F.length(F.regexp_replace(c, r"^0+", ""))  # bitset.length()
    nbytes = F.ceil(nbits / 8).cast("int")
    be = F.unhex(F.lpad(val, nbytes * 2, "0"))  # big-endian bytes
    # reverse to little-endian byte order (``be`` bound once per row)
    idx = F.sequence(nbytes.cast("int"), F.lit(1), F.lit(-1))
    le = let(
        be,
        lambda b: F.array_join(F.transform(idx, lambda i: F.hex(F.substring(b, i, 1))), ""),
    )
    return F.when(nbits == 0, F.unhex(F.lit(""))).otherwise(F.unhex(le))


def convert_point(col: Column | str) -> Column:
    """POINT wire '(x,y)' → struct<x double, y double> (Point.builder
    ``:215-216``)."""
    c = _c(col)
    return F.struct(
        F.regexp_extract(c, r"\(([^,]+),", 1).cast("double").alias("x"),
        F.regexp_extract(c, r",([^)]+)\)", 1).cast("double").alias("y"),
    )


def _hex_uint32(hexstr: Column, pos: int, little_endian: Column) -> Column:
    """Read a uint32 at 1-based char offset ``pos`` of a hex string, in
    either byte order."""
    le = F.concat(
        F.substring(hexstr, pos + 6, 2),
        F.substring(hexstr, pos + 4, 2),
        F.substring(hexstr, pos + 2, 2),
        F.substring(hexstr, pos, 2),
    )
    be = F.substring(hexstr, pos, 8)
    return F.conv(F.when(little_endian, le).otherwise(be), 16, 10).cast("long")


def convert_geometry(col: Column | str) -> Column:
    """GEOMETRY/GEOGRAPHY hex-EWKB → struct<wkb binary, srid int> — the
    Debezium geometry value shape (``convertGeometry/convertGeography
    :815-872``, ``PostgisGeometry.fromHexEwkb``): ``wkb`` keeps the raw
    EWKB bytes; ``srid`` is extracted when the EWKB type word carries the
    0x20000000 SRID flag (4 bytes after the type word, same byte order),
    NULL otherwise. Pure expressions — byte order from the leading
    01/00 marker, words read straight off the hex text."""
    c = F.upper(F.trim(_c(col)))
    le = F.substring(c, 1, 2) == "01"
    typ = _hex_uint32(c, 3, le)
    has_srid = typ.bitwiseAND(F.lit(0x20000000)) != 0
    srid = F.when(has_srid, _hex_uint32(c, 11, le).cast("int"))
    return F.when(
        c.isNotNull() & (F.length(c) >= 10),
        F.struct(F.unhex(c).alias("wkb"), srid.alias("srid")),
    )


def convert_inet(col: Column | str) -> Column:
    """INET/CIDR/MACADDR → string (reference ``:204-210``), normalized
    lowercase."""
    return F.lower(F.trim(_c(col)))


def convert_range(col: Column | str) -> Column:
    """int4range/int8range/numrange/tsrange/... → canonical string
    (reference ``:197-213`` emits range types as strings)."""
    return F.trim(_c(col))


def convert_json(col: Column | str) -> Column:
    """JSON/JSONB → string passthrough (Json.builder ``:194-196``)."""
    return _c(col)


#: dispatch table mirroring the reference's OID switch — name → converter
CONVERTERS = {
    "numeric": convert_decimal,
    "money": convert_money,
    "timestamp": convert_timestamp_micros,
    "timestamptz": convert_timestamptz_string,
    "date": convert_date_days,
    "time": convert_time_micros,
    "interval": convert_interval,
    "hstore": convert_hstore,
    "enum": convert_enum,
    "uuid": convert_uuid,
    "bytea": convert_bytea,
    "bit": convert_bit,
    "varbit": convert_varbit_bytes,
    "point": convert_point,
    "geometry": convert_geometry,
    "geography": convert_geometry,
    "inet": convert_inet,
    "cidr": convert_inet,
    "macaddr": convert_inet,
    "int4range": convert_range,
    "int8range": convert_range,
    "numrange": convert_range,
    "tsrange": convert_range,
    "tstzrange": convert_range,
    "daterange": convert_range,
    "json": convert_json,
    "jsonb": convert_json,
    "int2_array": lambda c: convert_array(c, "smallint"),
    "int4_array": lambda c: convert_array(c, "int"),
    "int8_array": lambda c: convert_array(c, "bigint"),
    "float4_array": lambda c: convert_array(c, "float"),
    "float8_array": lambda c: convert_array(c, "double"),
    "bool_array": lambda c: convert_array(c, "boolean"),
    "text_array": lambda c: convert_array(c, "string"),
    "uuid_array": lambda c: F.transform(convert_array(c, "string"), lambda x: F.lower(x)),
    "numeric_array": lambda c: convert_array(c, "decimal(38,6)"),
    "timetz": convert_timetz,
    "citext": convert_citext,
    "macaddr8": convert_inet,
    "varchar_array": lambda c: convert_array(c, "string"),
    "char_array": lambda c: convert_array(c, "string"),
    "date_array": lambda c: F.transform(convert_array(c), convert_date_days),
    "timestamptz_array": lambda c: F.transform(
        convert_array(c), convert_timestamptz_string
    ),
    "inet_array": lambda c: F.transform(convert_array(c), convert_inet),
    "json_array": lambda c: convert_array(c, "string"),
}


def typed_decode(df, specs: list[tuple[str, str]], prefix: str = ""):
    """Apply the converter table to wire columns: ``specs`` is a list of
    (column, type-name); each wire column ``<prefix><name>`` becomes a typed
    ``<name>`` column. The Spark analogue of the reference's converter
    resolution loop (``YugabyteDBValueConverter.converter :369-500``)."""
    out = df
    for name, typ in specs:
        conv = CONVERTERS[typ]
        out = out.withColumn(name, conv(F.col(f"{prefix}{name}")))
    return out
