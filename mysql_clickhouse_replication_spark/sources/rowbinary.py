"""ClickHouse RowBinary wire-format twin: encode/decode insert payloads.

Reference parity (SURVEY.md section 3.1): the reference's sink half
buffers decoded rows and ships them to ClickHouse as a bulk INSERT —
over the native TCP protocol via clickhouse-driver, or over HTTP as
``INSERT INTO t FORMAT RowBinary`` with the serialized rows as the POST
body.  sources/binlog_wire.py closed the SOURCE side's byte layer in
round 7; this module closes the SINK side the same way: a faithful
byte-level implementation of the documented public RowBinary format
(clickhouse.com/docs/en/interfaces/formats — RowBinary), so the
offline sink exercises the exact bytes a production POST body carries,
and a deploy swaps only the transport
(``sources/clickhouse.py::post_rowbinary_http``), not the
serialization.

Format facts used (all from the public spec):

* rows are concatenated back-to-back, no delimiters or row headers;
* fixed-width numerics are little-endian: Int8..Int64 / UInt8..UInt64
  two's complement, Float32/Float64 IEEE-754;
* String is a LEB128 varint byte-length followed by the raw bytes;
* Nullable(T) prepends one flag byte per value: 0x01 = NULL (no value
  bytes follow), 0x00 = the T value follows;
* Date is UInt16 days since 1970-01-01; Date32 is Int32 days;
  DateTime is UInt32 epoch seconds; DateTime64(p) is Int64 ticks of
  10^-p s (stored unscaled as the integer tick count);
* Array(T) is a LEB128 varint element count followed by the elements.

Scale note: encoding runs on the EXECUTORS — each Arrow batch of a
(micro-)batch becomes one payload (the insert-buffer flush unit, i.e.
one HTTP POST / one MergeTree part), so a 1000-executor cluster
serializes and ships in parallel and the driver never sees row data.
Within a batch the byte walk is sequential per row by necessity (the
format is a concatenation of variable-length rows), exactly like every
production RowBinary writer; the parallel unit is the batch, and
batches-per-insert is the documented many-small-parts tradeoff
(sources/clickhouse.py::write_clickhouse_jdbc's batchsize note).
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator
from datetime import date, datetime, timedelta, timezone

_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1, tzinfo=timezone.utc)

_FIXED = {
    "Int8": struct.Struct("<b"),
    "Int16": struct.Struct("<h"),
    "Int32": struct.Struct("<i"),
    "Int64": struct.Struct("<q"),
    "UInt8": struct.Struct("<B"),
    "UInt16": struct.Struct("<H"),
    "UInt32": struct.Struct("<I"),
    "UInt64": struct.Struct("<Q"),
    "Float32": struct.Struct("<f"),
    "Float64": struct.Struct("<d"),
}


def write_varint(n: int) -> bytes:
    """Unsigned LEB128 — the length/count encoding of the format."""
    if n < 0:
        raise ValueError(f"varint must be non-negative, got {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def _split_type(ch_type: str) -> tuple[str, str]:
    """('Nullable', inner) / ('Array', inner) / ('DateTime64', precision)
    / (scalar, '')."""
    if ch_type.endswith(")"):
        head, _, inner = ch_type.partition("(")
        return head, inner[:-1]
    return ch_type, ""


def encode_value(ch_type: str, v) -> bytes:
    """One value of ``ch_type`` -> its RowBinary bytes."""
    head, inner = _split_type(ch_type)
    if head == "Nullable":
        if v is None:
            return b"\x01"
        return b"\x00" + encode_value(inner, v)
    if v is None:
        raise ValueError(f"NULL for non-Nullable {ch_type}")
    if head in _FIXED:
        return _FIXED[head].pack(v)
    if head == "String":
        raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        return write_varint(len(raw)) + raw
    if head == "Date":
        return _FIXED["UInt16"].pack((v - _EPOCH_DATE).days)
    if head == "Date32":
        return _FIXED["Int32"].pack((v - _EPOCH_DATE).days)
    if head == "DateTime":
        return _FIXED["UInt32"].pack(int(_to_utc(v).timestamp()))
    if head == "DateTime64":
        p = int(inner.split(",")[0])
        delta = _to_utc(v) - _EPOCH_DT
        ticks = (delta.days * 86_400_000_000 + delta.seconds * 1_000_000
                 + delta.microseconds)  # exact integer micros
        return _FIXED["Int64"].pack(_rescale(ticks, 6, p))
    if head == "Array":
        return write_varint(len(v)) + b"".join(
            encode_value(inner, x) for x in v
        )
    raise ValueError(f"unsupported ClickHouse type: {ch_type}")


def _rescale(ticks: int, from_p: int, to_p: int) -> int:
    if to_p == from_p:
        return ticks
    if to_p > from_p:
        return ticks * 10 ** (to_p - from_p)
    return ticks // 10 ** (from_p - to_p)


def _to_utc(v: datetime) -> datetime:
    return v.replace(tzinfo=timezone.utc) if v.tzinfo is None else v


def decode_value(
    ch_type: str, buf: bytes, pos: int, *, as_bytes: bool = False
) -> tuple[object, int]:
    """RowBinary bytes at ``pos`` -> (python value, next pos).

    ``as_bytes=True`` returns String payloads as raw ``bytes`` instead
    of utf-8-decoding them — ClickHouse String is an arbitrary byte
    string, so this is the inverse of encoding a Spark ``binary``
    column (which encode_value accepts as-is); without it non-UTF-8
    binary values encode fine but fail to decode.  The flag threads
    through Nullable/Array wrappers."""
    head, inner = _split_type(ch_type)
    if head == "Nullable":
        if pos >= len(buf):
            raise ValueError("truncated Nullable flag")
        flag = buf[pos]
        pos += 1
        if flag == 1:
            return None, pos
        if flag != 0:
            raise ValueError(f"bad Nullable flag {flag:#x} at {pos - 1}")
        return decode_value(inner, buf, pos, as_bytes=as_bytes)
    if head in _FIXED:
        st = _FIXED[head]
        if pos + st.size > len(buf):
            raise ValueError(f"truncated {head} at {pos}")
        return st.unpack_from(buf, pos)[0], pos + st.size
    if head == "String":
        n, pos = read_varint(buf, pos)
        if pos + n > len(buf):
            raise ValueError(f"truncated String at {pos}")
        raw = buf[pos:pos + n]
        return (bytes(raw) if as_bytes else raw.decode("utf-8")), pos + n
    if head == "Date":
        d, pos = decode_value("UInt16", buf, pos)
        return _EPOCH_DATE + timedelta(days=d), pos
    if head == "Date32":
        d, pos = decode_value("Int32", buf, pos)
        return _EPOCH_DATE + timedelta(days=d), pos
    if head == "DateTime":
        s, pos = decode_value("UInt32", buf, pos)
        return _EPOCH_DT + timedelta(seconds=s), pos
    if head == "DateTime64":
        p = int(inner.split(",")[0])
        t, pos = decode_value("Int64", buf, pos)
        return _EPOCH_DT + timedelta(microseconds=_rescale(t, p, 6)), pos
    if head == "Array":
        n, pos = read_varint(buf, pos)
        out = []
        for _ in range(n):
            v, pos = decode_value(inner, buf, pos, as_bytes=as_bytes)
            out.append(v)
        return out, pos
    raise ValueError(f"unsupported ClickHouse type: {ch_type}")


def encode_rows(types: list[str], rows: Iterable[tuple]) -> bytes:
    """Rows -> one RowBinary payload (the POST body of a single
    ``INSERT INTO t FORMAT RowBinary``)."""
    out = bytearray()
    for row in rows:
        for ch_type, v in zip(types, row):
            out += encode_value(ch_type, v)
    return bytes(out)


def decode_rows(
    types: list[str],
    buf: bytes,
    bytes_cols: frozenset[int] = frozenset(),
) -> Iterator[tuple]:
    """One RowBinary payload -> rows.  Raises on trailing garbage or a
    truncated row — a half-written payload must never half-apply.

    ``bytes_cols`` holds the column positions whose String payloads are
    returned as raw ``bytes`` (Spark ``binary`` columns) instead of
    utf-8 text — see decode_value's ``as_bytes``."""
    pos = 0
    while pos < len(buf):
        row = []
        for i, ch_type in enumerate(types):
            v, pos = decode_value(ch_type, buf, pos, as_bytes=i in bytes_cols)
            row.append(v)
        yield tuple(row)


#: Spark SQL type -> ClickHouse wire type for the auto-mapped encoder
#: (mirror of clickhouse.py's MYSQL_TO_CLICKHOUSE DDL table, but for the
#: insert path; nullability is added per-field from the Spark schema).
SPARK_TO_CLICKHOUSE = {
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "bigint": "Int64",
    "float": "Float32",
    "double": "Float64",
    "string": "String",
    "date": "Date32",
    "timestamp": "DateTime64(6)",
    "binary": "String",
}


def wire_types_for(df_schema) -> list[str]:
    """Derive the ClickHouse wire type list from a Spark schema."""
    out = []
    for f in df_schema.fields:
        base = SPARK_TO_CLICKHOUSE.get(f.dataType.simpleString())
        if base is None:
            raise ValueError(
                f"no RowBinary mapping for Spark type {f.dataType.simpleString()}"
            )
        out.append(f"Nullable({base})" if f.nullable else base)
    return out


def encode_batches(df, types: list[str]):
    """DataFrame -> DataFrame[payload BINARY, n_rows BIGINT]: one payload
    row per Arrow batch (the insert-buffer flush unit — one POST body /
    one MergeTree part each).  Runs on the executors via mapInArrow —
    NOT mapInPandas, because pandas widens nullable int64 to float64,
    which is lossy above 2^53 exactly where pk/checksum surfaces live;
    Arrow keeps exact ints plus a validity bitmap.
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is the batchsize
    knob, the same many-small-parts tradeoff as the JDBC writer's."""

    def _encode(batches):
        import pyarrow as pa

        for batch in batches:
            cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
            payload = encode_rows(types, zip(*cols))
            yield pa.RecordBatch.from_pydict(
                {"payload": [payload], "n_rows": [batch.num_rows]},
                schema=pa.schema(
                    [("payload", pa.binary()), ("n_rows", pa.int64())]
                ),
            )

    return df.mapInArrow(_encode, schema="payload binary, n_rows long")


def decode_batches(payloads, types: list[str], schema):
    """DataFrame[payload BINARY, ...] -> decoded rows (executor-side,
    one decode per payload row, exact via Arrow).  ``schema`` is the
    Spark output schema matching ``types`` positionally — a
    ``StructType`` or a DDL string (parsed by Spark's own DDL parser,
    so parameterized types like ``decimal(10,2)`` are fine).  Arrow
    output types are derived from the Spark fields via pyspark's
    Spark->Arrow conversion table; ``binary`` fields decode to raw
    bytes (decode_rows' ``bytes_cols``)."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import BinaryType, StructType

    struct = (
        schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    )
    if len(struct.fields) != len(types):
        raise ValueError(
            f"schema has {len(struct.fields)} fields for {len(types)} wire types"
        )
    names = [f.name for f in struct.fields]
    arrow_types = [to_arrow_type(f.dataType) for f in struct.fields]
    bytes_cols = frozenset(
        i for i, f in enumerate(struct.fields)
        if isinstance(f.dataType, BinaryType)
    )

    def _decode(batches):
        import pyarrow as pa

        pa_schema = pa.schema(list(zip(names, arrow_types)))
        for batch in batches:
            pay_idx = batch.schema.get_field_index("payload")
            rows = [
                row
                for payload in batch.column(pay_idx).to_pylist()
                for row in decode_rows(types, bytes(payload), bytes_cols)
            ]
            cols = list(zip(*rows)) if rows else [[] for _ in names]
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, pa_schema)],
                schema=pa_schema,
            )

    return payloads.mapInArrow(_decode, schema=struct)
