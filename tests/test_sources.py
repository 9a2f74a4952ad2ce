"""Unit tests for the production connector plumbing (no live server:
option construction and validation only; the Spark-side contract twins
are the cdc_* registered keys)."""

from __future__ import annotations

import pytest

from mysql_clickhouse_replication_spark.sources.clickhouse import (
    jdbc_partitioned_options,
)


def test_parallel_snapshot_reader_options():
    opts = jdbc_partitioned_options(
        "jdbc:mysql://db:3306/shop",
        "shop.orders",
        "o_orderkey",
        lower_bound=1,
        upper_bound=6_000_000,
        num_partitions=1000,
    )
    assert opts["partitionColumn"] == "o_orderkey"
    assert opts["lowerBound"] == "1"
    assert opts["upperBound"] == "6000000"
    assert opts["numPartitions"] == "1000"
    assert opts["dbtable"] == "shop.orders"
    # everything stringly-typed: goes straight into DataFrameReader.options
    assert all(isinstance(v, str) for v in opts.values())


def test_parallel_snapshot_rejects_bad_bounds():
    with pytest.raises(ValueError):
        jdbc_partitioned_options("u", "t", "pk", 10, 1, 8)
    with pytest.raises(ValueError):
        jdbc_partitioned_options("u", "t", "pk", 1, 10, 0)


def test_events_ts_decodes_to_ltz_timestamp_for_all_fixtures(spark):
    """Fixture generations have shipped events.ts as parquet
    TIMESTAMP(NANOS) (read as raw longs under the legacy conf) and as
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).  The loader must
    normalize BOTH to TIMESTAMP (LTZ) — event operators use
    unix_micros()/watermarks, which reject NTZ — without shifting
    instants (session TZ is pinned UTC)."""
    from pyspark.sql.types import TimestampType

    from mysql_clickhouse_replication_spark.session import table

    for sf in ("sf0.001", "sf0.01"):
        df = table(spark, f"/root/testdata/{sf}", "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), sf
        # unix_micros must analyze (the exact op that broke on NTZ)
        df.selectExpr("unix_micros(ts)").limit(1).collect()


# ---------------------------------------------------------------------------
# Binlog wire-format twin (sources/binlog_wire.py): raw v4 frames in,
# RowsEvent-shaped changelog rows out — the byte layer the live
# BinLogStreamReader would otherwise provide.


def _wire_fixture_rows():
    return [
        ("insert", 1, 10, 0.5),
        ("insert", 2, 11, None),  # NULL value -> null-bitmap bit
        ("update", 1, 12, 2.25),
        ("update", None, 13, 3.5),  # NULL pk (fixture has NULL user_id)
        ("delete", 2, 14, None),
        ("insert", 3, 15, -7.125),
    ]


def test_binlog_wire_roundtrip_with_nulls():
    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    rows = _wire_fixture_rows()
    buf = w.encode_changelog(rows)
    assert buf[:4] == w.MAGIC
    decoded = [r for r, _ in w.decode(buf)]
    assert decoded == rows


def test_binlog_wire_header_layout_is_v4():
    """The 19-byte little-endian v4 header must hold: event_size at
    offset 9 and log_pos (END of event) at offset 13 — the public
    layout a real replication client parses."""
    import struct

    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    buf = w.encode_changelog(_wire_fixture_rows())
    pos = 4
    while pos < len(buf):
        size = struct.unpack_from("<I", buf, pos + 9)[0]
        log_pos = struct.unpack_from("<I", buf, pos + 13)[0]
        assert size >= 19
        assert log_pos == (pos + size) & 0xFFFFFFFF
        pos += size
    assert pos == len(buf)  # events tile the file exactly

    # first event is FORMAT_DESCRIPTION with binlog_version 4
    assert buf[4 + 4] == w.FORMAT_DESCRIPTION_EVENT
    assert struct.unpack_from("<H", buf, 4 + 19)[0] == 4


def test_binlog_wire_resume_at_every_tx_boundary():
    """Every tx_end_pos the decoder hands out must be a valid resume
    offset: decode(buf, start=tx_end) yields exactly the suffix after
    that transaction — the (resume_stream=True, log_pos) contract."""
    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    rows = _wire_fixture_rows()
    buf = w.encode_changelog(rows)
    full = list(w.decode(buf))
    boundaries = sorted({pos for _, pos in full})
    for b in boundaries:
        suffix = [r for r, _ in w.decode(buf, start=b)]
        expect = [r for r, pos in full if pos > b]
        assert suffix == expect, f"resume at {b} diverged"


def test_binlog_wire_rejects_mid_transaction_range():
    """A byte range that ends between a ROWS event and its XID must
    refuse to emit the uncommitted rows (a replication client never
    re-delivers a half transaction)."""
    import pytest as _pytest

    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    buf = w.encode_changelog(_wire_fixture_rows())
    # find the first XID event and cut just before it
    import struct

    pos, xid_at = 4, None
    while pos < len(buf):
        if buf[pos + 4] == w.XID_EVENT:
            xid_at = pos
            break
        pos += struct.unpack_from("<I", buf, pos + 9)[0]
    assert xid_at is not None
    with _pytest.raises(ValueError, match="mid-transaction"):
        list(w.decode(buf, end=xid_at))


def test_binlog_wire_mapped_empty_file_is_bad_magic(tmp_path):
    """An empty file holds no magic: ``mapped`` raises the decoder's
    "bad magic" error, not mmap's "cannot mmap an empty file"."""
    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    path = tmp_path / "empty.binlog"
    path.write_bytes(b"")
    with pytest.raises(ValueError, match="bad magic"):
        with w.mapped(str(path)):
            pass


def test_binlog_reader_waits_for_an_unfinished_transaction(sf_dir, tmp_path):
    """A live log can end inside a transaction (its ROWS event written,
    its XID not yet): the stream reader stops at the last XID, and the
    next read, once the log has grown, picks the transaction up."""
    import os
    import shutil

    from mysql_clickhouse_replication_spark.sources import binlog_wire as w
    from mysql_clickhouse_replication_spark.sources.binlog import (
        BinlogReplayReader,
    )

    events = str(tmp_path / "events.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", events)  # its own recording
    reader = BinlogReplayReader({"path": events})
    try:
        with w.mapped(reader.log) as mm:
            full = mm[:]
        bounds = w.tx_boundaries(full)
        done, cut = bounds[9], bounds[10] - 1  # inside the 11th XID event

        def swap_in(blob: bytes) -> None:
            with open(reader.log + ".swap", "wb") as fh:
                fh.write(blob)
            os.replace(reader.log + ".swap", reader.log)

        swap_in(full[:cut])
        rows, off = reader.read({"pos": len(w.MAGIC)})
        assert off == {"pos": done}
        assert list(rows) == [r for r, tx in w.decode(full) if tx <= done]
        swap_in(full)
        rows, off = reader.read(off)
        assert off == {"pos": bounds[-1]}
        assert list(rows) == [r for r, tx in w.decode(full) if tx > done]
    finally:
        os.remove(reader.log)


def test_binlog_wire_recorder_matches_batch_decode(spark, sf_dir):
    """record_changelog(events.parquet) -> decode must reproduce the
    cdc decode mapping row-for-row in seq order (the same op/pk/seq/
    value contract plans/cdc.py applies to the fixture directly)."""
    import duckdb

    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    path = f"{sf_dir}/events.parquet"
    f = w.record_changelog(path)
    with open(f, "rb") as fh:
        buf = fh.read()
    got = [r for r, _ in w.decode(buf)]
    exp = [
        tuple(r)
        for r in duckdb.connect()
        .execute(
            f"""
        SELECT CASE WHEN event_type = 'signup' THEN 'insert'
                    WHEN event_type = 'error'  THEN 'delete'
                    ELSE 'update' END,
               user_id, event_id, value
        FROM read_parquet('{path}') ORDER BY event_id"""
        )
        .fetchall()
    ]
    assert got == exp


# ---------------------------------------------------------------------------
# ClickHouse RowBinary wire twin (sources/rowbinary.py): the sink-side
# byte layer. Golden vectors are hand-computed from the public format
# spec (clickhouse.com/docs/en/interfaces/formats#rowbinary) so a codec
# bug cannot self-confirm through its own roundtrip.


def test_rowbinary_golden_scalars():
    from datetime import date, datetime, timezone

    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    assert rb.encode_value("String", "abc") == b"\x03abc"
    assert rb.encode_value("Int64", 7) == b"\x07" + b"\x00" * 7
    assert rb.encode_value("Int64", -1) == b"\xff" * 8
    assert rb.encode_value("UInt16", 513) == b"\x01\x02"
    assert rb.encode_value("Float64", 1.5) == b"\x00\x00\x00\x00\x00\x00\xf8\x3f"
    # Nullable: 0x01 = NULL (nothing follows), 0x00 = value follows
    assert rb.encode_value("Nullable(Int64)", None) == b"\x01"
    assert rb.encode_value("Nullable(Int64)", 2) == b"\x00\x02" + b"\x00" * 7
    # Date = UInt16 days since epoch: 2020-01-01 is day 18262 = 0x4756
    assert rb.encode_value("Date", date(2020, 1, 1)) == b"\x56\x47"
    # DateTime64(3) of epoch+1.5s = 1500 ms ticks
    dt = datetime(1970, 1, 1, 0, 0, 1, 500000, tzinfo=timezone.utc)
    assert rb.encode_value("DateTime64(3)", dt) == (1500).to_bytes(8, "little")
    # Array(UInt8) = varint count + elements
    assert rb.encode_value("Array(UInt8)", [1, 2, 3]) == b"\x03\x01\x02\x03"


def test_rowbinary_varint_leb128():
    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    assert rb.write_varint(0) == b"\x00"
    assert rb.write_varint(127) == b"\x7f"
    assert rb.write_varint(128) == b"\x80\x01"  # LEB128 continuation
    assert rb.write_varint(300) == b"\xac\x02"
    for n in (0, 1, 127, 128, 300, 16383, 16384, 1 << 31):
        assert rb.read_varint(rb.write_varint(n), 0) == (n, len(rb.write_varint(n)))
    # a 200-char string length takes 2 varint bytes
    s = "x" * 200
    enc = rb.encode_value("String", s)
    assert enc[:2] == b"\xc8\x01" and len(enc) == 202


def test_rowbinary_rows_roundtrip_and_strictness():
    import pytest

    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    types = ["Nullable(String)", "Nullable(Int64)", "Nullable(Float64)"]
    rows = [("insert", 1, 1.25), (None, None, None), ("update", -(2**63), 0.0)]
    buf = rb.encode_rows(types, rows)
    assert list(rb.decode_rows(types, buf)) == rows
    # truncated payload / trailing garbage must raise, never half-apply
    with pytest.raises(ValueError):
        list(rb.decode_rows(types, buf[:-1]))
    with pytest.raises(ValueError):
        list(rb.decode_rows(types, buf + b"\x02"))
    with pytest.raises(ValueError):
        rb.encode_value("Int64", None)  # NULL into non-Nullable


def test_rowbinary_spark_schema_mapping(spark):
    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    df = spark.createDataFrame(
        [("a", 1, 1.0)], "op string, pk long, value double"
    )
    assert rb.wire_types_for(df.schema) == [
        "Nullable(String)", "Nullable(Int64)", "Nullable(Float64)",
    ]


def test_rowbinary_binary_roundtrip_non_utf8():
    """Spark binary -> ClickHouse String must roundtrip arbitrary bytes:
    decode with bytes_cols returns raw bytes instead of utf-8 text
    (ADVICE r7: the utf-8-only decode made the advertised binary
    mapping asymmetric)."""
    import pytest

    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    blob = b"\xff\xfe\x00\x80ascii-tail"
    types = ["Nullable(String)", "Nullable(String)", "Nullable(Int64)"]
    rows = [("text", blob, 7), (None, b"\x00" * 3, None)]
    buf = rb.encode_rows(types, rows)
    # column 1 is a Spark binary column: decode it as raw bytes
    out = list(rb.decode_rows(types, buf, bytes_cols=frozenset({1})))
    assert out == rows
    # without the flag the non-UTF-8 payload is a decode error (the
    # pre-fix behavior, now opt-out instead of silent corruption)
    with pytest.raises(UnicodeDecodeError):
        list(rb.decode_rows(types, buf))
    # the flag threads through Array wrappers too
    abuf = rb.encode_value("Array(String)", [b"\xff", b"ok"])
    assert rb.decode_value("Array(String)", abuf, 0, as_bytes=True)[0] == [
        b"\xff", b"ok",
    ]


def test_rowbinary_decode_batches_parameterized_schema(spark):
    """decode_batches parses the output schema with Spark's DDL parser
    (commas inside decimal(10,2) were a split(',') hazard) and derives
    Arrow types from the Spark fields, including date/timestamp/binary
    (ADVICE r7)."""
    import datetime

    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    types = [
        "Nullable(String)", "Nullable(Int64)", "Nullable(Float64)",
        "Nullable(Date32)", "Nullable(DateTime64(6))", "Nullable(String)",
    ]
    rows = [
        (
            "a", 10**15 + 7, 1.5,
            datetime.date(2024, 2, 29),
            datetime.datetime(2024, 2, 29, 12, 30, 45, 123456),
            b"\xff\x00bin",
        ),
        (None, None, None, None, None, None),
    ]
    payload = rb.encode_rows(types, rows)
    pdf = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    out = rb.decode_batches(
        pdf, types,
        "op string, pk long, v double, d date, ts timestamp, raw binary",
    )
    got = {tuple(r) for r in out.collect()}
    assert (None,) * 6 in got
    (full,) = [r for r in got if r[0] == "a"]
    assert full[1] == 10**15 + 7 and full[2] == 1.5
    assert full[3] == datetime.date(2024, 2, 29)
    assert full[4].replace(tzinfo=None) == datetime.datetime(
        2024, 2, 29, 12, 30, 45, 123456
    )
    assert bytes(full[5]) == b"\xff\x00bin"


def test_post_rowbinary_http_validates_before_any_request(spark):
    """Identifier injection and non-HTTP endpoints are rejected eagerly
    (ADVICE r7: the table name was interpolated unescaped into the
    INSERT query string)."""
    import pytest

    from mysql_clickhouse_replication_spark.sources import clickhouse as ch

    df = spark.createDataFrame([("a", 1, 1.0)], "op string, pk long, v double")
    with pytest.raises(ValueError, match="identifier"):
        ch.post_rowbinary_http(df, "http://localhost:8123", "t; DROP TABLE x")
    with pytest.raises(ValueError, match="identifier"):
        ch.post_rowbinary_http(
            df, "http://localhost:8123", "db.t FORMAT Values"
        )
    with pytest.raises(ValueError, match="endpoint"):
        ch.post_rowbinary_http(df, "clickhouse://host:9000", "db.t")
    with pytest.raises(ValueError, match="timeout"):
        ch.post_rowbinary_http(
            df, "http://localhost:8123", "db.t", timeout=0
        )
    # plain and dot-qualified identifiers pass validation (the call then
    # fails only at connection time, which we don't attempt here)
    assert ch._CH_IDENT.match("events_sink")
    assert ch._CH_IDENT.match("analytics.events_sink")
    assert not ch._CH_IDENT.match("a.b.c")


def test_tx_boundaries_header_walk_matches_decoder(sf_dir):
    """tx_boundaries (the sharded-decode index) must return EXACTLY the
    post-XID offsets the full decoder emits as resume points, and every
    shard cut at those offsets must decode to the same multiset of rows
    as one serial pass — the invariant cdc_decode_sharded rests on."""
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        MAGIC,
        decode,
        record_changelog,
        tx_boundaries,
    )

    path = record_changelog(f"{sf_dir}/events.parquet")
    with open(path, "rb") as fh:
        buf = fh.read()
    bounds = tx_boundaries(buf)
    decoder_bounds = sorted({tx for _, tx in decode(buf)})
    assert bounds == decoder_bounds
    assert len(bounds) >= 4  # enough transactions to shard meaningfully

    serial = sorted(r for r, _ in decode(buf))
    cuts = [len(MAGIC), *bounds]
    mid = len(cuts) // 2
    sharded = sorted(
        r
        for lo, hi in [(cuts[0], cuts[mid]), (cuts[mid], cuts[-1])]
        for r, _ in decode(buf, lo, hi)
    )
    assert sharded == serial
