"""Custom streaming source: binlog-tail stand-in via the Python Data
Source API (SURVEY.md section 2.A cdc_stream_source, section 4.3).

Reference parity: the reference tails the MySQL binlog with
python-mysql-replication's BinLogStreamReader(blocking=True,
resume_stream=True, log_file/log_pos) and decodes RowsEvents ([P:high],
SURVEY.md section 3.1). Spark has no binlog source, so this is the one
genuinely custom source in the engine: a ``DataSource`` +
``SimpleDataSourceStreamReader`` whose offset plays the role of the
binlog (log_file, log_pos) coordinate — monotonically increasing,
checkpointable by the engine, replayable between offsets (exactly the
resume contract BinLogStreamReader exposes).

Since round 7 the reader consumes RAW BINLOG BYTES, not the parquet
fixture: sources/binlog_wire.py records the events fixture once as a
binlog-v4 byte file (the recorder is the offline stand-in for the
server socket), and read()/readBetweenOffsets() run the real byte
decoder over it.  Offsets are BYTE positions at transaction (XID)
boundaries — the actual log_pos coordinate a replication client
persists — so a production swap replaces only the mapped file
(binlog_wire.mapped) with the socket tail; the decode path and the
offset/commit machinery are already the real thing.  Every read maps
the log anew, so bytes appended between triggers are read by the next
one, and a transaction whose XID is not written yet waits for a later
trigger, as BinLogStreamReader(blocking=True) follows a growing log.

Scale note: SimpleDataSourceStreamReader reads on the driver — correct
for a binlog (a binlog IS a single serial stream; MySQL offers no
parallel tail), and the decoded rows fan out to executors immediately
after ingestion.  The batch decode keys read the same bytes the same
way, in parallel tasks (plans/cdc.py::decode_ranges).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .binlog_wire import MAGIC, decode, mapped, record_changelog


class BinlogReplaySource(DataSource):
    """spark.readStream.format("binlog_replay").option("path", ...)"""

    @classmethod
    def name(cls) -> str:
        return "binlog_replay"

    def schema(self) -> str:
        return "op string, pk bigint, seq bigint, value double"

    def simpleStreamReader(self, schema):  # noqa: ARG002 - fixed schema
        return BinlogReplayReader(self.options)


class BinlogReplayReader(SimpleDataSourceStreamReader):
    """Offset = {"pos": <byte log_pos>} — a post-XID event boundary.

    ``batchsize`` (rows) bounds one micro-batch: read() decodes whole
    transactions until at least that many rows have accumulated, then
    cuts at the transaction boundary (a binlog client never commits a
    resume offset inside a transaction).

    Drain contract: with ``batchsize``, one ``Trigger.AvailableNow`` run
    drains ONE batch, not the backlog.  Spark asks a simple reader for
    its ``latestOffset`` once when an AvailableNow run starts, and
    pyspark's ``_SimpleStreamReaderWrapper.latestOffset`` answers with a
    single ``read()`` — so the run ends at the first batch's end offset.
    To drain the log, run the default trigger with
    ``processAllAvailable()`` (every trigger reads one more batch), or
    restart the AvailableNow query once per batch from its checkpoint.
    """

    def __init__(self, options) -> None:
        self.log = record_changelog(options.get("path"))
        self.batch = int(options.get("batchsize", str(1 << 40)))

    def initialOffset(self) -> dict:
        return {"pos": len(MAGIC)}

    def read(self, start: dict):
        rows: list[tuple] = []
        pos = start["pos"]
        with mapped(self.log) as mm:
            for row, tx_end in decode(mm, start=pos):
                if len(rows) >= self.batch and tx_end > pos:
                    break
                rows.append(row)
                pos = tx_end
        if not rows:
            return iter(()), start
        return iter(rows), {"pos": pos}

    def readBetweenOffsets(self, start: dict, end: dict):
        with mapped(self.log) as mm:
            yield from (r for r, _ in decode(mm, start["pos"], end["pos"]))
