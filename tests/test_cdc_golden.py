"""Golden CDC tests (SURVEY.md section 5.2 item 4): a hand-written
changelog with known insert/update/delete interleavings must compact to
an exactly-known current state — the ReplacingMergeTree FINAL semantics
the reference delegates to ClickHouse, checked against literal expected
rows rather than an oracle engine."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql_clickhouse_replication_spark.plans.cdc import compact

# (op, pk, seq, value) — seq is the binlog position stand-in
CHANGELOG = [
    ("insert", 1, 1, 10.0),
    ("update", 1, 3, 11.0),   # later version wins
    ("insert", 2, 2, 20.0),
    ("delete", 2, 5, None),   # delete is the last event -> pk 2 vanishes
    ("insert", 3, 4, 30.0),
    ("delete", 3, 6, None),
    ("insert", 3, 7, 31.0),   # re-insert AFTER delete -> pk 3 lives
    ("update", 4, 9, 41.0),   # update without prior insert (late snapshot)
    ("insert", 4, 8, 40.0),
    ("insert", 5, 10, 50.0),
    ("insert", 5, 11, 50.0),  # duplicate delivery, same content new seq
]


def test_upsert_keeps_latest_version_per_pk(spark):
    df = spark.createDataFrame(CHANGELOG, "op string, pk long, seq long, value double")
    out = compact(df).select("pk", "seq", "op", "value")
    got = {r.pk: (r.seq, r.op, r.value) for r in out.collect()}
    assert got == {
        1: (3, "update", 11.0),
        2: (5, "delete", None),
        3: (7, "insert", 31.0),
        4: (9, "update", 41.0),
        5: (11, "insert", 50.0),
    }


def test_delete_apply_drops_tombstoned_pks(spark):
    df = spark.createDataFrame(CHANGELOG, "op string, pk long, seq long, value double")
    out = compact(df, drop_deletes=True).select("pk", "seq", "op", "value")
    got = {r.pk: r.value for r in out.collect()}
    # pk 2's latest event is the delete -> gone; pk 3 was re-inserted -> alive
    assert got == {1: 11.0, 3: 31.0, 4: 41.0, 5: 50.0}


def test_exact_dedup_collapses_redelivery(spark):
    df = spark.createDataFrame(CHANGELOG, "op string, pk long, seq long, value double")
    deduped = df.select("op", "pk", "value").dropDuplicates()
    # the duplicate delivery of pk 5 collapses; all other rows are unique
    assert deduped.count() == len(CHANGELOG) - 1


def test_compaction_is_idempotent(spark):
    df = spark.createDataFrame(CHANGELOG, "op string, pk long, seq long, value double")
    once = compact(df).select("pk", "seq", "op", "value")
    twice = compact(once).select("pk", "seq", "op", "value")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_checkpoint_resumes_mid_stream_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-resume: consume ONE micro-batch of the binlog replay
    (trigger once + small batchsize), stop, then resume from the same
    checkpoint with availableNow. The resumed query must pick up at the
    committed offset: the sink ends with exactly one copy of every
    changelog row — no loss, no redelivery — which is the reference's
    (log_file, log_pos) resume contract."""
    _register_binlog_source(spark)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    batch = max(1, total // 3)

    def q(trigger_kwargs):
        src = (
            spark.readStream.format("binlog_replay")
            .option("path", f"{sf_dir}/events.parquet")
            .option("batchsize", str(batch))
            .load()
        )
        qh = (
            src.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )
        qh.awaitTermination()

    q({"once": True})
    partial = spark.read.parquet(sink).count()
    assert 0 < partial < total  # genuinely interrupted mid-backlog

    # Each restart resumes at the committed offset and drains the chunk
    # the simple reader prefetched — repeated kill/resume cycles must
    # walk the backlog monotonically with no loss and no redelivery.
    resumes = 0
    while spark.read.parquet(sink).count() < total and resumes < 6:
        q({"availableNow": True})
        resumes += 1
    assert resumes >= 2  # took multiple resume cycles, each offset-exact
    out = spark.read.parquet(sink)
    assert out.count() == total  # no loss, no redelivery
    assert out.select("seq").distinct().count() == total
    # decoded payload matches the batch decode bit-for-bit
    _assert_same_rows(out, _batch_decode(spark, sf_dir))


def test_default_trigger_drains_every_batch_exactly_once(
    spark, sf_dir, tmp_path
):
    """The drain the replication loop runs: with ``batchsize``, the
    default trigger plus processAllAvailable() walks the whole binlog in
    several micro-batches (one AvailableNow run would stop after the
    first, see BinlogReplayReader) and lands every row exactly once."""
    _register_binlog_source(spark)
    sink = str(tmp_path / "sink")
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    src = (
        spark.readStream.format("binlog_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batchsize", str(max(1, total // 3)))
        .load()
    )
    qh = (
        src.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        qh.processAllAvailable()
    finally:
        qh.stop()
    batches = [p for p in qh.recentProgress if p.numInputRows > 0]
    assert len(batches) > 1, len(batches)
    assert sum(p.numInputRows for p in batches) == total
    out = spark.read.parquet(sink)
    assert out.count() == total
    assert out.select("seq").distinct().count() == total
    _assert_same_rows(out, _batch_decode(spark, sf_dir))


def _register_binlog_source(spark) -> None:
    from mysql_clickhouse_replication_spark.sources.binlog import (
        BinlogReplaySource,
    )

    try:
        spark.dataSource.register(BinlogReplaySource)
    except Exception:
        pass
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _batch_decode(spark, sf_dir):
    """The fixture's (op, pk, seq, value) changelog, decoded in batch."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
        .alias("op"),
        F.col("user_id").alias("pk"),
        F.col("event_id").alias("seq"),
        "value",
    )


def _assert_same_rows(got, want) -> None:
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_heartbeat_separates_idle_from_lagging(spark, sf_dir):
    """cdc_heartbeat's reason to exist: the idle table (t2, whose
    source writes stop for the last 40% of the range) must page
    false_stale — freshness lag says stale (> 24 h) while the shared
    heartbeat says the pipeline is healthy — and ONLY t2 may (the
    threshold sits above sparse-fixture natural gaps, below the
    ~12-day idle divergence).  The
    heartbeat lag itself is the same for every table (one replicated
    heartbeat stream) and sits in [120 s, 180 s): the 2-minute apply
    watermark plus at most one heartbeat cadence.  Divergence must
    equal freshness - heartbeat exactly (floored-seconds arithmetic,
    no re-derivation)."""
    import __spark_entry__ as e

    rows = {r.tbl: r for r in e.queries()["cdc_heartbeat"](spark, sf_dir).collect()}
    assert set(rows) == {"t0", "t1", "t2", "t3"}
    hb_lags = {r.heartbeat_lag_s for r in rows.values()}
    assert len(hb_lags) == 1  # one shared heartbeat stream
    (hb_lag,) = hb_lags
    assert 120 <= hb_lag < 180, hb_lag
    for tbl, r in rows.items():
        assert r.divergence_s == r.freshness_lag_s - r.heartbeat_lag_s
        assert r.false_stale == (1 if tbl == "t2" else 0), r
    # the idle table's divergence is ~40% of a 30-day range — days,
    # not minutes; active tables diverge by at most the stale bound
    assert rows["t2"].divergence_s > 5 * 86400
    for tbl in ("t0", "t1", "t3"):
        assert rows[tbl].divergence_s < 86400
