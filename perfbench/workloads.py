"""The benchmark's workloads: ``cdc_replicate`` and ``pipeline_heavy``.

Both run in one process on ``local[4]`` with one closed-loop client: the
next operation starts when the previous one has returned.  Each run:

1. writes its seeded inputs;
2. sets up once, as a fresh process of the engine's user does: imports
   the engine package, launches the JVM and builds the session, then runs
   a warm-up action that reads no input file (``setup_s``);
3. measures: the first operation (a catch-up, or a pass over the query
   keys) runs cold and is reported on its own; then whole steady
   operations start while less than ``seconds`` has passed since the
   cold one ended, and at least a workload's minimum of them;
4. checks every operation's output against DuckDB, outside the timed
   region.

Besides ``setup_s``, the end-to-end figure is the CPU time of an
operation (``counters.CpuClock``).  The host these runs share takes
vCPUs away for stretches of ten seconds and more, and a CPU-saturated
``local[4]`` run waits for all of it; its CPU time does not.  The
wall-clock figures and the cold operation's CPU time are per-layer
metrics.

A traced run (``traced=True``) also reads job, stage, task and plan
counters, alternating traced and untraced operations so that
``trace.overhead_frac`` compares like with like, and exercises the
layers its workload does not reach (streaming for ``pipeline_heavy``,
the query registry for ``cdc_replicate``) once after the measurement, so
that every per-layer metric has a value.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from inputs import write_changelog, write_fixture
from spans import Tracer, overhead_frac

#: The ROADMAP #2 job-budget keys (sim_opq_alternate, graph_pagerank,
#: dedup_containment, docs_split_leakage_safe), plus the binlog decode
#: fanned out over executors.  More multi-job keys (analytics_rfm,
#: sim_ivfpq_search, graph_triangle_count, ...) would make the cold first
#: pass too long for a run's time budget.
PIPELINE_KEYS = [
    "sim_opq_alternate",
    "graph_pagerank",
    "dedup_containment",
    "docs_split_leakage_safe",
    "cdc_decode_sharded",
]
FIXTURE_SF = 0.001
#: The replicated log has as many events as the ``events`` fixture at
#: sf0.1, read in micro-batches of 10,000 rows: ten per steady catch-up.
#: The cold catch-up replays a separate two-micro-batch log.
CHANGELOG_EVENTS = 100_000
COLD_EVENTS = 20_000
BATCH_ROWS = 10_000
WIRE_TYPES = ["Nullable(String)", "Nullable(Int64)", "Nullable(Int64)",
              "Nullable(Float64)"]
WIRE_SCHEMA = "op string, pk long, seq long, value double"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
FINAL_ORACLE = """
SELECT CASE WHEN event_type = 'signup' THEN 'insert'
            WHEN event_type = 'error'  THEN 'delete'
            ELSE 'update' END AS op,
       user_id AS pk, event_id AS seq, value
FROM read_parquet('{path}')
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
"""


@dataclass
class Run:
    """State of one benchmark run: inputs, spans, metrics and failures."""

    data: str
    workload: str
    seed: int
    seconds: float
    traced: bool
    fault: str | None = None
    tracer: Tracer = field(default_factory=Tracer)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    spark: object = None
    #: counters.CpuClock of the session's JVM
    cpu: object = None
    counters: object = None
    #: traced actions: (ExecCounts, wall s, PlanCounts)
    exec_samples: list = field(default_factory=list)
    #: jobs fired while constructing each traced query
    construct_jobs: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)


# --------------------------------------------------------------- set-up


def setup(run: Run) -> None:
    """Import the engine, launch the JVM and build the session
    (``get_spark``), then run the warm-up action."""
    tracer = run.tracer
    with tracer.span("setup", op_id="setup") as s:
        with tracer.span("import") as imp:
            from mysql_clickhouse_replication_spark import load_all
            from mysql_clickhouse_replication_spark.session import get_spark

            load_all()
        with tracer.span("get_spark") as g:
            run.spark = get_spark(f"perfbench-{run.workload}")
        from counters import CpuClock

        run.cpu = CpuClock(run.spark.sparkContext._gateway.proc.pid)
        with tracer.span("warmup") as w:
            warmup(run)
    run.e2e["setup_s"] = (s.duration, "s", 1)
    run.layer["session.import_s"] = (imp.duration, "s", 1)
    run.layer["session.get_spark_s"] = (g.duration, "s", 1)
    run.layer["session.warmup_s"] = (w.duration, "s", 1)
    if run.traced:
        from counters import SparkCounters

        run.counters = SparkCounters(run.spark)


def warmup(run: Run) -> None:
    """Codegen, shuffle and a broadcast join on generated rows: warms the
    JVM without listing or reading any input file, so the first measured
    operation still finds the engine's memos and file listings cold."""
    from mysql_clickhouse_replication_spark.sources.binlog import BinlogReplaySource

    spark = run.spark
    spark.dataSource.register(BinlogReplaySource)
    left = spark.range(1_000_000).selectExpr("id % 997 AS k", "id AS v")
    right = spark.range(997).selectExpr("id AS k", "id * 2 AS w")
    left.join(right, "k").groupBy("k").sum("v", "w").collect()


def measure(run: Run, op, min_steady: int) -> tuple[object, list]:
    """Closed loop: ``op(i, traced)`` once cold, then steady operations
    while less than ``run.seconds`` has passed since the cold one ended,
    and at least ``min_steady`` of them.  A traced run traces the odd
    steady operations and runs at least three (traced, untraced, traced),
    so that the operations still warming up do not all fall on one side
    of ``trace.overhead_frac``.  ``op`` returns None when it failed, which
    ends the loop."""
    from counters import steal_s

    start, stolen, jit = time.perf_counter(), steal_s(), run.cpu.jit_s()
    first = op(0, run.traced)
    warm = time.perf_counter()
    steady: list = []
    if run.traced:
        min_steady = max(min_steady, 3)
    while first is not None and (
            len(steady) < min_steady
            or time.perf_counter() - warm < run.seconds):
        i = len(steady) + 1
        done = op(i, run.traced and i % 2 == 1)
        if done is None:
            break
        steady.append(done)
    from counters import peak_rss_mb

    run.layer["process.peak_rss_mb"] = (peak_rss_mb(run.spark), "MB", 1)
    run.layer["process.jit_cpu_s"] = (run.cpu.jit_s() - jit, "s", 1)
    wall, vcpus = time.perf_counter() - start, os.cpu_count()
    print(f"host steal {(steal_s() - stolen) / (vcpus * wall):.3f} of "
          f"{vcpus} vCPUs over {wall:.1f} s measured")
    return first, steady


# --------------------------------------------------------- replication


@dataclass
class Catchup:
    op_id: str
    #: the whole catch-up: replication, FINAL read and, when traced, the
    #: counter reads
    wall_s: float
    final_read_s: float
    #: CPU seconds of the process tree: replication, and replication
    #: plus the FINAL read
    replicate_cpu_s: float
    cpu_s: float
    input_rows: int
    batch_ms: list[float]
    progress: list
    sink_write_ms: list[float]
    final_rows: list[tuple]
    sink: str
    jobs_per_batch: list[int] = field(default_factory=list)


def _progress_start(p) -> float:
    """Progress timestamp (UTC ISO string) -> epoch seconds."""
    return dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


def catch_up(run: Run, log: str, op_id: str, traced: bool) -> Catchup:
    """Replicate the whole binlog of ``log`` into a fresh sink: binlog_replay
    -> foreachBatch(compact -> encode_batches -> parquet append) with a
    checkpoint, driven to the end of the log; then read the FINAL state
    (compact over the decoded landed rows)."""
    from mysql_clickhouse_replication_spark.plans.cdc import compact
    from mysql_clickhouse_replication_spark.sources.rowbinary import (
        decode_batches,
        encode_batches,
    )

    spark, tracer = run.spark, run.tracer
    sink = os.path.join(run.data, op_id, "sink")
    writes: dict[int, tuple[float, float]] = {}

    def write_batch(bdf, batch_id: int) -> None:
        t0 = time.perf_counter()
        if traced:
            bdf.sparkSession.sparkContext.setJobGroup(f"{op_id}.b{batch_id}", "sink")
        encode_batches(compact(bdf), WIRE_TYPES).write.mode("append").parquet(sink)
        writes[batch_id] = (t0, time.perf_counter())

    src = (spark.readStream.format("binlog_replay").option("path", log)
           .option("batchsize", str(BATCH_ROWS)).load())
    writer = (src.writeStream.foreachBatch(write_batch)
              .option("checkpointLocation", os.path.join(run.data, op_id, "ckpt")))
    with tracer.span("catchup", op_id=op_id) as op:
        cpu0 = run.cpu()
        with tracer.span("replicate"):
            rep_idx = tracer.current()
            if run.fault == "available-now":
                q = writer.trigger(availableNow=True).start()
                q.awaitTermination()
            else:
                q = writer.start()
                q.processAllAvailable()
                q.stop()
        replicate_cpu_s = run.cpu() - cpu0
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        # progress timestamps are wall-clock; map them onto perf_counter
        offset = time.time() - time.perf_counter()
        for p in progress:
            b0 = _progress_start(p) - offset
            b = tracer.add("batch", b0,
                           b0 + p.durationMs["triggerExecution"] / 1000,
                           rep_idx, op_id, batch=p.batchId)
            if p.batchId in writes:
                tracer.add("sink_write", *writes[p.batchId], b, op_id)
        if traced:
            run.counters.sc.setJobGroup(f"{op_id}.final", "final_read")
        with tracer.span("final_read") as fr:
            final = compact(decode_batches(spark.read.parquet(sink),
                                           WIRE_TYPES, WIRE_SCHEMA))
            rows = [tuple(r) for r in final.collect()]
        cpu_s = run.cpu() - cpu0
        op.attrs["cpu_s"] = cpu_s
        jobs_per_batch: list[int] = []
        if traced:
            c = run.counters
            jobs_per_batch = [c.group(f"{op_id}.b{p.batchId}").jobs
                              for p in progress]
            run.exec_samples.append(
                (c.group(f"{op_id}.final"), fr.duration, c.plan(final)))
    return Catchup(
        op_id=op_id, wall_s=op.duration, final_read_s=fr.duration,
        replicate_cpu_s=replicate_cpu_s, cpu_s=cpu_s,
        input_rows=sum(p.numInputRows for p in progress),
        batch_ms=[float(p.durationMs["triggerExecution"]) for p in progress],
        progress=progress,
        sink_write_ms=[(e - s) * 1000 for s, e in writes.values()],
        final_rows=rows, sink=sink, jobs_per_batch=jobs_per_batch,
    )


def record(log: str) -> tuple[str, int]:
    """Record ``log`` as binlog bytes; return the path and its row count."""
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        decode,
        record_changelog,
    )

    path = record_changelog(log)
    with open(path, "rb") as fh:
        return path, sum(1 for _ in decode(fh.read()))


def check_catchup(run: Run, c: Catchup, recorded_rows: int, log: str) -> None:
    """Landed = recorded, and FINAL = DuckDB's latest version per pk."""
    import duckdb

    from tools.verify_local import _hash_rows

    if c.input_rows != recorded_rows:
        run.fail(f"{c.op_id}: replicated {c.input_rows} of {recorded_rows} "
                 "recorded events")
        return
    con = duckdb.connect()
    try:
        expected = con.execute(FINAL_ORACLE.format(path=log)).fetchall()
    finally:
        con.close()
    cols = ["op", "pk", "seq", "value"]
    if (len(expected) != len(c.final_rows)
            or _hash_rows(cols, expected) != _hash_rows(cols, c.final_rows)):
        run.fail(f"{c.op_id}: FINAL state differs from the oracle "
                 f"({len(c.final_rows)} rows, expected {len(expected)})")


def sources_probe(run: Run, log: str) -> tuple[str, int]:
    """Record ``log`` to binlog bytes, decode them standalone and encode
    the rows to RowBinary; return (binlog path, decoded row count)."""
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        decode,
        record_changelog,
    )
    from mysql_clickhouse_replication_spark.sources.rowbinary import encode_rows

    os.remove(record_changelog(log))  # drop a recording made earlier
    with run.tracer.span("record") as rec:
        path = record_changelog(log)
    with open(path, "rb") as fh:
        buf = fh.read()
    with run.tracer.span("decode_standalone") as dec:
        rows = [r for r, _ in decode(buf)]
    with run.tracer.span("encode_standalone") as enc:
        payload = encode_rows(WIRE_TYPES, rows)
    run.layer["sources.record_s"] = (rec.duration, "s", 1)
    run.layer["sources.binlog_bytes"] = (len(buf), "bytes", 1)
    run.layer["sources.decode_rows_per_s"] = (len(rows) / dec.duration,
                                              "rows/s", 1)
    run.layer["sources.encode_rows_per_s"] = (len(rows) / enc.duration,
                                              "rows/s", 1)
    run.layer["sources.wire_bytes_per_event"] = (len(payload) / len(rows),
                                                 "bytes", 1)
    return path, len(rows)


def streaming_layers(run: Run, catchups: list[Catchup]) -> None:
    """streaming.* and plans.* from the progress reports and sink writes.
    ``durationMs`` holds whole milliseconds, so means are reported: a
    median of whole numbers repeats exactly from run to run."""
    progress = [p for c in catchups for p in c.progress]
    n = len(progress)

    def mean_ms(key: str) -> float:
        return statistics.fmean(p.durationMs.get(key, 0) for p in progress)

    run.layer["streaming.batches"] = (n, "count", 1)
    run.layer["streaming.rows_per_batch"] = (
        sum(c.input_rows for c in catchups) / n, "rows", n)
    # a simple stream reader reads the binlog in latestOffset (prefetch);
    # getBatch hands over what was read
    run.layer["streaming.source_read_ms_mean"] = (
        mean_ms("latestOffset") + mean_ms("getBatch"), "ms", n)
    for name, key in [("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                      ("commit_offsets", "commitOffsets"),
                      ("planning", "queryPlanning")]:
        run.layer[f"streaming.{name}_ms_mean"] = (mean_ms(key), "ms", n)
    writes = [w for c in catchups for w in c.sink_write_ms]
    run.layer["plans.sink_write_ms_p50"] = (statistics.median(writes), "ms",
                                            len(writes))
    jobs = [j for c in catchups for j in c.jobs_per_batch]
    run.layer["plans.sink_jobs_per_batch"] = (
        statistics.fmean(jobs) if jobs else float("nan"), "count", len(jobs))
    parts = sum(1 for c in catchups for f in os.listdir(c.sink)
                if f.endswith(".parquet"))
    run.layer["plans.parts_per_batch"] = (parts / n, "count", n)
    landed = sum(
        run.spark.read.parquet(c.sink).groupBy().sum("n_rows").collect()[0][0]
        for c in catchups)
    run.layer["plans.compaction_ratio"] = (
        landed / sum(c.input_rows for c in catchups), "ratio", len(catchups))
    reads = [c.final_read_s for c in catchups]
    run.layer["plans.final_read_s"] = (statistics.median(reads), "s", len(reads))


def cdc_replicate(run: Run) -> None:
    log = os.path.join(run.data, "changelog", "events.parquet")
    cold_log = os.path.join(run.data, "cold", "events.parquet")
    props = write_changelog(log, run.seed, CHANGELOG_EVENTS)
    write_changelog(cold_log, run.seed + 1_000_003, COLD_EVENTS)
    print("input " + " ".join(f"{k}={v}" for k, v in props.items()))
    setup(run)
    # the standalone sources.* timings are per-layer metrics: traced runs only
    if run.traced:
        binlog, recorded = sources_probe(run, log)
    else:
        binlog, recorded = record(log)
    cold_binlog, cold_recorded = record(cold_log)

    def op(i: int, traced: bool) -> Catchup | None:
        run.attempted += 1
        try:
            return catch_up(run, log if i else cold_log, f"catchup{i}", traced)
        except Exception:
            traceback.print_exc()
            run.fail(f"catchup{i} raised")
            return None

    first, steady = measure(run, op, min_steady=2)
    with run.tracer.span("check"):
        if first is not None:
            check_catchup(run, first, cold_recorded, cold_log)
        for c in steady:
            check_catchup(run, c, recorded, log)
    os.remove(binlog)
    os.remove(cold_binlog)
    if not steady:
        return

    batch_ms = [b for c in steady for b in c.batch_ms]
    active = sum(
        _progress_start(c.progress[-1]) + c.batch_ms[-1] / 1000
        - _progress_start(c.progress[0]) for c in steady)
    run.e2e["op_cpu_ms"] = (
        sum(c.replicate_cpu_s for c in steady) * 1000 / len(batch_ms), "ms",
        len(batch_ms))
    run.layer["first_pass_cpu_s"] = (first.cpu_s, "s", 1)
    run.layer["wall.op_ms"] = (statistics.median(batch_ms), "ms", len(batch_ms))
    run.layer["wall.op_ms_p90"] = (float(np.percentile(batch_ms, 90)), "ms",
                                   len(batch_ms))
    run.layer["wall.throughput_per_s"] = (
        sum(c.input_rows for c in steady) / active, "1/s", len(steady))
    run.layer["wall.first_pass_s"] = (first.wall_s, "s", 1)
    streaming_layers(run, steady)
    if run.traced:
        run.layer["trace.overhead_frac"] = (overhead_frac(
            [c.wall_s for c in steady[0::2]],
            [c.wall_s for c in steady[1::2]]), "ratio", len(steady))
        with run.tracer.span("probe"):
            registry_probe(run, os.path.dirname(log), "cdc_apply_upsert")
        exec_layers(run)


# ------------------------------------------------------------- queries


@dataclass
class Execution:
    key: str
    construct_s: float
    execute_s: float
    #: CPU seconds of the process tree while constructing and executing
    cpu_s: float
    rows: list[tuple]
    columns: list[str]


def run_query(run: Run, key: str, op_id: str, traced: bool,
              data_dir: str | None = None) -> Execution:
    """Construct ``QUERIES[key]`` and collect its rows."""
    from mysql_clickhouse_replication_spark import QUERIES

    sc, tracer = run.spark.sparkContext, run.tracer
    cpu0 = run.cpu()
    with tracer.span("query", op_id=op_id, key=key) as q:
        if traced:
            sc.setJobGroup(f"{op_id}.c", key)
        with tracer.span("construct") as c:
            df = QUERIES[key](run.spark, data_dir or run.data)
        if traced:
            sc.setJobGroup(f"{op_id}.x", key)
        with tracer.span("execute") as x:
            rows = [tuple(r) for r in df.collect()]
    cpu_s = run.cpu() - cpu0
    q.attrs["cpu_s"] = cpu_s
    if traced:
        cnt = run.counters
        run.construct_jobs.append(cnt.group(f"{op_id}.c").jobs)
        run.exec_samples.append(
            (cnt.group(f"{op_id}.x"), x.duration, cnt.plan(df)))
    return Execution(key, c.duration, x.duration, cpu_s, rows, df.columns)


def check_queries(run: Run, con, executions: list[Execution]) -> None:
    """Row count, column names and order-insensitive value hash of every
    execution against its key's DuckDB oracle (the same comparison as
    tools/verify_local.py); each oracle runs once."""
    from mysql_clickhouse_replication_spark import ORACLES
    from tools.verify_local import _hash_rows

    expected: dict[str, tuple[int, list[str], str]] = {}
    for ex in executions:
        if ex.key not in expected:
            res = con.execute(ORACLES[ex.key])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            expected[ex.key] = (len(orows), sorted(ocols),
                                _hash_rows(ocols, orows))
        n, cols, digest = expected[ex.key]
        if n != len(ex.rows) or sorted(ex.columns) != cols:
            run.fail(f"{ex.key}: {len(ex.rows)} rows {sorted(ex.columns)}, "
                     f"oracle {n} rows {cols}")
        elif _hash_rows(ex.columns, ex.rows) != digest:
            run.fail(f"{ex.key}: value hash differs from the oracle")
        elif not n:
            run.fail(f"{ex.key}: empty result checks nothing")


def registry_probe(run: Run, data_dir: str, key: str) -> None:
    """One cold and one warm execution of a registry key, for the
    registry.* and exec.* layers, both checked against its oracle."""
    import duckdb

    first = run_query(run, key, f"{key}#probe0", True, data_dir)
    warm = run_query(run, key, f"{key}#probe1", True, data_dir)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{data_dir}/events.parquet')")
    run.attempted += 2
    check_queries(run, con, [first, warm])
    con.close()
    registry_layers(run, [first], [[warm]])


def registry_layers(run: Run, first: list[Execution],
                    passes: list[list[Execution]]) -> None:
    steady = [e for p in passes for e in p]
    run.layer["registry.construct_ms_p50"] = (
        statistics.median(e.construct_s for e in steady) * 1000, "ms", len(steady))
    run.layer["registry.construct_s_pass"] = (
        statistics.median(sum(e.construct_s for e in p) for p in passes), "s",
        len(passes))
    run.layer["registry.construct_s_first"] = (
        sum(e.construct_s for e in first), "s", 1)
    run.layer["registry.construct_jobs"] = (
        sum(run.construct_jobs[:len(first)]), "count", len(first))


def exec_layers(run: Run) -> None:
    """exec.* averaged per traced query execution (or FINAL read)."""
    from counters import ExecCounts

    execs = run.exec_samples
    n = len(execs)
    tot = ExecCounts()
    for counts, _, _ in execs:
        tot += counts
    wall_ms = sum(w for _, w, _ in execs) * 1000
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    per = {
        "jobs_per_query": (tot.jobs, "count"),
        "stages_per_query": (tot.stages, "count"),
        "tasks_per_query": (tot.tasks, "count"),
        "executor_run_ms": (tot.run_ms, "ms"),
        "executor_cpu_ms": (tot.cpu_ms, "ms"),
        "shuffle_read_bytes": (tot.shuffle_read_bytes, "bytes"),
        "shuffle_write_bytes": (tot.shuffle_write_bytes, "bytes"),
        "spill_bytes": (tot.spill_bytes, "bytes"),
    }
    for name, (value, unit) in per.items():
        run.layer[f"exec.{name}"] = (value / n, unit, n)
    run.layer["exec.busy_frac"] = (tot.run_ms / (cpus * wall_ms), "ratio", n)
    for name in ("exchange", "smj", "bhj", "python"):
        run.layer[f"exec.{name}_nodes"] = (
            sum(getattr(p, name) for _, _, p in execs) / n, "count", n)
    run.layer["exec.plan_chars"] = (sum(p.chars for _, _, p in execs) / n,
                                    "count", n)


def key_geomean(passes: list[list[Execution]], value) -> float:
    """Geometric mean over the keys of each key's lowest ``value`` over
    the passes.  The geometric mean is TPC-H's power metric: the keys
    differ by 6x, and a median over five keys jumps between neighbouring
    keys.  The lowest of a key's samples is the one least disturbed by
    the host and by work left over from earlier keys."""
    per_key: dict[str, list[float]] = {}
    for p in passes:
        for e in p:
            per_key.setdefault(e.key, []).append(value(e))
    return statistics.geometric_mean(min(v) for v in per_key.values())


def pipeline_heavy(run: Run) -> None:
    import duckdb

    sizes = write_fixture(run.data, run.seed, FIXTURE_SF)
    print(f"input sf={FIXTURE_SF} "
          + " ".join(f"{k}={v}" for k, v in sizes.items()))
    setup(run)
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        record_changelog,
    )

    def op(i: int, traced: bool) -> list[Execution]:
        """One pass over the keys, in ``PIPELINE_KEYS`` order."""
        done: list[Execution] = []
        with run.tracer.span("pass", op_id=f"pass{i}"):
            for key in PIPELINE_KEYS:
                run.attempted += 1
                try:
                    done.append(run_query(run, key, f"{key}#{i}", traced))
                except Exception:
                    traceback.print_exc()
                    run.fail(f"{key} raised in pass {i}")
        if i == 0:  # exec.* describe steady executions
            run.exec_samples.clear()
        return done

    first, steady = measure(run, op, min_steady=2)
    with run.tracer.span("check"):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{run.data}/{t}.parquet')")
        check_queries(run, con, first + [e for p in steady for e in p])
        con.close()
    events = os.path.join(run.data, "events.parquet")
    os.remove(record_changelog(events))  # cdc_decode_sharded's recording

    walls = [s.duration for s in run.tracer.spans
             if s.name == "pass" and s.op_id != "pass0"]
    lat = [e.construct_s + e.execute_s for p in steady for e in p]
    run.e2e["op_cpu_ms"] = (key_geomean(steady, lambda e: e.cpu_s) * 1000,
                            "ms", len(lat))
    run.layer["first_pass_cpu_s"] = (sum(e.cpu_s for e in first), "s", 1)
    run.layer["wall.op_ms"] = (
        key_geomean(steady, lambda e: e.construct_s + e.execute_s) * 1000,
        "ms", len(lat))
    run.layer["wall.op_ms_p90"] = (float(np.percentile(lat, 90)) * 1000, "ms",
                                   len(lat))
    run.layer["wall.throughput_per_s"] = (len(lat) / sum(walls), "1/s",
                                          len(walls))
    run.layer["wall.first_pass_s"] = (
        sum(e.construct_s + e.execute_s for e in first), "s", 1)
    registry_layers(run, first, steady)
    if run.traced:
        exec_layers(run)
        run.layer["trace.overhead_frac"] = (
            overhead_frac(walls[0::2], walls[1::2]), "ratio", len(walls))
        with run.tracer.span("probe"):
            binlog, recorded = sources_probe(run, events)
            run.attempted += 1
            c = catch_up(run, events, "probe", traced=True)
            check_catchup(run, c, recorded, events)
            os.remove(binlog)
            streaming_layers(run, [c])
