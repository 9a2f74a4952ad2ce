"""Replication and query benchmark for the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_replicate --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/METRICS.md`` for every metric and what should
move it):

* ``cdc_replicate`` -- the paper's replication loop as a closed-loop
  catch-up: binlog bytes -> ``binlog_replay`` stream -> foreachBatch
  (``compact`` -> ``encode_batches`` -> parquet append) -> FINAL read.
* ``pipeline_heavy`` -- multi-job LLM-pipeline, graph and CDC-backfill
  query keys, a cold first pass then steady passes.

Human-readable lines come first, every metric with its unit and sample
count; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  A run
whose outputs fail a check prints ``"correct": false`` and exits with
code 1.  ``--fault available-now`` replicates with
``Trigger.AvailableNow`` instead of ``processAllAvailable()``: the stream
stops after one micro-batch, and the check must report the run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("cdc_replicate", "pipeline_heavy")
PACKAGE = os.path.join(ROOT, "mysql_clickhouse_replication_spark", "__init__.py")
HASHING = os.path.join(ROOT, "tools", "verify_local.py")


def _configure_env(data: str) -> None:
    """Engine settings for the benchmark: local[4], 4 shuffle partitions,
    a 2 GB driver heap, a fixed set of JIT compiler threads, the checkout
    on the Python path of Spark's Python workers, and every scratch and
    temporary file inside the checkout."""
    tmp = os.path.join(data, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(data, "spark-local")
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM would otherwise write its perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a fixed set of JIT compiler threads, whose CPU time counters.CpuClock
    # leaves out
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options '-XX:-UsePerfData "
        f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _shutdown(spark) -> None:
    """Stop the SparkContext, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _print_metrics(title: str, metrics: dict) -> None:
    print(f"-- {title}")
    for name, (value, unit, n) in metrics.items():
        print(f"{name:34s} {value:14.4f} {unit:8s} n={n}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("available-now",))
    args = ap.parse_args(argv)

    missing = [p for p in (PACKAGE, HASHING) if not os.path.isfile(p)]
    if missing:
        print("perfbench: not a checkout of the engine, missing "
              + ", ".join(os.path.relpath(p, ROOT) for p in missing),
              file=sys.stderr)
        return 2

    data = os.path.join(ROOT, ".bench_data",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(data)
    import workloads

    run = workloads.Run(data, args.workload, args.seed, args.seconds,
                        bool(args.trace), args.fault)
    try:
        getattr(workloads, args.workload)(run)
    finally:
        if run.spark is not None:
            _shutdown(run.spark)
        shutil.rmtree(run.data, ignore_errors=True)

    frac = run.failed / max(run.attempted, 1)
    run.layer["check.failed_frac"] = (frac, "ratio", run.attempted)
    _print_metrics(f"{args.workload} seed={args.seed} end-to-end", run.e2e)
    _print_metrics("per-layer" + ("" if run.traced else " (untraced run: "
                                  "the traced run reports every one)"),
                   dict(sorted(run.layer.items())))
    if run.traced:
        print("-- self time by span (s)")
        for name, t in sorted(run.tracer.self_times().items()):
            print(f"{name:34s} {t:14.4f}")
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    spans = os.path.join(
        out, f"{args.workload}-{args.seed}-trace{args.trace}.spans.jsonl")
    run.tracer.write(spans)
    print(f"spans written to {os.path.relpath(spans, ROOT)}")
    print(f"run wall {time.perf_counter() - T0:.1f} s")
    print(f"failed_frac {frac:.4f} ({run.failed} of {run.attempted})")
    chosen = run.layer if run.traced else run.e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in chosen.items()},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
