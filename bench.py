"""Benchmark harness: times the engine's query keys at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines -- a full-detail
record (headline + extra_queries) first, then a compact FINAL line that
the driver's bounded tail capture parses (headline only; the detail
blob overflowed it in rounds 3-4):

    {"metric": "headline_total_wall", "value": <total sec>, "unit": "sec",
     "queries": {"<key>": <sec>, ...}, "sf": 0.1}

Usage:
    python bench.py              # HEADLINE, then every extra key
    python bench.py key1 key2    # only these keys, same method

``queries`` is the FROZEN 32-key headline set benchmarked since round 2 —
never add or remove keys there, so round-over-round totals stay
comparable.  Every other registered key, except the streaming keys in
``STREAMING_EXCLUDED``, is an extra: timed identically, in registration
order, but kept OUT of the headline total.  A newly registered key is
therefore timed without editing this file.  Given keys, only those run
(any registered key, streaming ones included); headline keys land under
``queries``, all others under ``extra_queries``.  An unknown key exits 2.

Method: one warm-up action to absorb JVM/codegen startup, then each query
is executed twice and the best wall time is kept (steady-state number,
immune to one-off JIT/IO noise). Queries are materialized with the noop
writer — full execution on the executors, no driver-side row transfer, so
the number measures the PLAN, not py4j serialization.  Each run's time
is construction (the key's callable: driver-side plan building, py4j
round trips, memo-building collects) plus execution; the detail line
reports the construction part of run 1 (``construct_cold``) and run 2
(``construct_warm``) for every timed key, and run 1's total for the
headline (``queries_cold``) and the extras (``extra_queries_cold``).

The headline set spans every operator family of SURVEY.md section 2
(scan/filter, aggregation, join incl. asof, window, CDC compaction,
dedup/LSH, vector search, text analytics, sessionization). Streaming keys
are excluded: their wall time is dominated by fixed micro-batch machinery
(~1-2 s constants), which at bench scale measures trigger overhead, not
operator throughput.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mysql_clickhouse_replication_spark import QUERIES, load_all  # noqa: E402
from mysql_clickhouse_replication_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "scan_projection_pushdown",
    "filter_conjunctive",
    "agg_groupby_multi",
    "agg_stats",
    "agg_percentiles",
    "join_inner_equi",
    "join_multiway",
    "join_broadcast",
    "join_asof",
    "win_ranking",
    "win_frame_rows",
    "topk_per_group",
    "cdc_apply_upsert",
    "cdc_batch_window",
    "cdc_incremental_agg",
    "cdc_scd2_history",
    "sessionize_batch",
    "dedup_exact_text",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "tpch_q5_shape",
    "tpch_q18_shape",
    "tpch_q19_shape",
    "join_skew_salted",
    "dedup_embedding",
    "sim_cosine_topk",
    "sim_ann_lsh",
    "text_tfidf_terms",
    "text_fingerprint",
    "text_quality",
    "text_pii_scrub",
]

# Deliberately NOT timed — wall time is fixed micro-batch machinery
# (~1-2 s trigger/sink constants per key at any SF), which at bench
# scale measures Structured Streaming overhead, not operator
# throughput; their per-round evidence is the correctness gate row.
# (stream_stream_join stays in EXTRA: it predates this list and its
# round-over-round comparability is worth the constant.)
STREAMING_EXCLUDED = [
    "stream_tumbling", "stream_sliding", "stream_session", "stream_dedup",
    "stream_stateful", "stream_triggers", "stream_output_modes",
    "stream_static_join", "cdc_stream_source", "cdc_sink",
    "cdc_checkpoint", "cdc_sink_idempotent", "stream_resume_incremental",
]

# Timed the same way but excluded from the headline total: every other
# registered key, in registration order. Promote nothing; comparability
# of `value` across rounds is the point.
load_all()
EXTRA = [k for k in QUERIES if k not in {*HEADLINE, *STREAMING_EXCLUDED}]

N_RUNS = 2  # keep the best (steady-state) time per query


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main(argv: list[str] | None = None) -> int:
    keys = list(dict.fromkeys(sys.argv[1:] if argv is None else argv))
    unknown = [k for k in keys if k not in QUERIES]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2
    keys = keys or HEADLINE + EXTRA

    spark = get_spark("bench")
    _materialize(QUERIES["agg_groupby_multi"](spark, SF_DIR))  # warm-up

    best: dict[str, float] = {}
    cold: dict[str, float] = {}
    construct: list[dict[str, float]] = [{} for _ in range(N_RUNS)]
    for key in keys:
        for i in range(N_RUNS):
            t0 = time.perf_counter()
            df = QUERIES[key](spark, SF_DIR)
            t1 = time.perf_counter()
            _materialize(df)
            t2 = time.perf_counter()
            construct[i][key] = round(t1 - t0, 3)
            if i == 0:
                cold[key] = round(t2 - t0, 3)
            best[key] = min(best.get(key, float("inf")), round(t2 - t0, 3))

    def split(m: dict[str, float]) -> tuple[dict[str, float], dict[str, float]]:
        return (
            {k: v for k, v in m.items() if k in HEADLINE},
            {k: v for k, v in m.items() if k not in HEADLINE},
        )

    times, extra = split(best)
    times_cold, extra_cold = split(cold)

    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    try:
        sf = float(sf_name.replace("sf", ""))
    except ValueError:
        sf = None
    # Full detail FIRST (for humans / artifacts), compact line LAST: the
    # driver tail-captures stdout and parses the final JSON line, and the
    # ~250-key extras blob overflowed its buffer in rounds 3-4
    # (BENCH_r03/r04 `parsed: null`).  The last line carries ONLY the
    # 32-key headline set -- the shape BENCH_r02 parsed fine.
    print(
        json.dumps(
            {
                "metric": "headline_total_wall_detail",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "extra_queries": extra,
                # first-run wall per extra key (r13 verdict #7): for
                # memo-backed keys (OPQ training, BPE, gram/PCA bases)
                # the best-of-2 is memo-WARM — the cold number is the
                # honest first-computation cost; for everything else
                # cold ~= best and costs nothing to record.
                "extra_queries_cold": extra_cold,
                "sf": sf,
                "queries_cold": times_cold,
                "construct_cold": construct[0],
                "construct_warm": construct[1],
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
