"""Dump formatted physical plans of the headline queries to PLANS.md.

The plan-shape CLAIMS are enforced by tests/test_plans.py; this tool
regenerates the human-readable evidence after operator changes:

    python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# key -> what to look for in the plan (rendered as commentary)
AUDIT = {
    "agg_groupby_multi": "one Exchange around partial+final HashAggregate; "
    "l_shipdate filter and 7-column ReadSchema pushed into the parquet scan",
    "join_multiway": "BroadcastHashJoin for nation/region; orders date filter "
    "in PushedFilters; fact legs shuffle on the join key",
    "join_asof": "single Exchange hashpartitioning(user_id) feeding one Sort + "
    "Window — no range subquery, no nested loop",
    "topk_per_group": "WindowGroupLimit prunes per-group rows before the rank "
    "filter",
    "topk_global": "TakeOrderedAndProject — no global sort materialization",
    "cdc_apply_upsert": "one Exchange on pk + in-partition Sort + Window "
    "row_number: ReplacingMergeTree FINAL as a single shuffle",
    "dedup_minhash": "no CartesianProduct anywhere; candidate join keyed on "
    "(band, sig) buckets",
    "sim_cosine_topk": "BroadcastNestedLoopJoin with the tiny query side "
    "broadcast — one pass over the corpus",
    "tpch_q5_shape": "three BroadcastHashJoins for supplier/nation/region; "
    "the two facts meet in one keyed shuffle join; region filter pruned "
    "before any fact row is touched",
    "dedup_ngram_jaccard": "banding join keyed on (band, sig); 48-hash "
    "agreement prune as flat-column codegen comparisons; no "
    "CartesianProduct, no Python eval anywhere in the candidate path",
    "cdc_incremental_agg": "single Window (lag pre-images) + single keyed "
    "HashAggregate — delta maintenance without state materialization",
    "join_skew_salted": "shuffle join keyed on (flag, salt): the hot key "
    "spreads over 16 reducers by construction",
    "dedup_embedding": "two-level IVF: broadcast centroid scoring, window "
    "assignment, hot-cell split via windows over one cid shuffle, candidate "
    "self-join keyed (cid, scid) — no CartesianProduct",
    "agg_heavy_hitters": "one map-combined groupBy on the key; scalar total "
    "enters via broadcast join into the support filter",
    "events_anomaly_zscore": "daily pre-aggregate shuffle + ONE frame window "
    "carrying count/sum/sum-of-squares together",
    "sim_ivf_refine": "broadcast assignment pass + partial+final HashAggregate "
    "on (cid, dim) — coordinate sums combine map-side",
    "join_bloom_prefilter": "shuffle_hash join on the filtered dim; at "
    "production size thresholds InjectRuntimeFilter adds bloom_filter_agg "
    "over the dim keys and might_contain into the fact scan (asserted with "
    "lowered thresholds in tests/test_plans.py)",
    "agg_bitmap_distinct": "bitmap_construct_agg partials per (type, shard, "
    "bucket) — bitmaps cross the shuffle, never ids; two bitmap_or_agg "
    "merge levels over bounded state",
    "scan_zorder_layout": "bucket-column predicates in PushedFilters against "
    "the z-sorted landing; scan metric shows 8.8x fewer rows than an "
    "unsorted landing (metric-asserted in tests)",
    "docs_substring_dedup": "one Arrow MapInPandas winnow pass (no per-char "
    "explode, no doc-keyed window sort), then min-owner groupBy + "
    "shingle-keyed join-back",
    "text_bm25_search": "tokenized-corpus cache feeds tf/dl/stats branches; "
    "df and corpus stats ride broadcasts; TakeOrderedAndProject top-10",
    "win_reset_running_sum": "ONE Exchange hashpartitioning(custkey) shared "
    "by both stacked windows — segment id and per-segment cumsum re-sort "
    "in place",
    "analytics_segment_migration": "both period quartiles via banded ranks: "
    "hashpartitioning(_band) windows + broadcast |bands| offsets + the "
    "NTILE closed form — no ntile, no data-sized SinglePartition window",
    "cdc_summing_merge": "LAG deltas, pk sum, and last-row state share one "
    "hashpartitioning(pk) exchange; final assembly is a pk equi-join",
    "orders_active_coverage": "both islands windows and both reducing aggs "
    "ride one hashpartitioning(o_custkey) exchange — per-key interval "
    "union with no global machinery",
    "docs_temperature_sample": "|langs|-row rate table broadcast onto the "
    "corpus scan; the only corpus-sized work is two map-combined lang aggs",
    "cdc_snapshot_overlap_resolve": "three pk-keyed compaction windows + "
    "per-table rollups; cut scalars enter via 1-row broadcasts",
    "agg_exact_median": "distributed counting selection: ONE corpus scan, "
    "one (grp,value) histogram shuffle, both Window nodes share one "
    "hashpartitioning(grp) exchange — totals from the running count, "
    "never a second table aggregation",
    "cdc_wide_row_reassemble": "expected checksum rides the fragments as a "
    "grouping key: one scan + one pk shuffle, no join back to the source",
    "multimodal_dedup": "digest computed in the scan projection; exchange "
    "input carries (md5, id, length) only — payload bytes never shuffle",
    "docs_balanced_downsample": "rank window partitioned by lang; 1-row cap "
    "enters via broadcast; exact-rank reference of the digest-threshold "
    "production sampler",
    "events_m4_downsample": "ONE map-combined HashAggregate (r10 windowless "
    "form): partial_min_by/max_by over the packed bigint order key shrink "
    "to the pixel budget map-side; zero Window, zero Sort",
    "docs_perplexity_buckets_nosort": "no language-sized sort: row_number "
    "partitions by (lang, score-bucket), the lang-partitioned window runs "
    "over the score-resolution-bounded histogram only, offsets broadcast",
    "graph_triangle_count": "degree-oriented wedge join closed by an equi "
    "probe on (b, c); pair and wedge self-joins are identical subtrees "
    "(ReusedExchange on the executed plan); degree frames broadcast",
    "events_interval_coverage": "both island windows and both reducing aggs "
    "ride ONE user_id exchange (hashpartitioning(user) satisfies the "
    "clustered requirement of the (user, island) agg); final histogram "
    "exchange is bounded",
    "docs_quality_signals_gopher": "map-only higher-order-function signals "
    "(no Generate — nothing token-row-materialized) + one lang-keyed "
    "aggregation",
    "cdc_decode_sharded": "MapInArrow decode over Range, no Exchange: "
    "transaction-aligned byte ranges packed into split-sized tasks (one "
    "below the 4 MB open cost); the header-only index walk is the only "
    "serial part",
    "events_watermark_lateness_sharded": "shard clock fully "
    "shard-partitioned (including its band-prefix combine); the single "
    "unpartitioned window is the global COMPARISON clock's |days|-row "
    "band combine — the documented cost the key quantifies against",
    "cdc_decode_multifile": "MapInArrow decode over Range, no Exchange: "
    "whole rotated binlog files packed into split-sized tasks; no index "
    "walk at all (the ROTATE chain is the index)",
    "text_bpe_merge_step": "one corpus scan into a pinned word-count "
    "frame (InMemoryRelation feeds both pair counting and "
    "re-segmentation); broadcast 1-row argmax attach; both top-10 "
    "surfaces TakeOrderedAndProject",
    "cdc_ttl_rollup": "1-row max-ts broadcast anchor "
    "(BroadcastNestedLoopJoin); expired branch ONE calendar-bounded "
    "groupBy(event_type, day) with partial_sum combine; retained branch "
    "a pure projection unioned in with no exchange",
    "embedding_gram_matrix": "one embedding-only scan, nested "
    "higher-order pair generator feeding partial HashAggregate — the "
    "per-task partial gramian; single exchange carries tasks x 2080 "
    "cells regardless of N; no Python, no join",
    "sim_pca_power_iteration": "shared memoed gram scan, then three "
    "BroadcastHashJoin matvecs over the coalesce(1) mirrored d^2 frame "
    "— iterative linear algebra with zero corpus re-reads",
    "embedding_pca_project": "direction collapsed to a 1-row broadcast "
    "array; corpus-side projection is a MAP-ONLY zip_with/aggregate dot "
    "product — the N-row path has no exchange at all",
    "docs_epoch_shuffle": "one scan x 2-element epoch Generate, "
    "map-only lattice hashing, ONE map-combined groupBy(epoch, shard) — "
    "no window, no join, no sort",
    "scan_bloom_skip_index": "per-row two-word bit contributions OR-fold "
    "in ONE map-combined groupBy(granule); needle anchor is a 1-row "
    "BroadcastNestedLoopJoin; only the probed 2 of 64 index words are "
    "ever materialized",
    "text_bpe_fertility": "LEARN + APPLY are the only two corpus scans "
    "(executed-plan scan ids asserted); broadcast 1-row merge attaches "
    "with bounded TakeOrderedAndProject argmaxes; one lang-keyed agg, "
    "no window",
    "scan_set_skip_index": "one granule-keyed aggregate with Spark's "
    "two-phase bounded distinct (<= 2 exchanges); 1-row broadcast "
    "needle anchor; no window, no Python",
    "scan_tokenbf_skip_index": "map-side distinct-token Generate; "
    "vocab-bounded needle argmin as TakeOrderedAndProject + 1-row "
    "BroadcastNestedLoopJoin; ONE granule-keyed OR-fold (two-phase "
    "doc distinct <= 3 exchanges, all vocab/granule-bounded)",
    "sim_opq_rotate": "post-checkpoint corpus pass: three fused "
    "zip_with Householder reflections + integer PQ argmins under "
    "1-row broadcasts — the corpus path is MAP-ONLY (the only "
    "exchange is the 8-row codebook collect); rotation construction "
    "ran eagerly as d-row checkpointed micro-jobs",
    "docs_epoch_shuffle_write": "write side is repartition(shard) + "
    "sortWithinPartitions — ONE hash exchange, per-task sort, no "
    "global sort; read-back audit windows per FILE (file-bounded "
    "partitions) over input_file_name/mid arrival order",
}



# Static evidence section appended after the generated plans --
# maintained here so regeneration preserves it (tests/test_plans.py
# enforces the same list).
ALLOWLIST_SECTION = """\
## Single-partition window allowlist (frame-bound math)

The registry-wide audit (tests/test_plans.py
`test_no_unaudited_single_partition_windows_anywhere`) fails any key
whose plan contains a Window *fed by* an `Exchange SinglePartition`
unless the key is listed here with its frame bound.  "Fed by" is
attributed along the Window's input spine (first Exchange below the
Window) — a 1-row scalar-aggregate exchange elsewhere in a plan is
harmless (one partial row per map partition) and no longer listed.
Each bound below is the row count that actually crosses the
single-partition exchange, with the reduction that produced it; none
depends on input data volume, so every entry survives a 100× scale-up
unchanged.

| key | rows into the single-partition window | why bounded |
| --- | --- | --- |
| `agg_histogram_quantile` | ≤ 64 | fixed 64-bucket histogram aggregated map-side first; the window walks cumulative bucket mass |
| `analytics_rfm` | 3 × |bands| + 1 ≈ 3·1000 | banded_row_number emits one (band, count) offset row per band per metric; raw users stay hash-partitioned |
| `analytics_segment_migration` | 2 × |bands| ≈ 2·1000 | same banded-rank offsets, two metric passes (r5 rewrite; asserted by test_segment_migration_banded_ranks_no_ntile) |
| `cdc_backfill_plan` | ≤ |days| | one pre-aggregated row per calendar day of backlog; window computes the cumulative chunk plan |
| `cdc_seq_coverage_ranges` | ≤ |gap ranges| | islands already collapsed by seq-diff grouping; window zips range starts/ends, two passes |
| `docs_vocab_growth` | ≤ |batches| | one vocab-count row per ingest batch (fixed batch grid); window forms the cumulative growth curve |
| `events_changepoint_cusum` | ≤ |days| | daily pre-aggregation upstream; CUSUM recursion needs the ordered daily series |
| `events_conversion_latency` | ≤ 32 | fixed 32-bin latency histogram; window walks cumulative counts for percentile cuts |
| `events_peak_concurrency` | ≤ 2 × |events per day band| offsets → |days| rows | +1/−1 sweep is banded by day; only per-band boundary offsets cross globally |
| `events_session_duration` | ≤ 24 | fixed duration-bucket histogram rows |
| `events_watermark_lateness` | ≤ |days| | banded lateness offsets: one row per day band |
| `orders_revenue_concentration` | ≤ |bands| ≈ 1000 | banded decile offsets; customer revenue rows stay hash-partitioned |
| `profile_skew` | ≤ |profiled columns| | one top-1 summary row per column |
| `sim_hybrid_rrf` | ≤ |queries| × k | per-query fused top-k, k = 10; queries are the small broadcast side by contract |

Removed from the list in round 7 (previous audit false positives —
their `Exchange SinglePartition` is a 1-row scalar-cut/global-count
aggregate, not a window input): cdc_merge_into,
cdc_partitioned_changelog_prune, cdc_row_checksum, cdc_snapshot_diff,
cdc_snapshot_increment, cdc_snapshot_overlap_resolve,
cdc_tombstone_gc, docs_dedup_pipeline, docs_shard_balance,
events_growth_accounting, events_seasonality, sim_pq_adc_search.
`text_tfidf_terms` left the list by rewrite: phase-1 ranking inside
(lang, xxhash64(term) % 64) bands, phase-2 re-rank of ≤ 5·64 = 320
candidates per lang, and no pinned broadcast of the Heaps-unbounded
doc-frequency side.
"""

ATSCALE_SECTION = """\
## At-scale hash verification (round 8)

The full registry is value-hash-compared against DuckDB at sf1 (10x the
bench fixture, ~100x the driver gate) every round:
`VERIFY_LOCAL_r8_sf1.json` — see the summary line there for the pass
count. Round 8 changes to the sweep's coverage and cost:

* `dedup_containment` left the slow list: the df-capped posting join
  (stop-shingles with df > 64 dropped on both engines, capped count on
  the surface) plus a materialized token array and a persisted posting
  list took its sf1 wall from 930 s to 63 s, hash-exact at all SFs.
* Four LSH dedup keys (`dedup_minhash`, `dedup_simhash`,
  `dedup_ngram_jaccard`, `dedup_incremental`) graduated from SKIPPED to
  hash-checked via blocked-sample scale twins
  (tools/verify_local.py::SCALE_TWINS): the unmodified brute-force
  oracle over a content-keyed doc sample is an exact oracle for the
  induced pair subgraph (pair metrics are doc-local), so sf1 now checks
  thousands of pairs per key in seconds. The remaining exclusions are
  global-output keys (clusters, funnels, corpus aggregates) where
  endpoint filtering cannot apply — listed with reasons in
  SUPERLINEAR_ORACLES.
* Remaining notable sf1 costs are oracle-side or output-bound, not
  Spark-plan problems: docs_substring_dedup 235 s total but 22.6 s
  Spark-side (the DuckDB twin re-derives the winnowing argmin with a
  100 M-row SQL window — the documented price of an exact oracle);
  fn_math / cdc_type_cast / project_compute are 80–150 s full-surface
  collects of ~1–6 M rows hashed on both engines.

The sweep (with round 6's execution-only sweep that caught
orders_backlog_aging's ANSI overflow and round 7's 2^53 decimal-sum ulp
catch) is the standing evidence that plans survive a 100x scale-up with
values, not just exit codes, intact.
"""



def main() -> int:
    import __spark_entry__ as e
    from mysql_clickhouse_replication_spark.session import get_spark

    spark = get_spark("explain_audit")
    qs = e.queries()
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by tools/explain_audit.py at {os.path.basename(SF_DIR)}; "
        "claims are enforced in tests/test_plans.py. Plans shown pre-execution "
        "(AdaptiveSparkPlan isFinalPlan=false); AQE may further coalesce "
        "partitions and switch join strategies at runtime.",
        "",
    ]
    for key, note in AUDIT.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[key](spark, SF_DIR).explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree, drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        out += [f"## {key}", "", f"*Audit: {note}*", "", "```", tree, "```", ""]
    out += ["", ALLOWLIST_SECTION, "", ATSCALE_SECTION]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
