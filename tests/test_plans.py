"""Physical-plan shape assertions (SURVEY.md section 4.2; VERDICT round-1
item 9): the scale claims in operator docstrings — pushdown, pruning,
broadcast, top-k specialization — asserted against explain() output, so a
regression that silently degrades the 100 TB plan fails the suite."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as e


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = e.queries()

    def get(key: str, mode: str = "formatted") -> str:
        return _plan(qs[key](spark, sf_dir), mode)

    return get


def test_partition_filter_pushed_to_scan(plans):
    p = plans("scan_partition_filter")
    assert "PushedFilters: [" in p
    # the predicate must reach the parquet reader, not sit in a Filter only
    assert "IsNotNull(o_orderdate)" in p or "GreaterThan" in p or "LessThan" in p


def test_projection_pruned_to_read_schema(plans):
    p = plans("scan_projection_pushdown")
    # only the projected columns are read from parquet
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read, p
    assert "l_orderkey" in read[0]
    assert "l_comment" not in read[0]
    assert read[0].count("struct<") == 1 and read[0].count(",") <= 3


def test_topk_global_uses_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("topk_global")


def test_topk_per_group_uses_window_group_limit(plans):
    assert "WindowGroupLimit" in plans("topk_per_group")


def test_dim_joins_are_broadcast(plans):
    p = plans("join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_multiway_star_broadcasts_dims_and_pushes_date_filter(plans):
    p = plans("join_multiway")
    assert "BroadcastHashJoin" in p  # nation/region legs
    assert "PushedFilters: [" in p and "o_orderdate" in p


def test_theta_join_broadcasts_literal_dim(plans):
    p = plans("join_theta_range")
    assert "BroadcastNestedLoopJoin" in p  # inherent to non-equi predicates
    assert "CartesianProduct" not in p


def test_q1_flagship_is_single_shuffle_partial_agg(plans):
    p = plans("agg_groupby_multi", "simple")
    # partial + final hash aggregate around exactly one exchange
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("HashAggregate") >= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p


def test_minhash_has_no_cartesian(plans):
    p = plans("dedup_minhash")
    assert "CartesianProduct" not in p


def test_dedup_embedding_cell_join_no_cartesian(plans):
    # two-level IVF (hot-cell split) candidate join must stay an equi
    # join on (cid, scid) — never a Cartesian pair enumeration
    p = plans("dedup_embedding")
    assert "CartesianProduct" not in p


def test_cosine_topk_broadcasts_queries(plans):
    p = plans("sim_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_no_python_row_udfs_in_relational_plans(plans):
    # BatchEvalPython = row-at-a-time Python UDF — banned from the hot path
    for key in ("agg_groupby_multi", "join_multiway", "win_frame_rows",
                "cdc_apply_upsert", "sim_cosine_topk", "text_tfidf_terms"):
        assert "BatchEvalPython" not in plans(key), key


def test_q5_star_broadcasts_all_dims(plans):
    p = plans("tpch_q5_shape")
    # supplier/nation/region ride broadcast joins; the two facts meet in
    # a shuffle join (either sort-merge or shuffled-hash, planner's pick)
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_q18_semi_join_prunes_before_wide_join(plans):
    p = plans("tpch_q18_shape")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_q19_disjunction_pushes_single_sided_bounds(plans):
    p = plans("tpch_q19_shape")
    # Catalyst must derive the per-side implications of the OR and push
    # them into both scans
    assert "PushedFilters: [" in p
    assert "BroadcastHashJoin" in p


def test_ngram_jaccard_sig_prune_stays_jvm_side(plans):
    p = plans("dedup_ngram_jaccard")
    # stages 1-2 (banding + 48-hash agreement) are codegen joins — the
    # only acceptable Python would be none at all
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_simhash_band_join_no_cartesian(plans):
    p = plans("dedup_simhash")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_skew_salted_join_is_shuffle_on_composite_key(plans):
    p = plans("join_skew_salted")
    assert "CartesianProduct" not in p


def test_incremental_agg_single_window_single_agg(plans):
    p = plans("cdc_incremental_agg", "simple")
    assert p.count("Window") == 1
    assert "BatchEvalPython" not in p


def test_pii_scrub_is_zero_shuffle(plans):
    p = plans("text_pii_scrub", "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_bucketed_join_has_no_join_exchange(plans):
    p = plans("join_bucketed_colocated")
    assert "SortMergeJoin" in p
    # the ONLY shuffle exchange is the final aggregation's — both join
    # legs read co-located buckets directly (SelectedBucketsCount in
    # scans). Formatted explain prints each node twice (tree + detail),
    # so count unique "(n) Exchange" detail headers.
    import re

    shuffle_exchanges = re.findall(r"^\(\d+\) Exchange\s*$", p, re.MULTILINE)
    assert len(shuffle_exchanges) <= 1, p
    assert "SelectedBucketsCount" in p


def test_heavy_hitters_single_data_shuffle(plans):
    # one partial+final agg on the key; the total joins in as a broadcast
    # scalar, never a second scan-sized shuffle
    p = plans("agg_heavy_hitters")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_top_paths_stays_jvm_and_bounded(plans):
    p = plans("events_top_paths")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_anomaly_zscore_single_window(plans):
    # daily pre-agg shuffle + one frame window; power sums share the frame
    p = plans("events_anomaly_zscore", "simple")
    assert p.count("Window") == 1
    assert "BatchEvalPython" not in p


def test_ivf_refine_partial_aggregates(plans):
    # the (cid, dim) mean must partial-aggregate map-side (HashAggregate
    # below and above one exchange), not ship raw coordinates
    p = plans("sim_ivf_refine", "simple")
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p


def test_range_bucketed_join_is_hash_not_nested_loop(plans):
    # the whole point vs join_interval_overlap: the bucket equi-key turns
    # the range join into a hash join — no nested-loop pair enumeration
    p = plans("join_range_bucketed")
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


# ---- round-3 second wave ------------------------------------------------


def test_naaj_is_null_aware_broadcast_anti(plans):
    # Catalyst must plan NOT IN as a broadcast null-aware anti join:
    # the trailing `true` on the BroadcastHashJoin line is the
    # isNullAwareAntiJoin flag.
    p = plans("join_anti_null_aware", "simple")
    assert "LeftAnti, BuildRight, true" in p
    assert "CartesianProduct" not in p


def test_chunk_and_quantize_are_map_only(plans):
    # chunking and quantization must never shuffle: one generator /
    # transform expression per row, write-back-ready.
    assert "Exchange" not in plans("docs_chunk_overlap", "simple")
    assert "Exchange" not in plans("embedding_quantize", "simple")


def test_pack_sequences_single_bucket_shuffle(plans):
    # per-bucket packing = exactly one hash exchange feeding the window;
    # a global cumsum would show a single-partition Exchange instead.
    p = plans("docs_pack_sequences", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in p
    assert "Window" in p


def test_profile_table_single_scan_with_expand(plans):
    # all 20 stats off ONE parquet scan; the Expand is the documented
    # cost of multiple exact COUNT(DISTINCT)s in one aggregate.
    p = plans("profile_table", "simple")
    assert p.count("Scan parquet") == 1
    assert "Expand" in p


def test_countmin_exact_pass_is_semi_join_pruned(plans):
    # the exact pass must reach the corpus through a LeftSemi candidate
    # filter, the sketch/total sides broadcast, and nothing Cartesian.
    p = plans("agg_countmin_prefilter", "simple")
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q21_semi_anti_pair_no_cartesian(plans):
    p = plans("tpch_q21_shape", "simple")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q2_dims_broadcast_no_cartesian(plans):
    p = plans("tpch_q2_shape", "simple")
    assert p.count("BroadcastHashJoin") >= 4
    # ADVICE r3: the min-cost join-back must be a shuffle hash join —
    # best's cardinality is linear in SF, so no broadcast; no sort-merge
    # re-sort of the eligible catalog either.
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_pit_join_single_exchange_two_windows(plans):
    # the as-of carry must run both windows off ONE (pk) exchange:
    # hashpartitioning(pk) satisfies the (pk, grp) clustering of the
    # second window, so no re-shuffle between them.
    p = plans("cdc_pit_join", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 2
    assert "CartesianProduct" not in p


def test_histogram_is_single_shuffle(plans):
    p = plans("events_histogram", "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_ignore_nulls_windows_share_exchange(plans):
    p = plans("win_ignore_nulls", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 2


def test_dpp_fact_scan_has_dynamic_pruning(plans):
    """join_dynamic_partition_prune: the month-partitioned fact scan must
    carry a runtime dynamicpruning subquery in its PartitionFilters —
    without it the key reads all ~80 month partitions instead of 12."""
    p = plans("join_dynamic_partition_prune")
    assert "dynamicpruning" in p
    assert "PartitionFilters" in p


def test_attribution_broadcasts_converted_users(plans):
    """events_attribution: the converted-user argmin side is broadcast
    back onto the raw stream (no shuffle of events for the join), and
    the whole plan stays JVM-side with no Cartesian product."""
    p = plans("events_attribution")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_hll_mergeable_is_object_hash_agg(plans):
    """agg_hll_mergeable: sketch build+merge runs in ObjectHashAggregate
    (the TypedImperativeAggregate path) — never a sort-based fallback
    over raw rows, and never Python."""
    p = plans("agg_hll_mergeable")
    assert "ObjectHashAggregate" in p
    assert "BatchEvalPython" not in p


def test_text_normalize_zero_shuffle(plans):
    """text_normalize is a pure per-row expression pipeline: no Exchange
    anywhere — map-parallel at any scale."""
    p = plans("text_normalize")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_reservoir_sample_uses_window_group_limit(plans):
    """sample_reservoir: the rn<=k filter must plan as WindowGroupLimit —
    per-partition k-smallest heaps merged at the shuffle, never a full
    per-group sort materialized."""
    p = plans("sample_reservoir")
    assert "WindowGroupLimit" in p


def test_asof_nearest_windows_share_one_exchange(plans):
    """join_asof_nearest: both directional carries partition on user_id —
    the second window reuses the first's exchange (2 exchanges total:
    clicks-distinct + the shared window shuffle), and no range self-join
    sneaks in."""
    import re

    p = plans("join_asof_nearest")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_mix_weighted_single_source_shuffle(plans):
    """docs_mix_weighted: exactly one exchange (the per-source window);
    the mix position is computed without any global sort."""
    import re

    p = plans("docs_mix_weighted")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_topn_ngrams_window_over_aggregated_vocab(plans):
    """text_topn_ngrams: the top-k window consumes the aggregated
    vocabulary (WindowGroupLimit after the groupBy exchange), and the
    corpus-side transforms stay JVM-side."""
    import re

    p = plans("text_topn_ngrams")
    assert "WindowGroupLimit" in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "BatchEvalPython" not in p


def test_array_topk_collects_only_rank_survivors(plans):
    """agg_array_topk: WindowGroupLimit BEFORE the collect — the array agg
    sees <=k rows per group, never buffers whole groups."""
    p = plans("agg_array_topk")
    assert "WindowGroupLimit" in p
    assert p.index("WindowGroupLimit") > p.index("ObjectHashAggregate") or (
        "collect_list" in p
    )


def test_rolling_distinct_dedups_before_fanout(plans):
    """events_rolling_distinct: the 7x explode runs over the DEDUPED
    (user, day) set (HashAggregate before Generate), and the window-clip
    max is a broadcast, not a shuffle join."""
    p = plans("events_rolling_distinct")
    assert "explode(sequence" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.index("HashAggregate") < p.index("explode(sequence")


def test_sequence_match_single_user_exchange(plans):
    # all three window functions (position + both carries) and the final
    # aggregate's partial run off ONE user_id exchange; positions are
    # integers so no timestamp arithmetic survives into the comparison.
    p = plans("events_sequence_match", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in p


def test_dlq_split_is_map_only_before_agg(plans):
    # classification must be pure expression logic: the only exchange is
    # the final 4-group aggregate, and no Python reaches the data path.
    p = plans("cdc_dlq_split", "simple")
    assert p.count("Exchange") <= 2  # partial->final agg exchange only
    assert "BatchEvalPython" not in p


def test_contamination_join_is_shuffle_hash_not_broadcast(plans):
    # ADVICE r3: this fixture's 'benchmark' side grows linearly with
    # the corpus, so the gram join must be a shuffle hash join — a hash
    # join without broadcast's driver-memory bound — and never a
    # nested-loop/cartesian pairing of documents.
    p = plans("docs_contamination_check")
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_row_checksum_reduces_before_compare(plans):
    # both sides collapse to one row per table (map-combined partial
    # aggregates) before the comparison join — the compare itself moves
    # four numbers per table, never row data.
    p = plans("cdc_row_checksum", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_q5_fact_join_is_shuffle_not_broadcast(plans):
    # the facts must meet in a shuffle hash join; at bench scale the
    # pruned lineitem projection sneaks under the auto-broadcast
    # threshold and Catalyst would otherwise broadcast a FACT — the
    # shape that OOMs at 100 TB (hint pinned in tpch_q5_shape).
    p = plans("tpch_q5_shape", "simple")
    assert "ShuffledHashJoin" in p


def test_conflict_lww_single_pk_exchange(plans):
    # both winner picks (arrival-order and LWW total order) must run
    # off ONE pk exchange — two sorts, never a second shuffle or a
    # self-join of the raw changelog.
    p = plans("cdc_conflict_lww", "simple")
    assert p.count("Exchange hashpartitioning") <= 2  # pk windows + join
    assert "CartesianProduct" not in p


def test_cc_loop_lineage_bounded_on_deep_graph(spark):
    # VERDICT r3 item 5: the connected-components fixpoint loop must
    # truncate lineage (localCheckpoint every 4 rounds + unpersist of
    # superseded label frames) so plan depth stays bounded no matter
    # the component diameter.  A 12-chain path graph forces ~11 rounds
    # (>= 2 checkpoint cuts); the converged frame's parsed plan must be
    # a checkpoint leaf — a handful of joins from the last partial
    # window, NOT the ~22 joins an untruncated 11-round chain carries.
    from mysql_clickhouse_replication_spark.functions.text import (
        _min_label_propagate,
    )

    n = 12
    edges = [(f"d{i:02d}", f"d{i+1:02d}") for i in range(n - 1)]
    und_pairs = edges + [(b, a) for a, b in edges]
    und = spark.createDataFrame(und_pairs, ["doc_a", "doc_b"])
    labels = _min_label_propagate(und)
    rows = {r["v"]: r["lbl"] for r in labels.collect()}
    assert len(rows) == n
    assert set(rows.values()) == {"d00"}  # single component, min label
    plan = _plan(labels, "extended")
    # the logical plan must hang off a checkpoint scan, not the full
    # iteration history
    assert plan.count("Join") <= 8, plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan or "Scan" in plan


def test_collapsing_sign_single_pk_exchange(plans):
    # state+cancel construction and the collapse agg must share the pk
    # exchange: one window (LAG) + one aggregate, never a self-join of
    # the changelog.
    p = plans("cdc_collapsing_sign", "simple")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BatchEvalPython" not in p


def test_funnel_strict_is_single_shuffle_dp(plans):
    # CH windowFunnel parity must run as per-user array DP: exactly the
    # groupBy(user) exchanges (partial/final agg), no join at all — the
    # quadratic pair enumeration lives only in the oracle.
    p = plans("events_funnel_strict", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_importance_sample_is_scalar_broadcast_plus_agg(plans):
    # the corpus max is a 1-row broadcast; the keep predicate is pure
    # expression; no python, no cartesian blowup beyond the scalar.
    p = plans("sample_importance_weighted", "simple")
    assert "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_repetition_ratio_map_only(plans):
    # r14 optimization: the top-bigram count is per-doc state computed
    # in-row (sorted-array max run), so the whole key is a 0-Exchange
    # projection — no shuffle, no window, no join, no python.
    p = plans("docs_repetition_ratio", "simple")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p
    assert "Window" not in p


def test_product_quantize_is_broadcast_map_only(plans):
    # the codebook is a 1-row broadcast; assignment is pure expression —
    # no shuffle of the corpus, no python, no pair enumeration.
    p = plans("sim_product_quantize", "simple")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Exchange hashpartitioning" not in p


def test_mergeable_moments_two_keyed_aggs(plans):
    # shard states then merge: two hash aggregations, no window, no join,
    # second agg over |groups|x8 rows only.
    p = plans("agg_mergeable_moments", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_weighted_percentile_group_keyed_windows(plans):
    # value-distinct pre-agg, then cumulative + total windows per group,
    # final conditional min — all keyed by flag; no global sort, no join.
    p = plans("agg_weighted_percentile", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_ema_fold_no_window_no_join(plans):
    # recursive EMA must run as per-group ordered-array fold: daily
    # pre-agg shuffle + group collect; no window machinery, no join.
    p = plans("events_ema_daily", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_ann_recall_joins_tiny_topk_outputs(plans):
    # both sides are already-audited plans whose outputs are 10x5 rows;
    # the recall join must not introduce a cartesian or python stage.
    p = plans("sim_ann_recall", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_snapshot_diff_classifies_via_pk_outer_join(plans):
    # two pk-window compactions meeting in ONE full outer join on pk,
    # then a 4-group agg — no cartesian, no python.
    p = plans("cdc_snapshot_diff", "simple")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_timezone_family_is_explode_plus_agg(plans):
    # 3-zone explode + keyed agg; conversion is pure expression.
    p = plans("fn_timezone", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_minhash_accuracy_no_cartesian_no_python(plans):
    # signature build is explode + 16-min agg; pair set is the audited
    # banded plan; estimator joins are doc-id equi joins only.
    p = plans("dedup_minhash_accuracy")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_streaks_user_keyed_no_join(plans):
    # gaps-and-islands runs entirely on user-keyed exchanges (distinct
    # calendar, island agg, stats/rank windows) — no join, no python,
    # no global window.
    p = plans("events_streaks", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_linreg_is_two_keyed_aggs_only(plans):
    # daily pre-agg + power-sum agg; closed-form estimates are pure
    # projection — no join, no window, no python.
    p = plans("agg_linreg", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_audience_overlap_bounded_cooccurrence(plans):
    # user-keyed self co-occurrence join (fan-out <= |types|^2 per user)
    # plus two broadcast size joins — never a cartesian.
    p = plans("events_audience_overlap", "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_matryoshka_two_ranks_share_scored_pass(plans):
    # full and truncated rankings are two windows over ONE broadcast-query
    # scoring pass — no cartesian, no second corpus scan join.
    p = plans("sim_matryoshka_recall", "simple")
    assert "CartesianProduct" not in p


def test_time_bucket_is_pure_projection(plans):
    # truncations are expressions only: no exchange, no join.
    p = plans("fn_time_bucket", "simple")
    assert "Exchange" not in p
    assert "Join" not in p


def test_profile_skew_top1_probe_and_histogram(plans):
    # the heaviest-key probe is a TakeOrderedAndProject(limit 1); the
    # percentile window runs over the count-of-counts histogram; the
    # three 1-row frames meet in broadcast joins, never a cartesian.
    p = plans("profile_skew")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_block_dedup_no_cartesian_no_python(plans):
    # doc-frequency join back on block hash is equi; reassembly is an
    # in-row array_sort — no pair enumeration, no python.
    p = plans("docs_block_dedup", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_novelty_join_is_posting_list_equi(plans):
    # first-owner ledger joins back 1:1 per (doc, gram) — equi join on
    # the gram hash, no cartesian, ratio is integer-only projection.
    p = plans("docs_novelty_ratio", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_lag_percentiles_windows_over_histogram(plans):
    # lag distribution pre-agg bounds the cumulative window input by
    # distinct lag values; all windows table-keyed; no join, no python.
    p = plans("cdc_lag_percentiles", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_session_duration_histogram_percentiles(plans):
    # global percentiles must run over the second-bucket histogram, not
    # per-session rows; sessionization is the only user-keyed shuffle.
    p = plans("events_session_duration", "simple")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_record_highs_single_user_window(plans):
    # running max is one user-keyed rows-frame window + agg; no join.
    p = plans("events_record_highs", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_tx_batches_single_keyed_agg(plans):
    # transaction batching is one map-combined groupBy; nothing else.
    p = plans("cdc_tx_batches", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_mad_outliers_broadcast_medians(plans):
    # median/MAD frames are |sources| rows and must join back broadcast;
    # the histogram windows are source-keyed.
    p = plans("docs_length_mad_outliers", "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p


def test_centroid_classify_broadcast_prototypes(plans):
    # centroids broadcast against ONE corpus pass; argmax is a bounded
    # window; no corpus self-join/cartesian.
    p = plans("sim_centroid_classify", "simple")
    assert "CartesianProduct" not in p


def test_format_family_is_pure_projection(plans):
    p = plans("fn_format", "simple")
    assert "Exchange" not in p
    assert "Join" not in p


def test_hard_negatives_one_scoring_pass(plans):
    # both roles mined from ONE broadcast-query corpus pass + one
    # (query, polarity) window — no cartesian, no second scan join.
    p = plans("embedding_hard_negatives", "simple")
    assert "CartesianProduct" not in p


def test_backfill_plan_runs_on_day_histogram(plans):
    # batch assignment is a cumulative window over the daily histogram;
    # no join, no python.
    p = plans("cdc_backfill_plan", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_seasonality_constant_matrix(plans):
    # 7x24 matrix + 1-row broadcast total; peak window over 168 rows.
    p = plans("events_seasonality", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_sorted_layout_filter_reaches_reader(plans):
    # the month predicate must be pushed into the sorted sink's parquet
    # reader (row-group stats pruning depends on it).
    p = plans("scan_sorted_layout_prune")
    assert "PushedFilters: [" in p
    assert "o_orderdate" in p


def test_dedup_pipeline_composite_no_cartesian(plans):
    # the funnel composes audited stages; the flag joins are equi/left —
    # nothing quadratic on the Spark side (the oracle holds the closure).
    p = plans("docs_dedup_pipeline", "simple")
    assert "CartesianProduct" not in p


def test_new_vs_returning_ledger_join(plans):
    # first-seen ledger is a user-keyed argmin; classify join is equi on
    # user; no cartesian, no python.
    p = plans("events_new_vs_returning", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_alert_rules_broadcast_constant(plans):
    # the rules table is a constant broadcast; evaluation is expression.
    p = plans("events_alert_rules", "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_distribution_drift_week_filter_pushed(plans):
    # the two week predicates reach the scan; the grid after the first
    # agg is constant-size; no python.
    p = plans("events_distribution_drift")
    assert "PushedFilters: [" in p
    assert "BatchEvalPython" not in p


def test_langid_eval_composes_audited_plan(plans):
    # confusion matrix is one count over langid's bounded argmax output.
    p = plans("text_langid_eval", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_split_leakage_hash_expression_only(plans):
    # split assignment is a pure md5 expression on the group key; the
    # audit is a keyed two-level agg; no python, no cartesian beyond the
    # 1-row proof broadcast.
    p = plans("docs_split_leakage_safe", "simple")
    assert "BatchEvalPython" not in p


def test_snapshot_chunks_value_range_partitioning(plans):
    # DBLog chunking must be a map-side value-range expression + one
    # map-combined agg — no global row_number sort, no join.
    p = plans("cdc_snapshot_chunks", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_segment_migration_user_keyed_transition(plans):
    # two quartile windows + one per-user full outer join + constant
    # 5x5 matrix agg; no cartesian, no python.
    p = plans("analytics_segment_migration", "simple")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_dormant_reactivation_single_user_window(plans):
    # deduped calendar -> one user-keyed lag -> weekly agg; no join.
    p = plans("events_dormant_reactivation", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_nprobe_sweep_single_scoring_pass(plans):
    # one centroid pass feeds assignment + all probe depths; candidate
    # fan-out is explode(pr..max), never a per-depth recompute; no
    # cartesian beyond the 4-row grid broadcast.
    p = plans("sim_ivf_nprobe_sweep", "simple")
    assert "CartesianProduct" not in p


def test_conversion_latency_histogram_percentiles(plans):
    # anchors are mergeable per-user MINs; percentile window runs over
    # the second-bucket histogram; no python.
    p = plans("events_conversion_latency", "simple")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_order_violations_single_table_window(plans):
    # adjacent-pair audit: one table-keyed lag window + agg; no join.
    p = plans("cdc_order_violations", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_null_skew_split_bypasses_shuffle_for_nulls(plans):
    # the rewrite must show a union of (join of non-null) + (null scan)
    # — null rows never enter the join exchange.
    p = plans("join_null_skew_split", "simple")
    assert "Union" in p
    assert "BatchEvalPython" not in p


def test_shard_balance_band_keyed_window(plans):
    # assignment must run per token-band window, never a global rank;
    # the stats frame is a 1-row broadcast.
    p = plans("docs_shard_balance", "simple")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_freshness_single_agg_plus_watermark(plans):
    # one per-table agg + 1-row watermark broadcast; expression math.
    p = plans("cdc_freshness", "simple")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_pq_adc_is_lookup_sum_over_codes(plans):
    # the corpus pass sums LUT lookups over 4 small codes — broadcast
    # LUTs, no float-vector join on the corpus side, no python.
    p = plans("sim_pq_adc_search", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_coverage_eval_distinct_gram_join(plans):
    # both sides distinct first; train gram set joined without a hard
    # broadcast hint (AQE decides) — no cartesian, no python.
    p = plans("docs_ngram_coverage_eval", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_funnel_by_segment_one_dim_join(plans):
    # segmentation is ONE broadcast dim join over the per-user funnel
    # state, not a per-segment funnel re-run.
    p = plans("events_funnel_by_segment", "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_column_drift_single_conditional_scan(plans):
    # both epochs' per-column profiles come from ONE conditional agg
    # pass (cut = 1-row broadcast) + constant unpivot union.
    p = plans("cdc_column_drift_stats", "simple")
    assert "Union" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_wow_change_double_ratio_window(plans):
    # weekly agg + one type-keyed lag window; no join, no python.
    p = plans("agg_wow_change", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_peak_concurrency_sweep_over_boundaries(plans):
    # the sweep runs over 2x|sessions| boundary rows, never raw events;
    # since the r14 single-agg rework, n_sessions/peak/first_peak_ts
    # all fold in ONE aggregation over the sweep (count DIV 2 + max of
    # (cur, -t)) — the only joins left are banded_running_sum's own
    # offset broadcasts, so the old 1-row crossJoin stitches (BNLJ)
    # must not reappear.
    p = plans("events_peak_concurrency", "simple")
    assert "Union" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_partitioned_changelog_scan_is_pruned(plans):
    # the compaction's scan over the (tbl, day)-partitioned landing must
    # carry BOTH partition filters — pruning to the touched directories
    # is the entire point of the layout.
    p = plans("cdc_partitioned_changelog_prune")
    assert "PartitionFilters" in p
    assert "t1" in p


def test_language_balance_constant_frames(plans):
    # one language count + 1-row totals broadcast; all-integer ppm.
    p = plans("docs_language_balance", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_error_budget_single_daily_agg(plans):
    # one map-combined conditional daily agg; expression math after.
    p = plans("events_error_budget_burn", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p


def test_rate_limit_one_user_exchange(plans):
    # the RANGE frame and the per-user aggregate share one user-keyed
    # exchange; no join, no python.
    p = plans("events_rate_limit_scan", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_centroid_drift_mergeable_rollup(plans):
    # half-centroids come from the dim-exploded mergeable aggregate; the
    # comparison joins |labels| rows — no corpus join, no cartesian.
    p = plans("sim_centroid_drift", "simple")
    assert "CartesianProduct" not in p


def test_vocab_growth_single_ledger_pass(plans):
    # the curve comes from ONE first-owner ledger pass + a 10-row
    # window — never ten overlapping distinct counts.
    p = plans("docs_vocab_growth", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_coverage_ranges_distributed_islands(plans):
    # range starts/ends come from distributed ANTI self-joins on the id
    # key — the data-sized work carries NO ordered window; the only
    # row_number windows pair up the |ranges|-sized start/end frames.
    p = plans("cdc_seq_coverage_ranges", "simple")
    assert p.count("LeftAnti") == 2
    assert "BatchEvalPython" not in p
    # the only single-partition stages are the two |ranges|-frame
    # row_number windows that zip starts with ends
    assert p.count("Exchange SinglePartition") <= 2


def test_try_cast_pure_projection(plans):
    p = plans("fn_try_cast", "simple")
    assert "Exchange" not in p
    assert "Join" not in p


def test_source_matrix_attribution_joins(plans):
    # pair attribution is two doc_id equi joins onto metadata; the
    # matrix agg is |sources|^2 — no cartesian, no python.
    p = plans("dedup_source_matrix", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_bot_detection_moments_state(plans):
    # one user-keyed lag window + mergeable power-sum aggregate; no
    # join, no python.
    p = plans("events_bot_detection", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_purchase_cadence_shared_exchange(plans):
    # lag window and final agg share the customer exchange; no join.
    p = plans("orders_purchase_cadence", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_bounded_dedup_single_key_lag(plans):
    # arrival-distance classification is one (pk, seq)-keyed lag window;
    # the rollup is map-combined. No join, no python.
    p = plans("cdc_dedup_bounded_window", "simple")
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_funnel_sensitivity_shares_stage_one(plans):
    # stage 1 is window-independent; later stages carry w as a grouping
    # key via a constant broadcast — never a per-window funnel re-run
    # over the raw stream; no cartesian beyond the 3-row grid.
    p = plans("events_funnel_window_sensitivity", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_pivot_multi_two_stage_shuffles(plans):
    # multi-metric pivot = long-form (day, type) agg + a pivotfirst
    # exchange over the REDUCED |days x types| frame — exactly two
    # exchanges, the second over tiny data; no discovery scan, no join.
    p = plans("reshape_pivot_multi", "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 2
    assert "pivotfirst" in p


def test_entropy_rate_vocab_bounded(plans):
    # both aggregates are bounded by distinct bigrams; terms are
    # integer-scaled pre-sum; the context join is equi on (lang, w1).
    p = plans("text_entropy_rate", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_reset_running_sum_single_exchange(plans):
    # both stacked windows (segment id, then running sum) are keyed by
    # customer; Catalyst plans ONE hash exchange and re-sorts in place.
    p = plans("win_reset_running_sum", "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p


def test_histogram_quantile_single_fact_scan(plans):
    # the fact is scanned once into a map-combined bin histogram; all
    # window/interpolation work happens on the ~100-row bin table.
    p = plans("agg_histogram_quantile", "simple")
    assert p.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in p


def test_pmi_topk_and_no_cartesian(plans):
    # PMI joins run on vocab-sized count tables (equi joins only) and
    # the final top-20 is a per-partition-heap TakeOrderedAndProject,
    # never a global sort.
    p = plans("text_collocations_pmi", "simple")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_url_dedup_map_only_plus_one_exchange(plans):
    # canonicalization is pure per-row regex; the dedup is one
    # map-side-combined groupBy on the canonical key.
    p = plans("docs_url_dedup", "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p


def test_compaction_ratio_no_python_no_cartesian(plans):
    p = plans("cdc_compaction_ratio", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_bloom_prefilter_injects_runtime_filter(spark, sf_dir):
    # with the application-side size threshold lowered to bench scale,
    # InjectRuntimeFilter must build a bloom from the filtered dim keys
    # and push might_contain into the fact side pre-shuffle.
    # InjectRuntimeFilter deliberately skips broadcast-SIZED creation
    # sides (a broadcast hash table already filters), so the broadcast
    # threshold is disabled too — mimicking the at-scale case where the
    # filtered dim exceeds it.
    qs = e.queries()
    conf = spark.conf
    key_app = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    key_bc = "spark.sql.autoBroadcastJoinThreshold"
    old_app, old_bc = conf.get(key_app), conf.get(key_bc)
    try:
        conf.set(key_app, "0")
        conf.set(key_bc, "-1")
        p = _plan(qs["join_bloom_prefilter"](spark, sf_dir), "simple")
        assert "bloom_filter_agg" in p or "might_contain" in p, p
    finally:
        conf.set(key_app, old_app)
        conf.set(key_bc, old_bc)


def test_bm25_single_tokenize_no_cartesian(plans):
    # df/corpus stats ride broadcasts; the only joins are equi on
    # doc_id / term; final top-10 is a per-partition heap.
    p = plans("text_bm25_search", "simple")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_hybrid_rrf_broadcast_query_vector(plans):
    # the dense leg broadcasts the 1-row query vector (never shuffles
    # the corpus against it); fusion is a doc-keyed outer join.
    p = plans("sim_hybrid_rrf", "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p
    assert "TakeOrderedAndProject" in p


def test_sliding_batch_expand_bounded_fanout(plans):
    # Spark's native sliding window replicates rows inside Expand
    # (fan-out = length/slide = 2), then ONE map-combined groupBy.
    p = plans("events_sliding_batch", "simple")
    assert "Expand" in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_basket_lift_broadcast_dims_no_cartesian(plans):
    # part, the marginals, and the order count are broadcasts; pairs
    # are generated IN-ROW from the sorted basket array (r14
    # optimization), so no shuffled join of any kind survives — the
    # only joins left are broadcast attaches of vocabulary-sized frames.
    p = plans("orders_basket_lift", "simple")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_geo_map_only_with_pushed_bbox(plans):
    # the bbox is two range predicates pushed to the scan; everything
    # else is per-row expression work — zero shuffle.
    p = plans("fn_geo", "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p


def test_time_range_frame_single_exchange(plans):
    # one user-keyed shuffle; both trailing-hour aggregates share the
    # RANGE frame window.
    p = plans("win_time_range_frame", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 1
    assert "BatchEvalPython" not in p


def test_funnel_unordered_single_user_shuffle(plans):
    # set-membership funnel: one user-keyed agg + 1-row rollup; no
    # joins, no windows, no ordering machinery.
    p = plans("events_funnel_unordered", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p


def test_substring_dedup_shingle_keyed_join(plans):
    # the owner groupBy and the join-back share the shingle key; no
    # cartesian pair enumeration anywhere.
    p = plans("docs_substring_dedup", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_bitmap_distinct_states_cross_the_wire(plans):
    # the shuffle carries bitmap states (construct_agg partials), never
    # raw user ids; merge levels are bitmap_or_agg over bounded state.
    p = plans("agg_bitmap_distinct", "simple")
    assert "bitmap_construct_agg" in p
    assert "bitmap_or_agg" in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_watermark_lateness_banded_clock(plans):
    # the serial replay clock is the TWO-LEVEL exclusive running max:
    # the event-sized window is hash-partitioned by the _band block,
    # the single-partition window runs only over |bands| summary rows,
    # and band clocks come back via a broadcast join.
    p = plans("events_watermark_lateness", "simple")
    assert "hashpartitioning(_band" in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_zorder_layout_prunes_vs_unsorted(spark, sf_dir, tmp_path):
    """Executed-plan scan metric: the z-ordered landing must emit far
    fewer rows to the filter than an unsorted landing of the SAME data
    under the SAME 2-D box (row-group/page stats pruning).  AQE is
    disabled for the probe so the scan leaf's metric is reachable."""
    import pyspark.sql.functions as F

    qs = e.queries()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        zdf = qs["scan_zorder_layout"](spark, sf_dir)
        zdf.collect()
        leaf = zdf._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        z_rows = leaf.metrics().apply("numOutputRows").value()

        # unsorted twin: same columns, same box, shuffled landing
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
            (F.col("o_custkey") % 256).cast("int").alias("cb"),
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
            .cast("int").alias("ym"),
        )
        sink = str(tmp_path / "zorder_unsorted")
        o.repartition(16).write.mode("overwrite").parquet(sink)
        udf_ = (
            spark.read.parquet(sink)
            .filter(F.col("cb").between(64, 79) & F.col("ym").between(48, 53))
            .agg(F.count(F.lit(1)))
        )
        udf_.collect()
        uleaf = udf_._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        u_rows = uleaf.metrics().apply("numOutputRows").value()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    n_total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert u_rows == n_total  # unsorted: stats prune nothing
    assert z_rows * 2 < u_rows  # z-layout: at least 2x fewer rows scanned


def test_time_weighted_avg_shared_user_exchange(plans):
    # the LEAD window and the per-user rollup share one user_id
    # exchange; the weighted sum is integer arithmetic, no joins.
    p = plans("events_time_weighted_avg", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 1
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_revenue_concentration_banded_rank_no_ntile(plans):
    # the decile comes from the distributed banded rank + the NTILE
    # closed form — no single-reducer NTILE window; the customer-sized
    # ranking window is hash-partitioned by the revenue band.
    p = plans("orders_revenue_concentration", "simple")
    assert "ntile" not in p
    assert "hashpartitioning(_band" in p
    assert "BatchEvalPython" not in p


def test_rfm_banded_ranks_no_ntile(plans):
    # all three quartile scores come from distributed banded ranks (the
    # r4 perf-weak swap): no ntile window anywhere; every customer-sized
    # ranking window is hash-partitioned by its metric band (r15: one
    # band column per metric — _rb/_fb/_mb — so the per-band offset
    # broadcasts derive from the shallow banded base projection instead
    # of nesting the chained frame; 24 -> 20 scheduled jobs, plan 32.5k
    # -> 20.7k chars).
    p = plans("analytics_rfm", "simple")
    assert "ntile" not in p
    for band in ("_rb", "_fb", "_mb"):
        assert f"hashpartitioning({band}" in p
    assert "BatchEvalPython" not in p


def test_peak_concurrency_banded_prefix_sum(plans):
    # the sweep's running sum is the two-level banded prefix sum: the
    # boundary-row window hash-partitions by calendar-day band.
    p = plans("events_peak_concurrency", "simple")
    assert "hashpartitioning(_band" in p
    assert "BatchEvalPython" not in p


def test_minimal_image_reconstruct_single_agg_no_window(plans):
    # per-column latest-image folding happens inside ONE map-combined
    # (tbl, pk) aggregate — no window, no join, no per-column passes.
    p = plans("cdc_minimal_image_reconstruct", "simple")
    assert "Window" not in p
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in p


def test_cusum_windows_daily_table_only(plans):
    # the stream reduces to per-day rows before any window, and the
    # daily table is cached so its three consumers (stats, cusum,
    # peak) share ONE materialization of the raw-stream scan.
    p = plans("events_changepoint_cusum", "simple")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_tombstone_gc_no_cartesian_one_compaction(plans):
    # one (tbl, pk) compaction window; the resurrection probe is a
    # key-equi join against the purged set, never a pair enumeration.
    p = plans("cdc_tombstone_gc", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_spatial_grid_is_hash_join_not_nested_loop(plans):
    # the zone-cell decomposition turns point-in-bbox into a broadcast
    # HASH join on the cell key — never a BroadcastNestedLoopJoin over
    # |points| x |zones|.
    p = plans("join_spatial_grid", "simple")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_growth_accounting_windows_activity_cells(plans):
    # lag and lead share one user-keyed sort over DISTINCT (user,
    # week) cells; churn rows are a projection of the same frame.
    p = plans("events_growth_accounting", "simple")
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_hll_overlap_sketches_not_distinct_shuffles(plans):
    # the estimate path is sketch aggregates merged as 1-row scalars;
    # only the exact twin pays distinct shuffles.
    p = plans("agg_hll_overlap_estimate", "simple")
    assert "hll_sketch_agg" in p
    assert "hll_union" in p
    assert "BatchEvalPython" not in p


def test_ddl_route_pure_mapside_parse(plans):
    # DDL classification is regexp/CASE expression work riding the
    # decode scan: no shuffle, no join, no python.
    p = plans("cdc_ddl_route", "simple")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_type_edges_pure_mapside_decode(plans):
    # every hostile-type policy (u64 overflow, zero-date, ENUM/SET) is
    # a per-row expression over one scan: no shuffle, no join.
    p = plans("cdc_type_edges", "simple")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_gtid_resume_islands_partition_by_uuid(plans):
    # the islands window must hash-partition by server_uuid (the
    # multi-source shard key) — no global ordered window over txids.
    p = plans("cdc_gtid_resume", "simple")
    assert "hashpartitioning(server_uuid" in p
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_binlog_position_shares_tbl_exchange(plans):
    # the lag clock and the per-table rollup share one tbl-keyed
    # exchange; parse work is map-side expressions.
    p = plans("cdc_binlog_position_order", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p
    assert "BatchEvalPython" not in p


def test_sliding_uniques_merges_sketches_not_ids(plans):
    # the estimate leg unions STORED daily sketches over the day-range
    # join — hll state crosses the window join, never raw user ids.
    p = plans("events_sliding_uniques_sketch", "simple")
    assert "hll_sketch_agg" in p
    assert "hll_union_agg" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


# Keys whose plans legitimately contain a Window FED BY an
# Exchange SinglePartition — every one runs over a BOUNDED summary
# frame, never a data-sized one.  The frame-bound math per key is
# documented in PLANS.md §"Single-partition window allowlist".  A key
# appearing here is a documented exception; a key NOT here acquiring a
# single-partition-fed window is a scale regression and fails the audit
# below.  (Round 7 shrank this list 27 -> 14: the audit previously
# matched any plan containing both a Window and a SinglePartition
# exchange anywhere, so 12 keys whose SinglePartition was a harmless
# 1-row scalar-aggregate exchange were listed as false positives, and
# text_tfidf_terms' vocabulary window was rewritten banded.)
_BOUNDED_SINGLE_PARTITION_WINDOWS = {
    "agg_histogram_quantile": "|bins| histogram rows",
    "analytics_rfm": "banded-rank offsets: |bands| rows x3 + count",
    "analytics_segment_migration": "banded-rank offsets: |bands| rows x2",
    "cdc_backfill_plan": "|days| histogram rows",
    "cdc_seq_coverage_ranges": "|ranges|-frame start/end zip x2",
    "docs_vocab_growth": "|batches| vocab-count rows",
    "events_changepoint_cusum": "|days| daily rows",
    "events_conversion_latency": "|bins| latency histogram rows",
    "events_peak_concurrency": "banded sweep offsets: |days| band rows",
    "events_session_duration": "|bins| duration histogram rows",
    "events_watermark_lateness": "banded lateness offsets: |days| rows",
    "events_watermark_lateness_sharded": "the GLOBAL comparison clock's "
    "|days|-row band combine (the shard clock's own combine is "
    "shard-partitioned — asserted in its plan test)",
    "orders_revenue_concentration": "banded decile offsets: |bands| rows",
    "profile_skew": "per-column top-1 summary rows",
    "sim_hybrid_rrf": "per-query fused top-k (k-bounded)",
    "sim_opq_alternate": "the (total, cand) argmin over the 7-row "
    "candidate-total frame (|candidates| is a plan constant)",
}


def _tree_indent(line: str) -> int:
    """Depth of a simple-mode physical-plan line: the width of the
    leading tree scaffolding (spaces, ':', '+', '|', '-')."""
    m = re.match(r"^[\s:+|-]*", line)
    return len(m.group(0))


def _window_fed_by_single_partition(plan: str) -> bool:
    """True iff some Window operator's INPUT spine reaches an
    ``Exchange SinglePartition`` before any other Exchange.

    A WindowExec needs its input clustered by its partition keys, so
    the exchange that feeds it sits directly below it on the spine
    (usually through a Sort).  Walking each Window's subtree and
    stopping at the first Exchange attributes the SinglePartition to
    the operator that actually consumes it — a 1-row scalar-aggregate
    exchange elsewhere in the plan (the global-count / cut-point
    pattern) no longer false-positives the audit, because its partial
    aggregate shuffles one row per map partition, which is harmless at
    any scale."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow\b", ln):
            d0 = _tree_indent(ln)
            for j in range(i + 1, len(lines)):
                if _tree_indent(lines[j]) <= d0:
                    break
                if "Exchange" in lines[j]:
                    if "SinglePartition" in lines[j]:
                        return True
                    break  # first exchange on the spine is partitioned
    return False


def test_no_unaudited_single_partition_windows_anywhere(spark, sf_dir):
    """Registry-wide scale audit (r5 verdict item 6, made precise in
    r7): a Window fed by Exchange SinglePartition is the canonical
    100 TB killer unless its frame is provably bounded.  Every key
    whose plan carries one must be in the documented allowlist above —
    so rewriting a key onto a single-reducer window (or adding a new
    key with one) fails here instead of surfacing as a
    production-scale regression."""
    qs = e.queries()
    offenders = []
    for key in sorted(qs):
        p = _plan(qs[key](spark, sf_dir), "simple")
        if (
            _window_fed_by_single_partition(p)
            and key not in _BOUNDED_SINGLE_PARTITION_WINDOWS
        ):
            offenders.append(key)
    assert not offenders, (
        "keys with an unaudited single-partition-fed Window (add a "
        "banded rewrite, or document the bounded frame in the "
        "allowlist + PLANS.md): "
        f"{offenders}"
    )


def test_tfidf_ranking_is_banded(plans):
    # r6 verdict nit: the per-lang tf-idf ranking window previously held
    # the full per-lang vocabulary in one reducer.  Phase 1 must rank
    # inside (lang, band); only the <=5*64 band survivors reach the
    # per-lang window, and the df join must NOT pin a broadcast of the
    # vocabulary-sized doc-frequency side.
    p = plans("text_tfidf_terms", "simple")
    assert "hashpartitioning(lang" in p and "band" in p
    assert not _window_fed_by_single_partition(p)


def test_segment_migration_banded_ranks_no_ntile(plans):
    # both period quartiles come from distributed banded ranks + the
    # NTILE closed form (the r5 rewrite): no ntile window anywhere,
    # both user-sized ranking windows hash-partitioned by spend band.
    p = plans("analytics_segment_migration", "simple")
    assert "ntile" not in p
    assert p.count("hashpartitioning(_band") >= 2
    assert "BatchEvalPython" not in p


def test_fuzzy_match_pairing_window_is_partitioned(plans):
    # the LEAD pairing window hash-partitions by the 1000-key partkey
    # band (r5 verdict's last global-window exception, closed).
    p = plans("fn_fuzzy_match", "simple")
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_summing_merge_single_pk_exchange(plans):
    # LAG deltas, the pk sum, and the last-row state all ride ONE
    # hashpartitioning(pk) exchange; the final assembly is a pk
    # equi-join, no cartesian, no python.
    p = plans("cdc_summing_merge", "simple")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Exchange SinglePartition" not in p


def test_active_coverage_windows_share_custkey_exchange(plans):
    # both islands windows and both aggs distribute on o_custkey; one
    # data-sized exchange total, nothing single-partition.
    p = plans("orders_active_coverage", "simple")
    assert "hashpartitioning(o_custkey" in p
    assert "Exchange SinglePartition" not in p
    assert p.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in p


def test_temperature_sample_broadcasts_rates(plans):
    # the |langs|-row rate table broadcasts onto the corpus scan; the
    # only corpus-sized shuffles are the two map-combined lang aggs.
    p = plans("docs_temperature_sample", "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_snapshot_overlap_resolve_no_cartesian_pk_windows(plans):
    # three pk-keyed compaction windows + per-table rollups; the only
    # cross joins are the 1-row cut broadcasts.
    p = plans("cdc_snapshot_overlap_resolve", "simple")
    assert "hashpartitioning(pk" in p
    assert "BatchEvalPython" not in p


def test_license_filter_is_map_side_classification(plans):
    # regexp classification fuses into the scan; the only shuffle is
    # the bounded (source, class) agg — no join, no window, no python.
    p = plans("docs_license_filter", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_counter_delta_sum_single_user_exchange(plans):
    # LAG steps and the per-series totals share one user_id exchange;
    # no join, no python, nothing single-partition.
    p = plans("events_counter_delta_sum", "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_mask_policy_is_map_side_zero_extra_shuffle(plans):
    # masking fuses into the decode scan; the only exchange is the
    # bounded per-table audit agg (countDistinct adds its expand agg
    # on the same key) — no join, no window, no python.
    p = plans("cdc_column_mask_policy", "simple")
    assert "Join" not in p
    assert "Window" not in p
    assert "BatchEvalPython" not in p
    assert "Exchange SinglePartition" not in p


def test_dlq_replay_single_pk_compaction(plans):
    # classify/repair is map-side; one pk-keyed compaction window over
    # the replayed stream; the per-table join is bounded.
    p = plans("cdc_dlq_replay_merge", "simple")
    assert "hashpartitioning(pk" in p
    assert "Exchange SinglePartition" not in p
    assert "BatchEvalPython" not in p


def test_topk_weighted_take_ordered_no_global_sort(plans):
    # one keyed agg, scalar total broadcast, TakeOrderedAndProject for
    # the top-10 — no global Sort materialization.
    p = plans("agg_topk_weighted")
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_backlog_aging_bounded_agg_no_window(plans):
    # anchor + total ride broadcasts; the only keyed work is the
    # 4-bucket agg (countDistinct expand on the same key).
    p = plans("orders_backlog_aging", "simple")
    assert "Window" not in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_exact_median_single_scan_shared_window_exchange(plans):
    """agg_exact_median: one corpus scan, one aggregation shuffle, both
    Window nodes fed by ONE exchange on grp (the totals come from the
    running count, not a second aggregation of the table — an earlier
    join spelling scanned lineitem twice)."""
    p = plans("agg_exact_median")
    tree = p.split("(1) Scan parquet")[0]
    assert tree.count("Scan parquet") == 1, p
    assert tree.count("Window") == 2, p
    assert tree.count("Exchange") == 2, p  # histogram agg + window partitioning
    assert "Join" not in tree, p


def test_wide_row_reassemble_single_scan_no_join(plans):
    """cdc_wide_row_reassemble: the expected checksum rides with the
    fragments, so the plan is one scan + one pk shuffle, never a join
    back to the source table."""
    p = plans("cdc_wide_row_reassemble")
    tree = p.split("(1) Scan parquet")[0]
    assert tree.count("Scan parquet") == 1, p
    assert "Join" not in tree, p
    assert tree.count("Exchange") == 1, p


def test_multimodal_dedup_shuffles_digests_not_payloads(plans):
    """multimodal_dedup: the md5 digest must be computed below the
    exchange (scan-side projection) so only (digest, id, length) rows
    shuffle — the payload column may not appear in the exchange input."""
    p = plans("multimodal_dedup")
    # the partial aggregate below the shuffle already groups by digest
    m = re.search(r"\(\d+\) Exchange\nInput(.*?)\n", p)
    assert m, p
    assert "md5" in m.group(1) or "content_md5" in m.group(1), p
    assert "payload" not in m.group(1), p


def test_balanced_downsample_partitioned_rank_and_broadcast_cap(plans):
    """docs_balanced_downsample: the rank window is partitioned by lang
    (never a single global partition) and the cap joins via broadcast."""
    p = plans("docs_balanced_downsample")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p
    w = re.search(r"Arguments: \[row_number\(\).*?\], \[(.*?)\], \[(.*?)\]", p)
    assert w and "lang" in w.group(1), p


def test_exact_quantiles_single_scan_one_histogram_pass(plans):
    """agg_exact_quantiles: all five levels from one scan + one
    histogram shuffle + one shared window exchange — a level must never
    add a pass."""
    p = plans("agg_exact_quantiles")
    tree = p.split("(1) Scan parquet")[0]
    assert tree.count("Scan parquet") == 1, p
    assert tree.count("Exchange") == 2, p
    assert "Join" not in tree, p


def test_state_partitions_restores_batch_shuffle_width(spark, sf_dir):
    """The stateful streaming keys plan under _STATE_PARTITIONS via a
    save/restore context; a leak would silently shrink every subsequent
    BATCH key's shuffle width to 8."""
    from mysql_clickhouse_replication_spark.streaming import queries as sq

    before = spark.conf.get("spark.sql.shuffle.partitions")
    e.queries()["stream_tumbling"](spark, sf_dir).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # and the context itself restores even when the body raises
    try:
        with sq._state_scaled(spark):
            assert (
                spark.conf.get("spark.sql.shuffle.partitions")
                == sq._STATE_PARTITIONS
            )
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_pagerank_no_cartesian_persisted_edges(plans):
    """graph_pagerank: every iteration joins ranks to edges on src —
    never a CartesianProduct (the broadcast 1-row node count rides a
    BroadcastNestedLoopJoin, which is fine); the edge frame is built
    once and persisted (InMemoryTableScan in later iterations).  Since
    the r14 single-persist rework, deg attaches via a window over src
    (one pass, one cached frame) — no SortMergeJoin may reappear in the
    frontier build."""
    p = plans("graph_pagerank")
    assert "CartesianProduct" not in p, p
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p, p
    assert "SortMergeJoin" not in p, p


def test_exact_quantiles_bucketed_no_value_domain_window(plans):
    """agg_exact_quantiles_bucketed: the bucket-then-recurse selection
    must never sort |distinct values| rows — every Window partitions by
    a bounded key (grp -> bucket histogram; (grp, q) -> one bucket's
    values), the bucket->value recursion joins via broadcast, the
    persisted histogram pins pass 1 to one lineitem scan, and no
    CartesianProduct appears anywhere."""
    p = plans("agg_exact_quantiles_bucketed")
    assert "CartesianProduct" not in p, p
    # the value histogram is persisted and reused (one corpus pass)
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p, p
    # the recursion join onto the |groups| x |levels| targets broadcasts
    assert "BroadcastHashJoin" in p, p
    # every window is partitioned (never a global single partition)
    for m in re.finditer(
        r"Arguments: \[[^\]]*\], \[([^\]]*)\], \[[^\]]*\]", p
    ):
        part = m.group(1)
        assert part.strip(), f"unpartitioned window: {m.group(0)}\n{p}"


def test_balanced_downsample_digest_no_sort_one_filter_pass(plans):
    """docs_balanced_downsample_digest: the whole point of the digest
    form is NO rank window and NO per-class sort — the plan may contain
    no Window node and no Sort except inside aggregation, and the class
    counts join back via broadcast."""
    p = plans("docs_balanced_downsample_digest")
    assert "Window" not in p, p
    assert "row_number" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_semantic_prune_bucketed_no_cartesian_reused_assignment(spark, sf_dir):
    """dedup_semantic_prune: candidate pairs come from the (cell,
    subcell) equi-join — never a CartesianProduct (the broadcast
    centroid/sub-centroid scoring rides BroadcastNestedLoopJoin); the
    dominance self-join REUSES the bucketed assignment's exchange
    instead of recomputing the pipeline per side.  Exchange reuse is an
    AQE runtime decision, so the query executes first and the FINAL
    adaptive plan is asserted."""
    df = e.queries()["dedup_semantic_prune"](spark, sf_dir)
    df.collect()
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in p, p
    assert "ReusedExchange" in p, p


def test_perplexity_buckets_partitioned_tercile_broadcast_lm(plans, spark):
    """docs_perplexity_buckets: the tercile window partitions by lang
    (never one global partition), the vocabulary-bounded LM join
    broadcasts, and the persisted token frame pins the whole key to
    ONE documents scan (r9 verdict item #3) — every other consumer
    reads the InMemoryTableScan."""
    spark.catalog.clearCache()
    p = plans("docs_perplexity_buckets")
    assert "BroadcastHashJoin" in p, p
    w = re.search(r"Arguments: \[ntile\(3\).*?\], \[(.*?)\], \[(.*?)\]", p)
    assert w and "lang" in w.group(1), p
    # the persisted token frame's build subtree prints under EVERY
    # InMemoryTableScan consumer, so count DISTINCT scan node ids —
    # one id == one physical documents scan
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", p))
    assert len(scan_ids) == 1, p
    assert "InMemoryTableScan" in p, p


def test_m4_downsample_windowless_one_exchange(plans):
    """events_m4_downsample (r9 verdict item #2, the 100 TB form): ONE
    map-combined hash aggregation — min_by/max_by replace the two
    row_number windows, so the plan carries ZERO Window and ZERO Sort;
    partial_min_by in the pre-exchange HashAggregate proves the map
    side shrinks to the pixel budget before the single shuffle."""
    p = plans("events_m4_downsample")
    tree = p.split("(1) Scan parquet")[0]
    assert tree.count("Scan parquet") == 1, p
    assert tree.count("Exchange") == 1, p
    assert "Window" not in tree, p
    assert "Sort" not in tree, p
    assert "HashAggregate" in tree, p  # primitive buffers, not SortAggregate
    assert "partial_min_by" in p, p  # map-side combine before the exchange


def test_schema_compat_bounded_partitioned_lag(plans, spark):
    """cdc_schema_registry_compat: the prior-type lag window partitions
    by (tbl, col_name) — bounded per-column op histories, never a
    global or data-sized partition — and the whole key is one scan.
    Cache cleared first: a prior test's cdc_ddl_apply persists the
    shared route frame, which would swap the scan for an
    InMemoryTableScan here (harnesses clear per key the same way)."""
    spark.catalog.clearCache()
    p = plans("cdc_schema_registry_compat")
    tree = p.split("(1) Scan parquet")[0]
    assert tree.count("Scan parquet") == 1, p
    w = re.search(r"Arguments: \[lag\(.*?\], \[(.*?)\], \[", p)
    assert w and "tbl" in w.group(1) and "col_name" in w.group(1), p


def test_triangle_count_oriented_no_cartesian_reused_pairs(plans, spark, sf_dir):
    """graph_triangle_count: the pair join and the wedge join are
    identical-subtree self-joins (ReuseExchange in the EXECUTED plan),
    degrees ride broadcasts, and no CartesianProduct appears anywhere —
    the degree-ordered orientation keeps all joins equi-keyed."""
    spark.catalog.clearCache()
    df = e.queries()["graph_triangle_count"](spark, sf_dir)
    df.collect()
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in p, p
    assert "ReusedExchange" in p, p
    assert "BroadcastHashJoin" in p, p


def test_perplexity_nosort_no_language_sized_window(plans, spark):
    """docs_perplexity_buckets_nosort: the whole point — NO window may
    partition a language-sized row set.  Every row_number partitions by
    (lang, cb) (bucket-sized), the only lang-partitioned window is the
    running count over the per-lang HISTOGRAM (score-resolution-
    bounded), and NTILE appears nowhere."""
    spark.catalog.clearCache()
    p = plans("docs_perplexity_buckets_nosort")
    assert "ntile" not in p.lower(), p
    rn = re.findall(r"Arguments: \[row_number\(\).*?\], \[(.*?)\], \[", p)
    assert rn and all("cb" in g and "lang" in g for g in rn), p
    cum = re.findall(r"Arguments: \[sum\(bc.*?\], \[(.*?)\], \[", p)
    assert cum and all("lang" in g for g in cum), p


def _decode_split_tasks(spark, ranges) -> int:
    """Task count Spark's file-split rule gives ``ranges`` under the
    session's confs — the formula decode_ranges must follow."""
    import math

    from mysql_clickhouse_replication_spark.plans.cdc import _conf_bytes

    total = sum(hi - lo for _, lo, hi in ranges)
    split = min(
        _conf_bytes(spark, "spark.sql.files.maxPartitionBytes"),
        max(
            _conf_bytes(spark, "spark.sql.files.openCostInBytes"),
            total / spark.sparkContext.defaultParallelism,
        ),
    )
    return max(1, min(len(ranges), math.ceil(total / split)))


def _assert_decode_split(plans, spark, sf_dir, duck, key, ranges):
    """A decode key runs as ONE Arrow map stage over Range with no
    Exchange, in exactly the split-rule task count (1 for a log under
    the open cost); with maxPartitionBytes lowered to 16 KB the same
    key fans out over >1 task and still hash-matches the oracle."""
    from tools.verify_local import _hash_rows

    p = plans(key)
    assert "MapInArrow" in p and "Range (" in p, p
    assert "MapInPandas" not in p and "Exchange" not in p, p
    df = e.queries()[key](spark, sf_dir)
    assert df.rdd.getNumPartitions() == _decode_split_tasks(spark, ranges)
    if sum(hi - lo for _, lo, hi in ranges) < 4 << 20:
        assert df.rdd.getNumPartitions() == 1
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    try:
        df = e.queries()[key](spark, sf_dir)
        n = df.rdd.getNumPartitions()
        assert n > 1 and n == _decode_split_tasks(spark, ranges), n
        rows = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    res = duck.execute(e.oracle_sql()[key])
    orows = res.fetchall()
    assert len(rows) == len(orows)
    assert _hash_rows(df.columns, rows) == _hash_rows(
        [d[0] for d in res.description], orows
    )


def test_decode_empty_log_is_typed_empty_frame(spark, tmp_path):
    """A binlog holding no transaction packs into no task: decode_ranges
    returns a typed empty frame, not a zero-partition Range."""
    from mysql_clickhouse_replication_spark.plans.cdc import decode_ranges
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        MAGIC,
        encode_changelog,
        mapped,
        tx_boundaries,
    )

    path = str(tmp_path / "empty.binlog")
    with open(path, "wb") as fh:
        fh.write(encode_changelog([]))
    with mapped(path) as mm:
        bounds = [len(MAGIC), *tx_boundaries(mm)]
    df = decode_ranges(
        spark, [(path, lo, hi) for lo, hi in zip(bounds, bounds[1:])]
    )
    assert df.dtypes == [
        ("op", "string"), ("pk", "bigint"), ("seq", "bigint"),
        ("value", "double"),
    ]
    assert df.collect() == []


def test_decode_sharded_split_sized_arrow_tasks(plans, spark, sf_dir, duck):
    """cdc_decode_sharded: transaction ranges from the header-only index
    walk, packed into split-sized Arrow map tasks (the r9 serial-tail
    item stays closed: a lowered split fans the decode out)."""
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        MAGIC,
        mapped,
        record_changelog,
        tx_boundaries,
    )

    path = record_changelog(f"{sf_dir}/events.parquet")
    with mapped(path) as mm:
        bounds = [len(MAGIC), *tx_boundaries(mm)]
    ranges = [(path, lo, hi) for lo, hi in zip(bounds, bounds[1:])]
    _assert_decode_split(plans, spark, sf_dir, duck, "cdc_decode_sharded", ranges)


def test_interval_coverage_user_partitioned_two_exchanges(plans):
    """events_interval_coverage: both island windows partition by
    user_id, the per-island and per-user aggregations REUSE that
    partitioning (hashpartitioning(user_id) satisfies the clustered
    requirement of groupBy(user_id, island)), so the whole key pays
    exactly two exchanges: user_id + the final bounded histogram."""
    p = plans("events_interval_coverage")
    tree = p.split("(1) Scan parquet")[0]
    assert tree.count("Scan parquet") == 1, p
    ex = re.findall(r"\bExchange \(\d+\)", tree)
    assert len(ex) == 2, p
    wins = re.findall(r"Arguments: \[(?:max|sum)\(.*?\], \[(.*?)\], \[", p)
    assert wins and all("user_id" in g for g in wins), p


def test_gopher_signals_map_only_single_exchange(plans):
    """docs_quality_signals_gopher: map-only signal extraction (the
    higher-order filters never explode) + ONE lang-keyed aggregation —
    one scan, one exchange, zero windows, zero joins."""
    p = plans("docs_quality_signals_gopher")
    tree = p.split("(1) Scan parquet")[0]
    assert tree.count("Scan parquet") == 1, p
    assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 1, p
    assert "Window" not in tree and "Join" not in tree, p
    assert "Generate" not in tree, p  # no explode anywhere


def test_watermark_sharded_all_windows_partitioned(plans):
    """events_watermark_lateness_sharded: the SHARD clock's windows —
    including the band-prefix combine — all carry the shard in their
    partition spec (nothing shard-clock-related is single-partition);
    exactly ONE unpartitioned window remains: the global comparison
    clock's |bands|-row prefix combine, the cost the key exists to
    contrast."""
    p = plans("events_watermark_lateness_sharded")
    wins = re.findall(r"Arguments: \[max\(.*?\], \[(.*?)\], \[", p)
    assert wins, p
    unpart = [g for g in wins if "shard" not in g and "_band" not in g]
    assert not unpart, wins
    band_only = [g for g in wins if "shard" not in g]
    assert len(band_only) <= 1, wins


def test_triangle_degree_broadcast_bounded(spark, sf_dir, plans):
    """graph_triangle_count's degree attach (r10 verdict item #6): the
    |V|-row broadcast must be a GUARDED decision, not a blind hint.
    Pins (a) the gate fixture is under the bound and the executed plan
    really broadcasts the degree frame, (b) the sf1 fixture family
    (10x sf0.1's parts) is OVER the 10 MB default — the reason the
    guard exists — and (c) shrinking the threshold flips the guard and
    the plan to the shuffle-join fallback with no broadcast anywhere.
    The guard's memo evicts entries of dead sessions on lookup."""
    import duckdb

    from mysql_clickhouse_replication_spark.operators.analytics import (
        _degree_frame_broadcastable,
    )

    def guard():
        return _degree_frame_broadcastable(
            spark,
            sf_dir,
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
        )

    memo = _degree_frame_broadcastable.memo
    stale = ("app-dead-session", sf_dir, "10485760")
    memo[stale] = (True, ())
    assert guard()
    assert stale not in memo
    assert "BroadcastHashJoin" in plans("graph_triangle_count")

    (n01,) = duckdb.connect().execute(
        "SELECT COUNT(*) FROM"
        " read_parquet('/root/testdata/sf0.1/part.parquet')"
    ).fetchone()
    assert 10 * n01 * 64 > 10_485_760  # sf1 bound exceeds the default

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        assert not guard()
        p = _plan(e.queries()["graph_triangle_count"](spark, sf_dir))
        assert "BroadcastHashJoin" not in p, p
        assert "Join" in p  # the attach still happens, as a shuffle join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_decode_multifile_whole_files_per_task(plans, spark, sf_dir, duck):
    """cdc_decode_multifile: each rotated file is one range [4, size),
    never split; the gate fixture actually rotates (>1 file), so the
    lowered split runs the files as separate tasks."""
    import os

    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        MAGIC,
        record_changelog_rotated,
    )

    paths = record_changelog_rotated(f"{sf_dir}/events.parquet")
    assert len(paths) > 1, paths  # rotation must fire at the gate SF
    ranges = [(p, len(MAGIC), os.path.getsize(p)) for p in paths]
    _assert_decode_split(
        plans, spark, sf_dir, duck, "cdc_decode_multifile", ranges
    )


def test_bpe_merge_step_one_corpus_scan_bounded_tops(plans, spark, sf_dir):
    """text_bpe_merge_step: the corpus is read ONCE (the persisted
    word-count frame feeds both the pre-pair counts and the
    re-segmentation — without the pin each branch would rescan
    documents), the argmax winner attaches as a broadcast 1-row
    crossJoin (never a collect), and both top-10 surfaces compile to
    TakeOrderedAndProject (bounded heap merge), not a global sort."""
    df = e.queries()["text_bpe_merge_step"](spark, sf_dir)
    df.collect()  # reuse/cache decisions only appear in the executed plan
    p = _plan(df)
    # every "Scan parquet" line is the SAME node, re-rendered inside each
    # InMemoryTableScan's cached-plan dump — one distinct scan id == one
    # corpus read
    scan_ids = {
        m
        for ln in p.splitlines()
        if "Scan parquet" in ln
        for m in re.findall(r"\((\d+)\)", ln)
    }
    assert len(scan_ids) == 1, (scan_ids, p)
    assert "InMemoryRelation" in p, p  # the word frame is pinned
    assert p.count("TakeOrderedAndProject") >= 2, p  # both bounded tops
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    spark.catalog.clearCache()  # release the persisted word frame


def test_bpe_train_steps_delegates_to_checkpointed_trainer(
    plans, spark, sf_dir
):
    """text_bpe_train_steps (r14: delegated to the shared _bpe_train):
    the returned surface is the union of three symbol audits over the
    CHECKPOINTED per-round vocabularies — the corpus scan, pair
    aggregations, and argmaxes all ran once at construction time, so
    the surface plan carries NO parquet scan, NO join of any kind, and
    the merge tokens/pair counts are foldable literals."""
    df = e.queries()["text_bpe_train_steps"](spark, sf_dir)
    rows = df.collect()
    assert [r.step for r in rows] == [1, 2, 3], rows
    p = _plan(df)
    assert "Scan parquet" not in p, p
    assert "Join" not in p, p
    assert "Union" in p, p
    spark.catalog.clearCache()


def test_gram_matrix_partial_agg_no_python(plans):
    """embedding_gram_matrix: the per-task partial gramian is the
    built-in partial HashAggregate over the pair generator — one scan
    reading ONLY the embedding column, pure JVM expressions (no Python
    on the data path), no join, and exactly one exchange that carries
    only the d(d+1)/2 aggregated cells.

    Asserts the COLD construction plan: earlier session tests (the
    registry-wide oracle compare) materialize the shared _gram_cells memo,
    and a memo hit renders as InMemoryTableScan instead of the parquet
    scan — evict it first so the audited plan is the one that runs at
    scale."""
    from mysql_clickhouse_replication_spark.functions import ann_index

    memo = ann_index._gram_cells.memo
    for k in list(memo):
        memo.pop(k)[0].unpersist()
    p = plans("embedding_gram_matrix")
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and "embedding" in read[0] and "vec_id" not in read[0]
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Join" not in p and "Window" not in p
    assert plans("embedding_gram_matrix", "simple").count(
        "Exchange hashpartitioning"
    ) == 1
    # partial aggregation before the exchange: the partial_sum must
    # appear in a HashAggregate that FEEDS the exchange
    assert "partial_sum" in p


def test_epoch_shuffle_one_pass_no_window(plans):
    """docs_epoch_shuffle: the per-epoch assignment audit is ONE corpus
    pass — a 2-element epoch explode, map-only lattice hashing, then a
    single map-combined groupBy(epoch, shard).  No window (position
    comes from sort-on-write at scale, not a rank), no self-join (both
    epochs' shards derive per-row), no Python."""
    p = plans("docs_epoch_shuffle")
    assert "Window" not in p and "Join" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert plans("docs_epoch_shuffle", "simple").count(
        "Exchange hashpartitioning"
    ) == 1
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and "doc_id" in read[0] and "lang" not in read[0]


def test_ttl_rollup_scalar_anchor_calendar_agg(plans):
    """cdc_ttl_rollup: the horizon anchor is a 1-row broadcast
    (BroadcastNestedLoopJoin — the repo's scalar-threshold pattern,
    never a shuffled join), the expired branch aggregates on
    (event_type, day) — a calendar-bounded shuffle — and the retained
    branch is a pure projection unioned in with no extra exchange."""
    p = plans("cdc_ttl_rollup")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "Union" in p
    # exactly one data-sized exchange: the (event_type, day) rollup
    assert plans("cdc_ttl_rollup", "simple").count(
        "Exchange hashpartitioning"
    ) == 1
    assert "partial_sum" in p  # map-side combine on the decimal sums


def test_bloom_skip_index_single_exchange_probe_words(plans):
    """scan_bloom_skip_index: index build is ONE map-combined
    groupBy(granule) (single data-sized exchange), the needle anchor is
    a 1-row broadcast (BroadcastNestedLoopJoin — the scalar pattern),
    no window, and the scan reads only the two columns the index needs
    (event_id for the granule, user_id for the hash)."""
    p = plans("scan_bloom_skip_index")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert plans("scan_bloom_skip_index", "simple").count(
        "Exchange hashpartitioning"
    ) == 1
    reads = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    main = [ln for ln in reads if "user_id" in ln]
    assert main and "event_id" in main[0] and "props" not in main[0]


def test_pca_power_iteration_plan_is_literal(plans):
    """sim_pca_power_iteration (r14): the d^2-bounded matvecs run at
    PLAN time over the collected memoized gram (the MLlib RowMatrix
    split), so the emitted plan is a 64-row LocalRelation — zero
    exchanges, zero joins, no window, no Python.  The data-sized work
    (the shared gram corpus pass) is paid when _gram_cells
    materializes, exactly as before."""
    p = plans("sim_pca_power_iteration")
    assert "LocalTableScan" in p or "Scan ExistingRDD" in p
    assert "Exchange" not in p and "Join" not in p
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_pca_project_map_only_dot_product(plans, spark, sf_dir):
    """embedding_pca_project: the corpus-side projection is a MAP-ONLY
    zip_with/aggregate dot product against a 1-row broadcast direction
    array — no window, no sort-merge join, no Python; the output
    partitioning is the scan's (no exchange ever touches the N-row
    path), and buckets land in [0, 9] with both extremes realized."""
    p = plans("embedding_pca_project")
    assert "zip_with" in p
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    rows = e.queries()["embedding_pca_project"](spark, sf_dir).collect()
    bks = sorted({r.bucket for r in rows})
    assert bks[0] == 0 and bks[-1] == 9
    mn = min(r.proj_fp for r in rows)
    mx = max(r.proj_fp for r in rows)
    for r in rows:
        assert r.bucket == (r.proj_fp - mn) * 10 // (mx - mn + 1)


def test_bpe_fertility_one_scan_literal_merges(plans, spark, sf_dir):
    """text_bpe_fertility (r14: LEARN from the memoized _bpe_train):
    this key's OWN plan reads the corpus exactly once (the APPLY side);
    the three merge pairs enter as foldable literals — no broadcast
    1-row crossJoins, no window, no shuffled join; the fold is one
    lang-keyed agg."""
    df = e.queries()["text_bpe_fertility"](spark, sf_dir)
    df.collect()  # cache decisions only appear in the executed plan
    p = _plan(df)
    assert "Window" not in p and "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p, p  # literals, not 1-row joins
    scan_ids = {
        m for m in re.findall(r"\((\d+)\) Scan parquet", p)
    }
    assert len(scan_ids) <= 1, (sorted(scan_ids), p[:2000])
    spark.catalog.clearCache()


def test_set_skip_index_single_group_agg(plans):
    """scan_set_skip_index: the index build is one granule-keyed
    aggregate (the per-granule distinct adds Spark's two-phase distinct
    — at most two exchanges, both granule-bounded), the needle anchor
    is a 1-row broadcast, no window, no Python."""
    p = plans("scan_set_skip_index")
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert plans("scan_set_skip_index", "simple").count(
        "Exchange hashpartitioning"
    ) <= 2


def test_tokenbf_skip_index_bounded_exchanges_no_python(plans, spark, sf_dir):
    """scan_tokenbf_skip_index: the needle argmin is a vocab-bounded agg
    feeding a TakeOrderedAndProject + 1-row broadcast; the index build
    is granule-keyed aggregation (its per-granule doc distinct adds the
    two-phase form) — every exchange vocabulary- or granule-bounded, no
    window, no sort-merge join, no Python.  Property: the Bloom
    no-false-negative contract, tokenbf_hit >= true_hit on every
    granule, and the probe prunes at least one granule (non-vacuous)."""
    p = plans("scan_tokenbf_skip_index")
    assert "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert plans("scan_tokenbf_skip_index", "simple").count(
        "Exchange hashpartitioning"
    ) <= 3
    rows = e.queries()["scan_tokenbf_skip_index"](spark, sf_dir).collect()
    assert rows
    assert all(r.tokenbf_hit >= r.true_hit for r in rows)
    assert any(r.tokenbf_hit == 0 for r in rows)


def test_projection_route_pushdown_both_layouts(plans, spark, sf_dir):
    """scan_projection_route: each probe's filter reaches ITS routed
    layout's parquet scan as PushedFilters (date predicate on the
    date-sorted sink, custkey equality on the custkey-sorted sink) —
    the row-group pruning the matching sort order exists for; no
    sort-merge join, no window, no Python anywhere."""
    df = e.queries()["scan_projection_route"](spark, sf_dir)
    p = _plan(df)
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln and "GreaterThanOrEqual" in ln
               for ln in pushed), pushed
    # the custkey point probe pushes the EQUALITY itself (needle is a
    # plan-time literal — r12 ADVICE #2), not just IsNotNull
    assert any("EqualTo(o_custkey" in ln for ln in pushed), pushed
    rows = {r.probe: r for r in df.collect()}
    assert rows["date_window"].layout == "by_orderdate"
    assert rows["cust_point"].layout == "by_custkey"
    assert rows["date_window"].n_rows > 0 and rows["cust_point"].n_rows > 0


def test_ivfpq_search_plan_broadcast_only(plans, spark, sf_dir):
    """sim_ivfpq_search's corpus path is map-only under broadcasts: the
    candidate join is a BroadcastHashJoin on the IVF cell (the probe
    side is 20 rows), every 1-row attach is a broadcast nested-loop
    cross, no SortMergeJoin anywhere (the recall join broadcasts its
    bounded ranked side), no Python, and the only hash exchanges are
    the per-query window/agg ones over probe-bounded frames."""
    p = plans("sim_ivfpq_search")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    simple = plans("sim_ivfpq_search", "simple")
    assert simple.count("Exchange hashpartitioning") <= 4, simple


def test_ivfpq_residual_plan_broadcast_only(plans):
    """sim_ivfpq_residual keeps the fused-search plan contract: the
    candidate join is a BroadcastHashJoin on the IVF cell (probe side =
    20 rows carrying the per-cell residual LUTs), 1-row codebook /
    centroid attaches are broadcast crosses, no SortMergeJoin, no
    Python — residual encoding must not change the scale shape."""
    p = plans("sim_ivfpq_residual")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    simple = plans("sim_ivfpq_residual", "simple")
    assert simple.count("Exchange hashpartitioning") <= 4, simple


def test_ivf_search_cells_not_null_guarded(spark, sf_dir):
    """The trained-state literals carry their exact types: the IVF
    centroid and codebook frames come from ``values_df`` as
    ``named_struct`` literals whose ``cid`` fields are non-null, so the
    probed cell ``pcid`` is non-null and Catalyst adds no
    ``isnotnull(pcid)`` filter to the candidate join.  A literal typed
    by a CAST to its DDL struct type instead makes every field
    nullable, and the filter appears in all three IVF search keys."""
    qs = e.queries()
    for key in ("sim_ivfpq_search", "sim_ivfpq_search_trained",
                "sim_ivfpq_residual"):
        plan = qs[key](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        assert "isnotnull(pcid" not in plan.toString(), key


def test_epoch_resume_plan_no_global_sort(plans):
    """docs_epoch_shuffle_resume's post-write audit: rank windows are
    (shard, bucket)-bounded and the cursor join is a broadcast — no
    global Sort over the corpus (sortWithinPartitions in the landed
    write is per-task), no SortMergeJoin, no Python."""
    p = plans("docs_epoch_shuffle_resume")
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    # every Sort is window-local: the formatted Sort node's Arguments
    # line is "[keys...], <global>, 0" — none may carry global=true
    sort_args = [
        ln.strip()
        for ln in p.splitlines()
        if ln.strip().startswith("Arguments: [")
        and "ASC NULLS" in ln
        and ln.strip().endswith(", 0")
    ]
    assert sort_args, p  # the window sorts must exist
    assert all(", false, 0" in ln for ln in sort_args), sort_args


def test_heartbeat_plan_single_pass(plans):
    """cdc_heartbeat is one map-combined per-table aggregate + 1-row
    broadcasts + a generated heartbeat frame: no SortMergeJoin, no
    Python, no corpus-keyed window."""
    p = plans("cdc_heartbeat")
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Window" not in p
