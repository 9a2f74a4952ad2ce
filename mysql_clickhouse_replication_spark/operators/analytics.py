"""Warehouse-analytics composites round 3, third wave (SURVEY.md
section 2.L): dynamic partition pruning, deterministic mode, mergeable
HLL rollups, marketing attribution, and RFM segmentation.

Scale notes (100 TB):

* join_dynamic_partition_prune is THE partition-layout payoff: a fact
  table laid out by month is pruned at runtime from the dim side's
  selective filter — Catalyst injects a ``dynamicpruning`` subquery into
  the fact scan's PartitionFilters, so only the matching month
  directories are ever listed or read.  On a 100 TB fact that is the
  difference between scanning 12/80 partitions and scanning all of them.
* agg_hll_mergeable demonstrates the re-aggregatable-sketch pattern:
  partial HLL sketches built per (group, shard) then ``hll_union_agg``-ed
  — exactly how a rollup table stores distinct-count state that can be
  merged across days/partitions without re-scanning raw data.
* events_attribution / analytics_rfm shuffle once on the entity key and
  use struct-min/max (single agg pass) rather than self-joins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import scratch_path, session_memo, table
from ._util import D12, banded_row_number, ntile_from_rank, values_df


@register(
    "join_dynamic_partition_prune",
    oracle="""
WITH dim AS (
  SELECT DISTINCT year(l_shipdate) * 100 + month(l_shipdate) AS mkey
  FROM lineitem
  WHERE l_returnflag = 'R'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
SELECT CAST(mkey AS BIGINT) AS mkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM orders
JOIN dim ON year(o_orderdate) * 100 + month(o_orderdate) = mkey
GROUP BY mkey
""",
)
def join_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a month-partitioned fact layout.

    orders is landed partitioned by ``o_mkey = year*100 + month`` (the
    production layout for a time-series fact), then joined to a dim of
    months derived from a SELECTIVE lineitem filter.  Catalyst turns the
    dim side into a runtime ``dynamicpruning`` subquery on the fact
    scan's partition filters (asserted in tests/test_plans.py), so only
    the 12 matching month directories are read — no full-table scan even
    though the pruning months are only known at run time.

    The partitioned copy is written fresh into a uuid scratch dir per
    call (single map-side pass, pre-clustered by ``repartition(o_mkey)``
    so each month lands as one file, not one-per-task).
    """
    o = table(spark, sf_dir, "orders").withColumn(
        "o_mkey", F.year("o_orderdate") * 100 + F.month("o_orderdate")
    )
    sink = scratch_path("dpp_orders", os.path.basename(sf_dir))
    (
        o.repartition("o_mkey")
        .write.mode("overwrite")
        .partitionBy("o_mkey")
        .parquet(sink)
    )
    fact = spark.read.parquet(sink)
    dim = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("mkey")
        )
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.o_mkey == dim.mkey)
        .groupBy(fact.o_mkey)
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(D12)).cast("double").alias("sum_price"),
        )
        .select(
            F.col("o_mkey").cast("bigint").alias("mkey"), "n_orders", "sum_price"
        )
    )


@register(
    "agg_mode",
    oracle="""
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority
),
ranked AS (
  SELECT o_orderstatus, o_orderpriority, cnt,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt DESC, o_orderpriority) AS rn
  FROM counts
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
FROM ranked WHERE rn = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value).

    Spark's builtin ``F.mode`` returns an ARBITRARY value on frequency
    ties, so the hash-checkable form is count-then-argmax with a total
    tiebreak order (count DESC, value ASC).  Two shuffles of SMALL data:
    the groupBy reduces the fact to |groups x values| rows first, and
    the window runs over that reduced set — never over raw rows.
    """
    counts = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


@register(
    "agg_hll_mergeable",
    oracle="""
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_cnt,
       TRUE AS within_5pct
FROM orders
GROUP BY o_orderpriority
""",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup: partial sketches per (group, shard)
    are union-merged into the group total — the storage pattern for
    distinct-count state in an incrementally-maintained rollup table
    (sketch columns merge across days/partitions; exact COUNT DISTINCT
    state cannot).

    The hash-gate contract: the ESTIMATE is engine-specific (Apache
    DataSketches HLL), so the emitted columns are the exact count plus a
    boolean asserting the estimate landed within 5 % — a wildly-off
    sketch flips the boolean and fails the hash, while the oracle stays
    engine-portable.  lgConfigK=12 gives ~1.6 % standard error.
    """
    o = table(spark, sf_dir, "orders")
    partial = (
        o.withColumn("shard", F.pmod(F.col("o_custkey"), F.lit(8)))
        .groupBy("o_orderpriority", "shard")
        .agg(
            F.hll_sketch_agg("o_custkey", 12).alias("sketch"),
            F.count_distinct("o_custkey").alias("shard_exact"),
        )
    )
    merged = partial.groupBy("o_orderpriority").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
        # shards partition o_custkey by pmod, so shard-exacts sum to the
        # group exact — the same merge identity, checkable without resketch
        F.sum("shard_exact").alias("exact_cnt"),
    )
    return merged.select(
        "o_orderpriority",
        "exact_cnt",
        (
            F.abs(F.col("est") - F.col("exact_cnt"))
            / F.col("exact_cnt")
            <= F.lit(0.05)
        ).alias("within_5pct"),
    )


@register(
    "events_attribution",
    oracle="""
WITH p AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'purchase'
),
fp AS (
  SELECT user_id, ts AS fp_ts, event_id AS fp_id, value AS fp_value
  FROM p WHERE rn = 1
),
touches AS (
  SELECT e.user_id, e.ts, e.event_id, e.event_type, fp.fp_value
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.event_type <> 'purchase'
    AND (e.ts < fp.fp_ts OR (e.ts = fp.fp_ts AND e.event_id < fp.fp_id))
),
ranked AS (
  SELECT user_id, fp_value,
         FIRST_VALUE(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS first_touch,
         FIRST_VALUE(event_type) OVER
           (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS last_touch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM touches
)
SELECT first_touch, last_touch,
       COUNT(*) AS n_users,
       CAST(SUM(CAST(fp_value AS DECIMAL(12,2))) AS DOUBLE) AS attributed_value
FROM ranked WHERE rn = 1
GROUP BY first_touch, last_touch
""",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution.

    Per user: the first purchase (ties broken by event_id), then the
    first and last non-purchase events strictly before it, then the
    purchase value attributed to the (first_touch, last_touch) channel
    pair.  One shuffle on user_id for the purchase argmin, a broadcast
    of the converted-user set back onto the event stream, and a single
    struct-min/max agg pass — no self-join of the raw stream, no window
    over unaggregated events.  Struct min/max is deterministic because
    (ts, event_id) is a total order.
    """
    ev = table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id", "value")).alias("fp"))
        .select(
            "user_id",
            F.col("fp.ts").alias("fp_ts"),
            F.col("fp.event_id").alias("fp_id"),
            F.col("fp.value").alias("fp_value"),
        )
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .join(F.broadcast(fp), "user_id")
        .filter(
            (F.col("ts") < F.col("fp_ts"))
            | ((F.col("ts") == F.col("fp_ts")) & (F.col("event_id") < F.col("fp_id")))
        )
    )
    per_user = touches.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("first_ev"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("last_ev"),
        F.first("fp_value").alias("fp_value"),
    )
    return (
        per_user.groupBy(
            F.col("first_ev.event_type").alias("first_touch"),
            F.col("last_ev.event_type").alias("last_touch"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("fp_value").cast(D12)).cast("double").alias(
                "attributed_value"
            ),
        )
    )


@register(
    "analytics_rfm",
    oracle="""
WITH base AS (
  SELECT o_custkey,
         datediff('day', MAX(o_orderdate), TIMESTAMP '2001-09-01') AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders
  GROUP BY o_custkey
)
SELECT o_custkey, recency_days, frequency, monetary,
       NTILE(4) OVER (ORDER BY recency_days ASC,  o_custkey) AS r_score,
       NTILE(4) OVER (ORDER BY frequency   DESC, o_custkey) AS f_score,
       NTILE(4) OVER (ORDER BY monetary    DESC, o_custkey) AS m_score
FROM base
""",
)
def analytics_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order at a
    fixed anchor), frequency (order count), monetary (exact-decimal
    lifetime spend), each banded into quartiles with a total tiebreak
    order (metric, custkey) so the quartile split is hash-deterministic.

    Scale plan (the r4 verdict's perf-weak swap, now SHIPPED): no
    single-reducer NTILE windows.  Each score comes from an exact
    DISTRIBUTED rank — rows band by a per-row value prefix (recency
    day / negated frequency / negated 1k-spend band), rank locally
    within each hash-partitioned band, and add broadcast per-band
    prefix offsets (banded_row_number); the only single-partition
    window left runs over |bands| summary rows.  NTILE(4) is then the
    front-loaded-remainder closed form on (rank, n) — bit-identical to
    the oracle's NTILE by construction (ntile_from_rank), at any
    customer count.

    r15 job-count fix (§2.4/§5): the three ranks are INDEPENDENT
    functions of ``base``, but the former three CHAINED
    banded_row_number passes made each later pass's broadcast offset
    subtree nest the whole earlier pipeline (the m-band offsets derived
    from the f-joined frame, which nested the r-joined frame...) —
    measured 24 scheduled jobs per materialization, each broadcast
    build a separate job over an ever-deeper subtree.  The local rank
    windows still chain (windows schedule no jobs), but the three
    per-band offset frames now derive directly from the SHALLOW banded
    base projection, and the three band columns land in one batched
    projection.  Rank values are identical by construction (chaining
    never altered earlier rank columns; pinned vs the oracle's NTILE).
    ReuseExchange still dedupes the repeated base-aggregate shuffle at
    runtime, and the explicit-cache alternative remains rejected (a
    cached base scan blocks pipelining: +80%% wall at sf0.1 when
    tried, r4)."""
    base = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit("2001-09-01").cast("timestamp"), F.max("o_orderdate")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast(D12)).alias("monetary_dec"),
        )
    )
    b = base.select(
        "*",
        F.col("recency_days").alias("_rb"),
        (-F.col("frequency")).alias("_fb"),
        (-F.floor(F.col("monetary_dec") / 1000).cast("bigint")).alias("_mb"),
    )
    wr = Window.partitionBy("_rb").orderBy(
        F.asc("recency_days"), F.asc("o_custkey")
    )
    wf = Window.partitionBy("_fb").orderBy(
        F.desc("frequency"), F.asc("o_custkey")
    )
    wm = Window.partitionBy("_mb").orderBy(
        F.desc("monetary_dec"), F.asc("o_custkey")
    )
    loc = b.select(
        "*",
        F.row_number().over(wr).alias("_rloc"),
        F.row_number().over(wf).alias("_floc"),
        F.row_number().over(wm).alias("_mloc"),
    )

    def band_off(band: str, alias: str) -> DataFrame:
        # banded_row_number's offset stage, derived from the shallow
        # banded projection instead of the chained frame
        woff = Window.orderBy(band).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return (
            b.groupBy(band)
            .agg(F.count(F.lit(1)).alias("_bn"))
            .select(
                band,
                F.coalesce(F.sum("_bn").over(woff), F.lit(0)).alias(alias),
            )
        )

    ranked = (
        loc.join(F.broadcast(band_off("_rb", "_roff")), "_rb")
        .join(F.broadcast(band_off("_fb", "_foff")), "_fb")
        .join(F.broadcast(band_off("_mb", "_moff")), "_mb")
        .select(
            "*",
            (F.col("_roff") + F.col("_rloc")).alias("_r_rank"),
            (F.col("_foff") + F.col("_floc")).alias("_f_rank"),
            (F.col("_moff") + F.col("_mloc")).alias("_m_rank"),
        )
    )
    n_total = base.agg(F.count(F.lit(1)).alias("_n"))
    n = F.col("_n")
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            F.col("monetary_dec").cast("double").alias("monetary"),
            ntile_from_rank(F.col("_r_rank"), n, 4).alias("r_score"),
            ntile_from_rank(F.col("_f_rank"), n, 4).alias("f_score"),
            ntile_from_rank(F.col("_m_rank"), n, 4).alias("m_score"),
        )
    )


@register(
    "events_rolling_distinct",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
mx AS (SELECT MAX(d) AS max_d FROM ud),
contrib AS (
  SELECT user_id,
         unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS rd
  FROM ud
)
SELECT rd AS report_day, COUNT(DISTINCT user_id) AS wau
FROM contrib, mx
WHERE rd <= max_d
GROUP BY rd
""",
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (WAU-per-day): each distinct
    (user, activity-day) pair contributes to the 7 report days it falls
    inside, then a plain count-distinct per report day.

    This explode-by-window-membership shape is THE scalable form of
    sliding-window COUNT DISTINCT: a windowed distinct is not mergeable
    frame-to-frame (engines either forbid it or buffer whole frames),
    while this is a 7x fan-out of the ALREADY-DEDUPED (user, day) set
    followed by a map-combinable distinct agg.  The tail is clipped at
    the corpus max day via a 1-row broadcast, keeping every reported
    window fully observed."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    mx = ud.agg(F.max("d").alias("max_d"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)")
        ).alias("rd"),
    )
    return (
        contrib.join(F.broadcast(mx), contrib.rd <= mx.max_d)
        .groupBy(F.col("rd").alias("report_day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@register(
    "events_sequence_match",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS pos
  FROM events WHERE event_type IN ('view', 'purchase', 'error')),
carry AS (
  SELECT user_id, event_type,
         MAX(CASE WHEN event_type = 'view' THEN pos END)
             OVER (PARTITION BY user_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS last_view,
         MAX(CASE WHEN event_type = 'error' THEN pos END)
             OVER (PARTITION BY user_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS last_error
  FROM seq)
SELECT user_id,
       BOOL_OR(event_type = 'purchase' AND last_view IS NOT NULL
               AND (last_error IS NULL OR last_view > last_error)) AS matched
FROM carry GROUP BY user_id
""",
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sequenceMatch('(?1)(?3)' with a (?2) breaker) parity:
    per user, does a view -> purchase pair occur IN ORDER with no error
    event between them?  The scalable form is carry windows, not
    pattern-matching self-joins: assign each relevant event an integer
    position in the user's timeline (total order: ts, event_id), carry
    the last-seen view/error positions forward with a running
    conditional MAX, and a purchase row matches iff its carried view is
    more recent than its carried error.  One user_id exchange shared by
    all three window functions + the final aggregate; integer positions
    keep every comparison engine-portable."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase", "error"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w_pos = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = ev.withColumn("pos", F.row_number().over(w_pos)).select(
        "user_id",
        "event_type",
        F.max(
            F.when(F.col("event_type") == "view", F.col("pos"))
        ).over(w_carry).alias("last_view"),
        F.max(
            F.when(F.col("event_type") == "error", F.col("pos"))
        ).over(w_carry).alias("last_error"),
    )
    row_match = (
        (F.col("event_type") == "purchase")
        & F.col("last_view").isNotNull()
        & (F.col("last_error").isNull() | (F.col("last_view") > F.col("last_error")))
    )
    return carry.groupBy("user_id").agg(F.bool_or(row_match).alias("matched"))


@register(
    "events_cohort_ltv",
    oracle="""
WITH signup AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
rev AS (
  SELECT date_trunc('week', s.signup_ts)::TIMESTAMP AS cohort_week,
         CAST(date_diff('day', CAST(s.signup_ts AS DATE),
                        CAST(e.ts AS DATE)) // 7 AS INTEGER) AS age_weeks,
         e.user_id,
         CAST(e.value AS DECIMAL(12,2)) AS v
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts),
weekly AS (
  SELECT cohort_week, age_weeks,
         COUNT(DISTINCT user_id) AS n_active,
         SUM(v) AS revenue
  FROM rev GROUP BY cohort_week, age_weeks)
SELECT cohort_week, age_weeks, n_active,
       CAST(revenue AS DOUBLE) AS revenue,
       CAST(SUM(revenue) OVER (PARTITION BY cohort_week ORDER BY age_weeks
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           AS cum_revenue
FROM weekly
""",
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users are grouped by signup week and
    purchase revenue is accumulated per cohort age (whole weeks since
    signup), the standard LTV/retention-revenue matrix ClickHouse
    deployments build over replicated event tables.

    Shape: per-user signup argmin (map-combined), ONE shuffle join back
    onto the purchase stream keyed by user_id, keyed aggregate down to
    the |cohorts x ages| matrix, then the cumulative window runs over
    that already-reduced set (never raw events).  Ages are integer day
    arithmetic on DATE casts — no timestamp subtraction reaches the
    output — and revenue is exact decimal until the final DOUBLE."""
    ev = table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .select(
            F.date_trunc("week", "signup_ts").alias("cohort_week"),
            (
                F.datediff(F.col("ts").cast("date"), F.col("signup_ts").cast("date"))
                / 7
            ).cast("int").alias("age_weeks"),
            "user_id",
            F.col("value").cast(D12).alias("v"),
        )
    )
    weekly = rev.groupBy("cohort_week", "age_weeks").agg(
        F.countDistinct("user_id").alias("n_active"),
        F.sum("v").alias("revenue"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return weekly.select(
        "cohort_week",
        "age_weeks",
        "n_active",
        F.col("revenue").cast("double").alias("revenue"),
        F.sum("revenue").over(w).cast("double").alias("cum_revenue"),
    )


@register(
    "events_ab_ztest",
    oracle="""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 95
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
v AS (
  SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
  FROM per_user)
SELECT n_a, n_b, c_a, c_b,
       CAST(c_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
       CAST(c_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
       CAST(FLOOR(z_score * 10000) AS BIGINT) AS z_e4,
       CAST(COALESCE(ABS(z_score) > 1.96, FALSE) AS INT) AS significant
FROM (
  SELECT n_a, n_b, c_a, c_b,
         CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
           (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
           / SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                  * (1.0 / n_a + 1.0 / n_b))
         END AS z_score
  FROM v) t
""",
)
def events_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (ClickHouse stats-function family parity):
    two-proportion pooled z-test on per-user conversion between variants
    (assignment = user_id parity — the deterministic hash-split an
    experimentation system uses).  Every input to the floating math is
    an EXACT integer (user counts, converted counts), so both engines
    feed identical operands into the identical IEEE expression; the
    readout is then hardened to integer surfaces for the driver gate
    (CORRECTNESS_r04: this key's rounded-double + boolean row
    hash-drifted in the pandas canonicalizer): conversion rates as
    all-integer floor-division ppm, the z statistic as
    FLOOR(z*1e4) BIGINT, significance as INT 1/0 — the same
    determinism recipe as events_anomaly_zscore.

    Shape: one user_id-keyed aggregate (map-combined conversion flags),
    then a single-row conditional rollup; the z expression runs on one
    row.  At 100 TB the per-user agg is the only data-sized stage."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 95), 1
            ).otherwise(0)
        ).alias("conv")
    )
    v = per_user.select(
        (F.col("user_id") % 2).alias("variant"), "conv"
    ).agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    p = (F.col("c_a") + F.col("c_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    conv_total = F.col("c_a") + F.col("c_b")
    users_total = F.col("n_a") + F.col("n_b")
    z = F.when(
        (conv_total > 0) & (conv_total < users_total),
        (ra - rb)
        / F.sqrt(
            p
            * (F.lit(1.0) - p)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        ),
    )
    return v.select(
        "n_a", "n_b", "c_a", "c_b",
        F.expr("CAST(c_a * 1000000 DIV n_a AS BIGINT)").alias("rate_a_ppm"),
        F.expr("CAST(c_b * 1000000 DIV n_b AS BIGINT)").alias("rate_b_ppm"),
        F.floor(z * F.lit(10000)).alias("z_e4"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).cast("int").alias(
            "significant"
        ),
    )


@register(
    "events_funnel_strict",
    oracle="""
WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
l1 AS (SELECT DISTINCT user_id FROM v),
l2 AS (
  SELECT DISTINCT v.user_id
  FROM v JOIN c ON c.user_id = v.user_id
   AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 24 HOUR
),
l3 AS (
  SELECT DISTINCT v.user_id
  FROM v
  JOIN c ON c.user_id = v.user_id
   AND c.ts > v.ts AND c.ts < v.ts + INTERVAL 24 HOUR
  JOIN p ON p.user_id = v.user_id
   AND p.ts > c.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
)
SELECT lvl AS funnel_level, COUNT(*) AS n_users
FROM (
  SELECT u.user_id,
         CASE WHEN l3.user_id IS NOT NULL THEN 3
              WHEN l2.user_id IS NOT NULL THEN 2
              ELSE 1 END AS lvl
  FROM l1 u
  LEFT JOIN l2 ON u.user_id = l2.user_id
  LEFT JOIN l3 ON u.user_id = l3.user_id
)
GROUP BY lvl
""",
)
def events_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(W)(ts, cond1, cond2, cond3)`` exact
    parity: the max funnel level per user where the WHOLE chain
    view -> click -> purchase fits inside the window of the FIRST step
    (strictly increasing ts, every later step <= anchor + 24h).  This
    differs from events_funnel, whose window re-anchors at each step
    (rolling); the strict variant is what CH's function computes and is
    the harder shape, because a late click can still chain off an
    earlier view.

    Spark shape: exactly CH's execution — per-user ordered event list,
    one linear DP pass.  collect_list the 3 step types per user,
    array_sort by (ts, type), then a single ``aggregate()`` lambda
    tracking (latest view, best purchase-deadline over valid clicks,
    level flags).  Greedy-latest-anchor is exact: for any click the
    latest prior view maximizes anchor+W, so no chain is missed.  ONE
    shuffle (groupBy user), per-user state bounded by that user's
    events — the same memory CH's windowFunnel holds.  No joins, no row
    explosion; the quadratic pair enumeration lives only in the oracle.
    Precondition (holds in every fixture, asserted implicitly by the
    hash): (user_id, ts) unique, so strict-ts ordering is total."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", F.col("event_type").alias("et")))
        ).alias("evs")
    )
    dp = F.expr(
        """
        aggregate(
          evs,
          named_struct(
            'lv', CAST(NULL AS TIMESTAMP),
            'dl', CAST(NULL AS TIMESTAMP),
            'l2', false, 'l3', false),
          (acc, x) -> CASE
            WHEN x.et = 'view' THEN named_struct(
              'lv', x.ts, 'dl', acc.dl, 'l2', acc.l2, 'l3', acc.l3)
            WHEN x.et = 'click' AND acc.lv IS NOT NULL
                 AND acc.lv < x.ts THEN named_struct(
              'lv', acc.lv,
              'dl', CASE WHEN x.ts < acc.lv + INTERVAL 24 HOURS
                          AND (acc.dl IS NULL
                               OR acc.lv + INTERVAL 24 HOURS > acc.dl)
                         THEN acc.lv + INTERVAL 24 HOURS ELSE acc.dl END,
              'l2', acc.l2 OR x.ts <= acc.lv + INTERVAL 24 HOURS,
              'l3', acc.l3)
            WHEN x.et = 'purchase' THEN named_struct(
              'lv', acc.lv, 'dl', acc.dl, 'l2', acc.l2,
              'l3', acc.l3 OR (acc.dl IS NOT NULL AND x.ts <= acc.dl))
            ELSE acc END,
          acc -> named_struct(
            'l1', acc.lv IS NOT NULL, 'l2', acc.l2, 'l3', acc.l3))
        """
    )
    lvl = (
        F.when(F.col("dp.l3"), 3)
        .when(F.col("dp.l2"), 2)
        .when(F.col("dp.l1"), 1)
        .otherwise(0)
    )
    return (
        per_user.withColumn("dp", dp)
        .withColumn("funnel_level", lvl)
        .filter(F.col("funnel_level") >= 1)
        .groupBy("funnel_level")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "events_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), isl AS (
  SELECT user_id, d,
         (d - DATE '2024-01-01')
           - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT)
           AS g
  FROM days
), st AS (
  SELECT user_id, g, COUNT(*) AS len, MIN(d) AS streak_start
  FROM isl GROUP BY user_id, g
)
SELECT user_id,
       len AS longest_streak,
       streak_start,
       CAST(SUM(len) OVER (PARTITION BY user_id) AS BIGINT) AS n_active_days,
       COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
FROM st
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY len DESC, streak_start) = 1
""",
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps-and-islands
    — the engagement metric ClickHouse users assemble from groupArray /
    arraySplit tricks, and warehouses from the classic
    date-minus-row_number island key).

    Plan: distinct (user, day) first — the streak input is the deduped
    activity calendar (bounded by users x days), NEVER the raw event
    stream — then ONE user_id exchange reused by every window here: the
    island-key row_number, and the final stats pass where max/sum/count
    windows and the rank-1 pick share the same partitioning (two sorts,
    one exchange — asserted shape elsewhere in this repo).  At 100 TB
    the cardinality after the first distinct is |users| x |days|, which
    is the ceiling for every later stage; no self-joins, no per-key
    range scans.  Tiebreak: among equal-length streaks the earliest
    start wins (total order, cross-engine deterministic)."""
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "g",
        F.datediff("d", F.lit("2024-01-01").cast("date")) - F.row_number().over(w),
    )
    st = isl.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("streak_start")
    )
    wu = Window.partitionBy("user_id")
    wr = Window.partitionBy("user_id").orderBy(F.desc("len"), "streak_start")
    return (
        st.select(
            "user_id",
            F.col("len").alias("longest_streak"),
            "streak_start",
            F.sum("len").over(wu).alias("n_active_days"),
            F.count(F.lit(1)).over(wu).alias("n_streaks"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "agg_linreg",
    oracle="""
WITH daily AS (
  SELECT event_type,
         (CAST(ts AS DATE) - DATE '2024-01-01') AS x,
         COUNT(*) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), s AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY event_type
), d AS (
  SELECT event_type, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den,
         n * syy - sy * sy AS deny,
         sx, sy
  FROM s
)
SELECT event_type,
       n AS n_days,
       ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS slope,
       ROUND((CAST(sy AS DOUBLE)
              - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS intercept,
       ROUND(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
             / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)), 6) AS r2
FROM d
""",
)
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple linear regression of daily event volume on the day index,
    per event type (ClickHouse ``simpleLinearRegression`` / ANSI
    ``regr_slope``/``regr_intercept``/``regr_r2`` parity) — the trend
    readout an ingest monitor fits over its rate series.

    Determinism: built from the five EXACT integer power sums
    (n, Σx, Σy, Σx², Σxy, Σy²) — a map-combinable constant-size state,
    the same mergeable-moments pattern as agg_mergeable_moments — and
    the closed-form estimates are derived with the IDENTICAL floating
    expression tree in both engines (exact BIGINT numerators/
    denominators cast to DOUBLE once, one divide each, rounded 6dp), so
    no summation-order or formula-assoc drift can flip a hash bit.
    Built-in regr_* aggregates are deliberately NOT used: their internal
    update order is engine-specific, this formulation is exact.

    Scale: daily pre-agg reduces the stream to |types| x |days| rows;
    the sums pass is map-combined; output is |types| rows. Zero joins,
    zero windows."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .select(
            "event_type",
            F.datediff("d", F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("x"),
            "y",
        )
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    d = s.select(
        "event_type",
        "n",
        num.alias("num"),
        den.alias("den"),
        deny.alias("deny"),
        "sx",
        "sy",
    )
    fnum = F.col("num").cast("double")
    fden = F.col("den").cast("double")
    return d.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(fnum / fden, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - (fnum / fden) * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
        F.round(
            fnum * fnum / (fden * F.col("deny").cast("double")), 6
        ).alias("r2"),
    )


@register(
    "events_audience_overlap",
    oracle="""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, COUNT(*) AS n FROM du GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_both
  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT t1, t2, n_both, s1.n AS n1, s2.n AS n2,
       ROUND(CAST(n_both AS DOUBLE)
             / CAST(s1.n + s2.n - n_both AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN sizes s1 ON s1.event_type = t1
JOIN sizes s2 ON s2.event_type = t2
""",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: |users(a) ∩
    users(b)| and the Jaccard of the two user sets for every unordered
    type pair — the segment-overlap matrix behind "do purchasers also
    click" questions (ClickHouse territory: uniqExact intersections over
    segment pairs).

    Plan shape: DISTINCT (type, user) first, then a USER-keyed self
    co-occurrence join — each user contributes at most |their types|²
    ≤ |types|² pairs, so the join fan-out is bounded per key by the
    constant |types|², never by corpus size (the same
    bounded-co-occurrence argument as events_top_paths).  Per-type set
    sizes come from the same distinct frame and enter through two
    broadcast joins (|types| rows).  One shuffle on user_id, one on the
    pair key; exact integers until the single rounded divide."""
    ev = table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.alias("a")
    b = du.alias("b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("t1"), F.col("b.event_type").alias("t2")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    s1 = sizes.select(F.col("event_type").alias("t1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("event_type").alias("t2"), F.col("n").alias("n2"))
    return (
        pairs.join(F.broadcast(s1), "t1")
        .join(F.broadcast(s2), "t2")
        .select(
            "t1",
            "t2",
            "n_both",
            "n1",
            "n2",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("n_both")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "events_record_highs",
    oracle="""
WITH w AS (
  SELECT user_id, event_id,
         CAST(value AS DECIMAL(12,2)) AS v,
         MAX(CAST(value AS DECIMAL(12,2))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM events
)
SELECT user_id,
       COUNT(*) FILTER (prev_max IS NULL OR v > prev_max) AS n_records,
       CAST(MAX(v) AS DOUBLE) AS max_value,
       MAX(CASE WHEN prev_max IS NULL OR v > prev_max
                THEN event_id END) AS last_record_seq
FROM w GROUP BY user_id
""",
)
def events_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-record tracking per user: how often a user's event value
    set a new personal best (strictly exceeded every prior value), the
    final record, and the event that set it — ClickHouse
    ``runningAccumulate``/max-state territory, and the
    high-watermark/record-high analytic every leaderboard and
    monitoring system computes.

    Determinism: record comparisons run on exact DECIMAL(12,2) casts
    (the _util convention) so a ULP of double noise can never flip a
    "new record" decision; the time order carries the event_id tiebreak.
    Scale: ONE user-keyed window (rows-frame running max — mergeable
    in-partition state, no self-join formulation) feeding a map-combined
    per-user aggregate; cardinality out = |users|."""
    ev = table(spark, sf_dir, "events")
    v = F.col("value").cast(D12)
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = ev.select(
        "user_id",
        "event_id",
        v.alias("v"),
        F.max(v).over(wprev).alias("prev_max"),
    )
    is_rec = F.col("prev_max").isNull() | (F.col("v") > F.col("prev_max"))
    return w.groupBy("user_id").agg(
        F.count_if(is_rec).alias("n_records"),
        F.max("v").cast("double").alias("max_value"),
        F.max(F.when(is_rec, F.col("event_id"))).alias("last_record_seq"),
    )


@register(
    "events_seasonality",
    oracle="""
WITH g AS (
  SELECT dayofweek(ts) AS dow, hour(ts) AS hod, COUNT(*) AS n
  FROM events GROUP BY dayofweek(ts), hour(ts)
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM g
)
SELECT dow, hod, n,
       CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
       (n = MAX(n) OVER (PARTITION BY dow)) AS is_peak_hour
FROM g, t
""",
)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality profile: the day-of-week x hour-of-day
    intensity matrix with global ppm shares and each weekday's peak
    hour flagged — the capacity-planning / anomaly-baseline readout
    every ingest dashboard renders (ClickHouse territory:
    toDayOfWeek/toHour rollups).

    Portability: DuckDB's dayofweek is 0-6 (Sunday=0) while Spark's
    dayofweek is 1-7 (Sunday=1) — the Spark side subtracts 1 to match
    (documented dialect bridge, same class as the DIV/float-div gap).
    Scale: one map-combined groupBy to a CONSTANT 7x24 matrix; the
    peak window and share math run on 168 rows."""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = g.agg(F.sum("n").cast("bigint").alias("total"))
    wd = Window.partitionBy("dow")
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "hod",
            "n",
            F.expr("CAST(n * 1000000 DIV total AS BIGINT)").alias("share_ppm"),
            (F.col("n") == F.max("n").over(wd)).alias("is_peak_hour"),
        )
    )


@register(
    "events_new_vs_returning",
    oracle="""
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
)
SELECT d,
       COUNT(*) FILTER (d = d0) AS n_new,
       COUNT(*) FILTER (d > d0) AS n_returning,
       CAST(COUNT(*) FILTER (d = d0) * 1000000 // COUNT(*) AS BIGINT)
         AS new_share_ppm
FROM act JOIN f USING (user_id)
GROUP BY d
""",
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split: each active (user, day) is
    classified against the user's FIRST-SEEN day — the acquisition/
    retention decomposition on every growth dashboard.

    Scale: first-seen is a mergeable per-user MIN ledger (the same
    argmin-rollup shape as docs_novelty_ratio's first-owner ledger — at
    100 TB it persists and new days merge in, no rescan), the activity
    frame is the deduped user-day calendar, and the classify join is
    1:1 per (user, day) on the user key.  Integer ppm share, zero float
    surface."""
    ev = table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    j = act.join(f, "user_id")
    return j.groupBy("d").agg(
        F.count_if(F.col("d") == F.col("d0")).alias("n_new"),
        F.count_if(F.col("d") > F.col("d0")).alias("n_returning"),
        F.expr(
            "CAST(count_if(d = d0) * 1000000 DIV count(1) AS BIGINT)"
        ).alias("new_share_ppm"),
    )


_ALERT_RULES = [("error", 210000), ("purchase", 205000), ("view", 260000)]


@register(
    "events_alert_rules",
    oracle=f"""
WITH rules(r_type, threshold_ppm) AS (VALUES {", ".join(
    f"('{t}', {p})" for t, p in _ALERT_RULES)}),
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n
  FROM events GROUP BY CAST(ts AS DATE), event_type
), tot AS (
  SELECT d, CAST(SUM(n) AS BIGINT) AS day_total FROM daily GROUP BY d
)
SELECT daily.d, event_type, n,
       CAST(n * 1000000 // day_total AS BIGINT) AS share_ppm,
       threshold_ppm,
       CAST(n * 1000000 // day_total > threshold_ppm AS INT) AS breach
FROM daily
JOIN tot ON daily.d = tot.d
JOIN rules ON event_type = r_type
""",
)
def events_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative alerting-rule evaluation: a (metric, threshold) rules
    table joined against the daily metric rollup, emitting each
    rule-covered metric row with its value and breach flag — the
    rules-engine shape behind "alert when error share of daily traffic
    exceeds X" monitors.  Thresholds are ppm SHARES of the day's
    traffic, so rules are scale-free (an absolute row-count threshold
    would be meaningless across SFs/cluster sizes).

    Scale: the rules table is a constant broadcast; the metric rollup
    is one map-combined daily groupBy; day totals are a second tiny
    keyed agg joined on the day key.  Evaluation is pure expression —
    all integer."""
    ev = table(spark, sf_dir, "events")
    rules = values_df(spark, _ALERT_RULES, "r_type string, threshold_ppm long")
    daily = ev.groupBy(F.to_date("ts").alias("d"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = daily.groupBy("d").agg(F.sum("n").cast("bigint").alias("day_total"))
    return (
        daily.join(tot, "d")
        .join(F.broadcast(rules), F.col("event_type") == F.col("r_type"))
        .select(
            "d",
            "event_type",
            "n",
            F.expr("CAST(n * 1000000 DIV day_total AS BIGINT)").alias("share_ppm"),
            "threshold_ppm",
            F.expr(
                "CAST(n * 1000000 DIV day_total > threshold_ppm AS INT)"
            ).alias("breach"),
        )
    )


_DRIFT_W1 = ("2024-01-01", "2024-01-08")  # [start, end)
_DRIFT_W4 = ("2024-01-22", "2024-01-29")


@register(
    "events_distribution_drift",
    oracle=f"""
WITH b AS (
  SELECT event_type,
         least(CAST(FLOOR(value / 2) AS BIGINT), 19) AS bucket,
         (ts >= TIMESTAMP '{_DRIFT_W1[0]}' AND ts < TIMESTAMP '{_DRIFT_W1[1]}')
           AS w1,
         (ts >= TIMESTAMP '{_DRIFT_W4[0]}' AND ts < TIMESTAMP '{_DRIFT_W4[1]}')
           AS w4
  FROM events
  WHERE (ts >= TIMESTAMP '{_DRIFT_W1[0]}' AND ts < TIMESTAMP '{_DRIFT_W1[1]}')
     OR (ts >= TIMESTAMP '{_DRIFT_W4[0]}' AND ts < TIMESTAMP '{_DRIFT_W4[1]}')
), g AS (
  SELECT event_type, bucket,
         COUNT(*) FILTER (w1) AS n1,
         COUNT(*) FILTER (w4) AS n2
  FROM b GROUP BY event_type, bucket
), t AS (
  SELECT event_type,
         CAST(SUM(n1) AS BIGINT) AS t1,
         CAST(SUM(n2) AS BIGINT) AS t2
  FROM g GROUP BY event_type
)
SELECT g.event_type, MAX(t1) AS n_week1, MAX(t2) AS n_week4,
       CAST(SUM(ABS(n1 * 1000000 // t1 - n2 * 1000000 // t2)) // 2 AS BIGINT)
         AS drift_ppm
FROM g JOIN t ON g.event_type = t.event_type
GROUP BY g.event_type
""",
)
def events_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week value-distribution drift per event type: total
    variation distance (in ppm) between the first and fourth week's
    20-bin value histograms — the data-drift monitor that catches a
    payload change (pricing shift, decode bug) even when row counts
    look normal.  TV distance was chosen over PSI/KL deliberately:
    it is a pure integer computation (sum of absolute ppm differences,
    halved), so no cross-engine ln() is trusted.

    Scale: one scan with both week predicates pushed down, one
    map-combined (type, bucket) agg to a CONSTANT-size histogram grid,
    totals joined back on the type key.  Everything after the first
    agg runs on |types| x 20 rows."""
    ev = table(spark, sf_dir, "events")
    w1 = (F.col("ts") >= F.lit(_DRIFT_W1[0]).cast("timestamp")) & (
        F.col("ts") < F.lit(_DRIFT_W1[1]).cast("timestamp")
    )
    w4 = (F.col("ts") >= F.lit(_DRIFT_W4[0]).cast("timestamp")) & (
        F.col("ts") < F.lit(_DRIFT_W4[1]).cast("timestamp")
    )
    b = ev.filter(w1 | w4).select(
        "event_type",
        F.least(F.floor(F.col("value") / 2).cast("bigint"), F.lit(19)).alias(
            "bucket"
        ),
        w1.alias("w1"),
        w4.alias("w4"),
    )
    g = b.groupBy("event_type", "bucket").agg(
        F.count_if(F.col("w1")).alias("n1"), F.count_if(F.col("w4")).alias("n2")
    )
    t = g.groupBy("event_type").agg(
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum("n2").cast("bigint").alias("t2"),
    )
    return (
        g.join(t, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("t1").alias("n_week1"),
            F.max("t2").alias("n_week4"),
            F.expr(
                "CAST(SUM(ABS(n1 * 1000000 DIV t1 - n2 * 1000000 DIV t2))"
                " DIV 2 AS BIGINT)"
            ).alias("drift_ppm"),
        )
    )


_MIGRATION_CUT = "2024-01-16"  # period boundary (Jan 1-15 vs 16-31)


@register(
    "analytics_segment_migration",
    oracle=f"""
WITH p1 AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(12,2))) AS v
  FROM events WHERE ts < TIMESTAMP '{_MIGRATION_CUT}' GROUP BY user_id
), q1 AS (
  SELECT user_id, NTILE(4) OVER (ORDER BY v DESC, user_id) AS q FROM p1
), p2 AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(12,2))) AS v
  FROM events WHERE ts >= TIMESTAMP '{_MIGRATION_CUT}' GROUP BY user_id
), q2 AS (
  SELECT user_id, NTILE(4) OVER (ORDER BY v DESC, user_id) AS q FROM p2
)
SELECT COALESCE(q1.q, 0) AS seg_p1,
       COALESCE(q2.q, 0) AS seg_p2,
       COUNT(*) AS n_users
FROM q1 FULL OUTER JOIN q2 USING (user_id)
GROUP BY COALESCE(q1.q, 0), COALESCE(q2.q, 0)
""",
)
def analytics_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-segment migration matrix: each user's spend quartile in
    the first half of the month vs the second, counted per (from, to)
    transition — the segment-churn view (did my top quartile stay top?)
    that sits one step past analytics_rfm's static segmentation.
    Segment 0 = absent in that period (churn-in / churn-out rows).

    Determinism: quartiles are NTILE(4) over EXACT decimal spend with
    (spend DESC, user_id) keyed tiebreaks — identical total order and
    identical NTILE remainder distribution in both engines.

    Scale plan (the r5 verdict's last real single-reducer, now
    rebuilt on the same banded machinery as analytics_rfm): each
    period's quartile comes from an exact DISTRIBUTED rank — users
    band by negated 100-unit spend band (monotone along the
    (v DESC, user_id) order), rank locally within each
    hash-partitioned band, add broadcast per-band prefix offsets
    (banded_row_number) — and NTILE(4) is the front-loaded-remainder
    closed form on (rank, n) (ntile_from_rank, all-integer idiv
    arithmetic), bit-identical to the oracle's NTILE at any user
    count.  The only single-partition windows left run over |bands|
    summary rows.  The transition join is per-user 1:1 full outer,
    and the matrix is a constant 5x5."""
    ev = table(spark, sf_dir, "events")
    cut = F.lit(_MIGRATION_CUT).cast("timestamp")

    def quartiles(df: DataFrame, pred, out: str) -> DataFrame:
        p = df.filter(pred).groupBy("user_id").agg(
            F.sum(F.col("value").cast(D12)).alias("v")
        )
        ranked = banded_row_number(
            p,
            -F.floor(F.col("v") / 100).cast("bigint"),
            [F.desc("v"), F.asc("user_id")],
            "_rank",
        )
        n_total = p.agg(F.count(F.lit(1)).alias("_n"))
        return ranked.crossJoin(F.broadcast(n_total)).select(
            "user_id",
            ntile_from_rank(F.col("_rank"), F.col("_n"), 4).alias(out),
        )

    q1 = quartiles(ev, F.col("ts") < cut, "q1")
    q2 = quartiles(ev, F.col("ts") >= cut, "q2")
    return (
        q1.join(q2, "user_id", "full_outer")
        .groupBy(
            F.coalesce("q1", F.lit(0)).alias("seg_p1"),
            F.coalesce("q2", F.lit(0)).alias("seg_p2"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_DORMANT_GAP_DAYS = 3  # fixture-calibrated (production: 14-30 days)


@register(
    "events_dormant_reactivation",
    oracle=f"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), g AS (
  SELECT user_id, d,
         LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev
  FROM days
)
SELECT CAST(date_trunc('week', d) AS DATE) AS wk,
       COUNT(*) AS n_reactivations,
       COUNT(DISTINCT user_id) AS n_users
FROM g
WHERE prev IS NOT NULL AND d - prev >= {_DORMANT_GAP_DAYS}
GROUP BY CAST(date_trunc('week', d) AS DATE)
""",
)
def events_dormant_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant-user reactivation: users returning after >=
    {_DORMANT_GAP_DAYS} days of inactivity, counted per return week —
    the resurrection metric growth teams track beside
    events_new_vs_returning (new vs returning vs RESURRECTED is the
    standard three-way growth accounting).  The gap threshold is
    fixture-calibrated (the synthetic corpus is dense; production uses
    14-30 days — one constant, same plan).

    Scale: deduped user-day calendar -> ONE user-keyed lag window ->
    map-combined weekly agg; the same single-exchange discipline as
    events_streaks (which finds the islands; this flags the island
    BOUNDARIES that exceed the dormancy gap)."""
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    g = days.withColumn("prev", F.lag("d").over(w))
    return (
        g.filter(
            F.col("prev").isNotNull()
            & (F.datediff("d", "prev") >= _DORMANT_GAP_DAYS)
        )
        .groupBy(F.date_trunc("week", "d").cast("date").alias("wk"))
        .agg(
            F.count(F.lit(1)).alias("n_reactivations"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "events_conversion_latency",
    oracle="""
WITH fv AS (
  SELECT user_id, MIN(ts) AS v0 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), fp AS (
  SELECT e.user_id, MIN(e.ts) AS p0
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND e.ts > fv.v0
  GROUP BY e.user_id
), lat AS (
  SELECT (epoch_us(p0) - epoch_us(v0)) // 1000000 AS lat_s
  FROM fv JOIN fp USING (user_id)
), dist AS (
  SELECT lat_s, COUNT(*) AS nk FROM lat GROUP BY lat_s
), c AS (
  SELECT lat_s,
         SUM(nk) OVER (ORDER BY lat_s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(nk) OVER () AS total
  FROM dist
), pct AS (
  SELECT MIN(CASE WHEN 2 * cum >= total THEN lat_s END) AS p50_lat_s,
         MIN(CASE WHEN 20 * cum >= 19 * total THEN lat_s END) AS p95_lat_s,
         MAX(lat_s) AS max_lat_s
  FROM c
), tot AS (
  SELECT (SELECT COUNT(*) FROM fv) AS n_viewers,
         (SELECT COUNT(*) FROM lat) AS n_converted
)
SELECT n_viewers, n_converted,
       CAST(n_converted * 1000000 // n_viewers AS BIGINT) AS conversion_ppm,
       p50_lat_s, p95_lat_s, max_lat_s
FROM tot, pct
""",
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: time from a user's FIRST view to their first
    subsequent purchase — exact p50/p95/max in integer seconds plus the
    conversion rate — the 'how long does conversion take' readout that
    complements events_funnel's 'how many convert' counts.

    Determinism & scale: latencies are exact integer microsecond diffs
    floored to seconds; percentiles use the histogram-cume construction
    (window input bounded by distinct second values, production buckets
    to minutes); the first-view/first-purchase anchors are mergeable
    per-user MINs and meet in one user-keyed join.  All-integer
    output."""
    ev = table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v0"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("v0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p0"))
    )
    lat = fv.join(fp, "user_id").select(
        F.expr("(unix_micros(p0) - unix_micros(v0)) DIV 1000000").alias("lat_s")
    )
    dist = lat.groupBy("lat_s").agg(F.count(F.lit(1)).alias("nk"))
    wc = Window.orderBy("lat_s").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    c = dist.select(
        "lat_s",
        F.sum("nk").over(wc).alias("cum"),
        F.sum("nk").over(wt).alias("total"),
    )
    pct = c.agg(
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("lat_s"))).alias(
            "p50_lat_s"
        ),
        F.min(
            F.when(20 * F.col("cum") >= 19 * F.col("total"), F.col("lat_s"))
        ).alias("p95_lat_s"),
        F.max("lat_s").alias("max_lat_s"),
    )
    tot = fv.agg(F.count(F.lit(1)).alias("n_viewers")).crossJoin(
        F.broadcast(lat.agg(F.count(F.lit(1)).alias("n_converted")))
    )
    return (
        tot.crossJoin(F.broadcast(pct))
        .select(
            "n_viewers",
            "n_converted",
            F.expr(
                "CAST(n_converted * 1000000 DIV n_viewers AS BIGINT)"
            ).alias("conversion_ppm"),
            "p50_lat_s",
            "p95_lat_s",
            "max_lat_s",
        )
    )


@register(
    "agg_wow_change",
    oracle="""
WITH w AS (
  SELECT event_type,
         CAST(date_trunc('week', ts) AS DATE) AS wk,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(12,2))) AS rev
  FROM events GROUP BY event_type, CAST(date_trunc('week', ts) AS DATE)
), l AS (
  SELECT event_type, wk, n,
         CAST(rev AS DOUBLE) AS sum_value,
         LAG(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
  FROM w
)
SELECT event_type, wk, n, sum_value, prev_n,
       CAST(FLOOR(CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE)
                  * 1000000) AS BIGINT) AS wow_change_e6
FROM l
""",
)
def agg_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change per event type: weekly volume + exact
    decimal revenue with the previous week's volume and the relative
    change — the delta column every operational dashboard renders next
    to its trend line (agg_linreg fits the slope; this reads the
    step-by-step movement).

    Determinism detail: deltas go negative, and Spark's integer DIV
    truncates toward zero where DuckDB's // floors — so the usual
    all-integer ppm construction would diverge on every down week.
    Instead the ratio is ONE identical IEEE divide on exact integers,
    surfaced as FLOOR(x*1e6) micro-units (FLOOR rounds toward -inf in
    BOTH engines, and both floor the same double).  Scale: one
    map-combined weekly agg, one lag window over |types| x |weeks|
    rows."""
    ev = table(spark, sf_dir, "events")
    w = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(D12)).alias("rev"),
    )
    lw = Window.partitionBy("event_type").orderBy("wk")
    l = w.select(
        "event_type",
        "wk",
        "n",
        F.col("rev").cast("double").alias("sum_value"),
        F.lag("n").over(lw).alias("prev_n"),
    )
    return l.select(
        "event_type",
        "wk",
        "n",
        "sum_value",
        "prev_n",
        F.floor(
            (F.col("n") - F.col("prev_n")).cast("double")
            / F.col("prev_n").cast("double")
            * F.lit(1000000)
        ).alias("wow_change_e6"),
    )


_SLO_SUCCESS_PPM = 990_000  # 99.0% success SLO -> 1% error budget


@register(
    "events_error_budget_burn",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         COUNT(*) AS n,
         COUNT(*) FILTER (event_type = 'error') AS n_err
  FROM events GROUP BY CAST(ts AS DATE)
)
SELECT d, n, n_err,
       CAST(n_err * 1000000 // n AS BIGINT) AS error_ppm,
       CAST((n_err * 1000000 // n) * 1000000
            // {1_000_000 - _SLO_SUCCESS_PPM} AS BIGINT) AS burn_rate_e6,
       CAST(n_err * 1000000 // n > {1_000_000 - _SLO_SUCCESS_PPM} AS INT)
         AS burning
FROM daily
""",
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate per day — the SRE readout layered on
    the replicated event stream: daily error share against a 99.0%%
    success objective, expressed as the burn-rate multiplier (1.0 =
    exactly consuming budget; >1 = over-burning, the page threshold in
    multiwindow burn alerts) plus the boolean burning flag.

    Determinism: error share is integer ppm; the burn multiplier is
    that exact integer floor-divided by the constant budget in e6
    micro-units, and the flag is INT 1/0 — no float or boolean ever
    reaches the output surface.  Scale: one map-combined daily
    conditional aggregate; output |days| rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("event_type") == "error").alias("n_err"),
    )
    budget = 1_000_000 - _SLO_SUCCESS_PPM
    return daily.select(
        "d",
        "n",
        "n_err",
        F.expr("CAST(n_err * 1000000 DIV n AS BIGINT)").alias("error_ppm"),
        F.expr(
            f"CAST((n_err * 1000000 DIV n) * 1000000 DIV {budget} AS BIGINT)"
        ).alias("burn_rate_e6"),
        F.expr(f"CAST(n_err * 1000000 DIV n > {budget} AS INT)").alias(
            "burning"
        ),
    )


_RATE_WINDOW_S = 3600  # rolling window (fixture-calibrated; prod: 60s)
_RATE_LIMIT = 12  # max events per window before flagging


@register(
    "events_rate_limit_scan",
    oracle=f"""
WITH w AS (
  SELECT user_id, ts,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN {_RATE_WINDOW_S * 1_000_000} PRECEDING
                        AND CURRENT ROW) AS n_in_window
  FROM events
)
SELECT user_id,
       MAX(n_in_window) AS peak_rate,
       COUNT(*) FILTER (n_in_window > {_RATE_LIMIT}) AS n_over_limit,
       CAST(MAX(n_in_window) > {_RATE_LIMIT} AS INT) AS flagged
FROM w GROUP BY user_id
""",
)
def events_rate_limit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling-rate abuse scan: each event's trailing
    {_RATE_WINDOW_S}s event count via an exact RANGE-frame window, then
    per user the peak rate, how many events fired while over the
    {_RATE_LIMIT}-per-window limit, and the abuse flag — the
    rate-limiting / velocity-fraud detector run retroactively over the
    replicated stream (the online twin is stream_stateful's keyed
    state).  Window seconds are fixture-calibrated; production uses the
    same plan at 60 s.

    Determinism & scale: the RANGE frame is keyed on exact integer
    epoch-microseconds (no timestamp-interval arithmetic to diverge),
    ONE user-keyed exchange serves both the frame and the final
    per-user aggregate, and frame state is a count — O(1) per row.
    Ties at identical ts are inside the same RANGE frame by definition,
    so the count is order-invariant."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_RATE_WINDOW_S * 1_000_000, 0)
    )
    c = ev.select(
        "user_id", F.count(F.lit(1)).over(w).alias("n_in_window")
    )
    return c.groupBy("user_id").agg(
        F.max("n_in_window").alias("peak_rate"),
        F.count_if(F.col("n_in_window") > _RATE_LIMIT).alias("n_over_limit"),
        (F.max("n_in_window") > _RATE_LIMIT).cast("int").alias("flagged"),
    )


@register(
    "events_bot_detection",
    oracle="""
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)))
           // 1000000 AS gap
  FROM events
), s AS (
  SELECT user_id,
         COUNT(gap) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS sg,
         CAST(SUM(gap * gap) AS BIGINT) AS sgg
  FROM g GROUP BY user_id
)
SELECT user_id, n_gaps,
       CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
       CAST(FLOOR(((CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
              / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))) - 1.0) * 1000000)
         AS BIGINT) AS cv2_e6,
       CAST((CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
         / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))) - 1.0 < 0.1 AS INT)
         AS too_regular
FROM s WHERE n_gaps >= 20
""",
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularity-based bot signal: the squared coefficient of
    variation of each user's inter-event gaps — humans are bursty
    (CV² ≈ 1 for Poisson-ish arrivals, higher with sessions), schedulers
    and scrapers are metronomic (CV² → 0) — flagging users whose timing
    is too regular to be human.  Complements events_rate_limit_scan:
    volume catches loud bots, regularity catches polite ones.

    Determinism: CV² = n·Σg²/(Σg)² − 1 from EXACT integer second-level
    gap power sums (the mergeable-moments state again), derived with one
    identical float expression tree and surfaced as FLOOR(x*1e6)
    micro-units; the threshold flag is INT 1/0 on the same double.
    Scale: one
    user-keyed lag window + a map-combined moments aggregate; minimum
    20 gaps guards the estimator."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # second-granularity gaps: microsecond gaps squared overflow a LONG
    # in the power sum (8.6e10^2 > 2^63); seconds keep sg/sgg exact and
    # bounded far past bench scale with no loss for minute-scale cadences
    g = ev.select(
        "user_id",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) OVER"
            " (PARTITION BY user_id ORDER BY ts, event_id))) DIV 1000000"
        ).alias("gap"),
    )
    s = g.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        F.sum("gap").cast("bigint").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sgg"),
    )
    cv2 = (
        F.col("n_gaps").cast("double")
        * F.col("sgg").cast("double")
        / (F.col("sg").cast("double") * F.col("sg").cast("double"))
    ) - F.lit(1.0)
    return (
        s.filter(F.col("n_gaps") >= 20)
        .select(
            "user_id",
            "n_gaps",
            F.expr("CAST(sg DIV n_gaps AS BIGINT)").alias("mean_gap_s"),
            F.floor(cv2 * F.lit(1000000)).alias("cv2_e6"),
            (cv2 < 0.1).cast("int").alias("too_regular"),
        )
    )


@register(
    "orders_purchase_cadence",
    oracle="""
WITH g AS (
  SELECT o_custkey,
         o_orderdate - LAG(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS gap
  FROM orders
)
SELECT o_custkey AS custkey,
       COUNT(*) AS n_orders,
       COUNT(gap) AS n_gaps,
       CAST(COALESCE(SUM(CAST(epoch(gap) AS BIGINT)) // 86400, 0)
            // GREATEST(COUNT(gap), 1) AS BIGINT) AS avg_gap_days,
       CAST(COALESCE(MAX(CAST(epoch(gap) AS BIGINT)) // 86400, 0) AS BIGINT)
         AS max_gap_days
FROM g GROUP BY o_custkey
""",
)
def orders_purchase_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per customer: order count, average and
    maximum days between consecutive orders — the replenishment-cycle
    readout behind churn prediction (a customer 3x past their own
    cadence is lapsing; analytics_rfm's recency reads position, this
    reads RHYTHM).

    Determinism: date gaps are exact integer days (DuckDB date
    subtraction yields an interval — epoch()/86400 renders it as exact
    integer days matching Spark's datediff; all divisions are
    non-negative floor divisions, identical in both engines).  Scale:
    one customer-keyed lag window sharing its exchange with the final
    aggregate."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_d"),
    )
    return g.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("gap_d").alias("n_gaps"),
        F.expr(
            "CAST(COALESCE(SUM(CAST(gap_d AS BIGINT)), 0)"
            " DIV GREATEST(COUNT(gap_d), 1) AS BIGINT)"
        ).alias("avg_gap_days"),
        F.expr("CAST(COALESCE(MAX(gap_d), 0) AS BIGINT)").alias("max_gap_days"),
    )


@register(
    "orders_basket_lift",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
bc AS (SELECT p_brand, COUNT(*) AS c FROM baskets GROUP BY p_brand),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
)
SELECT brand_a, brand_b, c_ab,
       CAST(n.n_orders * c_ab * 1000000 // (ca.c * cb.c) AS BIGINT)
         AS lift_e6
FROM pairs
JOIN bc ca ON ca.p_brand = pairs.brand_a
JOIN bc cb ON cb.p_brand = pairs.brand_b
CROSS JOIN n
WHERE c_ab >= 5
QUALIFY ROW_NUMBER() OVER (ORDER BY n.n_orders * c_ab * 1000000
                                    // (ca.c * cb.c) DESC,
                           brand_a, brand_b) <= 15
""",
)
def orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: the top-15 part-brand pairs by
    lift (P(a,b) / P(a)P(b), min support 5 co-baskets) — the
    co-occurrence statistic behind 'frequently bought together',
    recommendation candidates, and bundling analytics.  Lift > 1 means
    the pair co-occurs above independence.

    Shape (r14 optimization round): one fact⋈broadcast(part) pass
    reduces to ONE groupBy(l_orderkey) building the per-order SORTED
    DISTINCT brand array — the basket as a row.  Everything downstream
    derives from that single exchange: the order count is an agg over
    it, brand marginals explode it (a basket contains each brand once
    by construction, so exploding the set array IS the distinct
    (order, brand) count), and co-occurrence pairs are generated
    IN-ROW from the sorted array (x before y in a sorted distinct
    array ⟺ x < y), bounded by C(basket_width, 2) ~ C(7, 2) per order.
    This replaced the original DISTINCT-(order, brand) + order-keyed
    SELF-JOIN shape, which exchanged the basket table four times
    (distinct, order-count distinct, and both self-join sides
    re-keyed on l_orderkey); now the basket table is keyed once and
    the three consumers ReuseExchange it, with only brand-pair /
    brand-marginal tokens (vocabulary-sized) shuffling afterwards.
    Outputs proven identical (collect == collect at sf0.01; oracle
    hash-exact at sf0.001/0.01/0.1).  Brand marginals and the order
    count are vocabulary-sized broadcasts.  Lift is ALL-INTEGER e6
    fixed point (floor division on exact counts — no float surface),
    ranked with a total (brand_a, brand_b) tiebreak."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    arrs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
    )
    n = arrs.agg(F.count(F.lit(1)).alias("n_orders"))
    bc = (
        arrs.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # in-row ordered pairs: every (x, y) with x earlier than y in the
    # sorted distinct basket array — exactly the brand_a < brand_b
    # halved pair set of the old self-join, C(width, 2) per order
    pair_expr = (
        "flatten(transform(bs, (x, i) ->"
        " transform(slice(bs, i + 2, size(bs)),"
        " y -> named_struct('brand_a', x, 'brand_b', y))))"
    )
    pairs = (
        arrs.select(F.explode(F.expr(pair_expr)).alias("pr"))
        .select("pr.brand_a", "pr.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ca = bc.select(F.col("p_brand").alias("brand_a"), F.col("c").alias("ca"))
    cb = bc.select(F.col("p_brand").alias("brand_b"), F.col("c").alias("cb"))
    lift = F.expr("CAST(n_orders * c_ab * 1000000 DIV (ca * cb) AS BIGINT)")
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select("brand_a", "brand_b", "c_ab", lift.alias("lift_e6"))
        .orderBy(F.desc("lift_e6"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(15)
    )


@register(
    "events_time_weighted_avg",
    oracle="""
WITH seg AS (
  SELECT user_id, value,
         epoch_us(ts) AS t0,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS t1
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) * (t1 - t0)) AS BIGINT)
         AS weight_cents_us,
       CAST(SUM(t1 - t0) AS BIGINT) AS span_us,
       CAST(FLOOR(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) * (t1 - t0))
                       AS DOUBLE)
             / (CAST(SUM(t1 - t0) AS DOUBLE) * 100.0) * 1000000) AS BIGINT)
         AS twavg_e6
FROM seg WHERE t1 IS NOT NULL
GROUP BY user_id
""",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (the ClickHouse avgWeighted-over-
    hold-intervals / TimescaleDB time_weight pattern): each observed
    value HOLDS until the next observation, so the mean must weight by
    hold duration, not by sample count — the correct average for
    prices, gauge metrics, and sensor states sampled at irregular
    intervals, where the arithmetic mean over-weights bursty periods.

    Shape: one user-keyed LEAD window builds (value, hold-interval)
    segments, then a map-combined per-user rollup — window and
    aggregate share the single user_id exchange.  Determinism: values
    quantized to exact integer cents, intervals are exact epoch
    microseconds, so the weighted sum is pure BIGINT arithmetic
    (cents x us < 2^63 at any realistic span) and the final ratio is
    ONE identical IEEE divide surfaced as FLOOR(x*1e6) micro-units."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    seg = ev.select(
        "user_id",
        cents.alias("cents"),
        us.alias("t0"),
        F.lead(us).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    dur = F.col("t1") - F.col("t0")
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("cents") * dur).cast("bigint").alias("weight_cents_us"),
        F.sum(dur).cast("bigint").alias("span_us"),
        F.floor(
            F.sum(F.col("cents") * dur).cast("double")
            / (F.sum(dur).cast("double") * F.lit(100.0))
            * F.lit(1000000)
        ).alias("twavg_e6"),
    )


@register(
    "orders_revenue_concentration",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev,
         NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
  FROM per_cust
)
SELECT decile,
       COUNT(*) AS n_customers,
       CAST(SUM(rev) AS DOUBLE) AS decile_rev,
       CAST(FLOOR(CAST(CAST(SUM(rev) * 100 AS BIGINT) AS DOUBLE)
            / CAST((SELECT CAST(SUM(rev) * 100 AS BIGINT) FROM per_cust)
                   AS DOUBLE) * 1000000)
            AS BIGINT) AS rev_share_ppm
FROM ranked GROUP BY decile
""",
)
def orders_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto / 80-20) curve: customers ranked
    by lifetime revenue, split into deciles, each decile's share of
    total revenue — the one-query answer to 'how top-heavy is our
    revenue', the concentration read behind account-tiering and
    whale-risk monitoring.

    Shape: the fact reduces to one row per customer FIRST (map-
    combined groupBy — ranking never sees raw orders), then the decile
    comes from an exact DISTRIBUTED rank (banded_row_number on negated
    1k-revenue bands — no single-reducer NTILE window; the r4
    verdict's perf-weak swap, shipped) fed through the NTILE closed
    form, and a 10-row decile aggregate; the total enters as a 1-row
    broadcast.  Exact decimal revenue everywhere; the share is ppm from
    the EXACT integer cent totals through one identical IEEE divide +
    FLOOR (an all-integer `cents * 1e6 DIV total` spelling overflows
    int64 near $9B of decile revenue — cents stay double-exact to 2^53,
    four orders of magnitude more headroom).  per_cust's repeated
    subtrees dedupe via ReuseExchange (an explicit cache measured
    slower — see analytics_rfm)."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(D12)).alias("rev")
    )
    ranked = banded_row_number(
        per_cust,
        -F.floor(F.col("rev") / 1000).cast("bigint"),
        [F.desc("rev"), F.asc("o_custkey")],
        "_rank",
    )
    n_total = per_cust.agg(F.count(F.lit(1)).alias("_n"))
    with_decile = (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            "rev",
            ntile_from_rank(F.col("_rank"), F.col("_n"), 10).alias("decile"),
        )
    )
    total = per_cust.agg(
        (F.sum("rev") * 100).cast("bigint").alias("total_cents")
    )
    return (
        with_decile.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").cast("double").alias("decile_rev"),
            (F.sum("rev") * 100).cast("bigint").alias("_cents"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "decile_rev",
            F.floor(
                F.col("_cents").cast("double")
                / F.col("total_cents").cast("double")
                * F.lit(1000000)
            ).alias("rev_share_ppm"),
        )
    )


@register(
    "events_changepoint_cusum",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY d
),
stats AS (
  SELECT CAST(SUM(n) AS BIGINT) AS s_total, COUNT(*) AS n_days
  FROM daily
),
cusum AS (
  SELECT d, n, n_days,
         CAST(SUM(n_days * n - s_total) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sc
  FROM daily CROSS JOIN stats
)
SELECT d AS changepoint_day,
       sc AS cusum_at_peak_scaled,
       (SELECT CAST(MAX(ABS(sc)) AS BIGINT) FROM cusum) AS max_abs_cusum_scaled,
       n_days
FROM cusum
QUALIFY ROW_NUMBER() OVER (ORDER BY ABS(sc) DESC, d) = 1
""",
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily event-volume series:
    the cumulative sum of deviations from the global mean peaks (in
    absolute value) at the most likely regime-change day — the
    classic offline CUSUM estimator behind deploy-impact detection,
    seasonality breaks, and data-pipeline regression alerts, and the
    changePoint-style analytic ClickHouse ships as a window family.

    Shape: the raw stream reduces to ONE row per day first (map-
    combined), the mean rides a 1-row broadcast, and the cumulative
    window runs over the |days|-sized daily table — bounded input, so
    the single-partition ordered window is safe at any corpus size
    (the events_anomaly_zscore argument).  Determinism: ALL-INTEGER —
    the deviation (n - mu) is scaled by n_days so each term is the
    exact integer n_days*n - total (CUSUM values scale by the constant
    n_days, which argmax/ABS ranking is invariant to); no float is
    ever computed, the argmax day tiebreak is total."""
    ev = table(spark, sf_dir, "events")
    # |days|-sized and consumed by three branches (stats, cusum, peak):
    # cached so the raw stream is scanned once, not once per branch
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        # released harness-side via clearCache (r8 ADVICE convention)
        .cache()
    )
    stats = daily.agg(
        F.sum("n").cast("bigint").alias("s_total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "d",
            "n",
            "n_days",
            F.sum(F.col("n_days") * F.col("n") - F.col("s_total"))
            .over(w_cum)
            .cast("bigint")
            .alias("sc"),
        )
    )
    peak = Window.orderBy(F.desc(F.abs(F.col("sc"))), F.asc("d"))
    mx = cusum.agg(
        F.max(F.abs(F.col("sc"))).cast("bigint").alias("max_abs_cusum_scaled")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(peak))
        .filter(F.col("rn") == 1)
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("d").alias("changepoint_day"),
            F.col("sc").alias("cusum_at_peak_scaled"),
            "max_abs_cusum_scaled",
            "n_days",
        )
    )


@register(
    "events_growth_accounting",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
),
marked AS (
  SELECT user_id, w,
         LAG(w)  OVER (PARTITION BY user_id ORDER BY w) AS prev_w,
         LEAD(w) OVER (PARTITION BY user_id ORDER BY w) AS next_w
  FROM act
),
classified AS (
  SELECT w,
         CASE WHEN prev_w IS NULL THEN 'new'
              WHEN prev_w = w - INTERVAL 7 DAY THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM marked
),
churn AS (
  SELECT w + INTERVAL 7 DAY AS w, 'churned' AS status
  FROM marked m
  WHERE (next_w IS NULL OR next_w > w + INTERVAL 7 DAY)
    AND w + INTERVAL 7 DAY <= (SELECT MAX(w) FROM act)
)
SELECT w AS week, status, COUNT(*) AS n_users
FROM (SELECT * FROM classified UNION ALL SELECT * FROM churn)
GROUP BY week, status
""",
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the MAU-bookkeeping identity, weekly grain):
    every active user-week is NEW (first activity ever), RETAINED
    (also active the week before) or RESURRECTED (returning after a
    gap), and users active in week w but not w+1 emit a CHURNED row
    in w+1 — so active(w) = new + retained + resurrected and
    active(w) - active(w+1) = churned(w+1) - (new + resurrected)(w+1),
    the exact ledger every growth team reconciles its dashboards
    against.

    Shape: the stream reduces to DISTINCT (user, week) first — the
    window input is activity cells, not raw events; one user-keyed
    window computes lag AND lead off the same sort; churn rows are a
    filtered projection of the same frame (no second scan) bounded by
    the horizon (a 1-row broadcast).  All-integer output; week
    boundaries are engine-identical ISO date_trunc."""
    ev = table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    horizon = act.agg(F.max("w").alias("max_w"))
    win = Window.partitionBy("user_id").orderBy("w")
    # activity-cell-sized and consumed by BOTH the classification and
    # the churn branch of the union: cached so the distinct + window
    # run once, not once per branch
    marked = act.select(
        "user_id",
        "w",
        F.lag("w").over(win).alias("prev_w"),
        F.lead("w").over(win).alias("next_w"),
        # released harness-side via clearCache (r8 ADVICE convention)
    ).cache()
    wk = F.expr("INTERVAL 7 DAY")
    classified = marked.select(
        "w",
        F.when(F.col("prev_w").isNull(), "new")
        .when(F.col("prev_w") == F.col("w") - wk, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    churn = (
        marked.crossJoin(F.broadcast(horizon))
        .filter(
            (F.col("next_w").isNull() | (F.col("next_w") > F.col("w") + wk))
            & (F.col("w") + wk <= F.col("max_w"))
        )
        .select((F.col("w") + wk).alias("w"), F.lit("churned").alias("status"))
    )
    return (
        classified.unionByName(churn)
        .groupBy(F.col("w").alias("week"), "status")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "agg_hll_overlap_estimate",
    oracle="""
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
x AS (
  SELECT (SELECT COUNT(*) FROM a) AS n_a,
         (SELECT COUNT(*) FROM b) AS n_b,
         (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
           AS exact_overlap
)
SELECT n_a, n_b, exact_overlap, 1 AS est_within_15pct FROM x
""",
)
def agg_hll_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from MERGEABLE sketches by
    inclusion-exclusion: |A∩B| ≈ |A| + |B| - |A∪B| where all three
    cardinalities come from HLL sketches (hll_sketch_agg +
    hll_union + hll_sketch_estimate) — the overlap question answered
    WITHOUT re-scanning raw data when only per-segment sketch rollups
    are stored, the sketch algebra every audience platform runs.
    Union via sketch merge is exact HLL composition; the subtraction
    inherits both sketches' error, which is why the key also emits
    the exact overlap and pins the estimate within a 15% + 32-user
    tolerance (deterministic for a fixed input set — HLL is
    order-insensitive), the agg_approx_distinct oracle pattern.

    Shape: each side is one map-combined sketch build (fixed-size
    state per partition, no distinct shuffle); union/estimate are
    1-row operations on a crossJoin of two broadcast scalars.  The
    exact twin pays the distinct shuffles the sketches avoid."""
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk_a"),
        F.countDistinct("user_id").alias("n_a"),
    )
    b = ev.filter(F.col("event_type") == "purchase").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk_b"),
        F.countDistinct("user_id").alias("n_b"),
    )
    both = a.crossJoin(F.broadcast(b))
    exact = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            ev.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    est = (
        F.col("n_a")
        + F.col("n_b")
        - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
    )
    return (
        both.crossJoin(F.broadcast(exact))
        .select(
            "n_a",
            "n_b",
            "exact_overlap",
            (
                F.abs(est - F.col("exact_overlap"))
                <= 0.15 * F.col("exact_overlap") + 32
            )
            .cast("int")
            .alias("est_within_15pct"),
        )
    )


@register(
    "events_sliding_uniques_sketch",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
cells AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
exact AS (
  SELECT days.d,
         COUNT(DISTINCT cells.user_id) AS exact_u7,
         COUNT(DISTINCT cells.d) AS n_days_in_window
  FROM days JOIN cells
    ON cells.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
  GROUP BY days.d
)
SELECT d, n_days_in_window, exact_u7, 1 AS est_within_5pct
FROM exact
""",
)
def events_sliding_uniques_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from MERGED daily HLL
    sketches — the sliding-window extension of agg_hll_mergeable and
    the pattern that makes rolling-uniques dashboards tractable at
    100 TB: ONE pass builds a fixed-size sketch per day, every window
    answer is a union of 7 stored sketches (hll_union_agg +
    hll_sketch_estimate), and raw data is never rescanned as the
    window slides.  events_rolling_distinct computes the same surface
    exactly by exploding (user, day) cells across windows — linear in
    users x window; this plan's sliding cost is |days| x 7 sketch
    merges, INDEPENDENT of user count, which is the entire trade.

    Gate contract (the agg_approx_distinct / agg_hll_overlap_estimate
    pattern): the hash-checked surface is the EXACT twin (distinct
    (user, day) cells joined to their <=7 covering days) plus an INT
    pin asserting the sketch estimate lands within 5% + 16 of exact —
    deterministic for a fixed input set since HLL is order-insensitive;
    the estimate itself never reaches the hash."""
    ev = table(spark, sf_dir, "events")
    cells = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    days = daily.select(F.col("d").alias("win_d"))
    est = (
        days.join(
            daily,
            (F.col("d") >= F.date_sub(F.col("win_d"), 6))
            & (F.col("d") <= F.col("win_d")),
        )
        .groupBy("win_d")
        .agg(
            F.expr(
                "hll_sketch_estimate(hll_union_agg(sk))"
            ).alias("est_u7")
        )
    )
    exact = (
        days.join(
            cells,
            (F.col("d") >= F.date_sub(F.col("win_d"), 6))
            & (F.col("d") <= F.col("win_d")),
        )
        .groupBy("win_d")
        .agg(
            F.countDistinct("user_id").alias("exact_u7"),
            F.countDistinct("d").alias("n_days_in_window"),
        )
    )
    return (
        exact.join(est, "win_d")
        .select(
            F.col("win_d").alias("d"),
            "n_days_in_window",
            "exact_u7",
            (
                F.abs(F.col("est_u7") - F.col("exact_u7"))
                <= 0.05 * F.col("exact_u7") + 16
            )
            .cast("int")
            .alias("est_within_5pct"),
        )
    )


_COVERAGE_WINDOW_DAYS = 30  # open-order attention window per order


@register(
    "orders_active_coverage",
    oracle=f"""
WITH iv AS (
  SELECT o_custkey, o_orderkey,
         CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + {_COVERAGE_WINDOW_DAYS} AS e
  FROM orders
),
m AS (
  SELECT o_custkey, o_orderkey, s, e,
         MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
),
isl AS (
  SELECT o_custkey, s, e,
         SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY o_custkey ORDER BY s, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM m
),
spans AS (
  SELECT o_custkey, span_id,
         MIN(s) AS s0, MAX(e) AS e1, COUNT(*) AS n_orders
  FROM isl GROUP BY o_custkey, span_id
)
SELECT o_custkey,
       COUNT(*) AS n_spans,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(datediff('day', s0, e1)) AS BIGINT) AS covered_days,
       MIN(s0) AS first_day,
       MAX(e1) AS last_day
FROM spans GROUP BY o_custkey
""",
)
def orders_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer interval-union length (ClickHouse
    ``intervalLengthSum`` parity — the one interval aggregate the
    sweep-line family still lacked): each order opens a
    {_COVERAGE_WINDOW_DAYS}-day attention window, overlapping windows
    merge, and the answer is how many distinct days each customer had
    at least one order open, plus the merged-span count (1 span = a
    continuous engagement episode; many spans = bursty reordering).
    The complement of events_peak_concurrency: that key asks "how many
    at once, globally", this one "how long covered, per key".

    Exactness: pure DATE/integer arithmetic end to end — interval
    merge is the textbook gaps-and-islands (exclusive running MAX of
    span ends detects gaps; running SUM of gap flags numbers the
    islands), with (s, o_orderkey) total tiebreak order so both
    engines build identical islands.

    Scale: everything is keyed by o_custkey — the two windows share
    ONE hashpartitioning(o_custkey) exchange (same partition + order
    spec), the span/summary aggs reduce on its prefix, and no global
    or banded machinery is needed because per-key sweeps distribute
    perfectly.  At 100 TB this is one shuffle of (custkey, date,
    orderkey) triples."""
    o = table(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), _COVERAGE_WINDOW_DAYS).alias("e"),
    )
    worder = Window.partitionBy("o_custkey").orderBy("s", "o_orderkey")
    prev_max_e = F.max("e").over(
        worder.rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("prev_max_e", prev_max_e)
    new_span = F.when(
        F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
    ).otherwise(0)
    isl = m.withColumn(
        "span_id",
        F.sum(new_span).over(
            worder.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = isl.groupBy("o_custkey", "span_id").agg(
        F.min("s").alias("s0"),
        F.max("e").alias("e1"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return spans.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("n_orders").alias("n_orders"),
        F.sum(F.datediff("e1", "s0")).alias("covered_days"),
        F.min("s0").alias("first_day"),
        F.max("e1").alias("last_day"),
    )


@register(
    "events_counter_delta_sum",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(value AS DECIMAL(12,2)) AS v,
         LAG(CAST(value AS DECIMAL(12,2)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_samples,
       CAST(COUNT(*) FILTER (prev IS NOT NULL AND v < prev) AS BIGINT)
         AS n_resets,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND v >= prev THEN v - prev
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
         AS delta_sum,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND v < prev THEN v
                     WHEN prev IS NULL THEN CAST(0 AS DECIMAL(12,2))
                     ELSE v - prev END) AS DOUBLE) AS monotonic_increase
FROM seq GROUP BY user_id
""",
)
def events_counter_delta_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware counter aggregation (ClickHouse ``deltaSum`` /
    Prometheus ``increase()`` parity) — the monitoring-pipeline
    primitive for counters that reset on process restart: per series,
    ``delta_sum`` adds only the non-negative steps (a drop is a reset,
    not negative traffic), ``monotonic_increase`` additionally credits
    the post-reset level itself (Prometheus's interpretation: a reset
    to v means v new increments since the last sample), and
    ``n_resets`` counts the drops.  Exact DECIMAL step arithmetic —
    both engines see the identical LAG neighbor under the
    (ts, event_id) total order, so every step is bitwise-identical;
    only the final totals surface as DOUBLE.

    Shape: ONE user-keyed LAG window and ONE grouped agg on the same
    hashpartitioning(user_id) exchange — the sessionize_batch shuffle
    discipline; at 100 TB this is a single keyed pass, and in
    production the same expression runs per (host, metric) series."""
    ev = table(spark, sf_dir, "events")
    v = F.col("value").cast(D12)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    zero = F.lit(0).cast(D12)
    seq = ev.select(
        "user_id", v.alias("v"), F.lag(v).over(w).alias("prev")
    )
    has_prev = F.col("prev").isNotNull()
    rose = has_prev & (F.col("v") >= F.col("prev"))
    reset = has_prev & (F.col("v") < F.col("prev"))
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.count_if(reset).alias("n_resets"),
        F.sum(F.when(rose, F.col("v") - F.col("prev")).otherwise(zero))
        .cast("double")
        .alias("delta_sum"),
        F.sum(
            F.when(reset, F.col("v"))
            .when(~has_prev, zero)
            .otherwise(F.col("v") - F.col("prev"))
        )
        .cast("double")
        .alias("monotonic_increase"),
    )


@register(
    "orders_backlog_aging",
    oracle="""
WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
open_orders AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         datediff('day', CAST(o_orderdate AS DATE), mx) AS age_days
  FROM orders CROSS JOIN anchor
  WHERE o_orderstatus = 'O'
),
bucketed AS (
  SELECT *,
         CASE WHEN age_days <= 30 THEN '0-30'
              WHEN age_days <= 60 THEN '31-60'
              WHEN age_days <= 90 THEN '61-90'
              ELSE '90+' END AS age_bucket
  FROM open_orders
),
tot AS (SELECT CAST(SUM(price) AS BIGINT) AS total_cents_x
        FROM (SELECT CAST(price * 100 AS BIGINT) AS price FROM bucketed))
SELECT age_bucket,
       COUNT(*) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(price) AS DOUBLE) AS open_value,
       MIN(age_days) AS min_age,
       MAX(age_days) AS max_age,
       CAST(CAST(SUM(price * 100) AS BIGINT)
            // GREATEST(total_cents_x // 1000000, 1) AS BIGINT)
         AS value_share_ppm
FROM bucketed CROSS JOIN tot
GROUP BY age_bucket, total_cents_x
""",
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging (the accounts-receivable aging-bucket
    report, fulfillment edition): every still-open order ('O' status)
    ages against the dataset's max order date (deterministic anchor —
    wall clock would flip hashes), lands in the classic
    0-30 / 31-60 / 61-90 / 90+ day buckets, and each bucket reports
    order/customer counts, exact open value, age extremes, and its
    all-integer ppm share of total open value — the "how stale is the
    backlog" operational readout.

    Shape: 1-row anchor broadcast into the scan, map-side bucket CASE,
    ONE grouped agg over 4 buckets (countDistinct adds its expand on
    the same key), and a 1-row total broadcast for the share — nothing
    data-sized beyond the two linear scans.  Exact integer day and
    cent arithmetic end to end; only open_value surfaces as DOUBLE."""
    o = table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("mx"))
    open_orders = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast(D12).alias("price"),
            F.datediff(F.col("mx"), F.to_date("o_orderdate")).alias(
                "age_days"
            ),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 60, "31-60")
        .when(F.col("age_days") <= 90, "61-90")
        .otherwise("90+")
    )
    bucketed = open_orders.withColumn("age_bucket", bucket)
    tot = bucketed.agg(
        F.sum((F.col("price") * 100).cast("bigint")).alias("total_cents_x")
    )
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("age_bucket", "total_cents_x")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum("price").cast("double").alias("open_value"),
            F.min("age_days").alias("min_age"),
            F.max("age_days").alias("max_age"),
            # divisor-first ppm: cents DIV (total DIV 1e6) never
            # overflows int64 at any total (cents * 1e6 does past
            # ~$9.2e10 — ANSI long overflow, caught at sf1), at the
            # cost of <=1 ppm truncation granularity — identical
            # arithmetic on both engines, so still hash-exact
            F.expr(
                "CAST(CAST(SUM(price * 100) AS BIGINT)"
                " DIV GREATEST(total_cents_x DIV 1000000, 1) AS BIGINT)"
            ).alias("value_share_ppm"),
        )
        .drop("total_cents_x")
    )


_PR_BASE = 10**9  # rank fixed-point scale
_PR_ITERS = 3


@register(
    "graph_pagerank",
    oracle=f"""
WITH edges0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS MATERIALIZED (
  SELECT src, dst FROM edges0
  UNION ALL
  SELECT dst AS src, src AS dst FROM edges0
),
outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM outdeg),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (
  SELECT node, CAST({_PR_BASE} // n AS BIGINT) AS rank
  FROM nodes CROSS JOIN nn
),
r1 AS (
  SELECT e.dst AS node,
         CAST({15 * _PR_BASE} // (100 * n)
              + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
  FROM edges e JOIN r0 r ON e.src = r.node
  JOIN outdeg d ON e.src = d.src CROSS JOIN nn
  GROUP BY e.dst, n
),
r2 AS (
  SELECT e.dst AS node,
         CAST({15 * _PR_BASE} // (100 * n)
              + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
  FROM edges e JOIN r1 r ON e.src = r.node
  JOIN outdeg d ON e.src = d.src CROSS JOIN nn
  GROUP BY e.dst, n
),
r3 AS (
  SELECT e.dst AS node,
         CAST({15 * _PR_BASE} // (100 * n)
              + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
  FROM edges e JOIN r2 r ON e.src = r.node
  JOIN outdeg d ON e.src = d.src CROSS JOIN nn
  GROUP BY e.dst, n
)
SELECT node, rank AS rank_e9
FROM r3 ORDER BY rank DESC, node LIMIT 20
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer—supplier trade graph (who anchors the
    network) — the iterative-graph-algorithm family (ClickHouse has no
    native answer; Spark's GraphX is RDD-land): {_PR_ITERS} power
    iterations expressed as the canonical Pregel-as-DataFrame loop —
    join ranks to edges on src, aggregate contributions by dst.

    Determinism is the designed-in property: the recurrence is ALL
    INTEGER fixed-point (rank scaled by 1e9; per-edge contribution =
    rank // outdeg; new rank = (15·BASE)//(100·N) + (85·Σcontrib)//100)
    so both engines compute bit-identical ranks — a float PageRank can
    never hash-match across engines because Σcontrib is summation-order
    sensitive.  Fixed iteration count (not convergence-tested) keeps
    the plan static and the oracle a finite CTE unroll.

    Scale shape: edges are built once (distinct custkey—suppkey pairs,
    symmetrized) and re-used every iteration — persisted, exactly the
    frontier-reuse a 100 TB PageRank needs; each iteration BROADCASTS
    the |nodes|-sized rank frame onto the cached src-partitioned edge
    layout (zero shuffle, zero sort on the edge side) and pays one
    aggregation shuffle on dst; ranks stay (node, bigint) rows.  On a
    graph whose vertex state outgrows broadcast, the same loop runs
    with the hint dropped — see the in-loop comment.  Dangling nodes cannot exist here by
    construction (symmetrized edges give every node outdegree >= 1).
    The persisted edge frame must outlive this function's lazy return
    (every iteration of the returned plan reads it), so it is released
    harness-side: multi-key sweeps call spark.catalog.clearCache()
    after materializing each key (tools/verify_local.py, r8 ADVICE)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # (edges x outdeg) is loop-invariant but was rebuilt by every
    # iteration (r8 bench: most expensive key in the repo).  Persist it
    # PRE-PARTITIONED on the join key: the cached layout satisfies each
    # iteration's required distribution, so only the |nodes|-sized rank
    # frame shuffles per iteration while the |edges|-sized side is a
    # cache read — the exact frontier-reuse a 100 TB PageRank runs on.
    # deg attaches via count() over the src window rather than a
    # groupBy+join (r14 opt): the window's hash partitioning IS the
    # layout the persist needs, so the whole frontier build is ONE pass
    # and ONE cached frame — the old shape materialized a separate edge
    # cache and re-exchanged it into a SortMergeJoin against outdeg
    # (2 cache builds; plan: 1 SMJ -> 0, 2 Sort -> 1, InMemoryTableScan
    # 10 -> 8).  Paired A/B at sf0.1: cold build won 4/5 interleaved
    # rounds (min 14.6 -> 14.3 s on a noisy box); warm iterations are
    # byte-identical reads of the same cached layout either way.
    contrib_edges = edges.withColumn(
        "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    ).persist()
    # nodes == distinct src of the symmetrized edges (every node has
    # outdegree >= 1 by construction); the cached src partitioning makes
    # this distinct exchange-free.
    nodes = contrib_edges.select("src").distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"),
        F.expr(f"CAST({_PR_BASE} DIV n AS BIGINT)").alias("rank"),
    )
    # Rank state is |nodes|-sized (vertices come from the customer /
    # supplier DIMENSIONS, not the fact table), so each iteration
    # broadcasts it: the |edges|-sized side is a map-side cache read
    # with zero shuffle and zero sort — per iteration only the
    # contribution aggregation exchanges data.  On a graph whose vertex
    # state outgrows broadcast, drop the hint and the persisted
    # src-partitioned layout above makes the shuffled join pay only the
    # rank-side exchange.
    for _ in range(_PR_ITERS):
        ranks = (
            contrib_edges.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank DIV deg")).alias("contrib"))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.expr(
                    f"CAST({15 * _PR_BASE} DIV (100 * n)"
                    " + (85 * contrib) DIV 100 AS BIGINT)"
                ).alias("rank"),
            )
        )
    return (
        ranks.orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
        .select("node", F.col("rank").alias("rank_e9"))
    )


# Memoized: the count is metadata-only, but it still scheduled a job
# per query CONSTRUCTION.
@session_memo
def _degree_frame_broadcastable(
    spark: SparkSession, sf_dir: str, raw: str
) -> bool:
    """Is graph_triangle_count's |V|-row degree frame safely below the
    autoBroadcastJoinThreshold ``raw`` (the session conf's string)?
    Upper bound |V| by |part| (nodes ARE part keys) via a metadata-only
    parquet count, estimate 64 B/row (two BIGINTs + UnsafeRow/
    HashedRelation overhead), and require the estimate to fit the
    threshold; a disabled threshold (-1) or any parse surprise answers
    False (shuffle join — the always-safe path)."""
    try:
        thresh = int(raw)
    except ValueError:
        try:
            thresh = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils
                .byteStringAsBytes(raw)
            )
        except Exception:
            return False
    if thresh <= 0:
        return False
    try:
        n_parts = table(spark, sf_dir, "part").count()
    except Exception:
        return False  # no part dimension (synthetic fixture): shuffle join
    return n_parts * 64 <= thresh


@register(
    "graph_triangle_count",
    oracle="""
WITH ol AS (
  SELECT l_orderkey AS o, list_sort(list(DISTINCT l_partkey)) AS ps
  FROM lineitem GROUP BY l_orderkey
),
op3 AS (SELECT o, unnest(ps[1:3]) AS p FROM ol),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op3 a JOIN op3 b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY node
),
oe AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
),
ot AS (SELECT s, t, d FROM oe JOIN deg ON oe.t = deg.node),
w AS (
  SELECT a.s AS a, a.t AS b, b.t AS c
  FROM ot a JOIN ot b ON a.s = b.s AND ((a.d, a.t) < (b.d, b.t))
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM w JOIN oe ON w.b = oe.s AND w.c = oe.t
),
gstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
SELECT n_nodes, n_edges, n_triangles,
       CAST(n_triangles * 3000000 // GREATEST(n_wedges, 1) AS BIGINT)
         AS clustering_ppm
FROM tri CROSS JOIN gstats CROSS JOIN ne
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the part
    co-purchase graph — the second iterative-free graph analytic next
    to graph_pagerank, and the canonical join-based distributed graph
    benchmark (the degree-ordered orientation is the public
    Schank/Wagner node-iterator refinement every MapReduce/BSP triangle
    counter uses: orient each edge from the LOWER (degree, id) endpoint
    to the higher, so every wedge enumeration is bounded by OUT-degree
    — at most O(sqrt(|E|)) per node on any graph — and each triangle is
    generated exactly once as (a->b, a->c, b->c)).

    Graph construction: parts co-occurring in an order, capped at each
    order's 3 LOWEST distinct part keys (array_sort + slice — a
    deterministic density control bounding edges to 3|orders| and
    making every >=3-part order contribute one guaranteed triangle;
    the uncapped form is the same plan with the slice removed).

    Determinism: everything is integer — node ids, degrees, counts;
    the clustering coefficient is integral ppm (3*triangles*1e6 //
    wedges).  Plan shape: the pair join and the wedge join are
    identical-subtree self-joins (alias form, ReuseExchange); the
    closing wedge->edge probe is an equi-join on (b, c) — no cartesian
    anywhere, and no iteration.

    Degree attach (r10 verdict "What's wrong" #2, closed): the degree
    frame is |V|-sized, so the broadcast hint is GUARDED, not
    unconditional — |V| is bounded above by |part| (nodes are part
    keys), read as a metadata-only parquet count, and the hint fires
    only while bound*64 B (two BIGINTs + UnsafeRow/HashedRelation
    overhead) fits autoBroadcastJoinThreshold; past that the attach
    falls back to a plain shuffle join with identical orientation
    math.  At the fixture family: sf0.1's 20 k parts ≈ 1.3 MB
    (broadcast), sf1's 200 k ≈ 12.8 MB > the 10 MB default (shuffle) —
    both branches are exercised by the gates, and
    tests/test_plans.py::test_triangle_degree_broadcast_bounded pins
    the decision so a fixture change cannot silently turn the |V|
    broadcast into the bottleneck.
    Surface: one row (n_nodes, n_edges, n_triangles, clustering_ppm)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    hint = (
        F.broadcast
        if _degree_frame_broadcastable(
            spark,
            sf_dir,
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
        )
        else (lambda df: df)
    )
    op3 = (
        li.groupBy("l_orderkey")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("l_partkey")), 1, 3
            ).alias("ps")
        )
        .select(F.col("l_orderkey").alias("o"), F.explode("ps").alias("p"))
    )
    pa, pb = op3.alias("pa"), op3.alias("pb")
    e = (
        pa.join(
            pb,
            (F.col("pa.o") == F.col("pb.o")) & (F.col("pa.p") < F.col("pb.p")),
        )
        .select(F.col("pa.p").alias("u"), F.col("pb.p").alias("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = hint(deg.select(F.col("node").alias("u"), F.col("d").alias("du")))
    dv = hint(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")))
    first_lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(first_lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(first_lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    ot = oe.join(
        hint(deg.select(F.col("node").alias("t"), "d")), "t"
    ).select("s", "t", "d")
    wa, wb = ot.alias("wa"), ot.alias("wb")
    wedges = wa.join(
        wb,
        (F.col("wa.s") == F.col("wb.s"))
        & (
            (F.col("wa.d") < F.col("wb.d"))
            | ((F.col("wa.d") == F.col("wb.d")) & (F.col("wa.t") < F.col("wb.t")))
        ),
    ).select(F.col("wa.t").alias("b"), F.col("wb.t").alias("c"))
    tri = wedges.join(
        oe.select(F.col("s").alias("b"), F.col("t").alias("c")), ["b", "c"]
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    gstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(gstats))
        .crossJoin(F.broadcast(ne))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.expr(
                "n_triangles * 3000000 DIV greatest(n_wedges, 1)"
            ).alias("clustering_ppm"),
        )
    )
