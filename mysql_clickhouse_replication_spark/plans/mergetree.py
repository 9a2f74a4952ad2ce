"""ClickHouse MergeTree-family sink semantics as batch plans (round 4).

The reference's sink tables are MergeTree variants; ReplacingMergeTree
("latest version per pk wins") is covered by plans/cdc.py.  This module
adds the other two engine behaviors a MySQL->ClickHouse replicator
actually deploys, as exact batch twins over the events changelog:

* ``cdc_collapsing_sign`` — CollapsingMergeTree: every new version of a
  row is written as a cancel row (sign=-1) for the previous state plus a
  state row (sign=+1); background merges annihilate matched pairs so a
  table holds only live states without a read-time window.
* ``cdc_ttl_expiry`` — MergeTree TTL: rows age out after a fixed
  interval; parts whose max ts passed the TTL are dropped at merge time.

Both are pure DataFrame plans: one pk-keyed window + one aggregation —
the same shuffle shape ClickHouse pays in its merges.  100 TB: all keyed
by pk/event_type, no broadcast of anything unbounded, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..session import table
from .cdc import compact, decode_events

# The shared changelog decode (kept in lockstep with plans/cdc.py's
# _DECODE_SQL; only the columns this module needs).
_DECODE = """
SELECT CASE WHEN event_type = 'signup' THEN 'insert'
            WHEN event_type = 'error'  THEN 'delete'
            ELSE 'update' END AS op,
       user_id AS pk, event_id AS seq, value
FROM events
"""


@register(
    "cdc_collapsing_sign",
    oracle=f"""
WITH decoded AS ({_DECODE.strip()}),
seq AS (
  SELECT op, pk, seq, value,
         LAG(op)    OVER w AS prev_op,
         LAG(seq)   OVER w AS prev_seq,
         LAG(value) OVER w AS prev_value
  FROM decoded
  WINDOW w AS (PARTITION BY pk ORDER BY seq)
),
signed AS (
  SELECT pk, seq, value, 1 AS sign FROM seq WHERE op != 'delete'
  UNION ALL
  SELECT pk, prev_seq AS seq, prev_value AS value, -1 AS sign
  FROM seq WHERE prev_seq IS NOT NULL AND prev_op != 'delete'
)
SELECT pk, seq, value, CAST(SUM(sign) AS BIGINT) AS net_sign
FROM signed GROUP BY pk, seq, value
HAVING SUM(sign) != 0
""",
)
def cdc_collapsing_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CollapsingMergeTree twin: render the changelog as signed state /
    cancel rows, then merge-collapse matched pairs; what survives
    (net_sign != 0) is exactly the live state of every pk — the newest
    non-delete version, or nothing if the pk's last op is a delete.

    Construction (the replicator's write path): every non-delete event
    emits a state row (+1) carrying its version; every event whose pk
    had a previous non-delete version additionally emits that previous
    version as a cancel row (-1).  The merge is then a plain
    groupBy(pk, seq, value).sum(sign) — annihilated pairs drop out.

    Shape: ONE pk-keyed window (LAG) feeding a union of two projections,
    then ONE aggregation — hashpartitioning(pk) from the window satisfies
    the groupBy's distribution on its prefix, and Spark reuses the
    exchange.  This is the identical shuffle ClickHouse's merge pays;
    sign-collapse never compares across pks, so skew defense is the
    same AQE story as cdc_apply_upsert."""
    decoded = decode_events(table(spark, sf_dir, "events"))
    w = Window.partitionBy("pk").orderBy("seq")
    seq = decoded.select(
        "op",
        "pk",
        "seq",
        "value",
        F.lag("op").over(w).alias("prev_op"),
        F.lag("seq").over(w).alias("prev_seq"),
        F.lag("value").over(w).alias("prev_value"),
    )
    states = seq.filter(F.col("op") != "delete").select(
        "pk", "seq", "value", F.lit(1).alias("sign")
    )
    cancels = seq.filter(
        F.col("prev_seq").isNotNull() & (F.col("prev_op") != "delete")
    ).select(
        "pk",
        F.col("prev_seq").alias("seq"),
        F.col("prev_value").alias("value"),
        F.lit(-1).alias("sign"),
    )
    return (
        states.unionByName(cancels)
        .groupBy("pk", "seq", "value")
        .agg(F.sum("sign").alias("net_sign"))
        .filter(F.col("net_sign") != 0)
    )


@register(
    "cdc_ttl_expiry",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (ts <  mx - INTERVAL 30 DAY) AS n_expired,
       COUNT(*) FILTER (ts >= mx - INTERVAL 30 DAY) AS n_retained,
       MIN(ts)  FILTER (ts >= mx - INTERVAL 30 DAY) AS min_retained_ts,
       MAX(ts) AS max_ts
FROM events CROSS JOIN (SELECT MAX(ts) AS mx FROM events)
GROUP BY event_type
""",
)
def cdc_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeTree ``TTL ts + INTERVAL 30 DAY`` twin: classify every row
    as retained or expired against a 30-day horizon anchored at the
    table's max ts (deterministic — wall clock would flip hashes), and
    report the per-type drop profile a TTL merge would apply.  This is
    the replication-side capacity answer: what fraction of the sink
    disappears at the next TTL merge.

    Shape: a 1-row global max broadcast-crossed into the scan (the
    repo's scalar-threshold pattern), then one groupBy(event_type) with
    conditional aggregates — two scans of events, zero row expansion,
    no window.  At 100 TB the anchor agg is a map-side-combined
    min/max; production would read it off partition stats instead."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    horizon = F.col("mx") - F.expr("INTERVAL 30 DAYS")
    retained = F.col("ts") >= horizon
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_if(~retained).alias("n_expired"),
            F.count_if(retained).alias("n_retained"),
            F.min(F.when(retained, F.col("ts"))).alias("min_retained_ts"),
            F.max("ts").alias("max_ts"),
        )
    )


@register(
    "cdc_ttl_rollup",
    oracle="""
WITH mx AS (SELECT MAX(ts) AS mx FROM events),
b AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, event_id,
         CAST(value AS DECIMAL(18,6)) AS v,
         ts < mx - INTERVAL 30 DAY AS expired
  FROM events CROSS JOIN mx
)
SELECT event_type, day, 'rollup' AS kind, CAST(NULL AS BIGINT) AS event_id,
       COUNT(*) AS n_rows, CAST(SUM(v) AS DOUBLE) AS value_sum
FROM b WHERE expired GROUP BY event_type, day
UNION ALL
SELECT event_type, day, 'raw' AS kind, event_id,
       CAST(1 AS BIGINT) AS n_rows, CAST(v AS DOUBLE) AS value_sum
FROM b WHERE NOT expired
""",
)
def cdc_ttl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MergeTree ``TTL ... GROUP BY`` twin — ClickHouse's TTL
    AGGREGATION (not deletion): rows past the horizon are not dropped
    but COLLAPSED into one rollup row per (event_type, day) carrying
    ``SET n_rows = count(), value_sum = sum(value)``, while fresh rows
    pass through untouched.  This is the capacity discipline a
    replication sink actually deploys when raw history must stay
    queryable in aggregate: the table converges to "recent rows raw,
    old rows pre-aggregated", exactly what a TTL merge leaves behind.
    Same 30-day horizon anchored at max ts as cdc_ttl_expiry (its
    classification-only sibling — that key reports what WOULD expire,
    this one materializes the post-merge table).

    Shape: 1-row max-ts broadcast crossed into one scan, then a
    two-branch union — the expired branch is one groupBy(event_type,
    day) with map-side combine, the retained branch a pure projection.
    Value sums run through DECIMAL(18,6) on both engines (registry
    determinism rule) and surface as DOUBLE.  100 TB: the rollup
    shuffle carries only expired (type, day) groups — bounded by the
    calendar, not the row count; the retained branch never shuffles at
    all, so a TTL merge over an arbitrarily large history is one
    calendar-bounded aggregation."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    base = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        (F.col("ts") < F.col("mx") - F.expr("INTERVAL 30 DAYS")).alias(
            "expired"
        ),
    )
    rollup = (
        base.filter(F.col("expired"))
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("vs"),
        )
        .select(
            "event_type",
            "day",
            F.lit("rollup").alias("kind"),
            F.lit(None).cast("bigint").alias("event_id"),
            "n_rows",
            F.col("vs").cast("double").alias("value_sum"),
        )
    )
    raw = base.filter(~F.col("expired")).select(
        "event_type",
        "day",
        F.lit("raw").alias("kind"),
        "event_id",
        F.lit(1).cast("bigint").alias("n_rows"),
        F.col("v").cast("double").alias("value_sum"),
    )
    return rollup.unionByName(raw)


_DIFF_DECODE = """
SELECT CASE WHEN event_type = 'signup' THEN 'insert'
            WHEN event_type = 'error'  THEN 'delete'
            ELSE 'update' END AS op,
       user_id AS pk, event_id AS seq, value,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
"""


@register(
    "cdc_snapshot_diff",
    oracle=f"""
WITH decoded AS ({_DIFF_DECODE.strip()}),
cut AS (SELECT CAST(FLOOR(MAX(seq) * 0.6) AS BIGINT) AS c FROM decoded),
s1 AS (
  SELECT pk, value, prop_k FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
    FROM decoded d CROSS JOIN cut WHERE seq <= cut.c)
  WHERE rn = 1 AND op != 'delete'
),
s2 AS (
  SELECT pk, value, prop_k FROM (
    SELECT d.*, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
    FROM decoded d)
  WHERE rn = 1 AND op != 'delete'
),
cls AS (
  SELECT COALESCE(s1.pk, s2.pk) AS pk,
         CASE WHEN s1.pk IS NULL THEN 'added'
              WHEN s2.pk IS NULL THEN 'removed'
              WHEN s1.value IS DISTINCT FROM s2.value
                   OR s1.prop_k IS DISTINCT FROM s2.prop_k THEN 'changed'
              ELSE 'unchanged' END AS diff_class
  FROM s1 FULL OUTER JOIN s2 ON s1.pk = s2.pk
)
SELECT diff_class, COUNT(*) AS n_pks,
       MIN(pk) AS min_pk, MAX(pk) AS max_pk
FROM cls GROUP BY diff_class
""",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the answer to "CHECKSUM TABLE mismatched, WHICH
    rows diverged?" (pt-table-sync's planning pass): compact the
    changelog at two cuts (seq <= 60% of max, and the full log), full
    outer join the two states on pk, and classify every key as
    added / removed / changed / unchanged with count + pk range per
    class.  cdc_row_checksum detects divergence; this localizes it —
    together they are the repair loop a production replicator ships.

    Determinism: the cut is a pure function of the data (floor of
    0.6 x max seq, a 1-row broadcast), never wall clock; value/prop
    comparison uses null-safe IS DISTINCT FROM on both engines.
    Shape: two pk-windowed compactions (the cdc_apply_upsert core) +
    one pk full outer join + a 4-group aggregate.  At 100 TB both
    compactions and the join share pk partitioning — AQE reuses the
    exchange — and in production the older state is a stored snapshot,
    not a recompaction, making this one join + one agg over row counts
    that pruning bounds to the suspected tables."""
    decoded = decode_events(
        table(spark, sf_dir, "events"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )
    cut = decoded.agg(
        F.floor(F.max("seq") * 0.6).cast("bigint").alias("c")
    )

    def state(log):
        return compact(log, drop_deletes=True).select("pk", "value", "prop_k")

    s1 = state(
        decoded.crossJoin(F.broadcast(cut)).filter(F.col("seq") <= F.col("c"))
    ).alias("s1")
    s2 = state(decoded).alias("s2")
    joined = s1.join(s2, F.col("s1.pk") == F.col("s2.pk"), "full_outer")
    diff_class = (
        F.when(F.col("s1.pk").isNull(), "added")
        .when(F.col("s2.pk").isNull(), "removed")
        .when(
            ~F.col("s1.value").eqNullSafe(F.col("s2.value"))
            | ~F.col("s1.prop_k").eqNullSafe(F.col("s2.prop_k")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("s1.pk"), F.col("s2.pk")).alias("pk"),
            diff_class.alias("diff_class"),
        )
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).alias("n_pks"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
        )
    )


@register(
    "cdc_summing_merge",
    oracle=f"""
WITH decoded AS ({{decode}}),
seq AS (
  SELECT op, pk, seq, value,
         LAG(op)    OVER w AS prev_op,
         LAG(value) OVER w AS prev_value
  FROM decoded
  WINDOW w AS (PARTITION BY pk ORDER BY seq)
),
deltas AS (
  SELECT pk,
         CASE WHEN op = 'delete'
              THEN CASE WHEN prev_op IS NOT NULL AND prev_op != 'delete'
                        THEN -CAST(prev_value AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END
              ELSE CAST(value AS DECIMAL(12,2))
                   - CASE WHEN prev_op IS NOT NULL AND prev_op != 'delete'
                          THEN CAST(prev_value AS DECIMAL(12,2))
                          ELSE CAST(0 AS DECIMAL(12,2)) END
         END AS delta
  FROM seq
),
sums AS (
  SELECT pk, COUNT(*) AS n_deltas, SUM(delta) AS net
  FROM deltas GROUP BY pk
),
state AS (
  SELECT pk, op AS last_op, value AS last_value
  FROM decoded
  QUALIFY ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) = 1
)
SELECT sums.pk,
       n_deltas,
       CAST(net AS DOUBLE) AS net_value,
       CAST(last_op != 'delete' AS INT) AS alive,
       CAST(net = CASE WHEN last_op != 'delete'
                       THEN CAST(last_value AS DECIMAL(12,2))
                       ELSE CAST(0 AS DECIMAL(12,2)) END AS INT)
         AS matches_state
FROM sums JOIN state USING (pk)
""".format(decode=_DECODE.strip()),
)
def cdc_summing_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SummingMergeTree twin — the CDC counter-table pattern: instead
    of replacing rows, the replicator writes DELTA rows (insert ->
    +value, update -> value - prev, delete -> -prev) and lets the
    sink's merge SUM them per key; because addition commutes, merge
    order and part layout can never change the answer — that
    order-independence is the entire reason the pattern exists, and
    this key PROVES it by checking the summed ledger equals the
    replace-style compacted state for every pk (matches_state = 1
    everywhere; a live pk's net equals its last value, a deleted pk's
    net telescopes to exactly 0).

    Determinism: deltas are exact DECIMAL(12,2) throughout — the sum
    is order-free by exactness, surfaced once as DOUBLE; flags are
    INT.  Shape: ONE pk-keyed window (LAG) feeding a map-combined
    pk-sum, plus the last-row state from the same pk exchange
    (hashpartitioning(pk) reused), then a pk equi-join — the identical
    shuffle ClickHouse's merge pays, with AQE covering pk skew as in
    cdc_apply_upsert."""
    decoded = decode_events(table(spark, sf_dir, "events"))
    return summing_ledger(decoded)


def summing_ledger(decoded: DataFrame) -> DataFrame:
    """The SummingMergeTree ledger over ANY (op, pk, seq, value)
    changelog: delta rows per event, per-pk delta sum, and the
    matches_state proof against the last-row state.  Split out so the
    telescoping invariant (net == live value, or 0 after a delete) is
    property-testable on arbitrary changelogs, not just the fixture
    (tests/test_properties.py)."""
    w = Window.partitionBy("pk").orderBy("seq")
    d12 = "decimal(12,2)"
    zero = F.lit(0).cast(d12)
    seq = decoded.select(
        "op",
        "pk",
        "seq",
        "value",
        F.lag("op").over(w).alias("prev_op"),
        F.lag("value").over(w).alias("prev_value"),
    )
    prev_live = F.col("prev_op").isNotNull() & (F.col("prev_op") != "delete")
    prev_dec = F.when(prev_live, F.col("prev_value").cast(d12)).otherwise(zero)
    delta = F.when(F.col("op") == "delete", -prev_dec).otherwise(
        F.col("value").cast(d12) - prev_dec
    )
    sums = (
        seq.select("pk", delta.alias("delta"))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_deltas"), F.sum("delta").alias("net"))
    )
    state = compact(decoded).select(
        "pk", F.col("op").alias("last_op"), F.col("value").alias("last_value")
    )
    live = F.col("last_op") != "delete"
    expect = F.when(live, F.col("last_value").cast(d12)).otherwise(zero)
    return sums.join(state, "pk").select(
        "pk",
        "n_deltas",
        F.col("net").cast("double").alias("net_value"),
        live.cast("int").alias("alive"),
        (F.col("net") == expect).cast("int").alias("matches_state"),
    )
