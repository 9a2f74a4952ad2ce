"""Shared helpers for oracle-deterministic operator results.

The driver's correctness gate is an order-insensitive VALUE-HASH of the
result vs a DuckDB oracle (BASELINE.json:2).  Doubles summed in different
partition orders differ in the last ulps, so every aggregate over the
DOUBLE fixture columns is computed over an exact DECIMAL cast in BOTH
engines and only converted to DOUBLE at the very end.  Decimal precision
is sized so Spark's and DuckDB's result-type rules both stay exact:

* base money/qty columns  -> DECIMAL(12,2)   (values < 10^10)
* rates (discount/tax <1) -> DECIMAL(4,2)
* one product step        -> precision grows ~+5/+13, scale +2 — two
  chained multiplies stay under precision 38 in both engines.

ppm-surface overflow envelope: the all-integer `x * 1000000 DIV total`
fixed-point convention is exact while x < 2^63/10^6 ~ 9.2e12 (ANSI
multiply errors past it — orders_backlog_aging hit this on cent sums
at sf1 and was rewritten divisor-first: `cents DIV (total DIV 1e6)`,
valid whenever total >> 1e6).  For group sums that can exceed 9.2e12
units at extreme scale (token totals, event counts per hot group) the
production spelling is the same expression over DECIMAL(38,0)
operands; at every tested scale (sf0.001-sf1) the bigint form is exact
and is what the oracles pin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark-side decimal casts (exact: fixture doubles carry >=2-decimal values
# generated from 2-decimal domains; DuckDB applies the identical cast).
# Width policy: D12 for PLAIN SUM operands (sum precision 22 — headroom for
# trillions of rows); D8/D4 for PRODUCT operands — products stay at
# precision <= 18, Spark's compact (64-bit Long) decimal representation,
# ~2.5x faster than the Int128 path that DECIMAL(12,2) products take.
# Fixture domains: prices < 10^6 (fit D8), rates/quantities < 100 (fit D4).
D12 = "decimal(12,2)"
D8 = "decimal(8,2)"
D4 = "decimal(4,2)"


def dec(col: str | Column, typ: str = D12) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: str | Column, alias: str, typ: str = D12) -> Column:
    """Exact decimal SUM surfaced as DOUBLE (matches oracle pattern
    CAST(SUM(CAST(x AS DECIMAL(..))) AS DOUBLE))."""
    return F.sum(dec(col, typ)).cast("double").alias(alias)


def davg(col: str | Column, alias: str, typ: str = D12) -> Column:
    """Exact decimal SUM / COUNT in double — deterministic because the
    operands (one exact decimal-as-double, one long) are identical in both
    engines; oracle: CAST(SUM(CAST(x AS DEC)) AS DOUBLE)/COUNT(x)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c, typ)).cast("double") / F.count(c)).alias(alias)


# Oracle-side SQL fragments mirroring the helpers above.
def sql_dsum(expr: str, alias: str, typ: str = "DECIMAL(12,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str, typ: str = "DECIMAL(12,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE) / COUNT({expr}) AS {alias}"


# ---------------------------------------------------------------------------
# Banded (two-level) global-order windows.
#
# A global ordered Window (Window.orderBy with no partitionBy) forces
# Exchange SinglePartition — ONE reducer sorts and scans the whole frame,
# the classic scale-killer.  When the global order has a leading component
# whose value can be computed PER ROW (a day, a value band, a block id),
# the same exact result decomposes into:
#
#   stage 1: a hash-partitioned window PER BAND (parallel, distributed);
#   stage 2: per-band summaries (counts / totals / maxes) prefix-combined
#            on a |bands|-row frame — the only single-partition window
#            left, over bands, not rows;
#   stage 3: a broadcast join of band offsets back onto the rows.
#
# `band` MUST be monotone non-decreasing along the intended global order
# (i.e. the global order IS (band, *order_cols)).  Each helper returns the
# input plus the result column; internal columns are dropped.
# ---------------------------------------------------------------------------


def banded_row_number(df, band: Column, order_cols: list, alias: str):
    """Exact global ROW_NUMBER() OVER (ORDER BY band, *order_cols),
    computed with no full-frame single-partition sort."""
    from pyspark.sql import Window

    d = df.withColumn("_band", band)
    wloc = Window.partitionBy("_band").orderBy(*order_cols)
    loc = d.withColumn("_lrn", F.row_number().over(wloc))
    woff = Window.orderBy("_band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        loc.groupBy("_band")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .select(
            "_band",
            F.coalesce(F.sum("_bn").over(woff), F.lit(0)).alias("_boff"),
        )
    )
    return (
        loc.join(F.broadcast(off), "_band")
        .withColumn(alias, F.col("_boff") + F.col("_lrn"))
        .drop("_band", "_lrn", "_boff")
    )


def banded_running_sum(df, band: Column, order_cols: list, value: Column, alias: str):
    """Exact global SUM(value) OVER (ORDER BY band, *order_cols ROWS
    UNBOUNDED PRECEDING..CURRENT ROW) — two-level prefix sum.

    ROW-PRESERVATION CONTRACT: the output has exactly one row per input
    row (the offset join is an inner join on ``_band``, and every band
    present in ``df`` is present on both sides by construction).
    Callers COUNT the output rows relying on this — e.g.
    events_funnel_window_sensitivity derives ``n_sessions = count(1)
    DIV 2`` over the sweep (batch_twin.py) — so any change that filters
    bands, drops empty groups, or alters the join type silently corrupts
    those counts without a plan-test failure.  Keep it row-preserving."""
    from pyspark.sql import Window

    d = df.withColumn("_band", band)
    wloc = (
        Window.partitionBy("_band")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = d.withColumn("_lrs", F.sum(value).over(wloc))
    woff = Window.orderBy("_band").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        d.groupBy("_band")
        .agg(F.sum(value).alias("_bt"))
        .select(
            "_band",
            F.coalesce(F.sum("_bt").over(woff), F.lit(0)).alias("_boff"),
        )
    )
    return (
        loc.join(F.broadcast(off), "_band")
        .withColumn(alias, F.col("_boff") + F.col("_lrs"))
        .drop("_band", "_lrs", "_boff")
    )


def banded_running_max_excl(
    df,
    band: Column,
    order_cols: list,
    value: Column,
    alias: str,
    partition_cols: list[str] | None = None,
):
    """Exact MAX(value) OVER ([PARTITION BY *partition_cols] ORDER BY
    band, *order_cols ROWS UNBOUNDED PRECEDING..1 PRECEDING) — the
    exclusive running max (serial watermark clock), two-level: per-band
    exclusive max plus the inclusive max of all PRIOR bands.

    With ``partition_cols`` (column NAMES, r10), the clock runs
    independently PER PARTITION KEY — the per-partition-clock
    production swap the global form's callers document (one clock per
    Kafka partition / routed table): every window including the
    band-summary prefix becomes hash-partitioned on the key, so not
    even the |bands|-row combine is single-partition."""
    from pyspark.sql import Window

    pnames = list(partition_cols or [])
    d = df.withColumn("_band", band).withColumn("_v", value)
    wloc = (
        Window.partitionBy(*pnames, "_band")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = d.withColumn("_lmx", F.max("_v").over(wloc))
    woff = (
        Window.partitionBy(*pnames)
        .orderBy("_band")
        .rowsBetween(Window.unboundedPreceding, -1)
    ) if pnames else (
        Window.orderBy("_band").rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        d.groupBy(*pnames, "_band")
        .agg(F.max("_v").alias("_bm"))
        .select(*pnames, "_band", F.max("_bm").over(woff).alias("_pmx"))
    )
    return (
        loc.join(F.broadcast(off), [*pnames, "_band"])
        .withColumn(alias, F.greatest(F.col("_lmx"), F.col("_pmx")))
        .drop("_band", "_v", "_lmx", "_pmx")
    )


def idiv(a: Column, b: Column) -> Column:
    """Exact bigint floor division for non-negative bigint operands at
    ANY magnitude.  Double `/` + cast is only exact below ~2^52 (the
    r5 advice flagged the gap vs the 'exact at any count' claim);
    subtracting the modulus first makes the quotient integral, and a
    decimal divide of an exact multiple is rounding-free through the
    full bigint range."""
    return (
        ((a - a % b).cast("decimal(38,0)") / b.cast("decimal(38,0)"))
        .cast("bigint")
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """NTILE(k) from an exact global 1-based rank and the frame size n —
    the front-loaded-remainder piecewise closed form (first n%k buckets
    take n//k+1 rows): lets a distributed banded_row_number replace the
    single-reducer NTILE window with bit-identical output at any frame
    size (all-integer arithmetic via idiv — no double rounding)."""
    q = idiv(n, F.lit(k))
    r = n - q * k
    big = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    # otherwise-branch rows mathematically require q >= 1 (q = 0 puts
    # every rank in the first branch); greatest() keeps the dead branch
    # from dividing by zero under ANSI evaluation.
    qg = F.greatest(q, F.lit(1))
    return F.when(rank <= big, idiv(rank - 1, q + 1) + 1).otherwise(
        r + idiv(rank - big - 1, qg) + 1
    )


def _ddl_split(ddl: str) -> list[str]:
    """``ddl`` split at the commas outside ``<...>`` and ``(...)``: the
    columns of a schema string or the fields of a struct type."""
    parts, depth, cur = [], 0, ""
    for ch in ddl:
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return parts + [cur.strip()]


def _sql_lit(v, t: str) -> str:
    """One Python value as a foldable SQL literal of exactly the DDL type
    ``t``, with no CAST over a complex value (a CAST to a DDL array or
    struct type makes every element and field nullable, and Catalyst
    then guards joins on them with ``isnotnull`` filters):

    * ``bigint`` -> ``5L``;
    * ``array<T>`` -> ``array(...)`` of T literals; an empty list is a
      typed empty array, so lambdas over its fields still resolve;
    * ``struct<f:T, ...>`` -> ``named_struct`` in the type's field
      order, reading ``v[f]`` (a dict or a Row);
    * ``int``, ``string`` and ``boolean`` -> the plain literal (strings
      quoted with '' escaping); any other scalar, or None, is a CAST of
      it, which keeps a non-null value non-null."""
    low = t.lower()
    if v is None:
        return f"CAST(NULL AS {t})"
    if low.startswith("array<"):
        if not v:
            return f"CAST(array() AS {t})"
        return "array(" + ", ".join(_sql_lit(x, t[6:-1]) for x in v) + ")"
    if low.startswith("struct<"):
        fields = []
        for f in _ddl_split(t[7:-1]):
            name, ftype = (x.strip() for x in f.split(":", 1))
            fields.append(f"'{name}', {_sql_lit(v[name], ftype)}")
        return "named_struct(" + ", ".join(fields) + ")"
    if low in ("bigint", "long"):
        return f"{int(v)}L"
    if isinstance(v, bool):
        lit = "true" if v else "false"
    elif isinstance(v, str):
        lit = "'" + v.replace("'", "''") + "'"
    elif isinstance(v, (int, float)):
        lit = repr(v)
    else:
        raise TypeError(f"unsupported literal type: {type(v)!r}")
    return lit if low in ("int", "string", "boolean") else f"CAST({lit} AS {t})"


def values_df(spark, rows, schema: str):
    """Bounded literal rows as a TRUE LocalRelation: an inline VALUES
    table of literals typed by ``schema`` (see ``_sql_lit``).

    Replaces ``spark.createDataFrame(rows, schema)`` for constant dims:
    createDataFrame(list) is RDD-backed, so every materialization or
    BroadcastExchange build over it schedules a defaultParallelism-
    sliced micro-job (measured ~0.1-1 s per frame on local[32], and a
    scheduler round-trip per job on a real cluster), while a
    LocalRelation collects driver-side and broadcasts without launching
    a job; string/array/struct/timestamp columns work as well as ints.
    One SQL string, not Column literals: trained-state frames carry
    hundreds of values, and one py4j round trip per ``F.lit`` was
    measured at ~2 s of driver-side construction per Lloyd round.
    ``schema`` is the same "name type, ..." DDL string createDataFrame
    took, so call sites swap 1:1."""
    pairs = [c.split(None, 1) for c in _ddl_split(schema)]
    if not rows:  # VALUES needs >= 1 row; emit a typed empty frame
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in pairs)
        return spark.sql(f"SELECT {sel} WHERE 1 = 0")
    vals = ", ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, (_n, t) in zip(r, pairs)) + ")"
        for r in rows
    )
    names = ", ".join(n for n, _ in pairs)
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS t({names})")
