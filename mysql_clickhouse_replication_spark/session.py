"""SparkSession factory and fixture loading.

Scale notes (100 TB design intent, tested on local[32]):

* AQE on — runtime coalescing, skew-join splitting, and join-strategy
  switching are the first line of defense on a real cluster.
* ``spark.sql.shuffle.partitions`` defaults to 32 locally (match cores);
  on a 1000-executor cluster this is overridden to ~2-4x total cores via
  ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` — AQE coalesces the excess.
* Session timezone pinned to UTC: fixtures carry naive timestamps and the
  DuckDB oracle is UTC-naive; any other TZ silently shifts values.
* Arrow enabled for the (rare) pandas-UDF paths.

Session memos
-------------
Cross-call state lives in exactly one primitive, ``session_memo``, and
every memo it creates is listed in ``MEMOS``.  The contract:

* Key: ``(applicationId, abspath(sf_dir), *rest)`` where ``rest`` is the
  decorated function's remaining arguments, defaults applied.  Nothing
  else may vary the result, so a DataFrame is never an argument.
* Stored values: lazy plans (possibly over localCheckpoint-ed bounded
  state), frames the memoized function persisted (no float or double
  column), and bounded trained state held in Python as ``int``/``bool``/
  ``str``/``None`` leaves inside tuples, lists and dicts -- never a
  float, never a query result.  tests/test_edges.py::test_memo_boundary
  sweeps ``MEMOS`` to enforce it.
* Eviction: any call drops every entry of a different applicationId and
  best-effort unpersists the frames it had pinned; a restarted session
  rebuilds from scratch.
* Re-pin: a frame that was persisted when stored is re-persisted on a hit
  if ``spark.catalog.clearCache()`` has dropped it; frames that were not
  persisted are returned as they are, with no JVM lookup.
* Cap: ``cap=n`` keeps at most ``n`` entries, dropping (and unpersisting)
  the oldest first.
"""

from __future__ import annotations

import functools
import inspect
import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: scratch families already stale-pruned by this process (see
#: scratch_path) — prune once per session, not once per key.
_PRUNED_FAMILIES: set[str] = set()


def get_spark(app_name: str = "mysql_clickhouse_replication_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_path(*parts: str, unique: bool = True) -> str:
    """Scratch path for sink/checkpoint dirs under <repo>/.scratch.

    ``unique=True`` (default) appends a per-run uuid leaf so concurrent
    verify/bench processes on the same sf_dir can never interleave an
    overwrite with a read-back of the same files.  Unique runs accumulate,
    so stale siblings (>2 h old) under the same family dir are pruned
    best-effort on each call — bounded disk without racing a live query.
    """
    import shutil
    import time
    import uuid

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(repo, ".scratch", parts[0]) if parts else None
    # Prune each family ONCE per process: stale siblings are >2 h old
    # by definition, so nothing new becomes prunable within one run and
    # repeating the listdir/mtime walk per key is pure per-key overhead
    # (the r8-prescribed session-scoped scratch discipline).
    if base and base not in _PRUNED_FAMILIES and os.path.isdir(base):
        _PRUNED_FAMILIES.add(base)
        cutoff = time.time() - 7200
        for entry in os.listdir(base):
            p = os.path.join(base, entry)
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    leaf = (uuid.uuid4().hex,) if unique else ()
    return os.path.join(repo, ".scratch", *parts, *leaf)


#: memo name ("module.qualname") -> {key: (value, pinned frames)}.
MEMOS: dict[str, dict] = {}


def _plan_is_cached(spark: SparkSession, df: DataFrame) -> bool:
    """True iff ``df``'s plan is still registered with the JVM cache
    manager.  ``DataFrame.is_cached`` is a Python-local flag that never
    observes ``spark.catalog.clearCache()``, so re-pin decisions must
    ask the source of truth; any introspection surprise answers False --
    re-persisting an already-cached frame is a harmless no-op, silently
    losing the pin is not."""
    try:
        return (
            not spark._jsparkSession.sharedState()
            .cacheManager()
            .lookupCachedData(df._jdf)
            .isEmpty()
        )
    except Exception:
        return False


def _frames(value):
    """Every DataFrame inside a memo value (nested tuples and lists)."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)


def _release(entry) -> None:
    for df in entry[1]:
        try:  # the owning session may already be stopped
            df.unpersist()
        except Exception:
            pass


def session_memo(fn=None, *, cap: int | None = None):
    """Memoize ``fn(spark, sf_dir, *rest)`` per live session under the
    contract in the module docstring.  Use as ``@session_memo`` or
    ``@session_memo(cap=n)``."""

    def wrap(fn):
        sig = inspect.signature(fn)
        store: dict = {}
        MEMOS[f"{fn.__module__}.{fn.__qualname__}"] = store

        @functools.wraps(fn)
        def memoized(spark, sf_dir, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            app = spark.sparkContext.applicationId
            rest = tuple(bound.arguments.values())[2:]
            key = (app, os.path.abspath(sf_dir), *rest)
            for stale in [k for k in store if k[0] != app]:
                _release(store.pop(stale))
            hit = store.get(key)
            if hit is not None:
                for df in hit[1]:  # re-pin what clearCache() dropped
                    if not _plan_is_cached(spark, df):
                        df.persist()
                return hit[0]
            value = fn(spark, sf_dir, *args, **kwargs)
            while cap is not None and len(store) >= cap:
                _release(store.pop(next(iter(store))))
            store[key] = (value, tuple(d for d in _frames(value) if d.is_cached))
            return value

        memoized.memo = store
        return memoized

    return wrap if fn is None else wrap(fn)


@session_memo
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (parquet scan; Catalyst prunes columns and
    pushes predicates into the row-group reader — see scan_* operators).

    Memoized because the fixture dirs are immutable for the life of a
    session: the lazy scan holds no rows, and every action still reads
    the parquet files, but re-creating the relation (file listing +
    footer schema inference + py4j round trips, 0.1-0.6 s per call on
    the bench box) would otherwise be paid by every query construction.

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) (early
    fixture generations) and TIMESTAMP(MICROS) (current).  Spark 4
    rejects NANOS by default, so the nanos-as-long legacy conf is set
    (runtime conf — also works under the driver's own SparkSession) and
    the decode branches on the type actually read: a LONG column is raw
    nanos and is truncated to microseconds — exactly what DuckDB's
    Python fetch does, so oracle hashes agree — while a native
    timestamp passes through untouched.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # Micros fixtures arrive as TIMESTAMP_NTZ (no UTC adjustment in
            # the parquet logical type).  Cast to TIMESTAMP (LTZ): with the
            # session pinned to UTC the instants are identical, and every
            # event operator sees the same type the nanos decode produced
            # (unix_micros and friends require LTZ).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

