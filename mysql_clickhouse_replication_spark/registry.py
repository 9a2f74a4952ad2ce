"""Query/oracle registry — the build contract of SURVEY.md section 2.

Every implemented operator registers a key here:

* ``QUERIES[key]``  -> Callable[(SparkSession, sf_dir str)] -> DataFrame
* ``ORACLES[key]``  -> equivalent DuckDB ANSI SQL (hash-matched by the
  driver at sf0.01), or absent for non-SQL-expressible ops (rows-only).

Determinism rules (SURVEY.md section 5.2 item 5) enforced by convention:

* money/quantity aggregates go through exact DECIMAL casts on BOTH sides,
  then cast to DOUBLE at the end — float-summation order can never flip a
  hash bit;
* collect_list-style outputs are array_sort-ed;
* every top-k has a total tiebreak order;
* floating similarity scores are rounded BEFORE ranking so both engines
  rank identical values.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_LOADED = False


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query callable and (optionally) its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        composite,
        joins,
        relational,
        setops,
        sorts,
        tpch_full,
        windows,
    )
    from .functions import pipeline, ann_index, quality, scalar, text, vectors  # noqa: F401
    from .plans import cdc, ddl, integrity, mergetree  # noqa: F401
    from .sources import formats  # noqa: F401
    from .streaming import batch_twin, queries as streaming_queries  # noqa: F401

    _LOADED = True
