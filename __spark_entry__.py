"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``mysql_clickhouse_replication_spark``;
this module only adapts the registry to the driver's interface.

Gate order
----------
The driver's correctness gate records only the FIRST 50 keys of the
``queries()`` dict (every key is still verified locally each round by
tools/verify_local.py).  So the order is computed from the committed
gate proof, the ``CORRECTNESS_r<N>.json`` files beside this module:
a key is green in round N when its row there has ``rows_match``,
``schema_match`` and ``hash_match`` all true and an empty ``err``.
Keys never green come first, in registration order; then every other
key by its newest green round, oldest first, ties in registration
order.  With no proof files the order is registration order.  Each
round's window is therefore the stalest-proven cohort.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mysql_clickhouse_replication_spark import ORACLES, QUERIES, load_all

_PROOF_DIR = os.path.dirname(os.path.abspath(__file__))


def _ordered_keys(proof_dir: str = _PROOF_DIR) -> list[str]:
    """Registry keys in gate order (see the module docstring)."""
    newest: dict[str, int] = {}
    for name in os.listdir(proof_dir):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if m is None:
            continue
        with open(os.path.join(proof_dir, name)) as f:
            rows = json.load(f)
        rnd = int(m.group(1))
        for key, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                newest[key] = max(newest.get(key, 0), rnd)
    # sorted() is stable, so ties keep registration order
    return sorted(QUERIES, key=lambda k: newest.get(k, 0))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1 shape) on /root/testdata/sf0.001."""
    load_all()
    return QUERIES["agg_groupby_multi"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    load_all()
    return {k: QUERIES[k] for k in _ordered_keys()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key (absent => rows-only check)."""
    load_all()
    return {k: ORACLES[k] for k in _ordered_keys() if k in ORACLES}
