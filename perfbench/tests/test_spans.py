"""Tests of the benchmark's metric math and input generators (no Spark).

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

from counters import plan_counts, tree_cpu_s  # noqa: E402
from inputs import changelog_properties, write_changelog, write_fixture  # noqa: E402
from spans import Tracer, overhead_frac, self_time  # noqa: E402

from mysql_clickhouse_replication_spark.sources.binlog_wire import (  # noqa: E402
    record_changelog,
)


def test_self_time_without_children_is_the_duration():
    assert self_time(1.0, 4.0, []) == 3.0


def test_self_time_counts_overlapping_children_once():
    # children cover [2, 5] as a union: 3 of the span's 10 seconds
    assert self_time(0.0, 10.0, [(2.0, 4.0), (3.0, 5.0)]) == pytest.approx(7.0)


def test_self_time_ignores_child_time_outside_the_span():
    assert self_time(0.0, 10.0, [(-5.0, 1.0), (9.0, 20.0)]) == pytest.approx(8.0)


def test_self_time_disjoint_children():
    assert self_time(0.0, 10.0, [(6.0, 7.0), (1.0, 2.0)]) == pytest.approx(8.0)


def test_tracer_self_times_by_name_and_nesting():
    t = Tracer()
    root = t.add("replicate", 0.0, 10.0, None, "c0")
    b0 = t.add("batch", 1.0, 4.0, root, "c0")
    t.add("sink_write", 2.0, 3.5, b0, "c0")
    t.add("batch", 5.0, 9.0, root, "c0")
    got = t.self_times()
    assert got["replicate"] == pytest.approx(3.0)
    assert got["batch"] == pytest.approx(1.5 + 4.0)
    assert got["sink_write"] == pytest.approx(1.5)


def test_tracer_span_nests_and_inherits_op_id():
    t = Tracer()
    with t.span("query", op_id="k#1"):
        with t.span("construct"):
            pass
    query, construct = t.spans
    assert construct.parent == 0 and query.parent is None
    assert construct.op_id == "k#1"
    assert query.start <= construct.start <= construct.end <= query.end


def test_overhead_frac_uses_medians():
    assert overhead_frac([1.1, 1.2, 9.0], [1.0, 1.0, 0.5]) == pytest.approx(0.2)


def test_plan_counts():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- SortMergeJoin [k#1], [k#2], Inner
   :- Sort [k#1 ASC NULLS FIRST], false, 0
   :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=1]
   :     +- MapInArrow _encode(op#3), [payload#4]
   +- BroadcastHashJoin [k#2], [k#5], Inner, BuildRight
      +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=2]
"""
    c = plan_counts(plan)
    assert (c.exchange, c.smj, c.bhj, c.python) == (2, 1, 1, 1)
    assert c.chars == len(plan)


def test_tree_cpu_counts_exited_descendants():
    # a child runs a grandchild that burns 0.3 CPU-seconds; both exit and
    # are reaped before the second reading
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass")
    child = f"import subprocess, sys; subprocess.run([sys.executable, '-c', {burn!r}])"
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", child], check=True)
    assert tree_cpu_s() - before >= 0.28


def test_changelog_properties():
    ops = ["insert", "insert", "update", "update", "update", "delete"]
    pks = np.array([0, 1, 0, 0, 2, 1])
    p = changelog_properties(ops, pks)
    assert p["events"] == 6 and p["distinct_pks"] == 3
    assert p["hot_key_share"] == pytest.approx(0.5)  # pk 0: 3 of 6
    assert (p["insert_share"], p["delete_share"]) == (
        pytest.approx(2 / 6, abs=1e-4), pytest.approx(1 / 6, abs=1e-4))
    assert p["rows_per_tx"] == pytest.approx(2.0)  # runs: ii, uuu, d


def _bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_same_seed_writes_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    props_a = write_changelog(f"{a}/events.parquet", 7, 2000)
    props_b = write_changelog(f"{b}/events.parquet", 7, 2000)
    write_changelog(f"{c}/events.parquet", 8, 2000)
    assert props_a == props_b
    assert _bytes(f"{a}/events.parquet") == _bytes(f"{b}/events.parquet")
    assert _bytes(f"{a}/events.parquet") != _bytes(f"{c}/events.parquet")
    logs = [record_changelog(f"{x}/events.parquet") for x in (a, b)]
    try:
        assert _bytes(logs[0]) == _bytes(logs[1])
    finally:
        for log in logs:
            os.remove(log)
    write_fixture(f"{a}/fx", 7, 0.001)
    write_fixture(f"{b}/fx", 7, 0.001)
    for name in sorted(os.listdir(f"{a}/fx")):
        assert _bytes(f"{a}/fx/{name}") == _bytes(f"{b}/fx/{name}"), name


def test_changelog_is_skewed_and_mixed(tmp_path):
    p = write_changelog(str(tmp_path / "events.parquet"), 1, 3000)
    assert p["hot_key_share"] > 0.2  # top 1% of keys carry the hot rows
    # event_type uniform over five types: insert 1/5, update 3/5, delete 1/5
    assert p["update_share"] == pytest.approx(0.6, abs=0.05)
    assert p["insert_share"] == pytest.approx(0.2, abs=0.05)
    assert p["delete_share"] == pytest.approx(0.2, abs=0.05)
