"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (numpy ``PCG64``), so one
seed always writes byte-identical parquet files.  Two kinds of input:

* ``write_fixture`` -- the engine's ten fixture tables (TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) with the same
  column names, types and value domains as the gate fixtures, at a small
  scale factor.  The query keys read these through ``session.table``.
* ``write_changelog`` -- an ``events``-schema parquet that is a CDC
  changelog with the shape of the ``events`` fixture (FIXTURES.md):
  ``event_type`` uniform over the five types, so each event is an insert,
  update or delete with odds 0.2/0.6/0.2 (``binlog_wire.record_changelog``
  maps signup -> insert, error -> delete, anything else -> update), and a
  strictly increasing ``event_id`` as the version.  Unlike the fixture,
  the primary keys are Zipf-skewed, so hot rows change often.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table key value join group sort merge hash scan "
    "filter agg window batch stream order customer part line query vector "
    "spark fast slow big small"
).split()
ADJ = "blue red hot cold old new small large".split()
NOUN = "widget plate ring rod bolt gear gizmo anvil".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
OP_OF_EVENT = {"signup": "insert", "error": "delete"}
#: The changelog's key count: the ``events`` fixture's user_id domain at
#: sf0.1 (``n_cust // 10`` in ``write_fixture``).
CHANGELOG_PKS = 1500
#: The fixture draws user_id uniformly; the changelog draws it from a Zipf
#: law instead.  0.99 is YCSB's default Zipfian constant (Cooper et al.,
#: SoCC 2010); no MySQL binlog trace was measured to confirm it.
ZIPF_S = 0.99

_UTC = dt.timezone.utc
_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    # documents and embeddings are smaller than the gate fixtures': the
    # DuckDB oracles of the dedup and quantization keys are all-pairs
    n_doc = max(200, int(200_000 * sf))
    n_emb = max(250, int(250_000 * sf))
    n_users = max(15, n_cust // 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(P_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    order_days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": r.choice(PRIORITIES, n_ord),
    })
    li_order = np.sort(r.integers(0, n_ord, n_li))
    _write(out_dir, "lineitem", {
        "l_orderkey": li_order.astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            _EPOCH_1995 + (order_days[li_order] + r.integers(1, 122, n_li))
            * _DAY_US
        ),
    })
    gaps = r.integers(1, 2 * 30 * _DAY_US // n_ev, n_ev)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": _money(r, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and r.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(8, 60)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": r.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = r.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
            "events": n_ev, "documents": n_doc, "embeddings": n_emb}


def changelog_ops(seed: int, n_events: int) -> tuple[list[str], np.ndarray]:
    """(event types, pks) of a changelog: each event type drawn uniformly
    and independently, pks drawn from a Zipf(``ZIPF_S``) law over
    ``CHANGELOG_PKS`` keys, so the lowest ranks are the hot rows."""
    r = _rng(seed, 2)
    types = [str(t) for t in r.choice(EVENT_TYPES, n_events)]
    ranks = np.arange(1, CHANGELOG_PKS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    pks = r.choice(CHANGELOG_PKS, n_events, p=p / p.sum()).astype(np.int64)
    return types, pks


def write_changelog(path: str, seed: int, n_events: int) -> dict[str, float]:
    """Write the changelog as an ``events``-schema parquet at ``path`` and
    return its input properties."""
    event_type, pks = changelog_ops(seed, n_events)
    r = _rng(seed, 3)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(r.integers(1, 60_000_000, n_events))),
        "user_id": pks,
        "event_type": event_type,
        "value": _money(r, 0.01, 500, n_events),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    }), path)
    return changelog_properties(
        [OP_OF_EVENT.get(t, "update") for t in event_type], pks)


def changelog_properties(ops: list[str], pks: np.ndarray) -> dict[str, float]:
    """Input properties a later gain can cite: size, key skew, op shares
    and transaction size (one transaction per same-op run of at most 64
    rows, as ``binlog_wire._statements`` cuts them)."""
    n = len(ops)
    counts = np.sort(np.bincount(pks))[::-1]
    distinct = int((counts > 0).sum())
    hot = max(1, distinct // 100)
    txs, run = 0, 0
    for i, op in enumerate(ops):
        if i == 0 or op != ops[i - 1] or run == 64:
            txs, run = txs + 1, 0
        run += 1
    return {
        "events": n,
        "distinct_pks": distinct,
        "hot_key_share": round(float(counts[:hot].sum()) / n, 4),
        "insert_share": round(ops.count("insert") / n, 4),
        "update_share": round(ops.count("update") / n, 4),
        "delete_share": round(ops.count("delete") / n, 4),
        "rows_per_tx": round(n / txs, 3),
    }
