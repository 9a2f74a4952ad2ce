"""Edge-case twins of the oracle gate on synthetic mini-fixtures.

The sf fixtures guarantee comfortable shapes (>=3-token documents, one
micro-batch per stream).  These tests feed deliberately hostile inputs
through BOTH engines so fixture luck can't mask a divergence."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as e


@pytest.fixture(scope="module")
def short_docs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("short_docs")
    tbl = pa.table(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["one", "two toks", "three tok doc", "a b c d"],
            "lang": ["en"] * 4,
            "category": ["x"] * 4,
            "published_at": [None] * 4,
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    return str(d)


def _oracle_rows(sf_dir: str, key: str, order_by: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    return con.execute(e.oracle_sql()[key] + f" ORDER BY {order_by}").fetchall()


def test_dedup_embedding_structural_recall(spark, sf_dir):
    """Every injected clone pair (-vec_id - 1, vec_id) must appear in
    the output regardless of IVF cell shapes or hot-cell splits —
    identical vectors get identical rounded scores at both assignment
    levels, so sharing a (cell, subcell) is structural, not a fixture
    accident. Guards the recall claim the bucketed plan rests on.
    (Clone ids live in the negative id space so they can never alias a
    real fixture id; the negative clone sorts first, so it is id_a.)"""
    rows = e.queries()["dedup_embedding"](spark, sf_dir).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    import duckdb

    clone_ids = duckdb.connect().execute(
        "SELECT vec_id FROM read_parquet("
        f"'{sf_dir}/embeddings.parquet') WHERE vec_id % 20 = 0"
    ).fetchall()
    missing = [
        (-vid - 1, vid)
        for (vid,) in clone_ids
        if (-vid - 1, vid) not in pairs
    ]
    assert not missing, f"clone pairs missing from dedup output: {missing[:5]}"


def test_scratch_path_unique_and_isolated():
    """Concurrent-run isolation contract: default scratch paths carry a
    per-call uuid leaf under the family dir; unique=False returns the
    bare family path (callers then append their own uuid)."""
    from mysql_clickhouse_replication_spark.session import scratch_path

    p1 = scratch_path("t_family", "sub")
    p2 = scratch_path("t_family", "sub")
    assert p1 != p2
    assert "/.scratch/t_family/sub/" in p1
    fixed = scratch_path("t_family", "sub", unique=False)
    assert fixed.endswith("/.scratch/t_family/sub")


def test_text_fingerprint_short_docs(spark, short_docs_dir):
    """1- and 2-token docs: bounded shingle sequence in Spark, bounded
    range + final modulus in DuckDB (list_reduce has no init value, so a
    single-shingle doc would otherwise skip the rolling modulus)."""
    sdf = e.queries()["text_fingerprint"](spark, short_docs_dir).orderBy("doc_id")
    srows = [tuple(r) for r in sdf.collect()]
    orows = _oracle_rows(short_docs_dir, "text_fingerprint", "doc_id")
    assert srows == orows


def test_wide_row_reassemble_empty_text(spark, tmp_path_factory):
    """Empty wide value (r8 ADVICE): unguarded, Spark's sequence(1, 0)
    is the DESCENDING [1, 0] (two phantom chunks) while DuckDB's
    range(1, 1) drops the doc entirely.  Both engines pin
    greatest(1, ...) so an empty text reassembles as exactly one empty
    chunk — present, n_chunks=1, intact=1 — and the engines agree."""
    d = tmp_path_factory.mktemp("empty_text_docs")
    tbl = pa.table(
        {
            "doc_id": [1, 2],
            "text": ["", "forty-one chars of text to straddle a chunk"],
            "lang": ["en"] * 2,
            "category": ["x"] * 2,
            "published_at": [None] * 2,
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    sdf = e.queries()["cdc_wide_row_reassemble"](spark, str(d)).orderBy("doc_id")
    srows = [tuple(r) for r in sdf.collect()]
    orows = _oracle_rows(str(d), "cdc_wide_row_reassemble", "doc_id")
    assert srows == orows
    empty = srows[0]
    assert empty[0] == 1 and empty[1] == 1 and empty[3] == 1  # one intact chunk
    assert srows[1][1] == 2  # 44 chars -> 2 chunks


# ---- round-3 second wave edges -----------------------------------------


def test_naaj_inner_null_empties_result(spark):
    """NOT IN three-valued logic: ONE NULL in the inner set makes every
    NOT IN comparison non-TRUE, so the result must be EMPTY -- the
    direction the fixture key (whose inner side is null-free) cannot
    exercise.  A plain anti-join rewrite would wrongly keep rows."""
    spark.range(5).selectExpr("id AS k").createOrReplaceTempView("naaj_outer")
    spark.sql(
        "SELECT * FROM VALUES (1), (CAST(NULL AS BIGINT)) AS t(v)"
    ).createOrReplaceTempView("naaj_inner_null")
    got = spark.sql(
        "SELECT k FROM naaj_outer WHERE k NOT IN (SELECT v FROM naaj_inner_null)"
    ).collect()
    assert got == []
    # sanity: same construction in DuckDB agrees
    assert (
        duckdb.sql(
            "SELECT COUNT(*) FROM range(5) r(k) "
            "WHERE k NOT IN (SELECT * FROM (VALUES (1), (NULL)) t(v))"
        ).fetchone()[0]
        == 0
    )


def test_quantize_zero_vector_guarded(spark):
    """An all-zero embedding must not divide by zero: the greatest(mx,
    1e-3) guard yields qv = all zeros, max_abs_err = 0, and a
    bigint-representable scale in BOTH engines (an epsilon guard
    overflows Spark's long into saturation while DuckDB errors)."""
    import os, tempfile

    QUERIES = e.queries()

    d = tempfile.mkdtemp(prefix="qz_")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0], type=pa.int64()),
                "embedding": pa.array(
                    [[0.0] * 4], type=pa.list_(pa.float32())
                ),
                "label": pa.array([0], type=pa.int64()),
            }
        ),
        os.path.join(d, "embeddings.parquet"),
    )
    row = QUERIES["embedding_quantize"](spark, d).collect()[0]
    assert row.qvec == "0,0,0,0"
    assert row.max_abs_err_e9 == 0
    assert row.scale_e6 == int(127.0 / 1e-3 * 1e6)


def test_chunking_doc_shorter_than_stride(spark, short_docs_dir):
    """A document shorter than one stride must yield exactly ONE chunk
    covering the whole document (sequence(1, n, 24) = [1])."""
    rows = {
        r.doc_id: r
        for r in e.queries()["docs_chunk_overlap"](spark, short_docs_dir)
        .collect()
    }
    assert rows[1].n_tokens == 1 and rows[1].chunk_text == "one"
    assert rows[4].n_tokens == 4 and rows[4].chunk_text == "a b c d"
    assert all(r.chunk_start == 1 for r in rows.values())


@pytest.fixture(scope="module")
def copied_passage_dir(tmp_path_factory):
    """Synthetic corpus for the exact-substring guarantee: doc 2 embeds
    a verbatim 80-char passage from doc 1 inside otherwise-different
    text; doc 3 shares nothing 50-char-aligned with either."""
    d = tmp_path_factory.mktemp("copied_passage")
    passage = ("the quick brown fox jumps over the lazy dog while the "
               "cat watches from the warm windowsill")[:80]
    doc1 = "intro words before anything " + passage + " and a closing remark"
    doc2 = ("a completely different opening paragraph here " + passage
            + " with its own unrelated ending text")
    doc3 = ("x" * 40 + "y" * 40 + "z" * 40)
    tbl = pa.table(
        {
            "doc_id": [1, 2, 3],
            "text": [doc1, doc2, doc3],
            "lang": ["en"] * 3,
            "source": ["srcA", "srcB", "srcC"],
            "n_chars": [len(doc1), len(doc2), len(doc3)],
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_substring_dedup_catches_copied_passage(spark, copied_passage_dir):
    """The stride-25/k-50 shingle guarantee: any shared verbatim run of
    >= 74 chars MUST be caught regardless of alignment (the two copies
    sit at different offsets); disjoint docs must never be flagged."""
    qs = e.queries()
    rows = {
        r["doc_id"]: r
        for r in qs["docs_substring_dedup"](spark, copied_passage_dir).collect()
    }
    assert 2 in rows and rows[2]["dup_of"] == 1
    assert 3 not in rows
    assert 1 not in rows  # the earliest copy is the survivor, never flagged


@pytest.fixture(scope="module")
def bm25_corpus_dir(tmp_path_factory):
    """Equal-length docs with monotone query-term density."""
    d = tmp_path_factory.mktemp("bm25_corpus")
    filler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    mk = lambda hits: ("data query " * hits + filler + " ") * 1
    docs = {
        1: "data query fast data query fast " + filler,
        2: "data query fast " + filler + " " + filler[:16],
        3: filler + " " + filler,
    }
    tbl = pa.table(
        {
            "doc_id": list(docs),
            "text": list(docs.values()),
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(t) for t in docs.values()],
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_bm25_rank_monotone_in_term_density(spark, bm25_corpus_dir):
    """More query-term mass at comparable length must rank higher; a
    doc with zero query terms must not appear at all."""
    qs = e.queries()
    out = qs["text_bm25_search"](spark, bm25_corpus_dir).collect()
    ids = [r["doc_id"] for r in out]
    assert ids.index(1) < ids.index(2)
    assert 3 not in ids


def test_funnel_unordered_bounds_ordered(spark, sf_dir):
    """Set-membership completion is an upper bound on sequenced
    completion, and both are bounded by the user population."""
    qs = e.queries()
    r = qs["events_funnel_unordered"](spark, sf_dir).collect()[0]
    assert r["n_all3_ordered"] <= r["n_all3_unordered"]
    assert r["n_all3_unordered"] <= r["n_view_click"] <= r["n_has_view"]
    assert r["n_has_view"] <= r["n_users"]


def test_business_days_exhaustive_weekday_span_pairs(spark):
    """Brute-force the business_days closed form over EVERY (start
    weekday, signed span) equivalence class: 7 base weekdays x spans
    -22..22 (covers all span%7 values, both signs, zero, and multi-week
    carries) plus two long spans.  The reference semantics counted here:
    weekdays in the half-open span (earlier, later], negated when
    d1 < d0."""
    from datetime import date, timedelta

    from mysql_clickhouse_replication_spark.functions.scalar import (
        business_days,
    )

    base = date(2024, 1, 1)  # a Monday (ISO weekday 0)
    rows = []
    for wd in range(7):
        d0 = base + timedelta(days=wd)
        for span in [*range(-22, 23), -365, 365]:
            rows.append((d0, d0 + timedelta(days=span)))

    def brute(d0, d1):
        lo, hi = (d0, d1) if d1 >= d0 else (d1, d0)
        n = sum(
            1
            for i in range(1, (hi - lo).days + 1)
            if (lo + timedelta(days=i)).weekday() < 5
        )
        return n if d1 >= d0 else -n

    import pyspark.sql.functions as F

    df = spark.createDataFrame(rows, "d0 date, d1 date").select(
        "d0", "d1", business_days(F.col("d0"), F.col("d1")).alias("bd")
    )
    got = {(r["d0"], r["d1"]): r["bd"] for r in df.collect()}
    for d0, d1 in rows:
        assert got[(d0, d1)] == brute(d0, d1), (d0, d1)


def test_active_coverage_touching_intervals_merge(spark, tmp_path_factory):
    """Interval-union edges: back-to-back orders whose windows TOUCH
    (next start == previous end) must merge into one span (exclusive
    ends: coverage has no gap), while a 1-day gap splits.  Feeds a
    hand-built orders table through the registered query."""
    import datetime

    d = tmp_path_factory.mktemp("cov_orders")
    base = datetime.date(2024, 1, 1)
    rows = {
        # cust 1: second window starts exactly at first window's end
        # (day 30) -> ONE merged span of 60 days
        "o_custkey": [1, 1, 2, 2],
        "o_orderkey": [10, 11, 20, 21],
        "o_orderdate": [
            base,
            base + datetime.timedelta(days=30),
            # cust 2: 31-day gap -> TWO spans of 30 days each
            base,
            base + datetime.timedelta(days=61),
        ],
    }
    tbl = pa.table(rows)
    pq.write_table(tbl, os.path.join(str(d), "orders.parquet"))
    out = {
        r["o_custkey"]: r
        for r in e.queries()["orders_active_coverage"](spark, str(d)).collect()
    }
    assert out[1]["n_spans"] == 1 and out[1]["covered_days"] == 60
    assert out[2]["n_spans"] == 2 and out[2]["covered_days"] == 60


def test_temperature_sample_rates_capped_and_budgeted(spark, sf_dir):
    """Temperature-mixing invariants on the live fixture: every keep
    rate is a valid ppm (0..1e6], the realized share never exceeds the
    rate's implied ceiling, and the total target stays within the
    half-corpus budget."""
    rows = e.queries()["docs_temperature_sample"](spark, sf_dir).collect()
    assert rows
    total_docs = sum(r["n_docs"] for r in rows)
    total_target = sum(r["target_n"] for r in rows)
    assert total_target <= total_docs // 2
    for r in rows:
        assert 0 < r["rate_ppm"] <= 1_000_000
        assert 0 <= r["realized_n"] <= r["n_docs"]


@pytest.fixture(scope="module")
def stop_shingle_dir(tmp_path_factory):
    """70 docs sharing one boilerplate trigram (df=70 > the 64 cap) plus
    a genuine contained/container pair built from unique shingles."""
    d = tmp_path_factory.mktemp("stop_shingle")
    ids, texts = [], []
    for i in range(1, 71):
        ids.append(i)
        texts.append(f"boiler plate footer w{i}x w{i}y w{i}z w{i}q")
    ids += [101, 103]
    texts += [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta epsilon zeta eta",
    ]
    tbl = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * len(ids),
            "category": ["x"] * len(ids),
            "published_at": [None] * len(ids),
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    return str(d)


def test_containment_df_cap_fires_and_stays_oracle_exact(
    spark, stop_shingle_dir
):
    """The df>64 stop-shingle must be dropped by BOTH engines (capped
    count on the surface), the spurious boilerplate-only pairs must not
    appear, and the true contained pair must survive the cap — the
    sf fixtures never reach the cap (max df 25), so only this corpus
    proves the capped path itself."""
    rows = e.queries()["dedup_containment"](spark, stop_shingle_dir).collect()
    got = {
        (r["contained_id"], r["container_id"],
         r["containment"], r["n_capped_shingles"])
        for r in rows
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{stop_shingle_dir}/documents.parquet')"
    )
    oracle = set(map(tuple, con.execute(
        e.oracle_sql()["dedup_containment"]
    ).fetchall()))
    assert got == oracle
    # exactly one shingle ('boiler plate footer', df=70) was capped out
    assert rows and all(r["n_capped_shingles"] == 1 for r in rows)
    # the unique-shingle containment pair survives the cap at 1.0
    assert (101, 103, 1.0, 1) in got
    # no pair is justified by the boilerplate shingle alone: every
    # emitted contained doc shares >= 0.9 of its KEPT shingles, and the
    # 70 base docs share ONLY the capped shingle pairwise
    base_pairs = [
        (a, b) for (a, b, _, _) in got if a <= 70 and b <= 70
    ]
    assert not base_pairs, f"boilerplate-only pairs leaked: {base_pairs[:5]}"


def test_semantic_prune_nonvacuous_and_survivor_invariant(spark, sf_dir):
    """dedup_semantic_prune: the injected perturbed clones must make
    the key non-vacuous (some vectors pruned), and the dominance rule
    guarantees every cell keeps at least one member (each bucket's
    priority-minimum is never dropped)."""
    rows = e.queries()["dedup_semantic_prune"](spark, sf_dir).collect()
    assert sum(r["n_dropped"] for r in rows) > 0
    for r in rows:
        assert r["n_vecs"] - r["n_dropped"] >= 1, r
        assert r["keysum_kept"] is not None, r
        # the one-level hot-cell split must fully tame every bucket on
        # the fixture — a non-zero overflow audit here means the
        # Θ(cap²) bound claimed in the docstring no longer holds
        assert r["n_overflow_buckets"] == 0, r


def test_m4_packed_ordering_key_headroom():
    """events_m4_downsample packs (in-bucket offset micros, event_id)
    into one BIGINT as offset * 2^28 + id: the pack is injective and
    order-preserving only while event_id < 2^28, so assert the fixture
    family's id span (sf1 = 10x the sf0.1 max, key-shifted) leaves at
    least two orders of magnitude of headroom — the same make-the-
    bound-observable discipline as dedup_semantic_prune's overflow
    audit."""
    import duckdb

    (mx,) = duckdb.connect().execute(
        "SELECT MAX(event_id) FROM "
        "read_parquet('/root/testdata/sf0.1/events.parquet')"
    ).fetchone()
    sf1_max = (mx + 1) * 10  # make_sf1.py: 10 replicas shifted by span
    assert sf1_max * 100 < 1 << 28, sf1_max


def test_perplexity_nosort_tiny_language_tercile_edges(spark, tmp_path_factory):
    """docs_perplexity_buckets_nosort's NTILE arithmetic (q = n DIV 3,
    r = n % 3, remainder-first) must agree with real NTILE on language
    sizes the fixture never exercises: n = 1 (one bucket), n = 2 (two
    singleton buckets), n = 4 (sizes 2/1/1), n = 5 (2/2/1) — the
    remainder branches and the guarded q = 0 division."""
    d = tmp_path_factory.mktemp("tiny_langs")
    rows, doc_id = [], 0
    for lang, n in [("aa", 1), ("bb", 2), ("cc", 4), ("dd", 5)]:
        for i in range(n):
            rows.append(
                (doc_id, f"tok{i % 3} tok{(i * 7) % 5} shared word", lang)
            )
            doc_id += 1
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    sdf = e.queries()["docs_perplexity_buckets_nosort"](spark, str(d))
    srows = sorted(tuple(r) for r in sdf.collect())
    orows = sorted(_oracle_rows(str(d), "docs_perplexity_buckets_nosort",
                                "lang, bucket"))
    assert srows == orows
    sizes = {(r[0], r[1]): r[2] for r in srows}
    assert sizes[("aa", 1)] == 1
    assert sizes[("bb", 1)] == 1 and sizes[("bb", 2)] == 1
    assert sizes[("cc", 1)] == 2 and sizes[("cc", 2)] == 1 and sizes[("cc", 3)] == 1
    assert sizes[("dd", 1)] == 2 and sizes[("dd", 2)] == 2 and sizes[("dd", 3)] == 1


def test_m4_null_value_at_bucket_endpoints(spark, tmp_path_factory):
    """events_m4_downsample NULL symmetry (r10 advice): when the
    earliest and/or latest point of a pixel bucket carries a NULL
    reading, BOTH engines must report v_first/v_last = NULL — Spark
    min_by/max_by return the value at the extreme key even when NULL,
    and the oracle's struct_pack(v := value).v restores the same
    semantics in DuckDB (bare arg_min/arg_max would skip the NULL row
    and silently substitute the nearest non-NULL point).  Fixture pins
    NULLs at both endpoints of one bucket, one endpoint of another,
    and an all-NULL bucket."""
    import datetime as dt

    d = tmp_path_factory.mktemp("m4_nulls")
    t0 = dt.datetime(2024, 1, 1)  # bucket-aligned (6h pixel span)
    rows = [
        # bucket 0: NULL at first AND last key, real values inside
        (1, t0 + dt.timedelta(minutes=1), None),
        (2, t0 + dt.timedelta(minutes=30), 5.0),
        (3, t0 + dt.timedelta(minutes=60), 2.0),
        (4, t0 + dt.timedelta(minutes=90), None),
        # bucket 1: NULL only at the first key (equal ts, id tiebreak)
        (5, t0 + dt.timedelta(hours=6, minutes=10), None),
        (6, t0 + dt.timedelta(hours=6, minutes=10), 7.0),
        (7, t0 + dt.timedelta(hours=6, minutes=20), 9.0),
        # bucket 2: every reading NULL
        (8, t0 + dt.timedelta(hours=12, minutes=5), None),
        (9, t0 + dt.timedelta(hours=12, minutes=6), None),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": ["click"] * len(rows),
                "value": pa.array([r[2] for r in rows], pa.float64()),
                "props": ["{}"] * len(rows),
            }
        ),
        os.path.join(str(d), "events.parquet"),
    )
    sdf = e.queries()["events_m4_downsample"](spark, str(d))
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(e.oracle_sql()["events_m4_downsample"]).fetchall()
    )
    assert srows == orows
    b0, b1, b2 = sorted(srows, key=lambda r: r[1])  # consecutive buckets
    assert b1[1] == b0[1] + 1 and b2[1] == b0[1] + 2
    # bucket 0: first/last NULL, min/max from the interior points
    assert b0[5] is None and b0[6] is None
    assert (b0[3], b0[4]) == (2.0, 5.0)
    # bucket 1: id tiebreak at equal ts picks the NULL-first row
    assert b1[5] is None and b1[6] == 9.0
    # bucket 2: all-NULL bucket — every surface NULL, n_points honest
    assert b2[2:] == (2, None, None, None, None)


def test_ttl_rollup_all_expired_and_none_expired(spark, tmp_path_factory):
    """cdc_ttl_rollup at the horizon extremes the sf fixtures never
    hit: a history spread far past 30 days (everything except the
    anchor day collapses to rollup rows) and a history inside one day
    (nothing expires — the output IS the raw table, zero rollup rows).
    Both engines on both fixtures, plus the exactness invariant: the
    decimal rollup sums equal the per-row values summed directly."""
    import datetime as dt
    from decimal import Decimal

    def mk(name, rows):
        d = tmp_path_factory.mktemp(name)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(
                        [r[0] for r in rows], pa.int64()
                    ),
                    "ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": [r[2] for r in rows],
                    "value": pa.array([r[3] for r in rows], pa.float64()),
                    "props": ["{}"] * len(rows),
                }
            ),
            os.path.join(str(d), "events.parquet"),
        )
        return str(d)

    def both(d):
        srows = sorted(
            tuple(r) for r in e.queries()["cdc_ttl_rollup"](spark, d).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet')"
        )
        orows = sorted(
            tuple(r)
            for r in con.execute(e.oracle_sql()["cdc_ttl_rollup"]).fetchall()
        )
        return srows, orows

    t0 = dt.datetime(2024, 1, 1)
    spread = mk(
        "ttl_spread",
        [
            (1, t0, "click", 0.125),
            (2, t0 + dt.timedelta(minutes=1), "click", 0.25),
            (3, t0 + dt.timedelta(days=1), "click", 1.5),
            (4, t0 + dt.timedelta(days=2), "view", 2.0),
            (5, t0 + dt.timedelta(days=40), "click", 7.0),  # the anchor
        ],
    )
    srows, orows = both(spread)
    assert srows == orows
    kinds = {r[2] for r in srows}
    assert kinds == {"rollup", "raw"}
    rollups = [r for r in srows if r[2] == "rollup"]
    # day-1 click rollup merged BOTH sub-day rows, sum exact
    d0 = [r for r in rollups if r[0] == "click" and r[4] == 2]
    assert len(d0) == 1 and d0[0][5] == 0.375 and d0[0][3] is None
    # only the anchor row survives raw
    raws = [r for r in srows if r[2] == "raw"]
    assert [r[3] for r in raws] == [5] and raws[0][5] == 7.0

    fresh = mk(
        "ttl_fresh",
        [
            (1, t0, "click", 1.0),
            (2, t0 + dt.timedelta(hours=5), "view", 2.0),
        ],
    )
    srows, orows = both(fresh)
    assert srows == orows
    assert {r[2] for r in srows} == {"raw"} and len(srows) == 2


def test_py_ss_matches_both_engines_on_sign_grid(spark):
    """r14 optimization invariant: _py_ss (the plan-time Python twin of
    the family's sign-split truncating division) must agree with BOTH
    engines' native division on every sign combination — Spark DIV
    truncates, DuckDB // floors, Python // floors; the sign-split makes
    all three identical, and the d-bounded chain arithmetic that moved
    to plan time (_py_chain_hws, _py_pca_iter, _pca_topk_frames, the
    Lloyd means) leans on exactly this identity."""
    import duckdb

    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _pca_ss,
        _py_ss,
    )

    grid = [
        (x, d)
        for x in (-1000001, -65537, -100, -7, -1, 0, 1, 7, 100, 65537, 1000001)
        for d in (1, 2, 3, 10, 100, 65536)
    ]
    vals = ", ".join(f"({x}, {d})" for x, d in grid)
    spark_rows = spark.sql(
        f"SELECT x, d, {_pca_ss('x', 'd')} AS r"
        f" FROM VALUES {vals} AS t(x, d)"
    ).collect()
    duck_rows = duckdb.sql(
        "SELECT x, d, CASE WHEN x < 0 THEN -(abs(x) // d)"
        f" ELSE x // d END AS r FROM (VALUES {vals}) t(x, d)"
    ).fetchall()
    for r in spark_rows:
        assert _py_ss(int(r["x"]), int(r["d"])) == int(r["r"]), r
    for x, d, r in duck_rows:
        assert _py_ss(int(x), int(d)) == int(r), (x, d, r)


def test_opq_rot_frame_literal_matches_collected_chain(spark, sf_dir):
    """r14 optimization invariant: the literal rotation frame
    (_opq_rot_frame over _py_chain_hws) must carry exactly the
    (w, wtw) values the former in-plan chain produced — pinned by
    rebuilding the chain INSIDE Spark from the same collected basis
    via the original expression sequence on 64-row frames and
    comparing bit-for-bit."""
    from pyspark.sql import functions as F

    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _OPQ_TARGETS,
        _PCA_TOPK,
        _collect_basis_vecs,
        _opq_rot_frame,
        _pca_ss,
        _pca_topk_frames,
        _py_chain_hws,
    )

    frames = _pca_topk_frames(spark, sf_dir)
    basis = _collect_basis_vecs(frames)
    lit = _opq_rot_frame(spark, _py_chain_hws(basis)).collect()[0]

    # original in-plan construction, replayed from the same basis
    dims = sorted(basis[0])
    bframes = [
        spark.createDataFrame(
            [(i, v[i]) for i in dims], "i int, v bigint"
        )
        for v in basis
    ]
    hws = []
    for r in range(1, _PCA_TOPK + 1):
        t = _OPQ_TARGETS[r]
        cur = bframes[r - 1]
        for p in range(1, r):
            hw, ww = hws[p - 1]
            dot = cur.join(F.broadcast(hw), "i").agg(
                F.expr("COALESCE(SUM(v * w), CAST(0 AS BIGINT))").alias("t")
            )
            cur = (
                cur.join(F.broadcast(hw), "i")
                .crossJoin(F.broadcast(dot))
                .crossJoin(F.broadcast(ww))
                .select(
                    "i",
                    F.expr(f"v - ({_pca_ss('2 * w * t', 'wtw')})").alias("v"),
                )
            )
        if r > 1:
            fixed = ", ".join(str(_OPQ_TARGETS[p]) for p in range(1, r))
            cur = cur.select(
                "i",
                F.expr(
                    f"CASE WHEN i IN ({fixed}) THEN CAST(0 AS BIGINT)"
                    " ELSE v END"
                ).alias("v"),
            )
        nr = cur.agg(
            F.expr(
                "CAST(FLOOR(SQRT(CAST(COALESCE(SUM(v * v), 0)"
                " AS DOUBLE))) AS BIGINT)"
            ).alias("nr")
        )
        sgn = cur.agg(
            F.expr(
                f"CASE WHEN COALESCE(MAX(CASE WHEN i = {t} THEN v END),"
                " 0) >= 0 THEN 1 ELSE -1 END"
            ).alias("s")
        )
        w_raw = f"(CASE WHEN i = {t} THEN v + s * nr ELSE v END)"
        hw = (
            cur.crossJoin(F.broadcast(nr))
            .crossJoin(F.broadcast(sgn))
            .select("i", F.expr(_pca_ss(w_raw, "10")).alias("w"))
            .localCheckpoint(eager=True)
        )
        ww = hw.agg(
            F.expr("GREATEST(COALESCE(SUM(w * w), 0), 1)").alias("wtw")
        )
        hws.append((hw, ww))
    for r, (hw, ww) in enumerate(hws, start=1):
        want = [
            int(x["w"]) for x in sorted(hw.collect(), key=lambda x: x["i"])
        ]
        assert list(lit[f"w{r}"]) == want, f"w{r} diverged"
        assert int(lit[f"wtw{r}"]) == int(ww.collect()[0]["wtw"]), f"wtw{r}"


def test_pca_matvec_guard_measured_and_loud(spark):
    """r11 verdict "What's wrong" #2 + ADVICE #3: the spectral chain's
    int64 bound is the MATVEC bound max|g| * 64 * (2^16 + 1) < 2^63,
    and it must fail loudly, not wrap.  r14 moved the iteration (and
    with it the guard) to plan-time Python — below the bound the guard
    is a no-op; above it query CONSTRUCTION raises, strictly earlier
    than the former in-plan raise_error form."""
    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _PCA_MATVEC_HEADROOM,
        _py_guard_gmax,
    )

    assert _PCA_MATVEC_HEADROOM == (2**63 - 1) // (64 * (2**16 + 1))
    assert _py_guard_gmax(_PCA_MATVEC_HEADROOM) is None  # transparent
    with pytest.raises(ValueError, match="matvec headroom"):
        _py_guard_gmax(_PCA_MATVEC_HEADROOM + 1)


def test_epoch_shuffle_id_guard_bounds_the_lattice(spark):
    """r11 ADVICE #2: the lattice's cross-engine-exact claim is bounded
    by doc_id * mult fitting int64 (~3.47e9).  In-bound ids pass
    through verbatim (hash-neutral on every fixture); past the bound
    the projection raises instead of Spark silently wrapping where
    DuckDB errors."""
    from pyspark.errors import SparkRuntimeException

    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _SHUF_MAX_ID,
        _SHUF_MULT,
        _shuf_guarded_id,
    )

    assert _SHUF_MAX_ID * _SHUF_MULT < 2**63 - 1
    assert (_SHUF_MAX_ID + 1) * _SHUF_MULT + 40503 + 13 > 2**63 - 1
    ok = spark.createDataFrame([(0,), (12345,), (_SHUF_MAX_ID,)], "doc_id bigint")
    got = [r[0] for r in ok.select(_shuf_guarded_id().alias("g")).collect()]
    assert sorted(got) == [0, 12345, _SHUF_MAX_ID]
    hot = spark.createDataFrame([(_SHUF_MAX_ID + 1,)], "doc_id bigint")
    with pytest.raises(SparkRuntimeException, match="lattice precondition"):
        hot.select(_shuf_guarded_id().alias("g")).collect()


def test_gram_memo_repersists_after_clearcache(spark, sf_dir):
    """r11 ADVICE #4: the harness's clearCache() between keys evicts the
    memoized gram persist; a memo hit must re-pin it so "computed once
    per session" doesn't silently degrade to a recomputation per
    action."""
    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _gram_cells,
        _plan_is_cached,
    )

    first = _gram_cells(spark, sf_dir)
    first.count()
    assert _plan_is_cached(spark, first)
    spark.catalog.clearCache()
    assert not _plan_is_cached(spark, first)
    again = _gram_cells(spark, sf_dir)
    assert again is first and _plan_is_cached(spark, again)


def _pca_topk_vectors(rows):
    import numpy as np

    out = {}
    for k in (1, 2, 3):
        v = np.zeros(64)
        for r in rows:
            if r.comp == k:
                v[r.i] = r.comp_ppm * r.sgn
        n = np.linalg.norm(v)
        out[k] = v / n if n else v
    return out


def test_pca_topk_converges_on_planted_spectrum(spark, tmp_path_factory):
    """embedding_pca_topk on a fixture with a REAL eigengap (the sf
    embeddings are near-isotropic, lambda1/lambda2 ~ 1.017, where no
    3-step power method can separate directions — so convergence is
    proven where the math says it must hold): two planted orthogonal
    directions at ~21x variance ratio over tiny deterministic noise.
    comp1 must align with the dominant plant, comp2 (via deflation)
    with the second, and BOTH engines must agree exactly on the
    non-fixture shape."""
    import numpy as np

    n, d = 240, 64
    a = np.ones(d) / 8.0
    b = np.array([1.0 if j % 2 == 0 else -1.0 for j in range(d)]) / 8.0
    vecs = []
    for i in range(n):
        ca = (i % 5 - 2) * 0.8
        cb = (i % 3 - 1) * 0.3
        noise = np.array(
            [((i * 37 + j * 11) % 7 - 3) * 0.001 for j in range(d)]
        )
        vecs.append((ca * a + cb * b + noise).astype("float32"))
    tmp = tmp_path_factory.mktemp("planted_spectrum")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([i % 4 for i in range(n)], pa.int64()),
            }
        ),
        os.path.join(str(tmp), "embeddings.parquet"),
    )
    rows = e.queries()["embedding_pca_topk"](spark, str(tmp)).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(e.oracle_sql()["embedding_pca_topk"]).fetchall()
    )
    assert sorted(tuple(r) for r in rows) == orows
    got = _pca_topk_vectors(rows)
    an, bn = a / np.linalg.norm(a), b / np.linalg.norm(b)
    assert abs(got[1] @ an) > 0.99, abs(got[1] @ an)
    assert abs(got[2] @ bn) > 0.95, abs(got[2] @ bn)
    # deflation delivered an (approximately) orthogonal triple
    for x, y in ((1, 2), (1, 3), (2, 3)):
        assert abs(got[x] @ got[y]) < 0.05, (x, y, got[x] @ got[y])


def test_pca_topk_basis_quality_on_fixture(spark, sf_dir):
    """On the real (near-isotropic) fixture the per-eigenvector claim is
    mathematically vacuous, but the BASIS contract still holds: the
    three directions are mutually near-orthogonal (deflation residual
    ~1e-3 over quantization) and each captures a top-of-spectrum
    Rayleigh quotient (>= 0.7 lambda1; measured 0.80-0.89).  Also the
    100 TB sharing shape: the returned plan reads NO parquet — the
    corpus scan happened once inside the memoized gram, and the
    checkpointed emission frames never rescan."""
    import io
    import contextlib

    import numpy as np

    df = e.queries()["embedding_pca_topk"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "Scan parquet" not in buf.getvalue()
    rows = df.collect()
    assert len(rows) == 192
    got = _pca_topk_vectors(rows)
    emb = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchnumpy()["embedding"]
    X = np.array([np.round(np.array(v, dtype=float) * 1000) for v in emb])
    G = X.T @ X
    lam1 = float(np.linalg.eigvalsh(G)[-1])
    for x, y in ((1, 2), (1, 3), (2, 3)):
        assert abs(got[x] @ got[y]) < 0.05, (x, y)
    for k in (1, 2, 3):
        rq = float(got[k] @ G @ got[k])
        assert rq >= 0.7 * lam1, (k, rq / lam1)


def _householder_reference(basis, d=64):
    """Pure-Python INTEGER mirror of sim_opq_rotate's rotation chain
    (arbitrary-precision by construction) — returns the three (w, wtw)
    pairs.  Used to prove design properties (orthogonality) that the
    cross-engine hash can't express."""
    import math

    targets = {1: 0, 2: 16, 3: 32}

    def ss(x, dd):
        return -((-x) // dd) if x < 0 else x // dd

    hws = []
    for r in (1, 2, 3):
        y = list(basis[r - 1])
        for p in range(1, r):
            w, wtw = hws[p - 1]
            t = sum(y[i] * w[i] for i in range(d))
            y = [y[i] - ss(2 * w[i] * t, wtw) for i in range(d)]
        for p in range(1, r):
            y[targets[p]] = 0
        nr = math.isqrt(sum(v * v for v in y))
        t = targets[r]
        s = 1 if y[t] >= 0 else -1
        w = [
            ss((y[i] + s * nr) if i == t else y[i], 10)
            for i in range(d)
        ]
        wtw = max(sum(v * v for v in w), 1)
        hws.append((w, wtw))
    return hws


def test_opq_rotation_is_orthogonal_and_targets_allocated(spark, sf_dir):
    """The Householder chain must be a genuine rotation: applying the
    three reflections (exact integer mirror of the Spark/SQL formulas)
    to probe vectors preserves the L2 norm to the fixed-point rounding
    bound (~3 coords x 1 unit per reflection), and the rotated basis
    vectors land on their allocated subspace-leading coordinates
    (|coord t_r| carries > 95% of the vector's norm)."""
    import math

    rows = e.queries()["embedding_pca_topk"](spark, sf_dir).collect()
    basis = []
    for k in (1, 2, 3):
        v = [0] * 64
        for r in rows:
            if r.comp == k:
                v[r.i] = (r.comp_ppm // 100) * r.sgn  # the 1e4-scale b_r
        basis.append(v)
    hws = _householder_reference(basis)

    def ss(x, dd):
        return -((-x) // dd) if x < 0 else x // dd

    def apply_rot(x):
        for w, wtw in hws:
            dot = sum(x[i] * w[i] for i in range(64))
            x = [x[i] - ss(2 * w[i] * dot, wtw) for i in range(64)]
        return x

    probes = [
        [((i * 7 + j * 13) % 11 - 5) * 1000 for j in range(64)]
        for i in range(5)
    ] + basis
    for x in probes:
        nx = math.sqrt(sum(v * v for v in x))
        rx = apply_rot(x)
        nrx = math.sqrt(sum(v * v for v in rx))
        if nx:
            assert abs(nrx - nx) / nx < 2e-3, (nx, nrx)
    for r, (t, b) in enumerate(zip((0, 16, 32), basis), start=1):
        rb = apply_rot(b)
        nb = math.sqrt(sum(v * v for v in rb))
        assert abs(rb[t]) > 0.95 * nb, (r, t, abs(rb[t]) / nb)


def test_opq_rotation_beats_plain_pq_and_fixes_own_codewords(
    spark, sf_dir, tmp_path_factory
):
    """The OPQ contract on the fixtures: TOTAL rotated-space distortion
    <= plain-space distortion (eigenvalue allocation pays even on the
    near-flat fixture spectrum — measured 0.9988x at sf0.01, 0.9886x
    at sf0.1); codebook members quantize to themselves at distortion 0
    in BOTH spaces (a rotation maps the codebook with the corpus); and
    the engines agree exactly on a NON-fixture planted-spectrum shape."""
    import numpy as np

    df = e.queries()["sim_opq_rotate"](spark, sf_dir)
    rows = df.collect()
    assert sum(r.rot_dist for r in rows) <= sum(r.plain_dist for r in rows)
    for r in rows:
        if r.vec_id < 8:
            assert r.rot_dist == 0 and r.plain_dist == 0, r
        assert {r.code_0, r.code_1, r.code_2, r.code_3} <= set(range(8))

    tmp, _ = _planted_spectrum_dir(tmp_path_factory, "opq_planted")
    srows = sorted(
        tuple(r)
        for r in e.queries()["sim_opq_rotate"](spark, str(tmp)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    orows = sorted(
        tuple(r) for r in con.execute(e.oracle_sql()["sim_opq_rotate"]).fetchall()
    )
    assert srows == orows


def _planted_spectrum_dir(tmp_path_factory, name):
    """An embeddings fixture with a PLANTED 2-direction spectrum (the
    sf fixtures are isotropic-random, where rotation has nothing to
    exploit): 120 vectors dominated by two orthogonal directions plus
    deterministic small noise."""
    import numpy as np

    n, d = 120, 64
    a = np.ones(d) / 8.0
    b = np.array([1.0 if j % 2 == 0 else -1.0 for j in range(d)]) / 8.0
    vecs = []
    for i in range(n):
        ca = (i % 5 - 2) * 0.8
        cb = (i % 3 - 1) * 0.3
        noise = np.array(
            [((i * 41 + j * 17) % 9 - 4) * 0.002 for j in range(d)]
        )
        vecs.append((ca * a + cb * b + noise).astype("float32"))
    tmp = tmp_path_factory.mktemp(name)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([i % 4 for i in range(n)], pa.int64()),
            }
        ),
        os.path.join(str(tmp), "embeddings.parquet"),
    )
    return str(tmp), vecs


def test_ivfpq_search_opq_recall_payoff(spark, sf_dir, tmp_path_factory):
    """sim_ivfpq_search's OPQ payoff, measured where it exists: on the
    planted-spectrum fixture (real top directions for the eigenvalue
    allocation to spread) ROTATED-space ADC recall beats plain-space
    recall outright (measured 43/50 vs 25/50), and both engines agree
    exactly on that non-fixture shape.  On the isotropic sf fixture the
    honest expectation is parity within noise — asserted as a bounded
    gap, never superiority — plus a sane surface (full query cover,
    recall consistent with hits)."""
    tmp, _ = _planted_spectrum_dir(tmp_path_factory, "ivfpq_planted")
    rows = e.queries()["sim_ivfpq_search"](spark, tmp).collect()
    tr = sum(r.n_hit_rot for r in rows)
    tp = sum(r.n_hit_plain for r in rows)
    assert tr > tp, (tr, tp)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(e.oracle_sql()["sim_ivfpq_search"]).fetchall()
    )
    assert sorted(tuple(r) for r in rows) == orows

    frows = e.queries()["sim_ivfpq_search"](spark, sf_dir).collect()
    assert {r.q_id for r in frows} == set(range(10))
    for r in frows:
        assert r.n_exact == 5
        assert r.recall_rot_ppm == r.n_hit_rot * 1000000 // 5
        assert r.recall_plain_ppm == r.n_hit_plain * 1000000 // 5
    fr = sum(r.n_hit_rot for r in frows)
    fp = sum(r.n_hit_plain for r in frows)
    assert abs(fr - fp) <= 5, (fr, fp)  # isotropic: parity within noise
    spark.catalog.clearCache()


def test_epoch_shuffle_write_audit_detects_disorder(spark, tmp_path_factory):
    """Negative control for docs_epoch_shuffle_write's order witness:
    the same _metadata.file_path + _metadata.row_index + lag audit run
    over a DELIBERATELY unsorted single-file write must count
    violations > 0, and over the sorted write of the same rows exactly
    0 — proving the mechanism actually reads physical file order and
    the key's oracle-pinned 0 is a real check, not a tautology.  The
    sorted file is additionally re-audited under a maxPartitionBytes
    small enough to force MULTIPLE SPLITS of the one file (the r12
    ADVICE hazard: split bin-packing scrambles arrival order, which
    broke the old monotonically_increasing_id witness) — row_index is
    split-invariant, so the count must stay 0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    vals = [((i * 7919) % 10007, i) for i in range(10007)]  # permuted h
    df = spark.createDataFrame(vals, "h bigint, doc_id bigint")

    def violations(path):
        rb = spark.read.parquet(path)
        w = Window.partitionBy("fname").orderBy("ridx")
        return (
            rb.withColumn("fname", F.col("_metadata.file_path"))
            .withColumn("ridx", F.col("_metadata.row_index"))
            .withColumn("_prev", F.lag("h").over(w))
            .agg(F.count_if(F.col("h") < F.col("_prev")).alias("v"))
            .collect()[0]["v"]
        )

    base = tmp_path_factory.mktemp("order_audit")
    scrambled = str(base / "scrambled")
    df.coalesce(1).write.parquet(scrambled)
    assert violations(scrambled) > 0
    ordered = str(base / "ordered")
    df.coalesce(1).sortWithinPartitions("h").write.parquet(ordered)
    assert violations(ordered) == 0
    # force the single sorted file to split into many scan partitions
    mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    opb = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        rb = spark.read.parquet(ordered)
        assert rb.rdd.getNumPartitions() > 1  # the hazard is exercised
        assert violations(ordered) == 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", opb)


def test_epoch_shuffle_write_plan_one_exchange(spark, sf_dir):
    """docs_epoch_shuffle_write's WRITE side is the documented one-hash-
    exchange epoch shuffle: the pre-write plan carries exactly ONE
    shard-keyed Exchange and a within-partition Sort with no global
    sort boundary (asserted on the key's own pre-write frame), and the
    read-back surface covers every shard with the full corpus
    accounted for."""
    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _epoch_shuffle_prewrite,
    )

    pre = _epoch_shuffle_prewrite(spark, sf_dir)
    p = pre._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Exchange rangepartitioning" not in p, p  # global sort boundary
    sort_lines = [ln for ln in p.splitlines() if "Sort [" in ln]
    assert sort_lines and all("], false," in ln for ln in sort_lines), p

    rows = e.queries()["docs_epoch_shuffle_write"](spark, sf_dir).collect()
    assert {r.shard for r in rows} == set(range(8))
    assert all(r.order_violations == 0 for r in rows)
    assert all(r.min_h <= r.max_h for r in rows)
    n = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_docs for r in rows) == n


def test_opq_train_monotone_and_reconciles(spark, sf_dir, tmp_path_factory):
    """sim_opq_train's Lloyd contract on fixtures AND the planted
    spectrum: per-subspace distortion is monotone non-increasing across
    the 3 rounds (the Lloyd guarantee, surviving integer-rounded
    means), and round 1 reconciles exactly with sim_opq_rotate —
    SUM(round-1 distortion) == SUM(rot_dist), since round 1 scores the
    same corpus against the same initial codebook."""
    for d in (sf_dir, _planted_spectrum_dir(tmp_path_factory, "opq_train")[0]):
        rows = sorted(
            e.queries()["sim_opq_train"](spark, d).collect(),
            key=lambda r: (r.m, r.round),
        )
        assert {(r.round, r.m) for r in rows} == {
            (t, m) for t in (1, 2, 3) for m in range(4)
        }
        for m in range(4):
            ds = [r.distortion for r in rows if r.m == m]
            assert all(a >= b for a, b in zip(ds, ds[1:])), (m, ds)
            assert all(
                1 <= r.n_cells_used <= 8 for r in rows if r.m == m
            )
        d1 = sum(r.distortion for r in rows if r.round == 1)
        rot = e.queries()["sim_opq_rotate"](spark, d).collect()
        assert d1 == sum(r.rot_dist for r in rot), d
    spark.catalog.clearCache()


def test_epoch_shuffle_read_decorrelates(spark, sf_dir):
    """The contract docs_epoch_shuffle_read exists to enforce (and
    whose first run CAUGHT the bare affine lattice: rho was 1.0, stay
    rate 0): epoch orders are decorrelated — global Spearman rho from
    the surfaced sum_d2 is ~0, the cross-epoch shard stay rate is
    ~1/shards, every shard file streams in order, and the shards cover
    the corpus exactly."""
    rows = e.queries()["docs_epoch_shuffle_read"](spark, sf_dir).collect()
    assert {r.shard for r in rows} == set(range(8))
    n = sum(r.n_docs for r in rows)
    total = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert n == total
    assert all(r.order_violations == 0 for r in rows)
    rho = 1 - 6 * sum(r.sum_d2 for r in rows) / (n * (n * n - 1))
    assert abs(rho) < 0.1, rho
    stay = sum(r.n_stay for r in rows) / n
    assert abs(stay - 1 / 8) < 0.06, stay


def test_ivfpq_trained_parity_and_engine_agreement(
    spark, sf_dir, tmp_path_factory
):
    """sim_ivfpq_search_trained's honest contract: trained-codebook
    recall is PARITY-WITHIN-NOISE with the init codebook (measured
    41/50 vs 43/50 planted, 12-13 vs 13 on sf fixtures — lower
    reconstruction distortion is not lower ranking error; the key
    exists to MEASURE that, never to assume it), engines agree exactly
    on the planted spectrum, and the surface is arithmetically
    consistent."""
    tmp, _ = _planted_spectrum_dir(tmp_path_factory, "ivfpq_trained")
    rows = e.queries()["sim_ivfpq_search_trained"](spark, tmp).collect()
    tt = sum(r.n_hit_trained for r in rows)
    ti = sum(r.n_hit_init for r in rows)
    assert abs(tt - ti) <= 10, (tt, ti)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(
            e.oracle_sql()["sim_ivfpq_search_trained"]
        ).fetchall()
    )
    assert sorted(tuple(r) for r in rows) == orows

    frows = e.queries()["sim_ivfpq_search_trained"](spark, sf_dir).collect()
    assert {r.q_id for r in frows} == set(range(10))
    for r in frows:
        assert r.n_exact == 5
        assert r.recall_trained_ppm == r.n_hit_trained * 1000000 // 5
        assert r.recall_init_ppm == r.n_hit_init * 1000000 // 5
    ft = sum(r.n_hit_trained for r in frows)
    fi = sum(r.n_hit_init for r in frows)
    assert abs(ft - fi) <= 5, (ft, fi)
    spark.catalog.clearCache()


def test_ivfpq_residual_payoff_and_engine_agreement(
    spark, sf_dir, tmp_path_factory
):
    """sim_ivfpq_residual's contract: residual encoding BEATS raw-vector
    codes outright on the planted spectrum (measured 42/50 vs 25/50 —
    the centroid absorbs the coarse location, so the same codebook
    budget quantizes only the residual; Jegou et al. PAMI 2011's reason
    for deploying IVFADC in residual form), engines agree exactly on
    that non-fixture shape, and on the isotropic sf fixtures the honest
    expectation is NO payoff — residuals of isotropic noise are as hard
    to quantize with 8 raw sample points as the raw space (measured
    10 vs 13 at sf0.01, 7 vs 14 at sf0.001 — the trained-vs-init
    no-free-lunch again); asserted as a bounded gap, never
    superiority.  Surface must be arithmetically consistent."""
    tmp, _ = _planted_spectrum_dir(tmp_path_factory, "ivfpq_residual")
    rows = e.queries()["sim_ivfpq_residual"](spark, tmp).collect()
    tr = sum(r.n_hit_residual for r in rows)
    tp = sum(r.n_hit_plain for r in rows)
    assert tr > tp, (tr, tp)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(e.oracle_sql()["sim_ivfpq_residual"]).fetchall()
    )
    assert sorted(tuple(r) for r in rows) == orows

    frows = e.queries()["sim_ivfpq_residual"](spark, sf_dir).collect()
    assert {r.q_id for r in frows} == set(range(10))
    for r in frows:
        assert r.n_exact == 5
        assert r.recall_residual_ppm == r.n_hit_residual * 1000000 // 5
        assert r.recall_plain_ppm == r.n_hit_plain * 1000000 // 5
    fr = sum(r.n_hit_residual for r in frows)
    fp = sum(r.n_hit_plain for r in frows)
    assert abs(fr - fp) <= 10, (fr, fp)  # isotropic: parity within noise
    spark.catalog.clearCache()


def test_tokenize_pack_zero_token_docs(spark, tmp_path_factory, sf_dir):
    """docs_tokenize_pack's guarded divergence: a bucket whose LEADING
    docs have zero [a-z] tokens gives cum = 0, where (cum-1) DIV budget
    is -1 in DuckDB (// floors) but 0 in Spark (DIV truncates) — the
    GREATEST(cum, 1) guard pins both to pack 0.  Engines must agree on
    a corpus engineered so every bucket leads with zero-token docs;
    plus the reconciliation SUM(pack n_tokens) == SUM(text_bpe_encode
    n_tokens) on the gate fixture (same tokenizer, same corpus)."""
    d = tmp_path_factory.mktemp("tok_pack_zero")
    texts = []
    for i in range(32):
        if i < 8:
            texts.append("123 456 !!!")  # zero [a-z] tokens, bucket i
        else:
            texts.append("the quick brown fox " * (i % 4 + 1))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(32), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        os.path.join(str(d), "documents.parquet"),
    )
    srows = sorted(
        tuple(r)
        for r in e.queries()["docs_tokenize_pack"](spark, str(d)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(e.oracle_sql()["docs_tokenize_pack"]).fetchall()
    )
    assert srows == orows
    assert all(r[1] >= 0 for r in srows)  # no negative pack ids

    packs = e.queries()["docs_tokenize_pack"](spark, sf_dir).collect()
    enc_total = (
        e.queries()["text_bpe_encode"](spark, sf_dir)
        .agg({"n_tokens": "sum"})
        .first()[0]
    )
    assert sum(r.n_tokens for r in packs) == enc_total
    spark.catalog.clearCache()


def test_epoch_resume_torn_cursor(spark, tmp_path_factory):
    """docs_epoch_shuffle_resume's cursor semantics under the failure
    modes a real checkpoint store produces: (a) an EXACT cursor (the
    last consumed row's h) resumes precisely the unread suffix; (b) a
    TORN cursor — a value strictly between two adjacent h's, e.g. a
    checkpoint written from a clock or a mid-transaction read — resumes
    the IDENTICAL suffix, because the filter is strictly-greater over
    bijective integer h's (no row can be half-consumed); (c) a cursor
    at the shard max resumes nothing.  Run over a deliberately gapped
    h sequence so 'between two h values' is constructible."""
    from pyspark.sql import functions as F

    rows = [(3 * i + 7, i) for i in range(1000)]  # gapped, sorted h
    tmp = tmp_path_factory.mktemp("resume_torn")
    path = str(tmp / "shard0")
    (
        spark.createDataFrame(rows, "h bigint, doc_id bigint")
        .coalesce(1)
        .sortWithinPartitions("h")
        .write.mode("overwrite")
        .parquet(path)
    )

    def resume_set(cursor):
        return sorted(
            r.doc_id
            for r in spark.read.parquet(path)
            .filter(F.col("h") > cursor)
            .collect()
        )

    k = 400
    exact_cursor = rows[k - 1][0]
    suffix = [i for (h, i) in rows[k:]]
    assert resume_set(exact_cursor) == suffix
    # torn: strictly between h[k-1] and h[k] (gap is 3)
    assert resume_set(exact_cursor + 1) == suffix
    assert resume_set(exact_cursor + 2) == suffix
    assert resume_set(rows[-1][0]) == []

    # and the registered key's union invariant holds on the fixture
    out = e.queries()["docs_epoch_shuffle_resume"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 8
    for r in out:
        assert r.n_consumed + r.n_resumed == r.n_docs, r
        assert r.keysum_consumed + r.keysum_resumed == r.keysum, r
        assert r.order_violations == 0, r
        assert r.n_consumed == r.n_docs * 2 // 5, r


def test_opq_alternate_monotone_chain(spark, sf_dir, tmp_path_factory):
    """sim_opq_alternate's alternation inequality chain, in exact
    integers: chosen_total <= incumbent_total (the incumbent is IN the
    candidate set, so the argmin can never regress) and
    incumbent_total <= sim_opq_train's round-K surface (the incumbent
    scored under the FINAL Lloyd codebook vs the round-K INCOMING
    codebook — Lloyd's two-step descent, modulo the <1-lattice-step
    integer-mean rounding the trainer's own monotone assert already
    tolerates, measured never binding).  Exactly one candidate is
    chosen, totals reconcile with per-subspace rows, and engines agree
    exactly on the planted-spectrum shape."""
    rows = e.queries()["sim_opq_alternate"](spark, sf_dir).collect()
    assert len(rows) == 28  # 7 candidates x 4 subspaces
    totals = {}
    for r in rows:
        totals.setdefault(r.cand, [0, r.cand_total, r.chosen])
        totals[r.cand][0] += r.distortion
    for cand, (s, tot, _) in totals.items():
        assert s == tot, (cand, s, tot)  # totals reconcile
    chosen = [c for c, v in totals.items() if v[2] == 1]
    assert len(chosen) == 1
    chosen_total = totals[chosen[0]][1]
    inc_total = totals[0][1]
    assert chosen_total <= inc_total
    assert chosen_total == min(v[1] for v in totals.values())

    trows = e.queries()["sim_opq_train"](spark, sf_dir).collect()
    k = max(r.round for r in trows)
    dk_total = sum(r.distortion for r in trows if r.round == k)
    assert inc_total <= dk_total, (inc_total, dk_total)

    tmp, _ = _planted_spectrum_dir(tmp_path_factory, "opq_alternate")
    srows = sorted(
        tuple(r)
        for r in e.queries()["sim_opq_alternate"](spark, tmp).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(e.oracle_sql()["sim_opq_alternate"]).fetchall()
    )
    assert srows == orows
    spark.catalog.clearCache()


def test_epoch_resume_tiny_corpus_cursor_minus_one(spark, tmp_path_factory):
    """docs_epoch_shuffle_resume's empty-consumption degradation: with
    3 docs spread over 8 shards, every shard has n_s in {0..3} and
    cutoff = (n_s*2) DIV 5 = 0 or 1 — shards with cutoff 0 must emit
    cursor_h = -1 (resume-from-start), n_consumed = 0, and the resumed
    read must re-emit the WHOLE shard; the union invariant holds; and
    the engines agree exactly (the coalesce(-1) sits on both sides)."""
    d = tmp_path_factory.mktemp("resume_tiny")
    tbl = pa.table(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta", "gamma", "delta epsilon zeta"],
            "lang": ["en"] * 3,
            "category": ["x"] * 3,
            "published_at": [None] * 3,
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    rows = (
        e.queries()["docs_epoch_shuffle_resume"](spark, str(d))
        .orderBy("shard")
        .collect()
    )
    assert sum(r.n_docs for r in rows) == 3
    for r in rows:
        assert r.n_consumed + r.n_resumed == r.n_docs
        assert r.keysum_consumed + r.keysum_resumed == r.keysum
        if r.n_consumed == 0:
            assert r.cursor_h == -1, r  # resume-from-start sentinel
            assert r.n_resumed == r.n_docs, r
    assert any(r.n_consumed == 0 for r in rows)  # the path is exercised
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(
            e.oracle_sql()["docs_epoch_shuffle_resume"]
        ).fetchall()
    )
    assert sorted(tuple(r) for r in rows) == orows


def test_heartbeat_span_shorter_than_watermark(spark, tmp_path_factory):
    """cdc_heartbeat on a corpus whose whole time span is shorter than
    the 2-minute apply watermark: nothing (events or heartbeats) is
    applied, so last_applied_ts / hb_last are NULL and every lag is
    NULL — identical three-valued propagation on both engines (the
    deterministic degenerate, not a crash); the surface stays
    hash-equal cross-engine."""
    import datetime

    d = tmp_path_factory.mktemp("hb_tiny")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "user_id": pa.array([1, 2, 3], pa.int64()),
            "event_type": pa.array(["signup", "click", "error"]),
            "ts": pa.array(
                [t0, t0 + datetime.timedelta(seconds=30),
                 t0 + datetime.timedelta(seconds=60)],
                pa.timestamp("us"),
            ),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(['{"k": 1}'] * 3),
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "events.parquet"))
    rows = sorted(
        tuple(r)
        for r in e.queries()["cdc_heartbeat"](spark, str(d)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(e.oracle_sql()["cdc_heartbeat"]).fetchall()
    )
    assert rows == orows
    assert rows == []  # nothing applied -> per-table agg is empty


def test_shuf_d2_guard_fires_past_bound(spark):
    """Negative control for the sum_d2 n^3 headroom guard (r13 ADVICE):
    in-bound ranks compute (r0-r1)^2 exactly; a rank past
    _SHUF_D2_MAX_N must raise in plan instead of letting the BIGINT
    sum wrap silently."""
    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _SHUF_D2_MAX_N,
        _shuf_d2_guarded,
    )

    ok = spark.createDataFrame(
        [(int(_SHUF_D2_MAX_N), 7)], "r0 bigint, r1 bigint"
    ).select(_shuf_d2_guarded().alias("d2"))
    assert ok.collect()[0].d2 == (_SHUF_D2_MAX_N - 7) ** 2

    bad = spark.createDataFrame(
        [(int(_SHUF_D2_MAX_N) + 1, 7)], "r0 bigint, r1 bigint"
    ).select(_shuf_d2_guarded().alias("d2"))
    with pytest.raises(Exception, match="headroom"):
        bad.collect()


def test_opq_ivf_state_typed_empty_without_centroid_rows(
    spark, sf_dir, tmp_path_factory
):
    """ADVICE: the OPQ codebooks and IVF centroids are collected from the
    corpus rows with vec_id < K.  On an embeddings table with none of
    those rows the literal state must be a TYPED empty array — an
    untyped ``array()`` failed analysis of the ``c.cid`` / ``c.cv``
    lambdas at construction — and every corpus row still gets its
    (empty-codebook) argmin columns."""
    from mysql_clickhouse_replication_spark.functions.pipeline import (
        _ivf_centroids_frame,
        _opq_spaces,
    )

    d = tmp_path_factory.mktemp("emb_no_centroids")
    duckdb.connect().execute(
        "COPY (SELECT * REPLACE (vec_id + 1000 AS vec_id) FROM"
        f" read_parquet('{sf_dir}/embeddings.parquet'))"
        f" TO '{d}/embeddings.parquet' (FORMAT parquet)"
    )
    both, cents, out = _opq_spaces(spark, str(d))
    typed = "array<struct<cid:bigint,cv:array<bigint>>>"
    assert cents.dtypes == [("pcents", typed), ("rcents", typed)]
    assert [tuple(r) for r in cents.collect()] == [([], [])]
    assert out.count() == both.count() > 0
    ivfc = _ivf_centroids_frame(spark, str(d), both)
    assert ivfc.dtypes == [("ivfc", typed)]
    assert [tuple(r) for r in ivfc.collect()] == [([],)]


def test_session_memo_lookup_evicts_dead_sessions(spark):
    """The r13 ADVICE memo fix, unit-tested: entries keyed by a DEAD
    applicationId are evicted (and unpersisted where possible) on any
    lookup with a live key; the live entry survives and is returned."""
    from mysql_clickhouse_replication_spark.session import (
        session_memo_lookup,
    )

    class FakeFrame:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    app = spark.sparkContext.applicationId
    stale = FakeFrame()
    live = object()
    memo = {("dead-app-123", "/x"): stale, (app, "/x"): live}
    assert session_memo_lookup(memo, (app, "/x")) is live
    assert ("dead-app-123", "/x") not in memo
    assert stale.unpersisted
    # miss on a new key still evicts nothing live and returns None
    assert session_memo_lookup(memo, (app, "/y")) is None
    assert (app, "/x") in memo
