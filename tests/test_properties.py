"""Property-based tests (hypothesis) for the CDC compaction algebra.

The engine's CDC correctness rests on ``plans.cdc.compact`` satisfying
four invariants for ARBITRARY changelogs, not just the fixture:

1. idempotence           — compact(compact(x)) == compact(x)
2. cut independence      — for any seq cut c:
                           compact(compact(x[<=c]) ∪ x[>c]) == compact(x)
                           (restart/backfill safety: snapshot + increment
                           equals one-pass compaction at EVERY cut, the
                           generalization of cdc_snapshot_increment's
                           single median cut)
3. order independence    — input row order / partitioning never matters
4. delete semantics      — a pk survives delete-apply iff its max-seq op
                           is not a delete

Random changelogs are generated driver-side (tiny: <=24 rows, <=5 pks)
and run through the REAL DataFrame implementation; examples are capped
because each property round-trips Spark jobs.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from mysql_clickhouse_replication_spark.plans.cdc import compact

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),              # pk
        st.sampled_from(["insert", "update", "delete"]),    # op
        st.integers(min_value=-100, max_value=100),         # value
    ),
    min_size=1,
    max_size=24,
)


def _log_df(spark, events, shuffle_seed=None):
    rows = [
        (pk, seq, op, float(val))
        for seq, (pk, op, val) in enumerate(events, start=1)
    ]
    if shuffle_seed is not None:
        random.Random(shuffle_seed).shuffle(rows)
    return spark.createDataFrame(
        rows, "pk int, seq int, op string, value double"
    )


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@given(events=_events)
@settings(**_SETTINGS)
def test_compaction_idempotent(spark, events):
    log = _log_df(spark, events)
    once = compact(log)
    assert _canon(compact(once)) == _canon(once)


@given(events=_events, data=st.data())
@settings(**_SETTINGS)
def test_compaction_cut_independent(spark, events, data):
    cut = data.draw(st.integers(min_value=0, max_value=len(events)))
    log = _log_df(spark, events)
    snapshot = compact(log.filter(F.col("seq") <= cut))
    tail = log.filter(F.col("seq") > cut)
    resumed = compact(snapshot.unionByName(tail))
    assert _canon(resumed) == _canon(compact(log))


@given(events=_events, seed=st.integers(min_value=0, max_value=2**16))
@settings(**_SETTINGS)
def test_compaction_order_independent(spark, events, seed):
    a = compact(_log_df(spark, events))
    b = compact(_log_df(spark, events, shuffle_seed=seed).repartition(5))
    assert _canon(a) == _canon(b)


@given(events=_events)
@settings(**_SETTINGS)
def test_delete_apply_matches_last_op(spark, events):
    log = _log_df(spark, events)
    surviving = {
        r["pk"] for r in compact(log, drop_deletes=True).collect()
    }
    last_op = {}
    for seq, (pk, op, _val) in enumerate(events, start=1):
        last_op[pk] = op
    expected = {pk for pk, op in last_op.items() if op != "delete"}
    assert surviving == expected


# ---- packing / chunking invariants (round-3 second wave) ----------------

_texts = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta eps".split()),
        min_size=1,
        max_size=80,
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


def _docs_df(spark, tmpdir, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os, uuid

    d = os.path.join(tmpdir, uuid.uuid4().hex)
    os.makedirs(d)
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


@given(texts=_texts)
@settings(**_SETTINGS)
def test_chunking_covers_every_token_in_order(spark, tmp_path_factory, texts):
    """Concatenating each doc's chunks at stride offsets reconstructs the
    document exactly: no token lost, none reordered, overlap == 8 for
    every non-final chunk pair."""
    import __spark_entry__ as e

    d = _docs_df(spark, str(tmp_path_factory.mktemp("chunk")), texts)
    rows = (
        e.queries()["docs_chunk_overlap"](spark, d)
        .orderBy("doc_id", "chunk_start")
        .collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in enumerate(texts):
        toks = text.split(" ")
        chunks = by_doc[doc_id]
        # starts are exactly 1, 25, 49, ... covering the whole doc
        assert [c.chunk_start for c in chunks] == list(
            range(1, len(toks) + 1, 24)
        )
        rebuilt = []
        for c in chunks:
            ctoks = c.chunk_text.split(" ")
            assert len(ctoks) == c.n_tokens <= 32
            rebuilt.extend(ctoks[: 24 if c is not chunks[-1] else len(ctoks)])
            if c is not chunks[-1]:
                nxt = chunks[chunks.index(c) + 1]
                # 8-token overlap: this chunk's tail == next chunk's head
                assert ctoks[24:] == nxt.chunk_text.split(" ")[: len(ctoks) - 24]
        assert rebuilt == toks


@given(texts=_texts)
@settings(**_SETTINGS)
def test_packing_conserves_tokens_and_orders_packs(
    spark, tmp_path_factory, texts
):
    """Packing conserves every token exactly once, pack ids are dense
    per bucket, and doc ranges never interleave across packs."""
    import __spark_entry__ as e

    d = _docs_df(spark, str(tmp_path_factory.mktemp("pack")), texts)
    rows = (
        e.queries()["docs_pack_sequences"](spark, d)
        .orderBy("bucket", "pack_id")
        .collect()
    )
    assert sum(r.n_tokens for r in rows) == sum(
        len(t.split(" ")) for t in texts
    )
    assert sum(r.n_docs for r in rows) == len(texts)
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket, packs in by_bucket.items():
        assert [p.pack_id for p in packs] == sorted(p.pack_id for p in packs)
        for a, b in zip(packs, packs[1:]):
            assert a.last_doc <= b.first_doc  # no doc-range interleave


# ---- bitmap-distinct algebra --------------------------------------------

_ids = st.lists(
    st.integers(min_value=0, max_value=100000), min_size=1, max_size=40
)


@given(ids=_ids)
@settings(**_SETTINGS)
def test_bitmap_distinct_equals_exact(spark, ids):
    """The bitmap bucket/position/construct/or/count chain is EXACT for
    arbitrary id multisets — the invariant agg_bitmap_distinct rests
    on (sketchy inputs: duplicates, bucket-boundary ids, singletons)."""
    df = spark.createDataFrame([(i,) for i in ids], "uid long")
    got = (
        df.selectExpr("bitmap_bucket_number(uid) AS b", "uid")
        .groupBy("b")
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(uid))").alias("bm"))
        .agg(F.expr("CAST(SUM(bitmap_count(bm)) AS BIGINT)").alias("n"))
        .collect()[0]["n"]
    )
    assert got == len(set(ids))


# ---- winnowing guarantee -------------------------------------------------

_alpha = st.text(alphabet="abcd", min_size=80, max_size=200)


@given(
    passage=st.text(alphabet="abcd", min_size=74, max_size=90),
    pre1=st.text(alphabet="wxyz", min_size=0, max_size=60),
    pre2=st.text(alphabet="wxyz", min_size=0, max_size=60),
    tail=_alpha,
)
@settings(**_SETTINGS)
def test_winnowing_catches_planted_passage_any_offset(
    spark, tmp_path_factory, passage, pre1, pre2, tail
):
    """The >=74-char guarantee under adversarial inputs: a planted
    verbatim passage at ARBITRARY (different) offsets must always be
    flagged — the property the stride-shingle v1 violated.  The 4-char
    alphabets force rolling-hash collisions, stressing the tiebreak
    agreement between the numpy argmin and the SQL struct-min."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_clickhouse_replication_spark import QUERIES, load_all

    load_all()
    doc1 = pre1 + passage + tail
    doc2 = pre2 + "".join(reversed(tail)) + passage
    d = tmp_path_factory.mktemp("winnow_prop")
    tbl = pa.table(
        {
            "doc_id": [1, 2],
            "text": [doc1, doc2],
            "lang": ["en"] * 2,
            "source": ["s"] * 2,
            "n_chars": [len(doc1), len(doc2)],
        }
    )
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    rows = {
        r["doc_id"]: r["dup_of"]
        for r in QUERIES["docs_substring_dedup"](spark, str(d)).collect()
    }
    assert rows.get(2) == 1


def test_banded_windows_equal_global_windows(spark):
    """The banded two-level helpers must be BIT-identical to the
    single-reducer global windows they replace, on a frame whose bands
    are deliberately hostile: uneven band sizes, an empty band gap,
    ties inside and across bands, negative values for the running
    sum."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from mysql_clickhouse_replication_spark.operators._util import (
        banded_row_number,
        banded_running_max_excl,
        banded_running_sum,
        ntile_from_rank,
    )

    rows = []
    v = 0
    for band, size in [(0, 1), (1, 7), (3, 2), (4, 13), (9, 5)]:
        for i in range(size):
            v += 1
            rows.append((band, v, (-1) ** v * (v % 5), v % 3))
    df = spark.createDataFrame(rows, "band long, id long, val long, tie long")

    # row_number over (band, tie, id)
    got = banded_row_number(
        df, F.col("band"), [F.asc("tie"), F.asc("id")], "rn"
    )
    w = Window.orderBy("band", "tie", "id")
    want = df.withColumn("rn", F.row_number().over(w))
    assert sorted(got.collect(), key=lambda r: r["id"]) == sorted(
        want.collect(), key=lambda r: r["id"]
    )

    # inclusive running sum over (band, id)
    got = banded_running_sum(df, F.col("band"), [F.asc("id")], F.col("val"), "rs")
    w2 = Window.orderBy("band", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("rs", F.sum("val").over(w2))
    assert sorted(got.collect(), key=lambda r: r["id"]) == sorted(
        want.collect(), key=lambda r: r["id"]
    )

    # exclusive running max over (band, id)
    got = banded_running_max_excl(
        df, F.col("band"), [F.asc("id")], F.col("val"), "rm"
    )
    w3 = Window.orderBy("band", "id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.withColumn("rm", F.max("val").over(w3))
    assert sorted(got.collect(), key=lambda r: r["id"]) == sorted(
        want.collect(), key=lambda r: r["id"]
    )


def test_ntile_closed_form_matches_ntile_window(spark):
    """ntile_from_rank must reproduce NTILE(k) exactly for every (n, k)
    shape class: n below/equal/above k, exact multiples, and remainders
    — the front-loaded-remainder semantics both engines share."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from mysql_clickhouse_replication_spark.operators._util import (
        ntile_from_rank,
    )

    for n, k in [(1, 4), (3, 4), (4, 4), (5, 4), (23, 4), (40, 10),
                 (41, 10), (49, 10), (7, 16)]:
        df = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
        w = Window.orderBy("id")
        both = df.select(
            "id",
            F.ntile(k).over(w).alias("want"),
            ntile_from_rank(
                F.row_number().over(w), F.lit(n).cast("bigint"), k
            ).alias("got"),
        )
        bad = both.filter(F.col("want") != F.col("got")).count()
        assert bad == 0, (n, k)


def test_label_propagate_verify_mode_proves_convergence(spark):
    """The fixed 4-round propagate+jump schedule covers component
    diameter 30 (reach 2,6,14,30).  verify=True must pass on a
    diameter-30 path, and must RAISE (not silently split labels) on a
    diameter-31 path — the r5 advice's silent-wrongness guard."""
    import pytest
    import pyspark.sql.functions as F

    from mysql_clickhouse_replication_spark.functions.text import (
        _min_label_propagate,
    )

    def path_edges(n):
        # undirected path 0-1-...-(n-1), both directions like the caller
        fwd = [(i, i + 1) for i in range(n - 1)]
        return spark.createDataFrame(
            fwd + [(b, a) for a, b in fwd], "doc_a long, doc_b long"
        )

    # diameter 30: converges, every vertex labeled 0
    labels = _min_label_propagate(path_edges(31), verify=True)
    assert labels.filter(F.col("lbl") != 0).count() == 0

    # diameter 31: the schedule cannot cover it -> must raise
    with pytest.raises(RuntimeError, match="still decreasing"):
        _min_label_propagate(path_edges(32), verify=True)


@given(events=_events, seed=st.integers(min_value=0, max_value=99))
@settings(**_SETTINGS)
def test_summing_ledger_telescopes_to_state(spark, events, seed):
    """SummingMergeTree ledger invariant on ARBITRARY changelogs (incl.
    delete-then-reinsert and leading deletes): the per-pk delta sum
    must equal the live value (or 0 after a final delete) for every
    pk — matches_state = 1 on every row — and input row order must
    not matter (commutative merge is the pattern's whole point)."""
    from mysql_clickhouse_replication_spark.plans.mergetree import (
        summing_ledger,
    )

    out = summing_ledger(_log_df(spark, events, shuffle_seed=seed)).collect()
    assert out, "ledger lost every pk"
    assert all(r["matches_state"] == 1 for r in out), out
    assert all(
        (r["alive"] == 0) <= (r["net_value"] == 0.0) for r in out
    ), out


# ---------------------------------------------------------------------------
# Binlog wire codec (sources/binlog_wire.py): encode->decode must be the
# identity for ARBITRARY changelogs, and every transaction boundary must
# be a valid resume point.  Pure-Python codec, so hypothesis can push
# far more cases than the Spark-backed properties above.

_ops = st.sampled_from(["insert", "update", "delete"])
_pk = st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1))
_val = st.one_of(
    st.none(),
    st.floats(allow_nan=False, width=64),
    st.just(0.0),
    st.just(-0.0),
)
_row = st.tuples(_ops, _pk, st.integers(min_value=0, max_value=2**62), _val)
_changelog = st.lists(_row, max_size=200)


@given(_changelog)
@settings(max_examples=300, deadline=None)
def test_wire_roundtrip_identity(rows):
    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    buf = w.encode_changelog(rows)
    assert [r for r, _ in w.decode(buf)] == rows


@given(_changelog, st.integers(min_value=0, max_value=10**9))
@settings(max_examples=120, deadline=None)
def test_wire_every_tx_boundary_resumes_exactly(rows, pick):
    from mysql_clickhouse_replication_spark.sources import binlog_wire as w

    buf = w.encode_changelog(rows)
    full = list(w.decode(buf))
    if not full:
        return
    boundaries = sorted({pos for _, pos in full})
    b = boundaries[pick % len(boundaries)]
    suffix = [r for r, _ in w.decode(buf, start=b)]
    assert suffix == [r for r, pos in full if pos > b]


# ---------------------------------------------------------------------------
# ClickHouse RowBinary codec (sources/rowbinary.py): encode->decode must
# be the identity for arbitrary typed rows — the sink-side mirror of the
# binlog wire properties above.  Pure-Python codec, hypothesis-driven.

_rb_types = [
    "Nullable(String)",
    "Nullable(Int64)",
    "Nullable(Float64)",
    "Nullable(Array(Int32))",
]
_rb_row = st.tuples(
    st.one_of(st.none(), st.text(max_size=300)),
    st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    st.one_of(st.none(), st.floats(allow_nan=False, width=64), st.just(-0.0)),
    st.one_of(
        st.none(),
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=20
        ),
    ),
)


@given(st.lists(_rb_row, max_size=120))
@settings(max_examples=300, deadline=None)
def test_rowbinary_roundtrip_identity(rows):
    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    buf = rb.encode_rows(_rb_types, rows)
    assert list(rb.decode_rows(_rb_types, buf)) == rows


@given(st.lists(_rb_row, min_size=1, max_size=40))
@settings(max_examples=150, deadline=None)
def test_rowbinary_size_matches_spec_prediction(rows):
    """Payload byte size must equal the sum of the per-row spec costs —
    the same independent prediction cdc_sink_wire's oracle makes in SQL
    (a framing bug shifts the size even when the roundtrip inverts)."""
    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    def _cost(v, kind):
        if v is None:
            return 1
        if kind == "s":
            raw = len(v.encode("utf-8"))
            return 1 + len(rb.write_varint(raw)) + raw
        if kind == "a":
            return 1 + len(rb.write_varint(len(v))) + 4 * len(v)
        return 1 + 8

    expect = sum(
        _cost(s, "s") + _cost(i, "i") + _cost(f, "f") + _cost(a, "a")
        for s, i, f, a in rows
    )
    assert len(rb.encode_rows(_rb_types, rows)) == expect


_rb_bytes_row = st.tuples(
    st.one_of(st.none(), st.binary(max_size=300)),
    st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    st.one_of(st.none(), st.lists(st.binary(max_size=40), max_size=8)),
)
_rb_bytes_types = [
    "Nullable(String)", "Nullable(Int64)", "Nullable(Array(String))",
]


@given(st.lists(_rb_bytes_row, max_size=80))
@settings(max_examples=200, deadline=None)
def test_rowbinary_binary_roundtrip_identity(rows):
    """Arbitrary (non-UTF-8 included) byte strings roundtrip exactly
    through the String wire type when decoded with bytes_cols — the
    Spark binary mapping's decode path (r7 ADVICE fix), including
    through Array wrappers."""
    from mysql_clickhouse_replication_spark.sources import rowbinary as rb

    buf = rb.encode_rows(_rb_bytes_types, rows)
    out = list(rb.decode_rows(_rb_bytes_types, buf, bytes_cols=frozenset({0, 2})))
    assert out == rows


# ---- round-9: bucketed exact-quantile selection == single-round form ----

_qt_rows = st.lists(
    st.tuples(
        st.sampled_from(["A", "N", "R"]),                   # group
        st.integers(min_value=1, max_value=2_000_000),      # price cents
    ),
    min_size=1,
    max_size=60,
)


@given(rows=_qt_rows)
@settings(
    **{
        **_SETTINGS,
        "suppress_health_check": [
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    }
)
def test_bucketed_quantiles_equal_exact_form(rows, spark):
    """agg_exact_quantiles_bucketed must agree with agg_exact_quantiles
    row-for-row on ARBITRARY (group, cents) data — including values that
    straddle bucket boundaries (bucket = v DIV 4096), single-row groups,
    and all-identical groups — not just the fixture's price shape.  The
    two-round selection is only correct if base + within-bucket counts
    recompose the global order statistic at every level."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = tempfile.mkdtemp(prefix="qtprop_")
    pq.write_table(
        pa.table(
            {
                "l_returnflag": pa.array([g for g, _ in rows]),
                "l_extendedprice": pa.array(
                    [c / 100.0 for _, c in rows], type=pa.float64()
                ),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    qs = e.queries()
    exact = sorted(
        tuple(r) for r in qs["agg_exact_quantiles"](spark, d).collect()
    )
    bucketed = sorted(
        tuple(r)
        for r in qs["agg_exact_quantiles_bucketed"](spark, d).collect()
    )
    assert bucketed == exact


# ---------------------------------------------------------------------------
# round-10: binlog wire sharding + M4 packed-order isomorphism
# ---------------------------------------------------------------------------

_wire_rows = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.one_of(st.none(), st.integers(0, 2**40)),
        st.integers(0, 2**40),
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
    ),
    max_size=200,
)


@given(rows=_wire_rows, cut_seed=st.integers(0, 2**16))
@settings(max_examples=60, deadline=None)
def test_binlog_wire_shard_decode_equals_serial(rows, cut_seed):
    """Pure-byte-layer property behind cdc_decode_sharded: for ANY
    changelog, (1) decode(encode(x)) == x row-for-row, (2) the
    header-only tx_boundaries index equals the decoder's own resume
    points exactly, and (3) cutting the byte range at ANY boundary
    subset and decoding the shards yields the same row multiset as one
    serial pass — shard boundaries are provably legal resume points,
    NaN-free NULLs included."""
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        MAGIC,
        decode,
        encode_changelog,
        tx_boundaries,
    )

    buf = encode_changelog(rows)
    serial = [r for r, _ in decode(buf)]
    assert serial == list(rows)
    bounds = tx_boundaries(buf)
    assert bounds == sorted({tx for _, tx in decode(buf)})
    cuts = [len(MAGIC), *bounds]
    if len(cuts) > 1:
        rng = random.Random(cut_seed)
        k = rng.randint(1, len(cuts) - 1)
        mids = sorted(rng.sample(range(1, len(cuts)), k - 1)) if k > 1 else []
        idxs = [0, *mids, len(cuts) - 1]
        sharded = [
            r
            for a, b in zip(idxs, idxs[1:])
            for r, _ in decode(buf, cuts[a], cuts[b])
        ]
        assert sorted(map(repr, sharded)) == sorted(map(repr, serial))
        # the ranged-read form cdc_decode_sharded's tasks actually run:
        # re-frame each shard's bytes behind a fresh magic and decode
        # the whole extent — must equal absolute-offset decoding
        reframed = [
            r
            for a, b in zip(idxs, idxs[1:])
            for r, _ in decode(MAGIC + buf[cuts[a]: cuts[b]], len(MAGIC))
        ]
        assert sorted(map(repr, reframed)) == sorted(map(repr, serial))


@given(rows=_wire_rows, trunc_seed=st.integers(0, 2**16))
@settings(max_examples=60, deadline=None)
def test_tx_boundaries_stream_equals_inmem(rows, trunc_seed):
    """The r11 streamed index (tx_boundaries_stream: seek/skip header
    walk over the FILE, O(1) driver memory) must return EXACTLY the
    in-memory walk's offsets for any changelog — including logs
    truncated mid-event / mid-transaction, where both walks must stop
    at the last complete event and emit no boundary inside the partial
    tail."""
    import os
    import tempfile

    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        MAGIC,
        encode_changelog,
        tx_boundaries,
        tx_boundaries_stream,
    )

    buf = encode_changelog(rows)
    rng = random.Random(trunc_seed)
    # full log + a random truncation point anywhere past the magic
    cuts = [len(buf), rng.randint(len(MAGIC), len(buf))]
    with tempfile.TemporaryDirectory(prefix="txbstream_") as d:
        for i, cut in enumerate(cuts):
            blob = buf[:cut]
            path = os.path.join(d, f"log{i}.binlog")
            with open(path, "wb") as fh:
                fh.write(blob)
            assert tx_boundaries_stream(path) == tx_boundaries(blob)


@given(rows=_wire_rows, max_bytes=st.integers(256, 4096))
@settings(max_examples=60, deadline=None)
def test_binlog_rotated_chain_decode_equals_serial(rows, max_bytes):
    """cdc_decode_multifile's byte layer: encoding a changelog as a
    ROTATE-linked file chain and decoding each file independently must
    reproduce the single-file serial decode IN ORDER — concatenation
    in lexicographic name order preserving row order is exactly the
    statement that (file_idx, log_pos) is the same total key
    cdc_binlog_position_order sorts by.  Also pins the chain linkage
    (each non-last file's ROTATE names its successor and start pos 4,
    the last file has none), that rotation actually fires when the log
    outgrows max_bytes, and that every per-file tx boundary stays a
    legal resume point (files never split mid-transaction)."""
    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        encode_changelog,
        encode_changelog_rotated,
        decode,
        read_rotate,
        tx_boundaries,
    )

    serial_blob = encode_changelog(rows)
    serial = [r for r, _ in decode(serial_blob)]
    files = encode_changelog_rotated(rows, max_bytes=max_bytes)
    names = [n for n, _ in files]
    assert names == sorted(names) and len(set(names)) == len(names)
    concat = [r for _, blob in files for r, _ in decode(blob)]
    assert list(map(repr, concat)) == list(map(repr, serial))
    for (_, b1), (n2, _) in zip(files, files[1:]):
        assert read_rotate(b1) == (n2, 4)
    assert read_rotate(files[-1][1]) is None
    if len(serial_blob) > 3 * max_bytes:
        assert len(files) >= 2  # rotation fires under real pressure
    if len(files) > 1:  # a server never rotates an empty log
        for _, blob in files:
            assert sum(1 for _ in decode(blob)) >= 1
    for _, blob in files:
        for b in tx_boundaries(blob):
            list(decode(blob, b))  # post-XID offsets resume cleanly


_range_logs = st.lists(  # per file: the byte sizes of its ranges, in log order
    st.lists(st.integers(1, 1 << 20), min_size=1, max_size=40),
    max_size=4,
)


@given(
    files=_range_logs,
    max_partition_bytes=st.integers(1, 1 << 24),
    open_cost=st.integers(1, 1 << 23),
    parallelism=st.integers(1, 64),
)
@settings(max_examples=300, deadline=None)
def test_pack_ranges_split_rule(
    files, max_partition_bytes, open_cost, parallelism
):
    """decode_ranges' packer, pure Python: every range lands in exactly
    one task, unsplit; tasks are non-empty contiguous runs in log order;
    the task count is Spark's file-split rule ceil(total / split),
    clamped to [1, #ranges]; no task exceeds an even byte share by more
    than one range; and an empty log packs into no tasks."""
    import math

    from mysql_clickhouse_replication_spark.sources.binlog_wire import (
        MAGIC,
        pack_ranges,
    )

    ranges = []
    for f, sizes in enumerate(files):
        lo = len(MAGIC)
        for size in sizes:
            ranges.append((f"log.{f:06d}", lo, lo + size))
            lo += size
    tasks = pack_ranges(ranges, max_partition_bytes, open_cost, parallelism)
    if not ranges:
        assert tasks == []
        return
    assert all(tasks)
    assert [r for t in tasks for r in t] == ranges
    total = sum(hi - lo for _, lo, hi in ranges)
    split = min(max_partition_bytes, max(open_cost, total / parallelism))
    n = len(tasks)
    assert n == max(1, min(len(ranges), math.ceil(total / split)))
    widest = max(hi - lo for _, lo, hi in ranges)
    for t in tasks:
        assert sum(hi - lo for _, lo, hi in t) <= total / n + widest


_m4_pairs = st.lists(
    st.tuples(st.integers(0, 21_600_000_000 - 1), st.integers(0, 2**28 - 1)),
    min_size=2,
    max_size=50,
    unique=True,
)


@given(pairs=_m4_pairs)
@settings(max_examples=200, deadline=None)
def test_m4_packed_key_order_isomorphic(pairs):
    """events_m4_downsample's packed BIGINT ordering key (offset_us *
    2^28 + event_id) must order EXACTLY like the (offset, id) tuple for
    the whole declared domain — the property that makes min_by/max_by
    over the pack equal the row_number-over-(ts, id) pick it replaced.
    Also asserts the pack never leaves int64."""
    packed = [(o * 268435456 + i, (o, i)) for o, i in pairs]
    assert all(p < 2**63 for p, _ in packed)
    by_pack = [t for _, t in sorted(packed, key=lambda x: x[0])]
    by_tuple = sorted(t for _, t in packed)
    assert by_pack == by_tuple


_iv_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),       # user_id
        st.integers(min_value=0, max_value=90_000),  # ts offset seconds
    ),
    min_size=1,
    max_size=24,
)


@given(events=_iv_events)
@settings(**_SETTINGS)
def test_interval_coverage_matches_bruteforce_union(
    spark, tmp_path_factory, events
):
    """events_interval_coverage vs a literal interval-union reference:
    for arbitrary event sets, the per-user merged-island count and the
    total covered minutes must equal the classic sweep (sort intervals,
    extend while start <= current max end) — including the running-max
    subtlety the key exists for (an early LONG interval swallowing
    later short ones must not split an island)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e
    from mysql_clickhouse_replication_spark.streaming.batch_twin import (
        _COVERAGE_WINDOW_US,
    )

    base = dt.datetime(2024, 1, 1)
    d = str(tmp_path_factory.mktemp("ivcov"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(events)), pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(seconds=s) for _, s in events],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for u, _ in events], pa.int64()),
                "event_type": ["view"] * len(events),
                "value": pa.array([0.0] * len(events), pa.float64()),
                "props": ["{}"] * len(events),
            }
        ),
        f"{d}/events.parquet",
    )
    got = {
        r.n_islands: (r.n_users, r.total_covered_min)
        for r in e.queries()["events_interval_coverage"](spark, d).collect()
    }
    # brute-force reference
    per_user: dict[int, list[int]] = {}
    for i, (u, s) in enumerate(events):
        per_user.setdefault(u, []).append(s * 1_000_000)
    ref: dict[int, list[int]] = {}
    for u, starts in per_user.items():
        starts.sort()
        islands, cov = 0, 0
        cur_end = None
        cur_start = None
        for s in starts:
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    cov += cur_end - cur_start
                islands += 1
                cur_start = s
                cur_end = s + _COVERAGE_WINDOW_US
            else:
                cur_end = max(cur_end, s + _COVERAGE_WINDOW_US)
        cov += cur_end - cur_start
        ref.setdefault(islands, []).append(cov)
    want = {
        k: (len(v), sum(v) // 60_000_000) for k, v in ref.items()
    }
    assert got == want, (got, want)


_li_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # l_orderkey
        st.integers(min_value=0, max_value=11),  # l_partkey
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_li_rows)
@settings(**_SETTINGS)
def test_triangle_count_matches_bruteforce(spark, tmp_path_factory, rows):
    """graph_triangle_count vs literal enumeration on arbitrary tiny
    co-purchase inputs: the degree-ordered orientation must count every
    triangle EXACTLY once (neither dropped by a tie in the (deg, node)
    order nor double-counted), and nodes/edges/wedges/clustering must
    match the direct computation from the same capped-3 graph."""
    from itertools import combinations

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("tri"))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([o for o, _ in rows], pa.int64()),
                "l_partkey": pa.array([p for _, p in rows], pa.int64()),
            }
        ),
        f"{d}/lineitem.parquet",
    )
    got = e.queries()["graph_triangle_count"](spark, d).collect()[0]
    # brute force over the same capped graph
    per_order: dict[int, set[int]] = {}
    for o, p in rows:
        per_order.setdefault(o, set()).add(p)
    edges = set()
    for ps in per_order.values():
        top3 = sorted(ps)[:3]
        edges.update(combinations(top3, 2))
    nodes = {n for uv in edges for n in uv}
    tri = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in edges and (a, c) in edges and (b, c) in edges
    )
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    wedges = sum(x * (x - 1) // 2 for x in deg.values())
    assert got.n_nodes == len(nodes)
    assert got.n_edges == len(edges)
    assert got.n_triangles == tri, (got, tri, sorted(edges))
    assert got.clustering_ppm == tri * 3000000 // max(wedges, 1)


_bpe_texts = st.lists(
    st.text(alphabet="abA .", min_size=0, max_size=24),
    min_size=1,
    max_size=8,
)


@given(texts=_bpe_texts)
@settings(**_SETTINGS)
def test_bpe_merge_step_matches_bruteforce(spark, tmp_path_factory, texts):
    """text_bpe_merge_step vs a literal Sennrich-style reference: word
    counting, weighted adjacent-pair counts, (count DESC, pair ASC)
    argmax, then GREEDY LEFT-TO-RIGHT SYMBOL-LIST merging (the
    independent formulation — NOT string replace, so the test proves
    the operator's replace()==BPE-merge claim, including overlapping
    runs like 'aaaa' -> [aa, aa]) and post-merge pair counts.  Tiny
    {a,b}-alphabet corpora maximize pair collisions and tie-breaks;
    uppercase and '.' exercise the lower()+split normalization."""
    import collections
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    words = collections.Counter()
    for t in texts:
        for w in re.split(r"[^a-z]+", t.lower()):
            if len(w) >= 2:
                words[w] += 1
    if not words:
        return  # operator surface is empty; nothing to compare

    def pair_counts(segmented):
        pc = collections.Counter()
        for syms, c in segmented:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        return pc

    segmented = [(list(w), c) for w, c in words.items()]
    pre = pair_counts(segmented)
    if not pre:
        return  # all words are single letters after filtering? (len>=2 => impossible)
    best = min(pre.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    merged = []
    for syms, c in segmented:
        out, i = [], 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] == best[0]
                and syms[i + 1] == best[1]
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        merged.append((out, c))
    post = pair_counts(merged)

    def top10(pc):
        return sorted(
            ((l, r, c) for (l, r), c in pc.items()),
            key=lambda x: (-x[2], x[0], x[1]),
        )[:10]

    expected = [("pre", l, r, c) for l, r, c in top10(pre)] + [
        ("post", l, r, c) for l, r, c in top10(post)
    ]

    d = str(tmp_path_factory.mktemp("bpe"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    got = [
        tuple(r)
        for r in e.queries()["text_bpe_merge_step"](spark, d).collect()
    ]
    assert got == expected


@given(texts=_bpe_texts)
@settings(**_SETTINGS)
def test_bpe_train_steps_matches_bruteforce(spark, tmp_path_factory, texts):
    """text_bpe_train_steps vs a literal 3-round trainer over SYMBOL
    LISTS: same word counting and declared tiebreak (count DESC, pair
    ASC in encoded space — sentinels below 'a'), but merging is greedy
    left-to-right LIST rewriting, independently validating the
    operator's replace()==BPE-merge claim at EVERY round (later rounds
    merge pairs containing earlier merges).  Also pins the accounting
    identity symbols_after[i] == symbols_before[i] - merges_APPLIED[i]
    (applied <= pair_count — counts include self-overlaps, greedy
    merging doesn't) and the degenerate shrink (pairs exhausted ->
    fewer surface rows)."""
    import collections
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    words = collections.Counter()
    for t in texts:
        for w in re.split(r"[^a-z]+", t.lower()):
            if len(w) >= 2:
                words[w] += 1

    # reference state: word -> (encoded symbol list, expansion map)
    segmented = [([ch for ch in w], c) for w, c in words.items()]
    expansion = {}  # sentinel char -> expanded string
    expected = []
    n_symbols = sum(len(syms) * c for syms, c in segmented)
    for step in (1, 2, 3):
        pc = collections.Counter()
        for syms, c in segmented:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (bl, br), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        sent = chr(step)
        merged, applied = [], 0
        for syms, c in segmented:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == bl and syms[i + 1] == br:
                    out.append(sent)
                    i += 2
                    applied += c
                else:
                    out.append(syms[i])
                    i += 1
            merged.append((out, c))
        segmented = merged
        n_after = sum(len(syms) * c for syms, c in segmented)
        # accounting: symbols drop by merges APPLIED; counts include
        # self-overlaps, greedy merging doesn't, so applied <= cnt
        assert n_after == n_symbols - applied and applied <= cnt
        n_symbols = n_after

        def expand(ch):
            return expansion.get(ch, ch)

        tok = expand(bl) + expand(br)
        expansion[sent] = tok
        expected.append((step, tok, cnt, n_after))

    d = str(tmp_path_factory.mktemp("bpe3"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    got = [
        tuple(r)
        for r in e.queries()["text_bpe_train_steps"](spark, d)
        .orderBy("step")
        .collect()
    ]
    spark.catalog.clearCache()  # release the per-example vocab persists
    assert got == expected


_gram_vecs = st.lists(
    st.lists(
        st.floats(
            min_value=-1.0, max_value=1.0, allow_nan=False, width=32
        ),
        min_size=3,
        max_size=3,
    ),
    min_size=1,
    max_size=12,
)


@given(vecs=_gram_vecs)
@settings(**_SETTINGS)
def test_gram_matrix_matches_numpy(spark, tmp_path_factory, vecs):
    """embedding_gram_matrix vs numpy int64 on arbitrary tiny float32
    corpora: the fixed-point quantization (round(x*1000) as int64) and
    the distributed upper-triangle sum must equal Q.T @ Q computed
    directly — exact integer equality, every cell, any vector count
    including a single row (where every cell is one product)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("gram"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        f"{d}/embeddings.parquet",
    )
    got = {
        (r.i, r.j): r.gram_fp
        for r in e.queries()["embedding_gram_matrix"](spark, d).collect()
    }
    # numpy reference: quantize the PROMOTED doubles exactly as both
    # engines do (float32 -> double, round half away from zero)
    q = np.array(
        [
            [
                int(np.floor(abs(float(np.float32(x))) * 1000 + 0.5))
                * (1 if float(np.float32(x)) >= 0 else -1)
                for x in v
            ]
            for v in vecs
        ],
        dtype=np.int64,
    )
    g = q.T @ q
    want = {
        (i, j): int(g[i, j])
        for i in range(q.shape[1])
        for j in range(i, q.shape[1])
    }
    assert got == want


_shuffle_ids = st.lists(
    st.integers(min_value=0, max_value=10**9),
    min_size=1,
    max_size=24,
    unique=True,
)


@given(doc_ids=_shuffle_ids)
@settings(**_SETTINGS)
def test_epoch_shuffle_bijective_and_symmetric(
    spark, tmp_path_factory, doc_ids
):
    """docs_epoch_shuffle vs a literal per-doc recomputation: shard
    loads, token sums, stay counts, and the min/max-h order witnesses
    must match brute force for arbitrary doc_id sets; the lattice hash
    must be collision-free per epoch (bijectivity — the reason
    min_by/arg_min tiebreaks cannot diverge); and the stay relation is
    symmetric (total stays at epoch 0 == epoch 1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("eshuf"))
    texts = ["w " * (i % 5 + 1) for i in range(len(doc_ids))]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": pa.array([t.strip() for t in texts], pa.string()),
            }
        ),
        f"{d}/documents.parquet",
    )
    rows = e.queries()["docs_epoch_shuffle"](spark, d).collect()

    def lat(doc, ep):
        # the affine round + murmur-style finalizer (xorshift-16, odd
        # multiply, xorshift-16) — must match _shuf_h_sql literally
        v0 = (doc * 2654435761 + ep * 40503 + 13) % 4294967296
        v1 = v0 ^ (v0 >> 16)
        v2 = (v1 * 1103515245) % 4294967296
        return v2 ^ (v2 >> 16)

    # bijectivity per epoch
    for ep in (0, 1):
        hs = [lat(doc, ep) for doc in doc_ids]
        assert len(set(hs)) == len(hs)
    # brute-force the whole surface
    want = {}
    ntok = {doc: (i % 5 + 1) for i, doc in enumerate(doc_ids)}
    for ep in (0, 1):
        per = {}
        for doc in doc_ids:
            h = lat(doc, ep)
            per.setdefault(h % 8, []).append((h, doc))
        for shard, members in per.items():
            members.sort()
            stays = sum(
                1
                for h, doc in members
                if lat(doc, 1 - ep) % 8 == shard
            )
            want[(ep, shard)] = (
                len(members),
                sum(ntok[doc] for _, doc in members),
                members[0][1],
                members[-1][1],
                stays,
            )
    got = {
        (r.epoch, r.shard): (
            r.n_docs, r.n_tokens, r.first_doc, r.last_doc, r.n_stay
        )
        for r in rows
    }
    assert got == want
    # stay symmetry across epochs
    s0 = sum(v[4] for (ep, _), v in want.items() if ep == 0)
    s1 = sum(v[4] for (ep, _), v in want.items() if ep == 1)
    assert s0 == s1


_bloom_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4000),   # event_id
        st.integers(min_value=0, max_value=10**6),  # user_id
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[0],
)


@given(rows=_bloom_rows)
@settings(**_SETTINGS)
def test_bloom_skip_index_matches_bruteforce_no_false_negatives(
    spark, tmp_path_factory, rows
):
    """scan_bloom_skip_index vs a literal Python bloom on arbitrary
    (event_id, user_id) sets: per-granule probe words, envelopes and
    verdicts must match brute force exactly, and the Bloom contract
    bloom_hit >= true_hit must hold on every granule (a false negative
    would silently skip data at read time — the one unforgivable
    skip-index bug)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("bloom"))
    t0 = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([t0] * len(rows), pa.timestamp("us")),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": ["click"] * len(rows),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": ["{}"] * len(rows),
            }
        ),
        f"{d}/events.parquet",
    )
    got = {
        r.granule: r
        for r in e.queries()["scan_bloom_skip_index"](spark, d).collect()
    }

    def pos(u):
        return (
            ((u * 2654435761 + 13) % 4294967296) % 3968,
            ((u * 40503 + 97) % 4294967296) % 3968,
        )

    needle = max(u for _, u in rows) // 2
    np1, np2 = pos(needle)
    nw1, nw2, nb1, nb2 = np1 // 62, np2 // 62, 1 << (np1 % 62), 1 << (np2 % 62)
    per = {}
    for eid, u in rows:
        per.setdefault(eid // 512, []).append(u)
    assert set(got) == set(per)
    for gran, us in per.items():
        b1 = b2 = 0
        for u in us:
            for p in pos(u):
                if p // 62 == nw1:
                    b1 |= 1 << (p % 62)
                if p // 62 == nw2:
                    b2 |= 1 << (p % 62)
        r = got[gran]
        bloom_hit = int((b1 & nb1) == nb1 and (b2 & nb2) == nb2)
        true_hit = int(needle in us)
        assert (
            r.n_rows, r.probe_word1, r.probe_word2, r.min_u, r.max_u,
            r.bloom_hit, r.minmax_hit, r.true_hit,
        ) == (
            len(us), b1, b2, min(us), max(us),
            bloom_hit, int(min(us) <= needle <= max(us)), true_hit,
        )
        assert r.bloom_hit >= r.true_hit  # the Bloom contract


@given(vecs=_gram_vecs)
@settings(**_SETTINGS)
def test_pca_power_iteration_matches_bruteforce(
    spark, tmp_path_factory, vecs
):
    """sim_pca_power_iteration vs a literal arbitrary-precision Python
    reference of the SAME scaled-integer algorithm (quantize -> gram ->
    3 matvecs with trunc-div rescaling): exact equality of every
    component/sign — proving the Spark plan and the DuckDB oracle both
    implement the declared fixed-point iteration, not merely each
    other."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import numpy as np

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("pca"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        f"{d}/embeddings.parquet",
    )
    got = {
        r.i: (r.comp_ppm, r.sgn)
        for r in e.queries()["sim_pca_power_iteration"](spark, d).collect()
    }
    dim = len(vecs[0])

    def quant(x):
        xx = float(np.float32(x))
        return int(abs(xx) * 1000 + 0.5) * (1 if xx >= 0 else -1)

    q = [[quant(x) for x in v] for v in vecs]
    G = [
        [sum(row[i] * row[j] for row in q) for j in range(dim)]
        for i in range(dim)
    ]

    def rescale(v, denom):
        dd = max(abs(x) for x in v) // denom + 1
        return [
            (-(abs(x) // dd) if x < 0 else abs(x) // dd) for x in v
        ]

    def matvec(v):
        return [
            sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)
        ]

    v = rescale([sum(G[i]) for i in range(dim)], 65536)
    v = rescale(matvec(v), 65536)
    v = matvec(v)
    d3 = max(abs(x) for x in v) // 1000000 + 1
    want = {
        i: (
            abs(v[i]) // d3,
            -1 if v[i] < 0 else (1 if v[i] > 0 else 0),
        )
        for i in range(dim)
    }
    assert got == want


@given(vecs=_gram_vecs)
@settings(**_SETTINGS)
def test_pca_project_matches_bruteforce(spark, tmp_path_factory, vecs):
    """embedding_pca_project vs the arbitrary-precision Python chain
    (quantize -> gram -> 3 scaled matvecs -> direction -> dot product
    -> data-bounded decile): exact per-vector equality of projection
    and bucket, including the single-vector corpus where mn == mx
    collapses every bucket to 0."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("pcaproj"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        ),
        f"{d}/embeddings.parquet",
    )
    got = {
        r.vec_id: (r.proj_fp, r.bucket)
        for r in e.queries()["embedding_pca_project"](spark, d).collect()
    }
    dim = len(vecs[0])

    def quant(x):
        xx = float(np.float32(x))
        return int(abs(xx) * 1000 + 0.5) * (1 if xx >= 0 else -1)

    q = [[quant(x) for x in v] for v in vecs]
    G = [
        [sum(row[i] * row[j] for row in q) for j in range(dim)]
        for i in range(dim)
    ]

    def rescale(v, denom):
        dd = max(abs(x) for x in v) // denom + 1
        return [(-(abs(x) // dd) if x < 0 else abs(x) // dd) for x in v]

    v = rescale([sum(G[i]) for i in range(dim)], 65536)
    v = rescale([sum(G[i][j] * v[j] for j in range(dim))
                 for i in range(dim)], 65536)
    v = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    d3 = max(abs(x) for x in v) // 1000000 + 1
    c = [(-(abs(x) // d3) if x < 0 else abs(x) // d3) for x in v]
    projs = {
        vid: sum(q[vid][j] * c[j] for j in range(dim))
        for vid in range(len(vecs))
    }
    mn, mx = min(projs.values()), max(projs.values())
    want = {
        vid: (p, (p - mn) * 10 // (mx - mn + 1))
        for vid, p in projs.items()
    }
    assert got == want


_fert_texts = st.lists(
    st.tuples(
        st.text(alphabet="ab c", min_size=0, max_size=20),
        st.sampled_from(["en", "de"]),
    ),
    min_size=1,
    max_size=8,
)


@given(rows=_fert_texts)
@settings(**_SETTINGS)
def test_bpe_fertility_matches_bruteforce(spark, tmp_path_factory, rows):
    """text_bpe_fertility vs a literal reference: learn 3 merges on the
    GLOBAL frequency-weighted vocabulary (count DESC, pair ASC argmax
    in encoded space — the train_steps tiebreak), apply them per
    (lang, word), fold per language.  Covers the degenerate corpus
    (merges exhausted before 3 steps => EMPTY surface on both sides,
    the documented convention) and the injectivity of sentinel
    replacement that lets the vocab skip re-grouping."""
    import re
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("fert"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(rows)), pa.int64()),
                "text": pa.array([t for t, _ in rows], pa.string()),
                "lang": pa.array([lg for _, lg in rows], pa.string()),
            }
        ),
        f"{d}/documents.parquet",
    )
    got = sorted(
        tuple(r)
        for r in e.queries()["text_bpe_fertility"](spark, d).collect()
    )

    def words(t):
        return [w for w in re.split("[^a-z]+", t.lower()) if len(w) >= 2]

    w0 = Counter()
    for t, _ in rows:
        w0.update(words(t))
    merges = []
    vocab = dict(w0)
    for step in (1, 2, 3):
        pairs = Counter()
        for w, c in vocab.items():
            for i in range(len(w) - 1):
                pairs[(w[i], w[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        m = best[0] + best[1]
        merges.append(m)
        vocab = {w.replace(m, chr(step)): c for w, c in vocab.items()}
    if len(merges) < 3:
        assert got == []
        return
    per = {}
    for t, lg in rows:
        for w in words(t):
            per[(lg, w)] = per.get((lg, w), 0) + 1
    agg = {}
    for (lg, w), c in per.items():
        s = w
        for step, m in enumerate(merges, 1):
            s = s.replace(m, chr(step))
        nw, nc, ns = agg.get(lg, (0, 0, 0))
        agg[lg] = (nw + c, nc + len(w) * c, ns + len(s) * c)
    want = sorted(
        (lg, nw, nc, ns, ns * 1000000 // nw, ns * 1000000 // nc)
        for lg, (nw, nc, ns) in agg.items()
    )
    assert got == want


_setidx_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2000),  # event_id
        st.integers(min_value=0, max_value=40),    # day offset
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[0],
)


@given(rows=_setidx_rows)
@settings(**_SETTINGS)
def test_set_skip_index_matches_bruteforce_exact_where_usable(
    spark, tmp_path_factory, rows
):
    """scan_set_skip_index vs brute force on arbitrary (event_id, day)
    sets: per-granule surface equality plus the two contracts — no
    false negatives (set_hit >= true_hit), and wherever the set is
    usable (<= 8 distinct days) the verdict is EXACT (set_hit ==
    true_hit); over-cap granules are always-hit."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("setidx"))
    t0 = dt.datetime(2024, 1, 1, 12, 0)
    ts = [t0 + dt.timedelta(days=off) for _, off in rows]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": ["click"] * len(rows),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": ["{}"] * len(rows),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    got = {
        r.granule: r
        for r in e.queries()["scan_set_skip_index"](spark, d).collect()
    }
    mx = max(ts)
    needle = (mx - dt.timedelta(days=15)).date()
    per = {}
    for (eid, _), t in zip(rows, ts):
        per.setdefault(eid // 512, []).append(t.date())
    assert set(got) == set(per)
    for gran, days in per.items():
        r = got[gran]
        nd = len(set(days))
        usable = int(nd <= 8)
        true_hit = int(needle in days)
        set_hit = 1 if nd > 8 else true_hit
        assert (
            r.n_rows, r.n_days, r.min_day, r.max_day,
            r.set_usable, r.set_hit, r.minmax_hit, r.true_hit,
        ) == (
            len(days), nd, min(days), max(days),
            usable, set_hit,
            int(min(days) <= needle <= max(days)), true_hit,
        )
        assert r.set_hit >= r.true_hit
        if r.set_usable:
            assert r.set_hit == r.true_hit


@given(texts=_bpe_texts)
@settings(**_SETTINGS)
def test_bpe_train_to_vocab_matches_bruteforce_k10(
    spark, tmp_path_factory, texts
):
    """text_bpe_train_to_vocab vs the literal symbol-list trainer run to
    K=10 (the r11 verdict's ask: prove the loop in ROUNDS) — same
    reference as the 3-round test, looped: greedy left-to-right list
    rewriting per round, declared encoded-space tiebreak, accounting
    identity symbols_after == before - applied (applied <= pair_count),
    degenerate shrink when the two-letter alphabet exhausts pairs well
    before round 10 (which these tiny corpora usually do — the shrink
    path is the POINT of this strategy)."""
    import collections
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    words = collections.Counter()
    for t in texts:
        for w in re.split(r"[^a-z]+", t.lower()):
            if len(w) >= 2:
                words[w] += 1

    segmented = [([ch for ch in w], c) for w, c in words.items()]
    expansion = {}
    expected = []
    n_symbols = sum(len(syms) * c for syms, c in segmented)
    for step in range(1, 11):
        pc = collections.Counter()
        for syms, c in segmented:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (bl, br), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        sent = chr(step)
        merged, applied = [], 0
        for syms, c in segmented:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == bl and syms[i + 1] == br:
                    out.append(sent)
                    i += 2
                    applied += c
                else:
                    out.append(syms[i])
                    i += 1
            merged.append((out, c))
        segmented = merged
        n_after = sum(len(syms) * c for syms, c in segmented)
        assert n_after == n_symbols - applied and applied <= cnt
        n_symbols = n_after

        def expand(ch):
            return expansion.get(ch, ch)

        tok = expand(bl) + expand(br)
        expansion[sent] = tok
        expected.append((step, tok, cnt, n_after))

    d = str(tmp_path_factory.mktemp("bpe10"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    got = [
        tuple(r)
        for r in e.queries()["text_bpe_train_to_vocab"](spark, d)
        .orderBy("step")
        .collect()
    ]
    spark.catalog.clearCache()
    assert got == expected


@given(texts=_bpe_texts)
@settings(**_SETTINGS)
def test_bpe_encode_matches_literal_encoder(spark, tmp_path_factory, texts):
    """text_bpe_encode vs a literal symbol-list encoder: train K=10 with
    the literal trainer (same reference as the train_to_vocab test),
    then encode every document word-by-word with explicit greedy
    left-to-right merge application over symbol LISTS (no string
    tricks), map symbols to ids (a-z -> 1..26, merge k -> 26 + k), and
    compare the full (n_words, n_tokens, token_ids) surface.  Tiny
    two-letter corpora exhaust pairs before round 10, so the no-op
    exhausted-round path is exercised constantly; single-letter words
    (absent from training, encoded anyway) and unseen segmentations are
    covered by construction."""
    import collections
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    words = collections.Counter()
    for t in texts:
        for w in re.split(r"[^a-z]+", t.lower()):
            if len(w) >= 2:
                words[w] += 1
    segmented = [([ch for ch in w], c) for w, c in words.items()]
    merges = []  # encoded-space (left, right) per round, learning order
    for step in range(1, 11):
        pc = collections.Counter()
        for syms, c in segmented:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (bl, br), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        sent = chr(step)
        merges.append((bl, br, sent))
        segmented = [
            (_bpe_apply(syms, bl, br, sent), c) for syms, c in segmented
        ]

    def encode_word(w):
        syms = [ch for ch in w]
        for bl, br, sent in merges:
            syms = _bpe_apply(syms, bl, br, sent)
        return syms

    def sym_id(s):
        return 26 + ord(s) if ord(s) <= 26 else ord(s) - 96

    expected = []
    for i, t in enumerate(texts):
        ws = [w for w in re.split(r"[^a-z]+", t.lower()) if w]
        encs = [encode_word(w) for w in ws]
        expected.append(
            (
                i,
                len(ws),
                sum(len(x) for x in encs),
                " ".join(
                    ",".join(str(sym_id(s)) for s in x) for x in encs
                ),
            )
        )

    d = str(tmp_path_factory.mktemp("bpe_enc"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    got = [
        tuple(r)
        for r in e.queries()["text_bpe_encode"](spark, d)
        .orderBy("doc_id")
        .collect()
    ]
    spark.catalog.clearCache()
    assert got == expected


def _bpe_apply(syms, bl, br, sent):
    """Greedy left-to-right non-overlapping merge over a symbol list."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == bl and syms[i + 1] == br:
            out.append(sent)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_bpe_encode_reconciles_with_trainer(spark, sf_dir):
    """Accounting identity between the encoder and the trainer on the
    gate fixture: SUM(n_tokens) over text_bpe_encode ==
    symbols_after(last trained round) + occurrences of single-letter
    words (the trainer audits only words of length >= 2; the encoder
    tokenizes everything) — the corpus token count reconciles against
    the training trajectory, so neither surface can drift silently."""
    import re

    import duckdb

    import __spark_entry__ as e

    enc = e.queries()["text_bpe_encode"](spark, sf_dir)
    total_tokens = enc.agg({"n_tokens": "sum"}).first()[0]
    steps = (
        e.queries()["text_bpe_train_to_vocab"](spark, sf_dir)
        .orderBy("step")
        .collect()
    )
    assert steps
    singles = duckdb.connect().execute(
        "SELECT COALESCE(SUM(len([w FOR w IN"
        " regexp_split_to_array(lower(text), '[^a-z]+')"
        " IF len(w) = 1])), 0) FROM"
        f" read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert total_tokens == steps[-1].symbols_after + singles
    spark.catalog.clearCache()


_rr_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=24),
    min_size=1,
    max_size=8,
)


@given(texts=_rr_texts)
@settings(**_SETTINGS)
def test_repetition_ratio_matches_bruteforce(spark, tmp_path_factory, texts):
    """docs_repetition_ratio vs a literal Counter reference: the r14
    in-row rewrite (sorted-bigram max run instead of explode + count)
    must reproduce the exact per-doc max bigram multiplicity, ttr, and
    keep gate for arbitrary texts — including empty strings, runs of
    spaces (empty tokens), and single-token docs."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("rr"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        f"{d}/documents.parquet",
    )
    got = {
        r.doc_id: (r.n_tokens, r.ttr_ppm, r.top_bigram_ppm, r.keep)
        for r in e.queries()["docs_repetition_ratio"](spark, d).collect()
    }
    want = {}
    for i, text in enumerate(texts):
        toks = text.split(" ")
        n = len(toks)
        nd = len(set(toks))
        nb = max(n - 1, 1)
        grams = [
            " ".join(toks[j : j + 2]) for j in range(max(n - 1, 1))
        ]
        top = max(Counter(grams).values())
        want[i] = (
            n,
            nd * 1_000_000 // n,
            top * 1_000_000 // nb,
            int(nd * 10 >= 3 * n and top * 5 <= nb),
        )
    assert got == want, (got, want)


_bl_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # l_orderkey
        st.integers(min_value=0, max_value=11),  # l_partkey
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_bl_rows)
@settings(**_SETTINGS)
def test_basket_lift_matches_bruteforce(spark, tmp_path_factory, rows):
    """orders_basket_lift vs literal basket enumeration: the r14 in-row
    pair expansion over the sorted distinct brand array must reproduce
    the old DISTINCT + self-join pipeline exactly — same ordered pairs,
    same support counts, same integer lift, same (lift DESC, brand)
    tie-ranked top-15."""
    from collections import Counter
    from itertools import combinations

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    d = str(tmp_path_factory.mktemp("bl"))
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([o for o, _ in rows], pa.int64()),
                "l_partkey": pa.array([p for _, p in rows], pa.int64()),
            }
        ),
        f"{d}/lineitem.parquet",
    )
    parts = sorted({p for _, p in rows})
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(parts, pa.int64()),
                "p_brand": pa.array([f"B{p % 3}" for p in parts], pa.string()),
            }
        ),
        f"{d}/part.parquet",
    )
    got = [
        (r.brand_a, r.brand_b, r.c_ab, r.lift_e6)
        for r in e.queries()["orders_basket_lift"](spark, d).collect()
    ]
    baskets: dict[int, set[str]] = {}
    for o, p in rows:
        baskets.setdefault(o, set()).add(f"B{p % 3}")
    n_orders = len(baskets)
    brand_c = Counter(b for bs in baskets.values() for b in bs)
    pair_c = Counter(
        pr for bs in baskets.values() for pr in combinations(sorted(bs), 2)
    )
    want = sorted(
        (
            (a, b, c, n_orders * c * 1_000_000 // (brand_c[a] * brand_c[b]))
            for (a, b), c in pair_c.items()
            if c >= 5
        ),
        key=lambda t: (-t[3], t[0], t[1]),
    )[:15]
    assert got == want, (got, want)
