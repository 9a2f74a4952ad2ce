"""Contract tests: every registered query runs, every oracle parses, and
oracle-paired queries hash-match DuckDB on sf0.001 (fast twin of the
driver's sf0.01 gate; tools/verify_local.py runs the full-size check)."""

from __future__ import annotations

import pytest

import __spark_entry__ as e
from tools.verify_local import _hash_rows


def test_entry_smoke(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_every_query_has_callable_and_every_oracle_has_query():
    qs, os_ = e.queries(), e.oracle_sql()
    assert qs, "no queries registered"
    missing = set(os_) - set(qs)
    assert not missing, f"oracles without queries: {missing}"


@pytest.fixture(scope="session")
def all_keys():
    return sorted(e.queries())


def _compare(spark, duck, sf_dir, key):
    sdf = e.queries()[key](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    oracle = e.oracle_sql().get(key)
    if oracle is None:
        assert srows is not None  # rows-only: just runnable
        return
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"{key}: rowcount {len(srows)} vs {len(orows)}"
    assert sorted(sdf.columns) == sorted(ocols), f"{key}: column names differ"
    assert _hash_rows(sdf.columns, srows) == _hash_rows(ocols, orows), (
        f"{key}: value-hash mismatch"
    )


def test_all_registered_queries_match_oracle(spark, duck, sf_dir):
    failures = []
    for key in sorted(e.queries()):
        try:
            _compare(spark, duck, sf_dir, key)
        except AssertionError as exc:
            failures.append(str(exc))
    assert not failures, "\n".join(failures)


def test_no_oracle_exposes_pandas_hazard_dtypes(duck):
    """Structural gate for the class that burned driver rounds 3-5:
    DuckDB HUGEINT (SUM/count_if over BIGINT) and DECIMAL output
    columns coerce to float64 in `.df()` while Spark delivers
    int64/object(Decimal), so the driver's pandas canonicalizer
    hashes 97.0 != 97 (CORRECTNESS_r05: all five red keys had such a
    surface, zero green keys did).  Nested types crash the pandas
    hash outright (r4).  No oracle may register one — wrap sums in
    CAST(... AS BIGINT) and surface decimals as DOUBLE/string.
    BOOLEAN stays allowed: 13 keys with BOOLEAN surfaces hold green
    driver rows (r1-r5 evidence), and tools/pandas_gate_sim.py's
    strict dtype-class compare covers bool-vs-int mismatches."""
    from tools.oracle_dtype_lint import BANNED

    failures = []
    for key, sql in e.oracle_sql().items():
        rows = duck.execute(f"DESCRIBE {sql}").fetchall()
        hits = [
            f"{key}.{c}: {t}"
            for c, t, *_ in rows
            if any(b in t.upper() for b in BANNED)
        ]
        failures.extend(hits)
    assert not failures, (
        "oracle output columns with pandas-canonicalizer hazard dtypes "
        "(cast them to BIGINT/DOUBLE/VARCHAR): " + "; ".join(failures)
    )


def test_no_oracle_has_round_vs_truncate_int_cast():
    """Structural gate for the r6 share_ppm class: DuckDB CAST(x AS
    BIGINT) ROUNDS a fractional x while Spark .cast('bigint')
    TRUNCATES, so an oracle casting a divisive/AVG expression straight
    to BIGINT hash-diverges on .5 boundaries.  The fix patterns the
    registry uses — FLOOR(...) before the cast, or all-integer
    arithmetic with // floor division (integral-in-cents) — pass the
    lint; anything else must be rewritten, not waived."""
    from tools.oracle_dtype_lint import round_trunc_hazards

    failures = []
    for key, sql in e.oracle_sql().items():
        for expr in round_trunc_hazards(sql):
            failures.append(f"{key}: CAST of {expr!r}")
    assert not failures, (
        "oracles with round-vs-truncate int casts (pin with FLOOR or "
        "integral // arithmetic): " + "; ".join(failures)
    )


def test_no_oracle_ranks_on_float_tiebreak(duck):
    """r10 lint accretion (r9 verdict #8): every ROW_NUMBER/NTILE oracle
    window must end in a non-float sort key — a float-valued final
    tiebreak can flip a rank pick or tercile membership on last-ULP
    engine differences.  Zero of the 322 registered oracles trip this
    (the registry convention is (score, unique_id)), so it gates hard;
    the lint's own behavior is unit-tested below."""
    from tools.oracle_dtype_lint import (
        double_fixture_columns,
        ranking_tiebreak_warns,
    )

    dbl = double_fixture_columns(duck)
    failures = []
    for key, sql in e.oracle_sql().items():
        for w in ranking_tiebreak_warns(sql, dbl):
            failures.append(f"{key}: {w}")
    assert not failures, (
        "ranking windows with float final tiebreaks (append a unique "
        "integer/string key): " + "; ".join(failures)
    )
    # unit behavior: float last key flags, unique-id tail passes
    assert ranking_tiebreak_warns(
        "SELECT ROW_NUMBER() OVER (PARTITION BY g ORDER BY score / n) FROM t"
    )
    assert ranking_tiebreak_warns(
        "SELECT NTILE(3) OVER (ORDER BY l_quantity) FROM lineitem",
        frozenset({"l_quantity"}),
    )
    assert not ranking_tiebreak_warns(
        "SELECT NTILE(3) OVER (PARTITION BY lang ORDER BY nlp, doc_id) "
        "FROM scored"
    )
    assert ranking_tiebreak_warns("SELECT ROW_NUMBER() OVER (PARTITION BY g)")


def test_persist_sites_document_harness_release():
    """r10 lint accretion (r9 verdict #8, persisted-frame lifetime):
    every .persist() in the package pins a frame that must OUTLIVE its
    function's lazy return, so nothing may unpersist inline — release
    is the harness-side spark.catalog.clearCache() convention
    (verify_local clears after materializing each key, r8 ADVICE).
    The gate: every .persist()/.cache() site's ENCLOSING FUNCTION must
    either state the clearCache convention (frames returned lazily,
    released by the sweep harness) or SELF-RELEASE via .unpersist()
    before returning (the _min_label_propagate / memo-eviction shapes,
    where the returned frame is checkpoint-materialized or the cache is
    lifetime-managed by an explicit eviction policy)."""
    import glob
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(__file__), os.pardir,
        "mysql_clickhouse_replication_spark",
    )
    failures = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        lines = open(path).readlines()
        rel = os.path.relpath(path, pkg)
        def_starts = [
            j for j, lj in enumerate(lines) if re.match(r"\s*def ", lj)
        ]
        for i, ln in enumerate(lines):
            if ".persist(" not in ln and ".cache(" not in ln:
                continue
            fn_start = max(
                (j for j in def_starts if j <= i), default=0
            )
            fn_end = min(
                (j for j in def_starts if j > i), default=len(lines)
            )
            body = "".join(lines[fn_start:fn_end])
            if (
                "clearcache" not in body.lower()
                and ".unpersist(" not in body
            ):
                failures.append(
                    f"{rel}:{i + 1}: persist/cache without a clearCache "
                    "lifetime note or in-function release"
                )
    assert not failures, "\n".join(failures)


def test_pin_strip_fails_open_on_unbalanced_parens():
    """r9 ADVICE: _strip_pinned_spans must not strip to end-of-string
    when a pinning call's parens never close — that would erase a
    genuine unpinned double-column reference from the hazard residue.
    On malformed input the expression comes back unstripped (fail open
    to flagging); balanced input still strips normally."""
    from tools.oracle_dtype_lint import _strip_pinned_spans, round_trunc_hazards

    malformed = "FLOOR(l_quantity / 7.0 + x"  # paren never closes
    assert _strip_pinned_spans(malformed) == malformed
    assert "/" in _strip_pinned_spans(malformed)  # hazard signal survives
    assert _strip_pinned_spans("FLOOR(x / 2.0) + y") == " + y"
    # CAST-AS-DECIMAL arm: unbalanced decimal cast also fails open
    mal_dec = "CAST(a / 2 AS DECIMAL(10, 2"
    assert _strip_pinned_spans(mal_dec) == mal_dec
    # a well-formed oracle still lints clean end-to-end
    assert round_trunc_hazards(
        "SELECT CAST(FLOOR(l_quantity / 7.0) AS BIGINT) AS q FROM lineitem"
    ) == []


def test_readme_key_count_matches_registry():
    """README's advertised key count drifted once (316 vs 317 registry,
    round-9 verdict blemish): tools/operator_index.py now rewrites every
    "NNN keys" occurrence from the live registry, and this assertion
    makes any future drift a test failure instead of a doc bug."""
    import os
    import re

    readme = os.path.join(os.path.dirname(__file__), os.pardir, "README.md")
    with open(readme) as f:
        counts = {int(m) for m in re.findall(r"\b(\d+) keys\b", f.read())}
    assert counts == {len(e.queries())}, (
        f"README says {counts}, registry has {len(e.queries())} — "
        "run python tools/operator_index.py"
    )


def test_sampled_fixture_twin_builder_invariants():
    """The r9 big-SF twin machinery: every SUPERLINEAR_ORACLES member is
    covered by exactly one twin map; building a twin fixture samples
    ONLY the named table (others symlink to the originals byte-for-byte),
    keeps parquet schemas identical, and yields a non-empty sample."""
    import os
    import sys

    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir,
                                    "tools"))
    import verify_local as v

    uncovered = (v.SUPERLINEAR_ORACLES - set(v.SCALE_TWINS)
                 - set(v.SAMPLED_FIXTURE_TWINS))
    double = set(v.SCALE_TWINS) & set(v.SAMPLED_FIXTURE_TWINS)
    assert not uncovered and not double, (uncovered, double)

    sf = "/root/testdata/sf0.001"
    for tbl in sorted(set(v.SAMPLED_FIXTURE_TWINS.values())):
        out = v._build_twin_fixture(sf, tbl)
        for t in v.TABLES:
            src = os.path.join(sf, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            assert os.path.exists(dst), dst
            if t == tbl:
                assert not os.path.islink(dst)
                s_meta, d_meta = pq.read_metadata(src), pq.read_metadata(dst)
                assert d_meta.schema.to_arrow_schema().names == \
                    s_meta.schema.to_arrow_schema().names
                assert 0 < d_meta.num_rows < s_meta.num_rows
            else:
                assert os.path.islink(dst)
                assert os.path.realpath(dst) == os.path.realpath(src)


def test_survey_and_operators_counts_match_registry():
    """r11 verdict #8: SURVEY.md's inventory-totals line drifted once
    (333 vs a 334 registry — synced before the last key landed).  All
    three doc surfaces now assert against the live registry: SURVEY's
    totals line (both the headline number and its per-round arithmetic),
    docs/OPERATORS.md's header count, and (already covered above) the
    README."""
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), os.pardir)
    n = len(e.queries())

    with open(os.path.join(root, "SURVEY.md")) as f:
        survey = f.read()
    m = re.search(
        r"\*\*Inventory totals: (\d+) declared keys \(([^)]+)\)", survey
    )
    assert m, "SURVEY.md inventory-totals line missing"
    assert int(m.group(1)) == n, (m.group(1), n)
    terms = [int(t) for t in re.findall(r"(\d+) (?:original|round-\d+)",
                                        m.group(2))]
    assert sum(terms) == n, (terms, n)

    with open(os.path.join(root, "docs", "OPERATORS.md")) as f:
        ops = f.read()
    m2 = re.search(r"\b(\d+) keys\b", ops)
    assert m2 and int(m2.group(1)) == n, (m2 and m2.group(1), n)


def test_no_module_memo_outside_session():
    """Cross-call state has one home: session.session_memo.  No other
    package module may define a module-level memo (an empty dict/set
    filled at runtime, or an lru_cache/cache decorator); registry.py's
    key registry is the one exemption."""
    import glob
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(__file__), os.pardir,
        "mysql_clickhouse_replication_spark",
    )
    empty = re.compile(r"^(\w+)\s*(:[^=]*)?=\s*(\{\}|dict\(\)|set\(\))\s*$")
    decorator = re.compile(r"^\s*@(functools\.)?(lru_cache|cache)\b")
    allowed = {("registry.py", "QUERIES"), ("registry.py", "ORACLES")}
    found = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, pkg)
        if rel == "session.py":
            continue
        for i, ln in enumerate(open(path), start=1):
            m = empty.match(ln)
            if (m and (rel, m.group(1)) not in allowed) or decorator.match(ln):
                found.append(f"{rel}:{i}: {ln.strip()}")
    assert not found, "\n".join(found)


def _package_grep(pattern: str) -> list[tuple[str, int, str]]:
    """``(path, line number, text)`` of every package source line that
    matches ``pattern``; paths are relative to the package root."""
    import glob
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(__file__), os.pardir,
        "mysql_clickhouse_replication_spark",
    )
    rx = re.compile(pattern)
    return [
        (os.path.relpath(path, pkg), i, ln.strip())
        for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        for i, ln in enumerate(open(path), start=1)
        if rx.search(ln)
    ]


def test_one_event_op_map():
    """The event->op map is written once, as binlog_wire.OP_SQL; no
    package module re-spells it as a ``F.when`` chain.  Plain signup
    filters (cohort and storm keys) are not op maps and stay legal."""
    found = _package_grep(
        r"""F\.when\(\s*F\.col\(\s*["']event_type["']\s*\)\s*==\s*["']signup["']"""
    )
    assert not found, "\n".join(map(str, found))


def test_one_final_rule():
    """ReplacingMergeTree FINAL (latest seq per pk wins) is written once,
    in plans.cdc.compact; every other site calls it instead of
    hand-rolling the ``row_number`` window over descending seq."""
    import inspect

    from mysql_clickhouse_replication_spark.plans import cdc

    lines, start = inspect.getsourcelines(cdc.compact)
    inside = range(start, start + len(lines))
    found = _package_grep(r"""orderBy\(\s*F\.desc\(\s*["']seq["']\s*\)\s*\)""")
    outside = [
        f for f in found if not (f[0] == "plans/cdc.py" and f[1] in inside)
    ]
    assert len(found) - len(outside) == 1  # the rule itself, in compact
    assert not outside, "\n".join(map(str, outside))


def test_one_nearest_centroid_rule():
    """The rule that assigns a vector to its nearest centroid (and the
    IVF probe's n nearest cells) is written once, in
    ``ann_index._nearest_sql``; PQ encode, OPQ training and IVF routing
    all call it."""
    import inspect

    from mysql_clickhouse_replication_spark.functions import ann_index

    lines, start = inspect.getsourcelines(ann_index._nearest_sql)
    inside = range(start, start + len(lines))
    found = _package_grep(r"named_struct\('d'")
    outside = [
        f for f in found
        if not (f[0] == "functions/ann_index.py" and f[1] in inside)
    ]
    assert len(found) - len(outside) == 1
    assert not outside, "\n".join(map(str, outside))


def test_one_binlog_read_path():
    """The binlog-v4 layout is read in one place: the 19-byte event
    header is unpacked only by ``binlog_wire._frames``; no module that
    imports binlog_wire opens a file itself (a log is opened by
    ``binlog_wire.mapped``); and the seek/read twin of the index walk,
    ``tx_boundaries_stream``, is gone."""
    import inspect

    from mysql_clickhouse_replication_spark.sources import binlog_wire

    lines, start = inspect.getsourcelines(binlog_wire._frames)
    inside = range(start, start + len(lines))
    found = _package_grep(r"_HEADER\.unpack")
    outside = [
        f for f in found
        if not (f[0] == "sources/binlog_wire.py" and f[1] in inside)
    ]
    assert len(found) - len(outside) == 1
    assert not outside, "\n".join(map(str, outside))

    readers = {f[0] for f in _package_grep(r"binlog_wire import")}
    assert {"sources/binlog.py", "plans/cdc.py"} <= readers
    opens = [
        f for f in _package_grep(r"(?<![\w.])open\(") if f[0] in readers
    ]
    assert not opens, "\n".join(map(str, opens))

    assert not _package_grep(r"tx_boundaries_stream")
    assert not hasattr(binlog_wire, "tx_boundaries_stream")


def test_one_literal_builder():
    """Literal frames are built by ``operators._util.values_df`` from
    ``_sql_lit``'s typed literals; the one-row SELECT-over-VALUES
    helpers and their private array and struct spellers are gone."""
    found = _package_grep(
        r"FROM VALUES \(1\)|_sql_larr|_local_1row_sql|_cents_sql"
        r"|_opq_cball_lit"
    )
    assert not found, "\n".join(map(str, found))


def test_local_defaults_follow_the_host():
    """With SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM unset, get_spark
    runs on every CPU the process may use, with half the host's memory
    as driver heap, at most 16g."""
    from mysql_clickhouse_replication_spark.session import local_defaults

    gib = 2**30
    assert local_defaults(4, 16 * gib) == ("4", "8192m")
    assert local_defaults(1, 3 * gib) == ("1", "1536m")
    assert local_defaults(96, 32 * gib) == ("96", "16384m")
    assert local_defaults(64, 512 * gib) == ("64", "16384m")


def test_bench_times_every_registered_key(spark, sf_dir, monkeypatch, capsys):
    """bench.py's three key lists partition the registry: the frozen
    32-key HEADLINE, the streaming keys it never times, and every other
    key as an extra, so a new key is timed without editing bench.py.
    Given keys, it times only those (headline keys under ``queries``,
    the rest under ``extra_queries``) and reports each key's construct
    time; an unknown key exits 2 before Spark runs anything."""
    import json

    import bench
    from mysql_clickhouse_replication_spark import QUERIES

    lists = (bench.HEADLINE, bench.STREAMING_EXCLUDED, bench.EXTRA)
    head, stream, extra = map(set, lists)
    assert len(bench.HEADLINE) == len(head) == 32
    assert head | stream | extra == set(QUERIES)
    assert sum(map(len, lists)) == len(QUERIES)  # disjoint, no repeats

    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    capsys.readouterr()
    assert bench.main(["agg_groupby_multi", "cdc_decode"]) == 0
    detail, final = map(json.loads, capsys.readouterr().out.splitlines())
    both = {"agg_groupby_multi", "cdc_decode"}
    assert set(final) == {"metric", "value", "unit", "queries", "sf"}
    assert final["metric"] == "headline_total_wall"
    assert set(final["queries"]) == set(detail["queries"]) == {"agg_groupby_multi"}
    assert set(detail["queries_cold"]) == {"agg_groupby_multi"}
    assert set(detail["extra_queries"]) == {"cdc_decode"}
    assert set(detail["extra_queries_cold"]) == {"cdc_decode"}
    assert set(detail["construct_cold"]) == set(detail["construct_warm"]) == both
    assert final["value"] == detail["value"] == final["queries"]["agg_groupby_multi"]

    assert bench.main(["agg_groupby_multi", "no_such_key"]) == 2
    assert capsys.readouterr().out == ""


def _write_proof(d, rnd, rows):
    import json

    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_gate_order_from_proof_files(tmp_path):
    """The gate order is computed from CORRECTNESS_r*.json: keys
    never green first (registration order), then by oldest newest-green
    round, ties in registration order.  A row is green only with all
    three matches true and an empty err.  No files: registration order."""
    from mysql_clickhouse_replication_spark import QUERIES

    e.load_all()
    reg = list(QUERIES)
    assert e._ordered_keys(str(tmp_path)) == reg

    a, b, c, d = reg[:4]
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    _write_proof(tmp_path, 1, {k: green for k in (a, b, c, d)})
    _write_proof(tmp_path, 2, {
        a: green,
        b: {**green, "hash_match": False},
        c: {**green, "err": "boom"},
    })
    (tmp_path / "CORRECTNESS_r03_notes.json").write_text("not a proof file")
    assert e._ordered_keys(str(tmp_path)) == reg[4:] + [b, c, d, a]


def test_gate_window_is_stalest_cohort():
    """The committed proof files put the stalest-proven cohort in the
    gate's 50-key window: no key outside the window has an older
    newest-green round than any key inside it."""
    import json
    import os
    import re

    root = os.path.dirname(os.path.abspath(e.__file__))
    newest: dict[str, int] = {}
    for name in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if m:
            for k, row in json.load(open(os.path.join(root, name))).items():
                if (row["rows_match"] and row["schema_match"]
                        and row["hash_match"] and not row["err"]):
                    newest[k] = max(newest.get(k, 0), int(m.group(1)))
    assert newest, "no committed proof files"
    order = list(e.queries())
    window, rest = order[:50], order[50:]
    assert max(newest.get(k, 0) for k in window) <= min(
        newest.get(k, 0) for k in rest
    )
    assert list(e.oracle_sql())[:50] == window


def test_udf_workers_import_site_pyspark(spark):
    """Python UDF workers import the interpreter's compiled pyspark, not
    SPARK_HOME's pyspark.zip, and cache no importer for a SPARK_HOME
    archive, so a task's importlib.invalidate_caches() reads none."""
    import os

    import pyarrow as pa
    from pyspark.find_spark_home import _find_spark_home

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist(
            [{"file": pyspark.__file__, "version": pyspark.__version__, "zips": zips}]
        )

    row = spark.range(1).mapInArrow(
        probe, "file string, version string, zips array<string>"
    ).collect()[0]
    home = os.path.join(os.path.realpath(_find_spark_home()), "")
    assert os.path.isfile(row.file), row.file
    assert row.version == spark.version
    assert not [z for z in row.zips if os.path.realpath(z).startswith(home)], row.zips


def test_spark_archive_filter(tmp_path):
    """pydaemon.spark_archives drops only archive files under SPARK_HOME,
    compared by realpath (SPARK_HOME may be a symlink to the versioned
    install), keeps the stdlib zip, and drops nothing when pyspark would
    not be importable without the archives."""
    import sys

    from mysql_clickhouse_replication_spark.pydaemon import spark_archives

    real = tmp_path / "spark-4.1.2-bin-hadoop3"
    (real / "python" / "lib").mkdir(parents=True)
    (real / "jars").mkdir()
    home = tmp_path / "spark"
    home.symlink_to(real)
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    for f in ("python/lib/pyspark.zip", "python/lib/py4j-0.10.9.9-src.zip",
              "jars/spark-core_2.13-4.1.2.jar"):
        (real / f).write_bytes(b"")
    stdlib = tmp_path / f"python{sys.version_info[0]}{sys.version_info[1]}.zip"
    stdlib.write_bytes(b"")
    archives = [
        str(home / "python" / "lib" / "pyspark.zip"),
        str(home / "python" / "lib" / "py4j-0.10.9.9-src.zip"),
        str(real / "jars" / "spark-core_2.13-4.1.2.jar"),
    ]
    path = [str(tmp_path), *archives, str(stdlib), str(site)]

    assert spark_archives(path, str(home)) == archives
    assert spark_archives(path, str(real)) == archives
    assert spark_archives(path, None) == []
    bare = tmp_path / "no-pyspark"
    bare.mkdir()
    assert spark_archives([*path[:-1], str(bare)], str(home)) == []
