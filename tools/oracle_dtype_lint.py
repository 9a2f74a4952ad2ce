"""DESCRIBE-based oracle output-dtype lint.

Round-5 verdict evidence: every driver hash-red key (and ONLY red keys)
had a DuckDB oracle whose output schema contained HUGEINT or DECIMAL —
`duckdb .df()` coerces those to float64 while Spark delivers int64 /
object(Decimal), and the driver's pandas canonicalizer hashes
97.0 != 97.  BOOLEAN and ARRAY/LIST surfaces burned round 4 the same
way.  The classes separate perfectly (judge DESCRIBE scan of all 292:
zero green keys carried any of them), so the lint below is the
structural gate: an oracle may not expose HUGEINT / DECIMAL / BOOLEAN /
LIST / STRUCT / MAP output columns.  DATE is proven safe (13 green
driver rows).

This is the oracle half of the canonicalizer-hazard check; the Spark
half is tools/pandas_gate_sim.py, which compares each key's pandas
dtype class against its oracle's.  A Spark ARRAY/MAP output needs a
LIST/MAP oracle column (schemas must match), which this lint bans; a
Spark DECIMAL output arrives as object(Decimal) and fails the class
compare there.  Together they cover every output-schema hazard a
Spark-side schema scan would flag.

Usage: python tools/oracle_dtype_lint.py        # all keys, exit 1 on hit
"""

from __future__ import annotations

import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()

# Pandas-canonicalizer-hazard type classes (uppercase substring match on
# DuckDB DESCRIBE output).  HUGEINT/UHUGEINT -> float64; DECIMAL ->
# float64 vs Spark object(Decimal); nested types -> unhashable in
# pandas (r4 crash).  BOOLEAN is only a WARNING: 13 distinct keys with
# BOOLEAN oracle outputs hold green driver rows (r1-r5), so a
# both-sides-BOOLEAN surface is empirically safe — the hazard is
# bool-vs-int CLASS mismatch, which tools/pandas_gate_sim.py's strict
# dtype-class compare catches per key.
BANNED = ("HUGEINT", "DECIMAL", "[]", "STRUCT", "MAP(")
WARN = ("BOOLEAN",)


def connect(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def lint_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple[str, str]]:
    """Return [(column, duckdb_type)] for every banned output column."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    hits = []
    for col, typ, *_ in rows:
        t = typ.upper()
        if any(b in t for b in BANNED):
            hits.append((col, typ))
    return hits


#: Top-level wrappers that pin the fractional part BEFORE an integer
#: cast, making DuckDB's round-on-cast and Spark's truncate-on-cast
#: agree by construction (the r6 share_ppm fix pattern).
_PINNED = ("FLOOR", "CEIL", "CEILING", "ROUND", "TRUNC", "LEN", "LENGTH",
           "COUNT")
_CAST_RE = re.compile(r"CAST\s*\(", re.IGNORECASE)

#: Call heads whose RESULT cannot carry an unpinned fraction — their
#: argument spans are stripped before the double-column reference scan
#: (r9 lint accretion, r8 ADVICE: the division/AVG/literal heuristic
#: missed integer casts of fractional DOUBLE columns such as
#: CAST(l_extendedprice * 100 AS BIGINT)).
_PIN_CALL_RE = re.compile(
    r"\b(FLOOR|CEIL|CEILING|ROUND|TRUNC|COUNT_IF|COUNT|LEN|LENGTH"
    r"|OCTET_LENGTH)\s*\(",
    re.IGNORECASE,
)
#: CAST(x AS DECIMAL(p,s)) is itself a pin — exact decimal arithmetic
#: is the documented integral-cents pattern (fn_try_cast).
_DEC_CAST_RE = re.compile(r"CAST\s*\(", re.IGNORECASE)


def _strip_pinned_spans(expr: str) -> str:
    """Remove the balanced-paren argument spans of pinning calls and of
    CAST(... AS DECIMAL(...)) so a double-column reference inside them
    does not count as unpinned.

    Fail-open contract (r9 ADVICE): if a span's parens never balance
    (malformed/truncated expression), return the ORIGINAL expression
    unstripped — stripping to end-of-string would erase a genuine
    unpinned reference from the hazard residue, silently weakening the
    lint exactly when the input is most suspect."""
    out = expr
    changed = True
    while changed:
        changed = False
        for m in _PIN_CALL_RE.finditer(out):
            depth, i = 1, m.end()
            while i < len(out) and depth:
                if out[i] == "(":
                    depth += 1
                elif out[i] == ")":
                    depth -= 1
                i += 1
            if depth:  # unbalanced: fail open to flagging
                return expr
            out = out[: m.start()] + out[i:]
            changed = True
            break
        if changed:
            continue
        for m in _DEC_CAST_RE.finditer(out):
            depth, i = 1, m.end()
            while i < len(out) and depth:
                if out[i] == "(":
                    depth += 1
                elif out[i] == ")":
                    depth -= 1
                i += 1
            if depth:  # unbalanced: fail open to flagging
                return expr
            inner = out[m.end(): i - 1]
            if re.search(r"\s+AS\s+DECIMAL\s*\(", inner, re.IGNORECASE):
                out = out[: m.start()] + out[i:]
                changed = True
                break
    return out


def _cast_exprs(sql: str):
    """Yield the inner expression of every CAST(<expr> AS BIGINT/INT...)
    in ``sql`` (balanced-paren scan; comments/strings not expected in
    registry oracles)."""
    for m in _CAST_RE.finditer(sql):
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        inner = sql[m.end():i - 1]
        # BIGINT/HUGEINT targets only: the hazard class is fractional
        # ppm/share/sum surfaces (always BIGINT here); CAST(<bool> AS
        # INT) flag columns carry no fractional part by construction.
        mm = re.search(r"\s+AS\s+(BIGINT|HUGEINT)\s*$", inner, re.IGNORECASE)
        if mm:
            yield inner[: mm.start()].strip()


def double_fixture_columns(con: duckdb.DuckDBPyConnection) -> frozenset[str]:
    """Lower-cased names of DOUBLE/FLOAT columns across the fixture
    tables — the columns whose integer casts need a fraction pin."""
    cols = set()
    for t in TABLES:
        for name, typ, *_ in con.execute(f"DESCRIBE {t}").fetchall():
            if typ.upper() in ("DOUBLE", "FLOAT", "REAL"):
                cols.add(name.lower())
    return frozenset(cols)


def round_trunc_hazards(
    sql: str, double_cols: frozenset[str] = frozenset()
) -> list[str]:
    """Round-vs-truncate divergence lint (r6 share_ppm class): DuckDB
    CAST(x AS BIGINT) ROUNDS a fractional x while Spark's
    .cast('bigint') TRUNCATES, so any oracle casting an expression that
    can carry a fractional part to an integer type is a cross-engine
    hash hazard.  An expression is flagged when it contains division or
    a fractional literal and is not pinned by a top-level
    FLOOR/CEIL/ROUND/TRUNC (the integral-in-cents fix pattern).
    Integer-only arithmetic (SUM/COUNT/*, +, -) cannot carry a
    fraction, and DuckDB's ``//`` is FLOOR division — the safe
    integral-ppm pattern itself (its Spark twins use F.floor) — so
    both pass.

    Second class (r9, r8 ADVICE): an expression referencing a known
    DOUBLE fixture column (``double_cols``) is flagged even without
    division or a fractional literal — CAST(l_extendedprice * 100 AS
    BIGINT) carries FP representation error that DuckDB rounds and
    Spark truncates — unless every such reference sits inside a
    pinning call (FLOOR/ROUND/...) or an exact DECIMAL cast."""
    out = []
    for expr in _cast_exprs(sql):
        head = expr.split("(", 1)[0].strip().upper()
        if head in _PINNED:
            continue
        # All heuristics scan the PIN-STRIPPED residue: division or a
        # double-column reference inside FLOOR/CEIL/ROUND/... spans is
        # pinned wherever it nests (r9: greatest(1, ceil(x/40.0)) must
        # not flag).  IS [NOT] NULL tests of double columns yield
        # integers, so they are erased too.
        residue = _strip_pinned_spans(expr)
        residue = re.sub(
            r"\b\w+\s+IS\s+(NOT\s+)?NULL", "TRUE", residue, flags=re.I
        )
        true_div = residue.replace("//", "")  # drop floor-division tokens
        fractional = ("/" in true_div
                      or re.search(r"\b\d+\.\d+", residue) is not None
                      or re.search(r"\bAVG\s*\(", residue, re.I) is not None
                      or any(re.search(rf"\b{c}\b", residue, re.I)
                             for c in double_cols))
        if fractional:
            out.append(expr if len(expr) <= 80 else expr[:77] + "...")
    return out


_ORDER_LIMIT_RE = re.compile(
    r"ORDER\s+BY\s+(.*?)\s+LIMIT\b", re.IGNORECASE | re.DOTALL
)


def _split_top_level(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def float_topk_tie_warns(
    sql: str,
    float_out_cols: frozenset[str],
    double_cols: frozenset[str],
) -> list[str]:
    """WARN on float-valued final sort keys in top-k oracles (the one
    divergence class the dtype lints can't see: equal-to-the-engine
    floats that differ in the last ULP flip which rows survive LIMIT).
    A top-k ORDER BY is safe when its LAST key is a deterministic
    integer/string tiebreaker; it is suspect when the last key is a
    float output column, a known DOUBLE fixture column, or a division
    expression."""
    warns = []
    for m in _ORDER_LIMIT_RE.finditer(sql):
        keys = _split_top_level(m.group(1))
        if not keys:
            continue
        last = re.sub(
            r"\s+(ASC|DESC)\b.*$", "", keys[-1], flags=re.IGNORECASE
        ).strip().strip('"')
        lname = last.lower()
        floaty = (
            lname in float_out_cols
            or lname in double_cols
            or "/" in last.replace("//", "")
        )
        if floaty:
            warns.append(last if len(last) <= 60 else last[:57] + "...")
    return warns


_RANKING_OVER_RE = re.compile(
    r"\b(ROW_NUMBER|NTILE)\s*\([^)]*\)\s*OVER\s*\(", re.IGNORECASE
)
_ORDER_IN_OVER_RE = re.compile(r"ORDER\s+BY\s+(.*)$", re.IGNORECASE | re.DOTALL)


def ranking_tiebreak_warns(
    sql: str, double_cols: frozenset[str] = frozenset()
) -> list[str]:
    """WARN on ROW_NUMBER/NTILE oracle windows whose LAST sort key is
    float-valued (r10 lint accretion, r9 verdict #8): a row_number pick
    or NTILE membership whose final tiebreak is a DOUBLE column or a
    division can flip on last-ULP engine differences, silently moving a
    row across a rank/tercile boundary.  RANK/DENSE_RANK are exempt
    (ties share a rank, so the pick is not order-sensitive); windows
    ending in an integer/string key — the registry convention, e.g.
    (nlp, doc_id) — pass.  A window with NO ORDER BY flags too."""
    warns = []
    for m in _RANKING_OVER_RE.finditer(sql):
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        inner = sql[m.end(): i - 1]
        om = _ORDER_IN_OVER_RE.search(inner)
        if not om:
            warns.append(f"{m.group(1)} window without ORDER BY")
            continue
        keys = _split_top_level(om.group(1))
        last = re.sub(
            r"\s+(ASC|DESC)\b", "", keys[-1], flags=re.IGNORECASE
        )
        last = re.sub(
            r"\s+NULLS\s+(FIRST|LAST)\b", "", last, flags=re.IGNORECASE
        ).strip().strip('"')
        lname = last.lower()
        floaty = (
            lname in double_cols
            or "/" in last.replace("//", "")
            or re.search(r"\bAVG\s*\(", last, re.I) is not None
            or re.search(r"\b\d+\.\d+", last) is not None
        )
        if floaty:
            warns.append(
                f"{m.group(1)} last sort key {last[:50]!r} is float-valued"
            )
    return warns


def main() -> int:
    import __spark_entry__ as ent

    con = connect()
    oracles = ent.oracle_sql()
    dbl_cols = double_fixture_columns(con)
    bad = warned = 0
    for key, sql in oracles.items():
        try:
            rows = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # noqa: BLE001 - diagnostic tool
            print(f"ERR   {key}: {type(e).__name__}: {e}")
            bad += 1
            continue
        hits = [(c, t) for c, t, *_ in rows if any(b in t.upper() for b in BANNED)]
        warns = [(c, t) for c, t, *_ in rows if any(w in t.upper() for w in WARN)]
        rt = round_trunc_hazards(sql, dbl_cols)
        float_out = frozenset(
            c.lower() for c, t, *_ in rows
            if t.upper() in ("DOUBLE", "FLOAT", "REAL")
        )
        tie = float_topk_tie_warns(sql, float_out, dbl_cols)
        tie += ranking_tiebreak_warns(sql, dbl_cols)
        if hits:
            bad += 1
            print(f"HAZARD {key}: " + ", ".join(f"{c}:{t}" for c, t in hits))
        elif rt:
            bad += 1
            print(f"HAZARD {key}: round-vs-truncate int cast of "
                  + "; ".join(rt))
        elif warns or tie:
            warned += 1
            msgs = [f"{c}:{t}" for c, t in warns] + [
                f"float top-k tiebreak: ORDER BY ... {k} LIMIT" for k in tie
            ]
            print(f"warn   {key}: " + ", ".join(msgs))
    print(f"\n{bad} hazardous oracles, {warned} warnings of {len(oracles)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
