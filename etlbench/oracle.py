"""Reference results for the benchmark: DuckDB over the same parquet
inputs, with Spark's rounding rule, and an order-insensitive comparator.

Rounding.  Spark's ``round(double, n)`` converts the double to its
decimal string (``BigDecimal(d)`` → ``Double.toString``) and rounds that
HALF_UP; DuckDB's ``ROUND(DOUBLE)`` rounds the binary value, so
``2597.845`` (binary 2597.84499…) gives 2597.85 in Spark but 2597.84 in
DuckDB.  :func:`spark_rounding` rewrites every ``ROUND`` whose argument
is a DOUBLE into ``spark_round``, a UDF applying Spark's rule to the
shortest round-trip string of the double; ``ROUND`` over DECIMAL is left
alone (both engines round decimals half-up exactly).  The argument type
is found by probing each call site once: a macro that raises when its
argument is a DOUBLE replaces that one call, and the query is run.

Comparison.  :func:`compare` matches columns by name and rows as a
multiset; floats agree within 1e-9 relative (floor 1.0 on the scale),
integers and decimals must be equal, NaN and NULL are treated alike.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
from duckdb.typing import DOUBLE, INTEGER

REL_TOL = 1e-9

_ROUND_CALL = re.compile(r"\bround\s*\(", re.IGNORECASE)


class RoundStats:
    """Counts the half-way cases the Spark rule decided.

    ``ties``: values whose decimal string sits exactly half-way at the
    rounding digit; ``flips``: ties where the Spark rule and binary
    rounding give different results (the cells a plain DuckDB ``ROUND``
    would have got wrong)."""

    def __init__(self) -> None:
        self.ties = 0
        self.flips = 0


def spark_round_value(x: float, n: int, stats: RoundStats | None = None) -> float:
    """Spark's ``round(double, n)``: HALF_UP on the double's decimal string."""
    if math.isnan(x) or math.isinf(x):
        return x
    d = Decimal(repr(x))
    q = Decimal(1).scaleb(-n)
    out = float(d.quantize(q, rounding=ROUND_HALF_UP))
    if stats is not None and d.as_tuple().exponent < -n:
        rest = (d - d.quantize(q, rounding="ROUND_DOWN")).copy_abs()
        if rest == q / 2:
            stats.ties += 1
            if out != round(x, n):
                stats.flips += 1
    return out


def _call_spans(sql: str) -> list[tuple[int, int, int]]:
    """(name_start, open_paren, close_paren) of every ROUND call."""
    spans = []
    for m in _ROUND_CALL.finditer(sql):
        depth, i = 0, m.end() - 1
        while i < len(sql):
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c == "'":
                i = sql.index("'", i + 1)
            i += 1
        spans.append((m.start(), m.end() - 1, i))
    return spans


def _top_level_commas(args: str) -> int:
    depth = n = 0
    in_str = False
    for c in args:
        if c == "'":
            in_str = not in_str
        elif in_str:
            continue
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            n += 1
    return n


def _rename(sql: str, spans: list[tuple[int, int, int]], which: set[int], name: str) -> str:
    """Replace the function name of the chosen ROUND calls, padding a
    missing digits argument with 0."""
    edits = []  # (position, chars replaced, text), applied back to front
    for i in which:
        start, lp, rp = spans[i]
        edits.append((start, lp - start, name))
        if _top_level_commas(sql[lp + 1 : rp]) == 0:
            edits.append((rp, 0, ", 0"))
    out = sql
    for pos, n, text in sorted(edits, reverse=True):
        out = out[:pos] + text + out[pos + n :]
    return out


def register_udfs(con: duckdb.DuckDBPyConnection, stats: RoundStats) -> None:
    con.create_function(
        "spark_round",
        lambda x, n: spark_round_value(x, n, stats),
        [DOUBLE, INTEGER],
        DOUBLE,
    )
    con.execute(
        # typed branches: an untyped error() would let the binder fold
        # enclosing arithmetic to NULL without ever raising
        "CREATE MACRO __round_probe(x, n) AS CASE WHEN typeof(x) IN ('DOUBLE', 'FLOAT') "
        "THEN CAST(error('__round_arg_is_double') AS DOUBLE) "
        "ELSE CAST(error('__round_arg_is_other') AS DOUBLE) END"
    )


def _probe(con: duckdb.DuckDBPyConnection, sql: str) -> bool | None:
    """True/False: the probed call's argument is/is not a double; None:
    no row reached the call."""
    try:
        con.execute(sql).fetchall()
    except duckdb.Error as e:
        for tag, is_double in (("__round_arg_is_double", True), ("__round_arg_is_other", False)):
            if tag in str(e):
                return is_double
        raise
    return None


def spark_rounding(
    con: duckdb.DuckDBPyConnection, sql: str, probe_con: duckdb.DuckDBPyConnection | None = None
) -> tuple[str, int]:
    """Rewrite the DOUBLE-argument ROUND calls of ``sql`` to ``spark_round``.

    Each call site is probed on ``probe_con`` (a small copy of the inputs)
    when given, else — or when no row reaches it there — on ``con``.
    Returns (rewritten sql, number of rewritten calls).  A call site that
    no row reaches keeps DuckDB's ROUND: it cannot affect the result."""
    spans = _call_spans(sql)
    doubles = set()
    for i in range(len(spans)):
        probe = _rename(sql, spans, {i}, "__round_probe")
        found = _probe(probe_con, probe) if probe_con is not None else None
        if found is None:
            found = _probe(con, probe)
        if found:
            doubles.add(i)
    return _rename(sql, spans, doubles, "spark_round"), len(doubles)


def connect(data_dir: str, tables, stats: RoundStats) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    register_udfs(con, stats)
    return con


# ------------------------------------------------------------ compare


def norm(v):
    """Engine-neutral form of one cell (Spark Row values or DuckDB values)."""
    t = type(v)
    if v is None or t is str or t is int or t is bool:
        return v
    if t is float:
        return None if v != v else v
    if t is Decimal:
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return norm(v.asDict())
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return tuple(norm(x) for x in (v.tolist() if hasattr(v, "tolist") else v))
    return v


def _sort_key(v):
    """Total order over normalized cells; floats coarsened to 9
    significant digits so rows that agree within tolerance sort alike."""
    t = type(v)
    if t is str:
        return (3, v)
    if t is int or t is Decimal:
        return (2, v)
    if t is float:
        return (2, float(f"{v:.9g}") if math.isfinite(v) else v)
    if v is None:
        return (0,)
    if t is bool:
        return (1, v)
    if t is tuple:
        return (4, tuple(_sort_key(x) for x in v))
    return (3, str(v))


def cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    num = (int, float, Decimal)
    if isinstance(a, num) and isinstance(b, num):
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isinf(fa) or math.isinf(fb):
                return fa == fb
            return abs(fa - fb) <= REL_TOL * max(abs(fb), 1.0)
        return Decimal(a) == Decimal(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(
    got_cols: list[str], got_rows: list, want_cols: list[str], want_rows: list
) -> list[str]:
    """Differences between two results as readable lines ([] = equal)."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns got={sorted(got_cols)} want={sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"rowcount got={len(got_rows)} want={len(want_rows)}"]
    cols = sorted(got_cols)

    def canon(colnames, rows):
        idx = [colnames.index(c) for c in cols]
        return [tuple([norm(r[i]) for i in idx]) for r in rows]

    g, w = canon(got_cols, got_rows), canon(want_cols, want_rows)
    if Counter(g) == Counter(w):  # bit-equal multisets: the common case
        return []
    g.sort(key=lambda r: tuple([_sort_key(v) for v in r]))
    w.sort(key=lambda r: tuple([_sort_key(v) for v in r]))
    bad: dict[int, list[int]] = {}
    for i, (gr, wr) in enumerate(zip(g, w)):
        if gr != wr:
            for j in range(len(cols)):
                if not cells_equal(gr[j], wr[j]):
                    bad.setdefault(j, []).append(i)
    return [
        f"col {cols[j]}: {len(rows)} diffs, first row {rows[0]}: "
        f"got={g[rows[0]][j]!r} want={w[rows[0]][j]!r}"
        for j, rows in sorted(bad.items())
    ]
