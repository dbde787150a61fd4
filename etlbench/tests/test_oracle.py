"""Spark's rounding rule in the DuckDB reference, and the comparator."""

import datetime as dt
import math
from decimal import Decimal

import duckdb
import pytest

import oracle


@pytest.mark.parametrize(
    "x,n,want",
    [
        (2597.845, 2, 2597.85),  # binary 2597.84499…: DuckDB's ROUND gives 2597.84
        (0.125, 2, 0.13),
        (-0.125, 2, -0.13),  # HALF_UP rounds away from zero
        (1.005, 2, 1.01),
        (2.5, 0, 3.0),
        (1234.5, -2, 1200.0),
        (0.1 + 0.2, 2, 0.3),
    ],
)
def test_spark_round_value(x, n, want):
    assert oracle.spark_round_value(x, n) == want


def test_spark_round_value_non_finite():
    assert math.isnan(oracle.spark_round_value(float("nan"), 2))
    assert oracle.spark_round_value(float("inf"), 2) == float("inf")


def test_ties_are_counted():
    st = oracle.RoundStats()
    oracle.spark_round_value(2597.845, 2, st)  # tie, binary rounding differs
    oracle.spark_round_value(0.375, 2, st)  # tie, exact in binary: same result
    oracle.spark_round_value(0.3751, 2, st)  # not a tie
    assert (st.ties, st.flips) == (2, 1)


@pytest.fixture
def con():
    st = oracle.RoundStats()
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE t AS SELECT 2597.845::DOUBLE AS d, 2597.845::DECIMAL(18,3) AS m, "
        "3 AS i"
    )
    oracle.register_udfs(c, st)
    return c


def test_rewrite_only_double_arguments(con):
    sql = "SELECT ROUND(d, 2) AS a, round(m, 2) AS b, ROUND(d) AS c, round(i * 1.5) AS e FROM t"
    out, k = oracle.spark_rounding(con, sql)
    assert k == 2
    assert out.count("spark_round") == 2
    assert con.execute(sql).fetchall()[0][0] == 2597.84  # what DuckDB alone says
    a, b, c, e = con.execute(out).fetchall()[0]
    assert a == 2597.85 and float(b) == 2597.85 and c == 2598.0 and float(e) == 5.0


def test_rewrite_unreached_call_is_left_alone(con):
    sql = "SELECT ROUND(d, 2) AS a FROM t WHERE d < 0"
    out, k = oracle.spark_rounding(con, sql)
    assert k == 0 and con.execute(out).fetchall() == []


def test_rewrite_probes_small_copy_first(con):
    small = duckdb.connect()
    small.execute("CREATE TABLE t AS SELECT 1.5::DOUBLE AS d")
    oracle.register_udfs(small, oracle.RoundStats())
    out, k = oracle.spark_rounding(con, "SELECT round(d, 1) AS a FROM t", small)
    assert k == 1 and con.execute(out).fetchall() == [(2597.8,)]


def test_nested_calls_and_strings(con):
    sql = "SELECT round(round(d, 3) + length('a)(b'), 2) AS a FROM t"
    out, k = oracle.spark_rounding(con, sql)
    assert k == 2 and "'a)(b'" in out
    assert con.execute(out).fetchall()[0][0] == 2601.85


def test_compare_equal_as_multisets():
    # row order is free, NaN and NULL are alike, decimal vs float by value
    cols = ["b", "a"]
    got = [(None, "y"), (Decimal("3.50"), "z")]
    want = [(float("nan"), "y"), (3.5, "z")]
    assert oracle.compare(cols, got, cols, want) == []


def test_compare_column_order_is_free():
    assert oracle.compare(["a", "b"], [(1, "x")], ["b", "a"], [("x", 1)]) == []


def test_compare_tolerance_is_1e_9_relative():
    c = ["v"]
    assert oracle.compare(c, [(1e6 * (1 + 5e-10),)], c, [(1e6,)]) == []
    errs = oracle.compare(c, [(1e6 * (1 + 5e-9),)], c, [(1e6,)])
    assert errs and errs[0].startswith("col v: 1 diffs")
    assert oracle.compare(c, [(2597.84,)], c, [(2597.85,)])  # half-cent tie = wrong


def test_compare_integers_exactly():
    c = ["h"]
    big = 2**62 + 1
    assert oracle.compare(c, [(big,)], c, [(big - 1,)])
    assert oracle.compare(c, [(big,)], c, [(Decimal(big),)]) == []


def test_compare_shape_errors():
    assert oracle.compare(["a"], [(1,)], ["b"], [(1,)])[0].startswith("columns")
    assert oracle.compare(["a"], [(1,), (1,)], ["a"], [(1,)])[0].startswith("rowcount")


def test_compare_nested_and_temporal_values():
    c = ["t", "l"]
    got = [(dt.date(2001, 8, 2), [1.0, 2.0])]
    want = [(dt.datetime(2001, 8, 2), (1.0, 2.0 + 1e-12))]
    assert oracle.compare(c, got, c, want) == []
