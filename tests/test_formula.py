"""Formula-DSL compiler tests: parser, dependency analysis, and a property
test comparing the Spark-compiled column against the Python interpreter
(SURVEY.md §5.4)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.functions import formula

REFERENCE_STYLE = "(0.0006*{08KG001}^2+0.0928*{08KG001}-0.5642).clip(lower=0.001)"


def test_parse_reference_style_formula():
    refs = formula.references(REFERENCE_STYLE)
    assert refs == {"08KG001"}


def test_to_sql_reference_style():
    sql = formula.to_sql(REFERENCE_STYLE)
    assert "GREATEST" in sql
    assert '"08KG001" * "08KG001"' in sql  # ^2 unrolled, no POW


def test_evaluate_simple_cases():
    assert formula.evaluate("1+2*3", {}) == 7
    assert formula.evaluate("2^3^2", {}) == 512  # right-assoc
    assert formula.evaluate("(1+2)*3", {}) == 9
    # Python precedence (the reference interpreter is eval after '^'→'**'):
    # ** binds tighter than a leading unary minus, so -2^2 == -(2^2)
    assert formula.evaluate("-2^2", {}) == -4
    assert formula.evaluate("(-2)^2", {}) == 4
    assert formula.evaluate("2^-2", {}) == 0.25  # signed exponent still parses
    assert formula.evaluate("{A}/{B}", {"A": 6, "B": 3}) == 2
    assert formula.evaluate("(0-5).clip(lower=0.5)", {}) == 0.5
    assert formula.evaluate("{A}+1", {"A": None}) is None


def test_clip_preserves_null(spark):
    """Missing gauge input stays missing through .clip — plain GREATEST would
    fabricate the clip floor (pandas ``Series([nan]).clip(lower=k)`` keeps
    NaN).  Checks all three backends: Spark, DuckDB SQL, Python."""
    import duckdb

    f_str = "({A}*2).clip(lower=0.001)"
    # Python interpreter
    assert formula.evaluate(f_str, {"A": None}) is None
    assert formula.evaluate(f_str, {"A": -5.0}) == 0.001
    # Spark column
    df = spark.createDataFrame(
        [(None,), (-5.0,)], "A double"
    ).select(formula.to_column(f_str).alias("v"))
    got = sorted(r.v for r in df.collect() if r.v is not None)
    nulls = sum(1 for r in df.select("v").collect() if r.v is None)
    assert nulls == 1 and got == [0.001]
    # DuckDB oracle SQL
    sql = formula.to_sql(f_str)
    con = duckdb.connect()
    rows = con.execute(
        f'SELECT {sql} FROM (VALUES (CAST(NULL AS DOUBLE)), (-5.0)) t("A")'
    ).fetchall()
    vals = sorted(v for (v,) in rows if v is not None)
    assert sum(1 for (v,) in rows if v is None) == 1 and vals == [0.001]


def test_parse_errors():
    for bad in ["1+", "{unclosed", "1 $ 2", "(1+2", "clip(lower=1)"]:
        with pytest.raises(formula.FormulaError):
            formula.parse(bad)


def _random_formula(rng: random.Random, depth: int = 0) -> str:
    if depth > 3 or rng.random() < 0.3:
        return rng.choice(
            [f"{rng.uniform(0.1, 5):.3f}", "{A}", "{B}", "{C}"]
        )
    op = rng.choice(["+", "-", "*", "+", "-", "*", "/", "^"])
    left = _random_formula(rng, depth + 1)
    right = (
        str(rng.randint(2, 3))
        if op == "^"
        else _random_formula(rng, depth + 1)
    )
    expr = f"({left}{op}{right})"
    if rng.random() < 0.2:
        expr += f".clip(lower={rng.uniform(0, 1):.2f})"
    return expr


def test_property_spark_matches_python(spark):
    rng = random.Random(42)
    env = {"A": 1.7, "B": 0.4, "C": 12.25}
    formulas = [_random_formula(rng) for _ in range(40)]
    df = spark.createDataFrame([env])
    cols = []
    expected = []
    kept = []
    for i, f_str in enumerate(formulas):
        py = formula.evaluate(f_str, env)
        if py is None or not math.isfinite(py) or abs(py) > 1e12:
            continue  # div-by-zero / overflow cases: skip, parity n/a
        kept.append(f_str)
        expected.append(py)
        cols.append(formula.to_column(f_str).alias(f"f{i}"))
    row = df.select(*cols).collect()[0]
    for f_str, want, got in zip(kept, expected, row):
        assert got == pytest.approx(want, rel=1e-9), f_str


def test_sql_matches_python_via_duckdb():
    import duckdb

    rng = random.Random(7)
    env = {"A": 2.5, "B": 0.9, "C": 7.0}
    cols = ", ".join(f'{v!r} AS "{k}"' for k, v in env.items())
    row = f"(SELECT {cols})"
    con = duckdb.connect()
    for _ in range(30):
        f_str = _random_formula(rng)
        py = formula.evaluate(f_str, env)
        if py is None or not math.isfinite(py) or abs(py) > 1e12:
            continue
        sql = formula.to_sql(f_str)
        # literal columns come back as DECIMAL from DuckDB
        got = float(con.execute(f"SELECT {sql} FROM {row}").fetchone()[0])
        assert got == pytest.approx(py, rel=1e-9), f_str


def test_integer_literal_followed_by_clip(spark):
    """Review regression: '2.clip(...)' is grammar-valid but the greedy
    trailing-dot number token swallowed the dot; trailing-dot floats
    elsewhere still lex."""
    assert formula.evaluate("2.clip(lower=3)", {}) == 3.0
    assert formula.evaluate("2. + 1", {}) == 3.0
