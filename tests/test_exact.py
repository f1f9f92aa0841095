"""The determinism kit (functions/exact.py): each fragment equals exact
rational round-half-up, and the package holds no hand-written copy of
a fragment outside the kit."""

from __future__ import annotations

import ast
import re
from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from mapr_db_cdc_sample_spark.functions.exact import (
    cents,
    cosine_duck,
    floor_rhu,
    floor_rhu_duck,
    rhu,
)

PKG = Path(__file__).resolve().parent.parent / "mapr_db_cdc_sample_spark"
KIT = PKG / "functions" / "exact.py"

BIG = 2**53 + 1  # above double precision: any float detour shows
#: (p, q) with q > 0: exact ties (p/q = k + 1/2), near-ties and numerators
#: past 2^53 (and past BIGINT once the fragment doubles them). Spark's DIV
#: returns BIGINT, so every quotient here fits one.
POSITIVE = [
    (0, 1), (1, 2), (3, 2), (5, 2), (7, 4), (5, 4), (1, 3), (2, 3),
    (999999, 1000000), (500000, 1000000), (499999, 1000000),
    (BIG, 2), (BIG * 10**6 + 5 * 10**5, 10**6), (3 * BIG, 7),
    (10**30 + 1, 10**13), (10**30 + 5 * 10**12, 10**13), (2**62, 3),
]
SIGNED = POSITIVE + [(-p, q) for p, q in POSITIVE if p] + [(-7, 2), (-1, 3), (-2, 3)]


def _half_up(p: int, q: int) -> int:
    f = Fraction(p, q) + Fraction(1, 2)
    return f.numerator // f.denominator


def _spark_eval(spark, expr: str, cases):
    df = spark.createDataFrame([(str(p), str(q)) for p, q in cases], "p string, q string")
    df = df.select(
        F.col("p").cast("decimal(38,0)").alias("p"),
        F.col("q").cast("decimal(38,0)").alias("q"),
    )
    rows = df.select("p", "q", F.expr(expr).cast("decimal(38,0)").alias("r")).collect()
    return {(int(r["p"]), int(r["q"])): int(r["r"]) for r in rows}


def test_rhu_is_rational_half_up(spark):
    got = _spark_eval(spark, rhu("p", "q"), POSITIVE)
    assert got == {(p, q): _half_up(p, q) for p, q in POSITIVE}


def test_floor_rhu_is_rational_half_up_for_signed_numerators(spark):
    got = _spark_eval(spark, floor_rhu("p", "q"), SIGNED)
    assert got == {(p, q): _half_up(p, q) for p, q in SIGNED}


def test_floor_rhu_compound_operands(spark):
    """Compound operands arrive parenthesised and keep their grouping."""
    cases = [(p, q) for p, q in SIGNED if q > 1]
    got = _spark_eval(spark, floor_rhu("(p - 0)", "(q + 0)"), cases)
    assert got == {(p, q): _half_up(p, q) for p, q in cases}


def test_bare_compound_operands_are_rejected():
    """The kit adds no parentheses, so an operand that binds looser than
    ``*`` would be split by the ``2 *``; it raises instead."""
    for bad in ["c + d + ty", "a - b", "n DIV 2", "n % 2", "(a) + (b)", "x * y-1"]:
        for fn in (rhu, floor_rhu):
            with pytest.raises(ValueError, match="needs parentheses"):
                fn("1000000 * (c - d)", bad)
            with pytest.raises(ValueError, match="needs parentheses"):
                fn(bad, "n")
    for ok in ["(c + d + ty)", "1000000 * (c - d)", "CAST(a - b AS DECIMAL(38,0))",
               "-x", "a * -b", "'2024-01-01'", "f(a, b - 1)"]:
        assert rhu(ok, "n") == f"(2 * {ok} + n) DIV (2 * n)"


def test_floor_rhu_duck_is_rational_half_up():
    """DuckDB's // on DECIMAL returns DOUBLE, so oracles (and this test)
    run the fragment over HUGEINT operands."""
    con = duckdb.connect()
    for p, q in SIGNED:
        if abs(2 * p + q) >= 2**127:
            continue
        sql = floor_rhu_duck(f"CAST('{p}' AS HUGEINT)", f"CAST('{q}' AS HUGEINT)")
        assert con.execute(f"SELECT CAST({sql} AS VARCHAR)").fetchone()[0] == str(
            _half_up(p, q)
        ), (p, q)


def test_cosine_duck_zero_norm_is_nan():
    con = duckdb.connect()
    a, b, z = "[3.0, 4.0]::DOUBLE[]", "[4.0, 3.0]::DOUBLE[]", "[0.0, 0.0]::DOUBLE[]"
    got = con.execute(
        f"SELECT {cosine_duck(a, b)}, isnan({cosine_duck(a, z)}),"
        f" isnan({cosine_duck(z, b)}), isnan({cosine_duck(z, z)})"
    ).fetchone()
    assert got == (0.96, True, True, True)


def test_cents_is_half_up_of_the_decimal_value(spark):
    values = ["0.005", "0.015", "1.005", "2.675", "123.455", "-0.005", "-2.675",
              "99999.995", "0.1", "1e-3"]
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    got = [r[0] for r in df.select(cents("x")).collect()]
    want = [
        int(Decimal(repr(float(v))).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        for v in values
    ]
    assert got == want
    assert df.select(cents(F.col("x"))).schema[0].dataType.simpleString() == "bigint"


# ---------- lint: no hand-written fragment outside the kit

#: the positive house form's denominator, ``DIV (2 * q)``, and the signed
#: form's ``a - PMOD(a, m)``
_RHU_TEXT = re.compile(r"\bDIV\s*\(\s*2\s*\*|-\s*PMOD\s*\(", re.IGNORECASE)


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _is_cast(node: ast.AST, to: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == to
    )


def _is_raw_cents(node: ast.AST) -> bool:
    """``(x.cast("decimal(18,2)") * 100).cast("bigint")``"""
    if not _is_cast(node, "bigint"):
        return False
    m = node.func.value
    return (
        isinstance(m, ast.BinOp)
        and isinstance(m.op, ast.Mult)
        and _is_cast(m.left, "decimal(18,2)")
        and isinstance(m.right, ast.Constant)
        and m.right.value == 100
    )


def _offenders(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    docs = _docstrings(tree)
    out = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and _RHU_TEXT.search(node.value)
        ):
            out.add((node.lineno, "round-half-up fragment"))
        elif _is_raw_cents(node):
            out.add((node.lineno, "cents Column"))
    return [f"{path.name}:{line}: {what}" for line, what in sorted(out)]


def test_lint_catches_hand_written_fragments(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        '"""doc: (2 * p + q) DIV (2 * q) stays prose"""\n'
        "# (2 * p + q) DIV (2 * q) in a comment\n"
        'a = ("CAST((2 * x + n)"\n'
        '     " DIV (2 * n) AS BIGINT)")\n'
        'b = f"({d} - PMOD({d}, 2 * n)) DIV 2"\n'
        'c = (F.col("v").cast("decimal(18,2)") * 100).cast("bigint")\n'
        'ok = "x DIV 2 + PMOD(h, 16)"\n'
    )
    assert _offenders(src) == [
        "m.py:3: round-half-up fragment",
        "m.py:5: round-half-up fragment",
        "m.py:6: cents Column",
    ]


def test_no_hand_written_fragment_outside_the_kit():
    found = [
        o
        for path in sorted(PKG.rglob("*.py"))
        if path != KIT
        for o in _offenders(path)
    ]
    assert not found, "\n".join(found)
