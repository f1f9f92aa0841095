"""Determinism kit: the exact-arithmetic fragments that make a Spark query
and its independently written DuckDB oracle agree bit for bit.

Spark side (SQL text for ``F.expr`` / ``selectExpr`` / ``spark.sql``):

- ``rhu(p, q)``: round-half-up of p/q for p >= 0, q > 0, in integer
  arithmetic, ``(2 * p + q) DIV (2 * q)``. A double ROUND on an exact
  rational lands on tie midpoints where the engines disagree; this form
  has no ties.
- ``floor_rhu(p, q)``: the same for a SIGNED p (q > 0). Spark's DIV
  truncates toward zero, so the floor comes from the PMOD identity
  floor(a / m) = (a - PMOD(a, m)) DIV m with a = 2p + q, m = 2q.
- ``cents(col)``: a DECIMAL(18,2) money column as BIGINT cents.

Each fragment is rendered verbatim around its operands: the kit adds no
parentheses, so a compound operand arrives parenthesised
(``rhu("(a + b)", "n")``) and each call site parses to the same
Catalyst tree as the spelled-out form. A bare ``+``, ``-``, ``DIV`` or
``%`` outside parentheses would regroup under the kit's ``2 *`` and
change the arithmetic, so ``rhu`` and ``floor_rhu`` reject it.

DuckDB side (oracle SQL): ``floor_rhu_duck(p, q)`` — DuckDB's ``//``
truncates like Spark's DIV and DuckDB has no PMOD, so the floor mod is
emulated as ((a % m) + m) % m; and ``cosine_duck(a, b)``, cosine with a
zero-norm side giving NaN (as the Spark kernels do; DuckDB's own
``list_cosine_similarity`` gives -1.0 there). Positive operands in
oracles keep the hand-written ``(2 * p + q) // (2 * q)``: the oracles
stay independently written SQL, and the kit never renders one fragment
for both engines.

``tests/test_exact.py`` checks every fragment against
``fractions.Fraction`` and lints the package for hand-written copies.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


# Outside parentheses: +, %, DIV, or a - that follows an operand (binary).
_LOOSE = re.compile(r"[+%]|(?<=[\w)\]])-|\bDIV\b", re.IGNORECASE)


def _operand(e: str) -> str:
    """e, if ``2 * e`` keeps it whole: no ``+``, binary ``-``, ``DIV`` or
    ``%`` outside parentheses and quotes."""
    depth, top = 0, []
    for part in re.split(r"('[^']*'|`[^`]*`)", e):
        if part[:1] in "'`":
            top.append("x" if depth == 0 else "")
            continue
        for ch in part:
            depth += ch == "("
            if depth == 0:
                top.append(ch)
            depth -= ch == ")"
    top = "".join(top)
    if _LOOSE.search(top) or _LOOSE.search(re.sub(r"\s+", "", top)):
        raise ValueError(f"kit operand needs parentheses: {e!r}")
    return e


def rhu(p: str, q: str) -> str:
    """Round-half-up of p/q (p >= 0, q > 0) as Spark SQL."""
    p, q = _operand(p), _operand(q)
    return f"(2 * {p} + {q}) DIV (2 * {q})"


def floor_rhu(p: str, q: str) -> str:
    """Round-half-up of p/q for a signed p (q > 0) as Spark SQL."""
    p, q = _operand(p), _operand(q)
    a = f"2 * {p} + {q}"
    return f"({a} - PMOD({a}, 2 * {q})) DIV (2 * {q})"


def floor_rhu_duck(pe: str, qe: str) -> str:
    """``floor_rhu`` in DuckDB SQL, with the floor mod emulated."""
    a = f"(2 * ({pe}) + ({qe}))"
    m = f"(2 * ({qe}))"
    return f"(({a}) - ((({a}) % ({m})) + ({m})) % ({m})) // ({m})"


def cosine_duck(a: str, b: str) -> str:
    """Cosine of two DOUBLE[] expressions in DuckDB SQL; NaN when either
    side has zero norm. Each operand is read three times, so over a pair
    join pass columns cast to DOUBLE[] once per row, not casts."""
    return (
        f"CASE WHEN list_dot_product({a}, {a}) = 0"
        f" OR list_dot_product({b}, {b}) = 0 THEN CAST('NaN' AS DOUBLE)"
        f" ELSE list_cosine_similarity({a}, {b}) END"
    )


def cents(col: str | Column) -> Column:
    """A money column (double or decimal) as BIGINT cents via DECIMAL(18,2)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("decimal(18,2)") * 100).cast("bigint")
