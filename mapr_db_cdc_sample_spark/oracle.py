"""DuckDB oracle harness — mirrors the driver's t2 correctness check.

Registers the ten parquet tables as DuckDB views, runs the oracle SQL and
the Spark query side-by-side, and compares row count + column names +
order-insensitive values. Used by tests/test_queries_oracle.py at sf0.001.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb

from .io import TABLES

#: Types both engines materialize identically. FLOAT is included: q34/q71
#: deliberately emit float32 on BOTH sides (driver-green since round 1).
#: DuckDB SUM/window-SUM of integers is HUGEINT, which fetchall() hands
#: back as a plain int — only the relation's declared types can see it.
PORTABLE = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "VARCHAR",
    "DOUBLE",
    "FLOAT",
    "DATE",
    "BOOLEAN",
    "TIMESTAMP",
}


def duck_connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def nonportable_columns(rel) -> list[tuple[str, str]]:
    """(column, type) of every output column of a DuckDB relation whose
    type is outside PORTABLE."""
    return [(c, str(t)) for c, t in zip(rel.columns, rel.types) if str(t) not in PORTABLE]


def _norm(v: Any) -> Any:
    """Normalize a cell for order-insensitive comparison across engines."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if hasattr(v, "asDict"):  # Spark Row (struct)
        return tuple(sorted((k, _norm(x)) for k, x in v.asDict().items()))
    return v


def rows_key(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, then rows — the driver's comparison shape."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    shaped = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(shaped, key=repr)


def compare(spark_df, con: "duckdb.DuckDBPyConnection", sql: str) -> tuple[bool, str]:
    """Return (match, message). Exact value comparison after normalization."""
    duck_rel = con.sql(sql)
    duck_cols = [c.lower() for c in duck_rel.columns]
    duck_rows = duck_rel.fetchall()
    spark_cols = [c.lower() for c in spark_df.columns]
    spark_rows = [tuple(r) for r in spark_df.collect()]

    if sorted(duck_cols) != sorted(spark_cols):
        return False, f"columns differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(duck_rows) != len(spark_rows):
        return False, f"row counts differ: spark={len(spark_rows)} duck={len(duck_rows)}"
    s = rows_key(spark_cols, spark_rows)
    d = rows_key(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
        return False, f"values differ; first diffs (spark, duck): {diffs}"
    return True, "ok"
