"""Strict (bit-exact, type-aware) spark-vs-DuckDB comparison for a name
range — the rotation-safety gate the r12 HUGEINT finding motivated.

oracle.compare() normalizes floats to 9 digits and uses Python equality
(Decimal(5) == 5), which is looser than a type-sensitive driver hash.
This tool re-runs the comparison with ZERO tolerance: every cell must
be the same Python type family AND repr-identical after canonical
formatting (floats via repr of the double, ints as ints). Every oracle
output column whose declared DuckDB type is outside oracle.PORTABLE
(DECIMAL, HUGEINT) is reported as well.

Usage: python tools/strict_compare.py <sf_dir> <lo:hi-or-prefix>
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from mapr_db_cdc_sample_spark.oracle import duck_connect, nonportable_columns  # noqa: E402
from mapr_db_cdc_sample_spark.session import get_spark  # noqa: E402


def _canon(v):
    """Canonical strict form: (type-tag, exact printable value)."""
    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("bool", str(v))
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, float):
        return ("float", repr(v))  # repr is bit-faithful for doubles
    if isinstance(v, decimal.Decimal):
        return ("DECIMAL!", str(v))  # flagged: materializes differently
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return ("dt", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_canon(x) for x in v))
    if hasattr(v, "asDict"):
        return ("struct", tuple(sorted((k, _canon(x)) for k, x in v.asDict().items())))
    if isinstance(v, dict):
        return ("struct", tuple(sorted((k, _canon(x)) for k, x in v.items())))
    return (f"OTHER:{type(v).__name__}!", str(v))


def main() -> int:
    sf_dir = sys.argv[1]
    sel = sys.argv[2]
    if ":" in sel:
        lo, hi = sel.split(":", 1)
        pick = lambda n: (not lo or n >= lo) and (not hi or n < hi)  # noqa: E731
    else:
        pick = lambda n: n.startswith(sel)  # noqa: E731

    spark = get_spark("strict-compare")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)
    qs, osql = E.queries(), E.oracle_sql()

    fails = 0
    for name in sorted(osql):
        if not pick(name):
            continue
        sdf = qs[name](spark, sf_dir)
        s_cols = [c.lower() for c in sdf.columns]
        s_rows = [tuple(r) for r in sdf.collect()]
        rel = con.sql(osql[name])
        d_cols = [c.lower() for c in rel.columns]
        d_rows = rel.fetchall()

        msgs = []
        if s_cols != d_cols:
            msgs.append(f"column order/names differ: {s_cols} vs {d_cols}")
        sc = sorted((tuple(_canon(c) for c in r) for r in s_rows), key=repr)
        dc = sorted((tuple(_canon(c) for c in r) for r in d_rows), key=repr)
        if len(sc) != len(dc):
            msgs.append(f"row counts {len(sc)} vs {len(dc)}")
        elif sc != dc:
            diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:2]
            msgs.append(f"strict cell diff: {diffs}")
        odd = nonportable_columns(rel)
        if odd:
            msgs.append(f"duck emits non-portable types {odd}")
        if msgs:
            fails += 1
            print(f"{name}: STRICT-FAIL {' | '.join(msgs)[:400]}")
        else:
            print(f"{name}: strict-ok ({len(sc)} rows)")
    print(f"== {fails} strict failures ==")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
