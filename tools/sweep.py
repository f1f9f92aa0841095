"""Full driver-gate rehearsal: runs entry() plus every queries() entry
against its oracle_sql() via DuckDB, compared with oracle.compare (row
count, column names and order-insensitive values with floats rounded to
9 digits) — a close stand-in for the driver's t2 hash, not a copy of it.
Usage:

    python tools/sweep.py [sf_dir] [name_prefix_filter]

e.g. `python tools/sweep.py /root/testdata/sf0.01 q4` runs only q4x; a
filter containing ':' is a half-open name range (`q00:q37` = names
< "q37"). Exit code 1 on any mismatch. Set
SPARK_GRAFT_SWEEP_JSON=/path/out.json to also record
{query: {check, ok, secs}} as a committable artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as E  # noqa: E402
from mapr_db_cdc_sample_spark.oracle import compare, duck_connect  # noqa: E402
from mapr_db_cdc_sample_spark.session import get_spark, release  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)
    qs, osql = E.queries(), E.oracle_sql()

    if not prefix:
        rows = E.entry(spark).collect()
        print(f"entry: {len(rows)} rows")

    fails = 0
    results: dict[str, dict] = {}
    if ":" in prefix:
        lo, hi = prefix.split(":", 1)
        selected = lambda n: (not lo or n >= lo) and (not hi or n < hi)  # noqa: E731
    else:
        selected = lambda n: n.startswith(prefix)  # noqa: E731
    for name in sorted(qs):
        if not selected(name):
            continue
        t0 = time.perf_counter()
        if name in osql:
            ok, msg = compare(qs[name](spark, sf_dir), con, osql[name])
            status = "ok" if ok else f"FAIL {msg[:200]}"
            fails += 0 if ok else 1
            results[name] = {"check": "oracle-hash", "ok": ok}
        else:
            n = qs[name](spark, sf_dir).count()
            status = f"rows-only {n}"
            results[name] = {"check": "rows-only", "ok": True, "rows": n}
        secs = time.perf_counter() - t0
        results[name]["secs"] = round(secs, 1)
        print(f"{name}: {status} ({secs:.1f}s)")
        # Queries persist() or pin intermediates and hand back a lazy DF,
        # so their blocks outlive the query; across a 590-entry sweep that
        # accumulates into executor memory pressure. Each query still pays
        # its own pins — this only stops the cross-query leak.
        release(spark)
    print(f"== {fails} failures ==")
    out = os.environ.get("SPARK_GRAFT_SWEEP_JSON")
    if out:
        with open(out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": results, "failures": fails}, fh, indent=1)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
