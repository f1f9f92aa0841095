"""Seed pass: time every canonical batch query once on generated data and
check it against its DuckDB oracle. The workload sets in ``sets.json``
were chosen from this pass by the rules stated there.

    python3 perfbench/seedpass.py --sf 0.01 --seed 0 [--names a,b,c] [--repeat 2]

Writes ``perfbench/_out/seedpass-sf<sf>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--names", default="")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()
    work = env.prepare(f"seedpass-{args.sf}-{args.seed}")

    from perfbench import datagen, workloads

    sf_dir = datagen.write(os.path.join(work, "data"), args.sf, args.seed)
    from mapr_db_cdc_sample_spark.oracle import compare, duck_connect
    from mapr_db_cdc_sample_spark.queries import load_all
    from mapr_db_cdc_sample_spark.session import get_spark

    reg = load_all()
    names = args.names.split(",") if args.names else workloads.batch_names(reg)
    spark = get_spark("perfbench-seedpass")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)
    out = {}
    for name in names:
        rec: dict = {}
        try:
            times = []
            for _ in range(args.repeat):
                t0 = time.perf_counter()
                reg[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(round(time.perf_counter() - t0, 4))
            rec["s"] = times
            df = reg[name].fn(spark, sf_dir)
            if reg[name].oracle:
                ok, msg = compare(df, con, reg[name].oracle)
                rec["oracle_ok"] = ok
                if not ok:
                    rec["msg"] = msg[:300]
            else:
                rec["rows"] = df.count()
        except Exception as e:  # record and keep going: this is a survey
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        spark.catalog.clearCache()
        out[name] = rec
        print(name, rec, flush=True)
    os.makedirs(env.OUT, exist_ok=True)
    path = os.path.join(env.OUT, f"seedpass-sf{args.sf}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    con.close()
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
