"""Process environment for a benchmark run: keep every file the engine,
the JVM and the Python workers write inside the checkout, size the
session for the box, and make the package importable by Python workers.
The session is otherwise the engine's default one (``session.get_spark``).

Everything here must happen before the first SparkSession is built,
because the JVM and its Python workers read it once at launch.
"""

from __future__ import annotations

import os
import shutil
import sys

#: checkout root: the directory holding ``perfbench/`` and the package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-run scratch (replay dirs, sinks, checkpoints, spill, event logs)
WORK = os.path.join(ROOT, "perfbench", "_work")
#: traces the --trace 1 runs leave behind
OUT = os.path.join(ROOT, "perfbench", "_out")
PACKAGE = "mapr_db_cdc_sample_spark"


def cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def package_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, PACKAGE))


def prepare(run_id: str) -> str:
    """Point temp dirs, Spark local dirs and the warehouse at a fresh
    ``_work/<run_id>`` and export PYTHONPATH for Python workers (UDF
    queries fail with ModuleNotFoundError without it). Returns the dir."""
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    confs = {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    args = " ".join(f'--conf "{k}={v}"' for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return work
