"""The pin policy (session.pin / session.release): one rule picks eager
or lazy, `release` frees what finished queries pinned, and the package
calls `localCheckpoint` nowhere but session.py."""

from __future__ import annotations

import re
from pathlib import Path

from mapr_db_cdc_sample_spark.queries import load_all
from mapr_db_cdc_sample_spark.session import pin, release, scoped_confs

PKG = Path(__file__).resolve().parent.parent / "mapr_db_cdc_sample_spark"
SESSION = PKG / "session.py"
_DIRECT = re.compile(r"localCheckpoint\s*\(")


def _offenders(path: Path) -> list[str]:
    return [
        f"{path.name}:{n}"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _DIRECT.search(line)
    ]


def test_lint_catches_direct_local_checkpoints(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "a = df.localCheckpoint()\n"
        "b = df.transform(pin)  # localCheckpoint without a call is prose\n"
        "c = (\n"
        "    df.select('x')\n"
        "    .localCheckpoint(eager=False)\n"
        ")\n"
        "d = df.localCheckpoint (True)\n"
    )
    assert _offenders(src) == ["m.py:1", "m.py:5", "m.py:7"]


def test_no_local_checkpoint_outside_session():
    found = [
        o
        for path in sorted(PKG.rglob("*.py"))
        if path != SESSION
        for o in _offenders(path)
    ]
    assert not found, "pin with session.pin:\n" + "\n".join(found)


def test_pin_is_lazy_outside_a_conf_scope_and_eager_inside(spark, count_jobs):
    """A shuffle-free frame: pinning it outside `scoped_confs` starts no
    job; inside, the pin's one job runs before the confs are restored."""
    assert count_jobs(spark, "pin-lazy", lambda: pin(spark.range(1000))) == 0

    def scoped():
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": "3"}):
            pin(spark.range(1000))

    assert count_jobs(spark, "pin-eager", scoped) == 1


def test_release_frees_pinned_blocks(spark, sf_dir):
    jsc = spark.sparkContext._jsc
    load_all()["q152_dup_components"].fn(spark, sf_dir).collect()
    assert len(jsc.getPersistentRDDs()) > 0, "q152 no longer pins"
    release(spark)
    assert len(jsc.getPersistentRDDs()) == 0
