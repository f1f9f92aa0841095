"""Seeded CDC changelog generator: the benchmark's stand-in for the
reference's MapR-DB changelog topic.

Records follow ``cdc.schema.CDC_JSON_SCHEMA``: an insert carries the whole
document under the empty field path, an update carries one entry per
changed field, a delete carries none. The generator varies the properties
the route's cost and output depend on:

- the op mix (insert / update / delete shares),
- changes per update record,
- duplicate field paths inside one record (the route keeps the last one),
- mixed-case field paths (the route matches case-insensitively),
- whole-document size (padding fields the route must parse past),
- the share of records that route nowhere (updates that touch neither a
  name nor the address).

``OpenLoop`` writes pre-built files into a directory on a fixed seeded
schedule from its own thread, stamping when each file was due and when it
landed, and never slows down when the consumer does.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import random

import pyarrow as pa
import pyarrow.parquet as pq

CHANGE_TYPE = pa.list_(pa.struct([("fieldPath", pa.string()), ("value", pa.string())]))
ARROW_SCHEMA = pa.schema(
    [
        ("_id", pa.string()),
        ("op", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("changes", CHANGE_TYPE),
    ]
)

FIRST = ["Matt", "Anna", "Li", "Omar", "Sofia", "Jean", "Ravi", "Mia"]
LAST = ["Porker", "Parker", "Chen", "Haddad", "Rossi", "Dupont", "Iyer", "Kim"]
CITIES = ["San Jose", "Austin", "Boston", "Denver", "Seattle", "Miami"]
STATES = ["CA", "TX", "MA", "CO", "WA", "FL"]
NAME_PATHS = {
    "firstName": ["firstName", "FirstName", "FIRSTNAME", "firstname"],
    "lastName": ["lastName", "LastName", "LASTNAME", "lastname"],
    "address": ["address", "Address", "ADDRESS"],
}
OTHER_PATHS = ["age", "email", "phone", "score", "tags"]


# Shares and shapes of the generated records. No production changelog
# is available, so these are assumptions; perfbench/README.md ("Assumed
# CDC traffic") gives the reason for each. Keep them fixed until a real
# changelog sample replaces them: throughput and cdc.* counts depend on them.
INSERT = 0.25  # the reference scenario's share (1 of its 4 records)
DELETE = 0.10  # below the scenario's 1 in 4: live documents are updated many times
UNROUTED = 0.20  # share of updates that touch no routed field
MAX_CHANGES = 4  # changes per routed update: 1..MAX_CHANGES
DUP_PATH = 0.15  # routed updates repeating one field path
MIXED_CASE = 0.30  # routed paths spelled in another case
PAD_MAX = 24  # padding fields in an inserted document: 0..PAD_MAX


def _address(rng) -> dict:
    i = rng.randrange(len(CITIES))
    return {
        "city": CITIES[i],
        "state": STATES[i],
        "street": f"{rng.randrange(1, 999)} Main Street",
        "zipCode": rng.randrange(1000, 99999),
    }


def _path(rng, name: str) -> str:
    spellings = NAME_PATHS[name]
    return spellings[rng.randrange(1, len(spellings))] if rng.random() < MIXED_CASE else name


def _value(rng, name: str) -> str:
    if name == "firstName":
        return json.dumps(rng.choice(FIRST))
    if name == "lastName":
        return json.dumps(rng.choice(LAST))
    return json.dumps(_address(rng))


def records(rng: random.Random, n: int, t0_us: int, n_docs: int = 5000):
    """``n`` change records as a list of row dicts (arrow-ready)."""
    out = []
    for i in range(n):
        doc_id = f"user{rng.randrange(n_docs):05d}"
        u = rng.random()
        if u < INSERT:
            op = "RECORD_INSERT"
            doc = {"_id": doc_id}
            if rng.random() < 0.9:
                doc["firstName"] = rng.choice(FIRST)
            if rng.random() < 0.9:
                doc["lastName"] = rng.choice(LAST)
            if rng.random() < 0.6:
                doc["address"] = _address(rng)
            for k in range(rng.randrange(PAD_MAX + 1)):
                doc[f"f{k}"] = "x" * rng.randrange(1, 40)
            changes = [{"fieldPath": "", "value": json.dumps(doc)}]
        elif u < INSERT + DELETE:
            op, changes = "RECORD_DELETE", []
        else:
            op = "RECORD_UPDATE"
            if rng.random() < UNROUTED:
                k = rng.randrange(1, 3)
                changes = [
                    {"fieldPath": rng.choice(OTHER_PATHS),
                     "value": json.dumps(rng.randrange(100))}
                    for _ in range(k)
                ]
            else:
                names = list(NAME_PATHS)
                k = rng.randrange(1, MAX_CHANGES + 1)
                changes = []
                for _ in range(k):
                    name = rng.choice(names)
                    changes.append({"fieldPath": _path(rng, name), "value": _value(rng, name)})
                if rng.random() < DUP_PATH:
                    name = rng.choice(names)
                    changes.append({"fieldPath": _path(rng, name), "value": _value(rng, name)})
                    changes.append({"fieldPath": _path(rng, name), "value": _value(rng, name)})
                if rng.random() < 0.3:
                    changes.append({"fieldPath": "age", "value": json.dumps(rng.randrange(100))})
        out.append({"_id": doc_id, "op": op, "ts": t0_us + i, "changes": changes})
    return out


def table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=ARROW_SCHEMA)


def files(seed: int, n_files: int, per_file: int) -> list[pa.Table]:
    """``n_files`` changelog chunks of ``per_file`` records, from ``seed``."""
    rng = random.Random(seed)
    base = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    return [table(records(rng, per_file, base + i * per_file)) for i in range(n_files)]


def write_file(directory: str, index: int, tbl: pa.Table) -> str:
    """Write under a hidden name, then rename into place, so a directory
    listing never sees a half-written file."""
    final = os.path.join(directory, f"part-{index:05d}.parquet")
    tmp = os.path.join(directory, f".part-{index:05d}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, final)
    return final


@dataclass
class OpenLoop:
    """Drop ``tables[i]`` into ``directory`` at ``start + offsets[i]``.

    ``offsets`` is the seeded schedule; ``stamps`` gets, per file, the
    wall-clock time it was due and the time it landed."""

    directory: str
    tables: list
    offsets: list
    stamps: list = field(default_factory=list)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def start(self, start_wall: float) -> None:
        self._thread = threading.Thread(target=self._run, args=(start_wall,), daemon=True)
        self._thread.start()

    def _run(self, start_wall: float) -> None:
        for i, (tbl, off) in enumerate(zip(self.tables, self.offsets)):
            due = start_wall + off
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                return
            path = write_file(self.directory, i, tbl)
            self.stamps.append({"path": path, "due": due, "landed": time.time(), "rows": tbl.num_rows})

    def join(self, timeout: float) -> bool:
        self._thread.join(timeout)
        return not self._thread.is_alive()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(10)


def schedule(seed: int, n: int, period_s: float) -> list[float]:
    """One file per ``period_s`` slot, at a seeded uniform offset inside
    the slot: the mean rate is fixed, and the phase against the trigger
    clock varies from file to file instead of being frozen per run."""
    rng = random.Random(seed + 7919)
    return [period_s * (i + rng.random()) for i in range(n)]
