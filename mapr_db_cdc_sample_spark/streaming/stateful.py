"""Arbitrary stateful processing: CDC document materialization —
a running current-state view of the CDC'd table, the natural extension of
the reference's per-field change dataflow (R5-R8: the reference only
routes changes; this operator also FOLDS them into documents).

applyInPandasWithState keyed by _id: state = the document's current
fields; inserts replace, updates merge per-field (last-write-wins in ts
order within a batch — matching the Java loop's ObjectNode.put overwrite
semantics), deletes clear. Emits the post-batch state of every touched
document; deleted docs emit is_deleted=true. `running_totals` (q284)
folds per-user spend on the same rung. Spark 4's
transformWithStateInPandas is not used: its Python worker protocol
needs protobuf, which the engine does not depend on.

Scale: state is per-key and O(fields); use RocksDB state store
(spark.sql.streaming.stateStore.providerClass) for 100 TB keyspaces.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.exact import cents

OUTPUT_SCHEMA = (
    "_id string, firstName string, lastName string, age int, "
    "address string, is_deleted boolean, n_changes long"
)
STATE_SCHEMA = "doc string, n_changes long"

_FIELDS = ("firstName", "lastName", "age", "address")


def _apply_changes(doc: dict[str, Any], rows: pd.DataFrame) -> tuple[dict[str, Any], int]:
    """Fold one key's CDC rows (already ts-ordered) into the doc dict.
    Returns (new_doc, n_changes_applied). A delete clears the doc to the
    tombstone {}."""
    n = 0
    # stable sort: equal-ts rows must fold in arrival order or the
    # last-write-wins-in-ts-order guarantee breaks on ties
    for _, row in rows.sort_values("ts", kind="stable").iterrows():
        op = row["op"]
        n += 1
        if op == "RECORD_DELETE":
            doc = {"__deleted__": True}
            continue
        changes = row["changes"]
        if changes is None:  # numpy array truthiness is ambiguous — no `or []`
            changes = []
        if op == "RECORD_INSERT":
            doc = {}
            for chg in changes:
                if chg["fieldPath"] == "":
                    whole = json.loads(chg["value"])
                    doc = {k: whole.get(k) for k in _FIELDS if k in whole}
        else:  # RECORD_UPDATE — per-field merge, last write wins
            if doc.get("__deleted__"):
                doc = {}
            for chg in changes:
                path = chg["fieldPath"]
                for f in _FIELDS:
                    if path.lower() == f.lower():
                        doc[f] = json.loads(chg["value"])
    return doc, n


def materialize(cdc_stream: DataFrame) -> DataFrame:
    """cdc rows → running per-document state (streaming)."""

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (doc_json, n0) = state.get if state.exists else ("{}", 0)
        doc = json.loads(doc_json)
        n = n0
        for pdf in pdfs:
            doc, applied = _apply_changes(doc, pdf)
            n += applied
        state.update((json.dumps(doc), n))
        deleted = bool(doc.get("__deleted__"))
        addr = doc.get("address")
        yield pd.DataFrame(
            [
                {
                    "_id": key[0],
                    "firstName": None if deleted else doc.get("firstName"),
                    "lastName": None if deleted else doc.get("lastName"),
                    "age": None if deleted else doc.get("age"),
                    "address": None if deleted or addr is None else json.dumps(addr),
                    "is_deleted": deleted,
                    "n_changes": n,
                }
            ]
        )

    return cdc_stream.groupBy("_id").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------- running per-user spend totals

RUNNING_SCHEMA = "user_id long, n_events long, spend_cents long"


def running_totals(events_stream: DataFrame) -> DataFrame:
    """Per-user running (event count, spend) on applyInPandasWithState.
    State is one (n, cents) pair per user; every micro-batch emits each
    touched user's post-batch totals, so the LAST emission per user
    equals the batch aggregate (the stream==batch law q284's test
    asserts).

    Scale: state is O(1) per key; the RocksDB state store provider holds
    100 TB keyspaces; emission is update-mode (only touched keys)."""

    def fold(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += int(len(pdf))
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "spend_cents": cents}]
        )

    keyed = events_stream.select("user_id", cents("value").alias("cents"))
    return keyed.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=RUNNING_SCHEMA,
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
