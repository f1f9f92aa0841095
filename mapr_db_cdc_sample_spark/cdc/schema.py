"""Schemas for change-data records (SURVEY.md §1.1(d), FIXTURES.md §A).

A ChangeDataRecord (OJAI org.ojai.store.cdc, imported at
FtsAndGeoServiceJSONWithCDC.java:14-17) maps to one row:
  _id / row_key  — document id (string for JSON tables; bytes for binary
                   tables, cf. FtsAndGeoServiceBinaryWithCDC.java:70)
  op             — RECORD_INSERT | RECORD_UPDATE | RECORD_DELETE
  ts             — server timestamp (carried, unread by the reference)
  changes        — the (FieldPath, ChangeNode) iterator
                   (FtsAndGeoServiceJSONWithCDC.java:118-122):
                   insert = single entry, fieldPath='' and value = whole doc
                   (J:124-130); update = one entry per field (J:151);
                   delete = empty (J:197-209).
`value` is JSON-encoded text in the JSON lane (one schema covers string,
number, and object payloads — the analogue of OJAI typed getters) and raw
bytes in the binary lane (Bytes.toString decode, B:118).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OP_INSERT = "RECORD_INSERT"
OP_UPDATE = "RECORD_UPDATE"
OP_DELETE = "RECORD_DELETE"

ADDRESS_DDL = "struct<city: string, state: string, street: string, zipCode: int>"

CDC_JSON_SCHEMA = StructType(
    [
        StructField("_id", StringType(), nullable=False),
        StructField("op", StringType(), nullable=False),
        StructField("ts", TimestampType(), nullable=False),
        StructField(
            "changes",
            ArrayType(
                StructType(
                    [
                        StructField("fieldPath", StringType()),
                        StructField("value", StringType()),
                    ]
                )
            ),
        ),
    ]
)

CDC_BINARY_SCHEMA = StructType(
    [
        StructField("row_key", BinaryType(), nullable=False),
        StructField("op", StringType(), nullable=False),
        StructField("ts", TimestampType(), nullable=False),
        StructField(
            "changes",
            ArrayType(
                StructType(
                    [
                        StructField("fieldPath", StringType()),
                        StructField("value", BinaryType()),
                    ]
                )
            ),
        ),
    ]
)

#: A published CDC message (cdc/pipeline `_wire`), as the streaming sinks
#: store it: readers pass it instead of inferring the sink's schema.
WIRE_SCHEMA = StructType([StructField(c, StringType()) for c in ("topic", "key", "value")])
