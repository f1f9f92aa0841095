"""Content-based CDC routing: changelog rows → FTS / Geo message streams.

Spark-first re-expression of the reference dataflow (SURVEY.md §2.1
R1-R15). Everything here is a *projection* — per-record fan-out is at most
2 messages (README.md:152), so routing never joins, groups, or shuffles:
the per-record field accumulation the Java loop does imperatively
(FtsAndGeoServiceJSONWithCDC.java:118-169) is done with higher-order array
functions (`filter`/`transform`/`map_from_entries`) on the `changes`
column. At 100 TB this keeps the whole route map-side, with no
exchange; the same functions serve batch and streaming.

The reference writes the route twice, once per table type; here both
lanes share one last-wins field probe (`_last_change`), one
fields_to_index assembly (`_fields_to_index`) and one FTS projection
with its delete tombstones (`_fts`). `route_binary` adds only the
row-key and cell decode; the JSON lane adds the insert-document parse
and the address probe (`_json_base`) and the geo route.

Each message is defined once: its keep-predicate (`_fts_keep`,
`_geo_keep`) and its JSON wire value (`_fts_value`, `_geo_value`). Two
forms of the JSON lane use them:
- `route_json` returns the typed FTS and geo frames; `fts_wire` and
  `geo_wire` serialize them (the batch API);
- `route_json_wire` is the whole lane as one projection to
  (topic, key, value) rows, at most 2 per record, built without a union.
The binary lane's wire form is `fts_wire(route_binary(cdc))`: one FTS
row at most per record. The streaming pipeline
(streaming/cdc_stream.py `start_pipeline`) plans either wire form once
on the stream; each micro-batch is one collect of its rows, published
to each of the lane's sinks as one file, named by batch id.

Observable quirks preserved (SURVEY.md §2.1):
- case-insensitive field-path match (J:152-158, B:116-120);
- canonical `firstName`/`lastName` keys in fields_to_index regardless of
  input path casing (J:133, J:140);
- delete messages carry only {_id, operation} — no `type` (J:197-209);
- geo messages never carry `type` (J:114 writes it to the wrong node);
- binary lane: no geo route (GEOS_TOPIC dead at B:30), inserts arrive as
  RECORD_UPDATE (B:71), values decoded as UTF-8 (B:118).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import ADDRESS_DDL, OP_DELETE, OP_INSERT, OP_UPDATE

FTS_TOPIC = "fts_service"  # J:28 FTS_TOPIC = "/demo_stream:fts_service"
GEO_TOPIC = "geo_service"  # J:29 GEOS_TOPIC = "/demo_stream:geo_service"


def _last_change(changes: Column, path_lower: str) -> Column:
    """Value of the LAST change entry whose fieldPath matches, else null.

    Mirrors the per-field `equalsIgnoreCase` probe of the update loop
    (J:149-163) without exploding the array. Last-wins because the Java
    loop accumulates with ObjectNode.put, so a duplicate field path in one
    record overwrites (J:133, J:140).
    """
    matches = F.filter(changes, lambda c: F.lower(c["fieldPath"]) == F.lit(path_lower))
    return F.get(matches, F.size(matches) - 1)["value"]


def _whole_doc(changes: Column) -> Column:
    """Insert shape: the single empty-fieldPath entry holds the whole doc
    as JSON (J:124-130, README.md:289)."""
    matches = F.filter(changes, lambda c: c["fieldPath"] == F.lit(""))
    return F.try_element_at(matches, F.lit(1))["value"]


def _json_scalar(col: Column) -> Column:
    """Decode a JSON-encoded scalar value ('"Matt"' → Matt) — the analogue
    of ChangeNode.getString() (J:153). `$` addresses the root value."""
    return F.get_json_object(col, "$")


def _fields_to_index(first: Column, last: Column) -> Column:
    """R13: per-record re-assembly of the ≤2 matching name fields into one
    fields_to_index object — a map built from the non-null entries, keyed
    by the canonical names whatever the input path casing (J:133, J:140)."""
    entries = F.filter(
        F.array(
            F.struct(F.lit("firstName").alias("key"), first.alias("value")),
            F.struct(F.lit("lastName").alias("key"), last.alias("value")),
        ),
        lambda e: e["value"].isNotNull(),
    )
    return F.map_from_entries(entries)


def _live() -> Column:
    return F.col("operation") != OP_DELETE


def _fts_keep() -> Column:
    """R10/R12 keep-predicate: FTS gets inserts/updates with ≥1 name
    field, plus all deletes as tombstones (J:197-209)."""
    return ~_live() | (F.size("fields_to_index") > 0)


def _fts_shape(lane: str) -> list[Column]:
    """The typed FTS columns over a base row: a live message carries
    `lane` as its `type`; a delete carries only {_id, operation}."""
    return [
        F.when(_live(), F.lit(lane)).alias("type"),
        F.when(_live(), F.col("fields_to_index")).alias("fields_to_index"),
    ]


def _fts(base: DataFrame, lane: str) -> DataFrame:
    """Typed FTS messages of a base frame (FIXTURES.md §A4)."""
    return base.where(_fts_keep()).select("_id", "operation", "ts", *_fts_shape(lane))


def _geo_keep() -> Column:
    """Geo gets inserts/updates that touched address; never deletes
    (README.md:154: delete notifies FTS only)."""
    return _live() & F.col("address").isNotNull()


def _fts_value() -> Column:
    """FTS wire value: JSON with null fields omitted — matches the Jackson
    output of R9 (J:100-114; delete shape J:198-205 has no
    type/fields_to_index)."""
    return F.to_json(
        F.struct("_id", "operation", "type", "fields_to_index"),
        {"ignoreNullFields": "true"},
    )


def _geo_value() -> Column:
    """Geo wire value (no `type` field — SURVEY.md §2.1 quirk)."""
    return F.to_json(F.struct("_id", "operation", "address"), {"ignoreNullFields": "true"})


def _wire(topic: str, value: Column) -> list[Column]:
    """The (topic, key, value) wire columns of one message."""
    return [F.lit(topic).alias("topic"), F.col("_id").alias("key"), value.alias("value")]


def _json_base(cdc: DataFrame) -> DataFrame:
    """JSON-lane base rows: (_id, operation, ts, fields_to_index, address),
    one per changelog record, before either route's keep-predicate."""
    is_ins = F.col("op") == OP_INSERT
    is_upd = F.col("op") == OP_UPDATE

    # Insert shape: parse the whole document ONCE (a single from_json
    # instead of one get_json_object re-parse per extracted field — the
    # difference is ~3× less JSON work on the hot path).
    doc = F.from_json(
        _whole_doc(F.col("changes")),
        f"struct<firstName: string, lastName: string, address: {ADDRESS_DDL}>",
    )

    first_name = F.when(is_ins, doc["firstName"]).when(
        is_upd, _json_scalar(_last_change(F.col("changes"), "firstname"))
    )
    last_name = F.when(is_ins, doc["lastName"]).when(
        is_upd, _json_scalar(_last_change(F.col("changes"), "lastname"))
    )
    # PERMISSIVE from_json yields an all-null struct for unparseable input;
    # normalize that to a true null so broken payloads don't emit geo
    # messages with an empty address.
    upd_addr = F.from_json(_last_change(F.col("changes"), "address"), ADDRESS_DDL)
    parsed = F.when(is_ins, doc["address"]).when(is_upd, upd_addr)
    address = F.when(
        parsed["city"].isNotNull()
        | parsed["state"].isNotNull()
        | parsed["street"].isNotNull()
        | parsed["zipCode"].isNotNull(),
        parsed,
    )

    return cdc.select(
        F.col("_id"),
        F.col("op").alias("operation"),
        F.col("ts"),
        _fields_to_index(first_name, last_name).alias("fields_to_index"),
        address.alias("address"),
    )


def route_json(cdc: DataFrame) -> tuple[DataFrame, DataFrame]:
    """JSON-table lane (FtsAndGeoServiceJSONWithCDC.java).

    Returns (fts_messages, geo_messages) with the typed shapes of
    FIXTURES.md §A4; serialize with fts_wire/geo_wire for the wire form.
    """
    base = _json_base(cdc)
    geo = base.where(_geo_keep()).select("_id", "operation", "ts", "address")
    return _fts(base, "json"), geo


def route_json_wire(cdc: DataFrame) -> DataFrame:
    """JSON-table lane as ONE projection to (topic, key, value) rows:
    each record yields its FTS and geo messages (0-2 rows) through
    `inline(filter(array(fts_msg, geo_msg), isNotNull))` — the same rows
    as fts_wire(fts) ∪ geo_wire(geo) of route_json, without a union, so
    a stream is scanned once per consumer, not once per route."""
    # _fts_keep reads the masked fields_to_index of _fts_shape here; the
    # two differ only on deletes, which it keeps whatever they carry
    msgs = _json_base(cdc).select("_id", "operation", "address", *_fts_shape("json"))
    return msgs.select(
        F.inline(
            F.filter(
                F.array(
                    F.when(_fts_keep(), F.struct(*_wire(FTS_TOPIC, _fts_value()))),
                    F.when(_geo_keep(), F.struct(*_wire(GEO_TOPIC, _geo_value()))),
                ),
                lambda m: m.isNotNull(),
            )
        )
    )


def route_binary(cdc: DataFrame) -> DataFrame:
    """Binary-table lane (FtsAndGeoServiceBinaryWithCDC.java).

    Single FTS route (no geo, B:30 dead constant). Field paths are
    family.qualifier (B:116); cell values decoded UTF-8 (B:118); rowkey
    decoded UTF-8 (B:70). Inserts surface as RECORD_UPDATE upstream (B:71),
    so only UPDATE and DELETE reach us.
    """
    # last-wins like the Java accumulation loop (B:118/121 put
    # overwrites); decode ≡ Bytes.toString (B:118)
    first, last = (
        _last_change(F.col("changes"), f"default.{name}").cast("string")
        for name in ("firstname", "lastname")
    )
    base = cdc.select(
        F.col("row_key").cast("string").alias("_id"),
        F.col("op").alias("operation"),
        F.col("ts"),
        _fields_to_index(first, last).alias("fields_to_index"),
    )
    return _fts(base, "binary")


def fts_wire(fts: DataFrame) -> DataFrame:
    """Wire form of FTS messages: (topic, key, value) rows."""
    return fts.select(*_wire(FTS_TOPIC, _fts_value()))


def geo_wire(geo: DataFrame) -> DataFrame:
    """Wire form of Geo messages."""
    return geo.select(*_wire(GEO_TOPIC, _geo_value()))
