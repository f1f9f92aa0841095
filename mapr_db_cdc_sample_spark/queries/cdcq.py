"""CDC pipeline as declared queries: the reference's whole dataflow run
batch-first over a changelog derived from the `events` table, so the
driver's oracle can hash-check the routing semantics end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..cdc.fixtures import synth_binary_cdc_from_events, synth_cdc_from_events
from ..cdc.pipeline import route_binary, route_json
from . import register

# The synthetic changelog (cdc/fixtures.py synth_cdc_from_events) expressed
# in ANSI SQL so DuckDB can replay the same routing:
#   signup → INSERT (whole doc), error → DELETE, else UPDATE of
#   firstName/lastName/address picked by event_id % 3.
_CDC_FTS_ORACLE = """
WITH cdc AS (
    SELECT 'user' || CAST(user_id AS VARCHAR) AS _id,
           CASE WHEN event_type = 'signup' THEN 'RECORD_INSERT'
                WHEN event_type = 'error'  THEN 'RECORD_DELETE'
                ELSE 'RECORD_UPDATE' END AS operation,
           event_type, event_id, user_id
    FROM events
)
SELECT _id, operation,
       CASE WHEN operation = 'RECORD_DELETE' THEN NULL ELSE 'json' END AS type,
       CASE WHEN operation = 'RECORD_INSERT' THEN 'name_' || CAST(user_id AS VARCHAR)
            WHEN operation = 'RECORD_UPDATE' AND event_id % 3 = 0 THEN 'name_' || CAST(user_id AS VARCHAR)
            END AS "firstName",
       CASE WHEN operation = 'RECORD_INSERT' THEN 'last_' || CAST(user_id AS VARCHAR)
            WHEN operation = 'RECORD_UPDATE' AND event_id % 3 = 1 THEN 'last_' || CAST(user_id AS VARCHAR)
            END AS "lastName"
FROM cdc
WHERE operation = 'RECORD_DELETE'
   OR operation = 'RECORD_INSERT'
   OR (operation = 'RECORD_UPDATE' AND event_id % 3 IN (0, 1))
"""


@register("q41_cdc_route_fts", oracle=_CDC_FTS_ORACLE)
def q41(events):
    """End-to-end CDC routing semantics, hash-checked: synth changelog →
    route_json → FTS messages (map exploded to columns for the oracle)."""
    cdc = synth_cdc_from_events(events)
    fts, _geo = route_json(cdc)
    return fts.select(
        "_id",
        "operation",
        "type",
        F.col("fields_to_index").getItem("firstName").alias("firstName"),
        F.col("fields_to_index").getItem("lastName").alias("lastName"),
    )


_CDC_GEO_ORACLE = """
SELECT 'user' || CAST(user_id AS VARCHAR) AS _id,
       'RECORD_UPDATE' AS operation,
       'city_' || CAST(event_id % 100 AS VARCHAR) AS city,
       CAST(event_id % 99999 AS INT) AS "zipCode"
FROM events
WHERE event_type NOT IN ('signup', 'error') AND event_id % 3 = 2
"""


@register("q42_cdc_route_geo", oracle=_CDC_GEO_ORACLE)
def q42(events):
    """Geo route of the synthetic changelog (address updates only — the
    synth INSERT docs carry no address, matching README scenario 1)."""
    cdc = synth_cdc_from_events(events)
    _fts, geo = route_json(cdc)
    return geo.select(
        "_id",
        "operation",
        F.col("address.city").alias("city"),
        F.col("address.zipCode").alias("zipCode"),
    )


# The binary lane (FtsAndGeoServiceBinaryWithCDC.java) re-expressed as a
# hash-checked query — the last reference dataflow to join the oracle
# gate (q41/q42 cover the JSON lane; the binary lane was golden-tested +
# rows-only via q70 through round 6). The oracle is a DuckDB twin of the
# synth construction (cdc/fixtures.py synth_binary_cdc_from_events) and
# pins four observable reference behaviors at once:
#   * inserts surface as RECORD_UPDATE (B:71) — signups emit operation
#     'RECORD_UPDATE', never 'RECORD_INSERT';
#   * last-wins cell accumulation (B:118/121) — the signup changelog
#     carries a stale leading default.firstName cell the routed output
#     must NOT show;
#   * no geo route (GEOS_TOPIC dead at B:30) — address-cell updates
#     (event_id % 3 = 2) vanish entirely;
#   * rowkey/value decode ≡ Bytes.toString (B:70/B:118) and
#     case-insensitive family.qualifier paths — fixture emits mixed-case
#     'default.FirstName'.
_CDC_BINARY_ORACLE = """
SELECT 'user' || CAST(user_id AS VARCHAR) AS _id,
       CASE WHEN event_type = 'error' THEN 'RECORD_DELETE'
            ELSE 'RECORD_UPDATE' END AS operation,
       CASE WHEN event_type = 'error' THEN NULL ELSE 'binary' END AS type,
       CASE WHEN event_type = 'signup'
              OR (event_type <> 'error' AND event_id % 3 = 0)
            THEN 'name_' || CAST(user_id AS VARCHAR) END AS "firstName",
       CASE WHEN event_type = 'signup'
              OR (event_type <> 'error' AND event_id % 3 = 1)
            THEN 'last_' || CAST(user_id AS VARCHAR) END AS "lastName"
FROM events
WHERE event_type IN ('signup', 'error')
   OR event_id % 3 IN (0, 1)
"""


@register("q419_cdc_route_binary", oracle=_CDC_BINARY_ORACLE)
def q419(events):
    """Binary-lane CDC routing, hash-checked end-to-end: synth binary
    changelog → route_binary → FTS messages (oracle comment above)."""
    cdc = synth_binary_cdc_from_events(events)
    fts = route_binary(cdc)
    return fts.select(
        "_id",
        "operation",
        "type",
        F.col("fields_to_index").getItem("firstName").alias("firstName"),
        F.col("fields_to_index").getItem("lastName").alias("lastName"),
    )
