"""CDC event model and routing pipeline (reference parity layer).

Re-expresses the dataflow of FtsAndGeoServiceJSONWithCDC.java /
FtsAndGeoServiceBinaryWithCDC.java (see /root/reference/src/main/java/...)
as declarative Spark plans shared between batch and Structured Streaming.
"""

from .schema import CDC_JSON_SCHEMA, CDC_BINARY_SCHEMA  # noqa: F401
from .pipeline import route_json, route_binary, fts_wire, geo_wire  # noqa: F401
