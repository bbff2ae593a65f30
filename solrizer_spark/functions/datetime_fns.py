"""Timestamp normalization (reference: solr_datetime,
src/solrizer/indexers/utils.py:4-23).

The reference parses ISO-8601, converts to UTC, and renders with a
"Z" marker via ``datetime.isoformat()`` — which emits a 6-digit
fractional-seconds part when the microsecond is nonzero and omits it
entirely when zero. Our input column is already a TimestampType
(stored UTC, microsecond precision); rendering is codegen'd
``date_format`` with a conditional fraction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def solr_timestamp(ts: Column | str) -> Column:
    """Render a timestamp as Solr's UTC Z-notation:
    ``YYYY-MM-DDTHH:MM:SSZ``, or ``…SS.ffffffZ`` when the timestamp
    carries sub-second precision (datetime.isoformat parity,
    utils.py:18-23: 6-digit microseconds, no trailing-zero trim,
    omitted when exactly zero). Requires
    ``spark.sql.session.timeZone=UTC`` (set by
    ``solrizer_spark.session.get_spark``)."""
    col = F.col(ts) if isinstance(ts, str) else ts
    micros = F.date_format(col, "SSSSSS")
    return F.concat(
        F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss"),
        F.when(micros != "000000", F.concat(F.lit("."), micros)).otherwise(F.lit("")),
        F.lit("Z"),
    )
