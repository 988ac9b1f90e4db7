"""Dtype-tolerant event-time helpers.

``events.ts`` has arrived from the driver as three different physical
parquet types across rounds (TIMESTAMP(NANOS)→bigint under nanosAsLong,
TIMESTAMP_NTZ, TIMESTAMP).  ``sources.tables.load_table`` normalizes at
load; these helpers make the *expression* layer tolerant too, so a
future storage-type drift degrades to a cast instead of an
AnalysisException in every event query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_us(col: Column | str) -> Column:
    """Microseconds-since-epoch for a TIMESTAMP or TIMESTAMP_NTZ column.

    ``F.unix_micros`` only accepts TIMESTAMP; casting first is a no-op
    for TIMESTAMP and converts TIMESTAMP_NTZ under the session timezone
    (pinned to UTC by ``ensure_session_confs``), which matches how
    DuckDB reads the same parquet column.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))
