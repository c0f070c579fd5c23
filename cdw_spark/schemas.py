"""Explicit StructTypes for the staging tables the reference declares and
for the raw Sparkify JSON they are loaded from.

Source of truth: the reference's sql_queries.py:24-62 (CREATE TABLE DDL).
Type mapping per SURVEY.md §1.3:
  BIGINT -> LongType, INTEGER -> IntegerType, VARCHAR -> StringType,
  DECIMAL(9) -> DecimalType(9,0) (scale 0 — the rounding is load-bearing
  for the fact join, quirk K4).

Redshift PRIMARY KEY / SORTKEY / DISTKEY are planner/layout hints, not
constraints (never enforced); they map to physical layout (plans/layout.py),
not to schema. NOT NULL nullability is carried in the StructFields.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DEC9 = DecimalType(9, 0)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# --- staging layer -------------------------------------------------------

# /root/reference/sql_queries.py:25-47
STAGING_EVENTS = StructType(
    [
        _f("event_id", LongType()),
        _f("artist", StringType()),
        _f("auth", StringType()),
        _f("firstName", StringType()),
        _f("gender", StringType()),
        _f("itemInSession", IntegerType()),
        _f("lastName", StringType()),
        _f("length", DEC9),
        _f("level", StringType()),
        _f("location", StringType()),
        _f("method", StringType()),
        _f("page", StringType()),
        _f("registration", StringType()),
        _f("sessionId", IntegerType(), nullable=False),
        _f("song", StringType()),
        _f("status", IntegerType()),
        _f("ts", LongType(), nullable=False),  # epoch milliseconds
        _f("userAgent", StringType()),
        _f("userId", IntegerType()),
    ]
)

# /root/reference/sql_queries.py:49-62
STAGING_SONGS = StructType(
    [
        _f("num_songs", IntegerType()),
        _f("artist_id", StringType()),
        _f("artist_latitude", DEC9),
        _f("artist_longitude", DEC9),
        _f("artist_location", StringType()),
        _f("artist_name", StringType()),
        _f("song_id", StringType()),
        _f("title", StringType()),
        _f("duration", DEC9),
        _f("year", IntegerType()),
    ]
)

# Raw JSON shapes of the Sparkify sources (pre-staging). The events log is a
# JSON-lines app log whose fields are mapped to staging columns positionally
# via a JSONPaths file in the reference (sql_queries.py:125); in Spark the
# mapping is by name + an explicit projection (sources/json_loader.py).
RAW_EVENT_JSON = StructType(
    [
        _f("artist", StringType()),
        _f("auth", StringType()),
        _f("firstName", StringType()),
        _f("gender", StringType()),
        _f("itemInSession", LongType()),
        _f("lastName", StringType()),
        _f("length", StringType()),  # JSON number; cast to DECIMAL(9,0) on load
        _f("level", StringType()),
        _f("location", StringType()),
        _f("method", StringType()),
        _f("page", StringType()),
        _f("registration", StringType()),
        _f("sessionId", LongType()),
        _f("song", StringType()),
        _f("status", LongType()),
        _f("ts", LongType()),
        _f("userAgent", StringType()),
        _f("userId", StringType()),  # arrives as string or number in real logs
    ]
)

RAW_SONG_JSON = StructType(
    [
        _f("num_songs", LongType()),
        _f("artist_id", StringType()),
        _f("artist_latitude", StringType()),
        _f("artist_longitude", StringType()),
        _f("artist_location", StringType()),
        _f("artist_name", StringType()),
        _f("song_id", StringType()),
        _f("title", StringType()),
        _f("duration", StringType()),
        _f("year", LongType()),
    ]
)
