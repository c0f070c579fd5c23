"""Event-time windowed aggregations — one code path for batch and stream.

Each transform takes an ``events``-shaped DataFrame (batch OR streaming —
the Dataset API is unified). The batch queries in cdw_spark/suite/windows.py
are these transforms over the fixture, so the finalized streaming output is
comparable against the DuckDB oracle of the batch query. Sums accumulate
as exact DECIMAL; the final projection is DOUBLE (driver decimal
canonicalization).

Watermarks bound state: in complete/update mode Spark keeps every window's
state; with ``with_watermark`` + append mode it drops state for windows
older than (max event time - delay) — the only thing that makes unbounded
streams feasible. Delay choice is a latency/completeness trade: events
later than the delay are dropped from their window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def with_watermark(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    return events.withWatermark("ts", delay) if events.isStreaming else events


def tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows x event_type — streaming twin of
    ``tumbling_window_agg``. State per (window, type); map-side partial agg
    before the shuffle, so 100 TB/day of events reduces to
    |windows|x|types| rows of state."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 min — twin of ``sliding_window_agg``.
    Spark expands each event into size/slide assignments (explode, not a
    self-join)."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_events",
            "total_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (30-min inactivity gap) — twin of
    ``session_window_agg``. In append mode a session is emitted exactly
    once, when the watermark passes its close — the incremental form of the
    batch gaps-and-islands computation."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def ohlc_agg(events: DataFrame) -> DataFrame:
    """6-hour OHLC resample per user over purchase values — the streaming
    twin of ``timeseries_resample_ohlc``: min_by/max_by carry (value@min_ts,
    value@max_ts) through partial-aggregation state, so open/close need no
    per-window sort. State per (user, window)."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.round("value", 6).alias("value"))
        .groupBy(F.col("user_id"), F.window("ts", "6 hours").alias("win"))
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "user_id", F.col("win.start").alias("bucket"),
            "open", "high", "low", "close", "n",
        )
    )
