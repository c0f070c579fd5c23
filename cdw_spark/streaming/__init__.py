"""Structured Streaming subsystem (SURVEY.md §7.2 M5).

The reference is batch-only (etl.py:30-43 is a one-shot main; SURVEY.md
§2.4) — this package is the engine's genuinely new subsystem: event-time
windowed aggregation with watermarks, session windows, and a custom
stateful sessionizer via ``applyInPandasWithState``.

Design rule: every streaming query has a batch twin in
``cdw_spark/suite/windows.py`` computing the same aggregation with the same
column aliases, so finalized streaming output is differential-testable
against the batch/DuckDB answer (tests/test_streaming.py).

Every bounded replay runs through one lifecycle in ``source.py``:
``run_available_now`` for memory-sink queries (streaming aggregates keep
their state in Spark's state store: the chi-square and freshness
monitors), ``replay`` for foreachBatch bodies that keep their own state
(the bloom door, the KMV synopsis as one cut per batch, the versioned
upsert table) and ``replay_into`` for bodies whose state grows with the
data and lives in parquet sinks (the near-dup and semantic door
indexes). Only ``source.py`` starts and awaits a stream.
"""
