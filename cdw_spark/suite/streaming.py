"""Streaming queries for the driver contract (cdw_spark/streaming/*).

Each entry replays the ``events`` fixture as ordered micro-batches
(file source, 1 file/trigger) through a bounded AvailableNow run, so the
"stream" result is deterministic and comparable. Batching-independent
queries (complete-mode aggs, final-watermark-filtered session windows,
distinct-key dedup, stream-static join, and the stateful sessionizer,
whose emitted set is likewise "every session the FINAL watermark closed")
stage 4 files — their results are a function of the data and the final
watermark only, so fewer micro-batches change nothing but wall-clock
(verified empirically: 8-file and 4-file sessionizer outputs are
identical, 9515 rows at sf0.01):

- complete-mode window aggs finalize every window -> full DuckDB oracle
  (same SQL as their batch twins in suite/windows.py);
- append-mode queries emit exactly the windows closed by the final
  watermark (max event time - delay) -> oracle filters the batch answer by
  that same predicate;
- the applyInPandasWithState sessionizer reproduces session_window append
  semantics exactly, so it shares that query's full value oracle (also
  differentially tested against the built-in stream in
  tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet, write_parquet
from ..plans.lineage import cut
from ..plans.local import local_frame
from ..registry import register
from ..streaming.source import events_stream, run_available_now
from ..streaming.stateful import sessionize
from ..streaming.windows import session_agg, sliding_agg, tumbling_agg, with_watermark

_TUMBLING_ORACLE = """
    SELECT
        date_trunc('hour', ts) AS win_start,
        date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
        event_type,
        COUNT(*) AS n_events,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2, 3
"""

_SLIDING_ORACLE = """
    WITH assigned AS (
        SELECT
            make_timestamp((epoch_ms(ts) - (epoch_ms(ts) % 1800000)) * 1000) AS win_start,
            value
        FROM events
        UNION ALL
        SELECT
            make_timestamp((epoch_ms(ts) - (epoch_ms(ts) % 1800000) - 1800000) * 1000) AS win_start,
            value
        FROM events
    )
    SELECT
        win_start,
        win_start + INTERVAL 1 HOUR AS win_end,
        COUNT(*) AS n_events,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM assigned
    GROUP BY 1, 2
"""

# Append mode emits a session iff the final watermark (max ts - delay)
# passed its close; the oracle applies the same cutoff to the batch
# gaps-and-islands sessionization.
_SESSION_APPEND_ORACLE = """
    WITH ordered AS (
        SELECT
            user_id, ts, value, event_id AS rn,
            CASE WHEN ts >= LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           + INTERVAL 30 MINUTE
                 OR  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    numbered AS (
        SELECT
            user_id, ts, value,
            SUM(is_new) OVER (
                PARTITION BY user_id ORDER BY ts, rn
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_no
        FROM ordered
    ),
    sessions AS (
        SELECT
            user_id,
            MIN(ts) AS session_start,
            MAX(ts) + INTERVAL 30 MINUTE AS session_end,
            COUNT(*) AS n_events,
            ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        FROM numbered
        GROUP BY user_id, session_no
    )
    SELECT * FROM sessions
    WHERE session_end <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


@register(
    "stream_tumbling_agg",
    oracle=_TUMBLING_ORACLE,
    doc="Streaming 1-h tumbling window agg (complete mode, AvailableNow "
    "bounded replay) — finalized state equals the batch/DuckDB answer.",
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = tumbling_agg(events_stream(spark, sf_dir, n_files=4))
    return run_available_now(sdf, "tumbling", "complete")


@register(
    "stream_sliding_agg",
    oracle=_SLIDING_ORACLE,
    doc="Streaming sliding window agg (1 h / 30 min, complete mode).",
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = sliding_agg(events_stream(spark, sf_dir, n_files=4))
    return run_available_now(sdf, "sliding", "complete")


@register(
    "stream_session_window",
    oracle=_SESSION_APPEND_ORACLE,
    doc="Streaming per-user session windows (30-min gap), append mode with "
    "a 2-h watermark: emits exactly the sessions the final watermark "
    "closed; oracle = batch gaps-and-islands under the same cutoff.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = session_agg(with_watermark(events_stream(spark, sf_dir, n_files=4), "2 hours"))
    return run_available_now(sdf, "session", "append")


@register(
    "stream_stateful_sessionize",
    oracle=_SESSION_APPEND_ORACLE,
    doc="Custom stateful sessionizer via applyInPandasWithState (event-time "
    "timeouts, per-user state machine). Intentionally reproduces "
    "session_window append semantics exactly (streaming/stateful.py), so "
    "the gaps-and-islands SQL under the same final-watermark cutoff is a "
    "full VALUE oracle: "
    "session bounds, event counts, and 2dp session totals all hash-check. "
    "total_value accumulates double in event-time order in state; "
    "rounding to 2dp equals the DECIMAL-exact sum because inputs are "
    "2-decimal values. Also differential-tested against the built-in "
    "session_window stream in tests/test_streaming.py.",
)
def stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = sessionize(with_watermark(events_stream(spark, sf_dir, n_files=4), "2 hours"))
    out = run_available_now(sdf, "stateful_sessionize", "append")
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    )


@register(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Streaming exact dedup: dropDuplicates on (user_id, event_type) "
    "over the micro-batch replay keeps the first-seen row per key in the "
    "state store; projected to the key columns the emitted set equals "
    "batch SELECT DISTINCT — the streaming half of the dedup family "
    "(pipeline ingestion dedup at the door, batch dedup in the lake).",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State = one entry per distinct key (bounded by key cardinality
    here; at 100 TB use dropDuplicatesWithinWatermark so state ages out
    with event time instead of growing forever)."""
    sdf = events_stream(spark, sf_dir, n_files=4).dropDuplicates(["user_id", "event_type"])
    out = run_available_now(sdf, "dedup", "append")
    return out.select("user_id", "event_type")


@register(
    "stream_static_join",
    oracle="""
    SELECT e.event_type, c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.event_type, c.c_mktsegment
    """,
    doc="Stream-static join: the event stream enriched against the static "
    "customer dimension inside each micro-batch (broadcast per batch — no "
    "stream-side state), then aggregated in complete mode. The canonical "
    "streaming-enrichment pattern; result equals the batch join+agg.",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_fixture
    from ..plans.hints import broadcast_if_small

    # customer grows with SF (it is not a bounded dim), so the per-batch
    # broadcast is size-gated: hinted at fixture scale, AQE's choice above.
    customers = load_fixture(spark, sf_dir, "customer")
    enriched = (
        events_stream(spark, sf_dir, n_files=4)
        .join(broadcast_if_small(customers), F.col("user_id") == F.col("c_custkey"))
        .groupBy("event_type", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal accumulation; DOUBLE final projection (driver
            # decimal canonicalization)
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
    )
    return run_available_now(enriched, "static_join", "complete")


def _signup_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The signup stream joined to the purchase stream on user + [0, 1h]
    event-time range, both sides watermarked at 2h — the graph the three
    stream-stream join queries share, differing only in join type."""
    signups = (
        events_stream(spark, sf_dir, n_files=4)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir, n_files=4)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


@register(
    "stream_stream_interval_join",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
           s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-stream interval join: the signup stream joined to the "
    "purchase stream on user + [0, 1h] event-time range, both sides "
    "watermarked at 2h. State retention (watermark + range bound) "
    "provably covers every possible match gap, so the bounded AvailableNow "
    "run emits exactly the batch join — the funnel/attribution query "
    "pattern, state bounded by the range condition instead of growing "
    "forever.",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _signup_purchase_join(spark, sf_dir, "inner").select(
        "signup_id", "purchase_id", "user_id",
        "signup_ts", "purchase_ts", "purchase_value",
    )
    return run_available_now(joined, "ss_join", "append")


@register(
    "stream_stream_left_outer_join",
    oracle="""
    WITH wm AS (
        SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
        ) - INTERVAL 2 HOUR AS w
    )
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
           s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT s.event_id, CAST(NULL AS BIGINT), s.user_id, s.ts,
           CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
    FROM events s, wm
    WHERE s.event_type = 'signup'
      AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
      )
      AND s.ts + INTERVAL 1 HOUR < wm.w
    """,
    doc="Stream-stream LEFT OUTER interval join: matches emit as they "
    "occur; unmatched signups emit null-padded ONLY when their state "
    "expires — i.e. when the GLOBAL watermark (the MIN of both sides' "
    "per-column watermarks, here min(max signup_ts, max purchase_ts) - "
    "2h) passes signup_ts + the 1h range bound. The oracle states that "
    "exact eviction rule in SQL, so the driver hash checks the outer-"
    "join state machine itself, not just the inner matches.",
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution funnel with explicit no-conversion rows. Same
    bounded state as the inner interval join (watermark + range); the
    null-padded tail past the final watermark is withheld by design —
    on a live stream those rows emit as the watermark advances."""
    joined = _signup_purchase_join(spark, sf_dir, "leftOuter").select(
        "signup_id", "purchase_id", "user_id",
        "signup_ts", "purchase_ts", "purchase_value",
    )
    return run_available_now(joined, "ss_louter", "append")


@register(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    doc="Stream -> warehouse-table upsert: foreachBatch MERGEs each "
    "micro-batch into a versioned copy-on-write parquet table "
    "(streaming/sink.py), reducing the batch to one row per key before "
    "the key-partitioned full-outer merge. Because the staged files are "
    "event-time range-partitioned, source-wins MERGE equals "
    "latest-by-(ts, event_id) — which is exactly the batch oracle. The "
    "foreachBatch body is what becomes MERGE INTO on a transactional "
    "table format at 100 TB.",
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.sink import upsert_stream_into_table

    sdf = events_stream(spark, sf_dir, n_files=4)
    final, root = upsert_stream_into_table(
        sdf, keys=["user_id"], order_cols=["ts", "event_id"]
    )
    # the versioned table is throwaway here: materialize off it, drop it
    out = cut(final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    ))
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "stream_stream_full_outer_join",
    oracle="""
    WITH wm AS (
        SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
        ) - INTERVAL 2 HOUR AS w
    )
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
           s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT s.event_id, CAST(NULL AS BIGINT), s.user_id, s.ts,
           CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
    FROM events s, wm
    WHERE s.event_type = 'signup'
      AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
      )
      AND s.ts + INTERVAL 1 HOUR < wm.w
    UNION ALL
    SELECT CAST(NULL AS BIGINT), p.event_id, p.user_id,
           CAST(NULL AS TIMESTAMP), p.ts, p.value
    FROM events p, wm
    WHERE p.event_type = 'purchase'
      AND NOT EXISTS (
          SELECT 1 FROM events s
          WHERE s.event_type = 'signup' AND s.user_id = p.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
      )
      AND p.ts < wm.w
    """,
    doc="Stream-stream FULL OUTER interval join: matches emit immediately; "
    "each side's unmatched rows emit null-padded when that side's state "
    "expires under the global watermark — signups once wm passes "
    "signup_ts + the 1h range bound, purchases once wm passes "
    "purchase_ts (no earlier signup can still arrive). The oracle states "
    "both eviction rules, so the driver hash checks the two-sided outer "
    "state machine.",
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _signup_purchase_join(spark, sf_dir, "fullOuter").select(
        "signup_id",
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "signup_ts",
        "purchase_ts",
        "purchase_value",
    )
    return run_available_now(joined, "ss_fouter", "append")


@register(
    "stream_ohlc_resample",
    oracle="""
    SELECT user_id,
           time_bucket(INTERVAL 6 HOUR, ts) AS bucket,
           arg_min(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ts) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT user_id, ts, ROUND(value, 6) AS value FROM events
        WHERE event_type = 'purchase'
    )
    GROUP BY user_id, time_bucket(INTERVAL 6 HOUR, ts)
    """,
    doc="Streaming OHLC downsampling (6-h windows per user, complete "
    "mode, AvailableNow replay): min_by/max_by open/close flow through "
    "mergeable window state, so the finalized stream equals the batch "
    "resample (timeseries_resample_ohlc) — the live-ticker twin of the "
    "batch financial downsampler.",
)
def stream_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import ohlc_agg

    sdf = ohlc_agg(events_stream(spark, sf_dir, n_files=4))
    return run_available_now(sdf, "ohlc", "complete")


@register(
    "stream_top_spenders",
    oracle="""
    SELECT user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spend,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY total_spend DESC, user_id LIMIT 5
    """,
    doc="Streaming leaderboard: complete-mode running aggregate of spend "
    "per user with the global ORDER BY + LIMIT applied on the finalized "
    "result table (sorting is legal in complete mode; the state is the "
    "|users|-row aggregate, not the stream). Oracle = the batch top-5 "
    "with DECIMAL-exact totals and a deterministic tie-break.",
)
def stream_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = (
        events_stream(spark, sf_dir, n_files=4)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_spend"),
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        )
    )
    out = run_available_now(sdf, "top_spenders", "complete")
    return out.orderBy(F.col("total_spend").desc(), "user_id").limit(5)


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="The state-BOUNDED streaming dedup (the 100 TB-correct variant "
    "stream_dedup's docstring points at): dropDuplicatesWithinWatermark "
    "keeps one state entry per key only until the event-time watermark "
    "passes it, so state ages out instead of growing with key "
    "cardinality forever. With a delay covering the whole replay the "
    "emitted key set provably equals batch SELECT DISTINCT — the oracle "
    "checks exactly that; the state-expiry behavior itself (duplicates "
    "re-admitted after the watermark passes) is what distinguishes it "
    "from dropDuplicates and is exercised by the bounded-delay variant "
    "in tests/test_streaming.py.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    sdf = (
        with_watermark(events_stream(spark, sf_dir, n_files=4), "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    out = run_available_now(sdf, "dedup_wm", "append")
    return out.select("user_id", "event_type")


@register(
    "stream_quality_filter",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
               length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) AS n_chars_nws,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))
                   AS n_stop,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words
    FROM m
    WHERE n_words BETWEEN 20 AND 1000
      AND n_chars_nws * 1.0 / n_words BETWEEN 3 AND 10
      AND (n_hash + n_ellipsis) * 1.0 / n_words < CAST(0.1 AS DOUBLE)
      AND n_alpha_words * 1.0 / n_words >= CAST(0.8 AS DOUBLE)
      AND n_stop >= 2
    """,
    doc="Quality filtering AT THE INGESTION DOOR: the Gopher rule "
    "projection (suite/text.py:gopher_flags — literally the same "
    "expressions as the batch quality_gopher_rules query) applied to a "
    "document stream, keep==1 survivors emitted in append mode. "
    "Stateless map-side streaming — no watermark, no state store — so "
    "the streamed survivor set equals the batch filter exactly, which "
    "is what the oracle checks. The shape of every streaming curation "
    "front-door (filter before you ever land raw bytes in the lake).",
)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.source import table_stream
    from .text import gopher_flags

    docs = table_stream(spark, sf_dir, "documents", order_col="doc_id", n_files=4)
    flags = gopher_flags(docs).filter("keep = 1").select("doc_id", "n_words")
    return run_available_now(flags, "quality_filter", "append")


from .dedup import _JACCARD_SQL as _STREAM_JACCARD_SQL


@register(
    "stream_near_dup_ingest",
    oracle=_STREAM_JACCARD_SQL,
    doc="Near-duplicate detection AT THE INGESTION DOOR: each micro-batch "
    "of documents is checked against the ACCUMULATED corpus via the "
    "incremental MinHash index "
    "(operators/dedup.py:minhash_near_duplicates_incremental). The "
    "foreachBatch sink persists the 64-int signature table ALONGSIDE "
    "the corpus and passes it back as old_sigs/new_sigs, so each batch "
    "is signatured exactly once, ever — per-batch signature work is "
    "O(|batch|), flat as the corpus grows (measured flat across 4 "
    "batches in tests/test_streaming.py::"
    "test_near_dup_ingest_signature_work_stays_flat). The per-batch pair sets "
    "are provably disjoint and union to exactly the full-corpus LSH "
    "result (the parity theorem tested in tests/test_dedup.py) — which "
    "is why the batch twin's exact-Jaccard oracle applies verbatim to "
    "the streamed union. foreachBatch keeps corpus + signatures + pairs "
    "as copy-on-write parquet; at 100 TB the same body targets a "
    "transactional table format.",
)
def stream_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dedup_ops
    from ..streaming.source import replay_into, table_stream

    empty_docs = local_frame(spark, [], "doc_id long, text string")
    # the signature seed runs the Arrow pass over zero rows — schema only
    sinks = {
        "corpus": empty_docs,
        "sigs": dedup_ops.minhash_signatures(empty_docs),
        "pairs": local_frame(spark, [], "id_a long, id_b long, jaccard double"),
    }

    def handle(batch, dirs):
        b = cut(batch.select("doc_id", "text"))
        old = read_parquet(spark, dirs["corpus"])
        old_sigs = read_parquet(spark, dirs["sigs"])
        # the ONLY signature pass in the batch: |batch| docs, checkpointed
        # so the index append below reuses it instead of re-running Arrow
        sig_b = cut(dedup_ops.minhash_signatures(b))
        pairs = dedup_ops.minhash_near_duplicates_incremental(
            old, b, threshold=0.6, old_sigs=old_sigs, new_sigs=sig_b
        )
        write_parquet(pairs, dirs["pairs"], "append")
        write_parquet(sig_b, dirs["sigs"], "append")
        write_parquet(b, dirs["corpus"], "append")

    sdf = table_stream(spark, sf_dir, "documents", order_col="doc_id", n_files=4)
    return replay_into(sdf.select("doc_id", "text"), sinks, handle, "pairs")


from ..operators.similarity import SIG_WIDTH_HI as _SIG_HI
from ..operators.similarity import adaptive_sig_width_sql as _sig_w_sql
from ..operators.similarity import signature_oracle_sql as _strm_sig_sql

# count-derived signature width: the oracle states the MAX-width literal
# planes and masks to the adaptive width (prefix-stable planes make the
# masked wide signature identical to computing only the first w planes)
_SEMANTIC_INGEST_ORACLE = f"""
    WITH w AS (
        SELECT {_sig_w_sql("SELECT COUNT(*) FROM embeddings")} AS w
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
        SELECT vec_id, v, ({_strm_sig_sql("v", 64, _SIG_HI)}) % (1 << w.w) AS sig
        FROM e, w
    ),
    pairs AS (
        SELECT b.vec_id AS dup_id, a.vec_id AS keep_id, a.sig AS cluster,
               list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_raw
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT dup_id, MIN(keep_id) AS keep_id,
           CAST(MIN(cluster) AS INTEGER) AS cluster,
           ROUND(arg_min(cos_raw, keep_id), 6) AS cosine
    FROM pairs
    WHERE cos_raw >= CAST(0.25 AS DOUBLE)
    GROUP BY dup_id
"""


@register(
    "stream_semantic_ingest",
    oracle=_SEMANTIC_INGEST_ORACLE,
    doc="SemDeDup AT THE INGESTION DOOR — the embedding twin of "
    "stream_near_dup_ingest: each micro-batch of vectors is checked "
    "against the ACCUMULATED corpus for semantic duplicates (same "
    "literal-hyperplane cluster signature + exact intra-cluster cosine "
    "and >= 0.25 threshold as the batch dedup_semantic). The foreachBatch "
    "sink persists (vector, norm, signature) rows, so each vector is "
    "signatured exactly once ever; candidates come from the batch's "
    "cluster ids equi-joined against the growing index (slim id/sig "
    "rows; vectors fetched post-match). Because the stream replays in "
    "vec_id order, every (keep < dup) pair materializes exactly when the "
    "dup's batch arrives — the per-batch emissions partition the full "
    "pair set, so the batch twin's oracle applies verbatim to the "
    "streamed union. The signature width is COUNT-DERIVED "
    "(adaptive_sig_width: smallest w with 2^w buckets keeping expected "
    "occupancy <= 16, clamped [8,16]) so candidate pair work grows "
    "linearly with the corpus (a fixed width would make it grow "
    "quadratically); the oracle masks the max-width "
    "literal-plane signature to the same count-derived w. At 100 TB "
    "the same body targets a transactional table format and a raised "
    "width cap.",
)
def stream_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        adaptive_sig_width,
        _norm_sql,
        _pair_dot_sql,
        to_double_array,
        with_signature,
    )
    from ..catalog import load_fixture
    from ..streaming.source import replay_into, table_stream

    dim = 64
    n_corpus = load_fixture(spark, sf_dir, "embeddings").count()
    w_bits = adaptive_sig_width(n_corpus)

    def enrich(df: DataFrame) -> DataFrame:
        base = df.select("vec_id", to_double_array(F.col("embedding")).alias("v"))
        return with_signature(base, "v", dim, "sig", w_bits).withColumn(
            "nrm", F.expr(_norm_sql("v", dim))
        )

    sinks = {
        "vectors": enrich(
            local_frame(spark, [], "vec_id long, embedding array<double>")
        ),
        "dups": local_frame(
            spark, [], "dup_id long, keep_id long, cluster int, cosine double"
        ),
    }

    def handle(batch, dirs):
        eb = cut(enrich(batch.select("vec_id", "embedding")))
        old = read_parquet(spark, dirs["vectors"])
        allv = old.unionByName(eb)
        # slim candidate join on (id, cluster); vectors fetched post-match
        dup_ids = eb.select(
            F.col("vec_id").alias("dup_id"), F.col("sig").alias("cluster")
        )
        keep_ids = allv.select(
            F.col("vec_id").alias("keep_id"), F.col("sig").alias("cluster")
        )
        cand = dup_ids.join(keep_ids, "cluster").filter(
            F.col("keep_id") < F.col("dup_id")
        )
        dv = allv.select(
            F.col("vec_id").alias("dup_id"), F.col("v").alias("dv"), F.col("nrm").alias("dn")
        )
        kv = allv.select(
            F.col("vec_id").alias("keep_id"), F.col("v").alias("kv"), F.col("nrm").alias("kn")
        )
        scored = (
            cand.join(dv, "dup_id")
            .join(kv, "keep_id")
            .withColumn(
                "cos", F.expr(_pair_dot_sql("kv", "dv", dim)) / (F.col("kn") * F.col("dn"))
            )
            .filter(F.col("cos") >= 0.25)
        )
        res = scored.groupBy("dup_id").agg(
            F.min("keep_id").alias("keep_id"),
            F.min("cluster").cast("int").alias("cluster"),
            F.round(F.min_by("cos", "keep_id"), 6).alias("cosine"),
        )
        write_parquet(
            res.select("dup_id", "keep_id", "cluster", "cosine"), dirs["dups"], "append"
        )
        write_parquet(eb, dirs["vectors"], "append")

    sdf = table_stream(spark, sf_dir, "embeddings", order_col="vec_id", n_files=4)
    return replay_into(sdf.select("vec_id", "embedding"), sinks, handle, "dups")


from .search import _KMV_K as _KMV_STREAM_K
from .search import _KMV_KEPT_SQL as _KMV_STREAM_KEPT_SQL


@register(
    "stream_kmv_cardinality",
    oracle=f"""
    WITH {_KMV_STREAM_KEPT_SQL}
    SELECT event_type, CAST(k_actual AS BIGINT) AS k_actual,
           CASE WHEN k_actual < {_KMV_STREAM_K}
                THEN CAST(k_actual AS DOUBLE)
                ELSE ROUND(({_KMV_STREAM_K} - 1) / h_k, 4) END AS kmv_est
    FROM kept
    """,
    doc="Distinct-user cardinality maintained AT THE INGESTION DOOR as a "
    "KMV synopsis: the replay holds the k=64 smallest (hash, user) rows "
    "per event type as one cut relation, re-cut per micro-batch — <= "
    "k*|types| rows of state TOTAL, vs the O(distinct users) state exact "
    "streaming distinct needs. Keep-k-smallest-distinct is a "
    "commutative, idempotent merge, so the streamed synopsis equals the "
    "batch sketch exactly regardless of batch boundaries (and a "
    "re-delivered batch changes nothing) — the batch twin "
    "(sketch_kmv_distinct's SQL, minus the exact-count column the "
    "synopsis by design cannot produce) applies verbatim.",
)
def stream_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per batch, one distinct + per-type window over the
    BATCH only, then a merge against the <= k*|types| synopsis rows and
    one cut; state never grows past the synopsis bound. This is the
    sketch-state pattern that replaces unbounded dropDuplicates state for
    monitoring-grade cardinality at 100 TB/day ingest."""
    from pyspark.sql.window import Window

    from ..streaming.source import replay, table_stream

    def step(old, batch):
        bh = batch.select("event_type", "user_id").distinct().select(
            "event_type",
            "user_id",
            (
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
                .cast("bigint")
                / F.lit(4294967296.0)
            ).alias("h"),
        )
        merged = old.unionByName(bh).dropDuplicates(["event_type", "user_id"])
        w = Window.partitionBy("event_type").orderBy("h", "user_id")
        return (
            merged.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _KMV_STREAM_K)
            .select("event_type", "user_id", "h")
        )

    syn = local_frame(spark, [], "event_type string, user_id long, h double")

    def handle(batch: DataFrame, _batch_id: int) -> None:
        nonlocal syn
        syn = cut(step(syn, batch))

    sdf = table_stream(spark, sf_dir, "events", order_col="event_id", n_files=4)
    replay(sdf.select("event_type", "user_id"), handle)
    kept = syn.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k_actual"), F.max("h").alias("h_k")
    )
    return kept.select(
        "event_type",
        F.col("k_actual").cast("bigint").alias("k_actual"),
        F.when(
            F.col("k_actual") < _KMV_STREAM_K, F.col("k_actual").cast("double")
        )
        .otherwise(F.round(F.lit(float(_KMV_STREAM_K - 1)) / F.col("h_k"), 4))
        .alias("kmv_est"),
    )


@register(
    "stream_drift_chi_square",
    oracle="""
    WITH o AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) // 4 AS BIGINT) AS tod,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM events GROUP BY event_type, CAST(EXTRACT(hour FROM ts) // 4 AS BIGINT)
    ),
    rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY event_type),
    ct AS (SELECT tod, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY tod),
    tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    cells AS (
        SELECT ROUND(
                   (CAST(o.obs AS DOUBLE) * CAST(t.n AS DOUBLE)
                    - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE))
                   * (CAST(o.obs AS DOUBLE) * CAST(t.n AS DOUBLE)
                      - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE))
                   / (CAST(t.n AS DOUBLE) * CAST(rt.r AS DOUBLE)
                      * CAST(ct.c AS DOUBLE)),
                   9) AS term
        FROM o JOIN rt USING (event_type) JOIN ct USING (tod) CROSS JOIN tot t
    )
    SELECT (SELECT n FROM tot) AS n,
           (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM rt)
               * (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM ct) AS dof,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6) AS chi2
    FROM cells
    """,
    doc="Independence drift monitored AT THE INGESTION DOOR: a streaming "
    "count by (event_type x time-of-day bucket) keeps the contingency "
    "table in Spark's state store — |types|x|buckets| rows regardless "
    "of stream length — and the chi-square statistic is computed over "
    "the complete-mode result after the bounded replay. Count addition "
    "is commutative and the replay is exactly-once (availableNow), so "
    "the streamed table equals the batch table and the batch chi-square "
    "SQL (the agg_chi_square_independence float discipline) applies "
    "verbatim.",
)
def stream_drift_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one streaming aggregate whose state store holds the
    bounded contingency table; the statistic is a constant-size
    computation over the one cut of the sink. This is the
    monitoring-grade drift check that replaces ad-hoc daily batch jobs
    at continuous ingest."""
    from ..streaming.source import table_stream

    sdf = table_stream(spark, sf_dir, "events", order_col="event_id", n_files=4)
    counts = sdf.groupBy(
        "event_type", F.expr("CAST(hour(ts) div 4 AS BIGINT)").alias("tod")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    # the sink is read by three aggregates and the joins below: cut once
    o = cut(run_available_now(counts, "drift_chi_square", "complete"))
    rt = o.groupBy("event_type").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = o.groupBy("tod").agg(F.sum("obs").cast("bigint").alias("c"))
    tot = o.agg(F.sum("obs").cast("bigint").alias("n"))
    cells = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "tod")
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("obs").cast("double")
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    cd = F.col("c").cast("double")
    term = F.round((od * nd - rd * cd) * (od * nd - rd * cd) / (nd * rd * cd), 9)
    stats = cells.agg(
        F.max("n").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("tod").alias("nc"),
        F.sum(term.cast("decimal(18,9)")).alias("chi2_sum"),
    )
    return stats.select(
        F.col("n"),
        ((F.col("nr") - F.lit(1)) * (F.col("nc") - F.lit(1))).cast("bigint").alias("dof"),
        F.round(F.col("chi2_sum").cast("double"), 6).alias("chi2"),
    )


from .search import _hex4_mod_sql as _bloom_hex4_sql

_INGEST_BLOOM_POS = _bloom_hex4_sql(
    "md5(CAST(j AS VARCHAR) || ':' || CAST(key AS VARCHAR))", 512
)


@register(
    "stream_bloom_dedup_ingest",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    r AS (
        SELECT doc_id, doc_id % 300 AS key,
               CAST(doc_id * 4 // n.n AS INTEGER) AS b
        FROM documents, n
    ),
    dup AS (
        SELECT doc_id, key, b,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id) > 1
                    THEN 1 ELSE 0 END AS is_dup,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY key, b ORDER BY doc_id) > 1
                    THEN 1 ELSE 0 END AS in_batch_dup
        FROM r
    ),
    contrib AS (
        SELECT pos, MIN(b) AS first_b FROM (
            SELECT DISTINCT {_INGEST_BLOOM_POS} AS pos, b
            FROM (SELECT DISTINCT key, b FROM r), UNNEST([0, 1, 2, 3]) AS u(j)
        ) GROUP BY pos
    ),
    probe AS (
        SELECT d.doc_id, d.b, d.is_dup, d.in_batch_dup,
               SUM(CASE WHEN c.first_b IS NOT NULL AND c.first_b < d.b
                        THEN 1 ELSE 0 END) AS n_hit
        FROM (SELECT doc_id, key, b, is_dup, in_batch_dup,
                     unnest([0, 1, 2, 3]) AS j
              FROM dup) d
        LEFT JOIN contrib c ON c.pos = {_bloom_hex4_sql(
            "md5(CAST(d.j AS VARCHAR) || ':' || CAST(d.key AS VARCHAR))", 512)}
        GROUP BY d.doc_id, d.b, d.is_dup, d.in_batch_dup
    ),
    flags AS (
        SELECT b, is_dup,
               CASE WHEN n_hit = 4 OR in_batch_dup = 1 THEN 1 ELSE 0 END AS pass
        FROM probe
    )
    SELECT CAST(b AS INTEGER) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup_exact,
           CAST(SUM(pass) AS BIGINT) AS n_pass_bloom,
           CAST(SUM(pass) - SUM(is_dup) AS BIGINT) AS n_false_positive
    FROM flags GROUP BY b
    """,
    doc="EXACT dedup AT THE INGESTION DOOR with a Bloom pre-filter and a "
    "measured false-positive audit — the third door sketch next to KMV "
    "(cardinality) and the near-dup signature index (similarity). The "
    "512-bit/4-hash filter lives on the driver as eight 64-bit words: "
    "each batch tests its rows against them as a literal array and "
    "returns its own bits as bit_or columns of the same aggregate that "
    "yields its audit row, so one collect per batch serves both. The "
    "exact key set, needed only by the audit, is one lineage cut "
    "(union + distinct per batch); the audit rows stay on the driver "
    "keyed by micro-batch id. Each arriving row is flagged if its key "
    "passes the filter built from PRIOR batches or repeats earlier (by "
    "doc_id) within its own batch. Keys are doc_id % 300, planting "
    "genuine cross-batch duplicates; batches are EXACT id quarters "
    "(stage_exact_quarters — a pure function of (id, n_rows), unlike "
    "repartitionByRange's sampled boundaries), so the per-batch audit "
    "(rows, exact dups, bloom passes, false positives) is fully "
    "restatable in SQL: the oracle rebuilds the identical filter "
    "per batch epoch. No false negatives is structural — pass "
    "strictly contains exact-dup, so n_false_positive >= 0 always. "
    "At scale the filter is sized up with the key count and still "
    "broadcasts; only the audit's key set grows with the stream. "
    "operators/sketches.py:bloom_bits/bloom_word_aggs/bloom_test.",
)
def stream_bloom_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at the door in one aggregate action and one lineage
    cut per micro-batch. Each piece of door state lives in its cheapest
    correct home:

    - the Bloom filter: on the driver, as ``BLOOM_BITS // 64`` signed
      64-bit words. It enters each batch plan as a literal array (the
      textbook broadcast structure) and is OR-merged from ``bit_or``
      columns of the batch's one aggregate. A production door sizes the
      filter up with its key count; the words stay a broadcast;
    - the exact key set: a ``cut`` relation, union + distinct per batch,
      O(|keys|), kept distributed. Only the audit columns read it — a
      production door keeps just the filter;
    - the audit rows: on the driver, keyed by micro-batch id, so a
      re-delivered batch is skipped, returned as a local DataFrame.

    Per batch: one aggregate action (audit + filter words in one
    ``collect``) and one cut. Nothing is written but the replay's own
    checkpoint."""
    from pyspark.sql.window import Window

    from ..operators.sketches import BLOOM_BITS, bloom_bits, bloom_test, bloom_word_aggs
    from ..streaming.source import replay, stage_exact_quarters, staged_stream

    staged, n_rows = stage_exact_quarters(spark, sf_dir, "documents", "doc_id", 4)
    words = [0] * (BLOOM_BITS // 64)  # the filter over the batches so far
    keys = local_frame(spark, [], "key long")  # exact key set, audit only
    audit: dict[int, list[tuple]] = {}  # micro-batch id -> its audit rows

    # Every column but the filter literal is built once, here: each
    # Column call from inside a foreachBatch body is a py4j callback round
    # trip, and the ~250 calls of the word aggregates cost ~0.4 s per
    # batch when built there (4-core host, local mode).
    key = F.col("doc_id") % 300
    positions = [p.alias(f"p{j}") for j, p in enumerate(bloom_bits(key))]
    bits = [f"p{j}" for j in range(len(positions))]
    batch_cols = [
        "doc_id",
        key.alias("key"),
        F.expr(f"CAST(doc_id * 4 div {n_rows} AS INT)").alias("qb"),
        *positions,
    ]
    # exact-dup flag: key seen in a prior batch OR earlier (by doc_id)
    # within this batch; bloom flag: all positions set in the PRIOR-batch
    # filter OR the same in-batch window
    in_batch_dup = (
        F.row_number().over(Window.partitionBy("key").orderBy("doc_id")) > 1
    ).alias("in_batch_dup")
    is_dup = (F.col("seen").isNotNull() | F.col("in_batch_dup")).cast("int").alias("is_dup")
    seen = F.lit(1).alias("seen")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("is_dup").cast("bigint").alias("n_dup_exact"),
        F.sum("pass").cast("bigint").alias("n_pass_bloom"),
        (F.sum("pass") - F.sum("is_dup")).cast("bigint").alias("n_false_positive"),
        *bloom_word_aggs(bits),
    ]
    by_batch = F.col("qb").alias("batch_id")

    def handle(batch: DataFrame, batch_id: int) -> None:
        nonlocal keys
        if batch_id in audit:  # re-delivered: already counted
            return
        b = batch.select(*batch_cols)
        passed = (bloom_test(words, bits) | F.col("in_batch_dup")).cast("int").alias("pass")
        rows = (
            b.select("*", in_batch_dup)
            .join(keys.select("key", seen), "key", "left")
            .select("qb", *bits, is_dup, passed)
            .groupBy(by_batch)
            .agg(*aggs)
            .collect()
        )
        if rows:
            keys = cut(keys.unionByName(b.select("key")).distinct())
        for r in rows:
            for i in range(len(words)):
                words[i] |= r[f"bloom_w{i}"]
        audit[batch_id] = [tuple(r[:5]) for r in rows]

    replay(staged_stream(spark, staged).select("doc_id"), handle)
    return local_frame(
        spark,
        [r for i in sorted(audit) for r in audit[i]],
        "batch_id int, n_rows long, n_dup_exact long, n_pass_bloom long,"
        " n_false_positive long",
    )


@register(
    "stream_freshness_monitor",
    oracle="""
    WITH b AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS hb,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS tmax
        FROM events GROUP BY 1, 2
    ),
    g AS (SELECT CAST(MAX(tmax) AS BIGINT) AS gmax FROM b)
    SELECT event_type,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST((g.gmax - MAX(tmax)) // 1000000 AS BIGINT)
               AS staleness_seconds,
           CAST(SUM(CASE WHEN hb > g.gmax // 3600000000 - 24
                    THEN cnt ELSE 0 END) AS BIGINT) AS rows_last_24h
    FROM b, g
    GROUP BY event_type, g.gmax
    """,
    doc="Per-source freshness maintained AT THE INGESTION DOOR: a "
    "streaming aggregate keeps one row per (event type, hour bucket) "
    "in Spark's state store, with an additive count and a max-merged "
    "high-water mark — both commutative, so the streamed state equals "
    "the batch table exactly regardless of batch boundaries, and "
    "state is bounded by |types| x |hours of history| (a catalog, "
    "not data-sized). The monitor answers dq_freshness_lag's "
    "questions without any rescan: exact staleness vs the global "
    "high-water mark (microsecond integers) and arrivals in the "
    "last 24 HOUR-BUCKETS (the synopsis's granularity — the batch "
    "twin uses the same bucket cutoff, so the oracle is exact, not "
    "approximate).",
)
def stream_freshness_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one streaming aggregate to (type, hour) rows whose
    state store holds the bounded state; the final projection runs on
    the one cut of the sink only."""
    from ..streaming.source import table_stream

    sdf = table_stream(spark, sf_dir, "events", order_col="event_id", n_files=4)
    hourly = (
        sdf.select("event_type", F.unix_micros(F.col("ts")).alias("us"))
        .groupBy("event_type", F.expr("us div 3600000000").alias("hb"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.max("us").cast("bigint").alias("tmax"),
        )
    )
    # the crossJoin below reads the sink twice: cut once
    st = cut(run_available_now(hourly, "freshness_monitor", "complete"))
    g = st.agg(F.max("tmax").cast("bigint").alias("gmax"))
    return (
        st.crossJoin(F.broadcast(g))
        .groupBy("event_type", "gmax")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.max("tmax").alias("tmax"),
            F.sum(
                F.when(
                    F.expr("hb > gmax div 3600000000 - 24"), F.col("cnt")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_last_24h"),
        )
        .selectExpr(
            "event_type",
            "n_rows",
            "CAST((gmax - tmax) div 1000000 AS BIGINT) AS staleness_seconds",
            "rows_last_24h",
        )
    )
