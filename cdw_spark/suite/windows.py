"""Window functions + time-window aggregations (SURVEY.md §2.4 rows 2-3,
§7.2 M4/M5).

Absent from the reference (no ``OVER (`` anywhere) but table stakes for the
engine. The tumbling/sliding/session time windows and the OHLC resample
here call the transforms of ``cdw_spark/streaming/windows.py`` on the batch
fixture: the streaming queries run the same code incrementally, so one code
path is tested against the DuckDB oracle and reused over readStream.

Determinism rule for oracles: every window ordering carries a unique
tie-breaker column (event_id / order key) so both engines produce the same
frame contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_fixture, purchase_events
from ..functions.numeric import micro
from ..registry import register
from ..streaming.windows import ohlc_agg, session_agg, sliding_agg, tumbling_agg

DEC = "decimal(18,2)"


@register(
    "window_rank_topk",
    oracle="""
    SELECT cust_key, order_key, total_price,
           CAST(rank_in_cust AS INTEGER) AS rank_in_cust
    FROM (
        SELECT
            o_custkey AS cust_key,
            o_orderkey AS order_key,
            o_totalprice AS total_price,
            ROW_NUMBER() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey
            ) AS rank_in_cust
        FROM orders
    ) t
    WHERE rank_in_cust <= 2
    """,
    doc="Top-k per group via ROW_NUMBER ranking window.",
)
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer. Scale: one hash-partition shuffle on the
    group key, sort within partitions only; Spark 3.5+/4.x inserts a
    WindowGroupLimit (rank pushdown) so each partition keeps only k rows
    before the final filter."""
    o = load_fixture(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select(
            F.col("o_custkey").alias("cust_key"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_totalprice").alias("total_price"),
            F.row_number().over(w).alias("rank_in_cust"),
        )
        .filter(F.col("rank_in_cust") <= 2)
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT
        event_id,
        user_id,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
            PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE), 2) AS running_value
    FROM events
    """,
    doc="Cumulative sum (analytic window, running frame).",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per user ordered by time. DECIMAL accumulation keeps
    the prefix sums exact and therefore oracle-comparable; doubles would
    drift by association order."""
    ev = load_fixture(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        # exact decimal prefix sums; DOUBLE final projection (the driver
        # canonicalizes decimals through a float path)
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 2).alias(
            "running_value"
        ),
    )


@register(
    "window_lag_delta",
    oracle="""
    SELECT
        event_id,
        user_id,
        epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
        ) AS ms_since_prev
    FROM events
    """,
    doc="LAG analytic function: inter-event gap per user.",
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Millisecond gap to the previous event of the same user — the
    building block for sessionization (see session_window_agg)."""
    ev = load_fixture(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        (ms - F.lag(ms).over(w)).alias("ms_since_prev"),
    )


@register(
    "tumbling_window_agg",
    oracle="""
    SELECT
        date_trunc('hour', ts) AS win_start,
        date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
        event_type,
        COUNT(*) AS n_events,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Tumbling 1-hour event-time window aggregation (batch form of the "
    "streaming query in cdw_spark/streaming/).",
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.window`` tumbling aggregation, ``streaming.windows.tumbling_agg``
    over the batch fixture. Same plan shape as a grouped agg: partial
    aggregation per window before the shuffle. The streaming query adds a
    watermark; values are identical on finalized windows."""
    return tumbling_agg(load_fixture(spark, sf_dir, "events"))


@register(
    "sliding_window_agg",
    oracle="""
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
    """,
    doc="Sliding window (1 h size, 30 min slide): each event lands in two "
    "overlapping windows.",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.window(size=1h, slide=30m)``, ``streaming.windows.sliding_agg``
    over the batch fixture — Spark expands each row into size/slide window
    assignments (an explode, not a self-join), then aggregates; the oracle
    mirrors that expansion with a UNION ALL."""
    return sliding_agg(load_fixture(spark, sf_dir, "events"))


@register(
    "session_window_agg",
    oracle="""
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
    )
    SELECT
        user_id,
        MIN(ts) AS session_start,
        MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        COUNT(*) AS n_events,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
    doc="Session window (30 min gap) per user — gaps-and-islands in the "
    "oracle, native session_window in Spark.",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window(ts, '30 minutes')``, ``streaming.windows.session_agg``
    over the batch fixture: Spark merges events whose [ts, ts+gap) windows
    overlap; an event exactly at prev+gap starts a new session (half-open
    interval), which the oracle's ``>=`` reproduces. Scale: one shuffle on
    user_id, sort within partition, linear merge — same cost profile as the
    oracle's window formulation but fused natively.
    """
    return session_agg(load_fixture(spark, sf_dir, "events"))


@register(
    "window_ntile_dist",
    oracle="""
    SELECT o_orderkey AS order_key,
           o_orderstatus AS status,
           CAST(NTILE(4) OVER w AS INTEGER) AS price_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS price_pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS price_cume_dist,
           NTH_VALUE(o_orderkey, 2) OVER (
               PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS second_cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    QUALIFY o_orderkey % 25 = 0
    """,
    doc="Distribution window functions: ntile quartiles, percent_rank, "
    "cume_dist, nth_value — the ranking-family breadth beyond "
    "row_number/rank (absent from reference, SURVEY.md §2.4 row 2). "
    "Strict (price, key) order so every engine ranks identically.",
)
def window_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four functions share one window spec — a single sort within the
    status partition serves every column; the output filter keeps the
    compared subset small without changing any window's input frame."""
    o = load_fixture(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderstatus").alias("status"),
            F.ntile(4).over(w).alias("price_quartile"),
            F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
            F.nth_value("o_orderkey", 2).over(wf).alias("second_cheapest_key"),
        )
        .filter(F.col("order_key") % 25 == 0)
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey AS order_key,
           o_custkey AS cust_key,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ), 2) AS rev_30d,
           COUNT(*) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ) AS n_30d
    FROM orders
    WHERE o_custkey % 40 = 0
    """,
    doc="RANGE window frame (value-based, not row-based): rolling 30-day "
    "revenue per customer — every order within 2,592,000 epoch-seconds "
    "joins the frame regardless of row count, the frame semantics ROWS "
    "cannot express when event spacing is irregular.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered by the numeric epoch so both engines share frame bounds
    exactly; one sort per customer partition serves both aggregates."""
    o = load_fixture(spark, sf_dir, "orders").filter(F.col("o_custkey") % 40 == 0)
    epoch = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-2592000, Window.currentRow)
    )
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("cust_key"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_30d"),
        F.count(F.lit(1)).over(w).alias("n_30d"),
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT event_id,
           user_id,
           FIRST_VALUE(value) OVER w AS first_v,
           LAST_VALUE(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_v,
           NTH_VALUE(value, 3) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_v
    FROM events
    WHERE user_id % 20 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Navigation window functions FIRST_VALUE / LAST_VALUE / NTH_VALUE "
    "with explicit full frames — LAST_VALUE over the default frame is the "
    "classic footgun (frame ends at CURRENT ROW), so the full-partition "
    "frame is stated on both engines.",
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One sort per user partition serves all three navigations. The
    (ts, event_id) order key makes ties deterministic across engines."""
    e = load_fixture(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(wfull).alias("last_v"),
        F.nth_value("value", 3).over(wfull).alias("third_v"),
    )


@register(
    "timeseries_gapfill_locf",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day FROM events
        WHERE event_type = 'purchase'
    ),
    daily AS (SELECT user_id, day, COUNT(*) AS n FROM ev GROUP BY user_id, day),
    b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
    days AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM b
    ),
    users AS (SELECT DISTINCT user_id FROM ev),
    j AS (
        SELECT s.user_id, s.day, daily.n
        FROM (SELECT u.user_id, d.day FROM users u CROSS JOIN days d) s
        LEFT JOIN daily ON daily.user_id = s.user_id AND daily.day = s.day
    )
    SELECT user_id, day,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(last_value(n IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
               AS locf_events,
           CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
    FROM j
    """,
    doc="Time-series gap fill + last-observation-carried-forward: a dense "
    "user x day spine (min..max purchase date) left-joined to daily "
    "purchase counts, missing days filled with the last seen value. The "
    "spine is |users| x |days| rows built from a broadcast day list — "
    "never a shuffle of the fact; LOCF is one window per user partition. "
    "Integer metrics only, so both engines hash identically. The "
    "hypertable-rollup/gap-fill idiom of timeseries stores, expressed as "
    "sequence()+explode and last(ignorenulls).",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        purchase_events(spark, sf_dir)
        .select("user_id", F.to_date("ts").alias("day"))
    )
    daily = ev.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    days = (
        ev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    spine = ev.select("user_id").distinct().crossJoin(F.broadcast(days))
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce(F.last("n", ignorenulls=True).over(w), F.lit(0))
        .cast("bigint")
        .alias("locf_events"),
        F.when(F.col("n").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
    )


@register(
    "timeseries_ewma",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, ROUND(value, 6) AS value,
           ROUND(
               SUM(value * pow(2.0, rn)) OVER (
                   PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               / SUM(pow(2.0, rn)) OVER (
                   PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW), 6) AS ewma
    FROM seq
    """,
    doc="Exponentially weighted moving average (half-life = 1 step, "
    "8-step horizon) per user over purchase values. The recursion "
    "ewma_t = a*x_t + (1-a)*ewma_(t-1) is re-expressed closed-form as "
    "SUM(x*2^rn)/SUM(2^rn) over the trailing frame — two windowed sums "
    "in ONE partition sort, no recursion, no UDF; exact powers of two "
    "make the rescaling float-exact on both engines. The trailing-frame "
    "horizon bounds the exponent so the terms never overflow at any "
    "sequence length.",
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = purchase_events(spark, sf_dir)
    seq = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    frame = (
        Window.partitionBy("user_id").orderBy("rn").rowsBetween(-7, Window.currentRow)
    )
    num = F.sum(F.col("value") * F.pow(F.lit(2.0), F.col("rn"))).over(frame)
    den = F.sum(F.pow(F.lit(2.0), F.col("rn"))).over(frame)
    return seq.select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


@register(
    "window_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status,
           ROUND(cume_dist() OVER w, 6) AS cdist,
           ROUND(percent_rank() OVER w, 6) AS prank
    FROM orders
    WHERE o_orderkey % 17 = 0
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
    """,
    doc="Distribution window functions: cume_dist and percent_rank per "
    "status ordered by price — the remaining ranking-family members "
    "(rank/dense_rank/ntile are covered elsewhere). Value-ties map to "
    "equal distribution values on both engines, so the result is "
    "deterministic without a tie-break key.",
)
def window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_fixture(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    )


@register(
    "timeseries_resample_ohlc",
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
    doc="OHLC resampling (the financial/time-series downsampler): "
    "6-hour buckets per user with open = earliest value, close = "
    "latest, high/low extrema, via min_by/max_by — one map-side-"
    "combining aggregation, no window sort. Timestamps within a bucket "
    "are unique per user in the fixture, so arg_min/arg_max tie "
    "semantics never engage (and would tie-break identically anyway on "
    "the rounded value).",
)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming.windows.ohlc_agg`` over the batch fixture."""
    return ohlc_agg(load_fixture(spark, sf_dir, "events"))


@register(
    "timeseries_cusum",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, value,
               value - CAST(50.0 AS DOUBLE) AS dev
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    )
    SELECT user_id, event_id,
           ROUND(SUM(dev) OVER (PARTITION BY user_id
                                ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING), 6) AS cusum,
           CASE WHEN ABS(ROUND(SUM(dev) OVER (PARTITION BY user_id
                                              ORDER BY event_id
                                              ROWS UNBOUNDED PRECEDING), 6))
                     > CAST(250.0 AS DOUBLE)
                THEN 1 ELSE 0 END AS drift_flag
    FROM seq
    """,
    doc="CUSUM drift chart per user over purchase values: running sum of "
    "deviations from the in-control target (50.0), flagging |S_t| > h "
    "(h=250) — the classic control-chart changepoint signal. ONE window "
    "sort per user computes both the statistic and the flag; the running "
    "sum is a sequential left-to-right fold in both engines (identical "
    "float order), rounded before the threshold compare so the flag is "
    "engine-independent. At 100 TB this is a single shuffle on user_id "
    "with no state beyond the frame accumulator; the target/threshold "
    "would come from a broadcast per-segment control relation instead of "
    "literals. Ordered by event_id (unique) so the fold order is total.",
)
def timeseries_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = purchase_events(spark, sf_dir).filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = F.round(F.sum(F.col("value") - F.lit(50.0)).over(w), 6)
    return ev.select(
        "user_id",
        "event_id",
        cusum.alias("cusum"),
        F.when(F.abs(cusum) > F.lit(250.0), 1).otherwise(0).alias("drift_flag"),
    )


@register(
    "events_stickiness_rolling",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    spine AS (SELECT DISTINCT day FROM active),
    contrib AS (
        SELECT user_id, day + i AS tday
        FROM active, unnest([0, 1, 2, 3, 4, 5, 6]) AS t(i)
    ),
    wau AS (
        SELECT c.tday AS day, COUNT(DISTINCT c.user_id) AS wau
        FROM contrib c JOIN spine s ON s.day = c.tday
        GROUP BY c.tday
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY day)
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
           ROUND(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6) AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    """,
    doc="DAU / trailing-7-day WAU stickiness per observed day — the "
    "engagement ratio every product dashboard reports. COUNT(DISTINCT) "
    "over a SLIDING window is not window-frame-expressible (distinct "
    "aggregates are invalid in frames on either engine); the scalable "
    "rewrite CONTRIBUTES each (user, day) row to the 7 trailing target "
    "days it covers (a bounded x7 explode), then one distinct-count per "
    "target day.",
)
def events_stickiness_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct on (user, day) — the only fact-sized
    shuffle; the x7 contribution explode is a literal array (no join),
    and the per-day distinct count shuffles (day, user) pairs bounded by
    7x the active relation. The day spine join broadcasts (|days| rows).
    No range join, no per-day re-scan: at 100 TB this is the standard
    rolling-distinct rewrite (contribute-then-count), linear in events."""
    ev = load_fixture(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    spine = active.select("day").distinct()
    contrib = active.withColumn(
        "i", F.explode(F.array(*[F.lit(i) for i in range(7)]))
    ).select("user_id", F.expr("date_add(day, i)").alias("tday"))
    wau = (
        contrib.join(F.broadcast(spine), contrib["tday"] == spine["day"])
        .groupBy("tday")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau["day"] == wau["tday"])
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
    )


@register(
    "timeseries_gapfill_interpolate",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day FROM events
        WHERE event_type = 'purchase'
    ),
    daily AS (SELECT user_id, day, CAST(COUNT(*) AS DOUBLE) AS v
              FROM ev GROUP BY user_id, day),
    b AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
    spine AS (
        SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM b
    ),
    j AS (
        SELECT s.user_id, s.day, daily.v
        FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.day = s.day
    ),
    w AS (
        SELECT user_id, day, v,
            last_value(v IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
            first_value(v IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM j
    )
    SELECT user_id, day,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                 ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
                                        / CAST(date_diff('day', pd, nd) AS DOUBLE))
                 END, 6) AS value_filled,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_interpolated
    FROM w
    """,
    doc="Linear-interpolation gap fill — the numeric twin of "
    "timeseries_gapfill_locf: missing days take "
    "prev + (next-prev) * elapsed/gap between the bracketing "
    "observations. The per-user spine is bounded by each user's own "
    "[min, max] observed day, so every gap has both brackets and no "
    "edge extrapolation is needed.",
)
def timeseries_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to the LOCF twin — the dense spine is
    |users| x their-span days (explode of a per-user sequence, no join
    against a global calendar), and both bracket lookups are two
    opposite-direction windows per user partition; the interpolation
    arithmetic is one identically-ordered double expression in both
    engines."""
    from pyspark.sql.window import Window

    ev = (
        purchase_events(spark, sf_dir)
        .select("user_id", F.to_date("ts").alias("day"))
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    back = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    w = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(back))
        .withColumn("pd", F.last(obs_day, ignorenulls=True).over(back))
        .withColumn("nv", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("nd", F.first(obs_day, ignorenulls=True).over(fwd))
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.datediff("day", "pd").cast("double")
        / F.datediff("nd", "pd").cast("double")
    )
    return w.select(
        "user_id",
        "day",
        F.round(F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp), 6).alias(
            "value_filled"
        ),
        F.when(F.col("v").isNull(), 1).otherwise(0).cast("int").alias("is_interpolated"),
    )


@register(
    "timeseries_max_drawdown",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               SUM(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS bal
        FROM events WHERE event_type = 'purchase'
    ), dd AS (
        SELECT user_id, bal,
               MAX(bal) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS peak
        FROM seq
    )
    SELECT user_id,
           ROUND(MAX(peak - bal), 2) AS max_drawdown,
           ROUND(MAX(bal), 2) AS peak_balance,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dd GROUP BY user_id
    """,
    doc="Maximum drawdown per user over the cumulative purchase balance: "
    "running sum -> running max (the peak) -> max(peak - balance) — the "
    "canonical risk/monitoring analytic (largest peak-to-trough drop), "
    "all in ONE partition sort shared by both window functions, then a "
    "per-user aggregate. DECIMAL-exact accumulation keeps the running "
    "sums engine-identical at any partition order.",
)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = purchase_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dec = F.col("value").cast("decimal(18,2)")
    seq = ev.select("user_id", "ts", "event_id", F.sum(dec).over(w).alias("bal"))
    dd = seq.withColumn("peak", F.max("bal").over(w))
    return (
        dd.groupBy("user_id")
        .agg(
            F.round(F.max(F.col("peak") - F.col("bal")).cast("double"), 2).alias("max_drawdown"),
            F.round(F.max("bal").cast("double"), 2).alias("peak_balance"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@register(
    "window_gaps_islands",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    seq AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER) AS grp
        FROM active
    ),
    islands AS (
        SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
               COUNT(*) AS streak_len
        FROM seq GROUP BY user_id, grp
    )
    SELECT user_id, streak_start, streak_end,
           CAST(streak_len AS BIGINT) AS streak_len,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY streak_len DESC, streak_start)
                AS INTEGER) AS streak_rank
    FROM islands
    """,
    doc="Gaps-and-islands: per-user consecutive-active-day streaks via the "
    "classic day - ROW_NUMBER() island key (Ben-Gan's rewrite), then one "
    "aggregate per island and a per-user rank (longest first, earliest "
    "start as tie-break). The everyday retention/streak analytic that "
    "needs no self-join.",
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct on (user, day) — the only fact-sized
    shuffle — then two window sorts over the |active| relation, both
    partitioned by user_id (the second reuses the first's partitioning;
    no join, no per-day re-scan). Island arithmetic is pure integer/date
    math, so the oracle hashes exactly on any engine."""
    ev = load_fixture(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    seq = active.withColumn(
        "grp", F.expr("date_sub(day, cast(row_number() over (partition by user_id order by day) as int))")
    )
    islands = seq.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count(F.lit(1)).cast("bigint").alias("streak_len"),
    )
    wrank = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), F.col("streak_start")
    )
    return islands.select(
        "user_id",
        "streak_start",
        "streak_end",
        "streak_len",
        F.row_number().over(wrank).cast("int").alias("streak_rank"),
    )


@register(
    "events_cumulative_distinct",
    oracle="""
    WITH firsts AS (
        SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY event_type, user_id
    ),
    daily AS (
        SELECT event_type, first_day AS day, COUNT(*) AS new_users
        FROM firsts GROUP BY event_type, first_day
    )
    SELECT event_type, day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS cum_users
    FROM daily
    """,
    doc="Cumulative distinct users per event type by day — the growth "
    "curve. A running COUNT(DISTINCT) window is invalid on both "
    "engines; the scalable rewrite attributes each user to their FIRST "
    "day (one aggregate), then a plain cumulative SUM over the "
    "per-day news — the first-occurrence decomposition (same family "
    "as events_stickiness_rolling's contribute-then-count).",
)
def events_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (type,user) aggregate — the only fact-sized
    shuffle — then a |types|x|days|-row daily relation and a window
    over it. Running-distinct state never materializes."""
    ev = load_fixture(spark, sf_dir, "events")
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = firsts.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@register(
    "window_rolling_ols_slope",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS q,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x
        FROM events
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    f AS (
        SELECT user_id, day,
               COUNT(*) OVER w AS n,
               SUM(x) OVER w AS sx,
               SUM(q) OVER w AS sy,
               CAST(SUM(CAST(x AS DECIMAL(20,0)) * CAST(q AS DECIMAL(18,0)))
                    OVER w AS DECIMAL(38,0)) AS sxy,
               SUM(x * x) OVER w AS sxx
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    d AS (
        SELECT user_id, day,
               CAST(n * sxy AS BIGINT) - sx * sy AS num,
               NULLIF(n * sxx - sx * sx, 0) AS den
        FROM f WHERE n = 7
    )
    SELECT user_id, day,
           CAST(CASE WHEN num >= 0
                     THEN (2 * num + den) // (2 * den)
                     ELSE -((2 * (-num) + den) // (2 * den)) END AS DOUBLE)
               / 1000000.0 AS slope_per_day
    FROM d
    """,
    doc="Per-user rolling 7-observation OLS trend of daily event value "
    "(micro-unit quantized) — the windowed momentum feature a "
    "forecasting pipeline computes per entity. The frame sums (count, "
    "sum x, sum y, sum xy, sum x^2) are exact integers/DECIMALs "
    "accumulated by the window engine itself, so the closed-form slope "
    "divides exact values in one identical double op sequence; frames "
    "are ROWS-based over observed days (deterministic under the "
    "(user, day) ordering since the daily rollup makes day unique per "
    "user). Emitted only for full 7-row frames. The slope is a ratio "
    "of exact integers, so it rounds half-away in INTEGER micro-units "
    "(sign-split (2a+b) div 2b) — never a float round; int64 holds "
    "while day-index * daily-micro-value sums stay under ~1e14 "
    "(substitute DECIMAL accumulators past that).",
)
def window_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one daily rollup (map-side combined), one per-user
    ordered window pass carrying five integer partials — no join, no
    global sort; output rows = user-days."""
    e = load_fixture(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.sum(
                micro(F.col("value"))
            )
            .cast("bigint")
            .alias("q")
        )
        .withColumn("x", F.datediff("day", F.lit("1970-01-01").cast("date")).cast("bigint"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    f = daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("q").over(w).alias("sy"),
        F.sum(F.col("x").cast("decimal(20,0)") * F.col("q").cast("decimal(18,0)"))
        .over(w)
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    d = f.filter(F.col("n") == 7).select(
        "user_id",
        "day",
        (F.col("n") * F.col("sxy")).cast("bigint").alias("num0"),
        F.nullif(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
        ).alias("den"),
        (F.col("sx") * F.col("sy")).alias("xy0"),
    ).select(
        "user_id",
        "day",
        (F.col("num0") - F.col("xy0")).alias("num"),
        "den",
    )
    # the slope IS a ratio of exact integers: round in integer
    # micro-units ((2a+b) div 2b, sign-split for negatives) — Spark's
    # round(double, 6) rounds the shortest decimal repr and flipped a
    # 6-dp boundary row at sf0.1 (the quality_linear_score lesson)
    slope = F.when(
        F.col("num") >= 0,
        F.expr("(2 * num + den) div (2 * den)"),
    ).otherwise(-F.expr("(2 * (-num) + den) div (2 * den)"))
    return d.select(
        "user_id", "day", (slope.cast("double") / F.lit(1000000.0)).alias("slope_per_day")
    )


@register(
    "timeseries_realized_volatility",
    oracle="""
    WITH seq AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    lr AS (
        SELECT user_id,
               CAST(ROUND(ln(v), 9) AS DECIMAL(18,9))
               - CAST(ROUND(ln(LAG(v) OVER (PARTITION BY user_id ORDER BY rn)),
                            9) AS DECIMAL(18,9)) AS r
        FROM seq
    )
    SELECT user_id,
           CAST(COUNT(r) AS BIGINT) AS n_returns,
           ROUND(CAST(SUM(r * r) AS DOUBLE), 6) AS realized_var,
           ROUND(sqrt(CAST(SUM(r * r) AS DOUBLE)), 6) AS realized_vol
    FROM lr
    WHERE r IS NOT NULL
    GROUP BY user_id
    """,
    doc="Realized volatility per user over purchase-value log returns: "
    "r_t = ln(v_t) - ln(v_(t-1)) on the ts-ordered sequence, realized "
    "variance = sum r^2, vol = sqrt. Float discipline: each ln() is "
    "rounded to 9 dp DECIMAL(18,9) BEFORE the difference (exact "
    "decimal subtraction), squares and the sum stay DECIMAL-exact and "
    "order-independent; doubles appear only in the final per-user "
    "projection with one identical op sequence per engine. Residual "
    "risk: a 1-ulp JVM Math.log vs libm divergence landing "
    "exactly on a 9th-decimal rounding boundary could still flip the "
    "rounded term — accepted, since no such flip has surfaced across "
    "the sf0.01/sf0.1 sweeps, and narrowing the displayed precision "
    "would hide real drift elsewhere.",
)
def timeseries_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort for the lag, one map-side-
    combining per-user aggregate — the standard sessionized-sequence
    budget; no global sort."""
    ev = purchase_events(spark, sf_dir).filter(F.col("value") > 0)
    seq = ev.select(
        "user_id",
        F.col("value").cast("double").alias("v"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    lnr = F.round(F.log(F.col("v")), 9).cast("decimal(18,9)")
    prev = F.lag(F.col("v")).over(Window.partitionBy("user_id").orderBy("rn"))
    lr = seq.select(
        "user_id",
        (lnr - F.round(F.log(prev), 9).cast("decimal(18,9)")).alias("r"),
    ).filter(F.col("r").isNotNull())
    return lr.groupBy("user_id").agg(
        F.count("r").cast("bigint").alias("n_returns"),
        F.round(F.sum(F.col("r") * F.col("r")).cast("double"), 6).alias(
            "realized_var"
        ),
        F.round(F.sqrt(F.sum(F.col("r") * F.col("r")).cast("double")), 6).alias(
            "realized_vol"
        ),
    )


@register(
    "timeseries_hampel_outliers",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    win AS (
        SELECT user_id, event_id, v,
               list_sort(list(v) OVER (PARTITION BY user_id ORDER BY rn
                                       ROWS BETWEEN 3 PRECEDING
                                       AND 3 FOLLOWING)) AS arr,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING) AS cnt
        FROM seq
    ),
    med AS (
        SELECT user_id, event_id, v, arr[4] AS med
        FROM win WHERE cnt = 7
    ),
    mad AS (
        SELECT m.user_id, m.event_id, m.v, m.med,
               list_sort(list_transform(w.arr, x -> abs(x - m.med)))[4] AS mad
        FROM med m JOIN win w
          ON w.user_id = m.user_id AND w.event_id = m.event_id
    )
    SELECT user_id, event_id,
           ROUND(v, 6) AS value, ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
           CAST(CASE WHEN abs(v - med) > 3.0 * mad THEN 1 ELSE 0 END
                AS INTEGER) AS is_outlier
    FROM mad
    """,
    doc="Hampel filter outlier detection per user over purchase values: "
    "rolling 7-point window (3 preceding / 3 following, FULL windows "
    "only), center judged against the window MEDIAN with threshold "
    "3 * MAD (median absolute deviation) — the robust despiking filter "
    "that, unlike z-scores, one spike cannot inflate its own "
    "threshold. Median and MAD are ELEMENTS of the data (array-sort + "
    "index-4 of 7, no interpolation, no arithmetic beyond exact IEEE "
    "abs-difference), so both engines pick bit-identical values and "
    "the 3*mad comparison cannot sit on a synthetic float boundary.",
)
def timeseries_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort shared by the collect and
    count frames; the 7-element arrays are constant-size per row — no
    per-group full sort, no global pass. At 100 TB the window is the
    same per-user sessionized sort every sequence op here pays."""
    ev = purchase_events(spark, sf_dir)
    seq = ev.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("v"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    frame = (
        Window.partitionBy("user_id").orderBy("rn").rowsBetween(-3, 3)
    )
    win = seq.select(
        "user_id",
        "event_id",
        "v",
        F.array_sort(F.collect_list("v").over(frame)).alias("arr"),
        F.count(F.lit(1)).over(frame).alias("cnt"),
    ).filter(F.col("cnt") == 7)
    med = win.withColumn("med", F.element_at("arr", 4))
    mad = med.withColumn(
        "mad",
        F.element_at(
            F.array_sort(F.expr("transform(arr, x -> abs(x - med))")), 4
        ),
    )
    return mad.select(
        "user_id",
        "event_id",
        F.round("v", 6).alias("value"),
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.when(F.abs(F.col("v") - F.col("med")) > F.lit(3.0) * F.col("mad"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_outlier"),
    )


@register(
    "window_bollinger_bands",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    w AS (
        SELECT user_id, event_id, v,
               CAST(SUM(v) OVER fr AS DECIMAL(18,2)) AS s1,
               CAST(SUM(v * v) OVER fr AS DECIMAL(38,4)) AS s2,
               COUNT(*) OVER fr AS n
        FROM seq
        WINDOW fr AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ROUND(CAST(v AS DOUBLE), 2) AS value,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mid,
           ROUND(CAST(s1 AS DOUBLE) / n
                 - 2.0 * sqrt(CAST(s2 AS DOUBLE) / n
                              - (CAST(s1 AS DOUBLE) / n)
                                * (CAST(s1 AS DOUBLE) / n)), 6) AS lower_band,
           ROUND(CAST(s1 AS DOUBLE) / n
                 + 2.0 * sqrt(CAST(s2 AS DOUBLE) / n
                              - (CAST(s1 AS DOUBLE) / n)
                                * (CAST(s1 AS DOUBLE) / n)), 6) AS upper_band,
           CAST(CASE WHEN CAST(v AS DOUBLE) > CAST(s1 AS DOUBLE) / n
                          + 2.0 * sqrt(CAST(s2 AS DOUBLE) / n
                                       - (CAST(s1 AS DOUBLE) / n)
                                         * (CAST(s1 AS DOUBLE) / n)) THEN 1
                     WHEN CAST(v AS DOUBLE) < CAST(s1 AS DOUBLE) / n
                          - 2.0 * sqrt(CAST(s2 AS DOUBLE) / n
                                       - (CAST(s1 AS DOUBLE) / n)
                                         * (CAST(s1 AS DOUBLE) / n)) THEN -1
                     ELSE 0 END AS INTEGER) AS band_signal
    FROM w WHERE n = 8
    """,
    doc="Bollinger bands (8-point trailing window, +/- 2 population "
    "sigma) per user over purchase values, with the breakout signal "
    "(+1 above the upper band, -1 below the lower) — the mean-"
    "reversion channel next to timeseries_ewma/OHLC/drawdown in the "
    "technical-indicator family. Window moments accumulate in exact "
    "DECIMAL (order-independent — double summation order would jitter "
    "the band edge), the band arithmetic is one identical double "
    "sequence per engine, and only FULL windows emit (n=8), so no "
    "warm-up rows with unstable variance cross the boundary.",
)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort shared by all three frames
    — the standard sequence budget, no global pass."""
    ev = purchase_events(spark, sf_dir)
    seq = ev.select(
        "user_id",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    fr = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-7, Window.currentRow)
    w = seq.select(
        "user_id",
        "event_id",
        "v",
        F.sum("v").over(fr).cast("decimal(18,2)").alias("s1"),
        F.sum(F.col("v") * F.col("v")).over(fr).cast("decimal(38,4)").alias("s2"),
        F.count(F.lit(1)).over(fr).alias("n"),
    ).filter(F.col("n") == 8)
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n")
    mid = s1d / nd
    sig = F.sqrt(s2d / nd - mid * mid)
    vd = F.col("v").cast("double")
    return w.select(
        "user_id",
        "event_id",
        F.round(vd, 2).alias("value"),
        F.round(mid, 6).alias("mid"),
        F.round(mid - F.lit(2.0) * sig, 6).alias("lower_band"),
        F.round(mid + F.lit(2.0) * sig, 6).alias("upper_band"),
        F.when(vd > mid + F.lit(2.0) * sig, 1)
        .when(vd < mid - F.lit(2.0) * sig, -1)
        .otherwise(0)
        .cast("int")
        .alias("band_signal"),
    )


@register(
    "window_rsi",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    dif AS (
        SELECT user_id, event_id, rn,
               q - LAG(q) OVER (PARTITION BY user_id ORDER BY rn) AS d
        FROM seq
    ),
    w AS (
        SELECT user_id, event_id,
               SUM(GREATEST(d, 0)) OVER fr AS sg,
               SUM(GREATEST(-d, 0)) OVER fr AS sl,
               COUNT(*) OVER fr AS n14
        FROM dif WHERE d IS NOT NULL
        WINDOW fr AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(CASE WHEN sg + sl = 0 THEN 50000000
                     ELSE (2 * sg * 100000000 + (sg + sl)) // (2 * (sg + sl))
                END AS DOUBLE) / 1000000.0 AS rsi
    FROM w WHERE n14 = 14
    """,
    doc="RSI-14 (Cutler's simple-moving-average variant) per user over "
    "purchase values — the momentum oscillator beside "
    "bollinger/EWMA/drawdown in the technical-indicator family. "
    "Cutler's SMA form is chosen over Wilder's recursive smoothing "
    "because it is a pure 14-row window (distributable and "
    "restatable); RSI = 100*sumGain/(sumGain+sumLoss) on micro-integer "
    "diffs rounds half-away in integer units (bound: 2e8 * sumGain "
    "over 14 micro diffs < int64 for values < ~3e9), a flat window "
    "(both sums zero) reads 50 by convention, and only FULL windows "
    "emit (14 diffs).",
)
def window_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort shared by the lag and the
    two trailing frames — the standard sequence budget, no global
    pass."""
    ev = purchase_events(spark, sf_dir)
    seq = ev.select(
        "user_id",
        "event_id",
        "q",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    dif = seq.select(
        "user_id",
        "event_id",
        "rn",
        (
            F.col("q")
            - F.lag("q").over(Window.partitionBy("user_id").orderBy("rn"))
        ).alias("d"),
    ).filter(F.col("d").isNotNull())
    fr = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-13, Window.currentRow)
    w = dif.select(
        "user_id",
        "event_id",
        F.sum(F.greatest(F.col("d"), F.lit(0))).over(fr).alias("sg"),
        F.sum(F.greatest(-F.col("d"), F.lit(0))).over(fr).alias("sl"),
        F.count(F.lit(1)).over(fr).alias("n14"),
    ).filter(F.col("n14") == 14)
    return w.selectExpr(
        "user_id",
        "event_id",
        "CAST(CASE WHEN sg + sl = 0 THEN 50000000"
        " ELSE (2 * sg * 100000000 + (sg + sl)) div (2 * (sg + sl))"
        " END AS DOUBLE) / 1000000.0 AS rsi",
    )
