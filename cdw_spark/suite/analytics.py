"""Aggregation layer (SURVEY.md §2.4 / §7.2 M4).

The reference contains no GROUP BY, aggregate, ORDER BY, or HAVING anywhere
(checked exhaustively, SURVEY.md §2.4) — Redshift would have provided them,
so a complete replacement engine must too. These queries demonstrate the
standard analytic surface on the fixture tables, written for scale:
partial (map-side) aggregation before every shuffle, broadcast joins for
dims, top-k as TakeOrderedAndProject (never a global sort).

Numeric discipline for the DuckDB differential oracle: monetary aggregates
are summed as DECIMAL (exact, order-independent — double summation is not
associative and would hash-mismatch across engines); averages are computed
as exact-decimal sums cast to double, divided, then rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import daily_purchase_totals, load_fixture, purchase_events
from ..functions.numeric import micro
from ..plans.lineage import cut
from ..registry import register

DEC = "decimal(18,2)"


@register(
    "agg_pricing_summary",
    oracle="""
    SELECT
        l_returnflag AS return_flag,
        l_linestatus AS line_status,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: filtered scan -> grouped "
    "aggregation with partial aggregates (map-side combine).",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation over the big fact table. Scale: the filter is
    pushed to the parquet scan; partial aggregation reduces each of the
    1000 executors' output to |groups| rows before the single shuffle, so
    network traffic is O(groups), not O(rows)."""
    li = load_fixture(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
        )
        .agg(
            # Exact DECIMAL accumulation (order-independent across engines);
            # the FINAL projection is DOUBLE — the driver's canonicalization
            # renders DuckDB DECIMAL/HUGEINT through a float path, so any
            # decimal-typed output column hash-mismatches even when values
            # are identical.
            F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(price).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(price * disc).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "join_agg_topk",
    oracle="""
    SELECT
        c.c_mktsegment AS segment,
        COUNT(*) AS n_orders,
        ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, segment
    LIMIT 3
    """,
    doc="Join -> aggregate -> top-k: the canonical reporting query "
    "(TPC-H Q3 shape).",
)
def join_agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim join then grouped agg then top-k. Scale: customer is the
    smaller side (broadcast below threshold / AQE-converted above); the
    ORDER BY+LIMIT compiles to TakeOrderedAndProject — no global sort of
    the aggregate output."""
    o = load_fixture(spark, sf_dir, "orders")
    c = load_fixture(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "inner")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # order on the exact decimal sum; project DOUBLE (the driver
            # canonicalizes decimals through a float path)
            F.sum(F.col("o_totalprice").cast(DEC)).alias("_revenue_exact"),
        )
        .orderBy(F.col("_revenue_exact").desc(), F.col("segment"))
        .limit(3)
        .select(
            "segment",
            "n_orders",
            F.round(F.col("_revenue_exact").cast("double"), 2).alias("revenue"),
        )
    )


@register(
    "multi_join_groupby",
    oracle="""
    SELECT
        n.n_name AS nation,
        COUNT(*) AS n_orders,
        ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="4-table snowflake join with dimension broadcast (TPC-H Q5 shape; "
    "the reference's diststyle-all dims, sql_queries.py:85,105,117).",
)
def multi_join_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region and nation are tiny dims — explicitly broadcast (the Spark
    analogue of Redshift ``diststyle all``), so the only shuffle in the
    whole plan is the final aggregation; the filter on r_name prunes
    nations *before* they reach the fact join."""
    r = load_fixture(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_fixture(spark, sf_dir, "nation")
    c = load_fixture(spark, sf_dir, "customer")
    o = load_fixture(spark, sf_dir, "orders")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact decimal sum, DOUBLE final projection
            F.round(F.sum(F.col("o_totalprice").cast(DEC)).cast("double"), 2).alias(
                "revenue"
            ),
        )
    )


@register(
    "case_when_having",
    oracle="""
    SELECT
        CASE WHEN o_totalprice < 50000 THEN 'small'
             WHEN o_totalprice < 150000 THEN 'mid'
             ELSE 'large' END AS band,
        o_orderpriority AS priority,
        COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2
    HAVING COUNT(*) > 5
    """,
    doc="CASE WHEN bucketing + GROUP BY + HAVING (absent from reference, "
    "SURVEY.md §2.4 row 6).",
)
def case_when_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression feeding a grouped aggregate with a
    post-aggregation filter — all whole-stage-codegen'd JVM expressions."""
    o = load_fixture(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("large")
    )
    return (
        o.groupBy(band.alias("band"), F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 5)
    )


@register(
    "rollup_agg",
    oracle="""
    SELECT
        r.r_name AS region,
        n.n_name AS nation,
        COUNT(*) AS customers
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
    doc="ROLLUP hierarchical aggregation (grouping-sets family, absent from "
    "reference — SURVEY.md §2.4 row 1).",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregate in one pass: Spark expands the rollup into
    grouping sets and still applies partial aggregation — one shuffle for
    all three levels."""
    r = load_fixture(spark, sf_dir, "region")
    n = load_fixture(spark, sf_dir, "nation")
    c = load_fixture(spark, sf_dir, "customer")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        joined.select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .rollup("region", "nation")
        .agg(F.count(F.lit(1)).alias("customers"))
    )


@register(
    "agg_distinct_count",
    oracle="""
    SELECT
        event_type,
        COUNT(DISTINCT user_id) AS users,
        COUNT(*) AS n_events,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value,
        MIN(value) AS min_value,
        MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    doc="COUNT(DISTINCT) + min/max aggregate battery over the event stream "
    "table.",
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count is the expensive one at scale: Spark plans it as a
    two-phase expand+aggregate. For 100 TB dashboards, approx_count_distinct
    (HLL) is the right tool — exposed as ``agg_approx_distinct`` with a
    rows-only check since HLL sketches are engine-specific."""
    ev = load_fixture(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL sketch estimates are engine-specific — rows-only check.
    doc="approx_count_distinct (HyperLogLog++) — the scale path for distinct "
    "counts; estimate is engine-specific so no value oracle.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch: constant memory per group regardless of cardinality —
    the 100 TB answer to COUNT(DISTINCT). rsd=0.01 keeps the estimate
    within ~1%."""
    ev = load_fixture(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@register(
    "cube_agg",
    oracle="""
    SELECT
        l_returnflag AS return_flag,
        l_linestatus AS line_status,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="CUBE aggregation over flag/status pairs (grouping-sets family).",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k grouping combinations in a single shuffle via expand."""
    li = load_fixture(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("l_returnflag").alias("return_flag"),
            F.col("l_linestatus").alias("line_status"),
            F.col("l_quantity").cast(DEC).alias("qty"),
        )
        .cube("return_flag", "line_status")
        .agg(
            F.round(F.sum("qty").cast("double"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_stats",
    oracle="""
    SELECT o_orderstatus AS status,
           ROUND(stddev_samp(o_totalprice), 4) AS sd_price,
           ROUND(var_samp(o_totalprice), 4) AS var_price,
           ROUND(corr(o_totalprice, o_custkey), 6) AS corr_price_cust,
           ROUND(covar_samp(o_totalprice, o_custkey), 4) AS covar_price_cust,
           ROUND(median(o_totalprice), 4) AS med_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Statistical aggregates: sample stddev/variance, Pearson "
    "correlation, sample covariance, exact interpolated median and p90. "
    "(skewness/kurtosis excluded: Spark uses population g1/g2, DuckDB "
    "bias-corrected G1/G2 — definitionally different.)",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single hash-aggregate pass: all moments + the exact percentiles
    compute in one shuffle on the 3-value group key. Exact percentile is a
    sort-based agg — at 100 TB swap to approx_percentile (see
    agg_approx_distinct for the sketch-tier pattern)."""
    o = load_fixture(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.var_samp("o_totalprice"), 4).alias("var_price"),
        F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("corr_price_cust"),
        F.round(F.covar_samp("o_totalprice", "o_custkey"), 4).alias("covar_price_cust"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("med_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pivot_case(p: str) -> str:
    safe = p.lower().replace("-", "_").replace(" ", "_")
    return (
        f"ROUND(SUM(CASE WHEN o_orderpriority = '{p}' THEN o_totalprice ELSE 0 END), 2)"
        f" AS sum_{safe}"
    )


@register(
    "pivot_agg",
    oracle=f"""
    SELECT o_orderstatus AS status,
           {", ".join(_pivot_case(p) for p in _PRIORITIES)}
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Pivot: order value by status x priority, priorities spread to "
    "columns. Spark groupBy().pivot() with the value list supplied "
    "up-front (skips the extra distinct-values job); oracle is the "
    "equivalent CASE WHEN spread.",
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot() with explicit values compiles to one hash aggregate with
    |values| conditional sums — same single shuffle as a plain groupBy."""
    o = load_fixture(spark, sf_dir, "orders")
    piv = (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))), 2))
    )
    renames = [F.col("status")] + [
        F.coalesce(F.col(f"`{p}`"), F.lit(0.0)).alias(
            "sum_" + p.lower().replace("-", "_").replace(" ", "_")
        )
        for p in _PRIORITIES
    ]
    return piv.select(*renames)


@register(
    "date_funcs",
    oracle="""
    SELECT o_orderkey AS order_key,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           o_orderdate + INTERVAL 90 DAY AS due_ts,
           datediff('day', DATE '1995-01-01', o_orderdate) AS days_since_95,
           dayname(o_orderdate) AS day_name,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
    doc="Date/time scalar surface: month truncation, interval arithmetic, "
    "day difference, day-of-week name, end-of-month (F-family breadth "
    "beyond the reference's EXTRACT-only usage, SURVEY.md §2.3).",
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_fixture(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_ts"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("days_since_95"),
        F.date_format("o_orderdate", "EEEE").alias("day_name"),
        F.last_day("o_orderdate").alias("month_end"),
    )


@register(
    "range_join_bucketed",
    oracle="""
    SELECT o.o_orderkey AS order_key, COUNT(l.l_orderkey) AS n_shipped_in_window
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderkey % 20 = 0
    GROUP BY o.o_orderkey
    """,
    doc="Range (interval) join: per order, the corpus-wide count of line "
    "items shipped inside [orderdate, orderdate+7d). The oracle states the "
    "naive inequality join; the Spark plan is the bucketed form — both "
    "sides binned to 7-day epochs, orders exploded to the <=2 buckets "
    "their window overlaps, equi-join on bucket, exact filter after.",
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for inequality joins: an equi-join on the bucket id
    shuffles O(|L| + 2|R|) rows instead of the O(|L| x |R|) cartesian a
    theta-join degenerates to; the residual range predicate then runs
    post-match. Bucket width = window width => each interval spans <=2
    buckets, so the blowup factor is exactly 2."""
    bucket = 7 * 86400  # seconds per window
    o = (
        load_fixture(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.unix_timestamp("o_orderdate").alias("w_start"),
            (F.unix_timestamp("o_orderdate") + bucket).alias("w_end"),
        )
        .withColumn("b0", (F.col("w_start") / bucket).cast("long"))
        .withColumn("bucket_id", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
        .drop("b0")
    )
    li = load_fixture(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("li_key"),
        F.unix_timestamp("l_shipdate").alias("ship_s"),
        (F.unix_timestamp("l_shipdate") / bucket).cast("long").alias("bucket_id"),
    )
    in_range = (F.col("ship_s") >= F.col("w_start")) & (F.col("ship_s") < F.col("w_end"))
    # Inner bucket join with the smaller exploded-orders side, then counts
    # joined back onto the order list. A direct left-outer would force the
    # preserved (orders) side to stream — Spark can only build the
    # non-preserved side of an outer hash join, i.e. it would broadcast
    # the fact table. Two cheap joins beat one upside-down one. Both join
    # sides here derive from the orders fact (data-dependent cardinality),
    # so the broadcast hints are size-gated, not unconditional.
    from ..plans.hints import broadcast_if_small

    counts = (
        li.join(broadcast_if_small(o), on="bucket_id", how="inner")
        .filter(in_range)
        .groupBy("order_key")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        o.select("order_key")
        .distinct()
        .join(broadcast_if_small(counts), on="order_key", how="left")
        .select(
            "order_key",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_shipped_in_window"),
        )
    )


@register(
    "scd_latest_state",
    oracle="""
    SELECT o_custkey AS cust_key,
           arg_max(o_orderstatus,
                   (CAST(epoch(o_orderdate) AS BIGINT) // 86400) * 10000000000
                   + o_orderkey) AS last_status,
           arg_max(o_totalprice,
                   (CAST(epoch(o_orderdate) AS BIGINT) // 86400) * 10000000000
                   + o_orderkey) AS last_price,
           MIN(o_orderdate) AS first_order_ts,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
    doc="Latest-state rollup (SCD-style current view): max_by/arg_max on a "
    "strict composite key (order day, then order key — the fixture has "
    "same-day ties that would otherwise be engine-nondeterministic). The "
    "pattern behind the 'latest level per user' variant of reference "
    "quirk K3 (SURVEY.md §7.1).",
)
def scd_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash aggregate — max_by keeps a single (key, value) pair per
    group, so the current-state view never needs the window-sort a
    row_number() formulation would shuffle."""
    o = load_fixture(spark, sf_dir, "orders")
    ordkey = (
        F.expr("unix_timestamp(o_orderdate) div 86400") * F.lit(10_000_000_000)
        + F.col("o_orderkey")
    )
    return o.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.max_by("o_orderstatus", ordkey).alias("last_status"),
        F.max_by("o_totalprice", ordkey).alias("last_price"),
        F.min("o_orderdate").alias("first_order_ts"),
        F.count(F.lit(1)).alias("n_orders"),
    )


N_SALTS = 16


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag AS return_flag,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Skew-safe two-stage aggregation: partial agg on (key, salt) "
    "spreads a hot key over 16 reducers, final agg merges the 16 partials "
    "per key. Result is identical to the plain GROUP BY (the oracle); "
    "only the shuffle distribution changes. l_returnflag has 3 values "
    "over 600k rows at sf0.1 — exactly the cardinality collapse that "
    "single-stage hashing concentrates on 3 reducers at 100 TB.",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 shuffles on (key, salt): every reducer gets ~|rows|/(3*16);
    stage 2 shuffles 3*16 partial rows. SUM/COUNT re-aggregate losslessly
    (doubles: same partial-sum tree depth -> stable to 2-decimal rounding).
    Spark's own partial aggregation does this map-side when it can; the
    explicit salt survives even forced-total-order cases (e.g. upstream
    repartition by key) and is the template for skewed-join salting."""
    li = load_fixture(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(N_SALTS))
    )
    partial = salted.groupBy(F.col("l_returnflag").alias("return_flag"), F.col("_salt")).agg(
        F.sum("l_extendedprice").alias("p_sum"), F.count(F.lit(1)).alias("p_n")
    )
    return partial.groupBy("return_flag").agg(
        F.round(F.sum("p_sum"), 2).alias("sum_price"),
        F.sum("p_n").alias("n_rows"),
    )


@register(
    "agg_approx_quantiles",
    oracle=None,  # sketch output is algorithm-specific; error bound asserted in tests
    doc="approx_percentile (KLL-style sketch) p50/p90/p99 of order value "
    "per status — the sketch tier next to the exact interpolated "
    "percentiles of agg_stats. Rows-only check here; the sketch's "
    "rank-error contract vs the exact quantiles is asserted in "
    "tests/test_elt_runner.py::test_approx_quantiles_error_bound.",
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB exact percentiles need a full sort per group;
    approx_percentile is a mergeable one-pass sketch: partials combine
    map-side like any algebraic aggregate — O(groups x sketch_size)
    shuffled, no sort."""
    o = load_fixture(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("p50_approx"),
        F.expr("approx_percentile(o_totalprice, 0.9, 10000)").alias("p90_approx"),
        F.expr("approx_percentile(o_totalprice, 0.99, 10000)").alias("p99_approx"),
    )


@register(
    "skew_salted_join",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT l_returnflag AS flag, 'label_' || l_returnflag AS flag_label
        FROM lineitem
    )
    SELECT d.flag_label, COUNT(*) AS n_rows,
           ROUND(SUM(l.l_extendedprice), 2) AS sum_price
    FROM lineitem l
    JOIN dim d ON l.l_returnflag = d.flag
    GROUP BY d.flag_label
    """,
    doc="Skew-safe salted join: the fact side joins a tiny dim on a 3-value "
    "(maximally hot) key. The Spark plan salts the fact rows and explodes "
    "the dim x16 so the shuffle spreads each hot key over 16 reducers; "
    "result identical to the plain join (the oracle). For broadcast-able "
    "dims Spark avoids the problem entirely — salting is the template for "
    "when BOTH sides are too big to broadcast and one key dominates.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting mechanics: fact salt = deterministic hash mod N; dim rows
    replicated once per salt value (x16 of a tiny table). Join key becomes
    (key, salt) -> hot-key rows land on N reducers instead of one. AQE's
    skew-join split does this adaptively for sort-merge joins (proven in
    tests/test_plans.py::test_aqe_skew_join_splits_hot_partitions — the
    engine rule is "let AQE split; salt only for pathological keys", and
    note AQE's split silently disables when the dim derives from the fact
    via distinct()); the explicit form also covers shuffled-hash joins
    and pre-AQE engines."""
    n_salts = 16
    li = load_fixture(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salts))
    )
    dim = (
        load_fixture(spark, sf_dir, "lineitem")
        .select(F.col("l_returnflag").alias("flag"))
        .distinct()
        .withColumn("flag_label", F.concat(F.lit("label_"), F.col("flag")))
        .withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    )
    return (
        li.join(dim, (li["l_returnflag"] == dim["flag"]) & (li["_salt"] == dim["_salt"]))
        .groupBy("flag_label")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@register(
    "scd2_intervals",
    oracle="""
    SELECT o_custkey AS cust_key,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to,
           o_orderstatus AS status,
           LEAD(o_orderdate) OVER w IS NULL AS is_current
    FROM orders
    WHERE o_custkey % 50 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="SCD Type-2 history build: each change event becomes a validity "
    "interval [valid_from, valid_to) via LEAD over (key, time); the open "
    "interval is the current row. The dimension-history pattern the "
    "reference's drop-and-rebuild star schema (SURVEY.md §2.4 last row) "
    "cannot express.",
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One window sort per key builds the whole history — no self-join.
    At scale, partition the history table by key ranges and cluster by
    valid_from so as-of lookups prune to one partition."""
    from pyspark.sql.window import Window

    o = load_fixture(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        F.col("o_orderstatus").alias("status"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "unpivot_melt",
    oracle="""
    SELECT p_partkey AS part_key, k AS metric, v AS value FROM (
        SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_v, p_retailprice AS price_v
        FROM part WHERE p_partkey % 10 = 0
    ) UNPIVOT (v FOR k IN (size_v, price_v))
    """,
    doc="Unpivot/melt (wide -> long), the inverse of pivot_agg: metric "
    "columns become (metric, value) rows. Spark DataFrame.unpivot == "
    "DuckDB UNPIVOT; value columns cast to a common type first.",
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot is a zero-shuffle Expand node — each input row emits
    |metrics| rows in place; no join, no aggregation."""
    p = (
        load_fixture(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.col("p_partkey").alias("part_key"),
            F.col("p_size").cast("double").alias("size_v"),
            F.col("p_retailprice").alias("price_v"),
        )
    )
    return p.unpivot("part_key", ["size_v", "price_v"], "metric", "value")


@register(
    "grouping_sets_agg",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS with GROUPING() disambiguation — the "
    "general grouping-sets form next to rollup_agg/cube_agg; three "
    "aggregation levels in one pass, NULL group keys disambiguated by "
    "the grouping flags.",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_fixtures

    register_fixtures(spark, sf_dir, tables=("orders",))
    return spark.sql("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               GROUPING(o_orderstatus) AS g_status,
               GROUPING(o_orderpriority) AS g_priority,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


_RECURSIVE_CALENDAR_SQL = """
WITH RECURSIVE months(m) AS (
    SELECT TIMESTAMP '1995-01-01 00:00:00'
    UNION ALL
    SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2001-08-01 00:00:00'
)
SELECT m AS month_start, COUNT(o_orderkey) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
GROUP BY m
"""


@register(
    "recursive_cte_calendar",
    oracle=_RECURSIVE_CALENDAR_SQL,
    doc="Recursive CTE (WITH RECURSIVE, Spark 4.x): a generated month "
    "calendar left-joined to orders so zero-order months appear — "
    "IDENTICAL SQL text executes on both engines. The gap-filling "
    "calendar pattern reporting queries need and plain joins can't "
    "produce (you cannot select rows that don't exist).",
)
def recursive_cte_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst executes the recursion as an iterative UnionLoop; the
    recursion depth here is the calendar length (80 rows), not data-sized
    — the join against the fact table happens once, after generation."""
    from ..catalog import register_fixtures

    register_fixtures(spark, sf_dir, tables=("orders",))
    return spark.sql(_RECURSIVE_CALENDAR_SQL)


@register(
    "histogram_buckets",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS INTEGER) AS bucket,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
    doc="Equi-width histogram via portable floor-division bucketing "
    "(25k-wide bins over order value) with per-bin min/max — the "
    "profiling aggregate behind optimizer NDV/selectivity estimation, "
    "one shuffle of |buckets| rows.",
)
def histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_fixture(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "agg_percentile_exact",
    oracle="""
    SELECT o_orderstatus AS status,
           ROUND(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 4) AS p25,
           ROUND(CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE), 4) AS p50,
           ROUND(CAST(quantile_cont(o_totalprice, 0.90) AS DOUBLE), 4) AS p90
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Exact continuous percentiles per group (linear interpolation) — "
    "the exact twin of agg_approx_quantiles' sketches; both engines "
    "implement the same PERCENTILE_CONT interpolation.",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles need the group's values materialized (unlike the
    mergeable sketch twin) — fine per-group when groups are few; at 100 TB
    prefer agg_approx_quantiles unless exactness is contractual. DOUBLE
    final projection rounded to 4 (driver canonicalization)."""
    o = load_fixture(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)").cast("double"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)").cast("double"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.90)").cast("double"), 4).alias("p90"),
    )


@register(
    "agg_regression_stats",
    oracle="""
    SELECT l_returnflag AS flag,
           ROUND(CAST(corr(l_extendedprice, l_quantity) AS DOUBLE), 6) AS price_qty_corr,
           ROUND(CAST(regr_slope(l_extendedprice, l_quantity) AS DOUBLE), 4) AS slope,
           ROUND(CAST(regr_intercept(l_extendedprice, l_quantity) AS DOUBLE), 4) AS intercept,
           ROUND(CAST(stddev_samp(l_extendedprice) AS DOUBLE), 4) AS price_sd
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregates per group: Pearson correlation, simple "
    "linear-regression slope/intercept (price ~ quantity), sample "
    "stddev — the profiling stats a feature-engineering pass computes "
    "per segment.",
)
def agg_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four are single-pass mergeable moment aggregates (sum, sum^2,
    sum xy) — map-side partials, one |groups|-row shuffle, identical
    closed forms on both engines. DOUBLE projections rounded (corr to 6;
    the scale-bearing ones to 4) absorb partition-order float jitter."""
    li = load_fixture(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.corr("l_extendedprice", "l_quantity").cast("double"), 6).alias(
            "price_qty_corr"
        ),
        F.round(
            F.expr("regr_slope(l_extendedprice, l_quantity)").cast("double"), 4
        ).alias("slope"),
        F.round(
            F.expr("regr_intercept(l_extendedprice, l_quantity)").cast("double"), 4
        ).alias("intercept"),
        F.round(F.stddev_samp("l_extendedprice").cast("double"), 4).alias("price_sd"),
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT
        (SELECT COUNT(*) FROM s1) AS n_signup,
        (SELECT COUNT(*) FROM s2) AS n_viewed_after,
        (SELECT COUNT(*) FROM s3) AS n_purchased_after,
        ROUND((SELECT COUNT(*) FROM s3) * 100.0
              / (SELECT COUNT(*) FROM s1), 2) AS pct_full_funnel
    """,
    doc="Ordered conversion funnel signup -> view -> purchase: each stage "
    "counts users whose stage-k event strictly follows their stage-(k-1) "
    "time. Three key-partitioned conditional MIN aggregations chained by "
    "joins on user_id — AQE coalesces the same-key exchanges; no window "
    "over the raw stream, no per-user sort. The event-sequence analytics "
    "shape every product warehouse needs.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.join(s1, "user_id")
        .filter((F.col("event_type") == "view") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.join(s2, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = s1.agg(F.count(F.lit(1)).alias("n_signup"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_viewed_after"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_purchased_after"))
    return (
        c1.crossJoin(c2)
        .crossJoin(c3)
        .select(
            "n_signup",
            "n_viewed_after",
            "n_purchased_after",
            F.round(
                F.col("n_purchased_after") * F.lit(100.0) / F.col("n_signup"), 2
            ).alias("pct_full_funnel"),
        )
    )


@register(
    "cohort_retention",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events WHERE event_type = 'purchase'
    ),
    cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM p GROUP BY user_id)
    SELECT c.cohort_wk, CAST(date_diff('day', c.cohort_wk, p.wk) // 7 AS INTEGER) AS wk_offset,
           COUNT(DISTINCT p.user_id) AS n_active
    FROM p JOIN cohort c ON p.user_id = c.user_id
    GROUP BY c.cohort_wk, wk_offset
    """,
    doc="Weekly cohort retention over purchases: users grouped by first-"
    "purchase ISO week, activity counted per week offset. Two shuffles "
    "(cohort assignment on user_id, then the cohort x offset distinct "
    "count); the cohort relation is |users| rows and broadcast-joins back "
    "onto the week stream. Pure integer/date output — engine-exact.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        purchase_events(spark, sf_dir)
        .select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
    )
    cohort = p.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        p.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("wk_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "events_cohort_ltv_curve",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM p GROUP BY user_id),
    cs AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n0 FROM cohort
           GROUP BY cohort_wk),
    byage AS (
        SELECT c.cohort_wk,
               CAST(date_diff('day', c.cohort_wk, p.wk) // 7 AS INTEGER)
                   AS wk_offset,
               CAST(SUM(p.q) AS HUGEINT) AS v
        FROM p JOIN cohort c ON p.user_id = c.user_id
        GROUP BY c.cohort_wk, wk_offset
    ),
    cum AS (
        SELECT cohort_wk, wk_offset,
               SUM(v) OVER (PARTITION BY cohort_wk ORDER BY wk_offset
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumv
        FROM byage
    )
    SELECT cum.cohort_wk, cum.wk_offset,
           cs.n0 AS cohort_users,
           CAST(cum.cumv AS BIGINT) AS cum_value_micro,
           CAST((2 * CAST(cum.cumv AS HUGEINT) + cs.n0)
                // (2 * CAST(cs.n0 AS HUGEINT)) AS BIGINT)
               AS ltv_per_user_micro
    FROM cum JOIN cs ON cs.cohort_wk = cum.cohort_wk
    """,
    doc="Cohort lifetime-value curve: users grouped by first-purchase "
    "week (the cohort_retention assignment), cumulative purchase value "
    "per cohort by week offset, divided by the FIXED cohort size — "
    "the payback-curve view ('a week-N cohort is worth X micro per "
    "acquired user by age k') that retention counts alone cannot "
    "give. Values quantize to exact micro integers, the cumulative "
    "window runs over the cohorts x offsets relation (bounded by the "
    "calendar, not the data), offsets with no purchases are absent "
    "identically in both engines (the cumulative at the next present "
    "offset includes them), and per-user LTV is half-away micro.",
)
def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact shuffle to (user) for cohort assignment,
    one to (cohort, offset) for the value rollup; the cumulative window
    partitions by cohort over the calendar-bounded offset relation;
    cohort sizes broadcast."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        "q",
    )
    cohort = p.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cs = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0")
    )
    byage = (
        p.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("wk_offset"),
        )
        # operand-cast-before-sum: summing the micro-
        # quantized q in LongType would silently wrap past ~9.2e18 where
        # the oracle's HUGEINT stays exact; decimal(20,0) operands make
        # the Spark sum exact at any cell size.
        .agg(F.sum(F.col("q").cast("decimal(20,0)")).cast("decimal(38,0)").alias("v"))
    )
    wo = (
        Window.partitionBy("cohort_wk")
        .orderBy("wk_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = byage.select(
        "cohort_wk", "wk_offset", F.sum("v").over(wo).alias("cumv")
    )
    return cum.join(F.broadcast(cs), "cohort_wk").selectExpr(
        "cohort_wk",
        "wk_offset",
        "n0 AS cohort_users",
        "CAST(cumv AS BIGINT) AS cum_value_micro",
        "CAST((2 * CAST(cumv AS DECIMAL(38,0)) + n0)"
        " div (2 * CAST(n0 AS DECIMAL(38,0))) AS BIGINT)"
        " AS ltv_per_user_micro",
    )


@register(
    "agg_hll_mergeable",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    per AS (
        SELECT source AS scope,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS est_ndv,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_ndv
        FROM tok GROUP BY source
    ),
    uni AS (
        SELECT '_union_of_parts' AS scope,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS est_ndv,
               CAST(NULL AS BIGINT) AS exact_ndv
        FROM tok
    ),
    direct AS (
        SELECT '_all_direct' AS scope,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS est_ndv,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_ndv
        FROM tok
    )
    SELECT * FROM per UNION ALL SELECT * FROM uni UNION ALL SELECT * FROM direct
    """,
    doc="Mergeable HLL distinct-counting (Apache DataSketches via Spark's "
    "hll_sketch_agg/hll_union_agg, lgK=12): per-source word-NDV sketches, "
    "their union, and the direct whole-corpus sketch, each next to the "
    "exact NDV. The point is the MERGE property that makes 100 TB NDV "
    "cheap: partial sketches from each partition/day union without "
    "rescanning. VALUE-ORACLED via the sketch's exact regime: "
    "the fixture vocabulary (~31 terms at every SF) keeps every "
    "lgK=12 sketch — and their union — in DataSketches' LIST mode, where "
    "the estimate IS the exact NDV, so est==exact SQL hash-checks the "
    "whole sketch->union->estimate path; the general-regime error bound "
    "and mergeability stay asserted in tests/test_search.py.",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.search import index_terms

    tok = load_fixture(spark, sf_dir, "documents").select(
        "source", F.explode(index_terms(F.col("text"))).alias("term")
    )
    per = tok.groupBy("source").agg(
        F.expr("hll_sketch_agg(term, 12)").alias("sk"),
        F.count_distinct("term").alias("exact_ndv"),
    )
    per_est = per.select(
        F.col("source").alias("scope"),
        F.expr("hll_sketch_estimate(sk)").cast("bigint").alias("est_ndv"),
        F.col("exact_ndv").cast("bigint"),
    )
    union_est = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").cast("bigint").alias("est_ndv")
    ).select(F.lit("_union_of_parts").alias("scope"), "est_ndv", F.lit(None).cast("bigint").alias("exact_ndv"))
    direct = tok.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(term, 12))").cast("bigint").alias("est_ndv"),
        F.count_distinct("term").cast("bigint").alias("exact_ndv"),
    ).select(F.lit("_all_direct").alias("scope"), "est_ndv", "exact_ndv")
    return per_est.unionByName(union_est).unionByName(direct)


@register(
    "agg_approx_top_k",
    oracle=None,  # sketch-internal ordering; equality vs exact top-k proven in tests
    doc="approx_top_k heavy hitters (Spark 4 built-in frequent-items "
    "sketch) over the token stream — the engine-native alternative to "
    "the hand-built count-min sketch (sketch_cms_wordfreq): one pass, "
    "mergeable, fixed memory. Exploded to (term, est_count) rows. "
    "Rows-only by design: counts are exact at fixture NDV, but the "
    "sf0.01 corpus has an exact TIE at the rank-10/11 boundary "
    "(two terms at count 918), and which one the sketch returns is "
    "sketch-internal — no SQL tie-break can promise the same set. "
    "Equality vs exact top-10 is asserted in tests/test_search.py.",
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.search import index_terms

    tok = load_fixture(spark, sf_dir, "documents").select(
        F.explode(index_terms(F.col("text"))).alias("term")
    )
    return (
        tok.agg(F.expr("approx_top_k(term, 10)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("term"),
            F.col("e.count").cast("bigint").alias("est_count"),
        )
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS src, next_type AS dst,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: LEAD in one partition sort, pair counts, row-normalized "
    "probabilities via a window over the grouped result (|types|^2 rows "
    "— tiny at any corpus scale). The session-flow/clickstream analytics "
    "shape; also the statistics a sequence-model data audit needs.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n") * F.lit(1.0) / F.sum("n").over(Window.partitionBy("src")), 6
        ).alias("p"),
    )


@register(
    "session_paths_topk",
    oracle="""
    WITH paths AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM paths GROUP BY path
    ORDER BY n DESC, path LIMIT 15
    """,
    doc="Top-15 most common user-day event paths ('signup>view>purchase' "
    "strings): per-(user,day) ordered path assembly via sorted "
    "collect_list, then a global frequency top-k — TakeOrderedAndProject, "
    "no single-partition window. Path explosion is bounded by distinct "
    "paths, not users.",
)
def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    paths = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(15)
    )


@register(
    "outlier_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.50) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(abs(value - med), 0.50) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, ROUND(d.value, 6) AS value,
           ROUND((d.value - d.med) * CAST(0.6745 AS DOUBLE) / m.mad, 6) AS robust_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE abs(ROUND((d.value - d.med) * CAST(0.6745 AS DOUBLE) / m.mad, 6))
          > CAST(3.5 AS DOUBLE)
    """,
    doc="Robust outlier detection via median absolute deviation "
    "(Iglewicz-Hoaglin modified z, |z| > 3.5): per-type exact median, "
    "then the median of absolute deviations, then a broadcast join of the "
    "5-row (type, med, mad) relation back onto the stream. Unlike the "
    "mean/stddev z-score (outlier_zscore), MAD doesn't let the outliers "
    "inflate their own yardstick. The flag compares the ROUNDED z so the "
    "cut is reproducible across engines' last-ulp interpolation "
    "differences.",
)
def outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.50)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "value", "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs(value - med), 0.50)").alias("mad")
    )
    z = F.round(
        (F.col("value") - F.col("med")) * F.lit(0.6745) / F.col("mad"), 6
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            z.alias("robust_z"),
        )
        .filter(F.abs(F.col("robust_z")) > F.lit(3.5))
    )


@register(
    "udaf_geomean",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(exp(AVG(ln(value))), 6) AS geomean
    FROM events WHERE value > 0
    GROUP BY event_type
    """,
    doc="Custom aggregate via a GROUPED_AGG pandas_udf (the UDAF escape "
    "hatch when no builtin fits): per-type geometric mean, computed "
    "Arrow-batched as exp(mean(log)). The oracle states the same "
    "log-mean-exp identity in SQL, value-checking the custom aggregate "
    "against the relational algebra it implements. Arrow transfer, "
    "never row-at-a-time (BatchEvalPython banned registry-wide).",
)
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses PEP 563 (string)
    # annotations, which pyspark's signature-based eval-type inference
    # can't resolve.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Pandas group aggregates can't mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a second pandas
    # aggregate — the whole aggregation runs in one Arrow exchange.
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def ncount(v: pd.Series) -> int:
        return int(len(v))

    ev = load_fixture(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        ncount("value").alias("n"),
        F.round(geomean("value"), 6).alias("geomean"),
    )


@register(
    "grouped_ols_applyinpandas",
    oracle="""
    SELECT event_type,
           ROUND(CAST(regr_slope(value, epoch(ts)) AS DOUBLE), 6) AS slope,
           ROUND(CAST(regr_intercept(value, epoch(ts)) AS DOUBLE), 4) AS intercept,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="Custom grouped-map operator via applyInPandas (the batch twin of "
    "the streaming stateful sessionizer): per-type OLS fit of value over "
    "event time, computed with numpy inside one Arrow batch per group. "
    "The oracle is the builtin regr_slope/regr_intercept — the "
    "grouped-map API is value-checked against the exact relational "
    "aggregates it reimplements, the correctness pattern for any custom "
    "operator that outgrows builtins.",
)
def grouped_ols_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # epoch seconds from the JVM-computed unix_micros long — Arrow
        # renders TimestampType as SESSION-LOCAL wall time in pandas, and
        # the OLS intercept is shift-sensitive (intercept drifts by
        # slope*utc_offset in a non-UTC session; the sessionizer TZ bug's
        # batch sibling). ts_us*1000 is the exact int64 nanosecond value
        # the old astype('int64') produced under UTC.
        x = pdf["ts_us"].to_numpy() * 1000 / 1e9
        y = pdf["value"].to_numpy()
        xm, ym = x.mean(), y.mean()
        dx = x - xm
        slope = (dx * (y - ym)).sum() / (dx * dx).sum()
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "slope": [round(slope, 6)],
                "intercept": [round(ym - slope * xm, 4)],
                "n": [len(pdf)],
            }
        )

    ev = load_fixture(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return ev.groupBy("event_type").applyInPandas(
        fit, "event_type string, slope double, intercept double, n long"
    )


@register(
    "dedup_debounce",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, event_type, ts,
               LAG(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type
    FROM seq
    WHERE prev_ts IS NULL OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 3600
    """,
    doc="Windowed event deduplication (debounce): keep an event only if "
    "the same user produced no same-type event in the preceding hour — "
    "the batch twin of stream_dedup's state-store dedup, and the "
    "retry/double-fire scrubber of event pipelines. One LAG in one "
    "partition sort; no self-join against the time window.",
)
def dedup_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            F.col("prev_ts").isNull()
            | (F.col("ts").cast("long") - F.col("prev_ts").cast("long") > 3600)
        )
        .select("event_id", "user_id", "event_type")
    )


@register(
    "agg_mode_per_group",
    oracle="""
    SELECT user_id, event_type AS mode_type, CAST(n AS BIGINT) AS n
    FROM (
        SELECT user_id, event_type, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type) AS rk
        FROM events GROUP BY user_id, event_type
    ) WHERE rk = 1
    """,
    doc="Deterministic per-group mode (most frequent event type per "
    "user): count + windowed argmax with a lexicographic tie-break — "
    "builtin mode() exists on both engines but leaves ties "
    "engine-defined, so the explicit form IS the portable semantics. "
    "Count shuffle combines map-side; the window runs over |users| x "
    "|types| rows.",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("n").cast("bigint").alias("n"))
    )


@register(
    "basket_association_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    pair AS (
        SELECT a.l_partkey AS ante, b.l_partkey AS cons, COUNT(*) AS both_n
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    freq AS (SELECT l_partkey, COUNT(*) AS part_n FROM items GROUP BY 1)
    SELECT ante, cons, CAST(both_n AS BIGINT) AS both_n,
           ROUND(both_n * 1.0 / fa.part_n, 6) AS confidence,
           ROUND(both_n * 1.0 * n.n_orders / (fa.part_n * fc.part_n), 6) AS lift
    FROM pair
    JOIN freq fa ON fa.l_partkey = ante
    JOIN freq fc ON fc.l_partkey = cons
    CROSS JOIN n
    WHERE both_n >= 3
    ORDER BY lift DESC, ante, cons LIMIT 20
    """,
    doc="Market-basket association rules over order line items: "
    "directed part pairs co-purchased in the same order, with "
    "confidence = P(cons|ante) and lift vs independence; top-20 by lift "
    "(support floor 3, deterministic tie-breaks). The pair self-join is "
    "per-order — bounded by (lines-per-order choose 2), never "
    "|parts|^2; part frequencies broadcast. The co-occurrence/"
    "recommendation primitive every retail warehouse runs.",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_fixture(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").cast("double").alias("n_orders"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("ante"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("cons"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("both_n"))
        .filter(F.col("both_n") >= 3)
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("part_n"))
    fa = freq.select(F.col("l_partkey").alias("ante"), F.col("part_n").alias("ante_n"))
    fc = freq.select(F.col("l_partkey").alias("cons"), F.col("part_n").alias("cons_n"))
    return (
        pair.join(F.broadcast(fa), "ante")
        .join(F.broadcast(fc), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            F.col("both_n").cast("bigint").alias("both_n"),
            F.round(F.col("both_n") * F.lit(1.0) / F.col("ante_n"), 6).alias("confidence"),
            F.round(
                F.col("both_n") * F.lit(1.0) * F.col("n_orders")
                / (F.col("ante_n") * F.col("cons_n")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "ante", "cons")
        .limit(20)
    )


@register(
    "timeseries_seasonal_residual",
    oracle="""
    WITH base AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
               AVG(value) AS baseline
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.event_type,
           CAST(EXTRACT(hour FROM e.ts) AS INTEGER) AS hr,
           ROUND(e.value, 6) AS value,
           ROUND(b.baseline, 6) AS baseline,
           ROUND(e.value - b.baseline, 6) AS residual
    FROM events e
    JOIN base b ON b.event_type = e.event_type
               AND b.hr = CAST(EXTRACT(hour FROM e.ts) AS INTEGER)
    WHERE abs(ROUND(e.value - b.baseline, 6)) > CAST(200.0 AS DOUBLE)
    """,
    doc="Seasonal-baseline anomaly detection (STL-lite): the hour-of-day "
    "x type mean is the seasonal profile (|types| x 24 rows, broadcast "
    "back), residual = value - baseline, flag |residual| > 200. The "
    "time-of-day-aware twin of the global z-score/MAD detectors — a "
    "spike at 3 am is judged against 3 am, not the all-day mean. AVG "
    "over doubles is engine-order-sensitive in the 17th digit, so the "
    "flag compares the ROUNDED residual.",
)
def timeseries_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    hr = F.hour("ts").cast("int")
    base = ev.groupBy("event_type", hr.alias("hr")).agg(F.avg("value").alias("baseline"))
    resid = F.round(F.col("value") - F.col("baseline"), 6)
    return (
        ev.withColumn("hr", hr)
        .join(F.broadcast(base), ["event_type", "hr"])
        .select(
            "event_id",
            "event_type",
            "hr",
            F.round("value", 6).alias("value"),
            F.round("baseline", 6).alias("baseline"),
            resid.alias("residual"),
        )
        .filter(F.abs(F.col("residual")) > F.lit(200.0))
    )


@register(
    "supplier_latency_scorecard",
    oracle="""
    SELECT l.l_suppkey AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(AVG(CAST(floor(epoch(l.l_shipdate)) - floor(epoch(o.o_orderdate))
                          AS DOUBLE)) / 86400.0, 4) AS avg_ship_days,
           CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           ROUND(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS late_rate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_suppkey
    """,
    doc="Supplier latency scorecard: order-to-ship lag per supplier with "
    "a 90-day SLA breach rate — the operational-analytics join every "
    "warehouse derives from its fact tables. One key-partitioned join "
    "(AQE-coalesced) + one supplier aggregation; the lag AVG divides "
    "exact integer epoch-seconds so only the final projection rounds.",
)
def supplier_latency_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_fixture(spark, sf_dir, "lineitem")
    o = load_fixture(spark, sf_dir, "orders")
    lag_s = (
        F.col("l_shipdate").cast("long") - F.col("o_orderdate").cast("long")
    ).cast("double")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"), 1
    ).otherwise(0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.avg(lag_s) / F.lit(86400.0), 4).alias("avg_ship_days"),
            F.sum(late).cast("bigint").alias("n_late"),
            F.round(F.sum(late) * F.lit(1.0) / F.count(F.lit(1)), 6).alias("late_rate"),
        )
    )


@register(
    "attribution_first_last_touch",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS pts, ROUND(value, 6) AS value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ),
    j AS (
        SELECT p.purchase_id, p.user_id, p.value,
               MIN({'cts': c.cts, 'click_id': c.click_id}) AS ft,
               MAX({'cts': c.cts, 'click_id': c.click_id}) AS lt
        FROM p JOIN c
          ON c.user_id = p.user_id
         AND c.cts <= p.pts AND c.cts > p.pts - INTERVAL 7 DAY
        GROUP BY p.purchase_id, p.user_id, p.value
    )
    SELECT purchase_id, user_id, value,
           ft.click_id AS first_touch_click, lt.click_id AS last_touch_click
    FROM j
    """,
    doc="Conversion attribution: for every purchase, the FIRST and LAST "
    "click of the same user inside a 7-day lookback — first-touch / "
    "last-touch credit, the marketing-analytics join (purchases without "
    "an attributable click drop out). Struct-ordered MIN/MAX pick the "
    "extremal (ts, click_id) pair in one aggregation — deterministic tie "
    "order, no per-purchase window sort; the user+time-range join is the "
    "bounded range-join shape.",
)
def attribution_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
        F.round("value", 6).alias("value"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    j = p.join(
        c,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 7 DAY")),
    )
    return (
        j.groupBy("purchase_id", "user_id", "value")
        .agg(
            F.min(F.struct("cts", "click_id")).alias("ft"),
            F.max(F.struct("cts", "click_id")).alias("lt"),
        )
        .select(
            "purchase_id",
            "user_id",
            "value",
            F.col("ft.click_id").alias("first_touch_click"),
            F.col("lt.click_id").alias("last_touch_click"),
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH agg AS (
        SELECT o_custkey,
               CAST(floor(epoch((SELECT MAX(o_orderdate) FROM orders))) -
                    floor(epoch(MAX(o_orderdate))) AS BIGINT) / 86400 AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary,
           CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INTEGER) AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_score
    FROM agg
    """,
    doc="RFM customer segmentation: per-customer recency (days since "
    "last order, vs corpus max date), frequency, and DECIMAL-exact "
    "monetary total, each scored into quintiles with deterministic "
    "key tie-breaks. One customer aggregation; each quintile score is "
    "the EXACT global rank from a two-level prefix-sum (range-bucketed, "
    "parallel within-bucket sorts) followed by NTILE's integer "
    "arithmetic — no single-partition window over the customer "
    "dimension at any scale. The oracle's NTILE windows are the "
    "semantic spec, not the plan.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import two_level_cumsum

    o = load_fixture(spark, sf_dir, "orders")
    # one fact scan: the corpus max date is the max of the per-customer
    # maxes, so it comes from the checkpointed customer aggregate
    cust = cut(
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("monetary"),
        )
    )
    mx = cust.agg(F.max("last_order").alias("mxd"))
    agg = (
        cust.crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            (
                (F.col("mxd").cast("long") - F.col("last_order").cast("long"))
                / F.lit(86400)
            )
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # Three independent orderings melt into ONE long relation
    # (customer, metric, sort value) — DESC orders negate the value, all
    # three values are exactly representable as doubles — so a single
    # two-level rank pass (key = metric) scores all three. NTILE(k) is
    # then pure integer arithmetic on the global rank: the first n % k
    # tiles take n div k + 1 rows, the rest n div k.
    melted = agg.select(
        "o_custkey",
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("r"), F.lit("f"), F.lit("m")),
                F.array(
                    F.col("recency_days").cast("double"),
                    -F.col("frequency").cast("double"),
                    -F.col("monetary"),
                ),
            )
        ).alias("_metric", "_v"),
    ).withColumn("_one", F.lit(1))
    ranked = two_level_cumsum(
        melted, ["_metric"], "_v", ["o_custkey"], {"_rn": "_one"}
    )
    scores = ranked.groupBy("o_custkey").agg(
        *[
            F.max(F.when(F.col("_metric") == k, F.col("_rn"))).alias(f"_rn_{k}")
            for k in ("r", "f", "m")
        ]
    )
    n1 = agg.agg(F.count(F.lit(1)).alias("_n"))

    def tile(rn: str) -> F.Column:
        return F.expr(
            f"CAST(IF({rn} <= (_n % 5) * (_n div 5 + 1), "
            f"({rn} - 1) div (_n div 5 + 1), "
            f"_n % 5 + ({rn} - 1 - (_n % 5) * (_n div 5 + 1)) div (_n div 5)) "
            f"+ 1 AS INT)"
        )

    return (
        agg.join(scores, "o_custkey")
        .crossJoin(F.broadcast(n1))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary",
            tile("_rn_r").alias("r_score"),
            tile("_rn_f").alias("f_score"),
            tile("_rn_m").alias("m_score"),
        )
    )


@register(
    "session_bounce_rate",
    oracle="""
    WITH sess AS (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS bounce_rate
    FROM sess GROUP BY day
    """,
    doc="Daily bounce rate: user-day sessions with exactly one event, as "
    "a share of all sessions that day — the engagement KPI of web "
    "analytics, two chained map-side-combining aggregations (user-day "
    "then day).",
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    sess = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sess.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        F.round(bounce * F.lit(1.0) / F.count(F.lit(1)), 6).alias("bounce_rate"),
    )


@register(
    "ab_test_lift",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    arms AS (
        SELECT user_id,
               CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS arm
        FROM users
    ),
    conv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    j AS (
        SELECT a.arm,
               CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_conv
        FROM arms a LEFT JOIN conv c ON a.user_id = c.user_id
    ),
    agg AS (
        SELECT
            CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN arm = 'A' THEN is_conv ELSE 0 END) AS BIGINT) AS conv_a,
            CAST(SUM(CASE WHEN arm = 'B' THEN is_conv ELSE 0 END) AS BIGINT) AS conv_b
        FROM j
    )
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
           ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
           ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                 - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS lift,
           ROUND(
               (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
               / NULLIF(sqrt(
                   (CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (CAST(1.0 AS DOUBLE)
                      - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                   * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                      + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))
               ), CAST(0.0 AS DOUBLE)), 6) AS z
    FROM agg
    """,
    doc="Experiment analysis: users deterministically hash-split into A/B "
    "arms by the first md5 hex nibble of user_id (the real-world bucketing "
    "trick — assignment is reproducible from the id alone, no assignment "
    "table to join), conversion = any purchase event, reporting per-arm "
    "rates, absolute lift, and the pooled two-proportion z statistic. "
    "Everything reduces to ONE conditional aggregate over the distinct-user "
    "relation — at 100 TB the only shuffles are the two user_id distincts "
    "(map-side partial), and the final stats are a single row. md5 is "
    "identical in both engines so the arm split itself is oracle-checked.",
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
            list("01234567")
        ),
        "A",
    ).otherwise("B")
    arms = ev.select("user_id").distinct().select("user_id", arm.alias("arm"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("conv_mark", F.lit(1))
    )
    j = arms.join(conv, "user_id", "left").select(
        "arm", F.coalesce(F.col("conv_mark"), F.lit(0)).alias("is_conv")
    )
    agg = j.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("is_conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("is_conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(pb - pa, 6).alias("lift"),
        F.round((pb - pa) / F.nullif(se, F.lit(0.0)), 6).alias("z"),
    )


@register(
    "quantile_histogram_approx",
    oracle="""
    WITH v AS (SELECT o_totalprice AS x FROM orders),
    s AS (SELECT MIN(x) AS mn, MAX(x) AS mx, CAST(COUNT(*) AS BIGINT) AS n FROM v),
    h AS (
        SELECT CAST(LEAST(FLOOR((v.x - s.mn) / (s.mx - s.mn)
                                * CAST(1000.0 AS DOUBLE)),
                          CAST(999.0 AS DOUBLE)) AS BIGINT) AS b,
               COUNT(*) AS c
        FROM v CROSS JOIN s
        GROUP BY 1
    ),
    cum AS (SELECT b, SUM(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cr FROM h),
    pick AS (
        SELECT
            (SELECT MIN(b) FROM cum, s WHERE cr >= CAST(0.5 AS DOUBLE) * s.n) AS b50,
            (SELECT MIN(b) FROM cum, s WHERE cr >= CAST(0.95 AS DOUBLE) * s.n) AS b95,
            (SELECT MIN(b) FROM cum, s WHERE cr >= CAST(0.99 AS DOUBLE) * s.n) AS b99
    )
    SELECT
        s.n AS n_rows,
        ROUND(quantile_cont(v.x, 0.5), 4) AS p50_exact,
        ROUND(MIN(s.mn + (CAST(p.b50 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  / CAST(1000.0 AS DOUBLE) * (s.mx - s.mn)), 4) AS p50_hist,
        ROUND(quantile_cont(v.x, 0.95), 4) AS p95_exact,
        ROUND(MIN(s.mn + (CAST(p.b95 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  / CAST(1000.0 AS DOUBLE) * (s.mx - s.mn)), 4) AS p95_hist,
        ROUND(quantile_cont(v.x, 0.99), 4) AS p99_exact,
        ROUND(MIN(s.mn + (CAST(p.b99 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  / CAST(1000.0 AS DOUBLE) * (s.mx - s.mn)), 4) AS p99_hist
    FROM v CROSS JOIN s CROSS JOIN pick p
    GROUP BY s.n
    """,
    doc="Single-pass histogram quantiles next to the exact sort-based "
    "percentiles: 1000 equal-width buckets over [min,max], cumulative "
    "counts, estimate = midpoint of the first bucket whose running count "
    "crosses p*n. THE scale path for percentiles at 100 TB — one narrow "
    "(bucket,count) aggregate whose shuffle is <=1000 rows regardless of "
    "input size, vs the exact percentile's full sort — and, unlike the "
    "KLL sketch twin (agg_approx_quantiles, rows-only), every estimated "
    "value here is deterministic arithmetic, so the approximation itself "
    "is value-oracled. Exact interpolation semantics match between "
    "Spark `percentile` and DuckDB `quantile_cont` (linear, (n-1)*p).",
)
def quantile_histogram_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load_fixture(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x")
    )
    s = v.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    width = F.col("mx") - F.col("mn")
    b = F.least(
        F.floor((F.col("x") - F.col("mn")) / width * F.lit(1000.0)),
        F.lit(999.0),
    ).cast("bigint")
    h = (
        v.crossJoin(F.broadcast(s))
        .select(b.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window

    cum = h.select(
        "b",
        F.sum("c")
        .over(Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cr"),
    )

    def pick(q: float, name: str) -> DataFrame:
        return (
            cum.crossJoin(F.broadcast(s))
            .filter(F.col("cr") >= F.lit(q) * F.col("n"))
            .agg(F.min("b").alias(name))
        )

    picks = (
        pick(0.5, "b50")
        .crossJoin(pick(0.95, "b95"))
        .crossJoin(pick(0.99, "b99"))
    )

    def est(bcol: str) -> F.Column:
        return F.col("mn") + (F.col(bcol).cast("double") + F.lit(0.5)) / F.lit(
            1000.0
        ) * (F.col("mx") - F.col("mn"))

    exact = v.agg(
        F.round(F.expr("percentile(x, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(x, 0.95)"), 4).alias("p95_exact"),
        F.round(F.expr("percentile(x, 0.99)"), 4).alias("p99_exact"),
    )
    return (
        s.crossJoin(F.broadcast(picks))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("n").alias("n_rows"),
            "p50_exact",
            F.round(est("b50"), 4).alias("p50_hist"),
            "p95_exact",
            F.round(est("b95"), 4).alias("p95_hist"),
            "p99_exact",
            F.round(est("b99"), 4).alias("p99_hist"),
        )
    )


def _geo_coords_sql() -> str:
    """DuckDB CTE assigning each supplier deterministic md5-derived
    coordinates (portable twin of the Spark expressions in
    ``geo_proximity_join``): lat in [30, 50), lon in [-10, 30) — a
    bounded region so the fixture has meaningful pair density."""
    from .search import _hex4_mod_sql

    lat = _hex4_mod_sql("md5('lat:' || CAST(s_suppkey AS VARCHAR))", 2000)
    lon = _hex4_mod_sql("md5('lon:' || CAST(s_suppkey AS VARCHAR))", 4000)
    return f"""
    pts AS (
        SELECT s_suppkey AS id,
               CAST({lat} AS DOUBLE) / CAST(100.0 AS DOUBLE)
                   + CAST(30.0 AS DOUBLE) AS lat,
               CAST({lon} AS DOUBLE) / CAST(100.0 AS DOUBLE)
                   - CAST(10.0 AS DOUBLE) AS lon
        FROM supplier
    )"""


_HAVERSINE_SQL = """
    CAST(2.0 AS DOUBLE) * CAST(6371.0 AS DOUBLE) * asin(sqrt(
        sin(radians(b.lat - a.lat) / CAST(2.0 AS DOUBLE))
        * sin(radians(b.lat - a.lat) / CAST(2.0 AS DOUBLE))
        + cos(radians(a.lat)) * cos(radians(b.lat))
          * sin(radians(b.lon - a.lon) / CAST(2.0 AS DOUBLE))
          * sin(radians(b.lon - a.lon) / CAST(2.0 AS DOUBLE))
    ))"""


@register(
    "geo_proximity_join",
    oracle="WITH "
    + _geo_coords_sql()
    + f""",
    cells AS (
        SELECT id, lat, lon,
               CAST(FLOOR(lat) AS BIGINT) AS cy,
               CAST(FLOOR(lon) AS BIGINT) AS cx
        FROM pts
    ),
    probes AS (
        SELECT c.id, c.lat, c.lon,
               c.cy + dy.dy AS py, c.cx + dx.dx AS px
        FROM cells c
        CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
        CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) dx(dx)
    ),
    cand AS (
        SELECT a.id AS id_a, a.lat, a.lon,
               b.id AS id_b, b.lat AS lat_b, b.lon AS lon_b
        FROM probes a JOIN cells b ON a.py = b.cy AND a.px = b.cx
        WHERE a.id < b.id
    )
    SELECT id_a, id_b, ROUND(dist_km, 4) AS dist_km
    FROM (
        SELECT id_a, id_b, {_HAVERSINE_SQL.replace("a.lat", "lat").replace("a.lon", "lon").replace("b.lat", "lat_b").replace("b.lon", "lon_b")} AS dist_km
        FROM cand
    )
    WHERE ROUND(dist_km, 4) <= CAST(100.0 AS DOUBLE)
    """,
    doc="Geo proximity self-join: suppliers (standing in for the "
    "reference's artists dimension, which carries latitude/longitude "
    "DECIMAL(9) columns — reference sql_queries.py:103-104) get "
    "deterministic md5-derived coordinates, and every pair within 100 km "
    "is found by a GRID-BUCKETED candidate join: points bucket into 1-deg "
    "cells, each point probes its 3x5 neighbor window (5-wide in "
    "longitude because 1 deg lon shrinks to ~55 km at |lat|=60), "
    "candidates equi-join on the cell key, and only candidates pay the "
    "haversine. The 2-D analog of interval_overlap_join's grid trick: "
    "no cross join at any scale — the shuffle is on cell keys, candidate "
    "count is bounded by local density, and the distance filter is "
    "rounded before the threshold compare so 1-ulp libm differences "
    "cannot flip membership.",
)
def geo_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_fixture(spark, sf_dir, "supplier")

    def hex4(prefix: str, width: int) -> F.Column:
        hx = F.md5(F.concat(F.lit(prefix + ":"), F.col("s_suppkey").cast("string")))
        return F.conv(F.substring(hx, 1, 4), 16, 10).cast("int") % F.lit(width)

    pts = sup.select(
        F.col("s_suppkey").alias("id"),
        (hex4("lat", 2000).cast("double") / F.lit(100.0) + F.lit(30.0)).alias("lat"),
        (hex4("lon", 4000).cast("double") / F.lit(100.0) - F.lit(10.0)).alias("lon"),
    )
    cells = pts.select(
        "id", "lat", "lon",
        F.floor("lat").cast("bigint").alias("cy"),
        F.floor("lon").cast("bigint").alias("cx"),
    )
    probes = (
        cells.crossJoin(F.broadcast(spark.range(-1, 2).select(F.col("id").alias("dy"))))
        .crossJoin(F.broadcast(spark.range(-2, 3).select(F.col("id").alias("dx"))))
        .select(
            F.col("id").alias("id_a"),
            F.col("lat").alias("lat_a"),
            F.col("lon").alias("lon_a"),
            (F.col("cy") + F.col("dy")).alias("py"),
            (F.col("cx") + F.col("dx")).alias("px"),
        )
    )
    cand = probes.join(
        cells.select(
            F.col("id").alias("id_b"),
            F.col("lat").alias("lat_b"),
            F.col("lon").alias("lon_b"),
            "cy",
            "cx",
        ),
        (F.col("py") == F.col("cy")) & (F.col("px") == F.col("cx")),
    ).filter(F.col("id_a") < F.col("id_b"))

    dlat = F.radians(F.col("lat_b") - F.col("lat_a")) / F.lit(2.0)
    dlon = F.radians(F.col("lon_b") - F.col("lon_a")) / F.lit(2.0)
    dist = (
        F.lit(2.0)
        * F.lit(6371.0)
        * F.asin(
            F.sqrt(
                F.sin(dlat) * F.sin(dlat)
                + F.cos(F.radians("lat_a"))
                * F.cos(F.radians("lat_b"))
                * F.sin(dlon)
                * F.sin(dlon)
            )
        )
    )
    return (
        cand.select("id_a", "id_b", F.round(dist, 4).alias("dist_km"))
        .filter(F.col("dist_km") <= F.lit(100.0))
    )


@register(
    "timeseries_theilsen_trend",
    oracle="""
    WITH daily AS (
        SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM lineitem
        GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
    ),
    slopes AS (
        SELECT a.flag,
               (b.rev - a.rev) / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON a.flag = b.flag AND a.day < b.day
    ),
    ranked AS (
        SELECT flag, slope,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY slope) AS rn,
               COUNT(*) OVER (PARTITION BY flag) AS n
        FROM slopes
    ),
    med AS (
        SELECT flag, CAST(ANY_VALUE(n) AS BIGINT) AS n_pairs,
               AVG(slope) AS sen_slope
        FROM ranked
        WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        GROUP BY flag
    )
    SELECT d.flag,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           m.n_pairs,
           ROUND(m.sen_slope, 6) AS sen_slope
    FROM daily d
    JOIN med m ON m.flag = d.flag
    GROUP BY d.flag, m.n_pairs, m.sen_slope
    """,
    doc="Theil-Sen robust trend per return-flag series: the median of all "
    "pairwise slopes of the daily-revenue series — outlier-resistant "
    "(29% breakdown point) where OLS (agg_regression_stats) is not. "
    "Daily revenue accumulates as DECIMAL (associative-exact across "
    "either engine's summation order) and casts to DOUBLE once, so every "
    "pairwise slope is the identical IEEE value in both engines.",
)
def timeseries_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the pair join is a self-join of the DAILY aggregate —
    |days|^2/2 rows per group, bounded by the calendar (not the fact
    table: 10 years of days is ~3.7k rows -> ~7M pairs per group at ANY
    corpus scale), so Theil-Sen over a 100 TB fact table costs one
    map-side-combined daily rollup plus a fixed-size pair median. The
    exact median is NOT percentile() (whose object-agg buffer
    materializes every group value in one in-memory row — measured
    Java-heap OOM on a 1 GiB default session at 9.4M slopes) and NOT a
    full per-group window sort (3 flags -> 3 tasks sort 3.1M rows each —
    measured 11 s): it is the two-pass banded exact median. Pass 1:
    per-flag cell counts on a fixed log grid — pure arithmetic,
    map-side combined; the bounded cell cumsum locates the middle-rank
    cells AND the exact rows-below-band count. Pass 2: ONLY the band
    cells' rows sort in the per-group window, and the global midpoint
    ranks are picked as count_below + band_rank. Pair generation broadcasts the
    calendar-bounded daily relation so the fanout join parallelizes
    across the repartitioned probe side instead of the 3 flag keys.
    Both engines state the identical midpoint formula (avg of the one
    or two middle ranks), sidestepping quantile_cont's lo+(hi-lo)*f vs
    (lo+hi)/2 ulp gap; the grid only narrows WHERE the sort happens,
    never which values are picked. The banded median lives in
    operators/stats.py:banded_exact_median."""
    li = load_fixture(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("rev")
        )
    )
    a = daily.select(
        "flag", F.col("day").alias("da"), F.col("rev").alias("ra")
    ).repartition(32)
    b = daily.select("flag", F.col("day").alias("db"), F.col("rev").alias("rb"))
    slopes = cut(
        a.join(F.broadcast(b), "flag")
        .filter(F.col("da") < F.col("db"))
        # try_divide, not /: under ANSI mode Catalyst may reorder a
        # downstream slope predicate before the da<db conjunct, evaluating
        # the division for same-day pairs (datediff 0) and raising
        # DIVIDE_BY_ZERO; try_divide yields NULL there and those rows are
        # filtered regardless.
        .select(
            "flag",
            F.try_divide(
                F.col("rb") - F.col("ra"), F.datediff("db", "da").cast("double")
            ).alias("slope"),
        ),
        # the cell-count pass and the band pass both consume this
        # |days|^2-row relation; materialize it once.
        eager=False,
    )
    from ..operators.stats import banded_exact_median

    med = banded_exact_median(
        slopes, ["flag"], "slope", out_col="sen_slope"
    ).withColumnRenamed("n", "n_pairs")
    days = daily.groupBy("flag").agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return days.join(med, "flag").select(
        "flag", "n_days", "n_pairs", F.round("sen_slope", 6).alias("sen_slope")
    )


@register(
    "skyline_pareto_orders",
    oracle="""
    WITH o AS (
        SELECT o_orderkey AS order_key, o_totalprice AS price,
               CAST(o_orderdate AS DATE) AS day
        FROM orders
    ),
    g AS (SELECT price, MIN(day) AS mdate FROM o GROUP BY price),
    b AS (SELECT MIN(price) AS pmin, MAX(price) AS pmax FROM g),
    gb AS (
        SELECT g.price, g.mdate,
               CAST(FLOOR((g.price - b.pmin)
                    / GREATEST((b.pmax - b.pmin) / 2048.0, CAST(1e-9 AS DOUBLE)))
                    AS BIGINT) AS bkt
        FROM g CROSS JOIN b
    ),
    l1 AS (
        SELECT price, mdate, bkt,
               MIN(mdate) OVER (PARTITION BY bkt ORDER BY price
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS local_prev
        FROM gb
    ),
    bs AS (SELECT bkt, MIN(mdate) AS bmin FROM gb GROUP BY bkt),
    bp AS (
        SELECT bkt,
               MIN(bmin) OVER (ORDER BY bkt
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prefix_prev
        FROM bs
    ),
    dom AS (
        SELECT l1.price, l1.mdate,
               LEAST(COALESCE(l1.local_prev, DATE '9999-12-31'),
                     COALESCE(bp.prefix_prev, DATE '9999-12-31')) AS prev_min
        FROM l1 JOIN bp ON bp.bkt = l1.bkt
    )
    SELECT o.order_key, ROUND(o.price, 2) AS price, o.day
    FROM o JOIN dom ON dom.price = o.price
    WHERE NOT (dom.prev_min <= o.day OR dom.mdate < o.day)
    """,
    doc="2-D skyline (Pareto frontier) of orders: minimize (price, date); "
    "an order is dominated iff some strictly-cheaper order is no later "
    "(prev_min <= day) or an equal-priced order is strictly earlier "
    "(mdate < day). Equal (price, day) points co-exist on the frontier.",
)
def skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: NO global sort. Prices group to a distinct-price
    relation, fixed-width bucket ids come from a 1-row (min,max)
    broadcast, and the running strictly-cheaper MIN(date) is the
    two-level prefix-min (the pack_sequences idiom): a per-bucket window
    (parallel across <=2048 buckets) plus one <=2048-row bucket-summary
    window — bounded by construction whatever the order count. The
    dominance verdict then joins back to the fact by price. Equal prices
    share a bucket (floor of identical doubles), so cross-bucket rows
    are strictly cheaper by construction."""
    from pyspark.sql.window import Window

    o = load_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").cast("date").alias("day"),
    )
    g = o.groupBy("price").agg(F.min("day").alias("mdate"))
    b = g.agg(F.min("price").alias("pmin"), F.max("price").alias("pmax"))
    gb = g.crossJoin(F.broadcast(b)).select(
        "price",
        "mdate",
        # GREATEST guard: an all-equal-price relation would make the
        # width 0.0 -> Inf buckets -> ANSI bigint-cast error.
        F.floor((F.col("price") - F.col("pmin"))
                / F.greatest((F.col("pmax") - F.col("pmin")) / F.lit(2048.0),
                             F.lit(1e-9)))
        .cast("bigint")
        .alias("bkt"),
    )
    w1 = (
        Window.partitionBy("bkt")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    l1 = gb.withColumn("local_prev", F.min("mdate").over(w1))
    bs = gb.groupBy("bkt").agg(F.min("mdate").alias("bmin"))
    w2 = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bp = bs.withColumn("prefix_prev", F.min("bmin").over(w2)).select(
        "bkt", "prefix_prev"
    )
    far = F.lit("9999-12-31").cast("date")
    dom = l1.join(F.broadcast(bp), "bkt").select(
        "price",
        "mdate",
        F.least(
            F.coalesce("local_prev", far), F.coalesce("prefix_prev", far)
        ).alias("prev_min"),
    )
    return (
        o.join(dom, "price")
        .filter(~((F.col("prev_min") <= F.col("day")) | (F.col("mdate") < F.col("day"))))
        .select("order_key", F.round("price", 2).alias("price"), "day")
    )


@register(
    "intervals_max_concurrency",
    oracle="""
    WITH iv AS (
        SELECT l.l_returnflag AS flag,
               CAST(o.o_orderdate AS DATE) AS d0,
               CAST(l.l_shipdate AS DATE) AS d1
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
    ),
    ev AS (
        SELECT flag, d0 AS day, 1 AS delta FROM iv
        UNION ALL
        SELECT flag, d1 + 1 AS day, -1 AS delta FROM iv
    ),
    daily AS (SELECT flag, day, SUM(delta) AS delta FROM ev GROUP BY flag, day),
    run AS (
        SELECT flag, day,
               SUM(delta) OVER (PARTITION BY flag ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS concurrency
        FROM daily
    )
    SELECT flag,
           CAST(MAX(concurrency) AS BIGINT) AS peak_concurrency,
           MIN(day) FILTER (WHERE concurrency = (
               SELECT MAX(concurrency) FROM run r2 WHERE r2.flag = run.flag
           )) AS first_peak_day
    FROM run
    GROUP BY flag
    """,
    doc="Peak interval concurrency (max in-flight order->ship lineitems "
    "per return flag, and the first day it occurs) — the classic "
    "sweep-line rewrite: each interval decomposes to a +1 event at its "
    "start and a -1 at end+1, deltas pre-aggregate per (flag, day), and "
    "the running prefix sum over the DAILY deltas is the concurrency "
    "curve. Never enumerates interval x day pairs.",
)
def intervals_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: 2 event rows per interval collapse to a (flag, day)
    pre-aggregate BEFORE any window — the running sum then runs over a
    calendar-bounded relation (|days| rows per flag at any fact size),
    not the fact table; max+argmin are one more tiny aggregate. The
    naive alternatives (interval x day explode, or a per-row COUNT(*)
    range self-join) grow with data x span; this plan grows only in the
    pre-aggregate shuffle."""
    from pyspark.sql.window import Window

    li = load_fixture(spark, sf_dir, "lineitem")
    o = load_fixture(spark, sf_dir, "orders")
    iv = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("o_orderdate").cast("date").alias("d0"),
            F.col("l_shipdate").cast("date").alias("d1"),
        )
        .filter(F.col("d1") >= F.col("d0"))
    )
    ev = iv.select("flag", F.col("d0").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select("flag", F.expr("date_add(d1, 1)").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = ev.groupBy("flag", "day").agg(F.sum("delta").alias("delta"))
    w = Window.partitionBy("flag").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = daily.withColumn("concurrency", F.sum("delta").over(w))
    peak = run.groupBy("flag").agg(F.max("concurrency").alias("peak"))
    return (
        run.join(peak, "flag")
        .filter(F.col("concurrency") == F.col("peak"))
        .groupBy("flag")
        .agg(
            F.first("peak").cast("bigint").alias("peak_concurrency"),
            F.min("day").alias("first_peak_day"),
        )
    )


@register(
    "agg_median_exact_banded",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag AS flag, l_extendedprice AS v,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
    )
    SELECT flag, CAST(ANY_VALUE(n) AS BIGINT) AS n,
           ROUND(AVG(v), 6) AS med
    FROM ranked
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY flag
    """,
    doc="EXACT per-group median at scale (operators/stats.py:"
    "banded_exact_median): a fixed log-grid cell histogram locates the "
    "middle rank(s) and the exact below-band count in one arithmetic "
    "pass, and only the band cells' rows sort — the classical exact "
    "median without percentile()'s all-values object-agg buffer or a "
    "full single-task window sort. The oracle states the same midpoint "
    "formula over a plain window (DuckDB's relation is small enough); "
    "the VALUES agree exactly because the grid only narrows where the "
    "sort happens.",
)
def agg_median_exact_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import banded_exact_median

    li = load_fixture(spark, sf_dir, "lineitem")
    return banded_exact_median(
        li.select("l_returnflag", "l_extendedprice").select(
            F.col("l_returnflag").alias("flag"), F.col("l_extendedprice")
        ),
        ["flag"],
        "l_extendedprice",
        out_col="med",
    ).select("flag", "n", F.round("med", 6).alias("med"))


@register(
    "sketch_hll_set_overlap",
    oracle="""
    WITH v AS (
        SELECT DISTINCT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS i
        FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           CAST(sa.n + sb.n - i.i AS BIGINT) AS est_union,
           CAST(i.i AS BIGINT) AS est_intersection,
           ROUND(CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE), 4) AS est_jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    doc="Set-overlap estimation from MERGEABLE sketches (inclusion-"
    "exclusion over HLL): for each pair of document sources, estimate "
    "|vocab_a ∩ vocab_b| = est(a) + est(b) - est(a ∪ b) and the Jaccard "
    "index, where the union estimate comes from hll_union of the two "
    "per-source sketches — NO rescan of either source. This is how "
    "100 TB corpus-overlap matrices are built: one sketch pass per "
    "source, then O(pairs) driver-free sketch merges. VALUE-ORACLED via "
    "the sketch's exact regime (same argument as "
    "agg_hll_mergeable): at fixture vocabulary sizes every per-source "
    "and pairwise-union lgK=12 sketch sits in LIST mode where estimates "
    "are exact, so the exact-intersection SQL hash-checks the "
    "inclusion-exclusion arithmetic end to end; the dense-regime "
    "accuracy floor is measured in "
    "tests/test_search.py::test_hll_set_overlap_accuracy.",
)
def sketch_hll_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.search import index_terms

    tok = load_fixture(spark, sf_dir, "documents").select(
        "source", F.explode(index_terms(F.col("text"))).alias("term")
    ).filter(F.col("source").isin("src0", "src1", "src2", "src3"))
    per = tok.groupBy("source").agg(F.expr("hll_sketch_agg(term, 12)").alias("sk"))
    a = per.select(F.col("source").alias("src_a"), F.col("sk").alias("sk_a"))
    b = per.select(F.col("source").alias("src_b"), F.col("sk").alias("sk_b"))
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    est_a = F.expr("hll_sketch_estimate(sk_a)")
    est_b = F.expr("hll_sketch_estimate(sk_b)")
    est_u = F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b, true))")
    inter = est_a + est_b - est_u
    return pairs.select(
        "src_a",
        "src_b",
        est_u.cast("bigint").alias("est_union"),
        inter.cast("bigint").alias("est_intersection"),
        F.round(inter / est_u, 4).alias("est_jaccard"),
    )


@register(
    "agg_trimmed_mean",
    oracle="""
    WITH seq AS (
        SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)),
                            l_orderkey, l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    marked AS (
        SELECT flag, v, rn, n, n // 10 AS lo
        FROM seq
    ),
    kept AS (
        SELECT flag, v, n, lo FROM marked WHERE rn > lo AND rn <= n - lo
    ),
    agg AS (
        SELECT flag, MAX(n) AS n, MAX(lo) AS lo,
               SUM(v) AS s_kept, COUNT(*) AS n_kept,
               MIN(v) AS low_val, MAX(v) AS high_val
        FROM kept GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           CAST(lo AS BIGINT) AS trimmed_each_side,
           ROUND(CAST(s_kept AS DOUBLE) / n_kept, 4) AS trimmed_mean,
           ROUND(CAST(s_kept + lo * (low_val + high_val) AS DOUBLE) / n, 4)
               AS winsorized_mean
    FROM agg
    """,
    doc="Robust location estimates per return flag: 10%-trimmed mean "
    "(drop floor(n/10) ranked rows per tail) and the matching "
    "winsorized mean (clamp tails to the kept boundary values). Rank "
    "cut points use INTEGER division (no 0.1 float), accumulation is "
    "DECIMAL(18,2)-exact, and the single double division happens only "
    "in the final 3-row projection — engine-identical at any partition "
    "order.",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: NO per-group sort over the fact relation. Rows
    collapse to the DISTINCT-value relation (flag, price, count, sum) in
    one map-side-combined shuffle; the exact running count per value and
    the per-flag totals come from value_ranks (range-bucketed, parallel
    within-bucket sorts). Rank-trim arithmetic then runs per distinct
    value: a value whose rank run [cum_c-c+1, cum_c] straddles a cut
    contributes exactly the clamped number of copies, so the
    trimmed/winsorized sums are EXACT — ties at the cut drop identical
    values either way. The oracle's per-row rank window is the
    semantic spec, not the plan."""
    from ..operators.stats import value_ranks

    li = load_fixture(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    # s: the exact DECIMAL sum of the value's copies (v * count)
    j = value_ranks(
        li.select(F.col("l_returnflag").alias("flag"), dec.alias("v")),
        ["flag"],
        "v",
        {"c": F.lit(1), "s": F.col("v")},
    ).withColumn("lo", F.expr("tot_c div 10"))
    trim_lo = F.greatest(
        F.lit(0), F.least(F.col("c"), F.col("lo") - (F.col("cum_c") - F.col("c")))
    )
    trim_hi = F.greatest(
        F.lit(0), F.least(F.col("c"), F.col("cum_c") - (F.col("tot_c") - F.col("lo")))
    )
    agg = j.groupBy("flag").agg(
        F.max("tot_c").alias("n"),
        F.max("lo").alias("lo"),
        F.max("tot_s").alias("s_all"),
        F.sum(trim_lo.cast("decimal(19,0)") * F.col("v")).alias("s_tlo"),
        F.sum(trim_hi.cast("decimal(19,0)") * F.col("v")).alias("s_thi"),
        F.min(F.when(F.col("cum_c") > F.col("lo"), F.col("v"))).alias("low_val"),
        F.max(
            F.when(
                F.col("cum_c") - F.col("c") < F.col("tot_c") - F.col("lo"), F.col("v")
            )
        ).alias("high_val"),
    )
    s_kept = F.col("s_all") - F.coalesce(F.col("s_tlo"), F.lit(0)) - F.coalesce(
        F.col("s_thi"), F.lit(0)
    )
    return agg.select(
        "flag",
        F.col("n").cast("bigint").alias("n"),
        F.col("lo").cast("bigint").alias("trimmed_each_side"),
        F.round(
            s_kept.cast("double") / (F.col("n") - 2 * F.col("lo")), 4
        ).alias("trimmed_mean"),
        F.round(
            (s_kept + F.col("lo") * (F.col("low_val") + F.col("high_val")))
            .cast("double")
            / F.col("n"),
            4,
        ).alias("winsorized_mean"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH seq AS (
        SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
               CAST(l_quantity AS DECIMAL(18,2)) AS w,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)),
                            l_orderkey, l_linenumber) AS cw,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                   PARTITION BY l_returnflag) AS tw
        FROM lineitem
    ),
    hit AS (
        SELECT flag, v, tw,
               ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cw, v) AS rk
        FROM seq WHERE cw * 2 >= tw
    )
    SELECT flag,
           ROUND(CAST(v AS DOUBLE), 2) AS weighted_median_price,
           ROUND(CAST(tw AS DOUBLE), 2) AS total_weight
    FROM hit WHERE rk = 1
    """,
    doc="Exact weighted median: smallest price whose cumulative quantity "
    "weight reaches half the group's total — the inventory-weighted "
    "'typical price' a plain median misstates. The half-total test is "
    "cw * 2 >= tw in DECIMAL (no 0.5 float, no division), cumulative "
    "weights are DECIMAL-exact at any partition order, and the unique "
    "(price, orderkey, linenumber) sort makes the selected row "
    "engine-identical.",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: NO per-group sort over the fact relation. Rows
    collapse to the DISTINCT-value relation (flag, price, weight sum) in
    one map-side-combined shuffle; the exact inclusive running weight
    per value and the per-flag total weight come from value_ranks. The
    crossing value — the smallest price whose inclusive cumulative weight
    reaches half the total — is identical to the oracle's first crossing
    ROW's price: within a tie run the row-level crossing happens at the
    same price the run-level crossing names. The oracle's per-row window is the semantic spec, not the
    plan."""
    from ..operators.stats import value_ranks

    li = load_fixture(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("decimal(18,2)")
    w = F.col("l_quantity").cast("decimal(18,2)")
    return (
        value_ranks(
            li.select(F.col("l_returnflag").alias("flag"), v.alias("v"), w.alias("w")),
            ["flag"],
            "v",
            {"w": F.col("w")},
        )
        .filter(F.col("cum_w") * 2 >= F.col("tot_w"))
        .groupBy("flag")
        .agg(
            F.round(F.min("v").cast("double"), 2).alias("weighted_median_price"),
            F.round(F.max("tot_w").cast("double"), 2).alias("total_weight"),
        )
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
    WITH m AS (
        SELECT l_returnflag AS flag,
               COUNT(*) AS n,
               SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS s1,
               SUM(CAST(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS s2,
               SUM(CAST(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS s3,
               SUM(CAST(CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT)
                        * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS s4
        FROM lineitem GROUP BY l_returnflag
    ),
    d AS (
        SELECT flag, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4
        FROM m
    ),
    c AS (
        SELECT flag, n, mu,
               r2 - mu * mu AS m2,
               r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
               r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                  - 3.0 * mu * mu * mu * mu AS m4
        FROM d
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           ROUND(mu, 6) AS mean_qty,
           ROUND(m2, 6) AS var_pop,
           ROUND(m3 / NULLIF(sqrt(m2) * m2, 0.0), 6) AS skewness,
           ROUND(m4 / NULLIF(m2 * m2, 0.0) - 3.0, 6) AS excess_kurtosis
    FROM c
    """,
    doc="Population skewness and excess kurtosis per return flag from "
    "EXACT raw moments: quantities are integral, so S1..S4 accumulate "
    "as DECIMAL(38,0) integers (associative-exact at any partition "
    "order — the built-in skewness()/kurtosis() aggregates fold in "
    "doubles and are order-sensitive, which is why they can't be "
    "hash-graded); the central-moment conversion runs on the exact "
    "sums in one identical double op sequence per engine, with "
    "sqrt(m2)*m2 in place of pow(m2,1.5) (sqrt is correctly rounded "
    "everywhere, libm pow is not).",
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate carrying four
    decimal partials per group — the textbook mergeable-moments
    pattern; output is |groups| rows."""
    li = load_fixture(spark, sf_dir, "lineitem")
    qb = F.col("l_quantity").cast("bigint")
    m = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qb.cast("decimal(38,0)")).alias("s1"),
        F.sum((qb * qb).cast("decimal(38,0)")).alias("s2"),
        F.sum((qb * qb * qb).cast("decimal(38,0)")).alias("s3"),
        F.sum((qb * qb * qb * qb).cast("decimal(38,0)")).alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    r2 = F.col("s2").cast("double") / F.col("n")
    r3 = F.col("s3").cast("double") / F.col("n")
    r4 = F.col("s4").cast("double") / F.col("n")
    d = m.select("flag", "n", mu.alias("mu"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4"))
    m2 = F.col("r2") - F.col("mu") * F.col("mu")
    m3 = (
        F.col("r3")
        - F.lit(3.0) * F.col("mu") * F.col("r2")
        + F.lit(2.0) * F.col("mu") * F.col("mu") * F.col("mu")
    )
    m4 = (
        F.col("r4")
        - F.lit(4.0) * F.col("mu") * F.col("r3")
        + F.lit(6.0) * F.col("mu") * F.col("mu") * F.col("r2")
        - F.lit(3.0) * F.col("mu") * F.col("mu") * F.col("mu") * F.col("mu")
    )
    c = d.select("flag", "n", "mu", m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    return c.select(
        "flag",
        F.col("n").cast("bigint").alias("n"),
        F.round("mu", 6).alias("mean_qty"),
        F.round("m2", 6).alias("var_pop"),
        # NULLIF guard: a constant-valued group has m2=0 —
        # Spark x/0.0 is NULL but DuckDB is inf/NaN; NULL on both engines
        F.round(
            F.col("m3") / F.nullif(F.sqrt("m2") * F.col("m2"), F.lit(0.0)), 6
        ).alias("skewness"),
        F.round(
            F.col("m4") / F.nullif(F.col("m2") * F.col("m2"), F.lit(0.0))
            - F.lit(3.0),
            6,
        ).alias("excess_kurtosis"),
    )


@register(
    "agg_gini_concentration",
    oracle="""
    WITH spend AS (
        SELECT o_custkey AS cust,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, cust) AS i,
               COUNT(*) OVER () AS n
        FROM spend
    ),
    agg AS (
        SELECT MAX(n) AS n, SUM(x) AS sx, SUM(i * x) AS six FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(CAST(sx AS DOUBLE), 2) AS total_spend,
           ROUND(2.0 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM agg
    """,
    doc="Gini coefficient of customer spend concentration — the "
    "inequality audit (used identically for dataset source-balance): "
    "G = 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n over rank-ordered totals. "
    "Rank-weighted sums accumulate in DECIMAL (i*x is exact), ranks "
    "tie-break on the customer key, and the two double divisions run "
    "in one identical op sequence per engine.",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-customer aggregate, then the EXACT global
    rank via the two-level prefix-sum (range-bucketed, every bucket
    sorts in parallel — two_level_cumsum, the global_shuffle_rank
    pattern), then a single-row reduce. No single-partition sort at any
    corpus size; the oracle's one-partition ROW_NUMBER is the semantic
    spec, not the plan."""
    from ..operators.stats import two_level_cumsum

    o = load_fixture(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    ranked = two_level_cumsum(
        spend.withColumn("_one", F.lit(1)),
        key_cols=[],
        value_col="x",
        tiebreak_cols=["cust"],
        sum_cols={"i": "_one"},
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.col("sx").cast("double"), 2).alias("total_spend"),
        F.round(
            F.lit(2.0) * F.col("six").cast("double")
            / (F.col("n") * F.col("sx").cast("double"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "agg_mann_whitney_u",
    oracle="""
    WITH vals AS (
        SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cf
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
        GROUP BY o_totalprice
    ),
    ranked AS (
        SELECT c, cf,
               2 * SUM(c) OVER (ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - c + 1 AS dr2
        FROM vals
    ),
    s AS (
        SELECT CAST(SUM(cf) AS BIGINT) AS n1,
               CAST(SUM(c - cf) AS BIGINT) AS n2,
               CAST(SUM(cf * dr2) AS DECIMAL(38,0)) AS r1x2,
               CAST(SUM(c * c * c - c) AS DECIMAL(38,0)) AS tie3
        FROM ranked
    )
    SELECT n1 AS n_f, n2 AS n_o,
           CAST(CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1.0)
                AS DOUBLE) / 2.0 AS u_f,
           CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               - (CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1.0)) / 2.0
               AS u_o,
           ROUND(((CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1.0)) / 2.0
                  - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                        * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                           - CAST(tie3 AS DOUBLE)
                             / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                                   - 1.0)))),
                 6) AS z_score
    FROM s
    """,
    doc="Mann-Whitney U rank-sum test (two-sided normal approximation "
    "with tie correction) comparing order totals of finished vs open "
    "orders — the nonparametric drift test a curation pipeline runs "
    "between two data snapshots. EXACT rank machinery: ranks are "
    "computed per DISTINCT value (cum-count window over the value "
    "relation), average tie ranks carried as DOUBLED integers "
    "(2*rank_min + c - 1), so the rank sum, tie term sum(c^3-c), and "
    "doubled U are all integers; doubles appear only in the final "
    "1-row projection with one identical op sequence per engine.",
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on the value column (distinct values,
    not rows), then the exact running count via value_ranks (range-
    bucketed, parallel within-bucket sorts; no single-partition window
    even when the distinct domain is dense), then a single-row reduce."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    ranked = value_ranks(
        o,
        [],
        "o_totalprice",
        {
            "c": F.lit(1),
            "cf": F.when(F.col("o_orderstatus") == "F", 1).otherwise(0),
        },
    ).select(
        "c", "cf", (F.lit(2) * F.col("cum_c") - F.col("c") + F.lit(1)).alias("dr2")
    )
    s = ranked.agg(
        F.sum("cf").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("cf")).cast("bigint").alias("n2"),
        F.sum(F.col("cf") * F.col("dr2")).cast("decimal(38,0)").alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    u_f = (F.col("r1x2").cast("double") - n1d * (F.col("n1") + F.lit(1.0))) / F.lit(2.0)
    nd = n1d + n2d
    sigma = F.sqrt(
        n1d * n2d / F.lit(12.0)
        * ((nd + F.lit(1.0)) - F.col("tie3").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    return s.select(
        F.col("n1").alias("n_f"),
        F.col("n2").alias("n_o"),
        u_f.cast("double").alias("u_f"),
        (n1d * n2d - u_f).alias("u_o"),
        F.round((u_f - n1d * n2d / F.lit(2.0)) / sigma, 6).alias("z_score"),
    )


@register(
    "agg_chi_square_independence",
    oracle="""
    WITH o AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
        FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY source),
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
        FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot t
    )
    SELECT (SELECT n FROM tot) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS n_langs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS n_sources,
           (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM rt)
               * (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM ct) AS dof,
           ROUND(CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6) AS chi2
    FROM cells
    """,
    doc="Chi-square test of independence between document language and "
    "source — the dataset-balance audit that detects a source pinned "
    "to one language before training mixes are drawn. Each cell's "
    "statistic uses the integer identity (O*N - R*C)^2 / (N*R*C) so "
    "the only doubles are one identical op sequence over exact counts; "
    "per-cell terms are rounded to 9 dp and summed as DECIMAL "
    "(order-independent), the established float discipline. Note: "
    "cells with zero observed count contribute R*C/N implicitly only "
    "when present in the observed relation — absent (lang, source) "
    "pairs are genuinely unobserved and both engines derive the SAME "
    "observed relation, so the statistic is the sparse-table variant "
    "on both sides.",
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on the category pair (output is
    |langs|x|sources| cells), two broadcast-size marginal aggregates
    joined back, single-row reduce. No row-scale shuffle beyond the
    first aggregate."""
    d = load_fixture(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    rt = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").cast("bigint").alias("c"))
    tot = o.agg(F.sum("obs").cast("bigint").alias("n"))
    cells = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("obs").cast("double")
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    cd = F.col("c").cast("double")
    term = F.round((od * nd - rd * cd) * (od * nd - rd * cd) / (nd * rd * cd), 9)
    stats = cells.agg(
        F.max("n").alias("n"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(term.cast("decimal(18,9)")).alias("chi2_sum"),
    )
    return stats.select(
        F.col("n"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("n_sources").cast("bigint").alias("n_sources"),
        ((F.col("n_langs") - F.lit(1)) * (F.col("n_sources") - F.lit(1)))
        .cast("bigint")
        .alias("dof"),
        F.round(F.col("chi2_sum").cast("double"), 6).alias("chi2"),
    )


@register(
    "agg_spearman_rho",
    oracle="""
    WITH r AS (
        SELECT l_returnflag AS flag,
               2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                   + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity)
                   - 1 AS rx,
               2 * RANK() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice)
                   + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
                   - 1 AS ry
        FROM lineitem
    ),
    s AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(rx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(CAST(ry AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(rx AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(rx AS DECIMAL(19,0)) * CAST(rx AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(ry AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS syy
        FROM r GROUP BY flag
    )
    SELECT flag, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS spearman_rho
    FROM s
    """,
    doc="Spearman rank correlation between quantity and extended price "
    "per return flag — the monotone-dependence audit (feature "
    "redundancy screening before training). Tie-averaged ranks are "
    "carried as DOUBLED integers (2*RANK + tiecount - 1), so every "
    "accumulated sum is an exact DECIMAL integer at any partition "
    "order; the Pearson-on-ranks formula collapses to one identical "
    "double op sequence per engine in the |groups|-row projection.",
)
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: NO per-group
    window over the fact relation. Rows collapse to JOINT distinct cells
    (flag, quantity, price, count) in one map-side-combined shuffle —
    every rank-moment sum is a cell-count-weighted sum over that reduced
    relation. Doubled tie-averaged ranks (2*cum_count - c + 1) come from
    the two marginal distinct-value relations: quantity's ~50-value
    domain ranks in a trivially bounded window; the dense price marginal
    ranks via value_ranks. Cell products c * rx2 * ry2 stay exact in
    DECIMAL(38,0) for group sizes to ~5e18 rows (2n <= 1e19 per
    doubled-rank operand cast; DuckDB's 19x19 product width is exactly
    its 38-digit physical max). The oracle's per-row rank windows are
    the semantic spec, not the plan."""
    from pyspark.sql.window import Window

    from ..operators.stats import value_ranks
    from ..plans.hints import broadcast_if_small

    li = load_fixture(spark, sf_dir, "lineitem")
    # checkpoint: the joint-cell relation feeds both marginals AND the
    # final weighted moment sums — one fact shuffle, not three
    joint = cut(
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").alias("x"),
            F.col("l_extendedprice").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # quantity marginal: bounded domain -> plain per-flag cum window
    dq = joint.groupBy("flag", "x").agg(F.sum("c").alias("cx"))
    wq = (
        Window.partitionBy("flag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dq = dq.select(
        "flag",
        "x",
        (F.lit(2) * F.sum("cx").over(wq) - F.col("cx") + F.lit(1)).alias("rx2"),
    )
    # price marginal: dense domain -> two-level prefix-sum rank
    dp = value_ranks(joint, ["flag"], "y", {"cy": F.col("c")}).select(
        "flag",
        "y",
        (F.lit(2) * F.col("cum_cy") - F.col("cy") + F.lit(1)).alias("ry2"),
    )
    r = joint.join(broadcast_if_small(dq), ["flag", "x"]).join(
        broadcast_if_small(dp), ["flag", "y"]
    )
    # every data-scaled operand at (19,0) — cell counts exact to ~1e19
    # duplicates per joint cell and doubled ranks exact to 2n <= 1e19
    # (no (10,0) rank casts; the triple product caps at Spark's
    # decimal(38,0) either way)
    cd = F.col("c").cast("decimal(19,0)")
    dx = F.col("rx2").cast("decimal(19,0)")
    dy = F.col("ry2").cast("decimal(19,0)")
    s = r.groupBy("flag").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(cd * dx).cast("decimal(38,0)").alias("sx"),
        F.sum(cd * dy).cast("decimal(38,0)").alias("sy"),
        F.sum(cd * dx * F.col("ry2").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(cd * dx * F.col("rx2").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(cd * dy * F.col("ry2").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "flag",
        "n",
        F.round(
            (nd * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (
                F.sqrt(nd * F.col("sxx").cast("double")
                       - F.col("sx").cast("double") * F.col("sx").cast("double"))
                * F.sqrt(nd * F.col("syy").cast("double")
                         - F.col("sy").cast("double") * F.col("sy").cast("double"))
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "timeseries_autocorr_lag1",
    oracle="""
    WITH q AS (
        SELECT user_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n,
               LAG(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ql
        FROM events
    ),
    s AS (
        SELECT user_id, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(q AS DECIMAL(20,0))) AS DECIMAL(38,0)) AS sq,
               CAST(SUM(CAST(q AS DECIMAL(20,0)) * CAST(q AS DECIMAL(18,0)))
                    AS DECIMAL(38,0)) AS qq,
               CAST(SUM(CASE WHEN ql IS NULL THEN NULL
                             ELSE CAST(q AS DECIMAL(20,0)) * CAST(ql AS DECIMAL(18,0))
                        END) AS DECIMAL(38,0)) AS p,
               CAST(MAX(CASE WHEN rn = 1 THEN q END) AS BIGINT) AS q1,
               CAST(MAX(CASE WHEN rn = n THEN q END) AS BIGINT) AS qn
        FROM q GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           ROUND((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(p AS DOUBLE)
                  - CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                    * (2.0 * CAST(sq AS DOUBLE) - CAST(q1 AS DOUBLE)
                       - CAST(qn AS DOUBLE))
                  + (CAST(n AS DOUBLE) - 1.0) * CAST(sq AS DOUBLE)
                    * CAST(sq AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          * CAST(qq AS DOUBLE)
                          - CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                            * CAST(sq AS DOUBLE), 0.0),
                 6) AS acf_lag1
    FROM s
    WHERE n >= 3
    """,
    doc="Lag-1 autocorrelation of each user's event-value series "
    "(ordered by ts, event_id) — the seasonality/momentum screen run "
    "before forecasting or drift models. Exactness via the PCA idiom: "
    "values quantize once to integer micro-units, per-user sums "
    "(S, sum q^2, sum q_t*q_{t-1}, boundary terms) accumulate as "
    "DECIMAL integers, and the mean-centered ACF collapses to the "
    "n^2-scaled integer identity (n^2*P - n*S*(2S-q1-qn) + (n-1)*S^2) "
    "/ (n^2*Q - n*S^2), evaluated in one identical double op sequence "
    "per engine. Products stay inside DuckDB's decimal-multiply width "
    "via (20,0)x(18,0) operand casts (38 = its physical max).",
)
def timeseries_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window pass (partition-parallel, no
    global sort) and one map-side-combined aggregate carrying five
    decimal partials per user; output is |users| rows."""
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "events")
    qcol = micro(F.col("value"))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = e.select(
        "user_id",
        qcol.alias("q"),
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
        F.lag(qcol).over(wo).alias("ql"),
    )
    # (20,0)x(18,0): 38 is DuckDB's physical multiply width — q is a
    # micro-quantized VALUE (|q| <= 1e6 * max|value|), so the 1e18
    # operand cap holds for value domains to 1e12, not a row-count bound
    d20 = F.col("q").cast("decimal(20,0)")
    s = q.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(d20).cast("decimal(38,0)").alias("sq"),
        F.sum(d20 * F.col("q").cast("decimal(18,0)")).cast("decimal(38,0)").alias("qq"),
        F.sum(
            F.when(
                F.col("ql").isNull(), F.lit(None).cast("decimal(38,0)")
            ).otherwise(d20 * F.col("ql").cast("decimal(18,0)"))
        )
        .cast("decimal(38,0)")
        .alias("p"),
        F.max(F.when(F.col("rn") == 1, F.col("q"))).cast("bigint").alias("q1"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("q"))).cast("bigint").alias("qn"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("sq").cast("double")
    num = (
        nd * nd * F.col("p").cast("double")
        - nd * sd * (F.lit(2.0) * sd - F.col("q1").cast("double") - F.col("qn").cast("double"))
        + (nd - F.lit(1.0)) * sd * sd
    )
    den = nd * nd * F.col("qq").cast("double") - nd * sd * sd
    return s.filter(F.col("n") >= 3).select(
        "user_id",
        F.col("n").alias("n_events"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("acf_lag1"),
    )


@register(
    "timeseries_mann_kendall",
    oracle="""
    WITH r AS (
        SELECT user_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_all
        FROM events
    ),
    h AS (SELECT user_id, q, rn FROM r WHERE rn <= 50 AND n_all >= 10),
    pairs AS (
        SELECT a.user_id,
               CASE WHEN b.q > a.q THEN 1 WHEN b.q < a.q THEN -1 ELSE 0 END AS sg
        FROM h a JOIN h b ON b.user_id = a.user_id AND b.rn > a.rn
    ),
    s AS (
        SELECT user_id, CAST(SUM(sg) AS BIGINT) AS s_stat FROM pairs GROUP BY user_id
    ),
    nn AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY user_id),
    ties AS (
        SELECT user_id,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS t
              FROM h GROUP BY user_id, q)
        GROUP BY user_id
    )
    SELECT s.user_id, nn.n AS n_events, s.s_stat,
           ROUND((CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat AS DOUBLE) - 1.0
                       WHEN s.s_stat < 0 THEN CAST(s.s_stat AS DOUBLE) + 1.0
                       ELSE 0.0 END)
                 / sqrt((CAST(nn.n AS DOUBLE) * (CAST(nn.n AS DOUBLE) - 1.0)
                         * (2.0 * CAST(nn.n AS DOUBLE) + 5.0)
                         - CAST(ties.tie_term AS DOUBLE)) / 18.0),
                 6) AS z_score
    FROM s JOIN nn USING (user_id) JOIN ties USING (user_id)
    """,
    doc="Mann-Kendall trend significance per user over the first 50 "
    "events (by ts, event_id) — the nonparametric monotone-trend test "
    "that pairs with timeseries_theilsen_trend's slope estimate. The S "
    "statistic is an exact integer pair-sign sum over micro-unit "
    "quantized values, the tie term sum(t(t-1)(2t+5)) is exact, and "
    "the continuity-corrected z runs in one identical double op "
    "sequence per engine. The per-user window is CAPPED at 50 "
    "observations so the pairwise join is a bounded 1225 pairs per key "
    "at ANY corpus scale — the standard windowed form of an O(n^2) "
    "test.",
)
def timeseries_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-user window rank (partition-parallel), a
    self-equi-join bounded to C(50,2) pairs per user, two small
    aggregates. Nothing scales quadratically with the corpus."""
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "events")
    qcol = micro(F.col("value"))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select(
        "user_id",
        qcol.alias("q"),
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_all"),
    )
    h = r.filter((F.col("rn") <= 50) & (F.col("n_all") >= 10)).select(
        "user_id", "q", "rn"
    )
    a = h.select("user_id", F.col("q").alias("qa"), F.col("rn").alias("ra"))
    b = h.select("user_id", F.col("q").alias("qb"), F.col("rn").alias("rb"))
    pairs = a.join(b, "user_id").filter(F.col("rb") > F.col("ra"))
    sg = (
        F.when(F.col("qb") > F.col("qa"), 1)
        .when(F.col("qb") < F.col("qa"), -1)
        .otherwise(0)
    )
    s = pairs.groupBy("user_id").agg(F.sum(sg).cast("bigint").alias("s_stat"))
    nn = h.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        h.groupBy("user_id", "q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - F.lit(1)) * (F.lit(2) * F.col("t") + F.lit(5))
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    j = s.join(nn, "user_id").join(ties, "user_id")
    sd = F.col("s_stat").cast("double")
    ndd = F.col("n").cast("double")
    corrected = (
        F.when(F.col("s_stat") > 0, sd - F.lit(1.0))
        .when(F.col("s_stat") < 0, sd + F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    var = (
        ndd * (ndd - F.lit(1.0)) * (F.lit(2.0) * ndd + F.lit(5.0))
        - F.col("tie_term").cast("double")
    ) / F.lit(18.0)
    return j.select(
        "user_id",
        F.col("n").alias("n_events"),
        "s_stat",
        F.round(corrected / F.sqrt(var), 6).alias("z_score"),
    )


@register(
    "agg_ks_two_sample",
    oracle="""
    WITH vals AS (
        SELECT o_totalprice AS v,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cf,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS co
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
        GROUP BY o_totalprice
    ),
    cum AS (
        SELECT SUM(cf) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c1,
               SUM(co) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c2
        FROM vals
    ),
    tot AS (
        SELECT CAST(SUM(cf) AS BIGINT) AS n1, CAST(SUM(co) AS BIGINT) AS n2
        FROM vals
    ),
    d AS (
        SELECT MAX(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS dnum,
               MAX(t.n1) AS n1, MAX(t.n2) AS n2
        FROM cum c CROSS JOIN tot t
    )
    SELECT n1 AS n_f, n2 AS n_o,
           CAST((2 * CAST(dnum AS HUGEINT) * 1000000 + CAST(n1 AS HUGEINT) * n2)
                // (2 * CAST(n1 AS HUGEINT) * n2) AS BIGINT)
               AS d_micro,
           ROUND(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                 * CAST(dnum AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)),
                 6) AS ks_z
    FROM d
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test between finished and "
    "open order totals: D = max|F1 - F2| over the pooled distinct "
    "values, computed as the EXACT integer max of |c1*n2 - c2*n1| over "
    "the common denominator n1*n2 and reported half-away-rounded in "
    "integer micro-units (d_micro) so no float boundary exists. The "
    "micro-rounding numerator 2*dnum*1e6 would wrap int64 past "
    "n1*n2 > ~4.6e12 (dnum is bounded by n1*n2), so it runs in "
    "DECIMAL(38,0) on Spark and HUGEINT on DuckDB — headroom to "
    "n1*n2 ~ 5e31, far past any per-group row count. The "
    "sqrt(n1*n2/(n1+n2))*D normalization runs in one identical double "
    "op sequence per engine. The companion location test is "
    "agg_mann_whitney_u; KS is the shape-sensitive one.",
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on the value column, then BOTH exact
    running counts and totals in one value_ranks pass (no
    single-partition window even when the distinct domain is dense),
    single-row reduce."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    status = F.col("o_orderstatus")
    cum = value_ranks(
        o,
        [],
        "o_totalprice",
        {
            "cf": F.when(status == "F", 1).otherwise(0),
            "co": F.when(status == "O", 1).otherwise(0),
        },
    )
    d = cum.agg(
        F.max(
            F.abs(F.col("cum_cf") * F.col("tot_co") - F.col("cum_co") * F.col("tot_cf"))
        ).alias("dnum"),
        F.max("tot_cf").alias("n1"),
        F.max("tot_co").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    return d.select(
        F.col("n1").alias("n_f"),
        F.col("n2").alias("n_o"),
        F.expr(
            # 2*dnum*1e6 wraps int64 past n1*n2 ~ 4.6e12 under Spark's
            # non-ANSI arithmetic — DECIMAL(38,0) operands keep the
            # micro-round exact to n1*n2 ~ 5e31 (div on decimals
            # truncates to BIGINT, same as DuckDB HUGEINT // ).
            "CAST((2 * CAST(dnum AS DECIMAL(38,0)) * 1000000"
            " + CAST(n1 AS DECIMAL(38,0)) * n2)"
            " div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
        ).alias("d_micro"),
        F.round(
            F.sqrt(n1d * n2d / (n1d + n2d)) * F.col("dnum").cast("double")
            / (n1d * n2d),
            6,
        ).alias("ks_z"),
    )


@register(
    "agg_mutual_information",
    oracle="""
    WITH o AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS r FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(c) AS BIGINT) AS s FROM o GROUP BY source),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
    mi AS (
        SELECT SUM(CAST(ROUND(
                   CAST(o.c AS DOUBLE) / CAST(t.n AS DOUBLE)
                   * ln(CAST(o.c AS DOUBLE) * CAST(t.n AS DOUBLE)
                        / (CAST(rt.r AS DOUBLE) * CAST(ct.s AS DOUBLE))),
                   9) AS DECIMAL(18,9))) AS v
        FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot t
    ),
    hl AS (
        SELECT SUM(CAST(ROUND(
                   -(CAST(r AS DOUBLE) / CAST(t.n AS DOUBLE))
                   * ln(CAST(r AS DOUBLE) / CAST(t.n AS DOUBLE)), 9)
                   AS DECIMAL(18,9))) AS v
        FROM rt CROSS JOIN tot t
    ),
    hs AS (
        SELECT SUM(CAST(ROUND(
                   -(CAST(s AS DOUBLE) / CAST(t.n AS DOUBLE))
                   * ln(CAST(s AS DOUBLE) / CAST(t.n AS DOUBLE)), 9)
                   AS DECIMAL(18,9))) AS v
        FROM ct CROSS JOIN tot t
    )
    SELECT (SELECT n FROM tot) AS n,
           ROUND(CAST((SELECT v FROM hl) AS DOUBLE), 6) AS h_lang,
           ROUND(CAST((SELECT v FROM hs) AS DOUBLE), 6) AS h_source,
           ROUND(CAST((SELECT v FROM mi) AS DOUBLE), 6) AS mutual_info
    """,
    doc="Mutual information (nats) between document language and source, "
    "with both marginal entropies — the information-theoretic companion "
    "to agg_chi_square_independence (MI is the audit a data-mixing "
    "pipeline thresholds when deciding whether source is a proxy for "
    "language). Float discipline: every p*ln(p-ratio) term is computed "
    "from exact integer counts in one identical double op sequence, "
    "rounded to 9 dp, and summed as DECIMAL (order-independent) — the "
    "DSIR/bigram-LM log treatment.",
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on the pair, broadcast marginals, three
    constant-size term sums; nothing beyond the first aggregate scales
    with rows."""
    d = load_fixture(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rt = o.groupBy("lang").agg(F.sum("c").cast("bigint").alias("r"))
    ct = o.groupBy("source").agg(F.sum("c").cast("bigint").alias("s"))
    tot = o.agg(F.sum("c").cast("bigint").alias("n"))
    cd = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    sd = F.col("s").cast("double")
    mi = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(cd / nd * F.log(cd * nd / (rd * sd)), 9).cast("decimal(18,9)")
            ).alias("v"),
            F.max("n").alias("n"),
        )
    )
    hl = rt.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.round(-(rd / nd) * F.log(rd / nd), 9).cast("decimal(18,9)")).alias("v")
    )
    hs = ct.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.round(-(sd / nd) * F.log(sd / nd), 9).cast("decimal(18,9)")).alias("v")
    )
    return (
        mi.crossJoin(F.broadcast(hl.withColumnRenamed("v", "vl")))
        .crossJoin(F.broadcast(hs.withColumnRenamed("v", "vs")))
        .select(
            "n",
            F.round(F.col("vl").cast("double"), 6).alias("h_lang"),
            F.round(F.col("vs").cast("double"), 6).alias("h_source"),
            F.round(F.col("v").cast("double"), 6).alias("mutual_info"),
        )
    )


def _markov_stationary_oracle_sql(iters: int = 3, scale: int = 1_000_000) -> str:
    """DuckDB rendering of the exact micro-unit Markov power iteration:
    transitions as integer (src, dst, c, r) counts, pi as integers on
    the x1e6 grid, each contribution rounded half-away by
    (2*pi*c + r) // (2*r) — integer division on BIGINTs is identical in
    both engines, so the whole trajectory hashes."""
    parts = [f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    tc AS (
        SELECT event_type AS src, next_type AS dst,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ),
    rs AS (SELECT src, CAST(SUM(c) AS BIGINT) AS r FROM tc GROUP BY src),
    states AS (SELECT DISTINCT src AS s FROM tc UNION SELECT DISTINCT dst FROM tc),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
    pi0 AS (
        SELECT s, CAST({scale} // k AS BIGINT) AS v
        FROM states CROSS JOIN ns
    )"""]
    prev = "pi0"
    for t in range(1, iters + 1):
        parts.append(f""",
    pi{t} AS (
        SELECT tc.dst AS s,
               CAST(SUM((2 * p.v * tc.c + rs.r) // (2 * rs.r)) AS BIGINT) AS v
        FROM tc JOIN {prev} p ON p.s = tc.src JOIN rs ON rs.src = tc.src
        GROUP BY tc.dst
    )""")
        prev = f"pi{t}"
    parts.append(f"""
    SELECT s AS event_type, v AS pi_micro,
           CAST(v AS DOUBLE) / {scale}.0 AS pi
    FROM {prev}""")
    return "".join(parts)


@register(
    "events_markov_stationary",
    oracle=_markov_stationary_oracle_sql(3),
    doc="Stationary distribution of the event-type Markov chain by 3 "
    "power iterations over the transition matrix "
    "(event_transition_matrix's counts) — where a user's session "
    "settles in the long run, the sequence-model audit that weights "
    "synthetic-session generators. Exactness via the pagerank/HITS "
    "treatment: pi lives on the x1e6 integer grid and every "
    "contribution pi_i * c_ij / r_i rounds half-away by the integer "
    "(2*pi*c + r) div (2r) — no float enters the recurrence, unrolled "
    "as chained CTEs.",
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one LEAD window for pair counts (partition-parallel),
    then |types|^2-row iterations — constant-size work regardless of
    corpus scale."""
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    tc = seq.groupBy(
        F.col("event_type").alias("src"), F.col("next_type").alias("dst")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    rs = tc.groupBy("src").agg(F.sum("c").cast("bigint").alias("r"))
    states = (
        tc.select(F.col("src").alias("s"))
        .union(tc.select(F.col("dst").alias("s")))
        .distinct()
    )
    k = states.count()
    scale = 1_000_000
    pi = cut(states.withColumn("v", F.lit(scale // k).cast("bigint")))
    tcr = cut(tc.join(rs, "src"))
    for _ in range(3):
        pi = cut(
            tcr.join(pi.withColumnRenamed("s", "src"), "src")
            .groupBy(F.col("dst").alias("s"))
            .agg(
                F.sum(
                    F.expr("(2 * v * c + r) div (2 * r)")
                )
                .cast("bigint")
                .alias("v")
            )
        )
    return pi.select(
        F.col("s").alias("event_type"),
        F.col("v").alias("pi_micro"),
        (F.col("v").cast("double") / F.lit(float(scale))).alias("pi"),
    )


@register(
    "agg_theil_index",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS tx FROM spend
    )
    SELECT (SELECT n FROM tot) AS n_customers,
           ROUND(CAST(SUM(CAST(ROUND(
               CAST(s.x AS DOUBLE) / CAST(t.tx AS DOUBLE)
               * ln(CAST(s.x AS DOUBLE) * CAST(t.n AS DOUBLE)
                    / CAST(t.tx AS DOUBLE)), 9) AS DECIMAL(18,9)))
               AS DOUBLE), 6) AS theil_t
    FROM spend s CROSS JOIN tot t
    """,
    doc="Theil T inequality index of customer spend — the decomposable "
    "companion to agg_gini_concentration (Theil is additively "
    "separable across subgroups, which is why dataset-balance audits "
    "prefer it for per-source attribution). Spend totals are exact "
    "DECIMAL; each (x/X)*ln(x*n/X) term runs in one identical double "
    "op sequence, rounds to 9 dp, and sums as DECIMAL "
    "(order-independent) — the established log discipline.",
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-customer aggregate, a broadcast 1-row total,
    one term sum — no rank, no global sort (unlike the exact Gini)."""
    o = load_fixture(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("x").alias("tx")
    )
    xd = F.col("x").cast("double")
    txd = F.col("tx").cast("double")
    ndd = F.col("n").cast("double")
    term = F.round(xd / txd * F.log(xd * ndd / txd), 9).cast("decimal(18,9)")
    return (
        spend.crossJoin(F.broadcast(tot))
        .agg(F.max("n").alias("n_customers"), F.sum(term).alias("t"))
        .select(
            F.col("n_customers"),
            F.round(F.col("t").cast("double"), 6).alias("theil_t"),
        )
    )


# Abramowitz & Stegun 7.1.26 complementary-CDF tail: the two-sided normal
# p-value 2*(1-Phi(|z|)) collapses to poly(t)*exp(-z^2/2-ish form) via
# p = erfc(|z|/sqrt(2)) — ONE fixed double op sequence stated identically
# in both engines (the ks_z convention), then rounded to 9 dp DECIMAL so
# a 1-ulp libm exp() divergence cannot flip the BH threshold comparison.
_BH_P_SQL = (
    "(0.254829592 * {t} - 0.284496736 * {t} * {t}"
    " + 1.421413741 * {t} * {t} * {t}"
    " - 1.453152027 * {t} * {t} * {t} * {t}"
    " + 1.061405429 * {t} * {t} * {t} * {t} * {t}) * exp(-({x}) * ({x}))"
)


@register(
    "agg_benjamini_hochberg",
    oracle=f"""
    WITH vals AS (
        SELECT o_orderpriority AS grp, o_totalprice AS v,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cf
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
        GROUP BY o_orderpriority, o_totalprice
    ),
    ranked AS (
        SELECT grp, c, cf,
               2 * SUM(c) OVER (PARTITION BY grp ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - c + 1 AS dr2
        FROM vals
    ),
    s AS (
        SELECT grp,
               CAST(SUM(cf) AS BIGINT) AS n1,
               CAST(SUM(c - cf) AS BIGINT) AS n2,
               CAST(SUM(cf * dr2) AS DECIMAL(38,0)) AS r1x2,
               CAST(SUM(c * c * c - c) AS DECIMAL(38,0)) AS tie3
        FROM ranked GROUP BY grp
    ),
    z AS (
        SELECT grp, n1, n2,
               ((CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE)
                 * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
                - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
               / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                      * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0)
                         - CAST(tie3 AS DOUBLE)
                           / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                              * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                                 - 1.0)))) AS zval
        FROM s
    ),
    p AS (
        SELECT grp, n1, n2, zval,
               CAST(ROUND(
                   {_BH_P_SQL.format(
                       t="(1.0 / (1.0 + 0.3275911 * (abs(zval) / sqrt(2.0))))",
                       x="(abs(zval) / sqrt(2.0))",
                   )}, 9) AS DECIMAL(18,9)) AS p9
        FROM z
    ),
    rnk AS (
        SELECT grp, n1, n2, zval, p9,
               CAST(ROW_NUMBER() OVER (ORDER BY p9, grp) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM p
    ),
    kmax AS (
        SELECT COALESCE(MAX(CASE WHEN CAST(p9 * 1000000000 AS BIGINT) * 20 * m
                                      <= i * 1000000000
                                 THEN i END), 0) AS k
        FROM rnk
    )
    SELECT grp AS priority, n1 AS n_f, n2 AS n_o,
           ROUND(zval, 6) AS z_score,
           CAST(p9 AS DOUBLE) AS p_value,
           i AS p_rank,
           CAST(CASE WHEN i <= k.k THEN 1 ELSE 0 END AS INTEGER) AS rejected
    FROM rnk CROSS JOIN kmax k
    """,
    doc="Benjamini-Hochberg FDR correction (alpha = 0.05) over the "
    "per-priority family of Mann-Whitney drift tests (finished vs open "
    "order totals within each o_orderpriority) — the multiple-testing "
    "control a monitoring pipeline MUST apply when it runs one drift "
    "test per segment (5 segments at p<0.05 each ~ 23% family-wise "
    "false alarm uncorrected). Rank machinery is the exact "
    "agg_mann_whitney_u integers per group; the normal tail converts "
    "to p via the A&S 7.1.26 erfc polynomial in ONE identical double "
    "sequence per engine, rounded to 9 dp DECIMAL (residual ADVICE-r7 "
    "risk: a 1-ulp exp/libm divergence exactly on the 9th-decimal "
    "rounding boundary could flip p9 — accepted, none observed across "
    "sweeps); the BH step-up comparison p_(i) <= i*alpha/m then runs "
    "in EXACT integers on the rounded p (p_nano * 20 * m <= i * 1e9), "
    "so the reject set cannot differ by a float boundary given equal "
    "p9.",
)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on (group, value) distinct pairs, one
    per-group ordered window over distinct values, a |groups|-row rank
    + single-row step-up reduce — the family size m is |groups|, never
    row-scale."""
    from pyspark.sql.window import Window

    o = load_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    vals = o.groupBy(
        F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("cf"),
    )
    cum = F.sum("c").over(
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = vals.select(
        "grp", "c", "cf", (F.lit(2) * cum - F.col("c") + F.lit(1)).alias("dr2")
    )
    s = ranked.groupBy("grp").agg(
        F.sum("cf").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("cf")).cast("bigint").alias("n2"),
        F.sum(F.col("cf") * F.col("dr2")).cast("decimal(38,0)").alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = n1d + n2d
    u_f = (F.col("r1x2").cast("double") - n1d * (n1d + F.lit(1.0))) / F.lit(2.0)
    sigma = F.sqrt(
        n1d * n2d / F.lit(12.0)
        * ((nd + F.lit(1.0)) - F.col("tie3").cast("double") / (nd * (nd - F.lit(1.0))))
    )
    z = s.select(
        "grp", "n1", "n2",
        ((u_f - n1d * n2d / F.lit(2.0)) / sigma).alias("zval"),
    )
    x = "(abs(zval) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    p = z.select(
        "grp", "n1", "n2", "zval",
        F.expr(
            "CAST(ROUND(" + _BH_P_SQL.format(t=t, x=x) + ", 9) AS DECIMAL(18,9))"
        ).alias("p9"),
    )
    rnk = p.select(
        "grp", "n1", "n2", "zval", "p9",
        F.row_number().over(Window.orderBy("p9", "grp")).cast("bigint").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    kmax = rnk.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.expr(
                        "CAST(p9 * 1000000000 AS BIGINT) * 20 * m"
                        " <= i * 1000000000"
                    ),
                    F.col("i"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return rnk.crossJoin(F.broadcast(kmax)).select(
        F.col("grp").alias("priority"),
        F.col("n1").alias("n_f"),
        F.col("n2").alias("n_o"),
        F.round("zval", 6).alias("z_score"),
        F.col("p9").cast("double").alias("p_value"),
        F.col("i").alias("p_rank"),
        F.when(F.col("i") <= F.col("k"), 1).otherwise(0).cast("int").alias("rejected"),
    )


@register(
    "sample_ab_power_analysis",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
        FROM events WHERE event_type = 'purchase'
    )
    SELECT n AS n_observed,
           ROUND(s1 / n, 6) AS mean_value,
           ROUND(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS sd_value,
           ROUND(CAST(0.05 AS DOUBLE) * (s1 / n), 6) AS delta_target,
           CAST(ceil(2.0 * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                         * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                         * (s2 / n - (s1 / n) * (s1 / n))
                     / ((CAST(0.05 AS DOUBLE) * (s1 / n))
                        * (CAST(0.05 AS DOUBLE) * (s1 / n)))) AS BIGINT)
               AS n_per_arm
    FROM s
    """,
    doc="A/B test power analysis from observed purchase-value moments: "
    "the required per-arm sample size n = 2(z_a/2 + z_b)^2 sigma^2 / "
    "delta^2 to detect a 5%-of-mean lift at alpha=0.05 / power=0.80 — "
    "the pre-experiment sizing every ab_test_lift run should be gated "
    "on (an underpowered test that 'finds nothing' is evidence of "
    "nothing). Moments accumulate in exact DECIMAL; the z constants "
    "are decimal-string literals CAST AS DOUBLE on both engines; the "
    "closed-form runs in one identical double sequence, so even the "
    "trailing ceil() cannot straddle an engine boundary.",
)
def sample_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined scan to three exact moments,
    one 1-row projection — no shuffle beyond the single-row reduce."""
    ev = purchase_events(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,2)")
    s = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
    )
    nd = F.col("n")
    mean = F.col("s1") / nd
    var = F.col("s2") / nd - mean * mean
    delta = F.lit(0.05) * mean
    z = F.lit(1.959964) + F.lit(0.841621)
    return s.select(
        F.col("n").alias("n_observed"),
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("sd_value"),
        F.round(delta, 6).alias("delta_target"),
        F.ceil(F.lit(2.0) * z * z * var / (delta * delta))
        .cast("bigint")
        .alias("n_per_arm"),
    )


@register(
    "profile_psi_drift",
    oracle="""
    WITH v AS (
        SELECT o_orderstatus AS st,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    rng AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM v),
    binned AS (
        SELECT st, ((c - r.lo) * 10) // (r.hi - r.lo + 1) AS bin
        FROM v CROSS JOIN rng r
    ),
    grid AS (
        SELECT u.bin, s.st
        FROM UNNEST(range(0, 10)) AS u(bin)
        CROSS JOIN (SELECT 'F' AS st UNION ALL SELECT 'O') s
    ),
    cnt AS (
        SELECT g.bin, g.st, CAST(COALESCE(b.n, 0) AS BIGINT) AS n
        FROM grid g LEFT JOIN (
            SELECT bin, st, COUNT(*) AS n FROM binned GROUP BY bin, st
        ) b ON b.bin = g.bin AND b.st = g.st
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN st = 'F' THEN n END) AS BIGINT) AS nf,
               CAST(SUM(CASE WHEN st = 'O' THEN n END) AS BIGINT) AS no
        FROM cnt
    ),
    terms AS (
        SELECT f.bin, f.n AS n_f, o.n AS n_o,
               CAST(ROUND(
                   (CAST(f.n + 1 AS DOUBLE) / CAST(t.nf + 10 AS DOUBLE)
                    - CAST(o.n + 1 AS DOUBLE) / CAST(t.no + 10 AS DOUBLE))
                   * ln((CAST(f.n + 1 AS DOUBLE) / CAST(t.nf + 10 AS DOUBLE))
                        / (CAST(o.n + 1 AS DOUBLE) / CAST(t.no + 10 AS DOUBLE))),
                   9) AS DECIMAL(18,9)) AS term9
        FROM cnt f JOIN cnt o ON o.bin = f.bin AND f.st = 'F' AND o.st = 'O'
        CROSS JOIN tot t
    )
    SELECT CAST(bin AS INTEGER) AS bin, n_f, n_o,
           ROUND(CAST(term9 AS DOUBLE), 6) AS psi_term,
           ROUND(CAST(SUM(term9) OVER () AS DOUBLE), 6) AS psi_total
    FROM terms
    """,
    doc="Population stability index between finished and open order "
    "totals over 10 equal-width bins — THE monitoring statistic ops "
    "teams threshold (PSI > 0.2 = action) to decide when a model or "
    "mix needs retraining; the binned, thresholdable companion to the "
    "KS/Mann-Whitney tests on the same pair. Bin assignment is EXACT "
    "integer arithmetic on cents (((c-lo)*10) div (hi-lo+1) — no "
    "float edge can disagree), empty bins enter via a generated grid "
    "with Laplace +1 smoothing on both sides, and each (p-q)*ln(p/q) "
    "term is rounded to 9 dp DECIMAL before the order-independent "
    "sum (the mutual-information float discipline; residual ADVICE-r7 "
    "risk: a 1-ulp ln() divergence exactly on the 9th-decimal "
    "rounding boundary could flip a term — accepted, none observed "
    "across sweeps).",
)
def profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan to cents + a broadcast 1-row range, one
    10x2-key groupBy, a 20-row grid join and window — constant-size
    state regardless of row count."""
    from pyspark.sql.window import Window

    o = load_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    v = o.select(
        F.col("o_orderstatus").alias("st"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    rng = v.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    binned = v.crossJoin(F.broadcast(rng)).select(
        "st",
        F.expr("((c - lo) * 10) div (hi - lo + 1)").alias("bin"),
    )
    counted = binned.groupBy("bin", "st").agg(F.count(F.lit(1)).alias("n"))
    grid = (
        load_fixture(spark, sf_dir, "orders")
        .sparkSession.range(10)
        .select(F.col("id").alias("bin"))
        .crossJoin(
            load_fixture(spark, sf_dir, "orders")
            .sparkSession.createDataFrame([("F",), ("O",)], "st string")
        )
    )
    cnt = grid.join(counted, ["bin", "st"], "left").select(
        "bin", "st", F.coalesce("n", F.lit(0)).cast("bigint").alias("n")
    )
    tot = cnt.agg(
        F.sum(F.when(F.col("st") == "F", F.col("n"))).cast("bigint").alias("nf"),
        F.sum(F.when(F.col("st") == "O", F.col("n"))).cast("bigint").alias("no"),
    )
    f = cnt.filter(F.col("st") == "F").select("bin", F.col("n").alias("n_f"))
    oo = cnt.filter(F.col("st") == "O").select("bin", F.col("n").alias("n_o"))
    j = f.join(oo, "bin").crossJoin(F.broadcast(tot))
    pf = (F.col("n_f") + 1).cast("double") / (F.col("nf") + 10).cast("double")
    po = (F.col("n_o") + 1).cast("double") / (F.col("no") + 10).cast("double")
    terms = j.select(
        "bin",
        "n_f",
        "n_o",
        F.round((pf - po) * F.log(pf / po), 9).cast("decimal(18,9)").alias("term9"),
    )
    return terms.select(
        F.col("bin").cast("int").alias("bin"),
        "n_f",
        "n_o",
        F.round(F.col("term9").cast("double"), 6).alias("psi_term"),
        F.round(
            F.sum("term9").over(Window.partitionBy()).cast("double"), 6
        ).alias("psi_total"),
    )


@register(
    "agg_hodges_lehmann",
    oracle="""
    WITH v0 AS (
        SELECT o_orderpriority AS grp,
               o_orderkey AS id,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders WHERE o_orderkey % 29 = 0
    ),
    v AS (
        SELECT grp, id, c FROM (
            SELECT grp, id, c,
                   ROW_NUMBER() OVER (PARTITION BY grp
                                      ORDER BY md5(CAST(id AS VARCHAR)), id)
                       AS hrank
            FROM v0
        ) WHERE hrank <= 1024
    ),
    pairs AS (
        SELECT a.grp, a.c + b.c AS s
        FROM v a JOIN v b ON b.grp = a.grp AND a.id <= b.id
    ),
    ranked AS (
        SELECT grp, s,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY s) AS r,
               COUNT(*) OVER (PARTITION BY grp) AS m
        FROM pairs
    )
    SELECT grp AS priority,
           CAST(MAX(m) AS BIGINT) AS n_pairs,
           CAST(CAST(SUM(CASE WHEN r = (m + 1) // 2 THEN s
                              WHEN r = (m + 2) // 2 AND (m + 2) // 2 <> (m + 1) // 2
                              THEN s END) * (CASE WHEN (m + 2) // 2 = (m + 1) // 2
                                                  THEN 5000 ELSE 2500 END)
                     AS BIGINT) AS DOUBLE) / 1000000.0 AS hl_estimate
    FROM ranked GROUP BY grp, (m + 1) // 2, (m + 2) // 2,
             CASE WHEN (m + 2) // 2 = (m + 1) // 2 THEN 5000 ELSE 2500 END
    """,
    doc="Hodges-Lehmann location estimator per order priority: the "
    "median of all pairwise means (x_i + x_j)/2, i <= j, over a "
    "BOUNDED deterministic subsample (md5-rank top-1024 per group) — "
    "the robust location companion to timeseries_theilsen_trend (HL "
    "is to the mean what Theil-Sen is to the slope: ~30% breakdown, "
    "no distribution assumption). EXACT arithmetic: pairwise sums in "
    "integer cents, median by rank selection over the pair relation "
    "(both middle ranks summed, scaled by 2500/5000 micro-per-cent so "
    "even/odd medians stay integral micro-dollars), one display "
    "division at the end. The subsample cap is the scale discipline: "
    "the unbounded pair self-join measured 37x wall clock at 8x data "
    "(BENCHNOTES round 7); capped, the pair relation is <= C(1025,2) "
    "rows per group at ANY corpus size and the estimator is the exact "
    "HL of a fixed-size simple random sample (md5 order is a "
    "deterministic uniform draw, the sample_subsample_ci idiom).",
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one O(n) scan + per-group top-1024 hash-rank
    selection bounds the pair self-join at ~524k rows/group forever;
    rank selection is one per-group window over the bounded pair
    relation — no driver-side buffers, no unbounded sorts."""
    from pyspark.sql.window import Window

    o = load_fixture(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 29 == 0)
    v0 = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("id"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    wh = Window.partitionBy("grp").orderBy(F.md5(F.col("id").cast("string")), "id")
    v = (
        v0.withColumn("hrank", F.row_number().over(wh))
        .filter(F.col("hrank") <= 1024)
        .drop("hrank")
    )
    # The capped relation leaves the hash-rank window partitioned by grp
    # (|groups| effective partitions); re-spread the probe side by id so
    # the O(cap^2/group) pair explosion runs wide, and broadcast the
    # build side (<= groups*cap slim rows by construction).
    a = v.select("grp", F.col("id").alias("ida"), F.col("c").alias("ca")).repartition(
        "ida"
    )
    b = v.select("grp", F.col("id").alias("idb"), F.col("c").alias("cb"))
    pairs = (
        a.join(F.broadcast(b), "grp")
        .filter(F.col("ida") <= F.col("idb"))
        .select("grp", (F.col("ca") + F.col("cb")).alias("s"))
    )
    wr = Window.partitionBy("grp").orderBy("s")
    wm = Window.partitionBy("grp")
    ranked = pairs.select(
        "grp",
        "s",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    lo = F.expr("(m + 1) div 2")
    hi = F.expr("(m + 2) div 2")
    picked = ranked.filter((F.col("r") == lo) | (F.col("r") == hi))
    scale = F.max(
        F.when(F.expr("(m + 2) div 2 = (m + 1) div 2"), 5000).otherwise(2500)
    )
    return picked.groupBy("grp").agg(
        F.max("m").cast("bigint").alias("n_pairs"),
        ((F.sum("s") * scale).cast("bigint").cast("double") / F.lit(1000000.0)).alias(
            "hl_estimate"
        ),
    ).select(F.col("grp").alias("priority"), "n_pairs", "hl_estimate")


@register(
    "scd2_point_in_time_lookup",
    oracle="""
    WITH hist AS (
        SELECT o_custkey AS cust_key,
               o_orderdate AS valid_from,
               LEAD(o_orderdate) OVER w AS valid_to,
               o_orderstatus AS status
        FROM orders
        WHERE o_custkey % 50 = 0
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    facts AS (
        SELECT o_orderkey AS order_key, o_custkey AS cust_key,
               o_orderdate AS order_date
        FROM orders WHERE o_custkey % 50 = 0
    )
    SELECT f.order_key, f.cust_key, f.order_date,
           h.status AS status_at_order
    FROM facts f
    JOIN hist h
      ON h.cust_key = f.cust_key
     AND h.valid_from <= f.order_date
     AND (h.valid_to IS NULL OR f.order_date < h.valid_to)
    """,
    doc="Point-in-time (AS OF) lookup against the scd2_intervals "
    "history: every order retrieves the dimension state valid at its "
    "order date — the temporal-join every SCD2 warehouse runs and the "
    "reference's drop-and-rebuild schema cannot express. The ORACLE "
    "states the naive interval join (valid_from <= d < valid_to); the "
    "SPARK plan is the scalable union-and-fill rewrite: history "
    "changes and facts union into ONE per-key window ordered by "
    "(date, change-before-fact, change-seq), last_value(ignorenulls) "
    "carries the latest state onto each fact — one shuffle, "
    "O(|facts| + |changes|) rows, no range join, no interval "
    "explosion. Zero-length same-date intervals resolve identically "
    "(the fact sorts after ALL same-date changes, picking the last).",
)
def scd2_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the asof_join union-window pattern applied to SCD2 —
    exactly one partition sort per key whatever the history length; at
    100 TB partition the union by key ranges and cluster by date."""
    from pyspark.sql.window import Window

    o = load_fixture(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    changes = o.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderdate").alias("d"),
        F.lit(0).alias("is_fact"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderstatus").alias("status"),
        F.lit(None).cast("bigint").alias("order_key"),
    )
    facts = o.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderdate").alias("d"),
        F.lit(1).alias("is_fact"),
        F.col("o_orderkey").alias("seq"),
        F.lit(None).cast("string").alias("status"),
        F.col("o_orderkey").cast("bigint").alias("order_key"),
    )
    u = changes.unionByName(facts)
    w = (
        Window.partitionBy("cust_key")
        .orderBy("d", "is_fact", "seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        "cust_key",
        "d",
        "is_fact",
        "order_key",
        F.last("status", ignorenulls=True).over(w).alias("status_at_order"),
    )
    return filled.filter(F.col("is_fact") == 1).select(
        F.col("order_key"),
        "cust_key",
        F.col("d").alias("order_date"),
        "status_at_order",
    )


@register(
    "agg_welch_ttest",
    oracle="""
    WITH v AS (
        SELECT o_orderpriority AS grp,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    s AS (
        SELECT
            CAST(SUM(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN grp = '1-URGENT' THEN c ELSE 0 END)
                 AS DECIMAL(38,0)) AS s1,
            CAST(SUM(CASE WHEN grp = '5-LOW' THEN c ELSE 0 END)
                 AS DECIMAL(38,0)) AS s2,
            CAST(SUM(CASE WHEN grp = '1-URGENT' THEN c * c ELSE 0 END)
                 AS DECIMAL(38,0)) AS q1,
            CAST(SUM(CASE WHEN grp = '5-LOW' THEN c * c ELSE 0 END)
                 AS DECIMAL(38,0)) AS q2
        FROM v
    ),
    d AS (
        SELECT n1, n2, s1, s2,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
               CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
               (CAST(q1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
               (CAST(q2 AS DOUBLE)
                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) - 1.0) AS v2
        FROM s
    )
    SELECT n1 AS n_urgent, n2 AS n_low,
           CAST(CAST((2 * CAST(s1 AS HUGEINT) * 10000 + n1)
                     // (2 * CAST(n1 AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS mean_urgent,
           CAST(CAST((2 * CAST(s2 AS HUGEINT) * 10000 + n2)
                     // (2 * CAST(n2 AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS mean_low,
           ROUND((m1 - m2)
                 / sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)), 6)
               AS t_stat,
           ROUND(
               (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
               * (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE))
               / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
                      / (CAST(n1 AS DOUBLE) - 1.0)
                  + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE))
                      / (CAST(n2 AS DOUBLE) - 1.0)), 3) AS welch_df
    FROM d
    """,
    doc="Welch's unequal-variance t-test comparing order totals of "
    "URGENT vs LOW priority orders, with the Welch-Satterthwaite "
    "degrees of freedom — the parametric companion to "
    "agg_mann_whitney_u (same two-snapshot drift-test role, mean "
    "instead of rank). EXACT accumulation: integer cents, sums and "
    "sums-of-squares as DECIMAL(38,0); the means round half-away in "
    "integer micro-units (exact-integer ratios never meet "
    "ROUND(double)). t_stat carries a genuine sqrt so it is honestly "
    "double; welch_df is rational but its cleared-denominator form "
    "needs ~2^160-bit integers (v_i numerators are n*q - s^2 ~ 1e24 "
    "and the df squares them), beyond DECIMAL(38)/HUGEINT — so both "
    "engines compute it as ONE identical double op sequence "
    "(variance via q - s/n*s, never pow()) and round at 3dp.",
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan, one conditional-sum reduce to a single
    row — map-side partial aggregation does all the work; no shuffle
    beyond the 1-row combine, no windows, no joins."""
    o = load_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c"),
    )
    is1 = F.col("grp") == "1-URGENT"
    s = v.agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(~is1, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(is1, F.col("c")).otherwise(0)).cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(~is1, F.col("c")).otherwise(0)).cast("decimal(38,0)").alias("s2"),
        # cast BEFORE the sum: cents^2 rows are ~3e15, so a long
        # accumulator overflows past ~3k rows per side (sf0.1 caught it)
        F.sum(
            F.when(is1, (F.col("c") * F.col("c")).cast("decimal(38,0)")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        )
        .cast("decimal(38,0)")
        .alias("q1"),
        F.sum(
            F.when(~is1, (F.col("c") * F.col("c")).cast("decimal(38,0)")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        )
        .cast("decimal(38,0)")
        .alias("q2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = F.col("s2").cast("double") / n2d
    v1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") / n1d * F.col("s1").cast("double")
    ) / (n1d - F.lit(1.0))
    v2 = (
        F.col("q2").cast("double")
        - F.col("s2").cast("double") / n2d * F.col("s2").cast("double")
    ) / (n2d - F.lit(1.0))
    se1 = v1 / n1d
    se2 = v2 / n2d
    return s.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_low"),
        # ratio-of-exact-integers outputs round in integer micro-units
        # (dollars at 6dp = cents*10000/n, half-away), never ROUND(double)
        (
            F.expr(
                "CAST((2 * CAST(s1 AS DECIMAL(38,0)) * 10000 + n1)"
                " div (2 * CAST(n1 AS DECIMAL(38,0))) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("mean_urgent"),
        (
            F.expr(
                "CAST((2 * CAST(s2 AS DECIMAL(38,0)) * 10000 + n2)"
                " div (2 * CAST(n2 AS DECIMAL(38,0))) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("mean_low"),
        F.round((m1 - m2) / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (se1 * se1 / (n1d - F.lit(1.0)) + se2 * se2 / (n2d - F.lit(1.0))),
            3,
        ).alias("welch_df"),
    )


@register(
    "agg_heavy_hitters_two_pass",
    oracle="""
    WITH items AS (
        SELECT CAST(floor(sqrt(user_id)) AS BIGINT) AS item FROM events
    ),
    c AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM items GROUP BY item),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM items)
    SELECT item, n_item, n_total FROM c, t WHERE n_item * 20 > n_total
    """,
    doc="EXACT phi-heavy hitters (phi = 1/20) by the classic two-pass "
    "scheme: pass 1 runs a per-partition Misra-Gries summary (k = 256 "
    "counters, batched decrement — the mergeable-summaries form of "
    "Agarwal et al. 2012) inside Arrow mapInPandas, whose union is a "
    "GUARANTEED superset of every item with frequency > n/(k+1) and "
    "hence of every phi-heavy hitter since k + 1 >= 1/phi; pass 2 "
    "recounts only the <= partitions*k candidates exactly via a "
    "broadcast semi-join and keeps those above the threshold. The "
    "item column is a deterministic skew transform of user_id "
    "(floor(sqrt): bucket b covers 2b+1 users, a linear-skew stand-in "
    "for the Zipfian item column the uniform fixtures lack). The "
    "oracle is the plain exact GROUP BY ... HAVING — equality IS the "
    "two-pass correctness claim.",
)
def agg_heavy_hitters_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pass 1 shuffles NOTHING (per-partition summaries,
    <= k rows emitted per partition); pass 2's groupBy aggregates only
    candidate items (map-side filter against the broadcast candidate
    set), so the shuffle carries <= partitions*k groups instead of
    |domain| — the whole point vs the naive one-pass groupBy when the
    key domain is shuffle-dominating at 100 TB."""
    from collections.abc import Iterator

    import pandas as pd

    k = 256

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for key, c in pdf["item"].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                # batched Misra-Gries decrement: subtracting the
                # (len-k)-th smallest count from everyone and dropping
                # the non-positive leaves <= k counters and charges
                # every item's count equally (the MG error bound).
                vals = sorted(counters.values())
                t = vals[len(counters) - k - 1]
                counters = {w: c - t for w, c in counters.items() if c > t}
        yield pd.DataFrame({"item": pd.array(list(counters.keys()), dtype="Int64")})

    ev = load_fixture(spark, sf_dir, "events")
    items = ev.select(F.floor(F.sqrt(F.col("user_id"))).cast("bigint").alias("item"))
    cand = items.mapInPandas(mg, schema="item long").distinct()
    tot = items.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        items.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_item") * 20 > F.col("n_total"))
        .select("item", "n_item", "n_total")
    )


@register(
    "survival_nelson_aalen",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t0,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) AS t1
        FROM events GROUP BY user_id
    ),
    lab AS (
        SELECT (t1 - t0) // 86400 AS dur,
               CASE WHEN (SELECT MAX(t1) FROM pu) - t1 > 86400
                    THEN 1 ELSE 0 END AS ev
        FROM pu
    ),
    byd AS (
        SELECT dur, CAST(COUNT(*) AS BIGINT) AS c_all,
               CAST(SUM(ev) AS BIGINT) AS d
        FROM lab GROUP BY dur
    ),
    risk AS (
        SELECT dur, d,
               SUM(c_all) OVER () - (SUM(c_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c_all)
                   AS n_risk
        FROM byd
    ),
    cum AS (
        SELECT dur, d, n_risk,
               SUM(CASE WHEN d > 0
                        THEN CAST((2 * CAST(d AS HUGEINT) * 1000000000000
                                   + n_risk)
                                  // (2 * CAST(n_risk AS HUGEINT)) AS BIGINT)
                        ELSE 0 END)
                   OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_micro
        FROM risk
    )
    SELECT dur AS duration_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           d AS n_events,
           CAST(cum_micro AS DOUBLE) / 1000000000000.0 AS cum_hazard
    FROM cum WHERE d > 0
    """,
    doc="Nelson-Aalen cumulative-hazard estimator over user lifetimes "
    "(first-to-last event span in days; users still active in the "
    "final day of the stream are right-CENSORED and leave the risk "
    "set without an event — the churn-analysis staple). Chosen over "
    "Kaplan-Meier for the engine because H(t) = sum(d_i/n_i) is a SUM "
    "of rationals, so each increment rounds half-away in integer "
    "micro-units ((2e12*d + n) div (2n)) and the cumulative sum stays "
    "exact BIGINT in both engines — no transcendental products, one "
    "display division at the end (KM = exp(-H) for reporting). "
    "Timestamps stay epoch-second longs end to end (the dedup_debounce "
    "idiom), so the estimate is timezone-free.",
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user aggregate, one per-duration aggregate
    (|distinct durations| rows, bounded by the observation span in
    days), then ordered windows over that tiny relation — substitute
    the two-level prefix-sum rank at 100 TB if durations ever stop
    being span-bounded. The global-max censor horizon is a broadcast
    1-row join."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("long")).alias("t0"),
        F.max(F.col("ts").cast("long")).alias("t1"),
    )
    gmax = pu.agg(F.max("t1").alias("gmax"))
    lab = pu.crossJoin(F.broadcast(gmax)).select(
        F.expr("(t1 - t0) div 86400").alias("dur"),
        F.when(F.col("gmax") - F.col("t1") > 86400, 1).otherwise(0).alias("ev"),
    )
    byd = lab.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    n_risk = F.sum("c_all").over(wall) - (F.sum("c_all").over(wcum) - F.col("c_all"))
    # 2e12*d wraps int64 past d ~ 4.6e6 events per duration — DECIMAL
    # operands (HUGEINT in the oracle) keep the micro-round exact at
    # any corpus size (the agg_ks_two_sample convention)
    term = F.when(
        F.col("d") > 0,
        F.expr(
            "CAST((2 * CAST(d AS DECIMAL(38,0)) * 1000000000000 + n_risk)"
            " div (2 * CAST(n_risk AS DECIMAL(38,0))) AS BIGINT)"
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    cum = (
        byd.withColumn("n_risk", n_risk)
        .withColumn("term", term)
        .withColumn("cum_micro", F.sum("term").over(wcum))
    )
    return cum.filter(F.col("d") > 0).select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        (F.col("cum_micro").cast("double") / F.lit(1000000000000.0)).alias(
            "cum_hazard"
        ),
    )


@register(
    "agg_dispersion_index",
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM d
    )
    SELECT n AS n_days,
           CAST((2 * sx * 1000000 + n) // (2 * CAST(n AS HUGEINT)) AS BIGINT)
               AS mean_daily_micro,
           CAST((2 * (n * sxx - sx * sx) * 1000000 + (n - 1) * sx)
                // NULLIF(2 * (n - 1) * sx, 0) AS BIGINT)
               AS dispersion_index_micro,
           CAST((2 * (n * sxx - sx * sx) * 1000000 + sx)
                // NULLIF(2 * sx, 0) AS BIGINT) AS chi2_stat_micro
    FROM s
    """,
    doc="Index of dispersion (variance-to-mean ratio) of daily event "
    "volume: D = s^2 / xbar, the Poisson overdispersion gate — D ~ 1 "
    "means arrivals are Poisson-like and rate-based capacity math "
    "holds; D >> 1 means bursty/clustered arrivals (the count-side "
    "companion to events_interarrival_burstiness' gap view, and the "
    "distributional context for dq_volume_anomaly_daily's flags). "
    "chi2_stat = (n-1) * D is the classical dispersion test statistic "
    "against chi-square(n-1). Both are EXACT integer identities "
    "((n*sxx - sx^2) over (n-1)*sx and sx) half-away-rounded in micro "
    "under HUGEINT/DECIMAL(38,0); a zero-volume corpus NULLs via "
    "NULLIF. No doubles anywhere.",
)
def agg_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to calendar-bounded
    day rows, one 1-row reduce."""
    e = load_fixture(spark, sf_dir, "events")
    d = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    return s.selectExpr(
        "n AS n_days",
        "CAST((2 * sx * 1000000 + n) div (2 * CAST(n AS DECIMAL(38,0)))"
        " AS BIGINT) AS mean_daily_micro",
        "CAST((2 * (n * sxx - sx * sx) * 1000000 + (n - 1) * sx)"
        " div NULLIF(2 * (n - 1) * sx, 0) AS BIGINT)"
        " AS dispersion_index_micro",
        "CAST((2 * (n * sxx - sx * sx) * 1000000 + sx)"
        " div NULLIF(2 * sx, 0) AS BIGINT) AS chi2_stat_micro",
    )


@register(
    "events_retention_halflife",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events WHERE event_type = 'purchase'
    ),
    cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM p GROUP BY user_id),
    cs AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n0 FROM cohort
           GROUP BY cohort_wk),
    mx AS (SELECT MAX(wk) AS max_wk FROM p),
    act AS (
        SELECT c.cohort_wk,
               CAST(date_diff('day', c.cohort_wk, p.wk) // 7 AS BIGINT)
                   AS off,
               CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_active
        FROM p JOIN cohort c ON c.user_id = p.user_id
        GROUP BY 1, 2
    ),
    offs AS (SELECT DISTINCT off FROM act WHERE off >= 1),
    elig AS (
        SELECT o.off, CAST(SUM(cs.n0) AS BIGINT) AS n_elig
        FROM offs o
        JOIN cs ON date_diff('day', cs.cohort_wk,
                             (SELECT max_wk FROM mx)) // 7 >= o.off
        GROUP BY o.off
    ),
    rate AS (
        SELECT e.off,
               CAST(SUM(COALESCE(a.n_active, 0)) AS BIGINT) AS n_active,
               e.n_elig
        FROM elig e
        LEFT JOIN act a ON a.off = e.off
        GROUP BY e.off, e.n_elig
    ),
    pts AS (
        SELECT CAST(off AS DECIMAL(18,9)) AS x,
               CAST(ROUND(ln(CAST(n_active AS DOUBLE)
                             / CAST(n_elig AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS y
        FROM rate WHERE n_active > 0 AND n_elig > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DECIMAL(38,9)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,9)) AS sy,
               CAST(SUM(x * y) AS DECIMAL(38,18)) AS sxy,
               CAST(SUM(x * x) AS DECIMAL(38,18)) AS sxx
        FROM pts
    )
    SELECT n AS n_points,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6)
               AS decay_slope,
           ROUND(-0.6931471805599453
                 / NULLIF((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                                   0.0), 0.0), 6)
               AS halflife_weeks
    FROM s
    """,
    doc="Retention half-life: fit ln(retention rate) = a - lambda*week "
    "over the pooled censoring-aware retention curve (active users at "
    "offset k over users in cohorts OLD ENOUGH to be observable at k "
    "— without the eligibility join, young cohorts drag the tail down "
    "and the fit is biased) and report the decay slope and half-life "
    "= ln2/lambda in weeks — the single-number summary of "
    "cohort_retention's matrix that forecasting and LTV models "
    "consume. The text_heaps_law OLS discipline: rate points are "
    "exact integer ratios, each ln rounds to 9dp DECIMAL before the "
    "order-independent moment sums, the closed-form slope is one "
    "identical double sequence, and ln2 enters as the shared literal; "
    "a flat or rising curve NULLs the half-life via NULLIF.",
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the cohort_retention shuffles plus a
    calendar-bounded offsets x cohorts eligibility join (weeks^2 cells
    at most), 9dp-decimal OLS moments, a 1-row reduce."""
    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    )
    cohort = p.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cs = cohort.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0")
    )
    mx = p.agg(F.max("wk").alias("max_wk"))
    act = cut(
        p.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("bigint")
            .alias("off"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
    )
    offs = act.filter(F.col("off") >= 1).select("off").distinct()
    elig = (
        offs.crossJoin(F.broadcast(cs.crossJoin(F.broadcast(mx))))
        .filter(
            F.expr("CAST(datediff(max_wk, cohort_wk) / 7 AS BIGINT) >= off")
        )
        .groupBy("off")
        .agg(F.sum("n0").cast("bigint").alias("n_elig"))
    )
    rate = (
        elig.join(act.select("off", "n_active"), "off", "left")
        .groupBy("off", "n_elig")
        .agg(F.sum(F.coalesce("n_active", F.lit(0))).cast("bigint").alias("n_active"))
    )
    pts = rate.filter((F.col("n_active") > 0) & (F.col("n_elig") > 0)).select(
        F.col("off").cast("decimal(18,9)").alias("x"),
        F.expr(
            "CAST(ROUND(ln(CAST(n_active AS DOUBLE) / CAST(n_elig AS DOUBLE)),"
            " 9) AS DECIMAL(18,9))"
        ).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,9)").alias("sx"),
        F.sum("y").cast("decimal(38,9)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,18)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,18)").alias("sxx"),
    )
    slope = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)"
    )
    return s.selectExpr(
        "n AS n_points",
        f"ROUND({slope}, 6) AS decay_slope",
        f"ROUND(-0.6931471805599453 / NULLIF({slope}, 0.0), 6)"
        " AS halflife_weeks",
    )


@register(
    "window_donchian_breakout",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, MAX(q) AS h, MIN(q) AS l
        FROM p GROUP BY user_id, hb
    ),
    ch AS (
        SELECT user_id, h, l,
               MAX(h) OVER w AS ch_hi, MIN(l) OVER w AS ch_lo,
               COUNT(*) OVER w AS n_prior
        FROM bars
        WINDOW w AS (PARTITION BY user_id ORDER BY hb
                     ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST(SUM(CASE WHEN n_prior = 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_evaluated,
           CAST(SUM(CASE WHEN n_prior = 4 AND h > ch_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_up_breakouts,
           CAST(SUM(CASE WHEN n_prior = 4 AND l < ch_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_down_breakouts
    FROM ch GROUP BY user_id
    """,
    doc="Donchian channel breakout counter per user over the shared "
    "6-hour OHLC bars: a bar breaks out when its high exceeds the "
    "prior 4 bars' max high (or its low undercuts their min low) — "
    "the RANGE-based regime-change signal (Donchian's channel rule) "
    "beside Bollinger's std-based bands and RSI's momentum view; a "
    "user with many breakouts has regime-shifting spend, one with "
    "none is channel-bound. Only bars with a FULL 4-bar prior window "
    "are evaluated (n_prior = 4 — deterministic warmup exclusion in "
    "both engines). Pure integer comparisons on exact micro bars; no "
    "doubles anywhere.",
)
def window_donchian_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ATR bar aggregate (one fact shuffle), one
    per-user ordered window with a bounded 4-row frame, one per-user
    rollup."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"), F.min("q").alias("l")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(-4, -1)
    )
    ch = bars.select(
        "user_id",
        "h",
        "l",
        F.max("h").over(w).alias("ch_hi"),
        F.min("l").over(w).alias("ch_lo"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    return ch.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.sum(F.when(F.col("n_prior") == 4, 1).otherwise(0))
        .cast("bigint")
        .alias("n_evaluated"),
        F.sum(
            F.when((F.col("n_prior") == 4) & (F.col("h") > F.col("ch_hi")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_up_breakouts"),
        F.sum(
            F.when((F.col("n_prior") == 4) & (F.col("l") < F.col("ch_lo")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_down_breakouts"),
    )


@register(
    "timeseries_mase_seasonal_naive",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    w AS (
        SELECT user_id, q,
               LAG(q, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS l1,
               LAG(q, 7) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS l7
        FROM p
    ),
    s AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n7,
               CAST(SUM(CASE WHEN l7 IS NOT NULL THEN abs(q - l7) END)
                    AS HUGEINT) AS e7,
               CAST(SUM(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN l1 IS NOT NULL THEN abs(q - l1) END)
                    AS HUGEINT) AS e1
        FROM w GROUP BY user_id
    )
    SELECT user_id,
           n1 AS n_naive_terms, n7 AS n_seasonal_terms,
           CAST((2 * e1 + n1) // (2 * CAST(n1 AS HUGEINT)) AS BIGINT)
               AS mae_naive_micro,
           CAST((2 * e7 + n7) // (2 * CAST(n7 AS HUGEINT)) AS BIGINT)
               AS mae_seasonal_micro,
           CAST((2 * e7 * CAST(n1 AS HUGEINT) * 1000000
                 + CAST(n7 AS HUGEINT) * e1)
                // NULLIF(2 * CAST(n7 AS HUGEINT) * e1, 0) AS BIGINT)
               AS mase_micro
    FROM s WHERE n7 >= 1
    """,
    doc="MASE-style forecastability screen per user: the mean absolute "
    "error of the SEASONAL naive forecast (q_{t-7}, one week of "
    "daily-ish lag) scaled by the mean absolute error of the plain "
    "naive forecast (q_{t-1}) — Hyndman & Koehler's scaled-error idea "
    "with the roles arranged so mase < 1e6 micro means weekly "
    "seasonality beats momentum (pairs with timeseries_acf_profile's "
    "lag-7 peak; run before choosing a gap-fill or forecast baseline). "
    "Both MAEs are exact integer micro sums over within-user pairs "
    "(|q - lag| never leaves int), the ratio cross-multiplies to one "
    "half-away micro division, and a constant series (e1 = 0) NULLs "
    "mase via NULLIF in both engines.",
)
def timeseries_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window carrying both lags, one
    map-side-combined per-user aggregate — the fact table shuffles
    once; output is |users| rows."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "event_id",
        "q",
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = p.select(
        "user_id",
        "q",
        F.lag("q", 1).over(wo).alias("l1"),
        F.lag("q", 7).over(wo).alias("l7"),
    )
    s = w.groupBy("user_id").agg(
        F.sum(F.when(F.col("l7").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n7"),
        # operand-cast-before-sum: |q - lag| is int64-safe
        # per row, but the per-user SUM could wrap past ~9.2e18 where the
        # oracle's HUGEINT stays exact — sum decimal(20,0) operands.
        F.sum(
            F.when(
                F.col("l7").isNotNull(),
                F.abs(F.col("q") - F.col("l7")).cast("decimal(20,0)"),
            )
        )
        .cast("decimal(38,0)")
        .alias("e7"),
        F.sum(F.when(F.col("l1").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(
            F.when(
                F.col("l1").isNotNull(),
                F.abs(F.col("q") - F.col("l1")).cast("decimal(20,0)"),
            )
        )
        .cast("decimal(38,0)")
        .alias("e1"),
    )
    return s.filter(F.col("n7") >= 1).selectExpr(
        "user_id",
        "n1 AS n_naive_terms",
        "n7 AS n_seasonal_terms",
        "CAST((2 * e1 + n1) div (2 * CAST(n1 AS DECIMAL(38,0))) AS BIGINT)"
        " AS mae_naive_micro",
        "CAST((2 * e7 + n7) div (2 * CAST(n7 AS DECIMAL(38,0))) AS BIGINT)"
        " AS mae_seasonal_micro",
        "CAST((2 * e7 * CAST(n1 AS DECIMAL(19,0)) * 1000000"
        " + CAST(n7 AS DECIMAL(19,0)) * e1)"
        " div NULLIF(2 * CAST(n7 AS DECIMAL(19,0)) * e1, 0) AS BIGINT)"
        " AS mase_micro",
    )


@register(
    "events_dow_hour_profile",
    oracle="""
    WITH c AS (
        SELECT CAST(isodow(ts) AS INT) AS dow,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n FROM c)
    SELECT dow, hour, n_events,
           CAST((2 * CAST(n_events AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS share_micro,
           CAST((2 * CAST(168 * n_events - n AS HUGEINT)
                 * (168 * n_events - n) * 1000000 + 168 * CAST(n AS HUGEINT))
                // (2 * 168 * CAST(n AS HUGEINT)) AS BIGINT)
               AS chi2_contrib_micro
    FROM c, tot
    """,
    doc="Activity calendar heatmap: event counts per (ISO day-of-week, "
    "UTC hour) cell with each cell's share and its exact chi-square "
    "contribution against the uniform 168-cell profile ((o - n/168)^2 "
    "/ (n/168) = (168o - n)^2 / (168n), an exact integer identity — "
    "summing the column gives the uniformity statistic) — the "
    "load-shape view behind capacity planning and the seasonality "
    "prior for dq_freshness_lag's hourly buckets. Day-of-week is "
    "ISO (1 = Monday) on the UTC-pinned fixture timestamps: DuckDB "
    "isodow == Spark weekday(ts) + 1, an engine-identity the "
    "time_dim weekday-bug family documents. Cells with zero events "
    "are absent in both engines identically (their chi2 mass, n/168 "
    "each, is a property of the missing set).",
)
def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to <= 168 cells,
    one 1-row total broadcast — nothing else."""
    e = load_fixture(spark, sf_dir, "events")
    c = e.groupBy(
        F.expr("CAST(weekday(ts) + 1 AS INT)").alias("dow"),
        F.expr("CAST(EXTRACT(hour FROM ts) AS INT)").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    tot = c.agg(F.sum("n_events").cast("bigint").alias("n"))
    return c.crossJoin(F.broadcast(tot)).selectExpr(
        "dow",
        "hour",
        "n_events",
        "CAST((2 * CAST(n_events AS DECIMAL(38,0)) * 1000000 + n)"
        " div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT) AS share_micro",
        "CAST((2 * CAST(168 * n_events - n AS DECIMAL(19,0))"
        " * (168 * n_events - n) * 1000000 + 168 * CAST(n AS DECIMAL(19,0)))"
        " div (2 * 168 * CAST(n AS DECIMAL(19,0))) AS BIGINT)"
        " AS chi2_contrib_micro",
    )


@register(
    "survival_kaplan_meier",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t0,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) AS t1
        FROM events GROUP BY user_id
    ),
    lab AS (
        SELECT (t1 - t0) // 86400 AS dur,
               CASE WHEN (SELECT MAX(t1) FROM pu) - t1 > 86400
                    THEN 1 ELSE 0 END AS ev
        FROM pu
    ),
    byd AS (
        SELECT dur, CAST(COUNT(*) AS BIGINT) AS c_all,
               CAST(SUM(ev) AS BIGINT) AS d
        FROM lab GROUP BY dur
    ),
    risk AS (
        SELECT dur, d,
               SUM(c_all) OVER () - (SUM(c_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c_all)
                   AS n_risk
        FROM byd
    ),
    terms AS (
        SELECT dur, d, n_risk,
               CASE WHEN d < n_risk THEN
                   CAST(ROUND(ln(CAST(n_risk - d AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)), 9)
                        AS DECIMAL(18,9))
               ELSE NULL END AS lnterm,
               CASE WHEN d > 0 AND d = n_risk THEN 1 ELSE 0 END AS zflag
        FROM risk
    ),
    cum AS (
        SELECT dur, d, n_risk,
               SUM(CASE WHEN d > 0 THEN COALESCE(lnterm, 0) ELSE 0 END)
                   OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS lncum,
               SUM(zflag) OVER (ORDER BY dur
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS zcum
        FROM terms
    )
    SELECT dur AS duration_days,
           CAST(n_risk AS BIGINT) AS n_at_risk, d AS n_events,
           CASE WHEN zcum > 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(exp(CAST(lncum AS DOUBLE)) * 1000000.0
                                + 0.5) AS BIGINT) END AS survival_micro
    FROM cum WHERE d > 0
    """,
    doc="Kaplan-Meier product-limit survival curve on the "
    "survival_nelson_aalen labeling (active-span durations, censor = "
    "still active within a day of the corpus horizon): S(t) = "
    "prod_{t_i <= t} (1 - d_i/n_i) — the estimator people actually "
    "plot, beside N-A's cumulative hazard (ADVICE lineage: exp(-H) "
    "approximates S; KM is exact). The product is carried in LOG "
    "space with each per-duration ln((n-d)/n) rounded to 9dp and "
    "accumulated as EXACT DECIMAL over the span-bounded duration "
    "relation (the eval_log_loss per-cell-ln treatment — decimal sums "
    "are order-independent), then one exp + half-away floor to micro "
    "per emitted row. A duration where every at-risk subject exits "
    "(d = n) zeroes survival from then on via an exact integer flag, "
    "never a ln(0).",
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to survival_nelson_aalen — one per-user
    aggregate, one per-duration aggregate, ordered windows over the
    span-bounded duration relation, a 1-row censor-horizon broadcast."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("long")).alias("t0"),
        F.max(F.col("ts").cast("long")).alias("t1"),
    )
    gmax = pu.agg(F.max("t1").alias("gmax"))
    lab = pu.crossJoin(F.broadcast(gmax)).select(
        F.expr("(t1 - t0) div 86400").alias("dur"),
        F.when(F.col("gmax") - F.col("t1") > 86400, 1).otherwise(0).alias("ev"),
    )
    byd = lab.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    n_risk = F.sum("c_all").over(wall) - (
        F.sum("c_all").over(wcum) - F.col("c_all")
    )
    r = byd.withColumn("n_risk", n_risk)
    lnterm = F.when(
        F.col("d") < F.col("n_risk"),
        F.expr(
            "CAST(ROUND(ln(CAST(n_risk - d AS DOUBLE)"
            " / CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(18,9))"
        ),
    )
    zflag = F.when(
        (F.col("d") > 0) & (F.col("d") == F.col("n_risk")), 1
    ).otherwise(0)
    cum = (
        r.withColumn(
            "lnpart",
            F.when(F.col("d") > 0, F.coalesce(lnterm, F.lit(0).cast("decimal(18,9)")))
            .otherwise(F.lit(0).cast("decimal(18,9)")),
        )
        .withColumn("zflag", zflag)
        .withColumn("lncum", F.sum("lnpart").over(wcum))
        .withColumn("zcum", F.sum("zflag").over(wcum))
    )
    return cum.filter(F.col("d") > 0).select(
        F.col("dur").alias("duration_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.when(F.col("zcum") > 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.floor(
                F.exp(F.col("lncum").cast("double")) * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("bigint")
        )
        .alias("survival_micro"),
    )


@register(
    "survival_concordance_cindex",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t0,
               CAST(floor(epoch(MAX(ts))) AS BIGINT) AS t1,
               CAST(COUNT(*) AS BIGINT) AS s
        FROM events GROUP BY user_id
    ),
    lab AS (
        SELECT (t1 - t0) // 86400 AS dur,
               CASE WHEN (SELECT MAX(t1) FROM pu) - t1 > 86400
                    THEN 1 ELSE 0 END AS ev,
               s
        FROM pu
    ),
    cells AS (
        SELECT dur, s, CAST(COUNT(*) AS BIGINT) AS c_all,
               CAST(SUM(ev) AS BIGINT) AS c_ev
        FROM lab GROUP BY dur, s
    ),
    pairs AS (
        SELECT CAST(SUM(CAST(e.c_ev AS HUGEINT) * a.c_all) AS HUGEINT)
                   AS comp,
               CAST(SUM(CASE WHEN e.s > a.s
                             THEN CAST(e.c_ev AS HUGEINT) * a.c_all
                             ELSE 0 END) AS HUGEINT) AS conc,
               CAST(SUM(CASE WHEN e.s = a.s
                             THEN CAST(e.c_ev AS HUGEINT) * a.c_all
                             ELSE 0 END) AS HUGEINT) AS tied
        FROM cells e JOIN cells a ON a.dur > e.dur
        WHERE e.c_ev > 0
    )
    SELECT CAST(comp AS BIGINT) AS n_comparable,
           CAST(conc AS BIGINT) AS n_concordant,
           CAST(tied AS BIGINT) AS n_tied_score,
           CAST((2 * (2 * conc + tied) * 1000000 + 2 * comp)
                // (2 * (2 * comp)) AS BIGINT) AS c_index_micro
    FROM pairs
    """,
    doc="Harrell's concordance index of per-user event count as a "
    "predictor of observed lifetime, on the survival_nelson_aalen "
    "labeling (dur = active span in days; event = churn, i.e. last "
    "activity more than a day before the corpus horizon; censored "
    "otherwise): a pair is COMPARABLE when the earlier subject's time "
    "is strictly smaller and that subject churned; concordant when "
    "the churned-earlier subject has the HIGHER activity score, "
    "score ties count half (the standard C-index tie rule; "
    "time-tied pairs are excluded — documented convention). "
    "C = (2*conc + tied) / (2*comparable), half-away micro, all "
    "HUGEINT/DECIMAL(38,0)-exact — the discrimination metric for any "
    "churn/survival scoring model, and the time-to-event sibling of "
    "eval_binary_auc (C-index IS AUC under censoring).",
)
def survival_concordance_cindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (the agg_kendall_tau treatment): users collapse to
    DISTINCT (duration, score) cells in one map-side-combined shuffle,
    and pair counting is a broadcast range join over CELLS — bounded
    by |span-days| x |score-domain|, not by users — feeding a 1-row
    reduce. The oracle's pair semantics are the spec; no per-user
    pair join exists anywhere."""
    ev = load_fixture(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("long")).alias("t0"),
        F.max(F.col("ts").cast("long")).alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("s"),
    )
    gmax = pu.agg(F.max("t1").alias("gmax"))
    lab = pu.crossJoin(F.broadcast(gmax)).select(
        F.expr("(t1 - t0) div 86400").alias("dur"),
        F.when(F.col("gmax") - F.col("t1") > 86400, 1).otherwise(0).alias("ev"),
        "s",
    )
    cells = cut(lab.groupBy("dur", "s").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all"),
        F.sum("ev").cast("bigint").alias("c_ev"),
    ))
    e = (
        cells.filter(F.col("c_ev") > 0)
        .select(
            F.col("dur").alias("e_dur"),
            F.col("s").alias("e_s"),
            F.col("c_ev").alias("e_c"),
        )
    )
    j = F.broadcast(e).join(cells, F.col("dur") > F.col("e_dur"))
    ced = F.col("e_c").cast("decimal(19,0)") * F.col("c_all").cast("decimal(19,0)")
    pairs = j.agg(
        F.sum(ced).cast("decimal(38,0)").alias("comp"),
        F.sum(F.when(F.col("e_s") > F.col("s"), ced).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("conc"),
        F.sum(F.when(F.col("e_s") == F.col("s"), ced).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("tied"),
    )
    return pairs.selectExpr(
        "CAST(comp AS BIGINT) AS n_comparable",
        "CAST(conc AS BIGINT) AS n_concordant",
        "CAST(tied AS BIGINT) AS n_tied_score",
        "CAST((2 * (2 * conc + tied) * 1000000 + 2 * comp)"
        " div (2 * (2 * comp)) AS BIGINT) AS c_index_micro",
    )


@register(
    "timeseries_holt_linear",
    oracle="""
    WITH RECURSIVE pts AS (
        SELECT user_id,
               CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS x,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (SELECT user_id, x, rn FROM pts WHERE rn <= 16),
    rec AS (
        SELECT user_id, rn, x AS l, CAST(0 AS BIGINT) AS b
        FROM s WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn,
               (s.x + r.l + r.b) // 2 AS l,
               (((s.x + r.l + r.b) // 2 - r.l) + r.b) // 2 AS b
        FROM rec r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    ),
    fin AS (
        SELECT user_id, rn, l, b,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rk
        FROM rec
    )
    SELECT user_id, CAST(rn AS BIGINT) AS n_points,
           l AS level_cents, b AS trend_cents,
           CAST(l + b AS DOUBLE) / 100.0 AS forecast_next
    FROM fin WHERE rk = 1
    """,
    doc="Holt's linear (double-exponential) smoothing per user over "
    "the first 16 purchase amounts, alpha = beta = 1/2, with the "
    "one-step-ahead forecast l+b — the classic trend-aware EWMA "
    "upgrade. INTEGER-EXACT recursion: amounts enter as cents and "
    "both updates halve via TRUNCATING integer division (Spark div / "
    "DuckDB // both truncate toward zero; the Python loop spells it "
    "a//2 with a sign split because Python // floors), so level and "
    "trend stay exact BIGINTs through every step and the oracle can "
    "replay the recursion as a bounded recursive CTE (the kcore-peel "
    "unroll idiom) — a value hash over a genuinely sequential, "
    "non-associative computation.",
)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per-user sequential state is the honest model for
    exponential smoothing (non-associative recurrence), but one Python
    call PER GROUP (applyInPandas) costs ~2-3 ms of dispatch per user —
    measured 5.2x wall clock at 8x data from group count alone. The
    plan instead hash-repartitions by user, secondary-sorts within
    partitions on (user, rn), and runs ONE mapInPandas over each Arrow
    batch, folding every complete user inside the batch and carrying
    the split tail user across batch boundaries — thousands of tiny
    sequential recursions per Python call, constant memory. Ranking is
    one per-user window JVM-side before Python sees data."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.window import Window

    ev = purchase_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    s = (
        ev.select(
            "user_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 16)
        .repartition("user_id")
        .sortWithinPartitions("user_id", "rn")
    )

    def half(a: int) -> int:
        return a // 2 if a >= 0 else -((-a) // 2)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        uids, ns, ls, bs, fc = [], [], [], [], []
        # rows arrive sorted by (user_id, rn) from sortWithinPartitions
        for uid, g in pdf.groupby("user_id", sort=False):
            xs = [int(v) for v in g["x"]]
            lv, b = xs[0], 0
            for x in xs[1:]:
                l1 = half(x + lv + b)
                b = half((l1 - lv) + b)
                lv = l1
            uids.append(int(uid))
            ns.append(len(xs))
            ls.append(lv)
            bs.append(b)
            fc.append(float(lv + b) / 100.0)
        return pd.DataFrame(
            {
                "user_id": uids,
                "n_points": ns,
                "level_cents": ls,
                "trend_cents": bs,
                "forecast_next": fc,
            }
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                pending = None
                continue
            # an Arrow batch boundary can split a user's rows; hold the
            # trailing user back until the next batch (or the flush)
            last = pdf["user_id"].iloc[-1]
            head = pdf[pdf["user_id"] != last]
            pending = pdf[pdf["user_id"] == last]
            if len(head):
                yield fold(head)
        if pending is not None and len(pending):
            yield fold(pending)

    return s.mapInPandas(
        run,
        "user_id long, n_points long, level_cents long, trend_cents long, "
        "forecast_next double",
    )


# --------------------------------------------------------------------------
# round 8 additions — effect sizes, series diagnostics, funnel, CDC


@register(
    "agg_cramers_v",
    oracle="""
    WITH o AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
        FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY source),
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
        FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot t
    ),
    s AS (
        SELECT (SELECT n FROM tot) AS n,
               (SELECT COUNT(*) FROM rt) AS nr,
               (SELECT COUNT(*) FROM ct) AS nc,
               CAST(SUM(CAST(term AS DECIMAL(18,9))) AS DOUBLE) AS chi2
        FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(chi2, 6) AS chi2,
           ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
                              * (LEAST(nr, nc) - 1.0))), 6) AS cramers_v
    FROM s
    """,
    doc="Cramer's V association strength between document language and "
    "source — the [0,1]-normalized effect size that makes the chi-square "
    "audit comparable across tables of different shape (chi2 alone grows "
    "with n, V does not). Same exact integer identity per cell as "
    "agg_chi_square_independence ((O*N - R*C)^2/(N*R*C), rounded to 9 dp "
    "and summed as DECIMAL), then V = sqrt(chi2/(n*(min(r,c)-1))) in one "
    "identical double op sequence per engine.",
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on the category pair, two broadcast-size
    marginal joins, single-row reduce — the chi-square budget."""
    d = load_fixture(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    rt = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").cast("bigint").alias("c"))
    tot = o.agg(F.sum("obs").cast("bigint").alias("n"))
    cells = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
    )
    od, nd = F.col("obs").cast("double"), F.col("n").cast("double")
    rd, cd = F.col("r").cast("double"), F.col("c").cast("double")
    term = F.round((od * nd - rd * cd) * (od * nd - rd * cd) / (nd * rd * cd), 9)
    s = cells.agg(
        F.max("n").alias("n"),
        F.countDistinct("lang").alias("nr"),
        F.countDistinct("source").alias("nc"),
        F.sum(term.cast("decimal(18,9)")).cast("double").alias("chi2"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n").cast("double") * (F.least("nr", "nc") - F.lit(1.0)))
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "agg_cohens_d",
    oracle="""
    WITH v AS (
        SELECT o_orderpriority AS grp,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN grp = '1-URGENT' THEN c ELSE 0 END) AS HUGEINT) AS s1,
               CAST(SUM(CASE WHEN grp = '5-LOW' THEN c ELSE 0 END) AS HUGEINT) AS s2,
               SUM(CASE WHEN grp = '1-URGENT'
                        THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q1,
               SUM(CASE WHEN grp = '5-LOW'
                        THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q2
        FROM v
    )
    SELECT n1 AS n_urgent, n2 AS n_low,
           ROUND(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                  / sqrt(((CAST(q1 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) / n1 * CAST(s1 AS DOUBLE))
                          + (CAST(q2 AS DOUBLE)
                             - CAST(s2 AS DOUBLE) / n2 * CAST(s2 AS DOUBLE)))
                         / (n1 + n2 - 2.0))), 6) AS cohens_d,
           ROUND(sqrt(((CAST(q1 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) / n1 * CAST(s1 AS DOUBLE))
                       + (CAST(q2 AS DOUBLE)
                          - CAST(s2 AS DOUBLE) / n2 * CAST(s2 AS DOUBLE)))
                      / (n1 + n2 - 2.0)) / 100.0, 4) AS pooled_sd
    FROM s
    """,
    doc="Cohen's d standardized effect size between urgent and low order "
    "totals — the magnitude companion to agg_welch_ttest's significance "
    "(a drift monitor alerts on d, not p, once n is large). Cents "
    "accumulate as exact HUGEINT/DECIMAL sums (cast BEFORE the square "
    "sum — the Welch lesson); mean difference over the pooled SD runs "
    "in one identical double op sequence per engine.",
)
def agg_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan, one map-side-combined 1-row aggregate
    carrying six exact partials — no shuffle beyond the combine."""
    o = load_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    c = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    is1 = F.col("o_orderpriority") == "1-URGENT"
    v = o.select(is1.alias("u"), c.alias("c"))
    s = v.agg(
        F.sum(F.when(F.col("u"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(~F.col("u"), 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("u"), F.col("c")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.when(~F.col("u"), F.col("c")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("s2"),
        # cast the FIRST factor before multiplying: long*long wraps
        # silently past cents ~3e9; decimal*long is exact to 38 digits
        F.sum(
            F.when(F.col("u"), F.col("c").cast("decimal(19,0)") * F.col("c"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("q1"),
        F.sum(
            F.when(~F.col("u"), F.col("c").cast("decimal(19,0)") * F.col("c"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("q2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    ss = (F.col("q1").cast("double") - s1d / n1d * s1d) + (
        F.col("q2").cast("double") - s2d / n2d * s2d
    )
    pooled = F.sqrt(ss / (n1d + n2d - F.lit(2.0)))
    return s.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_low"),
        F.round((s1d / n1d - s2d / n2d) / pooled, 6).alias("cohens_d"),
        F.round(pooled / F.lit(100.0), 4).alias("pooled_sd"),
    )


@register(
    "timeseries_ewma_signal",
    oracle="""
    WITH q AS (
        SELECT user_id, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    l AS (
        SELECT user_id, event_id, rn, q,
               LAG(q, 1) OVER w AS q1, LAG(q, 2) OVER w AS q2,
               LAG(q, 3) OVER w AS q3, LAG(q, 4) OVER w AS q4,
               LAG(q, 5) OVER w AS q5, LAG(q, 6) OVER w AS q6,
               LAG(q, 7) OVER w AS q7
        FROM q
        WINDOW w AS (PARTITION BY user_id ORDER BY rn)
    ),
    f AS (
        SELECT user_id, event_id,
               128*q + 64*q1 + 32*q2 + 16*q3 + 8*q4 + 4*q5 + 2*q6 + q7 AS num,
               q + q1 + q2 + q3 + q4 + q5 + q6 + q7 AS ssum
        FROM l WHERE rn >= 8
    )
    SELECT user_id, event_id,
           CAST((2 * num + 255) // 510 AS BIGINT) AS ewma_micro,
           CAST((2 * ssum + 8) // 16 AS BIGINT) AS sma_micro,
           CAST(CASE WHEN 8 * num > 255 * ssum THEN 1 ELSE 0 END AS INTEGER)
               AS above_sma
    FROM f
    """,
    doc="Dyadic 8-tap EWMA vs simple moving average per user purchase "
    "series, with the momentum crossover flag — the smoothing/signal "
    "primitive of monitoring dashboards, made hash-gradable: weights are "
    "powers of two over a truncated window, so the EWMA numerator is an "
    "EXACT integer (sum 2^(7-k) q_(t-k), denominator 255), both smoothers "
    "round half-away in integer micro-units, and the crossover compares "
    "8*num > 255*ssum in exact integers — no float ever enters.",
)
def timeseries_ewma_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window pass (8 LAG taps share
    one window spec and one sort), partition-parallel across users; no
    join, no global sort. int64 bound: num <= 255 * q_max — value-domain
    bounded (micro values to ~3.6e16)."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir).filter(F.col("value") > 0)
    base = e.select("user_id", "event_id", "q", "ts")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = base.select(
        "user_id",
        "event_id",
        F.row_number().over(wo).alias("rn"),
        "q",
        *[F.lag("q", k).over(wo).alias(f"q{k}") for k in range(1, 8)],
    ).filter(F.col("rn") >= 8)
    num = F.expr(
        "128*q + 64*q1 + 32*q2 + 16*q3 + 8*q4 + 4*q5 + 2*q6 + q7"
    )
    ssum = F.expr("q + q1 + q2 + q3 + q4 + q5 + q6 + q7")
    return lagged.select(
        "user_id",
        "event_id",
        F.expr(
            "CAST((2 * (128*q + 64*q1 + 32*q2 + 16*q3 + 8*q4 + 4*q5 + 2*q6 + q7)"
            " + 255) div 510 AS BIGINT)"
        ).alias("ewma_micro"),
        F.expr(
            "CAST((2 * (q + q1 + q2 + q3 + q4 + q5 + q6 + q7) + 8) div 16 AS BIGINT)"
        ).alias("sma_micro"),
        (F.lit(8) * num > F.lit(255) * ssum).cast("int").alias("above_sma"),
    )


@register(
    "window_max_drawdown",
    oracle="""
    WITH q AS (
        SELECT user_id, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
          AND floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) > 0
    ),
    p AS (
        SELECT user_id, event_id, q,
               MAX(q) OVER (PARTITION BY user_id ORDER BY rn
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak
        FROM q
    ),
    d AS (
        SELECT user_id, event_id,
               CAST((2 * (peak - q) * 1000000 + peak) // (2 * peak) AS BIGINT)
                   AS dd_micro
        FROM p
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MAX(dd_micro) AS BIGINT) AS max_dd_micro,
           CAST(MIN(CASE WHEN dd_micro = (SELECT MAX(d2.dd_micro) FROM d d2
                                          WHERE d2.user_id = d.user_id)
                         THEN event_id END) AS BIGINT) AS at_event
    FROM d GROUP BY user_id
    """,
    doc="Maximum drawdown per user purchase series: running peak (window "
    "cumulative MAX — partition-parallel), per-row drawdown "
    "(peak - v)/peak rounded half-away in integer micro-units, then the "
    "per-user max with a deterministic min-event tie-break. The risk "
    "metric of trading backtests applied to any monitored series. "
    "int64 bound: (peak - q) * 1e6 <= peak_micro * 1e6 — value-domain "
    "bounded (~3.6e16 at the fixture's value range). The series filter "
    "is on the QUANTIZED value (q > 0, i.e. value >= 5e-7): a sub-micro "
    "first purchase would give peak = 0 and divide by zero — Spark "
    "NULLs, DuckDB errors — so it is excluded identically "
    "in both engines instead of guarded asymmetrically.",
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window (running max shares the
    sort), one map-side-combined per-user aggregate with a min_by
    tie-break — no join, no global sort."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = e.select("user_id", "event_id", "q", "ts").filter(
        F.col("q") > 0
    ).select(
        "user_id",
        "event_id",
        "q",
        F.max("q").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("peak"),
    )
    d = p.select(
        "user_id",
        "event_id",
        F.expr("CAST((2 * (peak - q) * 1000000 + peak) div (2 * peak) AS BIGINT)").alias(
            "dd_micro"
        ),
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.max("dd_micro").cast("bigint").alias("max_dd_micro"),
        F.expr("CAST(min_by(event_id, struct(-dd_micro, event_id)) AS BIGINT)").alias(
            "at_event"
        ),
    )


@register(
    "timeseries_seasonal_strength",
    oracle="""
    WITH q AS (
        SELECT user_id,
               dayofweek(ts) AS dow,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    d AS (
        SELECT user_id, dow,
               CAST(COUNT(*) AS BIGINT) AS nd,
               CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS sd
        FROM q GROUP BY user_id, dow
    ),
    u AS (
        SELECT user_id,
               CAST(SUM(nd) AS BIGINT) AS n,
               CAST(SUM(sd) AS HUGEINT) AS s,
               (SELECT SUM(CAST(q2.q AS HUGEINT) * q2.q) FROM q q2
                WHERE q2.user_id = d.user_id) AS qq,
               SUM(CAST(ROUND(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
                              / CAST(nd AS DOUBLE), 6) AS DECIMAL(38,6)))
                   AS sd2
        FROM d GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           ROUND(GREATEST(0.0, 1.0 -
               (CAST(qq AS DOUBLE) - CAST(sd2 AS DOUBLE))
               / NULLIF(CAST(qq AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE), 0.0)), 6)
               AS seasonal_strength
    FROM u
    WHERE n >= 14
    """,
    doc="Day-of-week seasonal strength per user purchase series: "
    "1 - SS_resid/SS_total where the residual removes day-of-week means "
    "— the classical decomposition's seasonal-strength statistic "
    "(Hyndman) restricted to the weekly period. Per-(user, dow) micro "
    "sums and the quadratic moment are EXACT integers; each dow's "
    "sd^2/nd term runs in one identical double op sequence over those "
    "exact integers, rounds once to 6 dp DECIMAL, and sums "
    "order-independently (the MI float discipline; residual 1-ulp-at-"
    "the-rounding-boundary risk acknowledged, same class as the ln() "
    "sites). dayofweek labels differ across engines (Spark 1-7, DuckDB "
    "0-6) but only partition the group — the label never reaches the "
    "output.",
)
def timeseries_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two chained map-side-combined aggregates
    ((user, dow) then user) plus one per-user quadratic-moment
    aggregate joined on user — no window, no global sort."""
    e = purchase_events(spark, sf_dir).filter(F.col("value") > 0)
    q = e.select("user_id", F.dayofweek("ts").alias("dow"), "q")
    d = q.groupBy("user_id", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("sd"),
    )
    qq = q.groupBy("user_id").agg(
        F.sum(F.col("q").cast("decimal(19,0)") * F.col("q").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("qq")
    )
    u = (
        d.groupBy("user_id")
        .agg(
            F.sum("nd").cast("bigint").alias("n"),
            F.sum("sd").cast("decimal(38,0)").alias("s"),
            F.sum(
                F.round(
                    F.col("sd").cast("double") * F.col("sd").cast("double")
                    / F.col("nd").cast("double"),
                    6,
                ).cast("decimal(38,6)")
            ).alias("sd2"),
        )
        .join(qq, "user_id")
        .filter(F.col("n") >= 14)
    )
    qqd = F.col("qq").cast("double")
    sdt = F.col("s").cast("double")
    return u.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.round(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - (qqd - F.col("sd2").cast("double"))
                / F.nullif(
                    qqd - sdt * sdt / F.col("n").cast("double"), F.lit(0.0)
                ),
            ),
            6,
        ).alias("seasonal_strength"),
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_after,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_after,
           CAST(CAST((2 * (SELECT COUNT(*) FROM c) * 1000000
                      + NULLIF((SELECT COUNT(*) FROM v), 0))
                     // NULLIF(2 * (SELECT COUNT(*) FROM v), 0) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS view_to_click,
           CAST(CAST((2 * (SELECT COUNT(*) FROM p) * 1000000
                      + NULLIF((SELECT COUNT(*) FROM c), 0))
                     // NULLIF(2 * (SELECT COUNT(*) FROM c), 0) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS click_to_purchase
    FROM (SELECT 1) one
    """,
    doc="Strictly-ordered three-stage funnel (view -> later click -> "
    "later purchase) with per-stage user counts and half-away "
    "micro-rounded conversion rates — THE product-analytics query, with "
    "order enforced by timestamp comparison against the previous stage's "
    "first completion (not mere event presence). Counts are exact "
    "integers; ratios round in integer micro-units.",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: three chained (filter -> groupBy user) aggregates,
    each joined user-to-user with the previous stage's first-completion
    relation — all shuffles are keyed by user_id; stage relations only
    shrink. No window, no global sort."""
    e = load_fixture(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
    ncl = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_after"))
    np_ = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase_after"))
    j = nv.crossJoin(F.broadcast(ncl)).crossJoin(F.broadcast(np_))
    return j.select(
        "n_view",
        "n_click_after",
        "n_purchase_after",
        (
            F.expr(
                "CAST((2 * n_click_after * 1000000 + nullif(n_view, 0))"
                " div nullif(2 * n_view, 0) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("view_to_click"),
        (
            F.expr(
                "CAST((2 * n_purchase_after * 1000000 + nullif(n_click_after, 0))"
                " div nullif(2 * n_click_after, 0) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("click_to_purchase"),
    )


@register(
    "agg_exact_delay_quantiles",
    oracle="""
    WITH j AS (
        SELECT l.l_returnflag AS flag,
               CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    cells AS (
        SELECT flag, d, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY flag, d
    ),
    cum AS (
        SELECT flag, d, c,
               SUM(c) OVER (PARTITION BY flag ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumc,
               SUM(c) OVER (PARTITION BY flag) AS n
        FROM cells
    )
    SELECT flag, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cumc >= (n + 1) // 2 THEN d END) AS BIGINT) AS p50,
           CAST(MIN(CASE WHEN cumc >= (9 * n + 9) // 10 THEN d END) AS BIGINT) AS p90,
           CAST(MIN(CASE WHEN cumc >= (99 * n + 99) // 100 THEN d END) AS BIGINT)
               AS p99
    FROM cum GROUP BY flag
    """,
    doc="EXACT shipping-delay quantiles (p50/p90/p99, type-1: smallest "
    "value whose inclusive running count reaches ceil(q*n)) per return "
    "flag — the latency-SLA percentiles approx_percentile only "
    "approximates, computed exactly at any scale. Rows collapse to the "
    "DISTINCT-delay relation (one shuffle; the day domain bounds it), "
    "running counts come from the two-level prefix-sum, and rank cut "
    "points use pure integer ceil arithmetic — no float anywhere.",
)
def agg_exact_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact-fact join co-partitioned on the order key,
    value_ranks for the distinct-value running counts and totals (no
    single-partition sort even on a dense value domain), a |values|-row
    aggregate."""
    from ..operators.stats import value_ranks

    li = load_fixture(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = load_fixture(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_returnflag").alias("flag"),
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("d"),
    )
    return (
        value_ranks(j, ["flag"], "d", {"c": F.lit(1)})
        .withColumnRenamed("tot_c", "n")
        .groupBy("flag")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min(F.when(F.expr("cum_c >= (n + 1) div 2"), F.col("d")))
            .cast("bigint")
            .alias("p50"),
            F.min(F.when(F.expr("cum_c >= (9 * n + 9) div 10"), F.col("d")))
            .cast("bigint")
            .alias("p90"),
            F.min(F.when(F.expr("cum_c >= (99 * n + 99) div 100"), F.col("d")))
            .cast("bigint")
            .alias("p99"),
        )
    )


# --------------------------------------------------------------------------
# Kendall tau-b: exact distributed concordance via the static-domain pivot

_KT_K = 50  # l_quantity's static integer domain 1..50 (TPC-H construction)


def _kendall_oracle_sql(k: int = _KT_K) -> str:
    """DuckDB rendering of agg_kendall_tau — same pivot, same inclusive
    running counts, same prefix-chain concordance arithmetic, generated
    from one spec so the engines cannot drift."""
    cdefs = ",\n               ".join(
        f"CAST(COUNT(*) FILTER (WHERE CAST(l_quantity AS INT) = {j}) AS BIGINT)"
        f" AS c{j}"
        for j in range(1, k + 1)
    )
    xdefs = ",\n               ".join(
        f"SUM(c{j}) OVER (PARTITION BY flag ORDER BY p "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x{j}"
        for j in range(1, k + 1)
    )
    ndefs = ", ".join(f"CAST(SUM(c{j}) AS BIGINT) AS n{j}" for j in range(1, k + 1))
    ps = [f"x1 - c1 AS psx1", f"n1 - x1 AS psd1"]
    for j in range(2, k + 1):
        ps.append(f"psx{j - 1} + x{j} - c{j} AS psx{j}")
        ps.append(f"psd{j - 1} + n{j} - x{j} AS psd{j}")
    cterm = " + ".join(
        f"CAST(c{j} AS HUGEINT) * psx{j - 1}" for j in range(2, k + 1)
    )
    dterm = " + ".join(
        f"CAST(c{j} AS HUGEINT) * psd{j - 1}" for j in range(2, k + 1)
    )
    tsum = " + ".join(f"c{j}" for j in range(1, k + 1))
    n1term = " + ".join(
        f"CAST(n{j} AS HUGEINT) * (n{j} - 1)" for j in range(1, k + 1)
    )
    return f"""
    WITH piv AS (
        SELECT l_returnflag AS flag, CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
               {cdefs}
        FROM lineitem GROUP BY flag, p
    ),
    cum AS (
        SELECT *,
               {xdefs}
        FROM piv
    ),
    marg AS (SELECT flag, {ndefs} FROM piv GROUP BY flag),
    expanded AS (
        SELECT cum.*, {", ".join(ps)}
        FROM cum JOIN marg USING (flag)
    ),
    contrib AS (
        SELECT flag,
               CAST({tsum} AS HUGEINT) AS tp,
               ({cterm}) AS cc,
               ({dterm}) AS dc
        FROM expanded
    ),
    s AS (
        SELECT flag,
               CAST(SUM(tp) AS HUGEINT) AS n,
               CAST(SUM(cc) AS HUGEINT) AS conc,
               CAST(SUM(dc) AS HUGEINT) AS disc,
               SUM(tp * (tp - 1)) AS n2x2
        FROM contrib GROUP BY flag
    ),
    t AS (
        SELECT s.flag, s.n, s.conc, s.disc, s.n2x2,
               ({n1term}) AS n1x2,
               CAST(s.n AS HUGEINT) * (s.n - 1) AS n0x2
        FROM s JOIN marg ON marg.flag = s.flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           ROUND((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
                 / NULLIF(sqrt(CAST(n0x2 - n1x2 AS DOUBLE) / 2.0)
                          * sqrt(CAST(n0x2 - n2x2 AS DOUBLE) / 2.0), 0.0), 6)
               AS tau_b
    FROM t
    """


@register(
    "agg_kendall_tau",
    oracle=_kendall_oracle_sql(),
    doc="EXACT Kendall tau-b rank correlation between quantity and "
    "extended price per return flag — the pair-counting dependence "
    "measure usually written off as O(n^2): here concordant/discordant "
    "pair counts come from the 2D dominance identity over the joint "
    "distribution, made distributed by pivoting on quantity's STATIC "
    "1..50 integer domain (one column per value), taking inclusive "
    "running counts over the price axis, and folding prefix chains "
    "psx_q = #(qty<=q, price<p) / psd_q = #(qty<=q, price>p) per row "
    "— every pair is counted exactly once at its larger cell. Tie "
    "corrections n1/n2 from the two marginals; all pair counts in "
    "HUGEINT/DECIMAL(38,0) (they are ~n^2/2, corpus-scaled — the r8 "
    "micro-unit audit class); tau's two sqrt factors taken separately "
    "(the MCC overflow lesson). Oracle generated from the same spec.",
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact shuffle to the (flag, price) pivot, the
    price-axis running counts via two_level_cumsum (50 summands share
    one bucketed window pass — NO single-partition sort on the dense
    price axis), a 3-row marginal broadcast, then one map-side-combined
    aggregate. The 50-term prefix chains are one post-checkpoint
    projection (codegen-sized; the helper's internal checkpoint
    isolates them from the window stage)."""
    from ..operators.stats import two_level_cumsum
    from ..plans.hints import broadcast_if_small

    k = _KT_K
    li = load_fixture(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("int")
    piv = cut(
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
        )
        .agg(
            *[
                F.sum(F.when(q == j, 1).otherwise(0)).cast("bigint").alias(f"c{j}")
                for j in range(1, k + 1)
            ],
            # domain guard: a quantity outside the pivoted
            # 1..k domain contributes to NO c_j and would silently vanish
            # from n and every pair count IN BOTH ENGINES (oracle parity
            # hides the undercount). Count the strays per cell...
            F.sum(F.when(q.between(1, k), 0).otherwise(1))
            .cast("bigint")
            .alias("c_oob"),
        )
    )
    # ...and fail loudly on any (one bounded 1-row sync over the already
    # checkpointed |cells|-row relation — the stage_exact_quarters rule:
    # a violated domain assumption fails the query, never skews it)
    n_oob = piv.agg(F.sum("c_oob")).first()[0] or 0
    if n_oob:
        raise ValueError(
            f"agg_kendall_tau: {n_oob} lineitem rows have l_quantity "
            f"outside the pivoted 1..{k} domain; widen _KT_K or re-bucket"
        )
    piv = piv.drop("c_oob")
    cum = two_level_cumsum(
        piv, ["flag"], "p", [], {f"x{j}": f"c{j}" for j in range(1, k + 1)}
    )
    marg = piv.groupBy("flag").agg(
        *[F.sum(f"c{j}").cast("bigint").alias(f"n{j}") for j in range(1, k + 1)]
    )
    j2 = cum.join(broadcast_if_small(marg), "flag")
    # contributions as ONE small fold expression per row (struct
    # accumulator over the 50-slot arrays): the literally-expanded
    # prefix-chain projection (~2500 terms) spent ~10 s in Janino per
    # run, and 50 chained selects spent ~46 s re-analyzing a growing
    # plan; the fold is interpreted but touches only 50 elements per
    # (flag, price) row — data-independent constant work
    arr = lambda pre: "array(" + ", ".join(f"{pre}{j}" for j in range(1, k + 1)) + ")"
    fold = (
        "aggregate(sequence(2, {k}), "
        "struct(CAST(0 AS DECIMAL(38,0)) AS acc, "
        "CAST({first} AS DECIMAL(19,0)) AS ps), "
        "(s, j) -> struct("
        "s.acc + CAST(element_at({cs}, j) AS DECIMAL(19,0)) * s.ps, "
        "CAST(s.ps + {step} AS DECIMAL(19,0))), "
        "s -> s.acc)"
    )
    tsum = " + ".join(f"c{j}" for j in range(1, k + 1))
    # materialize the arrays ONCE per row — inlining them inside the
    # fold rebuilt a 50-slot array per element access (O(50^2)/row,
    # measured 35 s interpreted)
    j3 = j2.selectExpr(
        "flag",
        f"CAST({tsum} AS DECIMAL(19,0)) AS tp",
        f'{arr("c")} AS cs',
        f'{arr("x")} AS xs',
        f'{arr("n")} AS ns',
    )
    cterm = fold.format(
        k=k,
        first="element_at(xs, 1) - element_at(cs, 1)",
        cs="cs",
        step="element_at(xs, j) - element_at(cs, j)",
    )
    dterm = fold.format(
        k=k,
        first="element_at(ns, 1) - element_at(xs, 1)",
        cs="cs",
        step="element_at(ns, j) - element_at(xs, j)",
    )
    contrib = j3.selectExpr(
        "flag",
        "tp",
        f"CAST({cterm} AS DECIMAL(38,0)) AS cc",
        f"CAST({dterm} AS DECIMAL(38,0)) AS dc",
    )
    s = contrib.groupBy("flag").agg(
        F.sum("tp").cast("decimal(38,0)").alias("n"),
        F.sum("cc").cast("decimal(38,0)").alias("conc"),
        F.sum("dc").cast("decimal(38,0)").alias("disc"),
        F.sum(F.expr("tp * (tp - 1)")).cast("decimal(38,0)").alias("n2x2"),
    )
    n1term = " + ".join(
        f"CAST(n{j} AS DECIMAL(19,0)) * (n{j} - 1)" for j in range(1, k + 1)
    )
    # doubled tie/pair terms stay exact DECIMAL integers (Spark's decimal
    # `div` returns BIGINT, which n^2-scale quantities overflow — halve
    # inside the double sqrt instead, identically in both engines)
    t = s.join(broadcast_if_small(marg), "flag").selectExpr(
        "flag",
        "n",
        "conc",
        "disc",
        "n2x2",
        f"CAST(({n1term}) AS DECIMAL(38,0)) AS n1x2",
        "CAST(n * (n - 1) AS DECIMAL(38,0)) AS n0x2",
    )
    return t.select(
        "flag",
        F.col("n").cast("bigint").alias("n"),
        F.col("conc").cast("bigint").alias("concordant"),
        F.col("disc").cast("bigint").alias("discordant"),
        F.round(
            (F.col("conc").cast("double") - F.col("disc").cast("double"))
            / F.nullif(
                F.sqrt((F.col("n0x2") - F.col("n1x2")).cast("double") / F.lit(2.0))
                * F.sqrt((F.col("n0x2") - F.col("n2x2")).cast("double") / F.lit(2.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("tau_b"),
    )


# --------------------------------------------------------------------------
# round 9 — paired tests, divergences, and behavior statistics


@register(
    "agg_wilcoxon_signed_rank",
    oracle="""
    WITH po AS (
        SELECT l_orderkey,
               SUM(CASE WHEN l_linenumber % 2 = 1
                        THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                        ELSE -CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   END) AS d
        FROM lineitem GROUP BY l_orderkey
    ),
    nz AS (
        SELECT abs(d) AS ad, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
        FROM po WHERE d <> 0
    ),
    cells AS (
        SELECT ad, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(pos) AS BIGINT) AS cpos
        FROM nz GROUP BY ad
    ),
    r AS (
        SELECT ad, c, cpos,
               2 * SUM(c) OVER (ORDER BY ad
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - c + 1 AS dr2
        FROM cells
    ),
    s AS (
        SELECT CAST(SUM(c) AS HUGEINT) AS n,
               CAST(SUM(CAST(cpos AS HUGEINT) * dr2) AS HUGEINT) AS w2p,
               CAST(SUM(CAST(c - cpos AS HUGEINT) * dr2) AS HUGEINT) AS w2m,
               CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS tsum
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM po WHERE d = 0)
               AS n_zero_dropped,
           CAST((CASE WHEN w2p >= w2m THEN 1 ELSE -1 END)
                * ((2 * abs(w2p - w2m) * 1000000 + n * (n + 1))
                   // (2 * n * (n + 1))) AS DOUBLE) / 1000000.0
               AS rank_biserial,
           ROUND(CAST(2 * w2p - n * (n + 1) AS DOUBLE)
                 / sqrt((CAST(2 * n * (n + 1) * (2 * n + 1) AS DOUBLE)
                         - CAST(tsum AS DOUBLE)) / 3.0), 6) AS z_score
    FROM s
    """,
    doc="Wilcoxon signed-rank test over naturally paired samples (per "
    "order: odd- minus even-position line revenue, in exact cents) — "
    "the PAIRED sibling of agg_mann_whitney_u, the standard "
    "nonparametric before/after test. Zero differences drop (the "
    "classical treatment, counted in the output); |d| ranks are "
    "tie-averaged DOUBLED integers from the distinct-|d| relation, so "
    "W+ and W- stay exact; the tie-corrected z uses "
    "var*16 = (2n(n+1)(2n+1) - sum(t^3 - t))/3 with every operand an "
    "exact DECIMAL(38,0)/HUGEINT integer (bound: n^3 < 1e38, n < "
    "~4.6e12 pairs) and ONE double division + sqrt per engine. The "
    "rank-biserial effect size rounds half-away-from-zero on the "
    "magnitude in integer micro-units (signed div truncates toward "
    "zero identically in both engines).",
)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-order aggregate (co-partitioned fact
    shuffle), value_ranks over |d| for the tie-averaged ranks, then one
    map-side-combined reduce and two broadcast 1-row joins."""
    from ..operators.stats import value_ranks

    li = load_fixture(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    po = cut(li.groupBy("l_orderkey").agg(
        F.sum(
            F.when(F.col("l_linenumber") % 2 == 1, cents).otherwise(-cents)
        ).alias("d")
    ))
    nz = po.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("ad"),
        F.when(F.col("d") > 0, 1).otherwise(0).alias("pos"),
    )
    r = value_ranks(nz, [], "ad", {"c": F.lit(1), "cpos": F.col("pos")}).select(
        "c", "cpos", (F.lit(2) * F.col("cum_c") - F.col("c") + F.lit(1)).alias("dr2")
    )
    s = r.agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cpos").cast("decimal(19,0)") * F.col("dr2").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("w2p"),
        F.sum(
            (F.col("c") - F.col("cpos")).cast("decimal(19,0)")
            * F.col("dr2").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("w2m"),
        F.sum(
            F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
            * F.col("c").cast("decimal(19,0)")
            - F.col("c").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("tsum"),
    )
    nzero = po.filter(F.col("d") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_zero_dropped")
    )
    return s.crossJoin(F.broadcast(nzero)).selectExpr(
        "CAST(n AS BIGINT) AS n_pairs",
        "n_zero_dropped",
        "CAST((CASE WHEN w2p >= w2m THEN 1 ELSE -1 END)"
        " * ((2 * abs(w2p - w2m) * 1000000 + n * (n + 1))"
        " div (2 * n * (n + 1))) AS DOUBLE) / 1000000.0 AS rank_biserial",
        "ROUND(CAST(2 * w2p - n * (n + 1) AS DOUBLE)"
        " / sqrt((CAST(2 * n * (n + 1) * (2 * n + 1) AS DOUBLE)"
        " - CAST(tsum AS DOUBLE)) / 3.0), 6) AS z_score",
    )


@register(
    "agg_jensen_shannon",
    oracle="""
    WITH p AS (
        SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS cp
        FROM events WHERE user_id % 2 = 0 GROUP BY t
    ),
    q AS (
        SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS cq
        FROM events WHERE user_id % 2 = 1 GROUP BY t
    ),
    m AS (
        SELECT COALESCE(p.t, q.t) AS t,
               COALESCE(cp, 0) AS cp, COALESCE(cq, 0) AS cq
        FROM p FULL OUTER JOIN q ON p.t = q.t
    ),
    tot AS (
        SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cq) AS BIGINT) AS nq,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM m
    ),
    terms AS (
        SELECT
            SUM(CAST(ROUND(CASE WHEN cp > 0 THEN
                (CAST(cp AS DOUBLE) / CAST(np AS DOUBLE))
                * ln(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                     / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                        + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)))
                ELSE 0.0 END, 9) AS DECIMAL(18,9))) AS sp,
            SUM(CAST(ROUND(CASE WHEN cq > 0 THEN
                (CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE))
                * ln(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                     / (CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                        + CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)))
                ELSE 0.0 END, 9) AS DECIMAL(18,9))) AS sq
        FROM m, tot
    )
    SELECT np AS n_even_side, nq AS n_odd_side, k AS n_types,
           CASE WHEN np > 0 AND nq > 0 THEN
               ROUND((CAST(sp AS DOUBLE) + CAST(sq AS DOUBLE)) * 0.5
                     / CAST(0.6931471805599453 AS DOUBLE), 6)
           END AS jsd
    FROM terms, tot
    """,
    doc="Jensen-Shannon divergence between the event-type distributions "
    "of two user cohorts (even vs odd user id — the deterministic A/B "
    "split) — the SYMMETRIC, bounded [0,1] drift measure that "
    "complements profile_psi_drift (PSI is unbounded and asymmetric) "
    "for corpus-mix monitoring. Each KL term's ln argument is a ratio "
    "of exact-integer products evaluated as ONE identical double "
    "sequence per engine (2*cp*nq / (cp*nq + cq*np) — no p-hat "
    "intermediates to drift), rounded to 9 dp and DECIMAL-summed "
    "order-independently; /ln2 normalizes to bits with the literal "
    "constant (never a computed log).",
)
def agg_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two map-side-combined filtered aggregates over the
    fact table, one |event-type|-sized full outer join, one 1-row
    reduce — no window, no sort."""
    ev = load_fixture(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("user_id") % 2 == 0)
        .groupBy(F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cp"))
    )
    q = (
        ev.filter(F.col("user_id") % 2 == 1)
        .groupBy(F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cq"))
    )
    m = cut(
        p.join(q, "t", "full_outer")
        .select(
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cq", F.lit(0)).alias("cq"),
        )
    )
    tot = m.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cq").cast("bigint").alias("nq"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    terms = m.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CAST(ROUND(CASE WHEN cp > 0 THEN"
                " (CAST(cp AS DOUBLE) / CAST(np AS DOUBLE))"
                " * ln(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)"
                " / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)"
                " + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)))"
                " ELSE 0.0 END, 9) AS DECIMAL(18,9))"
            )
        ).alias("sp"),
        F.sum(
            F.expr(
                "CAST(ROUND(CASE WHEN cq > 0 THEN"
                " (CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE))"
                " * ln(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)"
                " / (CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)"
                " + CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)))"
                " ELSE 0.0 END, 9) AS DECIMAL(18,9))"
            )
        ).alias("sq"),
    )
    return terms.crossJoin(F.broadcast(tot)).selectExpr(
        "np AS n_even_side",
        "nq AS n_odd_side",
        "k AS n_types",
        "CASE WHEN np > 0 AND nq > 0 THEN"
        " ROUND((CAST(sp AS DOUBLE) + CAST(sq AS DOUBLE)) * 0.5"
        " / CAST(0.6931471805599453 AS DOUBLE), 6) END AS jsd",
    )


@register(
    "events_interarrival_burstiness",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                   - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gp
        FROM events
    ),
    a AS (
        SELECT user_id, CAST(COUNT(gp) AS BIGINT) AS n,
               CAST(SUM(gp) AS HUGEINT) AS s1,
               CAST(SUM(CAST(gp AS HUGEINT) * gp) AS HUGEINT) AS s2
        FROM g WHERE gp IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n AS n_gaps,
           ROUND((sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) - CAST(s1 AS DOUBLE))
                 / NULLIF(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                          + CAST(s1 AS DOUBLE), 0.0), 6) AS burstiness,
           CAST((2 * s1 * 1000000 + n) // (2 * CAST(n AS HUGEINT)) AS DOUBLE)
               / 1000000.0 AS mean_gap_s
    FROM a WHERE n >= 5
    """,
    doc="Inter-arrival burstiness per user, B = (sigma - mu)/(sigma + "
    "mu) over the gaps (in whole seconds) between consecutive events — "
    "the Goh-Barabasi statistic separating Poisson-like activity (B ~ "
    "0) from bursty sessions (B -> 1), the behavioral twin of "
    "text_burstiness's token-level measure. Gaps are exact epoch-second "
    "integers; n*sum(g^2) - (sum g)^2 stays an exact HUGEINT/"
    "DECIMAL(38,0) (bound: n * span^2 < 1e38), and B collapses to "
    "(sqrt(nQ - S^2) - S)/(sqrt(nQ - S^2) + S) — one identical "
    "double sqrt + division per engine, n cancels. The mean gap rounds "
    "half-away in integer micro-units.",
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort for the lag, one map-side-
    combined per-user aggregate — the standard sequence budget."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    tss = F.col("ts").cast("long")
    g = ev.select(
        "user_id",
        (
            tss
            - F.lag(tss).over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            )
        ).alias("gp"),
    ).filter(F.col("gp").isNotNull())
    a = g.groupBy("user_id").agg(
        F.count("gp").cast("bigint").alias("n"),
        F.sum("gp").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("gp").cast("decimal(19,0)") * F.col("gp").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    return a.filter(F.col("n") >= 5).selectExpr(
        "user_id",
        "n AS n_gaps",
        "ROUND((sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) - CAST(s1 AS DOUBLE))"
        " / NULLIF(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))"
        " + CAST(s1 AS DOUBLE), 0.0), 6) AS burstiness",
        "CAST((2 * s1 * 1000000 + n) div (2 * CAST(n AS DECIMAL(38,0))) AS DOUBLE)"
        " / 1000000.0 AS mean_gap_s",
    )


@register(
    "agg_permutation_entropy",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q0,
               LEAD(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                         AS BIGINT), 1)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS q1,
               LEAD(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                         AS BIGINT), 2)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS q2
        FROM events WHERE event_type = 'purchase'
    ),
    pat AS (
        SELECT user_id,
               4 * (CASE WHEN q1 >= q0 THEN 1 ELSE 0 END)
               + 2 * (CASE WHEN q2 >= q0 THEN 1 ELSE 0 END)
               + (CASE WHEN q2 >= q1 THEN 1 ELSE 0 END) AS code
        FROM s WHERE q2 IS NOT NULL
    ),
    cells AS (
        SELECT user_id, code, CAST(COUNT(*) AS BIGINT) AS c
        FROM pat GROUP BY user_id, code
    ),
    nu AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS nu
        FROM cells GROUP BY user_id
    ),
    u AS (
        SELECT cells.user_id, MAX(nu) AS n,
               SUM(CAST(ROUND(
                   -(CAST(c AS DOUBLE) / CAST(nu AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(nu AS DOUBLE)),
                   9) AS DECIMAL(18,9))) AS h
        FROM cells JOIN nu ON nu.user_id = cells.user_id
        GROUP BY cells.user_id
    )
    SELECT user_id, n AS n_patterns,
           ROUND(CAST(h AS DOUBLE) / CAST(1.791759469228055 AS DOUBLE), 6)
               AS perm_entropy
    FROM u WHERE n >= 10
    """,
    doc="Normalized permutation entropy (Bandt-Pompe, order 3) per user "
    "purchase series — the model-free complexity measure separating "
    "trending/periodic value sequences (low) from noise-like ones "
    "(~1), used to screen series before forecasting. Ordinal patterns "
    "come from micro-quantized integer comparisons with POSITION "
    "breaking ties upward (>=, a strict total order, so every window "
    "maps to exactly one of the 6 codes deterministically — no "
    "float comparisons); pattern counts are exact, each -p ln p term "
    "is one identical double sequence rounded to 9 dp and "
    "DECIMAL-summed, normalized by the literal ln(3!).",
    )
def agg_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort shared by both leads, a
    (user, code<=6)-cell aggregate, a per-user reduce — no global
    pass; the cells relation is at most 6 rows per user."""
    from pyspark.sql.window import Window

    ev = purchase_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("q").alias("q0"),
        F.lead("q", 1).over(w).alias("q1"),
        F.lead("q", 2).over(w).alias("q2"),
    ).filter(F.col("q2").isNotNull())
    pat = s.select(
        "user_id",
        (
            F.lit(4) * F.when(F.col("q1") >= F.col("q0"), 1).otherwise(0)
            + F.lit(2) * F.when(F.col("q2") >= F.col("q0"), 1).otherwise(0)
            + F.when(F.col("q2") >= F.col("q1"), 1).otherwise(0)
        ).alias("code"),
    )
    cells = pat.groupBy("user_id", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wn = Window.partitionBy("user_id")
    term = F.expr(
        "CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(nu AS DOUBLE))"
        " * ln(CAST(c AS DOUBLE) / CAST(nu AS DOUBLE)), 9) AS DECIMAL(18,9))"
    )
    u = (
        cells.withColumn("nu", F.sum("c").over(wn))
        .groupBy("user_id")
        .agg(F.sum("c").cast("bigint").alias("n"), F.sum(term).alias("h"))
    )
    return u.filter(F.col("n") >= 10).select(
        "user_id",
        F.col("n").alias("n_patterns"),
        F.round(
            F.col("h").cast("double") / F.lit(1.791759469228055), 6
        ).alias("perm_entropy"),
    )


@register(
    "agg_cronbach_alpha",
    oracle="""
    WITH ux AS (
        SELECT user_id, event_type AS t, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY user_id, t
    ),
    ut AS (
        SELECT user_id, CAST(SUM(x) AS BIGINT) AS tx FROM ux GROUP BY user_id
    ),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM ut),
    it AS (
        SELECT t, CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM ux GROUP BY t
    ),
    ip AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n * sxx - sx * sx) AS HUGEINT) AS item_part
        FROM it, nn
    ),
    tp AS (
        SELECT CAST(n * SUM(CAST(tx AS HUGEINT) * tx)
                    - SUM(CAST(tx AS HUGEINT)) * SUM(CAST(tx AS HUGEINT))
                    AS HUGEINT) AS tot_part
        FROM ut, nn GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n_users, k AS k_items,
           ROUND((CAST(k AS DOUBLE) / (k - 1))
                 * (1.0 - CAST(item_part AS DOUBLE)
                          / NULLIF(CAST(tot_part AS DOUBLE), 0.0)), 6)
               AS cronbach_alpha
    FROM ip, tp, nn
    """,
    doc="Cronbach's alpha internal-consistency coefficient treating "
    "event types as test items and users as subjects (item score = "
    "the user's count of that event type, absent items scoring 0) — "
    "the reliability statistic behind engagement-index design, "
    "complementing agg_cohens_kappa's inter-rater view. Every "
    "variance enters as the exact integer n*sum(x^2) - (sum x)^2 in "
    "HUGEINT/DECIMAL(38,0) (zeros contribute nothing to either sum, "
    "so missing (user, item) cells need never materialize); alpha is "
    "one identical double ratio per engine.",
)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (user, type) map-side-combined aggregate feeds
    BOTH the per-type item moments and the per-user totals (checkpoint
    cuts the shared lineage); everything after is |types| + |users|
    sized with 1-row broadcast joins — no window, no sort."""
    ev = load_fixture(spark, sf_dir, "events")
    ux = cut(
        ev.groupBy("user_id", F.col("event_type").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    ut = ux.groupBy("user_id").agg(F.sum("x").cast("bigint").alias("tx"))
    nn = ut.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    it = ux.groupBy("t").agg(
        F.sum("x").cast("decimal(19,0)").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    ip = it.crossJoin(F.broadcast(nn)).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.expr("n * sxx - sx * sx")).cast("decimal(38,0)").alias("item_part"),
    )
    tp = (
        ut.agg(
            F.sum(F.col("tx").cast("decimal(19,0)") * F.col("tx").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("stt"),
            F.sum("tx").cast("decimal(19,0)").alias("st"),
        )
        .crossJoin(F.broadcast(nn))
        .selectExpr("CAST(n * stt - st * st AS DECIMAL(38,0)) AS tot_part")
    )
    return (
        ip.crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_users",
            "k AS k_items",
            "ROUND((CAST(k AS DOUBLE) / (k - 1))"
            " * (1.0 - CAST(item_part AS DOUBLE)"
            " / NULLIF(CAST(tot_part AS DOUBLE), 0.0)), 6) AS cronbach_alpha",
        )
    )


@register(
    "agg_covariance_matrix_digest",
    oracle="""
    WITH q AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x2,
               CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS x3,
               CAST(floor(l_tax * 10000 + 0.5) AS BIGINT) AS x4
        FROM lineitem
    ),
    a AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
               CAST(SUM(x3) AS HUGEINT) AS s3, CAST(SUM(x4) AS HUGEINT) AS s4,
               CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
               CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
               CAST(SUM(CAST(x3 AS HUGEINT) * x3) AS HUGEINT) AS s33,
               CAST(SUM(CAST(x4 AS HUGEINT) * x4) AS HUGEINT) AS s44,
               CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
               CAST(SUM(CAST(x1 AS HUGEINT) * x3) AS HUGEINT) AS s13,
               CAST(SUM(CAST(x1 AS HUGEINT) * x4) AS HUGEINT) AS s14,
               CAST(SUM(CAST(x2 AS HUGEINT) * x3) AS HUGEINT) AS s23,
               CAST(SUM(CAST(x2 AS HUGEINT) * x4) AS HUGEINT) AS s24,
               CAST(SUM(CAST(x3 AS HUGEINT) * x4) AS HUGEINT) AS s34
        FROM q
    )
    SELECT 'quantity' AS var_x, 'price' AS var_y, CAST(n AS BIGINT) AS n_rows,
           ROUND(CAST(n * s12 - s1 * s2 AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE))
                          * sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE)), 0.0), 6)
               AS corr FROM a
    UNION ALL
    SELECT 'quantity', 'discount', CAST(n AS BIGINT),
           ROUND(CAST(n * s13 - s1 * s3 AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE))
                          * sqrt(CAST(n * s33 - s3 * s3 AS DOUBLE)), 0.0), 6)
        FROM a
    UNION ALL
    SELECT 'quantity', 'tax', CAST(n AS BIGINT),
           ROUND(CAST(n * s14 - s1 * s4 AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * s11 - s1 * s1 AS DOUBLE))
                          * sqrt(CAST(n * s44 - s4 * s4 AS DOUBLE)), 0.0), 6)
        FROM a
    UNION ALL
    SELECT 'price', 'discount', CAST(n AS BIGINT),
           ROUND(CAST(n * s23 - s2 * s3 AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE))
                          * sqrt(CAST(n * s33 - s3 * s3 AS DOUBLE)), 0.0), 6)
        FROM a
    UNION ALL
    SELECT 'price', 'tax', CAST(n AS BIGINT),
           ROUND(CAST(n * s24 - s2 * s4 AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * s22 - s2 * s2 AS DOUBLE))
                          * sqrt(CAST(n * s44 - s4 * s4 AS DOUBLE)), 0.0), 6)
        FROM a
    UNION ALL
    SELECT 'discount', 'tax', CAST(n AS BIGINT),
           ROUND(CAST(n * s34 - s3 * s4 AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * s33 - s3 * s3 AS DOUBLE))
                          * sqrt(CAST(n * s44 - s4 * s4 AS DOUBLE)), 0.0), 6)
        FROM a
    """,
    doc="Pairwise Pearson correlation digest over the four numeric "
    "lineitem measures (quantity, price cents, discount and tax basis "
    "points) — the feature-redundancy screen run before any model "
    "training, generalizing agg_regression_stats's single pair to the "
    "full 4x4 upper triangle in ONE pass. All 14 moment sums are "
    "exact integers (micro-quantized operands, DECIMAL(38,0)/HUGEINT "
    "accumulators; bound n * maxval^2 < 1e38); each correlation is "
    "the n*Sxy - SxSy form with the two sqrt factors taken SEPARATELY "
    "(the MCC overflow lesson) in one identical double sequence.",
)
def agg_covariance_matrix_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate over the fact scan
    computes all 14 moments; the 6-row digest is a constant-size
    projection of that single row — no join, no window, no sort."""
    li = load_fixture(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint").alias("x2"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("bigint").alias("x3"),
        F.floor(F.col("l_tax") * 10000 + F.lit(0.5)).cast("bigint").alias("x4"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")
    sums = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for i in range(1, 5):
        sums.append(F.sum(f"x{i}").cast("decimal(38,0)").alias(f"s{i}"))
    for i in range(1, 5):
        for j in range(i, 5):
            sums.append(
                F.sum(d19(f"x{i}") * d19(f"x{j}"))
                .cast("decimal(38,0)")
                .alias(f"s{i}{j}")
            )
    a = q.agg(*sums)
    names = {1: "quantity", 2: "price", 3: "discount", 4: "tax"}
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    corr = lambda i, j: (
        f"ROUND(CAST(n * s{i}{j} - s{i} * s{j} AS DOUBLE)"
        f" / NULLIF(sqrt(CAST(n * s{i}{i} - s{i} * s{i} AS DOUBLE))"
        f" * sqrt(CAST(n * s{j}{j} - s{j} * s{j} AS DOUBLE)), 0.0), 6)"
    )
    stack_args = ", ".join(
        f"'{names[i]}', '{names[j]}', {corr(i, j)}" for i, j in pairs
    )
    return a.selectExpr(
        f"stack(6, {stack_args}) AS (var_x, var_y, corr)",
        "CAST(n AS BIGINT) AS n_rows",
    ).select("var_x", "var_y", "n_rows", "corr")


@register(
    "events_power_law_alpha",
    oracle="""
    WITH ua AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ),
    cells AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM ua GROUP BY x),
    s AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               SUM(CAST(c AS HUGEINT)
                   * CAST(ROUND(ln(2.0 * CAST(x AS DOUBLE)), 9)
                          AS DECIMAL(18,9))) AS lsum,
               CAST(MAX(x) AS BIGINT) AS xmax
        FROM cells
    )
    SELECT n AS n_users, xmax AS max_activity,
           ROUND(1.0 + CAST(n AS DOUBLE) / CAST(lsum AS DOUBLE), 6) AS alpha,
           ROUND((CAST(n AS DOUBLE) / CAST(lsum AS DOUBLE))
                 / sqrt(CAST(n AS DOUBLE)), 6) AS alpha_se
    FROM s
    """,
    doc="Power-law tail exponent of per-user activity (event counts) "
    "via the Clauset-Shalizi-Newman continuous-approximation MLE with "
    "xmin = 1: alpha = 1 + n / sum ln(x_i / (xmin - 1/2)) = "
    "1 + n / sum ln(2x_i), with the standard error (alpha-1)/sqrt(n) — "
    "the heavy-tail diagnostic that decides whether mean-based "
    "capacity planning is even meaningful for a workload. Counts "
    "collapse to distinct-activity cells; each ln(2x) has an exact "
    "integer argument, rounds to 9 dp DECIMAL, and weights by the "
    "exact cell count (HUGEINT * DECIMAL — order-independent sum); "
    "one double division pair at the end.",
)
def events_power_law_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user map-side-combined aggregate, collapse
    to distinct-activity cells (bounded by the activity range), a
    1-row reduce — no window, no sort."""
    ev = load_fixture(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    cells = ua.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.col("c").cast("decimal(19,0)")
            * F.expr(
                "CAST(ROUND(ln(2.0 * CAST(x AS DOUBLE)), 9) AS DECIMAL(18,9))"
            )
        ).alias("lsum"),
        F.max("x").cast("bigint").alias("xmax"),
    )
    return s.selectExpr(
        "n AS n_users",
        "xmax AS max_activity",
        "ROUND(1.0 + CAST(n AS DOUBLE) / CAST(lsum AS DOUBLE), 6) AS alpha",
        "ROUND((CAST(n AS DOUBLE) / CAST(lsum AS DOUBLE))"
        " / sqrt(CAST(n AS DOUBLE)), 6) AS alpha_se",
    )


@register(
    "intervals_union_coverage",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
        FROM events
    ),
    m AS (
        SELECT user_id, event_id, s, e,
               MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pmax
        FROM iv
    ),
    isl AS (
        SELECT user_id, s, e,
               SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS island
        FROM m
    ),
    per AS (
        SELECT user_id, island,
               CAST(MAX(e) - MIN(s) AS BIGINT) AS len,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(cnt) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(len) AS BIGINT) AS covered_seconds
    FROM per GROUP BY user_id
    """,
    doc="Interval-union coverage per user: every event opens a 300 s "
    "activity window; overlapping windows merge (the classical "
    "merge-overlapping-intervals sweep) and the output is the exact "
    "union length — the 'time actually active' metric that sessionized "
    "sums double-count, complementing intervals_max_concurrency's peak "
    "view. The sweep distributes as a per-user ordered window: running "
    "MAX of interval ends (1-preceding frame) marks island breaks, a "
    "running count numbers islands, and each island's union is "
    "max(end) - min(start) because within an island coverage is "
    "contiguous BY CONSTRUCTION. Pure epoch-second integer arithmetic "
    "end to end.",
)
def intervals_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort shared by both frames,
    then two map-side-combined aggregates — the standard sequence
    budget; no join, no global pass."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    s = F.col("ts").cast("long")
    iv = ev.select("user_id", "event_id", s.alias("s"), (s + 300).alias("e"))
    wp = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = iv.withColumn("pmax", F.max("e").over(wp))
    isl = m.withColumn(
        "island",
        F.sum(
            F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(
                0
            )
        ).over(wc),
    )
    per = isl.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).cast("bigint").alias("len"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    return per.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum("len").cast("bigint").alias("covered_seconds"),
    )


@register(
    "agg_stump_split_gain",
    oracle="""
    WITH cells AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM documents GROUP BY n_chars
    ),
    cum AS (
        SELECT v,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumn,
               SUM(p) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cump
        FROM cells
    ),
    tot AS (
        SELECT CAST(SUM(c) AS HUGEINT) AS n, CAST(SUM(p) AS HUGEINT) AS np
        FROM cells
    ),
    scored AS (
        SELECT v,
               (2 * 2 * CAST(cump AS HUGEINT) * (cumn - cump) * 1000000 + cumn)
                   // (2 * CAST(cumn AS HUGEINT))
               + (2 * 2 * (np - CAST(cump AS HUGEINT)) * ((n - cumn) - (np - cump))
                  * 1000000 + (n - cumn))
                   // (2 * CAST(n - cumn AS HUGEINT)) AS score_micro
        FROM cum, tot WHERE cumn < n
    ),
    best AS (SELECT MIN(score_micro) AS bs FROM scored),
    pick AS (
        SELECT MIN(v) AS best_threshold FROM scored, best
        WHERE score_micro = bs
    )
    SELECT CAST(best_threshold AS BIGINT) AS best_threshold,
           CAST(n AS BIGINT) AS n_docs, CAST(np AS BIGINT) AS n_pos,
           ROUND(CAST(2 * np * (n - np) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS gini_parent,
           ROUND(CAST(bs AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)), 6)
               AS gini_split,
           ROUND(CAST(2 * np * (n - np) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 - CAST(bs AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)), 6)
               AS gini_gain
    FROM pick, best, tot
    """,
    doc="Exact decision-stump split search: the n_chars threshold "
    "minimizing weighted Gini impurity for predicting lang = 'en' — "
    "the inner loop of tree learners and the one-feature baseline "
    "every curation-classifier review asks for, computed EXACTLY over "
    "all thresholds at once. Candidates collapse to distinct score "
    "values (value_ranks), running class counts "
    "give each split's left/right compositions in one pass, and every "
    "weighted-impurity term 2*pL*(nL-pL)/nL is half-away micro-rounded "
    "with HUGEINT/DECIMAL(38,0) operands (quotient < n*5e5, int64 to "
    "n ~ 3.7e13; ties break to the smallest threshold via a 1-row "
    "min-score broadcast, never an engine-specific arg_min).",
)
def agg_stump_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: value_ranks for the distinct-value running class
    counts and totals, then two 1-row broadcast reductions — no
    per-threshold pass, no sort."""
    from ..operators.stats import value_ranks

    d = load_fixture(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("v"), "lang"
    )
    cum = value_ranks(
        d, [], "v", {"c": F.lit(1), "p": F.when(F.col("lang") == "en", 1).otherwise(0)}
    ).select(
        "v",
        F.col("cum_c").alias("cumn"),
        F.col("cum_p").alias("cump"),
        F.col("tot_c").cast("decimal(38,0)").alias("n"),
        F.col("tot_p").cast("decimal(38,0)").alias("np"),
    )
    tot = cum.agg(F.max("n").alias("n"), F.max("np").alias("np"))
    scored = cut(
        cum.filter(F.expr("cumn < n"))
        .selectExpr(
            "v",
            "(2 * 2 * CAST(cump AS DECIMAL(38,0)) * (cumn - cump) * 1000000"
            " + cumn) div (2 * CAST(cumn AS DECIMAL(38,0)))"
            " + (2 * 2 * (np - CAST(cump AS DECIMAL(38,0)))"
            " * ((n - cumn) - (np - cump)) * 1000000 + (n - cumn))"
            " div (2 * CAST(n - cumn AS DECIMAL(38,0))) AS score_micro",
        )
    )
    best = scored.agg(F.min("score_micro").alias("bs"))
    pick = (
        scored.crossJoin(F.broadcast(best))
        .filter(F.col("score_micro") == F.col("bs"))
        .agg(F.min("v").cast("bigint").alias("best_threshold"))
    )
    return (
        pick.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "best_threshold",
            "CAST(n AS BIGINT) AS n_docs",
            "CAST(np AS BIGINT) AS n_pos",
            "ROUND(CAST(2 * np * (n - np) AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS gini_parent",
            "ROUND(CAST(bs AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)), 6)"
            " AS gini_split",
            "ROUND(CAST(2 * np * (n - np) AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
            " - CAST(bs AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)), 6)"
            " AS gini_gain",
        )
    )


@register(
    "timeseries_hurst_rs",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    sc AS (SELECT 4 AS s UNION ALL SELECT 8 UNION ALL SELECT 16),
    blk AS (
        SELECT user_id, s, (rn - 1) // s AS b, q,
               SUM(q) OVER w AS cumq,
               ROW_NUMBER() OVER w AS i
        FROM seq, sc
        WINDOW w AS (PARTITION BY user_id, s, (rn - 1) // s ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    btot AS (
        SELECT user_id, s, b, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(q) AS HUGEINT) AS sb,
               CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS qb
        FROM blk GROUP BY user_id, s, b
    ),
    dev AS (
        SELECT blk.user_id, blk.s, blk.b,
               blk.s * CAST(blk.cumq AS HUGEINT) - blk.i * bt.sb AS d
        FROM blk JOIN btot bt
          ON bt.user_id = blk.user_id AND bt.s = blk.s AND bt.b = blk.b
        WHERE bt.cnt = blk.s
    ),
    rngs AS (
        SELECT user_id, s, b, CAST(MAX(d) - MIN(d) AS HUGEINT) AS rng
        FROM dev GROUP BY user_id, s, b
    ),
    terms AS (
        SELECT r.s,
               CASE WHEN r.rng > 0 AND bt.s * bt.qb - bt.sb * bt.sb > 0
                    THEN CAST(ROUND(ln(CAST(r.rng AS DOUBLE)
                         / sqrt(CAST(bt.s * bt.qb - bt.sb * bt.sb
                                     AS DOUBLE))), 9) AS DECIMAL(18,9))
               END AS t
        FROM rngs r JOIN btot bt
          ON bt.user_id = r.user_id AND bt.s = r.s AND bt.b = r.b
    ),
    per AS (
        SELECT s, CAST(COUNT(t) AS BIGINT) AS nb,
               CAST(SUM(t) AS DECIMAL(38,9)) AS st
        FROM terms GROUP BY s
    ),
    piv AS (
        SELECT MAX(CASE WHEN s = 4 THEN nb END) AS n4,
               MAX(CASE WHEN s = 8 THEN nb END) AS n8,
               MAX(CASE WHEN s = 16 THEN nb END) AS n16,
               MAX(CASE WHEN s = 4 THEN CAST(st AS DOUBLE) / nb END) AS m4,
               MAX(CASE WHEN s = 16 THEN CAST(st AS DOUBLE) / nb END) AS m16
        FROM per WHERE nb > 0
    )
    SELECT n4 AS n_blocks_4, n8 AS n_blocks_8, n16 AS n_blocks_16,
           ROUND((m16 - m4) / (2.0 * CAST(0.6931471805599453 AS DOUBLE)), 6)
               AS hurst
    FROM piv
    WHERE n4 > 0 AND n8 > 0 AND n16 > 0
    """,
    doc="Corpus-pooled Hurst exponent of purchase-value series by "
    "rescaled-range (R/S) analysis at dyadic scales 4/8/16 — the "
    "long-memory diagnostic (H ~ 0.5 random walk, H > 0.5 trending, "
    "H < 0.5 mean-reverting) that decides whether a momentum feature "
    "is worth building. Blocks never cross a user boundary; the "
    "per-scale mean ln(R/S) pools blocks across users (the fixture's "
    "series are ~13 points, too short for a per-user estimate — "
    "documented). Within each full block the cumulative deviation is "
    "carried SCALED-BY-s (s*cumsum - i*blocksum) so the range stays an "
    "exact HUGEINT/DECIMAL(38,0) integer; R/S = range / "
    "sqrt(s*Q - S^2) needs ONE double ln per block, 9-dp rounded and "
    "DECIMAL-summed; with log-equispaced scales the OLS slope "
    "collapses to (mean16 - mean4)/(2 ln 2), ln 2 a literal. Constant "
    "blocks (zero variance) drop from the scale mean.",
)
def timeseries_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the per-user window sort is shared by all three
    scales (one exploded pass, each row in 3 blocks); everything after
    is (user, scale, block)-keyed map-side-combined aggregation down to
    a 3-row per-scale relation and a 1-row pivot — no global pass, no
    iteration."""
    from pyspark.sql.window import Window

    ev = purchase_events(spark, sf_dir)
    seq = ev.select(
        "user_id",
        "q",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    sc = seq.sparkSession.createDataFrame([(4,), (8,), (16,)], "s int")
    blk = seq.crossJoin(F.broadcast(sc)).withColumn("b", F.expr("(rn - 1) div s"))
    wb = (
        Window.partitionBy("user_id", "s", "b")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    blk = cut(blk.select(
        "user_id",
        "s",
        "b",
        "q",
        F.sum("q").over(wb).alias("cumq"),
        F.row_number().over(
            Window.partitionBy("user_id", "s", "b").orderBy("rn")
        ).alias("i"),
    ))
    btot = cut(blk.groupBy("user_id", "s", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("q").cast("decimal(38,0)").alias("sb"),
        F.sum(F.col("q").cast("decimal(19,0)") * F.col("q").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("qb"),
    ))
    dev = (
        blk.join(btot, ["user_id", "s", "b"])
        .filter(F.col("cnt") == F.col("s"))
        .selectExpr(
            "user_id",
            "s",
            "b",
            "s * CAST(cumq AS DECIMAL(38,0)) - i * sb AS d",
        )
    )
    rngs = dev.groupBy("user_id", "s", "b").agg(
        (F.max("d") - F.min("d")).cast("decimal(38,0)").alias("rng")
    )
    terms = rngs.join(btot, ["user_id", "s", "b"]).selectExpr(
        "s",
        "CASE WHEN rng > 0 AND s * qb - sb * sb > 0"
        " THEN CAST(ROUND(ln(CAST(rng AS DOUBLE)"
        " / sqrt(CAST(s * qb - sb * sb AS DOUBLE))), 9) AS DECIMAL(18,9))"
        " END AS t",
    )
    per = terms.groupBy("s").agg(
        F.count("t").cast("bigint").alias("nb"),
        F.sum("t").cast("decimal(38,9)").alias("st"),
    )
    piv = per.filter(F.col("nb") > 0).agg(
        F.max(F.when(F.col("s") == 4, F.col("nb"))).alias("n4"),
        F.max(F.when(F.col("s") == 8, F.col("nb"))).alias("n8"),
        F.max(F.when(F.col("s") == 16, F.col("nb"))).alias("n16"),
        F.max(
            F.when(F.col("s") == 4, F.col("st").cast("double") / F.col("nb"))
        ).alias("m4"),
        F.max(
            F.when(F.col("s") == 16, F.col("st").cast("double") / F.col("nb"))
        ).alias("m16"),
    )
    return piv.filter(
        (F.col("n4") > 0) & (F.col("n8") > 0) & (F.col("n16") > 0)
    ).selectExpr(
        "n4 AS n_blocks_4",
        "n8 AS n_blocks_8",
        "n16 AS n_blocks_16",
        "ROUND((m16 - m4) / (2.0 * CAST(0.6931471805599453 AS DOUBLE)), 6)"
        " AS hurst",
    )


@register(
    "events_transition_entropy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pair AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    marg AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS nc FROM pair GROUP BY cur),
    hrow AS (
        SELECT p.cur, MAX(m.nc) AS nc,
               SUM(CAST(ROUND(-(CAST(p.c AS DOUBLE) / CAST(m.nc AS DOUBLE))
                   * ln(CAST(p.c AS DOUBLE) / CAST(m.nc AS DOUBLE)), 9)
                   AS DECIMAL(18,9))) AS h
        FROM pair p JOIN marg m ON m.cur = p.cur
        GROUP BY p.cur
    ),
    tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS n FROM marg)
    SELECT cur AS prev_event, nc AS n_transitions,
           ROUND(CAST(h AS DOUBLE)
                 / CAST(0.6931471805599453 AS DOUBLE), 6) AS entropy_bits,
           ROUND(CAST(h AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)
                 / CAST(0.6931471805599453 AS DOUBLE), 6)
               AS weighted_contribution_bits
    FROM hrow, tot
    """,
    doc="Per-state transition entropy of the user event chain: for "
    "each current event type, H(next | cur) in bits plus its "
    "prevalence-weighted contribution to the chain's conditional "
    "entropy — the predictability audit on top of "
    "event_transition_matrix (a flow with near-zero entropy rows is "
    "ripe for prefetching; high-entropy rows aren't worth a Markov "
    "feature). Transition counts are exact; each -p ln p term is one "
    "identical double sequence rounded to 9 dp and DECIMAL-summed; "
    "/ln2 converts with the literal constant.",
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort for the lead, one
    (cur, nxt)-cell aggregate (|types|^2 rows), bounded joins after —
    the transition relation is catalog-sized, not data-sized."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pair = cut(seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ))
    marg = pair.groupBy("cur").agg(F.sum("c").cast("bigint").alias("nc"))
    hrow = (
        pair.join(F.broadcast(marg), "cur")
        .groupBy("cur")
        .agg(
            F.max("nc").alias("nc"),
            F.sum(
                F.expr(
                    "CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(nc AS DOUBLE))"
                    " * ln(CAST(c AS DOUBLE) / CAST(nc AS DOUBLE)), 9)"
                    " AS DECIMAL(18,9))"
                )
            ).alias("h"),
        )
    )
    tot = marg.agg(F.sum("nc").cast("bigint").alias("n"))
    return hrow.crossJoin(F.broadcast(tot)).selectExpr(
        "cur AS prev_event",
        "nc AS n_transitions",
        "ROUND(CAST(h AS DOUBLE) / CAST(0.6931471805599453 AS DOUBLE), 6)"
        " AS entropy_bits",
        "ROUND(CAST(h AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)"
        " / CAST(0.6931471805599453 AS DOUBLE), 6)"
        " AS weighted_contribution_bits",
    )


@register(
    "agg_kruskal_wallis",
    oracle="""
    WITH cells AS (
        SELECT o_totalprice AS v, o_orderpriority AS g,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2
    ),
    vals AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cells GROUP BY v),
    ranked AS (
        SELECT v, cv,
               CAST(2 * SUM(cv) OVER (ORDER BY v
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - cv + 1 AS BIGINT)
                   AS dr2
        FROM vals
    ),
    grp AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS nj,
               CAST(SUM(CAST(c AS DECIMAL(19,0)) * r.dr2) AS DECIMAL(38,0))
                   AS r2j
        FROM cells JOIN ranked r USING (v) GROUP BY g
    ),
    tot AS (
        SELECT CAST(SUM(cv) AS BIGINT) AS n,
               CAST(SUM(cv * cv * cv - cv) AS DECIMAL(38,0)) AS tie3
        FROM vals
    ),
    terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(ROUND(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)
                              / (4.0 * CAST(nj AS DOUBLE)), 9)
                        AS DECIMAL(38,9))) AS s
        FROM grp
    )
    SELECT n, k AS n_groups,
           ROUND(12.0 * CAST(s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                 - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat,
           ROUND((12.0 * CAST(s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                  - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                 / NULLIF(1.0 - CAST(tie3 AS DOUBLE)
                    / NULLIF(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE), 0.0), 0.0), 6)
               AS h_tie_corrected
    FROM terms, tot
    """,
    doc="Kruskal-Wallis H test: do order totals differ across the five "
    "order priorities? The k-group generalization of "
    "agg_mann_whitney_u, with the standard tie correction "
    "H / (1 - sum(t^3 - t)/(N^3 - N)) — the nonparametric ANOVA a "
    "curation pipeline runs before trusting a per-priority mean. Same "
    "EXACT rank machinery as MW: ranks per DISTINCT value, average tie "
    "ranks carried as DOUBLED integers (2*rank_min + c - 1), so every "
    "per-group rank sum is an exact integer; R_j^2/(4 n_j) is the only "
    "double, rounded to 9 dp and DECIMAL-summed over the k=5-row group "
    "relation (order-independent). int64 bound: the tie term t^3 - t "
    "overflows past ~2.1e6 copies of one price (the agg_mann_whitney_u "
    "bound, same operand). Degenerate single-value/sub-2-row inputs "
    "NULL the corrected statistic in BOTH engines (NULLIF on the tie "
    "correction — a zero denominator would be inf in DuckDB, NULL in "
    "Spark).",
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy to (value, priority) cells, exact
    running counts over distinct values via value_ranks (range-bucketed
    parallel within-bucket windows — no single-partition sort), one
    broadcast join back to the cell relation, then two bounded reduces.
    The fact table is shuffled once, on the value column."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders")
    cells = cut(
        o.groupBy(F.col("o_totalprice").alias("v"), F.col("o_orderpriority").alias("g"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ranked = value_ranks(cells, [], "v", {"cv": F.col("c")})
    grp = (
        cells.join(
            ranked.select(
                "v", (F.lit(2) * F.col("cum_cv") - F.col("cv") + F.lit(1)).alias("dr2")
            ),
            "v",
        )
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("nj"),
            F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * dr2"))
            .cast("decimal(38,0)")
            .alias("r2j"),
        )
    )
    tot = ranked.agg(
        F.max("tot_cv").alias("n"),
        F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"))
        .cast("decimal(38,0)")
        .alias("tie3"),
    )
    terms = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE)"
                " / (4.0 * CAST(nj AS DOUBLE)), 9) AS DECIMAL(38,9))"
            )
        ).alias("s"),
    )
    nd = F.col("n").cast("double")
    h = (
        F.lit(12.0) * F.col("s").cast("double") / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tie3").cast("double") / F.nullif(
        nd * nd * nd - nd, F.lit(0.0)
    )
    return terms.crossJoin(F.broadcast(tot)).select(
        F.col("n"),
        F.col("k").alias("n_groups"),
        F.round(h, 6).alias("h_stat"),
        F.round(h / F.nullif(corr, F.lit(0.0)), 6).alias("h_tie_corrected"),
    )


@register(
    "agg_anova_oneway",
    oracle="""
    WITH q AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS nj,
               CAST(SUM(cents) AS HUGEINT) AS sj
        FROM q GROUP BY g
    ),
    tot AS (
        SELECT CAST(SUM(nj) AS HUGEINT) AS n, CAST(SUM(sj) AS HUGEINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM grp
    ),
    qq AS (
        SELECT CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS qsum
        FROM q
    ),
    m AS (
        SELECT grp.g, grp.nj, grp.sj,
               (2 * sj * 1000000 + nj) // (2 * CAST(nj AS HUGEINT)) AS mj_micro,
               (2 * s * 1000000 + n) // (2 * n) AS m_micro
        FROM grp, tot
    ),
    ss AS (
        SELECT CAST(SUM(CAST(nj AS HUGEINT) * (mj_micro - m_micro)
                        * (mj_micro - m_micro)) AS HUGEINT) AS ssb_q,
               MAX(m_micro) AS m_micro
        FROM m
    ),
    sst AS (
        SELECT qsum * 1000000 * 1000000
               - 2 * ss.m_micro * (SELECT s FROM tot) * 1000000
               + (SELECT n FROM tot) * ss.m_micro * ss.m_micro AS sst_q
        FROM qq, ss
    )
    SELECT CAST(t.n AS BIGINT) AS n, t.k AS n_groups,
           CAST(t.k - 1 AS BIGINT) AS df_between,
           CAST(t.n - t.k AS BIGINT) AS df_within,
           ROUND((CAST(ss.ssb_q AS DOUBLE) / (CAST(t.k AS DOUBLE) - 1.0))
                 / NULLIF((CAST(sst.sst_q AS DOUBLE) - CAST(ss.ssb_q AS DOUBLE))
                    / (CAST(t.n AS DOUBLE) - CAST(t.k AS DOUBLE)), 0.0), 6)
               AS f_stat,
           ROUND(CAST(ss.ssb_q AS DOUBLE)
                 / NULLIF(CAST(sst.sst_q AS DOUBLE), 0.0), 6)
               AS eta_squared
    FROM tot t, ss, sst
    """,
    doc="One-way ANOVA F test of extended price across the three "
    "return flags — the pooled k-group mean comparison beside "
    "agg_welch_ttest (2-group, unpooled) and agg_kruskal_wallis "
    "(k-group, rank-based). Prices quantize to exact cents; group and "
    "grand means quantize half-away to exact MICRO-cent integers (the "
    "eval_brier_decomposition discipline), so SSB = sum nj*(mj - m)^2 "
    "and SST = 1e12*Q - 2e6*m*S + N*m^2 are EXACT DECIMAL(38,0)/"
    "HUGEINT integers — no double subtraction of near-equal huge sums "
    "(the catastrophic-cancellation trap of the textbook Q - S^2/N "
    "form). SSW = SST - SSB by the quantized-mean identity; doubles "
    "appear only in the final 1-row F/eta^2 projection. Bound: "
    "1e12*Q <= 1e38 holds to ~6e9 rows at this price domain (1.35e36 "
    "at a 100 TB lineitem); mj in micro-cents <= 1.5e13 so nj*(diff)^2 "
    "<= 2.3e32 per group. Zero-variance degenerate inputs (SSW or SST "
    "= 0) NULL the statistic in BOTH engines via NULLIF.",
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to the k=3-row
    group relation plus one global sum-of-squares reduce — no window,
    no join beyond broadcast crossJoins of 1-row/k-row relations."""
    li = load_fixture(spark, sf_dir, "lineitem")
    q = li.selectExpr(
        "l_returnflag AS g",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    grp = q.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        F.sum("cents").cast("decimal(38,0)").alias("sj"),
    )
    tot = grp.agg(
        F.sum("nj").cast("decimal(38,0)").alias("n"),
        F.sum("sj").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    qq = q.agg(
        F.sum(F.expr("CAST(cents AS DECIMAL(19,0)) * cents"))
        .cast("decimal(38,0)")
        .alias("qsum")
    )
    m = grp.crossJoin(F.broadcast(tot)).selectExpr(
        "nj",
        "(2 * sj * 1000000 + nj) div (2 * CAST(nj AS DECIMAL(38,0))) AS mj_micro",
        "(2 * s * 1000000 + n) div (2 * n) AS m_micro",
    )
    ss = m.agg(
        F.sum(
            F.expr(
                "CAST(nj AS DECIMAL(19,0))"
                " * (CAST(mj_micro - m_micro AS DECIMAL(19,0))"
                " * CAST(mj_micro - m_micro AS DECIMAL(19,0)))"
            )
        )
        .cast("decimal(38,0)")
        .alias("ssb_q"),
        F.max("m_micro").alias("m_micro"),
    )
    sst = (
        qq.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "qsum * 1000000 * 1000000 - 2 * m_micro * s * 1000000"
            " + n * m_micro * m_micro AS sst_q"
        )
    )
    kd = F.col("k").cast("double")
    ndd = F.col("n").cast("double")
    ssb = F.col("ssb_q").cast("double")
    sstd = F.col("sst_q").cast("double")
    return (
        tot.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(sst))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.col("k").alias("n_groups"),
            (F.col("k") - F.lit(1)).cast("bigint").alias("df_between"),
            F.expr("CAST(n - k AS BIGINT)").alias("df_within"),
            F.round(
                (ssb / (kd - F.lit(1.0)))
                / F.nullif((sstd - ssb) / (ndd - kd), F.lit(0.0)),
                6,
            ).alias("f_stat"),
            F.round(ssb / F.nullif(sstd, F.lit(0.0)), 6).alias("eta_squared"),
        )
    )


@register(
    "agg_levene_brown_forsythe",
    oracle="""
    WITH q AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    ranked AS (
        SELECT g, cents,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS ng
        FROM q
    ),
    med AS (
        SELECT g, CAST(ROUND(AVG(cents) * 2, 0) AS BIGINT) AS med2
        FROM ranked
        WHERE rn = (ng + 1) // 2 OR rn = (ng + 2) // 2
        GROUP BY g
    ),
    z AS (
        SELECT q.g, abs(2 * q.cents - m.med2) AS z
        FROM q JOIN med m ON m.g = q.g
    ),
    grp AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS nj,
               CAST(SUM(z) AS HUGEINT) AS szj,
               CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS qzj
        FROM z GROUP BY g
    ),
    tot AS (
        SELECT CAST(SUM(nj) AS HUGEINT) AS n, CAST(SUM(szj) AS HUGEINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM grp
    ),
    m2 AS (
        SELECT nj, szj, qzj,
               (2 * szj * 1000000 + nj) // (2 * CAST(nj AS HUGEINT)) AS mj,
               (2 * s * 1000000 + n) // (2 * n) AS mg
        FROM grp, tot
    ),
    ss AS (
        SELECT CAST(SUM(CAST(nj AS HUGEINT) * (mj - mg) * (mj - mg))
                    AS HUGEINT) AS ssb_q,
               CAST(SUM(qzj * 1000000 * 1000000 - 2 * mj * szj * 1000000
                        + CAST(nj AS HUGEINT) * mj * mj) AS HUGEINT) AS ssw_q
        FROM m2
    )
    SELECT CAST(t.n AS BIGINT) AS n, t.k AS n_groups,
           CAST(t.k - 1 AS BIGINT) AS df_between,
           CAST(t.n - t.k AS BIGINT) AS df_within,
           ROUND((CAST(ss.ssb_q AS DOUBLE) / (CAST(t.k AS DOUBLE) - 1.0))
                 / NULLIF(CAST(ss.ssw_q AS DOUBLE)
                    / (CAST(t.n AS DOUBLE) - CAST(t.k AS DOUBLE)), 0.0), 6)
               AS w_stat
    FROM tot t, ss
    """,
    doc="Brown-Forsythe test of variance homogeneity across the three "
    "return flags (Levene's test with the median center — the robust "
    "variant): W = ANOVA F applied to z = |x - median_group|. The "
    "homoscedasticity gate in front of agg_anova_oneway (pooled-"
    "variance F assumes equal spreads; W says whether that holds). "
    "Prices quantize to cents; per-group medians come exact (the "
    "banded median machinery) and DOUBLE as integers so z = "
    "|2*cents - med2| is an exact integer even for even-n half-cent "
    "medians; group/grand z-means micro-quantize half-away (the "
    "agg_anova_oneway identity) making SSB and the per-group SSW "
    "both exact DECIMAL(38,0)/HUGEINT sums. Bound: 1e12 * sum(z^2) "
    "<= 1e38 holds to ~2.5e8 rows per group at this price domain; "
    "doubles appear only in the final 1-row W projection, NULLIF-"
    "guarded for the zero-spread degenerate case.",
)
def agg_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one banded-median pass (sketch brackets the median,
    only the ~2% band sorts), one broadcast join of the k=3-row median
    relation, one map-side-combined group aggregate, bounded reduces —
    no full-table window, no global sort."""
    from ..operators.stats import banded_exact_median

    li = load_fixture(spark, sf_dir, "lineitem")
    q = li.selectExpr(
        "l_returnflag AS g",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    med = banded_exact_median(q, ["g"], "cents", out_col="med").selectExpr(
        "g", "CAST(ROUND(med * 2, 0) AS BIGINT) AS med2"
    )
    z = q.join(F.broadcast(med), "g").selectExpr("g", "abs(2 * cents - med2) AS z")
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        F.sum("z").cast("decimal(38,0)").alias("szj"),
        F.sum(F.expr("CAST(z AS DECIMAL(19,0)) * z")).cast("decimal(38,0)").alias(
            "qzj"
        ),
    )
    tot = grp.agg(
        F.sum("nj").cast("decimal(38,0)").alias("n"),
        F.sum("szj").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    m2 = grp.crossJoin(F.broadcast(tot)).selectExpr(
        "nj",
        "szj",
        "qzj",
        "(2 * szj * 1000000 + nj) div (2 * CAST(nj AS DECIMAL(38,0))) AS mj",
        "(2 * s * 1000000 + n) div (2 * n) AS mg",
    )
    ss = m2.agg(
        F.sum(
            F.expr(
                "CAST(nj AS DECIMAL(19,0))"
                " * (CAST(mj - mg AS DECIMAL(19,0)) * CAST(mj - mg AS DECIMAL(19,0)))"
            )
        )
        .cast("decimal(38,0)")
        .alias("ssb_q"),
        F.sum(
            F.expr(
                "qzj * 1000000 * 1000000 - 2 * mj * szj * 1000000"
                " + CAST(nj AS DECIMAL(19,0)) * (CAST(mj AS DECIMAL(19,0))"
                " * CAST(mj AS DECIMAL(19,0)))"
            )
        )
        .cast("decimal(38,0)")
        .alias("ssw_q"),
    )
    kd = F.col("k").cast("double")
    ndd = F.col("n").cast("double")
    return tot.crossJoin(F.broadcast(ss)).select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").alias("n_groups"),
        (F.col("k") - F.lit(1)).cast("bigint").alias("df_between"),
        F.expr("CAST(n - k AS BIGINT)").alias("df_within"),
        F.round(
            (F.col("ssb_q").cast("double") / (kd - F.lit(1.0)))
            / F.nullif(F.col("ssw_q").cast("double") / (ndd - kd), F.lit(0.0)),
            6,
        ).alias("w_stat"),
    )


@register(
    "window_ulcer_index",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               ts
        FROM events WHERE event_type = 'purchase'
          AND CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) > 0
    ),
    r AS (
        SELECT user_id, q,
               MAX(q) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
        FROM p
    ),
    d AS (
        SELECT user_id,
               CAST((2 * (peak - q) * 1000000 + peak) // (2 * peak) AS BIGINT)
                   AS dd_micro
        FROM r
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(sqrt(CAST(SUM(CAST(dd_micro AS HUGEINT) * dd_micro)
                           AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) / 1000000.0, 6)
               AS ulcer_index
    FROM d GROUP BY user_id
    """,
    doc="Ulcer index per user over the purchase-value series: "
    "sqrt(mean(drawdown^2)) from the same running-peak drawdown "
    "stream as window_max_drawdown — the RMS companion to the max "
    "(max says how deep the worst excursion was, ulcer how long and "
    "heavy the underwater time was; Martin & McCann 1989). Drawdowns "
    "quantize half-away to exact MICRO fractions (window_max_drawdown's "
    "integers), their squares sum exactly in HUGEINT/DECIMAL(38,0) "
    "(dd_micro <= 1e6 so each square <= 1e12 — ~1e26 rows before "
    "overflow), and the only doubles are the final per-user "
    "sqrt/divide. Sub-micro first purchases are excluded identically "
    "in both engines (the q > 0 filter).",
)
def window_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window for the running peak
    (shares the sort with the drawdown family), one map-side-combined
    per-user aggregate — no join, no global sort."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = (
        e.select("user_id", "event_id", "q", "ts")
        .filter(F.col("q") > 0)
        .select(
            "user_id",
            "q",
            F.max("q")
            .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("peak"),
        )
    )
    d = r.selectExpr(
        "user_id",
        "CAST((2 * (peak - q) * 1000000 + peak) div (2 * peak) AS BIGINT)"
        " AS dd_micro",
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(
            F.sqrt(
                F.sum(F.expr("CAST(dd_micro AS DECIMAL(19,0)) * dd_micro"))
                .cast("decimal(38,0)")
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            )
            / F.lit(1000000.0),
            6,
        ).alias("ulcer_index"),
    )


@register(
    "agg_lorenz_curve",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders GROUP BY o_custkey
    ),
    cells AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(v * COUNT(*) AS BIGINT) AS sval
        FROM cust GROUP BY v
    ),
    ranked AS (
        SELECT v, cnt, sval,
               CAST(SUM(cnt) OVER w AS BIGINT) AS cumn,
               CAST(SUM(sval) OVER w AS BIGINT) AS cumv
        FROM cells
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(sval) AS BIGINT) AS tv
        FROM cells
    ),
    dec AS (
        SELECT CAST((10 * cumn + n - 1) // n AS BIGINT) AS decile,
               MAX(cumn) AS cumn, MAX(cumv) AS cumv
        FROM ranked, tot
        GROUP BY 1
    )
    SELECT decile,
           CAST(cumn AS BIGINT) AS cum_customers,
           CAST((2 * CAST(cumn AS HUGEINT) * 1000000 + n) // (2 * n)
                AS BIGINT) AS cum_pop_micro,
           CAST((2 * CAST(cumv AS HUGEINT) * 1000000 + tv) // (2 * tv)
                AS BIGINT) AS cum_value_micro
    FROM dec, tot
    """,
    doc="Lorenz curve of customer revenue concentration at decile "
    "resolution: customers sort ascending by exact-cent lifetime "
    "total, and each decile boundary reports the cumulative population "
    "and revenue shares — the curve behind agg_gini_concentration "
    "(Gini is 1 - 2*AUC of exactly this curve; the curve itself says "
    "WHERE the concentration lives, e.g. 'bottom 50% hold 18%'). "
    "Ranks run per DISTINCT total (ties share a decile by "
    "construction: a cell belongs to the decile where its last member "
    "lands, ceil(10*cumn/N) — deterministic in both engines); shares "
    "quantize half-away to exact micro integers. No doubles anywhere.",
)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact aggregate to customers, exact running sums
    over the distinct customer totals via value_ranks (bucketed parallel
    windows), a 10-row group — no single-partition sort."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("v")
    )
    ranked = value_ranks(cust, [], "v", {"cnt": F.lit(1), "sval": F.col("v")})
    dec = ranked.groupBy(
        F.expr("CAST((10 * cum_cnt + tot_cnt - 1) div tot_cnt AS BIGINT)").alias(
            "decile"
        )
    ).agg(
        F.max("cum_cnt").alias("cumn"),
        F.max("cum_sval").alias("cumv"),
        F.max("tot_cnt").alias("n"),
        F.max("tot_sval").alias("tv"),
    )
    return dec.selectExpr(
        "decile",
        "CAST(cumn AS BIGINT) AS cum_customers",
        "CAST((2 * CAST(cumn AS DECIMAL(19,0)) * 1000000 + n)"
        " div (2 * CAST(n AS DECIMAL(19,0))) AS BIGINT) AS cum_pop_micro",
        "CAST((2 * CAST(cumv AS DECIMAL(19,0)) * 1000000 + tv)"
        " div (2 * CAST(tv AS DECIMAL(19,0))) AS BIGINT) AS cum_value_micro",
    )


_ACF_LAGS = 7


def _acf_oracle_sql(kmax: int = _ACF_LAGS) -> str:
    """DuckDB rendering of timeseries_acf_profile — the same pooled
    deviation products at lags 1..kmax, one UNION ALL branch per lag."""
    leads = ",\n               ".join(
        f"LEAD(q, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        f" AS l{k}"
        for k in range(1, kmax + 1)
    )
    sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n{k},\n               "
        f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN"
        f" CAST(q - m AS HUGEINT) * (l{k} - m) ELSE 0 END) AS HUGEINT)"
        f" AS num{k}"
        for k in range(1, kmax + 1)
    )
    branches = "\n    UNION ALL ".join(
        f"SELECT {k} AS lag, n{k} AS n_pairs,"
        f" ROUND(CAST(num{k} AS DOUBLE)"
        f" / NULLIF(CAST(den AS DOUBLE), 0.0), 6) AS acf"
        f" FROM sums"
        for k in range(1, kmax + 1)
    )
    return f"""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    mm AS (
        SELECT (2 * CAST(SUM(q) AS HUGEINT) + COUNT(*))
               // (2 * CAST(COUNT(*) AS HUGEINT)) AS m
        FROM p
    ),
    w AS (
        SELECT user_id, q,
               {leads}
        FROM p
    ),
    sums AS (
        SELECT {sums},
               CAST(SUM(CAST(q - m AS HUGEINT) * (q - m)) AS HUGEINT) AS den
        FROM w, mm
    )
    {branches}
    """


@register(
    "timeseries_acf_profile",
    oracle=_acf_oracle_sql(),
    doc="Pooled autocorrelation profile of the purchase-value series at "
    "lags 1..7 (one week of daily-ish structure): r_k = sum over "
    "within-user pairs of (x_t - m)(x_t+k - m) / sum (x_t - m)^2, "
    "pooled across users against the GLOBAL mean — the spectral "
    "companion to timeseries_autocorr_lag1 (one lag says sticky or "
    "not; the profile locates periodicity, e.g. a lag-7 peak = weekly "
    "seasonality). Values quantize to exact micro integers, the mean "
    "micro-quantizes half-away (positive operands only — signed "
    "sums are never integer-divided, Spark div truncates where DuckDB "
    "// floors), every deviation product is an exact "
    "HUGEINT/DECIMAL(38,0) integer, and the only doubles are the "
    "final 7-row divisions. All 7 lags ride ONE window pass.",
)
def timeseries_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window carrying all 7 leads,
    one map-side-combined global aggregate, a 7-row stack — no join
    beyond 1-row broadcasts, no global sort."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "event_id",
        "q",
    )
    mm = p.agg(
        F.expr(
            "(2 * CAST(SUM(q) AS DECIMAL(38,0)) + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0)))"
        ).alias("m")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = p.select(
        "q",
        *[F.lead("q", k).over(wo).alias(f"l{k}") for k in range(1, _ACF_LAGS + 1)],
    ).crossJoin(F.broadcast(mm))
    aggs = []
    for k in range(1, _ACF_LAGS + 1):
        aggs.append(
            F.sum(F.when(F.col(f"l{k}").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{k}")
        )
        aggs.append(
            F.sum(
                F.expr(
                    f"CASE WHEN l{k} IS NOT NULL THEN"
                    f" CAST(q - m AS DECIMAL(19,0)) * (l{k} - m)"
                    f" ELSE 0 END"
                )
            )
            .cast("decimal(38,0)")
            .alias(f"num{k}")
        )
    aggs.append(
        F.sum(F.expr("CAST(q - m AS DECIMAL(19,0)) * (q - m)"))
        .cast("decimal(38,0)")
        .alias("den")
    )
    sums = w.agg(*aggs)
    stack = ", ".join(
        f"{k}, n{k}, CAST(num{k} AS DOUBLE)" for k in range(1, _ACF_LAGS + 1)
    )
    # NULLIF on den (both engines): a zero-variance series gives den=0 —
    # DuckDB's IEEE double division would emit inf/nan where Spark NULLs,
    # the degenerate parity break the k-group tests pin
    return sums.selectExpr(
        f"stack({_ACF_LAGS}, {stack}) AS (lag, n_pairs, numd)", "den"
    ).selectExpr(
        "CAST(lag AS INT) AS lag",
        "n_pairs",
        "ROUND(numd / NULLIF(CAST(den AS DOUBLE), 0.0), 6) AS acf",
    )


def _ljung_box_oracle_sql(kmax: int = _ACF_LAGS) -> str:
    """DuckDB rendering of timeseries_ljung_box — the ACF profile's
    window pass plus the portmanteau collapse. Autocorrelations are
    carried as SIGN-SPLIT half-away-rounded NANO integers (positive
    operands only through the integer division — Spark div truncates
    where DuckDB // floors, so signed numerators are split on sign
    first), squared exactly in int64 (rn <= 1e9 -> rn^2 <= 1e18), and
    only then divided in an identical per-lag double sequence."""
    leads = ",\n               ".join(
        f"LEAD(q, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        f" AS l{k}"
        for k in range(1, kmax + 1)
    )
    sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN"
        f" CAST(q - m AS HUGEINT) * (l{k} - m) ELSE 0 END) AS HUGEINT)"
        f" AS num{k}"
        for k in range(1, kmax + 1)
    )
    rns = ",\n           ".join(
        f"CASE WHEN num{k} >= 0 THEN"
        f" CAST((2 * num{k} * 1000000000 + den)"
        f" // NULLIF(2 * den, 0) AS BIGINT)"
        f" ELSE -CAST((2 * (-num{k}) * 1000000000 + den)"
        f" // NULLIF(2 * den, 0) AS BIGINT) END AS rn{k}"
        for k in range(1, kmax + 1)
    )
    terms = " + ".join(
        f"CAST(rn{k} * rn{k} AS DOUBLE)"
        f" / CAST(n_obs - {k} AS DOUBLE)"
        for k in range(1, kmax + 1)
    )
    return f"""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    mm AS (
        SELECT (2 * CAST(SUM(q) AS HUGEINT) + COUNT(*))
               // (2 * CAST(COUNT(*) AS HUGEINT)) AS m
        FROM p
    ),
    w AS (
        SELECT user_id, q,
               {leads}
        FROM p
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
               {sums},
               CAST(SUM(CAST(q - m AS HUGEINT) * (q - m)) AS HUGEINT) AS den
        FROM w, mm
    ),
    r AS (
        SELECT n_obs,
           {rns}
        FROM sums
    )
    SELECT n_obs, CAST({kmax} AS INT) AS dof,
           ROUND(CAST(n_obs AS DOUBLE) * CAST(n_obs + 2 AS DOUBLE)
                 * ({terms}) / 1e18, 6) AS q_stat,
           ROUND(CAST(n_obs AS DOUBLE) * CAST(n_obs + 2 AS DOUBLE)
                 * ({terms}) / 1e18, 6)
               > CAST(14.067140 AS DOUBLE) AS reject_05
    FROM r
    """


@register(
    "timeseries_ljung_box",
    oracle=_ljung_box_oracle_sql(),
    doc="Ljung-Box portmanteau test over the pooled purchase-value "
    "autocorrelation profile at lags 1..7: Q = n(n+2) * sum_k r_k^2 / "
    "(n-k) — the is-there-ANY-serial-structure gate run before "
    "trusting iid assumptions (white-noise residual check; the "
    "hypothesis-test capstone of timeseries_acf_profile, whose exact "
    "numerators/denominator this reuses verbatim). Pooled definition: "
    "r_k uses within-user pairs against the global mean and n is the "
    "pooled purchase count (documented pooling, same as the ACF "
    "profile). reject_05 compares against the chi-square(7) 5% "
    "critical value 14.067140 as a shared literal. Exactness: r_k "
    "rounds half-away to NANO integers under a SIGN SPLIT (negative "
    "numerators are never integer-divided), rn^2 <= 1e18 stays exact "
    "int64 in both engines, and Q is one identical left-associated "
    "double sequence; a zero-variance series NULLs q_stat and "
    "reject_05 in both engines via NULLIF.",
)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to timeseries_acf_profile — one per-user
    ordered window carrying all 7 leads, one map-side-combined global
    aggregate, then a 1-row projection. Operand bound (SCALE.md rule):
    the nano rescale needs 2*den*1e9 inside DECIMAL(38,0)/HUGEINT,
    i.e. den = sum((q-m)^2) <= ~5e28 — ~5e8 rows at micro-deviations
    of 1e10; past that, drop the rescale to micro (1e6) or shard the
    pooled sums by user range and merge."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "event_id",
        "q",
    )
    mm = p.agg(
        F.expr(
            "(2 * CAST(SUM(q) AS DECIMAL(38,0)) + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0)))"
        ).alias("m")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = p.select(
        "q",
        *[F.lead("q", k).over(wo).alias(f"l{k}") for k in range(1, _ACF_LAGS + 1)],
    ).crossJoin(F.broadcast(mm))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_obs")]
    for k in range(1, _ACF_LAGS + 1):
        aggs.append(
            F.sum(
                F.expr(
                    f"CASE WHEN l{k} IS NOT NULL THEN"
                    f" CAST(q - m AS DECIMAL(19,0)) * (l{k} - m)"
                    f" ELSE 0 END"
                )
            )
            .cast("decimal(38,0)")
            .alias(f"num{k}")
        )
    aggs.append(
        F.sum(F.expr("CAST(q - m AS DECIMAL(19,0)) * (q - m)"))
        .cast("decimal(38,0)")
        .alias("den")
    )
    sums = w.agg(*aggs)
    rns = [
        f"CASE WHEN num{k} >= 0 THEN"
        f" CAST((2 * num{k} * 1000000000 + den)"
        f" div nullif(2 * den, 0) AS BIGINT)"
        f" ELSE -CAST((2 * (-num{k}) * 1000000000 + den)"
        f" div nullif(2 * den, 0) AS BIGINT) END AS rn{k}"
        for k in range(1, _ACF_LAGS + 1)
    ]
    r = sums.selectExpr("n_obs", *rns)
    terms = " + ".join(
        f"CAST(rn{k} * rn{k} AS DOUBLE) / CAST(n_obs - {k} AS DOUBLE)"
        for k in range(1, _ACF_LAGS + 1)
    )
    q_expr = (
        f"ROUND(CAST(n_obs AS DOUBLE) * CAST(n_obs + 2 AS DOUBLE)"
        f" * ({terms}) / 1e18, 6)"
    )
    return r.selectExpr(
        "n_obs",
        f"CAST({_ACF_LAGS} AS INT) AS dof",
        f"{q_expr} AS q_stat",
        f"{q_expr} > CAST(14.067140 AS DOUBLE) AS reject_05",
    )


@register(
    "window_sortino_ratio",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT user_id,
               q - LAG(q) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS ret
        FROM p
    ),
    s AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_returns,
               CAST(SUM(ret) AS BIGINT) AS sum_return_micro,
               CAST(SUM(CASE WHEN ret < 0 THEN CAST(ret AS HUGEINT) * ret
                        ELSE 0 END) AS HUGEINT) AS dsq
        FROM r WHERE ret IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_returns, sum_return_micro,
           ROUND((CAST(sum_return_micro AS DOUBLE)
                  / CAST(n_returns AS DOUBLE))
                 / NULLIF(sqrt(CAST(dsq AS DOUBLE)
                               / CAST(n_returns AS DOUBLE)), 0.0), 6)
               AS sortino
    FROM s
    """,
    doc="Sortino ratio per user over purchase-value changes: mean "
    "return divided by DOWNSIDE deviation sqrt(mean(min(r,0)^2)) — "
    "the drawdown family's risk-adjusted-return member (Sharpe "
    "penalizes upside variance; Sortino only the losses, the metric "
    "used for asymmetric series). Returns are exact micro-integer "
    "differences; the signed return sum is reported as an exact "
    "BIGINT and NEVER integer-divided (Spark div truncates toward "
    "zero where DuckDB // floors — signed quotients would diverge), "
    "downside squares sum exactly in HUGEINT/DECIMAL(38,0); the only "
    "doubles are the final per-user ratio, NULLIF-guarded for "
    "monotone-up users (no downside -> NULL in both engines).",
)
def window_sortino_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window for the lag (shared
    sort with the drawdown family), one map-side-combined per-user
    aggregate — no join, no global sort."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "event_id",
        "q",
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = p.select(
        "user_id", (F.col("q") - F.lag("q").over(wo)).alias("ret")
    ).filter(F.col("ret").isNotNull())
    s = r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_returns"),
        F.sum("ret").cast("bigint").alias("sum_return_micro"),
        F.sum(
            F.expr(
                "CASE WHEN ret < 0 THEN CAST(ret AS DECIMAL(19,0)) * ret"
                " ELSE 0 END"
            )
        )
        .cast("decimal(38,0)")
        .alias("dsq"),
    )
    return s.select(
        "user_id",
        "n_returns",
        "sum_return_micro",
        F.round(
            (
                F.col("sum_return_micro").cast("double")
                / F.col("n_returns").cast("double")
            )
            / F.nullif(
                F.sqrt(F.col("dsq").cast("double") / F.col("n_returns").cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("sortino"),
    )


@register(
    "agg_bowley_skewness",
    oracle="""
    WITH q AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    cells AS (
        SELECT flag, cents, CAST(COUNT(*) AS BIGINT) AS c
        FROM q GROUP BY flag, cents
    ),
    cum AS (
        SELECT flag, cents, c,
               CAST(SUM(c) OVER (PARTITION BY flag ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cumc
        FROM cells
    ),
    st AS (SELECT flag, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY flag),
    picked AS (
        SELECT cum.flag, MAX(st.n) AS n,
               MIN(CASE WHEN cumc >= (st.n + 3) // 4 THEN cents END) AS q1,
               MIN(CASE WHEN cumc >= (st.n + 1) // 2 THEN cents END) AS q2,
               MIN(CASE WHEN cumc >= (3 * st.n + 3) // 4 THEN cents END) AS q3
        FROM cum JOIN st ON st.flag = cum.flag
        GROUP BY cum.flag
    )
    SELECT flag, n, q1 AS q1_cents, q2 AS q2_cents, q3 AS q3_cents,
           ROUND(CAST(q3 + q1 - 2 * q2 AS DOUBLE)
                 / NULLIF(CAST(q3 - q1 AS DOUBLE), 0.0), 6)
               AS bowley_skewness
    FROM picked
    """,
    doc="Bowley (quartile) skewness per return flag: "
    "(Q3 + Q1 - 2*Q2) / (Q3 - Q1) with EXACT type-1 quartiles (the "
    "value at rank ceil(k*n/4) — integer rank cuts, no interpolation) "
    "— the robust companion to agg_skew_kurtosis's moment skewness "
    "(outlier-bounded in [-1, 1]; one corrupted extreme row cannot "
    "move it). Quartiles come from the distinct-value running counts "
    "(rank machinery, never a per-row sort); the quartile values are "
    "exact cents and the single double division is NULLIF-guarded "
    "for the degenerate all-one-value group.",
)
def agg_bowley_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact shuffle to distinct (flag, cents) cells,
    exact running counts via value_ranks (bucketed parallel windows),
    one 3-row reduce."""
    from ..operators.stats import value_ranks

    li = load_fixture(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag AS flag",
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    picked = (
        value_ranks(li, ["flag"], "cents", {"c": F.lit(1)})
        .withColumnRenamed("tot_c", "n")
        .groupBy("flag")
        .agg(
            F.max("n").alias("n"),
            F.min(
                F.when(F.col("cum_c") >= F.expr("(n + 3) div 4"), F.col("cents"))
            ).alias("q1"),
            F.min(
                F.when(F.col("cum_c") >= F.expr("(n + 1) div 2"), F.col("cents"))
            ).alias("q2"),
            F.min(
                F.when(F.col("cum_c") >= F.expr("(3 * n + 3) div 4"), F.col("cents"))
            ).alias("q3"),
        )
    )
    return picked.select(
        "flag",
        "n",
        F.col("q1").alias("q1_cents"),
        F.col("q2").alias("q2_cents"),
        F.col("q3").alias("q3_cents"),
        F.round(
            F.expr("CAST(q3 + q1 - 2 * q2 AS DOUBLE)")
            / F.nullif(F.expr("CAST(q3 - q1 AS DOUBLE)"), F.lit(0.0)),
            6,
        ).alias("bowley_skewness"),
    )


@register(
    "events_audience_overlap",
    oracle="""
    WITH u AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sz AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM u GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM u a JOIN u b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           CAST((2 * CAST(i.n_both AS HUGEINT) * 1000000
                 + (sa.n + sb.n - i.n_both))
                // (2 * CAST(sa.n + sb.n - i.n_both AS HUGEINT)) AS BIGINT)
               AS jaccard_micro
    FROM inter i
    JOIN sz sa ON sa.event_type = i.type_a
    JOIN sz sb ON sb.event_type = i.type_b
    """,
    doc="Exact audience overlap between every pair of event types: "
    "|users(a) AND users(b)| with the Jaccard index in exact "
    "half-away micro units — the audience-overlap matrix behind "
    "funnel design and dedup of engagement segments (the EXACT twin "
    "of sketch_hll_set_overlap's estimate, feasible because the "
    "pair relation is |types|^2, a catalog). The user-keyed "
    "self-join co-partitions on user_id (each user contributes "
    "|their types|^2 <= 25 pairs — bounded fan-out, nothing "
    "quadratic in users); inclusion-exclusion gives the union. No "
    "doubles anywhere.",
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct shuffle to (type, user), a user-keyed
    self-join with catalog-bounded fan-out, a |types|^2-row aggregate,
    broadcast size joins."""
    e = load_fixture(spark, sf_dir, "events")
    u = cut(e.select("event_type", "user_id").distinct())
    sz = u.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = u.select(F.col("event_type").alias("type_a"), "user_id")
    b = u.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .selectExpr(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            "CAST((2 * CAST(n_both AS DECIMAL(19,0)) * 1000000"
            " + (n_a + n_b - n_both))"
            " div (2 * CAST(n_a + n_b - n_both AS DECIMAL(19,0))) AS BIGINT)"
            " AS jaccard_micro",
        )
    )


@register(
    "window_atr",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb,
               MAX(q) AS h, MIN(q) AS l,
               arg_max(q, CAST(epoch_us(ts) AS HUGEINT)
                          * 1000000000000000000 + event_id) AS c
        FROM p GROUP BY user_id, hb
    ),
    tr AS (
        SELECT user_id,
               CASE WHEN LAG(c) OVER w IS NULL THEN h - l
                    ELSE GREATEST(h - l,
                                  abs(h - LAG(c) OVER w),
                                  abs(l - LAG(c) OVER w)) END AS tr
        FROM bars
        WINDOW w AS (PARTITION BY user_id ORDER BY hb)
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST((2 * CAST(SUM(tr) AS HUGEINT) + COUNT(*))
                // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS atr_micro,
           CAST(MAX(tr) AS BIGINT) AS max_tr_micro
    FROM tr GROUP BY user_id
    """,
    doc="Average true range per user over 6-hour OHLC bars of the "
    "purchase-value series: TR = max(H-L, |H-prevC|, |L-prevC|) "
    "captures gap moves BETWEEN bars that plain H-L misses — the "
    "volatility measure used for adaptive thresholds (Wilder 1978), "
    "complementing timeseries_realized_volatility (returns-based) "
    "and timeseries_resample_ohlc (which builds the same bars). "
    "Values quantize to exact micro integers, bars bucket by exact "
    "epoch-microsecond division (engine-identical, no timezone "
    "surface), TR is exact integer arithmetic, and the ATR mean "
    "half-away-quantizes to micro (TR >= 0, so the signed-division "
    "trap never engages). No doubles anywhere.",
)
def window_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to (user, bucket)
    bars, one per-user ordered window over the BAR relation (already
    reduced), one per-user aggregate — the fact table shuffles once."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "event_id",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    # close via an encoded single wide-integer key (ts, event_id) — the
    # curation.py keeper-key discipline: max_by on ts alone
    # relies on per-user ts uniqueness; ties would make the close
    # nondeterministic and silently break cross-engine parity. epoch_us
    # (< 8e15 for centuries) * 1e18 + event_id stays exact in
    # DECIMAL(38,0)/HUGEINT for any BIGINT event_id in [0, 1e18).
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"),
        F.min("q").alias("l"),
        F.expr(
            "max_by(q, CAST(unix_micros(ts) AS DECIMAL(38,0))"
            " * 1000000000000000000 + event_id)"
        ).alias("c"),
    )
    wo = Window.partitionBy("user_id").orderBy("hb")
    tr = bars.select(
        "user_id",
        F.when(
            F.lag("c").over(wo).isNull(), F.col("h") - F.col("l")
        )
        .otherwise(
            F.greatest(
                F.col("h") - F.col("l"),
                F.abs(F.col("h") - F.lag("c").over(wo)),
                F.abs(F.col("l") - F.lag("c").over(wo)),
            )
        )
        .alias("tr"),
    )
    return tr.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.expr(
            "CAST((2 * CAST(SUM(tr) AS DECIMAL(38,0)) + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("atr_micro"),
        F.max("tr").cast("bigint").alias("max_tr_micro"),
    )


@register(
    "window_parkinson_volatility",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, MAX(q) AS h, MIN(q) AS l
        FROM p GROUP BY user_id, hb
    ),
    t AS (
        SELECT user_id,
               CAST(ROUND(ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
                          * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS t2
        FROM bars WHERE l > 0
    ),
    s AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_bars,
               CAST(SUM(t2) AS DECIMAL(38,9)) AS s2
        FROM t GROUP BY user_id
    )
    SELECT user_id, n_bars,
           ROUND(CAST(s2 AS DOUBLE)
                 / (4.0 * 0.6931471805599453 * CAST(n_bars AS DOUBLE)),
                 6) AS parkinson_var,
           ROUND(sqrt(CAST(s2 AS DOUBLE)
                      / (4.0 * 0.6931471805599453 * CAST(n_bars AS DOUBLE))),
                 6) AS parkinson_sigma
    FROM s
    """,
    doc="Parkinson (1980) range-based volatility per user over the same "
    "6-hour OHLC bars window_atr builds: sigma^2 = mean(ln^2(H/L)) / "
    "(4 ln 2) — ~5x more efficient per bar than close-to-close "
    "variance because the high-low range sees the WHOLE intra-bar "
    "path (the complement to ATR's gap-aware level view; "
    "timeseries_realized_volatility is the returns-based sibling). "
    "Bars with l = 0 are excluded (log undefined); h = l bars "
    "contribute exactly 0. Parity discipline: per-bar ln^2 terms "
    "round to 9dp and accumulate as EXACT DECIMAL(18,9) (the "
    "eval_log_loss per-cell-ln treatment — decimal sums are "
    "order-independent where double sums are not); ln(2) enters as "
    "the shared 0.6931471805599453 literal, and the only free doubles "
    "are the final per-user divisions.",
)
def window_parkinson_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to (user, bucket)
    bars, a per-bar projection, one per-user aggregate — the fact table
    shuffles once and no window function at all (unlike ATR's lag, the
    Parkinson estimator is bar-local)."""
    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"), F.min("q").alias("l")
    )
    t = bars.filter(F.col("l") > 0).select(
        "user_id",
        F.expr(
            "CAST(ROUND(ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))"
            " * ln(CAST(h AS DOUBLE) / CAST(l AS DOUBLE)), 9)"
            " AS DECIMAL(18,9))"
        ).alias("t2"),
    )
    s = t.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.sum("t2").cast("decimal(38,9)").alias("s2"),
    )
    var = (
        F.col("s2").cast("double")
        / (F.lit(4.0) * F.lit(0.6931471805599453) * F.col("n_bars").cast("double"))
    )
    return s.select(
        "user_id",
        "n_bars",
        F.round(var, 6).alias("parkinson_var"),
        F.round(F.sqrt(var), 6).alias("parkinson_sigma"),
    )


@register(
    "timeseries_variance_ratio",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT q - LAG(q, 1) OVER w AS r1,
               q - LAG(q, 2) OVER w AS r2
        FROM p
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT CAST(COUNT(r1) AS BIGINT) AS n1,
               CAST(SUM(r1) AS HUGEINT) AS s1,
               CAST(SUM(CAST(r1 AS HUGEINT) * r1) AS HUGEINT) AS q1,
               CAST(COUNT(r2) AS BIGINT) AS n2,
               CAST(SUM(r2) AS HUGEINT) AS s2,
               CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS q2
        FROM r
    )
    SELECT n1 AS n_returns_1, n2 AS n_returns_2,
           ROUND(((CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                  / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)) / 2.0)
                 / NULLIF((CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                          / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)), 0.0),
                 6) AS variance_ratio
    FROM s
    """,
    doc="Lo-MacKinlay variance ratio test statistic VR(2) pooled over "
    "per-user purchase series: Var(2-period return)/(2*Var(1-period "
    "return)) — 1 for a random walk, <1 mean-reverting, >1 trending; "
    "the econometric companion to timeseries_hurst_rs (same question, "
    "variance-scaling instead of range-scaling). Returns are exact "
    "micro integers; both variances use the integer identity "
    "(n*sum(x^2) - sum(x)^2)/n^2 where EVERY operand is an exact "
    "HUGEINT/DECIMAL(38,0) — signed return sums are squared, never "
    "integer-divided (the SCALE.md signed-division rule) — and the "
    "only doubles are the final 1-row ratio, NULLIF-guarded for a "
    "constant series. Both lags ride ONE window pass.",
)
def timeseries_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window carrying both lags, one
    map-side-combined 1-row reduce — no join, no global sort."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "event_id",
        "q",
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = p.select(
        (F.col("q") - F.lag("q", 1).over(wo)).alias("r1"),
        (F.col("q") - F.lag("q", 2).over(wo)).alias("r2"),
    )
    s = r.agg(
        F.count("r1").cast("bigint").alias("n1"),
        F.sum("r1").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("CAST(r1 AS DECIMAL(19,0)) * r1")).cast("decimal(38,0)").alias(
            "q1"
        ),
        F.count("r2").cast("bigint").alias("n2"),
        F.sum("r2").cast("decimal(38,0)").alias("s2"),
        F.sum(F.expr("CAST(r2 AS DECIMAL(19,0)) * r2")).cast("decimal(38,0)").alias(
            "q2"
        ),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    var1 = (n1d * F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1").cast("double")) / (n1d * n1d)
    var2 = (n2d * F.col("q2").cast("double") - F.col("s2").cast("double") * F.col("s2").cast("double")) / (n2d * n2d)
    return s.select(
        F.col("n1").alias("n_returns_1"),
        F.col("n2").alias("n_returns_2"),
        F.round((var2 / F.lit(2.0)) / F.nullif(var1, F.lit(0.0)), 6).alias(
            "variance_ratio"
        ),
    )


@register(
    "agg_runs_test",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT user_id, ts, event_id,
               q - LAG(q) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS ret
        FROM p
    ),
    sgn AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ret > 0 THEN 1 ELSE 0 END AS s
        FROM r WHERE ret IS NOT NULL AND ret <> 0
    ),
    flips AS (
        SELECT user_id, s,
               CASE WHEN LAG(s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) IS NULL THEN 1
                    WHEN LAG(s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) <> s THEN 1
                    ELSE 0 END AS new_run
        FROM sgn
    ),
    u AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
               CAST(SUM(new_run) AS BIGINT) AS runs
        FROM flips GROUP BY user_id
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(runs) AS BIGINT) AS n_runs,
               CAST(SUM(n1) AS BIGINT) AS n_pos,
               CAST(SUM(n2) AS BIGINT) AS n_neg,
               SUM(CAST(ROUND(1.0 + 2.0 * CAST(n1 AS DOUBLE)
                              * CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE), 9)
                        AS DECIMAL(18,9))) AS e_runs,
               SUM(CASE WHEN n > 1 THEN
                   CAST(ROUND(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                              * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                                 - CAST(n AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                 * (CAST(n AS DOUBLE) - 1.0)), 9)
                        AS DECIMAL(18,9))
                   ELSE CAST(0 AS DECIMAL(18,9)) END) AS v_runs
        FROM u
    )
    SELECT n_users, n_runs, n_pos, n_neg,
           ROUND((CAST(n_runs AS DOUBLE) - CAST(e_runs AS DOUBLE))
                 / NULLIF(sqrt(CAST(v_runs AS DOUBLE)), 0.0), 6) AS z_score
    FROM g
    """,
    doc="Wald-Wolfowitz runs test pooled over per-user purchase-return "
    "sign sequences: total observed sign runs vs the randomness "
    "expectation E[R] = sum_u(1 + 2*n1*n2/n) with the matching "
    "variance sum — <E means momentum (long streaks), >E means "
    "mean-reversion (rapid flips); the third independence lens beside "
    "timeseries_variance_ratio and timeseries_hurst_rs, sensitive to "
    "sign structure those magnitude tests miss. Zero returns drop "
    "(the classical treatment) identically in both engines; run/sign "
    "counts are exact integers; per-user expectation/variance terms "
    "are one identical double sequence rounded to 9 dp and "
    "DECIMAL-summed (order-independent across the user relation); "
    "z is NULLIF-guarded for the all-one-sign degenerate corpus.",
)
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two per-user ordered windows (lag for returns, lag
    for sign flips — both share the user shuffle), one per-user
    aggregate, one 1-row reduce."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = e.select(
        "user_id",
        "ts",
        "event_id",
        "q",
    )
    r = p.select(
        "user_id", "ts", "event_id", (F.col("q") - F.lag("q").over(wo)).alias("ret")
    ).filter(F.col("ret").isNotNull() & (F.col("ret") != 0))
    sgn = r.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("ret") > 0, 1).otherwise(0).alias("s"),
    )
    lag_s = F.lag("s").over(wo)
    flips = sgn.select(
        "user_id",
        "s",
        F.when(lag_s.isNull(), 1).when(lag_s != F.col("s"), 1).otherwise(0).alias(
            "new_run"
        ),
    )
    u = flips.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("bigint").alias("n2"),
        F.sum("new_run").cast("bigint").alias("runs"),
    )
    g = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("runs").cast("bigint").alias("n_runs"),
        F.sum("n1").cast("bigint").alias("n_pos"),
        F.sum("n2").cast("bigint").alias("n_neg"),
        F.sum(
            F.expr(
                "CAST(ROUND(1.0 + 2.0 * CAST(n1 AS DOUBLE)"
                " * CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE), 9)"
                " AS DECIMAL(18,9))"
            )
        ).alias("e_runs"),
        F.sum(
            F.expr(
                "CASE WHEN n > 1 THEN"
                " CAST(ROUND(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
                " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
                " - CAST(n AS DOUBLE))"
                " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                " * (CAST(n AS DOUBLE) - 1.0)), 9) AS DECIMAL(18,9))"
                " ELSE CAST(0 AS DECIMAL(18,9)) END"
            )
        ).alias("v_runs"),
    )
    return g.select(
        "n_users",
        "n_runs",
        "n_pos",
        "n_neg",
        F.round(
            (F.col("n_runs").cast("double") - F.col("e_runs").cast("double"))
            / F.nullif(F.sqrt(F.col("v_runs").cast("double")), F.lit(0.0)),
            6,
        ).alias("z_score"),
    )


@register(
    "recs_markov_next_event",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pair AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    pred AS (
        SELECT cur, nxt AS predicted_next FROM (
            SELECT cur, nxt,
                   ROW_NUMBER() OVER (PARTITION BY cur
                                      ORDER BY c DESC, nxt) AS rk
            FROM pair
        ) WHERE rk = 1
    ),
    ev AS (
        SELECT p.cur, MAX(pr.predicted_next) AS predicted_next,
               CAST(SUM(p.c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN p.nxt = pr.predicted_next
                        THEN p.c ELSE 0 END) AS BIGINT) AS hits
        FROM pair p JOIN pred pr ON pr.cur = p.cur
        GROUP BY p.cur
    )
    SELECT cur AS prev_event, predicted_next, n AS n_transitions,
           hits AS n_hits,
           CAST((2 * CAST(hits AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS hit_rate_micro
    FROM ev
    """,
    doc="Majority-successor Markov predictor evaluated in-sample: for "
    "each event type, predict the most frequent next type "
    "(deterministic tie-break on the type name) and report the hit "
    "rate over all transitions — the baseline every sequence "
    "recommender must beat, and the operational payoff check on "
    "events_transition_entropy (a low-entropy row should show a high "
    "hit rate here; this op prices that in accuracy units). "
    "Transition counts are exact; the hit rate quantizes half-away "
    "to exact micro units; the evaluation needs only the "
    "|types|^2-cell relation — never a second pass over the fact "
    "table. No doubles anywhere.",
)
def recs_markov_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort for the lead, one
    aggregate to |types|^2 cells; prediction and evaluation run on
    the catalog-sized cell relation with broadcast joins."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pair = cut(seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ))
    wk = Window.partitionBy("cur").orderBy(F.col("c").desc(), "nxt")
    pred = (
        pair.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("cur", F.col("nxt").alias("predicted_next"))
    )
    ev_ = (
        pair.join(F.broadcast(pred), "cur")
        .groupBy("cur")
        .agg(
            F.max("predicted_next").alias("predicted_next"),
            F.sum("c").cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("nxt") == F.col("predicted_next"), F.col("c")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("hits"),
        )
    )
    return ev_.selectExpr(
        "cur AS prev_event",
        "predicted_next",
        "n AS n_transitions",
        "hits AS n_hits",
        "CAST((2 * CAST(hits AS DECIMAL(19,0)) * 1000000 + n)"
        " div (2 * CAST(n AS DECIMAL(19,0))) AS BIGINT) AS hit_rate_micro",
    )


@register(
    "events_error_mtbf",
    oracle="""
    WITH err AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us
        FROM events WHERE event_type = 'error'
    ),
    gap AS (
        SELECT user_id,
               us - LAG(us) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS g
        FROM err
    )
    SELECT user_id, CAST(COUNT(*) + 1 AS BIGINT) AS n_errors,
           CAST((2 * CAST(SUM(g) AS HUGEINT) + COUNT(*) * 1000000)
                // (2 * CAST(COUNT(*) AS HUGEINT) * 1000000) AS BIGINT)
               AS mtbf_seconds,
           CAST(MIN(g) // 1000000 AS BIGINT) AS min_gap_seconds,
           CAST(MAX(g) // 1000000 AS BIGINT) AS max_gap_seconds
    FROM gap WHERE g IS NOT NULL
    GROUP BY user_id
    """,
    doc="Mean time between failures per user over 'error' events: the "
    "reliability-engineering statistic on the event stream (pairs "
    "with dq_freshness_lag's liveness view — MTBF says how OFTEN a "
    "source degrades, freshness says whether it is degraded NOW). "
    "Gaps are exact epoch-microsecond integer differences (the "
    "timestamps-as-longs rule); the mean gap half-away-quantizes to "
    "whole seconds in one exact integer expression (gaps >= 0, the "
    "signed-division trap never engages); min/max gaps floor-divide "
    "to seconds. Users with a single error have no gap and are "
    "excluded identically in both engines. No doubles anywhere.",
)
def events_error_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one filtered per-user ordered window for the lag,
    one map-side-combined per-user aggregate — no join."""
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    err = e.select(
        "user_id", "ts", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = err.select(
        "user_id", (F.col("us") - F.lag("us").over(wo)).alias("g")
    ).filter(F.col("g").isNotNull())
    return gap.groupBy("user_id").agg(
        (F.count(F.lit(1)) + F.lit(1)).cast("bigint").alias("n_errors"),
        F.expr(
            "CAST((2 * CAST(SUM(g) AS DECIMAL(38,0)) + COUNT(*) * 1000000)"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0)) * 1000000) AS BIGINT)"
        ).alias("mtbf_seconds"),
        F.expr("CAST(MIN(g) div 1000000 AS BIGINT)").alias("min_gap_seconds"),
        F.expr("CAST(MAX(g) div 1000000 AS BIGINT)").alias("max_gap_seconds"),
    )


@register(
    "agg_mcnemar_paired",
    oracle="""
    WITH bounds AS (
        SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    u AS (SELECT DISTINCT user_id FROM events),
    p AS (
        SELECT user_id,
               MAX(CASE WHEN epoch_us(ts) <
                        (SELECT lo + (hi - lo) // 2 FROM bounds)
                        THEN 1 ELSE 0 END) AS h1,
               MAX(CASE WHEN epoch_us(ts) >=
                        (SELECT lo + (hi - lo) // 2 FROM bounds)
                        THEN 1 ELSE 0 END) AS h2
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    f AS (
        SELECT u.user_id, COALESCE(p.h1, 0) AS h1, COALESCE(p.h2, 0) AS h2
        FROM u LEFT JOIN p ON p.user_id = u.user_id
    ),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(h1 * h2) AS BIGINT) AS n_both,
               CAST(SUM(h1 * (1 - h2)) AS BIGINT) AS n_first_only,
               CAST(SUM((1 - h1) * h2) AS BIGINT) AS n_second_only,
               CAST(SUM((1 - h1) * (1 - h2)) AS BIGINT) AS n_neither
        FROM f
    )
    SELECT n_users, n_both, n_first_only, n_second_only, n_neither,
           CAST((2 * CAST(n_first_only - n_second_only AS HUGEINT)
                   * (n_first_only - n_second_only) * 1000000
                 + (n_first_only + n_second_only))
                // NULLIF(2 * CAST(n_first_only + n_second_only AS HUGEINT),
                          0) AS BIGINT) AS mcnemar_chi2_micro,
           CAST((2 * CAST(GREATEST(ABS(n_first_only - n_second_only) - 1, 0)
                          AS HUGEINT)
                   * GREATEST(ABS(n_first_only - n_second_only) - 1, 0)
                   * 1000000
                 + (n_first_only + n_second_only))
                // NULLIF(2 * CAST(n_first_only + n_second_only AS HUGEINT),
                          0) AS BIGINT) AS mcnemar_cc_chi2_micro
    FROM c
    """,
    doc="McNemar's paired-binary test on purchase activity across the "
    "two calendar halves of the observed window (midpoint = lo + "
    "(hi-lo)/2 in exact epoch micros): per user, h1/h2 flag any "
    "purchase in the first/second half; the test asks whether "
    "activity CHANGED, using only the discordant cells — chi2 = "
    "(b-c)^2/(b+c) with b = first-only, c = second-only users (plus "
    "the Edwards continuity-corrected variant (|b-c|-1)^2/(b+c), "
    "floored at 0) against chi-square(1). The paired sibling of "
    "agg_chi_square_independence: marginal-homogeneity on the SAME "
    "population, the churn-vs-acquisition balance gate an "
    "experimentation stack runs after a release. All cells are exact "
    "integer counts; both statistics are exact integer identities "
    "half-away-rounded in micro under HUGEINT/DECIMAL(38,0); b = c = "
    "0 NULLs via NULLIF. No doubles anywhere.",
)
def agg_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one 1-row min/max reduce broadcast into a per-user
    flag aggregate (map-side combined), a left join against the
    distinct-user relation, one 1-row reduce."""
    e = load_fixture(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    u = e.select("user_id").distinct()
    p = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            # integer midpoint (div, not /): Spark's / on BIGINT yields
            # DOUBLE, which would diverge from DuckDB's // at odd spans
            F.max(
                F.when(
                    F.unix_micros("ts")
                    < F.expr("lo + (hi - lo) div 2"), 1,
                ).otherwise(0)
            ).alias("h1"),
            F.max(
                F.when(
                    F.unix_micros("ts")
                    >= F.expr("lo + (hi - lo) div 2"), 1,
                ).otherwise(0)
            ).alias("h2"),
        )
    )
    f = u.join(p, "user_id", "left").select(
        F.coalesce("h1", F.lit(0)).alias("h1"),
        F.coalesce("h2", F.lit(0)).alias("h2"),
    )
    c = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("n_both"),
        F.sum(F.col("h1") * (1 - F.col("h2")))
        .cast("bigint")
        .alias("n_first_only"),
        F.sum((1 - F.col("h1")) * F.col("h2"))
        .cast("bigint")
        .alias("n_second_only"),
        F.sum((1 - F.col("h1")) * (1 - F.col("h2")))
        .cast("bigint")
        .alias("n_neither"),
    )
    return c.selectExpr(
        "n_users",
        "n_both",
        "n_first_only",
        "n_second_only",
        "n_neither",
        "CAST((2 * CAST(n_first_only - n_second_only AS DECIMAL(19,0))"
        " * (n_first_only - n_second_only) * 1000000"
        " + (n_first_only + n_second_only))"
        " div NULLIF(2 * CAST(n_first_only + n_second_only AS DECIMAL(19,0)),"
        " 0) AS BIGINT) AS mcnemar_chi2_micro",
        "CAST((2 * CAST(GREATEST(ABS(n_first_only - n_second_only) - 1, 0)"
        " AS DECIMAL(19,0))"
        " * GREATEST(ABS(n_first_only - n_second_only) - 1, 0) * 1000000"
        " + (n_first_only + n_second_only))"
        " div NULLIF(2 * CAST(n_first_only + n_second_only AS DECIMAL(19,0)),"
        " 0) AS BIGINT) AS mcnemar_cc_chi2_micro",
    )


@register(
    "window_stochastic_oscillator",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, MAX(q) AS h, MIN(q) AS l,
               arg_max(q, ts) AS c
        FROM p GROUP BY user_id, hb
    ),
    ch AS (
        SELECT user_id, c,
               MAX(h) OVER w AS hh, MIN(l) OVER w AS ll,
               COUNT(*) OVER w AS n_in
        FROM bars
        WINDOW w AS (PARTITION BY user_id ORDER BY hb
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT user_id,
               CAST((2 * CAST(c - ll AS HUGEINT) * 1000000 + (hh - ll))
                    // (2 * CAST(hh - ll AS HUGEINT)) AS BIGINT) AS k_micro
        FROM ch WHERE n_in = 4 AND hh > ll
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_evaluated,
           CAST((2 * CAST(SUM(k_micro) AS HUGEINT) + COUNT(*))
                // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT)
               AS mean_k_micro,
           CAST(SUM(CASE WHEN k_micro >= 800000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overbought,
           CAST(SUM(CASE WHEN k_micro <= 200000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oversold
    FROM k GROUP BY user_id
    """,
    doc="Stochastic oscillator %K per user over the shared 6-hour OHLC "
    "bars: %K = (close - LL)/(HH - LL) over the trailing 4-bar window "
    "(incl. current), the momentum-position gauge beside RSI's "
    "gain/loss view and Donchian's breakout rule — %K near 1 means "
    "the close sits at the top of its recent range (overbought >= "
    "0.8), near 0 the bottom (oversold <= 0.2). Close = arg_max by "
    "ts (unique per bar in the fixture — the resample_ohlc "
    "determinism note); only FULL 4-bar windows with HH > LL are "
    "evaluated (deterministic warmup + degenerate-range exclusion in "
    "both engines). k is an exact half-away micro integer; the "
    "per-user mean re-rounds the identical integer sums. No doubles "
    "anywhere.",
)
def window_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ATR bar aggregate (one fact shuffle), one
    per-user ordered window with a bounded 4-row frame, one per-user
    rollup."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"),
        F.min("q").alias("l"),
        F.max_by("q", "ts").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("hb").rowsBetween(-3, 0)
    ch = bars.select(
        "user_id",
        "c",
        F.max("h").over(w).alias("hh"),
        F.min("l").over(w).alias("ll"),
        F.count(F.lit(1)).over(w).alias("n_in"),
    )
    k = ch.filter((F.col("n_in") == 4) & (F.col("hh") > F.col("ll"))).selectExpr(
        "user_id",
        "CAST((2 * CAST(c - ll AS DECIMAL(19,0)) * 1000000 + (hh - ll))"
        " div (2 * CAST(hh - ll AS DECIMAL(19,0))) AS BIGINT) AS k_micro",
    )
    return k.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_evaluated"),
        F.expr(
            "CAST((2 * CAST(SUM(k_micro) AS DECIMAL(38,0)) + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("mean_k_micro"),
        F.sum(F.when(F.col("k_micro") >= 800000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_overbought"),
        F.sum(F.when(F.col("k_micro") <= 200000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_oversold"),
    )


@register(
    "agg_cochran_q",
    oracle="""
    WITH pres AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    r AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ri
        FROM pres GROUP BY user_id
    ),
    cj AS (
        SELECT
            CAST(COUNT(*) AS BIGINT) AS n_users,
            CAST(SUM(CASE WHEN t.et = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                AS c_click,
            CAST(SUM(CASE WHEN t.et = 'view' THEN 1 ELSE 0 END) AS BIGINT)
                AS c_view,
            CAST(SUM(CASE WHEN t.et = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                AS c_purchase,
            CAST(SUM(CASE WHEN t.et = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
                AS c_signup,
            CAST(SUM(CASE WHEN t.et = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                AS c_error
        FROM (SELECT user_id, event_type AS et FROM pres) t
    ),
    rs AS (
        SELECT CAST(SUM(ri) AS HUGEINT) AS sr,
               CAST(SUM(CAST(ri AS HUGEINT) * ri) AS HUGEINT) AS srr,
               CAST(COUNT(*) AS BIGINT) AS nu
        FROM r
    )
    SELECT rs.nu AS n_users,
           c_click, c_view, c_purchase, c_signup, c_error,
           CAST(4 AS INTEGER) AS dof,
           CAST((2 * 4 * (5 * (CAST(c_click AS HUGEINT) * c_click
                               + CAST(c_view AS HUGEINT) * c_view
                               + CAST(c_purchase AS HUGEINT) * c_purchase
                               + CAST(c_signup AS HUGEINT) * c_signup
                               + CAST(c_error AS HUGEINT) * c_error)
                          - sr * sr) * 1000000
                 + (5 * sr - srr))
                // NULLIF(2 * (5 * sr - srr), 0) AS BIGINT) AS q_stat_micro
    FROM cj, rs
    """,
    doc="Cochran's Q test over the five event types as k = 5 related "
    "binary treatments on user blocks: x_ij = 1 iff user i emitted >= "
    "1 event of type j; Q = (k-1)(k*sum_j C_j^2 - (sum C_j)^2) / "
    "(k*sum_i R_i - sum_i R_i^2) against chi-square(k-1) — the "
    "k-treatment generalization of agg_mcnemar_paired (k = 2 Cochran "
    "Q IS McNemar without continuity correction) and the binary "
    "sibling of agg_kruskal_wallis: do the five surfaces reach "
    "DIFFERENT user subsets, or is per-type reach homogeneous? "
    "Counting n_users from the row relation keeps the COUNT over "
    "users with >= 1 event (all-zero rows never enter the fixture's "
    "event table; their algebraic contribution to Q is zero anyway — "
    "the classical invariance). Exact integer identity half-away in "
    "micro under HUGEINT/DECIMAL(38,0); a degenerate all-present "
    "table (every R_i = k) NULLs via NULLIF.",
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct (user, type) shuffle feeding a per-user
    rollup and one conditional-count reduce; a 1-row cross join."""
    pres = cut(
        load_fixture(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    r = pres.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("ri"))
    cj = pres.agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{t}")
            for t in ("click", "view", "purchase", "signup", "error")
        ]
    )
    rs = r.agg(
        F.sum("ri").cast("decimal(38,0)").alias("sr"),
        F.sum(F.col("ri").cast("decimal(19,0)") * F.col("ri").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("srr"),
        F.count(F.lit(1)).cast("bigint").alias("nu"),
    )
    return cj.crossJoin(F.broadcast(rs)).selectExpr(
        "nu AS n_users",
        "c_click",
        "c_view",
        "c_purchase",
        "c_signup",
        "c_error",
        "CAST(4 AS INT) AS dof",
        "CAST((2 * 4 * (5 * (CAST(c_click AS DECIMAL(19,0)) * c_click"
        " + CAST(c_view AS DECIMAL(19,0)) * c_view"
        " + CAST(c_purchase AS DECIMAL(19,0)) * c_purchase"
        " + CAST(c_signup AS DECIMAL(19,0)) * c_signup"
        " + CAST(c_error AS DECIMAL(19,0)) * c_error)"
        " - sr * sr) * 1000000"
        " + (5 * sr - srr))"
        " div NULLIF(2 * (5 * sr - srr), 0) AS BIGINT) AS q_stat_micro",
    )


@register(
    "sample_poisson_bootstrap",
    oracle="""
    WITH d AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS y FROM documents
    ),
    reps AS (
        SELECT d.doc_id, d.y, r.rep,
               CAST((CAST(d.doc_id * 32 + r.rep AS HUGEINT)
                     * 2862933555777941757 + 3037000493)
                    % 18446744073709551616 % 2147483648 AS BIGINT) AS u31
        FROM d CROSS JOIN (SELECT unnest(range(0, 32)) AS rep) r
    ),
    w AS (
        SELECT rep, y,
               CASE WHEN u31 < 790015084 THEN 0
                    WHEN u31 < 1580030168 THEN 1
                    WHEN u31 < 1975037710 THEN 2
                    WHEN u31 < 2106706891 THEN 3
                    ELSE 4 END AS wt
        FROM reps
    ),
    means AS (
        SELECT rep,
               CAST((2 * CAST(SUM(wt * y) AS HUGEINT) * 1000000 + SUM(wt))
                    // NULLIF(2 * CAST(SUM(wt) AS HUGEINT), 0) AS BIGINT)
                   AS m_micro
        FROM w GROUP BY rep
    ),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST((2 * CAST(SUM(y) AS HUGEINT) * 1000000 + COUNT(*))
                    // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT)
                   AS mean_chars_micro
        FROM d
    ),
    vs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS b,
               CAST(SUM(CAST(m_micro AS HUGEINT) * m_micro) AS HUGEINT) AS smm,
               CAST(SUM(m_micro) AS HUGEINT) AS sm
        FROM means WHERE m_micro IS NOT NULL
    )
    SELECT n_docs, b AS n_replicates, mean_chars_micro,
           ROUND(sqrt(CAST(b * smm - sm * sm AS DOUBLE)
                      / (CAST(b AS DOUBLE) * CAST(b - 1 AS DOUBLE))), 6)
               AS boot_se_micro
    FROM base, vs
    """,
    doc="Poisson bootstrap standard error of the mean document length "
    "(Chamandy et al. 2012, 'Estimating uncertainty for massive data "
    "streams' — THE distributed bootstrap: each of B = 32 replicates "
    "weights every row by an independent Poisson(1) draw, so "
    "resampling needs no global n and runs in one pass; the classical "
    "multinomial bootstrap cannot shard). Draws are the house seeded "
    "LCG on doc_id*32+rep, inverse-CDF'd against EXACT integer "
    "thresholds floor(CDF_Poisson(1)(k) * 2^31) for k < 4 with the "
    "tail capped at 4 (P(X >= 5) ~ 0.37%, cap documented; both "
    "engines compare the same integers, so replicate weights are "
    "bit-identical). Replicate means are exact half-away micro "
    "integers; the SE is the sqrt of an exact integer variance "
    "identity — one identical double per engine, rounded at 6 dp. An "
    "empty replicate (all weights 0) drops via NULLIF (impossible at "
    "fixture scale, guard stated).",
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: a 32x bounded explode of (y, rep) pairs — weights
    computed in-row (no shuffle), one (rep) aggregate with map-side
    combine, a 32-row variance reduce. At 100 TB each replicate's
    partial sums merge associatively; nothing is ever resampled into
    memory."""
    d = load_fixture(spark, sf_dir, "documents").selectExpr(
        "doc_id", "CAST(n_chars AS BIGINT) AS y"
    )
    reps = d.select(
        "doc_id",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("rep"),
    ).selectExpr(
        "y",
        "rep",
        "CAST((CAST(doc_id * 32 + rep AS DECIMAL(38,0))"
        " * 2862933555777941757 + 3037000493)"
        " % 18446744073709551616 % 2147483648 AS BIGINT) AS u31",
    )
    w = reps.selectExpr(
        "rep",
        "y",
        "CASE WHEN u31 < 790015084 THEN 0"
        " WHEN u31 < 1580030168 THEN 1"
        " WHEN u31 < 1975037710 THEN 2"
        " WHEN u31 < 2106706891 THEN 3"
        " ELSE 4 END AS wt",
    )
    means = w.groupBy("rep").agg(
        F.expr(
            "CAST((2 * CAST(SUM(wt * y) AS DECIMAL(38,0)) * 1000000 + SUM(wt))"
            " div NULLIF(2 * CAST(SUM(wt) AS DECIMAL(38,0)), 0) AS BIGINT)"
        ).alias("m_micro")
    )
    base = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "CAST((2 * CAST(SUM(y) AS DECIMAL(38,0)) * 1000000 + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("mean_chars_micro"),
    )
    vs = means.filter(F.col("m_micro").isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("b"),
        F.sum(
            F.col("m_micro").cast("decimal(19,0)")
            * F.col("m_micro").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("smm"),
        F.sum("m_micro").cast("decimal(38,0)").alias("sm"),
    )
    return base.crossJoin(F.broadcast(vs)).selectExpr(
        "n_docs",
        "b AS n_replicates",
        "mean_chars_micro",
        "ROUND(sqrt(CAST(b * smm - sm * sm AS DOUBLE)"
        " / (CAST(b AS DOUBLE) * CAST(b - 1 AS DOUBLE))), 6)"
        " AS boot_se_micro",
    )


@register(
    "agg_jarque_bera",
    oracle="""
    WITH p AS (
        SELECT CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST((2 * CAST(SUM(q) AS HUGEINT) + COUNT(*))
                    // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT) AS mu
        FROM p
    ),
    s AS (
        SELECT n, mu,
               CAST(SUM(CAST(q - mu AS HUGEINT) * (q - mu)) AS HUGEINT) AS s2,
               CAST(SUM(CAST(q - mu AS HUGEINT) * (q - mu) * (q - mu))
                    AS HUGEINT) AS s3,
               CAST(SUM(CAST(q - mu AS HUGEINT) * (q - mu) * (q - mu)
                        * (q - mu)) AS HUGEINT) AS s4
        FROM p, m GROUP BY n, mu
    )
    SELECT n AS n_obs, mu AS mean_micro,
           ROUND(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                 / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 6)
               AS skewness,
           ROUND(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                 / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 2.0) - 3.0, 6)
               AS excess_kurtosis,
           ROUND(CAST(n AS DOUBLE) * (
                 pow(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                     / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 2)
                     / 6.0
                 + pow(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                       / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 2.0)
                       - 3.0, 2) / 24.0), 6) AS jb_stat,
           ROUND(CAST(n AS DOUBLE) * (
                 pow(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                     / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 2)
                     / 6.0
                 + pow(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                       / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 2.0)
                       - 3.0, 2) / 24.0), 6)
               > CAST(5.991465 AS DOUBLE) AS reject_05
    FROM s
    """,
    doc="Jarque-Bera normality test on purchase values: JB = n(S^2/6 + "
    "(K-3)^2/24) from the sample skewness S and kurtosis K, against "
    "chi-square(2) (literal 5% critical value 5.991465) — the "
    "normality GATE for every variance-based procedure in this suite "
    "(t-tests, Bollinger bands, realized volatility): heavy tails or "
    "skew show up here before they silently break a z-interval. "
    "Central moments are EXACT integer sums of (q - mu)^k around the "
    "half-away integer micro mean (both engines center on the "
    "IDENTICAL integer, so s2/s3/s4 are equal integers; the dev^4 sum "
    "stays under DECIMAL(38,0) up to ~10^6 rows at the fixture's "
    "value range — a larger corpus quantizes deviations to centi "
    "first, bound stated); S, K and JB are then one identical double "
    "sequence per engine, rounded at 6 dp.",
)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one filtered projection, a 1-row mean reduce
    broadcast into one central-moment reduce — two passes, no shuffle
    beyond the aggregates (the textbook-exact two-pass moment plan)."""
    e = purchase_events(spark, sf_dir)
    p = e.select(
        "q"
    )
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST((2 * CAST(SUM(q) AS DECIMAL(38,0)) + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("mu"),
    )
    s = (
        p.crossJoin(F.broadcast(m))
        .groupBy("n", "mu")
        .agg(
            F.sum(
                F.expr("CAST(q - mu AS DECIMAL(19,0)) * (q - mu)")
            )
            .cast("decimal(38,0)")
            .alias("s2"),
            F.sum(
                F.expr("CAST(q - mu AS DECIMAL(19,0)) * (q - mu) * (q - mu)")
            )
            .cast("decimal(38,0)")
            .alias("s3"),
            F.sum(
                F.expr(
                    "CAST(q - mu AS DECIMAL(19,0)) * (q - mu) * (q - mu)"
                    " * (q - mu)"
                )
            )
            .cast("decimal(38,0)")
            .alias("s4"),
        )
    )
    # Past the documented ~10^6-row bound the dev^4 DECIMAL
    # sum overflows to NULL under non-ANSI Spark while the HUGEINT
    # oracle stays exact — fail loudly exactly when that happened
    # instead of emitting a silent NULL-moment row.
    s = s.withColumn(
        "s4",
        F.expr(
            "CASE WHEN s4 IS NULL THEN raise_error("
            "'agg_jarque_bera: dev^4 moment overflowed DECIMAL(38,0) —"
            " corpus beyond the documented micro-quantization bound;"
            " quantize deviations to centi first') ELSE s4 END"
        ),
    )
    jb = (
        "CAST(n AS DOUBLE) * ("
        " pow(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
        " / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 2) / 6.0"
        " + pow(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
        " / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 2.0) - 3.0, 2)"
        " / 24.0)"
    )
    return s.selectExpr(
        "n AS n_obs",
        "mu AS mean_micro",
        "ROUND(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
        " / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 6) AS skewness",
        "ROUND(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
        " / pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 2.0) - 3.0, 6)"
        " AS excess_kurtosis",
        f"ROUND({jb}, 6) AS jb_stat",
        f"ROUND({jb}, 6) > CAST(5.991465 AS DOUBLE) AS reject_05",
    )


@register(
    "agg_friedman_test",
    oracle="""
    WITH q AS (
        SELECT user_id, event_type,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS qv
        FROM events
    ),
    cell AS (
        SELECT user_id, event_type, CAST(SUM(qv) AS BIGINT) AS v
        FROM q GROUP BY user_id, event_type
    ),
    blocks AS (
        SELECT user_id FROM cell GROUP BY user_id HAVING COUNT(*) = 5
    ),
    c AS (SELECT cell.* FROM cell JOIN blocks USING (user_id)),
    rk AS (
        SELECT user_id, event_type,
               CAST(2 * RANK() OVER (PARTITION BY user_id ORDER BY v)
                    + COUNT(*) OVER (PARTITION BY user_id, v) - 1
                    AS BIGINT) AS dr2
        FROM c
    ),
    rj AS (
        SELECT event_type, CAST(SUM(dr2) AS HUGEINT) AS r2
        FROM rk GROUP BY event_type
    ),
    ties AS (
        SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS HUGEINT) AS t3
        FROM (SELECT user_id, v, CAST(COUNT(*) AS HUGEINT) AS cnt
              FROM c GROUP BY user_id, v)
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM blocks),
    s AS (SELECT CAST(SUM(r2 * r2) AS HUGEINT) AS s2 FROM rj)
    SELECT n AS n_blocks, CAST(5 AS INTEGER) AS k,
           ROUND(3.0 * CAST(s2 AS DOUBLE)
                 / NULLIF(CAST(n AS DOUBLE) * 30.0, 0.0)
                 - 18.0 * CAST(n AS DOUBLE), 6) AS chi2_friedman,
           ROUND((3.0 * CAST(s2 AS DOUBLE)
                  / NULLIF(CAST(n AS DOUBLE) * 30.0, 0.0)
                  - 18.0 * CAST(n AS DOUBLE))
                 / NULLIF(1.0 - CAST(t3 AS DOUBLE)
                          / NULLIF(CAST(n AS DOUBLE) * 120.0, 0.0), 0.0), 6)
               AS chi2_tie_corrected
    FROM nb, s, ties
    """,
    doc="Friedman test over the five event types as k = 5 related "
    "treatments on user blocks, response = per-(user, type) micro-"
    "quantized value sum: the RANK analogue of agg_cochran_q (which "
    "only sees presence/absence) and the blocked analogue of "
    "agg_kruskal_wallis — do the five surfaces carry DIFFERENT value "
    "mass per user, controlling for the user baseline? Only COMPLETE "
    "blocks (all 5 types present) enter, per the classical design. "
    "chi2_F = 12/(n k (k+1)) sum_j R_j^2 - 3 n (k+1) with the tie "
    "correction 1 - sum(t^3 - t)/(n k (k^2-1)); literals 30 = k(k+1), "
    "120 = k(k^2-1) at k = 5. Within-block average tie ranks ride as "
    "DOUBLED integers (2*RANK + tie_count - 1, the agg_kruskal_wallis "
    "discipline), so every R_j is exact under HUGEINT/DECIMAL; the "
    "statistic is then ONE identical double sequence per engine, "
    "NULLIF-guarded on n = 0 and the all-tied degenerate.",
)
def agg_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (user, type) groupBy over the fact table, a
    k-row-per-block window (partition-parallel, k = 5 bounded), then
    |types|- and 1-row reduces. The fact table shuffles once."""
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "events")
    qv = micro(F.col("value"))
    cell = cut(
        e.select("user_id", "event_type", qv.alias("qv"))
        .groupBy("user_id", "event_type")
        .agg(F.sum("qv").cast("bigint").alias("v"))
    )
    blocks = cell.groupBy("user_id").agg(F.count(F.lit(1)).alias("kc")).filter(
        F.col("kc") == 5
    ).select("user_id")
    c = cut(cell.join(blocks, "user_id"))
    rk = c.select(
        "event_type",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("user_id").orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("user_id", "v"))
            - F.lit(1)
        )
        .cast("bigint")
        .alias("dr2"),
    )
    rj = rk.groupBy("event_type").agg(F.sum("dr2").cast("decimal(38,0)").alias("r2"))
    ties = (
        c.groupBy("user_id", "v")
        .agg(F.count(F.lit(1)).cast("decimal(19,0)").alias("cnt"))
        .agg(
            F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
            .cast("decimal(38,0)")
            .alias("t3")
        )
    )
    nb = blocks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = rj.agg(F.sum(F.col("r2") * F.col("r2")).cast("decimal(38,0)").alias("s2"))
    return (
        nb.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .selectExpr(
            "n AS n_blocks",
            "CAST(5 AS INT) AS k",
            "ROUND(3.0 * CAST(s2 AS DOUBLE)"
            " / NULLIF(CAST(n AS DOUBLE) * 30.0, 0.0)"
            " - 18.0 * CAST(n AS DOUBLE), 6) AS chi2_friedman",
            "ROUND((3.0 * CAST(s2 AS DOUBLE)"
            " / NULLIF(CAST(n AS DOUBLE) * 30.0, 0.0)"
            " - 18.0 * CAST(n AS DOUBLE))"
            " / NULLIF(1.0 - CAST(t3 AS DOUBLE)"
            " / NULLIF(CAST(n AS DOUBLE) * 120.0, 0.0), 0.0), 6)"
            " AS chi2_tie_corrected",
        )
    )


@register(
    "timeseries_durbin_watson",
    oracle="""
    WITH p AS (
        SELECT user_id, ts, event_id,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q
        FROM events WHERE event_type = 'purchase'
    ),
    o AS (
        SELECT user_id, q,
               LAG(q) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pq
        FROM p
    ),
    a AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS HUGEINT) AS sx,
               CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sxx,
               CAST(SUM(CASE WHEN pq IS NULL THEN 0
                             ELSE CAST(q - pq AS HUGEINT) * (q - pq) END)
                    AS HUGEINT) AS sd2
        FROM o GROUP BY user_id
    )
    SELECT user_id, n AS n_obs,
           CAST((2 * CAST(n AS HUGEINT) * sd2 * 1000000
                 + (CAST(n AS HUGEINT) * sxx - sx * sx))
                // NULLIF(2 * (CAST(n AS HUGEINT) * sxx - sx * sx), 0)
                AS BIGINT) AS dw_micro
    FROM a WHERE n >= 2
    """,
    doc="Durbin-Watson first-order autocorrelation statistic per user "
    "over purchase values ordered by (ts, event_id): DW = sum(e_t - "
    "e_{t-1})^2 / sum e_t^2 around the user mean — the lag-1 serial-"
    "correlation gate (DW ~ 2 = none, -> 0 positive, -> 4 negative) "
    "that complements timeseries_autocorr_lag1's estimate and "
    "timeseries_ljung_box's portmanteau with the classic regression-"
    "residual diagnostic. EXACT rational identity: the mean cancels in "
    "the numerator differences, so DW = n * sum(dx^2) / (n*sum x^2 - "
    "(sum x)^2) is a ratio of exact integers over micro-quantized "
    "values, emitted half-away in micro under HUGEINT/DECIMAL(38,0); "
    "a constant series NULLs via NULLIF (zero variance), single-"
    "observation users are excluded (n >= 2) in both engines.",
)
def timeseries_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user-partitioned window (lag), one per-user
    reduce — the fact table shuffles once on user_id, everything else
    is map-side."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    o = e.select(
        "user_id",
        "q",
        F.lag("q").over(Window.partitionBy("user_id").orderBy("ts", "event_id")).alias(
            "pq"
        ),
    )
    a = o.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("sx"),
        F.sum(F.expr("CAST(q AS DECIMAL(19,0)) * q")).cast("decimal(38,0)").alias(
            "sxx"
        ),
        F.sum(
            F.expr(
                "CASE WHEN pq IS NULL THEN 0"
                " ELSE CAST(q - pq AS DECIMAL(19,0)) * (q - pq) END"
            )
        )
        .cast("decimal(38,0)")
        .alias("sd2"),
    )
    return a.filter(F.col("n") >= 2).selectExpr(
        "user_id",
        "n AS n_obs",
        "CAST((2 * CAST(n AS DECIMAL(38,0)) * sd2 * 1000000"
        " + (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx))"
        " div NULLIF(2 * (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx), 0)"
        " AS BIGINT) AS dw_micro",
    )


@register(
    "timeseries_pettitt_changepoint",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    vals AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cv FROM d GROUP BY x),
    ranked AS (
        SELECT x,
               CAST(2 * SUM(cv) OVER (ORDER BY x
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - cv + 1 AS BIGINT)
                   AS dr2
        FROM vals
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    u AS (
        SELECT day,
               CAST(SUM(r.dr2) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS HUGEINT)
               - CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT)
                 * ((SELECT n FROM nn) + 1) AS ut
        FROM d JOIN ranked r USING (x)
    ),
    k AS (SELECT CAST(MAX(abs(ut)) AS BIGINT) AS kstat FROM u)
    SELECT (SELECT n FROM nn) AS n_days,
           (SELECT kstat FROM k) AS k_stat,
           (SELECT MIN(day) FROM u
            WHERE abs(ut) = (SELECT kstat FROM k)) AS changepoint_day,
           ROUND(LEAST(1.0, 2.0 * exp(
               -6.0 * CAST((SELECT kstat FROM k) AS DOUBLE)
                    * CAST((SELECT kstat FROM k) AS DOUBLE)
               / (CAST((SELECT n FROM nn) AS DOUBLE)
                  * CAST((SELECT n FROM nn) AS DOUBLE)
                  * CAST((SELECT n FROM nn) AS DOUBLE)
                  + CAST((SELECT n FROM nn) AS DOUBLE)
                    * CAST((SELECT n FROM nn) AS DOUBLE)))), 6) AS p_approx
    """,
    doc="Pettitt changepoint test on the daily purchase-revenue series: "
    "the rank-based single-changepoint detector (Pettitt 1979) — "
    "U_t = sum_{i<=t} sum_{j>t} sgn(x_i - x_j), K = max|U_t|, "
    "change at the argmax (ties -> earliest day), with the standard "
    "approximation p ~ 2 exp(-6K^2/(n^3+n^2)) — the distribution-free "
    "complement of timeseries_cusum (mean-shift CUSUM) for level "
    "breaks a drift monitor must localize. EXACT integer identity via "
    "average ranks: U_t = sum_{i<=t} dr2_i - t(n+1) where dr2 is the "
    "DOUBLED average rank (2*cum - c + 1, the agg_kruskal_wallis "
    "construction), so U_t and K are exact integers under HUGEINT/"
    "DECIMAL; only the p approximation is double, one identical "
    "sequence per engine.",
)
def timeseries_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain aggregate over the fact table (the
    only fact shuffle), then rank + prefix windows over the |days|-row
    relation — bounded by the calendar at any corpus scale, the same
    single-ordered-partition justification as the other day-grain
    timeseries ops."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    d = cut(
        e.select(F.date_trunc("day", F.col("ts")).alias("day"), "q")
        .groupBy("day")
        .agg(F.sum("q").cast("bigint").alias("x"))
    )
    vals = d.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("cv"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = vals.select(
        "x",
        (F.lit(2) * F.sum("cv").over(wv) - F.col("cv") + F.lit(1))
        .cast("bigint")
        .alias("dr2"),
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u = cut(
        d.join(ranked, "x")
        .crossJoin(F.broadcast(nn))
        .select(
            "day",
            (
                F.sum("dr2").over(wd).cast("decimal(38,0)")
                - F.row_number().over(Window.orderBy("day")).cast("decimal(38,0)")
                * (F.col("n") + F.lit(1)).cast("decimal(38,0)")
            ).alias("ut"),
        )
    )
    k = u.agg(F.max(F.abs(F.col("ut"))).cast("bigint").alias("kstat"))
    cp = (
        u.crossJoin(F.broadcast(k))
        .filter(F.abs(F.col("ut")) == F.col("kstat"))
        .agg(F.min("day").alias("changepoint_day"))
    )
    return (
        nn.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(cp))
        .selectExpr(
            "n AS n_days",
            "kstat AS k_stat",
            "changepoint_day",
            "ROUND(LEAST(1.0, 2.0 * exp("
            "-6.0 * CAST(kstat AS DOUBLE) * CAST(kstat AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6) AS p_approx",
        )
    )


@register(
    "window_obv",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, arg_max(q, ts) AS c,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM p GROUP BY user_id, hb
    ),
    d AS (
        SELECT user_id, hb, v,
               CASE WHEN pc IS NULL OR c = pc THEN 0
                    WHEN c > pc THEN v ELSE -v END AS sv
        FROM (SELECT user_id, hb, c, v,
                     LAG(c) OVER (PARTITION BY user_id ORDER BY hb) AS pc
              FROM bars)
    ),
    o AS (
        SELECT user_id, sv,
               CAST(SUM(sv) OVER (PARTITION BY user_id ORDER BY hb
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS obv
        FROM d
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST(SUM(sv) AS BIGINT) AS obv_final,
           CAST(MIN(obv) AS BIGINT) AS obv_min,
           CAST(MAX(obv) AS BIGINT) AS obv_max
    FROM o GROUP BY user_id
    """,
    doc="On-balance volume per user over the shared 6-hour OHLC bars "
    "(Granville's accumulation gauge): volume = events per bar, signed "
    "by the close-to-close direction (+v up, -v down, 0 flat/first), "
    "cumulated per user — the volume-flow confirmation read beside "
    "price momentum (window_rsi, window_stochastic_oscillator): a "
    "rising close series with falling OBV is distribution, not "
    "accumulation. Close = arg_max by ts (the resample_ohlc "
    "determinism note). Reports final/min/max of the running OBV and "
    "the bar count — all exact integers end to end; the flat tie and "
    "the leading bar contribute 0 identically in both engines.",
)
def window_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bar aggregate (one fact shuffle), one per-user
    ordered window pair (lag + running sum, partition-parallel), one
    per-user rollup."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max_by("q", "ts").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    wo = Window.partitionBy("user_id").orderBy("hb")
    d = bars.select(
        "user_id",
        "hb",
        "v",
        F.lag("c").over(wo).alias("pc"),
        "c",
    ).select(
        "user_id",
        "hb",
        F.when(
            F.col("pc").isNull() | (F.col("c") == F.col("pc")), F.lit(0)
        )
        .when(F.col("c") > F.col("pc"), F.col("v"))
        .otherwise(-F.col("v"))
        .alias("sv"),
    )
    o = d.select(
        "user_id",
        "sv",
        F.sum("sv")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("obv"),
    )
    return o.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.sum("sv").cast("bigint").alias("obv_final"),
        F.min("obv").cast("bigint").alias("obv_min"),
        F.max("obv").cast("bigint").alias("obv_max"),
    )


@register(
    "window_aroon",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, MAX(q) AS h, MIN(q) AS l
        FROM p GROUP BY user_id, hb
    ),
    rn AS (
        SELECT user_id, hb, h, l,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hb) AS r
        FROM bars
    ),
    fr AS (
        SELECT user_id, r,
               MAX(h * 1048576 + r) OVER w AS mh,
               MIN(l * 1048576 + (1048575 - r)) OVER w AS ml,
               COUNT(*) OVER w AS n_in
        FROM rn
        WINDOW w AS (PARTITION BY user_id ORDER BY r
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ),
    a AS (
        SELECT user_id,
               CAST((2 * (3 - (r - mh % 1048576)) * 1000000 + 3)
                    // 6 AS BIGINT) AS up_micro,
               CAST((2 * (3 - (r - (1048575 - ml % 1048576))) * 1000000 + 3)
                    // 6 AS BIGINT) AS down_micro
        FROM fr WHERE n_in = 4
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_evaluated,
           CAST((2 * CAST(SUM(up_micro) AS HUGEINT) + COUNT(*))
                // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT)
               AS mean_up_micro,
           CAST((2 * CAST(SUM(down_micro) AS HUGEINT) + COUNT(*))
                // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT)
               AS mean_down_micro,
           CAST(SUM(CASE WHEN up_micro > down_micro THEN 1 ELSE 0 END)
                AS BIGINT) AS n_uptrend,
           CAST(SUM(CASE WHEN down_micro > up_micro THEN 1 ELSE 0 END)
                AS BIGINT) AS n_downtrend
    FROM a GROUP BY user_id
    """,
    doc="Aroon indicator per user over the shared 6-hour OHLC bars, "
    "trailing 4-bar window (incl. current): aroon_up = (k-1 - "
    "bars_since_highest_high)/(k-1), aroon_down likewise from the "
    "lowest low — the time-since-extreme trend gauge beside Donchian's "
    "level rule (Donchian says WHERE the range is, Aroon says HOW "
    "RECENTLY it was set). Recency ties break to the MOST RECENT "
    "extreme in both engines via an integer position encoding "
    "(h*2^20 + rn maximized / l*2^20 + (2^20-1-rn) minimized — exact "
    "while bar highs stay under ~8.7e12 micro and per-user bar counts "
    "under 2^20; the fixture is orders of magnitude inside both, and "
    "a larger deployment re-blocks rn per window). Only full 4-bar "
    "windows are evaluated. Quarter-position values are exact "
    "half-away micro ((2*(3-s)*1e6+3) div 6); per-user means re-round "
    "the identical integer sums. No doubles anywhere.",
)
def window_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bar aggregate (one fact shuffle), one per-user
    ordered window with a bounded 4-row frame, one per-user rollup."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"), F.min("q").alias("l")
    )
    rn = bars.select(
        "user_id",
        "h",
        "l",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("hb"))
        .alias("r"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("r")
        .rowsBetween(-3, 0)
    )
    fr = rn.select(
        "user_id",
        "r",
        F.max(F.col("h") * F.lit(1048576) + F.col("r")).over(w).alias("mh"),
        F.min(F.col("l") * F.lit(1048576) + (F.lit(1048575) - F.col("r")))
        .over(w)
        .alias("ml"),
        F.count(F.lit(1)).over(w).alias("n_in"),
    )
    a = fr.filter(F.col("n_in") == 4).selectExpr(
        "user_id",
        "CAST((2 * (3 - (r - mh % 1048576)) * 1000000 + 3)"
        " div 6 AS BIGINT) AS up_micro",
        "CAST((2 * (3 - (r - (1048575 - ml % 1048576))) * 1000000 + 3)"
        " div 6 AS BIGINT) AS down_micro",
    )
    return a.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_evaluated"),
        F.expr(
            "CAST((2 * CAST(SUM(up_micro) AS DECIMAL(38,0)) + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("mean_up_micro"),
        F.expr(
            "CAST((2 * CAST(SUM(down_micro) AS DECIMAL(38,0)) + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("mean_down_micro"),
        F.sum(F.when(F.col("up_micro") > F.col("down_micro"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_uptrend"),
        F.sum(F.when(F.col("down_micro") > F.col("up_micro"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_downtrend"),
    )


@register(
    "agg_wasserstein_1d",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS x
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    vals AS (
        SELECT x,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM q GROUP BY x
    ),
    cum AS (
        SELECT x,
               SUM(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS a1,
               SUM(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS a2,
               LEAD(x) OVER (ORDER BY x) AS nx
        FROM vals
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM vals
    ),
    s AS (
        SELECT CAST(SUM(abs(c.a1 * t.nb - c.a2 * t.na)
                        * CAST(c.nx - c.x AS HUGEINT)) AS HUGEINT) AS num
        FROM cum c CROSS JOIN tot t WHERE c.nx IS NOT NULL
    )
    SELECT t.na AS n_purchase, t.nb AS n_click,
           CAST((2 * s.num + CAST(t.na AS HUGEINT) * t.nb)
                // (2 * CAST(t.na AS HUGEINT) * t.nb) AS BIGINT)
               AS wasserstein_micro
    FROM s CROSS JOIN tot t
    """,
    doc="1-D Wasserstein (earth-mover) distance between purchase and "
    "click value distributions: W1 = integral |F_a - F_b| dx over the "
    "pooled micro-quantized support — the transport-cost companion of "
    "agg_ks_two_sample (KS reports the worst POINT gap; W1 weighs gap "
    "BY HOW MUCH value-mass must move, the metric of distribution "
    "shift used for dataset drift). EXACT rational identity: on "
    "integer support, W1 = sum over support steps of |a1*nb - a2*na| "
    "* gap / (na*nb), so the numerator is an exact HUGEINT/DECIMAL "
    "sum and the result is half-away micro (in micro value units — "
    "wasserstein_micro = micro^2 of raw value over micro denominator "
    "= the distance in the same micro units as the quantization). "
    "Overflow headroom: |a1*nb| <= na*nb and gaps sum to the support "
    "range, so num <= na*nb*range ~ 1e8*5e8 ~ 5e16 at sf0.1 — 10^21 "
    "under the DECIMAL(38,0) ceiling.",
)
def agg_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: exact running counts over the distinct quantized
    values via value_ranks (no single-partition sort), the next-support
    gap via an equi-join on the running count (a value's cum_n - n is
    its predecessor's cum_n), a 1-row reduce."""
    from ..operators.stats import value_ranks

    e = load_fixture(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    x = micro(F.col("value"))
    cum = value_ranks(
        e.select("event_type", x.alias("x")),
        [],
        "x",
        {
            "n": F.lit(1),
            "ca": F.when(F.col("event_type") == "purchase", 1).otherwise(0),
            "cb": F.when(F.col("event_type") == "click", 1).otherwise(0),
        },
    )
    nxt = cum.select(
        (F.col("cum_n") - F.col("n")).alias("cum_n"), F.col("x").alias("nx")
    )
    stepped = cum.join(nxt, "cum_n").select(
        "x",
        "nx",
        F.col("cum_ca").alias("a1"),
        F.col("cum_cb").alias("a2"),
        F.col("tot_ca").alias("na"),
        F.col("tot_cb").alias("nb"),
    )
    tot = cum.agg(F.max("tot_ca").alias("na"), F.max("tot_cb").alias("nb"))
    s = stepped.agg(
        F.sum(
            F.expr(
                "abs(CAST(a1 AS DECIMAL(19,0)) * nb"
                " - CAST(a2 AS DECIMAL(19,0)) * na)"
                " * CAST(nx - x AS DECIMAL(19,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("num")
    )
    return s.crossJoin(F.broadcast(tot)).selectExpr(
        "na AS n_purchase",
        "nb AS n_click",
        "CAST((2 * num + CAST(na AS DECIMAL(38,0)) * nb)"
        " div (2 * CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
        " AS wasserstein_micro",
    )


@register(
    "events_weekly_ks_drift",
    oracle="""
    WITH e AS (
        SELECT epoch_us(ts) // 604800000000 AS wk, value AS v
        FROM events WHERE event_type = 'purchase'
    ),
    sides AS (
        SELECT wk + 1 AS p, v, 1 AS s FROM e
        UNION ALL
        SELECT wk AS p, v, 2 AS s FROM e
    ),
    vals AS (
        SELECT p, v,
               CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM sides GROUP BY p, v
    ),
    cum AS (
        SELECT p,
               SUM(c1) OVER (PARTITION BY p ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS a1,
               SUM(c2) OVER (PARTITION BY p ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS a2
        FROM vals
    ),
    tot AS (
        SELECT p, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM vals GROUP BY p
    ),
    d AS (
        SELECT c.p, MAX(abs(c.a1 * t.n2 - c.a2 * t.n1)) AS dnum
        FROM cum c JOIN tot t USING (p) GROUP BY c.p
    )
    SELECT d.p AS week_bucket, t.n1 AS n_prev, t.n2 AS n_cur,
           CAST((2 * CAST(d.dnum AS HUGEINT) * 1000000
                 + CAST(t.n1 AS HUGEINT) * t.n2)
                // (2 * CAST(t.n1 AS HUGEINT) * t.n2) AS BIGINT) AS d_micro,
           ROUND(sqrt(CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)
                      / (CAST(t.n1 AS DOUBLE) + CAST(t.n2 AS DOUBLE)))
                 * CAST(d.dnum AS DOUBLE)
                 / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6) AS ks_z
    FROM d JOIN tot t USING (p)
    WHERE t.n1 > 0 AND t.n2 > 0
    """,
    doc="Week-over-week KS drift profile of purchase values: for every "
    "consecutive epoch-week pair, the two-sample Kolmogorov-Smirnov D "
    "between last week's and this week's value distribution — the "
    "BINLESS temporal-drift monitor beside profile_psi_drift's binned "
    "PSI (PSI needs reference buckets and saturates on tail moves; KS "
    "is distribution-free) and the batch twin of "
    "stream_drift_chi_square. Each event feeds exactly two pairs (as "
    "prev of week w+1, as cur of week w); boundary pairs with an "
    "empty side are dropped in both engines. Same exact-integer "
    "discipline as agg_ks_two_sample: D = max|a1*n2 - a2*n1| over the "
    "common denominator, half-away micro; only the sqrt normalization "
    "is double, one identical sequence per engine. Epoch weeks "
    "(604800e6 us) are TZ-free.",
)
def events_weekly_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one union projection of the fact table, per-pair
    exact running counts and totals over distinct values via
    value_ranks (partitioned by pair — no single-partition sort), a
    |pairs|-row rollup."""
    from ..operators.stats import value_ranks

    e = purchase_events(spark, sf_dir)
    base = e.select(
        F.expr("unix_micros(ts) div 604800000000").alias("wk"), F.col("value").alias("v")
    )
    sides = base.select(
        (F.col("wk") + F.lit(1)).alias("p"), "v", F.lit(1).alias("s")
    ).unionAll(base.select(F.col("wk").alias("p"), "v", F.lit(2).alias("s")))
    cum = value_ranks(
        sides,
        ["p"],
        "v",
        {
            "c1": F.when(F.col("s") == 1, 1).otherwise(0),
            "c2": F.when(F.col("s") == 2, 1).otherwise(0),
        },
    )
    d = cum.groupBy("p").agg(
        F.max(
            F.abs(F.col("cum_c1") * F.col("tot_c2") - F.col("cum_c2") * F.col("tot_c1"))
        ).alias("dnum"),
        F.max("tot_c1").alias("n1"),
        F.max("tot_c2").alias("n2"),
    )
    return (
        d.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .selectExpr(
            "p AS week_bucket",
            "n1 AS n_prev",
            "n2 AS n_cur",
            "CAST((2 * CAST(dnum AS DECIMAL(38,0)) * 1000000"
            " + CAST(n1 AS DECIMAL(38,0)) * n2)"
            " div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) AS d_micro",
            "ROUND(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))"
            " * CAST(dnum AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_z",
        )
    )


@register(
    "agg_page_trend_test",
    oracle="""
    WITH cell AS (
        SELECT o_custkey AS cust,
               CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS j,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        FROM orders GROUP BY 1, 2
    ),
    blocks AS (
        SELECT cust FROM cell GROUP BY cust HAVING COUNT(*) = 5
    ),
    c AS (SELECT cell.* FROM cell JOIN blocks USING (cust)),
    rk AS (
        SELECT cust, j,
               CAST(2 * RANK() OVER (PARTITION BY cust ORDER BY v)
                    + COUNT(*) OVER (PARTITION BY cust, v) - 1
                    AS BIGINT) AS dr2
        FROM c
    ),
    rj AS (
        SELECT j, CAST(SUM(dr2) AS HUGEINT) AS r2 FROM rk GROUP BY j
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM blocks),
    l AS (SELECT CAST(SUM(j * r2) AS HUGEINT) AS l2 FROM rj)
    SELECT n AS n_blocks, CAST(5 AS INTEGER) AS k,
           CAST(l2 AS BIGINT) AS page_l_doubled,
           ROUND((CAST(l2 AS DOUBLE) - 90.0 * CAST(n AS DOUBLE))
                 / NULLIF(10.0 * sqrt(CAST(n AS DOUBLE)), 0.0), 6)
               AS z_approx
    FROM nb, l
    """,
    doc="Page's trend test (Page 1963) for an ORDERED alternative "
    "across the five order priorities on customer blocks: L = sum_j "
    "j * R_j over within-block ranks of per-(customer, priority) "
    "spend, treatments ordered by the priority prefix (1-URGENT .. "
    "5-LOW) — the monotone-trend sibling of agg_friedman_test "
    "(Friedman asks 'any difference?', Page asks 'does spend TREND "
    "with priority?', strictly more powerful when the alternative is "
    "ordered). Only complete blocks enter. Doubled average ranks "
    "(the agg_kruskal_wallis discipline) keep L exact: page_l_doubled "
    "= 2L is an exact HUGEINT/DECIMAL integer; the normal "
    "approximation z = (L - n k (k+1)^2 / 4) / (k (k+1) "
    "sqrt(n (k-1)) / 12) — literals 90 = 2 * 45 and 10 = 2 * 5 at "
    "k = 5 on the doubled scale — is one identical double sequence "
    "per engine, NULLIF-guarded at n = 0.",
)
def agg_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (customer, priority) groupBy over the fact
    table, a k-row-per-block window (partition-parallel, k = 5
    bounded), then 5-row and 1-row reduces."""
    from pyspark.sql.window import Window

    o = load_fixture(spark, sf_dir, "orders")
    cell = cut(
        o.groupBy(
            F.col("o_custkey").alias("cust"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("j"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("v"))
    )
    blocks = (
        cell.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("kc"))
        .filter(F.col("kc") == 5)
        .select("cust")
    )
    c = cell.join(blocks, "cust")
    rk = c.select(
        "j",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("cust").orderBy("v"))
            + F.count(F.lit(1)).over(Window.partitionBy("cust", "v"))
            - F.lit(1)
        )
        .cast("bigint")
        .alias("dr2"),
    )
    rj = rk.groupBy("j").agg(F.sum("dr2").cast("decimal(38,0)").alias("r2"))
    nb = blocks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    l2 = rj.agg(
        F.sum(F.col("j").cast("decimal(19,0)") * F.col("r2"))
        .cast("decimal(38,0)")
        .alias("l2")
    )
    return nb.crossJoin(F.broadcast(l2)).selectExpr(
        "n AS n_blocks",
        "CAST(5 AS INT) AS k",
        "CAST(l2 AS BIGINT) AS page_l_doubled",
        "ROUND((CAST(l2 AS DOUBLE) - 90.0 * CAST(n AS DOUBLE))"
        " / NULLIF(10.0 * sqrt(CAST(n AS DOUBLE)), 0.0), 6) AS z_approx",
    )


@register(
    "agg_partial_correlation",
    oracle="""
    WITH q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100
                                   + 0.5) AS BIGINT)) AS BIGINT) AS y,
               CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS z
        FROM lineitem GROUP BY l_orderkey
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(z) AS HUGEINT) AS sz,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
               CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
        FROM q
    ),
    r AS (
        SELECT n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                        0.0) AS rxy,
               (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
               / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))),
                        0.0) AS rxz,
               (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
               / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                                - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))),
                        0.0) AS ryz
        FROM m
    )
    SELECT n AS n_orders,
           ROUND(rxy, 6) AS r_lines_price,
           ROUND(rxz, 6) AS r_lines_qty,
           ROUND(ryz, 6) AS r_price_qty,
           ROUND((ryz - rxy * rxz)
                 / NULLIF(sqrt((1.0 - rxy * rxy) * (1.0 - rxz * rxz)), 0.0),
                 6) AS partial_r_price_qty
    FROM r
    """,
    doc="First-order partial correlation on per-order aggregates: does "
    "order revenue track order quantity BEYOND both being driven by "
    "the line count? x = lines per order, y = order revenue (centi), "
    "z = order quantity (centi); r_yz.x = (r_yz - r_xy r_xz) / "
    "sqrt((1-r_xy^2)(1-r_xz^2)) — the confounder-removal audit beside "
    "agg_regression_stats (on the fixture r_price_qty ~ 0.77 is "
    "almost entirely the line-count confounder: the partial collapses "
    "it, which is exactly the lesson the op encodes). All ten moment "
    "sums are EXACT integers over centi-quantized per-order sums "
    "under HUGEINT/DECIMAL(38,0); the three Pearson r and the partial "
    "run in ONE identical double sequence per engine, NULLIF-guarded "
    "on zero variance and |r| = 1 degenerates.",
)
def agg_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-order groupBy over the fact scan (the only
    shuffle), then a map-side-combined 10-sum reduce."""
    li = load_fixture(spark, sf_dir, "lineitem")

    def cq(col: str) -> object:
        return F.floor(F.col(col).cast("double") * F.lit(100) + F.lit(0.5)).cast(
            "bigint"
        )

    q = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(cq("l_extendedprice")).cast("bigint").alias("y"),
        F.sum(cq("l_quantity")).cast("bigint").alias("z"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum("z").cast("decimal(38,0)").alias("sz"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.expr("CAST(z AS DECIMAL(19,0)) * z")).cast("decimal(38,0)").alias("szz"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * z")).cast("decimal(38,0)").alias("sxz"),
        F.sum(F.expr("CAST(y AS DECIMAL(19,0)) * z")).cast("decimal(38,0)").alias("syz"),
    )

    def pearson(sab, sa, sb, saa, sbb):
        return (
            f"(CAST(n AS DOUBLE) * CAST({sab} AS DOUBLE)"
            f" - CAST({sa} AS DOUBLE) * CAST({sb} AS DOUBLE))"
            f" / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST({saa} AS DOUBLE)"
            f" - CAST({sa} AS DOUBLE) * CAST({sa} AS DOUBLE))"
            f" * (CAST(n AS DOUBLE) * CAST({sbb} AS DOUBLE)"
            f" - CAST({sb} AS DOUBLE) * CAST({sb} AS DOUBLE))), 0.0)"
        )

    r = m.selectExpr(
        "n",
        f"{pearson('sxy', 'sx', 'sy', 'sxx', 'syy')} AS rxy",
        f"{pearson('sxz', 'sx', 'sz', 'sxx', 'szz')} AS rxz",
        f"{pearson('syz', 'sy', 'sz', 'syy', 'szz')} AS ryz",
    )
    return r.selectExpr(
        "n AS n_orders",
        "ROUND(rxy, 6) AS r_lines_price",
        "ROUND(rxz, 6) AS r_lines_qty",
        "ROUND(ryz, 6) AS r_price_qty",
        "ROUND((ryz - rxy * rxz)"
        " / NULLIF(sqrt((1.0 - rxy * rxy) * (1.0 - rxz * rxz)), 0.0), 6)"
        " AS partial_r_price_qty",
    )


@register(
    "timeseries_cross_correlation",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS px,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS er
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag),
    pairs AS (
        SELECT l.lag, a.px AS x, b.er AS y
        FROM lags l
        JOIN d a ON TRUE
        JOIN d b ON b.dd = a.dd + l.lag
    ),
    m AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INTEGER) AS lag, n AS n_pairs,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                          0.0), 6) AS ccf
    FROM m
    """,
    doc="Cross-correlation function between the daily purchase-count and "
    "error-count series at lags -3..+3: ccf(L) = corr(purchases_t, "
    "errors_{t+L}) — the lead/lag dependence scan (do error bursts "
    "LEAD purchase drops, or trail them?) that complements "
    "timeseries_acf_profile's single-series view; the classic "
    "pre-whitening-free first look of transfer-function analysis. "
    "Day buckets are epoch days (TZ-free); the lag shift is an exact "
    "integer equi-join (never a window over a padded calendar), so "
    "boundary days simply drop out per lag. Per-lag moment sums are "
    "exact integers under HUGEINT/DECIMAL; each Pearson r is one "
    "identical double sequence per engine, NULLIF-guarded on "
    "zero-variance windows.",
)
def timeseries_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain aggregate over the fact table (the
    only fact shuffle), then a 7-lag broadcast fanout + self-equi-join
    on the |days|-row relation and a 7-row rollup — day cardinality is
    calendar-bounded at any corpus scale."""
    e = load_fixture(spark, sf_dir, "events")
    d = cut(
        e.select(
            F.expr("unix_micros(ts) div 86400000000").alias("dd"),
            "event_type",
        )
        .groupBy("dd")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("px"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("er"),
        )
    )
    lags = d.sparkSession.range(-3, 4).select(F.col("id").alias("lag"))
    a = d.select("dd", F.col("px").alias("x")).crossJoin(F.broadcast(lags))
    b = d.select(F.col("dd").alias("bdd"), F.col("er").alias("y"))
    pairs = a.join(b, F.col("bdd") == F.col("dd") + F.col("lag"))
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias("sxy"),
    )
    return m.selectExpr(
        "CAST(lag AS INT) AS lag",
        "n AS n_pairs",
        "ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0), 6) AS ccf",
    )


@register(
    "agg_mood_median",
    oracle="""
    WITH vals AS (
        SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS ch
        FROM orders
        GROUP BY o_totalprice
    ),
    ranked AS (
        SELECT v, c, ch,
               SUM(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM vals
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS nn, CAST(SUM(ch) AS BIGINT) AS n1
        FROM vals
    ),
    cut AS (
        SELECT MIN(v) AS cutv
        FROM ranked CROSS JOIN tot
        WHERE cum >= (nn + 1) // 2
    ),
    ab AS (
        SELECT CAST(COALESCE(SUM(ch), 0) AS BIGINT) AS a,
               CAST(COALESCE(SUM(c), 0) AS BIGINT) AS ca
        FROM vals CROSS JOIN cut
        WHERE v > cutv
    )
    SELECT nn AS n_orders, n1 AS n_hi, nn - n1 AS n_lo,
           ROUND(cutv, 2) AS median_cut,
           a AS hi_above,
           ROUND(CAST(nn AS DOUBLE)
                 * CAST(a * (nn - n1 - (ca - a)) - (n1 - a) * (ca - a)
                        AS DOUBLE)
                 * CAST(a * (nn - n1 - (ca - a)) - (n1 - a) * (ca - a)
                        AS DOUBLE)
                 / NULLIF(CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE)
                          * CAST(ca AS DOUBLE) * CAST(nn - ca AS DOUBLE),
                          0.0), 6) AS chi2
    FROM tot CROSS JOIN cut CROSS JOIN ab
    """,
    doc="Mood's median test: do urgent/high-priority orders sit above "
    "the pooled order-total median more often than the other "
    "priorities? The pooled cutoff is the LOWER median (smallest value "
    "whose inclusive cumulative count reaches ceil(N/2) — an exact "
    "order statistic, no interpolation, so ties are unambiguous in "
    "both engines), the 2x2 table counts strictly-above vs not-above, "
    "and chi2 = N(ad-bc)^2 / (r1 r2 c1 c2) without continuity "
    "correction. The location-shift companion to agg_mann_whitney_u "
    "that is robust to ANY shape difference because it only reads one "
    "bit per row. Counts a/b/c/d and the cutoff are exact integers; "
    "chi2 is one identical double sequence per engine, NULLIF-guarded "
    "on a degenerate margin (all mass on one side).",
)
def agg_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact running count and totals over the DISTINCT
    value column via value_ranks (no single-partition window), then
    three 1-row broadcast reduces (total, cutoff, above-counts) — the
    fact table is scanned once."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ranked = value_ranks(
        o.select(F.col("o_totalprice").alias("v"), hi.alias("hi")),
        [],
        "v",
        {"c": F.lit(1), "ch": F.when(F.col("hi"), 1).otherwise(0)},
    )
    tot = ranked.agg(F.max("tot_c").alias("nn"), F.max("tot_ch").alias("n1"))
    cutoff = ranked.filter(F.col("cum_c") >= F.expr("(tot_c + 1) div 2")).agg(
        F.min("v").alias("cutv")
    )
    ab = (
        ranked.crossJoin(F.broadcast(cutoff))
        .filter(F.col("v") > F.col("cutv"))
        .agg(
            F.coalesce(F.sum("ch"), F.lit(0)).cast("bigint").alias("a"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("ca"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(cutoff))
        .crossJoin(F.broadcast(ab))
        .selectExpr(
            "nn AS n_orders",
            "n1 AS n_hi",
            "nn - n1 AS n_lo",
            "ROUND(cutv, 2) AS median_cut",
            "a AS hi_above",
            "ROUND(CAST(nn AS DOUBLE)"
            " * CAST(a * (nn - n1 - (ca - a)) - (n1 - a) * (ca - a)"
            " AS DOUBLE)"
            " * CAST(a * (nn - n1 - (ca - a)) - (n1 - a) * (ca - a)"
            " AS DOUBLE)"
            " / NULLIF(CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE)"
            " * CAST(ca AS DOUBLE) * CAST(nn - ca AS DOUBLE),"
            " 0.0), 6) AS chi2",
        )
    )


@register(
    "agg_conover_squared_ranks",
    oracle="""
    WITH base AS (
        SELECT o_orderstatus AS g,
               CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS xc
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    gs AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(xc) AS BIGINT) AS s
        FROM base GROUP BY g
    ),
    d AS (
        SELECT b.g,
               CAST(floor(abs(CAST(b.xc AS DOUBLE)
                              - CAST(gs.s AS DOUBLE) / CAST(gs.c AS DOUBLE))
                          * 10000.0 + 0.5) AS BIGINT) AS dm
        FROM base b JOIN gs USING (g)
    ),
    vals AS (
        SELECT dm, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cf
        FROM d GROUP BY dm
    ),
    rk AS (
        SELECT c, cf,
               2 * SUM(c) OVER (ORDER BY dm
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - c + 1 AS dr2
        FROM vals
    ),
    s AS (
        SELECT CAST(SUM(cf) AS BIGINT) AS n1,
               CAST(SUM(c - cf) AS BIGINT) AS n2,
               CAST(SUM(CAST(cf AS HUGEINT) * dr2 * dr2) AS HUGEINT) AS t4,
               CAST(SUM(CAST(c AS HUGEINT) * dr2 * dr2) AS HUGEINT) AS a2x4,
               CAST(SUM(CAST(c AS HUGEINT) * dr2 * dr2 * dr2 * dr2)
                    AS HUGEINT) AS a4x16
        FROM rk
    )
    SELECT n1 AS n_f, n2 AS n_o,
           ROUND(CAST(t4 AS DOUBLE) / 4.0, 6) AS t_sq_ranks,
           ROUND((CAST(t4 AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * CAST(a2x4 AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                 / NULLIF(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                               / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                                  * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
                                     - 1.0))
                               * (CAST(a4x16 AS DOUBLE)
                                  - CAST(a2x4 AS DOUBLE) * CAST(a2x4 AS DOUBLE)
                                    / (CAST(n1 AS DOUBLE)
                                       + CAST(n2 AS DOUBLE)))),
                          0.0), 6) AS z_score
    FROM s
    """,
    doc="Conover squared-ranks test for equal SCALE between finished "
    "and open orders' totals — the variance companion to "
    "agg_mann_whitney_u's location test on the same split (and the "
    "rank-robust alternative to agg_levene_brown_forsythe). Each "
    "observation's absolute deviation from its own group mean is "
    "ranked across the pooled sample (midranks on ties, per Conover's "
    "canonical procedure of squaring the midrank), T = sum of squared "
    "ranks in sample 1, z = (T - n1*A2/N) / sqrt(n1 n2 (A4 - A2^2/N) "
    "/ (N(N-1))) with A2/A4 the pooled 2nd/4th rank-power sums. EXACT "
    "machinery: totals are centi-quantized so each group's (count, "
    "sum) is an exact integer pair; the deviation |x - mean| runs ONE "
    "identical double sequence per engine and is micro-quantized "
    "(1e-4 currency units) back to an integer rank key, so tie blocks "
    "are engine-identical; doubled midranks keep T, A2, A4 as exact "
    "4x/4x/16x integers under HUGEINT/DECIMAL(38,0) (quartic bound "
    "~1.2e37 at N=1.5e7 — beyond that re-quantize deviations to "
    "centi, JB discipline); z is one final double sequence.",
)
def agg_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact scan -> 2-row group stats broadcast back ->
    distinct-deviation ranks via value_ranks -> one 1-row moment
    reduce. No single-partition window, no row-level shuffle beyond the
    two groupBys."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    base = o.select(
        F.col("o_orderstatus").alias("g"),
        F.floor(F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("xc"),
    )
    gs = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_g"),
        F.sum("xc").cast("bigint").alias("s_g"),
    )
    d = base.join(F.broadcast(gs), "g").select(
        "g",
        F.floor(
            F.abs(
                F.col("xc").cast("double")
                - F.col("s_g").cast("double") / F.col("c_g").cast("double")
            )
            * F.lit(10000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("dm"),
    )
    rk = value_ranks(
        d, [], "dm", {"c": F.lit(1), "cf": F.when(F.col("g") == "F", 1).otherwise(0)}
    ).select(
        "c",
        "cf",
        (F.lit(2) * F.col("cum_c") - F.col("c") + F.lit(1)).alias("dr2"),
    )
    s = rk.select(
        "c", "cf", "dr2", F.expr("dr2 * dr2").alias("d2")
    ).agg(
        F.sum("cf").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("cf")).cast("bigint").alias("n2"),
        F.sum(F.expr("CAST(cf AS DECIMAL(19,0)) * d2"))
        .cast("decimal(38,0)")
        .alias("t4"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * d2"))
        .cast("decimal(38,0)")
        .alias("a2x4"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * (CAST(d2 AS DECIMAL(19,0)) * d2)"))
        .cast("decimal(38,0)")
        .alias("a4x16"),
    )
    return s.selectExpr(
        "n1 AS n_f",
        "n2 AS n_o",
        "ROUND(CAST(t4 AS DOUBLE) / 4.0, 6) AS t_sq_ranks",
        "ROUND((CAST(t4 AS DOUBLE)"
        " - CAST(n1 AS DOUBLE) * CAST(a2x4 AS DOUBLE)"
        " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))"
        " / NULLIF(sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
        " / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
        " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))"
        " * (CAST(a4x16 AS DOUBLE)"
        " - CAST(a2x4 AS DOUBLE) * CAST(a2x4 AS DOUBLE)"
        " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))), 0.0), 6) AS z_score",
    )


@register(
    "agg_cvm_two_sample",
    oracle="""
    WITH vals AS (
        SELECT l_extendedprice AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cr
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
        GROUP BY l_extendedprice
    ),
    ranked AS (
        SELECT c, cr,
               SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(cr) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumr
        FROM vals
    ),
    tot AS (
        SELECT CAST(SUM(cr) AS BIGINT) AS n, CAST(SUM(c - cr) AS BIGINT) AS m
        FROM vals
    ),
    s AS (
        SELECT n, m,
               CAST(SUM(CAST(c AS HUGEINT)
                        * (CAST(m AS HUGEINT) * cumr
                           - CAST(n AS HUGEINT) * (cum - cumr))
                        * (CAST(m AS HUGEINT) * cumr
                           - CAST(n AS HUGEINT) * (cum - cumr)))
                    AS HUGEINT) AS u
        FROM ranked CROSS JOIN tot
        GROUP BY n, m
    )
    SELECT n AS n_r, m AS n_n,
           ROUND(CAST(u AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                    * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))
                    * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))), 6) AS t_stat,
           ROUND(1.0 / 6.0
                 + 1.0 / (6.0 * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))),
                 6) AS expected_t
    FROM s
    """,
    doc="Cramer-von Mises two-sample statistic between returned ('R') "
    "and never-returned ('N') line-item prices: T = nm/N^2 * "
    "sum_over_all_observations (F_n(x) - G_m(x))^2 — the "
    "whole-distribution drift test that weights the BODY of the "
    "distribution where agg_ks_two_sample's single-supremum reads "
    "only the worst point (the standard pairing in distribution-shift "
    "audits). EXACT machinery: the tie-weighted sum runs over "
    "DISTINCT values with inclusive cumulative counts, and each "
    "term's (m*cumF - n*cumG) difference is an exact integer, so the "
    "full U accumulator is an exact HUGEINT/DECIMAL(38,0) integer "
    "(bound ~6e36 at N=6e7 rows; beyond that the accumulator "
    "overflows NULL and the Spark side raises loudly, JB discipline); "
    "T and E[T] = 1/6 + 1/(6N) are one final double sequence.",
)
def agg_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two exact running counts and their totals over the
    DISTINCT value column via ONE value_ranks pass, then a 1-row reduce
    — the fact table is scanned once."""
    from ..operators.stats import value_ranks

    li = load_fixture(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    ranked = value_ranks(
        li,
        [],
        "l_extendedprice",
        {"c": F.lit(1), "cr": F.when(F.col("l_returnflag") == "R", 1).otherwise(0)},
    ).select(
        "c",
        F.col("cum_c").alias("cum"),
        F.col("cum_cr").alias("cumr"),
        F.col("tot_cr").alias("n"),
        (F.col("tot_c") - F.col("tot_cr")).alias("m"),
    )
    s = (
        ranked.groupBy("n", "m")
        .agg(
            F.sum(
                F.expr(
                    "CAST(c AS DECIMAL(19,0))"
                    " * (CAST(CAST(m AS DECIMAL(19,0)) * cumr"
                    " - CAST(n AS DECIMAL(19,0)) * (cum - cumr)"
                    " AS DECIMAL(19,0))"
                    " * CAST(CAST(m AS DECIMAL(19,0)) * cumr"
                    " - CAST(n AS DECIMAL(19,0)) * (cum - cumr)"
                    " AS DECIMAL(19,0)))"
                )
            )
            .cast("decimal(38,0)")
            .alias("u")
        )
    )
    # Past ~6e7 pooled rows the exact U accumulator exceeds
    # DECIMAL(38,0) and Spark's non-ANSI sum turns NULL while the
    # HUGEINT oracle stays exact — fail loudly at that boundary.
    s = s.withColumn(
        "u",
        F.expr(
            "CASE WHEN u IS NULL THEN raise_error("
            "'agg_cvm_two_sample: exact U accumulator overflowed"
            " DECIMAL(38,0) — corpus beyond the documented bound;"
            " shard the sum or rescale counts first') ELSE u END"
        ),
    )
    return s.selectExpr(
        "n AS n_r",
        "m AS n_n",
        "ROUND(CAST(u AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)"
        " * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))"
        " * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))), 6) AS t_stat",
        "ROUND(1.0 / 6.0"
        " + 1.0 / (6.0 * (CAST(n AS DOUBLE) + CAST(m AS DOUBLE))), 6)"
        " AS expected_t",
    )


@register(
    "agg_cliffs_delta",
    oracle="""
    WITH base AS (
        SELECT CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) AS q,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS hi
        FROM lineitem
    ),
    vals AS (
        SELECT q, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(hi) AS BIGINT) AS chi
        FROM base GROUP BY q
    ),
    ranked AS (
        SELECT c, chi,
               SUM(c) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(chi) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cumhi
        FROM vals
    ),
    tot AS (
        SELECT CAST(SUM(chi) AS BIGINT) AS n, CAST(SUM(c - chi) AS BIGINT) AS m
        FROM vals
    ),
    s AS (
        SELECT n, m,
               CAST(SUM(CAST(chi AS HUGEINT)
                        * ((cum - cumhi) - (c - chi))) AS HUGEINT) AS gt,
               CAST(SUM(CAST(chi AS HUGEINT)
                        * (m - (cum - cumhi))) AS HUGEINT) AS lt,
               CAST(SUM(CAST(chi AS HUGEINT) * (c - chi)) AS HUGEINT) AS tie
        FROM ranked CROSS JOIN tot
        GROUP BY n, m
    )
    SELECT n AS n_hi, m AS n_lo,
           CAST(gt AS BIGINT) AS pairs_gt,
           CAST(lt AS BIGINT) AS pairs_lt,
           CAST(tie AS BIGINT) AS pairs_tied,
           ROUND((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE) * CAST(m AS DOUBLE), 0.0),
                 6) AS cliffs_delta
    FROM s
    """,
    doc="Cliff's delta ordinal effect size between high-discount "
    "(>= 5%) and low-discount line items' quantities: delta = "
    "(#{x>y} - #{x<y}) / (nm) over all cross-pairs — the "
    "direction-of-dominance measure that stays meaningful under the "
    "heavy integer ties where Cohen's d (agg_cohens_d) misleads; the "
    "standard effect-size companion reported beside a Mann-Whitney "
    "p-value. EXACT: all three pair counts (greater / less / tied) "
    "come from inclusive cumulative counts over the DISTINCT "
    "quantity relation — never a pair join — and satisfy "
    "gt+lt+tied = n*m by construction; delta is one final double "
    "division. Quantities are centi-quantized exact integers.",
)
def agg_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one value_ranks pass over the ~50-value DISTINCT
    quantity domain (running counts and totals), one 1-row reduce —
    pair semantics with zero pair joins."""
    from ..operators.stats import value_ranks

    li = load_fixture(spark, sf_dir, "lineitem")
    base = li.select(
        F.floor(F.col("l_quantity").cast("double") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("hi"),
    )
    ranked = value_ranks(
        base, [], "q", {"c": F.lit(1), "chi": F.col("hi")}
    ).select(
        "c",
        "chi",
        F.col("cum_c").alias("cum"),
        F.col("cum_chi").alias("cumhi"),
        F.col("tot_chi").alias("n"),
        (F.col("tot_c") - F.col("tot_chi")).alias("m"),
    )
    s = (
        ranked.groupBy("n", "m")
        .agg(
            F.sum(
                F.expr(
                    "CAST(chi AS DECIMAL(19,0)) * ((cum - cumhi) - (c - chi))"
                )
            )
            .cast("decimal(38,0)")
            .alias("gt"),
            F.sum(F.expr("CAST(chi AS DECIMAL(19,0)) * (m - (cum - cumhi))"))
            .cast("decimal(38,0)")
            .alias("lt"),
            F.sum(F.expr("CAST(chi AS DECIMAL(19,0)) * (c - chi)"))
            .cast("decimal(38,0)")
            .alias("tie"),
        )
    )
    return s.selectExpr(
        "n AS n_hi",
        "m AS n_lo",
        "CAST(gt AS BIGINT) AS pairs_gt",
        "CAST(lt AS BIGINT) AS pairs_lt",
        "CAST(tie AS BIGINT) AS pairs_tied",
        "ROUND((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))"
        " / NULLIF(CAST(n AS DOUBLE) * CAST(m AS DOUBLE), 0.0), 6)"
        " AS cliffs_delta",
    )


@register(
    "timeseries_spectral_entropy",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY dd) - 1 AS BIGINT) AS t, x
        FROM d
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    freqs AS (
        SELECT t AS k FROM idx CROSS JOIN nn
        WHERE t >= 1 AND t <= (n - 1) // 2
    ),
    terms AS (
        SELECT f.k,
               CAST(floor(CAST(i.x AS DOUBLE)
                          * cos(2.0 * pi() * CAST((f.k * i.t) % nn.n AS DOUBLE)
                                / CAST(nn.n AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS qc,
               CAST(floor(CAST(i.x AS DOUBLE)
                          * sin(2.0 * pi() * CAST((f.k * i.t) % nn.n AS DOUBLE)
                                / CAST(nn.n AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS qs
        FROM idx i CROSS JOIN freqs f CROSS JOIN nn
    ),
    spec AS (
        SELECT k,
               CAST(SUM(qc) AS HUGEINT) * CAST(SUM(qc) AS HUGEINT)
               + CAST(SUM(qs) AS HUGEINT) * CAST(SUM(qs) AS HUGEINT) AS i2
        FROM terms GROUP BY k
    ),
    tot AS (SELECT CAST(SUM(i2) AS HUGEINT) AS p FROM spec),
    ent AS (
        SELECT CAST(SUM(CASE WHEN i2 = 0 THEN 0
                        ELSE CAST(floor(-(CAST(i2 AS DOUBLE) / CAST(p AS DOUBLE))
                                        * ln(CAST(i2 AS DOUBLE)
                                             / CAST(p AS DOUBLE))
                                        * 1000000000.0 + 0.5) AS BIGINT)
                        END) AS BIGINT) AS h9,
               CAST(COUNT(*) AS BIGINT) AS nf
        FROM spec CROSS JOIN tot
    ),
    peak AS (
        SELECT MIN(k) AS peak_k FROM spec
        WHERE i2 = (SELECT MAX(i2) FROM spec)
    )
    SELECT n AS n_days, nf AS n_freqs, CAST(peak_k AS BIGINT) AS peak_k,
           ROUND(CAST(n AS DOUBLE) / CAST(peak_k AS DOUBLE), 6)
               AS peak_period_days,
           ROUND(CAST(h9 AS DOUBLE) / 1000000000.0
                 / ln(CAST(nf AS DOUBLE)), 6) AS spectral_entropy
    FROM nn CROSS JOIN ent CROSS JOIN peak
    """,
    doc="Normalized spectral entropy of the daily purchase-count "
    "series: periodogram I_k = C_k^2 + S_k^2 over frequencies "
    "k = 1..floor((n-1)/2), p_k = I_k / sum I, H = -sum p ln p / "
    "ln(K) — the one-number rhythm-vs-noise gauge (a strongly weekly "
    "series scores low, white noise scores ~1) beside the lag-domain "
    "timeseries_acf_profile, plus the dominant period n/argmax I_k. "
    "DETERMINISM: DFT angles are 2*pi*((k*t) mod n)/n — the integer "
    "modulus keeps every angle in [0, 2pi) so both engines' libm sees "
    "the IDENTICAL reduced argument; each cos/sin term is "
    "micro-quantized to an integer immediately (order-independent "
    "exact sums; term bound ~1.3e12 at 1e6 events/day), I_k is an "
    "exact integer, the argmax compares exact integers (min-k "
    "tiebreak), and the entropy accumulates nano-quantized integer "
    "terms — doubles never ride an accumulation in either engine.",
)
def timeseries_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain count over the fact table (the only
    fact shuffle), then a |days| x |days|/2 broadcast fanout (~4k rows,
    calendar-bounded at any corpus scale) and two bounded reduces."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    d = cut(
        e.select(F.expr("unix_micros(ts) div 86400000000").alias("dd"))
        .groupBy("dd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    idx = d.select(
        (F.row_number().over(Window.orderBy("dd")) - F.lit(1))
        .cast("bigint")
        .alias("t"),
        "x",
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    freqs = (
        idx.crossJoin(F.broadcast(nn))
        .filter((F.col("t") >= 1) & (F.col("t") <= F.expr("(n - 1) div 2")))
        .select(F.col("t").alias("k"))
    )
    ang = (
        "2.0 * pi() * CAST((k * t) % n AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    terms = (
        idx.crossJoin(F.broadcast(freqs))
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "k",
            f"CAST(floor(CAST(x AS DOUBLE) * cos({ang}) * 1000000.0 + 0.5)"
            " AS BIGINT) AS qc",
            f"CAST(floor(CAST(x AS DOUBLE) * sin({ang}) * 1000000.0 + 0.5)"
            " AS BIGINT) AS qs",
        )
    )
    spec = terms.groupBy("k").agg(
        F.expr(
            "CAST(SUM(qc) AS DECIMAL(19,0)) * CAST(SUM(qc) AS DECIMAL(19,0))"
            " + CAST(SUM(qs) AS DECIMAL(19,0)) * CAST(SUM(qs) AS DECIMAL(19,0))"
        )
        .cast("decimal(38,0)")
        .alias("i2")
    )
    spec = cut(spec)
    tot = spec.agg(F.sum("i2").cast("decimal(38,0)").alias("p"))
    ent = spec.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CASE WHEN i2 = 0 THEN 0"
                " ELSE CAST(floor(-(CAST(i2 AS DOUBLE) / CAST(p AS DOUBLE))"
                " * ln(CAST(i2 AS DOUBLE) / CAST(p AS DOUBLE))"
                " * 1000000000.0 + 0.5) AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("h9"),
        F.count(F.lit(1)).cast("bigint").alias("nf"),
    )
    mx = spec.agg(F.max("i2").alias("mx"))
    peak = (
        spec.crossJoin(F.broadcast(mx))
        .filter(F.col("i2") == F.col("mx"))
        .agg(F.min("k").alias("peak_k"))
    )
    return (
        nn.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(peak))
        .selectExpr(
            "n AS n_days",
            "nf AS n_freqs",
            "CAST(peak_k AS BIGINT) AS peak_k",
            "ROUND(CAST(n AS DOUBLE) / CAST(peak_k AS DOUBLE), 6)"
            " AS peak_period_days",
            "ROUND(CAST(h9 AS DOUBLE) / 1000000000.0"
            " / ln(CAST(nf AS DOUBLE)), 6) AS spectral_entropy",
        )
    )


@register(
    "timeseries_sample_entropy",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS s1,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        FROM d
    ),
    r AS (
        SELECT n,
               0.2 * sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / CAST(n AS DOUBLE) AS rtol
        FROM m
    ),
    emb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY dd) AS i, x,
               LEAD(x, 1) OVER (ORDER BY dd) AS x1,
               LEAD(x, 2) OVER (ORDER BY dd) AS x2
        FROM d
    ),
    tpl AS (SELECT i, x, x1, x2 FROM emb WHERE x2 IS NOT NULL),
    pairs AS (
        SELECT CASE WHEN GREATEST(abs(a.x - b.x), abs(a.x1 - b.x1))
                         <= r.rtol THEN 1 ELSE 0 END AS mb,
               CASE WHEN GREATEST(abs(a.x - b.x), abs(a.x1 - b.x1),
                                  abs(a.x2 - b.x2)) <= r.rtol
                    THEN 1 ELSE 0 END AS ma
        FROM tpl a JOIN tpl b ON a.i < b.i CROSS JOIN r
    ),
    s AS (
        SELECT CAST(SUM(mb) AS BIGINT) AS b, CAST(SUM(ma) AS BIGINT) AS a
        FROM pairs
    )
    SELECT n AS n_days, ROUND(rtol, 6) AS r_tolerance_micro,
           b AS b_pairs, a AS a_pairs,
           CASE WHEN a > 0 AND b > 0
                THEN ROUND(ln(CAST(b AS DOUBLE) / CAST(a AS DOUBLE)), 6)
                ELSE NULL END AS sampen
    FROM s CROSS JOIN r
    """,
    doc="Sample entropy (m=2, r=0.2*sigma) of the daily purchase-value "
    "series: B = #template pairs of length 2 within Chebyshev "
    "tolerance r, A = same at length 3, SampEn = ln(B/A) — the "
    "regularity/complexity gauge (low = self-similar, predictable "
    "days; high = irregular) that complements the linear "
    "timeseries_acf_profile with a nonlinear read; standard "
    "Richman-Moorman counting (i<j pairs, self-matches excluded, "
    "shared i=1..n-2 template index set so A/B are comparable). "
    "EXACT: day values are micro-quantized integers, sigma comes "
    "from exact integer (n, s1, s2) in one double sequence per "
    "engine, every Chebyshev comparison is integer-vs-the-identical-"
    "double, and A/B are exact integer counts; the only other double "
    "is the final ln. NULL when either count is zero (too-short or "
    "too-irregular series), both engines.",
)
def timeseries_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain aggregate over the fact table, then a
    bounded ~(|days|^2)/2 broadcast self-join (calendar-bounded at any
    corpus scale — 90 days is 4k pairs) and a 1-row reduce."""
    from pyspark.sql.window import Window

    d = daily_purchase_totals(spark, sf_dir)
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    r = m.selectExpr(
        "n",
        "0.2 * sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE)"
        " AS rtol",
    )
    wd = Window.orderBy("dd")
    emb = d.select(
        F.row_number().over(wd).alias("i"),
        "x",
        F.lead("x", 1).over(wd).alias("x1"),
        F.lead("x", 2).over(wd).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    a_ = emb.select(
        F.col("i").alias("ia"),
        F.col("x").alias("ax"),
        F.col("x1").alias("ax1"),
        F.col("x2").alias("ax2"),
    )
    b_ = emb.select(
        F.col("i").alias("ib"),
        F.col("x").alias("bx"),
        F.col("x1").alias("bx1"),
        F.col("x2").alias("bx2"),
    )
    pairs = (
        a_.join(F.broadcast(b_), F.col("ia") < F.col("ib"))
        .crossJoin(F.broadcast(r))
        .selectExpr(
            "CASE WHEN GREATEST(abs(ax - bx), abs(ax1 - bx1)) <= rtol"
            " THEN 1 ELSE 0 END AS mb",
            "CASE WHEN GREATEST(abs(ax - bx), abs(ax1 - bx1),"
            " abs(ax2 - bx2)) <= rtol THEN 1 ELSE 0 END AS ma",
        )
    )
    s = pairs.agg(
        F.sum("mb").cast("bigint").alias("b"),
        F.sum("ma").cast("bigint").alias("a"),
    )
    return (
        s.crossJoin(F.broadcast(r))
        .selectExpr(
            "n AS n_days",
            "ROUND(rtol, 6) AS r_tolerance_micro",
            "b AS b_pairs",
            "a AS a_pairs",
            "CASE WHEN a > 0 AND b > 0"
            " THEN ROUND(ln(CAST(b AS DOUBLE) / CAST(a AS DOUBLE)), 6)"
            " ELSE NULL END AS sampen",
        )
    )


@register(
    "timeseries_kpss",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS s1
        FROM d
    ),
    lsel AS (
        SELECT n, s1,
               CAST(floor(4.0 * pow(CAST(n AS DOUBLE) / 100.0, 0.25))
                    AS BIGINT) AS l
        FROM m
    ),
    e AS (
        SELECT ROW_NUMBER() OVER (ORDER BY dd) AS t,
               CAST(lsel.n AS HUGEINT) * x - lsel.s1 AS ev
        FROM d CROSS JOIN lsel
    ),
    ss AS (
        SELECT CAST(SUM(sp * sp) AS HUGEINT) AS ssq
        FROM (
            SELECT CAST(SUM(ev) OVER (ORDER BY t
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS HUGEINT) AS sp
            FROM e
        )
    ),
    g0 AS (SELECT CAST(SUM(ev * ev) AS HUGEINT) AS g FROM e),
    gj AS (
        SELECT CAST(COALESCE(SUM(
                   CAST(lsel.l + 1 - j.j AS HUGEINT) * a.ev * b.ev), 0)
                    AS HUGEINT) AS wg
        FROM lsel
        CROSS JOIN (SELECT unnest(range(1, 100)) AS j) j
        JOIN e a ON TRUE
        JOIN e b ON b.t = a.t + j.j
        WHERE j.j <= lsel.l
    )
    SELECT n AS n_days, CAST(l AS BIGINT) AS lag_l,
           ROUND(CAST(ssq AS DOUBLE) * (CAST(l AS DOUBLE) + 1.0)
                 / NULLIF(CAST(n AS DOUBLE)
                          * (CAST(l + 1 AS DOUBLE) * CAST(g AS DOUBLE)
                             + 2.0 * CAST(wg AS DOUBLE)), 0.0), 6)
               AS kpss_stat,
           ROUND(CAST(ssq AS DOUBLE) * (CAST(l AS DOUBLE) + 1.0)
                 / NULLIF(CAST(n AS DOUBLE)
                          * (CAST(l + 1 AS DOUBLE) * CAST(g AS DOUBLE)
                             + 2.0 * CAST(wg AS DOUBLE)), 0.0), 6)
               > CAST(0.463 AS DOUBLE) AS reject_05
    FROM lsel CROSS JOIN ss CROSS JOIN g0 CROSS JOIN gj
    """,
    doc="KPSS level-stationarity test on the daily purchase-value "
    "series: eta = n^-2 sum S_t^2 / s^2(l) with S_t the partial sums "
    "of deviations from the mean and s^2(l) the Bartlett-kernel "
    "long-run variance at the standard l = floor(4 (n/100)^(1/4)) "
    "bandwidth; reject (5% critical value 0.463, literal) means a "
    "unit root / drifting level — the stationarity GATE in front of "
    "every mean-reverting assumption in this suite (EWMA signals, "
    "Bollinger, variance-ratio). EXACT: deviations are n-scaled "
    "integers (ev = n*x - s1, so no rational mean ever materializes), "
    "partial sums, their squares, gamma_0 and the Bartlett-weighted "
    "autocovariance sum (integer weights l+1-j over a common l+1 "
    "denominator) are ALL exact HUGEINT/DECIMAL(38,0) integers; eta "
    "is ONE final double division, NULLIF-guarded on a constant "
    "series.",
)
def timeseries_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain aggregate over the fact table, then
    prefix/lag windows over the |days|-row relation (calendar-bounded)
    and three 1-row reduces."""
    from pyspark.sql.window import Window

    d = daily_purchase_totals(spark, sf_dir)
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
    )
    lsel = m.selectExpr(
        "n",
        "s1",
        "CAST(floor(4.0 * pow(CAST(n AS DOUBLE) / 100.0, 0.25)) AS BIGINT) AS l",
    )
    wd = Window.orderBy("dd")
    ev = d.crossJoin(F.broadcast(lsel)).select(
        F.row_number().over(wd).alias("t"),
        F.expr("CAST(n AS DECIMAL(19,0)) * x - s1")
        .cast("decimal(38,0)")
        .alias("ev"),
        "l",
    )
    ev = cut(ev)
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ss = (
        ev.select(F.sum("ev").over(wp).cast("decimal(38,0)").alias("sp"))
        .agg(
            F.sum(F.expr("CAST(sp AS DECIMAL(19,0)) * sp"))
            .cast("decimal(38,0)")
            .alias("ssq")
        )
    )
    g0 = ev.agg(
        F.sum(F.expr("CAST(ev AS DECIMAL(19,0)) * ev"))
        .cast("decimal(38,0)")
        .alias("g")
    )
    a_ = ev.select(F.col("t").alias("ta"), F.col("ev").alias("eva"), "l")
    b_ = ev.select(F.col("t").alias("tb"), F.col("ev").alias("evb"))
    lagj = (
        ev.select("l")
        .limit(1)
        .crossJoin(
            ev.sparkSession.range(1, 100).select(F.col("id").alias("j"))
        )
        .filter(F.col("j") <= F.col("l"))
        .select("j")
    )
    gj = (
        a_.crossJoin(F.broadcast(lagj))
        .join(F.broadcast(b_), F.col("tb") == F.col("ta") + F.col("j"))
        .agg(
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST(l + 1 - j AS DECIMAL(19,0)) * (CAST(eva AS"
                        " DECIMAL(19,0)) * evb)"
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("wg")
        )
    )
    eta = (
        "CAST(ssq AS DOUBLE) * (CAST(l AS DOUBLE) + 1.0)"
        " / NULLIF(CAST(n AS DOUBLE)"
        " * (CAST(l + 1 AS DOUBLE) * CAST(g AS DOUBLE)"
        " + 2.0 * CAST(wg AS DOUBLE)), 0.0)"
    )
    return (
        lsel.crossJoin(F.broadcast(ss))
        .crossJoin(F.broadcast(g0))
        .crossJoin(F.broadcast(gj))
        .selectExpr(
            "n AS n_days",
            "CAST(l AS BIGINT) AS lag_l",
            f"ROUND({eta}, 6) AS kpss_stat",
            f"ROUND({eta}, 6) > CAST(0.463 AS DOUBLE) AS reject_05",
        )
    )


@register(
    "timeseries_cox_stuart",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY dd) AS t, x FROM d
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    pairs AS (
        SELECT CASE WHEN b.x > a.x THEN 1 ELSE 0 END AS pos,
               CASE WHEN b.x < a.x THEN 1 ELSE 0 END AS neg
        FROM idx a CROSS JOIN nn
        JOIN idx b ON b.t = a.t + n // 2
        WHERE a.t <= n // 2
    ),
    s AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS sp, CAST(SUM(neg) AS BIGINT) AS sn
        FROM pairs
    )
    SELECT n AS n_days, CAST(n // 2 AS BIGINT) AS shift_c,
           sp AS n_up, sn AS n_down,
           ROUND((CAST(sp AS DOUBLE) - CAST(sp + sn AS DOUBLE) / 2.0)
                 / NULLIF(sqrt(CAST(sp + sn AS DOUBLE) / 4.0), 0.0), 6)
               AS z_score
    FROM s CROSS JOIN nn
    """,
    doc="Cox-Stuart sign test for monotone trend in the daily "
    "purchase-value series: pair day t with day t + floor(n/2), count "
    "rises vs falls (exact ties dropped, binomial normal "
    "approximation z = (S+ - m/2)/sqrt(m/4)) — the assumption-free "
    "trend triage that reads only signs, complementing "
    "timeseries_mann_kendall (all-pairs) with a calendar-split "
    "variant whose pairs are maximally separated in time. The second "
    "half of an odd-length series drops its middle day (standard). "
    "All counts are exact integers off an integer equi-join on the "
    "day index; z is one final double sequence, NULLIF-guarded when "
    "every pair ties.",
)
def timeseries_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain aggregate over the fact table, one
    integer self-equi-join on the |days|-row relation (calendar-
    bounded), one 1-row reduce."""
    from pyspark.sql.window import Window

    d = daily_purchase_totals(spark, sf_dir)
    idx = d.select(
        F.row_number().over(Window.orderBy("dd")).alias("t"), "x"
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a_ = idx.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b_ = idx.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    pairs = (
        a_.crossJoin(F.broadcast(nn))
        .filter(F.col("ta") <= F.expr("n div 2"))
        .join(F.broadcast(b_), F.col("tb") == F.col("ta") + F.expr("n div 2"))
        .select(
            F.when(F.col("xb") > F.col("xa"), 1).otherwise(0).alias("pos"),
            F.when(F.col("xb") < F.col("xa"), 1).otherwise(0).alias("neg"),
        )
    )
    s = pairs.agg(
        F.sum("pos").cast("bigint").alias("sp"),
        F.sum("neg").cast("bigint").alias("sn"),
    )
    return s.crossJoin(F.broadcast(nn)).selectExpr(
        "n AS n_days",
        "CAST(n div 2 AS BIGINT) AS shift_c",
        "sp AS n_up",
        "sn AS n_down",
        "ROUND((CAST(sp AS DOUBLE) - CAST(sp + sn AS DOUBLE) / 2.0)"
        " / NULLIF(sqrt(CAST(sp + sn AS DOUBLE) / 4.0), 0.0), 6) AS z_score",
    )


@register(
    "timeseries_turning_points",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    w AS (
        SELECT x,
               LAG(x) OVER (ORDER BY dd) AS xp,
               LEAD(x) OVER (ORDER BY dd) AS xn
        FROM d
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN xp IS NOT NULL AND xn IS NOT NULL
                             AND ((x > xp AND x > xn)
                                  OR (x < xp AND x < xn))
                        THEN 1 ELSE 0 END) AS BIGINT) AS tp
        FROM w
    )
    SELECT n AS n_days, tp AS turning_points,
           ROUND(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0, 6) AS expected_tp,
           ROUND((CAST(tp AS DOUBLE)
                  - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
                 / NULLIF(sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0),
                          0.0), 6) AS z_score
    FROM s
    """,
    doc="Turning-points test for randomness of the daily purchase-value "
    "series: count strict local maxima/minima (ties break neither "
    "side, documented), E[T] = 2(n-2)/3, Var = (16n-29)/90 — the "
    "classic oscillation read: too FEW turns means trend/stickiness, "
    "too MANY means negative serial correlation (overdifferencing); "
    "triangulates timeseries_runs-style sign tests with a "
    "second-difference view. Counts are exact integers off one "
    "lag/lead window over the calendar-bounded day relation; z is "
    "one final double sequence.",
)
def timeseries_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain aggregate over the fact table, one
    lag/lead window over the |days|-row relation, one 1-row reduce."""
    from pyspark.sql.window import Window

    d = daily_purchase_totals(spark, sf_dir)
    wd = Window.orderBy("dd")
    w = d.select(
        "x",
        F.lag("x").over(wd).alias("xp"),
        F.lead("x").over(wd).alias("xn"),
    )
    s = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("xp").isNotNull()
                & F.col("xn").isNotNull()
                & (
                    ((F.col("x") > F.col("xp")) & (F.col("x") > F.col("xn")))
                    | ((F.col("x") < F.col("xp")) & (F.col("x") < F.col("xn")))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
    )
    return s.selectExpr(
        "n AS n_days",
        "tp AS turning_points",
        "ROUND(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0, 6) AS expected_tp",
        "ROUND((CAST(tp AS DOUBLE) - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)"
        " / NULLIF(sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 0.0), 6)"
        " AS z_score",
    )


@register(
    "timeseries_bartels_rank",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    vals AS (
        SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS cv FROM d GROUP BY x
    ),
    rk AS (
        SELECT v,
               2 * SUM(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - cv + 1 AS dr2
        FROM vals
    ),
    seq AS (
        SELECT d.dd, rk.dr2,
               LEAD(rk.dr2) OVER (ORDER BY d.dd) AS dr2n
        FROM d JOIN rk ON d.x = rk.v
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    s AS (
        SELECT CAST(SUM(CASE WHEN dr2n IS NOT NULL
                        THEN (dr2 - dr2n) * (dr2 - dr2n) ELSE 0 END)
                    AS HUGEINT) AS num4,
               CAST(SUM((dr2 - (SELECT n FROM nn) - 1)
                        * (dr2 - (SELECT n FROM nn) - 1)) AS HUGEINT) AS den4
        FROM seq
    )
    SELECT n AS n_days,
           ROUND(CAST(num4 AS DOUBLE) / NULLIF(CAST(den4 AS DOUBLE), 0.0),
                 6) AS rvn,
           ROUND((CAST(num4 AS DOUBLE) / NULLIF(CAST(den4 AS DOUBLE), 0.0)
                  - 2.0) * sqrt(CAST(n AS DOUBLE)) / 2.0, 6) AS z_score
    FROM s CROSS JOIN nn
    """,
    doc="Bartels rank version of the von Neumann ratio on the daily "
    "purchase-value series: RVN = sum (r_t - r_t+1)^2 / sum (r_t - "
    "rbar)^2 over midranks, z ~ (RVN - 2) * sqrt(n)/2 — the "
    "rank-robust randomness-against-serial-correlation test "
    "(parametric von Neumann is timeseries_durbin_watson's cousin; "
    "this one survives outlier days untouched). EXACT: midranks are "
    "doubled integers via the distinct-value cumulative count, the "
    "doubled-rank mean is EXACTLY n+1 (so the centered denominator "
    "is an exact integer sum, no rational mean), successive "
    "differences ride one lead window over the calendar-bounded day "
    "relation, and both quadratic sums are exact "
    "HUGEINT/DECIMAL(38,0) integers whose shared 4x scaling cancels "
    "in the ratio; RVN and z are one final double sequence, "
    "NULLIF-guarded on a constant series.",
)
def timeseries_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain aggregate over the fact table, a
    distinct-value cumulative count plus one lead window over the
    |days|-row relation (calendar-bounded), one 1-row reduce."""
    from pyspark.sql.window import Window

    d = daily_purchase_totals(spark, sf_dir)
    vals = d.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cv")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rk = vals.select(
        "v",
        (F.lit(2) * F.sum("cv").over(wv) - F.col("cv") + F.lit(1))
        .cast("bigint")
        .alias("dr2"),
    )
    wd = Window.orderBy("dd")
    seq = (
        d.join(rk, d["x"] == rk["v"])
        .select("dd", "dr2")
        .select("dr2", F.lead("dr2").over(wd).alias("dr2n"))
    )
    nn = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = seq.crossJoin(F.broadcast(nn)).agg(
        F.sum(
            F.expr(
                "CASE WHEN dr2n IS NOT NULL THEN"
                " CAST(dr2 - dr2n AS DECIMAL(19,0)) * (dr2 - dr2n)"
                " ELSE 0 END"
            )
        )
        .cast("decimal(38,0)")
        .alias("num4"),
        F.sum(
            F.expr(
                "CAST(dr2 - n - 1 AS DECIMAL(19,0)) * (dr2 - n - 1)"
            )
        )
        .cast("decimal(38,0)")
        .alias("den4"),
        F.first("n").alias("n"),
    )
    return s.selectExpr(
        "n AS n_days",
        "ROUND(CAST(num4 AS DOUBLE) / NULLIF(CAST(den4 AS DOUBLE), 0.0), 6)"
        " AS rvn",
        "ROUND((CAST(num4 AS DOUBLE) / NULLIF(CAST(den4 AS DOUBLE), 0.0)"
        " - 2.0) * sqrt(CAST(n AS DOUBLE)) / 2.0, 6) AS z_score",
    )


@register(
    "window_vwap_deviation",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, arg_max(q, ts) AS c,
               CAST(SUM(q) AS HUGEINT) AS s, CAST(COUNT(*) AS BIGINT) AS v
        FROM p GROUP BY user_id, hb
    ),
    r AS (
        SELECT user_id, hb, c,
               CAST(SUM(s) OVER (PARTITION BY user_id ORDER BY hb
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS HUGEINT) AS cs,
               CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY hb
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS HUGEINT) AS cv
        FROM bars
    ),
    dev AS (
        SELECT user_id, hb, c, cs, cv,
               (CAST(c AS DOUBLE) * CAST(cv AS DOUBLE)
                - CAST(cs AS DOUBLE)) / CAST(cs AS DOUBLE) AS d
        FROM r
    ),
    last AS (
        SELECT user_id, arg_max(c, hb) AS c_final,
               arg_max(cs, hb) AS cs_f, arg_max(cv, hb) AS cv_f
        FROM dev GROUP BY user_id
    )
    SELECT l.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_bars,
           CAST((2 * l.cs_f + l.cv_f) // (2 * l.cv_f) AS BIGINT)
               AS vwap_final_micro,
           ROUND((CAST(l.c_final AS DOUBLE) * CAST(l.cv_f AS DOUBLE)
                  - CAST(l.cs_f AS DOUBLE)) / CAST(l.cs_f AS DOUBLE), 6)
               AS dev_final,
           ROUND(MIN(d.d), 6) AS dev_min,
           ROUND(MAX(d.d), 6) AS dev_max
    FROM last l JOIN dev d USING (user_id)
    GROUP BY l.user_id, l.c_final, l.cs_f, l.cv_f
    """,
    doc="Running VWAP deviation per user over the shared 6-hour bars: "
    "anchored VWAP = cumulative sum(value) / cumulative count, "
    "deviation = (close - vwap)/vwap per bar — the "
    "execution-benchmark read (is the user's latest activity above "
    "or below their volume-weighted average level?) that anchors the "
    "band family (window_bollinger_bands) to a volume-weighted "
    "center. EXACT: per-bar (sum, count) pairs and both running sums "
    "are exact integers, the final VWAP is a half-away micro integer "
    "division, and each bar's deviation (c*cv - cs)/cs is ONE "
    "identical double sequence per engine — min/max over those "
    "doubles are order-free comparisons, never accumulations.",
)
def window_vwap_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bar aggregate (one fact shuffle), one per-user
    ordered running-sum window (partition-parallel), one per-user
    rollup — no joins beyond the per-user last-bar self-pair."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max_by("q", "ts").alias("c"),
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    wo = Window.partitionBy("user_id").orderBy("hb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = bars.select(
        "user_id",
        "hb",
        "c",
        F.sum("s").over(wo).cast("decimal(38,0)").alias("cs"),
        F.sum("v").over(wo).cast("decimal(38,0)").alias("cv"),
    )
    dev = r.selectExpr(
        "user_id",
        "hb",
        "c",
        "cs",
        "cv",
        "(CAST(c AS DOUBLE) * CAST(cv AS DOUBLE) - CAST(cs AS DOUBLE))"
        " / CAST(cs AS DOUBLE) AS d",
    )
    last = dev.groupBy("user_id").agg(
        F.max_by("c", "hb").alias("c_final"),
        F.max_by("cs", "hb").alias("cs_f"),
        F.max_by("cv", "hb").alias("cv_f"),
    )
    return (
        last.join(dev, "user_id")
        .groupBy("user_id", "c_final", "cs_f", "cv_f")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            F.round(F.min("d"), 6).alias("dev_min"),
            F.round(F.max("d"), 6).alias("dev_max"),
        )
        .selectExpr(
            "user_id",
            "n_bars",
            "CAST((2 * cs_f + cv_f) div (2 * cv_f) AS BIGINT)"
            " AS vwap_final_micro",
            "ROUND((CAST(c_final AS DOUBLE) * CAST(cv_f AS DOUBLE)"
            " - CAST(cs_f AS DOUBLE)) / CAST(cs_f AS DOUBLE), 6)"
            " AS dev_final",
            "dev_min",
            "dev_max",
        )
    )


@register(
    "window_chaikin_money_flow",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, MAX(q) AS h, MIN(q) AS l,
               arg_max(q, ts) AS c, CAST(COUNT(*) AS BIGINT) AS v
        FROM p GROUP BY user_id, hb
    ),
    mf AS (
        SELECT user_id, hb, v,
               CASE WHEN h = l THEN CAST(0 AS BIGINT)
                    WHEN CAST(v AS HUGEINT) * (2 * c - h - l) >= 0
                    THEN CAST(floor(CAST(v AS DOUBLE)
                                    * CAST(2 * c - h - l AS DOUBLE)
                                    / CAST(h - l AS DOUBLE)
                                    * 1000000.0 + 0.5) AS BIGINT)
                    ELSE -CAST(floor(-(CAST(v AS DOUBLE)
                                       * CAST(2 * c - h - l AS DOUBLE)
                                       / CAST(h - l AS DOUBLE))
                                     * 1000000.0 + 0.5) AS BIGINT)
               END AS mfq
        FROM bars
    ),
    roll AS (
        SELECT user_id, hb,
               CAST(SUM(mfq) OVER (PARTITION BY user_id ORDER BY hb
                                   ROWS BETWEEN 19 PRECEDING
                                   AND CURRENT ROW) AS HUGEINT) AS smf,
               CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY hb
                                 ROWS BETWEEN 19 PRECEDING
                                 AND CURRENT ROW) AS HUGEINT) AS sv
        FROM mf
    ),
    cmf AS (
        SELECT user_id, hb,
               CAST(smf AS DOUBLE) / 1000000.0 / CAST(sv AS DOUBLE) AS cv
        FROM roll
    ),
    last AS (
        SELECT user_id, arg_max(cv, hb) AS cmf_final FROM cmf GROUP BY user_id
    )
    SELECT l.user_id, CAST(COUNT(*) AS BIGINT) AS n_bars,
           ROUND(l.cmf_final, 6) AS cmf_final,
           ROUND(MIN(c.cv), 6) AS cmf_min,
           ROUND(MAX(c.cv), 6) AS cmf_max
    FROM last l JOIN cmf c USING (user_id)
    GROUP BY l.user_id, l.cmf_final
    """,
    doc="Chaikin money flow (20-bar) per user over the shared 6-hour "
    "bars: money-flow multiplier ((c-l)-(h-c))/(h-l) (0 on flat "
    "bars), money-flow volume = multiplier * bar volume, CMF = "
    "rolling-20 sum(MFV) / rolling-20 sum(volume) — the buying-vs-"
    "selling-pressure gauge that fuses window_obv's volume signing "
    "with WHERE in the bar's range the close landed; early bars use "
    "the shorter available window (both engines identically). "
    "DETERMINISM: each bar's MFV is one identical double sequence "
    "sign-split half-away micro-quantized to an integer (Spark div "
    "truncates where DuckDB floors on negatives — the signed-"
    "quantity house rule), so both rolling sums accumulate exact "
    "integers; per-bar CMF is one final double division and min/max/"
    "last are order-free.",
)
def window_chaikin_money_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bar aggregate (one fact shuffle), one per-user
    ordered rolling window pair over exact integers, one per-user
    rollup."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"),
        F.min("q").alias("l"),
        F.max_by("q", "ts").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    mf = bars.selectExpr(
        "user_id",
        "hb",
        "v",
        "CASE WHEN h = l THEN CAST(0 AS BIGINT)"
        " WHEN CAST(v AS DECIMAL(19,0)) * (2 * c - h - l) >= 0"
        " THEN CAST(floor(CAST(v AS DOUBLE) * CAST(2 * c - h - l AS DOUBLE)"
        " / CAST(h - l AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        " ELSE -CAST(floor(-(CAST(v AS DOUBLE) * CAST(2 * c - h - l AS DOUBLE)"
        " / CAST(h - l AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
        " END AS mfq",
    )
    wr = Window.partitionBy("user_id").orderBy("hb").rowsBetween(-19, 0)
    roll = mf.select(
        "user_id",
        "hb",
        F.sum("mfq").over(wr).cast("decimal(38,0)").alias("smf"),
        F.sum("v").over(wr).cast("decimal(38,0)").alias("sv"),
    )
    cmf = roll.selectExpr(
        "user_id",
        "hb",
        "CAST(smf AS DOUBLE) / 1000000.0 / CAST(sv AS DOUBLE) AS cv",
    )
    last = cmf.groupBy("user_id").agg(
        F.max_by("cv", "hb").alias("cmf_final")
    )
    return (
        last.join(cmf, "user_id")
        .groupBy("user_id", "cmf_final")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            F.round(F.min("cv"), 6).alias("cmf_min"),
            F.round(F.max("cv"), 6).alias("cmf_max"),
        )
        .selectExpr(
            "user_id",
            "n_bars",
            "ROUND(cmf_final, 6) AS cmf_final",
            "cmf_min",
            "cmf_max",
        )
    )


@register(
    "window_ichimoku",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, MAX(q) AS h, MIN(q) AS l, arg_max(q, ts) AS c
        FROM p GROUP BY user_id, hb
    ),
    w AS (
        SELECT user_id, hb, c,
               MAX(h) OVER w9 + MIN(l) OVER w9 AS tenkan2,
               MAX(h) OVER w26 + MIN(l) OVER w26 AS kijun2,
               MAX(h) OVER w52 + MIN(l) OVER w52 AS senkou_b2,
               LAG(c, 26) OVER (PARTITION BY user_id ORDER BY hb) AS chikou_ref
        FROM bars
        WINDOW w9 AS (PARTITION BY user_id ORDER BY hb
                      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
               w26 AS (PARTITION BY user_id ORDER BY hb
                       ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
               w52 AS (PARTITION BY user_id ORDER BY hb
                       ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    ),
    last AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_bars,
               arg_max(c, hb) AS c_f,
               arg_max(tenkan2, hb) AS t2,
               arg_max(kijun2, hb) AS k2,
               arg_max(senkou_b2, hb) AS sb2,
               arg_max(COALESCE(chikou_ref, -1), hb) AS ck
        FROM w GROUP BY user_id
    )
    SELECT user_id, n_bars,
           CAST(c_f AS BIGINT) AS close_micro,
           CAST(t2 AS BIGINT) AS tenkan_x2,
           CAST(k2 AS BIGINT) AS kijun_x2,
           CAST(t2 + k2 AS BIGINT) AS senkou_a_x4,
           CAST(sb2 AS BIGINT) AS senkou_b_x2,
           CAST(CASE WHEN ck < 0 THEN NULL ELSE ck END AS BIGINT)
               AS chikou_ref_micro,
           2 * c_f > k2 AS above_kijun
    FROM last
    """,
    doc="Ichimoku baseline set per user on the shared 6-hour bars, "
    "read at the latest bar: tenkan (9-bar midpoint), kijun (26-bar "
    "midpoint), senkou A ((tenkan+kijun)/2), senkou B (52-bar "
    "midpoint), chikou reference (close 26 bars back) and the "
    "close-vs-kijun regime bit — the multi-horizon "
    "support/resistance frame that generalizes window_donchian_"
    "breakout's single channel to three nested horizons. EXACT "
    "integer trick: midpoints are carried DOUBLED (H+L) and senkou A "
    "QUADRUPLED (tenkan2+kijun2), so every output is an exact "
    "integer — no halving division ever happens; the regime compare "
    "is 2*close > kijun2, exactly equivalent to close > kijun. "
    "Early bars use the shorter available window (both engines "
    "identically); a user with <27 bars reports NULL chikou.",
)
def window_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bar aggregate (one fact shuffle), three nested
    rolling max/min windows + one lag riding the SAME per-user ordered
    partition (one sort), one per-user rollup."""
    from pyspark.sql.window import Window

    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"),
        F.min("q").alias("l"),
        F.max_by("q", "ts").alias("c"),
    )
    wo = Window.partitionBy("user_id").orderBy("hb")
    w9 = wo.rowsBetween(-8, 0)
    w26 = wo.rowsBetween(-25, 0)
    w52 = wo.rowsBetween(-51, 0)
    w = bars.select(
        "user_id",
        "hb",
        "c",
        (F.max("h").over(w9) + F.min("l").over(w9)).alias("tenkan2"),
        (F.max("h").over(w26) + F.min("l").over(w26)).alias("kijun2"),
        (F.max("h").over(w52) + F.min("l").over(w52)).alias("senkou_b2"),
        F.lag("c", 26).over(wo).alias("chikou_ref"),
    )
    last = w.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.max_by("c", "hb").alias("c_f"),
        F.max_by("tenkan2", "hb").alias("t2"),
        F.max_by("kijun2", "hb").alias("k2"),
        F.max_by("senkou_b2", "hb").alias("sb2"),
        F.max_by(F.coalesce(F.col("chikou_ref"), F.lit(-1)), "hb").alias("ck"),
    )
    return last.selectExpr(
        "user_id",
        "n_bars",
        "CAST(c_f AS BIGINT) AS close_micro",
        "CAST(t2 AS BIGINT) AS tenkan_x2",
        "CAST(k2 AS BIGINT) AS kijun_x2",
        "CAST(t2 + k2 AS BIGINT) AS senkou_a_x4",
        "CAST(sb2 AS BIGINT) AS senkou_b_x2",
        "CAST(CASE WHEN ck < 0 THEN NULL ELSE ck END AS BIGINT)"
        " AS chikou_ref_micro",
        "2 * c_f > k2 AS above_kijun",
    )


@register(
    "dq_last_digit_heaping",
    oracle="""
    WITH d AS (
        SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                    AS BIGINT) % 10 AS dig
        FROM orders
    ),
    c AS (
        SELECT dig, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY dig
    ),
    s AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM c
    ),
    modal AS (
        SELECT MIN(dig) AS modal_digit, MAX(c.c) AS modal_count
        FROM c WHERE c.c = (SELECT MAX(c) FROM c)
    )
    SELECT n AS n_orders, k AS n_digits_seen,
           ROUND((10.0 * CAST(c2 AS DOUBLE)
                  - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS chi2_uniform,
           CAST(modal_digit AS BIGINT) AS modal_digit,
           CAST(modal_count AS BIGINT) AS modal_count,
           CAST((2 * CAST(modal_count AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS modal_share_micro
    FROM s CROSS JOIN modal
    """,
    doc="Last-digit heaping audit on order totals: the terminal cent "
    "digit of a naturally-priced corpus is near-uniform; human "
    "entry, rounding bugs, or synthetic backfill heap on 0/5/9 — "
    "chi-square against uniform over the ten digits (chi2 = "
    "(10 sum c^2 - n^2)/n, an exact-integer rearrangement), plus the "
    "modal digit (min-digit tiebreak) and its half-away micro share. "
    "The digit-grain companion to dq_benford_audit (Benford reads "
    "the FIRST digit's log law; heaping reads the LAST digit's "
    "uniformity). All counts exact integers; chi2 is one final "
    "double sequence.",
)
def dq_last_digit_heaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one projection + 10-cell groupBy over the fact
    scan (map-side combined), then 1-row reduces — nothing scales
    past the digit domain."""
    o = load_fixture(spark, sf_dir, "orders")
    d = o.select(
        (
            F.floor(F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            % 10
        ).alias("dig")
    )
    c = d.groupBy("dig").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    c = cut(c)
    s = c.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * c"))
        .cast("decimal(38,0)")
        .alias("c2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    mx = c.agg(F.max("c").alias("mc"))
    modal = (
        c.crossJoin(F.broadcast(mx))
        .filter(F.col("c") == F.col("mc"))
        .agg(
            F.min("dig").alias("modal_digit"),
            F.max("c").alias("modal_count"),
        )
    )
    return s.crossJoin(F.broadcast(modal)).selectExpr(
        "n AS n_orders",
        "k AS n_digits_seen",
        "ROUND((10.0 * CAST(c2 AS DOUBLE)"
        " - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 6)"
        " AS chi2_uniform",
        "CAST(modal_digit AS BIGINT) AS modal_digit",
        "CAST(modal_count AS BIGINT) AS modal_count",
        "CAST((2 * CAST(modal_count AS DECIMAL(19,0)) * 1000000 + n)"
        " div (2 * CAST(n AS DECIMAL(19,0))) AS BIGINT) AS modal_share_micro",
    )


@register(
    "agg_lorenz_asymmetry",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0
                                   + 0.5) AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS s
        FROM cust
    ),
    below AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(COALESCE(SUM(x), 0) AS HUGEINT) AS lm,
               MAX(x) AS xm
        FROM cust CROSS JOIN tot
        WHERE CAST(x AS HUGEINT) * n < s
    ),
    aboveq AS (
        SELECT MIN(x) AS xm1 FROM cust CROSS JOIN tot
        WHERE CAST(x AS HUGEINT) * n >= s
    )
    SELECT n AS n_customers, m AS n_below_mean,
           ROUND((CAST(s AS DOUBLE) - CAST(n AS DOUBLE)
                  * CAST(xm AS DOUBLE))
                 / NULLIF(CAST(n AS DOUBLE)
                          * (CAST(xm1 AS DOUBLE) - CAST(xm AS DOUBLE)),
                          0.0), 6) AS delta_interp,
           ROUND((CAST(m AS DOUBLE)
                  + (CAST(s AS DOUBLE) - CAST(n AS DOUBLE)
                     * CAST(xm AS DOUBLE))
                    / NULLIF(CAST(n AS DOUBLE)
                             * (CAST(xm1 AS DOUBLE) - CAST(xm AS DOUBLE)),
                             0.0)) / CAST(n AS DOUBLE)
                 + (CAST(lm AS DOUBLE)
                    + (CAST(s AS DOUBLE) - CAST(n AS DOUBLE)
                       * CAST(xm AS DOUBLE))
                      / NULLIF(CAST(n AS DOUBLE)
                               * (CAST(xm1 AS DOUBLE) - CAST(xm AS DOUBLE)),
                               0.0) * CAST(xm1 AS DOUBLE))
                   / CAST(s AS DOUBLE), 6) AS lorenz_asymmetry
    FROM tot CROSS JOIN below CROSS JOIN aboveq
    """,
    doc="Lorenz asymmetry coefficient S = F(mu) + L(mu) "
    "(Damgaard-Weiner) of per-customer spend: S > 1 means the "
    "inequality that agg_gini_concentration measures is driven by a "
    "few GIANT customers; S < 1 means by many tiny ones — the "
    "directional refinement the Gini alone cannot see (two corpora "
    "with equal Gini can sit on opposite sides of 1). The crossing "
    "point uses exact integer comparisons (x*n vs s — the mean "
    "never materializes as a rational), m / L_m / the straddling "
    "order statistics are exact, and the interpolation delta = "
    "(s - n*x_m) / (n*(x_m+1 - x_m)) plus S run in ONE identical "
    "double sequence per engine, NULLIF-guarded on the "
    "all-values-equal degenerate.",
)
def agg_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-customer groupBy over the fact scan (the
    only shuffle), then three 1-row broadcast reduces driven by exact
    integer mean-crossing predicates."""
    o = load_fixture(spark, sf_dir, "orders")
    cust = cut(
        o.select(
            "o_custkey",
            F.floor(
                F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("xc"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("xc").cast("bigint").alias("x"))
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
    )
    wt = cust.crossJoin(F.broadcast(tot))
    below = wt.filter(F.expr("CAST(x AS DECIMAL(38,0)) * n < s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("decimal(38,0)").alias("lm"),
        F.max("x").alias("xm"),
    )
    aboveq = wt.filter(F.expr("CAST(x AS DECIMAL(38,0)) * n >= s")).agg(
        F.min("x").alias("xm1")
    )
    delta = (
        "(CAST(s AS DOUBLE) - CAST(n AS DOUBLE) * CAST(xm AS DOUBLE))"
        " / NULLIF(CAST(n AS DOUBLE)"
        " * (CAST(xm1 AS DOUBLE) - CAST(xm AS DOUBLE)), 0.0)"
    )
    return (
        tot.crossJoin(F.broadcast(below))
        .crossJoin(F.broadcast(aboveq))
        .selectExpr(
            "n AS n_customers",
            "m AS n_below_mean",
            f"ROUND({delta}, 6) AS delta_interp",
            f"ROUND((CAST(m AS DOUBLE) + {delta}) / CAST(n AS DOUBLE)"
            f" + (CAST(lm AS DOUBLE) + {delta} * CAST(xm1 AS DOUBLE))"
            " / CAST(s AS DOUBLE), 6) AS lorenz_asymmetry",
        )
    )


@register(
    "ab_test_cuped",
    oracle="""
    WITH span AS (
        SELECT (MIN(epoch_us(ts) // 86400000000)
                + MAX(epoch_us(ts) // 86400000000) + 1) // 2 AS tmid
        FROM events WHERE event_type = 'purchase'
    ),
    pu AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 < tmid
                        THEN CAST(floor(CAST(value AS DOUBLE) * 1000000.0
                                        + 0.5) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 >= tmid
                        THEN CAST(floor(CAST(value AS DOUBLE) * 1000000.0
                                        + 0.5) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y
        FROM events CROSS JOIN span
        WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    armed AS (
        SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS arm,
               x, y
        FROM pu
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(SUM(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS HUGEINT)
                   AS sxa,
               CAST(SUM(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS HUGEINT)
                   AS sya
        FROM armed
    ),
    th AS (
        SELECT n, na, sxa, sya, sx, sy,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
                   AS theta,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / NULLIF((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)
                   AS rho2
        FROM mom
    )
    SELECT n AS n_users, na AS n_arm_a,
           ROUND(theta, 6) AS theta,
           ROUND((CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(sy - sya AS DOUBLE) / CAST(n - na AS DOUBLE))
                 / 1000000.0, 6) AS lift_raw_units,
           ROUND(((CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)
                   - CAST(sy - sya AS DOUBLE) / CAST(n - na AS DOUBLE))
                  - theta * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
                             - CAST(sx - sxa AS DOUBLE)
                               / CAST(n - na AS DOUBLE)))
                 / 1000000.0, 6) AS lift_cuped_units,
           ROUND(1.0 - rho2, 6) AS var_ratio
    FROM th
    """,
    doc="CUPED (controlled-experiment-using-pre-experiment-data) "
    "adjusted A/B lift: users hash-split into arms (the ab_test_lift "
    "md5 rule), covariate x = pre-period purchase value (calendar "
    "first half, exact integer midpoint day), metric y = post-period "
    "value; theta = cov(x,y)/var(x) pooled, adjusted lift = "
    "(ybar_A - ybar_B) - theta (xbar_A - xbar_B), variance ratio = "
    "1 - rho^2 — the industry-standard variance-reduction layer on "
    "top of ab_test_lift (a pre-period-balanced covariate cancels "
    "user-level noise without biasing the treatment effect). All "
    "moments are exact integer sums of micro-quantized per-user "
    "pairs; theta/rho^2/lifts are one identical double sequence per "
    "engine, NULLIF-guarded on zero-variance covariate.",
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one 1-row span reduce broadcast into the per-user
    groupBy (the only fact shuffle), then one map-side-combined
    9-sum moment reduce."""
    ev = purchase_events(spark, sf_dir)
    span = ev.agg(
        F.expr(
            "(MIN(unix_micros(ts) div 86400000000)"
            " + MAX(unix_micros(ts) div 86400000000) + 1) div 2"
        ).alias("tmid")
    )
    q = "CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
    pu = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN unix_micros(ts) div 86400000000 < tmid"
                    f" THEN {q} ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.expr(
                    f"CASE WHEN unix_micros(ts) div 86400000000 >= tmid"
                    f" THEN {q} ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    armed = pu.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                list("01234567")
            ),
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        "x",
        "y",
    )
    mom = armed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(19,0)) * y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("arm") == "A", F.col("x")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("sxa"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("sya"),
    )
    covn = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    varxn = (
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    varyn = (
        "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    th = mom.selectExpr(
        "n",
        "na",
        "sxa",
        "sya",
        "sx",
        "sy",
        f"{covn} / NULLIF({varxn}, 0.0) AS theta",
        f"{covn} * {covn} / NULLIF({varxn} * {varyn}, 0.0) AS rho2",
    )
    return th.selectExpr(
        "n AS n_users",
        "na AS n_arm_a",
        "ROUND(theta, 6) AS theta",
        "ROUND((CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(sy - sya AS DOUBLE) / CAST(n - na AS DOUBLE))"
        " / 1000000.0, 6) AS lift_raw_units",
        "ROUND(((CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(sy - sya AS DOUBLE) / CAST(n - na AS DOUBLE))"
        " - theta * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(sx - sxa AS DOUBLE) / CAST(n - na AS DOUBLE)))"
        " / 1000000.0, 6) AS lift_cuped_units",
        "ROUND(1.0 - rho2, 6) AS var_ratio",
    )


@register(
    "agg_moors_kurtosis",
    oracle="""
    WITH vals AS (
        SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY o_totalprice
    ),
    ranked AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
        FROM vals
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
    ks AS (SELECT unnest(range(1, 8)) AS k),
    oct AS (
        SELECT k, MIN(v) AS e
        FROM ranked CROSS JOIN tot CROSS JOIN ks
        WHERE cum >= (k * n + 7) // 8
        GROUP BY k
    ),
    w AS (
        SELECT MAX(CASE WHEN k = 1 THEN e END) AS e1,
               MAX(CASE WHEN k = 2 THEN e END) AS e2,
               MAX(CASE WHEN k = 3 THEN e END) AS e3,
               MAX(CASE WHEN k = 5 THEN e END) AS e5,
               MAX(CASE WHEN k = 6 THEN e END) AS e6,
               MAX(CASE WHEN k = 7 THEN e END) AS e7
        FROM oct
    )
    SELECT n AS n_orders,
           ROUND(e1, 2) AS e1, ROUND(e3, 2) AS e3,
           ROUND(e5, 2) AS e5, ROUND(e7, 2) AS e7,
           ROUND(((e7 - e5) + (e3 - e1))
                 / NULLIF(e6 - e2, 0.0), 6) AS moors_kurtosis
    FROM w CROSS JOIN tot
    """,
    doc="Moors octile-based kurtosis of order totals: T = ((E7-E5) + "
    "(E3-E1)) / (E6-E2) over the eight octiles (~1.233 for a "
    "normal; big T = heavy tails) — the outlier-ROBUST kurtosis that "
    "stays finite and stable where the fourth-moment version "
    "(agg_skew_kurtosis, agg_jarque_bera) is itself dominated by "
    "the very outliers it measures; the quantile companion to "
    "agg_bowley_skewness's octile skew. Octiles are exact LOWER "
    "order statistics (smallest value whose inclusive cumulative "
    "count reaches ceil(kN/8), an integer ceiling division — no "
    "interpolation, no rational mean), so every E_k matches "
    "bit-for-bit across engines; T is one final double sequence, "
    "NULLIF-guarded on an interquartile-degenerate distribution.",
)
def agg_moors_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact running count over the DISTINCT value
    column via value_ranks, one 7-cutoff broadcast probe, one 1-row
    assembly."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders")
    ranked = value_ranks(
        o.select(F.col("o_totalprice").alias("v")), [], "v", {"c": F.lit(1)}
    ).withColumnRenamed("tot_c", "n")
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    oct_ = (
        ranked.crossJoin(F.broadcast(ks))
        .filter(F.col("cum_c") >= F.expr("(k * n + 7) div 8"))
        .groupBy("k")
        .agg(F.min("v").alias("e"), F.max("n").alias("n"))
    )
    w = oct_.agg(
        *[
            F.max(F.when(F.col("k") == k, F.col("e"))).alias(f"e{k}")
            for k in (1, 2, 3, 5, 6, 7)
        ],
        F.max("n").alias("n"),
    )
    return w.selectExpr(
        "n AS n_orders",
        "ROUND(e1, 2) AS e1",
        "ROUND(e3, 2) AS e3",
        "ROUND(e5, 2) AS e5",
        "ROUND(e7, 2) AS e7",
        "ROUND(((e7 - e5) + (e3 - e1)) / NULLIF(e6 - e2, 0.0), 6)"
        " AS moors_kurtosis",
    )


@register(
    "events_markov_order_test",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS c1,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS c2,
               LEAD(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS c3
        FROM events
    ),
    bi AS (
        SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS nb
        FROM seq WHERE c2 IS NOT NULL GROUP BY c1, c2
    ),
    bim AS (SELECT c1, CAST(SUM(nb) AS BIGINT) AS n1 FROM bi GROUP BY c1),
    nb2 AS (SELECT CAST(SUM(nb) AS BIGINT) AS n2 FROM bi),
    tri AS (
        SELECT c1, c2, c3, CAST(COUNT(*) AS BIGINT) AS nt
        FROM seq WHERE c3 IS NOT NULL GROUP BY c1, c2, c3
    ),
    trim_ AS (
        SELECT c1, c2, CAST(SUM(nt) AS BIGINT) AS n12
        FROM tri GROUP BY c1, c2
    ),
    nb3 AS (SELECT CAST(SUM(nt) AS BIGINT) AS n3 FROM tri),
    h1q AS (
        SELECT CAST(SUM(CAST(floor(-(CAST(nb AS DOUBLE) / CAST(n2 AS DOUBLE))
                                    * ln(CAST(nb AS DOUBLE)
                                         / CAST(n1 AS DOUBLE))
                                    * 1000000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS h9
        FROM bi JOIN bim USING (c1) CROSS JOIN nb2
    ),
    h2q AS (
        SELECT CAST(SUM(CAST(floor(-(CAST(nt AS DOUBLE) / CAST(n3 AS DOUBLE))
                                    * ln(CAST(nt AS DOUBLE)
                                         / CAST(n12 AS DOUBLE))
                                    * 1000000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS h9
        FROM tri JOIN trim_ USING (c1, c2) CROSS JOIN nb3
    )
    SELECT (SELECT n2 FROM nb2) AS n_bigrams,
           (SELECT n3 FROM nb3) AS n_trigrams,
           ROUND(CAST((SELECT h9 FROM h1q) AS DOUBLE) / 1000000000.0, 6)
               AS h_order1,
           ROUND(CAST((SELECT h9 FROM h2q) AS DOUBLE) / 1000000000.0, 6)
               AS h_order2,
           ROUND(CAST((SELECT h9 FROM h1q) AS DOUBLE) / 1000000000.0
                 - CAST((SELECT h9 FROM h2q) AS DOUBLE) / 1000000000.0, 6)
               AS memory_gain
    """,
    doc="Markov memory-order test on per-user event-type sequences: "
    "conditional entropy H(X_t | X_t-1) from bigram counts vs "
    "H(X_t | X_t-1, X_t-2) from trigram counts; the gain H1 - H2 "
    "measures predictive information BEYOND first-order — near zero "
    "means events_markov_stationary's order-1 chain is the right "
    "model, large means real second-order structure (and an "
    "order-1 recommender like recs_markov_next_event is leaving "
    "signal on the table). Transitions stay within a user (the "
    "event_transition_matrix convention, ts/event_id ordered). All "
    "n-gram counts and marginals are exact integers over the <=25/"
    "<=125 cell domains; each -p ln(p/p_prefix) term is "
    "nano-quantized to an integer before summation — order-free "
    "accumulation, one final double scaling.",
)
def events_markov_order_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user ordered window carrying both leads
    (one sort), two bounded-cell count aggregates, nano-integer
    entropy reduces — nothing scales past the 5^3 cell domain."""
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = cut(e.select(
        F.col("event_type").alias("c1"),
        F.lead("event_type", 1).over(wo).alias("c2"),
        F.lead("event_type", 2).over(wo).alias("c3"),
    ))
    bi = cut(
        seq.filter(F.col("c2").isNotNull())
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    )
    bim = bi.groupBy("c1").agg(F.sum("nb").cast("bigint").alias("n1"))
    nb2 = bi.agg(F.sum("nb").cast("bigint").alias("n2"))
    tri = cut(
        seq.filter(F.col("c3").isNotNull())
        .groupBy("c1", "c2", "c3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    )
    trim = tri.groupBy("c1", "c2").agg(F.sum("nt").cast("bigint").alias("n12"))
    nb3 = tri.agg(F.sum("nt").cast("bigint").alias("n3"))
    h1 = (
        bi.join(F.broadcast(bim), "c1")
        .crossJoin(F.broadcast(nb2))
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(-(CAST(nb AS DOUBLE) / CAST(n2 AS DOUBLE))"
                    " * ln(CAST(nb AS DOUBLE) / CAST(n1 AS DOUBLE))"
                    " * 1000000000.0 + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("h9")
        )
    )
    h2 = (
        tri.join(F.broadcast(trim), ["c1", "c2"])
        .crossJoin(F.broadcast(nb3))
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(-(CAST(nt AS DOUBLE) / CAST(n3 AS DOUBLE))"
                    " * ln(CAST(nt AS DOUBLE) / CAST(n12 AS DOUBLE))"
                    " * 1000000000.0 + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("h9")
        )
    )
    return (
        nb2.crossJoin(F.broadcast(nb3))
        .crossJoin(F.broadcast(h1.selectExpr("h9 AS h9a")))
        .crossJoin(F.broadcast(h2.selectExpr("h9 AS h9b")))
        .selectExpr(
            "n2 AS n_bigrams",
            "n3 AS n_trigrams",
            "ROUND(CAST(h9a AS DOUBLE) / 1000000000.0, 6) AS h_order1",
            "ROUND(CAST(h9b AS DOUBLE) / 1000000000.0, 6) AS h_order2",
            "ROUND(CAST(h9a AS DOUBLE) / 1000000000.0"
            " - CAST(h9b AS DOUBLE) / 1000000000.0, 6) AS memory_gain",
        )
    )


@register(
    "dq_timestamp_heaping",
    oracle="""
    WITH d AS (
        SELECT (epoch_us(ts) // 60000000) % 60 AS minute
        FROM events
    ),
    c AS (
        SELECT minute, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY minute
    ),
    s AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM c
    ),
    modal AS (
        SELECT MIN(minute) AS modal_minute, MAX(c.c) AS modal_count
        FROM c WHERE c.c = (SELECT MAX(c) FROM c)
    )
    SELECT n AS n_events, k AS n_minutes_seen,
           ROUND((60.0 * CAST(c2 AS DOUBLE)
                  - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS chi2_uniform,
           CAST(modal_minute AS BIGINT) AS modal_minute,
           CAST(modal_count AS BIGINT) AS modal_count,
           CAST((2 * CAST(modal_count AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS modal_share_micro
    FROM s CROSS JOIN modal
    """,
    doc="Timestamp heaping audit: minute-of-hour distribution of event "
    "timestamps against uniform (chi2 = (60 sum c^2 - n^2)/n, exact "
    "rearrangement) plus the modal minute and its half-away micro "
    "share — cron-fired bots, batch backfills, and client-side "
    "timestamp rounding all heap on :00/:30 long before volume "
    "anomalies trip dq_volume_anomaly_daily; organic human traffic "
    "is minute-uniform. The time-domain sibling of "
    "dq_last_digit_heaping, on TZ-free epoch arithmetic (minute-of-"
    "hour is invariant to whole-hour zone offsets). All counts "
    "exact; chi2 is one final double sequence.",
)
def dq_timestamp_heaping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one projection + 60-cell groupBy over the fact scan
    (map-side combined), then 1-row reduces."""
    e = load_fixture(spark, sf_dir, "events")
    d = e.select(
        F.expr("(unix_micros(ts) div 60000000) % 60").alias("minute")
    )
    c = d.groupBy("minute").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    c = cut(c)
    s = c.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * c"))
        .cast("decimal(38,0)")
        .alias("c2"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    mx = c.agg(F.max("c").alias("mc"))
    modal = (
        c.crossJoin(F.broadcast(mx))
        .filter(F.col("c") == F.col("mc"))
        .agg(
            F.min("minute").alias("modal_minute"),
            F.max("c").alias("modal_count"),
        )
    )
    return s.crossJoin(F.broadcast(modal)).selectExpr(
        "n AS n_events",
        "k AS n_minutes_seen",
        "ROUND((60.0 * CAST(c2 AS DOUBLE)"
        " - CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 6)"
        " AS chi2_uniform",
        "CAST(modal_minute AS BIGINT) AS modal_minute",
        "CAST(modal_count AS BIGINT) AS modal_count",
        "CAST((2 * CAST(modal_count AS DECIMAL(19,0)) * 1000000 + n)"
        " div (2 * CAST(n AS DECIMAL(19,0))) AS BIGINT) AS modal_share_micro",
    )


@register(
    "agg_gini_mean_difference",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0
                                   + 0.5) AS BIGINT)) AS BIGINT) AS xs
        FROM orders GROUP BY o_custkey
    ),
    vals AS (
        SELECT xs AS x, CAST(COUNT(*) AS BIGINT) AS c
        FROM cust GROUP BY xs
    ),
    ranked AS (
        SELECT x, c,
               2 * SUM(c) OVER (ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - c + 1 AS dr2
        FROM vals
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(CAST(c AS HUGEINT) * x)
               AS HUGEINT) AS s
        FROM vals
    ),
    g AS (
        SELECT CAST(SUM(CAST(c AS HUGEINT) * x * (dr2 - n - 1)) AS HUGEINT)
                   AS num
        FROM ranked CROSS JOIN tot
    )
    SELECT n AS n_customers,
           ROUND(2.0 * CAST(num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                 / 100.0, 6) AS gmd_units,
           ROUND(CAST(num AS DOUBLE)
                 / ((CAST(n AS DOUBLE) - 1.0) * CAST(s AS DOUBLE)),
                 6) AS gini_from_gmd
    FROM g CROSS JOIN tot
    """,
    doc="Gini mean difference of per-customer spend: GMD = "
    "mean |x_i - x_j| over all ordered pairs i != j, via the exact "
    "rank identity sum_{i!=j} |x_i - x_j| = 2 sum c*x*(2*midrank - "
    "n - 1) — the scale estimator that is ~98% as efficient as the "
    "standard deviation at the normal yet robust to heavy tails "
    "(Yitzhaki 2003), reported in currency units beside its "
    "normalized twin, the bias-corrected sample Gini = GMD/(2*mean) "
    "= num/((n-1)*s), which must equal agg_gini_concentration's "
    "plug-in Gini times n/(n-1) — a cross-construction identity the "
    "test suite asserts numerically. EXACT: centi values, doubled "
    "midranks over the distinct-value relation (the tie identity "
    "holds exactly under midranks), one HUGEINT/DECIMAL(38,0) "
    "signed accumulator; two final double sequences.",
)
def agg_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact running count and totals over the DISTINCT
    centi-value column via value_ranks, one 1-row signed reduce."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders")
    cust = o.select(
        "o_custkey",
        F.floor(
            F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("xc"),
    ).groupBy("o_custkey").agg(F.sum("xc").cast("bigint").alias("x"))
    ranked = value_ranks(
        cust, [], "x", {"c": F.lit(1), "s": F.col("x").cast("decimal(19,0)")}
    ).select(
        "x",
        "c",
        (F.lit(2) * F.col("cum_c") - F.col("c") + F.lit(1)).alias("dr2"),
        F.col("tot_c").alias("n"),
        F.col("tot_s").alias("s"),
    )
    g = ranked.agg(
        F.sum(
            F.expr(
                "CAST(c AS DECIMAL(19,0)) * (CAST(x AS DECIMAL(19,0))"
                " * (dr2 - n - 1))"
            )
        )
        .cast("decimal(38,0)")
        .alias("num"),
        F.max("n").alias("n"),
        F.max("s").cast("decimal(38,0)").alias("s"),
    )
    return g.selectExpr(
        "n AS n_customers",
        "ROUND(2.0 * CAST(num AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 100.0, 6)"
        " AS gmd_units",
        "ROUND(CAST(num AS DOUBLE)"
        " / ((CAST(n AS DOUBLE) - 1.0) * CAST(s AS DOUBLE)), 6)"
        " AS gini_from_gmd",
    )


@register(
    "window_pivot_points",
    oracle="""
    WITH p AS (
        SELECT user_id, ts,
               CAST(floor(CAST(value AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
                   AS q,
               epoch_us(ts) // 21600000000 AS hb
        FROM events WHERE event_type = 'purchase'
    ),
    bars AS (
        SELECT user_id, hb, MAX(q) AS h, MIN(q) AS l, arg_max(q, ts) AS c
        FROM p GROUP BY user_id, hb
    ),
    last AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_bars,
               arg_max(h, hb) AS h, arg_max(l, hb) AS l, arg_max(c, hb) AS c
        FROM bars GROUP BY user_id
    )
    SELECT user_id, n_bars,
           CAST(h AS BIGINT) AS high_micro,
           CAST(l AS BIGINT) AS low_micro,
           CAST(c AS BIGINT) AS close_micro,
           CAST(h + l + c AS BIGINT) AS pivot_x3,
           CAST(2 * (h + l + c) - 3 * l AS BIGINT) AS r1_x3,
           CAST(2 * (h + l + c) - 3 * h AS BIGINT) AS s1_x3,
           CAST((h + l + c) + 3 * (h - l) AS BIGINT) AS r2_x3,
           CAST((h + l + c) - 3 * (h - l) AS BIGINT) AS s2_x3
    FROM last
    """,
    doc="Classic floor-trader pivot points per user from the latest "
    "6-hour bar: P = (H+L+C)/3, R1 = 2P-L, S1 = 2P-H, R2 = P+(H-L), "
    "S2 = P-(H-L) — the ex-ante support/resistance ladder "
    "(window_donchian_breakout and window_ichimoku read ROLLING "
    "extremes; pivots project the NEXT bar's levels from one bar, "
    "which is why every intraday desk still computes them). EXACT "
    "integer trick: every level is carried TRIPLED (x3), so the "
    "division by 3 never happens and all six outputs are exact "
    "integers off the micro-quantized bar.",
)
def window_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the bar aggregate (one fact shuffle), one per-user
    arg_max rollup — constant-size output per user."""
    e = purchase_events(spark, sf_dir)
    p = e.select(
        "user_id",
        "ts",
        "q",
        F.expr("unix_micros(ts) div 21600000000").alias("hb"),
    )
    bars = p.groupBy("user_id", "hb").agg(
        F.max("q").alias("h"),
        F.min("q").alias("l"),
        F.max_by("q", "ts").alias("c"),
    )
    last = bars.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bars"),
        F.max_by("h", "hb").alias("h"),
        F.max_by("l", "hb").alias("l"),
        F.max_by("c", "hb").alias("c"),
    )
    return last.selectExpr(
        "user_id",
        "n_bars",
        "CAST(h AS BIGINT) AS high_micro",
        "CAST(l AS BIGINT) AS low_micro",
        "CAST(c AS BIGINT) AS close_micro",
        "CAST(h + l + c AS BIGINT) AS pivot_x3",
        "CAST(2 * (h + l + c) - 3 * l AS BIGINT) AS r1_x3",
        "CAST(2 * (h + l + c) - 3 * h AS BIGINT) AS s1_x3",
        "CAST((h + l + c) + 3 * (h - l) AS BIGINT) AS r2_x3",
        "CAST((h + l + c) - 3 * (h - l) AS BIGINT) AS s2_x3",
    )


@register(
    "agg_quartile_dispersion",
    oracle="""
    WITH vals AS (
        SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY o_totalprice
    ),
    ranked AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
        FROM vals
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vals),
    q1 AS (
        SELECT MIN(v) AS q1 FROM ranked CROSS JOIN tot
        WHERE cum >= (n + 3) // 4
    ),
    q3 AS (
        SELECT MIN(v) AS q3 FROM ranked CROSS JOIN tot
        WHERE cum >= (3 * n + 3) // 4
    )
    SELECT n AS n_orders,
           ROUND(q1, 2) AS q1, ROUND(q3, 2) AS q3,
           ROUND((q3 - q1) / NULLIF(q3 + q1, 0.0), 6)
               AS quartile_dispersion
    FROM tot CROSS JOIN q1 CROSS JOIN q3
    """,
    doc="Quartile coefficient of dispersion of order totals: QCD = "
    "(Q3-Q1)/(Q3+Q1) — the unit-free robust spread gauge (the "
    "quantile analogue of the coefficient of variation) that "
    "completes the octile family: agg_bowley_skewness reads "
    "asymmetry, agg_moors_kurtosis reads tails, QCD reads scale, "
    "all from exact order statistics immune to the outliers that "
    "distort moment-based spread. Quartiles are exact LOWER order "
    "statistics at ceil(kN/4) (integer ceiling division, no "
    "interpolation); QCD is one final double sequence, "
    "NULLIF-guarded on the degenerate zero-sum case.",
)
def agg_quartile_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact running count over the DISTINCT value
    column via value_ranks, one 1-row cutoff reduce."""
    from ..operators.stats import value_ranks

    o = load_fixture(spark, sf_dir, "orders")
    q = (
        value_ranks(o.select(F.col("o_totalprice").alias("v")), [], "v", {"c": F.lit(1)})
        .withColumnRenamed("tot_c", "n")
        .agg(
            F.max("n").alias("n"),
            F.min(F.when(F.col("cum_c") >= F.expr("(n + 3) div 4"), F.col("v"))).alias(
                "q1"
            ),
            F.min(
                F.when(F.col("cum_c") >= F.expr("(3 * n + 3) div 4"), F.col("v"))
            ).alias("q3"),
        )
    )
    return q.selectExpr(
        "n AS n_orders",
        "ROUND(q1, 2) AS q1",
        "ROUND(q3, 2) AS q3",
        "ROUND((q3 - q1) / NULLIF(q3 + q1, 0.0), 6) AS quartile_dispersion",
    )


@register(
    "agg_hoover_index",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0
                                   + 0.5) AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS s
        FROM cust
    ),
    dev AS (
        SELECT CAST(SUM(abs(CAST(x AS HUGEINT) * n - s)) AS HUGEINT) AS ad
        FROM cust CROSS JOIN tot
    )
    SELECT n AS n_customers,
           ROUND(CAST(ad AS DOUBLE)
                 / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6)
               AS hoover_index
    FROM dev CROSS JOIN tot
    """,
    doc="Hoover (Robin Hood) index of per-customer spend: H = "
    "sum |x_i - mu| / (2 sum x) — the share of total revenue that "
    "would have to move from above-average to below-average "
    "customers to equalize them; the most INTERPRETABLE member of "
    "the inequality family (agg_gini_concentration integrates the "
    "whole Lorenz curve, agg_lorenz_asymmetry reads its direction, "
    "Hoover is its single largest vertical gap). EXACT: the mean "
    "never materializes — each deviation is the n-scaled integer "
    "|x*n - s|, the absolute-deviation sum is one "
    "HUGEINT/DECIMAL(38,0) accumulator, and H = AD/(2ns) is one "
    "final double division.",
)
def agg_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-customer groupBy over the fact scan, one
    broadcast totals join, one 1-row absolute-deviation reduce."""
    o = load_fixture(spark, sf_dir, "orders")
    cust = cut(
        o.select(
            "o_custkey",
            F.floor(
                F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("xc"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("xc").cast("bigint").alias("x"))
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
    )
    dev = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr("abs(CAST(x AS DECIMAL(19,0)) * n - s)"))
        .cast("decimal(38,0)")
        .alias("ad")
    )
    return dev.crossJoin(F.broadcast(tot)).selectExpr(
        "n AS n_customers",
        "ROUND(CAST(ad AS DOUBLE)"
        " / (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6)"
        " AS hoover_index",
    )


@register(
    "agg_effective_cardinality",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0
                                   + 0.5) AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS HUGEINT) AS s,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        FROM cust
    ),
    h AS (
        SELECT CAST(SUM(CASE WHEN x = 0 THEN 0
                        ELSE CAST(floor(-(CAST(x AS DOUBLE)
                                          / CAST(s AS DOUBLE))
                                        * ln(CAST(x AS DOUBLE)
                                             / CAST(s AS DOUBLE))
                                        * 1000000000.0 + 0.5) AS BIGINT)
                        END) AS BIGINT) AS h9
        FROM cust CROSS JOIN tot
    )
    SELECT n AS hill_n0,
           ROUND(exp(CAST(h9 AS DOUBLE) / 1000000000.0), 6) AS hill_n1,
           ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / NULLIF(CAST(s2 AS DOUBLE), 0.0), 6) AS hill_n2,
           ROUND(CAST(h9 AS DOUBLE) / 1000000000.0
                 / NULLIF(ln(CAST(n AS DOUBLE)), 0.0), 6) AS evenness
    FROM tot CROSS JOIN h
    """,
    doc="Hill-number diversity ladder of the customer revenue "
    "distribution: N0 = customer count, N1 = exp(Shannon H) and "
    "N2 = 1/sum p^2 (inverse Simpson) — the 'effective number of "
    "customers' at three sensitivity orders, plus Pielou evenness "
    "H/ln N0. N2/N0 collapsing toward 0 is revenue concentration "
    "risk stated in HEADS rather than a coefficient — the business "
    "twin of text_simpson_diversity's source audit, complementing "
    "agg_gini_concentration/agg_hoover_index with the "
    "information-theoretic view. DETERMINISM: shares p = x/s come "
    "from exact integers, each -p ln p term is nano-quantized to an "
    "integer before the sum (order-free), N2 = s^2/s2 from exact "
    "HUGEINT moments; exp/ln run once in one identical double "
    "sequence per engine.",
)
def agg_effective_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-customer groupBy over the fact scan, one
    broadcast totals join, two 1-row reduces."""
    o = load_fixture(spark, sf_dir, "orders")
    cust = cut(
        o.select(
            "o_custkey",
            F.floor(
                F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("xc"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("xc").cast("bigint").alias("x"))
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    h = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "CASE WHEN x = 0 THEN 0"
                " ELSE CAST(floor(-(CAST(x AS DOUBLE) / CAST(s AS DOUBLE))"
                " * ln(CAST(x AS DOUBLE) / CAST(s AS DOUBLE))"
                " * 1000000000.0 + 0.5) AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("h9")
    )
    return tot.crossJoin(F.broadcast(h)).selectExpr(
        "n AS hill_n0",
        "ROUND(exp(CAST(h9 AS DOUBLE) / 1000000000.0), 6) AS hill_n1",
        "ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
        " / NULLIF(CAST(s2 AS DOUBLE), 0.0), 6) AS hill_n2",
        "ROUND(CAST(h9 AS DOUBLE) / 1000000000.0"
        " / NULLIF(ln(CAST(n AS DOUBLE)), 0.0), 6) AS evenness",
    )


@register(
    "events_daily_load_factor",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS dd,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s,
               CAST(MAX(c) AS BIGINT) AS mx, CAST(MIN(c) AS BIGINT) AS mn
        FROM d
    ),
    peak AS (
        SELECT MIN(dd) AS peak_day FROM d CROSS JOIN tot WHERE c = mx
    )
    SELECT n AS n_days, s AS n_events,
           CAST(mx AS BIGINT) AS peak_count,
           CAST(mn AS BIGINT) AS trough_count,
           CAST(peak_day AS BIGINT) AS peak_epoch_day,
           ROUND(CAST(mx AS DOUBLE) * CAST(n AS DOUBLE)
                 / CAST(s AS DOUBLE), 6) AS peak_to_mean,
           ROUND(CAST(mx AS DOUBLE) / NULLIF(CAST(mn AS DOUBLE), 0.0), 6)
               AS peak_to_trough
    FROM tot CROSS JOIN peak
    """,
    doc="Daily load factor of the event stream: peak-day count over "
    "mean daily count (and over the trough) plus the peak epoch day "
    "(min-day tiebreak) — the capacity-planning number that sizes a "
    "cluster for the WORST day rather than the average one; the "
    "static sibling of dq_volume_anomaly_daily's rolling Hampel "
    "gate (that one flags surprises, this one states the envelope). "
    "Counts are exact; peak/mean is computed as mx*n/s (never a "
    "rational mean materialized) in one final double sequence, "
    "NULLIF-guarded on a zero-count trough day.",
)
def events_daily_load_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one day-grain count (the only fact shuffle), two
    1-row reduces over the calendar-bounded day relation."""
    e = load_fixture(spark, sf_dir, "events")
    d = cut(
        e.select(F.expr("unix_micros(ts) div 86400000000").alias("dd"))
        .groupBy("dd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.max("c").cast("bigint").alias("mx"),
        F.min("c").cast("bigint").alias("mn"),
    )
    peak = (
        d.crossJoin(F.broadcast(tot))
        .filter(F.col("c") == F.col("mx"))
        .agg(F.min("dd").alias("peak_day"))
    )
    return tot.crossJoin(F.broadcast(peak)).selectExpr(
        "n AS n_days",
        "s AS n_events",
        "CAST(mx AS BIGINT) AS peak_count",
        "CAST(mn AS BIGINT) AS trough_count",
        "CAST(peak_day AS BIGINT) AS peak_epoch_day",
        "ROUND(CAST(mx AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE), 6)"
        " AS peak_to_mean",
        "ROUND(CAST(mx AS DOUBLE) / NULLIF(CAST(mn AS DOUBLE), 0.0), 6)"
        " AS peak_to_trough",
    )
