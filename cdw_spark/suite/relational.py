"""Core relational operators (SURVEY.md §2.1-2.2), expressed over the driver
fixture tables.

The reference's whole relational surface is: scan, filter (Q2), projection
with aliasing (Q3), DISTINCT (Q4), implicit int->varchar cast (Q5/K7), and a
single 3-key conjunctive INNER equi-join whose keys are rounded to
DECIMAL(9,0) before matching (Q1 + quirk K4) — /root/reference/
sql_queries.py:140-166. Each query here exercises one of those operators on
the TPC-H-ish fixtures, per the FIXTURES.md operator->fixture mapping; the
faithful Sparkify pipeline itself is in cdw_spark/pipeline/sparkify.py.

Scale notes are inline — every plan is written to survive 100 TB:
dimension sides broadcast, filters sit directly on the parquet scan
(pushdown), distinct is a hash aggregate on the shuffle keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_fixture
from ..registry import register


@register(
    "star_fact_join",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT
            l_partkey AS part_id,
            l_suppkey AS supp_id,
            CAST(FLOOR(l_quantity) AS DECIMAL(9,0)) AS qty
        FROM lineitem
        WHERE l_returnflag = 'R'
    )
    SELECT DISTINCT
        CAST(f.l_orderkey AS VARCHAR) AS order_id,
        CAST(f.l_linenumber AS VARCHAR) AS line_id,
        d.part_id,
        d.supp_id,
        CAST(d.qty AS BIGINT) AS qty
    FROM lineitem f
    JOIN dim d
      ON f.l_partkey = d.part_id
     AND f.l_suppkey = d.supp_id
     AND CAST(FLOOR(f.l_quantity) AS DECIMAL(9,0)) = d.qty
    WHERE f.l_linestatus = 'O'
    """,
    doc="3-key conjunctive inner equi-join with pre-join DECIMAL(9,0) "
    "rounding — the songplays fact query shape (sql_queries.py:140-166, "
    "quirks K4/K7).",
)
def star_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q2+Q3+Q4+Q5 composite.

    Mirrors ``INSERT INTO songplays SELECT DISTINCT ... FROM staging_events se
    JOIN staging_songs ss ON se.artist=ss.artist_name AND se.song=ss.title
    AND se.length=ss.duration WHERE se.page='NextSong'``
    (/root/reference/sql_queries.py:140-166): a filtered fact stream joined
    to a deduplicated catalog on three conjunctive keys, one of which is a
    value rounded to DECIMAL(9,0) *before* the match (K4), with int->string
    casts in the projection (K7) and DISTINCT over the projected row (Q4).

    Scale: the dim side is DISTINCT over a filtered scan of the fact table
    itself, so its cardinality is data-dependent — an unconditional
    broadcast hint would OOM at 100 TB. The hint is size-gated on
    Catalyst's own estimate (broadcast_if_small): hinted at fixture scale
    (verified in tests/test_plans.py), unhinted above the threshold where
    AQE picks the runtime strategy. FLOOR before the join keeps the
    rounding deterministic across engines.
    """
    from ..plans.hints import broadcast_if_small

    li = load_fixture(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity")).cast("decimal(9,0)")
    dim = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_partkey").alias("part_id"),
            F.col("l_suppkey").alias("supp_id"),
            qty.alias("qty"),
        )
        .distinct()
    )
    fact = li.filter(F.col("l_linestatus") == "O")
    return (
        fact.join(
            broadcast_if_small(dim),
            on=[
                fact["l_partkey"] == dim["part_id"],
                fact["l_suppkey"] == dim["supp_id"],
                qty == dim["qty"],
            ],
            how="inner",
        )
        .select(
            fact["l_orderkey"].cast("string").alias("order_id"),
            fact["l_linenumber"].cast("string").alias("line_id"),
            dim["part_id"],
            dim["supp_id"],
            # DECIMAL(9,0) stays the JOIN key type (quirk K4); the output
            # column is BIGINT on both engines — decimal-typed outputs break
            # the driver's hash canonicalization.
            dim["qty"].cast("bigint").alias("qty"),
        )
        .distinct()
    )


@register(
    "filter_project",
    oracle="""
    SELECT event_id, user_id, value AS amount, props
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="Predicate + aliased projection (Q2+Q3, sql_queries.py:165).",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WHERE se.page = 'NextSong'`` analogue: equality filter pushed to the
    parquet scan + column-pruned projection. At 100 TB the scan reads only
    the four referenced columns and skips row groups via min/max stats."""
    ev = load_fixture(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("value").alias("amount"), "props"
    )


@register(
    "distinct_dim",
    oracle="""
    SELECT DISTINCT c_mktsegment AS segment, c_nationkey AS nation_key
    FROM customer
    """,
    doc="SELECT DISTINCT over the projected row (Q4, sql_queries.py:177).",
)
def distinct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate elimination — the users/songs/artists dimension build
    (sql_queries.py:168-206). Physically a hash aggregate: partial
    (map-side) distinct before the shuffle, so 100 TB of input reduces to
    |distinct| rows on the wire."""
    c = load_fixture(spark, sf_dir, "customer")
    return c.select(
        F.col("c_mktsegment").alias("segment"), F.col("c_nationkey").alias("nation_key")
    ).distinct()


@register(
    "cast_projection",
    oracle="""
    SELECT DISTINCT
        CAST(user_id AS VARCHAR) AS user_id,
        CAST(event_id AS VARCHAR) AS session_id,
        event_type AS level
    FROM events
    WHERE event_type IN ('view', 'click')
    """,
    doc="Explicit int->varchar casts in a DISTINCT projection (Q5/K7, "
    "sql_queries.py:153,157).",
)
def cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference relies on Redshift's implicit INTEGER->VARCHAR cast when
    inserting staging ints into varchar fact columns (sql_queries.py:68,72
    vs :45,:40). Spark requires the cast to be explicit — this query is that
    projection shape."""
    ev = load_fixture(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            F.col("user_id").cast("string").alias("user_id"),
            F.col("event_id").cast("string").alias("session_id"),
            F.col("event_type").alias("level"),
        )
        .distinct()
    )


@register(
    "semi_anti_join",
    oracle="""
    SELECT 'with_orders' AS tag, c_custkey AS cust_key FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'without_orders' AS tag, c_custkey AS cust_key FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left-semi and left-anti joins (beyond-reference coverage; "
    "SURVEY.md §2.4 row 5).",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS as semi/anti hash joins. Scale: the orders side
    collapses to distinct keys map-side; with AQE a small filtered side
    flips to broadcast at runtime."""
    c = load_fixture(spark, sf_dir, "customer")
    o = load_fixture(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = c.join(o, "c_custkey", "left_semi").select(
        F.lit("with_orders").alias("tag"), F.col("c_custkey").alias("cust_key")
    )
    anti = c.join(o, "c_custkey", "left_anti").select(
        F.lit("without_orders").alias("tag"), F.col("c_custkey").alias("cust_key")
    )
    return semi.unionAll(anti)


@register(
    "set_ops",
    oracle="""
    SELECT 'both' AS tag, k FROM (
        SELECT c_custkey AS k FROM customer
        INTERSECT
        SELECT o_custkey AS k FROM orders
    )
    UNION ALL
    SELECT 'customer_only' AS tag, k FROM (
        SELECT c_custkey AS k FROM customer
        EXCEPT
        SELECT o_custkey AS k FROM orders
    )
    """,
    doc="INTERSECT / EXCEPT / UNION ALL (beyond-reference; SURVEY.md §2.4 "
    "row 4).",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators over key columns; each is a shuffle on the full row —
    kept to pruned single-column projections so the shuffle payload is
    minimal at scale."""
    c = load_fixture(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_fixture(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    both = c.intersect(o).select(F.lit("both").alias("tag"), "k")
    only = c.subtract(o).select(F.lit("customer_only").alias("tag"), "k")
    return both.unionAll(only)


@register(
    "outer_join_coalesce",
    oracle="""
    SELECT
        n.n_name AS nation,
        COALESCE(CAST(c.cnt AS BIGINT), 0) AS customers
    FROM nation n
    LEFT JOIN (
        SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
    ) c ON n.n_nationkey = c.c_nationkey
    """,
    doc="Left outer join + COALESCE null handling (beyond-reference; "
    "SURVEY.md §2.4 row 5).",
)
def outer_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer join with aggregate-before-join: aggregating the big side first
    shrinks it to |nations| rows, so the join is a broadcast of two tiny
    inputs regardless of raw data size — the aggregate-pushdown pattern."""
    n = load_fixture(spark, sf_dir, "nation")
    c = (
        load_fixture(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return n.join(c, n["n_nationkey"] == c["c_nationkey"], "left").select(
        n["n_name"].alias("nation"),
        F.coalesce(c["cnt"].cast("bigint"), F.lit(0).cast("bigint")).alias("customers"),
    )


@register(
    "scalar_funcs",
    oracle="""
    SELECT
        p_partkey AS part_key,
        UPPER(p_brand) AS brand_uc,
        SUBSTR(p_type, 1, 6) AS type_prefix,
        LENGTH(p_name) AS name_len,
        CONCAT(p_brand, ':', p_type) AS brand_type,
        ROUND(p_retailprice, 1) AS price_r1,
        CAST(ABS(p_size - 25) AS INTEGER) AS size_dev,
        MOD(p_partkey, 7) AS key_mod
    FROM part
    WHERE p_size BETWEEN 10 AND 40
    """,
    doc="Scalar string/math expression surface (F-family analogue, "
    "sql_queries.py:151-159; beyond-reference breadth per §2.4 row 7).",
)
def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All JVM-side built-ins inside one whole-stage-codegen span — the
    expression surface stays off the Python path entirely."""
    p = load_fixture(spark, sf_dir, "part")
    return p.filter(F.col("p_size").between(10, 40)).select(
        F.col("p_partkey").alias("part_key"),
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.round("p_retailprice", 1).alias("price_r1"),
        F.abs(F.col("p_size") - 25).cast("int").alias("size_dev"),
        (F.col("p_partkey") % 7).alias("key_mod"),
    )


@register(
    "asof_join_clicks",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts AS click_ts,
           p.ts AS purchase_ts, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    doc="As-of (most-recent-purchase) join: each click event picks up the "
    "latest prior-or-equal purchase of the same user; left-outer when the "
    "user has no earlier purchase. Oracle is DuckDB's native ASOF JOIN; "
    "the Spark side is the union+last_value fill (operators/asof.py) — "
    "one shuffle, no inequality-join row explosion.",
)
def asof_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    ev = load_fixture(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return asof_join_backward(
        clicks,
        purchases,
        on=["user_id"],
        left_time="click_ts",
        right_time="ts",
        right_payload={"ts": "purchase_ts", "value": "purchase_value"},
    )


@register(
    "json_funcs",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(json_extract(props, '$.nope')) AS n_missing_key
    FROM events
    GROUP BY event_type
    """,
    doc="JSON column surface: path extraction from the events.props JSON "
    "string (get_json_object — the schema-on-read path the reference's "
    "COPY json 'auto' delegates to Redshift, sql_queries.py:133), typed "
    "cast, missing-path NULL semantics, aggregated per event type.",
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object runs JVM-side (Jackson) — no Python. At 100 TB
    prefer from_json with an explicit schema once the shape is known:
    it parses once per row instead of once per path."""
    ev = load_fixture(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.get_json_object("props", "$.nope")).alias("n_missing_key"),
    )


@register(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           ROUND(list_aggregate(embedding::DOUBLE[], 'sum'), 6) AS vec_sum,
           ROUND(list_max(embedding::DOUBLE[]), 6) AS vec_max,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_positive,
           ROUND(list_sort(embedding::DOUBLE[])[1], 6) AS vec_min,
           ROUND(list_dot_product(embedding::DOUBLE[],
                                  list_reverse(embedding::DOUBLE[])), 6) AS dot_reversed
    FROM embeddings
    WHERE vec_id % 5 = 0
    """,
    doc="Array higher-order-function surface over array<float>: aggregate "
    "fold, element max/min via sort, lambda filter, reverse + zip_with dot "
    "product — the primitives the vector/dedup operators are built from.",
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every op is a Catalyst higher-order function on the in-plan array —
    single scan, zero shuffle, no Python serialization."""
    from ..functions.vectors import dot, to_double_array

    e = load_fixture(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    v = to_double_array(F.col("embedding"))
    return e.select(
        "vec_id",
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 6).alias("vec_sum"),
        F.round(F.array_max(v), 6).alias("vec_max"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.round(F.element_at(F.sort_array(v), 1), 6).alias("vec_min"),
        F.round(dot(v, F.reverse(v)), 6).alias("dot_reversed"),
    )


_CORR_SUBQ_SQL = """
SELECT p.p_brand AS brand, COUNT(*) AS n_premium
FROM part p
WHERE p.p_retailprice > (
    SELECT CAST(AVG(CAST(p2.p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
    FROM part p2
    WHERE p2.p_brand = p.p_brand
)
GROUP BY p.p_brand
"""


@register(
    "correlated_subquery",
    oracle=_CORR_SUBQ_SQL,
    doc="Correlated scalar subquery (parts above their brand's average "
    "price), executed through spark.sql verbatim — Catalyst decorrelates "
    "it into an aggregate + join; the oracle runs the identical SQL in "
    "DuckDB. Threshold computed in exact DECIMAL so the comparison is "
    "order-independent across engines. Subquery family absent from the "
    "reference (SURVEY.md §2.4 row 6).",
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface itself: identical query text runs on both
    engines. Catalyst rewrites the per-row subquery to a brand-level
    aggregate joined back (visible as Aggregate+Join in the plan) — the
    hand-decorrelated form, derived automatically."""
    from ..catalog import fixture_sql

    return fixture_sql(spark, sf_dir, ("part",), _CORR_SUBQ_SQL)


@register(
    "null_safe_join",
    oracle="""
    WITH k AS (
        SELECT n_nationkey AS id, NULLIF(n_regionkey % 3, 2) AS grp
        FROM nation
    )
    SELECT a.id AS id_a, b.id AS id_b
    FROM k a JOIN k b ON a.grp IS NOT DISTINCT FROM b.grp AND a.id < b.id
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other — the semantics plain '=' silently drops. Derived "
    "key NULLIF(regionkey%3, 2) plants NULLs so the difference is "
    "observable in the result.",
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eqNullSafe compiles to an equi-join on a null-coalesced key — still
    hash-partitionable (NULLs form one group), unlike general theta joins."""
    n = load_fixture(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"),
        F.nullif(F.col("n_regionkey") % 3, F.lit(2)).alias("grp"),
    )
    a, b = n.alias("a"), n.alias("b")
    return a.join(
        b, F.col("a.grp").eqNullSafe(F.col("b.grp")) & (F.col("a.id") < F.col("b.id"))
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))


@register(
    "string_agg_sorted",
    oracle="""
    SELECT r_name AS region, string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string aggregation (listagg family): nations per region "
    "as a sorted CSV. Spark side sorts the collected array before joining "
    "— collect_list order is partition-dependent, so the sort is the only "
    "engine-portable (and rerun-stable) definition.",
)
def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_fixture(spark, sf_dir, "region")
    n = load_fixture(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "exists_subquery",
    oracle="""
    SELECT o.o_orderpriority AS priority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o.o_orderpriority
    """,
    doc="EXISTS correlated subquery (TPC-H Q4 shape): orders with any line "
    "shipped >60 days after order date, counted by priority. Catalyst "
    "plans it as a left-semi join.",
)
def exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import fixture_sql

    return fixture_sql(spark, sf_dir, ("orders", "lineitem"), """
        SELECT o.o_orderpriority AS priority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o.o_orderpriority
    """)


@register(
    "not_exists_subquery",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    GROUP BY c.c_mktsegment
    """,
    doc="NOT EXISTS correlated subquery: customers with no order over "
    "300k, by segment — planned as a left-anti join.",
)
def not_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import fixture_sql

    return fixture_sql(spark, sf_dir, ("customer", "orders"), """
        SELECT c.c_mktsegment AS segment, COUNT(*) AS n_customers
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        GROUP BY c.c_mktsegment
    """)


@register(
    "not_in_null_semantics",
    oracle="""
    SELECT
        (SELECT COUNT(*) FROM part
         WHERE p_size NOT IN (SELECT NULLIF(p_size, 45) FROM part WHERE p_size > 40)
        ) AS n_not_in_with_null,
        (SELECT COUNT(*) FROM part
         WHERE p_size NOT IN (SELECT p_size FROM part WHERE p_size > 40)
        ) AS n_not_in_clean
    """,
    doc="NOT IN three-valued-logic trap: one NULL in the subquery list "
    "makes every NOT IN comparison UNKNOWN -> zero rows; the NULL-free "
    "variant behaves like anti-join. Both engines must agree on both "
    "counts (NULL planted via NULLIF so the data needs no NULLs).",
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import fixture_sql

    return fixture_sql(spark, sf_dir, ("part",), """
        SELECT
            (SELECT COUNT(*) FROM part
             WHERE p_size NOT IN (SELECT NULLIF(p_size, 45) FROM part WHERE p_size > 40)
            ) AS n_not_in_with_null,
            (SELECT COUNT(*) FROM part
             WHERE p_size NOT IN (SELECT p_size FROM part WHERE p_size > 40)
            ) AS n_not_in_clean
    """)


@register(
    "try_error_handling",
    oracle="""
    SELECT p_partkey AS part_key,
           TRY_CAST(p_type AS INTEGER) AS bad_cast,
           ROUND(CASE WHEN p_size - 10 = 0 THEN NULL
                      ELSE p_retailprice / (p_size - 10) END, 6) AS safe_div,
           TRY_CAST(substr(p_name, 1, 3) AS BIGINT) AS name_num
    FROM part
    WHERE p_partkey % 15 = 0
    """,
    doc="Error-tolerant expression surface: try_cast (malformed input -> "
    "NULL, no job failure) and try_divide (zero divisor -> NULL, matching "
    "the oracle's CASE guard). Under ANSI mode these are the difference "
    "between one bad row poisoning a 100 TB job and a NULL you can audit.",
)
def try_error_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_fixture(spark, sf_dir, "part").filter(F.col("p_partkey") % 15 == 0)
    return p.select(
        F.col("p_partkey").alias("part_key"),
        F.expr("try_cast(p_type AS INTEGER)").alias("bad_cast"),
        F.round(F.try_divide("p_retailprice", F.col("p_size") - 10), 6).alias("safe_div"),
        F.expr("try_cast(substr(p_name, 1, 3) AS BIGINT)").alias("name_num"),
    )


@register(
    "posexplode_lateral",
    oracle="""
    SELECT vec_id, i - 1 AS pos, ROUND(CAST(embedding[i] AS DOUBLE), 6) AS val
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    WHERE vec_id % 100 = 0 AND (i - 1) % 16 = 0
    """,
    doc="Positional explode (lateral view): embedding arrays to "
    "(id, position, value) rows — posexplode == DuckDB's range-unnest "
    "with subscripting. The wide->tall array normalization every "
    "vector/feature pipeline needs at its edges.",
)
def posexplode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode is a Generate node: rows expand in place, no shuffle;
    the position filter applies post-generate (Catalyst cannot prune
    array elements at the scan)."""
    e = load_fixture(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0)
    return (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .filter(F.col("pos") % 16 == 0)
        .select("vec_id", "pos", F.round(F.col("v").cast("double"), 6).alias("val"))
    )


@register(
    "regex_extract",
    oracle="""
    SELECT p_partkey AS part_key,
           regexp_extract(p_name, '^([a-z]+)', 1) AS color_word,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS type_tail,
           regexp_matches(p_name, 'r.d') AS has_rd,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
    FROM part
    WHERE p_partkey % 12 = 0
    """,
    doc="Regex expression surface: group extraction, anchored match test, "
    "global replace — same RE2-class semantics both engines.",
)
def regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_fixture(spark, sf_dir, "part").filter(F.col("p_partkey") % 12 == 0)
    return p.select(
        F.col("p_partkey").alias("part_key"),
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("color_word"),
        F.regexp_extract("p_type", "([A-Z]+)$", 1).alias("type_tail"),
        F.col("p_name").rlike("r.d").alias("has_rd"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    )


@register(
    "set_ops_all",
    oracle="""
    SELECT 'inter_all' AS tag, k FROM (
        SELECT o_custkey AS k FROM orders WHERE o_custkey < 300
        INTERSECT ALL
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'except_all' AS tag, k FROM (
        SELECT o_custkey AS k FROM orders WHERE o_custkey < 300
        EXCEPT ALL
        SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    )
    """,
    doc="INTERSECT ALL / EXCEPT ALL — the multiset (duplicate-preserving) "
    "set operators: a key appearing m times on the left and n on the "
    "right survives min(m,n) times in the intersection and m-n times in "
    "the difference, semantics the DISTINCT forms of set_ops erase.",
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectAll/exceptAll compile to aggregate-count + generate
    (replicate by min/diff of counts) — one shuffle each, no join."""
    o = load_fixture(spark, sf_dir, "orders")
    left = o.filter(F.col("o_custkey") < 300).select(F.col("o_custkey").alias("k"))
    right = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    inter = left.intersectAll(right).select(F.lit("inter_all").alias("tag"), "k")
    diff = left.exceptAll(right).select(F.lit("except_all").alias("tag"), "k")
    return inter.unionAll(diff)


@register(
    "sort_nulls_ordering",
    oracle="""
    SELECT doc_id, NULLIF(lang, 'en') AS l
    FROM documents
    ORDER BY l NULLS FIRST, doc_id
    LIMIT 40
    """,
    doc="Explicit NULLS FIRST ordering with a LIMIT: the selected set "
    "proves null-placement semantics match (Spark defaults to NULLS "
    "FIRST ascending, DuckDB to NULLS LAST — so the clause must be "
    "stated, not assumed). TakeOrderedAndProject, no global sort.",
)
def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.nullif(F.col("lang"), F.lit("en")).alias("l"))
        .orderBy(F.col("l").asc_nulls_first(), F.col("doc_id"))
        .limit(40)
    )


@register(
    "explode_outer_nulls",
    oracle="""
    SELECT doc_id,
           unnest(CASE WHEN len(hits) = 0 THEN [NULL] ELSE hits END) AS hit
    FROM (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           x -> x IN ('spark', 'vector')) AS hits
        FROM documents
    )
    """,
    doc="explode_outer null-preservation semantics: documents whose match "
    "list is empty survive as a NULL row instead of disappearing — the "
    "LEFT-JOIN-LATERAL corner that inner explode silently gets wrong in "
    "fan-out pipelines. DuckDB has no outer unnest, so the oracle states "
    "the same semantics via the [NULL] substitution.",
)
def explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    hits = F.filter(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0),
        lambda x: x.isin("spark", "vector"),
    )
    return d.select("doc_id", F.explode_outer(hits).alias("hit"))


@register(
    "map_funcs",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           CAST(COUNT(*) AS INTEGER) AS n_days,
           CAST(MAX(n) AS BIGINT) AS busiest_count,
           string_agg(CAST(day AS VARCHAR) || '=' || CAST(n AS VARCHAR),
                      ',' ORDER BY day) AS day_counts
    FROM daily GROUP BY event_type
    """,
    doc="MapType surface: per event type, daily counts assembled into a "
    "map<date,bigint> column (map_from_entries), interrogated with "
    "map_keys/map_values/element_at, and serialized back through "
    "map_entries into a sorted, engine-neutral string. The oracle states "
    "the visible result relationally; the Spark plan round-trips a real "
    "MapType column in one shuffle.",
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = daily.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("day", "n")))
        ).alias("m")
    )
    entries = F.array_sort(F.map_entries(F.col("m")))
    return mapped.select(
        "event_type",
        F.size(F.map_keys(F.col("m"))).cast("int").alias("n_days"),
        F.array_max(F.map_values(F.col("m"))).cast("bigint").alias("busiest_count"),
        F.array_join(
            F.transform(
                entries,
                lambda e: F.concat(
                    e["key"].cast("string"), F.lit("="), e["value"].cast("string")
                ),
            ),
            ",",
        ).alias("day_counts"),
    )


@register(
    "asof_join_forward_tolerance",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts AS click_ts,
           CASE WHEN p.ts <= e.ts + INTERVAL 2 DAY THEN p.ts END AS next_purchase_ts,
           CASE WHEN p.ts <= e.ts + INTERVAL 2 DAY THEN p.value END AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    """,
    doc="Forward as-of join with tolerance: each click picks up the NEXT "
    "purchase of the same user, nulled when it is more than 2 days ahead "
    "— the conversion-attribution lookup (click -> next purchase within "
    "window). Same one-shuffle union+last_value plan as the backward "
    "as-of, scanned time-descending; tolerance is a post-fill predicate, "
    "never a second join (operators/asof.py:asof_join_forward).",
)
def asof_join_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    ev = load_fixture(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return asof_join_forward(
        clicks,
        purchases,
        on=["user_id"],
        left_time="click_ts",
        right_time="ts",
        right_payload={"ts": "next_purchase_ts", "value": "next_purchase_value"},
        tolerance_seconds=2 * 86400,
    )


@register(
    "interval_overlap_join",
    oracle="""
    WITH spans AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type,
               MIN(ts) AS t0, MAX(ts) AS t1
        FROM events GROUP BY user_id, CAST(ts AS DATE), event_type
    )
    SELECT a.user_id, a.day, a.event_type AS type_a, b.event_type AS type_b,
           CAST(floor(epoch(LEAST(a.t1, b.t1))) - floor(epoch(GREATEST(a.t0, b.t0)))
                AS BIGINT) AS overlap_seconds
    FROM spans a JOIN spans b
      ON a.user_id = b.user_id AND a.day = b.day
     AND a.event_type < b.event_type
    WHERE a.t0 <= b.t1 AND b.t0 <= a.t1
    """,
    doc="Interval OVERLAP join (both sides intervals, unlike the "
    "point-in-range range join): per user-day activity spans of each "
    "event type, pairs whose spans overlap in time, with overlap "
    "duration. The equi-key (user, day) is the aligned grid bucket that "
    "makes overlap joins hash-partitionable at 100 TB — the overlap "
    "predicate evaluates only within grid cells, never across the "
    "|spans|^2 space (multi-day intervals explode into one row per "
    "covered grid cell, then dedupe — same technique as "
    "range_join_bucketed).",
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", F.to_date("ts").alias("day"), "event_type").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    a = spans.select(
        "user_id", "day", F.col("event_type").alias("type_a"),
        F.col("t0").alias("a0"), F.col("t1").alias("a1"),
    )
    b = spans.select(
        "user_id", "day", F.col("event_type").alias("type_b"),
        F.col("t0").alias("b0"), F.col("t1").alias("b1"),
    )
    return (
        a.join(b, on=["user_id", "day"])
        .filter(
            (F.col("type_a") < F.col("type_b"))
            & (F.col("a0") <= F.col("b1"))
            & (F.col("b0") <= F.col("a1"))
        )
        .select(
            "user_id",
            "day",
            "type_a",
            "type_b",
            (
                F.least("a1", "b1").cast("long") - F.greatest("a0", "b0").cast("long")
            ).alias("overlap_seconds"),
        )
    )


@register(
    "lookup_longest_prefix",
    oracle="""
    WITH dim AS (
        SELECT CAST(p AS BIGINT) AS pfx, 4 AS w
        FROM UNNEST(range(0, 16)) t(p)
        UNION ALL
        SELECT CAST(p AS BIGINT), 8 FROM UNNEST(range(0, 256)) t(p)
        WHERE p % 3 = 0
        UNION ALL
        SELECT CAST(p AS BIGINT), 12 FROM UNNEST(range(0, 4096)) t(p)
        WHERE p % 7 = 0
    ),
    f AS (
        SELECT o_orderkey AS order_key, o_orderkey % 65536 AS addr FROM orders
    ),
    cand AS (
        SELECT order_key, addr // 4096 AS pfx, 4 AS w FROM f
        UNION ALL SELECT order_key, addr // 256, 8 FROM f
        UNION ALL SELECT order_key, addr // 16, 12 FROM f
    ),
    m AS (
        SELECT c.order_key, c.w, c.pfx
        FROM cand c JOIN dim d ON d.pfx = c.pfx AND d.w = c.w
    )
    SELECT order_key,
           CAST(MAX(w * 10000 + pfx) // 10000 AS BIGINT) AS matched_bits,
           CAST(MAX(w * 10000 + pfx) % 10000 AS BIGINT) AS route_pfx
    FROM m GROUP BY order_key
    """,
    doc="Longest-prefix-match lookup join (the IP-routing / geo-CIDR "
    "enrichment shape): each 16-bit synthetic address (o_orderkey mod "
    "2^16) is matched against a three-level prefix dimension (all "
    "16 width-4 default routes, width-8 prefixes where p%3=0, width-12 "
    "where p%7=0) and takes the MOST SPECIFIC match. Instead of a "
    "range/BETWEEN join over prefix intervals, each fact explodes into "
    "exactly |widths| candidate (prefix, width) keys and equi-joins "
    "the broadcast dimension; the winner is a single max() over the "
    "width-encoded match — no range join, no per-row loops.",
)
def lookup_longest_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: facts explode by a CONSTANT factor (|widths| = 3),
    the prefix dimension is broadcast (it is bounded by 2^w rows per
    width regardless of fact count), and the LPM winner is a map-side
    combinable max per fact key — one narrow shuffle on order_key.
    At 100 TB the same plan holds; only the dimension broadcast size
    (sum of 2^w) matters, which is a property of the routing table,
    not the data."""
    d4 = spark.range(16).select(F.col("id").alias("pfx"), F.lit(4).alias("w"))
    d8 = (
        spark.range(256)
        .filter(F.col("id") % 3 == 0)
        .select(F.col("id").alias("pfx"), F.lit(8).alias("w"))
    )
    d12 = (
        spark.range(4096)
        .filter(F.col("id") % 7 == 0)
        .select(F.col("id").alias("pfx"), F.lit(12).alias("w"))
    )
    dim = d4.unionByName(d8).unionByName(d12)
    f = load_fixture(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        (F.col("o_orderkey") % 65536).alias("addr"),
    )
    cand = f.select(
        "order_key",
        F.explode(
            F.array(
                F.struct(
                    F.expr("addr div 4096").alias("pfx"), F.lit(4).alias("w")
                ),
                F.struct(F.expr("addr div 256").alias("pfx"), F.lit(8).alias("w")),
                F.struct(F.expr("addr div 16").alias("pfx"), F.lit(12).alias("w")),
            )
        ).alias("c"),
    ).select("order_key", F.col("c.pfx").alias("pfx"), F.col("c.w").alias("w"))
    m = cand.join(F.broadcast(dim), ["pfx", "w"])
    enc = F.max(F.col("w") * 10000 + F.col("pfx"))
    return m.groupBy("order_key").agg(
        F.expr("max(w * 10000 + pfx) div 10000").cast("bigint").alias("matched_bits"),
        (enc % 10000).cast("bigint").alias("route_pfx"),
    )


@register(
    "asof_join_nearest",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    b AS (
        SELECT c.event_id, c.user_id, c.ts AS cts,
               p.ts AS bts, p.event_id AS bid
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    ),
    f AS (
        SELECT c.event_id, p.ts AS fts, p.event_id AS fid
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.ts <= p.ts
    ),
    j AS (
        SELECT b.event_id, b.user_id,
               epoch_us(b.cts) - epoch_us(b.bts) AS dtb,
               epoch_us(f.fts) - epoch_us(b.cts) AS dtf,
               bid, fid
        FROM b JOIN f USING (event_id)
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN dtb IS NOT NULL AND (dtf IS NULL OR dtb <= dtf)
                     THEN bid ELSE fid END AS BIGINT) AS nearest_purchase_id,
           CAST(CASE WHEN dtb IS NOT NULL AND (dtf IS NULL OR dtb <= dtf)
                     THEN dtb ELSE -dtf END AS BIGINT) AS nearest_dt_us
    FROM j
    """,
    doc="Nearest as-of join: each click matches the purchase CLOSEST in "
    "time in either direction (positive dt = purchase before the "
    "click), ties to the earlier purchase — completing the as-of "
    "family's backward/forward/nearest triple; the attribution lookup "
    "when the touchpoint may trail the conversion. Composed from the "
    "same two one-shuffle union+last_value as-of passes as "
    "asof_join_clicks (operators/asof.py) joined on the click — never "
    "an inequality join. Distances compare in exact epoch "
    "microseconds.",
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two as-of fills (each one shuffle keyed by user,
    time-sorted within partitions) plus one click-keyed equi-join —
    no row explosion at any scale."""
    from ..operators.asof import asof_join_backward, asof_join_forward

    ev = load_fixture(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    b = asof_join_backward(
        clicks,
        purchases,
        on=["user_id"],
        left_time="click_ts",
        right_time="ts",
        right_payload={"ts": "bts", "event_id": "bid"},
    )
    f = asof_join_forward(
        clicks.select("event_id", "user_id", "click_ts"),
        purchases,
        on=["user_id"],
        left_time="click_ts",
        right_time="ts",
        right_payload={"ts": "fts", "event_id": "fid"},
    ).select("event_id", "fts", "fid")
    j = b.join(f, "event_id").select(
        "event_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("bts")).alias("dtb"),
        (F.unix_micros("fts") - F.unix_micros("click_ts")).alias("dtf"),
        "bid",
        "fid",
    )
    pick_b = F.col("dtb").isNotNull() & (
        F.col("dtf").isNull() | (F.col("dtb") <= F.col("dtf"))
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(pick_b, F.col("bid"))
        .otherwise(F.col("fid"))
        .cast("bigint")
        .alias("nearest_purchase_id"),
        F.when(pick_b, F.col("dtb"))
        .otherwise(-F.col("dtf"))
        .cast("bigint")
        .alias("nearest_dt_us"),
    )


@register(
    "dq_id_sequence_audit",
    oracle="""
    SELECT 'documents' AS table_name,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(MAX(doc_id) - MIN(doc_id) + 1 - COUNT(DISTINCT doc_id)
                AS BIGINT) AS n_gaps,
           CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_dups
    FROM documents
    UNION ALL
    SELECT 'orders', CAST(MIN(o_orderkey) AS BIGINT),
           CAST(MAX(o_orderkey) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1
                - COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'events', CAST(MIN(event_id) AS BIGINT),
           CAST(MAX(event_id) AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT event_id) AS BIGINT),
           CAST(MAX(event_id) - MIN(event_id) + 1
                - COUNT(DISTINCT event_id) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
    FROM events
    """,
    doc="Surrogate-key sequence audit across the three id-bearing "
    "tables: min/max, row and distinct counts, gap count "
    "(max - min + 1 - distinct) and duplicate count — the ingest "
    "data-quality check that catches a loader replaying a partition "
    "(dups) or dropping one (gaps) before any downstream join "
    "multiplies the damage; companion to dq_referential_integrity's "
    "cross-table view. Pure per-table aggregates; COUNT(DISTINCT) is "
    "the only shuffle and partial_count distincts map-side.",
)
def dq_id_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: three independent map-side-combined aggregates,
    unioned — no join, no window."""
    outs = []
    for tbl, col in (
        ("documents", "doc_id"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
    ):
        t = load_fixture(spark, sf_dir, tbl)
        outs.append(
            t.agg(
                F.lit(tbl).alias("table_name"),
                F.min(col).cast("bigint").alias("min_id"),
                F.max(col).cast("bigint").alias("max_id"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct(F.col(col)).cast("bigint").alias("n_distinct"),
                (
                    F.max(col) - F.min(col) + 1 - F.count_distinct(F.col(col))
                )
                .cast("bigint")
                .alias("n_gaps"),
                (F.count(F.lit(1)) - F.count_distinct(F.col(col)))
                .cast("bigint")
                .alias("n_dups"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "dq_order_total_consistency",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderkey,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
               li.sum_cents,
               abs(li.sum_cents
                   - CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS dev
        FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN dev = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN (2 * dev * 1000000 + total_cents)
                              // (2 * total_cents) <= 10000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
           CAST(MAX((2 * dev * 1000000 + total_cents) // (2 * total_cents))
                AS DOUBLE) / 1000000.0 AS max_rel_dev
    FROM j WHERE total_cents > 0
    """,
    doc="Cross-field value-integrity audit: per order, the lineitem "
    "charge total sum(extendedprice * (1-discount) * (1+tax)) against "
    "the stored o_totalprice — the TPC-H consistency rule as an ingest "
    "data-quality check, reporting exact matches, the within-1% "
    "population, and the worst relative deviation; companion to "
    "dq_referential_integrity (key existence) and dq_id_sequence_audit "
    "(key shape). Per-line charges quantize half-away to exact cents "
    "(identical IEEE double products in both engines), deviations stay "
    "integers, and relative deviations round half-away in integer "
    "micro-units.",
)
def dq_order_total_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact aggregate co-partitioned on the order key,
    one key join, one map-side-combined reduce — no window."""
    li = load_fixture(spark, sf_dir, "lineitem")
    o = load_fixture(spark, sf_dir, "orders")
    lsum = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("sum_cents")
    )
    j = (
        o.join(lsum, o["o_orderkey"] == lsum["l_orderkey"])
        .select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("total_cents"),
            "sum_cents",
        )
        .withColumn("dev", F.abs(F.col("sum_cents") - F.col("total_cents")))
        .filter(F.col("total_cents") > 0)
    )
    rel = "(2 * dev * 1000000 + total_cents) div (2 * total_cents)"
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("dev") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.expr(f"CASE WHEN {rel} <= 10000 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_within_1pct"),
        (F.max(F.expr(rel)).cast("double") / F.lit(1000000.0)).alias("max_rel_dev"),
    )


@register(
    "dq_freshness_lag",
    oracle="""
    WITH g AS (SELECT MAX(ts) AS gmax FROM events),
    p AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MAX(ts) AS tmax
        FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.n_rows,
           CAST(epoch_us(g.gmax) - epoch_us(p.tmax) AS BIGINT) // 1000000
               AS staleness_seconds,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
            WHERE e.event_type = p.event_type
              AND epoch_us(e.ts) >= epoch_us(g.gmax) - 86400000000)
               AS rows_last_day
    FROM p, g
    """,
    doc="Per-source freshness audit: how stale is each event type's "
    "newest row against the pipeline's global high-water mark, and how "
    "many of its rows arrived in the last 24 h of data — the first "
    "check run when a feed silently stops (a type whose staleness "
    "grows while others stay near zero is a dead upstream). Timestamps "
    "compare as exact epoch MICROSECOND integers (the repo's "
    "timestamps-cross-as-longs rule), floored to whole seconds; no "
    "floats anywhere.",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two map-side-combined aggregates over events (one
    per-type, one fused 24h-window count via a conditional sum after a
    1-row broadcast of the global max) — no window, no sort."""
    e = load_fixture(spark, sf_dir, "events")
    g = e.agg(F.max(F.unix_micros(F.col("ts"))).alias("gmax_us"))
    p = e.select(
        "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    ).crossJoin(F.broadcast(g))
    return (
        p.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("ts_us").alias("tmax_us"),
            F.max("gmax_us").alias("gmax_us"),
            F.sum(
                F.when(
                    F.col("ts_us") >= F.col("gmax_us") - F.lit(86400000000),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_last_day"),
        )
        .selectExpr(
            "event_type",
            "n_rows",
            "CAST(gmax_us - tmax_us AS BIGINT) div 1000000 AS staleness_seconds",
            "rows_last_day",
        )
    )
