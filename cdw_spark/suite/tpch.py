"""TPC-H-shaped benchmark queries (the subset expressible on the driver
fixtures' columns — no partsupp table, no commit/receipt dates).

Every query here is ONE SQL text executed verbatim by both engines
(spark.sql over registered fixture views, DuckDB as the oracle): the
engine's SQL surface is the thing under test, not a DataFrame translation.
Spark still plans them through Catalyst/AQE — plan shapes (broadcasts,
partial aggs, semi joins) come from the optimizer, as they would for any
warehouse user pointing existing SQL at this engine. Monetary sums are
cast to DECIMAL inside the SQL (exact, order-independent) — double
summation order differs between engines and flips the last cent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import fixture_sql
from ..registry import register


def _sql_query(name: str, tables: tuple[str, ...], sql: str, doc: str):
    @register(name, oracle=sql, doc=doc)
    def run(spark: SparkSession, sf_dir: str, _sql=sql, _tables=tables) -> DataFrame:
        return fixture_sql(spark, sf_dir, _tables, _sql)

    run.__name__ = name
    return run


_sql_query(
    "tpch_q3_shipping_priority",
    ("customer", "orders", "lineitem"),
    """
    SELECT l.l_orderkey AS order_key,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
           o.o_orderdate AS order_date
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-06-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-06-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, order_key
    LIMIT 10
    """,
    "TPC-H Q3 shape: unshipped-order revenue by segment — selective dim "
    "filter joined into two fact filters, group on the join key, top-k "
    "(fixture has no o_shippriority column; grouping drops it).",
)

_sql_query(
    "tpch_q5_local_supplier_volume",
    ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    """
    SELECT n.n_name AS nation,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    "TPC-H Q5 shape: local-supplier volume — the 6-way snowflake join "
    "(region -> nation -> customer + supplier co-location on the fact), "
    "the join-reordering stress test; every dim side should broadcast.",
)

_sql_query(
    "tpch_q6_revenue_forecast",
    ("lineitem",),
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: pure scan-filter-aggregate — the pushdown/codegen "
    "speed-of-light query (no join, no group key).",
)

_sql_query(
    "tpch_q10_returned_items",
    ("customer", "orders", "lineitem", "nation"),
    """
    SELECT c.c_custkey AS cust_key, c.c_name AS cust_name, n.n_name AS nation,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, cust_key
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue per customer — 4-way join, "
    "group, top-k.",
)

_sql_query(
    "tpch_q13_order_distribution",
    ("customer", "orders"),
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
             AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13 shape: customer order-count distribution — outer join with "
    "an ON-clause filter (not WHERE: zero-order customers must survive), "
    "double aggregation.",
)

_sql_query(
    "tpch_q14_promo_share",
    ("lineitem", "part"),
    """
    SELECT ROUND(
        100.00 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                          THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                               * CAST(1 - l.l_discount AS DECIMAL(18,4))
                          ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
    "TPC-H Q14 shape: promotion revenue share — conditional aggregation "
    "over a fact-dim join, single-row result.",
)

_sql_query(
    "tpch_q18_large_orders",
    ("customer", "orders", "lineitem"),
    """
    SELECT c.c_name AS cust_name, c.c_custkey AS cust_key,
           o.o_orderkey AS order_key, o.o_orderdate AS order_date,
           ROUND(o.o_totalprice, 2) AS total_price,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY total_price DESC, order_key
    LIMIT 25
    """,
    "TPC-H Q18 shape: large-volume orders — IN over a grouped HAVING "
    "subquery (planned as a semi join on an aggregate), then re-join and "
    "re-aggregate.",
)

_sql_query(
    "tpch_q19_discounted_revenue",
    ("lineitem", "part"),
    """
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    "TPC-H Q19 shape: disjunctive multi-predicate join filter — the "
    "OR-of-conjunctions pattern optimizers must not turn into a cross "
    "product (Spark pushes the common join key, evaluates the residual "
    "disjunction post-join).",
)


_sql_query(
    "tpch_q4_order_priority",
    ("orders", "lineitem"),
    """
    SELECT o.o_orderpriority AS order_priority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    "TPC-H Q4 shape: priority count of orders with a late line — "
    "correlated EXISTS planned as a left-semi join (fixture has no "
    "commit/receipt dates; 'late' adapts to shipped >60 days after "
    "order, same semi-join-on-interval-predicate plan).",
)

_sql_query(
    "tpch_q7_volume_shipping",
    ("supplier", "lineitem", "orders", "customer", "nation"),
    """
    SELECT supp_nation, cust_nation, l_year,
           ROUND(CAST(SUM(volume) AS DOUBLE), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS volume
        FROM supplier s
        JOIN lineitem l ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: bilateral trade volume — the nation table joined "
    "TWICE under different roles (supplier side / customer side) with a "
    "disjunctive cross-role predicate, then rollup by year.",
)

_sql_query(
    "tpch_q8_market_share",
    ("part", "lineitem", "orders", "customer", "supplier", "nation", "region"),
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume
                          ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS volume,
               n2.n_name AS nation
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n1.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA'
          AND p.p_type = 'PROMO'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    "TPC-H Q8 shape: national market share inside a region — 8-way "
    "snowflake with nation in two roles, conditional share-of-total "
    "aggregation per year.",
)

_sql_query(
    "tpch_q15_top_supplier",
    ("supplier", "lineitem"),
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l_discount AS DECIMAL(18,4))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS supp_key, s.s_name AS supp_name,
           ROUND(CAST(r.total_revenue AS DOUBLE), 2) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY supp_key
    """,
    "TPC-H Q15 shape: top supplier by quarter revenue — a reused CTE "
    "(aggregate once, consumed twice: ranking scan + scalar MAX "
    "subquery); revenue kept exact DECIMAL so the MAX-equality is "
    "engine- and order-independent, DOUBLE only in the final projection.",
)

_sql_query(
    "tpch_q17_small_qty_revenue",
    ("lineitem", "part"),
    """
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
               AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
               COUNT(*) AS nq
        FROM lineitem
        GROUP BY l_partkey
    ) a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * a.nq < a.sq
    """,
    "TPC-H Q17 shape: small-quantity-order revenue — the correlated "
    "'below 20% of this part's average' filter, written decorrelated "
    "(per-part aggregate re-joined to the fact, the plan Catalyst "
    "produces for the correlated form) and EXACT: q < 0.2*avg is "
    "compared as 5*q*n < sum in DECIMAL, immune to double sum order.",
)

_sql_query(
    "tpch_q22_global_sales_opportunity",
    ("customer", "orders"),
    """
    SELECT cntrycode, COUNT(*) AS numcust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
    FROM (
        SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, c_acctbal, c_custkey
        FROM customer
        WHERE c_nationkey % 5 IN (0, 1, 2)
          AND CAST(c_acctbal AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM customer c2
                 WHERE c2.c_acctbal > 0 AND c2.c_nationkey % 5 IN (0, 1, 2))
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c2
                 WHERE c2.c_acctbal > 0 AND c2.c_nationkey % 5 IN (0, 1, 2))
    ) c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    "TPC-H Q22 shape: customers above the positive-balance average with "
    "no recent orders — two uncorrelated scalar subqueries (broadcast as "
    "one-row relations) + NOT EXISTS anti join; bal > avg compared as "
    "bal*n > sum in exact DECIMAL (fixture has no c_phone, and every "
    "customer has SOME order, so country code adapts to nationkey % 5 "
    "and the anti join to 'no order since 1999').",
)
