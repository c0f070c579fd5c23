"""Recommendation-shaped queries over the order/lineitem purchase log —
item-item co-occurrence (the "customers also bought" associator). The
reference warehouse (sql_queries.py's star schema) stops at fact joins;
this is the north-star extension that turns the same purchase fact table
into a retrieval structure.

Scale discipline: everything is counts + equi-joins. The basket self-join
fans out at most cap^2 pairs per order (heavy baskets are EXCLUDED by an
explicit size cap, the standard guard — a single million-item basket would
otherwise emit 10^12 pairs); item-frequency relations are |items| rows and
broadcast; ranking is a bounded per-item window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_fixture
from ..plans.lineage import cut
from ..registry import register

BASKET_CAP = 32
MIN_TOGETHER = 2
TOP_NEIGHBORS = 3

def copurchase_sql(edge_cte: str) -> str:
    """The co-purchase graph as SQL CTEs (shared by graph_label_propagation
    and graph_kcore_peel so the two operators can never diverge on what
    'the co-purchase graph' means): parts bought together in >=
    MIN_TOGETHER orders, baskets above BASKET_CAP excluded, symmetrized."""
    return f"""b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (SELECT ok FROM b GROUP BY ok HAVING COUNT(*) <= {BASKET_CAP}),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    co AS (
        SELECT a.item AS ia, bb.item AS ib
        FROM bk a JOIN bk bb ON a.ok = bb.ok AND a.item < bb.item
        GROUP BY a.item, bb.item
        HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    {edge_cte} AS (SELECT ia AS src, ib AS dst FROM co
                   UNION ALL SELECT ib, ia FROM co)"""


def copurchase_edges(li: DataFrame) -> DataFrame:
    """Python twin of copurchase_sql: the symmetric co-purchase edge list."""
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    kept = (
        b.groupBy("ok")
        .agg(F.count(F.lit(1)).alias("bs"))
        .filter(F.col("bs") <= BASKET_CAP)
        .select("ok")
    )
    bk = b.join(kept, "ok", "left_semi")
    a = bk.select("ok", F.col("item").alias("ia"))
    bb = bk.select("ok", F.col("item").alias("ib"))
    co = (
        a.join(bb, "ok")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= MIN_TOGETHER)
    )
    return co.select(F.col("ia").alias("src"), F.col("ib").alias("dst")).unionAll(
        co.select(F.col("ib").alias("src"), F.col("ia").alias("dst"))
    )



# The semantic spec of the at-rest list relation (also the
# recs_item_cooccurrence oracle). Its text is folded into the artifact
# content key, so editing the spec automatically mints a new artifact.
_RECS_LISTS_SPEC = f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (
        SELECT ok FROM b GROUP BY ok HAVING COUNT(*) <= {BASKET_CAP}
    ),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    cnt AS (SELECT item, COUNT(*) AS c FROM bk GROUP BY item),
    co AS (
        SELECT a.item AS ia, bb.item AS ib, COUNT(*) AS together
        FROM bk a JOIN bk bb ON a.ok = bb.ok AND a.item < bb.item
        GROUP BY a.item, bb.item
        HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    sym AS (
        SELECT ia AS item, ib AS neighbor, together FROM co
        UNION ALL
        SELECT ib AS item, ia AS neighbor, together FROM co
    ),
    scored AS (
        SELECT s.item, s.neighbor, s.together,
               CAST(s.together AS DOUBLE)
                   / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cos
        FROM sym s
        JOIN cnt ca ON ca.item = s.item
        JOIN cnt cb ON cb.item = s.neighbor
    )
    SELECT item, neighbor, CAST(together AS BIGINT) AS together,
           ROUND(cos, 6) AS cosine, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT item, neighbor, together, cos,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY ROUND(cos, 9) DESC, neighbor) AS rk
        FROM scored
    )
    WHERE rk <= {TOP_NEIGHBORS}
    """


@register(
    "recs_item_cooccurrence",
    oracle=_RECS_LISTS_SPEC,
    doc="Item-item collaborative filtering: cosine over co-purchase "
    "counts (Linden et al. 2003, the Amazon item-to-item associator). "
    "The basket/pair construction is the weighted form of "
    "copurchase_sql/copurchase_edges above (the graph operators consume "
    "those directly); a semantics change MUST edit both in this file. "
    "Top-3 neighbors per item. Baskets above the size cap are excluded "
    "before pairing; pairs generated once (item_a < item_b) and "
    "symmetrized by a swap-union.",
)
def recs_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (r10): one parquet scan of the at-rest list artifact
    (_recs_lists_at_rest below — built once per fixture); the build
    plan lives in _build_item_cooccurrence."""
    return _recs_lists_at_rest(spark, sf_dir)


def _build_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual cooccurrence BUILD (one run per fixture, writes the
    at-rest artifact). Scale shape: ONE shuffle of the distinct
    (order,item) relation to per-order sorted item arrays; the i<j pair
    fanout is an in-codegen array transform over each basket (r13 —
    replacing the (ok)-keyed semi join + self-join, which shuffled the
    basket relation three more times). The size cap bounds pair fanout
    at cap^2 per order. Item-frequency joins ride AQE broadcasts
    (|items| rows).
    Ranking is a per-item window over <= |items| * avg_neighbors rows;
    rank over ROUND(cos, 9) with a neighbor-id tie-break keeps the
    selection engine-independent (the tfidf idiom)."""
    li = load_fixture(spark, sf_dir, "lineitem")
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")).distinct()
    # Basket ARRAYS instead of a (ok)-keyed self-join (guide §3: the
    # former shape shuffled the basket relation three more times — the
    # size-cap semi join plus both self-join sides; r13). One groupBy
    # collapses each order to its sorted distinct-item array, the cap is
    # a size() filter, and the i<j pair fanout is an in-codegen array
    # transform (sorted ascending, so ia < ib by construction — exactly
    # the rows the join's ia < ib filter kept). Checkpointed: the basket
    # relation feeds both the pair explode and the item-frequency pass.
    baskets = cut(
        b.groupBy("ok")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .filter(F.size("items") <= BASKET_CAP)
    )
    cnt = baskets.select(F.explode("items").alias("item")).groupBy("item").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)),"
                " y -> struct(x AS ia, y AS ib))))"
            )
        ).alias("p")
    ).select("p.ia", "p.ib")
    co = (
        pairs.groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= MIN_TOGETHER)
    )
    sym = co.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "together"
    ).unionAll(
        co.select(F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "together")
    )
    ca = cnt.select(F.col("item"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("item").alias("neighbor"), F.col("c").alias("cb"))
    scored = (
        sym.join(ca, "item")
        .join(cb, "neighbor")
        .withColumn(
            "cos",
            F.col("together").cast("double")
            / F.sqrt(F.col("ca").cast("double") * F.col("cb").cast("double")),
        )
    )
    w = Window.partitionBy("item").orderBy(F.round("cos", 9).desc(), "neighbor")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_NEIGHBORS)
        .select(
            "item",
            "neighbor",
            F.col("together").cast("bigint").alias("together"),
            F.round("cos", 6).alias("cosine"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "recs_catalog_coverage",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (
        SELECT ok FROM b GROUP BY ok HAVING COUNT(*) <= {BASKET_CAP}
    ),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    cnt AS (SELECT item, COUNT(*) AS c FROM bk GROUP BY item),
    co AS (
        SELECT a.item AS ia, bb.item AS ib, COUNT(*) AS together
        FROM bk a JOIN bk bb ON a.ok = bb.ok AND a.item < bb.item
        GROUP BY a.item, bb.item
        HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    sym AS (
        SELECT ia AS item, ib AS neighbor, together FROM co
        UNION ALL
        SELECT ib AS item, ia AS neighbor, together FROM co
    ),
    scored AS (
        SELECT s.item, s.neighbor,
               CAST(s.together AS DOUBLE)
                   / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cos
        FROM sym s
        JOIN cnt ca ON ca.item = s.item
        JOIN cnt cb ON cb.item = s.neighbor
    ),
    toprec AS (
        SELECT neighbor FROM (
            SELECT item, neighbor,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY ROUND(cos, 9) DESC, neighbor)
                       AS rk
            FROM scored
        ) WHERE rk <= {TOP_NEIGHBORS}
    ),
    expos AS (SELECT neighbor, CAST(COUNT(*) AS BIGINT) AS x FROM toprec
              GROUP BY neighbor),
    catalog AS (SELECT DISTINCT l_partkey AS item FROM lineitem),
    xv AS (
        SELECT c.item, COALESCE(e.x, 0) AS x
        FROM catalog c LEFT JOIN expos e ON e.neighbor = c.item
    ),
    cells AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM xv GROUP BY x),
    cum AS (
        SELECT x, c,
               SUM(c) OVER (ORDER BY x
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumc
        FROM cells
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero
        FROM xv
    ),
    gn AS (
        SELECT CAST(SUM(CAST(c AS HUGEINT) * (2 * cumc - c + 1) * x)
                    AS HUGEINT) AS dxsum
        FROM cum
    )
    SELECT n AS n_catalog,
           CAST(n - n_zero AS BIGINT) AS n_recommended,
           CAST((2 * CAST(n - n_zero AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS coverage_micro,
           n_zero AS n_zero_exposure,
           CAST((2 * (dxsum - (n + 1) * CAST(sx AS HUGEINT)) * 1000000
                 + CAST(n AS HUGEINT) * sx)
                // (2 * CAST(n AS HUGEINT) * sx) AS BIGINT)
               AS exposure_gini_micro
    FROM tot, gn
    """,
    doc="Catalog coverage + exposure concentration of the item-item "
    "recommender's top-3 lists (recs_item_cooccurrence's construction "
    "repeated verbatim — a semantics change MUST edit both): what "
    "share of the catalog is ever recommended, and the Gini of "
    "per-item exposure counts INCLUDING never-recommended items — the "
    "popularity-bias audit (a recommender that covers 5% of the "
    "catalog at Gini ~1 is an echo chamber; run before shipping "
    "co-occurrence lists as training features). Gini uses the "
    "tie-averaged DOUBLED-rank identity G = (sum d*x - (n+1)*S) / "
    "(n*S) over distinct exposure cells — exact integers end to end, "
    "half-away micro at display.",
)
def recs_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the recommender build is the recs_item_cooccurrence
    plan (capped basket self-join, broadcast frequency joins, bounded
    per-item window); everything added is |items|-row aggregates, a
    distinct-exposure running count (value_ranks), and 1-row
    broadcasts."""
    from ..operators.stats import value_ranks

    rec = recs_item_cooccurrence(spark, sf_dir)
    expos = rec.groupBy(F.col("neighbor").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    li = load_fixture(spark, sf_dir, "lineitem")
    catalog = li.select(F.col("l_partkey").alias("item")).distinct()
    xv = cut(
        catalog.join(expos, "item", "left")
        .select("item", F.coalesce("x", F.lit(0)).alias("x"))
    )
    cum = value_ranks(xv, [], "x", {"c": F.lit(1)})
    tot = xv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    gn = cum.agg(
        F.sum(
            F.col("c").cast("decimal(19,0)")
            * (F.lit(2) * F.col("cum_c") - F.col("c") + F.lit(1))
            * F.col("x").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("dxsum")
    )
    return tot.crossJoin(F.broadcast(gn)).selectExpr(
        "n AS n_catalog",
        "CAST(n - n_zero AS BIGINT) AS n_recommended",
        "CAST((2 * CAST(n - n_zero AS DECIMAL(38,0)) * 1000000 + n)"
        " div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT) AS coverage_micro",
        "n_zero AS n_zero_exposure",
        "CAST((2 * (dxsum - (n + 1) * CAST(sx AS DECIMAL(19,0))) * 1000000"
        " + CAST(n AS DECIMAL(19,0)) * sx)"
        " div (2 * CAST(n AS DECIMAL(19,0)) * sx) AS BIGINT)"
        " AS exposure_gini_micro",
    )


@register(
    "recs_basket_holdout_eval",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (
        SELECT ok FROM b GROUP BY ok
        HAVING COUNT(*) <= {BASKET_CAP} AND COUNT(*) >= 2
    ),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    allbk AS (
        SELECT b.ok, b.item FROM b
        JOIN (SELECT ok FROM b GROUP BY ok HAVING COUNT(*) <= {BASKET_CAP})
            k USING (ok)
    ),
    cnt AS (SELECT item, COUNT(*) AS c FROM allbk GROUP BY item),
    co AS (
        SELECT a.item AS ia, bb.item AS ib, COUNT(*) AS together
        FROM allbk a JOIN allbk bb ON a.ok = bb.ok AND a.item < bb.item
        GROUP BY a.item, bb.item
        HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    sym AS (
        SELECT ia AS item, ib AS neighbor, together FROM co
        UNION ALL
        SELECT ib AS item, ia AS neighbor, together FROM co
    ),
    scored AS (
        SELECT s.item, s.neighbor,
               CAST(s.together AS DOUBLE)
                   / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cos
        FROM sym s
        JOIN cnt ca ON ca.item = s.item
        JOIN cnt cb ON cb.item = s.neighbor
    ),
    toprec AS (
        SELECT item, neighbor FROM (
            SELECT item, neighbor,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY ROUND(cos, 9) DESC, neighbor)
                       AS rk
            FROM scored
        ) WHERE rk <= {TOP_NEIGHBORS}
    ),
    hold AS (SELECT ok, MAX(item) AS h FROM bk GROUP BY ok),
    ctx AS (
        SELECT bk.ok, bk.item FROM bk JOIN hold ON hold.ok = bk.ok
        WHERE bk.item <> hold.h
    ),
    hits AS (
        SELECT DISTINCT c.ok
        FROM ctx c
        JOIN toprec t ON t.item = c.item
        JOIN hold ON hold.ok = c.ok AND hold.h = t.neighbor
    )
    SELECT CAST((SELECT COUNT(*) FROM hold) AS BIGINT) AS n_baskets,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((2 * CAST((SELECT COUNT(*) FROM hits) AS HUGEINT) * 1000000
                 + (SELECT COUNT(*) FROM hold))
                // (2 * CAST((SELECT COUNT(*) FROM hold) AS HUGEINT))
                AS BIGINT) AS hit_rate_micro
    """,
    doc="Leave-one-out hit-rate evaluation of the item-item recommender: "
    "per kept basket of >= 2 items, hold out the highest part key "
    "(deterministic holdout), and score a HIT when any remaining "
    "context item's top-3 neighbor list contains it — the standard "
    "co-occurrence recommender eval, completing the build "
    "(recs_item_cooccurrence) -> audit (recs_catalog_coverage) -> "
    "eval triple. Lists are trained on FULL baskets (in-sample, the "
    "recs_markov_next_event convention — documented); the list "
    "construction is the cooccurrence build repeated verbatim (a "
    "semantics change MUST edit all three). Exact counts, half-away "
    "micro rate.",
)
def recs_basket_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the recommender build plan, a per-basket max
    holdout aggregate, a cap-bounded context join against the 3-row
    per-item lists, one distinct + counts — nothing beyond the build's
    documented fanout."""
    rec = recs_item_cooccurrence(spark, sf_dir).select("item", "neighbor")
    li = load_fixture(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    kept = (
        b.groupBy("ok")
        .agg(F.count(F.lit(1)).alias("bs"))
        .filter((F.col("bs") <= BASKET_CAP) & (F.col("bs") >= 2))
        .select("ok")
    )
    bk = cut(b.join(kept, "ok", "left_semi"))
    hold = bk.groupBy("ok").agg(F.max("item").alias("h"))
    ctx = bk.join(hold, "ok").filter(F.col("item") != F.col("h"))
    hits = (
        ctx.join(rec, "item")
        .filter(F.col("neighbor") == F.col("h"))
        .select("ok")
        .distinct()
    )
    nb = hold.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    nh = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    return nb.crossJoin(F.broadcast(nh)).selectExpr(
        "n_baskets",
        "n_hits",
        "CAST((2 * CAST(n_hits AS DECIMAL(38,0)) * 1000000 + n_baskets)"
        " div (2 * CAST(n_baskets AS DECIMAL(38,0))) AS BIGINT)"
        " AS hit_rate_micro",
    )


# --- at-rest co-occurrence list artifact (the kNN-artifact treatment,
# generalized: r10 measured the build at a 2.54x/8x constant re-executed
# by each of the three recsys consumers). Keyed by lineitem identity +
# version + a hash of _RECS_LISTS_SPEC; storage, orphan GC and race
# handling live in operators/artifacts.py. ------------------------------
_RECS_BUILD_VERSION = "v2"  # bump when the cooccurrence construction changes


def _recs_artifact_dir(sf_dir: str) -> str:
    import os

    from ..operators.artifacts import artifact_dir

    return artifact_dir(
        "recs_lists",
        os.path.join(sf_dir, "lineitem.parquet"),
        _RECS_BUILD_VERSION,
        _RECS_LISTS_SPEC,
    )


def _recs_shape_summary(lists: DataFrame) -> DataFrame:
    """Shape-row builder for the co-occurrence list artifact (VERDICT
    r11 #3): computed from the published list parquet at publish time,
    served as an O(1) one-row scan by recs_lists_materialize. Columns
    and types mirror the materialize oracle exactly."""
    return lists.agg(
        F.countDistinct("item").cast("bigint").alias("n_items_with_lists"),
        F.count(F.lit(1)).cast("bigint").alias("n_list_rows"),
        F.countDistinct("neighbor").cast("bigint").alias(
            "n_distinct_recommended"
        ),
        F.sum("together").cast("bigint").alias("sum_together"),
    )


def _recs_lists_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 co-occurrence lists served from the at-rest parquet
    artifact, building once per fixture (atomic rename; a concurrent
    builder loses harmlessly — see operators/artifacts.py). The artifact
    holds exactly recs_item_cooccurrence's output relation."""
    import os

    from ..operators.artifacts import serve_at_rest

    return serve_at_rest(
        spark,
        "recs_lists",
        os.path.join(sf_dir, "lineitem.parquet"),
        _RECS_BUILD_VERSION,
        _RECS_LISTS_SPEC,
        lambda: _build_item_cooccurrence(spark, sf_dir),
        summary=_recs_shape_summary,
    )


@register(
    "recs_lists_materialize",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (
        SELECT ok FROM b GROUP BY ok HAVING COUNT(*) <= {BASKET_CAP}
    ),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    cnt AS (SELECT item, COUNT(*) AS c FROM bk GROUP BY item),
    co AS (
        SELECT a.item AS ia, bb.item AS ib, COUNT(*) AS together
        FROM bk a JOIN bk bb ON a.ok = bb.ok AND a.item < bb.item
        GROUP BY a.item, bb.item
        HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    sym AS (
        SELECT ia AS item, ib AS neighbor, together FROM co
        UNION ALL
        SELECT ib AS item, ia AS neighbor, together FROM co
    ),
    scored AS (
        SELECT s.item, s.neighbor, s.together,
               CAST(s.together AS DOUBLE)
                   / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cos
        FROM sym s
        JOIN cnt ca ON ca.item = s.item
        JOIN cnt cb ON cb.item = s.neighbor
    ),
    lists AS (
        SELECT item, neighbor, together FROM (
            SELECT item, neighbor, together,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY ROUND(cos, 9) DESC, neighbor)
                       AS rk
            FROM scored
        ) WHERE rk <= {TOP_NEIGHBORS}
    )
    SELECT CAST((SELECT COUNT(DISTINCT item) FROM lists) AS BIGINT)
               AS n_items_with_lists,
           CAST((SELECT COUNT(*) FROM lists) AS BIGINT) AS n_list_rows,
           CAST((SELECT COUNT(DISTINCT neighbor) FROM lists) AS BIGINT)
               AS n_distinct_recommended,
           CAST((SELECT SUM(together) FROM lists) AS BIGINT)
               AS sum_together
    FROM (SELECT 1)
    """,
    doc="Build (or reuse) the at-rest top-3 co-occurrence list artifact "
    "and report its shape — the recsys family's index-build op, the "
    "basket analogue of graph_knn_materialize: the returned counts "
    "are computed FROM the published parquet AT PUBLISH ("
    "steady-state serves are an O(1) one-row scan; tests/"
    "test_artifact_summaries.py recounts the full artifact and "
    "asserts agreement), so the driver hash-match against "
    "the plain cooccurrence CTE proves the materialized lists (not "
    "just the in-memory build) agree with the semantic spec. The "
    "three recsys consumers scan this artifact instead of re-running "
    "the basket self-join per query (measured: the build alone is a "
    "2.54x/8x constant).",
)
def recs_lists_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the basket self-join runs at most once per fixture;
    steady-state serves are a one-row scan of the published shape
    summary (tests/test_artifact_summaries.py recounts
    the full artifact and asserts agreement)."""
    import os

    from ..operators.artifacts import serve_summary_at_rest

    return serve_summary_at_rest(
        spark,
        "recs_lists",
        os.path.join(sf_dir, "lineitem.parquet"),
        _RECS_BUILD_VERSION,
        _RECS_LISTS_SPEC,
        lambda: _build_item_cooccurrence(spark, sf_dir),
        _recs_shape_summary,
    )


@register(
    "recs_popularity_baseline_eval",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (
        SELECT ok FROM b GROUP BY ok
        HAVING COUNT(*) <= {BASKET_CAP} AND COUNT(*) >= 2
    ),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    pop AS (
        SELECT item FROM (
            SELECT item, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, item)
                       AS rk
            FROM bk GROUP BY item
        ) WHERE rk <= {TOP_NEIGHBORS}
    ),
    hold AS (SELECT ok, MAX(item) AS h FROM bk GROUP BY ok),
    hits AS (
        SELECT DISTINCT hold.ok FROM hold JOIN pop ON pop.item = hold.h
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets FROM hold),
    nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits)
    SELECT n_baskets, n_hits,
           CAST((2 * CAST(n_hits AS HUGEINT) * 1000000 + n_baskets)
                // (2 * CAST(n_baskets AS HUGEINT)) AS BIGINT)
               AS hit_rate_micro
    FROM nb, nh
    """,
    doc="Popularity-baseline recommender eval under the SAME leave-one-"
    "out protocol as recs_basket_holdout_eval (identical kept-basket "
    "relation, identical max-item holdout): recommend the global top-"
    f"{TOP_NEIGHBORS} most-frequent items (ties -> lower item id) to "
    "every basket and report the holdout hit rate — the non-"
    "personalized floor every collaborative filter must beat (the "
    "standard most-popular baseline of recommender evaluation; a CF "
    "hit rate below this line means the co-occurrence signal adds "
    "nothing). Read beside recs_basket_holdout_eval: same n_baskets "
    "row, directly comparable hit_rate_micro. All exact integer "
    "counts; the rate is half-away micro under HUGEINT/DECIMAL(38,0).",
)
def recs_popularity_baseline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct + size-filter pass over baskets (the
    holdout-eval relation), a |items|-row count with a top-3 window on
    the single ordered partition of the COUNTED relation (|items| rows,
    not facts), one broadcast semi-join, two 1-row reduces."""
    li = load_fixture(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    kept = (
        b.groupBy("ok")
        .agg(F.count(F.lit(1)).alias("bs"))
        .filter((F.col("bs") <= BASKET_CAP) & (F.col("bs") >= 2))
        .select("ok")
    )
    bk = cut(b.join(kept, "ok", "left_semi"))
    cnt = bk.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.orderBy(F.col("c").desc(), F.col("item"))
    pop = (
        cnt.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= TOP_NEIGHBORS)
        .select("item")
    )
    hold = bk.groupBy("ok").agg(F.max("item").alias("h"))
    hits = hold.join(
        F.broadcast(pop.select(F.col("item").alias("h"))), "h", "left_semi"
    ).select("ok")
    nb = hold.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    nh = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    return nb.crossJoin(F.broadcast(nh)).selectExpr(
        "n_baskets",
        "n_hits",
        "CAST((2 * CAST(n_hits AS DECIMAL(38,0)) * 1000000 + n_baskets)"
        " div (2 * CAST(n_baskets AS DECIMAL(38,0))) AS BIGINT)"
        " AS hit_rate_micro",
    )


@register(
    "recs_item_novelty",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (
        SELECT ok FROM b GROUP BY ok HAVING COUNT(*) <= {BASKET_CAP}
    ),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM bk GROUP BY item),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM kept),
    co AS (
        SELECT a.item AS ia, bb.item AS ib, COUNT(*) AS together
        FROM bk a JOIN bk bb ON a.ok = bb.ok AND a.item < bb.item
        GROUP BY a.item, bb.item
        HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    sym AS (
        SELECT ia AS item, ib AS neighbor, together FROM co
        UNION ALL
        SELECT ib AS item, ia AS neighbor, together FROM co
    ),
    scored AS (
        SELECT s.item, s.neighbor,
               CAST(s.together AS DOUBLE)
                   / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cos
        FROM sym s
        JOIN cnt ca ON ca.item = s.item
        JOIN cnt cb ON cb.item = s.neighbor
    ),
    lists AS (
        SELECT item, neighbor FROM (
            SELECT item, neighbor,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY ROUND(cos, 9) DESC, neighbor)
                       AS rk
            FROM scored
        ) WHERE rk <= {TOP_NEIGHBORS}
    ),
    nov AS (
        SELECT CAST(ROUND((ln(CAST((SELECT n FROM nb) AS DOUBLE))
                           - ln(CAST(cnt.c AS DOUBLE)))
                          / CAST(0.6931471805599453 AS DOUBLE), 9)
                    AS DECIMAL(18,9)) AS bits,
               cnt.c AS c
        FROM lists JOIN cnt ON cnt.item = lists.neighbor
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_list_rows,
           ROUND(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 6)
               AS mean_novelty_bits,
           CAST((2 * CAST(SUM(c) AS HUGEINT) * 1000000
                 + COUNT(*) * (SELECT n FROM nb))
                // (2 * CAST(COUNT(*) AS HUGEINT) * (SELECT n FROM nb))
                AS BIGINT) AS mean_pop_micro
    FROM nov
    """,
    doc="Catalog novelty of the recommendation lists: the mean self-"
    "information -log2 pop(j) of recommended neighbors, pop(j) = "
    "basket share of j among kept baskets (Vargas & Castells 2011's "
    "novelty axis — the popularity-bias audit read BESIDE the "
    "accuracy evals: a recommender can beat the popularity baseline "
    "on hit rate while recommending nothing but head items; this "
    "measures exactly that). Consumes the at-rest co-occurrence list "
    "artifact like the other recsys evals; popularity comes from the "
    "identical kept-basket relation the lists were built from. Each "
    "neighbor's bits = (ln n - ln c)/ln2 is one identical double "
    "sequence per engine, rounded 9 dp and DECIMAL-summed order-"
    "independently; the mean popularity is exact half-away micro "
    "(sum c over rows*n) under HUGEINT/DECIMAL(38,0).",
)
def recs_item_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the list relation is an at-rest artifact scan; the
    popularity relation is one |items|-row aggregate broadcast into
    the |items|*3-row join; one 1-row reduce."""
    li = load_fixture(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    kept = cut(
        b.groupBy("ok")
        .agg(F.count(F.lit(1)).alias("bs"))
        .filter(F.col("bs") <= BASKET_CAP)
        .select("ok")
        # two consumers below (the semi-join and the basket count);
        # truncating here also lets the (ok, item) exchange feeding the
        # groupBy be reused for the semi-join probe
    )
    cnt = (
        b.join(kept, "ok", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    nb = kept.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    lists = _recs_lists_at_rest(spark, sf_dir).select(
        F.col("neighbor").alias("item")
    )
    nov = (
        lists.join(F.broadcast(cnt), "item")
        .crossJoin(F.broadcast(nb))
        .selectExpr(
            "CAST(ROUND((ln(CAST(n AS DOUBLE)) - ln(CAST(c AS DOUBLE)))"
            " / CAST(0.6931471805599453 AS DOUBLE), 9) AS DECIMAL(18,9))"
            " AS bits",
            "c",
            "n",
        )
    )
    return nov.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_list_rows"),
        F.expr("ROUND(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 6)").alias(
            "mean_novelty_bits"
        ),
        F.expr(
            "CAST((2 * CAST(SUM(c) AS DECIMAL(38,0)) * 1000000"
            " + COUNT(*) * n)"
            " div (2 * CAST(COUNT(*) AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("mean_pop_micro"),
    ).drop("n")


@register(
    "recs_gini_diversity",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
    ),
    kept AS (
        SELECT ok FROM b GROUP BY ok HAVING COUNT(*) <= {BASKET_CAP}
    ),
    bk AS (SELECT b.ok, b.item FROM b JOIN kept USING (ok)),
    cnt AS (SELECT item, COUNT(*) AS c FROM bk GROUP BY item),
    co AS (
        SELECT a.item AS ia, bb.item AS ib, COUNT(*) AS together
        FROM bk a JOIN bk bb ON a.ok = bb.ok AND a.item < bb.item
        GROUP BY a.item, bb.item
        HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    sym AS (
        SELECT ia AS item, ib AS neighbor, together FROM co
        UNION ALL
        SELECT ib AS item, ia AS neighbor, together FROM co
    ),
    scored AS (
        SELECT s.item, s.neighbor,
               CAST(s.together AS DOUBLE)
                   / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cos
        FROM sym s
        JOIN cnt ca ON ca.item = s.item
        JOIN cnt cb ON cb.item = s.neighbor
    ),
    lists AS (
        SELECT item, neighbor FROM (
            SELECT item, neighbor,
                   ROW_NUMBER() OVER (PARTITION BY item
                                      ORDER BY ROUND(cos, 9) DESC, neighbor)
                       AS rk
            FROM scored
        ) WHERE rk <= {TOP_NEIGHBORS}
    ),
    expo AS (
        SELECT cnt.item,
               CAST(COUNT(lists.neighbor) AS BIGINT) AS e
        FROM cnt LEFT JOIN lists ON lists.neighbor = cnt.item
        GROUP BY cnt.item
    ),
    ranked AS (
        SELECT e, ROW_NUMBER() OVER (ORDER BY e, item) AS i,
               COUNT(*) OVER () AS m
        FROM expo
    ),
    agg AS (
        SELECT CAST(MAX(m) AS BIGINT) AS m,
               CAST(SUM(e) AS HUGEINT) AS se,
               CAST(SUM(CAST(i AS HUGEINT) * e) AS HUGEINT) AS sie,
               CAST(SUM(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exposed
        FROM ranked
    )
    SELECT m AS n_items, n_exposed AS n_exposed_items,
           CAST(se AS BIGINT) AS n_exposures,
           ROUND(2.0 * CAST(sie AS DOUBLE)
                 / (CAST(m AS DOUBLE) * CAST(se AS DOUBLE))
                 - (CAST(m AS DOUBLE) + 1.0) / CAST(m AS DOUBLE), 6)
               AS gini
    FROM agg
    """,
    doc="Gini concentration of recommendation EXPOSURE over the whole "
    "recommendable catalog (every item in a kept basket, zero-exposure "
    "items included): exposure = how many top-3 lists an item appears "
    "in, G = 2*sum(i*e_(i))/(m*sum e) - (m+1)/m over rank-ordered "
    "counts — the aggregate-diversity audit beside recs_item_novelty "
    "(novelty scores WHAT gets recommended, this measures how "
    "unequally exposure is allocated — the long-tail starvation "
    "number; Fleder & Hosanagar's concentration effect). Consumes the "
    "at-rest list artifact; exposure counts and rank-weighted sums "
    "are exact integers (ranks tie-break on item id), the Gini is "
    "the agg_gini_concentration double sequence.",
)
def recs_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the list relation is an at-rest artifact scan; the
    catalog relation is one |items|-row aggregate; the exact global
    rank rides two_level_cumsum (no single-partition sort); one 1-row
    reduce."""
    from ..operators.stats import two_level_cumsum

    li = load_fixture(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    kept = (
        b.groupBy("ok")
        .agg(F.count(F.lit(1)).alias("bs"))
        .filter(F.col("bs") <= BASKET_CAP)
        .select("ok")
    )
    cnt = (
        b.join(kept, "ok", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("item")
    )
    lists = _recs_lists_at_rest(spark, sf_dir).select(
        F.col("neighbor").alias("item")
    )
    expo = (
        cnt.join(
            lists.groupBy("item").agg(F.count(F.lit(1)).alias("e0")),
            "item",
            "left",
        )
        .select(
            "item", F.coalesce("e0", F.lit(0)).cast("bigint").alias("e")
        )
    )
    ranked = two_level_cumsum(
        expo.withColumn("_one", F.lit(1)),
        key_cols=[],
        value_col="e",
        tiebreak_cols=["item"],
        sum_cols={"i": "_one"},
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("e").cast("decimal(38,0)").alias("se"),
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("e"))
        .cast("decimal(38,0)")
        .alias("sie"),
        F.sum(F.when(F.col("e") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exposed"),
    )
    return agg.selectExpr(
        "m AS n_items",
        "n_exposed AS n_exposed_items",
        "CAST(se AS BIGINT) AS n_exposures",
        "ROUND(2.0 * CAST(sie AS DOUBLE)"
        " / (CAST(m AS DOUBLE) * CAST(se AS DOUBLE))"
        " - (CAST(m AS DOUBLE) + 1.0) / CAST(m AS DOUBLE), 6) AS gini",
    )
