"""Retrieval / graph / sketch queries: inverted index, TF-IDF, BM25,
fixed-iteration PageRank, and a count-min sketch — the corpus-exploration
layer of the large-scale pipeline (operators in operators/search.py,
operators/graph.py, operators/sketches.py).

Oracle discipline (hard-won, see operators/graph.py docstring): DuckDB
parses bare numeric literals as DECIMAL, so every constant that touches a
double is written CAST(x AS DOUBLE) with a decimal string that is exactly
the python literal used on the Spark side; every ranking rounds before
ordering and carries a deterministic tie-break key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_fixture
from ..operators.graph import pagerank
from ..operators.search import bm25_search, inverted_index, tfidf_top_terms, tokenize
from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_build, cms_estimate
from ..plans.lineage import cut
from ..registry import register

_TOK = "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents"

BM25_QUERY_TERMS = ["spark", "hash", "window", "vector"]


@register(
    "text_inverted_index",
    oracle=f"""
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM (SELECT DISTINCT doc_id, term FROM ({_TOK}))
    GROUP BY term
    """,
    doc="Inverted index build: term -> document frequency + sorted postings "
    "CSV. One shuffle on term; postings ordered so shards merge by key "
    "range. Reference has no search layer; this is the training-pipeline "
    "extension (SURVEY.md north star).",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inverted_index(load_fixture(spark, sf_dir, "documents"))


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH tok AS ({_TOK}),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               (CAST(tf.c AS DOUBLE) / CAST(dl.dl AS DOUBLE))
               * (ln((CAST(1.0 AS DOUBLE) + nn.n) / (CAST(1.0 AS DOUBLE) + CAST(dfreq.df AS DOUBLE)))
                  + CAST(1.0 AS DOUBLE)) AS score
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN nn
    )
    SELECT doc_id, term, CAST(rk AS INTEGER) AS rk, ROUND(score, 6) AS tfidf
    FROM (
        SELECT doc_id, term, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY ROUND(score, 9) DESC, term) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
    doc="Top-5 terms per document by smoothed TF-IDF (sklearn-style "
    "idf = ln((1+N)/(1+df)) + 1). df relation broadcast; rank over "
    "ROUND(score,9) with term tie-break for engine-independent selection.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_fixture(spark, sf_dir, "documents"), k=5)


@register(
    "text_bm25_search",
    oracle=f"""
    WITH tok AS ({_TOK}),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
    qtf AS (
        SELECT doc_id, term, COUNT(*) AS c FROM tok
        WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term),
    scored AS (
        SELECT q.doc_id,
               ROUND(SUM(
                   ln(CAST(1.0 AS DOUBLE)
                      + (s.n - CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                   * (CAST(q.c AS DOUBLE) * CAST(2.2 AS DOUBLE))
                   / (CAST(q.c AS DOUBLE)
                      + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * CAST(d.dl AS DOUBLE) / s.avgdl))
               ), 6) AS score
        FROM qtf q JOIN dl d USING (doc_id) JOIN dfreq f USING (term) CROSS JOIN stats s
        GROUP BY q.doc_id
    )
    SELECT doc_id, score, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rk
    FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 20)
    """,
    doc="BM25 top-20 for a fixed bag-of-terms query (k1=1.2, b=0.75). "
    "Distributed TakeOrderedAndProject top-k (no global-window funnel); "
    "per-doc score rounded before ranking so float sum order is moot.",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_search(load_fixture(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=20)


_PR_ITER = """
    i{K} AS (
        SELECT nd.node,
               CAST(0.15 AS DOUBLE) / nn.n
               + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst AS node, SUM(p.r / deg.outdeg) AS s
            FROM e JOIN i{PREV} p ON e.src = p.node JOIN deg ON e.src = deg.src
            GROUP BY e.dst
        ) s ON nd.node = s.node
    )"""


@register(
    "graph_pagerank",
    oracle=(
        """
    WITH e AS (
        SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
    i0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn),"""
        + _PR_ITER.format(K=1, PREV=0)
        + ","
        + _PR_ITER.format(K=2, PREV=1)
        + ","
        + _PR_ITER.format(K=3, PREV=2)
        + """
    SELECT (CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END)
               || CAST(node // 2 AS VARCHAR) AS node,
           ROUND(r, 6) AS pr
    FROM i3
    """
    ),
    doc="PageRank, 3 damped power iterations (d=0.85, dangling mass "
    "dropped as in Page et al.) over the customer->supplier purchase "
    "MULTIGRAPH — each order line is one endorsement, so supplier rank "
    "is purchase-frequency-weighted (and the |E| distinct shuffle "
    "disappears). Fixed iteration count makes the result exact, so the "
    "oracle unrolls the identical recurrence as chained CTEs. Nodes "
    "iterate as packed INTEGER ids (custkey*2 / suppkey*2+1 — 2.3x "
    "cheaper edge shuffles than string ids, measured) and decode to "
    "readable labels only in the final |V|-row projection. Per-iteration "
    "cost: r/outdeg on the |V|-row side, a broadcast (node,w) join onto "
    "the checkpointed edges, one map-side-combined groupBy(dst). "
    "operators/graph.py:pagerank.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_fixture(spark, sf_dir, "orders")
    li = load_fixture(spark, sf_dir, "lineitem")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    ranks = pagerank(edges, iters=3, damping=0.85, teleport=0.15, dedupe_edges=False)
    return ranks.select(
        F.expr("concat(if(node % 2 = 0, 'c', 's'), cast(node div 2 as string))").alias(
            "node"
        ),
        F.round("r", 6).alias("pr"),
    )


def _hex4_mod_sql(md5_expr: str, width: int) -> str:
    """DuckDB int value of the first 4 hex chars of ``md5_expr`` mod width
    (the portable twin of Spark's conv(substring(md5,1,4),16,10) % width)."""
    digit = "(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    val = " + ".join(
        f"{digit.format(h=md5_expr, i=i + 1)} * {16 ** (3 - i)}" for i in range(4)
    )
    return f"CAST(({val}) % {width} AS INTEGER)"


@register(
    "sketch_cms_wordfreq",
    oracle=f"""
    WITH tok AS ({_TOK}),
    counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY term),
    grid AS (
        SELECT c.term, j.j,
               {_hex4_mod_sql("md5(CAST(j.j AS VARCHAR) || ':' || c.term)", CMS_WIDTH)} AS col
        FROM counts c CROSS JOIN (VALUES (0), (1), (2), (3)) j(j)
    ),
    bsum AS (
        SELECT g.j, g.col, SUM(c.exact_cnt) AS cnt
        FROM grid g JOIN counts c USING (term)
        GROUP BY g.j, g.col
    )
    SELECT c.term, c.exact_cnt, CAST(e.est AS BIGINT) AS est_cnt
    FROM counts c
    JOIN (
        SELECT g.term, MIN(b.cnt) AS est
        FROM grid g JOIN bsum b ON g.j = b.j AND g.col = b.col
        GROUP BY g.term
    ) e USING (term)
    """,
    doc=f"Count-min sketch ({CMS_DEPTH}x{CMS_WIDTH}, md5 hash family) word "
    "frequencies next to exact counts. The Spark build is the real "
    "distributed shape — mapInPandas partial grids merged by a "
    "depth*width-row SUM shuffle (size independent of key cardinality) — "
    "and the md5 hashing makes every cell, hence every estimate, exactly "
    "reproducible in ANSI SQL. operators/sketches.py.",
)
def sketch_cms_wordfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    tok = tokenize(d)
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    sketch = cms_build(tok)
    est = cms_estimate(sketch, exact.select("term")).withColumnRenamed("est", "est_cnt")
    return exact.join(est, "term")


@register(
    "text_keyword_search",
    oracle=f"""
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM (SELECT DISTINCT doc_id, term FROM ({_TOK}))
    WHERE term IN ('spark', 'hash', 'vector')
    GROUP BY doc_id
    HAVING COUNT(*) = 3
    """,
    doc="Conjunctive (AND) keyword search: documents containing ALL query "
    "terms, via the inverted-index relation — a semi-join per term "
    "collapsed into one group-count-equals filter; one shuffle on doc_id "
    "over only the matching postings, never a corpus scan per term. The "
    "boolean-retrieval complement to ranked BM25.",
)
def text_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["spark", "hash", "vector"]
    d = load_fixture(spark, sf_dir, "documents")
    tok = tokenize(d).distinct().filter(F.col("term").isin(terms))
    return (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"))
        .filter(F.col("n_terms_hit") == len(terms))
    )


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents
    ),
    bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
        FROM tok, UNNEST(range(1, len(ws))) AS t(i)
        WHERE len(ws) >= 2
    ),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    pair AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    vocab AS (SELECT CAST(COUNT(DISTINCT w1) AS DOUBLE) AS v FROM uni),
    scored AS (
        SELECT b.doc_id,
               CAST(ROUND(ln((CAST(p.c2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                             / (CAST(u.c1 AS DOUBLE) + vocab.v)), 9)
                    AS DECIMAL(18, 9)) AS lp
        FROM bg b
        JOIN pair p ON b.w1 = p.w1 AND b.w2 = p.w2
        JOIN uni u ON b.w1 = u.w1
        CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM scored
    GROUP BY doc_id
    """,
    doc="Bigram language-model scoring with add-one smoothing: mean "
    "log P(w_i | w_{i-1}) per document against corpus-wide bigram stats — "
    "the perplexity-style quality filter of a training-data pipeline. "
    "Count relations are |vocab|-sized broadcasts; the float discipline "
    "is load-bearing: each log-prob is rounded to 9 dp and summed as "
    "DECIMAL(18,9) (exact, order-independent) before the final double "
    "projection, so engine summation order cannot flip the hash.",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    ws = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    tok = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 2)
    bg = tok.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.size("ws") - 1),
                F.slice(F.col("ws"), 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # one aggregation of the token stream; unigram counts and vocab size
    # derive from the (much smaller) pair relation instead of rescanning
    # the exploded bigrams — sum of pair counts per w1 IS the w1 count
    # (exact integer identity), so the scored values are unchanged
    pair = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = pair.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = uni.agg(F.count_distinct("w1").cast("double").alias("v"))
    lp = F.round(
        F.log(
            (F.col("c2").cast("double") + F.lit(1.0))
            / (F.col("c1").cast("double") + F.col("v"))
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        bg.join(F.broadcast(pair), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logprob"),
        )
    )


@register(
    "text_phrase_search",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ), p AS (
        SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos, toks FROM t
    ), w AS (
        SELECT doc_id, pos, toks[pos] AS term FROM p
    )
    SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM w a JOIN w b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'table' AND b.term = 'hash'
    GROUP BY a.doc_id
    """,
    doc="Exact phrase search ('table hash') over positional postings: "
    "tokenize with positions, filter each side to one term's postings "
    "(pushdown), adjacency equi-join on (doc, pos+1). The positional "
    "complement of the conjunctive keyword search — k-word phrases chain "
    "k-1 joins, each shrinking candidates (operators/search.py:"
    "phrase_search).",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.search import phrase_search

    return phrase_search(load_fixture(spark, sf_dir, "documents"), ["table", "hash"])


_Q_IN = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

_RANKER_CTES = f"""
    WITH tok AS ({_TOK}),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    qtf AS (
        SELECT doc_id, term, COUNT(*) AS c FROM tok
        WHERE term IN ({_Q_IN})
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY term),
    bm_scored AS (
        SELECT q.doc_id,
               ROUND(SUM(
                   ln(CAST(1.0 AS DOUBLE)
                      + (s.n - CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                   * (CAST(q.c AS DOUBLE) * CAST(2.2 AS DOUBLE))
                   / (CAST(q.c AS DOUBLE)
                      + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * CAST(d.dl AS DOUBLE) / s.avgdl))
               ), 6) AS score
        FROM qtf q JOIN dl d USING (doc_id) JOIN dfreq f USING (term) CROSS JOIN stats s
        GROUP BY q.doc_id
    ),
    tf_scored AS (
        SELECT q.doc_id,
               ROUND(SUM(
                   (CAST(q.c AS DOUBLE) / CAST(d.dl AS DOUBLE))
                   * (ln((CAST(1.0 AS DOUBLE) + nn.n)
                         / (CAST(1.0 AS DOUBLE) + CAST(f.df AS DOUBLE)))
                      + CAST(1.0 AS DOUBLE))
               ), 6) AS score
        FROM qtf q JOIN dl d USING (doc_id) JOIN dfreq f USING (term) CROSS JOIN nn
        GROUP BY q.doc_id
    ),
    bmr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
        FROM (SELECT * FROM bm_scored ORDER BY score DESC, doc_id LIMIT 20)
    ),
    tfr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
        FROM (SELECT * FROM tf_scored ORDER BY score DESC, doc_id LIMIT 20)
    )"""


@register(
    "rank_fusion_rrf",
    oracle=_RANKER_CTES
    + """,
    fused AS (
        SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id,
               CAST(b.rk AS INTEGER) AS rk_bm25,
               CAST(t.rk AS INTEGER) AS rk_tfidf,
               ROUND(
                   COALESCE(CAST(1.0 AS DOUBLE)
                            / (CAST(60.0 AS DOUBLE) + CAST(b.rk AS DOUBLE)),
                            CAST(0.0 AS DOUBLE))
                   + COALESCE(CAST(1.0 AS DOUBLE)
                              / (CAST(60.0 AS DOUBLE) + CAST(t.rk AS DOUBLE)),
                              CAST(0.0 AS DOUBLE)), 6) AS rrf
        FROM bmr b FULL OUTER JOIN tfr t ON b.doc_id = t.doc_id
    )
    SELECT doc_id, rk_bm25, rk_tfidf, rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rk
    FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 10)
    """,
    doc="Reciprocal-rank fusion (c=60) of the BM25 top-20 and the summed "
    "TF-IDF top-20 for the fixed query — the calibration-free ensemble "
    "merge used to combine lexical and vector retrieval runs. Both input "
    "rankings and the fused ranking round before ordering and tie-break "
    "on doc_id, so the fused top-10 — including the interleaving of "
    "docs present in only one list — is engine-independent. The fusion "
    "join touches two <=20-row relations; all heavy lifting stays in "
    "the two independent TakeOrderedAndProject top-k scans "
    "(operators/search.py:rrf_fuse).",
)
def rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.search import rrf_fuse

    return rrf_fuse(load_fixture(spark, sf_dir, "documents"), BM25_QUERY_TERMS)


from .recsys import copurchase_edges as _copurchase_edges
from .recsys import copurchase_sql as _copurchase_sql



_LPA_ITER = """
    l{K} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, p.label,
                   ROW_NUMBER() OVER (PARTITION BY e.dst
                                      ORDER BY COUNT(*) DESC, p.label) AS rk
            FROM e JOIN l{PREV} p ON e.src = p.node
            GROUP BY e.dst, p.label
        ) WHERE rk = 1
    )"""


@register(
    "graph_label_propagation",
    oracle=(
        f"""
    WITH {_copurchase_sql("e")},
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),"""
        + _LPA_ITER.format(K=1, PREV=0)
        + ","
        + _LPA_ITER.format(K=2, PREV=1)
        + ","
        + _LPA_ITER.format(K=3, PREV=2)
        + """
    SELECT CAST(node AS BIGINT) AS part_id,
           CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM l3
    """
    ),
    doc="Community detection by synchronous label propagation (Raghavan "
    "et al. 2007), 3 deterministic rounds (max-count neighbor label, "
    "smallest-id tie-break) over the co-purchase graph: parts bought "
    "together in >= 2 orders (same basket-cap guard as "
    "recs_item_cooccurrence). Fixed rounds + integer labels make the "
    "result exact, so the oracle unrolls the identical recurrence as "
    "chained CTEs (the graph_pagerank idiom). "
    "operators/graph.py:label_propagation.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the basket self-join is bounded by the 32-item cap
    (cap^2 pairs per order max); per LPA round one labels->edges
    equi-join (labels are |V| rows — AQE broadcasts while they fit),
    one combined vote count, one per-node window. No all-pairs, no
    driver sync; community size is a |V|-row window at the end."""
    from ..operators.graph import label_propagation

    li = load_fixture(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    labels = label_propagation(edges, iters=3)
    from pyspark.sql.window import Window

    wsz = Window.partitionBy("label")
    return labels.select(
        F.col("node").cast("bigint").alias("part_id"),
        F.col("label").cast("bigint").alias("community"),
        F.count(F.lit(1)).over(wsz).cast("bigint").alias("community_size"),
    )


_BLOOM_POS = _hex4_mod_sql(
    "md5(CAST(j AS VARCHAR) || ':' || CAST(key AS VARCHAR))", 512
)


@register(
    "sketch_bloom_filter_join",
    oracle=f"""
    WITH bkeys AS (
        SELECT DISTINCT c_custkey AS key FROM customer WHERE c_nationkey = 7
    ),
    js AS (SELECT unnest([0, 1, 2, 3]) AS j),
    bpos AS (
        SELECT DISTINCT {_BLOOM_POS} AS pos FROM bkeys CROSS JOIN js
    ),
    pkeys AS (SELECT DISTINCT o_custkey AS key FROM orders),
    pp AS (SELECT key, {_BLOOM_POS} AS pos FROM pkeys CROSS JOIN js),
    hits AS (
        SELECT key FROM pp JOIN bpos USING (pos)
        GROUP BY key HAVING COUNT(*) = 4
    ),
    flags AS (
        SELECT p.key,
               CASE WHEN h.key IS NOT NULL THEN 1 ELSE 0 END AS pss,
               CASE WHEN b.key IS NOT NULL THEN 1 ELSE 0 END AS isb
        FROM pkeys p
        LEFT JOIN hits h ON p.key = h.key
        LEFT JOIN bkeys b ON p.key = b.key
    ),
    ks AS (
        SELECT COUNT(*) AS n_probe_keys, SUM(pss) AS n_pass_bloom,
               SUM(pss * isb) AS n_true_match
        FROM flags
    ),
    ord AS (
        SELECT COUNT(*) AS n_orders_total, SUM(f.pss) AS n_orders_kept
        FROM orders o JOIN flags f ON o.o_custkey = f.key
    ),
    bs AS (SELECT COUNT(*) AS n_build_keys FROM bkeys)
    SELECT CAST(n_build_keys AS BIGINT) AS n_build_keys,
           CAST(n_probe_keys AS BIGINT) AS n_probe_keys,
           CAST(n_pass_bloom AS BIGINT) AS n_pass_bloom,
           CAST(n_true_match AS BIGINT) AS n_true_match,
           CAST(n_pass_bloom - n_true_match AS BIGINT) AS n_false_positive,
           ROUND(CAST(n_pass_bloom - n_true_match AS DOUBLE)
                 / CAST(NULLIF(n_probe_keys - n_true_match, 0) AS DOUBLE),
                 6) AS fp_rate,
           CAST(n_orders_total AS BIGINT) AS n_orders_total,
           CAST(n_orders_kept AS BIGINT) AS n_orders_kept
    FROM ks CROSS JOIN ord CROSS JOIN bs
    """,
    doc="Bloom-filter join pruning (Bloom 1970): a 512-bit / 4-hash "
    "filter built from nation-7 customers prunes the orders probe side "
    "BEFORE the exact join — the standard shuffle-avoidance pattern for "
    "selective joins at warehouse scale. The filter's md5 arithmetic is "
    "deterministic, so the oracle rebuilds the identical filter and the "
    "summary (pass/true-match/false-positive counts, measured FP rate, "
    "orders rows pruned) hash-compares exactly; no false negatives is "
    "structural (n_orders_kept covers every true-match order). "
    "operators/sketches.py:bloom_positions/bloom_prefilter.",
)
def sketch_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the filter relation is <= 512 rows regardless of
    build-side cardinality (positions saturate, then it is a dense
    bitmap) and always broadcasts; the probe side explodes k=4 rows per
    DISTINCT key, joins the broadcast, and one combined groupBy decides
    membership. The exact residual join then touches only the passed
    keys. At 100 TB this is how a selective dim filter reaches the fact
    scan without shuffling the fact table."""
    from ..operators.sketches import bloom_positions, bloom_prefilter

    cust = load_fixture(spark, sf_dir, "customer")
    orders = load_fixture(spark, sf_dir, "orders")
    bkeys = cust.filter(F.col("c_nationkey") == 7).select(
        F.col("c_custkey").alias("key")
    ).distinct()
    pos = bloom_positions(bkeys, "key", m=512, k=4)
    pkeys = orders.select(F.col("o_custkey").alias("key")).distinct()
    # probe with the already-distinct key relation so the orders scan +
    # big distinct run once, not once here and once inside the prefilter
    passed = bloom_prefilter(pkeys, "key", pos, m=512, k=4)
    flags = (
        pkeys.join(passed.withColumn("pss", F.lit(1)), "key", "left")
        .join(bkeys.withColumn("isb", F.lit(1)), "key", "left")
        .select(
            "key",
            F.coalesce("pss", F.lit(0)).alias("pss"),
            F.coalesce("isb", F.lit(0)).alias("isb"),
        )
    )
    ks = flags.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum("pss").alias("n_pass_bloom"),
        F.sum(F.col("pss") * F.col("isb")).alias("n_true_match"),
    )
    ordrow = (
        orders.join(flags, orders["o_custkey"] == flags["key"])
        .agg(
            F.count(F.lit(1)).alias("n_orders_total"),
            F.sum("pss").alias("n_orders_kept"),
        )
    )
    bs = bkeys.agg(F.count(F.lit(1)).alias("n_build_keys"))
    return (
        ks.crossJoin(ordrow)
        .crossJoin(bs)
        .select(
            F.col("n_build_keys").cast("bigint").alias("n_build_keys"),
            F.col("n_probe_keys").cast("bigint").alias("n_probe_keys"),
            F.col("n_pass_bloom").cast("bigint").alias("n_pass_bloom"),
            F.col("n_true_match").cast("bigint").alias("n_true_match"),
            (F.col("n_pass_bloom") - F.col("n_true_match"))
            .cast("bigint")
            .alias("n_false_positive"),
            # NULLIF guard: an all-true-match probe set would divide by
            # zero — Spark yields NULL but DuckDB yields inf; NULL on both
            F.round(
                (F.col("n_pass_bloom") - F.col("n_true_match")).cast("double")
                / F.nullif(
                    F.col("n_probe_keys") - F.col("n_true_match"), F.lit(0)
                ).cast("double"),
                6,
            ).alias("fp_rate"),
            F.col("n_orders_total").cast("bigint").alias("n_orders_total"),
            F.col("n_orders_kept").cast("bigint").alias("n_orders_kept"),
        )
    )


_KMV_K = 64

# Shared synopsis CTEs (also the streaming twin's oracle prefix — one
# definition, so stream_kmv_cardinality can never drift from the batch
# sketch it claims to equal).
_KMV_KEPT_SQL = f"""d AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    hv AS (
        SELECT event_type, user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) / 4294967296.0 AS h
        FROM d
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY h, user_id) AS rk
        FROM hv
    ),
    kept AS (
        SELECT event_type, COUNT(*) AS k_actual, MAX(h) AS h_k
        FROM ranked WHERE rk <= {_KMV_K} GROUP BY event_type
    )"""


@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH {_KMV_KEPT_SQL},
    exact AS (
        SELECT event_type, COUNT(*) AS n_exact FROM d GROUP BY event_type
    )
    SELECT e.event_type, CAST(e.n_exact AS BIGINT) AS n_exact,
           CASE WHEN k.k_actual < {_KMV_K}
                THEN CAST(e.n_exact AS DOUBLE)
                ELSE ROUND(({_KMV_K} - 1) / k.h_k, 4) END AS kmv_est,
           ROUND((CASE WHEN k.k_actual < {_KMV_K}
                       THEN CAST(e.n_exact AS DOUBLE)
                       ELSE ROUND(({_KMV_K} - 1) / k.h_k, 4) END
                  - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE),
                 6) AS rel_error
    FROM exact e JOIN kept k USING (event_type)
    """,
    doc=f"KMV (k-minimum-values) distinct-count sketch, k={_KMV_K} "
    "(Bar-Yossef et al. 2002): per event type, estimate distinct users "
    "as (k-1)/h_(k) over md5 hashes normalized to [0,1). Unlike opaque "
    "HLL registers, the KMV synopsis is a deterministic function of the "
    "data — the oracle rebuilds the identical sketch, so estimate AND "
    "measured relative error hash-compare exactly (the HLL overlap "
    "query's rows-only weakness solved by choosing a reproducible "
    "sketch). h is an exact dyadic rational (32-bit md5 prefix / 2^32), "
    "so the division is float-exact on both engines.",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct on (type, user); k-smallest selection
    runs TWO-LEVEL — rank within 16 md5-prefix buckets in parallel,
    keep k per bucket, then rank the <= 16k survivors per type — so no
    full per-group sort (the global_shuffle_rank discipline applied to
    top-k). The synopsis is k rows per group: mergeable, broadcastable,
    and exactly reproducible anywhere."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    hx = F.md5(F.col("user_id").cast("string"))
    hv = d.select(
        "event_type",
        "user_id",
        (F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
         / F.lit(4294967296.0)).alias("h"),
        (F.conv(F.substring(hx, 1, 2), 16, 10).cast("int") % 16).alias("bucket"),
    )
    w1 = Window.partitionBy("event_type", "bucket").orderBy("h", "user_id")
    pre = hv.withColumn("rn", F.row_number().over(w1)).filter(
        F.col("rn") <= _KMV_K
    )
    w2 = Window.partitionBy("event_type").orderBy("h", "user_id")
    ranked = pre.withColumn("rk", F.row_number().over(w2)).filter(
        F.col("rk") <= _KMV_K
    )
    kept = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k_actual"), F.max("h").alias("h_k")
    )
    exact = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.when(
        F.col("k_actual") < _KMV_K, F.col("n_exact").cast("double")
    ).otherwise(F.round(F.lit(float(_KMV_K - 1)) / F.col("h_k"), 4))
    return exact.join(kept, "event_type").select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        est.alias("kmv_est"),
        F.round(
            (est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_error"),
    )


_FH_DIM = 4096
_FH_BUCKET = _hex4_mod_sql("md5(term)", _FH_DIM)
_FH_SIGN = ("CASE WHEN (strpos('0123456789abcdef', substr(md5(term), 5, 1)) - 1)"
            " % 2 = 0 THEN 1 ELSE -1 END")


@register(
    "text_feature_hashing",
    oracle=f"""
    WITH tok AS ({_TOK}),
    tc AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY doc_id, term),
    hashed AS (
        SELECT doc_id, {_FH_BUCKET} AS bucket, {_FH_SIGN} AS sgn, c
        FROM tc
    ),
    fb AS (
        SELECT doc_id, bucket, CAST(SUM(sgn * c) AS BIGINT) AS val
        FROM hashed GROUP BY doc_id, bucket
        HAVING SUM(sgn * c) <> 0
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(SUM(ABS(val)) AS BIGINT) AS l1_norm,
           md5(string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(val AS VARCHAR),
                          ' ' ORDER BY bucket)) AS features_md5
    FROM fb GROUP BY doc_id
    """,
    doc=f"Feature hashing (Weinberger et al. 2009): {_FH_DIM}-dim signed "
    "hashed bag-of-words per document — bucket = md5(term) mod dim, the "
    "5th-hex-digit parity supplies the collision-unbiasing sign, "
    "sign-cancelled buckets drop out. The sparse vector is graded as an "
    "md5 digest of its sorted bucket:value rendering (the "
    "tokenize_vocab_ids scalar-digest idiom) plus n_features and the L1 "
    "norm as direct integers.",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: token counts and bucket sums are two map-side-
    combined groupBys keyed by (doc, term) then (doc, bucket) — the
    vector never exceeds min(|terms_d|, dim) entries per doc, and the
    digest projection keeps shuffles carrying only integers. The
    hashing trick is exactly the fixed-width trick that makes
    vocabulary-free featurization possible at 100 TB (no vocab
    broadcast, no OOV)."""
    docs = load_fixture(spark, sf_dir, "documents")
    tc = tokenize(docs).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    hx = F.md5(F.col("term"))
    bucket = (F.conv(F.substring(hx, 1, 4), 16, 10).cast("int") % _FH_DIM)
    sgn = F.when(
        F.conv(F.substring(hx, 5, 1), 16, 10).cast("int") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    fb = (
        tc.select("doc_id", bucket.alias("bucket"), (sgn * F.col("c")).alias("sc"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sc").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
    return (
        fb.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.sum(F.abs(F.col("val"))).cast("bigint").alias("l1_norm"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("bucket", "val"))
                        ),
                        lambda f: F.concat_ws(
                            ":", f["bucket"].cast("string"), f["val"].cast("string")
                        ),
                    ),
                    " ",
                )
            ).alias("features_md5"),
        )
    )


_KCORE_K = 3

_KCORE_ROUND = """
    n{K} AS (
        SELECT src AS node FROM e{PREV} GROUP BY src HAVING COUNT(*) >= {KK}
    ),
    e{K} AS (
        SELECT e.src, e.dst FROM e{PREV} e
        JOIN n{K} a ON a.node = e.src
        JOIN n{K} b ON b.node = e.dst
    )"""


@register(
    "graph_kcore_peel",
    oracle=(
        f"""
    WITH {_copurchase_sql("e0")}"""
        + ","
        + _KCORE_ROUND.format(K=1, PREV=0, KK=_KCORE_K)
        + ","
        + _KCORE_ROUND.format(K=2, PREV=1, KK=_KCORE_K)
        + ","
        + _KCORE_ROUND.format(K=3, PREV=2, KK=_KCORE_K)
        + """
    SELECT CAST(src AS BIGINT) AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e3 GROUP BY src
    """
    ),
    doc="Bounded 3-core peeling (3 synchronous drop-degree-<3 rounds) "
    "over the co-purchase graph — the dense-substructure filter used "
    "to separate systematically co-bought assortments from incidental "
    "pairs. Fixed rounds make the survivor set exact (a supergraph of "
    "the true 3-core that every bounded distributed peeler returns), "
    "so the oracle unrolls the identical rounds as chained CTEs. "
    "operators/graph.py:kcore_peel.",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per round one degree count + two semi-joins, all
    equi-joins on node ids; see kcore_peel. Shares the bounded
    basket-cap edge derivation with graph_label_propagation."""
    from ..operators.graph import kcore_peel

    li = load_fixture(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    out = kcore_peel(edges, k=_KCORE_K, rounds=3)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("deg").cast("bigint").alias("deg"),
    )


def _hits_oracle_sql(iters: int = 2, scale: int = 1_000_000) -> str:
    """DuckDB rendering of hits_scores: the recurrence unrolls as chained
    CTEs with the same exact integer max-normalization, hub/authority
    rows union into the labeled output."""
    parts = [f"""
    WITH e AS (
        SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    h0 AS (SELECT DISTINCT src AS node, CAST({scale} AS BIGINT) AS h FROM e)"""]
    prev_h = "h0"
    for t in range(1, iters + 1):
        parts.append(f""",
    a{t}r AS (
        SELECT e.dst, CAST(SUM(h.h) AS BIGINT) AS raw
        FROM e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst
    ),
    a{t}m AS (SELECT MAX(raw) AS m FROM a{t}r),
    a{t} AS (
        SELECT dst, CAST((2 * CAST(raw AS HUGEINT) * {scale} + m) // (2 * CAST(m AS HUGEINT)) AS BIGINT) AS a
        FROM a{t}r CROSS JOIN a{t}m
    ),
    h{t}r AS (
        SELECT e.src, CAST(SUM(a.a) AS BIGINT) AS raw
        FROM e JOIN a{t} a ON e.dst = a.dst GROUP BY e.src
    ),
    h{t}m AS (SELECT MAX(raw) AS m FROM h{t}r),
    h{t} AS (
        SELECT src AS node, CAST((2 * CAST(raw AS HUGEINT) * {scale} + m) // (2 * CAST(m AS HUGEINT)) AS BIGINT) AS h
        FROM h{t}r CROSS JOIN h{t}m
    )""")
        prev_h = f"h{t}"
    parts.append(f"""
    SELECT 'c' || CAST(node // 2 AS VARCHAR) AS node, 'hub' AS role,
           CAST(h AS DOUBLE) / {scale}.0 AS score
    FROM h{iters}
    UNION ALL
    SELECT 's' || CAST(dst // 2 AS VARCHAR), 'authority',
           CAST(a AS DOUBLE) / {scale}.0
    FROM a{iters}""")
    return "".join(parts)


@register(
    "graph_hits_scores",
    oracle=_hits_oracle_sql(2),
    doc="HITS hubs/authorities (Kleinberg 1999), 2 mutual-reinforcement "
    "iterations over the customer->supplier purchase multigraph: "
    "customers are hubs (good buyers endorse good suppliers), suppliers "
    "are authorities. Made associative-exact so the whole trajectory "
    "carries a value oracle: scores live on an integer micro-unit grid "
    "and each side max-normalizes by the half-away integer division "
    "(2v*s + m) div (2m) — no float in the recurrence, unrolled as "
    "chained CTEs (the pagerank idiom, two-sided). "
    "operators/graph.py:hits_scores.",
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: per iteration one broadcastable score join onto the
    checkpointed edges + one map-side-combined groupBy per side and a
    1-value max reduce — the pagerank budget with two sides."""
    from ..operators.graph import hits_scores

    o = load_fixture(spark, sf_dir, "orders")
    li = load_fixture(spark, sf_dir, "lineitem")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    hubs, auth = hits_scores(edges, iters=2)
    return (
        hubs.select(
            F.expr("concat('c', cast(node div 2 as string))").alias("node"),
            F.lit("hub").alias("role"),
            (F.col("h").cast("double") / F.lit(1000000.0)).alias("score"),
        )
        .unionByName(
            auth.select(
                F.expr("concat('s', cast(node div 2 as string))").alias("node"),
                F.lit("authority").alias("role"),
                (F.col("a").cast("double") / F.lit(1000000.0)).alias("score"),
            )
        )
    )


@register(
    "eval_retrieval_ndcg",
    oracle=f"""
    WITH tok AS ({_TOK}),
    c1 AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf1
        FROM tok WHERE term = 'spark' GROUP BY doc_id
    ),
    c2 AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf2
        FROM tok WHERE term = 'vector' GROUP BY doc_id
    ),
    pool AS (
        SELECT c1.doc_id, c1.tf1,
               CAST(LEAST(COALESCE(c2.tf2, 0), 3) AS BIGINT) AS rel
        FROM c1 LEFT JOIN c2 USING (doc_id)
    ),
    ranked AS (
        SELECT doc_id, rel,
               CAST(ROW_NUMBER() OVER (ORDER BY tf1 DESC, doc_id) AS BIGINT) AS rk
        FROM pool
    ),
    ideal AS (
        SELECT rel,
               CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS BIGINT) AS rk
        FROM pool
    ),
    dcg AS (
        SELECT SUM(CAST(ROUND(
                   CAST((1 << rel) - 1 AS DOUBLE) * CAST(0.6931471805599453 AS DOUBLE) / ln(CAST(rk AS DOUBLE) + 1.0),
                   9) AS DECIMAL(18,9))) AS v
        FROM ranked WHERE rk <= 10
    ),
    idcg AS (
        SELECT SUM(CAST(ROUND(
                   CAST((1 << rel) - 1 AS DOUBLE) * CAST(0.6931471805599453 AS DOUBLE) / ln(CAST(rk AS DOUBLE) + 1.0),
                   9) AS DECIMAL(18,9))) AS v
        FROM ideal WHERE rk <= 10
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pool) AS pool_size,
           ROUND(CAST((SELECT v FROM dcg) AS DOUBLE), 6) AS dcg_at_10,
           ROUND(CAST((SELECT v FROM idcg) AS DOUBLE), 6) AS idcg_at_10,
           ROUND(CAST((SELECT v FROM dcg) AS DOUBLE)
                 / NULLIF(CAST((SELECT v FROM idcg) AS DOUBLE), 0.0), 6)
               AS ndcg_at_10
    """,
    doc="nDCG@10 retrieval evaluation: documents matching the query term "
    "('spark') rank by its term frequency, graded relevance comes from "
    "an independent signal (capped tf of 'vector'), and the exponential-"
    "gain DCG is compared to the ideal ordering of the same candidate "
    "pool — the ranking-metrics layer that evaluates BM25/RRF changes "
    "before shipping them. Gains (2^rel - 1) and both orderings are "
    "exact integers with doc_id tie-breaks; each gain/log2(rank+1) term "
    "is one identical double op sequence (gain * ln2 / ln(rk+1)) rounded "
    "to 9 dp and DECIMAL-summed.",
)
def eval_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two filtered term-count aggregates, a pool-sized
    left join, two distributed top-10s — the metric never touches
    the corpus beyond the postings of the two terms."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias(
            "term"
        ),
    )
    c1 = tok.filter(F.col("term") == "spark").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf1")
    )
    c2 = tok.filter(F.col("term") == "vector").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf2")
    )
    pool = c1.join(c2, "doc_id", "left").select(
        "doc_id",
        "tf1",
        F.least(F.coalesce("tf2", F.lit(0)), F.lit(3)).cast("bigint").alias("rel"),
    )
    ranked = pool.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.col("tf1").desc(), "doc_id"))
        .cast("bigint")
        .alias("rk"),
    )
    ideal = pool.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.col("rel").desc(), "doc_id"))
        .cast("bigint")
        .alias("rk"),
    )
    gain = F.expr("cast((1 << cast(rel as int)) - 1 as double)")
    # ln(2) rides both plans as the same decimal literal (never computed:
    # JVM vs libm ln could differ a ulp); ln(rk+1) has identical integer
    # args on both engines
    term = F.round(
        gain * F.lit(0.6931471805599453) / F.log(F.col("rk").cast("double") + F.lit(1.0)),
        9,
    ).cast("decimal(18,9)")
    dcg = ranked.filter(F.col("rk") <= 10).agg(F.sum(term).alias("v"))
    idcg = ideal.filter(F.col("rk") <= 10).agg(F.sum(term).alias("v"))
    n = pool.agg(F.count(F.lit(1)).cast("bigint").alias("pool_size"))
    return (
        n.crossJoin(F.broadcast(dcg.withColumnRenamed("v", "d")))
        .crossJoin(F.broadcast(idcg.withColumnRenamed("v", "i")))
        .select(
            "pool_size",
            F.round(F.col("d").cast("double"), 6).alias("dcg_at_10"),
            F.round(F.col("i").cast("double"), 6).alias("idcg_at_10"),
            F.round(
                F.col("d").cast("double") / F.nullif(F.col("i").cast("double"), F.lit(0.0)),
                6,
            ).alias("ndcg_at_10"),
        )
    )


@register(
    "eval_retrieval_mrr",
    oracle=f"""
    WITH tok AS ({_TOK}),
    cand AS (
        SELECT t.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(MAX(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS rel
        FROM tok t JOIN documents d ON d.doc_id = t.doc_id
        WHERE t.term IN ('spark', 'vector', 'data', 'stream', 'query')
        GROUP BY t.term, t.doc_id
    ),
    ranked AS (
        SELECT term, rel,
               CAST(ROW_NUMBER() OVER (PARTITION BY term
                                       ORDER BY tf DESC, doc_id) AS BIGINT) AS rk
        FROM cand
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MIN(CASE WHEN rel = 1 THEN rk END) AS BIGINT)
               AS first_rel_rank,
           CAST(COALESCE(
               (2 * 1000000 + MIN(CASE WHEN rel = 1 THEN rk END))
               // (2 * MIN(CASE WHEN rel = 1 THEN rk END)), 0) AS DOUBLE)
               / 1000000.0 AS reciprocal_rank,
           CAST(COALESCE(MAX(CASE WHEN rel = 1 AND rk <= 5 THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS hit_at_5
    FROM ranked GROUP BY term
    """,
    doc="Mean-reciprocal-rank retrieval evaluation, per query: five "
    "single-term queries rank their candidate docs by term frequency "
    "(doc_id tie-break), relevance is the independent lang='en' label, "
    "and each query reports the rank of its first relevant hit, the "
    "exact reciprocal rank (half-away micro-rounded 1/rk), and "
    "success@5 — the first-hit metrics that complement "
    "eval_retrieval_ndcg's graded view. The oracle's per-query "
    "ROW_NUMBER is the semantic spec; the engine computes the first "
    "relevant document's rank WITHOUT ranking the list (min_by for the "
    "best relevant doc, then one conditional count of docs ordered "
    "ahead of it), so no per-query sort exists at any scale.",
)
def eval_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: postings-bounded candidate aggregate, a broadcast
    |queries|-row best-hit relation, one conditional count join — the
    rank of the first relevant doc is 1 + #(docs ordered before it),
    an aggregate, not a window."""
    d = load_fixture(spark, sf_dir, "documents")
    terms = ["spark", "vector", "data", "stream", "query"]
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias(
            "term"
        ),
    ).filter(F.col("term").isin(terms))
    cand = cut(tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.max(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("rel"),
    ))
    best = (
        cand.filter(F.col("rel") == 1)
        .groupBy("term")
        .agg(
            F.expr("min_by(struct(tf, doc_id), struct(-tf, doc_id))").alias("b")
        )
        .select("term", F.col("b.tf").alias("btf"), F.col("b.doc_id").alias("bid"))
    )
    joined = cand.join(F.broadcast(best), "term", "left")
    return (
        joined.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            (
                F.sum(
                    F.when(
                        (F.col("tf") > F.col("btf"))
                        | (
                            (F.col("tf") == F.col("btf"))
                            & (F.col("doc_id") < F.col("bid"))
                        ),
                        1,
                    ).otherwise(0)
                )
                + F.max(F.when(F.col("btf").isNotNull(), 1))
            )
            .cast("bigint")
            .alias("first_rel_rank"),
        )
        .selectExpr(
            "term",
            "n_candidates",
            "first_rel_rank",
            "CAST(COALESCE((2 * 1000000 + first_rel_rank)"
            " div (2 * first_rel_rank), 0) AS DOUBLE) / 1000000.0"
            " AS reciprocal_rank",
            "CAST(CASE WHEN first_rel_rank IS NOT NULL AND first_rel_rank <= 5"
            " THEN 1 ELSE 0 END AS BIGINT) AS hit_at_5",
        )
    )


@register(
    "eval_retrieval_recall_at_k",
    oracle=f"""
    WITH tok AS ({_TOK}),
    cand AS (
        SELECT t.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(MAX(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS rel
        FROM tok t JOIN documents d ON d.doc_id = t.doc_id
        WHERE t.term IN ('spark', 'vector', 'data', 'stream', 'query')
        GROUP BY t.term, t.doc_id
    ),
    ranked AS (
        SELECT term, rel,
               CAST(ROW_NUMBER() OVER (PARTITION BY term
                                       ORDER BY tf DESC, doc_id) AS BIGINT) AS rk
        FROM cand
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(rel) AS BIGINT) AS n_relevant,
           CAST(SUM(CASE WHEN rel = 1 AND rk <= 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS rel_at_5,
           CAST((2 * SUM(CASE WHEN rel = 1 AND rk <= 5 THEN 1 ELSE 0 END)
                 * 1000000 + NULLIF(SUM(rel), 0))
                // (2 * NULLIF(SUM(rel), 0)) AS BIGINT) AS recall_at_5_micro,
           CAST((2 * SUM(CASE WHEN rel = 1 AND rk <= 5 THEN 1 ELSE 0 END)
                 * 1000000 + LEAST(5, COUNT(*)))
                // (2 * LEAST(5, COUNT(*))) AS BIGINT)
               AS precision_at_5_micro,
           CAST(SUM(CASE WHEN rel = 1 AND rk <= 20 THEN 1 ELSE 0 END)
                AS BIGINT) AS rel_at_20,
           CAST((2 * SUM(CASE WHEN rel = 1 AND rk <= 20 THEN 1 ELSE 0 END)
                 * 1000000 + NULLIF(SUM(rel), 0))
                // (2 * NULLIF(SUM(rel), 0)) AS BIGINT) AS recall_at_20_micro,
           CAST((2 * SUM(CASE WHEN rel = 1 AND rk <= 20 THEN 1 ELSE 0 END)
                 * 1000000 + LEAST(20, COUNT(*)))
                // (2 * LEAST(20, COUNT(*))) AS BIGINT)
               AS precision_at_20_micro
    FROM ranked GROUP BY term
    """,
    doc="Recall@k and precision@k (k = 5, 20) per query for the five "
    "single-term tf-ranked queries of eval_retrieval_mrr (same "
    "candidates, same lang='en' relevance, same doc_id tie-break) — "
    "the set-coverage counterpart to MRR's first-hit view and NDCG's "
    "graded view: recall@k is what an ANN/rerank budget is actually "
    "sized against. Precision denominators use min(k, n_candidates) "
    "(short lists are not penalized for absent rows); zero-relevant "
    "queries NULL their recall via NULLIF in both engines. Exact "
    "integer counts, half-away micro rates.",
)
def eval_retrieval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the per-term rank window runs over the POSTINGS of
    five fixed terms (the eval_retrieval_ndcg precedent — the metric
    never touches the corpus beyond those postings); everything else
    is one map-side-combined aggregate per term."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    terms = ["spark", "vector", "data", "stream", "query"]
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias(
            "term"
        ),
    ).filter(F.col("term").isin(terms))
    cand = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.max(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("rel"),
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), "doc_id")
    ranked = cand.select("term", "rel", F.row_number().over(w).cast("bigint").alias("rk"))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("rel").cast("bigint").alias("n_relevant"),
            F.sum(F.when((F.col("rel") == 1) & (F.col("rk") <= 5), 1).otherwise(0))
            .cast("bigint")
            .alias("rel_at_5"),
            F.sum(F.when((F.col("rel") == 1) & (F.col("rk") <= 20), 1).otherwise(0))
            .cast("bigint")
            .alias("rel_at_20"),
        )
        .selectExpr(
            "term",
            "n_candidates",
            "n_relevant",
            "rel_at_5",
            "CAST((2 * rel_at_5 * 1000000 + NULLIF(n_relevant, 0))"
            " div (2 * NULLIF(n_relevant, 0)) AS BIGINT) AS recall_at_5_micro",
            "CAST((2 * rel_at_5 * 1000000 + LEAST(5, n_candidates))"
            " div (2 * LEAST(5, n_candidates)) AS BIGINT)"
            " AS precision_at_5_micro",
            "rel_at_20",
            "CAST((2 * rel_at_20 * 1000000 + NULLIF(n_relevant, 0))"
            " div (2 * NULLIF(n_relevant, 0)) AS BIGINT) AS recall_at_20_micro",
            "CAST((2 * rel_at_20 * 1000000 + LEAST(20, n_candidates))"
            " div (2 * LEAST(20, n_candidates)) AS BIGINT)"
            " AS precision_at_20_micro",
        )
    )
