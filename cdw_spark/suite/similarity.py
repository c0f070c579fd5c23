"""Similarity-search queries over ``embeddings`` (north-star layer;
operators in cdw_spark/operators/similarity.py).

The brute-force queries are the oracles (exact, SQL-expressible via
DuckDB's list functions on double-cast arrays — identical fold order makes
scores bit-comparable after rounding). The LSH variant is the scale path:
rows-only here, recall-measured against brute force in
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_fixture
from ..functions.numeric import micro
from ..operators.artifacts import AtRestIndex
from ..operators.similarity import (
    brute_force_topk,
    lsh_pairs_topn,
    lsh_topk,
    random_projection,
    random_projection_oracle_sql,
    signature_oracle_sql,
)
from ..plans.lineage import cut
from ..plans.local import local_frame
from ..registry import register

_COS = (
    "list_dot_product(p.v, c.v) / "
    "(sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v)))"
)

# The fixture embedding dimension (both sf0.001 and sf0.01/0.1 use 64); the
# oracle SQL must state the hyperplanes as literals, so the dim is fixed
# here while the Spark operators discover it from the data.
_DIM = 64


@register(
    "similarity_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, {_COS} AS cos_raw
        FROM e c JOIN e p ON p.vec_id < 5 AND c.vec_id != p.vec_id
    )
    SELECT probe_id, cand_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
        SELECT probe_id, cand_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cos_raw DESC, cand_id) AS rank
        FROM scored
    )
    WHERE rank <= 10
    """,
    doc="Exact cosine top-10 neighbors for probe vectors vec_id<5 "
    "(brute-force baseline).",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast the probes, scan the corpus once, per-probe window top-k.
    At 100 TB: corpus-partition-local rank keeps only k rows per partition
    before the final merge."""
    e = load_fixture(spark, sf_dir, "embeddings")
    return brute_force_topk(e.filter(F.col("vec_id") < 5), e, k=10)


@register(
    "similarity_pairs_topn",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
        SELECT vec_id, v, {signature_oracle_sql("v", _DIM)} AS sig FROM e
    ),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_raw
        FROM sigs a JOIN sigs b
          ON a.vec_id < b.vec_id
         AND bit_count(xor(a.sig::BIGINT, b.sig::BIGINT)) <= 3
    )
    SELECT id_a, id_b, ROUND(cos_raw, 6) AS cosine
    FROM scored
    ORDER BY cos_raw DESC, id_a, id_b
    LIMIT 30
    """,
    doc="Most-similar embedding pairs (top-30 by exact cosine) via the "
    "bucketed near-dup pipeline: LSH signature candidates (hamming<=3 of "
    "8 hyperplane bits) -> exact rescoring -> global top-n. The oracle "
    "states the SAME semantics in SQL — identical literal hyperplanes and "
    "fold order make the bucketing itself cross-engine-checked. The "
    "all-pairs exact form (inherently O(n^2): this fixture's top pairs "
    "sit at cosine~0.45, indistinguishable from noise by any sublinear "
    "candidate generator) remains the in-test differential oracle "
    "(tests/test_similarity.py).",
)
def similarity_pairs_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation is an equi-join on exploded hamming-ball
    signatures — hash-partitionable, per-bucket pair products; no
    CartesianProduct at any scale (asserted in tests/test_plans.py)."""
    return lsh_pairs_topn(load_fixture(spark, sf_dir, "embeddings"), n=30)


@register(
    "similarity_ann_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
        SELECT vec_id, v, {signature_oracle_sql("v", _DIM)} AS sig FROM e
    ),
    cand AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               list_dot_product(p.v, c.v) /
               (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos_raw
        FROM sigs p JOIN sigs c
          ON p.vec_id < 5 AND c.vec_id != p.vec_id
         AND bit_count(xor(p.sig::BIGINT, c.sig::BIGINT)) <= 3
    )
    SELECT probe_id, cand_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
        SELECT probe_id, cand_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cos_raw DESC, cand_id) AS rank
        FROM cand
    )
    WHERE rank <= 10
    """,
    doc="Random-hyperplane LSH ANN top-10 (8-bit signatures, multiprobe "
    "hamming<=3 via exploded-ball equi-join — no nested-loop join, "
    "asserted in tests/test_plans.py). Fully value-oracled: the "
    "hyperplanes are deterministic literals, so the oracle states the "
    "same approximate semantics (candidates = signature hamming<=3, "
    "exact rescore, per-probe top-10) in SQL — the driver hash checks "
    "the bucketing itself. Recall vs brute force additionally measured "
    "in tests/test_similarity.py.",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fixture(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    return lsh_topk(e.filter(F.col("vec_id") < 5), e, dim=dim, k=10)


@register(
    "similarity_ann_ivf",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, {_COS} AS cos_raw
        FROM e c JOIN e p ON p.vec_id < 5 AND c.vec_id != p.vec_id
    )
    SELECT probe_id, cand_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
        SELECT probe_id, cand_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cos_raw DESC, cand_id) AS rank
        FROM scored
    )
    WHERE rank <= 10
    """,
    doc="IVF top-10: spherical-k-means coarse quantizer (nlist=16, "
    "DataFrame-native Lloyd iterations), probes search their nprobe "
    "nearest inverted lists. Registered with nprobe=nlist (exhaustive "
    "probing), whose output provably equals exact k-NN — the driver hash "
    "checks the whole IVF machinery (training, list assignment, per-list "
    "scoring, ranking) against the brute-force SQL oracle. The pruned "
    "approximate configuration (nprobe=4) is recall-tested vs brute "
    "force in tests/test_similarity.py.",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = load_fixture(spark, sf_dir, "embeddings")
    return ivf_topk(e.filter(F.col("vec_id") < 5), e, k=10, nlist=16, nprobe=16)


@register(
    "similarity_ann_lsh_wide",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
        SELECT vec_id, v, {signature_oracle_sql("v", _DIM, 16)} AS sig FROM e
    ),
    cand AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               list_dot_product(p.v, c.v) /
               (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos_raw
        FROM sigs p JOIN sigs c
          ON p.vec_id < 5 AND c.vec_id != p.vec_id
         AND bit_count(xor(p.sig::BIGINT, c.sig::BIGINT)) <= 3
    )
    SELECT probe_id, cand_id, CAST(rank AS INTEGER) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
        SELECT probe_id, cand_id, cos_raw,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cos_raw DESC, cand_id) AS rank
        FROM cand
    )
    WHERE rank <= 10
    """,
    doc="16-bit wide-signature LSH ANN — the 100 TB near-duplicate "
    "configuration: the hamming<=3 ball covers ~1.4% of the corpus "
    "(vs ~38% at 8 bits, tests/test_similarity.py::test_lsh_width_"
    "scaling), trading generic-neighbor recall for a ~27x smaller "
    "candidate read that still catches cosine>=0.95 near-dups with "
    "p~0.93. Value-oracled like its 8-bit twin: the 16 literal "
    "hyperplanes are stated in the SQL, so the driver hash checks the "
    "wide bucketing itself.",
)
def similarity_ann_lsh_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fixture(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    return lsh_topk(e.filter(F.col("vec_id") < 5), e, dim=dim, k=10, n_planes=16)


@register(
    "embedding_random_projection",
    oracle=(
        "SELECT vec_id, "
        + random_projection_oracle_sql("v", _DIM, 8)
        + " FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
    ),
    doc="Johnson-Lindenstrauss random projection 64->8 with a deterministic "
    "md5-derived +-1 sign matrix (Achlioptas), scaled 1/sqrt(8) to "
    "preserve expected squared norm. Pure per-row codegen projection — "
    "no shuffle, no UDF; the width-reduction front end for ANN/cluster "
    "passes over 100 TB of wide embeddings. The oracle states the same "
    "literal matrix, so the driver hash-checks the projection itself. "
    "operators/similarity.py:random_projection.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fixture(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    return random_projection(e, dim=dim, out_dim=8)


@register(
    "knn_label_vote",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    nn AS (
        SELECT probe_id, cand_id, label FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, c.label,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                      ORDER BY {_COS} DESC, c.vec_id) AS rank
            FROM e p JOIN e c ON p.vec_id < 10 AND c.vec_id >= 10
        ) WHERE rank <= 5
    ),
    votes AS (SELECT probe_id, label, COUNT(*) AS votes FROM nn GROUP BY probe_id, label)
    SELECT v.probe_id, v.label AS pred_label, CAST(v.votes AS BIGINT) AS votes,
           t.label AS true_label
    FROM (
        SELECT probe_id, label, votes,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY votes DESC, label) AS rn
        FROM votes
    ) v
    JOIN (SELECT vec_id, label FROM embeddings WHERE vec_id < 10) t
      ON t.vec_id = v.probe_id
    WHERE v.rn = 1
    """,
    doc="k-NN majority-vote label classification (k=5, exact cosine): "
    "probes vec_id<10 classified against the labeled corpus vec_id>=10; "
    "deterministic vote tie-break toward the smaller label. The "
    "labeled-neighbor voting primitive for quality/domain propagation "
    "over unlabeled corpora; scales exactly like similarity_topk "
    "(broadcast probes, one corpus scan) and swaps to the LSH/IVF "
    "candidate generators above at 100 TB.",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    corpus = e.filter(F.col("vec_id") >= 10)
    nn = brute_force_topk(probes, corpus, k=5)
    votes = (
        nn.join(corpus.select(F.col("vec_id").alias("cand_id"), "label"), "cand_id")
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(
            probes.select(F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label")),
            "probe_id",
        )
        .select(
            "probe_id",
            F.col("label").alias("pred_label"),
            F.col("votes").cast("bigint").alias("votes"),
            "true_label",
        )
    )


from ..operators.similarity import mmr_oracle_sql as _mmr_sql


@register(
    "similarity_mmr_rerank",
    oracle=_mmr_sql("p.vec_id < 3"),
    doc="Maximal Marginal Relevance diversified top-4 per probe "
    "(Carbonell-Goldstein, lambda=0.7) over the exact top-12 candidate "
    "pool: greedy score = 0.7*rel - 0.3*max-sim-to-selected, rounded "
    "before each argmax with an id tie-break so the trajectory is "
    "deterministic. The oracle unrolls the greedy recursion as chained "
    "CTEs (the graph_pagerank idiom) — the DIVERSIFICATION itself is "
    "value-checked. The loop runs over |probes| x 12 rows regardless of "
    "corpus size; candidate generation is the distributed scorer "
    "(operators/similarity.py:mmr_rerank).",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_rerank

    emb = load_fixture(spark, sf_dir, "embeddings")
    return mmr_rerank(emb.filter(F.col("vec_id") < 3), emb, pool=12, steps=4)


# Shared CTE chain for the approximate 3-NN embedding graph: wide LSH
# signatures -> hamming<=r candidate pairs (r width-scheduled via
# verification_radius; r=3 at every fixture width) -> exact per-node
# top-3 cosine -> undirected distinct edges. Stated once so every graph
# query over the kNN graph (triangles, k-hop reach) hash-checks the
# SAME graph.
#
# Signature width is COUNT-DERIVED on both sides: the
# oracle states the full 24-plane literal signature and masks it to
# w = clamp(ceil(log2(count))+7, 8, 24) bits computed from the corpus in
# SQL; because _planes() extends the same seeded sequence, the masked
# 24-bit signature is bit-identical to Spark's direct w-plane signature.
# At the 500-row fixture w = 16 — exactly the round-3 hand-picked width.
from ..operators.similarity import derived_n_planes_sql as _w_sql
from ..operators.similarity import verification_radius_sql as _r_sql

_KNN_EDGES_CTE = f"""
    WITH wsel AS (SELECT {_w_sql("SELECT COUNT(*) FROM embeddings")} AS w),
    rsel AS (SELECT {_r_sql("SELECT w FROM wsel")} AS r),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
        SELECT vec_id, v,
               CAST({signature_oracle_sql("v", _DIM, 24)} AS BIGINT)
                   & ((CAST(1 AS BIGINT) << (SELECT w FROM wsel)) - 1) AS sig
        FROM e
    ),
    knn AS (
        SELECT a, b FROM (
            SELECT p.vec_id AS a, c.vec_id AS b,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                      ORDER BY list_dot_product(p.v, c.v) /
                                               (sqrt(list_dot_product(p.v, p.v)) *
                                                sqrt(list_dot_product(c.v, c.v))) DESC,
                                               c.vec_id) AS rank
            FROM sigs p JOIN sigs c
              ON p.vec_id <> c.vec_id
             AND bit_count(xor(p.sig::BIGINT, c.sig::BIGINT))
                 <= (SELECT r FROM rsel)
        ) WHERE rank <= 3
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM knn
    )"""


def _knn_directed_top3(emb: DataFrame, w_bits: int | None = None) -> DataFrame:
    """DIRECTED top-3 edges (a -> b, per-node best-3 cosine) of the
    approximate 3-NN graph — the Spark twin of ``_KNN_EDGES_CTE``'s
    ``knn`` CTE; _knn_undirected_edges folds it to distinct a < b
    pairs. Neighbor candidates come from
    a wide LSH signature at hamming<=3 as XOR-mask enumeration ->
    equi-join on the signature (the lsh_topk shape): candidates
    hash-partition, never a broadcast nested loop over |V|^2. Then exact
    per-node top-3 cosine among candidates with deterministic tie-breaks.
    Degree-bounded (k=3), so downstream edge relations stay |V|*k rows at
    any scale.

    Signature width auto-derives from the corpus count (derived_n_planes:
    ceil(log2(n))+7 clamped [8,24]) so bucket occupancy — and with it
    candidates-per-probe — stays roughly flat as the corpus grows,
    instead of the 4x-per-8x observed with the fixed 16-bit width in
    round 3. The count() is one cheap driver sync of a single long,
    amortized over the whole graph build.

    Candidate generation is the BANDED multi-index decomposition
    (Norouzi et al. multi-index hashing): the w-bit
    signature splits into two bands (low ceil(w/2), high floor(w/2)
    bits); a pair at hamming d <= r must have <= r//2 differing bits in
    SOME band (pigeonhole: min(d1,d2) <= floor(r/2)), so each probe
    enumerates only the radius-r//2 sub-ball of band 0 and the
    radius-(r - r//2 - 1) sub-ball of band 1 — at the fixture radius
    r=3 that is (w+2) slim (id, 2 longs) rows instead of the
    C(w,<=3) ~ w^3/6 full-ball masks round 4 exploded (n*988 rows at
    w=18, n*2325 at the w=24 clamp; worse, those rows carried the
    64-double vector — the shuffle that made khop 5.5 s at sf0.1 and
    2.2-2.4x per 8x data). Band hits rehydrate to exact pairs by a
    popcount filter on the full signatures (carried through the join,
    2 longs), and a CANONICAL-band rule (band 0 iff d1 <= r//2, band 1
    iff d1 > r//2 and d2 <= r - r//2 - 1; the band-1 bound follows
    because d1 >= r//2 + 1 forces d2 <= r - r//2 - 1) emits each pair
    exactly once — so the candidate set, the graph, and the oracle's
    plain hamming <= r join are all IDENTICAL to the full ball.
    The RADIUS derives from the width (verification_radius: 3 up to
    the knee, +1 per 4 width bits past it — the
    closed-form recall floor stays pinned instead of decaying as the
    knee widens signatures; at every fixture width r = 3, so graded
    plans and oracles are numerically unchanged). Vectors are fetched
    AFTER the match by two |candidates|-row equi-joins; the 64-double
    payload never rides an explosion."""
    from pyspark.sql.window import Window

    from ..operators.similarity import (
        _norm_sql,
        _pair_dot_sql,
        derived_n_planes,
        hamming_ball_masks,
        to_double_array,
        verification_radius,
        with_signature,
    )

    spark = emb.sparkSession
    if w_bits is None:
        w_bits = derived_n_planes(emb.count())
    radius = verification_radius(w_bits)
    r1 = radius // 2  # band-0 sub-radius
    r2 = radius - r1 - 1  # band-1 sub-radius (d1 > r1 forces d2 <= r2)
    base = emb.select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.expr(_norm_sql("v", _DIM)))
    sigs = with_signature(base, "v", _DIM, "sig", w_bits).select("vec_id", "sig")
    b1 = w_bits - w_bits // 2  # low-band width (>= high)
    b2 = w_bits // 2
    low = (1 << b1) - 1
    band_masks = [(0, m) for m in hamming_ball_masks(b1, r1)] + [
        (1, m) for m in hamming_ball_masks(b2, r2)
    ]
    masks_df = local_frame(spark, band_masks, "band int, mask long")
    band_key = F.when(
        F.col("band") == 0, F.col("psig").bitwiseAND(F.lit(low))
    ).otherwise(F.shiftright("psig", b1))
    probe = (
        sigs.select(F.col("vec_id").alias("a"), F.col("sig").alias("psig"))
        .join(F.broadcast(masks_df))
        .select(
            "a", "psig", "band", band_key.bitwiseXOR(F.col("mask")).alias("bkey")
        )
    )
    cands_idx = sigs.select(
        F.col("vec_id").alias("b"),
        F.col("sig").alias("csig"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    F.col("sig").bitwiseAND(F.lit(low)).alias("bkey"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.shiftright("sig", b1).alias("bkey"),
                ),
            )
        ).alias("bk"),
    ).select("b", "csig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    d1 = F.bit_count(F.col("psig").bitwiseXOR(F.col("csig")).bitwiseAND(F.lit(low)))
    d_all = F.bit_count(F.col("psig").bitwiseXOR(F.col("csig")))
    # a < b keeps each unordered pair ONCE through the fetch joins and
    # the cosine (it's symmetric); the scored pair mirrors afterward so
    # the per-node top-3 still sees both directions. Halves the scoring
    # work relative to directional candidates.
    cand = (
        probe.join(cands_idx, on=["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .filter(d_all <= radius)
        .filter(
            F.when(F.col("band") == 0, d1 <= r1).otherwise(
                (d1 >= r1 + 1) & (d_all - d1 <= r2)
            )
        )
        .select("a", "b")
    )
    va = base.select(
        F.col("vec_id").alias("a"), F.col("v").alias("pv"), F.col("nrm").alias("pn")
    )
    vb = base.select(
        F.col("vec_id").alias("b"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    scored = cut(
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            "a",
            "b",
            (F.expr(_pair_dot_sql("pv", "cv", _DIM)) / (F.col("pn") * F.col("cn"))).alias(
                "cos"
            ),
        ),
        # lazy cut: both union branches below read the
        # materialized pair scores instead of re-executing the joins
        eager=False,
    )
    sym = scored.unionAll(
        scored.select(F.col("b").alias("a"), F.col("a").alias("b"), "cos")
    )
    w = Window.partitionBy("a").orderBy(F.col("cos").desc(), F.col("b"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("a", "b")
    )


def _undirected(knn: DataFrame) -> DataFrame:
    """Undirected distinct edges (a < b) of directed ``(a, b)`` kNN edges."""
    return knn.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()


def _knn_undirected_edges(emb: DataFrame) -> DataFrame:
    """Undirected distinct edges (a < b) of the directed 3-NN graph —
    see _knn_directed_top3 for the construction."""
    return _undirected(_knn_directed_top3(emb))


# --- at-rest kNN graph artifact ----------------------------------------
# Eight graph/audit queries consume the SAME degree-bounded 3-NN edge
# relation; without it each re-executed the banded-MIH signature build
# (~2.5 s x 8 per suite run at sf0.1). At 100 TB nobody rebuilds an ANN
# graph per query. The DIRECTED top-3 relation is written once per
# fixture to parquet keyed by the embeddings file's identity (path,
# size, mtime), a construction-version tag AND a hash of _KNN_EDGES_CTE
# itself (so an upstream construction change that forgets the version
# bump still mints a new key); every family query then starts from a
# plain parquet scan (consumers of the undirected graph fold it with
# _undirected: a scan plus one small distinct over |V|*k rows). Oracles
# are unchanged — _KNN_EDGES_CTE remains the semantic spec, and the
# graph_knn_materialize query hash-checks the ARTIFACT's content against
# that CTE so staleness or drift is driver-visible. Storage + orphan GC
# + race handling live in operators/artifacts.py (warehouse-relative).
def _knn_shape_summary(spark: SparkSession, sf_dir: str, knn: DataFrame) -> DataFrame:
    """Shape row of the kNN artifact, computed from the published edge
    parquet at publish time and served as an O(1) one-row scan by
    graph_knn_materialize. Columns and types mirror the materialize
    oracle exactly."""
    emb = load_fixture(spark, sf_dir, "embeddings")
    return (
        emb.agg(F.countDistinct("vec_id").cast("bigint").alias("n_nodes"))
        .crossJoin(
            knn.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges_directed"))
        )
        .crossJoin(
            _undirected(knn).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_edges_undirected")
            )
        )
    )


KNN_EDGES = AtRestIndex(
    family="knn_edges",
    fixture="embeddings",
    version="v1",  # bump when _knn_directed_top3 changes shape
    spec=_KNN_EDGES_CTE,
    build=lambda spark, sf_dir: _knn_directed_top3(
        load_fixture(spark, sf_dir, "embeddings")
    ),
    summary=_knn_shape_summary,
)


def _knn_adjacency(edges: DataFrame) -> DataFrame:
    """The symmetric adjacency ``(n, m)`` of undirected ``(a, b)`` edges:
    each edge in both directions, ``a→b ∪ b→a``."""
    return edges.select(F.col("a").alias("n"), F.col("b").alias("m")).unionAll(
        edges.select(F.col("b").alias("n"), F.col("a").alias("m"))
    )


@register(
    "graph_knn_materialize",
    oracle=_KNN_EDGES_CTE
    + """
    SELECT CAST((SELECT COUNT(DISTINCT vec_id) FROM embeddings) AS BIGINT)
               AS n_nodes,
           CAST((SELECT COUNT(*) FROM knn) AS BIGINT) AS n_edges_directed,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges_undirected
    """,
    doc="Build (or reuse) the at-rest 3-NN graph artifact and report its "
    "shape — the graph family's index-build op: the edge relation is "
    "built once per fixture and every graph consumer scans it. The "
    "returned counts come FROM THE "
    "PARQUET ARTIFACT, so the driver's hash-match against the plain "
    "_KNN_EDGES_CTE proves the materialized relation (not just the "
    "in-memory build) agrees with the semantic spec — a stale or "
    "corrupt artifact fails the gate. Nodes count distinct vec_id; "
    "directed edges are per-node top-3 (<= 3|V| rows); undirected "
    "folds to distinct a < b. The shape row is computed from the "
    "published parquet AT PUBLISH and served as an O(1) one-row scan; "
    "tests/test_artifact_summaries.py recounts the "
    "full artifact and asserts agreement.",
)
def graph_knn_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the banded-MIH signature build runs at most once per
    fixture (first caller materializes, everyone else scans); steady-
    state serves are a one-row scan of the published shape summary."""
    return KNN_EDGES.serve_summary(spark, sf_dir)


@register(
    "graph_knn_triangles",
    oracle=_KNN_EDGES_CTE + """,
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(DISTINCT vec_id) FROM embeddings) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
    """,
    doc="Triangle counting on the approximate 3-NN embedding graph — the "
    "local-clustering signal of embedding-space structure (dense "
    "triangle neighborhoods = semantic clusters; the graph-side "
    "complement of SemDeDup). Neighbor candidates come from a WIDE LSH "
    "signature at hamming<=3, width COUNT-DERIVED (ceil(log2 n)+7, 16 "
    "bits at the 500-row fixture) so occupancy stays flat as the corpus "
    "grows — ~1% of the corpus per node instead of the |V|^2 brute-force "
    "scoring (measured 89 s -> 3 s at "
    "sf0.1) — then exact per-node top-3 cosine among candidates with "
    "deterministic tie-breaks; the oracle states the identical literal "
    "hyperplanes, so the approximate graph itself is hash-checked. "
    "Undirected via LEAST/GREATEST distinct; triangles by the ordered "
    "two-hop join (a<b<c once each). Degree-bounded (k=3), so edge "
    "relations stay |V|*k rows at any scale.",
)
def graph_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_fixture(spark, sf_dir, "embeddings")
    # edges feeds both sides of the two-hop join, the closing edge
    # anti-pattern join AND the n_edges aggregate — all four consumers
    # scan the at-rest parquet artifact (the build runs once per
    # fixture, not once per consumer per query).
    edges = _undirected(KNN_EDGES.serve(spark, sf_dir))
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("_a"), F.col("b").alias("_c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("_a")) & (F.col("c") == F.col("_c")))
    )
    n_nodes = emb.agg(F.countDistinct("vec_id").cast("bigint").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


@register(
    "graph_khop_reach",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (SELECT a AS n, b AS m FROM edges UNION ALL SELECT b AS n, a AS m FROM edges),
    hop2 AS (
        SELECT j1.n, j2.m FROM adj j1 JOIN adj j2 ON j2.n = j1.m AND j2.m <> j1.n
    ),
    reach AS (SELECT n, m FROM adj UNION SELECT n, m FROM hop2),
    deg AS (SELECT n, COUNT(*) AS deg FROM adj GROUP BY n),
    r2 AS (SELECT n, COUNT(*) AS reach2 FROM reach GROUP BY n)
    SELECT e.vec_id,
           CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
           CAST(COALESCE(r2.reach2, 0) AS BIGINT) AS reach2
    FROM e
    LEFT JOIN deg ON deg.n = e.vec_id
    LEFT JOIN r2 ON r2.n = e.vec_id
    """,
    doc="Bounded-hop reachability (BFS frontier size at depth <=2) per "
    "node over the SAME hash-checked approximate 3-NN graph as "
    "graph_knn_triangles — the neighborhood-growth signal used for "
    "cluster-density estimation and crawl frontier sizing. The graph is "
    "degree-bounded (k=3 before symmetrization), so the 2-hop self-join "
    "expands each node to <= deg^2 rows — O(|V|*k^2) total whatever the "
    "corpus size; frontiers stay equi-join + distinct (hash-partitioned "
    "on the node key), never a per-node driver traversal. Isolated nodes "
    "surface with deg=0 via the left join onto the node set.",
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_fixture(spark, sf_dir, "embeddings")
    edges = _undirected(KNN_EDGES.serve(spark, sf_dir))
    # adj feeds three consumers (deg, both sides of the 2-hop join, reach
    # union); the cut keeps the symmetrized relation resident so
    # the consumers share one scan of the at-rest artifact.
    adj = cut(_knn_adjacency(edges))
    j1 = adj.select(F.col("n"), F.col("m").alias("mid"))
    j2 = adj.select(F.col("n").alias("mid"), F.col("m"))
    hop2 = j1.join(j2, "mid").filter(F.col("m") != F.col("n")).select("n", "m")
    reach = adj.union(hop2).distinct()
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    r2 = reach.groupBy("n").agg(F.count(F.lit(1)).alias("reach2"))
    return (
        emb.select("vec_id")
        .join(deg, deg["n"] == F.col("vec_id"), "left").drop("n")
        .join(r2, r2["n"] == F.col("vec_id"), "left").drop("n")
        .select(
            "vec_id",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
            F.coalesce("reach2", F.lit(0)).cast("bigint").alias("reach2"),
        )
    )


@register(
    "graph_link_prediction",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (SELECT a AS n, b AS m FROM edges UNION ALL SELECT b AS n, a AS m FROM edges),
    deg AS (SELECT n, COUNT(*) AS d FROM adj GROUP BY n),
    cn AS (
        SELECT j1.n AS a, j2.m AS b, COUNT(*) AS common
        FROM adj j1 JOIN adj j2 ON j2.n = j1.m AND j1.n < j2.m
        GROUP BY j1.n, j2.m
    ),
    cand AS (
        SELECT cn.a, cn.b, cn.common
        FROM cn LEFT JOIN edges e ON e.a = cn.a AND e.b = cn.b
        WHERE e.a IS NULL
    )
    SELECT c.a, c.b, CAST(c.common AS BIGINT) AS common,
           ROUND(CAST(c.common AS DOUBLE)
                 / CAST(da.d + db.d - c.common AS DOUBLE), 6) AS jaccard
    FROM cand c
    JOIN deg da ON da.n = c.a
    JOIN deg db ON db.n = c.b
    ORDER BY ROUND(CAST(c.common AS DOUBLE)
                   / CAST(da.d + db.d - c.common AS DOUBLE), 9) DESC, c.a, c.b
    LIMIT 20
    """,
    doc="Link prediction by neighborhood Jaccard (Liben-Nowell & "
    "Kleinberg 2003) on the SAME hash-checked kNN graph as "
    "graph_knn_triangles/graph_khop_reach: score every NON-edge pair "
    "that shares >=1 neighbor by |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, top-20. "
    "Candidates come only from the 2-hop join (pairs with no common "
    "neighbor score 0 and are never enumerated), existing edges drop by "
    "anti-join.",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the graph is degree-bounded (k=3 before
    symmetrization), so the 2-hop candidate join emits O(|V|*k^2) rows;
    degree relation is |V| rows (broadcast); the top-20 is
    TakeOrderedAndProject over candidates (orderBy+limit — no window, no
    global sort), ordered by ROUND(score, 9) with (a, b) tie-breaks —
    engine-independent."""
    edges = _undirected(KNN_EDGES.serve(spark, sf_dir))
    adj = _knn_adjacency(edges)
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    j1 = adj.select(F.col("n").alias("a"), F.col("m").alias("mid"))
    j2 = adj.select(F.col("n").alias("mid"), F.col("m").alias("b"))
    cn = (
        j1.join(j2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = cn.join(edges, ["a", "b"], "left_anti")
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    scored = (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("da") + F.col("db") - F.col("common")).cast("double"),
        )
    )
    return (
        scored.orderBy(F.round("jaccard", 9).desc(), "a", "b")
        .limit(20)
        .select(
            "a", "b",
            F.col("common").cast("bigint").alias("common"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


from ..operators.similarity import pca_power_oracle_sql as _pca_sql


@register(
    "embedding_pca_top_component",
    oracle=_pca_sql(_DIM),
    doc="Top principal component of the embedding corpus by 3 rounds of "
    "power iteration — C x computed as X^T(X x), two fused matvec "
    "aggregation passes per round, covariance never materialized. "
    "Integer input quantization + DECIMAL-exact accumulation make the "
    "whole recurrence associative-exact, so the ORACLE hash-checks "
    "every round bit-for-bit (the graph_pagerank treatment applied to "
    "linear algebra); planted-component recovery (cos > 0.999) proven "
    "on spiked data in tests/test_similarity.py. The x vector rides a "
    "1-row broadcast; nothing collects "
    "(operators/similarity.py:pca_power_top_component).",
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pca_power_top_component

    return pca_power_top_component(load_fixture(spark, sf_dir, "embeddings"), _DIM)


@register(
    "similarity_ann_pq",
    oracle=None,
    doc="Product-quantization ADC k-NN (Jegou et al. 2011): corpus encoded "
    "to m=16 codes over per-block k-means codebooks (16x smaller at rest "
    "than float32 vectors), probes score candidates by an m-add lookup-"
    "table sum — no vector arithmetic in the scan. Training is data-"
    "dependent k-means, so no SQL oracle (same class as the streaming/"
    "sketch rows-only entries); exact-reconstruction equivalence and "
    "recall vs brute force are measured in tests/test_similarity.py.",
)
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    e = load_fixture(spark, sf_dir, "embeddings")
    return pq_topk(e.filter(F.col("vec_id") < 5), e, k=10, m=16, ksub=64, iters=3)


@register(
    "similarity_ann_pq_exact",
    oracle="""
    WITH q AS (
        SELECT vec_id, [CAST(round(x * 16) AS DOUBLE) FOR x IN embedding] AS qv
        FROM embeddings
    ), p AS (
        SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id < 5
    ), pairs AS (
        SELECT p.probe_id, q.vec_id AS cand_id,
               list_sum([(p.pv[i] - q.qv[i]) * (p.pv[i] - q.qv[i])
                         FOR i IN range(1, 65)]) AS d
        FROM p, q
        WHERE q.vec_id <> p.probe_id
    )
    SELECT probe_id, cand_id,
           CAST(rank AS INTEGER) AS rank,
           ROUND(d, 6) AS adc_dist
    FROM (
        SELECT probe_id, cand_id, d,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY d ASC, cand_id) AS rank
        FROM pairs
    )
    WHERE rank <= 10
    """,
    doc="PQ-ADC in its provably-exact identity configuration: coordinates "
    "integer-quantized to round(x*16), m=64 blocks of dsub=1 with an "
    "explicit grid codebook (codeword c == c-16, covering every "
    "quantized value), so encoding is lossless and the m-add ADC table "
    "sum equals exact squared L2 — the same Arrow encode/LUT/aggregate "
    "path as similarity_ann_pq, but with a full SQL value oracle "
    "(all-pairs squared distance + rank). Gives the ADC arithmetic a "
    "hash check the trained (rows-only) variant cannot have.",
)
def similarity_ann_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_topk

    e = load_fixture(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(round(x * 16) as double))").alias("qv"),
    )
    # Identity grid derived from the DATA range: a fixed
    # [-16, 15] grid silently encodes lossily the moment a coordinate
    # quantizes outside it, voiding the "provably exact" ADC==L2 claim.
    # One 1-row driver sync (global min/max of the quantized grid) keeps
    # the codebook a true identity for any embedding scale.
    lo, hi = e.select(
        F.min(F.expr("array_min(qv)")).alias("lo"),
        F.max(F.expr("array_max(qv)")).alias("hi"),
    ).first()
    lo_i, hi_i = int(lo), int(hi)
    books = [
        [[float(c)] for c in range(lo_i, hi_i + 1)] for _ in range(_DIM)
    ]
    return pq_topk(
        e.filter(F.col("vec_id") < 5), e, k=10, vec_col="qv", books=books
    )


from ..operators.similarity import kmeans_oracle_sql as _km_sql


@register(
    "clustering_kmeans_exact",
    oracle=_km_sql(k=4, iters=2, dim=_DIM),
    doc="Lloyd k-means (k=4, 2 iterations) made associative-EXACT so the "
    "whole clustering trajectory carries a value oracle: coordinates "
    "integer-quantize to round(x*16), centroids live on a x256 sub-grid "
    "updated by the exact integer round-half-up floor((512s+n)/(2n)), "
    "and every assignment distance is a bigint sum of squares — no float "
    "enters the recurrence, so init, both assignment rounds, both "
    "centroid updates, sizes, exact inertia, and the final centroid "
    "digests all hash-match DuckDB's unrolled-CTE rendering (the "
    "graph_pagerank / embedding_pca treatment applied to clustering; "
    "data-dependent float k-means stays rows-only as similarity_ann_pq). "
    "Scoring is k literal-centroid codegen folds per row, zero join; the "
    "update is one groupBy + a k-row driver sync per iteration "
    "(operators/similarity.py:kmeans_exact).",
)
def clustering_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_exact

    return kmeans_exact(load_fixture(spark, sf_dir, "embeddings"), k=4, iters=2, dim=_DIM)


from ..operators.similarity import ivf_incremental_oracle_sql as _ivf_inc_sql


@register(
    "similarity_ivf_incremental",
    oracle=_ivf_inc_sql(k=4, iters=2, dim=_DIM, mod=5),
    doc="IVF index MAINTENANCE: the index trains once on the existing "
    "corpus (vec_id % 5 != 4; exact-integer Lloyd, k=4, 2 iterations), "
    "then the arriving batch (vec_id % 5 == 4) is ASSIGNED to the "
    "existing centroids without retraining — the add path every vector "
    "store runs between retrains, keeping at-rest partitionBy(cid) "
    "layouts append-only per list (the fact-table discipline applied to "
    "the ANN index). Output is the post-add index manifest: per-cluster "
    "old/new populations + centroid digests — n_new/n_old is exactly the "
    "drift signal a deployment watches to schedule retrains. Because "
    "training reuses the exact-integer recurrence, the WHOLE operation — "
    "training trajectory, both assignment passes, the manifest — "
    "hash-checks against the unrolled-CTE oracle "
    "(operators/similarity.py:ivf_incremental_add).",
)
def similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_incremental_add

    e = load_fixture(spark, sf_dir, "embeddings")
    return ivf_incremental_add(
        e.filter(F.col("vec_id") % 5 != 4),
        e.filter(F.col("vec_id") % 5 == 4),
        k=4, iters=2, dim=_DIM,
    )


@register(
    "embedding_class_separation",
    oracle="""
    WITH q AS (
        SELECT label, vec_id, j.j AS dim,
               -- explicit DOUBLE cast: FLOAT * literal stays float32 in
               -- DuckDB and flips round-half cases vs Spark's double math
               CAST(floor(CAST(embedding[j.j] AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT) AS q
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
    ),
    nn AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    stats AS (
        SELECT label, dim, SUM(q) AS s, SUM(q * q) AS sq2
        FROM q GROUP BY label, dim
    ),
    w AS (
        SELECT st.label,
               SUM(CAST(nn.n AS DECIMAL(10,0)) * CAST(nn.n AS DECIMAL(10,0))
                       * CAST(st.sq2 AS DECIMAL(18,0))
                   - CAST(nn.n AS DECIMAL(10,0))
                       * CAST(st.s AS DECIMAL(14,0))
                       * CAST(st.s AS DECIMAL(14,0))) AS wnum
        FROM stats st JOIN nn ON nn.label = st.label
        GROUP BY st.label
    ),
    cpair AS (
        SELECT a.label AS la, b.label AS lb,
               CAST(a.s * nb.n - b.s * na.n AS DECIMAL(19,0)) AS d
        FROM stats a
        JOIN stats b ON a.dim = b.dim AND a.label < b.label
        JOIN nn na ON na.label = a.label
        JOIN nn nb ON nb.label = b.label
    ),
    bsum AS (SELECT la, lb, SUM(d * d) AS bnum FROM cpair GROUP BY la, lb)
    SELECT bs.la AS label_a, bs.lb AS label_b,
           CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
           ROUND(CAST(bs.bnum AS DOUBLE)
                 / ((CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE))
                       * (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)))
                 / 1000000000000.0, 6) AS between_dist2,
           ROUND((CAST(wa.wnum AS DOUBLE)
                    / (CAST(na.n AS DOUBLE) * CAST(na.n AS DOUBLE) * CAST(na.n AS DOUBLE)) / 1000000000000.0
                  + CAST(wb.wnum AS DOUBLE)
                    / (CAST(nb.n AS DOUBLE) * CAST(nb.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) / 1000000000000.0)
                 / 2.0, 6) AS within_scatter,
           ROUND(ROUND(CAST(bs.bnum AS DOUBLE)
                       / ((CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE))
                       * (CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)))
                       / 1000000000000.0, 6)
                 / NULLIF(ROUND((CAST(wa.wnum AS DOUBLE)
                            / (CAST(na.n AS DOUBLE) * CAST(na.n AS DOUBLE) * CAST(na.n AS DOUBLE))
                            / 1000000000000.0
                          + CAST(wb.wnum AS DOUBLE)
                            / (CAST(nb.n AS DOUBLE) * CAST(nb.n AS DOUBLE) * CAST(nb.n AS DOUBLE))
                            / 1000000000000.0)
                        / 2.0, 6), 0.0), 4) AS fisher_ratio
    FROM bsum bs
    JOIN nn na ON na.label = bs.la
    JOIN nn nb ON nb.label = bs.lb
    JOIN w wa ON wa.label = bs.la
    JOIN w wb ON wb.label = bs.lb
    """,
    doc="Embedding-space class separability audit: per label pair, "
    "squared centroid distance (between), mean within-class scatter, "
    "and their Fisher-style ratio — the embedding-quality check run "
    "before trusting labels for retrieval/classification training. "
    "Exactness via the PCA idiom: quantize once (floor(v*1e6+.5)), "
    "keep centroids RATIONAL (s/n never divided — pair distances use "
    "the integer numerator s_a*n_b - s_b*n_a over (n_a*n_b)^2; scatter "
    "via the one-aggregate identity n^2*sum(q^2) - n*s^2), accumulate "
    "squares in DECIMAL, and divide into doubles only "
    "in the 45-row final projection with an identical op sequence in "
    "both engines.",
)
def embedding_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one posexplode to (row, dim) — 64x the vector
    relation, the same shape every per-dim exact op here uses — then
    two map-side-combined aggregates (per-class-dim sums, per-class
    scatter) and a |labels|^2/2 * 64 centroid pair join. Nothing
    scales with pairs of ROWS — only with pairs of CLASSES."""
    e = load_fixture(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        micro(F.col("v"))
        .alias("q"),
    )
    nn = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    stats = q.groupBy("label", "dim").agg(
        F.sum("q").alias("s"), F.sum(F.col("q") * F.col("q")).alias("sq2")
    )
    # within-scatter identity: sum_i (q_i*n - s)^2 = n^2*sum(q^2) - n*s^2
    # per dim — derivable from the SAME aggregate, no fact-sized join and
    # no second pass over the exploded relation. Bound (SCALE.md
    # micro-unit rule): the casts below are at
    # DuckDB's 38-digit physical multiply max (10+10+18 / 10+14+14), so
    # they CANNOT widen; with |q| <= ~1e6 (unit coords) the binding
    # constraint is sq2 <= 1e18 -> ~1e6 rows per label (then s <= 1e14
    # -> 1e8, and the pair numerator s*n <= 1e19 -> ~3e6). Labels larger
    # than that shard by vec_id range and merge the (n, s, sq2) moments
    # additively before this projection — the moments themselves are
    # exact at any scale.
    nd = F.col("n").cast("decimal(10,0)")
    w = (
        stats.join(nn, "label")
        .select(
            "label",
            (
                nd * nd * F.col("sq2").cast("decimal(18,0)")
                - nd
                * F.col("s").cast("decimal(14,0)")
                * F.col("s").cast("decimal(14,0)")
            ).alias("t"),
        )
        .groupBy("label")
        .agg(F.sum("t").alias("wnum"))
    )
    sa = stats.select(F.col("label").alias("la"), "dim", F.col("s").alias("s_a"))
    sb = stats.select(F.col("label").alias("lb"), F.col("dim").alias("dim_b"), F.col("s").alias("s_b"))
    na = nn.select(F.col("label").alias("la"), F.col("n").alias("n_a"))
    nb = nn.select(F.col("label").alias("lb"), F.col("n").alias("n_b"))
    cpair = (
        sa.join(sb, (F.col("dim") == F.col("dim_b")) & (F.col("la") < F.col("lb")))
        .join(F.broadcast(na), "la")
        .join(F.broadcast(nb), "lb")
        .select(
            "la",
            "lb",
            (F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a"))
            .cast("decimal(19,0)")
            .alias("d"),
        )
    )
    bsum = cpair.groupBy("la", "lb").agg(F.sum(F.col("d") * F.col("d")).alias("bnum"))
    wa = w.select(F.col("label").alias("la"), F.col("wnum").alias("wnum_a"))
    wb = w.select(F.col("label").alias("lb"), F.col("wnum").alias("wnum_b"))
    # denominators square n_a*n_b — as int64 that silently wraps past
    # ~55k rows/label under Spark's non-ANSI overflow while DuckDB
    # errors; promote to double FIRST (exact while n_a*n_b < 2^53,
    # identical op sequence on both engines)
    nab = F.col("n_a").cast("double") * F.col("n_b").cast("double")
    between = F.col("bnum").cast("double") / (nab * nab) / F.lit(1000000000000.0)
    na3 = (
        F.col("n_a").cast("double") * F.col("n_a").cast("double") * F.col("n_a").cast("double")
    )
    nb3 = (
        F.col("n_b").cast("double") * F.col("n_b").cast("double") * F.col("n_b").cast("double")
    )
    within = (
        F.col("wnum_a").cast("double") / na3 / F.lit(1000000000000.0)
        + F.col("wnum_b").cast("double") / nb3 / F.lit(1000000000000.0)
    ) / F.lit(2.0)
    return (
        bsum.join(F.broadcast(na), "la")
        .join(F.broadcast(nb), "lb")
        .join(F.broadcast(wa), "la")
        .join(F.broadcast(wb), "lb")
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(between, 6).alias("between_dist2"),
            F.round(within, 6).alias("within_scatter"),
            # NULLIF guard: a degenerate all-identical class would round
            # within to 0 — Spark /0.0 is NULL but DuckDB is inf; NULL both
            F.round(
                F.round(between, 6) / F.nullif(F.round(within, 6), F.lit(0.0)),
                4,
            ).alias("fisher_ratio"),
        )
    )


from ..operators.similarity import ivfpq_oracle_sql as _ivfpq_sql


@register(
    "similarity_ann_ivfpq",
    oracle=_ivfpq_sql(k=10, nlist=4, nprobe=2, iters=2, dim=_DIM, n_probes=5),
    doc="IVF-PQ composed ANN (Jegou et al. 2011) — the production "
    "100 TB layout: an exact-integer coarse quantizer (kmeans_exact, "
    "nlist=4, 2 Lloyd iterations) routes each probe to its nprobe=2 "
    "nearest inverted lists, and ONLY those lists are scanned with the "
    "ADC distance in its provably-exact identity configuration "
    "(round(x*16) coordinates, dsub=1 grid codebook — the "
    "similarity_ann_pq_exact treatment). Because training, routing, "
    "list membership, and every scored distance are integers, the "
    "PRUNED search itself is value-oracled: the SQL restates the "
    "kmeans trajectory, the top-nprobe routing, and the routed-list "
    "ADC scan — not a brute-force stand-in — so the driver hash "
    "checks IVF's approximation faithfully. Recall of the trained "
    "float composition is covered by similarity_ann_ivf + "
    "similarity_ann_pq. operators/similarity.py:ivfpq_topk.",
)
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: nlist-row driver syncs for training; corpus
    assignment is nlist codegen folds per row (no join); the routed
    scan touches nprobe/nlist of the corpus via a list-id equi-join —
    written partitioned-by-list at rest, that's partition pruning."""
    from ..operators.similarity import ivfpq_topk

    e = load_fixture(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        e.filter(F.col("vec_id") < 5), e, k=10, nlist=4, nprobe=2, iters=2, dim=_DIM
    )


@register(
    "graph_clustering_coefficient",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (SELECT a AS n, b AS m FROM edges UNION ALL SELECT b AS n, a AS m FROM edges),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY n),
    tri AS MATERIALIZED (
        SELECT e1.a, e1.b, e2.b AS c
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tn AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT a AS n FROM tri
            UNION ALL SELECT b AS n FROM tri
            UNION ALL SELECT c AS n FROM tri
        ) GROUP BY n
    )
    SELECT e.vec_id,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
           CAST(CAST((4 * COALESCE(t.t, 0) * 1000000
                      + NULLIF(COALESCE(d.deg, 0) * (COALESCE(d.deg, 0) - 1), 0))
                     // (2 * NULLIF(COALESCE(d.deg, 0) * (COALESCE(d.deg, 0) - 1), 0))
                AS BIGINT) AS DOUBLE) / 1000000.0 AS clustering_coeff
    FROM e
    LEFT JOIN deg d ON d.n = e.vec_id
    LEFT JOIN tn t ON t.n = e.vec_id
    """,
    doc="Local clustering coefficient per node (Watts & Strogatz 1998: "
    "2T(v) / (deg(v)*(deg(v)-1))) over the SAME hash-checked "
    "approximate 3-NN graph as graph_knn_triangles — the per-node "
    "community-density score that turns the global triangle count into "
    "a rankable cluster signal (high coefficient = the neighborhood is "
    "a semantic clique; SemDeDup's cluster prior, node-resolved). "
    "Triangle credit fans out from the ordered a<b<c enumeration (each "
    "triangle counts once per member), the coefficient is a ratio of "
    "exact integers half-away-rounded in micro-units, and deg<2 nodes "
    "get NULL via NULLIF on both engines.",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: degree-bounded graph (k=3 before symmetrization), so
    the two-hop triangle join emits O(|V|*k^2) rows and the per-node
    credit union is 3x the triangle count — every relation stays
    O(|V|) whatever the corpus size; the four consumers scan the
    at-rest edge artifact."""
    emb = load_fixture(spark, sf_dir, "embeddings")
    edges = _undirected(KNN_EDGES.serve(spark, sf_dir))
    adj = _knn_adjacency(edges)
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("_a"), F.col("b").alias("_c"))
    # tri feeds the 3-way credit union — checkpoint so the two-hop +
    # closing joins run once, not once per union branch
    tri = cut(
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("_a")) & (F.col("c") == F.col("_c")))
        .select("a", "b", "c")
    )
    tn = (
        tri.select(F.col("a").alias("n"))
        .unionAll(tri.select(F.col("b").alias("n")))
        .unionAll(tri.select(F.col("c").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    return (
        emb.select("vec_id")
        .join(deg, deg["n"] == F.col("vec_id"), "left").drop("n")
        .join(tn, tn["n"] == F.col("vec_id"), "left").drop("n")
        .select(
            "vec_id",
            F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
            (
                F.expr(
                    "CAST((4 * coalesce(t, 0) * 1000000"
                    " + nullif(coalesce(deg, 0) * (coalesce(deg, 0) - 1), 0))"
                    " div (2 * nullif(coalesce(deg, 0) * (coalesce(deg, 0) - 1), 0))"
                    " AS BIGINT)"
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("clustering_coeff"),
        )
    )


def _sql_sq_l2(a: str, b: str, dim: int) -> str:
    """Unrolled exact squared L2 over integer-quantized coordinate arrays
    (0-based Spark indexing) — the codegen-friendly _pair_dot_sql shape."""
    return "(" + " + ".join(
        f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])" for i in range(dim)
    ) + ")"


@register(
    "embedding_matryoshka_recall",
    oracle="""
    WITH q AS (
        SELECT vec_id, [CAST(round(x * 16) AS DOUBLE) FOR x IN embedding] AS qv
        FROM embeddings
    ), p AS (
        SELECT vec_id AS probe_id, qv AS pv FROM q WHERE vec_id < 5
    ), full_rank AS (
        SELECT probe_id, cand_id, rank FROM (
            SELECT p.probe_id, q.vec_id AS cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.probe_id
                       ORDER BY list_sum([(p.pv[i] - q.qv[i]) * (p.pv[i] - q.qv[i])
                                          FOR i IN range(1, 65)]) ASC, q.vec_id
                   ) AS rank
            FROM p, q WHERE q.vec_id <> p.probe_id
        ) WHERE rank <= 10
    ), pfx_rank AS (
        SELECT probe_id, cand_id FROM (
            SELECT p.probe_id, q.vec_id AS cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.probe_id
                       ORDER BY list_sum([(p.pv[i] - q.qv[i]) * (p.pv[i] - q.qv[i])
                                          FOR i IN range(1, 17)]) ASC, q.vec_id
                   ) AS rank
            FROM p, q WHERE q.vec_id <> p.probe_id
        ) WHERE rank <= 10
    )
    SELECT f.probe_id,
           CAST(COUNT(x.cand_id) AS BIGINT) AS n_overlap,
           CAST(CAST((2 * COUNT(x.cand_id) * 1000000 + 10) // 20 AS BIGINT)
                AS DOUBLE) / 1000000.0 AS recall_at_10
    FROM full_rank f
    LEFT JOIN pfx_rank x
      ON x.probe_id = f.probe_id AND x.cand_id = f.cand_id
    GROUP BY f.probe_id
    """,
    doc="Matryoshka truncation recall (Kusupati et al. 2022): for each "
    "probe, exact top-10 by squared L2 on the FULL 64-dim quantized "
    "vector vs top-10 on the first-16-dim PREFIX — the measurement "
    "that decides whether a deployment can serve the 4x-cheaper "
    "truncated index and re-rank with full vectors only for the "
    "shortlist. Both rankings use exact integer distances (round(x*16) "
    "coordinates, the similarity_ann_pq_exact grid) with vec_id "
    "tie-breaks, so overlap and recall@10 are exact integers — the "
    "recall of the trained IVF-PQ path stays measured-not-oracled in "
    "tests; THIS op is the oracled truncation twin.",
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: 5 probes broadcast against the corpus scan — the
    brute-force baseline shape (one scan, two per-probe top-10s via
    TakeOrdered-style windows over the same scored relation); the
    prefix distance reuses the same quantized array, no second fetch."""
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(round(x * 16) as double))").alias("qv"),
    )
    p = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("qv").alias("pv")
    )
    pairs = cut(
        F.broadcast(p)
        .join(e.withColumnRenamed("vec_id", "cand_id"), F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            F.expr(_sql_sq_l2("pv", "qv", 64)).alias("d_full"),
            F.expr(_sql_sq_l2("pv", "qv", 16)).alias("d_pfx"),
        ),
        eager=False,
    )
    wf = Window.partitionBy("probe_id").orderBy(F.col("d_full").asc(), "cand_id")
    wp = Window.partitionBy("probe_id").orderBy(F.col("d_pfx").asc(), "cand_id")
    full_rank = (
        pairs.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 10)
        .select("probe_id", "cand_id")
    )
    pfx_rank = (
        pairs.withColumn("rank", F.row_number().over(wp))
        .filter(F.col("rank") <= 10)
        .select("probe_id", F.col("cand_id").alias("pfx_cand"))
    )
    j = full_rank.join(
        pfx_rank,
        (pfx_rank["probe_id"] == full_rank["probe_id"])
        & (pfx_rank["pfx_cand"] == full_rank["cand_id"]),
        "left",
    ).select(full_rank["probe_id"].alias("probe_id"), "pfx_cand")
    return j.groupBy("probe_id").agg(
        F.count("pfx_cand").cast("bigint").alias("n_overlap"),
        (
            F.expr("CAST((2 * count(pfx_cand) * 1000000 + 10) div 20 AS BIGINT)")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("recall_at_10"),
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH q AS (
        SELECT vec_id % 2 AS half, label,
               [CAST(round(x * 16) AS BIGINT) FOR x IN embedding] AS qv
        FROM embeddings
    ),
    dims AS (
        SELECT half, label, i,
               CAST(SUM(qv[i + 1]) AS DECIMAL(38,0)) AS s,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS n
        FROM q, UNNEST(range(0, 64)) AS u(i)
        GROUP BY half, label, i
    ),
    num AS (
        SELECT a.label,
               CAST(MAX(a.n) AS BIGINT) AS n_a,
               CAST(MAX(b.n) AS BIGINT) AS n_b,
               CAST(SUM((a.s * b.n - b.s * a.n) * (a.s * b.n - b.s * a.n))
                    AS DECIMAL(38,0)) AS ss,
               CAST(MAX(a.n * a.n * b.n * b.n) AS DECIMAL(38,0)) AS den
        FROM dims a JOIN dims b
          ON b.label = a.label AND b.i = a.i AND a.half = 0 AND b.half = 1
        GROUP BY a.label
    )
    SELECT label, n_a, n_b,
           CAST(CAST((2 * CAST(ss AS HUGEINT) * 1000000 + CAST(den AS HUGEINT))
                     // (2 * CAST(den AS HUGEINT)) AS BIGINT)
                AS DOUBLE) / 1000000.0 AS l2sq_drift
    FROM num
    """,
    doc="Split-half embedding centroid drift per label: the corpus "
    "splits by vec_id parity, per-label centroids of the two halves "
    "are compared by squared L2 — the stability audit that catches a "
    "drifting or corrupted embedding pipeline (a healthy class's "
    "half-centroids nearly coincide; drift >> the class-separation "
    "scale means the embedding space moved mid-corpus). EXACT "
    "arithmetic throughout: round(x*16) integer coordinates, the "
    "centroid difference cleared of denominators via "
    "(s_a*n_b - s_b*n_a)^2 / (n_a^2 n_b^2) in DECIMAL(38,0)/HUGEINT, "
    "half-away micro-round at the end — no float enters until the "
    "display division.",
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one posexplode scan to (label, half, dim) partial
    sums — map-side combined, 2*|labels|*64 result rows total — then a
    |labels|*64 join and a |labels|-row reduce; the vectors never ride
    a shuffle wider than their per-dim partials."""
    e = load_fixture(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(round(x * 16) as bigint))")
        ).alias("i", "qx"),
    )
    dims = e.groupBy("half", "label", "i").agg(
        F.sum("qx").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    a = dims.filter(F.col("half") == 0).select(
        "label", "i", F.col("s").alias("sa"), F.col("n").alias("na")
    )
    b = dims.filter(F.col("half") == 1).select(
        "label", "i", F.col("s").alias("sb"), F.col("n").alias("nb")
    )
    num = (
        a.join(b, ["label", "i"])
        .groupBy("label")
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.sum(
                (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"))
                * (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"))
            )
            .cast("decimal(38,0)")
            .alias("ss"),
            F.max(
                F.col("na") * F.col("na") * F.col("nb") * F.col("nb")
            )
            .cast("decimal(38,0)")
            .alias("den"),
        )
    )
    return num.select(
        "label",
        "n_a",
        "n_b",
        (
            F.expr("CAST((2 * ss * 1000000 + den) div (2 * den) AS BIGINT)")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("l2sq_drift"),
    )


@register(
    "embedding_whitening_digest",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    dims AS (
        SELECT j.j AS dim, e.vec_id, e.v[j.j + 1] AS x
        FROM e, (SELECT unnest(range(0, 64)) AS j) j
    ),
    st AS (
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS HUGEINT)) AS HUGEINT)
                   AS sq,
               SUM(CAST(floor(x * 1000000.0 + 0.5) AS HUGEINT)
                   * CAST(floor(x * 1000000.0 + 0.5) AS HUGEINT)) AS qq
        FROM dims GROUP BY dim
    ),
    ms AS (
        SELECT dim, n,
               CAST(sq AS DOUBLE) / n / 1000000.0 AS mu,
               sqrt((CAST(qq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
                    / n) / 1000000.0 AS sigma
        FROM st
    ),
    z AS (
        SELECT d.vec_id, d.dim,
               CAST(floor((d.x - ms.mu) / NULLIF(ms.sigma, 0.0) * 1000000.0 + 0.5)
                    AS BIGINT) AS zm
        FROM dims d JOIN ms USING (dim)
    )
    SELECT vec_id,
           CAST(SUM(zm * (dim + 1)) AS BIGINT) AS digest_micro,
           CAST(SUM(zm) AS BIGINT) AS z_sum_micro
    FROM z GROUP BY vec_id
    """,
    doc="Per-dimension standardization (diagonal whitening) of the "
    "embedding table — the feature-scaling pass run before distance-"
    "based training or clustering. Per-dim moments come from EXACT "
    "integer micro sums (values quantize once — the PCA idiom); each "
    "z-score runs in one identical double op sequence and quantizes "
    "via floor(z*1e6 + 0.5) — floor, never ROUND(double, n), whose "
    "shortest-repr/exact-value split flipped this very query's hash at "
    "sf0.1 before the sweep caught it — and the position-weighted "
    "digest + plain sum are pure BIGINTs that hash-check every "
    "standardized coordinate without emitting arrays.",
)
def embedding_whitening_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one posexplode scan into a 64-group moment
    aggregate (map-side combined), the 64-row stats relation broadcast
    back onto a second scan — no shuffle of vector rows at any corpus
    size; digests are per-row expressions."""
    from ..functions.vectors import to_double_array

    e = load_fixture(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    dims = e.select("vec_id", F.posexplode("v").alias("dim", "x"))
    q = micro(F.col("x")).cast("decimal(19,0)")
    st = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q).cast("decimal(38,0)").alias("sq"),
        F.sum(q * q).cast("decimal(38,0)").alias("qq"),
    )
    sqd = F.col("sq").cast("double")
    ms = st.select(
        "dim",
        (sqd / F.col("n") / F.lit(1000000.0)).alias("mu"),
        (
            F.sqrt(
                (F.col("qq").cast("double") - sqd * sqd / F.col("n")) / F.col("n")
            )
            / F.lit(1000000.0)
        ).alias("sigma"),
    )
    z = dims.join(F.broadcast(ms), "dim").select(
        "vec_id",
        "dim",
        F.floor(
            (F.col("x") - F.col("mu"))
            / F.nullif(F.col("sigma"), F.lit(0.0))
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("zm"),
    )
    return z.groupBy("vec_id").agg(
        F.sum(F.col("zm") * (F.col("dim") + F.lit(1))).cast("bigint").alias("digest_micro"),
        F.sum("zm").cast("bigint").alias("z_sum_micro"),
    )


@register(
    "graph_adamic_adar",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (SELECT a AS n, b AS m FROM edges
            UNION ALL SELECT b AS n, a AS m FROM edges),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY n),
    cn AS (
        SELECT j1.n AS a, j2.m AS b, j1.m AS mid
        FROM adj j1 JOIN adj j2 ON j2.n = j1.m AND j1.n < j2.m
    ),
    scored AS (
        SELECT cn.a, cn.b, CAST(COUNT(*) AS BIGINT) AS common,
               SUM(CAST(ROUND(1.0 / ln(CAST(dz.d AS DOUBLE)), 9)
                        AS DECIMAL(18,9))) AS aa
        FROM cn JOIN deg dz ON dz.n = cn.mid
        GROUP BY cn.a, cn.b
    ),
    cand AS (
        SELECT s.a, s.b, s.common, s.aa
        FROM scored s LEFT JOIN edges e ON e.a = s.a AND e.b = s.b
        WHERE e.a IS NULL
    )
    SELECT a, b, common, ROUND(CAST(aa AS DOUBLE), 6) AS adamic_adar
    FROM cand
    ORDER BY ROUND(CAST(aa AS DOUBLE), 9) DESC, a, b
    LIMIT 20
    """,
    doc="Adamic-Adar link prediction on the same hash-checked kNN graph "
    "as graph_link_prediction: non-edge pairs score "
    "sum over common neighbors z of 1/ln(deg(z)) — rare shared "
    "neighbors count more than hubs, the refinement over plain "
    "common-neighbor/Jaccard scores (Adamic & Adar 2003), top-20. "
    "Every common neighbor has degree >= 2 by construction (it touches "
    "both endpoints), so ln(deg) > 0 always; each 1/ln term rounds to "
    "9 dp DECIMAL and sums order-independently.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: degree-bounded 2-hop join (O(|V|*k^2) rows) keeping
    the witness node, broadcast degree join, map-side-combined pair
    aggregate, anti-join against edges, TakeOrderedAndProject top-20 —
    no window, no global sort."""
    edges = _undirected(KNN_EDGES.serve(spark, sf_dir))
    adj = _knn_adjacency(edges)
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    j1 = adj.select(F.col("n").alias("a"), F.col("m").alias("mid"))
    j2 = adj.select(F.col("n").alias("mid"), F.col("m").alias("b"))
    cn = j1.join(j2, "mid").filter(F.col("a") < F.col("b"))
    dz = deg.select(F.col("n").alias("mid"), F.col("d").alias("dz"))
    scored = (
        cn.join(F.broadcast(dz), "mid")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common"),
            F.sum(
                F.expr(
                    "CAST(ROUND(1.0 / ln(CAST(dz AS DOUBLE)), 9) AS DECIMAL(18,9))"
                )
            ).alias("aa"),
        )
    )
    cand = scored.join(edges, ["a", "b"], "left_anti")
    return (
        cand.orderBy(F.round(F.col("aa").cast("double"), 9).desc(), "a", "b")
        .limit(20)
        .select(
            "a",
            "b",
            "common",
            F.round(F.col("aa").cast("double"), 6).alias("adamic_adar"),
        )
    )


@register(
    "graph_degree_assortativity",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (SELECT a AS n, b AS m FROM edges
            UNION ALL SELECT b AS n, a AS m FROM edges),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY n),
    j AS (
        SELECT dn.d AS dj, dm.d AS dk
        FROM adj JOIN deg dn ON dn.n = adj.n JOIN deg dm ON dm.n = adj.m
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2,
               CAST(SUM(dj) AS HUGEINT) AS sj,
               CAST(SUM(CAST(dj AS HUGEINT) * dk) AS HUGEINT) AS sjk,
               CAST(SUM(CAST(dj AS HUGEINT) * dj) AS HUGEINT) AS sj2
        FROM j
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m2 // 2 AS BIGINT) AS n_edges,
           ROUND((CAST(m2 AS DOUBLE) * CAST(sjk AS DOUBLE)
                  - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                 / NULLIF(CAST(m2 AS DOUBLE) * CAST(sj2 AS DOUBLE)
                          - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE), 0.0), 6)
               AS assortativity
    FROM s
    """,
    doc="Degree assortativity coefficient (Newman 2002) of the same "
    "hash-checked kNN graph as graph_clustering_coefficient / "
    "graph_adamic_adar: the Pearson correlation of endpoint degrees "
    "over the both-ways edge relation — positive means hubs attach to "
    "hubs (social-network-like), negative means hub-leaf (internet-"
    "like); the one-number mixing audit run before trusting degree-"
    "based sampling. Over the symmetric adjacency, sum(dj) = sum(dk) "
    "and sum(dj^2) = sum(dk^2), so r = (M*sum(dj*dk) - sum(dj)^2) / "
    "(M*sum(dj^2) - sum(dj)^2) with EVERY operand an exact integer "
    "(degrees are k-bounded by the 3-NN construction); the only "
    "doubles are the final 1-row division, NULLIF-guarded for the "
    "regular-graph degenerate case (all degrees equal -> undefined).",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: degree-bounded edge relation (|V|*k rows), one
    degree aggregate, two broadcast degree joins, a single 1-row
    reduce — no window, no global sort, nothing quadratic."""
    adj = _knn_adjacency(_undirected(KNN_EDGES.serve(spark, sf_dir)))
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    dn = deg.select(F.col("n"), F.col("d").alias("dj"))
    dm = deg.select(F.col("n").alias("m"), F.col("d").alias("dk"))
    j = adj.join(F.broadcast(dn), "n").join(F.broadcast(dm), "m")
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum("dj").cast("decimal(38,0)").alias("sj"),
        F.sum(F.expr("CAST(dj AS DECIMAL(19,0)) * dk")).cast("decimal(38,0)").alias(
            "sjk"
        ),
        F.sum(F.expr("CAST(dj AS DECIMAL(19,0)) * dj")).cast("decimal(38,0)").alias(
            "sj2"
        ),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    m2d = F.col("m2").cast("double")
    sjd = F.col("sj").cast("double")
    return s.crossJoin(F.broadcast(nn)).select(
        F.col("n_nodes"),
        F.expr("CAST(m2 div 2 AS BIGINT)").alias("n_edges"),
        F.round(
            (m2d * F.col("sjk").cast("double") - sjd * sjd)
            / F.nullif(
                m2d * F.col("sj2").cast("double") - sjd * sjd, F.lit(0.0)
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "graph_harmonic_centrality",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (SELECT a AS n, b AS m FROM edges
            UNION ALL SELECT b AS n, a AS m FROM edges),
    d1 AS (SELECT DISTINCT n AS src, m AS dst FROM adj),
    d2 AS (
        SELECT DISTINCT d1.src, a2.m AS dst
        FROM d1 JOIN adj a2 ON a2.n = d1.dst
        WHERE a2.m <> d1.src
          AND NOT EXISTS (SELECT 1 FROM d1 x
                          WHERE x.src = d1.src AND x.dst = a2.m)
    ),
    d3 AS (
        SELECT DISTINCT d2.src, a3.m AS dst
        FROM d2 JOIN adj a3 ON a3.n = d2.dst
        WHERE a3.m <> d2.src
          AND NOT EXISTS (SELECT 1 FROM d1 x
                          WHERE x.src = d2.src AND x.dst = a3.m)
          AND NOT EXISTS (SELECT 1 FROM d2 y
                          WHERE y.src = d2.src AND y.dst = a3.m)
    ),
    cnt AS (
        SELECT d1.src,
               CAST(COUNT(*) AS BIGINT) AS n1,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM d2
                WHERE d2.src = d1.src) AS n2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM d3
                WHERE d3.src = d1.src) AS n3
        FROM d1 GROUP BY d1.src
    )
    SELECT src AS node, n1, n2, n3,
           CAST(6 * n1 + 3 * n2 + 2 * n3 AS BIGINT) AS h_sixths,
           ROUND(CAST(6 * n1 + 3 * n2 + 2 * n3 AS DOUBLE) / 6.0, 6)
               AS harmonic
    FROM cnt
    ORDER BY h_sixths DESC, node
    LIMIT 20
    """,
    doc="Harmonic centrality truncated at 3 hops on the hash-checked "
    "kNN graph: sum over reachable nodes of 1/d(u,v) for d <= 3 — "
    "the centrality that stays well-defined on disconnected graphs "
    "(closeness diverges there), top-20 hubs. The truncation is the "
    "scale decision: exact distances need only k-bounded frontier "
    "expansions (d2, d3 via distinct anti-joined hops), never a "
    "global BFS. 1 + 1/2 + 1/3 sums land EXACTLY in SIXTHS "
    "(6*n1 + 3*n2 + 2*n3 — integer; no 1/3 float anywhere); the "
    "display double divides once at the end.",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: frontier joins are degree-bounded (|V|*k^d rows at
    hop d, k~6 undirected), each deduplicated and anti-joined against
    nearer hops before expanding — top-20 via TakeOrderedAndProject."""
    adj = _knn_adjacency(_undirected(KNN_EDGES.serve(spark, sf_dir)))
    d1 = cut(adj.select(F.col("n").alias("src"), F.col("m").alias("dst")).distinct())
    a2 = adj.select(F.col("n").alias("dst"), F.col("m").alias("nxt"))
    d2 = cut(
        d1.join(a2, "dst")
        .filter(F.col("nxt") != F.col("src"))
        .select("src", F.col("nxt").alias("dst"))
        .distinct()
        .join(d1, ["src", "dst"], "left_anti")
    )
    d3 = (
        d2.join(a2, "dst")
        .filter(F.col("nxt") != F.col("src"))
        .select("src", F.col("nxt").alias("dst"))
        .distinct()
        .join(d1, ["src", "dst"], "left_anti")
        .join(d2, ["src", "dst"], "left_anti")
    )
    c1 = d1.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    c2 = d2.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("n2"))
    c3 = d3.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("n3"))
    cnt = (
        c1.join(c2, "src", "left")
        .join(c3, "src", "left")
        .fillna(0, subset=["n2", "n3"])
    )
    return (
        cnt.selectExpr(
            "src AS node",
            "n1",
            "n2",
            "n3",
            "CAST(6 * n1 + 3 * n2 + 2 * n3 AS BIGINT) AS h_sixths",
            "ROUND(CAST(6 * n1 + 3 * n2 + 2 * n3 AS DOUBLE) / 6.0, 6)"
            " AS harmonic",
        )
        .orderBy(F.col("h_sixths").desc(), "node")
        .limit(20)
    )


@register(
    "embedding_hubness_audit",
    oracle=_KNN_EDGES_CTE + """,
    ind AS (
        SELECT b AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM knn GROUP BY b
    ),
    alln AS (SELECT vec_id AS node FROM embeddings),
    dd AS (
        SELECT a.node, COALESCE(ind.d, 0) AS d
        FROM alln a LEFT JOIN ind ON ind.node = a.node
    )
    SELECT CAST(d AS BIGINT) AS in_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM dd GROUP BY d
    """,
    doc="Hubness audit of the embedding space: the k-occurrence "
    "(in-degree) distribution of the DIRECTED 3-NN graph — how often "
    "each vector appears in other vectors' top-3. A heavy right tail "
    "(hub vectors in thousands of neighbor lists) plus a fat "
    "in_degree=0 bucket (antihubs no query ever retrieves) is the "
    "classic high-dimensional hubness pathology (Radovanovic et al. "
    "2010) that silently skews kNN classification, dedup, and "
    "retrieval long before recall metrics notice. Uses the same "
    "hash-checked banded-LSH kNN construction as the graph_* family; "
    "counts are exact integers.",
)
def embedding_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the shared degree-bounded kNN build, one in-degree
    aggregate (|V|*k rows), a left anti-ish join for the zero bucket,
    one histogram aggregate over |V| rows."""
    emb = load_fixture(spark, sf_dir, "embeddings")
    knn = KNN_EDGES.serve(spark, sf_dir)
    ind = knn.groupBy(F.col("b").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    alln = emb.select(F.col("vec_id").alias("node"))
    dd = alln.join(ind, "node", "left").fillna(0, subset=["d"])
    return dd.groupBy(F.col("d").cast("bigint").alias("in_degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


@register(
    "graph_rich_club",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (SELECT a AS n, b AS m FROM edges
            UNION ALL SELECT b AS n, a AS m FROM edges),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY n),
    ks AS (SELECT unnest([4, 6]) AS k),
    club AS (
        SELECT ks.k, deg.n
        FROM ks JOIN deg ON deg.d > ks.k
    ),
    within AS (
        SELECT c1.k, CAST(COUNT(*) AS BIGINT) AS e_k
        FROM edges e
        JOIN club c1 ON c1.n = e.a
        JOIN club c2 ON c2.n = e.b AND c2.k = c1.k
        GROUP BY c1.k
    ),
    sizes AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM club GROUP BY k
    )
    SELECT s.k, s.n_k AS n_club_nodes,
           COALESCE(w.e_k, 0) AS n_edges_within,
           CASE WHEN s.n_k >= 2 THEN
               CAST((2 * 2 * CAST(COALESCE(w.e_k, 0) AS HUGEINT) * 1000000
                     + s.n_k * (s.n_k - 1))
                    // (2 * CAST(s.n_k AS HUGEINT) * (s.n_k - 1)) AS BIGINT)
           ELSE NULL END AS phi_micro
    FROM sizes s LEFT JOIN within w ON w.k = s.k
    """,
    doc="Rich-club coefficient of the kNN graph at degree thresholds "
    "k in {4, 6}: phi(k) = 2*E_k / (N_k*(N_k-1)) over the subgraph of "
    "nodes with degree > k — do the best-connected vectors "
    "preferentially interconnect (a 'core' of near-duplicate or hub "
    "structure) or spread (Colizza et al. 2006)? Complements "
    "embedding_hubness_audit (who the hubs are) with how they wire "
    "together. Degrees and club-internal edge counts are exact "
    "integers off the shared hash-checked edge relation; phi "
    "quantizes half-away to exact micro units, NULL for a sub-2-node "
    "club in both engines.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the shared degree-bounded graph build, one degree
    aggregate, broadcast club membership joined to the edge relation,
    a 2-row reduce."""
    edges = _undirected(KNN_EDGES.serve(spark, sf_dir))
    adj = _knn_adjacency(edges)
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    ks = local_frame(spark, [(4,), (6,)], "k int")
    club = cut(ks.join(deg, deg.d > ks.k).select("k", "n"))
    c1 = club.select(F.col("k"), F.col("n").alias("a"))
    c2 = club.select(F.col("k"), F.col("n").alias("b"))
    within = (
        edges.join(F.broadcast(c1), "a")
        .join(F.broadcast(c2), ["k", "b"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_k"))
    )
    sizes = club.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("n_k"))
    return (
        sizes.join(within, "k", "left")
        .fillna(0, subset=["e_k"])
        .selectExpr(
            "k",
            "n_k AS n_club_nodes",
            "e_k AS n_edges_within",
            "CASE WHEN n_k >= 2 THEN"
            " CAST((2 * 2 * CAST(e_k AS DECIMAL(19,0)) * 1000000"
            " + n_k * (n_k - 1))"
            " div (2 * CAST(n_k AS DECIMAL(19,0)) * (n_k - 1)) AS BIGINT)"
            " ELSE NULL END AS phi_micro",
        )
    )


@register(
    "embedding_norm_outlier_audit",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               CAST(floor(CAST(embedding[j.j] AS DOUBLE) * 1000000.0 + 0.5)
                    AS BIGINT) AS qv
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS j) j
    ),
    norms AS (
        SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS norm2
        FROM q GROUP BY vec_id
    ),
    cells AS (
        SELECT norm2 AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM norms GROUP BY norm2
    ),
    cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumc
        FROM cells
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM norms),
    med AS (
        SELECT MIN(v) AS med2 FROM cum, tot
        WHERE cumc >= (n + 1) // 2
    ),
    cnt AS (
        SELECT CAST(SUM(CASE WHEN 4 * norm2 < med2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN norm2 > 4 * med2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high
        FROM norms, med
    )
    SELECT n AS n_vecs, med2 AS median_norm2, n_low, n_high,
           CAST((2 * CAST(n_low AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS low_share_micro,
           CAST((2 * CAST(n_high AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS high_share_micro
    FROM cnt, tot, med
    """,
    doc="Embedding-norm outlier audit: micro-quantized squared norms "
    "(exact BIGINT, 64 * (2e6)^2 < int64), the exact LOWER median of "
    "norm2 from distinct-value running counts, and the count/share of "
    "vectors whose norm falls below half (4*norm2 < med2) or above "
    "double (norm2 > 4*med2) the median norm — the embedding-QA gate "
    "run before cosine ANN (a mixed-norm corpus silently turns cosine "
    "into a length contest after quantized-dot scoring; zero vectors "
    "and blown-up activations land in the two outlier buckets). All "
    "integer arithmetic; shares are half-away micro.",
)
def embedding_norm_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one posexplode to (row, dim) with a map-side-combined
    per-vector sum, the distinct-norm running count via value_ranks (no
    single-partition window), 1-row median/total broadcasts, one
    counting pass."""
    from ..operators.stats import value_ranks

    e = load_fixture(spark, sf_dir, "embeddings")
    norms = cut(
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            micro(F.col("v"))
            .alias("qv"),
        )
        .groupBy("vec_id")
        .agg(F.sum(F.col("qv") * F.col("qv")).cast("bigint").alias("norm2"))
    )
    tot = norms.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    med = (
        value_ranks(norms, [], "norm2", {"c": F.lit(1)})
        .filter(F.col("cum_c") >= F.expr("(tot_c + 1) div 2"))
        .agg(F.min("norm2").alias("med2"))
    )
    cnt = norms.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when(F.lit(4) * F.col("norm2") < F.col("med2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_low"),
        F.sum(F.when(F.col("norm2") > F.lit(4) * F.col("med2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_high"),
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(med))
        .selectExpr(
            "n AS n_vecs",
            "med2 AS median_norm2",
            "n_low",
            "n_high",
            "CAST((2 * CAST(n_low AS DECIMAL(38,0)) * 1000000 + n)"
            " div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)"
            " AS low_share_micro",
            "CAST((2 * CAST(n_high AS DECIMAL(38,0)) * 1000000 + n)"
            " div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)"
            " AS high_share_micro",
        )
    )


@register(
    "embedding_twonn_intrinsic_dim",
    oracle=_KNN_EDGES_CTE + """,
    base AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
             FROM e),
    scored AS (
        SELECT k.a, k.b,
               list_dot_product(pa.v, pb.v) / (pa.nrm * pb.nrm) AS cosv
        FROM knn k
        JOIN base pa ON pa.vec_id = k.a
        JOIN base pb ON pb.vec_id = k.b
    ),
    ranked AS (
        SELECT a, cosv,
               ROW_NUMBER() OVER (PARTITION BY a
                                  ORDER BY cosv DESC, b) AS rk
        FROM scored
    ),
    two AS (
        SELECT a,
               MAX(CASE WHEN rk = 1 THEN 1.0 - cosv END) AS d1,
               MAX(CASE WHEN rk = 2 THEN 1.0 - cosv END) AS d2
        FROM ranked WHERE rk <= 2 GROUP BY a
    ),
    lnq AS (
        SELECT CAST(floor(ln(d2 / d1) * 1000000000.0 + 0.5) AS BIGINT) AS q
        FROM two WHERE d1 IS NOT NULL AND d2 IS NOT NULL AND d1 > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
               CAST(SUM(q) AS HUGEINT) AS sq
        FROM lnq
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           n_used,
           ROUND(CAST(sq AS DOUBLE) / 1000000000.0, 6) AS sum_log_ratio,
           CASE WHEN sq > 0
                THEN ROUND(CAST(n_used AS DOUBLE)
                           / (CAST(sq AS DOUBLE) / 1000000000.0), 6)
                ELSE NULL END AS twonn_dim
    FROM s
    """,
    doc="TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the "
    "embedding corpus, served from the at-rest 3-NN artifact: for "
    "each vector take its two nearest cosine distances r1 <= r2, "
    "mu = r2/r1, and the MLE d = n / sum ln mu — the "
    "curse-of-dimensionality gauge that tells an index designer "
    "whether 64 ambient dims hide a ~10-dim manifold (IVF/LSH "
    "recall depends on intrinsic, not ambient, dimension; pairs "
    "with embedding_hubness_audit which reads the same pathology "
    "from in-degrees). Nodes with <2 artifact neighbors or an exact "
    "duplicate (r1 = 0) drop out, both engines identically. "
    "DETERMINISM: cosines recompute from the artifact edges with "
    "the house unrolled dot chain (bit-identical to DuckDB's "
    "list_dot_product fold), ranks tie-break on neighbor id, and "
    "each ln(mu) is nano-quantized to an integer before the "
    "corpus-wide sum — order-free accumulation.",
)
def embedding_twonn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one at-rest artifact scan (|V|*3 edge rows), two
    |V|-row equi-joins to rehydrate vectors, a per-node rank over <=3
    rows, one 1-row reduce — the O(n^2) of naive TwoNN never appears."""
    from pyspark.sql.window import Window

    from ..operators.similarity import _norm_sql, _pair_dot_sql, to_double_array

    emb = load_fixture(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.expr(_norm_sql("v", _DIM)))
    knn = KNN_EDGES.serve(spark, sf_dir)
    pa = base.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    pb = base.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    scored = (
        knn.join(pa, "a")
        .join(pb, "b")
        .select(
            "a",
            "b",
            F.expr(f"{_pair_dot_sql('va', 'vb', _DIM)} / (na * nb)").alias(
                "cosv"
            ),
        )
    )
    wr = Window.partitionBy("a").orderBy(F.col("cosv").desc(), "b")
    two = (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 2)
        .groupBy("a")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.lit(1.0) - F.col("cosv"))).alias(
                "d1"
            ),
            F.max(F.when(F.col("rk") == 2, F.lit(1.0) - F.col("cosv"))).alias(
                "d2"
            ),
        )
    )
    lnq = two.filter(
        F.col("d1").isNotNull() & F.col("d2").isNotNull() & (F.col("d1") > 0)
    ).select(
        F.expr(
            "CAST(floor(ln(d2 / d1) * 1000000000.0 + 0.5) AS BIGINT)"
        ).alias("q")
    )
    s = lnq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.sum("q").cast("decimal(38,0)").alias("sq"),
    )
    nv = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return nv.crossJoin(F.broadcast(s)).selectExpr(
        "n_vectors",
        "n_used",
        "ROUND(CAST(sq AS DOUBLE) / 1000000000.0, 6) AS sum_log_ratio",
        "CASE WHEN sq > 0 THEN ROUND(CAST(n_used AS DOUBLE)"
        " / (CAST(sq AS DOUBLE) / 1000000000.0), 6) ELSE NULL END"
        " AS twonn_dim",
    )


@register(
    "graph_neighbor_jaccard",
    oracle=_KNN_EDGES_CTE + """,
    adj AS (
        SELECT a AS x, b AS y FROM edges
        UNION ALL
        SELECT b AS x, a AS y FROM edges
    ),
    deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY x),
    common AS (
        SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS c
        FROM edges e
        JOIN adj xa ON xa.x = e.a
        JOIN adj xb ON xb.x = e.b AND xb.y = xa.y
        GROUP BY e.a, e.b
    ),
    scored AS (
        SELECT c.a, c.b, c.c, da.d AS deg_a, db.d AS deg_b,
               CAST((2 * CAST(c.c AS HUGEINT) * 1000000
                     + (da.d + db.d - c.c))
                    // (2 * CAST(da.d + db.d - c.c AS HUGEINT)) AS BIGINT)
                   AS jaccard_micro
        FROM common c
        JOIN deg da ON da.x = c.a
        JOIN deg db ON db.x = c.b
    )
    SELECT a, b, c AS n_common, deg_a, deg_b, jaccard_micro
    FROM scored
    ORDER BY jaccard_micro DESC, a, b
    LIMIT 20
    """,
    doc="Neighbor-set Jaccard similarity over the at-rest undirected "
    "kNN graph's own edges: J(a,b) = |N(a) cap N(b)| / |N(a) cup "
    "N(b)| for each adjacent pair, top-20 by the exact half-away "
    "micro score — the classic link-STRENGTH score (vs "
    "graph_adamic_adar's rarity weighting and "
    "graph_link_prediction's non-edge ranking): an edge whose "
    "endpoints share most of their neighborhoods is intra-cluster, "
    "a high-traffic bridge scores near 0, so the top/bottom of this "
    "list is a cheap community-boundary read. Edges with zero "
    "common neighbors drop out (documented; both engines "
    "identically). All counts and the micro score are exact "
    "integers; ordering ties break on (a, b).",
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: artifact scan -> degree-bounded adjacency (<= 2k
    rows per node) -> one equi-join wedge count grouped per edge -> two
    |V|-row degree joins -> global top-20. Every relation is O(|V|*k)."""
    edges = _undirected(KNN_EDGES.serve(spark, sf_dir))
    adj = edges.select(
        F.col("a").alias("x"), F.col("b").alias("y")
    ).unionAll(edges.select(F.col("b").alias("x"), F.col("a").alias("y")))
    adj = cut(adj)
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    xa = adj.select(F.col("x").alias("a"), F.col("y").alias("w"))
    xb = adj.select(F.col("x").alias("b"), F.col("y").alias("w"))
    common = (
        edges.join(xa, "a")
        .join(xb, ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("x").alias("b"), F.col("d").alias("deg_b"))
    scored = (
        common.join(da, "a")
        .join(db, "b")
        .selectExpr(
            "a",
            "b",
            "c AS n_common",
            "deg_a",
            "deg_b",
            "CAST((2 * CAST(c AS DECIMAL(19,0)) * 1000000"
            " + (deg_a + deg_b - c))"
            " div (2 * CAST(deg_a + deg_b - c AS DECIMAL(19,0))) AS BIGINT)"
            " AS jaccard_micro",
        )
    )
    return scored.orderBy(
        F.col("jaccard_micro").desc(), "a", "b"
    ).limit(20)


@register(
    "embedding_coordinate_kurtosis",
    oracle="""
    WITH e AS (
        SELECT embedding::DOUBLE[] AS v FROM embeddings
    ),
    p AS (SELECT unnest(range(1, len(v)+1)) AS dim, v FROM e),
    q AS (
        SELECT dim,
               CASE WHEN v[dim] >= 0
                    THEN CAST(floor(v[dim] * 1000000.0 + 0.5) AS BIGINT)
                    ELSE -CAST(floor(-v[dim] * 1000000.0 + 0.5) AS BIGINT)
               END AS x
        FROM p
    ),
    m AS (
        SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS s1,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2,
               CAST(SUM(CAST(x AS HUGEINT) * x * x) AS HUGEINT) AS s3,
               CAST(SUM(CAST(x AS HUGEINT) * x * x * x) AS HUGEINT) AS s4
        FROM q GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n AS n_vectors,
           ROUND((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                  - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / NULLIF(pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)),
                              1.5), 0.0), 6) AS skewness,
           ROUND((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                  - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                  + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / NULLIF(pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)),
                              2.0), 0.0) - 3.0, 6) AS excess_kurtosis
    FROM m ORDER BY dim
    """,
    doc="Per-coordinate skewness and excess kurtosis profile of the "
    "embedding matrix (64 rows, one per dimension) — the "
    "quantization-risk audit run before embedding_quantize_int8: a "
    "heavy-tailed coordinate (kurtosis >> 0) wastes int8 range on "
    "outliers and crushes the bulk's resolution, and a skewed one "
    "biases symmetric scaling; flat near-Gaussian profiles are what "
    "make scalar quantization safe. Coordinates are sign-split "
    "half-away micro-quantized integers (the float32 column is cast "
    "to DOUBLE before any arithmetic — the DuckDB float32 "
    "no-promotion trap), all four raw power sums per dim are exact "
    "HUGEINT/DECIMAL(38,0) integers, and the central-moment "
    "assembly is one identical double sequence per engine, "
    "NULLIF-guarded on constant coordinates.",
)
def embedding_coordinate_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one posexplode to (dim, coord) pairs (n*64 rows),
    one 64-group map-side-combined moment reduce — no joins, no
    windows; the profile is constant-size at any corpus scale."""
    emb = load_fixture(spark, sf_dir, "embeddings")
    from ..operators.similarity import to_double_array

    q = emb.select(
        F.posexplode(to_double_array(F.col("embedding"))).alias("dim0", "xv")
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.expr(
            "CASE WHEN xv >= 0"
            " THEN CAST(floor(xv * 1000000.0 + 0.5) AS BIGINT)"
            " ELSE -CAST(floor(-xv * 1000000.0 + 0.5) AS BIGINT) END"
        ).alias("x"),
    )
    m = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x * x"))
        .cast("decimal(38,0)")
        .alias("s3"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x * x * x"))
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    mu = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    m2r = "(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    m3r = "(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    m4r = "(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))"
    var = f"({m2r} - {mu} * {mu})"
    m3c = f"({m3r} - 3.0 * {mu} * {m2r} + 2.0 * {mu} * {mu} * {mu})"
    m4c = (
        f"({m4r} - 4.0 * {mu} * {m3r} + 6.0 * {mu} * {mu} * {m2r}"
        f" - 3.0 * {mu} * {mu} * {mu} * {mu})"
    )
    return m.selectExpr(
        "CAST(dim AS BIGINT) AS dim",
        "n AS n_vectors",
        f"ROUND({m3c} / NULLIF(pow({var}, 1.5), 0.0), 6) AS skewness",
        f"ROUND({m4c} / NULLIF(pow({var}, 2.0), 0.0) - 3.0, 6)"
        " AS excess_kurtosis",
    ).orderBy("dim")
