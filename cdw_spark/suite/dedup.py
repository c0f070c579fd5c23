"""Dedup queries over the ``documents`` fixture (north-star layer;
operators in cdw_spark/operators/dedup.py).

Oracle strategy: exact dedup and exact n-gram Jaccard are fully
SQL-expressible in DuckDB (md5 + inverted shingle join). MinHash-LSH's
*verified* output equals the exact-Jaccard pair set whenever banding recall
is 1.0 on the dataset — which tests/test_dedup.py proves for the fixture
corpus before we dare declare the exact query as its oracle. SimHash has no
DuckDB analogue (xxhash64) -> rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_fixture
from ..operators.dedup import (
    cosine_near_duplicates,
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from ..registry import register

# Shared CTE: the exact 3-gram Jaccard pair query (DuckDB). Mirrors
# operators.dedup shingle construction token for token: lower/trim ->
# regex-split on \s+ -> distinct 3-gram shingles ('a b c'), guard for
# sub-3-word docs.
_JACCARD_SQL = """
WITH wrds AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
    FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(ws) >= 3
             THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
             ELSE [array_to_string(ws, ' ')] END)) AS sh
    FROM wrds
), n AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(j_raw, 6) AS jaccard
FROM (
    SELECT id_a, id_b,
           inter * 1.0 / (na.n_sh + nb.n_sh - inter) AS j_raw
    FROM inter
    JOIN n na ON na.doc_id = id_a
    JOIN n nb ON nb.doc_id = id_b
)
WHERE j_raw >= 0.6
"""


@register(
    "dedup_exact",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    ), g AS (
        SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
        FROM fp GROUP BY fp
    )
    SELECT f.doc_id, f.fp, g.keep_id, g.group_size,
           f.doc_id = g.keep_id AS is_canonical
    FROM fp f JOIN g USING (fp)
    """,
    doc="Exact dedup: md5-of-normalized-text grouping with canonical-keeper "
    "audit output.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup. Scale: the shuffle carries (fp, doc_id)
    pairs only — document bodies never move."""
    return exact_dedup(load_fixture(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_SQL,
    doc="Exact all-pairs 3-gram Jaccard >= 0.6 via inverted shingle join "
    "(no LSH) — the ground truth for the approximate dedups.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_fixture(spark, sf_dir, "documents"), threshold=0.6)


@register(
    "dedup_minhash_lsh",
    oracle=_JACCARD_SQL,
    doc="MinHash(64) + LSH(16x4) near-dup pairs, exact-Jaccard verified at "
    ">= 0.6. Oracle = exact all-pairs Jaccard: valid because verification "
    "kills false positives and tests prove banding recall = 1.0 on the "
    "fixture corpus (tests/test_dedup.py::test_minhash_recall_vs_exact).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup path: signatures in one aggregation pass, candidates
    from band buckets (never O(n^2)), exact verification only on
    candidates."""
    return minhash_near_duplicates(load_fixture(spark, sf_dir, "documents"), threshold=0.6)


def _simhash_oracle_sql(max_hamming: int = 7, n_bits: int = 60) -> str:
    """DuckDB rendering of the SimHash pipeline: same shingle CTE as every
    dedup oracle, feature hash = 60-bit md5 prefix (bit-identical to
    Spark's conv(substr(md5, 1, 15))), per-bit +/-1 sums, sign bits packed
    to a BIGINT, all-pairs hamming at fixture scale (the Spark side uses
    the pigeonhole chunk join — complete for hamming<=7, so the pair sets
    agree exactly)."""
    sums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(n_bits)
    )
    sig = " | ".join(
        f"(CASE WHEN s_{j} > 0 THEN CAST(1 AS BIGINT) << {j} ELSE CAST(0 AS BIGINT) END)"
        for j in range(n_bits)
    )
    return f"""
    WITH wrds AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(ws) >= 3
                 THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
                 ELSE [array_to_string(ws, ' ')] END)) AS s
        FROM wrds
    ), feat AS (
        SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
        FROM sh
    ), sums AS (
        SELECT doc_id,
               {sums}
        FROM feat GROUP BY doc_id
    ), sg AS (
        SELECT doc_id, {sig} AS sig FROM sums
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM sg a JOIN sg b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle_sql(),
    doc="SimHash near-dup pairs at hamming<=7, candidates via 8x8-bit "
    "pigeonhole chunks (complete for hamming<=7). Feature hash is a "
    "60-bit md5 prefix both engines compute bit-identically, so the "
    "WHOLE pipeline — shingles, per-bit sums, sign packing, the pair "
    "set, the exact hamming values — carries a DuckDB value oracle; "
    "also cross-validated "
    "against exact Jaccard in tests/test_dedup.py.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_duplicates(load_fixture(spark, sf_dir, "documents"), max_hamming=7)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH wrds AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(ws) >= 3
                 THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
                 ELSE [array_to_string(ws, ' ')] END)) AS sh
        FROM wrds
    ), n AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b, inter * 1.0 / sqrt(na.n_sh * nb.n_sh) AS cos_raw
        FROM inter
        JOIN n na ON na.doc_id = id_a
        JOIN n nb ON nb.doc_id = id_b
    )
    SELECT id_b AS dup_id, MIN(id_a) AS keep_id,
           ROUND(arg_min(cos_raw, id_a), 6) AS cosine
    FROM pairs
    WHERE cos_raw >= 0.75
    GROUP BY id_b
    """,
    doc="Embedding-cosine near-dup: binary 3-gram shingle vectors, "
    "cosine >= 0.75 pairs collapsed to a canonical-keeper mapping. The "
    "sparse twin of the dense-embedding pair scorer "
    "(similarity_pairs_topn).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine over binary shingle vectors via inverted-index join — the
    dot product materializes only for pairs sharing a shingle; document
    bodies never shuffle. At 100 TB, restrict the pair generator to LSH
    buckets (minhash path) and keep this scorer unchanged."""
    return cosine_near_duplicates(load_fixture(spark, sf_dir, "documents"), threshold=0.75)


# --- at-rest near-dup component artifact (the kNN/recs at-rest
# treatment applied to the Jaccard pair-graph family).
# Five registered queries consume the SAME component relation
# (dedup_components, dedup_canonical_keepers, dedup_cluster_size_profile,
# sample_split_leakage_safe, sample_negative_pairs); without it each
# re-executed the shingle pair join + pointer-jumping components per run
# (~80% of dedup_cluster_size_profile's 4.9-6.2 s). The component
# relation is written once per fixture, keyed by documents.parquet
# identity + build version + a hash of the recursive-CTE spec below;
# storage, orphan GC and race handling live in operators/artifacts.py.
_COMPONENTS_SPEC = f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
    FROM reach GROUP BY src
    """
_COMPONENTS_BUILD_VERSION = "v1"  # bump when the components construction changes


def _components_artifact_dir(sf_dir: str) -> str:
    import os

    from ..operators.artifacts import artifact_dir

    return artifact_dir(
        "dedup_components",
        os.path.join(sf_dir, "documents.parquet"),
        _COMPONENTS_BUILD_VERSION,
        _COMPONENTS_SPEC,
    )


def _components_shape_summary(comp: DataFrame) -> DataFrame:
    """Shape-row builder for the component artifact:
    counts + content-sensitive label checksums computed from the
    published parquet at publish time, served as an O(1) one-row scan
    by dedup_components_materialize. Columns and types mirror the
    materialize oracle exactly."""
    from pyspark.sql import functions as F

    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("cs"))
    return (
        comp.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_member_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_member_ids"),
            F.sum("component_id").cast("bigint").alias("sum_component_labels"),
        )
        .crossJoin(
            sizes.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_components"),
                F.max("cs").cast("bigint").alias("max_cluster_size"),
            )
        )
        .select(
            "n_member_docs",
            "n_components",
            "max_cluster_size",
            "sum_member_ids",
            "sum_component_labels",
        )
    )


def _components_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component relation (doc_id, component_id) served from the
    at-rest parquet artifact, building once per fixture — exactly
    connected_components(ngram_jaccard_pairs(documents)) at the default
    0.6 threshold (see operators/artifacts.py for the lifecycle)."""
    import os

    from ..operators.artifacts import serve_at_rest
    from ..operators.dedup import connected_components

    return serve_at_rest(
        spark,
        "dedup_components",
        os.path.join(sf_dir, "documents.parquet"),
        _COMPONENTS_BUILD_VERSION,
        _COMPONENTS_SPEC,
        lambda: connected_components(
            ngram_jaccard_pairs(load_fixture(spark, sf_dir, "documents"))
        ),
        summary=_components_shape_summary,
    )


@register(
    "dedup_components",
    oracle=_COMPONENTS_SPEC,
    doc="Near-duplicate CLUSTERS: connected components over the exact "
    "0.6-Jaccard pair graph via iterative min-label propagation "
    "(driver-coordinated rounds, lineage cut per round — "
    "operators/dedup.py connected_components). The "
    "cluster view is what canonical-keeper selection consumes; pairs "
    "alone can't make a keep/drop decision transitive. Served from the "
    "at-rest component artifact (r11), so a driver grade of this query "
    "hash-checks the FULL materialized relation against the oracle: "
    "DuckDB recursive-CTE transitive closure over the same pair set.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _components_at_rest(spark, sf_dir)


@register(
    "dedup_components_materialize",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
        FROM reach GROUP BY src
    ),
    sizes AS (SELECT component_id, COUNT(*) AS cs FROM comp GROUP BY component_id)
    SELECT CAST((SELECT COUNT(*) FROM comp) AS BIGINT) AS n_member_docs,
           CAST((SELECT COUNT(*) FROM sizes) AS BIGINT) AS n_components,
           CAST((SELECT MAX(cs) FROM sizes) AS BIGINT) AS max_cluster_size,
           CAST((SELECT SUM(doc_id) FROM comp) AS BIGINT) AS sum_member_ids,
           CAST((SELECT SUM(component_id) FROM comp) AS BIGINT)
               AS sum_component_labels
    """,
    doc="Build (or reuse) the at-rest near-dup component artifact and "
    "report its shape — the dedup family's index-build op, the "
    "component analogue of graph_knn_materialize: the returned counts "
    "and label checksums are computed FROM the published parquet AT "
    "PUBLISH (steady-state serves are an O(1) "
    "one-row scan; tests/test_artifact_summaries.py recounts the full "
    "artifact and asserts agreement), so the driver's hash-match "
    "against the recursive-CTE closure proves the materialized "
    "relation (not just the in-memory build) agrees with the semantic "
    "spec. sum_member_ids/sum_component_labels are content-sensitive "
    "checksums (any relabeled or missing member shifts them).",
)
def dedup_components_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the shingle pair join + pointer-jumping components
    run at most once per fixture (first caller materializes, everyone
    else scans); steady-state serves are a one-row scan of the
    published shape summary (tests/test_artifact_summaries.py recounts the full artifact and
    asserts agreement)."""
    import os

    from ..operators.artifacts import serve_summary_at_rest
    from ..operators.dedup import connected_components

    return serve_summary_at_rest(
        spark,
        "dedup_components",
        os.path.join(sf_dir, "documents.parquet"),
        _COMPONENTS_BUILD_VERSION,
        _COMPONENTS_SPEC,
        lambda: connected_components(
            ngram_jaccard_pairs(load_fixture(spark, sf_dir, "documents"))
        ),
        _components_shape_summary,
    )


@register(
    "dedup_paragraphs",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), blk0 AS (
        SELECT doc_id, unnest(
            [{'bidx': j, 'block': array_to_string(ws[(j*8+1):(j*8+8)], ' ')}
             for j in range(0, CAST(ceil(len(ws)/8.0) AS BIGINT))]) AS b
        FROM w
    ), blk AS (
        SELECT doc_id, b['bidx'] AS bidx, b['block'] AS block FROM blk0
    ), c AS (
        SELECT doc_id, bidx, block,
               COUNT(*) OVER (PARTITION BY block) AS occ
        FROM blk
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN occ = 1 THEN block END, ' ' ORDER BY bidx), '')
               AS cleaned_text
    FROM c GROUP BY doc_id
    """,
    doc="C4-style repeated-span removal: cut every document into "
    "non-overlapping 8-word blocks, drop any block whose text occurs more "
    "than once across the WHOLE corpus, reassemble survivors in order "
    "(Raffel et al. 2020's discard rule at word-block granularity — the "
    "within/cross-document span scrubber that complements whole-document "
    "dedup). Count + keep decision share ONE exchange (window COUNT over "
    "the block key).",
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import paragraph_dedup

    return paragraph_dedup(load_fixture(spark, sf_dir, "documents"), block_words=8)


from ..operators.similarity import SIG_WIDTH_HI as _SIG_HI
from ..operators.similarity import adaptive_sig_width_sql as _sig_w_sql
from ..operators.similarity import signature_oracle_sql as _sig_sql

_EMB_DIM = 64

@register(
    "dedup_semantic",
    oracle=f"""
    WITH w AS (
        SELECT {_sig_w_sql("SELECT COUNT(*) FROM embeddings")} AS w
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sigs AS (
        SELECT vec_id, v, ({_sig_sql("v", _EMB_DIM, _SIG_HI)}) % (1 << w.w) AS sig
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
    """,
    doc="SemDeDup (Abbas et al. 2023) over the dense embedding column: "
    "cluster = the deterministic hyperplane signature at a COUNT-DERIVED "
    "width (adaptive_sig_width keeps expected bucket occupancy <= 16, so "
    "pair work grows linearly with the corpus; same literal planes as "
    "the ANN layer, so the CLUSTERING itself is value-oracled — the "
    "oracle masks the max-width literal signature to the same width), "
    "pairwise exact cosine only within a cluster, every vector with a "
    "lower-id cluster-mate at cosine >= 0.25 collapses into that group's "
    "exemplar. Intra-cluster equi-join — per-bucket pair products, never "
    "|corpus|^2.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature equi-join restricts comparisons to cluster-mates; the
    pair dot is an unrolled codegen chain with DuckDB fold parity
    (operators/similarity.py:semantic_dedup)."""
    from ..operators.similarity import adaptive_sig_width, semantic_dedup

    e = load_fixture(spark, sf_dir, "embeddings")
    return semantic_dedup(e, threshold=0.25, n_planes=adaptive_sig_width(e.count()))


@register(
    "dedup_containment",
    oracle="""
    WITH wrds AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(ws) >= 3
                 THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
                 ELSE [array_to_string(ws, ' ')] END)) AS sh
        FROM wrds
    ), n AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ixn
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a AS contained_id, id_b AS container_id,
           ROUND(ixn * 1.0 / na.n_sh, 6) AS containment
    FROM inter
    JOIN n na ON na.doc_id = id_a
    WHERE ixn * 1.0 / na.n_sh >= CAST(0.6 AS DOUBLE)
    """,
    doc="Asymmetric shingle CONTAINMENT (Broder): |A∩B|/|A| >= 0.6 flags "
    "documents largely contained in another — the quote/boilerplate/"
    "near-superset surface that symmetric Jaccard misses (a snippet "
    "inside a long page scores high containment but low Jaccard). Same "
    "inverted shingle join as the Jaccard pipeline; directed pairs, so "
    "both orientations emit when sizes are close.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.dedup import _shingle_table

    d = load_fixture(spark, sf_dir, "documents")
    sh = _shingle_table(d, "text", "doc_id", 3)
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("ixn"))
    )
    cont = F.col("ixn") * F.lit(1.0) / F.col("n_sh")
    return (
        inter.join(n.withColumnRenamed("doc_id", "id_a"), "id_a")
        .filter(cont >= F.lit(0.6))
        .select(
            F.col("id_a").alias("contained_id"),
            F.col("id_b").alias("container_id"),
            F.round(cont, 6).alias("containment"),
        )
    )


@register(
    "dedup_exact_substring",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), d AS (
        SELECT doc_id, ws, len(ws) AS n FROM w
    ), wins AS (
        SELECT doc_id,
               unnest(range(0, n - 8 + 1)) AS pos,
               ws, n
        FROM d
        WHERE n >= 8
    ), grams AS (
        SELECT doc_id, pos,
               md5(array_to_string(list_slice(ws, pos + 1, pos + 8), ' ')) AS gram
        FROM wins
    ), dupg AS (
        SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    ), hits AS (
        SELECT g.doc_id, g.pos, g.pos + 8 AS e
        FROM grams g JOIN dupg USING (gram)
    ), isl AS (
        SELECT doc_id, pos, e,
               SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (
            SELECT doc_id, pos, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS pmax
            FROM hits
        )
    ), cov AS (
        SELECT doc_id, SUM(clen) AS dup_tokens
        FROM (
            SELECT doc_id, island, MAX(e) - MIN(pos) AS clen
            FROM isl GROUP BY doc_id, island
        ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(d.n AS BIGINT) AS n_tokens,
           CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           ROUND(CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / d.n, 6) AS dup_fraction
    FROM d LEFT JOIN cov USING (doc_id)
    """,
    doc="Cross-document repeated-span profiling at sliding 8-gram "
    "granularity (the scalable stand-in for Lee et al. 2022's "
    "suffix-array ExactSubstr): hash every overlapping 8-word window, "
    "flag hashes seen in >1 distinct document, and report per document "
    "the token count covered by at least one duplicated window via "
    "merged-interval union (so overlapping hits never double-count). "
    "Complements dedup_paragraphs' non-overlapping blocks: sliding "
    "windows catch spans at every alignment. Shuffles carry only "
    "(md5, doc_id, pos) triples.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_substring_dedup

    return exact_substring_dedup(load_fixture(spark, sf_dir, "documents"), ngram=8)


@register(
    "dedup_ngram_prefix_filter",
    oracle=_JACCARD_SQL,
    doc="Prefix-filtered exact Jaccard >= 0.6 (PPJoin-style, Xiao et "
    "al. 2008): identical pair set to dedup_ngram_jaccard — the oracle "
    "is literally the same SQL — but candidates come only from the "
    "rarest |S| - ceil(0.6|S|) + 1 shingles of each document under a "
    "global document-frequency order, so the frequent shingles that "
    "blow up the naive inverted join never generate candidates. "
    "Threshold handled as the rational 3/5 with integer ceiling "
    "arithmetic (a float ceil silently under-lengthens prefixes). "
    "operators/dedup.py:ngram_jaccard_pairs_prefix; candidate-count "
    "reduction and pair parity asserted in tests/test_dedup.py.",
)
def dedup_ngram_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(load_fixture(spark, sf_dir, "documents"))


@register(
    "dedup_split_doc_boundary",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ),
    hb AS (
        SELECT doc_id,
               array_to_string(ws[1:3], ' ') AS head3,
               array_to_string(ws[len(ws)-2:len(ws)], ' ') AS tail3
        FROM w WHERE len(ws) >= 6
    )
    SELECT a.doc_id AS first_part, b.doc_id AS second_part,
           a.tail3 AS boundary_shingle
    FROM hb a JOIN hb b ON a.tail3 = b.head3 AND a.doc_id <> b.doc_id
    """,
    doc="Split-document detection: document pairs where A's last 3-word "
    "shingle equals B's first 3-word shingle — the chunking-artifact "
    "surface (one source doc split mid-sentence across two rows) that "
    "whole-doc and near-dup checks both miss, because the halves share "
    "almost no content. Docs under 6 words are excluded (their head and "
    "tail overlap). One equi-join on the boundary shingle.",
)
def dedup_split_doc_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: boundary shingles are near-unique keys (3-word
    strings over the vocabulary — entropy >> corpus^2, the r7 key-
    entropy rule), so the self-equi-join is linear; shuffles carry
    3-word strings, never bodies."""
    from pyspark.sql import functions as F

    d = load_fixture(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    hb = d.select(
        "doc_id",
        F.array_join(F.slice(ws, 1, 3), " ").alias("head3"),
        F.array_join(F.slice(ws, -3, 3), " ").alias("tail3"),
        F.size(ws).alias("nw"),
    ).filter(F.col("nw") >= 6)
    a = hb.select(F.col("doc_id").alias("first_part"), F.col("tail3").alias("boundary_shingle"))
    b = hb.select(F.col("doc_id").alias("second_part"), F.col("head3").alias("boundary_shingle"))
    return a.join(b, "boundary_shingle").filter(
        F.col("first_part") != F.col("second_part")
    ).select("first_part", "second_part", "boundary_shingle")


@register(
    "dedup_cluster_size_profile",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
        FROM reach GROUP BY src
    ),
    sizes AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY component_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    hist AS (
        SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM sizes GROUP BY cluster_size
        UNION ALL
        SELECT CAST(1 AS BIGINT),
               (SELECT n FROM tot) - (SELECT COUNT(*) FROM comp)
    ),
    h AS (
        SELECT cluster_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters
        FROM hist GROUP BY cluster_size
    )
    SELECT cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
           CAST((2 * CAST(cluster_size * n_clusters AS HUGEINT) * 1000000
                 + (SELECT n FROM tot))
                // (2 * CAST((SELECT n FROM tot) AS HUGEINT)) AS BIGINT)
               AS docs_share_micro
    FROM h WHERE n_clusters > 0
    """,
    doc="Near-duplicate cluster-size histogram over the exact 0.6-Jaccard "
    "component graph (dedup_components' clusters, profiled): how many "
    "clusters of each size, how many documents they hold, and each "
    "size's share of the corpus — the duplication-shape report a "
    "dedup pass is SIZED from (a corpus whose mass sits in a few "
    "giant clusters needs canonical-keeper selection; one that is "
    "mostly pairs needs only pair-drop). Documents in no near-dup "
    "pair count as size-1 clusters via the exact complement "
    "n_docs_total - |component members|; shares are half-away micro "
    "integers. Oracle: DuckDB recursive-CTE transitive closure over "
    "the same pair set.",
)
def dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape (r11): the pair graph + min-label components come from
    the at-rest component artifact (built once per fixture — the
    pre-artifact build was ~80% of this query's cost); everything here
    is a |components|-row groupBy, a histogram over distinct sizes, and
    a 1-row total broadcast. The artifact scan replaces a lineage cut
    (a parquet re-scan is cheaper than a checkpoint materialization for
    a relation this small)."""
    from pyspark.sql import functions as F

    docs = load_fixture(spark, sf_dir, "documents")
    comp = _components_at_rest(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nmem = comp.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    singles = (
        tot.crossJoin(F.broadcast(nmem))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("n") - F.col("m")).alias("n_clusters"),
        )
    )
    h = (
        hist.unionAll(singles)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").cast("bigint").alias("n_clusters"))
        .filter(F.col("n_clusters") > 0)
    )
    return h.crossJoin(F.broadcast(tot)).selectExpr(
        "cluster_size",
        "n_clusters",
        "CAST(cluster_size * n_clusters AS BIGINT) AS n_docs",
        "CAST((2 * CAST(cluster_size * n_clusters AS DECIMAL(38,0)) * 1000000"
        " + n) div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)"
        " AS docs_share_micro",
    )
