"""Dataset-curation queries (operators in cdw_spark/operators/curate.py):
the pipeline steps between raw ingest and tokenization — benchmark
decontamination, PII redaction, repetition profiling, deterministic
split sampling, and MERGE-style incremental upsert.

Cross-engine discipline: regexes are ASCII-only and lookaround-free (Java
regex and RE2 agree), hashes are md5 (engine-independent), ratios are
ROUND(double, 6), and every integral output is cast to the same width on
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_fixture
from ..operators.curate import (
    EMAIL_RE,
    IPV4_RE,
    chunk_documents,
    decontaminate_against,
    hash_split,
    merge_latest_state,
    pack_sequences,
    pii_counts_and_redact,
    repetition_profile,
    tokenize_to_vocab_ids,
)
from ..plans.lineage import cut
from ..registry import register

# Word 4-gram shingles in DuckDB, mirroring functions.text.shingles(n=4)
# token for token (lower/trim -> split on \s+ -> distinct 4-grams, short
# docs collapse to their full token string).
_SHINGLE4_SQL = """
WITH wrds AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
    FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(ws) >= 4
             THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                   for i in range(1, len(ws) - 2)]
             ELSE [array_to_string(ws, ' ')] END)) AS g
    FROM wrds
)
"""


@register(
    "decontaminate_ngrams",
    oracle=_SHINGLE4_SQL
    + """
    , bench AS (
        SELECT DISTINCT g FROM sh WHERE doc_id % 17 = 0
    ), contaminated AS (
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN bench b ON s.g = b.g
        WHERE s.doc_id % 17 <> 0
    )
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id % 17 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    doc="Benchmark decontamination: drop training documents sharing any "
    "word 4-gram with the held-out benchmark slice (doc_id % 17 = 0) — "
    "the eval-contamination rule of large-LM data pipelines. Benchmark "
    "shingles broadcast (eval suites are MBs at any corpus scale).",
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    benchmark = d.filter(F.col("doc_id") % 17 == 0)
    return decontaminate_against(corpus, benchmark, n=4).select("doc_id", "source")


# Deterministic fake-PII augmentation: the fixture corpus is synthetic
# word salad with no PII, so both engines append the same doc_id-derived
# contact strings before redacting — the redaction path is exercised on
# every row with known expected counts (m=0: 1 email; m=1: 1 ip;
# m=2: 2 emails + 1 ip).
_PII_AUG_SQL = """
        text || CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
            WHEN 1 THEN ' from host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
            ELSE ' user' || CAST(doc_id AS VARCHAR) || '@example.com backup b'
                 || CAST(doc_id AS VARCHAR) || '@test.org at 10.0.'
                 || CAST(doc_id % 200 AS VARCHAR) || '.9'
        END
"""


@register(
    "pii_redact",
    oracle="""
    WITH aug AS (
        SELECT doc_id, """
    + _PII_AUG_SQL
    + """ AS s
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '"""
    + EMAIL_RE
    + """')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(s, '"""
    + IPV4_RE
    + """')) AS INTEGER) AS n_ips,
           md5(regexp_replace(regexp_replace(s, '"""
    + EMAIL_RE
    + """', '<EMAIL>', 'g'), '"""
    + IPV4_RE
    + """', '<IP>', 'g')) AS redacted_md5
    FROM aug
    """,
    doc="PII scrub: count and redact emails and IPv4 addresses "
    "(ASCII regex, identical under Java regex and RE2), emitting the "
    "redacted-text digest. Pure codegen projection — no shuffle.",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    m = (F.col("doc_id") % 3).cast("int")
    aug = F.concat(
        F.col("text"),
        F.when(m == 0, F.concat(F.lit(" reach user"), sid, F.lit("@example.com")))
        .when(
            m == 1,
            F.concat(
                F.lit(" from host 10.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".7"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit(" user"),
                sid,
                F.lit("@example.com backup b"),
                sid,
                F.lit("@test.org at 10.0."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".9"),
            )
        ),
    )
    n_emails, n_ips, redacted = pii_counts_and_redact(aug)
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "quality_repetition",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ), c AS (
        SELECT doc_id, word, COUNT(*) AS cnt FROM tok GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_words,
           ROUND(COUNT(*) * 1.0 / CAST(SUM(cnt) AS DOUBLE), 6) AS distinct_ratio,
           ROUND(MAX(cnt) * 1.0 / CAST(SUM(cnt) AS DOUBLE), 6) AS top_word_ratio
    FROM c GROUP BY doc_id
    """,
    doc="Repetition/diversity profiling (Gopher-style filters): words per "
    "doc, distinct-word ratio, and the mass share of the most frequent "
    "word. One (doc_id, word) shuffle with map-side partial aggregation.",
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_profile(load_fixture(spark, sf_dir, "documents"))


@register(
    "sample_hash_split",
    oracle="""
    WITH h AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ), v AS (
        SELECT doc_id,
               CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)
                 AS INTEGER) AS val
        FROM h
    )
    SELECT doc_id,
           CAST(val % 1000 AS INTEGER) AS bucket,
           CASE WHEN val % 1000 < 800 THEN 'train'
                WHEN val % 1000 < 900 THEN 'valid'
                ELSE 'test' END AS split
    FROM v
    """,
    doc="Deterministic train/valid/test assignment: bucket = first 16 "
    "bits of md5(doc_id) mod 1000 (800/100/100). Engine- and "
    "partitioning-independent (unlike rand()/xxhash64 seeds) — the "
    "reproducibility property a 100 TB re-ingest needs. No shuffle.",
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_split(load_fixture(spark, sf_dir, "documents"))


from .dedup import _JACCARD_SQL as _LEAK_PAIRS_SQL

# Shared component-closure CTEs over the exact-Jaccard pair graph (used by
# BOTH sample_split_leakage_safe and sample_negative_pairs so the two
# samplers can never disagree on what a near-duplicate component is; the
# _copurchase_sql / _KMV_KEPT_SQL twin-oracle discipline).
_LEAK_COMPONENT_SQL = """edges AS (
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
    )"""



@register(
    "sample_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LEAK_PAIRS_SQL}),
    {_LEAK_COMPONENT_SQL},
    rooted AS (
        SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS root
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    b AS (
        SELECT doc_id, root,
               CAST(('0x' || substr(md5(CAST(root AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bk
        FROM rooted
    )
    SELECT doc_id, CAST(root AS BIGINT) AS root,
           CASE WHEN bk <= 7 THEN 'train' WHEN bk = 8 THEN 'val' ELSE 'test' END AS split
    FROM b
    """,
    doc="LEAKAGE-SAFE train/val/test split: assignment is hashed from the "
    "document's near-duplicate COMPONENT root (connected components over "
    "the exact 0.6-Jaccard pair graph; singletons root at themselves), "
    "not the document id — so no near-duplicate pair ever straddles "
    "train and test, the eval-set contamination that per-document hash "
    "splits (sample_hash_split) silently allow whenever fuzzy "
    "duplicates exist. The standard split discipline for LLM corpora. "
    "Scale shape: components come from the pointer-jumping label "
    "propagation already proven by dedup_components (bounded rounds, "
    "pair graph from banded LSH at scale); the split itself is a pure "
    "md5 projection, no extra shuffle. The 32-bit md5-prefix bucket is "
    "engine-portable (dedup_simhash's treatment), property-tested in "
    "tests/test_curate.py: every component is split-pure and no "
    "jaccard>=0.6 pair crosses splits.",
)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _components_at_rest

    docs = load_fixture(spark, sf_dir, "documents")
    # r11: components come from the at-rest artifact (built once per
    # fixture) instead of re-executing the pair join per query
    comp = _components_at_rest(spark, sf_dir)
    rooted = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component_id"), F.col("doc_id")).alias("root"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("root").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 10
    )
    split = (
        F.when(bucket <= 7, "train").when(bucket == 8, "val").otherwise("test")
    )
    return rooted.select(
        "doc_id", F.col("root").cast("bigint").alias("root"), split.alias("split")
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, source, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        FROM documents
    )
    WHERE rk <= 5
    """,
    doc="Deterministic stratified sample: the 5 smallest-md5 documents per "
    "source stratum — reproducible held-out picks per domain regardless "
    "of engine, partitioning, or corpus growth order (md5 keys form a "
    "total order; rand()-based sampleBy is none of these). One shuffle "
    "on the stratum key.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


@register(
    "profile_columns",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS DOUBLE) AS min_val,
           CAST(MAX({c}) AS DOUBLE) AS max_val
    FROM lineitem
    """
        for c in _PROFILE_COLS
    ),
    doc="Column profiling (the ANALYZE/data-quality surface): row, null, "
    "exact-distinct counts and min/max per measure column in one long "
    "relation. Each stat is a partial-aggregable scan; the distinct "
    "counts are the only shuffles, and at 100 TB each is swappable for "
    "approx_count_distinct (HLL, graded separately as agg_approx_distinct).",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_fixture(spark, sf_dir, "lineitem")
    parts = [
        li.agg(
            F.lit(c).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("double").alias("min_val"),
            F.max(c).cast("double").alias("max_val"),
        )
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_Z_BITS = 10


def _zorder_oracle_terms() -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(((l_partkey % 1024) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(((l_suppkey % 1024) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "layout_zorder",
    oracle=f"""
    SELECT l_orderkey AS order_key, l_linenumber AS line_number,
           CAST({_zorder_oracle_terms()} AS BIGINT) AS zval
    FROM lineitem
    """,
    doc="Z-order (Morton) clustering key over (part, supplier): bit-"
    "interleaved BIGINT whose sort order clusters rows close in BOTH "
    "dimensions, so range-partitioned parquet files carry tight "
    "min/max boxes on every interleaved column — multi-column data "
    "skipping, where a compound sort prunes only its leading column. "
    "Footer-level skipping effect verified in tests/test_curate.py.",
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.layout import zorder_key

    li = load_fixture(spark, sf_dir, "lineitem")
    z = zorder_key([F.col("l_partkey") % 1024, F.col("l_suppkey") % 1024], bits=_Z_BITS)
    return li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        z.alias("zval"),
    )


@register(
    "outlier_zscore",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND((e.value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
    FROM events e JOIN s USING (event_type)
    WHERE s2 / n - (s1 / n) * (s1 / n) > 0
      AND ABS((e.value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))) > 2.5
    """,
    doc="Z-score outlier flagging per event_type. Moments accumulate in "
    "exact DECIMAL (order-independent across engines and partitionings — "
    "double summation order would jitter the threshold), then one "
    "identical double expression on both engines derives mean/variance. "
    "Stats side is |event_types| rows -> broadcast join back to the scan.",
)
def outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fixture(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    stats = e.groupBy("event_type").agg(
        F.sum(dec).cast("double").alias("s1"),
        F.sum(dec * dec).cast("double").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    mu = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mu * mu
    z = (F.col("value") - mu) / F.sqrt(var)
    return (
        j.filter((var > 0) & (F.abs(z) > 2.5))
        .select("event_id", "event_type", F.round(z, 6).alias("z"))
    )


@register(
    "tokenize_vocab_ids",
    oracle="""
    WITH wrds AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), tok AS (
        SELECT doc_id,
               unnest(range(1, len(ws) + 1)) - 1 AS pos,
               unnest(ws) AS word
        FROM wrds
    ), vocab AS (
        SELECT word,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, word) - 1 AS INTEGER) AS tok_id
        FROM (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word)
        QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, word) <= 30
    )
    , ids AS (
        SELECT t.doc_id,
               list(CAST(COALESCE(v.tok_id, -1) AS INTEGER) ORDER BY t.pos) AS token_ids
        FROM tok t LEFT JOIN vocab v USING (word)
        GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(len(token_ids) AS INTEGER) AS n_tokens,
           md5(array_to_string(token_ids, ' ')) AS ids_md5
    FROM ids
    """,
    doc="Tokenization to integer ids against a corpus-derived top-30 "
    "vocabulary (rank by frequency, alphabetical ties; off-vocab -> -1 "
    "UNK). Vocabulary is a bounded aggregate -> broadcast; assignment is "
    "posexplode -> broadcast join -> position-ordered reassembly. The "
    "graded projection digests the array (md5 of the space-joined ids, "
    "the chunk_documents chunk_md5 precedent) because the driver's hash "
    "canonicalizer cannot digest array-typed cells.",
)
def tokenize_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = tokenize_to_vocab_ids(load_fixture(spark, sf_dir, "documents"), vocab_size=30)
    return ids.select(
        "doc_id",
        F.size("token_ids").alias("n_tokens"),
        F.md5(F.array_join(F.col("token_ids").cast("array<string>"), " ")).alias("ids_md5"),
    )


@register(
    "chunk_documents",
    oracle="""
    WITH wrds AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
    FROM documents
    ), c AS (
        SELECT doc_id, ws, len(ws) AS n,
               unnest(range(0, CAST(floor((len(ws) - 1) / 48.0) AS BIGINT) + 1)) AS ci
        FROM wrds
    )
    SELECT doc_id,
           CAST(ci AS INTEGER) AS chunk_idx,
           CAST(ci * 48 AS INTEGER) AS chunk_start,
           CAST(LEAST(64, n - ci * 48) AS INTEGER) AS chunk_tokens,
           md5(array_to_string(list_slice(ws, ci * 48 + 1, ci * 48 + 64), ' ')) AS chunk_md5
    FROM c
    WHERE ci * 48 < n
    """,
    doc="Sliding-window chunking into training samples: 64-token windows "
    "every 48 tokens (16 overlap), truncated tail, content digest per "
    "chunk. Per-row explode, shuffle-free.",
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_fixture(spark, sf_dir, "documents"), chunk_len=64, stride=48)


@register(
    "pack_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS seq_offset
        FROM t
    )
    SELECT doc_id, n_tokens, seq_offset,
           CAST(floor(seq_offset / 512.0) AS BIGINT) AS seq_id
    FROM c
    """,
    doc="Concat-then-chunk sequence packing: documents in id order form "
    "one token stream cut into 512-token training sequences; each doc "
    "tagged with its stream offset and first sequence id. The global "
    "prefix-sum runs as bucketed local cumsums + a tiny bucket-offset "
    "window — never a one-partition global window (the oracle's plain "
    "window form is the semantic spec).",
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load_fixture(spark, sf_dir, "documents"), seq_len=512)


_MERGE_CUTOFF = "2024-01-20 00:00:00"


@register(
    "merge_incremental_upsert",
    oracle=f"""
    WITH t AS (
        SELECT user_id, event_type, value, ts AS last_ts, event_id
        FROM events WHERE ts < TIMESTAMP '{_MERGE_CUTOFF}'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) = 1
    ), s AS (
        SELECT user_id, event_type, value, ts AS last_ts, event_id
        FROM events WHERE ts >= TIMESTAMP '{_MERGE_CUTOFF}'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT COALESCE(t.user_id, s.user_id) AS user_id,
           COALESCE(t.event_type, s.event_type) AS event_type,
           COALESCE(s.value, t.value) AS value,
           COALESCE(s.last_ts, t.last_ts) AS last_ts,
           CASE WHEN t.user_id IS NULL THEN 'insert'
                WHEN s.user_id IS NULL THEN 'keep'
                ELSE 'update' END AS op
    FROM t FULL OUTER JOIN s
      ON t.user_id = s.user_id AND t.event_type = s.event_type
    """,
    doc="MERGE INTO for a latest-state table: yesterday's snapshot "
    "(events before the cutoff) merged with the new delta, one row per "
    "(user, event_type), rows tagged insert/update/keep. Both sides "
    "reduce and join on the same keys — one exchange per side under AQE.",
)
def merge_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fixture(spark, sf_dir, "events")
    cols = ["user_id", "event_type", F.col("value"), F.col("ts").alias("last_ts"), "event_id"]
    target = e.filter(F.col("ts") < F.lit(_MERGE_CUTOFF).cast("timestamp")).select(*cols)
    source = e.filter(F.col("ts") >= F.lit(_MERGE_CUTOFF).cast("timestamp")).select(*cols)
    merged = merge_latest_state(
        target, source, keys=["user_id", "event_type"], order_cols=["last_ts", "event_id"]
    )
    return merged.select("user_id", "event_type", "value", "last_ts", "op")


@register(
    "mix_sources_weighted",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ),
    weighted AS (
        SELECT doc_id, lang,
               CAST(((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
                   + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
                   + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                   + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 1000
                 AS INTEGER) AS permille,
               CASE lang WHEN 'en' THEN 900 WHEN 'fr' THEN 600 WHEN 'es' THEN 500
                         WHEN 'de' THEN 400 WHEN 'zh' THEN 300 ELSE 100 END AS keep_lt
        FROM h
    )
    SELECT doc_id, lang, CAST(permille AS INTEGER) AS permille
    FROM weighted
    WHERE permille < keep_lt
    """,
    doc="Deterministic weighted data-mixture sampling: each language "
    "keeps md5-permille < its target weight (en 90%, fr 60%, es 50%, de "
    "40%, zh 30%) — the 'domain mixing' step that shapes a training "
    "corpus to a target distribution. Engine/partitioning-independent "
    "(same md5-bucket idiom as the train/valid/test split); a re-ingest "
    "at 100 TB keeps exactly the same documents.",
)
def mix_sources_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure projection + filter: no shuffle, no state; the mixture weights
    ride the plan as a literal CASE."""
    d = load_fixture(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    permille = (F.conv(F.substring(hx, 1, 4), 16, 10).cast("int") % 1000).alias("permille")
    keep_lt = (
        F.when(F.col("lang") == "en", 900)
        .when(F.col("lang") == "fr", 600)
        .when(F.col("lang") == "es", 500)
        .when(F.col("lang") == "de", 400)
        .when(F.col("lang") == "zh", 300)
        .otherwise(100)
    )
    return (
        d.select("doc_id", "lang", permille, keep_lt.alias("_lt"))
        .filter(F.col("permille") < F.col("_lt"))
        .select("doc_id", "lang", "permille")
    )


@register(
    "curriculum_phases",
    oracle="""
    SELECT doc_id,
           ROUND(CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS DOUBLE)
                 / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS diversity,
           CAST(NTILE(4) OVER (
               ORDER BY CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS DOUBLE)
                        / len(string_split_regex(lower(trim(text)), '\\s+')) DESC,
                        doc_id
           ) AS INTEGER) AS phase
    FROM documents
    WHERE length(trim(text)) > 0
    """,
    doc="Curriculum assignment: documents ranked by lexical diversity "
    "(distinct-word ratio — the cheap quality proxy) and cut into 4 "
    "NTILE phases, highest-diversity first — the ordering step of "
    "curriculum training. Tie-broken by doc_id so phases are "
    "deterministic across engines.",
)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global NTILE without the single-partition window: rows are
    range-partitioned on the sort key (so partition index order IS global
    order), ranked locally per partition, and shifted by per-partition
    row counts — a tiny relation (one row per partition) joined back
    broadcast. NTILE then has the closed form over the global rank: with
    n rows and k tiles, the first n%k tiles hold n//k+1 rows. Same
    two-level shape as pack_sequences' prefix-sum; survives 100 TB where
    ``Window.orderBy`` alone funnels the corpus through one task."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    diversity = F.round(F.size(F.array_distinct(ws)).cast("double") / F.size(ws), 6)
    scored = (
        d.filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", diversity.alias("diversity"))
        .repartitionByRange(8, F.col("diversity").desc(), F.col("doc_id"))
        .withColumn("_pid", F.spark_partition_id())
    )
    local_w = Window.partitionBy("_pid").orderBy(F.col("diversity").desc(), "doc_id")
    ranked = scored.withColumn("_lrank", F.row_number().over(local_w))
    counts = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # offsets: cumsum over <=8 partition-count rows — bounded by the
    # partition count, not the data (cf. pack_sequences' guard)
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off")
    )
    n_total = scored.count()
    base, rem = n_total // 4, n_total % 4
    ranked = ranked.join(F.broadcast(offsets), "_pid").withColumn(
        "_grank", F.col("_off") + F.col("_lrank")
    )
    big_span = (base + 1) * rem  # rows covered by the (n%k) larger tiles
    phase = (
        F.when(F.col("_grank") <= big_span, F.ceil(F.col("_grank") / (base + 1)))
        .otherwise(rem + F.ceil((F.col("_grank") - big_span) / F.greatest(F.lit(base), F.lit(1))))
        .cast("int")
    )
    return ranked.select("doc_id", "diversity", phase.alias("phase"))


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0 THEN 1.0
                    ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
        FROM e
    )
    SELECT vec_id,
           ROUND(CAST(scale AS DOUBLE), 9) AS scale,
           CAST(list_sum(list_transform(range(1, len(v) + 1),
                i -> CAST(round(v[i] / scale) AS BIGINT) * i)) AS BIGINT) AS q_digest
    FROM scaled
    """,
    doc="Symmetric per-vector int8 quantization (scale = max|v|/127): the "
    "storage-side compression for embedding tables (4x smaller at-rest, "
    "int8 SIMD rescoring). Output carries the scale and a position-"
    "weighted digest of the quantized codes, so the driver hash checks "
    "every rounded code without comparing raw arrays.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row expression only — quantization is a projection; no shuffle
    at any scale. HOF aggregate is interpreted per element: fine for the
    digest here; a production rescorer would quantize inside the same
    Arrow matmul batch as scoring (functions/text_arrow.py pattern)."""
    from ..functions.vectors import to_double_array

    e = load_fixture(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    scale = F.expr(
        "CASE WHEN array_max(transform(v, x -> abs(x))) = 0D THEN 1.0D "
        "ELSE array_max(transform(v, x -> abs(x))) / 127.0D END"
    )
    return e.select(
        "vec_id",
        F.round(scale.cast("double"), 9).alias("scale"),
        F.expr(
            "CAST(aggregate(sequence(1, size(v)), 0L, "
            "(acc, i) -> acc + CAST(round(v[i-1] / "
            "(CASE WHEN array_max(transform(v, x -> abs(x))) = 0D THEN 1.0D "
            "ELSE array_max(transform(v, x -> abs(x))) / 127.0D END)) AS BIGINT) * i) "
            "AS BIGINT)"
        ).alias("q_digest"),
    )


@register(
    "global_shuffle_rank",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                AS BIGINT) AS shuffle_pos
    FROM documents
    """,
    doc="Reproducible global training-shuffle order: position = global "
    "rank under md5(doc_id) — engine/partitioning-independent, stable "
    "across reruns (rand() is neither). The oracle's one-partition "
    "ROW_NUMBER window is the semantic spec; the Spark plan computes the "
    "same rank scalably: rank within 256 md5-prefix buckets in parallel, "
    "then add cumulative bucket offsets from a 256-row window — the "
    "two-level prefix-sum pattern (same discipline as pack_sequences). "
    "Because the bucket is the key's own prefix, (bucket, key) order IS "
    "global key order.",
)
def global_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("k")
    )
    d = d.withColumn("bucket", F.conv(F.substring("k", 1, 2), 16, 10).cast("int"))
    wb = Window.partitionBy("bucket").orderBy("k", "doc_id")
    ranked = d.withColumn("rk", F.row_number().over(wb))
    sizes = ranked.groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    # 256-row relation: the unpartitioned window is bounded by construction
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "bucket", F.coalesce(F.sum("sz").over(wo), F.lit(0)).alias("off")
    )
    return ranked.join(F.broadcast(offsets), "bucket").select(
        "doc_id", (F.col("off") + F.col("rk") - 1).cast("bigint").alias("shuffle_pos")
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc="Materialized-view maintenance: the base partial aggregate (days "
    "1-20) is MERGED with the delta partial (days 21+) by re-aggregating "
    "the two partial relations — count and decimal-sum are commutative "
    "monoids, so merge(partials) == full recompute, which is exactly what "
    "the oracle states. At 100 TB the base partial is |groups| rows read "
    "from the stored view; only the delta scans raw data.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-21").cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pc"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("ps"),
        )

    base = partial(ev.filter(F.to_date("ts") < cutoff))
    delta = partial(ev.filter(F.to_date("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("pc").cast("bigint").alias("n_events"),
            F.round(F.sum("ps").cast("double"), 2).alias("total_value"),
        )
    )


@register(
    "sample_class_balanced",
    oracle="""
    WITH sized AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    k AS (SELECT MIN(n) AS k FROM sized),
    ranked AS (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM embeddings
    )
    SELECT vec_id, label, CAST(rk AS INTEGER) AS rk
    FROM ranked, k
    WHERE rk <= k.k
    """,
    doc="Deterministic class-balanced resampling: every label downsampled "
    "to the minority-class size by keeping its smallest-md5 members — "
    "reproducible across engines, partitionings, and reruns (rand()-based "
    "sampleBy is none of these). One shuffle on label; the class-size "
    "relation is a broadcast scalar. The class-balancing step of a "
    "training-data pipeline.",
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_fixture(spark, sf_dir, "embeddings")
    k = e.groupBy("label").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").alias("k")
    )
    w = Window.partitionBy("label").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return (
        e.select("vec_id", "label", F.row_number().over(w).alias("rk"))
        .crossJoin(F.broadcast(k))
        .filter(F.col("rk") <= F.col("k"))
        .select("vec_id", "label", F.col("rk").cast("int").alias("rk"))
    )


@register(
    "quantile_rank_normalize",
    oracle="""
    SELECT event_id,
           event_type,
           ROUND(PERCENT_RANK() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id), 6) AS pct_rank
    FROM events
    """,
    doc="Quantile (percent-rank) normalization of a feature within each "
    "group — maps any value distribution onto [0,1] for training-feature "
    "scaling; the event_id tie-break makes ranks engine-exact. "
    "Partitioned window, no global sort.",
)
def quantile_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@register(
    "batch_by_length",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(LEAST(n_tokens // 32, 7) AS INTEGER) AS bucket,
           CAST((ROW_NUMBER() OVER (PARTITION BY LEAST(n_tokens // 32, 7)
                                    ORDER BY doc_id) - 1) // 16 AS INTEGER) AS batch_id
    FROM t
    """,
    doc="Padding-efficient inference batching: documents bucket by token-"
    "length band (32-token bands, capped), then form fixed-size batches "
    "of 16 within each band — batch members have similar lengths, so "
    "per-batch padding waste is bounded by the band width. Bucket "
    "assignment is a shuffle-free projection; batch numbering is a "
    "band-partitioned window, never a global one.",
)
def batch_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    d = load_fixture(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    d = d.withColumn("bucket", F.least(F.expr("n_tokens div 32"), F.lit(7)).cast("int"))
    return d.select(
        "doc_id",
        "n_tokens",
        "bucket",
        F.expr("cast((row_number() over (partition by bucket order by doc_id) - 1) div 16 as int)").alias(
            "batch_id"
        ),
    )


@register(
    "select_token_budget",
    oracle="""
    WITH m AS (
        SELECT doc_id,
            len(string_split_regex(lower(trim(text)), '\\s+')) * 1.0 AS toks,
            CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
                 ELSE 0.0 END AS pr,
            CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) > 0
                 THEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                          x -> list_contains(['the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it'], x))) * 1.0
                      / len(string_split_regex(lower(trim(text)), '\\s+'))
                 ELSE 0.0 END AS sr
        FROM documents
    ),
    q AS (
        SELECT doc_id, CAST(toks AS BIGINT) AS n_tokens,
               ROUND(0.4 * LEAST(toks / 100.0, 1.0) + 0.3 * (1.0 - pr) + 0.3 * sr, 6) AS quality
        FROM m
    )
    SELECT doc_id, n_tokens, quality,
           CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
    FROM q
    QUALIFY cum_tokens <= 20000
    """,
    doc="Token-budget corpus selection: take documents best-quality-first "
    "until a 20k-token budget is filled (the data-selection step before "
    "a training run). The oracle's one-partition running sum is the "
    "semantic spec; the Spark plan computes the same prefix sum "
    "scalably — quality bands (the score's own leading digits) rank in "
    "parallel and shift by cumulative band token-offsets from a bounded "
    "21-row window, the same two-level pattern as global_shuffle_rank "
    "and pack_sequences. Integer token sums — engine-exact.",
)
def select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import quality_score, token_count

    budget = 20000
    d = load_fixture(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )
    # band = leading digits of the score: ordering by (band desc, quality
    # desc, doc_id) IS ordering by (quality desc, doc_id)
    d = d.withColumn("band", F.floor(F.col("quality") * 20).cast("int"))
    wb = (
        Window.partitionBy("band")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = d.withColumn("run", F.sum("n_tokens").over(wb))
    sizes = ranked.groupBy("band").agg(F.sum("n_tokens").alias("band_toks"))
    wo = (
        Window.orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # bounded: <= 21 bands by construction
    offsets = sizes.select(
        "band", F.coalesce(F.sum("band_toks").over(wo), F.lit(0)).alias("off")
    )
    return (
        ranked.join(F.broadcast(offsets), "band")
        .select(
            "doc_id",
            "n_tokens",
            "quality",
            (F.col("off") + F.col("run")).cast("bigint").alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= budget)
    )


# Two keyed snapshots of "latest order per customer", one year apart:
# customers active only in the earlier window read as deletes, only in the
# later one as inserts, and a changed latest-order as an update.
_SNAP_SQL = """
    snap_a AS (
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        ) WHERE rn = 1
    ),
    snap_b AS (
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        ) WHERE rn = 1
    )
"""


@register(
    "cdc_snapshot_diff",
    oracle="WITH "
    + _SNAP_SQL
    + """
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'insert'
                WHEN b.o_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           a.o_orderkey AS old_o_orderkey,
           ROUND(a.o_totalprice, 2) AS old_o_totalprice,
           b.o_orderkey AS new_o_orderkey,
           ROUND(b.o_totalprice, 2) AS new_o_totalprice
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_custkey = b.o_custkey
    WHERE a.o_custkey IS NULL OR b.o_custkey IS NULL
       OR a.o_orderkey IS DISTINCT FROM b.o_orderkey
       OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
    """,
    doc="Change-data-feed between two keyed snapshots (the read side of "
    "Delta/Iceberg CDF): latest-order-per-customer a year apart, "
    "full-outer joined on the key and classified insert/delete/update "
    "with NULL-safe comparisons; unchanged keys drop out so feed size "
    "tracks churn. One co-partitioned exchange; bucketed snapshots make "
    "it exchange-free (operators/curate.py:snapshot_diff).",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.curate import snapshot_diff

    orders = load_fixture(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        )

    snap_a = latest(orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    snap_b = latest(orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")))
    return snapshot_diff(snap_a, snap_b, "o_custkey", ["o_orderkey", "o_totalprice"])


@register(
    "gdpr_erase_cascade",
    oracle="""
    WITH victims AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    victim_orders AS (
        SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM victims)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT COUNT(*) FROM victims) AS BIGINT) AS n_erased,
           CAST((SELECT COUNT(*) FROM customer) -
                (SELECT COUNT(*) FROM victims) AS BIGINT) AS n_remaining
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM victim_orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) -
                (SELECT COUNT(*) FROM victim_orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey IN (SELECT o_orderkey FROM victim_orders)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM victim_orders)) AS BIGINT)
    """,
    doc="GDPR/right-to-be-forgotten erasure audit: a deletion list "
    "(c_custkey % 97 = 0) cascades customer -> orders -> lineitem via "
    "LEFT SEMI / LEFT ANTI joins; output is the per-table erased/remaining "
    "ledger the compliance job must produce before rewriting files. The "
    "deletion list broadcasts (bounded by the request queue, not the "
    "corpus); facts are never collected.",
)
def gdpr_erase_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully lazy: each ledger row is a one-row aggregate over the table
    with an erase flag attached by broadcast join — no driver-side
    counting, so the whole ledger is one job when the driver collects."""
    customer = load_fixture(spark, sf_dir, "customer")
    orders = load_fixture(spark, sf_dir, "orders")
    lineitem = load_fixture(spark, sf_dir, "lineitem")
    victims = customer.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    victim_orders = orders.join(
        F.broadcast(victims), orders.o_custkey == victims.c_custkey, "left_semi"
    ).select("o_orderkey")

    def ledger(name: str, tagged: DataFrame) -> DataFrame:
        return tagged.agg(
            F.lit(name).alias("table_name"),
            F.sum(F.when(F.col("_erase"), 1).otherwise(0)).cast("bigint").alias("n_erased"),
            F.sum(F.when(F.col("_erase"), 0).otherwise(1)).cast("bigint").alias("n_remaining"),
        )

    cust_tag = customer.select((F.col("c_custkey") % 97 == 0).alias("_erase"))
    ord_tag = orders.join(
        F.broadcast(victims.withColumn("_hit", F.lit(True))),
        orders.o_custkey == victims.c_custkey,
        "left",
    ).select(F.coalesce(F.col("_hit"), F.lit(False)).alias("_erase"))
    vo = victim_orders.withColumn("_hit", F.lit(True))
    li_tag = lineitem.join(
        F.broadcast(vo), lineitem.l_orderkey == vo.o_orderkey, "left"
    ).select(F.coalesce(F.col("_hit"), F.lit(False)).alias("_erase"))
    return ledger("customer", cust_tag).unionAll(ledger("orders", ord_tag)).unionAll(
        ledger("lineitem", li_tag)
    )


from ..operators.curate import quality_linear_oracle_sql as _ql_sql


@register(
    "quality_model_score",
    oracle=_ql_sql(),
    doc="Model-based quality filtering (the CCNet/LLaMA fasttext-classifier "
    "shape): unigrams hash to 64 features via md5, a deterministic literal "
    "weight vector rides the plan, score = logistic(dot/len). No weight "
    "join, no UDF — scoring is a scan + one doc-keyed aggregation; the "
    "oracle restates the hashing AND the model literally in SQL, so the "
    "classifier itself is value-checked (operators/curate.py:"
    "quality_linear_score).",
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import quality_linear_score

    return quality_linear_score(load_fixture(spark, sf_dir, "documents"))


@register(
    "incremental_join_merge",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Incremental JOIN-view maintenance (the delta rule "
    "d(A JOIN B) = dA*B_old + A_old*dB + dA*dB): orders and lineitem are "
    "each split into an 'old' snapshot (orderdate / shipdate < 1998) and "
    "a delta, the three delta joins are computed WITHOUT touching "
    "old*old, unioned with the stored old-view partials, and "
    "re-aggregated. The oracle states the from-scratch join — merge == "
    "recompute is exactly the IVM correctness claim. At 100 TB the "
    "old*old term is |groups| partial rows read from the stored view; "
    "only delta-sided joins scan raw data, each key-partitioned and "
    "AQE-coalesced.",
)
def incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_fixture(spark, sf_dir, "orders")
    li = load_fixture(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    a_old, a_new = orders.filter(F.col("o_orderdate") < cutoff), orders.filter(
        F.col("o_orderdate") >= cutoff
    )
    b_old, b_new = li.filter(F.col("l_shipdate") < cutoff), li.filter(
        F.col("l_shipdate") >= cutoff
    )

    def partial(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a.o_orderkey == b.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("pc"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("ps"),
            )
        )

    # stored view partial (old x old) + the three delta terms
    merged = (
        partial(a_old, b_old)
        .unionByName(partial(a_new, b_old))
        .unionByName(partial(a_old, b_new))
        .unionByName(partial(a_new, b_new))
    )
    return merged.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum("pc").cast("bigint").alias("n_rows"),
        F.round(F.sum("ps").cast("double"), 2).alias("total_price"),
    )


@register(
    "sample_weighted_no_replacement",
    oracle="""
    WITH u AS (
        SELECT doc_id, n_chars,
               (  (strpos('0123456789abcdef', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 1048576.0
                + (strpos('0123456789abcdef', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 65536.0
                + (strpos('0123456789abcdef', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 4096.0
                + (strpos('0123456789abcdef', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 256.0
                + (strpos('0123456789abcdef', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 16.0
                + (strpos('0123456789abcdef', substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 6, 1)) - 1)
                + 1.0) / 16777217.0 AS uni
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, n_chars,
               ROUND(ln(uni) / CAST(n_chars AS DOUBLE), 9) AS k
        FROM u
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, k AS sample_key,
           CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS INTEGER) AS rk
    FROM keyed
    ORDER BY k DESC, doc_id LIMIT 100
    """,
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirtsos A-ES "
    "exponential-key scheme): per-item uniform u from md5, key = "
    "ln(u)/weight (weight = n_chars), global top-100 keys. Deterministic "
    "and engine/partition-independent like every md5 sampler here; keys "
    "round to 9 dp before ranking so libm ln() last-ulp differences "
    "can't flip the rank. orderBy+limit plans TakeOrderedAndProject — "
    "per-partition heaps, no global sort.",
)
def sample_weighted_no_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string")))
    uni = (F.conv(F.substring(hx, 1, 6), 16, 10).cast("double") + F.lit(1.0)) / F.lit(
        16777217.0
    )
    k = F.round(F.log(uni) / F.col("n_chars").cast("double"), 9)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        k.alias("sample_key"),
    )
    w = Window.orderBy(F.col("sample_key").desc(), F.col("doc_id"))
    return (
        keyed.orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(100)
        .withColumn("rk", F.row_number().over(w).cast("int"))
    )


@register(
    "sample_group_split",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CASE WHEN
                 ( (strpos('0123456789abcdef', substr(md5('grp:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096
                 + (strpos('0123456789abcdef', substr(md5('grp:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256
                 + (strpos('0123456789abcdef', substr(md5('grp:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5('grp:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1)
                 ) % 10 < 8 THEN 'train' ELSE 'test' END AS split
        FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT g.split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN g ON e.user_id = g.user_id
    GROUP BY g.split
    """,
    doc="Group-leakage-safe train/test split (GroupShuffleSplit): the "
    "split is assigned per USER via md5, so every event of a user lands "
    "on the same side — no entity leakage between train and test, the "
    "contamination rule row-level splits violate. The group->split "
    "relation is |groups| rows (broadcast); the fact table is never "
    "shuffled. Disjointness is asserted in tests/test_curate.py.",
)
def sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_fixture(spark, sf_dir, "events")
    hx = F.md5(F.concat(F.lit("grp:"), F.col("user_id").cast("string")))
    bucket = F.conv(F.substring(hx, 1, 4), 16, 10).cast("int") % 10
    groups = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(bucket < 8, "train").otherwise("test").alias("split"),
        )
    )
    return (
        ev.join(F.broadcast(groups), "user_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


def _bpe_rounds_sql(n_merges: int = 5) -> str:
    """The shared training chain of the BPE oracles: the vocab relation
    (distinct word, freq, char symbols), then per round an argmax CTE
    (p{t}: most frequent adjacent pair, ties lexicographic — the Spark
    trainer's orderBy(cnt desc, l, r).limit(1) as ORDER BY/LIMIT) and an
    application CTE (w{t}) that replays the leftmost-greedy merge fold as
    a string-accumulator list_reduce, the winner's l/r captured from a
    1-row LEFT JOIN ON TRUE — so a round with NO learnable pair (p{t}
    empty, where the Spark trainer ``break``s) carries w{t-1} forward
    unchanged instead of collapsing every downstream CTE to zero rows
    The suffix test is right()-equality, not LIKE, so
    tokens containing %/_ cannot act as wildcards."""
    parts = ["""
    WITH w0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
               array_to_string(regexp_extract_all(w, '.'), ' ') AS sym
        FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        )
        WHERE w <> ''
        GROUP BY w
    )"""]
    for t in range(1, n_merges + 1):
        prev = f"w{t - 1}"
        parts.append(f""",
    p{t} AS (
        SELECT pr['l'] AS l, pr['r'] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
            SELECT freq,
                   unnest([{{'l': s[i], 'r': s[i+1]}} for i in range(1, len(s))]) AS pr
            FROM (SELECT freq, string_split(sym, ' ') AS s FROM {prev})
            WHERE len(s) >= 2
        )
        GROUP BY 1, 2
        ORDER BY cnt DESC, l, r
        LIMIT 1
    ),
    w{t} AS (
        SELECT w, freq,
               CASE WHEN b.l IS NULL THEN sym ELSE
               list_reduce(string_split(sym, ' '), (acc, tk) ->
                   CASE WHEN (acc = b.l
                              OR right(acc, length(b.l) + 1) = ' ' || b.l)
                             AND tk = b.r
                        THEN left(acc, length(acc) - length(b.l)) || b.l || b.r
                        ELSE acc || ' ' || tk END) END AS sym
        FROM {prev} LEFT JOIN p{t} b ON TRUE
    )""")
    return "".join(parts)


def _bpe_merges_oracle_sql(n_merges: int = 5) -> str:
    sel = "\n    UNION ALL ".join(
        f'SELECT {t} AS rank, l AS "left", r AS "right", l || r AS merged, '
        f"cnt AS pair_count FROM p{t}"
        for t in range(1, n_merges + 1)
    )
    return _bpe_rounds_sql(n_merges) + "\n    " + sel


def _bpe_apply_oracle_sql(n_merges: int = 5) -> str:
    return _bpe_rounds_sql(n_merges) + f""",
    tok AS (
        SELECT doc_id,
               unnest(range(1, len(ws) + 1)) - 1 AS pos,
               unnest(ws) AS w
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM documents)
    ), tk AS (
        SELECT t.doc_id, t.pos, f.sym
        FROM (SELECT * FROM tok WHERE w <> '') t
        JOIN w{n_merges} f USING (w)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(sym, ' '))) AS BIGINT) AS n_symbols,
           md5(string_agg(sym, ' | ' ORDER BY pos)) AS symbols_md5
    FROM tk
    GROUP BY doc_id
    """


@register(
    "tokenizer_bpe_merges",
    oracle=_bpe_merges_oracle_sql(5),
    doc="BPE tokenizer merge training (5 merges) over the corpus word "
    "distribution. VALUE-ORACLED (round 5, the kmeans treatment for "
    "iterative argmax loops): each round unrolls as an argmax CTE "
    "(most frequent adjacent pair, lexicographic ties — the exact "
    "orderBy(cnt desc, l, r) the trainer runs) plus a merge-application "
    "CTE whose leftmost-greedy fold replays the trainer's aggregate() "
    "lambda as a string-accumulator list_reduce — so every round's "
    "winner AND its application are hash-checked. Spark side: the "
    "corpus collapses to the (distinct word, freq) vocab first; each "
    "round is one pair-explode + count shuffle and a 1-row driver sync. "
    "Also differentially tested against a pure-Python BPE reference in "
    "tests/test_curate.py (operators/curate.py:bpe_train_merges).",
)
def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import bpe_train_merges

    return bpe_train_merges(load_fixture(spark, sf_dir, "documents"), n_merges=5)


@register(
    "dq_expectations",
    oracle="""
    SELECT 'orders.o_orderkey.not_null' AS rule,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderkey.unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderstatus.accepted_values',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_totalprice.non_negative',
           CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_custkey.ref_customer',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'lineitem.l_orderkey.ref_orders',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
    doc="Data-quality expectations audit (the dbt-test / Great "
    "Expectations contract): not-null, key uniqueness, accepted values, "
    "range, and two referential-integrity rules, emitted as one "
    "(rule, n_violations) ledger. Column rules are single-scan "
    "conditional aggregates; RI rules are broadcast anti-joins against "
    "the key side — the audit a pipeline gates every publish on.",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_fixture(spark, sf_dir, "orders")
    customer = load_fixture(spark, sf_dir, "customer")
    lineitem = load_fixture(spark, sf_dir, "lineitem")

    def rule(name: str, df: DataFrame, viol) -> DataFrame:
        return df.agg(
            F.lit(name).alias("rule"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias("n_violations"),
        )

    uniq = orders.agg(
        F.lit("orders.o_orderkey.unique").alias("rule"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("n_violations"),
    )
    ref_cust = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        ).agg(
            F.lit("orders.o_custkey.ref_customer").alias("rule"),
            F.count(F.lit(1)).cast("bigint").alias("n_violations"),
        )
    )
    ref_ord = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == orders.o_orderkey,
            "left_anti",
        ).agg(
            F.lit("lineitem.l_orderkey.ref_orders").alias("rule"),
            F.count(F.lit(1)).cast("bigint").alias("n_violations"),
        )
    )
    return (
        rule("orders.o_orderkey.not_null", orders, F.col("o_orderkey").isNull())
        .unionAll(uniq)
        .unionAll(
            rule(
                "orders.o_orderstatus.accepted_values",
                orders,
                ~F.col("o_orderstatus").isin("O", "F", "P"),
            )
        )
        .unionAll(
            rule("orders.o_totalprice.non_negative", orders, F.col("o_totalprice") < 0)
        )
        .unionAll(ref_cust)
        .unionAll(ref_ord)
    )


@register(
    "tokenizer_bpe_apply",
    oracle=_bpe_apply_oracle_sql(5),
    doc="Apply the 5 learned BPE merges to the corpus (the inference "
    "half of tokenizer_bpe_merges): per-word leftmost-greedy fold per "
    "merge in rank order, merges folded into the plan as literals — no "
    "join, no UDF. VALUE-ORACLED (round 5): the oracle re-learns the "
    "same 5 merges via the unrolled training chain, applies them to the "
    "vocab with the same string fold, and joins the tokenization back "
    "onto the corpus — n_words, n_symbols, and the position-ordered "
    "per-document symbol digests all hash-check. Also differentially "
    "tested against a pure-Python BPE encoder in tests/test_curate.py "
    "(operators/curate.py:bpe_apply_merges).",
)
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import bpe_apply_merges, bpe_train_merges

    docs = load_fixture(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"]) for r in bpe_train_merges(docs, n_merges=5).collect()
    ]
    return bpe_apply_merges(docs, merges)


@register(
    "kanonymity_audit",
    oracle="""
    WITH q AS (
        SELECT lang, source,
               CAST(FLOOR(CAST(n_chars AS DOUBLE) / CAST(500.0 AS DOUBLE)) AS BIGINT)
                   AS len_bucket
        FROM documents
    )
    SELECT lang, source, len_bucket,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CASE WHEN COUNT(*) < 5 THEN 'risky' ELSE 'ok' END AS k_status
    FROM q
    GROUP BY lang, source, len_bucket
    """,
    doc="k-anonymity audit over quasi-identifiers (lang, source, 500-char "
    "length bucket): every equivalence class with fewer than k=5 members "
    "is flagged 'risky' — the release-gating check a curation pipeline "
    "runs before publishing a dataset whose metadata columns could "
    "re-identify authors. Pure hash aggregate: one shuffle on the "
    "quasi-identifier tuple with map-side partial counts; at 100 TB the "
    "class count is bounded by |lang|x|source|x|buckets|, orders of "
    "magnitude below the corpus, so the agg output is small no matter "
    "the input size. Suppression/generalization would consume this "
    "relation as a broadcast join back onto the corpus.",
)
def kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_fixture(spark, sf_dir, "documents")
    bucket = (
        F.floor(F.col("n_chars").cast("double") / F.lit(500.0)).cast("bigint")
    )
    return (
        docs.select("lang", "source", bucket.alias("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
        .select(
            "lang",
            "source",
            "len_bucket",
            "group_size",
            F.when(F.col("group_size") < 5, F.lit("risky"))
            .otherwise(F.lit("ok"))
            .alias("k_status"),
        )
    )


@register(
    "corpus_mix_entropy",
    oracle="""
    WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS n FROM c),
    sh AS (
        SELECT c.source, c.n_docs, c.n_chars,
               CAST(c.n_docs AS DOUBLE) / t.n AS share
        FROM c CROSS JOIN tot t
    ),
    ent AS (
        SELECT ROUND(-SUM(share * ln(share) / ln(CAST(2.0 AS DOUBLE))), 6)
                   AS mix_entropy_bits
        FROM sh
    )
    SELECT s.source, s.n_docs, s.n_chars,
           ROUND(s.share, 6) AS share,
           ROUND(-s.share * ln(s.share) / ln(CAST(2.0 AS DOUBLE)), 6)
               AS entropy_contrib_bits,
           e.mix_entropy_bits
    FROM sh s CROSS JOIN ent e
    """,
    doc="Corpus mixture audit: per-source document share, per-source "
    "entropy contribution, and the Shannon entropy (bits) of the overall "
    "source mix — the report a training-data pipeline uses to balance "
    "data mixtures before sampling weights are chosen. One hash aggregate "
    "on source (map-side partials) produces a |sources|-row relation; "
    "the total and the entropy are single-row broadcast cross joins, so "
    "nothing downstream of the first agg scales with corpus size. The "
    "entropy sum is over |sources| doubles rounded at 6 dp; term order "
    "cannot flip the rounded value at fixture cardinality (asserted by "
    "the driver hash).",
)
def corpus_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_fixture(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    tot = c.agg(F.sum("n_docs").cast("double").alias("n"))
    sh = c.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars",
        (F.col("n_docs").cast("double") / F.col("n")).alias("share"),
    )
    log2 = F.log(F.lit(2.0))
    ent = sh.agg(
        F.round(-F.sum(F.col("share") * F.log("share") / log2), 6).alias(
            "mix_entropy_bits"
        )
    )
    return sh.crossJoin(F.broadcast(ent)).select(
        "source",
        "n_docs",
        "n_chars",
        F.round("share", 6).alias("share"),
        F.round(-F.col("share") * F.log("share") / log2, 6).alias(
            "entropy_contrib_bits"
        ),
        "mix_entropy_bits",
    )


@register(
    "quality_nb_langid",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang AS lbl,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents
    ), train AS (
        SELECT * FROM tok WHERE doc_id % 2 = 0
    ), test AS (
        SELECT doc_id, word FROM tok WHERE doc_id % 2 = 1
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM train
    ), tokl AS (
        SELECT lbl, COUNT(*) AS tl,
               CAST(ROUND(ln(1.0 / (COUNT(*) + (SELECT v FROM vocab))), 9)
                    AS DECIMAL(18, 9)) AS unk
        FROM train GROUP BY lbl
    ), lp AS (
        SELECT t.lbl, t.word,
               CAST(ROUND(ln((COUNT(*) + CAST(1.0 AS DOUBLE))
                             / (ANY_VALUE(l.tl) + (SELECT v FROM vocab))), 9)
                    AS DECIMAL(18, 9)) AS lp
        FROM train t JOIN tokl l ON l.lbl = t.lbl
        GROUP BY t.lbl, t.word
    ), prior AS (
        SELECT lang AS lbl,
               CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE) /
                    (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0)), 9)
                    AS DECIMAL(18, 9)) AS pr
        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
    ), scored AS (
        SELECT te.doc_id, l.lbl,
               SUM(COALESCE(lp.lp, l.unk)) + ANY_VALUE(p.pr) AS score
        FROM test te
        CROSS JOIN tokl l
        LEFT JOIN lp ON lp.lbl = l.lbl AND lp.word = te.word
        JOIN prior p ON p.lbl = l.lbl
        GROUP BY te.doc_id, l.lbl
    ), best AS (
        SELECT doc_id, lbl, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lbl ASC) AS rn
        FROM scored
    )
    SELECT b.doc_id,
           d.lang AS true_label,
           b.lbl AS pred_label,
           ROUND(CAST(b.score AS DOUBLE), 6) AS score
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE b.rn = 1
    """,
    doc="Multinomial naive Bayes language ID trained IN the plan: even "
    "doc_ids are the training split (per-(word,lang) counts, label "
    "priors, add-one smoothing), odd doc_ids score by argmax of "
    "log-prior + sum of log P(word|lang) — the shape of every in-engine "
    "bag-of-words classifier (domain filters, quality models). Per-term "
    "log-probs round to 9 dp and accumulate as DECIMAL(18,9) (exact, "
    "order-independent — the text_bigram_lm_score treatment) so the "
    "argmax and the hash are engine-stable; ties break on label. Count "
    "relations are vocab-sized; the |labels|-row stats ride broadcasts "
    "(operators/curate.py:nb_language_classifier).",
)
def quality_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import nb_language_classifier

    return nb_language_classifier(load_fixture(spark, sf_dir, "documents"))


_DSIR_HEX4 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5('dsir:' || term), {i + 1}, 1)) - 1)"
    f" * {16 ** (3 - i)}"
    for i in range(4)
)


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ), bt AS (
        SELECT doc_id, CAST(({_DSIR_HEX4}) % 64 AS INTEGER) AS b FROM tok
    ), raw AS (
        SELECT b, COUNT(*) AS cr FROM bt GROUP BY b
    ), tgt AS (
        SELECT b, COUNT(*) AS ct
        FROM bt JOIN documents d USING (doc_id)
        WHERE d.lang = 'en' GROUP BY b
    ), tot AS (
        SELECT (SELECT SUM(cr) FROM raw) AS tr, (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt
    ), lr AS (
        SELECT r.b,
               CAST(ROUND(ln(((COALESCE(t.ct, 0) + CAST(1.0 AS DOUBLE)) / (tot.tt + 64))
                             / ((r.cr + CAST(1.0 AS DOUBLE)) / (tot.tr + 64))), 9)
                    AS DECIMAL(18, 9)) AS lr
        FROM raw r LEFT JOIN tgt t ON t.b = r.b CROSS JOIN tot
    )
    SELECT bt.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(lr.lr) AS DOUBLE), 6) AS weight,
           CAST(CASE WHEN SUM(lr.lr) >= 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM bt JOIN lr ON lr.b = bt.b
    GROUP BY bt.doc_id
    """,
    doc="DSIR-style data selection with importance resampling (Xie et al. "
    "2023): hashed-unigram features (md5 hex4 mod 64, the "
    "quality_model_score idiom), per-bucket log-ratio of the TARGET "
    "distribution (lang='en' documents) to the RAW distribution with "
    "add-one smoothing, per-document importance weight = sum of its "
    "tokens' log-ratios. Per-term log-ratios round to 9 dp and accumulate "
    "as DECIMAL(18,9) (order-independent; the text_bigram_lm_score "
    "treatment). The 64-row log-ratio table is a bounded broadcast; "
    "scoring is one token->bucket map plus a doc-keyed sum — a scan-"
    "shaped pass at any corpus size.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_weights(load_fixture(spark, sf_dir, "documents"))


def dsir_weights(d: DataFrame) -> DataFrame:
    """The DSIR weight computation over any (doc_id, text, lang) frame —
    shared by the registered query above and curation_pipeline_v2."""
    toks = d.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("term"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("term"))), 1, 4), 16, 10)
        .cast("int") % 64
    )
    bt = toks.select("doc_id", bucket.alias("b"))
    raw = bt.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        bt.join(d.filter(F.col("lang") == "en").select("doc_id"), "doc_id")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = raw.agg(F.sum("cr").alias("tr")).crossJoin(
        tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"))
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.coalesce("ct", F.lit(0)) + F.lit(1.0)) / (F.col("tt") + 64))
                    / ((F.col("cr") + F.lit(1.0)) / (F.col("tr") + 64))
                ),
                9,
            ).cast("decimal(18,9)").alias("lr"),
        )
    )
    return (
        bt.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"), F.sum("lr").alias("_w"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("_w").cast("double"), 6).alias("weight"),
            (F.col("_w") >= 0).cast("int").alias("keep"),
        )
    )


@register(
    "curation_pipeline_v2",
    oracle=f"""
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
    ), gph AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 20 AND 1000
                     AND n_chars_nws * 1.0 / n_words BETWEEN 3 AND 10
                     AND (n_hash + n_ellipsis) * 1.0 / n_words < CAST(0.1 AS DOUBLE)
                     AND n_alpha_words * 1.0 / n_words >= CAST(0.8 AS DOUBLE)
                     AND n_stop >= 2
                THEN 1 ELSE 0 END AS g_keep
        FROM m
    ), w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), d2 AS (
        SELECT doc_id, ws, len(ws) AS n FROM w
    ), wins AS (
        SELECT doc_id, unnest(range(0, n - 8 + 1)) AS pos, ws, n
        FROM d2 WHERE n >= 8
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
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
            FROM hits
        )
    ), cov AS (
        SELECT doc_id, SUM(clen) AS dup_tokens
        FROM (SELECT doc_id, island, MAX(e) - MIN(pos) AS clen
              FROM isl GROUP BY doc_id, island)
        GROUP BY doc_id
    ), dupf AS (
        SELECT d2.doc_id,
               CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / d2.n AS dup_fraction
        FROM d2 LEFT JOIN cov USING (doc_id)
    ), tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ), bt AS (
        SELECT doc_id, CAST(({_DSIR_HEX4}) % 64 AS INTEGER) AS b FROM tok
    ), raw AS (
        SELECT b, COUNT(*) AS cr FROM bt GROUP BY b
    ), tgt AS (
        SELECT b, COUNT(*) AS ct FROM bt JOIN documents d USING (doc_id)
        WHERE d.lang = 'en' GROUP BY b
    ), tot AS (
        SELECT (SELECT SUM(cr) FROM raw) AS tr, (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS tt
    ), lr AS (
        SELECT r.b,
               CAST(ROUND(ln(((COALESCE(t.ct, 0) + CAST(1.0 AS DOUBLE)) / (tot.tt + 64))
                             / ((r.cr + CAST(1.0 AS DOUBLE)) / (tot.tr + 64))), 9)
                    AS DECIMAL(18, 9)) AS lr
        FROM raw r LEFT JOIN tgt t ON t.b = r.b CROSS JOIN tot
    ), wgt AS (
        SELECT bt.doc_id, CAST(CASE WHEN SUM(lr.lr) >= 0 THEN 1 ELSE 0 END AS INTEGER) AS w_keep
        FROM bt JOIN lr ON lr.b = bt.b GROUP BY bt.doc_id
    )
    SELECT g.doc_id,
           CAST(CASE WHEN g.g_keep = 1 AND dupf.dup_fraction < CAST(0.5 AS DOUBLE)
                      AND wgt.w_keep = 1
                THEN 1 ELSE 0 END AS INTEGER) AS keep,
           CASE WHEN g.g_keep = 0 THEN 'quality'
                WHEN dupf.dup_fraction >= CAST(0.5 AS DOUBLE) THEN 'duplication'
                WHEN wgt.w_keep = 0 THEN 'distribution'
                ELSE 'kept' END AS reason
    FROM gph g
    JOIN dupf ON dupf.doc_id = g.doc_id
    JOIN wgt ON wgt.doc_id = g.doc_id
    """,
    doc="Second-generation curation pipeline composing the round-4 "
    "signals: Gopher quality rules AND sliding-span duplication coverage "
    "(< 50% duplicated tokens) AND DSIR target-distribution weight, with "
    "a first-failing-rule reason per document (quality > duplication > "
    "distribution) — the FineWeb-style filter chain stated as one "
    "declarative plan. Every stage is the already-oracled operator "
    "(gopher_flags, exact_substring_dedup, dsir_weights) joined on "
    "doc_id; each signal branch re-scans the columnar source (Catalyst "
    "does not CSE scans across join branches — at 100 TB persist the "
    "tokenized intermediate once instead), and the composition itself "
    "is hash-checked end-to-end.",
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_substring_dedup
    from .text import gopher_flags

    d = load_fixture(spark, sf_dir, "documents")
    g = gopher_flags(d).select("doc_id", F.col("keep").alias("g_keep"))
    dupf = exact_substring_dedup(d, ngram=8).select("doc_id", "dup_fraction")
    w = dsir_weights(d).select("doc_id", F.col("keep").alias("w_keep"))
    j = g.join(dupf, "doc_id").join(w, "doc_id")
    keep = (
        (F.col("g_keep") == 1)
        & (F.col("dup_fraction") < F.lit(0.5))
        & (F.col("w_keep") == 1)
    )
    reason = (
        F.when(F.col("g_keep") == 0, "quality")
        .when(F.col("dup_fraction") >= F.lit(0.5), "duplication")
        .when(F.col("w_keep") == 0, "distribution")
        .otherwise("kept")
    )
    return j.select("doc_id", keep.cast("int").alias("keep"), reason.alias("reason"))


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans,
           CAST(COUNT(DISTINCT CASE WHEN o.o_orderkey IS NULL
                                    THEN l.l_orderkey END) AS BIGINT)
               AS n_orphan_keys
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'orders->customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN c.c_custkey IS NULL
                                    THEN o2.o_custkey END) AS BIGINT)
    FROM orders o2 LEFT JOIN customer c ON c.c_custkey = o2.o_custkey
    UNION ALL
    SELECT 'customer->nation',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN n.n_nationkey IS NULL
                                    THEN c2.c_nationkey END) AS BIGINT)
    FROM customer c2 LEFT JOIN nation n ON n.n_nationkey = c2.c_nationkey
    """,
    doc="Referential-integrity audit across the star's FK chain "
    "(lineitem->orders, orders->customer, customer->nation): child row "
    "count, orphaned child rows, distinct orphaned keys — the constraint "
    "check engines like Redshift declare but never enforce, run as "
    "explicit left-join scans (per-FK one shuffle on the key; the parent "
    "side broadcasts when small). Complements dq_expectations' "
    "single-table rules with the cross-table half.",
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_fixture(spark, sf_dir, "lineitem")
    o = load_fixture(spark, sf_dir, "orders")
    c = load_fixture(spark, sf_dir, "customer")
    n = load_fixture(spark, sf_dir, "nation")

    def audit(fk, child, child_key, parent, parent_key):
        j = child.join(
            parent, child[child_key] == parent[parent_key], "left"
        )
        return j.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum(F.when(parent[parent_key].isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_orphans"),
            F.countDistinct(
                F.when(parent[parent_key].isNull(), child[child_key])
            ).cast("bigint").alias("n_orphan_keys"),
        )
    return (
        audit("lineitem->orders", l, "l_orderkey", o, "o_orderkey")
        .unionAll(audit("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(audit("customer->nation", c, "c_nationkey", n, "n_nationkey"))
    )


@register(
    "profile_key_skew",
    oracle="""
    WITH f AS (
        SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY o_custkey
    ), s AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_c,
               CAST(SUM(c * c) AS DOUBLE) AS sum_sq
        FROM f
    )
    SELECT n_keys,
           max_c,
           ROUND(max_c / total, 6) AS top_key_share,
           ROUND(max_c / (total / n_keys), 6) AS skew_factor,
           ROUND(sum_sq / (total * total), 6) AS collision_prob
    FROM s
    """,
    doc="Partition-key skew profile for the orders fact's customer key: "
    "distinct keys, hottest-key count and share, skew factor (hottest / "
    "mean), and collision probability (sum of squared shares — the "
    "probability two random rows share a key, the quantity that predicts "
    "shuffle-partition imbalance). This is the measurement that DECIDES "
    "between plain hash partitioning, AQE skew-split, and manual salting "
    "(skew_salted_join) — one groupBy plus a 1-row aggregate.",
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_fixture(spark, sf_dir, "orders")
    f = o.groupBy(F.col("o_custkey").alias("k")).agg(F.count(F.lit(1)).alias("c"))
    return f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_c"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_key_share"),
        F.round(
            F.max("c") / (F.sum("c").cast("double") / F.count(F.lit(1))), 6
        ).alias("skew_factor"),
        F.round(
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") * F.sum("c").cast("double")),
            6,
        ).alias("collision_prob"),
    ).select("n_keys", "max_c", "top_key_share", "skew_factor", "collision_prob")


_NEG_K = 4
_NEG_OVERFETCH = 8


@register(
    "sample_negative_pairs",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{leak}}),
    {_LEAK_COMPONENT_SQL},
    ring AS (
        SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS root,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                  d.doc_id) - 1 AS pos
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    nn AS (SELECT COUNT(*) AS n FROM ring),
    iv AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS i),
    cand AS (
        SELECT r.doc_id AS anchor_id, r.root AS aroot, iv.i,
               (r.pos + iv.i) % nn.n AS tpos
        FROM ring r CROSS JOIN nn CROSS JOIN iv
    ),
    neg AS (
        SELECT c.anchor_id, s.doc_id AS negative_id, c.i
        FROM cand c JOIN ring s ON s.pos = c.tpos
        WHERE s.root <> c.aroot
    )
    SELECT anchor_id, negative_id, CAST(rk AS INTEGER) AS neg_rank
    FROM (
        SELECT anchor_id, negative_id,
               ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY i) AS rk
        FROM neg
    ) WHERE rk <= {_NEG_K}
    """.format(leak=_LEAK_PAIRS_SQL),
    doc="Contrastive negative mining: each anchor document draws its "
    f"{_NEG_K} negatives from the {_NEG_OVERFETCH} successors on a "
    "consistent md5 ring (wrap-around), SKIPPING any candidate in the "
    "anchor's near-duplicate component (the exact 0.6-Jaccard pair "
    "graph sample_split_leakage_safe uses) — hash-deterministic "
    "pseudo-randomness with a hard guarantee that no near-duplicate of "
    "the anchor is ever labeled a negative (the false-negative poison "
    "in contrastive training).",
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ring positions come from the two-level prefix-sum
    global rank (256 md5-prefix buckets in parallel + a bounded offset
    window — the global_shuffle_rank pattern, NO single-partition sort);
    successor lookup is an integer equi-join on (pos + i) % n with an
    8x bounded explode; component roots ride the already-bucketed
    near-dup pair graph. Everything shuffles on integers, never bodies."""
    from pyspark.sql.window import Window

    from .dedup import _components_at_rest

    docs = load_fixture(spark, sf_dir, "documents")
    # r11: components come from the at-rest artifact (built once per
    # fixture) instead of re-executing the pair join per query
    comp = _components_at_rest(spark, sf_dir)
    rooted = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component_id"), F.col("doc_id")).alias("root"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    d = rooted.withColumn(
        "bucket", F.conv(F.substring("k", 1, 2), 16, 10).cast("int")
    )
    wb = Window.partitionBy("bucket").orderBy("k", "doc_id")
    ranked = d.withColumn("rk", F.row_number().over(wb))
    sizes = ranked.groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "bucket", F.coalesce(F.sum("sz").over(wo), F.lit(0)).alias("off")
    )
    ring = ranked.join(F.broadcast(offsets), "bucket").select(
        "doc_id", "root", (F.col("off") + F.col("rk") - 1).alias("pos")
    )
    nn = ring.agg(F.count(F.lit(1)).alias("n"))
    cand = (
        ring.crossJoin(F.broadcast(nn))
        .select(
            F.col("doc_id").alias("anchor_id"),
            F.col("root").alias("aroot"),
            F.explode(
                F.array(*[F.lit(i) for i in range(1, _NEG_OVERFETCH + 1)])
            ).alias("i"),
            "pos",
            "n",
        )
        .select(
            "anchor_id", "aroot", "i", ((F.col("pos") + F.col("i")) % F.col("n")).alias("tpos")
        )
    )
    succ = ring.select(
        F.col("pos").alias("tpos"),
        F.col("doc_id").alias("negative_id"),
        F.col("root").alias("nroot"),
    )
    neg = cand.join(succ, "tpos").filter(F.col("nroot") != F.col("aroot"))
    wr = Window.partitionBy("anchor_id").orderBy("i")
    return (
        neg.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _NEG_K)
        .select("anchor_id", "negative_id", F.col("rk").cast("int").alias("neg_rank"))
    )


_BENFORD_P = {
    1: "0.301030", 2: "0.176091", 3: "0.124939", 4: "0.096910",
    5: "0.079181", 6: "0.066947", 7: "0.057992", 8: "0.051153",
    9: "0.045757",
}
_BENFORD_CASE_SQL = "CASE " + " ".join(
    f"WHEN digit = {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD_P.items()
) + " END"


@register(
    "dq_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT o_orderpriority AS priority,
               CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT priority, digit, COUNT(*) AS observed
        FROM digits GROUP BY priority, digit
    ),
    tot AS (SELECT priority, SUM(observed) AS total FROM obs GROUP BY priority)
    SELECT o.priority, o.digit,
           CAST(o.observed AS BIGINT) AS observed,
           ROUND(CAST(o.observed AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS obs_p,
           {_BENFORD_CASE_SQL} AS benford_p,
           ROUND(ROUND(CAST(o.observed AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
                 - {_BENFORD_CASE_SQL}, 6) AS delta
    FROM obs o JOIN tot t USING (priority)
    """,
    doc="Benford first-significant-digit audit of order totals per "
    "priority class — the classic fraud/synthetic-data screen (Benford "
    "1938): observed digit share vs the log10(1 + 1/d) law, per-digit "
    "delta. First digit is read from the EXACT integer part (floor -> "
    "bigint -> string), so no float-rounding edge can flip a digit "
    "between engines; expected shares are 6-dp decimal literals "
    "identical in both plans.",
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined groupBy on (priority, digit)
    — at most 9 x |priorities| result rows — plus a broadcast join of
    per-priority totals. Single scan of the fact, no window, no
    shuffle beyond the 45-row aggregate."""
    o = load_fixture(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("digit"),
    )
    obs = digits.groupBy("priority", "digit").agg(
        F.count(F.lit(1)).alias("observed")
    )
    tot = obs.groupBy("priority").agg(F.sum("observed").alias("total"))
    benford = None
    for d, pr in _BENFORD_P.items():
        when = F.when if benford is None else benford.when
        benford = when(F.col("digit") == d, F.lit(float(pr)))
    obs_p = F.round(
        F.col("observed").cast("double") / F.col("total").cast("double"), 6
    )
    return (
        obs.join(F.broadcast(tot), "priority")
        .select(
            "priority",
            "digit",
            F.col("observed").cast("bigint").alias("observed"),
            obs_p.alias("obs_p"),
            benford.alias("benford_p"),
            F.round(obs_p - benford, 6).alias("delta"),
        )
    )


@register(
    "ldiversity_audit",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_sensitive,
           CASE WHEN COUNT(DISTINCT user_id) < 3 THEN 'risky' ELSE 'ok' END
               AS l_status
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
    doc="l-diversity audit (Machanavajjhala et al. 2007), the "
    "k-anonymity companion: per quasi-identifier class (event type x "
    "day) count DISTINCT sensitive values (user_id) — a class k rows "
    "big is still re-identifying if they all belong to < l=3 users. "
    "Gates release together with kanonymity_audit.",
)
def ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one shuffle on (class, user) for the distinct, then
    a map-side-combined per-class count — the standard two-step exact
    distinct-agg; class cardinality bounds the output at |types|x|days|
    rows regardless of corpus size."""
    ev = load_fixture(spark, sf_dir, "events")
    g = ev.select("event_type", F.to_date("ts").alias("day"), "user_id")
    return (
        g.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct("user_id").cast("bigint").alias("distinct_sensitive"),
        )
        .select(
            "event_type",
            "day",
            "group_size",
            "distinct_sensitive",
            F.when(F.col("distinct_sensitive") < 3, F.lit("risky"))
            .otherwise(F.lit("ok"))
            .alias("l_status"),
        )
    )


@register(
    "sample_time_holdout",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN rk <= 2 THEN 'test'
                WHEN rk = 3 THEN 'embargo'
                ELSE 'train' END AS split
    FROM (
        SELECT event_id, user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
    )
    """,
    doc="Per-user temporal holdout: each user's LAST 2 events are test, "
    "the event immediately before them is an embargo row (excluded from "
    "train so boundary leakage across the split point is structural, "
    "not hoped-for — the time-series CV discipline), everything earlier "
    "trains. The leave-last-n protocol recommender evaluation uses; "
    "random splits leak future behavior into training.",
)
def sample_time_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-user window sort, no joins; the split label
    is a rank CASE. At 100 TB the sort shuffles (user, ts) pairs once —
    the same cost as any per-user sessionization pass."""
    from pyspark.sql.window import Window

    ev = load_fixture(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return ev.select(
        "event_id", "user_id", F.row_number().over(w).alias("rk")
    ).select(
        "event_id",
        "user_id",
        F.when(F.col("rk") <= 2, "test")
        .when(F.col("rk") == 3, "embargo")
        .otherwise("train")
        .alias("split"),
    )


@register(
    "dp_noisy_counts",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM events GROUP BY event_type
    ),
    u AS (
        SELECT event_type, true_count,
               (CAST(('0x' || substr(md5('dp:' || event_type), 1, 8)) AS BIGINT)
                    + 0.5) / 4294967296.0 - 0.5 AS uu
        FROM c
    )
    SELECT event_type, true_count,
           ROUND(true_count
                 - 1.0 * (CASE WHEN uu >= 0 THEN 1.0 ELSE -1.0 END)
                       * ln(1.0 - 2.0 * abs(uu)), 4) AS noisy_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM u
    """,
    doc="Differentially-private count release (Laplace mechanism, "
    "sensitivity 1, epsilon=1): noise = -b*sgn(u)*ln(1-2|u|) by inverse "
    "CDF over a SEEDED uniform (md5 of the release key mapped to "
    "(-0.5, 0.5), endpoint-excluded) — the reproducible-noise discipline DP deployments "
    "use so a re-run releases the identical value instead of burning "
    "privacy budget twice. The md5 uniform is a dyadic rational and ln "
    "agrees across engines on these arguments (the corpus_mix_entropy "
    "precedent), so the release hash-checks exactly.",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined count per released class; the
    noise projection is |classes| rows. Composition accounting and the
    per-key epsilon ledger live with the caller."""
    ev = load_fixture(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    # endpoint-excluded uniform: (val + 0.5)/2^32 keeps uu strictly inside
    # (-0.5, 0.5), so ln(1 - 2|uu|) can never see zero — DuckDB hard-errors
    # on ln(0) while Spark returns NULL, a latent engine divergence
    uu = (
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
        - F.lit(0.5)
    )
    noise = (
        F.lit(1.0)
        * F.when(F.col("uu") >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(F.col("uu")))
    )
    return (
        c.withColumn("uu", uu)
        .select(
            "event_type",
            "true_count",
            F.round(F.col("true_count") - noise, 4).alias("noisy_count"),
            F.lit(1.0).cast("double").alias("epsilon"),
        )
    )


@register(
    "tcloseness_audit",
    oracle="""
    WITH b AS (
        SELECT lang, source, CAST(n_chars // 500 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY lang, source, bucket
    ),
    gb AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM b GROUP BY bucket),
    gbo AS (
        SELECT bucket,
               CAST(ROW_NUMBER() OVER (ORDER BY bucket) AS BIGINT) AS i,
               CAST(SUM(gcnt) OVER (ORDER BY bucket
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS gcum
        FROM gb
    ),
    tot AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS m FROM gb),
    grp AS (SELECT lang, source, CAST(SUM(cnt) AS BIGINT) AS ng
            FROM b GROUP BY lang, source),
    cum AS (
        SELECT g.lang, g.source, g.ng, o.i, o.gcum,
               SUM(COALESCE(bb.cnt, 0)) OVER (
                   PARTITION BY g.lang, g.source ORDER BY o.i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gc
        FROM grp g
        CROSS JOIN gbo o
        LEFT JOIN b bb ON bb.lang = g.lang AND bb.source = g.source
                      AND bb.bucket = o.bucket
    ),
    agg AS (
        SELECT c.lang, c.source, c.ng,
               SUM(CASE WHEN c.i < t.m
                        THEN abs(CAST(c.gc AS HUGEINT) * t.n
                                 - CAST(c.gcum AS HUGEINT) * c.ng)
                        ELSE 0 END) AS num,
               MAX(t.n) AS n, MAX(t.m) AS m
        FROM cum c CROSS JOIN tot t
        GROUP BY c.lang, c.source, c.ng
    ),
    micro AS (
        SELECT lang, source, ng,
               (2 * CAST(num AS HUGEINT) * 1000000
                + NULLIF(CAST(ng AS HUGEINT) * n * (m - 1), 0))
                   // (2 * NULLIF(CAST(ng AS HUGEINT) * n * (m - 1), 0)) AS emd_micro
        FROM agg
    )
    SELECT lang, source, CAST(ng AS BIGINT) AS group_size,
           CAST(emd_micro AS DOUBLE) / 1000000.0 AS emd,
           CASE WHEN emd_micro > 200000 THEN 'risky' ELSE 'ok' END AS t_status
    FROM micro
    """,
    doc="t-closeness audit (Li et al. 2007), completing the "
    "k-anonymity / l-diversity release-gate triple: per quasi-identifier "
    "class (lang x source), the earth-mover's distance between the "
    "class's distribution over the ordered sensitive attribute "
    "(500-char length bucket, the kanonymity_audit binning) and the "
    "global distribution; classes with EMD > t=0.2 leak attribute "
    "information even when k- and l-checks pass. EXACT rationals "
    "throughout: ordered-EMD is sum(|cumP - cumQ|)/(m-1), every "
    "cumulative share is an integer pair over the common denominator "
    "ng*N, and the final value rounds half-away in integer micro-units "
    "((2a+b) DIV 2b) so no engine ever rounds a float.",
)
def tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on (class, bucket), a broadcast-size
    global bucket spine crossed with the class list (|classes| x |m|
    cells — bounded by the audit's own output), per-class cumulative
    windows over m<=20 buckets, one aggregate. Micro-unit products
    (gc*N, the (2a+b) div 2b round) run in DECIMAL(38,0) / HUGEINT —
    the agg_ks_two_sample convention (r8 micro-unit audit): gc*N wraps
    int64 past N ~ 3e9, well inside a 100 TB corpus."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    b = d.select(
        "lang",
        "source",
        F.expr("CAST(n_chars div 500 AS BIGINT)").alias("bucket"),
    ).groupBy("lang", "source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    gb = b.groupBy("bucket").agg(F.sum("cnt").cast("bigint").alias("gcnt"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gbo = gb.select(
        "bucket",
        F.row_number().over(Window.orderBy("bucket")).cast("bigint").alias("i"),
        F.sum("gcnt").over(wb).cast("bigint").alias("gcum"),
    )
    tot = gb.agg(
        F.sum("gcnt").cast("bigint").alias("n"), F.count(F.lit(1)).cast("bigint").alias("m")
    )
    grp = b.groupBy("lang", "source").agg(F.sum("cnt").cast("bigint").alias("ng"))
    cell = (
        grp.crossJoin(F.broadcast(gbo))
        .join(
            b.withColumnRenamed("cnt", "bcnt"),
            ["lang", "source", "bucket"],
            "left",
        )
        .select(
            "lang", "source", "ng", "i", "gcum",
            F.coalesce(F.col("bcnt"), F.lit(0)).alias("cnt"),
        )
    )
    wg = Window.partitionBy("lang", "source").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cell.select(
        "lang", "source", "ng", "i", "gcum", F.sum("cnt").over(wg).alias("gc")
    )
    agg = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("lang", "source", "ng")
        .agg(
            # gc*N wraps int64 past N ~ 3e9 — DECIMAL(38,0) operands keep
            # the common-denominator numerator exact (KS convention)
            F.sum(
                F.when(
                    F.col("i") < F.col("m"),
                    F.abs(
                        F.col("gc").cast("decimal(19,0)") * F.col("n")
                        - F.col("gcum").cast("decimal(19,0)") * F.col("ng")
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("decimal(38,0)")
            .alias("num"),
            F.max("n").alias("n"),
            F.max("m").alias("m"),
        )
    )
    micro = agg.select(
        "lang",
        "source",
        "ng",
        F.expr(
            "CAST((2 * CAST(num AS DECIMAL(38,0)) * 1000000"
            " + nullif(CAST(ng AS DECIMAL(38,0)) * n * (m - 1), 0))"
            " div (2 * nullif(CAST(ng AS DECIMAL(38,0)) * n * (m - 1), 0))"
            " AS BIGINT)"
        ).alias("emd_micro"),
    )
    return micro.select(
        "lang",
        "source",
        F.col("ng").alias("group_size"),
        (F.col("emd_micro").cast("double") / F.lit(1000000.0)).alias("emd"),
        F.when(F.col("emd_micro") > 200000, "risky").otherwise("ok").alias("t_status"),
    )


@register(
    "mix_temperature_sampling",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, n_docs,
               CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)), 9) AS DECIMAL(18,9)) AS wt
        FROM counts
    ),
    tw AS (SELECT SUM(wt) AS total FROM w),
    ideal AS (
        SELECT lang, n_docs, wt,
               CAST(wt AS DOUBLE) / CAST(t.total AS DOUBLE) * 200.0 AS ideal
        FROM w CROSS JOIN tw t
    ),
    based AS (
        SELECT lang, n_docs, wt, ideal,
               CAST(FLOOR(ideal) AS BIGINT) AS base,
               ideal - FLOOR(ideal) AS rem
        FROM ideal
    ),
    ranked AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS BIGINT) AS rk,
               200 - SUM(base) OVER () AS leftover
        FROM based
    )
    SELECT lang, n_docs,
           CAST(wt AS DOUBLE) AS weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_docs
    FROM ranked
    """,
    doc="Temperature-scaled source mixing (tau=0.5): per-language "
    "sampling allocations proportional to n^tau — the standard "
    "multilingual-LM rebalancing (sqrt damping upweights low-resource "
    "languages) — with largest-remainder rounding so allocations sum "
    "to the exact 200-doc budget. Float discipline: sqrt is correctly "
    "rounded on both engines, weights are pinned to 9 dp DECIMAL "
    "before the order-independent total, and every remaining double op "
    "runs in one identical sequence per engine; the remainder rank "
    "breaks ties on the language key.",
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one groupBy on the mix key (|languages| rows), then
    driver-free constant-size window work over that tiny relation; the
    expensive corpus scan happens exactly once."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = counts.select(
        "lang",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("wt"),
    )
    tw = w.agg(F.sum("wt").alias("total"))
    ideal = w.crossJoin(F.broadcast(tw)).select(
        "lang",
        "n_docs",
        "wt",
        (F.col("wt").cast("double") / F.col("total").cast("double") * F.lit(200.0)).alias(
            "ideal"
        ),
    )
    based = ideal.select(
        "lang",
        "n_docs",
        "wt",
        F.floor("ideal").cast("bigint").alias("base"),
        (F.col("ideal") - F.floor("ideal")).alias("rem"),
    )
    ranked = based.select(
        "lang",
        "n_docs",
        "wt",
        "base",
        F.row_number().over(Window.orderBy(F.desc("rem"), "lang")).cast("bigint").alias("rk"),
        (F.lit(200) - F.sum("base").over(Window.partitionBy())).alias("leftover"),
    )
    return ranked.select(
        "lang",
        "n_docs",
        F.col("wt").cast("double").alias("weight"),
        (F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("alloc_docs"),
    )


def _kcenter_oracle_sql(k: int = 8, dim: int = 64) -> str:
    """DuckDB rendering of the greedy k-center (farthest-point) coreset:
    each round is a min-distance CTE over the selected-so-far union and a
    1-row argmax pick (ties to the lower id) — the exact unrolled-CTE
    treatment the kmeans/PCA/PageRank oracles use, applied to diversity
    selection. Distances are integer sums of squares over round(x*16)
    coordinates, so every pick and radius hashes exactly."""
    d = (
        "list_sum([ (CAST(q.qv[i] AS BIGINT) - s.qv[i])"
        " * (CAST(q.qv[i] AS BIGINT) - s.qv[i])"
        f" FOR i IN range(1, {dim + 1}) ])"
    )
    parts = [f"""
    WITH q AS (
        SELECT vec_id AS id,
               [CAST(round(x * 16) AS INTEGER) FOR x IN embedding] AS qv
        FROM embeddings
    ),
    s0 AS (SELECT id, qv FROM q WHERE id = 0)"""]
    union = "SELECT id, qv FROM s0"
    for r in range(1, k):
        parts.append(f""",
    p{r} AS (
        SELECT q.id, MIN({d}) AS dmin
        FROM q CROSS JOIN ({union}) s
        GROUP BY q.id
    ),
    pick{r} AS (
        SELECT id, CAST(dmin AS BIGINT) AS dmin
        FROM p{r} ORDER BY dmin DESC, id LIMIT 1
    ),
    s{r} AS (SELECT q.id, q.qv FROM q JOIN pick{r} USING (id))""")
        union += f" UNION ALL SELECT id, qv FROM s{r}"
    sel = "\n    UNION ALL ".join(
        ["SELECT 0 AS sel_rank, id AS vec_id, CAST(0 AS BIGINT) AS dmin FROM s0"]
        + [f"SELECT {r} AS sel_rank, id AS vec_id, dmin FROM pick{r}"
           for r in range(1, k)]
    )
    return "".join(parts) + "\n    " + sel


@register(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle_sql(8, 64),
    doc="Greedy k-center (farthest-point) coreset selection, k=8 — the "
    "diversity-sampling step that picks maximally-spread exemplars from "
    "an embedding corpus (Gonzalez 1985 2-approximation of the k-center "
    "cover; the standard coreset/active-learning seed). Seed = lowest "
    "vec_id; each round selects the point farthest (exact integer "
    "squared L2 on round(x*16) coordinates, ties to the lower id) from "
    "everything selected so far, and reports that selection-time "
    "distance (the cover radius trajectory). Fully value-oracled: the "
    "rounds unroll as min-distance + argmax CTEs, no float anywhere.",
)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: k-1 rounds of (one scan computing min over <=k
    literal-vector codegen folds, one 1-row driver argmax sync) — the
    kmeans_exact budget exactly; nothing is ever collected but the
    running selection. At 100 TB the scan is the only cost and is
    embarrassingly parallel."""
    e = load_fixture(spark, sf_dir, "embeddings")
    k, dim = 8, 64
    q = cut(e.select(
        F.col("vec_id").alias("_id"),
        F.expr("transform(embedding, x -> cast(round(x * 16) as int))").alias("qv"),
    ))
    seed_rows = q.filter(F.col("_id") == 0).select("_id", "qv").collect()
    if not seed_rows:
        raise ValueError(
            "sample_coreset_kcenter seed contract: the corpus must contain "
            "vec_id 0 (the deterministic lowest-id seed); no such row in "
            f"{sf_dir} — same loud-failure convention as the kmeans trainer"
        )
    seed = seed_rows[0]
    selected = [(int(seed["_id"]), [int(v) for v in seed["qv"]])]
    out = [(0, selected[0][0], 0)]

    def round_winners(sel_pts: list[list[int]]):
        """One Arrow pass emitting each batch's farthest-point candidate
        (max of min squared distance to the selected set, ties to the
        lowest id — exact int64 throughout, numpy argmin/argmax both take
        the first extremum). Replaces r unrolled 64-term literal distance
        expressions whose Janino compile GREW with every round (the
        round-r plan embedded r*dim fresh literals, so the codegen cache
        never hit and the driver burned seconds compiling per round —
        guide §4.2); the selected set rides the closure, the plan is
        round-invariant. The winner's qv is emitted too, so the former
        second collect-the-row job per round disappears."""
        import numpy as np

        s = np.asarray(sel_pts, dtype=np.int64)  # (r, dim)

        def run(batches):
            import pandas as pd

            # fold to ONE winner per PARTITION (not per batch) so the
            # driver sync stays |partitions|-bounded at any data size
            best_id, best_d, best_qv = None, None, None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
                xx = (x * x).sum(axis=1)
                ss = (s * s).sum(axis=1)
                d = xx[:, None] - 2 * (x @ s.T) + ss[None, :]  # exact int64
                dmin = d.min(axis=1)
                ids = np.asarray(pdf["_id"], dtype=np.int64)
                bd = dmin.max()
                bi = ids[dmin == bd].min()
                if (
                    best_d is None
                    or bd > best_d
                    or (bd == best_d and bi < best_id)
                ):
                    i = int(np.flatnonzero(ids == bi)[0])
                    best_id, best_d, best_qv = int(bi), int(bd), x[i].tolist()
            if best_id is not None:
                yield pd.DataFrame(
                    {"_id": [best_id], "dmin": [best_d], "qv": [best_qv]}
                )

        return q.select("_id", "qv").mapInPandas(
            run, "_id long, dmin long, qv array<int>"
        )

    for r in range(1, k):
        # One per-partition winner row per round (the k-means-sync class
        # of bounded collect: |partitions| slim rows, never data-scaled);
        # the global argmax over them is the same (max dmin, lowest id).
        winners = round_winners([sv for _, sv in selected]).collect()
        pick = sorted(winners, key=lambda w: (-w["dmin"], w["_id"]))[0]
        selected.append((int(pick["_id"]), [int(v) for v in pick["qv"]]))
        out.append((r, int(pick["_id"]), int(pick["dmin"])))
    return spark.createDataFrame(out, "sel_rank int, vec_id bigint, dmin bigint")


@register(
    "sample_neyman_allocation",
    oracle="""
    WITH s AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS nh,
               CAST(SUM(n_chars) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(n_chars AS DECIMAL(20,0))
                        * CAST(n_chars AS DECIMAL(12,0))) AS DECIMAL(38,0))
                   AS syy
        FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, nh,
               CAST(ROUND(CAST(nh AS DOUBLE)
                          * sqrt((CAST(nh AS DOUBLE) * CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                                 / (CAST(nh AS DOUBLE)
                                    * (CAST(nh AS DOUBLE) - 1.0))),
                          9) AS DECIMAL(24,9)) AS wt
        FROM s WHERE nh >= 2
    ),
    tw AS (SELECT SUM(wt) AS total FROM w),
    b AS (
        SELECT lang, nh, wt,
               CAST(wt AS DOUBLE) / CAST(t.total AS DOUBLE) * 200.0 AS ideal
        FROM w CROSS JOIN tw t
    ),
    r AS (
        SELECT lang, nh, wt, CAST(FLOOR(ideal) AS BIGINT) AS base,
               ideal - FLOOR(ideal) AS rem
        FROM b
    ),
    rk AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS BIGINT) AS pos,
               200 - SUM(base) OVER () AS leftover
        FROM r
    )
    SELECT lang, nh AS n_docs, CAST(wt AS DOUBLE) AS neyman_weight,
           CAST(base + CASE WHEN pos <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_docs
    FROM rk
    """,
    doc="Neyman optimal stratified-sampling allocation: each language "
    "stratum gets sample budget proportional to n_h * s_h (stratum "
    "size times stratum std of document length) — the "
    "variance-minimizing "
    "allocation for a fixed 200-doc audit budget (Neyman 1934), the "
    "statistically-correct upgrade of proportional sampling. Stratum "
    "variance comes from EXACT integer sums ((n*syy - sy^2)/(n(n-1)) "
    "with DECIMAL accumulators), sqrt is correctly rounded on both "
    "engines, weights pin to 9 dp DECIMAL before the order-independent "
    "total, and largest-remainder rounding hits the budget exactly "
    "(the mix_temperature_sampling machinery).",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined stratum aggregate (3 partials),
    then constant-size allocation arithmetic over |strata| rows."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum("n_chars").cast("decimal(38,0)").alias("sy"),
        F.sum(
            F.col("n_chars").cast("decimal(20,0)") * F.col("n_chars").cast("decimal(12,0)")
        )
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    nhd = F.col("nh").cast("double")
    var = (nhd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")) / (
        nhd * (nhd - F.lit(1.0))
    )
    w = s.filter(F.col("nh") >= 2).select(
        "lang",
        "nh",
        F.round(nhd * F.sqrt(var), 9).cast("decimal(24,9)").alias("wt"),
    )
    tw = w.agg(F.sum("wt").alias("total"))
    b = w.crossJoin(F.broadcast(tw)).select(
        "lang",
        "nh",
        "wt",
        (F.col("wt").cast("double") / F.col("total").cast("double") * F.lit(200.0)).alias(
            "ideal"
        ),
    )
    r = b.select(
        "lang",
        "nh",
        "wt",
        F.floor("ideal").cast("bigint").alias("base"),
        (F.col("ideal") - F.floor("ideal")).alias("rem"),
    )
    rk = r.select(
        "lang",
        "nh",
        "wt",
        "base",
        F.row_number().over(Window.orderBy(F.desc("rem"), "lang")).cast("bigint").alias("pos"),
        (F.lit(200) - F.sum("base").over(Window.partitionBy())).alias("leftover"),
    )
    return rk.select(
        "lang",
        F.col("nh").alias("n_docs"),
        F.col("wt").cast("double").alias("neyman_weight"),
        (F.col("base") + F.when(F.col("pos") <= F.col("leftover"), 1).otherwise(0))
        .cast("bigint")
        .alias("alloc_docs"),
    )


@register(
    "sample_subsample_ci",
    oracle="""
    WITH h AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CAST((strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1)
                 AS INTEGER) % 20 AS bucket
        FROM orders
    ),
    b AS (
        SELECT bucket,
               CAST((2 * CAST(SUM(cents) AS HUGEINT) * 10000 + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) AS mean_micro
        FROM h GROUP BY bucket
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(mean_micro) AS HUGEINT) AS s1,
               CAST(SUM(CAST(mean_micro AS HUGEINT) * mean_micro) AS HUGEINT) AS s2
        FROM b
    )
    SELECT nb AS n_buckets,
           ROUND(CAST(s1 AS DOUBLE) / nb / 1000000.0, 6) AS mean_of_means,
           ROUND(sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(nb AS DOUBLE))
                      / (CAST(nb AS DOUBLE) - 1.0)
                      / CAST(nb AS DOUBLE)) / 1000000.0, 6) AS std_error,
           ROUND(CAST(s1 AS DOUBLE) / nb / 1000000.0
                 - CAST(1.96 AS DOUBLE)
                   * sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(nb AS DOUBLE))
                          / (CAST(nb AS DOUBLE) - 1.0)
                          / CAST(nb AS DOUBLE)) / 1000000.0, 6) AS ci_lo,
           ROUND(CAST(s1 AS DOUBLE) / nb / 1000000.0
                 + CAST(1.96 AS DOUBLE)
                   * sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                             / CAST(nb AS DOUBLE))
                          / (CAST(nb AS DOUBLE) - 1.0)
                          / CAST(nb AS DOUBLE)) / 1000000.0, 6) AS ci_hi
    FROM s
    """,
    doc="Subsample confidence interval for mean order value: rows hash "
    "into B=20 DISJOINT md5 buckets (the sample_hash_split idiom — "
    "engine- and partitioning-independent, unlike bootstrap resampling "
    "which needs RNG state), each bucket's mean is an independent "
    "estimate, and the spread of bucket means gives a normal-theory "
    "95% CI for the grand mean — the cheap-uncertainty pattern a "
    "profiling pipeline attaches to every headline statistic. Bucket "
    "means round half-away to EXACT integer micro-dollars (DECIMAL "
    "cents, HUGEINT/DECIMAL(38,0) products), their first two moments "
    "accumulate exactly, and doubles appear only in the final 1-row "
    "projection with one identical op sequence per engine.",
)
def sample_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan with an in-plan hash bucket, one 20-row
    aggregate, one 1-row reduce — no shuffle beyond the 20-key groupBy;
    the CI quality improves with rows at fixed state."""
    o = load_fixture(spark, sf_dir, "orders")
    h = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10)
            .cast("int")
            % 20
        ).alias("bucket"),
    )
    b = h.groupBy("bucket").agg(
        F.expr(
            "CAST((2 * CAST(SUM(cents) AS DECIMAL(38,0)) * 10000 + COUNT(*))"
            " div (2 * COUNT(*)) AS BIGINT)"
        ).alias("mean_micro")
    )
    s = b.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("mean_micro").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("mean_micro").cast("decimal(38,0)") * F.col("mean_micro"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    nbd = F.col("nb").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    mean = s1d / F.col("nb") / F.lit(1000000.0)
    se = (
        F.sqrt((s2d - s1d * s1d / nbd) / (nbd - F.lit(1.0)) / nbd)
        / F.lit(1000000.0)
    )
    return s.select(
        F.col("nb").alias("n_buckets"),
        F.round(mean, 6).alias("mean_of_means"),
        F.round(se, 6).alias("std_error"),
        F.round(mean - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(mean + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


def _hilbert_step_exprs(s: int) -> tuple[str, str, str]:
    """One xy2d Hilbert iteration (bit plane ``s``) as portable SQL over
    columns (x, y, d): quadrant digit via CASE (no engine-specific XOR),
    then the Gray-code rotate/flip. Identical text runs on Spark and
    DuckDB, so the curve index is exact-integer-equal by construction."""
    quad = (
        f"(CASE WHEN (x & {s}) > 0 AND (y & {s}) > 0 THEN 2 "
        f"WHEN (x & {s}) > 0 THEN 3 "
        f"WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    )
    x_new = (
        f"CASE WHEN (y & {s}) > 0 THEN x "
        f"WHEN (x & {s}) > 0 THEN {s - 1} - (y % {s}) "
        f"ELSE (y % {s}) END"
    )
    y_new = (
        f"CASE WHEN (y & {s}) > 0 THEN y "
        f"WHEN (x & {s}) > 0 THEN {s - 1} - (x % {s}) "
        f"ELSE (x % {s}) END"
    )
    d_new = f"d + CAST({s} AS BIGINT) * {s} * {quad}"
    return x_new, y_new, d_new


_HILBERT_BITS = 10


@register(
    "layout_hilbert_order",
    oracle=(
        "WITH it0 AS (SELECT l_orderkey AS order_key, l_linenumber AS line_number, "
        "l_partkey % 1024 AS x, l_suppkey % 1024 AS y, CAST(0 AS BIGINT) AS d "
        "FROM lineitem)"
        + "".join(
            ", it{n} AS (SELECT order_key, line_number, ({xe}) AS x, ({ye}) AS y, ({de}) AS d FROM it{p})".format(
                n=i + 1,
                p=i,
                xe=_hilbert_step_exprs(1 << (_HILBERT_BITS - 1 - i))[0],
                ye=_hilbert_step_exprs(1 << (_HILBERT_BITS - 1 - i))[1],
                de=_hilbert_step_exprs(1 << (_HILBERT_BITS - 1 - i))[2],
            )
            for i in range(_HILBERT_BITS)
        )
        + f" SELECT order_key, line_number, d AS hval FROM it{_HILBERT_BITS}"
    ),
    doc="Hilbert-curve clustering key over (part, supplier) on the same "
    "1024x1024 grid as layout_zorder — the locality-preserving layout "
    "big table formats use for multi-column data skipping (the Hilbert "
    "curve has no Z-order 'seams': consecutive curve positions are "
    "always grid-adjacent, so range-partitioned files carry strictly "
    "tighter min/max boxes; measured vs zorder in tests/test_curate). "
    "The xy2d walk unrolls to 10 pure-integer CASE iterations from ONE "
    "shared SQL generator (_hilbert_step_exprs) stated identically to "
    "both engines; the x%s / y%s masking makes each iteration's state "
    "independent of already-consumed high bits.",
)
def layout_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: a pure per-row integer map — no shuffle at all; the
    downstream repartitionByRange(hval) write is the only exchange,
    exactly as layout_zorder."""
    li = load_fixture(spark, sf_dir, "lineitem")
    cur = li.selectExpr(
        "l_orderkey AS order_key",
        "l_linenumber AS line_number",
        "l_partkey % 1024 AS x",
        "l_suppkey % 1024 AS y",
        "CAST(0 AS BIGINT) AS d",
    )
    for i in range(_HILBERT_BITS):
        xe, ye, de = _hilbert_step_exprs(1 << (_HILBERT_BITS - 1 - i))
        cur = cur.selectExpr(
            "order_key",
            "line_number",
            f"({xe}) AS x",
            f"({ye}) AS y",
            f"({de}) AS d",
        )
    return cur.selectExpr("order_key", "line_number", "d AS hval")


# --------------------------------------------------------------------------
# round 8 additions — basket lift, CDC diff, padding-waste audit


@register(
    "basket_pair_lift",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM b),
    pc AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY pk),
    pairs AS (
        SELECT a.pk AS part_a, c.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS cab
        FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
        GROUP BY a.pk, c.pk
    )
    SELECT part_a, part_b, cab AS n_both,
           ca.c AS n_a, cb.c AS n_b,
           CAST(CAST((2 * CAST(cab AS HUGEINT) * 1000000 + ca.c)
                     // (2 * CAST(ca.c AS HUGEINT)) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS confidence,
           CAST(CAST((2 * CAST(cab AS HUGEINT) * n.n * 1000000
                      + CAST(ca.c AS HUGEINT) * cb.c)
                     // (2 * CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS lift
    FROM pairs
    JOIN pc ca ON ca.pk = part_a
    JOIN pc cb ON cb.pk = part_b
    CROSS JOIN n
    WHERE cab >= 2
    """,
    doc="Market-basket association audit over order baskets: for every "
    "part pair co-purchased in >= 2 orders, support count, confidence "
    "P(b|a), and lift n*c_ab/(c_a*c_b) — the co-occurrence screen "
    "behind recommendations and (in a data pipeline) co-contamination "
    "checks. Ratios are exact rationals rounded half-away in integer "
    "micro-units; the n*c_ab*1e6 product runs in DECIMAL/HUGEINT (it "
    "wraps int64 past n*c_ab ~ 4.6e12 — corpus-scaled, the r8 "
    "micro-unit audit class).",
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pair expansion is a self-join WITHIN an order key —
    bounded by basket size squared (baskets are small by construction, "
    "max 13 lines in this schema), never corpus-quadratic; the two "
    "margin joins are part-keyed. All shuffles carry keys and counts."""
    from ..plans.hints import broadcast_if_small

    li = load_fixture(spark, sf_dir, "lineitem")
    # checkpoint: the distinct basket relation feeds the order count,
    # the part margins, and BOTH sides of the pair self-join — one fact
    # shuffle, not four
    b = cut(
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    n = b.agg(F.countDistinct("ok").cast("bigint").alias("n"))
    pc = b.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # pair expansion IN-PLAN per basket (sorted-array combinatorics)
    # instead of a fact self-join: one groupBy shuffle, no sort-merge
    # pass — expansion stays basket-bounded either way
    sets = b.groupBy("ok").agg(F.sort_array(F.collect_set("pk")).alias("ps"))
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
        .filter(F.col("cab") >= 2)
    )
    # margins are |parts|-sized — size-gated broadcast keeps the pair
    # relation from shuffling twice more
    return (
        pairs.join(
            broadcast_if_small(
                pc.withColumnRenamed("pk", "part_a").withColumnRenamed("c", "ca")
            ),
            "part_a",
        )
        .join(
            broadcast_if_small(
                pc.withColumnRenamed("pk", "part_b").withColumnRenamed("c", "cb")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("cab").alias("n_both"),
            F.col("ca").alias("n_a"),
            F.col("cb").alias("n_b"),
            (
                # DECIMAL(38,0)/HUGEINT numerator like lift's:
                # 2*cab*1e6 wraps int64 silently past cab ~ 4.6e12
                F.expr(
                    "CAST((2 * CAST(cab AS DECIMAL(38,0)) * 1000000 + ca)"
                    " div (2 * CAST(ca AS DECIMAL(38,0))) AS BIGINT)"
                )
                .cast("double")
                / F.lit(1000000.0)
            ).alias("confidence"),
            (
                F.expr(
                    "CAST((2 * CAST(cab AS DECIMAL(38,0)) * n * 1000000"
                    " + CAST(ca AS DECIMAL(38,0)) * cb)"
                    " div (2 * CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("lift"),
        )
    )


@register(
    "batch_padding_waste",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    asg AS (
        SELECT doc_id, n_tokens,
               CAST(LEAST(n_tokens // 32, 7) AS INTEGER) AS bucket,
               CAST((ROW_NUMBER() OVER (PARTITION BY LEAST(n_tokens // 32, 7)
                                        ORDER BY doc_id) - 1) // 16 AS INTEGER)
                   AS batch_id
        FROM t
    ),
    per_batch AS (
        SELECT bucket, batch_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(n_tokens) AS BIGINT) AS max_tok,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tok
        FROM asg GROUP BY bucket, batch_id
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(max_tok * n_docs - sum_tok) AS BIGINT) AS padding_tokens,
           CAST(SUM(sum_tok) AS BIGINT) AS payload_tokens,
           CAST(CAST((2 * SUM(max_tok * n_docs - sum_tok) * 1000000
                      + SUM(max_tok * n_docs))
                     // (2 * SUM(max_tok * n_docs)) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS waste_ratio
    FROM per_batch GROUP BY bucket
    """,
    doc="Padding-waste audit of the batch_by_length packing: per length "
    "band, the padded-token overhead (batch_max * batch_size - payload) "
    "and its share of the padded total — the metric that justifies "
    "length-bucketed batching to an inference-cost reviewer, computed "
    "on the EXACT same bucket/batch assignment as batch_by_length. "
    "Integer-exact counts; the ratio rounds half-away in integer "
    "micro-units.",
)
def batch_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the band-partitioned batch window (batch_by_length's
    plan) plus two map-side-combined aggregates — no global sort."""
    from ..functions.text import token_count

    d = load_fixture(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    d = d.withColumn("bucket", F.least(F.expr("n_tokens div 32"), F.lit(7)).cast("int"))
    asg = d.withColumn(
        "batch_id",
        F.expr(
            "cast((row_number() over (partition by bucket order by doc_id) - 1)"
            " div 16 as int)"
        ),
    )
    pb = asg.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tokens").cast("bigint").alias("max_tok"),
        F.sum("n_tokens").cast("bigint").alias("sum_tok"),
    )
    pad = F.sum(F.col("max_tok") * F.col("n_docs") - F.col("sum_tok"))
    padded = F.sum(F.col("max_tok") * F.col("n_docs"))
    return pb.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        pad.cast("bigint").alias("padding_tokens"),
        F.sum("sum_tok").cast("bigint").alias("payload_tokens"),
        (
            F.expr(
                "CAST((2 * SUM(max_tok * n_docs - sum_tok) * 1000000"
                " + SUM(max_tok * n_docs))"
                " div (2 * SUM(max_tok * n_docs)) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("waste_ratio"),
    )


@register(
    "sample_dedup_aware_weights",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    ),
    g AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS sz FROM fp GROUP BY fp),
    w AS (
        SELECT f.doc_id,
               (2 * 1000000 + g.sz) // (2 * g.sz) AS w_micro
        FROM fp f JOIN g USING (fp)
    ),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(w_micro) AS HUGEINT) AS s,
               CAST(SUM(CAST(w_micro AS HUGEINT) * w_micro) AS HUGEINT) AS q
        FROM w
    )
    SELECT n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_clusters,
           CAST(s AS DOUBLE) / 1000000.0 AS total_weight,
           ROUND(CAST(s * s AS DOUBLE) / CAST(q AS DOUBLE), 4)
               AS effective_sample_size
    FROM a
    """,
    doc="Duplication-aware sampling weights: every document weighs "
    "1/|its exact-dup cluster| (the dedup_exact fingerprint), so a "
    "cluster contributes one document's worth of mass regardless of "
    "copy count — the standard alternative to hard-dropping dups when "
    "building training mixes — plus the Kish effective sample size "
    "(sum w)^2 / sum(w^2), the number that tells a pipeline owner how "
    "much data the weighted corpus is actually worth. Weights are "
    "half-away micro-rounded integers (exact at any cluster size); "
    "ESS operands stay HUGEINT/DECIMAL(38,0) exact (bound n^2 * 1e12 "
    "< 1e38), one display division.",
)
def sample_dedup_aware_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the dedup_exact shuffle (fingerprints, never
    bodies), a broadcast |clusters|-side join back, one map-side-
    combined reduce — no window, no sort."""
    d = load_fixture(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias(
            "fp"
        ),
    )
    g = fp.groupBy("fp").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    w = fp.join(g, "fp").selectExpr("(2 * 1000000 + sz) div (2 * sz) AS w_micro")
    a = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w_micro").cast("decimal(38,0)").alias("s"),
        F.sum(
            F.col("w_micro").cast("decimal(19,0)") * F.col("w_micro").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("q"),
    )
    nc = g.agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
    return a.crossJoin(F.broadcast(nc)).selectExpr(
        "n_docs",
        "n_clusters",
        "CAST(s AS DOUBLE) / 1000000.0 AS total_weight",
        "ROUND(CAST(s * s AS DOUBLE) / CAST(q AS DOUBLE), 4)"
        " AS effective_sample_size",
    )


@register(
    "mix_waterfill_budget",
    oracle="""
    WITH caps AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS cap
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(cap) AS BIGINT) AS w,
               CAST(SUM(cap) * 3 // 5 AS BIGINT) AS b
        FROM caps
    ),
    r AS (
        SELECT source, cap,
               ROW_NUMBER() OVER (ORDER BY cap, source) AS k,
               SUM(cap) OVER (ORDER BY cap, source
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS pfx
        FROM caps
    ),
    capped AS (
        SELECT r.*, COALESCE(pfx, 0) AS pfx0,
               CASE WHEN cap * (m - k + 1) + COALESCE(pfx, 0) <= b
                    THEN 1 ELSE 0 END AS is_capped
        FROM r, tot
    ),
    kstar AS (
        SELECT CAST(COALESCE(SUM(is_capped), 0) AS BIGINT) AS ks,
               CAST(COALESCE(SUM(CASE WHEN is_capped = 1 THEN cap END), 0)
                    AS BIGINT) AS pk
        FROM capped
    )
    SELECT c.source, c.cap AS cap_units,
           CAST(CASE WHEN c.is_capped = 1 THEN c.cap
                     ELSE (b - pk) // (m - ks) END AS BIGINT) AS alloc_units,
           CAST(c.is_capped AS BIGINT) AS capped
    FROM capped c, kstar, tot
    """,
    doc="Integer waterfilling of a token budget across sources: given "
    "per-source capacities (total characters) and a global budget "
    "(60% of the corpus), every source gets min(capacity, tau) where "
    "the water level tau = (budget - sum of capped capacities) / "
    "(#uncapped), floor semantics — the uniform-cap allocation behind "
    "'no source may exceed its share' training-mix specs, solved in "
    "CLOSED FORM: sorted ascending, source k is capped iff "
    "cap_k * (m - k + 1) + prefix_(k-1) <= budget (an exact integer "
    "test), so one pass over the |sources|-row relation finds the "
    "level — no iteration, no floats anywhere.",
)
def mix_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one fact aggregate to the |sources| relation; the
    rank/prefix windows and 1-row reductions all run on that bounded
    relation (sources are a catalog, not data-scaled) with broadcast
    joins back."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    caps = cut(d.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("cap")
    ))
    tot = caps.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("cap").cast("bigint").alias("w"),
        F.expr("CAST(SUM(cap) * 3 div 5 AS BIGINT)").alias("b"),
    )
    wk = Window.orderBy("cap", "source")
    r = caps.select(
        "source",
        "cap",
        F.row_number().over(wk).alias("k"),
        F.coalesce(
            F.sum("cap").over(wk.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("pfx0"),
    )
    capped = cut(r.crossJoin(F.broadcast(tot)).withColumn(
        "is_capped",
        F.when(
            F.expr("cap * (m - k + 1) + pfx0 <= b"), 1
        ).otherwise(0),
    ))
    kstar = capped.agg(
        F.coalesce(F.sum("is_capped"), F.lit(0)).cast("bigint").alias("ks"),
        F.coalesce(F.sum(F.when(F.col("is_capped") == 1, F.col("cap"))), F.lit(0))
        .cast("bigint")
        .alias("pk"),
    )
    return capped.crossJoin(F.broadcast(kstar)).selectExpr(
        "source",
        "cap AS cap_units",
        "CAST(CASE WHEN is_capped = 1 THEN cap"
        " ELSE (b - pk) div (m - ks) END AS BIGINT) AS alloc_units",
        "CAST(is_capped AS BIGINT) AS capped",
    )


@register(
    "sample_pps_systematic",
    oracle="""
    WITH w AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents
    ),
    c AS (
        SELECT doc_id, wt,
               SUM(wt) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumw
        FROM w
    ),
    tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM w),
    h AS (
        SELECT doc_id, wt, cumw,
               GREATEST(CAST(0 AS HUGEINT), LEAST(CAST(50 AS HUGEINT),
                   CASE WHEN 100 * CAST(cumw AS HUGEINT) - tw > 0
                        THEN (100 * CAST(cumw AS HUGEINT) - tw + 2 * tw - 1)
                             // (2 * CAST(tw AS HUGEINT))
                        ELSE 0 END))
               - GREATEST(CAST(0 AS HUGEINT), LEAST(CAST(50 AS HUGEINT),
                   CASE WHEN 100 * CAST(cumw - wt AS HUGEINT) - tw > 0
                        THEN (100 * CAST(cumw - wt AS HUGEINT) - tw
                              + 2 * tw - 1) // (2 * CAST(tw AS HUGEINT))
                        ELSE 0 END)) AS n_hits
        FROM c, tot
    )
    SELECT doc_id, wt AS weight, CAST(cumw - wt AS BIGINT) AS cum_before,
           CAST(n_hits AS BIGINT) AS n_hits
    FROM h WHERE n_hits >= 1
    """,
    doc="Probability-proportional-to-size SYSTEMATIC sampling of 50 "
    "documents by length: equally spaced ticks t_k = (2k+1)*W/(2*50) "
    "walk the cumulative-weight line and each document is drawn once "
    "per tick inside its interval — the classical PPS design "
    "(deterministic given the doc_id order, zero variance in total "
    "draw count, long docs can draw multiple times). Tick membership "
    "is counted in CLOSED FORM per document: #ticks below x = "
    "clamp(ceil((2*50*x - W)/(2W))), so selection is one exact "
    "integer expression over the running weight — no per-tick join, "
    "no random state. HUGEINT/DECIMAL(38,0) guards 100*cumw.",
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: running weights via the two-level prefix-sum over
    doc_id (unique per row, so no distinct-value collapse is needed)
    with the total weight alongside, one exact integer filter — no sort
    beyond the bucketed windows, no per-tick work."""
    from ..operators.stats import two_level_cumsum

    d = load_fixture(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("wt")
    )
    c = two_level_cumsum(d, [], "doc_id", [], {"cumw": "wt"})
    cb = (
        "GREATEST(CAST(0 AS DECIMAL(38,0)), LEAST(CAST(50 AS DECIMAL(38,0)),"
        " CASE WHEN 100 * CAST({x} AS DECIMAL(38,0)) - tw > 0"
        " THEN (100 * CAST({x} AS DECIMAL(38,0)) - tw + 2 * tw - 1)"
        " div (2 * CAST(tw AS DECIMAL(38,0))) ELSE 0 END))"
    )
    h = c.withColumnRenamed("tot_wt", "tw").selectExpr(
        "doc_id",
        "wt",
        "cumw",
        f"{cb.format(x='cumw')} - {cb.format(x='(cumw - wt)')} AS n_hits",
    )
    return h.filter(F.col("n_hits") >= 1).selectExpr(
        "doc_id",
        "wt AS weight",
        "CAST(cumw - wt AS BIGINT) AS cum_before",
        "CAST(n_hits AS BIGINT) AS n_hits",
    )


@register(
    "sample_horvitz_thompson",
    oracle="""
    WITH d AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS wt,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS BIGINT) AS y
        FROM documents
    ),
    c AS (
        SELECT doc_id, wt, y,
               SUM(wt) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cumw
        FROM d
    ),
    tot AS (
        SELECT CAST(SUM(wt) AS BIGINT) AS tw, CAST(SUM(y) AS BIGINT) AS ty
        FROM d
    ),
    h AS (
        SELECT doc_id, wt, y,
               GREATEST(CAST(0 AS HUGEINT), LEAST(CAST(50 AS HUGEINT),
                   CASE WHEN 100 * CAST(cumw AS HUGEINT) - tw > 0
                        THEN (100 * CAST(cumw AS HUGEINT) - tw + 2 * tw - 1)
                             // (2 * CAST(tw AS HUGEINT))
                        ELSE 0 END))
               - GREATEST(CAST(0 AS HUGEINT), LEAST(CAST(50 AS HUGEINT),
                   CASE WHEN 100 * CAST(cumw - wt AS HUGEINT) - tw > 0
                        THEN (100 * CAST(cumw - wt AS HUGEINT) - tw
                              + 2 * tw - 1) // (2 * CAST(tw AS HUGEINT))
                        ELSE 0 END)) AS n_hits
        FROM c, tot
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(n_hits) AS BIGINT) AS total_draws,
               CAST(SUM((2 * CAST(n_hits AS HUGEINT) * y * 1000000 + wt)
                        // (2 * CAST(wt AS HUGEINT))) AS HUGEINT) AS est
        FROM h WHERE n_hits >= 1
    )
    SELECT s.n_sampled, s.total_draws,
           CAST((2 * CAST(t.tw AS HUGEINT) * s.est + 50000000)
                // 100000000 AS BIGINT) AS ht_estimate,
           t.ty AS true_total,
           CAST((2 * abs(CAST((2 * CAST(t.tw AS HUGEINT) * s.est + 50000000)
                              // 100000000 AS HUGEINT) - t.ty) * 1000000
                 + t.ty) // (2 * CAST(t.ty AS HUGEINT)) AS BIGINT)
               AS rel_error_micro
    FROM s, tot t
    """,
    doc="Horvitz-Thompson estimation on top of sample_pps_systematic: "
    "estimate the corpus's TOTAL WORD COUNT from the 50-draw "
    "length-proportional systematic sample, Y_hat = (W/50) * "
    "sum(n_hits * y_i / w_i), and audit it against the exact total — "
    "the closed loop that justifies PPS sampling for corpus "
    "statistics (expected-value-exact for any y, and near-exact here "
    "because words track chars). EVERY number is an exact integer: "
    "per-doc HT terms quantize half-away to micro units, the estimate "
    "is one exact integer division of W * sum, and the relative error "
    "reports in exact micro units — NO doubles anywhere. Bound: "
    "W * est <= 1e38 holds to a ~1e13-char corpus against this "
    "sample size (1e20 at the 100 TB point).",
)
def sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one running-weight pass via the two-level prefix
    sum (doc_id is unique, so no distinct-value collapse is needed), 1-row
    broadcast totals, one exact integer filter + reduce. The word
    count y rides the same scan that the exact truth needs anyway."""
    from ..operators.stats import two_level_cumsum

    d = cut(
        load_fixture(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "CAST(n_chars AS BIGINT) AS wt",
            "CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"
            " AS BIGINT) AS y",
        )
    )
    c = two_level_cumsum(d, [], "doc_id", [], {"cumw": "wt"})
    tot = d.agg(
        F.sum("wt").cast("bigint").alias("tw"),
        F.sum("y").cast("bigint").alias("ty"),
    )
    cb = (
        "GREATEST(CAST(0 AS DECIMAL(38,0)), LEAST(CAST(50 AS DECIMAL(38,0)),"
        " CASE WHEN 100 * CAST({x} AS DECIMAL(38,0)) - tw > 0"
        " THEN (100 * CAST({x} AS DECIMAL(38,0)) - tw + 2 * tw - 1)"
        " div (2 * CAST(tw AS DECIMAL(38,0))) ELSE 0 END))"
    )
    h = c.crossJoin(F.broadcast(tot)).selectExpr(
        "doc_id",
        "wt",
        "y",
        f"{cb.format(x='cumw')} - {cb.format(x='(cumw - wt)')} AS n_hits",
    )
    s = h.filter(F.col("n_hits") >= 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("n_hits").cast("bigint").alias("total_draws"),
        F.sum(
            F.expr(
                "(2 * CAST(n_hits AS DECIMAL(19,0)) * y * 1000000 + wt)"
                " div (2 * CAST(wt AS DECIMAL(19,0)))"
            )
        )
        .cast("decimal(38,0)")
        .alias("est"),
    )
    return s.crossJoin(F.broadcast(tot)).selectExpr(
        "n_sampled",
        "total_draws",
        "CAST((2 * CAST(tw AS DECIMAL(19,0)) * est + 50000000)"
        " div 100000000 AS BIGINT) AS ht_estimate",
        "ty AS true_total",
        "CAST((2 * abs(CAST((2 * CAST(tw AS DECIMAL(19,0)) * est + 50000000)"
        " div 100000000 AS DECIMAL(38,0)) - ty) * 1000000"
        " + ty) div (2 * CAST(ty AS DECIMAL(19,0))) AS BIGINT)"
        " AS rel_error_micro",
    )


@register(
    "sample_weighted_reservoir",
    oracle="""
    WITH d AS (
        SELECT doc_id, CAST(n_chars + 1 AS BIGINT) AS wt,
               CAST((CAST(doc_id AS HUGEINT) * 2862933555777941757
                     + 3037000493) % 18446744073709551616
                    % 2147483648 AS BIGINT) AS u31
        FROM documents
    )
    SELECT doc_id, wt AS weight,
           ROUND(ln((CAST(u31 AS DOUBLE) + 0.5) / 2147483648.0)
                 / CAST(wt AS DOUBLE), 9) AS priority9
    FROM d
    ORDER BY ROUND(ln((CAST(u31 AS DOUBLE) + 0.5) / 2147483648.0)
                 / CAST(wt AS DOUBLE), 9) DESC, doc_id
    LIMIT 50
    """,
    doc="Weighted reservoir sample of 50 documents by length via the "
    "Efraimidis-Spirakis A-ES rule: draw u ~ U(0,1) per item and keep "
    "the top-k by u^(1/w), here as the monotone-equivalent ln(u)/w — "
    "the ONE-PASS, merge-friendly weighted sampler (the companion to "
    "sample_pps_systematic's fixed-ticks design: reservoir keys are "
    "independent per item, so pre-aggregated top-k heaps merge across "
    "partitions and new data appends without re-walking the "
    "cumulative-weight line). Randomness is a SEEDED DETERMINISTIC "
    "integer LCG on doc_id ((x*2862933555777941757 + 3037000493) mod "
    "2^64, low 31 bits -> u = (u31+0.5)/2^31, never 0 or 1), exact in "
    "HUGEINT/DECIMAL(38,0) in both engines; priorities are identical "
    "doubles from identical op sequences, but ln is not required to be "
    "correctly rounded (JVM Math.log vs libm can differ by ulps), so "
    "BOTH engines rank by the 9dp-ROUNDED priority — the grading "
    "precision — with a doc_id tie-break (the tfidf idiom).",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one stateless projection (exact integer LCG + two
    double ops per row) and a top-50 by priority — Spark plans
    ORDER BY + LIMIT as TakeOrderedAndProject: per-partition heaps of
    50 rows merge on the driver, no global sort, no shuffle of the
    fact relation. That heap-merge IS the reservoir-sampling
    algorithm, which is why A-ES distributes and systematic PPS's
    running weight line does not."""
    d = load_fixture(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "CAST(n_chars + 1 AS BIGINT) AS wt",
        "CAST((CAST(doc_id AS DECIMAL(38,0)) * 2862933555777941757"
        " + 3037000493) % 18446744073709551616"
        " % 2147483648 AS BIGINT) AS u31",
    )
    pr = (
        F.log((F.col("u31").cast("double") + F.lit(0.5)) / F.lit(2147483648.0))
        / F.col("wt").cast("double")
    )
    return (
        d.select(
            "doc_id",
            F.col("wt").alias("weight"),
            F.round(pr, 9).alias("priority9"),
        )
        .orderBy(F.col("priority9").desc(), "doc_id")
        .limit(50)
    )


@register(
    "sample_kfold_assignment",
    oracle="""
    WITH d AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS nc,
               CAST((CAST(doc_id AS HUGEINT) * 2862933555777941757
                     + 3037000493) % 18446744073709551616
                    % 2147483648 % 5 AS BIGINT) AS fold
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(nc) AS HUGEINT) AS tc FROM d)
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST((2 * CAST(COUNT(*) AS HUGEINT) * 1000000 + n)
                // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS doc_share_micro,
           CAST((2 * CAST(SUM(nc) AS HUGEINT) * 1000000 + tc)
                // (2 * tc) AS BIGINT) AS char_share_micro
    FROM d, tot GROUP BY fold, n, tc
    """,
    doc="Deterministic 5-fold cross-validation assignment with a balance "
    "audit: fold = (seeded 64-bit LCG of doc_id, low 31 bits) mod 5 — "
    "the sample_weighted_reservoir generator, so folds are stable "
    "across engines, runs, and data arrivals (a new document never "
    "reshuffles old folds, unlike ntile-style assignment). Reports "
    "per-fold document and character counts with half-away micro "
    "shares — the audit that catches a skewed fold before a CV run "
    "wastes 5 training jobs. Companion to sample_hash_split's "
    "train/test split.",
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one stateless integer projection, one 5-group
    map-side-combined aggregate, a 1-row total broadcast."""
    d = load_fixture(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "CAST(n_chars AS BIGINT) AS nc",
        "CAST((CAST(doc_id AS DECIMAL(38,0)) * 2862933555777941757"
        " + 3037000493) % 18446744073709551616"
        " % 2147483648 % 5 AS BIGINT) AS fold",
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nc").cast("decimal(38,0)").alias("tc"),
    )
    return (
        d.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("n_chars"),
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "fold",
            "n_docs",
            "n_chars",
            "CAST((2 * CAST(n_docs AS DECIMAL(38,0)) * 1000000 + n)"
            " div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)"
            " AS doc_share_micro",
            "CAST((2 * CAST(n_chars AS DECIMAL(38,0)) * 1000000 + tc)"
            " div (2 * tc) AS BIGINT) AS char_share_micro",
        )
    )


@register(
    "dq_volume_anomaly_daily",
    oracle="""
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    cells AS (SELECT n_events AS v, CAST(COUNT(*) AS BIGINT) AS c
              FROM d GROUP BY n_events),
    cum AS (
        SELECT v, c, SUM(c) OVER (ORDER BY v
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cumc
        FROM cells
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    med AS (SELECT MIN(v) AS med FROM cum, tot WHERE cumc >= (n + 1) // 2),
    dev AS (SELECT abs(d.n_events - med.med) AS a FROM d, med),
    dcells AS (SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS c
               FROM dev GROUP BY a),
    dcum AS (
        SELECT v, c, SUM(c) OVER (ORDER BY v
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cumc
        FROM dcells
    ),
    mad AS (SELECT MIN(v) AS mad FROM dcum, tot WHERE cumc >= (n + 1) // 2)
    SELECT d.day, d.n_events,
           CAST(med.med AS BIGINT) AS median_daily,
           CAST(mad.mad AS BIGINT) AS mad_daily,
           CAST(d.n_events - med.med AS BIGINT) AS deviation,
           abs(d.n_events - med.med) * 10000 > 44478 * mad.mad AS is_anomaly
    FROM d, med, mad
    """,
    doc="Daily ingest-volume anomaly audit: event counts per UTC day "
    "flagged when |count - median| exceeds 3 robust sigmas "
    "(3 * 1.4826 * MAD, the Hampel rule applied to VOLUME rather than "
    "values — the pipeline monitor that catches a dropped partition "
    "or a double-delivery day before models train on it; "
    "dq_freshness_lag watches recency, this watches completeness). "
    "Median and MAD are exact LOWER medians from distinct-value "
    "running counts; the threshold compares exact integers "
    "(|dev| * 10000 > 44478 * MAD), so no float enters at all.",
)
def dq_volume_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to calendar-bounded
    day rows, two exact lower medians over that bounded relation
    (value_ranks), 1-row broadcasts back onto it."""
    from ..operators.stats import value_ranks

    e = load_fixture(spark, sf_dir, "events")
    d = cut(
        e.groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )

    def lower_median(vals, col):
        return (
            value_ranks(vals, [], col, {"c": F.lit(1)})
            .filter(F.col("cum_c") >= F.expr("(tot_c + 1) div 2"))
            .agg(F.min(col).alias("m"))
        )

    med = lower_median(d, "n_events").withColumnRenamed("m", "med")
    dev = d.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("n_events") - F.col("med")).alias("a")
    )
    mad = lower_median(dev, "a").withColumnRenamed("m", "mad")
    return (
        d.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .selectExpr(
            "day",
            "n_events",
            "CAST(med AS BIGINT) AS median_daily",
            "CAST(mad AS BIGINT) AS mad_daily",
            "CAST(n_events - med AS BIGINT) AS deviation",
            "abs(n_events - med) * 10000 > 44478 * mad AS is_anomaly",
        )
    )


@register(
    "dq_duplicate_payload_rate",
    oracle="""
    WITH g AS (
        SELECT event_type, user_id, ts, value, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, user_id, ts, value
    )
    SELECT event_type,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(c - 1) AS BIGINT) AS n_duplicate_rows,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_duplicated_payloads,
           CAST((2 * CAST(SUM(c - 1) AS HUGEINT) * 1000000 + SUM(c))
                // (2 * CAST(SUM(c) AS HUGEINT)) AS BIGINT)
               AS dup_rate_micro
    FROM g GROUP BY event_type
    """,
    doc="Instrumentation double-fire audit: rows whose payload "
    "(user, timestamp, value) is identical UNDER A DIFFERENT event_id "
    "are re-delivered or double-logged events — the DQ check run "
    "before any count-based metric (a 1% double-fire silently "
    "inflates every funnel). Per event type: total rows, surplus "
    "duplicate rows (count - 1 per payload group), distinct duplicated "
    "payloads, and the half-away micro duplicate rate. Exact integer "
    "counting; the payload groupBy is the only shuffle.",
)
def dq_duplicate_payload_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined groupBy on the payload key,
    one per-type rollup — no joins, no windows."""
    e = load_fixture(spark, sf_dir, "events")
    g = e.groupBy("event_type", "user_id", "ts", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return g.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") - 1).cast("bigint").alias("n_duplicate_rows"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_duplicated_payloads"),
        F.expr(
            "CAST((2 * CAST(SUM(c - 1) AS DECIMAL(38,0)) * 1000000 + SUM(c))"
            " div (2 * CAST(SUM(c) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("dup_rate_micro"),
    )


@register(
    "dq_uniqueness_profile",
    oracle="""
    WITH k1 AS (
        SELECT 'events.event_id' AS key_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
        FROM events
    ),
    k2 AS (
        SELECT 'events.user_id+ts' AS key_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT (CAST(user_id AS VARCHAR) || '|' ||
                                    CAST(epoch_us(ts) AS VARCHAR)))
                    AS BIGINT) AS n_distinct
        FROM events
    ),
    k3 AS (
        SELECT 'lineitem.orderkey+linenumber' AS key_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT (CAST(l_orderkey AS VARCHAR) || '|' ||
                                    CAST(l_linenumber AS VARCHAR)))
                    AS BIGINT) AS n_distinct
        FROM lineitem
    ),
    k4 AS (
        SELECT 'orders.o_orderkey' AS key_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
        FROM orders
    ),
    u AS (
        SELECT * FROM k1 UNION ALL SELECT * FROM k2
        UNION ALL SELECT * FROM k3 UNION ALL SELECT * FROM k4
    )
    SELECT key_name, n_rows, n_distinct,
           n_rows - n_distinct AS n_dup_rows,
           CAST((2 * CAST(n_distinct AS HUGEINT) * 1000000 + n_rows)
                // (2 * CAST(n_rows AS HUGEINT)) AS BIGINT)
               AS uniqueness_micro
    FROM u
    """,
    doc="Candidate-key uniqueness profile across the warehouse's fact "
    "tables: for each declared or candidate key (events.event_id, the "
    "events (user_id, ts) natural key, lineitem's composite PK, "
    "orders' PK), the row count, distinct-key count, surplus rows and "
    "the uniqueness ratio — the key-discovery / PK-violation audit a "
    "profiler runs before modeling (a composite key at uniqueness < 1 "
    "cannot anchor a merge; dq_id_sequence_audit checks density of "
    "ONE known key, this ranks candidates across tables). Composite "
    "keys serialize with an unambiguous '|' separator identically in "
    "both engines, NULL-propagating on both sides (Spark F.concat ≡ "
    "SQL ||): a NULL component drops the row from COUNT(DISTINCT) in "
    "both engines alike. Exact counts; ratio is half-away micro.",
)
def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one count-distinct aggregate per audited key, each a
    single map-side-combined shuffle on its own table; the union is
    4 one-row relations."""
    e = load_fixture(spark, sf_dir, "events")
    li = load_fixture(spark, sf_dir, "lineitem")
    o = load_fixture(spark, sf_dir, "orders")

    def prof(df, name, key):
        return df.agg(
            F.lit(name).alias("key_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(key).cast("bigint").alias("n_distinct"),
        )

    u = (
        prof(e, "events.event_id", F.col("event_id"))
        .unionAll(
            prof(
                e,
                "events.user_id+ts",
                # F.concat (NULL-propagating) matches the
                # oracle's `||`; concat_ws would SKIP a NULL component
                # and still count the row as a distinct key.
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("|"),
                    F.unix_micros("ts").cast("string"),
                ),
            )
        )
        .unionAll(
            prof(
                li,
                "lineitem.orderkey+linenumber",
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("|"),
                    F.col("l_linenumber").cast("string"),
                ),
            )
        )
        .unionAll(prof(o, "orders.o_orderkey", F.col("o_orderkey")))
    )
    return u.selectExpr(
        "key_name",
        "n_rows",
        "n_distinct",
        "n_rows - n_distinct AS n_dup_rows",
        "CAST((2 * CAST(n_distinct AS DECIMAL(38,0)) * 1000000 + n_rows)"
        " div (2 * CAST(n_rows AS DECIMAL(38,0))) AS BIGINT)"
        " AS uniqueness_micro",
    )
