"""Text-analysis queries over ``documents`` (north-star layer; functions in
cdw_spark/functions/text.py). Every query is a pure projection/aggregation
— at 100 TB these are single-scan, shuffle-free (or one tiny shuffle for
the word-count topk)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_fixture
from ..functions.numeric import micro
from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    bpe_ish_token_count,
    fingerprint_md5,
    lang_guess,
    punct_ratio,
    quality_score,
    sha256_hex,
    stopword_ratio,
    token_count,
    words,
)
from ..plans.lineage import cut
from ..registry import register


def _sql_list(xs: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


@register(
    "text_metrics",
    oracle=f"""
    SELECT
        doc_id,
        CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INTEGER) AS n_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_tokens_bpe,
        ROUND(CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
              ELSE 0.0 END, 6) AS punct_ratio,
        ROUND(CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) > 0
              THEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        x -> list_contains({_sql_list(STOPWORDS)}, x))) * 1.0
                   / len(string_split_regex(lower(trim(text)), '\\s+'))
              ELSE 0.0 END, 6) AS stopword_ratio
    FROM documents
    """,
    doc="Token counting (whitespace + BPE-ish regex), punctuation and "
    "stopword ratios per document.",
)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_tokens_bpe"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
            len(string_split_regex(lower(trim(text)), '\\s+')) * 1.0 AS toks,
            CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
                 ELSE 0.0 END AS pr,
            CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) > 0
                 THEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                          x -> list_contains({_sql_list(STOPWORDS)}, x))) * 1.0
                      / len(string_split_regex(lower(trim(text)), '\\s+'))
                 ELSE 0.0 END AS sr
        FROM documents
    )
    SELECT doc_id,
           ROUND(0.4 * LEAST(toks / 100.0, 1.0) + 0.3 * (1.0 - pr) + 0.3 * sr, 6)
               AS quality
    FROM m
    """,
    doc="Composite document quality score (length saturation + punctuation "
    "noise + stopword density).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _lang_case_sql() -> str:
    score = {
        lang: (
            f"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            f"x -> list_contains({_sql_list(markers)}, x)))"
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    g = "GREATEST(" + ", ".join(score.values()) + ")"
    whens = "\n".join(
        f"WHEN {g} > 0 AND {score[lang]} = {g} THEN '{lang}'" for lang in sorted(score)
    )
    return f"CASE {whens} ELSE 'und' END"


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang, {_lang_case_sql()} AS lang_guess
    FROM documents
    """,
    doc="Language-ID heuristic: marker-stopword argmax with alphabetical "
    "tie-break ('und' when no hits), next to the dataset's label.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_guess(F.col("text")).alias("lang_guess"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
           sha256(text) AS content_sha256
    FROM documents
    """,
    doc="Document fingerprinting: md5 of normalized text + sha256 content "
    "address of the raw bytes.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fixture(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        fingerprint_md5(t).alias("fp_md5"),
        sha256_hex(t).alias("content_sha256"),
    )


@register(
    "word_freq_topk",
    oracle="""
    SELECT w AS word, COUNT(*) AS n
    FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    )
    GROUP BY w
    ORDER BY n DESC, word
    LIMIT 20
    """,
    doc="Corpus word frequency top-k (explode -> count -> TakeOrdered).",
)
def word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: partial counts map-side; only |vocab| rows shuffle; top-k is
    TakeOrderedAndProject, no global sort."""
    d = load_fixture(spark, sf_dir, "documents")
    return (
        d.select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


_RH_REDUCE = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(regexp_extract_all(regexp_replace({s}, '[^a-z0-9 ]', '', 'g'), '.'), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    "(a, b) -> (a * 1000003 + b) % 2147483647)"
)


@register(
    "text_rolling_fingerprint",
    oracle=f"""
    WITH wrds AS (
        SELECT doc_id, lower(trim(text)) AS nt,
               string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT doc_id, nt,
               CASE WHEN len(ws) >= 3
                    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                        for i in range(1, len(ws) - 1)])
                    ELSE [array_to_string(ws, ' ')] END AS shl
        FROM wrds
    )
    SELECT doc_id,
           {_RH_REDUCE.format(s="nt")} AS fp_rolling,
           list_min(list_transform(shl, s -> {_RH_REDUCE.format(s="s")})) AS fp_winnow
    FROM sh
    """,
    doc="Rolling-hash document fingerprints: whole-doc Rabin-Karp Horner "
    "fold over normalized chars, plus a winnowing-style min rolling hash "
    "across 3-word shingles (functions/text.py rolling_hash / "
    "winnow_fingerprint). Exact BIGINT arithmetic in both engines.",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import rolling_hash, winnow_fingerprint

    d = load_fixture(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        rolling_hash(t).alias("fp_rolling"),
        winnow_fingerprint(t, n=3).alias("fp_winnow"),
    )


@register(
    "text_rolling_fingerprint_arrow",
    oracle=f"""
    WITH wrds AS (
        SELECT doc_id, lower(trim(text)) AS nt,
               string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ), sh AS (
        SELECT doc_id, nt,
               CASE WHEN len(ws) >= 3
                    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                        for i in range(1, len(ws) - 1)])
                    ELSE [array_to_string(ws, ' ')] END AS shl
        FROM wrds
    )
    SELECT doc_id,
           {_RH_REDUCE.format(s="nt")} AS fp_rolling,
           list_min(list_transform(shl, s -> {_RH_REDUCE.format(s="s")})) AS fp_winnow
    FROM sh
    """,
    doc="Arrow-vectorized rolling-hash fingerprints: identical semantics "
    "(and identical DuckDB oracle) as text_rolling_fingerprint, computed "
    "as a numpy dot product against precomputed base powers inside "
    "mapInPandas — the sanctioned fast path where Catalyst's interpreted "
    "higher-order functions can't keep up (functions/text_arrow.py).",
)
def text_rolling_fingerprint_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text_arrow import rolling_fingerprints_arrow

    return rolling_fingerprints_arrow(load_fixture(spark, sf_dir, "documents"))


@register(
    "fuzzy_levenshtein_match",
    oracle="""
    WITH probes AS (
        SELECT p_name AS probe FROM part WHERE p_partkey IN (3, 7, 11)
    )
    SELECT pr.probe, p.p_partkey AS part_key, p.p_name AS name,
           levenshtein(pr.probe, p.p_name) AS dist
    FROM part p CROSS JOIN probes pr
    WHERE levenshtein(pr.probe, p.p_name) BETWEEN 1 AND 3
    """,
    doc="Fuzzy string matching: part names within edit distance 1..3 of "
    "three probe names (exact-match 0 excluded so the fuzziness is "
    "visible). levenshtein() is algorithmically engine-independent; the "
    "probe side is a broadcast cross join — the pattern for typo-tolerant "
    "entity matching against a small reference list.",
)
def fuzzy_levenshtein_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB: levenshtein against a SMALL probe list broadcasts and
    stays linear in the corpus; corpus-vs-corpus fuzzy matching needs the
    LSH/banding machinery from the dedup family instead, never this
    cross join."""
    p = load_fixture(spark, sf_dir, "part")
    probes = p.filter(F.col("p_partkey").isin(3, 7, 11)).select(
        F.col("p_name").alias("probe")
    )
    dist = F.levenshtein(F.col("probe"), F.col("p_name"))
    return (
        p.crossJoin(F.broadcast(probes))
        .filter(dist.between(1, 3))
        .select(
            "probe",
            F.col("p_partkey").alias("part_key"),
            F.col("p_name").alias("name"),
            dist.alias("dist"),
        )
    )


_SENT_TRIM = " \\t\\n\\r"


@register(
    "udtf_sentence_split",
    oracle=f"""
    SELECT doc_id, i - 1 AS idx, trim(parts[i], ' ' || chr(9) || chr(10) || chr(13)) AS sentence
    FROM (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split_regex(text, '[.!?]+'),
                                  s -> trim(s, ' ' || chr(9) || chr(10) || chr(13))),
                   s -> s <> '') AS parts
        FROM documents WHERE doc_id % 25 = 0
    ), UNNEST(range(1, len(parts) + 1)) AS t(i)
    """,
    doc="Python UDTF (Spark 4 user-defined TABLE function) splitting "
    "documents into indexed sentences via a LATERAL join — the 1->N "
    "row-generating UDF tier the reference never had (SURVEY.md §2.4 "
    "row 9). Arrow-optimized (useArrow=True — plans ArrowEvalPythonUDTF, "
    "vectorized batch transfer), so even the UDTF tier stays off the "
    "row-at-a-time BatchEvalPython path the plan-hygiene sweep bans.",
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from pyspark.sql.functions import udtf

    from ..catalog import register_fixtures

    @udtf(returnType="idx int, sentence string", useArrow=True)
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            # trim char set pinned to match DuckDB's trim(s, ' \\t\\n\\r')
            # (Python .strip() would also strip Unicode whitespace)
            parts = [
                p.strip(" \t\n\r")
                for p in _re.split(r"[.!?]+", text, flags=_re.ASCII)
            ]
            parts = [p for p in parts if p]
            for i, p in enumerate(parts):
                yield i, p

    spark.udtf.register("sentence_split", SentenceSplit)
    register_fixtures(spark, sf_dir, tables=("documents",))
    return spark.sql(
        "SELECT d.doc_id, s.idx, s.sentence "
        "FROM documents d, LATERAL sentence_split(d.text) AS s "
        "WHERE d.doc_id % 25 = 0"
    )


@register(
    "text_bigram_topk",
    oracle="""
    SELECT bg AS bigram, COUNT(*) AS n
    FROM (
        SELECT unnest(CASE WHEN len(ws) >= 2
                      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                      ELSE [] END) AS bg
        FROM (
            SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws
            FROM documents
        )
    )
    GROUP BY bg
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    doc="Corpus bigram frequency top-k — the n-gram language-model stats "
    "builder (adjacent-pair explode -> count -> TakeOrdered).",
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigrams via transform(sequence(...)) over the split array — stays
    codegen'd JVM; no UDF. Scale: |vocab|^2-bounded shuffle of partial
    counts (far smaller in practice: observed bigrams only), top-k is
    TakeOrderedAndProject — no global sort."""
    d = load_fixture(spark, sf_dir, "documents")
    bigrams = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1])) "
        "ELSE array() END"
    )
    return (
        d.select(words(F.col("text")).alias("ws"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "text_pmi_collocations",
    oracle="""
    WITH ws AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
    ),
    uni AS (
        SELECT w, COUNT(*) AS cw
        FROM (SELECT unnest(ws) AS w FROM ws)
        GROUP BY w
    ),
    bi AS (
        SELECT w1, w2, COUNT(*) AS cab
        FROM (
            SELECT unnest(CASE WHEN len(ws) >= 2
                          THEN [ws[i] for i in range(1, len(ws))] ELSE [] END) AS w1,
                   unnest(CASE WHEN len(ws) >= 2
                          THEN [ws[i+1] for i in range(1, len(ws))] ELSE [] END) AS w2
            FROM ws
        )
        GROUP BY w1, w2
    ),
    tot AS (
        SELECT CAST((SELECT SUM(cw) FROM uni) AS DOUBLE) AS t,
               CAST((SELECT SUM(cab) FROM bi) AS DOUBLE) AS b
    )
    SELECT w1 || ' ' || w2 AS bigram,
           CAST(cab AS BIGINT) AS n,
           ROUND(ln(CAST(cab AS DOUBLE) * t * t
                    / (b * CAST(ua.cw AS DOUBLE) * CAST(ub.cw AS DOUBLE))), 6) AS pmi
    FROM bi
    JOIN uni ua ON ua.w = bi.w1
    JOIN uni ub ON ub.w = bi.w2
    CROSS JOIN tot
    WHERE cab >= 5
    ORDER BY ROUND(ln(CAST(cab AS DOUBLE) * t * t
                      / (b * CAST(ua.cw AS DOUBLE) * CAST(ub.cw AS DOUBLE))), 6) DESC,
             bigram
    LIMIT 20
    """,
    doc="Pointwise mutual information of adjacent word pairs (Church & "
    "Hanks 1990) with a min-count floor — the collocation detector that "
    "feeds phrase vocabularies (word2vec-style phrase merging) and "
    "tokenizer corpus audits. pmi = ln(P(ab) / (P(a)P(b))) over unigram/"
    "bigram maximum-likelihood estimates.",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two corpus-scan aggregations (unigram + bigram counts,
    both map-side-combined on |vocab|-bounded keys), the totals ride a
    1-row broadcast cross join, and the bigram->unigram joins broadcast
    the (smaller) unigram relation under AQE's size gate. Top-k is
    TakeOrderedAndProject — no global sort. The ln() argument is a single
    identically-ordered multiply/divide chain in both engines, so the
    doubles fold bit-identically before the 6-dp round."""
    d = load_fixture(spark, sf_dir, "documents").select(
        words(F.col("text")).alias("ws")
    )
    uni = (
        d.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    pairs = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2)) "
        "ELSE array() END"
    )
    bi = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    tot = uni.agg(F.sum("cw").cast("double").alias("t")).crossJoin(
        bi.agg(F.sum("cab").cast("double").alias("b"))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("cw").alias("ca"))
    ub = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cb"))
    pmi = (
        F.col("cab").cast("double") * F.col("t") * F.col("t")
        / (F.col("b") * F.col("ca").cast("double") * F.col("cb").cast("double"))
    )
    return (
        bi.filter(F.col("cab") >= 5)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cab").cast("bigint").alias("n"),
            F.round(F.log(pmi), 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(20)
    )


@register(
    "text_char_entropy",
    oracle="""
    SELECT doc_id,
           ROUND(CAST(COALESCE(-SUM(p * ln(p) / ln(2)), 0.0) AS DOUBLE), 6) AS char_entropy
    FROM (
        SELECT doc_id, COUNT(*) * 1.0 / ANY_VALUE(n) AS p
        FROM (
            SELECT doc_id,
                   unnest(string_split(lower(trim(text)), '')) AS ch,
                   length(lower(trim(text))) AS n
            FROM documents
            WHERE length(trim(text)) > 0
        )
        GROUP BY doc_id, ch
    )
    GROUP BY doc_id
    """,
    doc="Per-document character-level Shannon entropy (bits/char) — the "
    "dependency-free perplexity proxy for quality filtering: gibberish "
    "and boilerplate sit at the entropy tails.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two map-side-combinable aggregations ((doc,char) then doc) — no
    per-row Python. Scale note: the (doc_id, char) shuffle carries at most
    |alphabet| rows per doc; final projection is DOUBLE rounded to 6
    places so both engines hash identically."""
    d = load_fixture(spark, sf_dir, "documents")
    chars = (
        d.select(F.col("doc_id"), F.lower(F.trim(F.col("text"))).alias("nt"))
        .filter(F.length("nt") > 0)
        .select(
            "doc_id",
            F.length("nt").alias("n"),
            F.explode(F.split(F.col("nt"), "")).alias("ch"),
        )
        .filter(F.col("ch") != "")
    )
    per_char = chars.groupBy("doc_id", "ch").agg(
        (F.count(F.lit(1)) / F.first("n")).alias("p")
    )
    return per_char.groupBy("doc_id").agg(
        F.round(
            F.coalesce((-F.sum(F.col("p") * F.log2("p"))).cast("double"), F.lit(0.0)), 6
        ).alias("char_entropy")
    )


@register(
    "text_collapse_repeats",
    oracle="""
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len([ws[i] for i in range(1, len(ws) + 1) if i = 1 OR ws[i] <> ws[i-1]])
                AS BIGINT) AS n_after_collapse
    FROM (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
        WHERE length(trim(text)) > 0
    )
    """,
    doc="Intra-document consecutive-duplicate collapse ('batch batch "
    "batch' -> 'batch'): word counts before/after — the repetition "
    "scrubber stat used to strip stutter artifacts from training text.",
)
def text_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure array expression per row (filter over indexed transform) —
    single scan, zero shuffle at any scale."""
    d = load_fixture(spark, sf_dir, "documents")
    return (
        d.select(F.col("doc_id"), F.lower(F.trim(F.col("text"))).alias("nt"))
        .filter(F.length("nt") > 0)
        .select(
            "doc_id",
            F.expr("split(nt, '\\\\s+')").alias("ws"),
        )
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            F.size(
                F.expr(
                    "filter(transform(ws, (w, i) -> CASE WHEN i = 0 OR w <> ws[i-1] "
                    "THEN w END), w -> w IS NOT NULL)"
                )
            )
            .cast("long")
            .alias("n_after_collapse"),
        )
    )


@register(
    "text_novelty_score",
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
    ), d AS (
        SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_ratio
    FROM d GROUP BY doc_id
    """,
    doc="Per-document novelty: the fraction of a doc's distinct word "
    "3-gram shingles that occur in NO other document (corpus df = 1) — "
    "the marginal-diversity signal data-selection pipelines rank by "
    "(high novelty = new content; near-zero = boilerplate). Shingle df "
    "is a window COUNT over the shingle key, so counting and scoring "
    "share one exchange; document bodies shuffle only as shingles.",
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.dedup import _shingle_table

    d = load_fixture(spark, sf_dir, "documents")
    sh = _shingle_table(d, "text", "doc_id", 3)
    dfc = sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
    return dfc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.round(
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("novelty_ratio"),
    )


@register(
    "text_compression_ratio",
    oracle=None,
    doc="zlib(DEFLATE, level 6) compression ratio per document — the "
    "Gopher/RefinedWeb repetitiveness proxy. Rows-only BY NATURE: DEFLATE "
    "is not expressible in SQL; per-doc byte counts are differentially "
    "tested against direct zlib in tests/test_curate.py. Arrow "
    "mapInPandas scan-shaped map, no shuffle "
    "(operators/curate.py:compression_ratio).",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curate import compression_ratio

    return compression_ratio(load_fixture(spark, sf_dir, "documents"))


@register(
    "corpus_vocab_overlap",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT source, w
        FROM (
            SELECT source,
                   unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, CAST(i.inter AS BIGINT) AS inter,
           ROUND(CAST(i.inter AS DOUBLE)
                 / CAST(sa.n + sb.n - i.inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    doc="Pairwise source-vocabulary Jaccard — the corpus-diversity audit "
    "behind mixture design (near-identical vocabularies across sources "
    "signal redundant crawls; complements corpus_mix_entropy's share "
    "audit). Jaccard from intersection + sizes only: |A ∪ B| = "
    "|A| + |B| - |A ∩ B|, so the union is never materialized.",
)
def corpus_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: vocab distinct is the only corpus-sized shuffle; the
    intersection self-join is keyed on the WORD (hash-partitioned,
    |sources|^2-bounded fanout per word — cap or stopword-trim hub words
    if sources share boilerplate); size relations broadcast."""
    d = load_fixture(spark, sf_dir, "documents")
    vocab = (
        d.select("source", F.explode(words(F.col("text"))).alias("w")).distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "w")
    b = vocab.select(F.col("source").alias("src_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "quality_gopher_rules",
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
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(n_chars_nws * 1.0 / n_words, 6) AS mean_word_len,
           CAST(CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS INTEGER) AS ok_len,
           CAST(CASE WHEN n_chars_nws * 1.0 / n_words BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS INTEGER) AS ok_mwl,
           CAST(CASE WHEN (n_hash + n_ellipsis) * 1.0 / n_words < CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END AS INTEGER) AS ok_sym,
           CAST(CASE WHEN n_alpha_words * 1.0 / n_words >= CAST(0.8 AS DOUBLE) THEN 1 ELSE 0 END AS INTEGER) AS ok_alpha,
           CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS INTEGER) AS ok_stop,
           CAST(CASE WHEN n_words BETWEEN 20 AND 1000
                      AND n_chars_nws * 1.0 / n_words BETWEEN 3 AND 10
                      AND (n_hash + n_ellipsis) * 1.0 / n_words < CAST(0.1 AS DOUBLE)
                      AND n_alpha_words * 1.0 / n_words >= CAST(0.8 AS DOUBLE)
                      AND n_stop >= 2
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM m
    """,
    doc="Gopher-style document quality rules (Rae et al. 2021, thresholds "
    "scaled to fixture docs): word-count bounds, mean word length in "
    "[3,10], symbol-to-word ratio (# and ellipses) < 0.1, >=80% words "
    "containing a letter, >=2 stopwords — per-rule flags plus the "
    "conjunctive keep decision. Pure Column/string expressions, "
    "per-row map-side, no shuffle at any scale; the mean-word-length "
    "division is the same exact double ratio in both engines.",
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_flags(load_fixture(spark, sf_dir, "documents"))


def gopher_flags(d: DataFrame) -> DataFrame:
    """The Gopher rule projection over any frame with (doc_id, text) —
    shared by the batch query above and the stateless streaming twin
    (suite/streaming.py:stream_quality_filter), so both paths are the
    same expressions by construction."""
    t = F.col("text")
    ws = words(t)
    n = F.size(ws)
    nchars = F.length(F.regexp_replace(F.lower(F.trim(t)), r"\s+", ""))
    mwl = nchars * F.lit(1.0) / n
    alpha = F.size(F.filter(ws, lambda x: x.rlike("[a-z]")))
    stop = _count_in_suite(ws)
    hashes = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    ellipsis = (F.length(t) - F.length(F.replace(t, F.lit("...")))).cast("long") / 3
    sym_ratio = (hashes + ellipsis) * F.lit(1.0) / n
    ok_len = (n >= 20) & (n <= 1000)
    ok_mwl = (mwl >= 3) & (mwl <= 10)
    ok_sym = sym_ratio < F.lit(0.1)
    ok_alpha = alpha * F.lit(1.0) / n >= F.lit(0.8)
    ok_stop = stop >= 2
    as_int = lambda c: c.cast("int")
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        as_int(ok_len).alias("ok_len"),
        as_int(ok_mwl).alias("ok_mwl"),
        as_int(ok_sym).alias("ok_sym"),
        as_int(ok_alpha).alias("ok_alpha"),
        as_int(ok_stop).alias("ok_stop"),
        as_int(ok_len & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("keep"),
    )


def _count_in_suite(ws):
    from ..functions.text import STOPWORDS

    return F.size(F.filter(ws, lambda x: x.isin(STOPWORDS)))


def _rake_stop_sql() -> str:
    from ..functions.text import STOPWORDS

    return ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_rake_keyphrases",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    p AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos, toks FROM t),
    w AS (SELECT doc_id, pos, toks[pos] AS term FROM p),
    cw AS (SELECT doc_id, pos, term FROM w
           WHERE term NOT IN ({{stops}})),
    seq AS (
        SELECT doc_id, pos, term,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS grp
        FROM cw
    ),
    ph AS (SELECT doc_id, grp, COUNT(*) AS plen FROM seq GROUP BY doc_id, grp),
    wstat AS (
        SELECT s.doc_id, s.term, COUNT(*) AS freq, SUM(ph.plen) AS deg
        FROM seq s JOIN ph ON ph.doc_id = s.doc_id AND ph.grp = s.grp
        GROUP BY s.doc_id, s.term
    ),
    wsc AS (
        SELECT doc_id, term,
               (2 * 1000000 * deg + freq) // (2 * freq) AS score_micro
        FROM wstat
    ),
    psc AS (
        SELECT s.doc_id, s.grp,
               CAST(SUM(ws.score_micro) AS BIGINT) AS score_micro,
               string_agg(s.term, ' ' ORDER BY s.pos) AS phrase
        FROM seq s
        JOIN wsc ws ON ws.doc_id = s.doc_id AND ws.term = s.term
        GROUP BY s.doc_id, s.grp
    )
    SELECT doc_id, phrase,
           ROUND(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS rake_score,
           CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT doc_id, phrase, score_micro,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score_micro DESC, phrase) AS rk
        FROM psc
    ) WHERE rk <= 3
    """.format(stops=_rake_stop_sql()),
    doc="RAKE keyphrase extraction (Rose et al. 2010): candidate "
    "phrases are maximal stopword-free token runs (the gaps-and-islands "
    "key on token positions), word score = deg/freq over the document's "
    "candidate words, phrase score = sum of member word scores; top-3 "
    "phrases per document. Word scores are computed in EXACT integer "
    "micro-units (half-away (2e6*deg + freq) // (2*freq)) so the "
    "phrase sums are int64 and the ranking is engine-identical — no "
    "float fold anywhere before the final display division.",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: tokenize-with-positions (one explode), the island
    window per doc, then three map-side-combined aggregates keyed by
    (doc, grp) / (doc, term) — all linear in tokens; the per-doc top-3
    window runs over candidate phrases only. Identical-phrase ties get
    distinct ranks in an arbitrary order, but the output MULTISET is
    deterministic (identical rows swap identical ranks)."""
    from pyspark.sql.window import Window

    from ..functions.text import STOPWORDS

    docs = load_fixture(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    cw = toks.filter(~F.col("term").isin(STOPWORDS))
    seq = cw.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    ph = seq.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("plen"))
    wstat = (
        seq.join(ph, ["doc_id", "grp"])
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    wsc = wstat.select(
        "doc_id",
        "term",
        F.expr("(2 * 1000000 * deg + freq) div (2 * freq)").alias("score_micro"),
    )
    psc = (
        seq.join(wsc, ["doc_id", "term"])
        .groupBy("doc_id", "grp")
        .agg(
            F.sum("score_micro").cast("bigint").alias("score_micro"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "term"))),
                    lambda st: st["term"],
                ),
                " ",
            ).alias("phrase"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("phrase")
    )
    return (
        psc.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "phrase",
            F.round(F.col("score_micro").cast("double") / F.lit(1000000.0), 6).alias(
                "rake_score"
            ),
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "text_zipf_slope",
    oracle="""
    WITH w AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        )
        WHERE w <> ''
        GROUP BY w
    ),
    top AS (
        SELECT freq,
               CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rk
        FROM w
        ORDER BY freq DESC, w
        LIMIT 500
    ),
    pts AS (
        SELECT CAST(ROUND(ln(CAST(rk AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
               CAST(ROUND(ln(CAST(freq AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y,
               CAST(ROUND(ln(CAST(rk AS DOUBLE))
                          * ln(CAST(freq AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS xy,
               CAST(ROUND(ln(CAST(rk AS DOUBLE))
                          * ln(CAST(rk AS DOUBLE)), 9)
                    AS DECIMAL(18,9)) AS xx
        FROM top
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(xy) AS sxy, SUM(xx) AS sxx
        FROM pts
    )
    SELECT n AS n_words,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS log_intercept
    FROM s
    """,
    doc="Zipf's-law exponent of the corpus word-frequency distribution: "
    "log-log OLS of frequency against rank over the top 500 words "
    "(rank ties broken by the word string, so both engines fit the "
    "same points) — the classic corpus-health fingerprint (natural "
    "text sits near slope -1; template/boilerplate corpora flatten). "
    "Float discipline: each ln/product term is computed once in an "
    "identical double op sequence, rounded to 9 dp, and summed as "
    "DECIMAL; the closed-form slope/intercept divide exact decimals "
    "in the 1-row projection.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one word-count aggregate (the word_freq_topk shuffle),
    a distributed top-500 (TakeOrderedAndProject — never a global
    sort), then constant-size OLS sums."""
    from pyspark.sql.window import Window

    d = load_fixture(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    top = (
        w.orderBy(F.col("freq").desc(), "w")
        .limit(500)
        .select(
            "freq",
            F.row_number().over(Window.orderBy(F.col("freq").desc(), "w"))
            .cast("bigint")
            .alias("rk"),
        )
    )
    lx = F.log(F.col("rk").cast("double"))
    ly = F.log(F.col("freq").cast("double"))
    pts = top.select(
        F.round(lx, 9).cast("decimal(18,9)").alias("x"),
        F.round(ly, 9).cast("decimal(18,9)").alias("y"),
        F.round(lx * ly, 9).cast("decimal(18,9)").alias("xy"),
        F.round(lx * lx, 9).cast("decimal(18,9)").alias("xx"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        F.col("n").alias("n_words"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((syd - slope * sxd) / nd, 6).alias("log_intercept"),
    )


@register(
    "text_burstiness",
    oracle="""
    WITH n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    wc AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
            FROM documents
        )
        WHERE w <> ''
        GROUP BY doc_id, w
    ),
    s AS (
        SELECT w, CAST(SUM(c) AS BIGINT) AS total,
               CAST(SUM(c * c) AS BIGINT) AS sq,
               CAST(COUNT(*) AS BIGINT) AS present
        FROM wc GROUP BY w
    ),
    top AS (
        SELECT w, total, sq, present FROM s
        ORDER BY total DESC, w LIMIT 20
    )
    SELECT w AS word, total AS n_occurrences, present AS n_docs_present,
           ROUND((CAST(t.nd AS DOUBLE) * CAST(sq AS DOUBLE)
                  - CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
                 / (CAST(t.nd AS DOUBLE) * (CAST(t.nd AS DOUBLE) - 1.0))
                 / (CAST(total AS DOUBLE) / CAST(t.nd AS DOUBLE)),
                 6) AS burstiness
    FROM top CROSS JOIN n_docs t
    """,
    doc="Word burstiness (Church & Gale: variance-to-mean ratio of "
    "per-document counts, absent docs counting zero) for the top-20 "
    "corpus words — the content/function-word separator (VMR~1 means "
    "Poisson scatter = function word; VMR>>1 means topical clumping) "
    "used to pick content-bearing dedup shingles and stopword lists. "
    "Per-word count moments are exact integers (zeros enter via the "
    "n*sq - total^2 identity over the FULL doc count, no dense "
    "doc x word matrix), and the VMR divides exact values in one "
    "identical double op sequence per engine.",
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (doc, word) count aggregate, one per-word moment
    aggregate, a distributed top-20 — the zero cells of the implicit
    doc x word matrix never materialize."""
    d = load_fixture(spark, sf_dir, "documents")
    nd = d.count()
    wc = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    s = wc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("present"),
    )
    top = s.orderBy(F.col("total").desc(), "w").limit(20)
    ndd = F.lit(float(nd))
    vmr = (
        (ndd * F.col("sq").cast("double") - F.col("total").cast("double") * F.col("total").cast("double"))
        / (ndd * (ndd - F.lit(1.0)))
        / (F.col("total").cast("double") / ndd)
    )
    return top.select(
        F.col("w").alias("word"),
        F.col("total").alias("n_occurrences"),
        F.col("present").alias("n_docs_present"),
        F.round(vmr, 6).alias("burstiness"),
    )


@register(
    "eval_langid_classification_report",
    oracle=f"""
    WITH pred AS (
        SELECT lang AS label, {_lang_case_sql()} AS guess FROM documents
    ),
    classes AS (
        SELECT label AS cls FROM pred UNION SELECT guess FROM pred
    ),
    sup AS (SELECT label AS cls, CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY label),
    prd AS (SELECT guess AS cls, CAST(COUNT(*) AS BIGINT) AS p FROM pred GROUP BY guess),
    tp AS (
        SELECT label AS cls, CAST(COUNT(*) AS BIGINT) AS tp
        FROM pred WHERE label = guess GROUP BY label
    ),
    j AS (
        SELECT c.cls, COALESCE(s.n, 0) AS n, COALESCE(p.p, 0) AS p,
               COALESCE(t.tp, 0) AS tp
        FROM classes c
        LEFT JOIN sup s ON s.cls = c.cls
        LEFT JOIN prd p ON p.cls = c.cls
        LEFT JOIN tp t ON t.cls = c.cls
    )
    SELECT cls AS lang, n AS support, p AS predicted, tp,
           CAST((2 * tp * 1000000 + NULLIF(p, 0)) // (2 * NULLIF(p, 0))
                AS DOUBLE) / 1000000.0 AS precision_,
           CAST((2 * tp * 1000000 + NULLIF(n, 0)) // (2 * NULLIF(n, 0))
                AS DOUBLE) / 1000000.0 AS recall_,
           CAST((2 * (2 * tp) * 1000000 + NULLIF(n + p, 0))
                // (2 * NULLIF(n + p, 0)) AS DOUBLE) / 1000000.0 AS f1
    FROM j
    """,
    doc="Per-class classification report (support, predictions, TP, "
    "precision, recall, F1) of the marker-stopword language-ID "
    "heuristic against the dataset label — the evaluation-metrics "
    "layer a curation pipeline runs on every heuristic classifier "
    "before trusting its filters. All three metrics are ratios of "
    "exact integer counts and round half-away in INTEGER micro-units "
    "(F1 via the 2tp/(n+p) identity — no float harmonic mean); absent "
    "denominators yield NULL on both engines.",
)
def eval_langid_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan scoring the classifier in-plan, three
    |classes|-row aggregates, a |classes|-row join — the confusion
    matrix never materializes beyond its margins."""
    d = load_fixture(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("label"), lang_guess(F.col("text")).alias("guess")
    )
    classes = (
        pred.select(F.col("label").alias("cls"))
        .union(pred.select(F.col("guess").alias("cls")))
        .distinct()
    )
    sup = pred.groupBy(F.col("label").alias("cls")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    prd = pred.groupBy(F.col("guess").alias("cls")).agg(
        F.count(F.lit(1)).cast("bigint").alias("p")
    )
    tp = (
        pred.filter(F.col("label") == F.col("guess"))
        .groupBy(F.col("label").alias("cls"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("tp"))
    )
    j = (
        classes.join(sup, "cls", "left")
        .join(prd, "cls", "left")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("p", F.lit(0)).alias("p"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return j.select(
        F.col("cls").alias("lang"),
        F.col("n").alias("support"),
        F.col("p").alias("predicted"),
        "tp",
        (
            F.expr("(2 * tp * 1000000 + nullif(p, 0)) div (2 * nullif(p, 0))")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("precision_"),
        (
            F.expr("(2 * tp * 1000000 + nullif(n, 0)) div (2 * nullif(n, 0))")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("recall_"),
        (
            F.expr(
                "(2 * (2 * tp) * 1000000 + nullif(n + p, 0))"
                " div (2 * nullif(n + p, 0))"
            )
            .cast("double")
            / F.lit(1000000.0)
        ).alias("f1"),
    )


@register(
    "eval_binary_auc",
    oracle="""
    WITH vals AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp
        FROM documents GROUP BY n_chars
    ),
    ranked AS (
        SELECT c, cp,
               2 * SUM(c) OVER (ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - c + 1 AS dr2
        FROM vals
    ),
    s AS (
        SELECT CAST(SUM(cp) AS HUGEINT) AS n1,
               CAST(SUM(c - cp) AS HUGEINT) AS n0,
               CAST(SUM(cp * dr2) AS HUGEINT) AS r1x2
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
           CAST(CAST((2 * (r1x2 - n1 * (n1 + 1)) * 1000000 + 2 * n1 * n0)
                     // NULLIF(4 * n1 * n0, 0) AS BIGINT) AS DOUBLE) / 1000000.0 AS auc
    FROM s
    """,
    doc="ROC AUC of document length (n_chars) as a predictor of lang = "
    "'en' — the threshold-free ranking metric a curation pipeline "
    "computes for every scoring heuristic before picking a filter "
    "cutoff (companion to eval_langid_classification_report's "
    "thresholded view). Computed EXACTLY via the rank-sum identity "
    "AUC = (R1 - n1(n1+1)/2) / (n1*n0) with average tie ranks carried "
    "as DOUBLED integers (the agg_mann_whitney_u machinery — AUC and "
    "U are the same statistic rescaled), half-away-rounded in integer "
    "micro-units under DECIMAL(38,0)/HUGEINT operands (the "
    "agg_ks_two_sample overflow treatment), so no float enters until "
    "the final display division.",
)
def eval_binary_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact running count over the DISTINCT score
    values via value_ranks (no single-partition window even when the
    score domain is dense), then a single-row reduce."""
    from ..operators.stats import value_ranks

    d = load_fixture(spark, sf_dir, "documents")
    ranked = value_ranks(
        d,
        [],
        "n_chars",
        {"c": F.lit(1), "cp": F.when(F.col("lang") == "en", 1).otherwise(0)},
    ).select(
        "c", "cp", (F.lit(2) * F.col("cum_c") - F.col("c") + F.lit(1)).alias("dr2")
    )
    s = ranked.agg(
        F.sum("cp").cast("decimal(38,0)").alias("n1"),
        F.sum(F.col("c") - F.col("cp")).cast("decimal(38,0)").alias("n0"),
        F.sum(F.col("cp") * F.col("dr2")).cast("decimal(38,0)").alias("r1x2"),
    )
    return s.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        (
            F.expr(
                "CAST((2 * (r1x2 - n1 * (n1 + 1)) * 1000000 + 2 * n1 * n0)"
                # nullif: a corpus with zero positives or zero negatives
                # yields NULL, not an opaque division error
                " div nullif(4 * n1 * n0, 0) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("auc"),
    )


@register(
    "agg_cohens_kappa",
    oracle=f"""
    WITH pred AS (
        SELECT lang AS label, {_lang_case_sql()} AS guess FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM pred),
    tp AS (SELECT CAST(COUNT(*) AS HUGEINT) AS agree FROM pred WHERE label = guess),
    pe AS (
        SELECT CAST(SUM(s.nc * p.pc) AS HUGEINT) AS pe_num
        FROM (SELECT label AS cls, CAST(COUNT(*) AS HUGEINT) AS nc
              FROM pred GROUP BY label) s
        JOIN (SELECT guess AS cls, CAST(COUNT(*) AS HUGEINT) AS pc
              FROM pred GROUP BY guess) p USING (cls)
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(CAST((2 * agree * 1000000 + n) // (2 * n) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS p_observed,
           CAST(CAST((2 * pe_num * 1000000 + n * n) // (2 * n * n) AS BIGINT)
                AS DOUBLE) / 1000000.0 AS p_expected,
           CAST(CAST((2 * (n * agree - pe_num) * 1000000 + (n * n - pe_num))
                     // (2 * (n * n - pe_num)) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS kappa
    FROM n CROSS JOIN tp CROSS JOIN pe
    """,
    doc="Cohen's kappa agreement between the marker-stopword language-ID "
    "heuristic and the dataset label — chance-corrected agreement, the "
    "metric that separates a classifier from the majority-class prior "
    "(accuracy alone rewards guessing 'en' on an English-heavy "
    "corpus). kappa = (n*agree - sum(n_c*p_c)) / (n^2 - sum(n_c*p_c)) "
    "is a ratio of EXACT integer confusion-margin products, so all "
    "three reported rates round half-away in integer micro-units "
    "under DECIMAL(38,0)/HUGEINT operands; only classes present on "
    "both margins contribute to chance agreement (inner join).",
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan scoring the classifier in-plan, two
    |classes|-row margin aggregates joined |classes|-row, three 1-row
    reduces — the confusion matrix never materializes."""
    d = load_fixture(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("label"), lang_guess(F.col("text")).alias("guess")
    )
    n = pred.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    tp = pred.filter(F.col("label") == F.col("guess")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("agree")
    )
    s = pred.groupBy(F.col("label").alias("cls")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nc")
    )
    p = pred.groupBy(F.col("guess").alias("cls")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("pc")
    )
    pe = (
        s.join(p, "cls")
        .agg(F.sum(F.col("nc") * F.col("pc")).cast("decimal(38,0)").alias("pe_num"))
    )
    j = n.crossJoin(tp).crossJoin(pe)
    return j.select(
        F.col("n").cast("bigint").alias("n_docs"),
        (
            F.expr("CAST((2 * agree * 1000000 + n) div (2 * n) AS BIGINT)")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("p_observed"),
        (
            F.expr("CAST((2 * pe_num * 1000000 + n * n) div (2 * n * n) AS BIGINT)")
            .cast("double")
            / F.lit(1000000.0)
        ).alias("p_expected"),
        (
            F.expr(
                "CAST((2 * (n * agree - pe_num) * 1000000 + (n * n - pe_num))"
                " div (2 * (n * n - pe_num)) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("kappa"),
    )


@register(
    "quality_ttr_lexical_diversity",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ),
    wc AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE w <> '' GROUP BY doc_id, w
    ),
    s AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
               SUM(CAST(c AS HUGEINT) * (c - 1)) AS rep2
        FROM wc GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens, types AS n_types, hapax AS n_hapax,
           CAST((2 * types * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000.0 AS ttr,
           CAST((2 * hapax * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000.0
               AS hapax_ratio,
           CAST((2 * CAST(rep2 AS HUGEINT) * 1000000
                 + NULLIF(CAST(n AS HUGEINT) * (n - 1), 0))
                // (2 * NULLIF(CAST(n AS HUGEINT) * (n - 1), 0)) AS DOUBLE)
               / 1000000.0 AS simpson_repeat
    FROM s
    """,
    doc="Lexical diversity per document: type-token ratio, hapax-"
    "legomenon ratio, and the Simpson repeat index sum c(c-1)/(n(n-1)) "
    "(the probability two random tokens are the same type — low "
    "diversity = high repeat) — the vocabulary-richness screens a "
    "curation pipeline runs next to quality_repetition's n-gram view. "
    "All three are ratios of exact integer token-count moments, "
    "half-away-rounded in integer micro-units; single-token docs get "
    "NULL Simpson on both engines via NULLIF.",
)
def quality_ttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (doc, word) count aggregate, one per-doc moment
    aggregate — both map-side-combining groupBys keyed by doc; no
    window, no global sort."""
    d = load_fixture(spark, sf_dir, "documents")
    wc = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    s = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
        # r8 micro-unit audit: rep2 <= n^2 and 2*rep2*1e6 wraps int64 at
        # ~2.1e6 tokens per doc (a ~10 MB text) — DECIMAL keeps the
        # Simpson numerator exact for any document
        F.sum(F.col("c").cast("decimal(19,0)") * (F.col("c") - 1))
        .cast("decimal(38,0)")
        .alias("rep2"),
    )
    return s.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("types").alias("n_types"),
        F.col("hapax").alias("n_hapax"),
        (
            F.expr("(2 * types * 1000000 + n) div (2 * n)").cast("double")
            / F.lit(1000000.0)
        ).alias("ttr"),
        (
            F.expr("(2 * hapax * 1000000 + n) div (2 * n)").cast("double")
            / F.lit(1000000.0)
        ).alias("hapax_ratio"),
        (
            F.expr(
                "(2 * CAST(rep2 AS DECIMAL(38,0)) * 1000000"
                " + nullif(CAST(n AS DECIMAL(38,0)) * (n - 1), 0))"
                " div (2 * nullif(CAST(n AS DECIMAL(38,0)) * (n - 1), 0))"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("simpson_repeat"),
    )


# --------------------------------------------------------------------------
# round 8 additions — MCC, TF-IDF keywords, corpus novelty decay


@register(
    "eval_mcc_binary",
    oracle=f"""
    WITH pred AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               CASE WHEN {_lang_case_sql()} = 'en' THEN 1 ELSE 0 END AS yhat
        FROM documents
    ),
    s AS (
        SELECT CAST(SUM(y * yhat) AS HUGEINT) AS tp,
               CAST(SUM((1 - y) * (1 - yhat)) AS HUGEINT) AS tn,
               CAST(SUM((1 - y) * yhat) AS HUGEINT) AS fp,
               CAST(SUM(y * (1 - yhat)) AS HUGEINT) AS fn
        FROM pred
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
                 / NULLIF(sqrt(CAST(tp + fp AS DOUBLE))
                          * sqrt(CAST(tp + fn AS DOUBLE))
                          * sqrt(CAST(tn + fp AS DOUBLE))
                          * sqrt(CAST(tn + fn AS DOUBLE)), 0.0), 6) AS mcc
    FROM s
    """,
    doc="Matthews correlation coefficient of the marker-stopword "
    "language-ID treated as a binary en-detector — the single-number "
    "confusion summary that stays honest under class imbalance (accuracy "
    "and even F1 reward the majority class; MCC does not). The confusion "
    "quadrant counts and the numerator tp*tn - fp*fn are EXACT "
    "HUGEINT/DECIMAL integers; the denominator takes four separate "
    "sqrt()s (each margin fits a double exactly far beyond any corpus; "
    "their PRODUCT would overflow at ~1e77) in one identical op "
    "sequence per engine.",
)
def eval_mcc_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan scoring the classifier in-plan, one
    map-side-combined 1-row aggregate — the confusion matrix never
    materializes."""
    d = load_fixture(spark, sf_dir, "documents")
    y = (F.col("lang") == "en").cast("int")
    yh = (lang_guess(F.col("text")) == "en").cast("int")
    pred = d.select(y.alias("y"), yh.alias("yhat"))
    s = pred.agg(
        F.sum(F.col("y") * F.col("yhat")).cast("decimal(38,0)").alias("tp"),
        F.sum((1 - F.col("y")) * (1 - F.col("yhat"))).cast("decimal(38,0)").alias("tn"),
        F.sum((1 - F.col("y")) * F.col("yhat")).cast("decimal(38,0)").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("yhat"))).cast("decimal(38,0)").alias("fn"),
    )
    num = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast("double")
    den = (
        F.sqrt((F.col("tp") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tp") + F.col("fn")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fp")).cast("double"))
        * F.sqrt((F.col("tn") + F.col("fn")).cast("double"))
    )
    return s.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("tn").cast("bigint").alias("tn"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("mcc"),
    )


@register(
    "text_novelty_decay",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(ws) >= 3
                 THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       for i in range(1, len(ws) - 1)]
                 ELSE [array_to_string(ws, ' ')] END)) AS sh
        FROM w
    ),
    first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(CAST((2 * SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                        * 1000000 + COUNT(*))
                     // (2 * COUNT(*)) AS BIGINT) AS DOUBLE) / 1000000.0
               AS novelty
    FROM sh s JOIN first f USING (sh)
    GROUP BY s.doc_id
    """,
    doc="Corpus novelty decay: per document (in doc_id ingestion order), "
    "the fraction of its distinct 3-shingles never seen in any "
    "earlier-id document — the curve a curation pipeline watches to "
    "decide when a source is exhausted (novelty collapsing toward 0 "
    "means new docs repeat the corpus). First-occurrence is an exact "
    "MIN(doc_id) per shingle; the ratio rounds half-away in integer "
    "micro-units.",
)
def text_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one shingle-keyed aggregate (min doc per shingle),
    one shingle-keyed join back, one doc-keyed aggregate — the exact
    dedup budget (shuffles carry 3-word shingles, never bodies). The
    min-per-key pass is the incremental-index primitive: at 100 TB the
    'first' relation persists and only new docs join against it."""
    from ..operators.dedup import _shingle_table

    d = load_fixture(spark, sf_dir, "documents")
    sh = _shingle_table(d, "text", "doc_id", 3)
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(first, "sh")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        (
            F.expr(
                "CAST((2 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " * 1000000 + COUNT(*)) div (2 * COUNT(*)) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("novelty"),
    )


@register(
    "eval_calibration_ece",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
            len(string_split_regex(lower(trim(text)), '\\s+')) * 1.0 AS toks,
            CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0 / length(text)
                 ELSE 0.0 END AS pr,
            CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) > 0
                 THEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                          x -> list_contains({_sql_list(STOPWORDS)}, x))) * 1.0
                      / len(string_split_regex(lower(trim(text)), '\\s+'))
                 ELSE 0.0 END AS sr
        FROM documents
    ),
    q AS (
        SELECT y,
               CAST(floor(ROUND(0.4 * LEAST(toks / 100.0, 1.0)
                                + 0.3 * (1.0 - pr) + 0.3 * sr, 6)
                          * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM m
    ),
    b AS (
        SELECT LEAST(q // 100000, 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS sq,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM q GROUP BY LEAST(q // 100000, 9)
    ),
    g AS (
        SELECT bin, n, pos,
               (2 * sq + n) // (2 * CAST(n AS HUGEINT)) AS conf_micro,
               (2 * CAST(pos AS HUGEINT) * 1000000 + n) // (2 * CAST(n AS HUGEINT))
                   AS acc_micro
        FROM b
    )
    SELECT CAST(bin AS INTEGER) AS bin, n, pos,
           CAST(conf_micro AS BIGINT) AS conf_micro,
           CAST(acc_micro AS BIGINT) AS acc_micro,
           CAST((2 * SUM(CAST(n AS HUGEINT) * abs(acc_micro - conf_micro)) OVER ()
                 + SUM(n) OVER ())
                // (2 * SUM(CAST(n AS HUGEINT)) OVER ()) AS BIGINT) AS ece_micro
    FROM g
    """,
    doc="Reliability diagram + expected calibration error of the "
    "composite quality score treated as P(lang = 'en') — the calibration "
    "audit run on every learned or heuristic scorer before its threshold "
    "means anything. Scores quantize once to micro units (the 6-dp "
    "rounded heuristic is integer-valued there), bins are integer "
    "division — no float bin edge — and per-bin confidence, accuracy, "
    "and the n-weighted ECE all round half-away in integer micro-units "
    "under DECIMAL(38,0)/HUGEINT (n * gap is corpus-scaled — the r8 "
    "micro-unit audit class). The ECE window runs over the 10-row bin "
    "relation — bounded by construction.",
)
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one scan scoring in-plan, one 10-group aggregate, a
    10-row window — no data-scaled shuffle beyond the combine."""
    from pyspark.sql.window import Window

    from ..functions.text import quality_score

    d = load_fixture(spark, sf_dir, "documents")
    q = d.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        micro(quality_score(F.col("text"))).alias("q"),
    )
    b = q.groupBy(
        F.least(F.expr("q div 100000"), F.lit(9)).cast("int").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("sq"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    g = b.select(
        "bin",
        "n",
        "pos",
        F.expr("(2 * sq + n) div (2 * CAST(n AS DECIMAL(38,0)))")
        .cast("bigint")
        .alias("conf_micro"),
        F.expr(
            "(2 * CAST(pos AS DECIMAL(38,0)) * 1000000 + n)"
            " div (2 * CAST(n AS DECIMAL(38,0)))"
        )
        .cast("bigint")
        .alias("acc_micro"),
    )
    w = Window.partitionBy()
    return g.select(
        "bin",
        "n",
        "pos",
        "conf_micro",
        "acc_micro",
        F.expr(
            "CAST((2 * SUM(CAST(n AS DECIMAL(38,0)) * abs(acc_micro - conf_micro))"
            " OVER () + SUM(n) OVER ())"
            " div (2 * SUM(CAST(n AS DECIMAL(38,0))) OVER ()) AS BIGINT)"
        ).alias("ece_micro"),
    )


@register(
    "eval_average_precision",
    oracle="""
    WITH cells AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
        FROM documents GROUP BY n_chars
    ),
    cum AS (
        SELECT c, p,
               SUM(c) OVER (ORDER BY v DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumn,
               SUM(p) OVER (ORDER BY v DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cump
        FROM cells
    ),
    t AS (
        SELECT CAST(SUM((2 * CAST(p AS HUGEINT) * cump * 1000000000 + cumn)
                        // (2 * CAST(cumn AS HUGEINT))) AS HUGEINT) AS s
        FROM cum WHERE p > 0
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS np
        FROM documents
    )
    SELECT n AS n_total, np AS n_pos,
           ROUND(CAST(s AS DOUBLE) / (1000000000.0 * np), 6)
               AS average_precision
    FROM t, tot
    """,
    doc="Tie-blocked average precision of document length (n_chars) as "
    "a predictor of lang = 'en' — the PR-curve summary that pairs with "
    "eval_binary_auc's ROC view (AP weights early precision; AUC "
    "weights pair orderings — curation cutoffs care about the former). "
    "Ties are handled by the deterministic BLOCK definition: all docs "
    "sharing a score form one block, each block contributes "
    "(its positives) * (precision at block end), so the metric needs "
    "no within-tie order. Block terms are half-away-rounded in integer "
    "NANO-units ((2*p*P*1e9 + N) div (2N), exact "
    "HUGEINT/DECIMAL(38,0) operands, bound p*P*1e9 < 1e38) and sum "
    "exactly; one display division at the end.",
)
def eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: descending running counts over the DISTINCT scores
    via value_ranks on the negated score, then a 1-row reduce — no
    single-partition sort on a dense score domain."""
    from ..operators.stats import value_ranks

    d = load_fixture(spark, sf_dir, "documents")
    cum = value_ranks(
        d.select((-F.col("n_chars")).alias("nv"), "lang"),
        [],
        "nv",
        {"c": F.lit(1), "p": F.when(F.col("lang") == "en", 1).otherwise(0)},
    )
    t = cum.filter(F.col("p") > 0).agg(
        F.sum(
            F.expr(
                "(2 * CAST(p AS DECIMAL(19,0)) * cum_p * 1000000000 + cum_c)"
                " div (2 * CAST(cum_c AS DECIMAL(38,0)))"
            )
        )
        .cast("decimal(38,0)")
        .alias("s")
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
    )
    return t.crossJoin(F.broadcast(tot)).selectExpr(
        "n AS n_total",
        "np AS n_pos",
        "ROUND(CAST(s AS DOUBLE) / (1000000000.0 * np), 6)"
        " AS average_precision",
    )


@register(
    "eval_lift_gains_table",
    oracle="""
    WITH cells AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS p
        FROM documents GROUP BY n_chars
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS np
        FROM documents
    ),
    cum AS (
        SELECT SUM(c) OVER (ORDER BY v DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumn,
               SUM(p) OVER (ORDER BY v DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cump
        FROM cells
    ),
    dec AS (
        SELECT CAST(1 + ((cumn - 1) * 10) // n AS INT) AS decile,
               MAX(cumn) AS cum_docs, MAX(cump) AS cum_pos, MAX(n) AS n,
               MAX(np) AS np
        FROM cum, tot GROUP BY 1
    )
    SELECT decile,
           CAST(cum_docs AS BIGINT) AS cum_docs,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST((2 * CAST(cum_pos AS HUGEINT) * 1000000 + np)
                // (2 * CAST(np AS HUGEINT)) AS BIGINT) AS gain_micro,
           CAST((2 * CAST(cum_pos AS HUGEINT) * 1000000 + cum_docs)
                // (2 * CAST(cum_docs AS HUGEINT)) AS BIGINT)
               AS precision_micro,
           CAST((2 * CAST(cum_pos AS HUGEINT) * n * 1000000
                 + CAST(cum_docs AS HUGEINT) * np)
                // (2 * CAST(cum_docs AS HUGEINT) * np) AS BIGINT)
               AS lift_micro
    FROM dec
    """,
    doc="Cumulative gains / lift table at decile resolution for document "
    "length (n_chars) as a predictor of lang = 'en' — the targeting "
    "table behind 'the top 20% of scores capture X% of positives, at "
    "Y x the base rate': the threshold-PICKING view that AP/AUC "
    "summarize away (a curation pipeline reads this to set the score "
    "cutoff for a labeling budget). Tie policy is the agg_lorenz_curve "
    "treatment: score cells are atomic, a cell belongs to the decile "
    "of its LAST cumulative row (1 + (cumn-1)*10 div n), so deciles "
    "are deterministic in both engines with no within-tie order; a "
    "decile swallowed whole by a giant tie cell is simply absent. All "
    "three rates are half-away-rounded integer micro-units under "
    "HUGEINT/DECIMAL(38,0) operands (cum_pos * n * 1e6 <= 1e38 for "
    "corpora to ~1e15 docs); no doubles anywhere.",
)
def eval_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: running counts and totals over the DISTINCT scores
    via value_ranks on the negated score (no single-partition window on
    a dense domain), a <=10-row decile collapse."""
    from ..operators.stats import value_ranks

    d = load_fixture(spark, sf_dir, "documents")
    cum = value_ranks(
        d.select((-F.col("n_chars")).alias("nv"), "lang"),
        [],
        "nv",
        {"c": F.lit(1), "p": F.when(F.col("lang") == "en", 1).otherwise(0)},
    )
    dec = (
        cum.selectExpr(
            "CAST(1 + ((cum_c - 1) * 10) div tot_c AS INT) AS decile",
            "cum_c AS cumn",
            "cum_p AS cump",
            "tot_c AS n",
            "tot_p AS np",
        )
        .groupBy("decile")
        .agg(
            F.max("cumn").alias("cum_docs"),
            F.max("cump").alias("cum_pos"),
            F.max("n").alias("n"),
            F.max("np").alias("np"),
        )
    )
    return dec.selectExpr(
        "decile",
        "CAST(cum_docs AS BIGINT) AS cum_docs",
        "CAST(cum_pos AS BIGINT) AS cum_pos",
        "CAST((2 * CAST(cum_pos AS DECIMAL(38,0)) * 1000000 + np)"
        " div (2 * CAST(np AS DECIMAL(38,0))) AS BIGINT) AS gain_micro",
        "CAST((2 * CAST(cum_pos AS DECIMAL(38,0)) * 1000000 + cum_docs)"
        " div (2 * CAST(cum_docs AS DECIMAL(38,0))) AS BIGINT)"
        " AS precision_micro",
        "CAST((2 * CAST(cum_pos AS DECIMAL(19,0)) * n * 1000000"
        " + CAST(cum_docs AS DECIMAL(19,0)) * np)"
        " div (2 * CAST(cum_docs AS DECIMAL(19,0)) * np) AS BIGINT)"
        " AS lift_micro",
    )


@register(
    "text_heaps_law",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    fd AS (SELECT term, MIN(doc_id) AS d0 FROM tok GROUP BY term),
    nv AS (SELECT d0 AS doc_id, CAST(COUNT(*) AS BIGINT) AS newv FROM fd
           GROUP BY d0),
    tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS toks FROM tok
           GROUP BY doc_id),
    cur AS (
        SELECT t.doc_id,
               SUM(t.toks) OVER (ORDER BY t.doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cumn,
               SUM(COALESCE(nv.newv, 0))
                   OVER (ORDER BY t.doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cumv
        FROM tc t LEFT JOIN nv ON nv.doc_id = t.doc_id
    ),
    pts AS (
        SELECT CAST(ROUND(ln(CAST(cumn AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
               CAST(ROUND(ln(CAST(cumv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
        FROM cur WHERE cumn > 0 AND cumv > 0
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
               AS heaps_beta,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS ln_k_intercept
    FROM s
    """,
    doc="Heaps'-law vocabulary-growth fit V(N) ~ K*N^beta over the "
    "corpus in doc_id order — the sublinearity exponent that predicts "
    "vocabulary (and embedding-table) growth for a 100x corpus "
    "scale-up. The cumulative-distinct curve, normally a sequential "
    "scan, is distributed via the FIRST-OCCURRENCE trick: each term "
    "contributes +1 at its minimum doc_id, so V(d) is a running sum "
    "over per-doc new-term counts (an aggregate, not a distinct scan). "
    "Both log curves round to 9 dp DECIMAL before the OLS moment sums "
    "(order-independent); the closed-form slope/intercept is one "
    "identical double sequence per engine.",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one token shuffle for first-occurrences, one for
    per-doc token counts, then BOTH running sums ride one
    two_level_cumsum over the per-doc relation (doc_id is unique per
    row, so no distinct-value collapse is needed) and a 1-row OLS
    reduce."""
    from ..operators.stats import two_level_cumsum

    d = load_fixture(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias(
            "term"
        ),
    )
    fd = tok.groupBy("term").agg(F.min("doc_id").alias("d0"))
    nv = fd.groupBy(F.col("d0").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("newv")
    )
    tc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("toks"))
    base = tc.join(nv, "doc_id", "left").select(
        "doc_id", "toks", F.coalesce("newv", F.lit(0)).alias("newv")
    )
    cur = two_level_cumsum(base, [], "doc_id", [], {"cumn": "toks", "cumv": "newv"})
    pts = cur.filter((F.col("cumn") > 0) & (F.col("cumv") > 0)).select(
        F.expr("CAST(ROUND(ln(CAST(cumn AS DOUBLE)), 9) AS DECIMAL(18,9))").alias("x"),
        F.expr("CAST(ROUND(ln(CAST(cumv AS DOUBLE)), 9) AS DECIMAL(18,9))").alias("y"),
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
        f"ROUND({slope}, 6) AS heaps_beta",
        f"ROUND((CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE), 6) AS ln_k_intercept",
    )


@register(
    "eval_brier_decomposition",
    oracle="""
    WITH sc AS (
        SELECT (2 * LEAST(n_chars, 2000) * 1000000 + 2000) // 4000 AS s_micro,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    b AS (
        SELECT LEAST(s_micro // 100000, 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(s_micro) AS HUGEINT) AS ssum,
               CAST(SUM(CAST(s_micro - 1000000 * y AS HUGEINT)
                        * (s_micro - 1000000 * y)) AS HUGEINT) AS bsum
        FROM sc GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(nb) AS HUGEINT) AS n, CAST(SUM(pos) AS HUGEINT) AS p
        FROM b
    ),
    mb AS (
        SELECT nb, bsum,
               (2 * ssum + nb) // (2 * CAST(nb AS HUGEINT)) AS sb_micro,
               (2 * 1000000 * CAST(pos AS HUGEINT) + nb)
                   // (2 * CAST(nb AS HUGEINT)) AS yb_micro,
               (2 * 1000000 * p + n) // (2 * n) AS ybar_micro
        FROM b, tot
    ),
    t AS (
        SELECT CAST(SUM(CAST(nb AS HUGEINT)
                        * (sb_micro - yb_micro) * (sb_micro - yb_micro))
                    AS HUGEINT) AS rels,
               CAST(SUM(CAST(nb AS HUGEINT)
                        * (yb_micro - ybar_micro) * (yb_micro - ybar_micro))
                    AS HUGEINT) AS ress,
               CAST(SUM(bsum) AS HUGEINT) AS bs
        FROM mb
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           ROUND(CAST(bs AS DOUBLE) / (1e12 * CAST(n AS DOUBLE)), 6)
               AS brier_score,
           ROUND(CAST(p * (n - p) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS uncertainty,
           ROUND(CAST(rels AS DOUBLE) / (1e12 * CAST(n AS DOUBLE)), 6)
               AS reliability,
           ROUND(CAST(ress AS DOUBLE) / (1e12 * CAST(n AS DOUBLE)), 6)
               AS resolution
    FROM t, tot
    """,
    doc="Murphy decomposition of the Brier score (Brier = uncertainty "
    "- resolution + reliability) for document length as a probability "
    "of lang = 'en' (score = min(n_chars, 2000)/2000, decile-binned) — "
    "the PROPER-scoring-rule companion to eval_calibration_ece: ECE "
    "reports the calibration gap alone, the decomposition also prices "
    "how much discriminative power (resolution) the score buys against "
    "the base rate (uncertainty). Per-bin means quantize half-away to "
    "exact MICRO integers first (the ECE discipline), so every "
    "reliability/resolution contribution is nb * (micro diff)^2 <= "
    "nb * 1e12 — HUGEINT/DECIMAL(38,0)-exact with NO n^2-scaled "
    "operand anywhere; the raw-score Brier sum is per-row exact. With "
    "continuous (not bin-discretized) scores the Murphy identity "
    "carries a within-bin remainder (Stephenson's generalized "
    "decomposition): brier - (uncertainty - resolution + reliability) "
    "is the within-bin variance/covariance term, small but nonzero by "
    "construction.",
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to the 10-bin
    relation, one 1-row reduce — no window, no join, no sort."""
    d = load_fixture(spark, sf_dir, "documents")
    sc = d.selectExpr(
        "(2 * LEAST(n_chars, 2000) * 1000000 + 2000) div 4000 AS s_micro",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
    )
    b = sc.groupBy(
        F.least(F.expr("s_micro div 100000"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("y").cast("bigint").alias("pos"),
        F.sum("s_micro").cast("decimal(38,0)").alias("ssum"),
        F.sum(
            F.expr(
                "CAST(s_micro - 1000000 * y AS DECIMAL(19,0))"
                " * CAST(s_micro - 1000000 * y AS DECIMAL(19,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("bsum"),
    )
    tot = b.agg(
        F.sum("nb").cast("decimal(38,0)").alias("n"),
        F.sum("pos").cast("decimal(38,0)").alias("p"),
    )
    mb = b.crossJoin(F.broadcast(tot)).selectExpr(
        "nb",
        "bsum",
        "(2 * ssum + nb) div (2 * CAST(nb AS DECIMAL(38,0))) AS sb_micro",
        "(2 * 1000000 * CAST(pos AS DECIMAL(38,0)) + nb)"
        " div (2 * CAST(nb AS DECIMAL(38,0))) AS yb_micro",
        "(2 * 1000000 * p + n) div (2 * n) AS ybar_micro",
    )
    t = mb.agg(
        F.sum(
            F.expr(
                "CAST(nb AS DECIMAL(19,0))"
                " * CAST((sb_micro - yb_micro) * (sb_micro - yb_micro)"
                " AS DECIMAL(19,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("rels"),
        F.sum(
            F.expr(
                "CAST(nb AS DECIMAL(19,0))"
                " * CAST((yb_micro - ybar_micro) * (yb_micro - ybar_micro)"
                " AS DECIMAL(19,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("ress"),
        F.sum("bsum").cast("decimal(38,0)").alias("bs"),
    )
    return t.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(n AS BIGINT) AS n_docs",
        "ROUND(CAST(bs AS DOUBLE) / (1e12 * CAST(n AS DOUBLE)), 6) AS brier_score",
        "ROUND(CAST(p * (n - p) AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS uncertainty",
        "ROUND(CAST(rels AS DOUBLE) / (1e12 * CAST(n AS DOUBLE)), 6) AS reliability",
        "ROUND(CAST(ress AS DOUBLE) / (1e12 * CAST(n AS DOUBLE)), 6) AS resolution",
    )


@register(
    "eval_log_loss",
    oracle="""
    WITH sc AS (
        SELECT (2 * LEAST(n_chars, 2000) * 1000000 + 2000) // 4000 AS s_micro,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    cells AS (
        SELECT GREATEST(1, LEAST(999999, s_micro)) AS pm, y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM sc GROUP BY 1, 2
    ),
    terms AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(y * c) AS BIGINT) AS pos,
               SUM(CAST(c AS DECIMAL(19,0))
                   * CAST(ROUND(ln(CAST(CASE WHEN y = 1 THEN pm
                                            ELSE 1000000 - pm END AS DOUBLE)
                                   / 1000000.0), 9) AS DECIMAL(18,9))) AS ll
        FROM cells
    )
    SELECT n AS n_docs, pos AS n_positive,
           ROUND(-CAST(ll AS DOUBLE) / CAST(n AS DOUBLE), 6) AS log_loss,
           ROUND(CASE WHEN pos = 0 OR pos = n THEN 0.0
                 ELSE -(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                        * ln(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                        + (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                          * ln(1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)))
                 END, 6) AS baseline_log_loss,
           ROUND(1.0 - (-CAST(ll AS DOUBLE) / CAST(n AS DOUBLE))
                 / NULLIF(CASE WHEN pos = 0 OR pos = n THEN 0.0
                          ELSE -(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                                 * ln(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                                 + (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                                   * ln(1.0 - CAST(pos AS DOUBLE)
                                        / CAST(n AS DOUBLE)))
                          END, 0.0), 6) AS skill_score
    FROM terms
    """,
    doc="Cross-entropy (log loss) of the document-length pseudo-"
    "classifier for lang = 'en' (score = min(n_chars, 2000)/2000, the "
    "eval_binary_auc / eval_brier_decomposition score), plus the "
    "base-rate entropy and the skill score 1 - LL/H(base) — the "
    "third proper-scoring lens beside Brier and ECE; log loss is what "
    "LM evals actually optimize. Scores quantize to MICRO integers "
    "and clip to [1, 999999] micro (the standard log-loss epsilon "
    "clip, deterministic); the corpus collapses to at most 2*10^6 "
    "(pm, y) cells so each ln runs once per DISTINCT cell, rounded to "
    "9 dp and count-weighted into a DECIMAL sum (order-independent). "
    "Degenerate one-class corpora get baseline 0 and NULL skill in "
    "BOTH engines (NULLIF, the eval_binary_auc discipline). Bound: "
    "|term| <= 13.9, so the DECIMAL(38,9) sum holds to ~7e27 rows.",
)
def eval_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one map-side-combined aggregate to the bounded
    (pm, y) cell relation (<= 2e6 rows by construction), one 1-row
    reduce — no window, no join, no per-row ln."""
    d = load_fixture(spark, sf_dir, "documents")
    cells = (
        d.selectExpr(
            "GREATEST(1, LEAST(999999,"
            " (2 * LEAST(n_chars, 2000) * 1000000 + 2000) div 4000)) AS pm",
            "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
        )
        .groupBy("pm", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    terms = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("y") * F.col("c")).cast("bigint").alias("pos"),
        F.sum(
            F.expr(
                "CAST(c AS DECIMAL(19,0))"
                " * CAST(ROUND(ln(CAST(CASE WHEN y = 1 THEN pm"
                " ELSE 1000000 - pm END AS DOUBLE) / 1000000.0), 9)"
                " AS DECIMAL(18,9))"
            )
        ).alias("ll"),
    )
    pd_ = F.col("pos").cast("double") / F.col("n").cast("double")
    base = F.when(
        (F.col("pos") == 0) | (F.col("pos") == F.col("n")), F.lit(0.0)
    ).otherwise(-(pd_ * F.log(pd_) + (F.lit(1.0) - pd_) * F.log(F.lit(1.0) - pd_)))
    ll = -F.col("ll").cast("double") / F.col("n").cast("double")
    return terms.select(
        F.col("n").alias("n_docs"),
        F.col("pos").alias("n_positive"),
        F.round(ll, 6).alias("log_loss"),
        F.round(base, 6).alias("baseline_log_loss"),
        F.round(F.lit(1.0) - ll / F.nullif(base, F.lit(0.0)), 6).alias("skill_score"),
    )


@register(
    "text_flesch_reading_ease",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               GREATEST(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                   AS n_words,
               GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS n_sentences,
               GREATEST(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
                   AS n_syllables
        FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           ROUND(CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE)
                   * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - CAST(84.6 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
                 4) AS flesch_score
    FROM c
    """,
    doc="Flesch reading-ease score per document from deterministic "
    "integer counts: words = [a-z0-9]+ runs (the index_terms "
    "tokenization), sentences = [.!?]+ runs, syllables = the standard "
    "vowel-group proxy [aeiouy]+ — the classic readability feature "
    "beside the Gopher/TTR quality signals (readability-binned "
    "training mixes are a curation staple). All three counts clamp to "
    ">= 1 (the synthetic fixture has no sentence punctuation, so the "
    "sentence clamp binds everywhere there — documented, not hidden); "
    "the score is one identical double sequence over exact integers, "
    "rounded to 4 dp. Pure per-row map: no shuffle, no join, no UDF — "
    "whole-stage codegen end to end.",
)
def text_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: map-only over documents — regexp counting inside
    codegen; output is one row per document with no wide state."""
    d = load_fixture(spark, sf_dir, "documents")
    c = d.selectExpr(
        "doc_id",
        "GREATEST(1, size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)))"
        " AS n_words",
        "GREATEST(1, size(regexp_extract_all(text, '[.!?]+', 0))) AS n_sentences",
        "GREATEST(1, size(regexp_extract_all(lower(text), '[aeiouy]+', 0)))"
        " AS n_syllables",
    )
    return c.selectExpr(
        "doc_id",
        "CAST(n_words AS BIGINT) AS n_words",
        "CAST(n_sentences AS BIGINT) AS n_sentences",
        "CAST(n_syllables AS BIGINT) AS n_syllables",
        "ROUND(CAST(206.835 AS DOUBLE)"
        " - CAST(1.015 AS DOUBLE)"
        " * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))"
        " - CAST(84.6 AS DOUBLE)"
        " * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)"
        " AS flesch_score",
    )


_GOPHER_RULES = ("ok_len", "ok_mwl", "ok_sym", "ok_alpha", "ok_stop")


def _ablation_oracle_sql() -> str:
    """DuckDB rendering of curation_rule_ablation: the
    quality_gopher_rules flag CTE verbatim, then per-rule alone /
    sole / first-fail kill counts, one UNION ALL branch per rule."""
    flags = """
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
    ),
    f AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS ok_len,
               CASE WHEN n_chars_nws * 1.0 / n_words BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS ok_mwl,
               CASE WHEN (n_hash + n_ellipsis) * 1.0 / n_words < CAST(0.1 AS DOUBLE) THEN 1 ELSE 0 END AS ok_sym,
               CASE WHEN n_alpha_words * 1.0 / n_words >= CAST(0.8 AS DOUBLE) THEN 1 ELSE 0 END AS ok_alpha,
               CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS ok_stop
        FROM m
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,"""
    rules = _GOPHER_RULES
    parts = []
    for i, r in enumerate(rules):
        others = " + ".join(o for o in rules if o != r)
        prior = " * ".join(rules[:i]) if i else "1"
        parts.append(
            f"CAST(SUM(1 - {r}) AS BIGINT) AS alone_{r},\n"
            f"           CAST(SUM(CASE WHEN {r} = 0 AND {others} = 4"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS sole_{r},\n"
            f"           CAST(SUM(CASE WHEN {r} = 0 AND {prior} = 1"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS chain_{r}"
        )
    flags += "\n           " + ",\n           ".join(parts) + "\n        FROM f\n    )"
    branches = "\n    UNION ALL ".join(
        f"SELECT {i + 1} AS rule_order, '{r}' AS rule, n_docs,"
        f" alone_{r} AS alone_kills, sole_{r} AS sole_kills,"
        f" chain_{r} AS chain_kills FROM s"
        for i, r in enumerate(rules)
    )
    return flags + "\n    " + branches


@register(
    "curation_rule_ablation",
    oracle=_ablation_oracle_sql(),
    doc="Ablation report over the Gopher quality rules: per rule, how "
    "many documents it kills ALONE (ignoring other rules), how many "
    "it is the SOLE killer of (the docs the corpus regains if the "
    "rule is dropped — its true marginal cost), and how many it "
    "kills FIRST in the canonical chain order (the attribution "
    "quality_gopher_rules' first-failing chains report at scale) — "
    "the standard curation workflow for tuning a rule stack before "
    "a 100 TB run. Reuses gopher_flags verbatim, so the flags can "
    "never drift from the shipped filter; all counts are exact "
    "integer sums off ONE map-side-combined pass.",
)
def curation_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one per-row flag projection (pure codegen map),
    one 1-row aggregate carrying 3 sums per rule, a 5-row stack —
    no shuffle beyond the single reduce."""
    f = gopher_flags(load_fixture(spark, sf_dir, "documents"))
    rules = _GOPHER_RULES
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    for i, r in enumerate(rules):
        others = [o for o in rules if o != r]
        aggs.append(F.sum(1 - F.col(r)).cast("bigint").alias(f"alone_{r}"))
        aggs.append(
            F.sum(
                F.when(
                    (F.col(r) == 0)
                    & (sum(F.col(o) for o in others) == len(others)),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"sole_{r}")
        )
        prior_ok = (
            (sum(F.col(o) for o in rules[:i]) == i) if i else F.lit(True)
        )
        aggs.append(
            F.sum(F.when((F.col(r) == 0) & prior_ok, 1).otherwise(0))
            .cast("bigint")
            .alias(f"chain_{r}")
        )
    s = f.agg(*aggs)
    stack = ", ".join(
        f"{i + 1}, '{r}', alone_{r}, sole_{r}, chain_{r}"
        for i, r in enumerate(rules)
    )
    return s.selectExpr(
        "n_docs",
        f"stack({len(rules)}, {stack})"
        " AS (rule_order, rule, alone_kills, sole_kills, chain_kills)",
    ).selectExpr(
        "CAST(rule_order AS INT) AS rule_order",
        "rule",
        "n_docs",
        "alone_kills",
        "sole_kills",
        "chain_kills",
    )


@register(
    "text_entropy_rate",
    oracle="""
    WITH pg AS (
        SELECT source,
               unnest(list_transform(range(1, length(lower(text))),
                                     i -> substr(lower(text), CAST(i AS INT), 2)))
                   AS pair
        FROM documents WHERE length(text) >= 2
    ),
    pc AS (
        SELECT source, pair, CAST(COUNT(*) AS BIGINT) AS c
        FROM pg GROUP BY source, pair
    ),
    mc AS (
        SELECT source, substr(pair, 1, 1) AS c1, CAST(SUM(c) AS BIGINT) AS c
        FROM pc GROUP BY source, substr(pair, 1, 1)
    ),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM pc GROUP BY source),
    hp AS (
        SELECT pc.source,
               SUM(CAST(ROUND(-(CAST(pc.c AS DOUBLE) / CAST(t.n AS DOUBLE))
                   * ln(CAST(pc.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 9)
                   AS DECIMAL(18,9))) AS h
        FROM pc JOIN tot t ON t.source = pc.source
        GROUP BY pc.source
    ),
    h1 AS (
        SELECT mc.source,
               SUM(CAST(ROUND(-(CAST(mc.c AS DOUBLE) / CAST(t.n AS DOUBLE))
                   * ln(CAST(mc.c AS DOUBLE) / CAST(t.n AS DOUBLE)), 9)
                   AS DECIMAL(18,9))) AS h
        FROM mc JOIN tot t ON t.source = mc.source
        GROUP BY mc.source
    )
    SELECT t.source, t.n AS n_pairs,
           ROUND(CAST(h1.h AS DOUBLE)
                 / CAST(0.6931471805599453 AS DOUBLE), 6) AS unigram_bits,
           ROUND(CAST(hp.h AS DOUBLE)
                 / CAST(0.6931471805599453 AS DOUBLE), 6) AS pair_bits,
           ROUND((CAST(hp.h AS DOUBLE) - CAST(h1.h AS DOUBLE))
                 / CAST(0.6931471805599453 AS DOUBLE), 6) AS cond_bits
    FROM tot t JOIN hp ON hp.source = t.source JOIN h1 ON h1.source = t.source
    """,
    doc="Character-level entropy rate per source: H(next char | char) "
    "= H(bigram) - H(unigram) over the pooled lowercased text — the "
    "information-theoretic compressibility estimate (Shannon's "
    "English-entropy experiment at order 1) that separates natural "
    "prose (~3 bits) from templated/generated boilerplate (low) and "
    "random noise (high); pairs with text_char_entropy (per-doc "
    "order-0) and text_compression_ratio (empirical). Pair counts "
    "collapse to the <=|alphabet|^2 cell relation per source, each "
    "-p ln p term is one identical double sequence rounded to 9 dp "
    "and DECIMAL-summed, /ln2 by literal constant; the unigram "
    "marginal derives from the SAME pair relation (first char), so "
    "the conditional identity is exact by construction.",
)
def text_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one explode-to-pairs map (linear in corpus chars),
    one map-side-combined aggregate to bounded cells, catalog-sized
    joins after — nothing downstream is data-sized."""
    from ..plans.hints import rebalance_scan

    # rebalance ahead of the pair explode: the single-split fixture scan
    # ran the whole 5M-row explode+combine one-task (plans/hints.py)
    d = rebalance_scan(
        load_fixture(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    )
    pg = d.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, length(lower(text)) - 1),"
                " i -> substring(lower(text), i, 2))"
            )
        ).alias("pair"),
    )
    pc = cut(pg.groupBy("source", "pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ))
    mc = pc.groupBy("source", F.expr("substr(pair, 1, 1)").alias("c1")).agg(
        F.sum("c").cast("bigint").alias("c")
    )
    tot = pc.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    term = (
        "CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
        " * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9))"
    )
    hp = (
        pc.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(F.sum(F.expr(term)).alias("hp"))
    )
    h1 = (
        mc.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(F.sum(F.expr(term)).alias("h1"))
    )
    return (
        tot.join(F.broadcast(hp), "source")
        .join(F.broadcast(h1), "source")
        .selectExpr(
            "source",
            "n AS n_pairs",
            "ROUND(CAST(h1 AS DOUBLE)"
            " / CAST(0.6931471805599453 AS DOUBLE), 6) AS unigram_bits",
            "ROUND(CAST(hp AS DOUBLE)"
            " / CAST(0.6931471805599453 AS DOUBLE), 6) AS pair_bits",
            "ROUND((CAST(hp AS DOUBLE) - CAST(h1 AS DOUBLE))"
            " / CAST(0.6931471805599453 AS DOUBLE), 6) AS cond_bits",
        )
    )


@register(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dis,
           CAST((2 * CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                          AS HUGEINT) * 1000000 + COUNT(*))
                // (2 * CAST(COUNT(*) AS HUGEINT)) AS BIGINT)
               AS hapax_ratio_micro
    FROM vocab GROUP BY source
    """,
    doc="Hapax legomenon profile per source: vocabulary size, words "
    "seen exactly once (hapax) and exactly twice (dis legomena), and "
    "the hapax share in exact half-away micro units — the "
    "productivity/quality signal that pairs with text_heaps_law and "
    "text_zipf_slope (a scraped-boilerplate source has a collapsed "
    "hapax share; OCR noise inflates it; natural prose sits near "
    "40-60% under Zipf). Tokenization is the index_terms regex; the "
    "corpus collapses to the (source, word, freq) vocabulary relation "
    "in one map-side-combined pass, all counts exact, no doubles.",
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one explode-tokenize map, one combine-heavy shuffle
    to the vocabulary relation, one |sources|-row aggregate. NO
    rebalance_scan: the tokenize explode is one cheap regex per row —
    repartitioning first shuffles the text payload for parallelism the
    explode doesn't need (measured r12: the rebalance REGRESSED this
    query 0.45 -> 0.89 s; reverted r13)."""
    d = load_fixture(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w"),
    )
    vocab = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    return vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.sum(F.when(F.col("freq") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dis"),
        F.expr(
            "CAST((2 * CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)"
            " AS DECIMAL(19,0)) * 1000000 + COUNT(*))"
            " div (2 * CAST(COUNT(*) AS DECIMAL(19,0))) AS BIGINT)"
        ).alias("hapax_ratio_micro"),
    )


# Shared 8-word block CTE fragment for the two source-level block audits
# below (the dedup_paragraphs construction, per-source view).
_SRC_BLOCK_CTE = """
    w AS (
        SELECT doc_id, source,
               string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents
    ),
    blk0 AS (
        SELECT doc_id, source, unnest(
            [array_to_string(ws[(j*8+1):(j*8+8)], ' ')
             for j in range(0, CAST(ceil(len(ws)/8.0) AS BIGINT))]) AS block
        FROM w
    )"""


def _spark_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, source, block): the dedup_paragraphs 8-word block cut,
    carrying the source column."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    nblk = F.ceil(F.size(F.col("ws")) / F.lit(8)).cast("int")
    return docs.select("doc_id", "source", words.alias("ws")).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), nblk - F.lit(1)),
                lambda j: F.array_join(
                    F.slice("ws", j * 8 + F.lit(1), F.lit(8)), " "
                ),
            )
        ).alias("block"),
    )


# --- at-rest per-source block-occurrence artifact (the at-rest
# treatment applied to the 8-word block family). Profiled at sf0.1: the
# block cut + (source, block) aggregate is 1.02 s of
# text_source_boilerplate_share's 1.38 s (74%) and of
# text_cross_source_contamination's 1.64 s (62%) — the stage DOMINATES
# both consumers, the situation the kNN/recs/component artifacts were
# built for. (dedup_ngram_prefix_filter was profiled too and stays
# as-is: its 3-gram shingle stage is 0.91 s of 11.52 s = 8% — the cost
# is the inherent global df-order + prefix shuffle; BENCHNOTES r12.)
# The artifact holds the AGGREGATED (source, block, n_inst, nd)
# relation — boilerplate rolls it up per source, contamination joins
# its key set — keyed by documents.parquet identity + version + the
# spec hash; lifecycle in operators/artifacts.py.
_BLOCKS_SPEC = f"""
    WITH {_SRC_BLOCK_CTE},
    occ AS (
        SELECT source, block, CAST(COUNT(*) AS BIGINT) AS n_inst,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        FROM blk0 GROUP BY source, block
    )
    SELECT source, block, n_inst, nd FROM occ
    """
_BLOCKS_BUILD_VERSION = "v1"  # bump when the block-occ construction changes


def _blocks_artifact_dir(sf_dir: str) -> str:
    import os

    from ..operators.artifacts import artifact_dir

    return artifact_dir(
        "text_blocks",
        os.path.join(sf_dir, "documents.parquet"),
        _BLOCKS_BUILD_VERSION,
        _BLOCKS_SPEC,
    )


def _blocks_shape_summary(occ: DataFrame) -> DataFrame:
    """Shape-row builder for the block-occ artifact: computed from the
    published parquet at publish time, served as an O(1) one-row scan
    by text_blocks_materialize. Columns and types mirror the
    materialize oracle exactly."""
    return occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_block_keys"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_inst").cast("bigint").alias("n_block_instances"),
        F.sum("nd").cast("bigint").alias("sum_doc_hits"),
        F.sum(F.when(F.col("nd") >= 2, F.col("n_inst")).otherwise(0))
        .cast("bigint")
        .alias("n_boilerplate_instances"),
    )


def _blocks_occ_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, block, n_inst, nd) block-occurrence relation served from
    the at-rest parquet artifact, building once per fixture (see
    operators/artifacts.py for the lifecycle)."""
    import os

    from ..operators.artifacts import serve_at_rest

    def build() -> DataFrame:
        blocks = _spark_blocks(load_fixture(spark, sf_dir, "documents"))
        return blocks.groupBy("source", "block").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_inst"),
            F.countDistinct("doc_id").cast("bigint").alias("nd"),
        )

    return serve_at_rest(
        spark,
        "text_blocks",
        os.path.join(sf_dir, "documents.parquet"),
        _BLOCKS_BUILD_VERSION,
        _BLOCKS_SPEC,
        build,
        summary=_blocks_shape_summary,
    )


@register(
    "text_blocks_materialize",
    oracle=f"""
    WITH {_SRC_BLOCK_CTE},
    occ AS (
        SELECT source, block, CAST(COUNT(*) AS BIGINT) AS n_inst,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        FROM blk0 GROUP BY source, block
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_block_keys,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_inst) AS BIGINT) AS n_block_instances,
           CAST(SUM(nd) AS BIGINT) AS sum_doc_hits,
           CAST(SUM(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END) AS BIGINT)
               AS n_boilerplate_instances
    FROM occ
    """,
    doc="Build (or reuse) the at-rest per-source 8-word block-occurrence "
    "artifact and report its shape — the text family's index-build op, "
    "the block analogue of graph_knn_materialize: the r12 profile "
    "showed the block cut + (source, block) aggregate is 62-74% of "
    "both block-audit consumers, so it's built once per fixture and "
    "scanned (text_source_boilerplate_share rolls it up per source; "
    "text_cross_source_contamination joins its key set). The shape "
    "row is computed FROM the published parquet AT PUBLISH and served "
    "as an O(1) one-row scan; tests/test_artifact_summaries.py "
    "recounts the full artifact and asserts agreement. sum_doc_hits "
    "and the instance counts are content-sensitive checksums.",
)
def text_blocks_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the block cut + (source, block) aggregate runs at
    most once per fixture; steady-state serves are a one-row scan of
    the published shape summary."""
    import os

    from ..operators.artifacts import serve_summary_at_rest

    def build() -> DataFrame:
        blocks = _spark_blocks(load_fixture(spark, sf_dir, "documents"))
        return blocks.groupBy("source", "block").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_inst"),
            F.countDistinct("doc_id").cast("bigint").alias("nd"),
        )

    return serve_summary_at_rest(
        spark,
        "text_blocks",
        os.path.join(sf_dir, "documents.parquet"),
        _BLOCKS_BUILD_VERSION,
        _BLOCKS_SPEC,
        build,
        _blocks_shape_summary,
    )


@register(
    "text_source_boilerplate_share",
    oracle=f"""
    WITH {_SRC_BLOCK_CTE},
    occ AS (
        SELECT source, block, COUNT(*) AS n_inst,
               COUNT(DISTINCT doc_id) AS nd
        FROM blk0 GROUP BY source, block
    )
    SELECT source,
           CAST(SUM(n_inst) AS BIGINT) AS n_blocks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_blocks,
           CAST(SUM(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END) AS BIGINT)
               AS n_boilerplate_instances,
           CAST((2 * CAST(SUM(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END)
                          AS HUGEINT) * 1000000 + SUM(n_inst))
                // (2 * CAST(SUM(n_inst) AS HUGEINT)) AS BIGINT)
               AS boilerplate_share_micro
    FROM occ GROUP BY source
    """,
    doc="Per-SOURCE boilerplate share (the CCNet/C4 domain-local "
    "discipline: headers, footers and templates repeat within a "
    "domain, so boilerplate is detected per source, not globally): an "
    "8-word block — the dedup_paragraphs cut — is boilerplate when it "
    "appears in >= 2 DISTINCT documents of the SAME source; the share "
    "counts block INSTANCES so a template pasted into many docs weighs "
    "by its mass. Complements dedup_paragraphs (global occ > 1 "
    "removal): this is the per-domain report a curation pass reads to "
    "decide WHICH sources need boilerplate stripping. Exact integer "
    "counts; share is half-away micro under HUGEINT/DECIMAL(38,0).",
)
def text_source_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the (source, block) aggregate is served from the
    at-rest block-occ artifact (built once per fixture — r12, the stage
    was 74% of this query's cost); what remains is a |sources|-row
    rollup over the artifact scan. At 100 TB the block key shuffles as
    md5 — the paragraph_dedup note."""
    occ = _blocks_occ_at_rest(spark, sf_dir)
    return occ.groupBy("source").agg(
        F.sum("n_inst").cast("bigint").alias("n_blocks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_blocks"),
        F.sum(F.when(F.col("nd") >= 2, F.col("n_inst")).otherwise(0))
        .cast("bigint")
        .alias("n_boilerplate_instances"),
        F.expr(
            "CAST((2 * CAST(SUM(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000 + SUM(n_inst))"
            " div (2 * CAST(SUM(n_inst) AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("boilerplate_share_micro"),
    )


@register(
    "text_cross_source_contamination",
    oracle=f"""
    WITH {_SRC_BLOCK_CTE},
    blk AS (SELECT DISTINCT source, block FROM blk0),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nb FROM blk
           GROUP BY source),
    sh AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM blk a JOIN blk b ON a.block = b.block AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_shared,
           CAST((2 * CAST(n_shared AS HUGEINT) * 1000000
                 + LEAST(sa.nb, sb.nb))
                // (2 * CAST(LEAST(sa.nb, sb.nb) AS HUGEINT)) AS BIGINT)
               AS containment_micro,
           CAST((2 * CAST(n_shared AS HUGEINT) * 1000000
                 + (sa.nb + sb.nb - n_shared))
                // (2 * CAST(sa.nb + sb.nb - n_shared AS HUGEINT)) AS BIGINT)
               AS jaccard_micro
    FROM sh
    JOIN sz sa ON sa.source = src_a
    JOIN sz sb ON sb.source = src_b
    """,
    doc="Cross-source contamination matrix: for every source pair "
    "sharing at least one distinct 8-word block (the dedup_paragraphs "
    "cut), the shared-block count, the containment (shared over the "
    "SMALLER source's block set — the decontamination-relevant "
    "direction: a small source largely contained in a big one is a "
    "copy, whatever the Jaccard says) and the Jaccard. The "
    "source-pair rollup of decontaminate_ngrams' doc-level check — "
    "what a corpus audit reads to find mirror domains and "
    "train/benchmark leaks between corpus slices. Exact integer set "
    "algebra; ratios are half-away micro under HUGEINT/DECIMAL(38,0).",
)
def text_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the distinct (source, block) relation is the key
    set of the at-rest block-occ artifact (built once per fixture —
    r12, the stage was 62% of this query's cost); what remains is the
    block-key equi-join emitting only co-occurring source pairs (never
    the |sources|^2 cross) and a broadcast size join on the
    |sources|-row relation."""
    blk = _blocks_occ_at_rest(spark, sf_dir).select("source", "block")
    sz = blk.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    a = blk.select(F.col("source").alias("src_a"), "block")
    b = blk.select(F.col("source").alias("src_b"), "block")
    sh = (
        a.join(b, "block")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("nb").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("nb").alias("nbb"))
    return (
        sh.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .selectExpr(
            "src_a",
            "src_b",
            "n_shared",
            "CAST((2 * CAST(n_shared AS DECIMAL(38,0)) * 1000000"
            " + LEAST(na, nbb))"
            " div (2 * CAST(LEAST(na, nbb) AS DECIMAL(38,0))) AS BIGINT)"
            " AS containment_micro",
            "CAST((2 * CAST(n_shared AS DECIMAL(38,0)) * 1000000"
            " + (na + nbb - n_shared))"
            " div (2 * CAST(na + nbb - n_shared AS DECIMAL(38,0))) AS BIGINT)"
            " AS jaccard_micro",
        )
    )


@register(
    "text_source_style_divergence",
    oracle="""
    WITH t AS (
        SELECT source, lower(trim(text)) AS s FROM documents
        WHERE len(lower(trim(text))) >= 2
    ),
    bg AS (
        SELECT source, substr(s, i, 2) AS g
        FROM t, LATERAL (SELECT unnest(range(1, len(s))) AS i)
    ),
    cp AS (
        SELECT source, g, CAST(COUNT(*) AS BIGINT) AS cp
        FROM bg GROUP BY source, g
    ),
    cq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cq FROM bg GROUP BY g),
    np AS (SELECT source, CAST(SUM(cp) AS BIGINT) AS np FROM cp
           GROUP BY source),
    nq AS (SELECT CAST(SUM(cq) AS BIGINT) AS nq FROM cq),
    cells AS (
        SELECT s.source, COALESCE(p.cp, 0) AS cp, q.cq, n.np, (SELECT nq FROM nq) AS nq
        FROM (SELECT DISTINCT source FROM t) s
        CROSS JOIN cq q
        LEFT JOIN cp p ON p.source = s.source AND p.g = q.g
        JOIN np n ON n.source = s.source
    ),
    terms AS (
        SELECT source, np,
            SUM(CAST(ROUND(CASE WHEN cp > 0 THEN
                (CAST(cp AS DOUBLE) / CAST(np AS DOUBLE))
                * ln(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                     / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
                        + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)))
                ELSE 0.0 END, 9) AS DECIMAL(18,9))) AS sp,
            SUM(CAST(ROUND(
                (CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE))
                * ln(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                     / (CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
                        + CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE))), 9)
                AS DECIMAL(18,9))) AS sq
        FROM cells GROUP BY source, np
    )
    SELECT source, np AS n_bigrams,
           ROUND((CAST(sp AS DOUBLE) + CAST(sq AS DOUBLE)) * 0.5
                 / CAST(0.6931471805599453 AS DOUBLE), 6) AS jsd_vs_corpus
    FROM terms
    """,
    doc="Per-source style drift: Jensen-Shannon divergence (bits) "
    "between each source's character-BIGRAM distribution and the whole "
    "corpus's — the domain-mix / style-outlier audit a curation pass "
    "reads before weighting sources (char n-gram distributions are "
    "the classic cheap style fingerprint; an OCR-garbled or "
    "foreign-language domain jumps out without any model). The "
    "agg_jensen_shannon discipline, per source: each KL term's ln "
    "argument is a ratio of exact-integer products in ONE identical "
    "double sequence (2*cp*nq / (cp*nq + cq*np)), rounded to 9 dp and "
    "DECIMAL-summed order-independently, /ln2 as the literal constant. "
    "Integer products stay double-exact below ~2^53 (cp*nq ~ 7e15 at "
    "the 64x fixture — inside; a real 10^9-doc corpus scales counts "
    "to per-mille integers first).",
)
def text_source_style_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one positional explode of the text column (bigram
    cells shuffle as (source, 2-char) pairs with map-side combine —
    documents travel once), a |bigrams|-row broadcast join per side,
    one |sources|-row reduce."""
    from ..plans.hints import rebalance_scan

    t = (
        rebalance_scan(load_fixture(spark, sf_dir, "documents"))
        .select("source", F.lower(F.trim(F.col("text"))).alias("s"))
        # F.sequence(1, len-1) DESCENDS when len(s) <= 1
        # ([1,0] / [1,0,-1]) and would emit spurious bigram rows while
        # the oracle's range(1, len(s)) is empty — guard both engines
        # identically (the text_entropy_rate discipline).
        .filter(F.length("s") >= 2)
    )
    bg = t.select(
        "source",
        F.explode(F.sequence(F.lit(1), F.length("s") - 1)).alias("i"),
        "s",
    ).select("source", F.expr("substr(s, i, 2)").alias("g"))
    cp = bg.groupBy("source", "g").agg(F.count(F.lit(1)).cast("bigint").alias("cp"))
    # cq is the source-marginal of cp: summing the combined cells costs a
    # |cells|-row pass instead of re-running the 5M-row explode a second
    # time (cp feeds it through a lazy checkpoint cut)
    cp = cut(cp, eager=False)
    cq = cp.groupBy("g").agg(F.sum("cp").cast("bigint").alias("cq"))
    np_ = cp.groupBy("source").agg(F.sum("cp").cast("bigint").alias("np"))
    nq = cq.agg(F.sum("cq").cast("bigint").alias("nq"))
    srcs = t.select("source").distinct()
    cells = (
        srcs.crossJoin(F.broadcast(cq))
        .join(cp, ["source", "g"], "left")
        .join(F.broadcast(np_), "source")
        .crossJoin(F.broadcast(nq))
        .select(
            "source",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            "cq",
            "np",
            "nq",
        )
    )
    terms = cells.groupBy("source", "np").agg(
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
                "CAST(ROUND("
                " (CAST(cq AS DOUBLE) / CAST(nq AS DOUBLE))"
                " * ln(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)"
                " / (CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)"
                " + CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE))), 9)"
                " AS DECIMAL(18,9))"
            )
        ).alias("sq"),
    )
    return terms.selectExpr(
        "source",
        "np AS n_bigrams",
        "ROUND((CAST(sp AS DOUBLE) + CAST(sq AS DOUBLE)) * 0.5"
        " / CAST(0.6931471805599453 AS DOUBLE), 6) AS jsd_vs_corpus",
    )


@register(
    "text_simpson_diversity",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents
    ),
    c AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    ),
    s AS (
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS ss
        FROM c GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           CAST((2 * ss * 1000000
                 + CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                // NULLIF(2 * CAST(n_tokens AS HUGEINT) * (n_tokens - 1), 0)
                AS BIGINT) AS simpson_d_micro,
           CAST((2 * (CAST(n_tokens AS HUGEINT) * (n_tokens - 1) - ss)
                   * 1000000
                 + CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
                // NULLIF(2 * CAST(n_tokens AS HUGEINT) * (n_tokens - 1), 0)
                AS BIGINT) AS diversity_micro,
           CAST((2 * CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 1000000
                 + ss) // NULLIF(2 * ss, 0) AS BIGINT)
               AS effective_types_micro
    FROM s
    """,
    doc="Simpson diversity per source over word tokens: the UNBIASED "
    "Simpson index D = sum c(c-1) / (n(n-1)) — the probability two "
    "tokens drawn without replacement are the same type — plus 1-D "
    "(Simpson diversity) and 1/D (the effective number of equally-"
    "common types, the 'true diversity' of order 2). The dominance-"
    "weighted companion to quality_ttr_lexical_diversity (TTR counts "
    "types equally; Simpson is driven by the head of the frequency "
    "distribution, so a source spamming one word collapses here long "
    "before its TTR moves) — the corpus-mix view used to flag "
    "template/spam domains. Pure exact integer identities half-away "
    "in micro under HUGEINT/DECIMAL(38,0); single-token or "
    "no-repeat degenerate sources NULL via NULLIF.",
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (source, word) shuffle with map-side combine
    (the word_freq_topk exchange), then a |sources|-row rollup."""
    tok = load_fixture(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w"),
    )
    c = tok.groupBy("source", "w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    s = c.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * (c - 1)"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    return s.selectExpr(
        "source",
        "n_tokens",
        "n_types",
        "CAST((2 * ss * 1000000"
        " + CAST(n_tokens AS DECIMAL(19,0)) * (n_tokens - 1))"
        " div NULLIF(2 * CAST(n_tokens AS DECIMAL(19,0)) * (n_tokens - 1), 0)"
        " AS BIGINT) AS simpson_d_micro",
        "CAST((2 * (CAST(n_tokens AS DECIMAL(19,0)) * (n_tokens - 1) - ss)"
        " * 1000000"
        " + CAST(n_tokens AS DECIMAL(19,0)) * (n_tokens - 1))"
        " div NULLIF(2 * CAST(n_tokens AS DECIMAL(19,0)) * (n_tokens - 1), 0)"
        " AS BIGINT) AS diversity_micro",
        "CAST((2 * CAST(n_tokens AS DECIMAL(19,0)) * (n_tokens - 1) * 1000000"
        " + ss) div NULLIF(2 * ss, 0) AS BIGINT) AS effective_types_micro",
    )


@register(
    "text_ocr_garbage_score",
    oracle="""
    WITH s AS (
        SELECT doc_id, lower(text) AS t, CAST(len(text) AS BIGINT) AS n
        FROM documents
    ),
    m AS (
        SELECT doc_id, n,
               CAST(n - len(translate(t, 'abcdefghijklmnopqrstuvwxyz', ''))
                    AS BIGINT) AS letters,
               CAST(n - len(translate(t, 'aeiou', '')) AS BIGINT) AS vowels,
               CAST(len(translate(t,
                   'abcdefghijklmnopqrstuvwxyz0123456789 '
                   || chr(9) || chr(10) || chr(13) || chr(11) || chr(12),
                   '')) AS BIGINT) AS symbols,
               regexp_matches(t, '[b-df-hj-np-tv-z]{8}')
                   AS has_consonant_run8
        FROM s
    )
    SELECT doc_id, n AS n_chars_raw, symbols AS n_symbols,
           has_consonant_run8,
           CAST((2 * CAST(symbols AS HUGEINT) * 1000000 + n)
                // NULLIF(2 * CAST(n AS HUGEINT), 0) AS BIGINT)
               AS symbol_ratio_micro,
           CAST((2 * CAST(vowels AS HUGEINT) * 1000000 + letters)
                // NULLIF(2 * CAST(letters AS HUGEINT), 0) AS BIGINT)
               AS vowel_ratio_micro,
           (n > 0 AND (20 * symbols > n OR has_consonant_run8
                       OR letters = 0 OR 5 * vowels < letters))
               AS is_garbage
    FROM m
    """,
    doc="OCR/mojibake garbage scorer per document — the rule-based "
    "non-linguistic-text detector of the curation ladder (beside the "
    "statistical quality_* family: OCR noise shows up as symbol "
    "density, vowel-starved letter runs and long consonant clusters "
    "before any model or language profile notices): symbol share "
    "(chars outside [a-z0-9 whitespace] after lowercasing), vowel "
    "share of letters, and a consonant-run-of-8 detector. Garbage iff "
    "symbols > 5% of chars, a consonant run >= 8, no letters at all, "
    "or vowels < 20% of letters — every numeric threshold an exact "
    "INTEGER cross-multiplication (20*symbols > n, 5*vowels < "
    "letters), so no float boundary exists; ratios are half-away "
    "micro with NULLIF degenerate guards (empty text, letterless "
    "text). Char counts use translate (plain char-set deletion) and "
    "the run detector a single anchored-DFA search — the regex-"
    "split-and-measure form cost 2.44 s of the 3.50 s 8x leg for a "
    "value the rule only ever thresholds (BENCHNOTES r12).",
)
def text_ocr_garbage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: stateless per-document projection — regexp counts
    and one bounded split, all map-side; no shuffle at all."""
    d = load_fixture(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.lower(F.col("text")).alias("t"),
        F.length("text").cast("bigint").alias("n"),
    )
    # translate (plain char-set deletion) instead of regexp_replace for
    # the three count columns: the regex form measured 3.95x per 8x data
    # (linear per-char regex cost dominating the map stage); translate
    # re-measured 1.5x. The whitespace set is spelled out because Java
    # and RE2 agree \s = [ \t\n\x0b\f\r] ASCII-only.
    m = s.select(
        "doc_id",
        "n",
        (F.col("n") - F.length(F.translate("t", "abcdefghijklmnopqrstuvwxyz", "")))
        .cast("bigint")
        .alias("letters"),
        (F.col("n") - F.length(F.translate("t", "aeiou", "")))
        .cast("bigint")
        .alias("vowels"),
        F.length(
            F.translate(
                "t", "abcdefghijklmnopqrstuvwxyz0123456789 \t\n\r\x0b\x0c", ""
            )
        )
        .cast("bigint")
        .alias("symbols"),
        F.col("t").rlike("[b-df-hj-np-tv-z]{8}").alias("has_consonant_run8"),
    )
    return m.selectExpr(
        "doc_id",
        "n AS n_chars_raw",
        "symbols AS n_symbols",
        "has_consonant_run8",
        "CAST((2 * CAST(symbols AS DECIMAL(19,0)) * 1000000 + n)"
        " div NULLIF(2 * CAST(n AS DECIMAL(19,0)), 0) AS BIGINT)"
        " AS symbol_ratio_micro",
        "CAST((2 * CAST(vowels AS DECIMAL(19,0)) * 1000000 + letters)"
        " div NULLIF(2 * CAST(letters AS DECIMAL(19,0)), 0) AS BIGINT)"
        " AS vowel_ratio_micro",
        "(n > 0 AND (20 * symbols > n OR has_consonant_run8"
        " OR letters = 0 OR 5 * vowels < letters)) AS is_garbage",
    )


@register(
    "text_yule_k",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY source, w
    ),
    s AS (
        SELECT source,
               CAST(SUM(freq) AS BIGINT) AS n_tok,
               CAST(COUNT(*) AS BIGINT) AS v_types,
               CAST(SUM(CAST(freq AS HUGEINT) * freq) AS HUGEINT) AS f2
        FROM vocab GROUP BY source
    )
    SELECT source, n_tok AS n_tokens, v_types AS vocab_size,
           ROUND(10000.0 * (CAST(f2 AS DOUBLE) - CAST(n_tok AS DOUBLE))
                 / NULLIF(CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE),
                          0.0), 6) AS yule_k
    FROM s ORDER BY source
    """,
    doc="Yule's characteristic K per source: K = 10^4 (sum f^2 - N) / "
    "N^2 over the token frequency spectrum — the LENGTH-INVARIANT "
    "vocabulary-repetitiveness constant (TTR falls with corpus size; "
    "K does not), the standard stylometric repetition gauge beside "
    "text_hapax_ratio (hapax reads the spectrum's head at m=1, K "
    "reads its whole second moment: template/boilerplate sources "
    "score high, natural prose ~100-200). Tokenization is the "
    "index_terms regex; sum f^2 is an exact HUGEINT/DECIMAL(38,0) "
    "integer off the vocabulary relation; K is one final double "
    "sequence, NULLIF-guarded on an empty source.",
)
def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one explode-tokenize map, one combine-heavy shuffle
    to the (source, word, freq) vocabulary relation, one |sources|-row
    aggregate — frequencies ride the shuffle, never token bodies. NO
    rebalance_scan: same cheap-tokenize shape as text_hapax_ratio, where
    the r12 rebalance measured as a 2x regression (reverted r13)."""
    d = load_fixture(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w"),
    )
    vocab = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    s = vocab.groupBy("source").agg(
        F.sum("freq").cast("bigint").alias("n_tok"),
        F.count(F.lit(1)).cast("bigint").alias("v_types"),
        F.sum(F.expr("CAST(freq AS DECIMAL(19,0)) * freq"))
        .cast("decimal(38,0)")
        .alias("f2"),
    )
    return s.selectExpr(
        "source",
        "n_tok AS n_tokens",
        "v_types AS vocab_size",
        "ROUND(10000.0 * (CAST(f2 AS DOUBLE) - CAST(n_tok AS DOUBLE))"
        " / NULLIF(CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE), 0.0), 6)"
        " AS yule_k",
    ).orderBy("source")


@register(
    "text_msttr",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    p AS (SELECT doc_id, source, unnest(range(1, len(toks)+1)) AS pos, toks
          FROM t),
    w AS (SELECT doc_id, source, (pos - 1) // 50 AS seg, toks[pos] AS term
          FROM p),
    segsize AS (
        SELECT doc_id, source, seg, CAST(COUNT(*) AS BIGINT) AS sz
        FROM w GROUP BY doc_id, source, seg
    ),
    dist AS (
        SELECT doc_id, source, seg,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS types
        FROM w GROUP BY doc_id, source, seg
    ),
    full_segs AS (
        SELECT d.source, d.types
        FROM dist d JOIN segsize s
          ON s.doc_id = d.doc_id AND s.seg = d.seg
        WHERE s.sz = 50
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST((2 * CAST(SUM(types) AS HUGEINT) * 1000000
                 + COUNT(*) * 50)
                // (2 * CAST(COUNT(*) AS HUGEINT) * 50) AS BIGINT)
               AS msttr_micro
    FROM full_segs GROUP BY source ORDER BY source
    """,
    doc="Mean segmental type-token ratio (MSTTR-50) per source: cut "
    "each document into consecutive 50-token segments, drop the "
    "ragged tail (standard), average distinct-types/50 across "
    "segments — the length-controlled lexical-diversity measure that "
    "fixes raw TTR's document-length bias "
    "(quality_ttr_lexical_diversity) by fixing the window, the "
    "curation-side diversity gate. EXACT: segment membership is an "
    "integer position division, per-segment type counts are exact, "
    "and the average is the half-away micro integer division of "
    "sum(types) by 50*n_segments — no doubles anywhere.",
)
def text_msttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: tokenize-with-positions (one explode), one
    (doc, segment, term) distinct collapse, one (doc, segment)
    aggregate, one |sources|-row rollup — all map-side-combinable,
    token bodies never ride past the distinct collapse."""
    d = load_fixture(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("pos0", "term"),
    ).select(
        "doc_id",
        "source",
        F.expr("pos0 div 50").alias("seg"),
        "term",
    )
    segsize = toks.groupBy("doc_id", "source", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.countDistinct("term").cast("bigint").alias("types"),
    )
    full = segsize.filter(F.col("sz") == 50)
    return (
        full.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.expr(
                "CAST((2 * CAST(SUM(types) AS DECIMAL(19,0)) * 1000000"
                " + COUNT(*) * 50)"
                " div (2 * CAST(COUNT(*) AS DECIMAL(19,0)) * 50) AS BIGINT)"
            ).alias("msttr_micro"),
        )
        .orderBy("source")
    )


@register(
    "text_burrows_delta",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents
    ),
    cnt AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    ),
    ntot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS nt FROM cnt GROUP BY source
    ),
    top AS (
        SELECT w FROM (
            SELECT w, CAST(SUM(c) AS BIGINT) AS total FROM cnt GROUP BY w
        ) ORDER BY total DESC, w LIMIT 30
    ),
    grid AS (
        SELECT t.w, n.source, n.nt, COALESCE(c.c, 0) AS c
        FROM top t CROSS JOIN ntot n
        LEFT JOIN cnt c ON c.w = t.w AND c.source = n.source
    ),
    fm AS (
        SELECT w, source,
               CAST((2 * CAST(c AS HUGEINT) * 1000000000 + nt)
                    // (2 * CAST(nt AS HUGEINT)) AS BIGINT) AS f
        FROM grid
    ),
    ws AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS s,
               CAST(SUM(f) AS HUGEINT) AS sf,
               CAST(SUM(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sf2
        FROM fm GROUP BY w
    ),
    z AS (
        SELECT fm.w, fm.source,
               CASE WHEN ws.s * ws.sf2 - ws.sf * ws.sf = 0 THEN NULL
                    ELSE (CAST(ws.s AS DOUBLE) * CAST(fm.f AS DOUBLE)
                          - CAST(ws.sf AS DOUBLE))
                         / sqrt(CAST(ws.s AS DOUBLE) * CAST(ws.sf2 AS DOUBLE)
                                - CAST(ws.sf AS DOUBLE)
                                  * CAST(ws.sf AS DOUBLE))
               END AS zv
        FROM fm JOIN ws USING (w)
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CASE WHEN a.zv IS NULL THEN 0
                    ELSE CAST(floor(abs(a.zv - b.zv) * 1000000000.0 + 0.5)
                              AS BIGINT) END AS q
        FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    )
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_words,
           ROUND(CAST(SUM(q) AS DOUBLE) / 1000000000.0 / COUNT(*), 6)
               AS delta
    FROM pairs GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    doc="Burrows' delta stylometric distance between every source "
    "pair: take the corpus-wide 30 most frequent words (ties broken "
    "alphabetically), each source's relative frequency z-scored "
    "across sources (population sigma), delta = mean |z_a - z_b| — "
    "the classic authorship/style-attribution distance, here the "
    "register-drift audit between ingest sources that complements "
    "text_source_style_divergence's JS view with the standardized-"
    "frequency view Burrows designed for exactly this. DETERMINISM: "
    "relative frequencies are half-away NANO integer divisions "
    "(exact), per-word across-source moments are exact integer "
    "sums, each z is one identical double sequence, zero-variance "
    "words contribute 0 (documented), and |z_a - z_b| terms are "
    "nano-quantized back to integers before the pair sum — order-"
    "independent accumulation in both engines.",
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one tokenize + (source, word) count shuffle, a
    30-row broadcast top-k, a |sources| x 30 broadcast grid, and
    bounded reduces — the full-corpus scan happens exactly once."""
    from ..plans.hints import rebalance_scan

    d = rebalance_scan(load_fixture(spark, sf_dir, "documents"))
    tok = d.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("w"),
    )
    cnt = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cnt = cut(cnt)
    ntot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("nt"))
    top = (
        cnt.groupBy("w")
        .agg(F.sum("c").cast("bigint").alias("total"))
        .orderBy(F.col("total").desc(), "w")
        .limit(30)
        .select("w")
    )
    cnt_top = cnt.join(F.broadcast(top), "w")
    grid = (
        F.broadcast(top)
        .crossJoin(F.broadcast(ntot))
        .join(F.broadcast(cnt_top), ["w", "source"], "left")
        .select("w", "source", "nt", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    fm = grid.select(
        "w",
        "source",
        F.expr(
            "CAST((2 * CAST(c AS DECIMAL(19,0)) * 1000000000 + nt)"
            " div (2 * CAST(nt AS DECIMAL(19,0))) AS BIGINT)"
        ).alias("f"),
    )
    fm = cut(fm)
    ws = fm.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("s"),
        F.sum("f").cast("decimal(38,0)").alias("sf"),
        F.sum(F.expr("CAST(f AS DECIMAL(19,0)) * f"))
        .cast("decimal(38,0)")
        .alias("sf2"),
    )
    z = fm.join(F.broadcast(ws), "w").selectExpr(
        "w",
        "source",
        "CASE WHEN s * sf2 - sf * sf = 0 THEN NULL"
        " ELSE (CAST(s AS DOUBLE) * CAST(f AS DOUBLE) - CAST(sf AS DOUBLE))"
        " / sqrt(CAST(s AS DOUBLE) * CAST(sf2 AS DOUBLE)"
        " - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)) END AS zv",
    )
    a_ = z.select(
        F.col("w").alias("wa"), F.col("source").alias("source_a"),
        F.col("zv").alias("za"),
    )
    b_ = z.select(
        F.col("w").alias("wb"), F.col("source").alias("source_b"),
        F.col("zv").alias("zb"),
    )
    pairs = a_.join(
        F.broadcast(b_),
        (F.col("wa") == F.col("wb")) & (F.col("source_a") < F.col("source_b")),
    ).selectExpr(
        "source_a",
        "source_b",
        "CASE WHEN za IS NULL THEN 0"
        " ELSE CAST(floor(abs(za - zb) * 1000000000.0 + 0.5) AS BIGINT)"
        " END AS q",
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.expr(
                "ROUND(CAST(SUM(q) AS DOUBLE) / 1000000000.0 / COUNT(*), 6)"
            ).alias("delta"),
        )
        .orderBy("source_a", "source_b")
    )
