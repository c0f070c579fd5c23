"""Dataset-curation operators a large-scale training-data pipeline runs
between raw ingest and tokenization: benchmark decontamination, PII
redaction, repetition/diversity profiling, deterministic split sampling,
and MERGE-style incremental upsert.

All hot paths are JVM-side Column expressions or single-shuffle
aggregations — no Python in the data path. Scale notes per operator
docstring; every operator has a DuckDB-oracled registry entry in
cdw_spark/suite/datasetops.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import shingles
from ..plans.lineage import cut

# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate_against(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Remove corpus documents that share any word ``n``-gram with the
    benchmark set (eval-set contamination removal, the GPT-3/PaLM-style
    13-gram rule scaled down to the fixture vocabulary).

    Scale: the benchmark shingle set is bounded by the *benchmark* size
    (eval suites are MBs even when the corpus is 100 TB), so it is
    broadcast and both joins stay shuffle-free on the corpus side; the
    corpus is scanned once to explode shingles and once more for the
    anti-join on the contaminated-id set. For benchmark sets too large to
    broadcast, pass ``broadcast_benchmark=False`` and AQE picks the
    strategy; a Bloom-filter pushdown over the shingle hashes is the
    further fallback at extreme benchmark sizes.
    """
    from .dedup import _shingle_table

    # Arrow-vectorized shingling with the scan-parallelism guard (same
    # path and semantics as the dedup pipelines — equivalence to
    # functions.text.shingles is differentially tested there).
    bench_sh = _shingle_table(benchmark, text_col, id_col, n).select("sh").distinct()
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    corpus_sh = _shingle_table(corpus, text_col, id_col, n)
    contaminated = corpus_sh.join(bench_sh, "sh").select(id_col).distinct()
    return corpus.join(contaminated, id_col, "left_anti")


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# ASCII-only patterns chosen to evaluate identically under Java regex
# (Spark) and RE2 (DuckDB): no backreferences, no lookaround.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts_and_redact(col: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, redacted_text). Pure JVM regex — codegen'd,
    single pass per pattern, no shuffle."""
    n_emails = F.regexp_count(col, F.lit(EMAIL_RE)).cast("int")
    n_ips = F.regexp_count(col, F.lit(IPV4_RE)).cast("int")
    redacted = F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    return n_emails, n_ips, redacted


# ---------------------------------------------------------------------------
# Repetition / diversity profiling
# ---------------------------------------------------------------------------


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality rules):
    total words, distinct-word ratio (lexical diversity), and the mass
    fraction of the single most frequent word.

    Scale: one shuffle on (doc_id, word) with map-side partial
    aggregation; word *strings* shuffle once, then only per-doc counters.
    Skew-safe — a pathological document concentrates on one (doc, word)
    key but partial aggregation collapses it map-side.
    """
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = df.select(F.col(id_col), F.explode(w).alias("word"))
    per_word = tok.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt")
    return per_word.groupBy(id_col).agg(
        total.cast("long").alias("n_words"),
        F.round(F.count(F.lit(1)) / total.cast("double"), 6).alias("distinct_ratio"),
        F.round(F.max("cnt") / total.cast("double"), 6).alias("top_word_ratio"),
    )


# ---------------------------------------------------------------------------
# Deterministic split sampling
# ---------------------------------------------------------------------------


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    buckets: int = 1000,
    train_lt: int = 800,
    valid_lt: int = 900,
) -> DataFrame:
    """Deterministic, engine-independent train/valid/test assignment:
    bucket = first 16 bits of md5(id) mod ``buckets``. Stable across
    runs, engines, partitionings, and cluster sizes — the property that
    matters when the split must be reproducible over 100 TB re-ingests
    (builtin ``rand``/``xxhash64`` seeds are engine-specific; md5 is not).
    Pure projection: no shuffle, no state.
    """
    hx = F.md5(F.col(id_col).cast("string"))
    val = F.conv(F.substring(hx, 1, 4), 16, 10).cast("int")
    bucket = (val % buckets).alias("bucket")
    split = (
        F.when(val % buckets < train_lt, "train")
        .when(val % buckets < valid_lt, "valid")
        .otherwise("test")
        .alias("split")
    )
    return df.select(F.col(id_col), bucket, split)


# ---------------------------------------------------------------------------
# Training-sample assembly: tokenize -> chunk -> pack
# ---------------------------------------------------------------------------


def tokenize_to_vocab_ids(
    df: DataFrame,
    vocab_size: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Map each document to an array of integer token ids against a
    corpus-derived vocabulary: the ``vocab_size`` most frequent words
    (ties broken alphabetically) get dense ids 0..V-1 by rank; words off
    the vocabulary map to -1 (UNK).

    Scale: the vocabulary is an aggregation output of bounded size
    (vocab_size rows) — broadcast; token assignment is posexplode ->
    broadcast hash join -> re-assemble ordered by position. The shuffle
    carries (doc_id, pos, id) triples, never text bodies.
    """
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = df.select(F.col(id_col), F.posexplode(w).alias("pos", "word"))
    # Distributed top-k FIRST (orderBy+limit = per-partition top-k then
    # merge), THEN rank the k survivors with a window — a global window
    # over the full word cardinality would funnel it through one task.
    vw = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(vocab_size)
        .select("word", (F.row_number().over(vw) - 1).alias("tok_id"))
    )
    joined = tok.join(F.broadcast(vocab), "word", "left").select(
        id_col, "pos", F.coalesce("tok_id", F.lit(-1)).alias("tok_id")
    )
    return joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
            lambda s: s["tok_id"],
        ).alias("token_ids")
    )


def chunk_documents(
    df: DataFrame,
    chunk_len: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking of each document's token stream into
    training samples: windows of ``chunk_len`` words starting every
    ``stride`` (overlap = chunk_len - stride), last window truncated.

    Pure per-row explode (sequence -> slice -> digest) — embarrassingly
    parallel, no shuffle; output order is (doc, chunk_idx) deterministic.
    """
    w = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    d = df.select(F.col(id_col), w.alias("ws")).withColumn("n", F.size("ws"))
    d = d.select(
        id_col,
        "ws",
        "n",
        F.posexplode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / stride).cast("int"))
        ).alias("chunk_idx", "_s"),
    ).withColumn("chunk_start", F.col("chunk_idx") * stride)
    return d.filter(F.col("chunk_start") < F.col("n")).select(
        id_col,
        "chunk_idx",
        "chunk_start",
        F.least(F.lit(chunk_len), F.col("n") - F.col("chunk_start")).alias("chunk_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("ws"), F.col("chunk_start") + 1, chunk_len))
        ).alias("chunk_md5"),
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 512,
    bucket_width: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_buckets: int = 4_000_000,
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents concatenated in
    ``id_col`` order form one token stream, cut into fixed ``seq_len``
    training sequences; each document is tagged with the sequence its
    FIRST token lands in plus its offset in the stream.

    The global ordered prefix-sum is computed scalably: a naive
    ``Window.orderBy(id)`` cumsum funnels 100 TB through ONE partition.
    Instead doc_ids bucket by range (``id div bucket_width``), each bucket
    cumsums locally (partitioned window), and bucket totals — a tiny
    relation — cumsum on the driver-side-free second window and broadcast
    back as offsets. Two narrow shuffles, both bounded.

    The second-level window is unpartitioned BY DESIGN, so its input must
    stay provably tiny: the bucket-count guard (``max_buckets``) raises
    before a mis-sized ``bucket_width`` can silently recreate the
    single-partition funnel — at 4M buckets the window input is ~64 MB of
    (bucket, total) longs, the accepted ceiling. The fix is always a
    coarser ``bucket_width`` (buckets = id_span / bucket_width).
    """
    toks = df.select(
        F.col(id_col),
        F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).cast("long").alias("n_tokens"),
    ).withColumn("bucket", (F.col(id_col) / bucket_width).cast("long"))
    wb = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = toks.withColumn("local_before", F.coalesce(F.sum("n_tokens").over(wb), F.lit(0)))
    btot = toks.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
    n_buckets = btot.count()  # one tiny agg job; btot is reused below
    if n_buckets > max_buckets:
        raise ValueError(
            f"pack_sequences: bucket_width={bucket_width} yields "
            f"{n_buckets} buckets (> max_buckets={max_buckets}); the "
            f"unpartitioned bucket-total cumsum would no longer be tiny — "
            f"raise bucket_width by ~{-(-n_buckets // max_buckets)}x"
        )
    wo = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "bucket", F.coalesce(F.sum("btot").over(wo), F.lit(0)).alias("bucket_before")
    )
    out = local.join(F.broadcast(boff), "bucket").select(
        id_col,
        "n_tokens",
        (F.col("bucket_before") + F.col("local_before")).alias("seq_offset"),
    )
    return out.select(
        id_col,
        "n_tokens",
        "seq_offset",
        F.floor(F.col("seq_offset") / seq_len).cast("long").alias("seq_id"),
    )


# ---------------------------------------------------------------------------
# MERGE-style incremental upsert
# ---------------------------------------------------------------------------


def merge_latest_state(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> DataFrame:
    """MERGE INTO semantics for a latest-state table without a table
    format: reduce both sides to one row per key (ROW_NUMBER over
    ``order_cols`` desc — fully deterministic), then FULL OUTER join and
    COALESCE source-over-target, tagging each row ``insert`` / ``update``
    / ``keep``.

    Scale: both reductions and the join hash-partition on the same key
    columns, so AQE coalesces them into one exchange per side; payload
    width is one row per key, never the raw event stream.
    """

    def latest(df: DataFrame) -> DataFrame:
        win = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
        return (
            df.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    t = latest(target)
    s = latest(source)
    payload = [c for c in t.columns if c not in keys]
    op = (
        F.when(F.col(f"t.{keys[0]}").isNull(), "insert")
        .when(F.col(f"s.{keys[0]}").isNull(), "keep")
        .otherwise("update")
        .alias("op")
    )
    merged = t.alias("t").join(
        s.alias("s"),
        on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
        how="full_outer",
    )
    return merged.select(
        *[F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k) for k in keys],
        *[F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c) for c in payload],
        op,
    )


def snapshot_diff(
    snap_a: DataFrame,
    snap_b: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Change-data-feed between two keyed snapshots (the read side of
    Delta/Iceberg CDF): full-outer join on ``key``, classify each key as
    insert (B only), delete (A only), or update (both, any compare column
    differs — NULL-safe), and emit one row per CHANGED key with old_*/new_*
    column pairs. Unchanged keys are filtered out, so the feed size tracks
    churn, not table size.

    Scale shape: one co-partitioned shuffle on the key for the full-outer
    join (AQE-coalesced); the change classification is a codegen'd
    projection. At 100 TB both snapshots would be bucketed on the key so
    the join is exchange-free (plans/layout.py:write_bucketed).
    """
    a = snap_a.select(
        F.col(key), F.lit(True).alias("_in_a"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    b = snap_b.select(
        F.col(key), F.lit(True).alias("_in_b"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    joined = a.join(b, on=key, how="full_outer")
    in_a = F.coalesce(F.col("_in_a"), F.lit(False))
    in_b = F.coalesce(F.col("_in_b"), F.lit(False))
    differs = None
    for c in compare_cols:
        d = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(~in_a, F.lit("insert"))
        .when(~in_b, F.lit("delete"))
        .when(differs, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .select(key, "change", *[f"old_{c}" for c in compare_cols], *[f"new_{c}" for c in compare_cols])
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring: a fasttext-style linear classifier over
# hashed bag-of-words features, with deterministic md5-derived weights so
# the score — including the feature hashing — is reproducible in ANSI SQL.

QF_DIM = 64


def _qf_weights(dim: int = QF_DIM) -> list[float]:
    """Deterministic weight vector in [-1, 1): w_j from the first 4 hex
    digits of md5(f"qw:{j}") — the same engine-independent hash family as
    the CMS sketch and the md5 split keys."""
    import hashlib

    return [
        round(int(hashlib.md5(f"qw:{j}".encode()).hexdigest()[:4], 16) / 32768.0 - 1.0, 6)
        for j in range(dim)
    ]


def quality_linear_score(
    docs: DataFrame,
    dim: int = QF_DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Linear quality classifier over hashed unigram features (the
    fasttext-classifier shape of CCNet/LLaMA data filtering): token ->
    feature bucket via md5 mod ``dim``, per-doc bucket counts pivoted to a
    dense vector, score = dot(w, counts)/doc_len through a logistic link.

    Output: (doc_id, n_tokens, logit, prob, keep).

    Scale shape: one (doc, bucket) count shuffle (map-side combine), a
    64-column pivot aggregation per doc, then a literal-weight dot as one
    codegen'd projection — the model rides the PLAN (no weight-table
    join, no UDF); scoring a 100 TB corpus is a scan plus one doc-keyed
    aggregation. The unrolled left-assoc dot keeps float fold order
    identical to the SQL oracle's copy of the same literals."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")).alias(
            "term"
        ),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("qf:"), F.col("term"))), 1, 4), 16, 10)
        .cast("int") % dim
    )
    counts = toks.select(id_col, bucket.alias("b")).groupBy(id_col, "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    pivoted = counts.groupBy(id_col).agg(
        *[
            F.coalesce(F.max(F.when(F.col("b") == j, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias(f"f{j}")
            for j in range(dim)
        ],
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    # EXACT integer dot: the weights are 6-dp rationals, so w_j == wint_j/1e6
    # exactly and dot = sum(f_j * wint_j) is one int64 sum — a double fold of
    # the same terms differs between engines by an ulp (FMA/codegen
    # contraction) and flipped 6-dp roundings at sf0.1
    # (scripts/sweep_sf01.py catch); the single double division chain below
    # is engine-identical on exact inputs.
    wint = [round(wj * 1_000_000) for wj in _qf_weights(dim)]
    dot = " + ".join(f"f{j}*({wint[j]}L)" for j in range(dim))
    # The 6-dp logit is computed by EXACT integer half-away division:
    # real logit = (dot/1e6)/n, so its micro-units value is dot/n — one
    # integer rounding both engines perform identically. Rounding the
    # double instead is engine-divergent: Spark's round() works on the
    # double's SHORTEST decimal repr (BigDecimal.valueOf) while DuckDB
    # rounds the exact binary value — a 1-ulp-apart pair flips the 6th
    # decimal (3 rows at sf0.1, scripts/sweep_sf01.py catch).
    lm = (
        f"(CASE WHEN ({dot}) >= 0"
        f" THEN (2*({dot}) + n_tokens) DIV (2*n_tokens)"
        f" ELSE -((2*(-({dot})) + n_tokens) DIV (2*n_tokens)) END)"
    )
    logit = F.expr(lm).cast("double") / F.lit(1000000.0)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return pivoted.select(
        id_col,
        "n_tokens",
        logit.alias("logit"),
        prob.alias("prob"),
        (prob >= F.lit(0.5)).cast("int").alias("keep"),
    )


def quality_linear_oracle_sql(dim: int = QF_DIM) -> str:
    """DuckDB rendering of quality_linear_score — same md5 bucketing, same
    integer weights, same exact integer-dot + half-away micro-unit
    rounding (see quality_linear_score for why the double-round path is
    engine-divergent)."""
    digit = "(strpos('0123456789abcdef', substr(md5('qf:' || term), {i}, 1)) - 1)"
    hex4 = " + ".join(f"{digit.format(i=i + 1)} * {16 ** (3 - i)}" for i in range(4))
    wint = [round(wj * 1_000_000) for wj in _qf_weights(dim)]
    fcols = ",\n               ".join(
        f"CAST(COALESCE(MAX(CASE WHEN b = {j} THEN c END), 0) AS BIGINT) AS f{j}"
        for j in range(dim)
    )
    dot = " + ".join(f"f{j}*({wint[j]})" for j in range(dim))
    lm = (
        f"(CASE WHEN ({dot}) >= 0"
        f" THEN (2*({dot}) + n_tokens) // (2*n_tokens)"
        f" ELSE -((2*(-({dot})) + n_tokens) // (2*n_tokens)) END)"
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents
    ),
    counts AS (
        SELECT doc_id, CAST(({hex4}) % {dim} AS INTEGER) AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    pivoted AS (
        SELECT doc_id,
               {fcols},
               CAST(SUM(c) AS BIGINT) AS n_tokens
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST({lm} AS DOUBLE) / 1000000.0 AS logit,
           ROUND(1.0 / (1.0 + exp(-(CAST({lm} AS DOUBLE) / 1000000.0))), 6)
               AS prob,
           CAST(CASE WHEN ROUND(1.0 / (1.0 + exp(-(CAST({lm} AS DOUBLE)
                                                   / 1000000.0))), 6)
                          >= CAST(0.5 AS DOUBLE)
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM pivoted
    """


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the Gopher/RefinedWeb quality
    proxy (highly repetitive or templated text compresses far below
    natural prose). Genuinely non-SQL (DEFLATE), so the registry entry is
    rows-only; the per-doc values are differentially tested against
    direct ``zlib`` in tests/test_curate.py.

    Runs as mapInPandas: one Python worker pass per Arrow batch, constant
    memory, no shuffle — at 100 TB this is a scan-shaped map with the
    same partitioning as the source. Output: (doc_id, raw_bytes,
    comp_bytes, ratio)."""
    import pandas as pd  # noqa: F401  (worker-side import parity)

    out_schema = (
        f"{id_col} long, raw_bytes long, comp_bytes long, ratio double"
    )

    def _batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = pdf[text_col].astype(str).str.encode("utf-8")
            raw_len = raw.str.len()
            comp_len = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": raw_len,
                    "comp_bytes": comp_len,
                    "ratio": (comp_len / raw_len).round(6),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(_batches, out_schema)


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016) on the
    corpus word distribution: start from character symbols, repeatedly
    count adjacent symbol pairs weighted by word frequency, and merge the
    most frequent pair (ties broken lexicographically).

    Output: the learned merge table (rank, left, right, merged,
    pair_count) — what a tokenizer trainer persists.

    Scale shape: the corpus collapses FIRST to the (distinct word, freq)
    relation — pair counting and merge application run over the
    vocabulary, not the corpus, which is the standard trainer trick
    (|vocab| << |corpus| always). Each round is one pair-explode +
    count shuffle and an orderBy(1) argmax — the driver pulls exactly
    ONE row per round (the winning pair, same bounded-collect budget as
    ivf_train's centroid sync); merge application is a JVM higher-order
    fold over symbol arrays implementing the leftmost-greedy BPE scan.
    Rows-only registry entry (iterative argmax is not one SQL query);
    differentially tested against a pure-Python BPE reference in
    tests/test_curate.py."""
    words = cut(
        docs.select(F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("sym", F.array_join(F.split(F.col("w"), ""), " "))
    )
    spark = docs.sparkSession
    merges = []
    for rank in range(1, n_merges + 1):
        toks = F.split(F.col("sym"), " ")
        pairs = words.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("l"),
                        F.element_at(toks, i + F.lit(1)).alias("r"),
                    ),
                )
            ).alias("p"),
        ).filter(F.size(toks) >= 2)
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((rank, l, r, l + r, cnt))
        # winners are embedded as SQL literals inside the fold expression;
        # real corpora can teach tokens containing ' or \ (contractions,
        # code), which would break the expr string — escape both
        el = l.replace("\\", "\\\\").replace("'", "\\'")
        er = r.replace("\\", "\\\\").replace("'", "\\'")
        fold = (
            "array_join(aggregate(split(sym, ' '), cast(array() as array<string>), "
            f"(acc, t) -> if(size(acc) > 0 and element_at(acc, -1) = '{el}' and t = '{er}', "
            f"concat(slice(acc, 1, size(acc) - 1), array('{el + er}')), "
            "concat(acc, array(t)))), ' ')"
        )
        words = cut(words.withColumn("sym", F.expr(fold)))
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count bigint"
    )


def bpe_apply_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table (the inference half of
    bpe_train_merges): each word starts as characters, and every merge is
    one leftmost-greedy fold pass in RANK ORDER — the exact replay of how
    the trainer built its vocabulary, which is what makes train/apply
    consistent. Output: (doc_id, n_words, n_symbols, symbols_md5) — the
    per-document symbol stream digest (arrays stay distributed; the
    digest makes results comparable without shipping token arrays).

    The merge table rides the PLAN as literal constants folded into
    ``iterations`` chained higher-order expressions — no join against a
    merges table, no UDF; same scale shape as quality_linear_score."""
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("pos", "w"),
    ).filter(F.col("w") != "")
    sym = "array_join(split(w, ''), ' ')"
    for l, r in merges:
        # same literal-escaping discipline as the trainer's fold: learned
        # tokens can contain ' or \ on real corpora
        el = l.replace("\\", "\\\\").replace("'", "\\'")
        er = r.replace("\\", "\\\\").replace("'", "\\'")
        sym = (
            f"array_join(aggregate(split({sym}, ' '), cast(array() as array<string>), "
            f"(acc, t) -> if(size(acc) > 0 and element_at(acc, -1) = '{el}' and t = '{er}', "
            f"concat(slice(acc, 1, size(acc) - 1), array('{el + er}')), "
            "concat(acc, array(t)))), ' ')"
        )
    tokenized = words.withColumn("syms", F.expr(f"split({sym}, ' ')"))
    return tokenized.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.size("syms")).cast("bigint").alias("n_symbols"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: F.array_join(s["syms"], " "),
                ),
                " | ",
            )
        ).alias("symbols_md5"),
    )


def nb_language_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """Multinomial naive Bayes language identification, trained and
    scored entirely in the plan: documents with even ids are the training
    split (word counts per label + label priors, add-one smoothing), odd
    ids are scored by argmax_l [ log P(l) + sum_w log P(w|l) ] — the
    supervised counterpart of the n-gram langid heuristic, and the shape
    of every bag-of-words classifier a curation pipeline trains in-engine
    (domain filters, quality models).

    Output: (doc_id, true_label, pred_label, score) for the scored split.

    Float discipline (the text_bigram_lm_score treatment): each log-prob
    is rounded to 9 dp and accumulated as DECIMAL(18,9) — exact and
    order-independent — so engine summation order cannot flip either the
    hash or the argmax; ties break on label ascending.

    Scale shape: count relations are |vocab x labels| and |labels|-sized
    aggregates; scoring joins tokens to per-(word,label) log-probs on the
    word key (hash join, never text bodies), the |labels|-row per-label
    stats ride a broadcast, and the argmax is a per-doc window over
    |labels| rows."""
    dec = "decimal(18,9)"
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok = df.select(
        F.col(id_col), F.col(label_col).alias("_lbl"), F.explode(words).alias("word")
    )
    train = tok.filter(F.col(id_col) % 2 == 0)
    test = tok.filter(F.col(id_col) % 2 == 1).select(id_col, "word")

    vocab_n = train.agg(F.countDistinct("word").alias("_v"))
    tokl = (
        train.groupBy("_lbl")
        .agg(F.count(F.lit(1)).alias("_tl"))
        .crossJoin(F.broadcast(vocab_n))
        .withColumn(
            "_unk", F.round(F.log(F.lit(1.0) / (F.col("_tl") + F.col("_v"))), 9).cast(dec)
        )
    )
    lp = (
        train.groupBy("_lbl", "word")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(F.broadcast(tokl), "_lbl")
        .select(
            "_lbl",
            "word",
            F.round(
                F.log((F.col("_c") + F.lit(1.0)) / (F.col("_tl") + F.col("_v"))), 9
            ).cast(dec).alias("_lp"),
        )
    )
    docs_train = df.filter(F.col(id_col) % 2 == 0)
    n_train = docs_train.agg(F.count(F.lit(1)).alias("_dn"))
    prior = (
        docs_train.groupBy(F.col(label_col).alias("_lbl"))
        .agg(F.count(F.lit(1)).alias("_dl"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "_lbl",
            F.round(F.log(F.col("_dl") / F.col("_dn")), 9).cast(dec).alias("_prior"),
        )
    )
    scored = (
        test.crossJoin(F.broadcast(tokl.select("_lbl", "_unk")))
        .join(lp, ["_lbl", "word"], "left")
        .groupBy(id_col, "_lbl")
        .agg(F.sum(F.coalesce("_lp", "_unk")).alias("_s"))
        .join(F.broadcast(prior), "_lbl")
        .withColumn("_score", F.col("_s") + F.col("_prior"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_score").desc(), F.col("_lbl").asc())
    truth = df.select(F.col(id_col), F.col(label_col).alias("true_label"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(truth, id_col)
        .select(
            id_col,
            "true_label",
            F.col("_lbl").alias("pred_label"),
            F.round(F.col("_score").cast("double"), 6).alias("score"),
        )
    )
