"""Probabilistic sketch operators. Count-min sketch (Cormode & Muthu-
krishnan, J. Algorithms 2005) for heavy-hitter / frequency estimation over
key streams too wide to count exactly.

Why a sketch when groupBy-count exists: at 100 TB a (key -> count) exact
aggregation shuffles the full distinct-key set; the CMS is a FIXED-SIZE
(depth x width) integer grid that each executor fills locally and that
merges by elementwise addition — the shuffle is depth*width rows TOTAL,
independent of key cardinality. The build below is the real distributed
shape: ``mapInPandas`` emits one partial grid per partition (map-side
combine in the truest sense), and a groupBy(row, col) SUM merges them.

Determinism: the hash family is md5-derived — row j hashes key k to column
int(md5(f"{j}:{k}")[:4], 16) % width. md5 is engine-independent, so the
merged sketch, and every point estimate, is bit-identical no matter the
partitioning — and expressible in ANSI SQL for the DuckDB oracle
(suite/search.py spells the same hex arithmetic with strpos).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 256


def _bucket_py(j: int, key: str, width: int) -> int:
    return int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:4], 16) % width


def bucket_col(j: Column, key: Column, width: int = CMS_WIDTH) -> Column:
    """Catalyst twin of `_bucket_py`: conv(substr(md5, 1, 4), 16, 10) % w."""
    hx = F.md5(F.concat(j.cast("string"), F.lit(":"), key))
    return (F.conv(F.substring(hx, 1, 4), 16, 10).cast("int") % F.lit(width)).alias("col")


def cms_build(
    keyed: DataFrame,
    key_col: str = "term",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the merged sketch grid (j, col, cnt) from a stream of key
    occurrences (one input row = one occurrence).

    Each partition materializes a local depth x width numpy grid — constant
    memory regardless of partition size — and emits only its non-zero
    cells; the groupBy SUM merges partials. Arrow-batched both ways.
    """
    import numpy as np

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid = np.zeros((depth, width), dtype="int64")
        for pdf in batches:
            for key, cnt in pdf[key_col].value_counts().items():
                s = str(key)
                for j in range(depth):
                    grid[j, _bucket_py(j, s, width)] += int(cnt)
        js, cols = grid.nonzero()
        yield pd.DataFrame({"j": js.astype("int32"), "col": cols.astype("int32"),
                            "cnt": grid[js, cols]})

    partials = keyed.select(F.col(key_col).cast("string").alias(key_col)).mapInPandas(
        build, schema="j int, col int, cnt long"
    )
    return partials.groupBy("j", "col").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str = "term",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-estimate counts for each probe key: min over rows j of
    sketch[j][h_j(key)]. Guaranteed >= true count; <= true + eps*TOTAL with
    prob 1-delta for width=e/eps, depth=ln(1/delta).

    The sketch is <= depth*width rows — broadcast onto the probe relation;
    no shuffle of the probe side.
    """
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    grid = probes.select(key_col, rows).select(
        key_col, "j", bucket_col(F.col("j"), F.col(key_col), width)
    )
    return (
        grid.join(F.broadcast(sketch), ["j", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est"))
    )


BLOOM_BITS = 512
BLOOM_HASHES = 4


def bloom_positions(
    keys: DataFrame, key_col: str, m: int = BLOOM_BITS, k: int = BLOOM_HASHES
) -> DataFrame:
    """A Bloom filter AS A RELATION: the distinct set-bit positions of
    ``keys`` under ``k`` md5-derived hash functions into ``m`` bits
    (Bloom 1970). Bounded at ``min(k * |keys|, m)`` rows — at any corpus
    size the relation saturates at m rows, so it always broadcasts.

    Deterministic md5 arithmetic (the cms_build bucket idiom) keeps the
    positions engine-independent, so a DuckDB oracle can rebuild the
    identical filter and the driver can hash-compare membership results
    exactly — impossible with Spark's opaque built-in bloom_filter_agg."""
    ks = keys.select(F.col(key_col).cast("string").alias("kstr")).distinct()
    withj = ks.select(
        "kstr", F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("j")
    )
    return withj.select(
        bucket_col(F.col("j"), F.col("kstr"), m).alias("pos")
    ).distinct()


def bloom_prefilter(
    probe_keys: DataFrame,
    key_col: str,
    positions: DataFrame,
    m: int = BLOOM_BITS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """Keys of ``probe_keys`` that PASS the filter (all ``k`` probe
    positions set) — the semi-join pre-filter that prunes a shuffle's
    probe side before the exact join. No false negatives by construction;
    false positives are the (1 - e^{-kn/m})^k residue the exact join
    removes afterwards.

    Scale shape: positions is a <= m-row broadcast; the probe explodes
    k rows per key, joins the broadcast, and one map-side-combined
    groupBy counts matched positions — pass iff count == k. Linear in
    the probe, zero shuffle of the build side."""
    pk = probe_keys.select(F.col(key_col).alias("key")).distinct()
    withj = pk.select(
        "key",
        F.col("key").cast("string").alias("kstr"),
    ).select("key", "kstr", F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("j"))
    pp = withj.select("key", bucket_col(F.col("j"), F.col("kstr"), m).alias("pos"))
    hits = pp.join(F.broadcast(positions), "pos").groupBy("key").agg(
        F.count(F.lit(1)).alias("c")
    )
    return hits.filter(F.col("c") == k).select("key")


def bloom_bits(key: Column, m: int = BLOOM_BITS, k: int = BLOOM_HASHES) -> list[Column]:
    """The ``k`` filter positions of ``key`` as ``k`` columns of one row:
    the ``bloom_positions`` hash family, unexploded."""
    kstr = key.cast("string")
    return [bucket_col(F.lit(j), kstr, m) for j in range(k)]


def bloom_word_aggs(bits: Sequence[str], m: int = BLOOM_BITS) -> list[Column]:
    """The filter as ``m // 64`` ``bit_or`` aggregates over the position
    columns ``bits``: word ``i`` has bit ``b`` set iff some row has
    position ``64 * i + b``. Words merge by OR, so partial filters (per
    batch, per partition) combine in any order on the driver."""

    def word(i: int) -> str:
        return " | ".join(
            f"CASE WHEN {p} div 64 = {i} THEN shiftleft(1L, {p} % 64) ELSE 0L END"
            for p in bits
        )

    return [F.expr(f"bit_or({word(i)})").alias(f"bloom_w{i}") for i in range(m // 64)]


def bloom_test(words: Sequence[int], bits: Sequence[str]) -> Column:
    """True iff every position column in ``bits`` is set in the filter
    ``words`` (signed 64-bit ints, as ``bloom_word_aggs`` returns them).
    The words enter the plan as a literal array, so the test needs no
    join; the test is one parsed expression, cheap to rebuild per batch."""
    arr = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    return F.expr(" AND ".join(
        f"(shiftright(element_at({arr}, CAST({p} div 64 AS INT) + 1), {p} % 64) & 1) = 1"
        for p in bits
    ))
