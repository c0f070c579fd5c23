"""Skew and NULL guards for the two-level prefix-sum kernels.

``two_level_cumsum`` puts ties in one bucket, so one pathological
sort-key value (90% duplicate rows) sorts in a single task. ``value_ranks``
collapses to distinct values before the prefix sum, so its within-bucket
sorts stay bounded whatever the input. These tests measure both shapes
through the kernel's own bucket assignment (``bucket_by_value``):

- the RAW skewed relation concentrates >= the duplicated share of all
  rows in one bucket — the hazard, demonstrated;
- ``value_ranks`` on that same raw relation hands ``two_level_cumsum`` a
  relation whose within-bucket row counts stay bounded (buckets are the
  fixed log-grid cells, so the bound comes from the distinct values'
  spread across magnitude cells) — the fix, measured;
- the running sums and totals equal the naive single-partition window
  exactly, 90%-one-value skew included;
- a NULL value keeps its row and orders first, and a NULL key is its own
  group, as in a plain window.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdw_spark.operators import stats
from cdw_spark.operators.stats import bucket_by_value, two_level_cumsum, value_ranks

N_ROWS = 20_000
N_DISTINCT = 1_000  # distinct values in the non-skewed 10% tail
EVEN_SHARE = 64  # reference bucket count for the balance bound


def _skewed(spark):
    """20k rows; 90% share one sort-key value, the rest spread evenly."""
    return spark.range(N_ROWS).select(
        F.when(F.col("id") % 10 < 9, F.lit(424242))
        .otherwise(F.col("id") % N_DISTINCT)
        .cast("bigint")
        .alias("v")
    )


def test_raw_skew_concentrates_in_one_bucket(spark):
    raw = _skewed(spark)
    b = bucket_by_value(raw, "v")
    per_bucket = b.groupBy("_bk").count().collect()
    worst = max(r["count"] for r in per_bucket)
    # ties share a bucket: all ~18k copies of the hot value land together
    assert worst >= int(N_ROWS * 0.9), (
        f"expected the hot value's copies in one bucket, worst={worst}"
    )


def test_distinct_collapse_bounds_bucket_width(spark, monkeypatch):
    """The raw 90%-one-value relation goes straight into value_ranks; the
    relation the kernel hands to the two-level prefix sum keeps every
    within-bucket row count bounded."""
    seen = []
    inner = stats.two_level_cumsum

    def spy(df, *args, **kwargs):
        seen.append(df)
        return inner(df, *args, **kwargs)

    monkeypatch.setattr(stats, "two_level_cumsum", spy)
    value_ranks(_skewed(spark), [], "v", {"c": F.lit(1)}).collect()
    assert len(seen) == 1
    per_bucket = bucket_by_value(seen[0], "v").groupBy("_bk").count().collect()
    worst = max(r["count"] for r in per_bucket)
    n_cells = sum(r["count"] for r in per_bucket)
    assert n_cells <= N_DISTINCT + 1
    # bucket balance: no bucket holds more than a small multiple of a
    # 64-way even share (loose 8x bound — the guarantee is boundedness;
    # the log grid spreads these distinct integers across magnitude
    # cells far finer than 64 buckets would)
    assert worst <= max(8 * -(-n_cells // EVEN_SHARE), 16), (
        f"within-bucket width {worst} not bounded for {n_cells} cells"
    )


def test_cumsum_exact_under_skew(spark):
    raw = _skewed(spark)
    got = {
        r["v"]: (r["cum_c"], r["tot_c"])
        for r in value_ranks(raw, [], "v", {"c": F.lit(1)}).collect()
    }
    cells = raw.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["v"]: (r["cumc"], N_ROWS)
        for r in cells.select("v", F.sum("c").over(w).alias("cumc")).collect()
    }
    assert got == want
    assert max(c for c, _ in got.values()) == N_ROWS


def test_two_level_cumsum_keeps_null_rows(spark):
    """A NULL value keeps its row and orders first, and a NULL key is a
    group of its own, exactly as in a plain ``PARTITION BY k ORDER BY v``
    window (NULL-key rows used to vanish in the offsets equi-join)."""
    rows = [
        ("a", None, 1),
        ("a", 2.5, 2),
        ("a", None, 3),
        ("a", float("-inf"), 4),
        ("b", None, 5),
        ("b", 7.0, 6),
        ("b", 7.0, 7),
        (None, 3.0, 8),
        (None, None, 9),
    ]
    df = spark.createDataFrame(rows, "k string, v double, id long").withColumn(
        "one", F.lit(1)
    )
    out = two_level_cumsum(df, ["k"], "v", ["id"], {"rn": "one"}).collect()
    w = Window.partitionBy("k").orderBy("v", "id")
    want = {
        r["id"]: r["rn"]
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert {r["id"]: r["rn"] for r in out} == want
    assert {r["k"]: r["tot_one"] for r in out} == {"a": 4, "b": 3, None: 2}
