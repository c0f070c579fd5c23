"""8x scale measurement for value_ranks on a SKEWED sort key: 90% of
rows share one value. value_ranks collapses to distinct values before
the two-level prefix sum, so it must scale ~linearly; feeding the raw
rows to two_level_cumsum would funnel every hot-value copy into one
task's sort.

Prints a warmed 1x-vs-8x wall-clock table for value_ranks on the raw
skewed relation (4M -> 32M raw rows, ~200k -> ~1.6M distinct values)
plus, for contrast, two_level_cumsum on the raw rows at 1x only (running
it at 8x just times one giant task). Record the output in BENCHNOTES.

    python scripts/skew_cumsum_8x.py    # SKEW_N=<rows> sets the 1x size
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cdw_spark.operators.stats import two_level_cumsum, value_ranks
from cdw_spark.session import get_spark


def skewed(spark, n_rows: int):
    n_tail = n_rows // 20
    return spark.range(n_rows).select(
        F.when(F.col("id") % 10 < 9, F.lit(-1))
        .otherwise(F.col("id") % n_tail)
        .cast("bigint")
        .alias("v")
    )


def time_collapsed(spark, n_rows: int) -> float:
    t0 = time.time()
    value_ranks(skewed(spark, n_rows), [], "v", {"c": F.lit(1)}).write.format(
        "noop"
    ).mode("overwrite").save()
    dt = time.time() - t0
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    return dt


def time_raw(spark, n_rows: int) -> float:
    t0 = time.time()
    two_level_cumsum(
        skewed(spark, n_rows).withColumn("one", F.lit(1)),
        [],
        "v",
        [],
        {"rank": "one"},
    ).write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    return dt


def main():
    n1 = int(os.environ.get("SKEW_N", 4_000_000))
    spark = get_spark(app_name="skew-cumsum-8x")
    spark.sparkContext.setLogLevel("ERROR")
    time_collapsed(spark, 100_000)  # codegen warmup
    t1 = time_collapsed(spark, n1)
    t8 = time_collapsed(spark, 8 * n1)
    traw = time_raw(spark, n1)
    print("| shape | rows | seconds |")
    print("|---|---|---|")
    print(f"| value_ranks 1x | {n1} | {t1:.2f} |")
    print(f"| value_ranks 8x | {8 * n1} | {t8:.2f} |")
    print(f"| RAW two_level_cumsum (hazard, 1x only) | {n1} | {traw:.2f} |")
    print(f"value_ranks 8x ratio: {t8 / t1:.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
