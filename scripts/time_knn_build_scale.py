#!/usr/bin/env python
"""Time the kNN edge-graph BUILD (banded-MIH candidate join + exact
top-3 cosine + parquet write) at 1x / 8x / 64x the sf0.1 embeddings
table, with the count-derived signature width and the band-join
candidate count at each scale — the VERDICT r9 #4 evidence that the
width rule's candidates-per-probe behavior holds (or doesn't) across
two more doublings than the standard 8x table.

Prereqs: scripts/make_scale8.py and scripts/make_scale64_embeddings.py.
Usage: python scripts/time_knn_build_scale.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdw_spark.session import get_spark

SCALES = [
    ("1x", "/root/testdata/sf0.1"),
    ("8x", "/tmp/cdw_scale8"),
    ("64x", "/tmp/cdw_scale64"),
]


def band_candidates(spark, sf_dir: str) -> int:
    """Count the banded-MIH candidate pairs (post canonical-band +
    popcount filter, pre vector-fetch) — the relation whose growth the
    width rule is supposed to keep linear in n."""
    from pyspark.sql import functions as F

    from cdw_spark.catalog import load_fixture
    from cdw_spark.operators.similarity import (
        derived_n_planes,
        to_double_array,
        with_signature,
    )
    from cdw_spark.suite.similarity import _DIM

    emb = load_fixture(spark, sf_dir, "embeddings")
    w_bits = derived_n_planes(emb.count())
    base = emb.select("vec_id", to_double_array(F.col("embedding")).alias("v"))
    sigs = with_signature(base, "v", _DIM, "sig", w_bits).select("vec_id", "sig")
    b1 = w_bits - w_bits // 2
    b2 = w_bits // 2
    low = (1 << b1) - 1
    band_masks = [(0, m) for m in [0] + [1 << i for i in range(b1)]] + [
        (1, m) for m in [0] + [1 << i for i in range(b2)]
    ]
    masks_df = spark.createDataFrame(band_masks, "band int, mask long")
    band_key = F.when(
        F.col("band") == 0, F.col("psig").bitwiseAND(F.lit(low))
    ).otherwise(F.shiftright("psig", b1))
    probe = (
        sigs.select(F.col("vec_id").alias("a"), F.col("sig").alias("psig"))
        .join(F.broadcast(masks_df))
        .select("a", "psig", "band", band_key.bitwiseXOR(F.col("mask")).alias("bkey"))
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
                F.struct(F.lit(1).alias("band"), F.shiftright("sig", b1).alias("bkey")),
            )
        ).alias("bk"),
    ).select("b", "csig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    d1 = F.bit_count(F.col("psig").bitwiseXOR(F.col("csig")).bitwiseAND(F.lit(low)))
    d_all = F.bit_count(F.col("psig").bitwiseXOR(F.col("csig")))
    cand = (
        probe.join(cands_idx, on=["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .filter(d_all <= 3)
        .filter(
            F.when(F.col("band") == 0, d1 <= 1).otherwise((d1 >= 2) & (d_all - d1 <= 1))
        )
    )
    return cand.count()


def main() -> None:
    from cdw_spark.operators.similarity import derived_n_planes
    from cdw_spark.suite.similarity import KNN_EDGES

    from cdw_spark.catalog import load_fixture

    spark = get_spark(app_name="time-knn-build")
    spark.sparkContext.setLogLevel("ERROR")

    print("| scale | n_vecs | width | cand_pairs | cand/vec | build_s | ratio |")
    print("|---|---|---|---|---|---|---|")
    prev = None
    for label, sf_dir in SCALES:
        n = load_fixture(spark, sf_dir, "embeddings").count()
        w = derived_n_planes(n)
        ncand = band_candidates(spark, sf_dir)
        art = KNN_EDGES.dir(sf_dir)
        shutil.rmtree(art, ignore_errors=True)
        t0 = time.time()
        KNN_EDGES.serve(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        ratio = f"{dt / prev:.2f}" if prev else "-"
        print(
            f"| {label} | {n} | {w} | {ncand} | {ncand / n:.1f} | {dt:.2f} | {ratio} |",
            flush=True,
        )
        prev = dt
    spark.stop()


if __name__ == "__main__":
    main()
