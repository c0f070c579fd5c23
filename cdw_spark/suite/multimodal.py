"""Multimodal plumbing queries (operators/multimodal.py). The metadata
surface (byte length, sha256 content address) is engine-neutral and
oracle-checked; the mapInPandas feature path is Spark-specific -> rows-only
(deterministic fake features, validated in tests/test_multimodal.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_fixture
from ..operators.multimodal import attach_blob, extract_features
from ..registry import register


@register(
    "multimodal_blob_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           sha256(text) AS content_sha256,
           'text/plain' AS mime
    FROM documents
    """,
    doc="Opaque-binary column metadata: byte length + sha256 content "
    "address + declared mime (the typed-metadata half of multimodal "
    "columns).",
)
def multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = attach_blob(load_fixture(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("blob_meta.byte_len").alias("byte_len"),
        F.col("blob_meta.sha256").alias("content_sha256"),
        F.col("blob_meta.mime").alias("mime"),
    )


@register(
    "multimodal_features",
    oracle="""
    WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id,
           CAST(n AS BIGINT) AS byte_len,
           sha256(text) AS content_sha256,
           md5(array_to_string(
               [CASE WHEN n = 0 THEN 0
                     ELSE ascii(substr(text, (i * 7919) % n + 1, 1)) END
                FOR i IN range(0, 8)], ',')) AS features_md5
    FROM d
    """,
    doc="Arrow-batched mapInPandas feature extraction over binary blobs "
    "(decode stubbed deterministically — no codecs in container). The "
    "8-float feature vector projects as an md5 digest of its exact byte "
    "values (f_i*255 is integral by construction — the tokenize_vocab_ids "
    "digest pattern), alongside the engine-neutral "
    "byte_len/sha256, so the whole mapInPandas batch path is value-"
    "oracled; the raw-array surface stays available via "
    "operators.multimodal.extract_features and the per-value scalar twin "
    "multimodal_features_scalar.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = attach_blob(load_fixture(spark, sf_dir, "documents"))
    feats = extract_features(d, fake=True)
    return feats.select(
        "doc_id",
        F.col("byte_len").cast("bigint").alias("byte_len"),
        F.col("sha256").alias("content_sha256"),
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.round(F.col("features")[i] * 255).cast("int").cast("string")
                    for i in range(8)
                ],
            )
        ).alias("features_md5"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (
        SELECT doc_id, octet_length(encode(text)) AS blen FROM documents
    )
    SELECT doc_id, unnest(range(0, blen // 256, 4)) AS frame_idx,
           unnest(range(0, blen // 256, 4)) * 40 AS frame_ms
    FROM d
    WHERE blen >= 256
    """,
    doc="Frame sampling geometry over binary 'video' blobs: every 4th "
    "256-byte frame -> one row (frame index + timestamp). The mapInPandas "
    "sampler's 1->N row explosion is oracle-checked on its engine-neutral "
    "columns; frame-content hashes are Spark-side (tests/test_multimodal).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_frames

    d = attach_blob(load_fixture(spark, sf_dir, "documents"))
    return sample_frames(d, fake=True).select("doc_id", "frame_idx", "frame_ms")


@register(
    "multimodal_features_scalar",
    oracle="""
    SELECT doc_id,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (0 * 7919) % n + 1, 1)) / 255.0 END AS f0,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (1 * 7919) % n + 1, 1)) / 255.0 END AS f1,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (2 * 7919) % n + 1, 1)) / 255.0 END AS f2,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (3 * 7919) % n + 1, 1)) / 255.0 END AS f3,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (4 * 7919) % n + 1, 1)) / 255.0 END AS f4,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (5 * 7919) % n + 1, 1)) / 255.0 END AS f5,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (6 * 7919) % n + 1, 1)) / 255.0 END AS f6,
           CASE WHEN n = 0 THEN 0.0 ELSE ascii(substr(text, (7 * 7919) % n + 1, 1)) / 255.0 END AS f7
    FROM (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
    """,
    doc="The fake-decode features, value-oracled: the deterministic stub "
    "(byte[(i*7919) mod n] / 255) is restated in SQL over the same text "
    "bytes (fixture text is pure ASCII, so char position == byte "
    "position), projected to scalar DOUBLE columns — the driver hash "
    "checks the whole mapInPandas decode path end to end; the array-"
    "shaped twin multimodal_features stays the production schema.",
)
def multimodal_features_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = attach_blob(load_fixture(spark, sf_dir, "documents"))
    feats = extract_features(d, fake=True)
    return feats.select(
        "doc_id", *[F.col("features")[i].alias(f"f{i}") for i in range(8)]
    )


@register(
    "multimodal_audio_rms",
    oracle="""
    WITH f AS (SELECT doc_id, unnest(range(0, 4)) AS frame_idx FROM documents),
    s AS (SELECT doc_id, frame_idx, unnest(range(0, 64)) AS j FROM f),
    v AS (
        SELECT doc_id, frame_idx,
               ((doc_id * 31 + (frame_idx * 64 + j) * 7) % 2003) - 1001 AS smp
        FROM s
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           ROUND(sqrt(CAST(SUM(smp * smp) AS DOUBLE) / CAST(64.0 AS DOUBLE)), 6) AS rms
    FROM v
    GROUP BY doc_id, frame_idx
    """,
    doc="Audio modality end-to-end with a REAL stdlib codec: deterministic "
    "PCM samples per document are wav_encode'd, the 16-bit mono WAV blob "
    "is wav_decode'd back inside Arrow-batched mapInPandas, and per-64-"
    "sample frame RMS energy is emitted. The oracle states the same RMS "
    "math directly on the synthesized samples, so the driver hash checks "
    "the encode->decode->feature round trip itself (sum of squares is "
    "exact BIGINT; /64 and sqrt are correctly-rounded IEEE ops in both "
    "engines). operators/multimodal.py:wav_encode/wav_decode/"
    "audio_frame_rms.",
)
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import audio_frame_rms, wav_encode

    d = load_fixture(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                samples = [((int(did) * 31 + i * 7) % 2003) - 1001 for i in range(256)]
                blobs.append(wav_encode(samples, 8000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "audio": blobs})

    with_audio = d.mapInPandas(synth, schema="doc_id long, audio binary")
    out = audio_frame_rms(with_audio, frame=64)
    return out.select("doc_id", "frame_idx", F.round("rms", 6).alias("rms"))


@register(
    "multimodal_image_near_dup",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END AS base,
               (doc_id % 50 = 1) AS twin
        FROM documents
    ), byt AS (
        SELECT doc_id, twin, i * 16 + j AS pos,
               CAST(('0x' || substr(md5('img:' || base || ':' || i), j * 2 + 1, 2)) AS INTEGER) AS byte
        FROM d, UNNEST(range(0, 48)) AS u1(i), UNNEST(range(0, 16)) AS u2(j)
    ), b2 AS (
        SELECT doc_id, pos,
               CASE WHEN twin AND pos = 0 THEN (byte + 1) % 256 ELSE byte END AS byte
        FROM byt WHERE pos < 768
    ), luma AS (
        SELECT doc_id, pos // 3 AS p,
               (299 * MAX(CASE WHEN pos % 3 = 0 THEN byte END)
              + 587 * MAX(CASE WHEN pos % 3 = 1 THEN byte END)
              + 114 * MAX(CASE WHEN pos % 3 = 2 THEN byte END)) // 1000 AS y
        FROM b2 GROUP BY doc_id, pos // 3
    ), cells AS (
        SELECT doc_id, ((p // 16) // 2) * 8 + ((p % 16) // 2) AS cell,
               CAST(SUM(y) AS BIGINT) AS s4
        FROM luma GROUP BY doc_id, ((p // 16) // 2) * 8 + ((p % 16) // 2)
    ), gm AS (
        SELECT doc_id, CAST(SUM(s4) AS BIGINT) AS s256 FROM cells GROUP BY doc_id
    ), bits AS (
        SELECT c.doc_id, c.cell, CASE WHEN 64 * c.s4 > g.s256 THEN 1 ELSE 0 END AS bit
        FROM cells c JOIN gm g ON g.doc_id = c.doc_id
    ), h AS (
        SELECT doc_id,
               SUM(CASE WHEN bit = 1 AND cell < 63 THEN CAST(1 AS BIGINT) << cell
                        WHEN bit = 1 AND cell = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
                        ELSE CAST(0 AS BIGINT) END) AS ah
        FROM bits GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS keep0, b.doc_id AS dup0,
               bit_count(xor(a.ah, b.ah)) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ah, b.ah)) <= 3
    )
    SELECT dup0 AS dup_id, MIN(keep0) AS keep_id,
           CAST(MIN(hamming) AS INTEGER) AS hamming
    FROM pairs GROUP BY dup0
    """,
    doc="Near-duplicate IMAGE detection: perceptual average-hash (8x8 "
    "luma grid over the decoded raster) then hamming<=3 pairs via the "
    "pigeonhole 4x16-bit chunk equi-join — the visual twin of the "
    "simhash text plan; only (id, 64-bit hash) rows ever shuffle. "
    "Planted twin images (doc_id % 50 == 1 perturbs its predecessor's "
    "raster by one byte) give a known ground truth asserted with a "
    "pure-Python brute-force reference in tests/test_multimodal.py. "
    "Fully VALUE-ORACLED: the "
    "fixture rasters are md5-stream bytes, so the oracle restates synth "
    "-> P6 decode -> integer luma -> 2x2 box sums -> threshold bits -> "
    "packed 64-bit hash -> all-pairs hamming ENTIRELY in integer SQL "
    "(cell mean > global mean is exact as 64*s4 > s256), hash-checking "
    "the whole image pipeline including the signed-bit-63 packing "
    "(operators/multimodal.py:ahash_near_duplicates).",
)
def multimodal_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import ahash_near_duplicates

    return ahash_near_duplicates(load_fixture(spark, sf_dir, "documents"))


@register(
    "multimodal_video_shots",
    oracle="""
    WITH fr AS (
        SELECT doc_id, t,
               CASE WHEN t < 4 THEN ':a:' ELSE ':b:' END AS tag,
               CASE WHEN t < 4 THEN t ELSE t - 4 END AS drift,
               (t < 4) AS bright
        FROM documents, UNNEST(range(0, 8)) u(t)
    ), byt AS (
        SELECT doc_id, t, drift, bright, i * 16 + j AS pos,
               CAST(('0x' || substr(md5('vid:' || doc_id || tag || i), j * 2 + 1, 2)) AS INTEGER) AS byte
        FROM fr, UNNEST(range(0, 48)) u1(i), UNNEST(range(0, 16)) u2(j)
    ), b2 AS (
        SELECT doc_id, t, pos,
               CASE WHEN pos < drift
                    THEN ((CASE WHEN bright THEN byte | 128 ELSE byte & 127 END) + 7) % 256
                    ELSE (CASE WHEN bright THEN byte | 128 ELSE byte & 127 END) END AS byte
        FROM byt WHERE pos < 768
    ), luma AS (
        SELECT doc_id, t, pos // 3 AS p,
               (299 * MAX(CASE WHEN pos % 3 = 0 THEN byte END)
              + 587 * MAX(CASE WHEN pos % 3 = 1 THEN byte END)
              + 114 * MAX(CASE WHEN pos % 3 = 2 THEN byte END)) // 1000 AS y
        FROM b2 GROUP BY doc_id, t, pos // 3
    ), hist AS (
        SELECT doc_id, t, y // 32 AS bin, COUNT(*) AS n
        FROM luma GROUP BY doc_id, t, y // 32
    ), spine_base AS (
        SELECT d.doc_id, u.t, b.bin
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN UNNEST(range(0, 8)) u(t)
        CROSS JOIN UNNEST(range(0, 8)) b(bin)
    ), spine AS (
        SELECT sb.doc_id, sb.t, sb.bin, COALESCE(h.n, 0) AS n
        FROM spine_base sb
        LEFT JOIN hist h ON h.doc_id = sb.doc_id AND h.t = sb.t AND h.bin = sb.bin
    ), l1 AS (
        SELECT cur.doc_id, cur.t AS frame_idx,
               CAST(SUM(abs(cur.n - prv.n)) AS INTEGER) AS l1_x256
        FROM spine cur JOIN spine prv
          ON prv.doc_id = cur.doc_id AND prv.t = cur.t - 1 AND prv.bin = cur.bin
        WHERE cur.t >= 1
        GROUP BY cur.doc_id, cur.t
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, l1_x256,
           CAST(CASE WHEN l1_x256 > 128 THEN 1 ELSE 0 END AS INTEGER) AS is_cut
    FROM l1
    """,
    doc="Video shot-boundary detection: decode each clip (stdlib PVV "
    "frame container — the demuxer seam a real deployment fills with "
    "PyAV), 8-bin luma histogram per frame, cut where consecutive "
    "frames' L1 histogram distance exceeds 0.5 — the first-pass shot "
    "segmenter video-training pipelines run before per-shot frame "
    "sampling. VALUE-ORACLED (the image aHash treatment): clip frames are md5-stream rasters "
    "with a luminance bias and per-frame drift, so the oracle restates "
    "synth -> demux -> decode -> integer luma -> 8-bin histogram -> "
    "consecutive-frame L1 in exact integer SQL; the query projects the "
    "distance as l1_x256 = round(l1_dist*256) (the exact integer "
    "numerator of the normalized distance) so no float rounding "
    "convention enters the hash. Planted mid-clip cut + pure-Python "
    "reference stay asserted in tests/test_multimodal.py "
    "(operators/multimodal.py:video_shot_boundaries).",
)
def multimodal_video_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import video_shot_boundaries

    out = video_shot_boundaries(load_fixture(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.round(F.col("l1_dist") * 256).cast("int").alias("l1_x256"),
        F.col("is_cut").cast("int").alias("is_cut"),
    )


@register(
    "multimodal_audio_spectral",
    oracle=None,
    doc="Audio spectral centroid per 256-sample frame over the real "
    "stdlib WAV codec — the brightness feature of audio quality "
    "filters, complementing the time-domain RMS query. Rows-only BY "
    "NATURE (FFT); numpy-rfft differential in tests/test_multimodal.py "
    "(operators/multimodal.py:audio_spectral_centroid).",
)
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_spectral_centroid

    return audio_spectral_centroid(load_fixture(spark, sf_dir, "documents"))


def _phash_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB rendering of the ENTIRE pHash pipeline: md5-stream raster
    synthesis, P6 byte layout, integer luma, the fixed-point 16x16 DCT-II
    stated as two literal-basis matmul joins (exact BIGINT — the same
    reason codecs specify integer transforms), the 8x8 block's integer
    median via dense ranks 32/33, signed bit-63 packing, all-pairs
    hamming. Every step is integer, so the hash check covers the
    transform bit-for-bit."""
    from ..operators.multimodal import _dct16_basis

    B = _dct16_basis()
    vals = ", ".join(
        f"({u}, {x}, {B[u][x]})" for u in range(16) for x in range(16)
    )
    return f"""
    WITH d0 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END AS base,
               (doc_id % 50 = 1) AS twin
        FROM documents
    ), byt AS (
        SELECT doc_id, twin, i * 16 + j AS pos,
               CAST(('0x' || substr(md5('img:' || base || ':' || i), j * 2 + 1, 2)) AS INTEGER) AS byte
        FROM d0, UNNEST(range(0, 48)) u1(i), UNNEST(range(0, 16)) u2(j)
    ), b2 AS (
        SELECT doc_id, pos,
               CASE WHEN twin AND pos = 0 THEN (byte + 1) % 256 ELSE byte END AS byte
        FROM byt WHERE pos < 768
    ), luma AS (
        SELECT doc_id, (pos // 3) // 16 AS y, (pos // 3) % 16 AS x,
               CAST((299 * MAX(CASE WHEN pos % 3 = 0 THEN byte END)
              + 587 * MAX(CASE WHEN pos % 3 = 1 THEN byte END)
              + 114 * MAX(CASE WHEN pos % 3 = 2 THEN byte END)) // 1000 AS BIGINT) AS yv
        FROM b2 GROUP BY doc_id, pos // 3
    ), bas(u, x, c) AS (
        SELECT * FROM (VALUES {vals}) AS t(u, x, c)
    ), t1 AS (
        SELECT l.doc_id, b.u, l.x, CAST(SUM(b.c * l.yv) AS BIGINT) AS tv
        FROM luma l JOIN bas b ON b.x = l.y
        GROUP BY l.doc_id, b.u, l.x
    ), d2 AS (
        SELECT t1.doc_id, t1.u, b.u AS v, CAST(SUM(t1.tv * b.c) AS BIGINT) AS dv
        FROM t1 JOIN bas b ON b.x = t1.x
        GROUP BY t1.doc_id, t1.u, b.u
    ), blk AS (
        SELECT doc_id, u * 8 + v AS i, dv,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dv) AS rk
        FROM d2 WHERE u < 8 AND v < 8
    ), med AS (
        SELECT doc_id,
               (MAX(CASE WHEN rk = 32 THEN dv END)
              + MAX(CASE WHEN rk = 33 THEN dv END)) // 2 AS m
        FROM blk GROUP BY doc_id
    ), h AS (
        SELECT b.doc_id,
               SUM(CASE WHEN b.dv > m.m AND b.i < 63 THEN CAST(1 AS BIGINT) << b.i
                        WHEN b.dv > m.m AND b.i = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
                        ELSE CAST(0 AS BIGINT) END) AS ph
        FROM blk b JOIN med m ON m.doc_id = b.doc_id
        GROUP BY b.doc_id
    ), pairs AS (
        SELECT a.doc_id AS keep0, b.doc_id AS dup0,
               bit_count(xor(a.ph, b.ph)) AS hamming
        FROM h a JOIN h b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ph, b.ph)) <= {max_hamming}
    )
    SELECT dup0 AS dup_id, MIN(keep0) AS keep_id,
           CAST(MIN(hamming) AS INTEGER) AS hamming
    FROM pairs GROUP BY dup0
    """


@register(
    "multimodal_image_phash_near_dup",
    oracle=_phash_oracle_sql(),
    doc="Near-duplicate IMAGE detection by DCT perceptual hash: "
    "fixed-point 16x16 DCT-II (integer basis, exact int64 matmuls — the "
    "same reason codecs specify integer transforms), top-left 8x8 "
    "low-frequency block thresholded at its integer median, then the "
    "pigeonhole 4x16-bit chunk equi-join shared with the aHash plan. "
    "Sturdier than aHash (low-frequency structure, not per-cell "
    "brightness). VALUE-ORACLED: the fixed-point integer DCT makes "
    "the whole transform exact, "
    "so the oracle restates raster synthesis, both basis matmuls (256 "
    "literal coefficients), the block median, bit packing, and the pair "
    "set in integer SQL; planted one-byte twin rasters and scalar/batch "
    "bit-identity stay asserted in tests/test_multimodal.py "
    "(operators/multimodal.py:phash_near_duplicates).",
)
def multimodal_image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import phash_near_duplicates

    return phash_near_duplicates(load_fixture(spark, sf_dir, "documents"))


@register(
    "multimodal_audio_vad",
    oracle="""
    WITH f AS (SELECT doc_id, unnest(range(0, 16)) AS fi FROM documents),
    s AS (SELECT doc_id, fi, unnest(range(0, 64)) AS j FROM f),
    v AS (
        SELECT doc_id, fi,
               (((doc_id * 31 + (fi * 64 + j) * 7) % 2003) - 1001)
                   * ((doc_id + fi) % 4) AS smp
        FROM s
    ),
    e AS (
        SELECT doc_id, fi, CAST(SUM(smp * smp) AS BIGINT) AS energy
        FROM v GROUP BY doc_id, fi
    ),
    a AS (SELECT doc_id, fi, energy FROM e WHERE energy > 32000000),
    g AS (
        SELECT doc_id, fi, energy,
               fi - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
        FROM a
    )
    SELECT doc_id, CAST(MIN(fi) AS INTEGER) AS seg_start,
           CAST(MAX(fi) AS INTEGER) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(energy) AS BIGINT) AS total_energy
    FROM g GROUP BY doc_id, grp
    """,
    doc="Energy-threshold voice-activity segmentation over a binary "
    "audio column: deterministic gain-modulated PCM is wav_encode'd, "
    "the 16-bit WAV is decoded back inside Arrow-batched mapInPandas "
    "(the real stdlib codec round trip, same as multimodal_audio_rms), "
    "per-64-sample frames get EXACT integer energy (sum of squares), "
    "and consecutive above-threshold frames collapse into segments via "
    "gaps-and-islands. Every value the driver hashes is an integer — "
    "no float crosses an engine boundary. The oracle restates the "
    "synthesized samples, energy, and islands in SQL, so the hash "
    "checks the encode->decode->feature->segment chain end to end. "
    "operators/multimodal.py:audio_frame_energy.",
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: decode is a per-document scan (mapInPandas, constant
    memory per Arrow batch); the segmentation windows partition by
    doc_id — embarrassingly parallel, no global state."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.window import Window

    from ..operators.multimodal import audio_frame_energy, wav_encode

    d = load_fixture(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                samples = []
                for i in range(1024):
                    base = ((did * 31 + i * 7) % 2003) - 1001
                    samples.append(base * ((did + i // 64) % 4))
                blobs.append(wav_encode(samples, 8000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "audio": blobs})

    with_audio = d.mapInPandas(synth, schema="doc_id long, audio binary")
    en = audio_frame_energy(with_audio, frame=64)
    active = en.filter(F.col("energy") > 32000000)
    isl = active.withColumn(
        "grp",
        F.col("frame_idx")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("frame_idx")),
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("frame_idx").cast("int").alias("seg_start"),
        F.max("frame_idx").cast("int").alias("seg_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("total_energy"),
    ).drop("grp")


@register(
    "multimodal_audio_constellation",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END AS base,
               CASE WHEN doc_id % 50 = 1 THEN 3 ELSE 0 END AS gain
        FROM documents
    ),
    s AS (
        SELECT doc_id, (blk * 16 + j) // 32 AS fi, (blk * 16 + j) % 32 AS pos,
               CAST(('0x' || substr(md5('aud:' || base || ':' || blk),
                                    j * 2 + 1, 2)) AS INTEGER) * 8 - 1020 + gain
                   AS smp
        FROM d, UNNEST(range(0, 16)) AS u1(blk), UNNEST(range(0, 16)) AS u2(j)
    ),
    pk AS (
        SELECT doc_id, fi, pos AS p,
               CAST(LEAST(smp - mn, 2047) AS BIGINT) AS n FROM (
            SELECT doc_id, fi, pos, smp,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, fi
                                      ORDER BY smp DESC, pos ASC) AS rn,
                   MIN(smp) OVER (PARTITION BY doc_id) AS mn
            FROM s
        ) WHERE rn = 1
    ),
    fp AS (
        SELECT DISTINCT a.doc_id,
               ((((CAST(a.p AS BIGINT) * 32 + b.p) * 32 + c.p) * 2048 + a.n)
                * 2048 + b.n) * 2048 + c.n AS fp
        FROM pk a
        JOIN pk b ON b.doc_id = a.doc_id AND b.fi = a.fi + 1
        JOIN pk c ON c.doc_id = a.doc_id AND c.fi = a.fi + 2
    )
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp x JOIN fp y ON y.fp = x.fp AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
    HAVING COUNT(*) >= 5
    """,
    doc="Audio near-duplicate detection by constellation fingerprints "
    "(Wang 2003 / Shazam, time-domain variant): md5-stream PCM per "
    "document (doc-specific pseudorandom samples, the synth_ppm image "
    "idiom) — where doc_id % 50 == 1 replays the PREVIOUS doc's "
    "audio through a +3 gain offset, planting near-dup pairs that are "
    "NOT byte-identical — is wav_encode'd, decoded back inside "
    "Arrow-batched mapInPandas, per-32-sample frames yield argmax "
    "landmarks, and 3-frame landmark chains hash positions plus "
    "min-normalized amplitudes (uniform gain cancels exactly) into "
    "~2^48-entropy fingerprints. Docs sharing >= 5 distinct "
    "fingerprints pair up via a hash EQUI-JOIN (audio never rides the "
    "shuffle — the minhash-LSH discipline on the audio modality). The "
    "chain length is the scale knob: fp entropy must dominate the "
    "corpus fingerprint count or bucket collapse turns the match join "
    "quadratic (the pair/coarse-band variant measured 19x at 8x data "
    "— BENCHNOTES round 7). Everything is integer arithmetic; the "
    "oracle restates synth, min-normalization, argmax (ties to lowest "
    "position), hashing and the match join, so the driver hash checks "
    "the encode->decode->landmark->join chain end to end. "
    "operators/multimodal.py:audio_peak_pairs.",
)
def multimodal_audio_constellation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: decode + landmarking is a per-document scan with
    constant memory per Arrow batch; matching is a (doc, fp) equi-join
    on slim integer rows, a<b dedup, groupBy count — bucketed join
    shapes at any corpus size."""
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import audio_peak_pairs, wav_encode

    d = load_fixture(spark, sf_dir, "documents").select("doc_id")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                base = did - 1 if did % 50 == 1 else did
                gain = 3 if did % 50 == 1 else 0
                samples = []
                for blk in range(16):
                    hx = hashlib.md5(f"aud:{base}:{blk}".encode()).hexdigest()
                    samples.extend(
                        int(hx[j * 2 : j * 2 + 2], 16) * 8 - 1020 + gain
                        for j in range(16)
                    )
                blobs.append(wav_encode(samples, 8000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "audio": blobs})

    with_audio = d.mapInPandas(synth, schema="doc_id long, audio binary")
    fp = audio_peak_pairs(with_audio, frame=32).select("doc_id", "fp").distinct()
    a = fp.select(F.col("doc_id").alias("id_a"), "fp")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )


def _resize_map_values(src: int = 16, dst: int = 10) -> str:
    """The nearest-neighbor resize map as a SQL VALUES literal: output
    byte j (row-major RGB over the dst x dst raster) pulls source byte
    q = 3*(sy*src + sx) + ch with sy = y*src//dst, sx = x*src//dst —
    the exact ppm_resize index arithmetic, restated as literals so the
    oracle is independent of the Python codec path."""
    rows = []
    for j in range(dst * dst * 3):
        p, ch = j // 3, j % 3
        y, x = p // dst, p % dst
        sy, sx = y * src // dst, x * src // dst
        q = 3 * (sy * src + sx) + ch
        rows.append(f"({j}, {q})")
    return ", ".join(rows)


@register(
    "multimodal_image_resize_digest",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 50 = 1 THEN doc_id - 1 ELSE doc_id END AS base,
               (doc_id % 50 = 1) AS twin
        FROM documents
    ),
    hx AS (
        SELECT doc_id, twin, blk, md5('img:' || base || ':' || blk) AS h
        FROM d, UNNEST(range(0, 48)) AS u(blk)
    ),
    byt AS (
        SELECT doc_id, blk * 16 + off AS q,
               CASE WHEN twin AND blk * 16 + off = 0
                    THEN (CAST(('0x' || substr(h, off * 2 + 1, 2)) AS INTEGER) + 1) % 256
                    ELSE CAST(('0x' || substr(h, off * 2 + 1, 2)) AS INTEGER)
               END AS b
        FROM hx, UNNEST(range(0, 16)) AS o(off)
    ),
    mapt AS (SELECT * FROM (VALUES {_resize_map_values()}) AS m(j, q)),
    res AS (
        SELECT p.doc_id, m.j, p.b
        FROM mapt m JOIN byt p ON p.q = m.q
    )
    SELECT doc_id,
           CAST(10 AS INTEGER) AS out_w, CAST(10 AS INTEGER) AS out_h,
           md5(string_agg(CAST(b AS VARCHAR), ',' ORDER BY j)) AS resized_md5
    FROM res GROUP BY doc_id
    """,
    doc="Image resize plumbing with a full value oracle: the synth_ppm "
    "16x16 P6 raster (md5-stream bytes, planted twins) goes through "
    "the REAL stdlib codec round trip — ppm_decode -> nearest-neighbor "
    "ppm_resize to 10x10 -> raster digest — inside Arrow-batched "
    "mapInPandas; the oracle restates the md5-stream bytes and the "
    "resize index map (sy = y*16 div 10, as a literal VALUES relation "
    "from the same arithmetic) and digests the identical 300-byte "
    "sequence, so the driver hash checks decode, index math and "
    "re-raster end to end. The non-integer 16->10 ratio makes the map "
    "non-trivial (rows/cols 0,1,3,4,6,8,9,11,12,14). "
    "operators/multimodal.py:ppm_resize.",
)
def multimodal_image_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: a per-document scan (constant memory per Arrow
    batch), digest computed in-plan from the emitted byte string — no
    shuffle at all; the raster never leaves its row."""
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import ppm_decode, ppm_resize, synth_ppm

    d = load_fixture(spark, sf_dir, "documents").select("doc_id")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, strs = [], []
            for did in pdf["doc_id"]:
                blob = synth_ppm(int(did))
                _w, _h, raster = ppm_decode(ppm_resize(blob, 10, 10))
                ids.append(did)
                strs.append(",".join(str(b) for b in raster))
            yield pd.DataFrame({"doc_id": ids, "raster_csv": strs})

    out = d.mapInPandas(resize, schema="doc_id long, raster_csv string")
    return out.select(
        "doc_id",
        F.lit(10).cast("int").alias("out_w"),
        F.lit(10).cast("int").alias("out_h"),
        F.md5("raster_csv").alias("resized_md5"),
    )
