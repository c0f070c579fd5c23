"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata (BASELINE.json north star).

The container has no image/audio codec *libraries*, so decode routes
through a three-branch seam: (1) PIL when importable, (2) a pure-stdlib
binary-PPM (P6) codec for blobs carrying that magic — a REAL decode path
exercised end-to-end in tests/test_multimodal.py, (3) otherwise
``decode_stub`` raises NotImplementedError unless ``fake=True``, which
produces deterministic fake features. Everything around the seam is
real and scale-correct:

- blobs ride as BinaryType columns (Parquet BYTE_ARRAY — columnar, never
  parsed on scan unless projected);
- metadata (byte length, sha256 content address, declared mime) is computed
  JVM-side;
- feature extraction runs through ``mapInPandas`` with an explicit output
  schema: Arrow-batched, executor-parallel, constant memory per batch —
  the shape a real decoder (PIL/ffmpeg) would drop into unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..plans.lineage import cut

FEATURE_DIM = 8


def _real_image_codec():
    """THE stub boundary: the one place that decides real vs fake decode.

    Returns a ``blob -> list[float]`` feature extractor backed by a real
    codec when one is importable (PIL here; soundfile/av would slot in the
    same way for audio/video), else None. This container ships no codecs,
    so callers fall through to the deterministic fake — but a deployment
    with Pillow installed flips every mapInPandas pipeline to real decode
    with zero code changes."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def extract(blob: bytes) -> list[float]:
        img = Image.open(io.BytesIO(blob)).convert("L").resize((FEATURE_DIM, 1))
        return [px / 255.0 for px in img.getdata()]

    return extract

# features are DoubleType: decode_stub computes IEEE doubles (byte/255.0),
# and keeping them lossless lets the fake-decode features be value-oracled
# (multimodal_features_scalar) — a float32 roundtrip would perturb the
# 255-division below DuckDB's double result.
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("sha256", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def attach_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Make an opaque binary column + typed metadata from a source column.

    (Here blobs come from text bytes — the fixtures carry no media — but
    the column types and plan shape are exactly what S3-hosted media would
    use.)"""
    blob = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("blob", blob).withColumn(
        "blob_meta",
        F.struct(
            F.octet_length(F.col(text_col)).cast("long").alias("byte_len"),
            F.sha2(blob, 256).alias("sha256"),
            F.lit("text/plain").alias("mime"),
        ),
    )


PPM_MAGIC = b"P6"


def ppm_encode(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) writer — the fixture/generator side of
    the stdlib codec."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"raster is {len(rgb)} bytes, want {width * height * 3}")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def ppm_decode(blob: bytes) -> tuple[int, int, bytes]:
    """Minimal binary-PPM (P6, maxval 255) parser, pure stdlib — the REAL
    image-decode branch for codec-less environments. Handles the full P6
    header grammar (arbitrary whitespace, ``#`` comments) so any standard
    tool's output parses. Returns (width, height, packed RGB raster)."""
    if blob[:2] != PPM_MAGIC:
        raise ValueError("not a P6 PPM blob")
    i, vals = 2, []
    while len(vals) < 3:
        while i < len(blob) and blob[i : i + 1].isspace():
            i += 1
        if blob[i : i + 1] == b"#":
            while i < len(blob) and blob[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(blob) and not blob[j : j + 1].isspace():
            j += 1
        vals.append(int(blob[i:j]))
        i = j
    w, h, maxv = vals
    if maxv != 255:
        raise ValueError(f"only maxval 255 supported, got {maxv}")
    raster = blob[i + 1 : i + 1 + w * h * 3]  # header ends at ONE whitespace byte
    if len(raster) < w * h * 3:
        raise ValueError("truncated PPM raster")
    return w, h, raster


def _ppm_features(blob: bytes) -> list[float]:
    """Mirror of the PIL branch for PPM blobs: integer-luma grayscale
    (ITU-R 601 weights, like PIL mode 'L'), box-averaged into FEATURE_DIM
    column bands, normalized to [0,1]. Plain Python loops are fine here:
    this branch exists to make decode->features->resize REAL and testable;
    a production deployment decodes via a vectorized codec (branch 1)."""
    w, h, raster = ppm_decode(blob)
    sums = [0] * FEATURE_DIM
    counts = [0] * FEATURE_DIM
    for y in range(h):
        for x in range(w):
            o = 3 * (y * w + x)
            luma = (299 * raster[o] + 587 * raster[o + 1] + 114 * raster[o + 2]) // 1000
            band = x * FEATURE_DIM // w
            sums[band] += luma
            counts[band] += 1
    return [s / c / 255.0 if c else 0.0 for s, c in zip(sums, counts)]


def ppm_resize(blob: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize of a P6 blob, re-encoded as P6 — the real
    resize branch for the stdlib codec."""
    w, h, raster = ppm_decode(blob)
    out = bytearray()
    for y in range(height):
        sy = y * h // height
        for x in range(width):
            o = 3 * (sy * w + x * w // width)
            out += raster[o : o + 3]
    return ppm_encode(width, height, bytes(out))


def decode_stub(blob: bytes, fake: bool) -> list[float]:
    """Decode a media blob into features.

    Routes through the codec seam: (1) a real library decoder whenever
    importable (``_real_image_codec``); (2) the pure-stdlib PPM codec when
    the blob carries the P6 magic — real decode with no dependencies;
    (3) otherwise ``fake=True`` selects the deterministic fake
    (FEATURE_DIM floats derived from byte content) so the distributed
    plumbing stays fully testable in codec-less environments."""
    if not fake:
        real = _real_image_codec()
        if real is not None:
            return real(blob)
        if blob[:2] == PPM_MAGIC:
            return _ppm_features(blob)
        raise NotImplementedError(
            "media codecs (PIL/ffmpeg) are not installed in this container "
            "and the blob is not PPM; pass fake=True for deterministic "
            "plumbing-test features"
        )
    n = len(blob)
    return [float(blob[(i * 7919) % n]) / 255.0 if n else 0.0 for i in range(FEATURE_DIM)]


def extract_features(df: DataFrame, id_col: str = "doc_id", fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary blobs via mapInPandas.

    Batch shape: each pandas chunk holds whole blobs (Spark sizes batches
    by ``spark.sql.execution.arrow.maxRecordsPerBatch``); the UDF is pure
    per-row so Spark may split/reorder batches freely — no cross-batch
    state, which is what keeps this correct under AQE re-partitioning."""
    src = df.select(F.col(id_col).cast("long").alias("doc_id"), "blob")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            blobs = pdf["blob"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": blobs.map(len),
                    "sha256": blobs.map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                    "features": blobs.map(lambda b: decode_stub(bytes(b), fake)),
                }
            )

    return src.mapInPandas(run, FEATURE_SCHEMA)


FRAME_SIZE = 256  # bytes per fake "frame" (stand-in for a decoded frame)
FRAME_STRIDE = 4  # sample every 4th frame
FRAME_MS = 40  # 25 fps

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_ms", LongType()),
        StructField("frame_sha", StringType()),
    ]
)


def resize_stub(blob: bytes, width: int, height: int, fake: bool) -> bytes:
    """Resize an image blob.

    PPM blobs resize for real through the stdlib codec (``ppm_resize``);
    other formats need a library codec (production: `PIL.Image.open(
    io.BytesIO(blob)).resize(...)`) and fall back to the deterministic
    fake, which tiles/truncates the source bytes to width*height so
    output size is exactly the contract a real resize keeps."""
    if not fake:
        if blob[:2] == PPM_MAGIC:
            return ppm_resize(blob, width, height)
        raise NotImplementedError(
            "image codecs (PIL) are not installed in this container and "
            "the blob is not PPM; pass fake=True for deterministic "
            "plumbing-test output"
        )
    need = width * height
    if not blob:
        return b"\x00" * need
    reps = -(-need // len(blob))
    return (blob * reps)[:need]


def sample_frames(df: DataFrame, id_col: str = "doc_id", fake: bool = True) -> DataFrame:
    """Frame sampling over binary 'video' blobs via mapInPandas: every
    FRAME_STRIDE-th FRAME_SIZE-byte frame becomes its own output row —
    the 1-row -> N-rows batch shape a real ffmpeg frame sampler uses
    (yielded DataFrames need not align with input batch sizes; Arrow
    re-chunks freely).

    Scale: output rows carry the frame hash, not the frame bytes — at
    100 TB the downstream join/dedup works on fingerprints and refetches
    bytes only for the survivors. Blobs here are text bytes (no media in
    the fixtures); the sampling geometry (frame count = floor(len/size),
    indices 0, stride, 2*stride, ...) is engine-neutral and oracle-checked
    in the multimodal_frame_sample query."""
    src = df.select(F.col(id_col).cast("long").alias("doc_id"), "blob")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, mss, shas = [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = bytes(blob)
                if not fake:
                    raise NotImplementedError(
                        "video codecs (ffmpeg/av) are not installed; "
                        "pass fake=True for deterministic plumbing-test frames"
                    )
                n_frames = len(b) // FRAME_SIZE
                for i in range(0, n_frames, FRAME_STRIDE):
                    frame = b[i * FRAME_SIZE : (i + 1) * FRAME_SIZE]
                    ids.append(doc_id)
                    idxs.append(i)
                    mss.append(i * FRAME_MS)
                    shas.append(hashlib.sha256(frame).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_ms": mss, "frame_sha": shas}
            )

    return src.mapInPandas(run, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Audio modality: stdlib WAV codec (the audio analog of the PPM image path —
# a REAL container format decoded with zero external dependencies, so the
# decode -> frame-feature pipeline is exercised end-to-end in this sandbox).

def wav_encode(samples: list[int], rate: int = 8000) -> bytes:
    """16-bit mono PCM WAV from integer samples (stdlib wave + struct)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def wav_decode(blob: bytes) -> tuple[int, list[int]]:
    """(rate, samples) from a 16-bit mono PCM WAV blob."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(blob), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("expected 16-bit mono PCM")
        n = w.getnframes()
        return w.getframerate(), list(struct.unpack(f"<{n}h", w.readframes(n)))


def audio_frame_rms(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "audio",
    frame: int = 64,
) -> DataFrame:
    """Per-frame RMS energy over WAV blobs: decode (real stdlib codec),
    window into fixed frames, emit (id, frame_idx, rms). Arrow-batched
    mapInPandas, constant memory per batch; the canonical first step of
    any audio-quality or VAD filter over a binary audio column."""
    import math
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, rms = [], [], []
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                _rate, samples = wav_decode(bytes(blob))
                for fi in range(len(samples) // frame):
                    fr = samples[fi * frame : (fi + 1) * frame]
                    ss = sum(s * s for s in fr)  # exact int
                    ids.append(did)
                    fids.append(fi)
                    rms.append(math.sqrt(float(ss) / float(frame)))
            yield pd.DataFrame({id_col: ids, "frame_idx": fids, "rms": rms})

    return df.select(id_col, blob_col).mapInPandas(
        run, schema=f"{id_col} long, frame_idx int, rms double"
    )


def audio_frame_energy(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "audio",
    frame: int = 64,
) -> DataFrame:
    """Per-frame EXACT energy (sum of squared samples, int64) over WAV
    blobs — the integer twin of audio_frame_rms for downstream logic
    that must be hash-comparable across engines (VAD thresholds,
    segment totals): 16-bit samples keep the per-frame sum of squares
    well inside int64 for any frame length below ~2^21."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, en = [], [], []
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                _rate, samples = wav_decode(bytes(blob))
                for fi in range(len(samples) // frame):
                    fr = samples[fi * frame : (fi + 1) * frame]
                    ids.append(did)
                    fids.append(fi)
                    en.append(sum(s * s for s in fr))
            yield pd.DataFrame({id_col: ids, "frame_idx": fids, "energy": en})

    return df.select(id_col, blob_col).mapInPandas(
        run, schema=f"{id_col} long, frame_idx int, energy long"
    )


# ---------------------------------------------------------------------------
# Perceptual image hashing + near-duplicate image detection: the visual
# twin of the text near-dup pipeline (aHash -> pigeonhole hamming join).

AHASH_BITS = 64
AHASH_CHUNKS = 4  # 16-bit chunks: pigeonhole-complete for hamming <= 3


def synth_ppm(doc_id: int) -> bytes:
    """Deterministic 16x16 P6 image for a fixture row (the fixtures carry
    no media): raster bytes from an md5 stream seeded by the IMAGE KEY,
    where rows with doc_id % 50 == 1 reuse the previous row's key with a
    one-byte +1 perturbation — planted near-duplicate pairs with a known
    ground truth, the same trick the dedup fixtures use for text."""
    import hashlib

    twin = doc_id % 50 == 1
    base = doc_id - 1 if twin else doc_id
    raster = bytearray()
    i = 0
    while len(raster) < 16 * 16 * 3:
        raster += hashlib.md5(f"img:{base}:{i}".encode()).digest()
        i += 1
    raster = raster[: 16 * 16 * 3]
    if twin:
        raster[0] = (raster[0] + 1) % 256
    return ppm_encode(16, 16, bytes(raster))


def ahash_of_ppm(blob: bytes) -> int:
    """Average hash: decode, integer-luma grayscale, box-average onto an
    8x8 grid, one bit per cell = cell mean > global mean. Robust to small
    pixel perturbations and to resizing — the standard cheap perceptual
    fingerprint (pHash's DCT variant drops in behind the same seam)."""
    w, h, raster = ppm_decode(blob)
    sums = [[0] * 8 for _ in range(8)]
    counts = [[0] * 8 for _ in range(8)]
    for y in range(h):
        for x in range(w):
            o = 3 * (y * w + x)
            luma = (299 * raster[o] + 587 * raster[o + 1] + 114 * raster[o + 2]) // 1000
            gy, gx = y * 8 // h, x * 8 // w
            sums[gy][gx] += luma
            counts[gy][gx] += 1
    cells = [
        sums[gy][gx] / counts[gy][gx] if counts[gy][gx] else 0.0
        for gy in range(8)
        for gx in range(8)
    ]
    mean = sum(cells) / 64.0
    bits = 0
    for i, c in enumerate(cells):
        if c > mean:
            bits |= 1 << i
    return bits


def spread_ids(df: DataFrame, *cols: str) -> DataFrame:
    """Round-robin the projected id relation across the session's default
    parallelism before a compute-heavy synth/decode pass.

    The fixture tables are single-row-group parquet files, so a bare scan
    is ONE input split and every downstream mapInPandas decode pass runs
    in one task (measured: the whole aHash pass of
    multimodal_image_near_dup ran 9.1 s single-task at sf0.1 while 31
    cores idled). The exchange moves only the named slim columns (an
    8-byte id by default — never blobs). GATED like rebalance_scan
    because at 100 TB the scan already yields thousands of splits,
    and an unconditional repartition(defaultParallelism) would COALESCE
    them to exactly one task wave — capping scheduling granularity and
    straggler recovery for the most expensive per-row pass in the suite.
    With the gate the repartition only ever widens a narrow scan."""
    from ..plans.hints import rebalance_scan

    sel = df.select(*cols) if cols else df
    return rebalance_scan(sel)


def image_ahashes(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, ahash) via one Arrow mapInPandas pass: synth-encode (fixture
    seam — a real deployment reads the binary column), decode, hash.
    Scan-shaped, constant memory, no shuffle."""
    out_schema = f"{id_col} long, ahash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids = pdf[id_col]
            # Whole-batch vectorized aHash (bit-identical to the scalar
            # reference ahash_of_ppm, which tests diff against this path):
            # integer luma and the 2x2 box sums are exact in int64, and
            # cell means / the global mean are integer multiples of 1/4
            # below 2^26 — exactly representable, so np summation order
            # cannot flip a threshold bit. ~4x faster than the python
            # pixel loops at 5k images.
            rasters = np.stack(
                [
                    np.frombuffer(ppm_decode(synth_ppm(int(i)))[2], dtype=np.uint8)
                    .reshape(16, 16, 3)
                    .astype(np.int64)
                    for i in ids
                ]
            )
            luma = (
                299 * rasters[..., 0] + 587 * rasters[..., 1] + 114 * rasters[..., 2]
            ) // 1000
            cells = luma.reshape(-1, 8, 2, 8, 2).sum(axis=(2, 4)) / 4.0
            mean = cells.reshape(len(ids), 64).sum(axis=1) / 64.0
            bits = cells.reshape(len(ids), 64) > mean[:, None]
            weights = (1 << np.arange(64, dtype=np.uint64))
            hashes = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({id_col: ids, "ahash": hashes})

    return spread_ids(df, id_col).mapInPandas(run, out_schema)


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def ahash_near_duplicates(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Near-duplicate IMAGES: pairs whose aHashes differ in at most
    ``max_hamming`` of 64 bits, found by the pigeonhole chunk trick —
    hamming(a,b) <= 3 guarantees an equal 16-bit chunk among 4, so
    candidate generation is an EQUALITY self-join on (chunk_idx,
    chunk_value), never a cross join (the simhash text plan, reused for
    vision). Output: (dup_id, keep_id, hamming), keep = lower id.

    At 100 TB of images only (id, 64-bit hash) rows shuffle — the hash
    table is ~16 bytes/image regardless of image size; decode cost is the
    scan-shaped map above."""
    return _hamming_chunk_pairs(image_ahashes(df, id_col), "ahash", max_hamming, id_col)


# ---------------------------------------------------------------------------
# Video modality: a stdlib frame container + shot-boundary detection — the
# temporal twin of the image path (decode -> per-frame feature -> pairwise
# comparison along time instead of across corpus).

PVV_MAGIC = b"PVV1"


def pvv_encode(frames: list[bytes]) -> bytes:
    """Minimal video container: magic, frame count, then length-prefixed
    P6 frames. The stdlib stand-in for a real demuxer, same seam as the
    PPM codec (a production deployment swaps in PyAV/ffmpeg behind the
    identical mapInPandas signature)."""
    out = bytearray(PVV_MAGIC + b"\n%d\n" % len(frames))
    for f in frames:
        out += b"%d\n" % len(f)
        out += f
    return bytes(out)


def pvv_decode(blob: bytes) -> list[bytes]:
    if blob[:4] != PVV_MAGIC:
        raise ValueError("not a PVV blob")
    i = blob.index(b"\n", 5) if False else blob.index(b"\n", 4)
    j = blob.index(b"\n", i + 1)
    n = int(blob[i + 1 : j])
    frames, pos = [], j + 1
    for _ in range(n):
        k = blob.index(b"\n", pos)
        ln = int(blob[pos:k])
        frames.append(blob[k + 1 : k + 1 + ln])
        pos = k + 1 + ln
    return frames


def synth_video(doc_id: int, n_frames: int = 8) -> bytes:
    """Deterministic 8-frame 16x16 clip with a PLANTED SHOT CUT at frame
    n_frames//2: the first shot evolves gently from seed (doc_id, 'a')
    (per-frame one-byte drift), the second shot restarts from an
    unrelated seed — ground truth for the boundary detector."""
    import hashlib

    def frame(seed: str, drift: int, bright: bool) -> bytes:
        raster = bytearray()
        i = 0
        while len(raster) < 16 * 16 * 3:
            raster += hashlib.md5(f"vid:{seed}:{i}".encode()).digest()
            i += 1
        raster = raster[: 16 * 16 * 3]
        # Shots must differ in LUMINANCE, not just bytes: md5 noise has a
        # near-uniform luma histogram whatever the seed, which would make
        # the cut invisible to any histogram feature. Shot A is biased
        # bright (high bit set), shot B dark (high bit cleared).
        for k in range(len(raster)):
            raster[k] = raster[k] | 0x80 if bright else raster[k] & 0x7F
        for d in range(drift):
            raster[d % len(raster)] = (raster[d % len(raster)] + 7) % 256
        return ppm_encode(16, 16, bytes(raster))

    n_a = n_frames // 2
    frames = [frame(f"{doc_id}:a", t, True) for t in range(n_a)]
    frames += [frame(f"{doc_id}:b", t, False) for t in range(n_frames - n_a)]
    return pvv_encode(frames)


def _luma_hist8(blob: bytes) -> list[int]:
    """8-bin luminance histogram of a P6 frame — the classic cheap
    shot-detection feature."""
    w, h, raster = ppm_decode(blob)
    hist = [0] * 8
    for o in range(0, w * h * 3, 3):
        luma = (299 * raster[o] + 587 * raster[o + 1] + 114 * raster[o + 2]) // 1000
        hist[min(7, luma >> 5)] += 1
    return hist


def video_shot_boundaries(
    df: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """Shot-boundary detection: decode each clip's frames, compute 8-bin
    luma histograms, normalize, and flag frame transitions whose L1
    histogram distance exceeds ``threshold`` — the standard first-pass
    shot segmenter every video-training pipeline runs before frame
    sampling (sample per shot, not per clip).

    Output: (doc_id, frame_idx, l1_dist, is_cut) for transitions 1..n-1.

    Scan-shaped mapInPandas: one decode pass per clip, state bounded by
    one frame pair — 100 TB of video streams through without shuffle;
    the frame count per row bounds memory, not the corpus."""
    out_schema = f"{id_col} long, frame_idx int, l1_dist double, is_cut int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {id_col: [], "frame_idx": [], "l1_dist": [], "is_cut": []}
            for did in pdf[id_col]:
                frames = pvv_decode(synth_video(int(did)))
                prev = None
                for t, fr in enumerate(frames):
                    hist = _luma_hist8(fr)
                    tot = sum(hist) or 1
                    norm = [c / tot for c in hist]
                    if prev is not None:
                        d = sum(abs(a - b) for a, b in zip(prev, norm))
                        rows[id_col].append(int(did))
                        rows["frame_idx"].append(t)
                        rows["l1_dist"].append(round(d, 6))
                        rows["is_cut"].append(int(d > threshold))
                    prev = norm
            yield pd.DataFrame(rows)

    return spread_ids(df, id_col).mapInPandas(run, out_schema)


def audio_spectral_centroid(
    df: DataFrame,
    frame_len: int = 256,
    id_col: str = "doc_id",
) -> DataFrame:
    """Spectral centroid per audio frame (the brightness feature of audio
    quality/content filters): synth-encode a WAV (fixture seam), decode,
    frame the samples, rFFT each frame, centroid = sum(f*|X|)/sum(|X|).

    Output: (doc_id, frame_idx, centroid_hz). numpy-vectorized per Arrow
    batch; one decode pass, no shuffle. Rows-only by nature (FFT is not
    SQL); differentially tested against direct numpy rfft in
    tests/test_multimodal.py."""
    out_schema = f"{id_col} long, frame_idx int, centroid_hz double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = {id_col: [], "frame_idx": [], "centroid_hz": []}
            for did in pdf[id_col]:
                rate, samples = wav_decode(synth_wav(int(did)))
                x = np.asarray(samples, dtype=np.float64)
                n_frames = len(x) // frame_len
                for t in range(n_frames):
                    fr = x[t * frame_len : (t + 1) * frame_len]
                    mag = np.abs(np.fft.rfft(fr))
                    freqs = np.fft.rfftfreq(frame_len, d=1.0 / rate)
                    tot = mag.sum()
                    c = float((freqs * mag).sum() / tot) if tot > 0 else 0.0
                    rows[id_col].append(int(did))
                    rows["frame_idx"].append(t)
                    rows["centroid_hz"].append(round(c, 4))
            yield pd.DataFrame(rows)

    return df.select(id_col).mapInPandas(run, out_schema)


def synth_wav(doc_id: int, n_samples: int = 1024, rate: int = 8000) -> bytes:
    """Deterministic test tone per row: a doc_id-dependent sine (so
    spectral features vary by row) plus a quiet second harmonic."""
    import math

    f0 = 200.0 + (doc_id % 20) * 150.0
    samples = [
        int(
            12000 * math.sin(2 * math.pi * f0 * t / rate)
            + 4000 * math.sin(2 * math.pi * 2 * f0 * t / rate)
        )
        for t in range(n_samples)
    ]
    return wav_encode(samples, rate)


# ---------------------------------------------------------------------------
# pHash: DCT-based perceptual hash (the standard upgrade over aHash for
# vision near-dup mining). The DCT here is FIXED-POINT — basis
# coefficients round(alpha_u * cos(pi*(2x+1)u/32) * 2^14) as int64 — so
# the transform is exact integer arithmetic: the scalar reference and the
# numpy-matmul batch path are bit-identical by construction (the same
# reason real codecs specify integer DCTs), and a threshold bit can never
# flip on summation order.


def _dct16_basis() -> list[list[int]]:
    import math

    rows = []
    for u in range(16):
        alpha = math.sqrt(1.0 / 16) if u == 0 else math.sqrt(2.0 / 16)
        rows.append(
            [
                round(alpha * math.cos(math.pi * (2 * x + 1) * u / 32) * (1 << 14))
                for x in range(16)
            ]
        )
    return rows


def phash_of_ppm(blob: bytes) -> int:
    """Scalar pHash reference: integer luma -> fixed-point 2D DCT-II ->
    top-left 8x8 low-frequency block -> bit per coefficient above the
    block's integer median. Pure-python loops; the Arrow batch path
    (image_phashes) must match bit-for-bit."""
    w, h, raster = ppm_decode(blob)
    assert w == 16 and h == 16, "fixture rasters are 16x16"
    luma = [
        [
            (
                299 * raster[3 * (y * 16 + x)]
                + 587 * raster[3 * (y * 16 + x) + 1]
                + 114 * raster[3 * (y * 16 + x) + 2]
            )
            // 1000
            for x in range(16)
        ]
        for y in range(16)
    ]
    B = _dct16_basis()
    # D = B @ luma @ B^T, exact int64-range arithmetic
    t = [[sum(B[u][y] * luma[y][x] for y in range(16)) for x in range(16)] for u in range(16)]
    d = [[sum(t[u][x] * B[v][x] for x in range(16)) for v in range(16)] for u in range(16)]
    coeffs = [d[u][v] for u in range(8) for v in range(8)]
    s = sorted(coeffs)
    med = (s[31] + s[32]) // 2
    bits = 0
    for i, c in enumerate(coeffs):
        if c > med:
            bits |= 1 << i
    return bits


def image_phashes(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, phash) in one Arrow mapInPandas pass: synth-encode (fixture
    seam), decode, fixed-point DCT via two int64 matmuls per batch.
    Scan-shaped, no shuffle; bit-identical to phash_of_ppm (asserted in
    tests/test_multimodal.py) because every operation is integer."""
    out_schema = f"{id_col} long, phash long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        B = np.array(_dct16_basis(), dtype=np.int64)
        for pdf in batches:
            ids = pdf[id_col]
            rasters = np.stack(
                [
                    np.frombuffer(ppm_decode(synth_ppm(int(i)))[2], dtype=np.uint8)
                    .reshape(16, 16, 3)
                    .astype(np.int64)
                    for i in ids
                ]
            )
            luma = (
                299 * rasters[..., 0] + 587 * rasters[..., 1] + 114 * rasters[..., 2]
            ) // 1000
            d = np.einsum("uy,nyx,vx->nuv", B, luma, B)  # exact int64
            block = d[:, :8, :8].reshape(len(ids), 64)
            srt = np.sort(block, axis=1)
            med = (srt[:, 31] + srt[:, 32]) // 2
            bits = block > med[:, None]
            weights = (1 << np.arange(64, dtype=np.uint64))
            hashes = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({id_col: ids, "phash": hashes})

    return spread_ids(df, id_col).mapInPandas(run, out_schema)


def _hamming_chunk_pairs(
    hashes: DataFrame, hash_col: str, max_hamming: int, id_col: str
) -> DataFrame:
    """Shared pigeonhole candidate join for 64-bit perceptual hashes:
    hamming <= max_hamming (< 4) guarantees an equal 16-bit chunk among
    4, so candidates come from an EQUALITY self-join on (chunk_idx,
    chunk_value) — only (id, hash) rows shuffle at any corpus size.

    The hash relation is cut before the self-join: both join sides
    would otherwise re-evaluate the upstream decode+hash pass (an Arrow
    mapInPandas over every image) — the cut pins the
    ~16-bytes/row relation so the corpus is decoded exactly once
    (guide §8: decide on the lightweight proxy, decode heavy bytes once)."""
    hashes = cut(hashes)
    chunks = hashes.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col(hash_col), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for i in range(AHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select(id_col, hash_col, F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunks.select(
        F.col(id_col).alias("keep_id"), F.col(hash_col).alias("ha"), "ci", "cv"
    )
    b = chunks.select(
        F.col(id_col).alias("dup_id"), F.col(hash_col).alias("hb"), "ci", "cv"
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # hamming filter BEFORE the distinct: bit_count is a per-row codegen
    # op while distinct is a shuffle — filtering first shuffles only the
    # <= max_hamming survivors instead of every chunk-collision pair
    # (guide §2.3: shuffle fewer bytes; the result set is identical
    # because the filter column is deterministic per pair).
    return (
        a.join(b, on=["ci", "cv"])
        .filter(F.col("keep_id") < F.col("dup_id"))
        .select("keep_id", "dup_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .groupBy("dup_id")
        .agg(F.min("keep_id").alias("keep_id"), F.min("hamming").cast("int").alias("hamming"))
        .select("dup_id", "keep_id", "hamming")
    )


def phash_near_duplicates(
    df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Near-duplicate images by DCT pHash — same pigeonhole plan as the
    aHash variant, sturdier fingerprint (low-frequency structure instead
    of per-cell brightness)."""
    return _hamming_chunk_pairs(image_phashes(df, id_col), "phash", max_hamming, id_col)


def audio_peak_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "audio",
    frame: int = 32,
    chain: int = 3,
) -> DataFrame:
    """Shazam-style constellation fingerprints over WAV blobs (Wang 2003,
    time-domain variant): per ``frame``-sample window, the landmark is
    the argmax sample (lowest position on ties), and runs of ``chain``
    consecutive landmarks hash positions plus min-normalized amplitudes
    into one int64. Two exactness properties carry the design: uniform
    gain cancels EXACTLY (argmax order is shift-invariant and the
    amplitude enters as ``sample - min(doc samples)``), and the hash is
    position-coded with no absolute frame index, so a clip matches at
    any frame-aligned offset WITHIN the same normalized stream (the
    min is per-stream: an excerpt that omits the stream's minimum
    sample normalizes to shifted amplitudes — cross-excerpt matching
    needs the excerpt to share the stream min, or per-window
    normalization). Normalized amplitudes clamp at the 2048 radix
    ceiling, so full-range int16 audio saturates instead of bleeding
    into the position fields. The chain exists for scale: fingerprint
    entropy (frame^chain * 2048^chain ~ 2^48 here) must stay far above
    the corpus's fingerprint count or the downstream hash equi-join
    goes quadratic in docs-per-bucket — the adjacent-PAIR/coarse-band
    variant measured a 19x wall-clock ratio at 8x data from exactly
    that bucket collapse (BENCHNOTES round 7). Emits (id, pair_idx, fp)
    rows; matching is a downstream hash equi-join, never an audio
    comparison."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, pidx, fps = [], [], []
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                _rate, samples = wav_decode(bytes(blob))
                if not samples:
                    continue
                mn = min(samples)
                peaks = []
                for fi in range(len(samples) // frame):
                    fr = samples[fi * frame : (fi + 1) * frame]
                    p = max(range(frame), key=lambda j: (fr[j], -j))
                    peaks.append((p, min(fr[p] - mn, 2047)))
                for k in range(len(peaks) - chain + 1):
                    fp = 0
                    for p, _n in peaks[k : k + chain]:
                        fp = fp * frame + p
                    for _p, n in peaks[k : k + chain]:
                        fp = fp * 2048 + n
                    ids.append(did)
                    pidx.append(k)
                    fps.append(fp)
            yield pd.DataFrame({id_col: ids, "pair_idx": pidx, "fp": fps})

    return df.select(id_col, blob_col).mapInPandas(
        run, schema=f"{id_col} long, pair_idx int, fp long"
    )
