"""Multimodal (image/audio/video) column handling.

Not in the reference (pure tabular ETL) — added per the engine's
training-data scope. Media payloads are opaque ``binary`` columns with a
typed metadata struct; all per-item compute goes through Arrow-batched
``mapInPandas`` so bytes move driver-free, batch-at-a-time, and the
Python worker amortizes per-row overhead.

Real decode is dependency-free: ``decode_ppm`` parses ACTUAL netpbm P6
image bytes to a pixel array with numpy/struct alone, so the full
byte→decode→feature path runs and is value-tested in this container.
Compressed codecs plug into the same ``featurizer=`` seam of
``extract_image_features``; the default featurizer is a deterministic
sha256 stand-in for plumbing tests.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ingestao_dados_poli_spark.partitioning import fan_out
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),          # image | audio | video
        StructField("payload", BinaryType()),        # opaque encoded bytes
        StructField("mime", StringType()),
        StructField("width", IntegerType()),         # images/video
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),   # audio/video
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _range_sliced(spark, n: int, rows_per_task: int = 64) -> DataFrame:
    """``spark.range(n)`` with the partition count sized to the data:
    ``min(defaultParallelism, ceil(n / rows_per_task))``. The synthetic
    generators feed mapInPandas stages, and a default 32-way range of a
    256-row table hands each Python worker an 8-row batch — the
    per-task Arrow round-trip dominates the work (measured: q40's
    whole cost was task overhead, the sha256 math is microseconds).
    At real scale the cap never binds (n/rows_per_task exceeds the
    session parallelism immediately), so this only de-fragments the
    config-sized test tables."""
    n_parts = max(1, min(
        spark.sparkContext.defaultParallelism, -(-n // rows_per_task)
    ))
    return spark.range(0, n, 1, n_parts)


def _fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder+encoder: derive ``dim``
    floats in [0,1) from sha256 of the bytes. Replace with a real model
    head when codec libs are available."""
    import hashlib

    h = hashlib.sha256(payload or b"").digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)]


def encode_ppm(arr) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary netpbm P6 — the
    uncompressed interchange format whose decode needs no codec lib."""
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype("uint8").tobytes()


def decode_ppm(payload: bytes):
    """REAL image decode, dependency-free: parse P6 netpbm bytes
    (magic, whitespace/comment-tolerant header, raster) into an
    (h, w, 3) uint8 numpy array via one zero-copy ``frombuffer``."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    toks: list[int] = []
    i = 2
    while len(toks) < 3:
        while payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while not payload[j : j + 1].isspace():
            j += 1
        toks.append(int(payload[i:j]))
        i = j
    i += 1  # exactly one whitespace byte separates header from raster
    w, h, maxval = toks
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return arr.reshape(h, w, 3)


def ppm_featurizer(dim: int = 8) -> Callable[[bytes], list[float]]:
    """Real-pixel featurizer for ``extract_image_features``: decode the
    P6 bytes, grayscale, mean intensity of ``dim`` vertical strips in
    [0, 1] — runnable with numpy alone, so the byte→decode→feature path
    is fully real here."""
    import numpy as np

    def fz(payload: bytes) -> list[float]:
        gray = decode_ppm(payload).astype(np.float32).mean(axis=2) / 255.0
        w = gray.shape[1]
        edges = np.linspace(0, w, dim + 1).astype(int)
        return [
            float(gray[:, edges[k] : max(edges[k + 1], edges[k] + 1)].mean())
            for k in range(dim)
        ]

    return fz


def synthetic_ppm_media(
    spark, n: int = 64, width: int = 32, height: int = 16
) -> DataFrame:
    """Media table whose payloads are REAL encoded P6 images (a
    deterministic per-id gradient pattern), built Arrow-batch-at-a-time
    in mapInPandas — no driver-side byte generation, so the generator
    itself scales like any other operator."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        x = np.linspace(0, 255, width, dtype=np.float32)
        y = np.linspace(0, 255, height, dtype=np.float32)
        for pdf in batches:
            payloads = []
            for mid in pdf["id"]:
                r = (np.add.outer(y * 0, x) + mid) % 256
                g = np.add.outer(y, x * 0) % 256
                b = np.full((height, width), (mid * 37) % 256, np.float32)
                payloads.append(encode_ppm(np.stack([r, g, b], axis=2)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "kind": "image",
                    "payload": payloads,
                    "mime": "image/x-portable-pixmap",
                    "width": width,
                    "height": height,
                    "duration_ms": 0,
                }
            )

    return _range_sliced(spark, n).mapInPandas(fn, schema=MEDIA_SCHEMA)


def extract_image_features(
    media: DataFrame,
    dim: int = 8,
    batch_hint: int = 1024,
    featurizer: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """media frame → (media_id, width, height, n_bytes, features).

    mapInPandas: Arrow-batched, zero driver involvement; each task
    processes its partition's batches independently, so throughput
    scales linearly with executors. Partition sizing guidance: keep
    payload partitions ≤ ~256 MB (writer's maxRecordsPerFile) so a batch
    of decoded images fits executor memory.
    """
    fz = featurizer or (lambda b: _fake_features(b, dim))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"].fillna(0).astype("int32"),
                    "height": pdf["height"].fillna(0).astype("int32"),
                    "n_bytes": pdf["payload"].map(lambda b: len(b or b"")).astype("int64"),
                    "features": pdf["payload"].map(lambda b: fz(b or b"")),
                }
            )

    cols = ["media_id", "payload", "width", "height"]
    return fan_out(media.select(*cols)).mapInPandas(fn, schema=IMAGE_FEATURES_SCHEMA)


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (no codec libs needed).

    Payload bytes come from sha2 over the id — stable across runs."""
    base = _range_sliced(spark, n).select(
        F.col("id").alias("media_id"),
        F.when(F.pmod("id", F.lit(3)) == 0, "image")
        .when(F.pmod("id", F.lit(3)) == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.sha2(F.concat(F.lit(str(seed)), F.col("id").cast("string")), 256)
        .cast("binary")
        .alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.pmod("id", F.lit(16)) * 64 + 64).cast("int").alias("width"),
        (F.pmod("id", F.lit(9)) * 64 + 64).cast("int").alias("height"),
        (F.pmod("id", F.lit(7)) * 1000 + 1000).cast("int").alias("duration_ms"),
    )
    return base


def _block_bits(base_id: int, grid: int = 8) -> list[int]:
    """The deterministic 0/1 block pattern for a synthetic image: bit
    (by, bx) = parity of md5('{base_id}_{by}_{bx}') — re-derivable by
    any process (driver-side probes included) without Spark."""
    import hashlib

    return [
        int(hashlib.md5(f"{base_id}_{by}_{bx}".encode()).hexdigest(), 16) & 1
        for by in range(grid)
        for bx in range(grid)
    ]


def synthetic_ppm_blocks(
    spark,
    n_base: int = 48,
    *,
    grid: int = 8,
    block_px: int = 4,
    flip_blocks: int = 2,
) -> DataFrame:
    """Near-dup image corpus with planted ground truth: ids
    [0, n_base) are distinct block-pattern P6 images (each 8x8 grid of
    pure 0/255 blocks from `_block_bits`); ids [n_base, 2*n_base) are
    NEAR-duplicates of (id - n_base) with exactly ``flip_blocks``
    blocks inverted — so every pair (i, i+n_base) has aHash hamming
    distance exactly ``flip_blocks`` by construction, and unrelated
    images differ in ~grid²/2 bits. Payloads are REAL encoded P6
    built Arrow-batch-at-a-time in mapInPandas."""
    import numpy as np

    side = grid * block_px

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["id"]:
                base = int(mid) % n_base
                bits = np.array(_block_bits(base, grid)).reshape(grid, grid)
                if mid >= n_base:
                    bits = bits.copy()
                    for k in range(flip_blocks):
                        bits[k * (grid - 1), k * (grid - 1)] ^= 1
                img = np.kron(bits * 255, np.ones((block_px, block_px)))
                payloads.append(
                    encode_ppm(np.stack([img, img, img], axis=2))
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["id"],
                    "kind": "image",
                    "payload": payloads,
                    "mime": "image/x-portable-pixmap",
                    "width": side,
                    "height": side,
                    "duration_ms": 0,
                }
            )

    return _range_sliced(spark, 2 * n_base).mapInPandas(fn, schema=MEDIA_SCHEMA)


AHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("ahash", LongType()),
    ]
)


def image_ahash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash over REAL pixel decode: P6 payload →
    grayscale → grid x grid block means → bit = (block mean > global
    mean), packed row-major into one 64-bit int. Identical images hash
    equal; small edits flip few bits (hamming distance ≈ edit area) —
    the standard first pass of image dedup. Arrow-batched mapInPandas;
    bytes never visit the driver."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                gray = decode_ppm(bytes(payload)).astype(np.float64).mean(axis=2)
                h, w = gray.shape
                ys = np.linspace(0, h, grid + 1).astype(int)
                xs = np.linspace(0, w, grid + 1).astype(int)
                means = np.array(
                    [
                        gray[ys[i]:max(ys[i + 1], ys[i] + 1),
                             xs[j]:max(xs[j + 1], xs[j] + 1)].mean()
                        for i in range(grid)
                        for j in range(grid)
                    ]
                )
                bits = means > means.mean()
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                # keep in signed-64 range (top bit set wraps negative)
                if val >= 1 << 63:
                    val -= 1 << 64
                out.append((int(mid), val))
            yield pd.DataFrame(out, columns=["media_id", "ahash"])

    return media.where(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInPandas(fn, schema=AHASH_SCHEMA)


def ahash_near_dup_pairs(
    hashes: DataFrame,
    *,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Banded hamming join over perceptual hashes — the image analog of
    MinHash LSH, and the same pigeonhole band join as SimHash
    (`dedup.hamming_band_pairs`): split each 64-bit aHash into
    ``bands`` contiguous slices, bucket on (band index, slice value) —
    any pair within hamming <= bands-1 shares at least one untouched
    band — then verify candidates with an exact in-row
    ``bit_count(a ^ b) <= max_hamming``. Raises ``ValueError`` unless
    ``max_hamming < bands``, the condition for guaranteed recall.

    Scale shape: identical to text LSH — candidate generation is
    bucketed (never all-pairs), and hot buckets (screenshot
    boilerplate, solid-color images) degrade through the SAME
    distributed salted-group-key path as MinHash
    (`dedup.salted_bucket_pairs`): no whole bucket in one aggregation
    buffer, linear pair output under the cap.
    """
    from ingestao_dados_poli_spark.operators.dedup import hamming_band_pairs

    sigs = hashes.select(F.col("media_id").alias("_id"), F.col("ahash").alias("sig"))
    return hamming_band_pairs(sigs, bands, 64 // bands, max_hamming, max_bucket_size)
