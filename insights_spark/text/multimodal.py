"""Multimodal column handling: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with a
metadata struct; compute-heavy stages (decode, resize, feature-extract,
frame-sample) are Arrow-batched `mapInPandas` kernels. The actual codecs
(PIL/ffmpeg/torchaudio) are NOT installed in this environment, so the
decode core is stubbed behind an import-try with a clearly-marked
deterministic fake — the Spark-side plumbing (schemas, batch iteration,
partition sizing, UDF signatures) is real and tested, which is the part
that matters for the 100 TB plan shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

try:  # pragma: no cover — not installed in this sandbox
    from PIL import Image as _PIL  # noqa: N811
except ImportError:
    _PIL = None

MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

IMAGE_FEATURES = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("hist", ArrayType(IntegerType()), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

_FAKE_PIXELS = 16 * 16 * 3  # fake decode target: 16x16 RGB = 768 bytes


def _decode_image(payload: bytes, use_codec: bool | None = None) -> np.ndarray:
    """Decode → HxWx3 uint8. `use_codec=None` auto-detects PIL; True
    REQUIRES it (clear ImportError, no silent fake); False forces the
    DETERMINISTIC FAKE: the payload bytes themselves, cycled/truncated to
    exactly 768 bytes and viewed as a 16x16 RGB image. Payload-derived (not
    RNG-seeded) so the feature histogram is plain byte-bucket counting any
    SQL engine can reproduce — which is what makes the driver oracle for
    `multimodal_features` possible. The oracle-registered query pins
    use_codec=False: installing Pillow must never silently change an
    oracle-checked result."""
    want_codec = _PIL is not None if use_codec is None else use_codec
    if want_codec:
        if _PIL is None:
            raise ImportError(
                "use_codec=True requires Pillow (pip install -r "
                "requirements-extras.txt)"
            )
        import io

        return np.asarray(_PIL.open(io.BytesIO(payload)).convert("RGB"))
    arr = np.resize(np.frombuffer(payload, dtype=np.uint8), _FAKE_PIXELS)
    return arr.reshape(16, 16, 3)


def image_features(media: DataFrame, use_codec: bool | None = None) -> DataFrame:
    """Decode + feature-extract images: channel-value histogram.

    Output per image: exact integer bin counts (`hist`, bins of width
    32, 8 bins) plus the normalized float feature vector (`feature` =
    hist / n_pixels — the realistic embedding-ish column).

    Plan shape: filter kind='image' (pushed to scan) → mapInPandas; each
    Arrow batch decodes independently, so executor memory bounds batch
    size (spark.sql.execution.arrow.maxRecordsPerBatch), not file count.
    """
    src = media.filter(F.col("kind") == "image").select("media_id", "payload")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((int(mid), None, None, None))
                    continue
                b = bytes(payload)
                img = _decode_image(b, use_codec)
                hist = np.bincount(img.reshape(-1) >> 5, minlength=8)
                feat = (hist / max(img.size, 1)).astype(np.float32)
                rows.append((int(mid), len(b), hist.astype(np.int32).tolist(),
                             feat.tolist()))
            yield pd.DataFrame(rows,
                               columns=["media_id", "n_bytes", "hist", "feature"])

    return src.mapInPandas(gen, IMAGE_FEATURES)


AUDIO_FEATURES = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("peak", LongType(), True),
        StructField("energy", LongType(), True),
        StructField("zero_cross", LongType(), True),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract audio: waveform summary statistics.

    Fake decode (torchaudio/ffmpeg absent): payload byte i becomes sample
    s_i = byte_i − 64, a centered int covering both signs over printable
    ASCII. Features are ALL exact integers — peak = max|s|, energy = Σ s²
    (fits int64 at any realistic clip length), zero_cross = #(adjacent
    sign flips) — deliberately no float RMS/means: float sums are
    order-dependent across engines, integer sums are not, which is what
    lets the driver oracle hash this exactly. Same mapInPandas plumbing
    and Arrow batch bounds as image_features.
    """
    src = media.filter(F.col("kind") == "audio").select("media_id", "payload")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((int(mid), None, None, None, None))
                    continue
                s = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.int64
                ) - 64
                zc = int(np.sum(s[:-1] * s[1:] < 0)) if len(s) > 1 else 0
                rows.append((int(mid), len(s), int(np.abs(s).max(initial=0)),
                             int((s * s).sum()), zc))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "peak", "energy", "zero_cross"],
            )

    return src.mapInPandas(gen, AUDIO_FEATURES)


def media_from_docs(docs: DataFrame) -> DataFrame:
    """Deterministic media table (the ``MEDIA`` columns) derived from a
    documents table.

    Every third doc becomes an image whose payload is the doc's text,
    stripped to printable ASCII and right-padded/truncated to exactly 768
    bytes — so the fake decode (payload == pixel bytes) and therefore the
    feature histogram are reproducible from the text column alone in ANSI
    SQL. The other docs become audio/video rows (payload-free stages)."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    ascii_text = F.rpad(
        F.regexp_replace(F.col("text"), "[^ -~]", ""), _FAKE_PIXELS, "x"
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        kind.alias("kind"),
        # image AND audio rows carry the deterministic payload (video stays
        # payload-free: no stage decodes video frames)
        F.when(kind != "video", F.encode(ascii_text, "UTF-8")).alias("payload"),
        F.when(kind == "image", F.lit("image/png"))
        .when(kind == "audio", F.lit("audio/ogg"))
        .otherwise(F.lit("video/mp4")).alias("mime"),
        F.when(kind == "image", F.lit(16)).cast("int").alias("width"),
        F.when(kind == "image", F.lit(16)).cast("int").alias("height"),
        F.when(kind != "image",
               (F.lit(3000) + F.pmod(F.col("doc_id"), F.lit(7)) * 500)
               ).cast("int").alias("duration_ms"),
    )


AHASH = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("ahash", LongType(), True),
    ]
)


def image_ahash(media: DataFrame, use_codec: bool | None = None) -> DataFrame:
    """Perceptual (average) hash per image: 64-bit aHash, integer-exact.

    The decoded 16x16 RGB image is reduced to per-pixel gray SUMS
    (r+g+b — no division, stays integer), 2x2-average-pooled to an 8x8
    grid of block sums, and bit b is set iff block_sum[b]*64 > total_sum
    (the strict-inequality integer form of "block brighter than the image
    mean"). Uniform images (every block equal to the mean) hash to 0.
    Bit order: block index b = row*8+col is bit b, LSB-first; the top bit
    makes the BIGINT negative — both engines use the same signed 64-bit
    wrap (numpy uint64 viewed as int64 here; an explicit -2^63 term for
    bit 63 in the DuckDB oracle).

    Same mapInPandas plumbing as image_features: Arrow batches decode
    independently, memory bounded by maxRecordsPerBatch, not file count.
    Reference parity: the insights raster stages treat tile payloads as
    opaque blobs keyed for dedup (SURVEY §2.11); this is the image-dedup
    key for the multimodal lane.
    """
    src = media.filter(F.col("kind") == "image").select("media_id", "payload")
    pow2 = (1 << np.arange(64, dtype=np.uint64)).astype(np.uint64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append((int(mid), None))
                    continue
                img = _decode_image(bytes(payload), use_codec)
                gray = img.astype(np.int64).sum(axis=2)  # 16x16 per-pixel r+g+b
                blocks = (
                    gray.reshape(8, 2, 8, 2).sum(axis=(1, 3)).reshape(-1)
                )  # 64 block sums, row-major
                bits = (blocks * 64 > gray.sum()).astype(np.uint64)
                h = int((bits * pow2).sum(dtype=np.uint64).view(np.int64))
                rows.append((int(mid), h))
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return src.mapInPandas(gen, AHASH)


def phash_near_dups(media: DataFrame, use_codec: bool | None = None) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance.

    aHash (image_ahash) → the SAME banded self-join as simhash text
    near-dup (dedup.banded_hamming_pairs): pigeonhole-complete for
    distance ≤ 3, exact popcount verify, never all-pairs. With 4 bands
    of 16 bits and max_hamming 3 the output is provably
    the full set of qualifying pairs, so an O(n²) SQL oracle reproduces
    it exactly at test scale.

    Uniform images (ahash 0 — e.g. an all-padding payload from an
    empty/non-ASCII doc) are excluded up front for the same reason
    simhash excludes tokenless docs: they'd all pair at hamming 0 while
    sharing no visual content.

    Output: (a, b, hamming) with a < b, media_id keys.
    """
    from .dedup import banded_hamming_pairs

    sh = (
        image_ahash(media, use_codec=use_codec)
        .filter(F.col("ahash").isNotNull() & (F.col("ahash") != 0))
        .select(F.col("media_id").alias("_id"), "ahash")
    )
    return banded_hamming_pairs(sh, "ahash", 3, 4)


def frame_sample(media: DataFrame) -> DataFrame:
    """Video frame sampling: emits (media_id, frame_idx, ts_ms) rows.

    No frame is decoded (no video codec is wired); the frame *schedule*
    (which frames to pull, from metadata alone) is real column math — the scan
    never touches payload bytes, so Parquet column pruning keeps this
    stage payload-free."""
    v = media.filter(F.col("kind") == "video").select("media_id", "duration_ms")
    return v.select(
        "media_id",
        F.posexplode(
            F.sequence(F.lit(0), F.greatest((F.col("duration_ms") / 1000).cast("int") - 1,
                                            F.lit(0)))
        ).alias("frame_idx", "_step"),
    ).select(
        "media_id", "frame_idx", (F.col("frame_idx") * 1000).alias("ts_ms")
    )
