"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride through the engine as ``binary``
columns with a typed metadata struct next to them. Heavy per-item work
(decode, resize, frame-sample, feature-extract) runs as Arrow-batched
``mapInPandas`` so each Python worker touches a whole column batch at
once — never a row-at-a-time UDF.

The actual codecs (PIL / ffmpeg / soundfile) are NOT in this
environment, so ``decode_image`` raises ``NotImplementedError`` and the
default pipeline uses ``fake_decode`` — a deterministic stand-in that
derives width/height/channel stats from the payload bytes. Everything
Spark-side (schema, batching, partition behavior) is real and tested;
swapping the fake for a real codec is a one-function change.

Scale notes: payload batches stream through Arrow; nothing is
collected. ``spark.sql.files.maxPartitionBytes`` bounds per-task input,
so a 100 TB binary corpus fans out across executors with no skew from
the decode step itself (skew comes from payload-size variance — cap it
with a byte-size filter before the decode).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("n_frames", LongType()),
    ]
)


def decode_image(payload: bytes) -> "np.ndarray":
    """Real image decode — requires PIL, absent in this container."""
    raise NotImplementedError(
        "image codecs not available in this environment; "
        "use fake_decode or install pillow"
    )


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a codec: metadata derived from bytes."""
    n = len(payload)
    arr = np.frombuffer(payload, dtype=np.uint8)
    return {
        "n_bytes": n,
        "format": ("jpeg", "png", "webp")[n % 3],
        "width": 64 + n % 997,
        "height": 64 + (n * 31) % 991,
        "mean_byte": float(round(arr.mean(), 4)) if n else 0.0,
        "n_frames": 1 + n % 7,
    }


def decode_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder=fake_decode,
) -> DataFrame:
    """Arrow-batched decode: (id, payload) -> typed metadata rows."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                {"doc_id": int(i), **decoder(bytes(p))}
                for i, p in zip(pdf[id_col], pdf[payload_col])
            ]
            yield pd.DataFrame(out, columns=[f.name for f in DECODED_SCHEMA])

    return docs.select(id_col, payload_col).mapInPandas(
        _decode, schema=DECODED_SCHEMA
    )


def frame_sample(
    decoded: DataFrame, every_nth: int = 2
) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame index.

    With a real video codec the decode emits per-frame payloads; here
    the deterministic ``n_frames`` drives the same explode shape.
    """
    from pyspark.sql import functions as F

    return decoded.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))),
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("out_width", LongType()),
        StructField("out_height", LongType()),
        StructField("resized_mean", DoubleType()),
    ]
)


def resize_batch(
    docs: DataFrame,
    box: int = 128,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize-to-fit plumbing: target geometry + resampled byte stats.

    Geometry is exact integer arithmetic on the (fake-)decoded
    dimensions — scale the longest side to ``box``, preserve aspect —
    so it is fully SQL-oracle-checkable. The pixel resample itself
    needs a real codec; the deterministic stand-in strides the payload
    bytes down to the output pixel count (same Arrow-batched shape a
    real resize kernel would run in).
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                meta = fake_decode(bytes(p))
                w, h = meta["width"], meta["height"]
                longest = max(w, h)
                # integer-exact scale-to-fit (no-op when already inside)
                if longest <= box:
                    ow, oh = w, h
                else:
                    ow = w * box // longest
                    oh = h * box // longest
                arr = np.frombuffer(bytes(p), dtype=np.uint8)
                n_out = max(1, ow * oh)
                stride = max(1, len(arr) // n_out)
                sampled = arr[::stride] if len(arr) else arr
                rows.append(
                    {
                        "doc_id": int(i),
                        "width": w,
                        "height": h,
                        "out_width": ow,
                        "out_height": oh,
                        "resized_mean": (
                            float(sampled.mean()) if len(sampled) else 0.0
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_SCHEMA])

    return docs.select(id_col, payload_col).mapInPandas(
        _resize, schema=RESIZE_SCHEMA
    )


def payload_byte_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_bins: int = 16,
) -> DataFrame:
    """Feature extraction over binary payloads: normalized high-nibble
    byte histogram (``n_bins=16``) per payload — a REAL feature (no
    codec needed) usable for near-dup detection or clustering of
    binary columns via the embedding operators (cosine_topk /
    embedding_neardup take any fixed-width vector column).

    Scale: one Arrow-batched scan, numpy bincount per payload, output
    is one (id, k-vector) row per doc — narrow map, no shuffle.
    """
    from pyspark.sql.types import ArrayType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("features", ArrayType(DoubleType())),
        ]
    )

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scale = 1e6
        for pdf in batches:
            ids, feats = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                arr = np.frombuffer(bytes(p), dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=n_bins)[:n_bins]
                n = max(1, len(arr))
                q = np.floor(hist / n * scale + 0.5) / scale
                ids.append(int(i))
                feats.append(list(q))
            yield pd.DataFrame({"doc_id": ids, "features": feats})

    return docs.select(id_col, payload_col).mapInPandas(_feat, schema=schema)


def payload_phash(
    docs: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_bins: int = 16,
) -> DataFrame:
    """Perceptual-style 16-bit hash over binary payloads: bit b is set
    iff the byte LOW-nibble-b count exceeds the payload's own median
    bin count (rank-relative bits, the aHash/pHash thresholding idiom
    — an absolute threshold would collapse every same-encoding
    payload onto one code). Near-identical payloads flip few bits, so
    Hamming-adjacent codes are near-dup candidates — the codec-free
    stand-in for an image pHash, with the same multi-probe
    exact-match join shape.

    Scale: one Arrow-batched scan, numpy bincount per payload, one
    integer code per doc — narrow map, no shuffle.
    """

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(n_bins, dtype=np.int64)
        for pdf in batches:
            ids, codes = [], []
            for i, p in zip(pdf[id_col], pdf[payload_col]):
                arr = np.frombuffer(bytes(p), dtype=np.uint8)
                hist = np.bincount(arr & 15, minlength=n_bins)[:n_bins]
                med = int(np.sort(hist)[n_bins // 2])  # upper median
                bits = hist > med
                ids.append(int(i))
                codes.append(int((weights * bits).sum()))
            yield pd.DataFrame({"doc_id": ids, "phash": codes})

    return docs.select(id_col, payload_col).mapInPandas(
        _hash, schema="doc_id long, phash long"
    )
