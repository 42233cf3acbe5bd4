"""Multimodal (image/video) column plumbing.

Media payloads are opaque ``binary`` columns; decode / feature-extract /
frame-sample run as Arrow-batched ``mapInPandas`` stages. No imaging
library is a dependency, so the decode kernels are deterministic fakes
derived from the bytes themselves, behind the real Spark plumbing (schema,
partitioning, UDF signature, batch shape) — which is what
``plans.textops.q_media_decode_stats`` value-checks against DuckDB.

Decode emits features, never re-emits payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_luma", T.DoubleType(), False),
        T.StructField("phash", T.StringType(), False),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_checksum", T.StringType(), False),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for an image decode: dimensions and mean
    luminance derived from the bytes themselves."""
    n = len(payload)
    width = 16 + (n % 64)
    height = 16 + ((n // 64) % 64)
    mean_luma = (sum(payload[:256]) / max(1, min(n, 256))) / 255.0
    return width, height, round(mean_luma, 6)


def decode_image_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode -> feature rows (deterministic fake kernel)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {"media_id": [], "width": [], "height": [],
                    "mean_luma": [], "phash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, luma = _fake_decode(bytes(payload))
                rows["media_id"].append(mid)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_luma"].append(luma)
                rows["phash"].append(
                    hashlib.md5(bytes(payload)[:64]).hexdigest()[:16]
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=IMAGE_FEATURES_SCHEMA
    )


def sample_frames(media: DataFrame, every_n_bytes: int = 1024,
                  max_frames: int = 8) -> DataFrame:
    """Frame sampling for video-typed payloads: deterministic byte-stride
    'frames' (the real path would seek keyframes); one output row per frame —
    a controlled explode whose fan-out is capped by max_frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_checksum": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = min(max_frames, max(1, len(b) // every_n_bytes))
                for i in range(n_frames):
                    chunk = b[i * every_n_bytes : (i + 1) * every_n_bytes]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_checksum"].append(
                        hashlib.md5(chunk).hexdigest()[:16]
                    )
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, schema=FRAME_SAMPLE_SCHEMA
    )

