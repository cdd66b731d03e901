"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata.

Decoders: uncompressed formats decode for REAL with zero external deps —
24-bit BMP images and RIFF PCM WAV audio (pure-numpy parsers in
functions/codecs.py). Compressed formats (PNG/JPEG, non-PCM audio) and video
frame decode remain clearly-marked ``NotImplementedError`` stubs — those
codecs aren't in this container. The Spark-side plumbing (schema contract,
Arrow batch shape, ``mapInPandas`` partition flow, feature outputs) is real
and tested on ``synthesize_real_media_pandas`` payloads.

Schema contract for a media table:
    (media_id:long, kind:string, payload:binary,
     meta:struct<width:int, height:int, sample_rate:int, n_frames:int>)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from recipeselectors_spark.functions import codecs

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, "
    "feat array<double>, decode_ok boolean"
)


def decode_media_batch(
    payloads: pd.Series, kinds: pd.Series
) -> tuple[np.ndarray, np.ndarray]:
    """REAL decode of a batch: BMP images / PCM WAV audio via the pure-numpy
    codecs. Returns (features (batch, 8), ok flags). Malformed payloads and
    video rows (frame decode stubbed) get ok=False and zero features;
    compressed formats raise NotImplementedError (marked stub)."""
    feats = np.zeros((len(payloads), 8), dtype=np.float64)
    ok = np.zeros(len(payloads), dtype=bool)
    for i, (buf, kind) in enumerate(zip(payloads, kinds)):
        if buf is None or len(buf) == 0:
            continue
        try:
            if kind == "image":
                feats[i] = codecs.image_features(codecs.decode_bmp(bytes(buf)))
                ok[i] = True
            elif kind == "audio":
                s, rate = codecs.decode_wav(bytes(buf))
                feats[i] = codecs.audio_features(s, rate)
                ok[i] = True
            # video: frame decode is a stub -> ok stays False
        except ValueError:
            pass  # malformed payload: ok stays False
    return feats, ok


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas over the media table: Arrow batches in, one frame of
    per-item feature vectors out per batch (``decode_media_batch``).
    Partitioning: payloads stay where they are (no shuffle); the UDF is a
    pure map."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ok = decode_media_batch(pdf["payload"], pdf["kind"])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "n_bytes": [0 if b is None else len(b) for b in pdf["payload"]],
                    "feat": [row.tolist() for row in feats],
                    "decode_ok": ok,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_n: int = 10, max_frames: int = 16
) -> DataFrame:
    """Frame-sampling plan for video rows: which frame indices to decode —
    pure Catalyst over the metadata (no payload touched, so Parquet column
    pruning skips the heavy binary column entirely)."""
    n = F.coalesce(F.col("meta.n_frames"), F.lit(0))
    idx = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n))
    return media.where(F.col("kind") == "video").select(
        "media_id",
        F.slice(idx, 1, max_frames).alias("frame_indices"),
    )


def synthesize_real_media_pandas(n: int = 24, seed: int = 33) -> pd.DataFrame:
    """Deterministic media table with REAL payload bytes: 24-bit BMP images,
    PCM WAV tones, and video rows (random bytes — frame decode is stubbed)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            w, h = int(rng.integers(4, 24)), int(rng.integers(4, 24))
            rgb = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
            payload = codecs.encode_bmp(rgb)
            meta = {"width": w, "height": h, "sample_rate": None, "n_frames": None}
        elif kind == "audio":
            rate = 8000
            t = np.arange(int(rng.integers(200, 2000))) / rate
            s = 0.5 * np.sin(2 * np.pi * float(rng.integers(100, 900)) * t)
            payload = codecs.encode_wav(s, rate)
            meta = {"width": None, "height": None, "sample_rate": rate, "n_frames": None}
        else:
            payload = rng.integers(0, 256, size=128).astype(np.uint8).tobytes()
            meta = {
                "width": None, "height": None, "sample_rate": None,
                "n_frames": int(rng.integers(30, 300)),
            }
        rows.append((i, kind, bytearray(payload), meta))
    return pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])
