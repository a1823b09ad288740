"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode/feature steps as Arrow-batched stages.

The Spark-side plumbing is REAL and tested: schemas, partition-aware
batch iteration, UDF signatures, deterministic fake features. The
actual codec calls are stubbed behind ``*_DECODER`` hooks because this
container has no image/audio libraries — a deployment sets
``set_image_decoder(PIL_based_fn)`` and nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
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
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

#: pluggable real decoders; None -> deterministic fake (hash-derived).
_IMAGE_DECODER: Callable[[bytes], np.ndarray] | None = None


def set_image_decoder(fn: Callable[[bytes], np.ndarray] | None) -> None:
    global _IMAGE_DECODER
    _IMAGE_DECODER = fn


def _md5_lower64(data: bytes) -> int:
    """Little-endian uint64 of the LAST 8 md5 bytes — the bytes-level
    twin of DuckDB's ``md5_number_lower`` (and of
    functions/scalars.portable_hash64). Using it for the fake decodes
    makes them ORACLE-ABLE: DuckDB re-derives the identical pixels /
    samples with pure SQL arithmetic."""
    return int.from_bytes(hashlib.md5(data).digest()[8:16], "little")


def _fake_pixels(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decode: md5-derived 8x8 RGB pixel grid
    (byte j = md5_number_lower(payload || ':' || j) mod 256 — DuckDB
    reproduces it, so the feature oracle closes). Keeps the full
    pipeline testable without codecs; REPLACE via set_image_decoder
    in production."""
    vals = [
        _md5_lower64(payload + b":" + str(j).encode()) % 256
        for j in range(8 * 8 * 3)
    ]
    return np.array(vals, dtype=np.uint8).reshape(8, 8, 3)


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("feat_mean", ArrayType(FloatType())),
        StructField("feat_hist", ArrayType(FloatType())),
    ]
)


def image_features(media: DataFrame) -> DataFrame:
    """decode -> per-channel mean + 8-bin luminance histogram.

    mapInPandas: numpy math over Arrow batches; one python worker per
    partition, payload bytes never hit the driver.
    """

    # Capture the hook AT PLAN TIME: executors re-import this module,
    # so a lazily-read global set via set_image_decoder on the driver
    # would silently be None in the Python workers. Closure-captured,
    # cloudpickle ships the actual function.
    decoder = _IMAGE_DECODER or _fake_pixels

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, means, hists = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                # float64 math: integer pixel sums are exact in double
                # (and /64 is a power of 2), so the per-channel means
                # are bit-identical to the DuckDB oracle's AVG.
                px = decoder(bytes(payload)).astype(np.float64)
                ids.append(int(mid))
                means.append([float(x) for x in px.mean(axis=(0, 1))])
                lum = px.mean(axis=2)
                hist, _ = np.histogram(lum, bins=8, range=(0, 256))
                total = max(int(hist.sum()), 1)
                hists.append([float(x) / total for x in hist])
            yield pd.DataFrame(
                {"media_id": ids, "feat_mean": means, "feat_hist": hists}
            )

    return media.where(F.col("kind") == "image").select(
        "media_id", "payload"
    ).mapInPandas(run, FEATURE_SCHEMA)


#: pluggable audio decoder: bytes -> (samples float32 ndarray, rate hz)
_AUDIO_DECODER: Callable[[bytes], tuple[np.ndarray, int]] | None = None


def set_audio_decoder(
    fn: Callable[[bytes], tuple[np.ndarray, int]] | None,
) -> None:
    global _AUDIO_DECODER
    _AUDIO_DECODER = fn


def _fake_waveform(payload: bytes) -> tuple[np.ndarray, int]:
    """Deterministic stand-in decode (same doctrine as _fake_pixels):
    512 samples at 16 kHz, sample i = (md5_number_lower(payload || ':' || i) mod 2049 - 1024)
    / 1024 — every value is k/1024, EXACT in float32, so the RMS
    oracle in DuckDB double arithmetic matches bit-for-bit."""
    m = np.array(
        [
            _md5_lower64(payload + b":" + str(i).encode()) % 2049
            for i in range(512)
        ],
        dtype=np.float64,
    )
    return ((m - 1024.0) / 1024.0).astype(np.float32), 16_000


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("rms", FloatType()),
        StructField("zero_cross_rate", FloatType()),
        StructField("n_samples", IntegerType()),
        StructField("sample_rate", IntegerType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """decode -> RMS + zero-crossing rate. Same contract as
    image_features: Arrow batches, numpy math real, codec stubbed."""

    # plan-time capture — see image_features for why.
    decoder = _AUDIO_DECODER or _fake_waveform

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                wave, rate = decoder(bytes(payload))
                # float64 math (float32 accumulation would drift from
                # the DuckDB double oracle)
                w64 = np.asarray(wave, dtype=np.float64)
                rms = float(np.sqrt(np.mean(w64**2))) if len(w64) else 0.0
                zc = (
                    float(np.mean(np.abs(np.diff(np.signbit(w64)))))
                    if len(w64) > 1
                    else 0.0
                )
                rows.append((int(mid), rms, zc, len(w64), rate))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "rms", "zero_cross_rate", "n_samples",
                    "sample_rate",
                ],
            )

    return media.where(F.col("kind") == "audio").select(
        "media_id", "payload"
    ).mapInPandas(run, AUDIO_FEATURE_SCHEMA)


#: rows of the synthetic media table.
SYNTH_MEDIA_ROWS = 64


def synth_media(spark) -> DataFrame:
    """Deterministic synthetic media table: ``SYNTH_MEDIA_ROWS`` rows
    cycling image, audio and video."""
    return spark.range(SYNTH_MEDIA_ROWS).select(
        F.col("id").alias("media_id"),
        F.when(F.col("id") % 3 == 0, "image")
        .when(F.col("id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.when(F.col("id") % 3 == 0, "image/png")
        .when(F.col("id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("mime"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string")), "utf-8")
        .alias("payload"),
        F.lit(8).alias("width"),
        F.lit(8).alias("height"),
        (F.col("id") * 700 % 5000).cast("int").alias("duration_ms"),
    )
