"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

Decode tiers behind the `fake=` switch:
  fake=True   deterministic pseudo-features derived from the payload
              bytes — exercises the full Arrow batch path with no
              codec at all (and stays the oracle-able q24 path);
  fake=False  REAL pure-stdlib parsers: PNG decode (functions/png.py:
              zlib inflate + filter reconstruction) for
              `decode_features` and `resize_images`, PCM WAV decode
              (functions/riff.py) for `decode_audio_features`, and
              AVI container demux for `sample_frames`. Only decoding
              a compressed codec payload INSIDE a demuxed video frame
              (H.264 etc.) remains out of scope — that genuinely
              needs native libraries.

At scale the pattern is: keep payloads in their own parquet column
(Parquet stores binary contiguously; column pruning means metadata-only
queries never read the bytes), repartition to the session's slot
count before decode so Arrow batches stay bounded and every slot
decodes, and run decode as mapInPandas so each Python worker sees
columnar batches, not rows.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Build a media table from the documents table: the utf-8 bytes of
    the text act as the opaque payload (a deterministic stand-in for
    image bytes), with typed metadata alongside."""
    payload = F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8")
    return df.select(
        F.col(key_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_features(df: DataFrame, dim: int = 8, fake: bool = True) -> DataFrame:
    """Decode payloads to fixed-size feature vectors via mapInPandas.

    fake=True: deterministic pseudo-features (byte statistics folded
    into `dim` buckets over the RAW payload bytes) — exercises the
    full Arrow batch path with no codec.
    fake=False: payloads are real PNGs; each is decoded
    (functions/png.py) and the same bucket statistics run over the
    DECODED pixel samples, so n_bytes/byte_mean/feature describe
    image content, not compression artifacts.
    """
    import numpy as np

    from ..functions import png as _png

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-byte work is numpy (frombuffer + reshaped column sums);
        # bucket sums are exact int64, so dividing by n reproduces the
        # sequential-Python result bit-for-bit (ints < 2^53).
        for pdf in batches:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if fake:
                    buf = payload if payload is not None else b""
                else:
                    if payload is None:
                        buf = b""
                    else:
                        _, _, _, buf = _png.decode(bytes(payload))
                arr = np.frombuffer(buf, dtype=np.uint8)
                n = int(arr.size)
                if n:
                    pad = (-n) % dim
                    bucket_sums = (
                        np.pad(arr, (0, pad))
                        .reshape(-1, dim)
                        .sum(axis=0, dtype=np.int64)
                    )
                    feat = (bucket_sums / n).tolist()
                    mean = int(arr.sum(dtype=np.int64)) / n
                else:
                    feat = [0.0] * dim
                    mean = 0.0
                out.append(
                    {
                        "media_id": media_id,
                        "n_bytes": n,
                        "byte_mean": mean,
                        "feature": feat,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURES_SCHEMA.fields])

    return df.select("media_id", "payload").mapInPandas(_decode, FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def resize_images(
    df: DataFrame, width: int = 64, height: int = 64, fake: bool = True
) -> DataFrame:
    """Resize plumbing: payload -> payload at (width, height).

    fake=True emits a deterministic stand-in — the payload truncated/
    cycled to width*height bytes (one 'pixel' per byte) — so batch
    shape, schema, and partition behavior are real. fake=False is a
    REAL PNG decode -> nearest-neighbor resample -> PNG re-encode
    (functions/png.py), channel-count preserving.

    NULL-payload contract (both paths, matching decode_features): a
    NULL payload row passes through with a NULL resized payload — a
    missing image is a data condition, not a job-killing error. A
    non-NULL payload that is not a valid PNG still fails loud on the
    real path."""
    n_out = width * height

    from ..functions import png as _png

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                if payload is None:
                    resized = None
                elif fake:
                    resized = (
                        (b * (n_out // len(b) + 1))[:n_out] if b else bytes(n_out)
                    )
                else:
                    w0, h0, ch, px = _png.decode(b)
                    resized = _png.encode(
                        _png.resize_nearest(px, w0, h0, ch, width, height),
                        width,
                        height,
                        ch,
                    )
                out.append(
                    {
                        "media_id": media_id,
                        "payload": resized,
                        "width": width,
                        "height": height,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return df.select("media_id", "payload").mapInPandas(_resize, RESIZED_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_frames(
    df: DataFrame, every_n_bytes: int = 256, max_frames: int = 8, fake: bool = True
) -> DataFrame:
    """Frame sampling plumbing: one payload row -> up to max_frames
    frame rows (a flatMap via mapInPandas, so output batches are not
    1:1 with input rows — the shape a real video decoder produces).

    fake=True treats every `every_n_bytes` slice as a 'frame';
    fake=False DEMUXES real AVI containers (functions/riff.py) and
    emits the first `max_frames` video frame chunks — container
    parsing, which is what keyframe sampling needs; decoding the
    codec payload inside a frame (H.264 etc.) stays out of scope."""

    from ..functions import riff as _riff

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                if fake:
                    chunks = [
                        b[i * every_n_bytes : (i + 1) * every_n_bytes]
                        for i in range(
                            min(max_frames, max(1, len(b) // every_n_bytes))
                        )
                    ]
                else:
                    chunks = _riff.avi_frames(b)[:max_frames]
                for idx, frame in enumerate(chunks):
                    out.append(
                        {"media_id": media_id, "frame_idx": idx, "frame": frame}
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAMES_SCHEMA.fields])

    return df.select("media_id", "payload").mapInPandas(_sample, FRAMES_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
    ]
)


def decode_audio_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """Audio decode → waveform features via mapInPandas.

    fake=True: payload bytes act as centered int8 samples at a nominal
    rate — deterministic, codec-free batch-path exercise.
    fake=False: payloads are real PCM WAVs (functions/riff.py); RMS and
    zero-crossing rate are computed over the decoded int16 samples —
    the two features that let a curation pass drop silence and
    clipped/noise-floor clips before feature extraction proper.
    """
    import numpy as np

    from ..functions import riff as _riff

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                if fake:
                    rate = 8000
                    arr = np.frombuffer(b, dtype=np.uint8).astype(np.float64) - 128.0
                else:
                    rate, _, samples = _riff.wav_decode(b)
                    arr = np.asarray(samples, dtype=np.float64)
                n = int(arr.size)
                if n:
                    rms = float(np.sqrt(np.mean(arr * arr)))
                    signs = np.signbit(arr)
                    zcr = float(np.count_nonzero(signs[1:] != signs[:-1])) / n
                else:
                    rms, zcr = 0.0, 0.0
                out.append(
                    {
                        "media_id": media_id,
                        "n_samples": n,
                        "sample_rate": rate,
                        "rms": rms,
                        "zero_cross_rate": zcr,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in AUDIO_SCHEMA.fields])

    return df.select("media_id", "payload").mapInPandas(_decode, AUDIO_SCHEMA)
