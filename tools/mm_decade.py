#!/usr/bin/env python
"""Measured throughput for the REAL-codec multimodal path (r13 verdict
next-step #6 — the stdlib PNG/WAV decoders run inside mapInPandas but
had no measured number behind operators/multimodal.py's "repartition
by size before decode" claim).

Claims under test:

1. A compact parquet media corpus arrives as FEW input splits (tens of
   MB compressed << spark.sql.files.maxPartitionBytes), so the decode
   stage — CPU-bound Python, not IO — inherits almost no parallelism
   from the scan.  Repartitioning before the decode spreads payloads
   across all slots; on a 32-slot host that is the difference between
   a single-task straggler and a balanced stage.
2. Decode throughput (decoded bytes/s) is corpus-size-independent:
   the 10x corpus decodes at the same per-byte rate, so the operator
   scales linearly with executors at 100 TB (no cross-row state).

Corpus: self-encoded PNGs (functions/png.py encode — filter-0 rows,
so decode exercises zlib + scanline reassembly) with a 90/10 small/
large size skew, plus 16-bit PCM WAVs (functions/riff.py).  Payload
bytes are deterministic functions of media_id.

Run: `python tools/mm_decade.py` (one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.operators.multimodal import (  # noqa: E402
    decode_audio_features,
    decode_features,
)
from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402

from _decade_common import export_repo_to_workers, parse_cli  # noqa: E402

REPS = 2
SMALL_WH, LARGE_WH = 32, 192  # grayscale; 10% of images are large
WAV_SAMPLES = 4_000


def _png_corpus(spark, n, path):
    """n deterministic PNGs -> parquet(media_id, payload, meta)."""
    from cloud_native_medical_data_etl_pipeline_spark.functions import png

    def gen(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for mid in pdf["id"]:
                mid = int(mid)
                wh = LARGE_WH if mid % 10 == 0 else SMALL_WH
                px = (
                    (np.arange(wh * wh, dtype=np.int64) * 2654435761 + mid)
                    % 251
                ).astype(np.uint8)
                payload = png.encode(px.tobytes(), wh, wh, 1)
                out.append(
                    {
                        "media_id": mid,
                        "payload": payload,
                        "mime": "image/png",
                        "n_pixels": wh * wh,
                    }
                )
            yield pd.DataFrame(
                out, columns=["media_id", "payload", "mime", "n_pixels"]
            )

    # generate 32-way parallel, then land ONE compact file via a
    # shuffle (repartition, not coalesce — coalesce would collapse the
    # generation stage too): the realistic shape of an ingested media
    # corpus, and the few-input-splits regime claim 1 is about
    spark.range(n).repartition(32).mapInPandas(
        gen,
        "media_id long, payload binary, mime string, n_pixels long",
    ).repartition(1).write.mode("overwrite").parquet(path)


def _wav_corpus(spark, n, path):
    def gen(batches):
        from cloud_native_medical_data_etl_pipeline_spark.functions import riff

        for pdf in batches:
            out = []
            for mid in pdf["id"]:
                mid = int(mid)
                samples = [
                    ((mid * 7 + i * 31) % 65536) - 32768
                    for i in range(WAV_SAMPLES)
                ]
                out.append(
                    {
                        "media_id": mid,
                        "payload": riff.wav_encode(samples, 16_000),
                    }
                )
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    spark.range(n).repartition(32).mapInPandas(
        gen, "media_id long, payload binary"
    ).repartition(1).write.mode("overwrite").parquet(path)


def _timed(fn):
    fn()  # warm-up (Arrow worker spin-up, zlib/codegen classloading)
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        res = fn()
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 3), res


def main():
    import shutil
    import tempfile

    export_repo_to_workers()
    spark = get_spark(
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="mm_decade_")
    results = {}
    try:
        for label, n in (("1x_2k_png", 2_000), ("10x_20k_png", 20_000)):
            path = f"{root}/{label}"
            t0 = time.perf_counter()
            _png_corpus(spark, n, path)
            build_s = round(time.perf_counter() - t0, 2)
            media = spark.read.parquet(path)

            def run(df):
                row = (
                    decode_features(df, dim=8, fake=False)
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("n_bytes").alias("b"),
                        F.bit_xor(F.xxhash64("byte_mean")).alias("c"),
                    )
                    .first()
                )
                # the xor checksum joins the parity tuple: count+bytes
                # alone would pass a divergence that preserves lengths
                return int(row["n"]), int(row["b"]), int(row["c"])

            cfg = {"corpus_build_sec": build_s}
            parity = set()
            for mode, df in (
                ("as_written", media),
                ("size_repartitioned", media.repartition(32)),
            ):
                tasks = df.rdd.getNumPartitions()
                wall, (cnt, dec_bytes, csum) = _timed(lambda d=df: run(d))
                parity.add((cnt, dec_bytes, csum))
                cfg[mode] = {
                    "decode_tasks": tasks,
                    "wall_sec": wall,
                    "decoded_mb": round(dec_bytes / 1e6, 1),
                    "decoded_mb_per_sec": round(dec_bytes / 1e6 / wall, 1),
                }
                print(f"  {label}/{mode}: {cfg[mode]}", file=sys.stderr)
            # both layouts decode the same corpus to the same bytes
            assert len(parity) == 1, f"layouts disagree: {parity}"
            cfg["result_parity"] = "identical across layouts"
            results[label] = cfg

        # the repartition lever: on the 10x corpus (compact parquet ->
        # few scan splits) the 32-way repartition must beat the
        # as-written decode by a wide margin, and per-byte throughput
        # must hold within 2x across corpus sizes (linear scaling)
        a = results["1x_2k_png"]["size_repartitioned"]
        b = results["10x_20k_png"]["size_repartitioned"]
        aw = results["10x_20k_png"]["as_written"]
        assert aw["decode_tasks"] < b["decode_tasks"], (aw, b)
        assert b["wall_sec"] < aw["wall_sec"], (
            "repartitioned decode slower than the straggler layout",
            results,
        )
        assert b["decoded_mb_per_sec"] > 0.5 * a["decoded_mb_per_sec"], (
            a,
            b,
        )

        # WAV leg: PCM decode throughput through the same mapInPandas
        # plumbing (samples/s; payloads ~8 KB each)
        wpath = f"{root}/wav"
        _wav_corpus(spark, 2_000, wpath)
        wav = spark.read.parquet(wpath).repartition(32)

        def run_wav():
            row = (
                decode_audio_features(wav, fake=False)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("n_samples").alias("s"),
                )
                .first()
            )
            return int(row["n"]), int(row["s"])

        wall, (cnt, samples) = _timed(run_wav)
        assert cnt == 2_000 and samples == 2_000 * WAV_SAMPLES
        results["wav_2k"] = {
            "wall_sec": wall,
            "decoded_samples": samples,
            "samples_per_sec": round(samples / wall),
        }
        print(f"  wav_2k: {results['wav_2k']}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"mm_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
