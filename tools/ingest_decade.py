#!/usr/bin/env python
"""Measured decade evidence for the streaming dedup-ingest composite
(`streaming/ingest.py:ingest_batch` — q115's engine; r12 verdict task
6, evidence-only — no kernel changes).

Claim under test: per-batch ingest cost tracks the BATCH, not the
stored corpus — the heavy per-document work (shingle + md5 minhash)
runs only on batch rows, the corpus side of the near-dup probe reads
the PERSISTED signature index, and the band equi-join's shuffle
carries signatures/candidates, never document text.  Growing the
stored corpus 10× should therefore grow per-batch wall sub-linearly
(the corpus-sized terms are a column-pruned key scan + the signature
index scan) and leave shuffle bytes per batch far below the bytes
scanned.

Setup: two corpora built from sf0.1 documents (5,000 docs) —
1× as-is, 10× via shifted-key replicas whose every TOKEN is prefixed
with a replica tag (distinct shingle sets, so the 10× corpus really
stores 10× rows instead of near-dup-collapsing back to 1×).  Into
each, ingest 3 consecutive FRESH 500-doc batches (tokens prefixed
with a batch tag — fully novel content; every batch must admit the
same count in both configs, its in-batch-dup survivors)
with per-batch wall + REST stage-metric deltas, then REPLAY the last
batch once (must append 0 — the exactly-once guard) and measure the
pure gate cost.

Run: `python tools/ingest_decade.py` (one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402
from cloud_native_medical_data_etl_pipeline_spark.streaming.ingest import (  # noqa: E402
    ingest_batch,
)

from _decade_common import (  # noqa: E402
    delta as _delta,
    export_repo_to_workers,
    parse_cli,
    sf_dir,
    stage_totals as _stage_totals,
)

SF_DIR = sf_dir("sf0.1")
BATCHES = 3
BATCH_ROWS = 500


def _retag(df, tag):
    """Prefix every whitespace token with ``tag`` — makes every
    shingle distinct from any other tag's copy of the same text, so
    replicas/batches are genuinely novel content to the minhash gate
    while preserving token counts and byte-scale."""
    return df.withColumn(
        "text",
        F.array_join(
            F.transform(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda t: F.concat(F.lit(tag), t),
            ),
            " ",
        ),
    )


def _dir_bytes(path):
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main():
    export_repo_to_workers()
    spark = get_spark(
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n1 = docs.count()
    root = tempfile.mkdtemp(prefix="ingest_decade_")
    results = {}
    survivors_1x = None
    admits_by_config = {}
    try:
        # fresh batches, shared across configs: novel keys + novel
        # content (batch-tagged tokens); written once, read per ingest
        batch_paths = []
        for i in range(BATCHES):  # the replay re-reads the last batch
            b = _retag(
                docs.where(F.col("doc_id") < BATCH_ROWS).select(
                    (F.col("doc_id") + F.lit(100_000_000 + i * 10_000)).alias(
                        "doc_id"
                    ),
                    "text",
                    "lang",
                    "source",
                    "n_chars",
                ),
                f"b{i}_",
            )
            p = f"{root}/batch{i}"
            b.write.mode("overwrite").parquet(p)
            batch_paths.append(p)

        for label, factor in (("A_1x_corpus", 1), ("B_10x_corpus", 10)):
            seed = docs
            if factor > 1:
                parts = [
                    _retag(
                        docs.select(
                            (F.col("doc_id") + F.lit(i * n1)).alias("doc_id"),
                            "text",
                            "lang",
                            "source",
                            "n_chars",
                        ),
                        f"r{i}_",
                    )
                    for i in range(factor)
                ]
                from functools import reduce

                seed = reduce(lambda a, b: a.unionByName(b), parts)
            corpus_path = f"{root}/{label}/corpus"
            t0 = time.perf_counter()
            seeded = ingest_batch(seed, corpus_path)  # one giant seed batch
            build_s = round(time.perf_counter() - t0, 2)
            # the ORGANIC corpus carries in-batch exact/near dups, so
            # the seed legitimately collapses below n1 (5000 -> 4756
            # at sf0.1); replicas are token-tagged, so the 10x corpus
            # collapses to ~10x the 1x survivor count.  TOLERANCE, not
            # equality: Jaccard is tag-invariant but LSH BANDING is
            # not (band collisions hash the re-tagged shingles), so a
            # borderline near-dup pair caught in one replica can be
            # missed in another — currently exact on this corpus, but
            # a fixed assert would make the harness flaky on corpora
            # with mid-threshold near-dups
            if factor == 1:
                survivors_1x = seeded
                assert 0 < seeded <= n1, (label, seeded)
            else:
                expect = factor * survivors_1x
                assert abs(seeded - expect) <= max(2, expect // 200), (
                    label,
                    seeded,
                    expect,
                )
            corpus_bytes = _dir_bytes(corpus_path)
            sig_bytes = _dir_bytes(corpus_path + "_sigs")

            walls, deltas = [], []
            for p in batch_paths:
                b = spark.read.parquet(p)
                before = _stage_totals(spark)
                t0 = time.perf_counter()
                appended = ingest_batch(b, corpus_path)
                walls.append(time.perf_counter() - t0)
                deltas.append(_delta(before, _stage_totals(spark)))
                # batches share one dup structure (same 500 docs,
                # different tag), so the admit count matches across
                # batches up to LSH banding variance on the re-tagged
                # shingles (see the seed tolerance above) — nothing
                # may be dropped by the CROSS-batch/corpus guards, so
                # a large deficit means a guard bug.  Admits are
                # recorded PER CONFIG and cross-config agreement is
                # asserted explicitly after the loop (ADVICE r13: a
                # single first-batch anchor silently changed meaning
                # if config order changed)
                admits = admits_by_config.setdefault(label, [])
                if not admits:
                    assert 0 < appended <= BATCH_ROWS, (label, appended)
                else:
                    assert abs(appended - admits[0]) <= 2, (label, p, appended)
                admits.append(appended)
            # replay the LAST batch: the exactly-once gate must admit 0
            b = spark.read.parquet(batch_paths[-1])
            before = _stage_totals(spark)
            t0 = time.perf_counter()
            appended = ingest_batch(b, corpus_path)
            replay_wall = time.perf_counter() - t0
            replay_d = _delta(before, _stage_totals(spark))
            assert appended == 0, (label, "replay admitted rows", appended)

            per_batch_shuffle = [
                d["shuffleRead"] + d["shuffleWrite"] for d in deltas
            ]
            results[label] = {
                "corpus_rows": seeded,
                "corpus_bytes": corpus_bytes,
                "sig_index_bytes": sig_bytes,
                "seed_build_sec": build_s,
                "batch_rows": BATCH_ROWS,
                "batch_admitted": admits_by_config[label],
                "batch_walls_sec": [round(w, 3) for w in walls],
                "batch_wall_min_sec": round(min(walls), 3),
                "batch_input_bytes_min": min(d["inputBytes"] for d in deltas),
                "batch_shuffle_bytes_min": min(per_batch_shuffle),
                "replay_wall_sec": round(replay_wall, 3),
                "replay_appended": 0,
                "replay_shuffle_bytes": replay_d["shuffleRead"]
                + replay_d["shuffleWrite"],
            }
            print(f"  {label}: {results[label]}", file=sys.stderr)
        # the decade claim, asserted: per-batch shuffle is batch/
        # signature-sized, so a 10x corpus must NOT grow it anywhere
        # near 10x (the corpus-sized terms — key scan + signature
        # index scan — show up in input bytes, never in the shuffle)
        a, b10 = results["A_1x_corpus"], results["B_10x_corpus"]
        assert (
            b10["batch_shuffle_bytes_min"] < 3 * a["batch_shuffle_bytes_min"]
        ), (a, b10)
        # cross-config admit agreement, asserted explicitly on the
        # recorded per-config lists rather than via a shared anchor
        assert abs(
            a["batch_admitted"][0] - b10["batch_admitted"][0]
        ) <= 2, (a["batch_admitted"], b10["batch_admitted"])
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"ingest_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
