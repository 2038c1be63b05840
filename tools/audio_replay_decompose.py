#!/usr/bin/env python
"""Per-batch cost decomposition of ``multimodal_audio_stream_replay``.

The r12 bench's #1 query (42 s at sf0.1) is a 4-micro-batch streaming
replay; this probe drives the SAME per-batch steps as
``streaming/ingest._sig_process_batch`` (audio ``hash_fn``, stored-side
anti-join, ``dhash_match_stored`` decision, keyed MERGE) manually with
timers around each component, then runs the real foreachBatch replay in
the same session — so ``replay_total − Σ(components) − staging`` is the
streaming machinery's fixed overhead (file-source listing, checkpoint
commits, trigger scheduling), measured rather than guessed.

Components per batch (names match the BENCH_NOTES table):

* ``decode``  — attach_media + min-duration gate + audio_fingerprint
  (the one Arrow-batched decode pass), materialized via persist+count.
* ``match``   — state read + replay anti-join + banded decision
  (``dhash_match_stored``), materialized via persist+count.
* ``merge``   — admission-row join + ``ParquetMergeTable.commit``
  (the handler's create-or-merge), including the parquet write.

Usage: python tools/audio_replay_decompose.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf", default="/root/testdata/sf0.1")
    args = parser.parse_args()

    from pyspark.sql import functions as F

    from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable
    from textract_farmdata_pipeline_spark.operators.multimodal import (
        attach_media,
        audio_fingerprint,
        dhash_match_stored,
    )
    from textract_farmdata_pipeline_spark.session import get_spark
    from textract_farmdata_pipeline_spark.streaming.ingest import (
        _stage_batch_files,
        replay_audio_batches,
    )

    spark = get_spark("audio-decompose")
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
        .select("doc_id", "text")
    )
    twins = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100001).alias("doc_id"),
        F.concat(F.lit("~"), F.expr("substring(text, 2)")).alias("text"),
    )
    src_docs = docs.unionByName(twins)

    K, WINDOW, NBITS, MAXH, CHUNKB = 4, 16, 32, 3, 8
    MIN_BYTES = (NBITS + 1) * WINDOW // 2

    # Warm the worker pool / codegen so neither run pays fork cost.
    src_docs.write.format("noop").mode("overwrite").save()

    workdir = tempfile.mkdtemp(prefix="audio_decomp_")
    t0 = time.perf_counter()
    src = _stage_batch_files(src_docs, workdir, K)
    t_stage = time.perf_counter() - t0

    state_path = os.path.join(workdir, "audio_state")
    per_batch: list[dict[str, float]] = []
    for b in range(K):
        batch_df = spark.read.parquet(os.path.join(src, f"batch_{b}.parquet"))
        table = ParquetMergeTable(spark, state_path)
        row = {}

        t0 = time.perf_counter()
        media = attach_media(batch_df.select("doc_id", "text"))
        bsig = (
            audio_fingerprint(
                media.where(F.length("media") >= MIN_BYTES),
                window_bytes=WINDOW,
                n_bits=NBITS,
            )
            .select("doc_id", F.array(F.col("fp")).alias("sig"))
            .persist()
        )
        bsig.count()
        row["decode"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        if table.exists():
            stored = (
                table.read()
                .filter(F.col("is_new"))
                .join(bsig.select("doc_id"), "doc_id", "left_anti")
                .select("doc_id", "sig")
            )
        else:
            stored = spark.createDataFrame([], "doc_id long, sig array<bigint>")
        ann = dhash_match_stored(
            stored, bsig, max_hamming=MAXH, chunk_bits=CHUNKB
        ).persist()
        ann.count()
        row["match"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        rows = bsig.join(ann.select("doc_id", "dup_of", "is_new"), "doc_id")
        table.commit(rows, key="doc_id")
        row["merge"] = time.perf_counter() - t0

        bsig.unpersist()
        ann.unpersist()
        per_batch.append({k: round(v, 3) for k, v in row.items()})
    manual_total = t_stage + sum(sum(r.values()) for r in per_batch)
    shutil.rmtree(workdir, ignore_errors=True)

    # The real streaming replay, same session, same inputs.
    replay_dir = tempfile.mkdtemp(prefix="audio_replay_")
    t0 = time.perf_counter()
    replay_audio_batches(src_docs, replay_dir, k_batches=K).write.format(
        "noop"
    ).mode("overwrite").save()
    t_replay = time.perf_counter() - t0

    out = {
        "sf": args.sf,
        "stage_files_s": round(t_stage, 3),
        "per_batch": per_batch,
        "manual_total_s": round(manual_total, 3),
        "replay_total_s": round(t_replay, 3),
        "fixed_overhead_s": round(t_replay - manual_total, 3),
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
