"""Streaming ingestion dedup: admit only novel documents, continuously.

The daily crawl-pipeline shape, streamed: each micro-batch is deduped
against the ACCUMULATED admitted corpus with
:func:`..operators.dedup.incremental_minhash_dedup` (corpus never
self-joins; both sides exact-collapse before LSH), and the batch's
novel documents are committed to the corpus before the next batch runs.

The corpus lives in a :class:`..operators.merge.ParquetMergeTable` and
each batch commits via keyed MERGE — so a micro-batch REPLAYED after a
failure re-upserts the same rows instead of duplicating them
(foreachBatch is at-least-once; the keyed merge is what makes the
pipeline effectively exactly-once).  Micro-batch boundaries are the
consistency points: batch N+1 sees exactly the corpus as of batch N.

Every ingest family in this module follows the same two rules:

* **One commit rule.**  Each state table is written with
  :meth:`ParquetMergeTable.commit` — create on the first batch (even an
  empty one), keyed MERGE after — and a handler that reads state first
  asks :meth:`ParquetMergeTable.exists`.  No handler looks at the
  table's manifest layout.
* **One replay harness.**  Each ``replay_*`` function runs its stream
  through :func:`_replay`: stage ``k_batches`` files, drain them one
  per trigger with ``availableNow``, drop the batch files and the
  checkpoint.  A replay states only what differs: frozen artifacts
  built before staging, its state path, and its final read.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.merge import ParquetMergeTable


def dedup_ingest_stream(
    docs: DataFrame,
    corpus_path: str,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
    sink=None,
):
    """Returns a ``DataStreamWriter`` whose ``foreachBatch``:

    1. reads the admitted corpus (empty on the first batch),
    2. annotates the incoming batch with ``dup_of`` (smallest matching
       corpus doc, else smallest matching earlier batch doc, else NULL),
    3. MERGEs the novel rows (``dup_of IS NULL``) into the corpus table,
    4. calls ``sink(annotated_df, batch_id)`` with the (persisted)
       annotation DataFrame for observability / a rejects table.

    Start it with ``trigger(availableNow=True)`` in tests; the
    stream-equals-batch test pins that streaming admission in K batches
    equals one batch :func:`incremental_minhash_dedup` pass per batch
    prefix.

    At ``threshold == 1.0`` (the exact-set path) the corpus state table
    additionally stores each admitted row's sorted shingle-set key
    ``k``, so the per-batch match READS keys instead of re-tokenizing
    the accumulated corpus every micro-batch.  The batch is annotated
    by the one-exchange exact-set plan, which carries ``text`` and
    ``k`` beside ``dup_of``; the novel rows are taken straight from
    that persisted annotation, so the batch is neither re-joined nor
    re-keyed for the commit.  The sink still sees ``(doc_id,
    dup_of)``.  Resuming over a state table written at the other side
    of ``threshold == 1.0`` (``k`` missing, or present when not
    expected) raises ``ValueError`` here, before the stream starts.
    """
    from ..operators.dedup import _exact_set_annotation, incremental_minhash_dedup

    exact = threshold == 1.0
    _check_state_key_col(docs.sparkSession, corpus_path, exact, threshold)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        table = ParquetMergeTable(spark, corpus_path)
        corpus_keys = None
        if table.exists():
            state = table.read()
            corpus = state.select("doc_id", "text")
            if exact:
                corpus_keys = state.select("doc_id", "k")
        else:
            corpus = spark.createDataFrame([], "doc_id long, text string")
        batch = batch_df.select("doc_id", "text")
        if exact:
            full = _exact_set_annotation(
                corpus, batch, shingle_n, "xxhash64", corpus_keys
            ).persist()  # consumed twice (commit + sink); batch-sized
            novel = full.filter(F.col("dup_of").isNull()).select(
                "doc_id", "text", "k"
            )
            ann = full.select("doc_id", "dup_of")
        else:
            full = ann = incremental_minhash_dedup(
                corpus,
                batch,
                n_hashes=n_hashes,
                bands=bands,
                threshold=threshold,
                shingle_n=shingle_n,
            ).persist()  # consumed twice (admission join + sink); batch-sized
            novel = batch.join(
                ann.filter(F.col("dup_of").isNull()).select("doc_id"), "doc_id"
            )
        try:
            table.commit(novel, key="doc_id")
            if sink is not None:
                sink(ann, batch_id)
        finally:
            full.unpersist()

    return docs.writeStream.foreachBatch(process)


def _check_state_key_col(
    spark, state_path: str, exact: bool, threshold: float
) -> None:
    """Fail fast when a resumed stream's state table does not match
    its threshold: the exact-set path (``threshold == 1.0``) reads a
    stored ``k`` key column, every other threshold writes rows without
    one.  Reads only the manifest's recorded schema — no Spark job —
    so a mismatch surfaces before the first micro-batch instead of as
    a column-resolution error inside it."""
    table = ParquetMergeTable(spark, state_path)
    if not table.exists():
        return
    has_k = "k" in table.schema().fieldNames()
    if exact and not has_k:
        raise ValueError(
            f"state table {state_path} has no 'k' column, which "
            f"threshold={threshold} (the exact-set path) requires; it was "
            "written at another threshold"
        )
    if has_k and not exact:
        raise ValueError(
            f"state table {state_path} has a 'k' column, which only "
            f"threshold=1.0 writes; resuming it at threshold={threshold} "
            "would break its schema"
        )


def _stage_batch_files(
    docs: DataFrame,
    workdir: str,
    k_batches: int,
    cols: tuple[str, ...] = ("doc_id", "text"),
) -> str:
    """Lay out ``k_batches`` deterministic micro-batch parquet files
    (``doc_id % k``, strictly increasing mtimes) so a file-stream
    source under ``maxFilesPerTrigger=1`` + ``availableNow`` delivers
    exactly one batch per trigger, oldest first — the replay harness
    shared by every streaming-ingest twin.  The batches are written BY
    SPARK in one partitionBy pass (the harness must not funnel the
    corpus through the driver); only rename/mtime bookkeeping is
    driver-side."""
    src = os.path.join(workdir, "incoming")
    os.makedirs(src, exist_ok=True)
    base_t = time.time() - 3600
    stage = os.path.join(workdir, "_stage")
    (
        docs.select(*cols)
        # pmod, not %: Spark's % follows the sign of doc_id, and a
        # negative id would land in a b=-1.. dir the glob below never
        # reads — a silently dropped row.
        .withColumn("b", F.pmod(F.col("doc_id"), F.lit(k_batches)).cast("int"))
        .repartition(k_batches, "b")
        .write.mode("overwrite")
        .partitionBy("b")
        .parquet(stage)
    )
    for i in range(k_batches):
        parts = glob.glob(os.path.join(stage, f"b={i}", "part-*.parquet"))
        path = os.path.join(src, f"batch_{i}.parquet")
        if len(parts) > 1:
            # one task per residue class (repartition by b) normally
            # writes one file; writer configs like maxRecordsPerFile
            # can split it, and taking parts[0] would silently drop
            # the rest of the batch.
            raise ValueError(
                f"batch {i} split into {len(parts)} files — "
                "unset spark.sql.files.maxRecordsPerFile for the replay"
            )
        if parts:
            os.replace(parts[0], path)
        else:  # an empty residue class still needs a batch file
            docs.select(*cols).limit(0).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(stage, f"_empty_{i}"))
            part = glob.glob(
                os.path.join(stage, f"_empty_{i}", "part-*.parquet")
            )[0]
            os.replace(part, path)
        os.utime(path, (base_t + i * 60, base_t + i * 60))
    shutil.rmtree(stage, ignore_errors=True)
    return src


def _replay(
    docs: DataFrame,
    workdir: str,
    k_batches: int,
    start,
    schema: str = "doc_id long, text string",
) -> None:
    """The K-batch replay harness every ``replay_*`` function runs on:
    stage ``docs``'s ``schema`` columns as ``k_batches`` files under
    ``workdir`` (:func:`_stage_batch_files`), open a file stream that
    delivers one file per trigger oldest first, and run the writer
    ``start(stream)`` returns — with a checkpoint and ``availableNow``
    — to completion.

    Then reclaim the bulky replay state (batch files + stream
    checkpoint) immediately and keep only the family's state tables,
    which the caller reads LAZILY — an eager localCheckpoint there would
    pin a state-sized block per invocation with no release point (the
    caller owns the frame), exactly the orphan-block pressure the
    checkpoints module exists to avoid.  ``workdir`` itself is removed
    at interpreter exit, so repeated bench/probe runs accumulate nothing
    across sessions."""
    cols = tuple(c.split()[0] for c in schema.split(","))
    src = _stage_batch_files(docs, workdir, k_batches, cols=cols)
    ckpt = os.path.join(workdir, "ckpt")
    stream = (
        docs.sparkSession.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    start(stream).option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start().awaitTermination()
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)


def replay_ingest_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Replay :func:`dedup_ingest_stream` admission as a finite run and
    return the admitted corpus — the batch-queryable face of the
    streaming surface (a driver that only checks batch queries can
    hash-check THIS, and it exercises the identical ``foreachBatch``
    code path, ``ParquetMergeTable`` commits included).

    The input is split into ``k_batches`` micro-batches by
    ``doc_id % k_batches``; each batch is written as one parquet file
    with strictly increasing modification times, so the file stream
    source (oldest-first) delivers exactly one batch per trigger under
    ``maxFilesPerTrigger=1`` + ``availableNow`` — a deterministic
    K-batch replay.  Admission therefore equals: per duplicate group,
    the doc with the smallest ``(batch_idx, doc_id)`` is admitted and
    every later arrival is rejected — which at ``threshold=1.0`` (only
    exact-shingle-set matches count) is expressible as plain SQL over
    the input, giving the streaming path a DuckDB-checkable oracle.
    """
    corpus_path = os.path.join(workdir, "corpus")
    _replay(docs, workdir, k_batches, lambda s: dedup_ingest_stream(
        s, corpus_path, n_hashes=n_hashes, bands=bands,
        threshold=threshold, shingle_n=shingle_n,
    ))
    return ParquetMergeTable(docs.sparkSession, corpus_path).read().select(
        "doc_id", "text"
    )


def split_ingest_stream(
    docs: DataFrame,
    state_path: str,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_family: str = "md5",
    sink=None,
):
    """Streaming leakage-safe split assignment: each micro-batch is
    resolved against the ACCUMULATED assignment table with
    :func:`..operators.dedup.incremental_split_batch` (existing
    assignments are state, never recomputed — the split-stability
    contract), and the batch's rows are committed (doc_id, text,
    split, origin) before the next batch runs.  Keyed MERGE commits
    make a replayed micro-batch re-upsert identical rows —
    effectively-exactly-once, same recipe as
    :func:`dedup_ingest_stream`.  ``sink(ann, batch_id)`` observes
    each batch's decisions.  On the first batch the state is empty and
    every cluster resolves 'fresh' — which is exactly the one-shot
    split, so the stream needs no separate bootstrap path.  Resuming
    over a state table written at the other side of ``threshold ==
    1.0`` raises ``ValueError``, as in :func:`dedup_ingest_stream`."""
    from ..operators.dedup import incremental_split_batch, sorted_shingle_key

    # Same stored-key scheme as dedup_ingest_stream: at threshold ==
    # 1.0 the state table carries each row's sorted shingle-set key so
    # the per-batch exact-set match reads keys instead of re-shingling
    # the accumulated state (r13 verdict #4).
    exact = threshold == 1.0
    _check_state_key_col(docs.sparkSession, state_path, exact, threshold)
    key_expr = (
        sorted_shingle_key(F.col("text"), shingle_n, hash_family)
        if exact
        else None
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        table = ParquetMergeTable(spark, state_path)
        corpus_keys = None
        if table.exists():
            stored = table.read()
            state = stored.select("doc_id", "text", "split")
            if exact:
                corpus_keys = stored.select("doc_id", "k")
        else:
            state = spark.createDataFrame(
                [], "doc_id long, text string, split string"
            )
        ann = incremental_split_batch(
            state,
            batch_df.select("doc_id", "text"),
            n_hashes=n_hashes,
            bands=bands,
            threshold=threshold,
            shingle_n=shingle_n,
            hash_family=hash_family,
            corpus_keys=corpus_keys,
        ).persist()  # consumed twice (state commit + sink); batch-sized
        try:
            rows = batch_df.select("doc_id", "text").join(
                ann.select("doc_id", "split", "origin"), "doc_id"
            )
            if exact:
                rows = rows.withColumn("k", key_expr)
            table.commit(rows, key="doc_id")
            if sink is not None:
                sink(ann, batch_id)
        finally:
            ann.unpersist()

    return docs.writeStream.foreachBatch(process)


def replay_split_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_family: str = "md5",
) -> DataFrame:
    """Replay :func:`split_ingest_stream` as a finite run and return
    the accumulated assignment table ``(doc_id, split, origin)`` — the
    batch-queryable face of the streaming split, on the same
    deterministic K-batch file harness as :func:`replay_ingest_batches`.

    At ``threshold=1.0`` only exact-shingle-set matches link, so the
    whole K-batch evolution collapses to plain SQL: per distinct text,
    the FIRST batch containing it decides (split = md5 bucket of the
    text's min doc_id within that batch, origin 'fresh' there), and
    every later arrival inherits that split ('inherited') — the
    DuckDB oracle the driver hash-checks.  The fixture's max
    distinct-text Jaccard is 0.989 (verified by the ingest replay), so
    no cross-text link fires at 1.0."""
    state_path = os.path.join(workdir, "splits")
    _replay(docs, workdir, k_batches, lambda s: split_ingest_stream(
        s, state_path, n_hashes=n_hashes, bands=bands, threshold=threshold,
        shingle_n=shingle_n, hash_family=hash_family,
    ))
    return ParquetMergeTable(docs.sparkSession, state_path).read().select(
        "doc_id", "split", "origin"
    )


def dsir_ingest_stream(
    docs: DataFrame,
    weights: DataFrame,
    scores_path: str,
    n: int = 2,
    buckets: int = 4096,
    seed: str = "dsir|",
    sink=None,
):
    """Returns a ``DataStreamWriter`` that scores every arriving
    micro-batch against a FROZEN DSIR weight table
    (:func:`..operators.corpus.dsir_score_against`) and MERGEs the
    ``(doc_id, n_grams, score_q20)`` rows into a scores table — the
    deployment cadence of importance resampling at ingest time: the
    weight table is trained once (a ≤ ``buckets``-row artifact), after
    which scoring is map-side-only per batch (shingle explode →
    broadcast weight join → integer sum; no reference-corpus scan, no
    weight mutation, bounded state).

    ``weights`` must be materialized by the caller (localCheckpoint or
    a table read) — a lazy lineage here would re-run the weight
    TRAINING scan inside every micro-batch, which is exactly the
    re-expansion failure mode the hot-split staging and the source
    gate's IN-list already document.
    """
    from ..operators.corpus import (
        dsir_score_against,
        ensure_dsir_weights_nonempty,
    )

    # Prepay the empty-artifact guard at stream setup: the artifact is
    # frozen, so the verdict is cached and no micro-batch re-runs the
    # isEmpty() Spark action (r9 advisor finding).
    ensure_dsir_weights_nonempty(weights)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        scored = dsir_score_against(
            batch_df, weights, n=n, buckets=buckets, seed=seed
        )
        ParquetMergeTable(spark, scores_path).commit(scored, key="doc_id")
        if sink is not None:
            sink(scored, batch_id)

    return docs.writeStream.foreachBatch(process)


def replay_dsir_batches(
    docs: DataFrame,
    target: DataFrame,
    workdir: str,
    k_batches: int = 4,
    n: int = 2,
    buckets: int = 4096,
    seed: str = "dsir|",
) -> DataFrame:
    """Replay :func:`dsir_ingest_stream` as a finite run: train the
    weight table once from ``(docs, target)``, deliver ``docs`` in
    ``k_batches`` deterministic micro-batches (the shared
    :func:`_stage_batch_files` harness), and return the accumulated
    scores table.

    Because the weights are frozen BEFORE the first batch and scoring
    is stateless per document, the replay's union of batch scores
    equals the one-shot :func:`..operators.corpus.dsir_scores` of the
    full input exactly — so the streaming path shares the one-shot
    query's DuckDB oracle verbatim and is hash-checked, not just
    rows-counted (the strongest check any streaming twin here gets).
    """
    from ..operators.corpus import dsir_train_weights

    weights = dsir_train_weights(
        docs, target, n=n, buckets=buckets, seed=seed
    ).localCheckpoint()  # <= buckets rows; truncates the training scan
    scores_path = os.path.join(workdir, "scores")
    _replay(docs, workdir, k_batches, lambda s: dsir_ingest_stream(
        s, weights, scores_path, n=n, buckets=buckets, seed=seed
    ))
    return ParquetMergeTable(docs.sparkSession, scores_path).read()


def dhash_ingest_stream(
    docs: DataFrame,
    state_path: str,
    max_hamming: int = 7,
    chunk_bits: int = 8,
    sink=None,
):
    """Streaming perceptual-dedup admission: each micro-batch hashes
    its media ONCE (:func:`..operators.multimodal.image_dhash`), is
    decided against the ACCUMULATED admitted-signature state with
    :func:`..operators.multimodal.dhash_match_stored` (corpus payloads
    are never rescanned — the state is 16 bytes/doc), and commits one
    row per batch doc ``(doc_id, sig, dup_of, is_new)``; only
    ``is_new`` rows' signatures join the matching side of later
    batches.  A replayed micro-batch first anti-joins its OWN doc ids
    out of the matching state (they may already be committed), so it
    reproduces its original decisions and the keyed MERGE re-upserts
    identical rows — effectively-exactly-once, the
    :func:`dedup_ingest_stream` recipe.  ``sink(ann, batch_id)``
    observes each batch's decisions."""
    return docs.writeStream.foreachBatch(
        dhash_process_batch(state_path, max_hamming, chunk_bits, sink)
    )


def dhash_process_batch(
    state_path: str,
    max_hamming: int = 7,
    chunk_bits: int = 8,
    sink=None,
):
    """The per-micro-batch handler behind :func:`dhash_ingest_stream`,
    exposed as a factory so tests can invoke a batch directly — in
    particular to simulate a checkpoint REPLAY of an already-committed
    batch and assert the state is reproduced, not corrupted."""
    from ..operators.multimodal import attach_media, image_dhash

    return _sig_process_batch(
        state_path,
        lambda b: image_dhash(attach_media(b.select("doc_id", "text"))),
        max_hamming,
        chunk_bits,
        sink,
    )


def _sig_process_batch(
    state_path: str,
    hash_fn,
    max_hamming: int,
    chunk_bits: int,
    sink=None,
    match_fn=None,
):
    """Signature-generic per-micro-batch admission: ``hash_fn(batch)``
    → ``(doc_id, sig array<bigint>)``, decided against the accumulated
    admitted-signature state with ``match_fn`` (default
    :func:`..operators.multimodal.dhash_match_stored`, itself
    signature-generic), keyed-MERGE committed.  One handler for every
    modality on the shared near-dup kernel — image dHash words and
    audio fingerprint words differ only in ``hash_fn``; video
    additionally swaps ``match_fn`` for the frame-aligned-MAX
    predicate (:func:`..operators.multimodal.video_match_stored`) —
    the state layout, replay anti-join, and MERGE protocol are the
    same code for all three."""
    from ..operators.multimodal import dhash_match_stored

    if match_fn is None:
        match_fn = dhash_match_stored

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        table = ParquetMergeTable(spark, state_path)
        bsig = hash_fn(
            batch_df
        ).persist()  # consumed twice (decision + state commit); batch-sized
        if table.exists():
            # Replay idempotency: a replayed micro-batch may find its OWN
            # committed rows already in the state; matching against them
            # would self-match every previously admitted doc at Hamming 0
            # and flip it to a duplicate.  Anti-joining the batch's ids
            # out of the matching side restores the exact pre-batch state,
            # so a replay reproduces its original decisions and the keyed
            # MERGE re-upserts identical rows (effectively-exactly-once).
            stored = (
                table.read()
                .filter(F.col("is_new"))
                .join(bsig.select("doc_id"), "doc_id", "left_anti")
                .select("doc_id", "sig")
            )
        else:
            stored = spark.createDataFrame([], "doc_id long, sig array<bigint>")
        try:
            ann = match_fn(
                stored, bsig, max_hamming=max_hamming, chunk_bits=chunk_bits
            )
            rows = bsig.join(ann.select("doc_id", "dup_of", "is_new"), "doc_id")
            table.commit(rows, key="doc_id")
            if sink is not None:
                sink(ann, batch_id)
        finally:
            bsig.unpersist()

    return process


def replay_dhash_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    max_hamming: int = 7,
    chunk_bits: int = 8,
) -> DataFrame:
    """Replay :func:`dhash_ingest_stream` as a finite run and return
    the accumulated admission table ``(doc_id, dup_of, is_new)`` — the
    batch-queryable face of the streaming perceptual dedup, on the
    shared deterministic K-batch file harness.

    Hash-checkability: at the default 8-chunk/radius-7 gate, banding
    CAPTURE IS EXACT (a ≤7-flip pair always shares a chunk), so the
    per-batch decision is the pure predicate ``min Hamming ≤ 7 against
    admitted earlier docs`` — no banding semantics leak into results,
    and the K-batch state evolution unrolls to K plain-SQL rounds
    (admitted_k = batch_k docs with no radius-7 match in
    admitted_0..k-1) that DuckDB replays exactly."""
    state_path = os.path.join(workdir, "dhash_state")
    _replay(docs, workdir, k_batches, lambda s: dhash_ingest_stream(
        s, state_path, max_hamming=max_hamming, chunk_bits=chunk_bits
    ))
    return ParquetMergeTable(docs.sparkSession, state_path).read().select(
        "doc_id", "dup_of", "is_new"
    )


def bloom_process_batch(
    state_path: str,
    m_bits: int = 1 << 17,
    k: int = 4,
    seed: str = "dbloom|",
    sink=None,
):
    """The per-micro-batch handler behind :func:`bloom_ingest_stream`,
    exposed as a factory (the :func:`dhash_process_batch` precedent) so
    tests can drive a batch — and a checkpoint REPLAY at every crash
    point of the three-table commit protocol — directly.

    State under ``state_path``:

    * ``words``      — the Bloom filter, ≤ ``m_bits/32`` rows of
      ``(word_id, bits)``.  **This is the only matching state** — it
      never grows with the corpus (the Dolma tradeoff).
    * ``admissions`` — the OUTPUT log ``(doc_id, bloom_member,
      is_new)``, keyed MERGE by doc_id.
    * ``covered``    — one row per committed batch id; the marker that
      makes replays read their ORIGINAL decisions instead of
      re-deciding against a filter that already contains their own
      bits (a Bloom filter cannot anti-join its own batch back out the
      way :func:`dhash_process_batch` does — once OR'd, bits are
      shared).

    Commit order per batch: admissions → covered → words.  Replay
    analysis of each crash window:

    1. before admissions: nothing committed; the filter is unchanged,
       so the replay re-derives identical decisions.
    2. after admissions, before covered: filter still unchanged →
       identical decisions re-derived, keyed MERGE re-upserts them.
    3. after covered, before words: the replay takes the covered path —
       reads the stored decisions and re-ORs the admitted docs' bits
       (recomputed from the replayed batch's own texts; OR is
       idempotent).
    4. after words: covered path; the re-OR is a value-level no-op.
    """
    from ..operators.approx import bloom_build, bloom_probe

    words_path = os.path.join(state_path, "words")
    adm_path = os.path.join(state_path, "admissions")
    cov_path = os.path.join(state_path, "covered")

    def _or_words(spark, admitted_texts: DataFrame) -> None:
        """OR the admitted docs' bits into the filter (idempotent).

        Uses the bit_or-specialized ``upsert_or`` instead of a generic
        MERGE of the pre-OR'd union: the Bloom delta intersects keys in
        every stored file by design, so the generic path paid the
        full-outer annotate + touched-file collect on EVERY batch —
        the one merge the r13 pure-insert fast path could never help.
        Identical snapshot rows and changelog classification (pinned by
        the crash-replay protocol tests and the replay oracle)."""
        words_t = ParquetMergeTable(spark, words_path)
        batch_bits = bloom_build(
            admitted_texts, "text", m_bits=m_bits, k=k, seed=seed
        )
        if words_t.exists():
            words_t.upsert_or(batch_bits, key="word_id")
        else:
            words_t.create(batch_bits)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bkeys = batch_df.select("doc_id", "text").persist()
        try:
            adm_t = ParquetMergeTable(spark, adm_path)
            cov_t = ParquetMergeTable(spark, cov_path)
            # Existence probe for THIS batch id only: the covered table
            # grows one row per committed batch forever, so collecting
            # it whole here would ship O(total batches) rows to the
            # driver on EVERY batch — O(n²) over a stream's lifetime.
            # The filtered isEmpty is a take(1) over parquet row groups
            # that min/max-prune on batch_id: per-batch cost stays flat
            # at any stream age (SCALE.md, batch-count axis).
            is_covered = cov_t.exists() and not (
                cov_t.read().where(F.col("batch_id") == batch_id).isEmpty()
            )
            if is_covered:
                # Replay of a fully-marked batch: decisions are the
                # stored ones; re-OR bits in case the words commit was
                # the step that crashed (window 3 above).
                decisions = (
                    adm_t.read()
                    .join(bkeys, "doc_id")
                    .select("doc_id", "text", "bloom_member", "is_new")
                )
                _or_words(
                    spark,
                    decisions.where(F.col("is_new")).select("text"),
                )
                if sink is not None:
                    sink(decisions, batch_id)
                return
            words_t = ParquetMergeTable(spark, words_path)
            words = (
                words_t.read()
                if words_t.exists()
                else spark.createDataFrame([], "word_id long, bits long")
            )
            decisions = (
                bloom_probe(bkeys, words, "text", m_bits=m_bits, k=k, seed=seed)
                .select(
                    "doc_id",
                    "text",
                    "bloom_member",
                    (~F.col("bloom_member")).alias("is_new"),
                )
                .persist()  # consumed thrice (commit, OR, sink); batch-sized
            )
            try:
                adm_t.commit(
                    decisions.select("doc_id", "bloom_member", "is_new"),
                    key="doc_id",
                )
                marker = spark.createDataFrame(
                    [(int(batch_id),)], "batch_id long"
                )
                cov_t.commit(marker, key="batch_id")
                _or_words(
                    spark,
                    decisions.where(F.col("is_new")).select("text"),
                )
                if sink is not None:
                    sink(decisions, batch_id)
            finally:
                decisions.unpersist()
        finally:
            bkeys.unpersist()

    return process


def bloom_ingest_stream(
    docs: DataFrame,
    state_path: str,
    m_bits: int = 1 << 17,
    k: int = 4,
    seed: str = "dbloom|",
    sink=None,
):
    """Streaming Bloom-gated admission (the Dolma dedup state model,
    Soldaini et al. 2024 §2.3, as an ingest stream): each micro-batch
    doc is admitted iff its text is NOT (Bloom-)member of the filter
    accumulated over every earlier admitted doc, then the admitted
    docs' bits are OR'd in.  **The matching state is ``m_bits`` bits —
    constant-size forever** — unlike :func:`dedup_ingest_stream` /
    :func:`dhash_ingest_stream`, whose state grows with the admitted
    corpus.  The price is a deterministic false-positive rate: a novel
    doc can be falsely rejected (never the reverse).  Within-batch
    twins both admit (batch docs are never compared to each other —
    the shared incremental contract).

    Decisions are pure md5 integer arithmetic, so a K-batch replay
    unrolls to K plain-SQL rounds that DuckDB replays exactly —
    hash-checked end to end, false positives included.  Crash-replay
    semantics are the three-table protocol of
    :func:`bloom_process_batch`.
    """
    return docs.writeStream.foreachBatch(
        bloom_process_batch(state_path, m_bits=m_bits, k=k, seed=seed, sink=sink)
    )


def replay_bloom_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    m_bits: int = 1 << 17,
    k: int = 4,
    seed: str = "dbloom|",
) -> DataFrame:
    """Replay :func:`bloom_ingest_stream` as a finite run on the shared
    deterministic K-batch harness and return the admission log
    ``(doc_id, bloom_member, is_new)``."""
    state_path = os.path.join(workdir, "bloom_state")
    _replay(docs, workdir, k_batches, lambda s: bloom_ingest_stream(
        s, state_path, m_bits=m_bits, k=k, seed=seed
    ))
    return (
        ParquetMergeTable(docs.sparkSession, os.path.join(state_path, "admissions"))
        .read()
        .select("doc_id", "bloom_member", "is_new")
    )


def decontam_ingest_stream(
    docs: DataFrame,
    ev_hashes: DataFrame,
    clean_path: str,
    min_len: int = 8,
    hash_family: str = "xxhash64",
    sink=None,
):
    """Returns a ``DataStreamWriter`` that SCRUBS every arriving
    micro-batch against a FROZEN eval window-hash artifact
    (:func:`..operators.corpus.decontaminate_scrub_against`) and MERGEs
    the ``(doc_id, clean_text, n_tokens_kept, n_tokens_dropped)`` rows
    into a clean-corpus table — decontamination at its deployment
    cadence: the benchmark set is released once, reduced once to its
    8-byte window set, and every admitted document is span-scrubbed on
    the way in (batch windows explode map-side, ONE semi join against
    the broadcastable artifact, islands over the batch's few hits).

    ``ev_hashes`` must be materialized by the caller (localCheckpoint
    or a table read) — the dsir_ingest_stream doctrine: a lazy lineage
    would re-run the eval shingle explode inside every micro-batch.

    Replay-idempotent BY CONSTRUCTION: the scrub is stateless per
    document given the artifact — no batch reads state its own commit
    mutated, so a replayed batch re-derives byte-identical rows and
    the keyed MERGE overwrites them in place (contrast
    :func:`dhash_ingest_stream`, whose matching state grows with
    admissions and needed explicit self-exclusion)."""
    from ..operators.corpus import decontaminate_scrub_against

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # persist: the scrub chain (window explode → semi join →
        # islands → rewrite) is referenced by BOTH the table commit and
        # the sink — without it each consumer re-runs the whole chain.
        scrubbed = decontaminate_scrub_against(
            ev_hashes, batch_df, min_len=min_len, hash_family=hash_family
        ).persist()
        try:
            # the first batch creates even when empty, so a sink never
            # observes batches before the table exists
            ParquetMergeTable(spark, clean_path).commit(scrubbed, key="doc_id")
            if sink is not None:
                sink(scrubbed, batch_id)
        finally:
            scrubbed.unpersist()

    return docs.writeStream.foreachBatch(process)


def replay_decontam_batches(
    docs: DataFrame,
    eval_docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    min_len: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Replay :func:`decontam_ingest_stream` as a finite run: reduce
    the eval set to its window-hash artifact once (localCheckpointed),
    deliver ``docs`` in ``k_batches`` deterministic micro-batches (the
    shared :func:`_stage_batch_files` harness), and return the
    accumulated clean table.

    Frozen artifact + stateless per-doc scrubbing make the K-batch
    union EQUAL the one-shot
    :func:`..operators.corpus.decontaminate_scrub` of the full input
    exactly, so the streaming path shares the one-shot query's DuckDB
    oracle verbatim — hash-checked, the strongest check any streaming
    twin here gets (the replay_dsir_batches precedent)."""
    from ..operators.corpus import eval_window_hashes

    ev = eval_window_hashes(
        eval_docs, min_len=min_len, hash_family=hash_family
    ).localCheckpoint()  # |eval|-bounded; truncates the eval explode
    clean_path = os.path.join(workdir, "clean")
    _replay(docs, workdir, k_batches, lambda s: decontam_ingest_stream(
        s, ev, clean_path, min_len=min_len, hash_family=hash_family
    ))
    return ParquetMergeTable(docs.sparkSession, clean_path).read()


def url_ingest_stream(docs: DataFrame, seen_path: str, url_col: str = "url", sink=None):
    """Returns a ``DataStreamWriter`` that admits only the FIRST
    arrival of each canonical URL (:func:`..operators.dedup.
    canonical_url`) — the pre-content dedup rung at its deployment
    cadence: a crawl frontier keeps re-emitting the same pages under
    cosmetic URL variations, and dropping them here costs a string
    normalization per row BEFORE any content stage pays for the bytes.

    State is ONE row per distinct canonical URL — ``(canonical_url,
    doc_id)``, the admitted owner — in a keyed
    :class:`..operators.merge.ParquetMergeTable`; per-batch work is
    map-side canonicalization, a batch-local min, and one equality
    join against the state table.  Matching state grows with the
    number of distinct PAGES (not arrivals) — the smallest possible
    state for exact keep-first semantics.

    Replay-idempotent BY CONSTRUCTION (the dhash self-exclusion lesson
    applied at design time): the admission rule is ``owner IS NULL AND
    doc_id = batch_min`` OR ``owner = doc_id`` — a replayed batch that
    already committed finds ITSELF as the owner and re-derives the
    identical decisions, and the keyed MERGE re-upserts identical
    rows.  Crash windows: before merge → state unchanged, decisions
    re-derive; after merge → owner = batch's own min, same decisions.

    ``sink(ann, batch_id)`` receives the per-doc decision frame
    ``(doc_id, canonical_url, admitted)``.
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        url_process_batch(batch_df, batch_id, seen_path, url_col=url_col, sink=sink)

    return docs.writeStream.foreachBatch(process)


def url_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    seen_path: str,
    url_col: str = "url",
    sink=None,
) -> None:
    """One micro-batch of :func:`url_ingest_stream`, exposed at module
    level (the ``bloom_process_batch`` pattern) so tests can drive
    crash-replay windows directly."""
    from ..operators.dedup import canonical_url

    spark = batch_df.sparkSession
    canon = batch_df.select(
        "doc_id", canonical_url(F.col(url_col)).alias("canonical_url")
    )
    firsts = canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("_batch_min")
    )
    table = ParquetMergeTable(spark, seen_path)
    if table.exists():
        seen = table.read().withColumnRenamed("doc_id", "_owner")
    else:
        seen = spark.createDataFrame([], "canonical_url string, _owner long")
    ann = (
        canon.join(firsts, "canonical_url")
        .join(seen, "canonical_url", "left")
        .select(
            "doc_id",
            "canonical_url",
            # when-form, not OR: `x OR (NULL = y)` is NULL under
            # three-valued logic, so the naive disjunction returns
            # NULL (not false) for a non-min doc of an unowned page
            F.when(
                F.col("_owner").isNotNull(),
                F.col("_owner") == F.col("doc_id"),
            )
            .otherwise(F.col("doc_id") == F.col("_batch_min"))
            .alias("admitted"),
        )
        .persist()  # consumed twice (state commit + sink); batch-sized
    )
    try:
        table.commit(
            ann.filter(F.col("admitted")).select("canonical_url", "doc_id"),
            key="canonical_url",
        )
        if sink is not None:
            sink(ann, batch_id)
    finally:
        ann.unpersist()


def replay_url_batches(
    docs_urls: DataFrame, workdir: str, k_batches: int = 4
) -> DataFrame:
    """Replay :func:`url_ingest_stream` as a finite run on the shared
    deterministic K-batch harness (``(doc_id, url)`` staged by
    ``doc_id % k``) and return the accumulated per-doc admission log
    ``(doc_id, canonical_url, admitted)``.

    Keep-first across batches equals keep-first by ``(batch_idx,
    doc_id)`` per canonical URL — plain SQL over the input — so the
    streaming path gets the full DuckDB hash gate (the
    replay_ingest_batches precedent).  Decisions accumulate in a
    doc-keyed MERGE table (idempotent under replay, like the bloom
    admissions log)."""
    seen_path = os.path.join(workdir, "seen")
    dec_path = os.path.join(workdir, "decisions")

    def sink(ann: DataFrame, batch_id: int) -> None:
        ParquetMergeTable(ann.sparkSession, dec_path).commit(ann, key="doc_id")

    _replay(
        docs_urls, workdir, k_batches,
        lambda s: url_ingest_stream(s, seen_path, sink=sink),
        schema="doc_id long, url string",
    )
    return ParquetMergeTable(docs_urls.sparkSession, dec_path).read().select(
        "doc_id", "canonical_url", "admitted"
    )


def boilerplate_ingest_stream(
    docs: DataFrame, state_path: str, para_words: int = 12, sink=None
):
    """Returns a ``DataStreamWriter`` that accumulates the
    line-frequency CENSUS the RefinedWeb boilerplate strip consumes
    (:func:`..operators.paragraphs.boilerplate_census`) — the ninth
    ingest family, and a new state CLASS: additive counts, where every
    earlier family keeps memberships (hash/URL/Bloom), decisions
    (splits, admissions), or frozen scores.

    The deployment is two-phase by design: frequency evidence
    ACCUMULATES while the corpus ingests (a line's document frequency
    is a corpus property — no prefix of the stream can decide it), and
    the strip applies ONCE at publish
    (:func:`..operators.paragraphs.boilerplate_apply`).  Because both
    census tables are plain sums, the accumulated state after any
    batching of the corpus equals the one-shot census — which is what
    lets the replay product carry the full one-shot DuckDB hash gate.

    Replay-idempotent BY CONSTRUCTION: state rows are keyed by
    ``(group, line_hash, batch_id)`` — per-batch DELTAS, not running
    totals — so a replayed batch re-upserts byte-identical rows
    instead of double-counting (running totals under at-least-once
    delivery were the design bug this key avoids).  Crash windows:
    before merge → delta absent, re-derives; after merge → identical
    delta re-upserts.  State is one row per distinct (line, batch)
    pair; a production deployment compacts closed batches by summing
    into a ``batch_id = -1`` row — same table, same reader.

    ``sink(census_delta, batch_id)`` receives the per-batch line
    census ``(_grp, _h, _n_docs, batch_id)``.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        boilerplate_process_batch(
            batch_df, batch_id, state_path, para_words=para_words, sink=sink
        )

    return docs.writeStream.foreachBatch(process)


def boilerplate_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    para_words: int = 12,
    sink=None,
) -> None:
    """One micro-batch of :func:`boilerplate_ingest_stream`, exposed at
    module level (the ``bloom_process_batch`` pattern) so tests can
    drive crash-replay windows directly.  Maintains two keyed MERGE
    tables under ``state_path``: ``lines`` (per-batch line
    doc-frequency deltas) and ``totals`` (per-batch per-source doc
    counts)."""
    from ..operators.paragraphs import boilerplate_census

    spark = batch_df.sparkSession
    df_per_line, src_tot = boilerplate_census(batch_df, para_words)
    b = F.lit(batch_id).cast("long")
    line_delta = df_per_line.select(
        F.concat_ws("|", "_grp", F.col("_h").cast("string"), b).alias("_key"),
        "_grp",
        "_h",
        "_n_docs",
        b.alias("batch_id"),
    )
    tot_delta = src_tot.select(
        F.concat_ws("|", "_grp", b).alias("_key"),
        "_grp",
        "_src_docs",
        b.alias("batch_id"),
    )
    for sub, delta in (("lines", line_delta), ("totals", tot_delta)):
        ParquetMergeTable(spark, os.path.join(state_path, sub)).commit(
            delta, key="_key"
        )
    if sink is not None:
        sink(line_delta, batch_id)


def read_boilerplate_census(spark, state_path: str):
    """Fold the accumulated per-batch deltas back into the one-shot
    census shape: ``(line counts (_grp, _h, _n_docs), source totals
    (_grp, _src_docs))`` — the frames
    :func:`..operators.paragraphs.boilerplate_apply` consumes."""
    lines = (
        ParquetMergeTable(spark, os.path.join(state_path, "lines"))
        .read()
        .groupBy("_grp", "_h")
        .agg(F.sum("_n_docs").cast("bigint").alias("_n_docs"))
    )
    totals = (
        ParquetMergeTable(spark, os.path.join(state_path, "totals"))
        .read()
        .groupBy("_grp")
        .agg(F.sum("_src_docs").cast("bigint").alias("_src_docs"))
    )
    return lines, totals


def replay_boilerplate_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    para_words: int = 12,
    ratio_bp: int = 5000,
    min_docs: int = 3,
) -> DataFrame:
    """Replay :func:`boilerplate_ingest_stream` as a finite run on the
    shared deterministic K-batch harness (``doc_id % k``), then run
    the publish-time strip against the ACCUMULATED census.  Additive
    counts make the accumulated state equal the one-shot census for
    any batching, so this replay — the real streaming path:
    foreachBatch, keyed delta MERGEs, availableNow — shares
    ``doc_boilerplate_strip``'s DuckDB oracle verbatim (the
    ``doc_dsir_stream_replay`` precedent, extended from frozen-state
    to accumulated-state products)."""
    from ..operators.paragraphs import boilerplate_apply

    state_path = os.path.join(workdir, "census")
    _replay(
        docs, workdir, k_batches,
        lambda s: boilerplate_ingest_stream(s, state_path, para_words=para_words),
        schema="doc_id long, source string, text string",
    )
    lines, totals = read_boilerplate_census(docs.sparkSession, state_path)
    return boilerplate_apply(
        docs,
        lines,
        totals,
        para_words=para_words,
        ratio_bp=ratio_bp,
        min_docs=min_docs,
    )


def audio_ingest_stream(
    docs: DataFrame,
    state_path: str,
    window_bytes: int = 16,
    n_bits: int = 32,
    max_hamming: int = 3,
    chunk_bits: int = 8,
    min_bytes: int | None = None,
    sink=None,
):
    """Streaming AUDIO near-dup admission — the audio face of
    :func:`dhash_ingest_stream`, built on the same signature-generic
    handler (:func:`_sig_process_batch`): each micro-batch gates out
    sub-duration clips, fingerprints its payloads ONCE
    (:func:`..operators.multimodal.audio_fingerprint`), is decided
    against the accumulated admitted-fingerprint state (8 bytes/doc),
    and MERGE-commits ``(doc_id, sig, dup_of, is_new)``.  Replay
    idempotency and the stored-side min-collapse are inherited from
    the shared handler.  At the 4-chunk/radius-3 gate banding capture
    is exact, so the K-batch state evolution unrolls to plain SQL —
    the replay twin shares the full hash gate."""
    from ..operators.multimodal import attach_media, audio_fingerprint

    if min_bytes is None:
        min_bytes = (n_bits + 1) * window_bytes // 2

    def hash_fn(batch_df: DataFrame) -> DataFrame:
        media = attach_media(batch_df.select("doc_id", "text"))
        fp = audio_fingerprint(
            media.where(F.length("media") >= min_bytes),
            window_bytes=window_bytes,
            n_bits=n_bits,
        )
        return fp.select("doc_id", F.array(F.col("fp")).alias("sig"))

    return docs.writeStream.foreachBatch(
        _sig_process_batch(state_path, hash_fn, max_hamming, chunk_bits, sink)
    )


def replay_audio_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    window_bytes: int = 16,
    n_bits: int = 32,
    max_hamming: int = 3,
    chunk_bits: int = 8,
) -> DataFrame:
    """Replay :func:`audio_ingest_stream` as a finite run on the shared
    deterministic K-batch harness and return the accumulated admission
    table ``(doc_id, dup_of, is_new)`` — the
    :func:`replay_dhash_batches` shape for the audio modality; capture
    exactness at radius 3 over 4 chunks makes the K-round unroll a
    plain-SQL oracle."""
    state_path = os.path.join(workdir, "audio_state")
    _replay(docs, workdir, k_batches, lambda s: audio_ingest_stream(
        s, state_path, window_bytes=window_bytes, n_bits=n_bits,
        max_hamming=max_hamming, chunk_bits=chunk_bits,
    ))
    return ParquetMergeTable(docs.sparkSession, state_path).read().select(
        "doc_id", "dup_of", "is_new"
    )


def video_ingest_stream(
    docs: DataFrame,
    state_path: str,
    n_frames: int = 4,
    max_hamming: int = 7,
    chunk_bits: int = 8,
    sink=None,
):
    """Streaming VIDEO near-dup admission — the fourth modality on the
    signature-generic handler (:func:`_sig_process_batch`): each
    micro-batch fans its payloads into frames, hashes every frame
    through the shared dHash kernel, flattens the per-video signature
    vector ONCE (:func:`..operators.multimodal.video_sigs` — 32
    bytes/video of state), and is decided against the accumulated
    admitted-vector state with the frame-aligned MAX predicate
    (:func:`..operators.multimodal.video_match_stored`).  The handler,
    state layout, replay anti-join, and MERGE protocol are the image/
    audio code verbatim — video contributes a ``hash_fn`` and a
    ``match_fn``, nothing else.

    At the frame-0-banding/radius-7 gate capture is exact (the accept
    region requires frame 0 within radius; 16 chunks cover it), so
    the K-batch state evolution unrolls to plain SQL — the replay twin
    shares the full hash gate."""
    from ..operators.multimodal import (
        attach_media,
        video_match_stored,
        video_sigs,
    )

    def hash_fn(batch_df: DataFrame) -> DataFrame:
        return video_sigs(
            attach_media(batch_df.select("doc_id", "text")), n_frames=n_frames
        )

    def match_fn(stored, bsig, max_hamming, chunk_bits):
        return video_match_stored(
            stored,
            bsig,
            n_frames=n_frames,
            max_hamming=max_hamming,
            chunk_bits=chunk_bits,
        )

    return docs.writeStream.foreachBatch(
        _sig_process_batch(
            state_path, hash_fn, max_hamming, chunk_bits, sink, match_fn
        )
    )


def replay_video_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    n_frames: int = 4,
    max_hamming: int = 7,
    chunk_bits: int = 8,
) -> DataFrame:
    """Replay :func:`video_ingest_stream` as a finite run on the shared
    deterministic K-batch harness and return the accumulated admission
    table ``(doc_id, dup_of, is_new)`` — the
    :func:`replay_dhash_batches` shape for the video modality."""
    state_path = os.path.join(workdir, "video_state")
    _replay(docs, workdir, k_batches, lambda s: video_ingest_stream(
        s, state_path, n_frames=n_frames, max_hamming=max_hamming,
        chunk_bits=chunk_bits,
    ))
    return ParquetMergeTable(docs.sparkSession, state_path).read().select(
        "doc_id", "dup_of", "is_new"
    )


def keepbest_ingest_stream(
    docs: DataFrame,
    state_path: str,
    max_hamming: int = 7,
    chunk_bits: int = 8,
):
    """Streaming QUALITY-AWARE canonical selection — the ingest face of
    :func:`..operators.dedup.keep_best_per_cluster` (and the streaming
    twin of r13's ``corpus_build_keepbest_gated``): perceptual near-dup
    admission on the signature-generic handler PLUS a per-cluster
    winners ledger, so at every micro-batch boundary the state answers
    "which copy of each near-dup cluster do we keep?" with the
    highest-QUALITY member seen so far, not the first-crawled one.

    ``docs`` must carry ``(doc_id, text, quality)`` — quality is an
    externally-supplied long (a classifier score, a resolution, a byte
    count; the FineWeb shape).  State:

    * ``sigs/``    — the admission table the dHash ingest already
      keeps (``doc_id, sig, dup_of, is_new``), maintained by the
      UNCHANGED :func:`_sig_process_batch`.
    * ``winners/`` — one row per cluster (= admitted rep id):
      ``(cluster_id, best_q, best_id)``, MERGE-upserted per batch as
      ``max(struct(quality, -id))`` over {stored winner} ∪ {batch
      members} — keep the best quality, ties to the EARLIEST id.

    Replay idempotency needs no covered-batch protocol here: max is
    monotone and order-free, so a replayed batch re-merges the same
    winner rows (the additive-census argument, with MAX in place of
    SUM) — and the per-batch upsert of a max equals the one-shot max
    for ANY batching, which is what lets the replay twin share a
    one-shot SQL oracle."""
    from ..operators.multimodal import attach_media, image_dhash

    sigs_path = os.path.join(state_path, "sigs")
    win_path = os.path.join(state_path, "winners")

    def hash_fn(batch_df: DataFrame) -> DataFrame:
        return image_dhash(attach_media(batch_df.select("doc_id", "text")))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qmap = batch_df.select(
            "doc_id", F.col("quality").cast("long").alias("best_q")
        ).persist()

        def sink(ann: DataFrame, bid: int) -> None:
            cand = ann.join(qmap, "doc_id").select(
                F.coalesce("dup_of", "doc_id").alias("cluster_id"),
                "best_q",
                F.col("doc_id").alias("best_id"),
            )
            wt = ParquetMergeTable(spark, win_path)
            if wt.exists():
                # Only clusters THIS batch touches re-derive their
                # winner: stored rows semi-join the batch's cluster
                # ids before the union, so the per-batch groupBy and
                # the keyed MERGE are batch-sized — an unrestricted
                # read().union(cand) re-upserts EVERY cluster every
                # batch and the copy-on-write merge degrades to a
                # full-table rewrite per batch (∝ total clusters, the
                # O(n²)-over-stream-lifetime disease the bloom
                # covered-table probe documented).
                touched = (
                    wt.read()
                    .join(cand.select("cluster_id").distinct(), "cluster_id")
                )
                pool = touched.unionByName(cand)
            else:
                pool = cand
            best = (
                pool.groupBy("cluster_id")
                .agg(
                    F.max(
                        F.struct(
                            F.col("best_q"), (-F.col("best_id")).alias("_n")
                        )
                    ).alias("_b")
                )
                .select(
                    "cluster_id",
                    F.col("_b.best_q").alias("best_q"),
                    (-F.col("_b._n")).cast("long").alias("best_id"),
                )
            )
            wt.commit(best, key="cluster_id")

        inner = _sig_process_batch(
            sigs_path, hash_fn, max_hamming, chunk_bits, sink
        )
        try:
            inner(batch_df, batch_id)
        finally:
            qmap.unpersist()

    return docs.writeStream.foreachBatch(process)


def replay_keepbest_batches(
    docs: DataFrame,
    workdir: str,
    k_batches: int = 4,
    max_hamming: int = 7,
    chunk_bits: int = 8,
) -> DataFrame:
    """Replay :func:`keepbest_ingest_stream` on the shared K-batch
    harness and return the final per-cluster report ``(cluster_id,
    best_id, best_q, n_members)`` — winners ledger joined to member
    counts from the admission log, both read from committed state."""
    state_path = os.path.join(workdir, "keepbest_state")
    _replay(
        docs, workdir, k_batches,
        lambda s: keepbest_ingest_stream(
            s, state_path, max_hamming=max_hamming, chunk_bits=chunk_bits
        ),
        schema="doc_id long, text string, quality long",
    )
    spark = docs.sparkSession
    adm = ParquetMergeTable(spark, os.path.join(state_path, "sigs")).read()
    counts = (
        adm.select(F.coalesce("dup_of", "doc_id").alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_members"))
    )
    winners = ParquetMergeTable(
        spark, os.path.join(state_path, "winners")
    ).read()
    return winners.join(counts, "cluster_id").select(
        "cluster_id", "best_id", "best_q", "n_members"
    )
