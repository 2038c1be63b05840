"""The three workloads, driven through the package's public entry points.

Each workload object offers ``warm()``, ``job()`` (one timed unit of
work, returning its input rows and its micro-batch durations, if any), ``check()`` (is the last job's output
correct), ``traced_job(tracer)`` (the same job under spans, returning
its wall time and the layer counts the event log cannot give) and
``layers(tracer)`` (extra traced work that splits the job into its
layers, returning more counts).  Runs in the Spark worker process only.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from . import config, oracles
from .trace import Tracer, median, parse_progress, span


PREFIX_REPEATS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_files(path: str, suffix: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class CensusBatch:
    """Block JSON → flatten → run_pipeline → per-document CSV sink."""

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.blocks_dir = os.path.join(inputs, "blocks")
        with open(os.path.join(inputs, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.out = os.path.join(work, "census_csv")

    def _frame(self):
        from textract_farmdata_pipeline_spark.plans import run_pipeline
        from textract_farmdata_pipeline_spark.sources.blocks import flatten_blocks, read_blocks_json

        blocks = flatten_blocks(read_blocks_json(self.spark, self.blocks_dir))
        return run_pipeline(blocks, keep_doc_id=True, ordered=False)

    def _write(self) -> None:
        from textract_farmdata_pipeline_spark.sources.csv_sink import write_census_csv

        write_census_csv(self._frame(), self.out)

    def warm(self) -> None:
        for _ in range(config.CENSUS_WARM_JOBS):
            self._write()

    def job(self) -> tuple[int, list[float]]:
        self._write()
        return self.expected["blocks"], []

    def check(self) -> bool:
        return oracles.census_matches(self.expected, self.out)

    def layers(self, tracer: Tracer) -> dict:
        from textract_farmdata_pipeline_spark.operators.assembly import assemble_records
        from textract_farmdata_pipeline_spark.operators.layout import classify_lines, prepare_blocks
        from textract_farmdata_pipeline_spark.operators.output import to_census_csv
        from textract_farmdata_pipeline_spark.sources.blocks import flatten_blocks, read_blocks_json

        # Each layer's prefix of the chain is materialized to the noop
        # sink, PREFIX_REPEATS times; a layer's marginal time is the
        # median of its prefix minus the median of the previous one.
        def blocks():
            return flatten_blocks(read_blocks_json(self.spark, self.blocks_dir))

        def lines():
            return classify_lines(prepare_blocks(blocks()))

        def records():
            return assemble_records(lines())

        prefixes = {
            "sources.blocks": blocks,
            "operators.layout": lines,
            "operators.assembly": records,
            "operators.output": lambda: to_census_csv(records(), add_notes=True, keep_doc_id=True),
        }
        with span(tracer, "census_batch.prefixes"):
            for _ in range(PREFIX_REPEATS):
                for name, build in prefixes.items():
                    with span(tracer, name):
                        _noop(build())
        n_blocks, n_lines = blocks().count(), lines().count()
        return {
            "sources.blocks.rows": n_blocks,
            "operators.layout.kept_ratio": n_lines / n_blocks,
            "operators.assembly.python_rows": n_lines,
            "operators.assembly.records": records().count(),
        }

    def traced_job(self, tracer: Tracer) -> tuple[float, dict]:
        with span(tracer, "sources.csv_sink") as sink:
            self._write()
        files, size = _dir_files(self.out, ".csv")
        counts = {"sources.csv_sink.files": files, "sources.csv_sink.bytes": size}
        return sink.end - sink.start, counts


_CORPUS_ARGS = dict(num_shards=16, decontam_n=3, quality_gate=True, span_words=10, containment_t=0.8)


class CorpusBuild:
    """build_corpus with the corpus_build_full arguments; the manifest is
    collected to the driver."""

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.docs_path = os.path.join(inputs, "documents.parquet")
        with open(os.path.join(inputs, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.result: tuple[list[str], list] | None = None

    def _persistent_ids(self) -> set[int]:
        from textract_farmdata_pipeline_spark.operators.checkpoints import _persistent_ids

        return _persistent_ids(self.spark)

    def _build(self):
        from textract_farmdata_pipeline_spark.operators.corpus import build_corpus

        docs = self.spark.read.parquet(self.docs_path)
        return build_corpus(docs, docs.filter(F.col("doc_id") % 97 == 0), **_CORPUS_ARGS)

    def warm(self) -> None:
        self.job()

    def job(self) -> tuple[int, list[float]]:
        from textract_farmdata_pipeline_spark.operators.checkpoints import release

        before = self._persistent_ids()
        try:
            manifest = self._build()
            self.result = (manifest.columns, manifest.collect())
        finally:
            # build_corpus's eager checkpoints live as long as its frame;
            # free them so jobs do not accumulate blocks
            release(self.spark, self._persistent_ids() - before)
        return self.expected["docs"], []

    def _matches(self, columns, rows) -> bool:
        return columns == self.expected["columns"] and (
            oracles.frame_hash(columns, [tuple(r) for r in rows]) == self.expected["hash"]
        )

    def check(self) -> bool:
        return self._matches(*self.result)

    def traced_job(self, tracer: Tracer) -> tuple[float, dict]:
        from textract_farmdata_pipeline_spark.operators.checkpoints import release

        before = self._persistent_ids()
        with span(tracer, "operators.corpus") as build:
            with span(tracer, "operators.corpus.construct") as construct:
                manifest = self._build()
            with span(tracer, "operators.corpus.execute") as execute:
                self.result = (manifest.columns, manifest.collect())
        release(self.spark, self._persistent_ids() - before)
        counts = {
            "operators.corpus.construct_s": construct.end - construct.start,
            "operators.corpus.execute_s": execute.end - execute.start,
            "operators.corpus.kept_ratio": len(self.result[1]) / self.expected["docs"],
        }
        return build.end - build.start, counts

    def layers(self, tracer: Tracer) -> dict:
        """build_corpus's stages one at a time, each materialized, so
        each gets its own time and row counts; the final manifest must
        hash equal to build_corpus's (``stage_chain_ok``)."""
        from textract_farmdata_pipeline_spark.operators.checkpoints import (
            release,
            tracked_local_checkpoint,
        )
        from textract_farmdata_pipeline_spark.operators.corpus import (
            decontaminate,
            mixture_resample,
            shuffle_shards,
            span_dedup,
        )
        from textract_farmdata_pipeline_spark.operators.dedup import (
            containment_excerpt_drop,
            exact_dedup_by_hash,
        )
        from textract_farmdata_pipeline_spark.operators.text_analysis import gopher_quality_filter

        key, text = "doc_id", "text"
        docs = self.spark.read.parquet(self.docs_path)
        eval_docs = docs.filter(F.col(key) % 97 == 0)

        def gopher(d):
            passed = gopher_quality_filter(d, text_col=text, id_col=key).where(F.col("keep"))
            return d.join(passed.select(key), key)

        args = _CORPUS_ARGS

        def spans(d):
            cleaned = span_dedup(d, span_words=args["span_words"], id_col=key, text_col=text)
            cleaned = cleaned.where(F.col("clean_text") != "")
            return d.drop(text).join(cleaned.select(key, F.col("clean_text").alias(text)), key)

        def exact(d):
            keep = exact_dedup_by_hash(d, text_col=text, id_col=key)
            return d.join(keep.select(F.col("keep_doc_id").alias(key)), key)

        def containment(d):
            drop = containment_excerpt_drop(d, threshold=args["containment_t"], shingle_n=3,
                                            id_col=key, text_col=text)
            return d.join(drop.withColumnRenamed("doc_id", key), key, "left_anti")

        def decontam(d):
            bad = decontaminate(d, eval_docs, n=args["decontam_n"], text_col=text, id_col=key)
            return d.join(F.broadcast(bad.select(key)), key, "left_anti").select(key, "source")

        def mixture(d):
            return mixture_resample(d, by="source", key_col=key)

        def shards(d):
            return shuffle_shards(d, key, args["num_shards"]).select(key, "source", "shard", "shard_pos")

        steps = dict(zip(config.CORPUS_STAGES, (gopher, spans, exact, containment, decontam, mixture, shards)))
        counts: dict = {}
        held: set[int] = set()
        rows_in = docs.count()
        cur = docs
        with span(tracer, "corpus_build.stages"):
            for name, step in steps.items():
                with span(tracer, name):
                    if name == config.CORPUS_STAGES[-1]:
                        final = step(cur)
                        rows = final.collect()
                    else:
                        cur, ids = tracked_local_checkpoint(step(cur))
                        held |= ids
                rows_out = len(rows) if name == config.CORPUS_STAGES[-1] else cur.count()
                counts[f"{name}.rows_in"] = rows_in
                counts[f"{name}.rows_out"] = rows_out
                rows_in = rows_out
        release(self.spark, held)
        counts["stage_chain_ok"] = self._matches(final.columns, rows)
        return counts


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress report as its JSON text."""

    def __init__(self):
        self._lock = threading.Lock()
        self._reports: list[str] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._reports.append(event.progress.json)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, run_id: str, expected: int, timeout_s: float = 20.0):
        """Parsed batch progress of one query run, waiting for the
        asynchronous listener bus to deliver ``expected`` batches."""
        deadline = time.time() + timeout_s
        while True:
            with self._lock:
                parsed = [parse_progress(r) for r in self._reports]
            out = sorted((b for b in parsed if b and b.run_id == run_id), key=lambda b: b.batch_id)
            if len(out) >= expected or time.time() > deadline:
                return out
            time.sleep(0.05)


class IngestStream:
    """File readStream (one pre-staged file per trigger, availableNow) →
    dedup_ingest_stream at threshold 1.0 → ParquetMergeTable commits."""

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.incoming = os.path.join(inputs, "incoming")
        self.warm_dir = os.path.join(inputs, "warm")
        with open(os.path.join(inputs, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.work = work
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.batches = []  # listener progress of the last replay

    @property
    def corpus(self) -> str:
        return os.path.join(self.work, "ingest", "corpus")

    def _replay(self, src: str) -> None:
        from textract_farmdata_pipeline_spark.streaming.ingest import dedup_ingest_stream

        root = os.path.join(self.work, "ingest")
        shutil.rmtree(root, ignore_errors=True)
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src)
        )
        q = (
            dedup_ingest_stream(stream, self.corpus, threshold=1.0)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        self.batches = self.listener.batches(str(q.runId), n_files)

    def warm(self) -> None:
        self._replay(self.warm_dir)

    def job(self) -> tuple[int, list[float]]:
        self._replay(self.incoming)
        return self.expected["docs"], [b.trigger_s for b in self.batches]

    def check(self) -> bool:
        return (
            len(self.batches) == config.STREAM_BATCHES
            and oracles.read_merge_table_ids(self.corpus) == self.expected["admitted"]
        )

    def layers(self, tracer: Tracer) -> dict:
        return {}  # the traced replay itself yields every layer's numbers

    def traced_job(self, tracer: Tracer) -> tuple[float, dict]:
        from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

        commits: list[dict] = []
        originals = {m: getattr(ParquetMergeTable, m) for m in ("create", "merge")}

        def wrap(method):
            def timed(table, *args, **kwargs):
                old = _manifest_files(table)
                start = time.time()
                version = method(table, *args, **kwargs)
                end = time.time()
                new = _manifest_files(table)
                commits.append({"start": start, "end": end, "version": version,
                                "rewritten": len(set(old) - set(new)), "files": new})
                return version
            return timed

        for m, fn in originals.items():
            setattr(ParquetMergeTable, m, wrap(fn))
        try:
            with span(tracer, "streaming.ingest") as replay:
                self._replay(self.incoming)
        finally:
            for m, fn in originals.items():
                setattr(ParquetMergeTable, m, fn)

        batch_spans = [
            tracer.add("streaming.ingest.batch", b.start, b.start + b.trigger_s, replay.span_id)
            for b in self.batches
        ]
        for c in commits:
            parent = next((s.span_id for s in batch_spans if s.start <= c["start"] <= s.end),
                          replay.span_id)
            tracer.add("operators.merge", c["start"], c["end"], parent)
        final = commits[-1]["files"] if commits else []
        state_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in final)
        # the listener's numInputRows counts every re-read of the batch
        # source inside foreachBatch, so take the staged files' rows
        input_rows = self.expected["docs"]
        counts = {
            "streaming.ingest.trigger_s": median(b.trigger_s for b in self.batches),
            "streaming.ingest.add_batch_s": median(b.add_batch_s for b in self.batches),
            "streaming.ingest.planning_s": median(b.planning_s for b in self.batches),
            "streaming.ingest.wal_commit_s": median(b.wal_commit_s for b in self.batches),
            "streaming.ingest.input_rows": input_rows,
            "streaming.ingest.admitted_ratio": state_rows / input_rows,
            "operators.merge.commit_s": median(c["end"] - c["start"] for c in commits),
            "operators.merge.files": len(final),
            "operators.merge.bytes": sum(os.path.getsize(f) for f in final),
            "operators.merge.state_rows": state_rows,
            "operators.merge.files_rewritten": sum(c["rewritten"] for c in commits),
            "operators.merge.manifest_version": commits[-1]["version"] if commits else 0,
        }
        return replay.end - replay.start, counts


def _manifest_files(table) -> list[str]:
    version = table.latest_version()
    return table._read_manifest(version)["files"] if version else []


WORKLOADS = {
    "census_batch": CensusBatch,
    "corpus_build": CorpusBuild,
    "ingest_stream": IngestStream,
}
