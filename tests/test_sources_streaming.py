"""Sources (blocks reader, Textract connector, CSV sink) and streaming.

Covers reference S1-S11 and §2.7: nested-block flattening defaults,
the injected-client OCR fan-out with per-file fault isolation, the
per-document CSV layout, the foreachBatch census stream, and
watermarked event-time windows checked against their batch twins.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F


def _write_block_json(path: str, docs: dict[str, list[dict]]) -> None:
    os.makedirs(path, exist_ok=True)
    for doc_id, blocks in docs.items():
        with open(os.path.join(path, f"{doc_id}.json"), "w") as fh:
            for b in blocks:
                fh.write(json.dumps({"doc_id": doc_id, **b}) + "\n")


def _block(text, left, top, block_type="LINE", page=1, geometry=True):
    out = {"BlockType": block_type, "Text": text, "Page": page}
    if geometry:
        out["Geometry"] = {
            "BoundingBox": {"Left": left, "Top": top, "Width": 0.1, "Height": 0.01}
        }
    return out


SAMPLE_DOCS = {
    "census-page-1": [
        _block("Wayne County Agricultural Census 1860", 0.3, 0.01),
        _block("John Smith, 120, 40, 1500, 100, 300", 0.1, 0.10),
        _block("450", 0.1, 0.12),
        _block("Robt. Vance Jr., -, 80, -, 60, -", 0.6, 0.10),
        _block("word-block", 0.6, 0.11, block_type="WORD"),
        _block("   ", 0.6, 0.12),
    ],
}


class TestBlockSource:
    def test_read_and_flatten(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.sources import read_blocks_json

        path = str(tmp_path / "blocks")
        _write_block_json(path, SAMPLE_DOCS)
        lines = read_blocks_json(spark, path)
        from textract_farmdata_pipeline_spark.sources import flatten_blocks

        flat = flatten_blocks(lines)
        rows = {r["text"]: r for r in flat.collect()}
        assert len(rows) == 6
        assert rows["450"]["left"] == pytest.approx(0.1)
        assert rows["450"]["page"] == 1
        assert rows["word-block"]["block_type"] == "WORD"

    def test_missing_geometry_defaults_zero(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.sources import flatten_blocks, read_blocks_json

        path = str(tmp_path / "blocks")
        _write_block_json(
            path, {"d": [_block("No Geometry Line", 0, 0, geometry=False)]}
        )
        row = flatten_blocks(read_blocks_json(spark, path)).collect()[0]
        assert row["left"] == 0.0 and row["top"] == 0.0
        assert row["page"] == 1

    def test_pipeline_over_block_source(self, spark, tmp_path):
        """End-to-end: JSON blocks → census CSV frame (reference §3.1)."""
        from textract_farmdata_pipeline_spark.plans import run_pipeline
        from textract_farmdata_pipeline_spark.sources import flatten_blocks, read_blocks_json

        path = str(tmp_path / "blocks")
        _write_block_json(path, SAMPLE_DOCS)
        out = run_pipeline(flatten_blocks(read_blocks_json(spark, path))).collect()
        by_name = {r["name"]: r for r in out}
        # continuation 450 cursor-merges into John Smith's slots? no —
        # all five are filled, so it is dropped by P4 (no dash slots).
        assert by_name["John Smith"]["acres_improved"] == "120"
        assert by_name["John Smith"]["value_livestock"] == "300"
        assert by_name["Robt. Vance Jr."]["suffix"] == "Jr."
        assert by_name["Robt. Vance Jr."]["acres_improved"] == "-"
        assert by_name["Robt. Vance Jr."]["acres_unimproved"] == "80"
        # header/WORD/blank rows contribute no records
        assert len(out) == 2


def _make_fake_textract(blocks_by_key, fail_keys=()):
    """In-memory Textract double (two result pages via NextToken).

    Defined as a local class factory so cloudpickle serializes it BY
    VALUE into the mapInPandas closure — test modules are not
    importable on executors.
    """

    class FakeTextract:
        def __init__(self):
            self.jobs = {}

        def start_document_text_detection(self, DocumentLocation):
            key = DocumentLocation["S3Object"]["Name"]
            if key in set(fail_keys):
                raise RuntimeError(f"boom: {key}")
            job_id = f"job-{key}"
            self.jobs[job_id] = blocks_by_key[key]
            return {"JobId": job_id}

        def get_document_text_detection(self, JobId, NextToken=None):
            blocks = self.jobs[JobId]
            half = max(1, len(blocks) // 2)
            if NextToken is None:
                page = {"JobStatus": "SUCCEEDED", "Blocks": blocks[:half]}
                if len(blocks) > half:
                    page["NextToken"] = "page-2"
                return page
            return {"JobStatus": "SUCCEEDED", "Blocks": blocks[half:]}

    return FakeTextract


class TestTextractConnector:
    def test_ocr_listing_paginates_and_isolates_failures(self, spark):
        from textract_farmdata_pipeline_spark.sources import ocr_listing

        blocks = {
            "raw/a.pdf": [_block("John Smith, 10, 20", 0.1, 0.1) for _ in range(4)],
            "raw/b.pdf": [_block("Mary Ann McCoy", 0.6, 0.2)],
            "raw/poison.pdf": [],
        }
        listing = spark.createDataFrame(
            [("bkt", k) for k in blocks], "bucket string, key string"
        )
        cls = _make_fake_textract(blocks, fail_keys=("raw/poison.pdf",))
        out = ocr_listing(listing, client_factory=lambda bucket: cls(), poll_delay=0)
        rows = out.collect()
        # 4 + 1 blocks survive; the poisoned file is skipped (S11)
        assert len(rows) == 5
        assert {r["doc_id"] for r in rows} == {"a", "b"}
        # NextToken pagination preserved arrival order per doc
        a_rows = [r for r in rows if r["doc_id"] == "a"]
        assert [r["seq"] for r in a_rows] == [0, 1, 2, 3]

    def test_fail_fast_raises(self, spark):
        from textract_farmdata_pipeline_spark.sources import ocr_listing

        listing = spark.createDataFrame([("bkt", "raw/x.pdf")], "bucket string, key string")
        cls = _make_fake_textract({}, fail_keys=("raw/x.pdf",))
        with pytest.raises(Exception, match="boom"):
            ocr_listing(
                listing, client_factory=lambda b: cls(), poll_delay=0, fail_fast=True
            ).collect()

    def test_failed_job_raises_not_empty(self):
        """A FAILED terminal job must raise (reference
        lambda_function.py:802-803), never silently yield zero blocks —
        an empty result is indistinguishable from an empty document."""
        from textract_farmdata_pipeline_spark.sources.textract import _ocr_one

        class FailingJob:
            def start_document_text_detection(self, **kw):
                return {"JobId": "j1"}

            def get_document_text_detection(self, **kw):
                return {"JobStatus": "FAILED", "Blocks": []}

        with pytest.raises(RuntimeError, match="FAILED"):
            list(_ocr_one(FailingJob(), "bkt", "k.pdf", poll_delay=0, max_wait=1))

    def test_failed_job_isolated_by_listing(self, spark):
        """fail_fast=False: the FAILED document contributes no rows but
        healthy documents still flow (S11 fault isolation)."""
        from textract_farmdata_pipeline_spark.sources import ocr_listing

        good_block = _block("John Smith, 10", 0.1, 0.1)

        def make_client(fail_key):
            # local class + pre-captured plain dict: cloudpickle ships
            # everything by value (test modules don't exist on executors)
            class Client:
                def start_document_text_detection(self, DocumentLocation):
                    key = DocumentLocation["S3Object"]["Name"]
                    return {"JobId": f"job-{key}"}

                def get_document_text_detection(self, JobId, NextToken=None):
                    if JobId == f"job-{fail_key}":
                        return {"JobStatus": "FAILED", "Blocks": []}
                    return {"JobStatus": "SUCCEEDED", "Blocks": [good_block]}

            return Client

        cls = make_client("raw/bad.pdf")
        listing = spark.createDataFrame(
            [("bkt", "raw/good.pdf"), ("bkt", "raw/bad.pdf")],
            "bucket string, key string",
        )
        rows = ocr_listing(listing, client_factory=lambda b: cls(), poll_delay=0).collect()
        assert {r["doc_id"] for r in rows} == {"good"}

    def test_nonterminal_job_hits_wall_clock_timeout(self):
        """poll_delay=0 must not busy-spin forever: max_wait is a
        wall-clock deadline, not a sum of sleeps."""
        from textract_farmdata_pipeline_spark.sources.textract import _ocr_one

        class NeverDone:
            def start_document_text_detection(self, **kw):
                return {"JobId": "j1"}

            def get_document_text_detection(self, **kw):
                return {"JobStatus": "IN_PROGRESS"}

        with pytest.raises(TimeoutError):
            list(_ocr_one(NeverDone(), "bkt", "k.pdf", poll_delay=0, max_wait=0.05))


def _event_json(*keys: str, bucket: str | None = "evt-bkt") -> str:
    import json

    bucket_obj = {"name": bucket} if bucket is not None else {}
    return json.dumps(
        {
            "Records": [
                {"s3": {"bucket": bucket_obj, "object": {"key": k}}} for k in keys
            ]
        }
    )


class TestS3EventsSource:
    """S1 event-record unpack + unquote_plus decode
    (lambda_function.py:785-793)."""

    def test_unquote_plus_decode_and_prefix_gate(self, spark):
        from urllib.parse import unquote_plus

        from textract_farmdata_pipeline_spark.sources import s3_events_source

        keys = [
            "raw/farm+census+1950.pdf",      # '+' must become space
            "raw/county%2Fplat%20book.pdf",  # %2F → '/', %20 → space
            "processed/done.pdf",            # outside RAW_PREFIX → skipped
            "",                              # empty key → skipped
        ]
        events = spark.createDataFrame(
            [(_event_json(*keys),)], "event_json string"
        )
        out = s3_events_source(events).collect()
        assert sorted(r["key"] for r in out) == sorted(
            unquote_plus(k) for k in keys[:2]
        )
        assert {r["bucket"] for r in out} == {"evt-bkt"}
        # spot-check the exact decodes the reference relies on
        assert "raw/farm census 1950.pdf" in {r["key"] for r in out}
        assert "raw/county/plat book.pdf" in {r["key"] for r in out}

    def test_missing_bucket_falls_back_to_default(self, spark):
        from textract_farmdata_pipeline_spark.sources import s3_events_source

        events = spark.createDataFrame(
            [(_event_json("raw/a.pdf", bucket=None),)], "event_json string"
        )
        out = s3_events_source(events, default_bucket="cfg-bkt").collect()
        assert [(r["bucket"], r["key"]) for r in out] == [("cfg-bkt", "raw/a.pdf")]

    def test_empty_records_batch_yields_nothing(self, spark):
        import json

        from textract_farmdata_pipeline_spark.sources import s3_events_source

        events = spark.createDataFrame(
            [(json.dumps({"Records": []}),), (json.dumps({"ok": True}),)],
            "event_json string",
        )
        assert s3_events_source(events).count() == 0

    def test_listing_feeds_ocr_connector(self, spark):
        """The adapter's output is directly consumable by ocr_listing."""
        from textract_farmdata_pipeline_spark.sources import (
            ocr_listing,
            s3_events_source,
        )

        blocks = {"raw/evt doc.pdf": [_block("John Smith, 10, 20", 0.1, 0.1)]}
        events = spark.createDataFrame(
            [(_event_json("raw/evt+doc.pdf"),)], "event_json string"
        )
        listing = s3_events_source(events)
        assert listing.columns == ["bucket", "key"]
        cls = _make_fake_textract(blocks)
        rows = ocr_listing(
            listing, client_factory=lambda b: cls(), poll_delay=0
        ).collect()
        assert len(rows) == 1 and rows[0]["doc_id"] == "evt doc"


class TestCsvSink:
    def test_per_document_layout(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.plans import run_pipeline
        from textract_farmdata_pipeline_spark.sources import (
            flatten_blocks,
            read_blocks_json,
            write_census_csv,
        )

        blocks = str(tmp_path / "blocks")
        docs = {
            "doc-a": [_block("John Smith, 1, 2, 3, 4, 5", 0.1, 0.1)],
            "doc-b": [_block("Geo. Oneal, 9", 0.6, 0.3)],
        }
        _write_block_json(blocks, docs)
        out_dir = str(tmp_path / "csv")
        frame = run_pipeline(
            flatten_blocks(read_blocks_json(spark, blocks)), keep_doc_id=True
        )
        write_census_csv(frame, out_dir, single_file_per_doc=True)
        parts = sorted(os.listdir(out_dir))
        assert "doc_id=doc-a" in parts and "doc_id=doc-b" in parts
        back = spark.read.option("header", True).csv(out_dir)
        assert back.count() == 2
        assert "name" in back.columns and "doc_id" in back.columns


class TestStreamingCensus:
    def test_stream_matches_batch(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.plans import run_pipeline
        from textract_farmdata_pipeline_spark.sources import flatten_blocks, read_blocks_json
        from textract_farmdata_pipeline_spark.streaming import stream_census_pipeline

        blocks = str(tmp_path / "blocks")
        _write_block_json(blocks, SAMPLE_DOCS)
        out_dir = str(tmp_path / "out")
        q = stream_census_pipeline(
            spark,
            blocks,
            out_dir,
            checkpoint_path=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
        got = spark.read.option("header", True).csv(out_dir)
        batch = run_pipeline(flatten_blocks(read_blocks_json(spark, blocks)))
        assert got.count() == batch.count() == 2
        assert sorted(r["name"] for r in got.collect()) == sorted(
            r["name"] for r in batch.collect()
        )


class TestStreamingEvents:
    @pytest.fixture(scope="class")
    def batch_events(self, spark, sf_dir):
        # the SAME derivation the stream uses (a separately hand-rolled
        # transform once let a 1000x time error pass stream-equals-batch)
        from textract_farmdata_pipeline_spark.streaming.events import (
            read_events_batch,
        )

        return read_events_batch(spark, sf_dir)

    def _run_stream(self, spark, sf_dir, build, tmp_path, name):
        from textract_farmdata_pipeline_spark.streaming.events import read_events_stream

        stream = build(read_events_stream(spark, sf_dir))
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name)

    def test_hourly_windows_match_batch(self, spark, sf_dir, batch_events, tmp_path):
        from textract_farmdata_pipeline_spark.streaming import hourly_windows

        got = self._run_stream(spark, sf_dir, hourly_windows, tmp_path, "hourly_mem")
        want = (
            batch_events.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
            )
            .agg(F.count("*").alias("n_events"))
            .collect()
        )
        got_map = {(r["hour_start"], r["event_type"]): r["n_events"] for r in got.collect()}
        assert len(got_map) == len(want)
        for r in want:
            assert got_map[(r["hour_start"], r["event_type"])] == r["n_events"]

    def test_session_windows_match_batch_sessionize(
        self, spark, sf_dir, batch_events, tmp_path
    ):
        """session_window(gap) must produce the same (user, n_events)
        multiset as the batch gaps-and-islands formulation."""
        from pyspark.sql.window import Window

        from textract_farmdata_pipeline_spark.streaming import session_windows

        got = self._run_stream(spark, sf_dir, session_windows, tmp_path, "sessions_mem")

        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        gap_us = F.col("ts_us") - F.lag(F.col("ts_us")).over(w)
        # >= : session_window's end is EXCLUSIVE (an event exactly gap
        # after the last one starts a NEW session) — the boundary the
        # events_session_stream_replay oracle pins; '>' here was a
        # latent flake that only passed because the fixture's µs jitter
        # never lands an exact 30:00.000000 gap.
        is_new = F.when(gap_us.isNull() | (gap_us >= 1_800_000_000), 1).otherwise(0)
        want = (
            batch_events.withColumn("session_id", F.sum(is_new).over(cum))
            .groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"))
        )
        got_counts = sorted(
            (r["user_id"], r["n_events"]) for r in got.collect()
        )
        want_counts = sorted((r["user_id"], r["n_events"]) for r in want.collect())
        assert got_counts == want_counts


class TestStatefulStreaming:
    def _mk_events_files(self, spark, tmp_path, batches):
        """Write each batch as its own parquet file so
        maxFilesPerTrigger=1 yields one micro-batch per file."""
        d = str(tmp_path / "ev")
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "event_id long, ts timestamp, user_id long, value double"
            ).coalesce(1).write.mode("append").parquet(d)
        return d

    def test_dedup_stream_drops_watermark_window_dupes(self, spark, tmp_path):
        import datetime as dt

        from textract_farmdata_pipeline_spark.streaming import dedup_stream

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, t0, 10, 1.0),
            (1, t0, 10, 1.0),  # exact dupe
            (2, t0 + dt.timedelta(minutes=1), 10, 2.0),
            (2, t0 + dt.timedelta(minutes=2), 11, 2.5),  # same id, later ts
            (3, t0 + dt.timedelta(minutes=3), 12, 3.0),
        ]
        d = self._mk_events_files(spark, tmp_path, [rows])
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(d)
        q = (
            dedup_stream(stream)
            .writeStream.format("memory")
            .queryName("dedup_mem")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-dedup"))
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("dedup_mem").collect()
        assert sorted(r["event_id"] for r in got) == [1, 2, 3]

    def test_watermark_bounds_dedup_state(self, spark, tmp_path):
        """The 100 TB/day argument for dedup_stream, measured: with a
        watermark, dedup state EVICTS keys older than the horizon, so
        state size tracks the horizon's key cardinality; plain
        dropDuplicates retains every key ever seen (unbounded)."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        batches = [
            [(100 * b + i, t0 + dt.timedelta(hours=b), 10, 1.0) for i in range(100)]
            for b in range(3)
        ]
        d = self._mk_events_files(spark, tmp_path, batches)

        def run(dedup, name):
            from textract_farmdata_pipeline_spark.streaming import dedup_stream

            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
            out = (
                dedup_stream(stream, watermark="10 minutes")
                if dedup == "watermarked"
                else stream.dropDuplicates(["event_id"])
            )
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
                .start()
            )
            q.awaitTermination(120)
            progress = [p for p in q.recentProgress if p["stateOperators"]]
            return progress[-1]["stateOperators"][0]["numRowsTotal"]

        unbounded = run("plain", "ttl_plain")
        bounded = run("watermarked", "ttl_wm")
        assert unbounded == 300          # every key ever seen stays in state
        assert bounded <= 100            # horizon passed batches 1-2: evicted
        # both emit all 300 distinct events
        assert spark.table("ttl_plain").count() == 300
        assert spark.table("ttl_wm").count() == 300

    def test_running_totals_carry_state_across_batches(self, spark, tmp_path):
        import datetime as dt

        from textract_farmdata_pipeline_spark.streaming import (
            user_running_totals_stream,
        )

        t0 = dt.datetime(2024, 1, 1)
        batch1 = [(1, t0, 10, 1.0), (2, t0, 10, 2.0), (3, t0, 11, 5.0)]
        batch2 = [(4, t0 + dt.timedelta(minutes=1), 10, 3.0)]
        d = self._mk_events_files(spark, tmp_path, [batch1, batch2])
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            user_running_totals_stream(stream)
            .writeStream.format("memory")
            .queryName("totals_mem")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-totals"))
            .start()
        )
        q.awaitTermination(120)
        rows = spark.table("totals_mem").collect()
        # final (max) totals per user reflect BOTH batches: state carried
        final = {}
        for r in rows:
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                final[r["user_id"]] = (r["n_events"], r["total_value"])
        assert final[10] == (3, 6.0)
        assert final[11] == (1, 5.0)

    def test_transform_with_state_totals(self, spark, tmp_path):
        """Same totals via the Spark-4 transformWithState operator
        (RocksDB state store): state carried across micro-batches.

        ENVIRONMENT CONSTRAINT: transformWithState's Python worker
        speaks protobuf to the JVM state server; this container ships
        no ``google.protobuf`` and installs are disallowed, so the
        end-to-end run skips here.  The processor logic and the
        TTL/time-mode contract are still exercised unconditionally by
        the ungated tests below (fake-handle drive +
        plan-construction time-mode pin).

        Re-probed 2026-08-16 (round 13 session start, same result as
        round 12): ``import google.protobuf`` still raises
        ModuleNotFoundError in this container and installs remain
        disallowed, so the gate stands unchanged."""
        import datetime as dt

        pytest.importorskip(
            "google.protobuf",
            reason="transformWithState's Python driver worker needs protobuf",
        )

        from textract_farmdata_pipeline_spark.streaming import (
            user_running_totals_tws,
        )

        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            t0 = dt.datetime(2024, 1, 1)
            batch1 = [(1, t0, 10, 1.0), (2, t0, 10, 2.0), (3, t0, 11, 5.0)]
            batch2 = [(4, t0 + dt.timedelta(minutes=1), 10, 3.0)]
            d = self._mk_events_files(spark, tmp_path, [batch1, batch2])
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
            q = (
                user_running_totals_tws(stream)
                .writeStream.format("memory")
                .queryName("tws_mem")
                .outputMode("update")
                .trigger(availableNow=True)
                .option("checkpointLocation", str(tmp_path / "ckpt-tws"))
                .start()
            )
            q.awaitTermination(120)
            rows = spark.table("tws_mem").collect()
            final = {}
            for r in rows:
                cur = final.get(r["user_id"])
                if cur is None or r["n_events"] > cur[0]:
                    final[r["user_id"]] = (r["n_events"], r["total_value"])
            assert final[10] == (3, 6.0)
            assert final[11] == (1, 5.0)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    def test_ttl_dedup_state_vs_watermark_dedup_state(self, spark, tmp_path):
        """State-size evidence across the two dedup state-bounding
        mechanisms: dropDuplicatesWithinWatermark evicts by EVENT-time
        horizon (test_watermark_bounds_dedup_state pins that side);
        dedup_stream_tws evicts by PROCESSING-time TTL.  Here: run the
        TTL form over the same 3×100-key batch sequence with a TTL long
        enough that nothing expires mid-run — state must hold exactly
        the 300 distinct keys (one boolean per key) and every distinct
        event must be emitted exactly once; then re-run with a 1 ms TTL
        and a second query restart after the TTL has elapsed, and the
        restarted query's state must NOT retain the 300 expired keys.

        ENVIRONMENT CONSTRAINT: skips here because this container has
        no ``google.protobuf`` (transformWithState's Python worker
        requires it; installs are disallowed).  The TTL/time-mode
        contract and the processor's dedup logic are pinned by the
        ungated tests below."""
        import datetime as dt
        import time as _time

        pytest.importorskip(
            "google.protobuf",
            reason="transformWithState's Python driver worker needs protobuf",
        )

        from textract_farmdata_pipeline_spark.streaming import dedup_stream_tws

        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            t0 = dt.datetime(2024, 1, 1)
            batches = [
                [(100 * b + i, t0 + dt.timedelta(hours=b), 10, 1.0) for i in range(100)]
                for b in range(3)
            ]
            d = self._mk_events_files(spark, tmp_path, batches)

            def run(name, ttl_ms, ckpt):
                stream = (
                    spark.readStream.schema(
                        "event_id long, ts timestamp, user_id long, value double"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(d)
                )
                q = (
                    dedup_stream_tws(stream, ttl_ms=ttl_ms)
                    .writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .option("checkpointLocation", str(tmp_path / ckpt))
                    .start()
                )
                q.awaitTermination(120)
                progress = [p for p in q.recentProgress if p["stateOperators"]]
                return progress[-1]["stateOperators"][0]["numRowsTotal"]

            state_long = run("tws_dedup_long", 24 * 3600 * 1000, "ckpt-ttl-long")
            assert state_long == 300
            assert spark.table("tws_dedup_long").count() == 300

            # short TTL: process everything, wait out the TTL, restart on
            # the same checkpoint with one late duplicate file — expired
            # keys must be gone from the restarted query's state
            run("tws_dedup_short", 1, "ckpt-ttl-short")
            _time.sleep(0.2)
            spark.createDataFrame(
                [(0, t0, 10, 1.0)],
                "event_id long, ts timestamp, user_id long, value double",
            ).coalesce(1).write.mode("append").parquet(d)
            state_after = run("tws_dedup_short2", 1, "ckpt-ttl-short")
            assert state_after < 300
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    def test_tws_plans_carry_processing_time_mode(self, spark, tmp_path):
        """Ungated (no protobuf needed): TTL'd ValueState is only legal
        under TimeMode.ProcessingTime — Spark's handle throws
        STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL otherwise,
        at state init, i.e. only once a protobuf-capable worker runs.
        Pin the contract at plan-construction time instead: the
        TransformWithStateInPySpark logical node prints its time mode,
        so a regression back to "None" fails here in every environment."""
        import datetime as dt

        from textract_farmdata_pipeline_spark.streaming import (
            dedup_stream_tws,
            user_running_totals_tws,
        )

        d = self._mk_events_files(
            spark, tmp_path, [[(1, dt.datetime(2024, 1, 1), 10, 1.0)]]
        )
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(d)

        def time_mode(df):
            plan = df._jdf.queryExecution().logical().toString()
            line = plan.splitlines()[0]
            assert "TransformWithStateInPySpark" in line
            return "ProcessingTime" if "ProcessingTime" in line else "None"

        # dedup_stream_tws always registers TTL state → always ProcessingTime
        assert time_mode(dedup_stream_tws(stream)) == "ProcessingTime"
        # totals: TTL requested → ProcessingTime; no TTL → cheaper no-clock path
        assert time_mode(user_running_totals_tws(stream, ttl_ms=60_000)) == "ProcessingTime"
        assert time_mode(user_running_totals_tws(stream)) == "None"

    def test_tws_processor_logic_without_engine(self):
        """Ungated driver of the two StatefulProcessors through fake
        handles — exercises the dedup-once and running-totals contracts
        that the protobuf-gated end-to-end tests pin, so the processor
        logic is covered in environments without protobuf."""
        import pandas as pd

        from textract_farmdata_pipeline_spark.streaming.stateful import (
            _DedupTtlProcessor,
            _RunningTotalsProcessor,
        )

        class FakeState:
            def __init__(self):
                self.value = None

            def get(self):
                return self.value

            def update(self, v):
                self.value = v

        class FakeHandle:
            def __init__(self):
                self.ttls = {}
                self.states = {}

            def getValueState(self, name, schema, ttlDurationMs=None):
                self.ttls[name] = ttlDurationMs
                return self.states.setdefault(name, FakeState())

        # dedup: first batch for a key emits exactly one row; the key is
        # then marked seen and later batches emit nothing
        proc = _DedupTtlProcessor(ttl_ms=1234)
        h = FakeHandle()
        proc.init(h)
        assert h.ttls["seen"] == 1234
        pdf = pd.DataFrame({"event_id": [7, 7], "value": [1.0, 1.0]})
        out = list(proc.handleInputRows((7,), [pdf, pdf], None))
        assert len(out) == 1 and len(out[0]) == 1
        assert list(proc.handleInputRows((7,), [pdf], None)) == []

        # totals: state accumulates across calls and each call emits the
        # updated (n, total) for the key
        tot = _RunningTotalsProcessor(ttl_ms=None)
        h2 = FakeHandle()
        tot.init(h2)
        assert h2.ttls["totals"] is None
        b1 = pd.DataFrame({"value": [1.0, 2.0]})
        b2 = pd.DataFrame({"value": [5.0]})
        (o1,) = tot.handleInputRows((10,), [b1], None)
        assert o1.iloc[0].tolist() == [10, 2, 3.0]
        (o2,) = tot.handleInputRows((10,), [b2], None)
        assert o2.iloc[0].tolist() == [10, 3, 8.0]


class TestStreamJoins:
    def _stream(self, spark, tmp_path, name, rows, schema):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(d)
        return spark.readStream.schema(schema).parquet(d)

    def test_enrich_stream_static_broadcast(self, spark, tmp_path):
        import datetime as dt

        from textract_farmdata_pipeline_spark.streaming import enrich_stream

        t0 = dt.datetime(2024, 1, 1)
        ev = self._stream(
            spark, tmp_path, "ev",
            [(1, t0, 10, 1.0), (2, t0, 11, 2.0), (3, t0, 99, 3.0)],
            "event_id long, ts timestamp, user_id long, value double",
        )
        dim = spark.createDataFrame(
            [(10, "gold"), (11, "trial")], "user_id long, tier string"
        )
        q = (
            enrich_stream(ev, dim)
            .writeStream.format("memory").queryName("enriched_mem")
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-enrich")).start()
        )
        q.awaitTermination(60)
        got = {r["event_id"]: r["tier"] for r in spark.table("enriched_mem").collect()}
        assert got == {1: "gold", 2: "trial", 3: None}  # left join keeps unmatched

    def test_correlate_streams_time_bound(self, spark, tmp_path):
        import datetime as dt

        from textract_farmdata_pipeline_spark.streaming import correlate_streams

        t0 = dt.datetime(2024, 1, 1, 12, 0)
        m = dt.timedelta(minutes=1)
        clicks = self._stream(
            spark, tmp_path, "clicks",
            [(1, t0, 10), (2, t0 + 30 * m, 11)],
            "click_id long, ts timestamp, user_id long",
        )
        buys = self._stream(
            spark, tmp_path, "buys",
            [
                (100, t0 + 5 * m, 10),    # within 1h of click 1
                (101, t0 + 90 * m, 10),   # outside 1h of click 1
                (102, t0 - 5 * m, 11),    # before click 2 -> excluded
            ],
            "buy_id long, r_ts timestamp, r_user_id long",
        )
        q = (
            correlate_streams(clicks, buys, key="user_id", within="1 hour")
            .writeStream.format("memory").queryName("corr_mem")
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-corr")).start()
        )
        q.awaitTermination(120)
        pairs = sorted(
            (r["click_id"], r["buy_id"]) for r in spark.table("corr_mem").collect()
        )
        assert pairs == [(1, 100)]

    def test_left_outer_emits_unmatched_after_watermark(self, spark, tmp_path):
        """Funnel-with-dropouts: a click with no purchase inside its
        interval must still come out (null right side) — released by
        the same watermark advance that evicts its join state.  The
        late (user 12) pair pushes the watermark past click 1's join
        window so the no-data batch can flush the outer row."""
        import datetime as dt

        from textract_farmdata_pipeline_spark.streaming import correlate_streams

        t0 = dt.datetime(2024, 1, 1, 12, 0)
        m = dt.timedelta(minutes=1)
        clicks = self._stream(
            spark, tmp_path, "oclicks",
            [(1, t0, 10), (2, t0 + 5 * m, 11), (3, t0 + 180 * m, 12)],
            "click_id long, ts timestamp, user_id long",
        )
        buys = self._stream(
            spark, tmp_path, "obuys",
            [(200, t0 + 10 * m, 11), (201, t0 + 180 * m, 12)],
            "buy_id long, r_ts timestamp, r_user_id long",
        )
        q = (
            correlate_streams(
                clicks, buys, key="user_id", within="1 hour",
                watermark="10 minutes", how="left_outer",
            )
            .writeStream.format("memory").queryName("corr_outer_mem")
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-corr-outer")).start()
        )
        q.awaitTermination(120)
        got = {
            r["click_id"]: r["buy_id"] for r in spark.table("corr_outer_mem").collect()
        }
        assert got == {1: None, 2: 200, 3: 201}
    def test_each_batch_sees_fresh_dim(self, spark, tmp_path):
        """Broadcast-state pattern: the dim_loader runs once per
        micro-batch, so batch N joins against dim version N."""
        import datetime as dt

        from textract_farmdata_pipeline_spark.streaming.events import (
            enrich_with_refreshing_dim,
        )

        t0 = dt.datetime(2024, 1, 1)
        d = str(tmp_path / "ev")
        for i in range(2):  # two files → two micro-batches
            spark.createDataFrame(
                [(i, t0, 10, 1.0)],
                "event_id long, ts timestamp, user_id long, value double",
            ).coalesce(1).write.mode("append").parquet(d)

        versions = []

        def dim_loader():
            v = len(versions)
            versions.append(v)
            return spark.createDataFrame([(10, v)], "user_id long, dim_version long")

        seen = []

        def sink(batch_df, batch_id):
            seen.extend(
                (r["event_id"], r["dim_version"]) for r in batch_df.collect()
            )

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            enrich_with_refreshing_dim(stream, dim_loader, sink=sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt-dim"))
            .start()
        )
        q.awaitTermination(120)
        assert len(versions) == 2  # loader invoked once per batch
        # each event saw the dim version of its own batch
        assert sorted(seen) == [(0, 0), (1, 1)]


class TestStreamingSketches:
    def test_cms_stream_equals_batch(self, spark, tmp_path, sf_dir):
        """Micro-batched sketch maintenance must converge to exactly the
        batch sketch of the union — cellwise-merge correctness through
        foreachBatch, multiple batches forced via maxFilesPerTrigger."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            cms_sketch,
        )
        from textract_farmdata_pipeline_spark.streaming import cms_stream

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        src = str(tmp_path / "docs_src")
        docs.repartition(4).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        batch_ids: list[int] = []
        writer, state = cms_stream(
            stream, n=2, sink=lambda _s, bid: batch_ids.append(bid)
        )
        q = (
            writer.option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert len(batch_ids) >= 2, "expected multiple micro-batches"
        expected = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in cms_sketch(docs, n=2).collect()
        }
        assert state == expected

    def test_cms_stream_bootstrap_resumes_restart(self, spark, tmp_path, sf_dir):
        """Restart semantics: run batch 0 alone, 'restart' with the
        persisted cells + covered batch ids as bootstrap, stream the
        remaining files through the SAME checkpoint — the resumed state
        must equal the full-history batch sketch (and a checkpoint
        replay of a covered batch id must not double-merge)."""
        from textract_farmdata_pipeline_spark.operators.text_analysis import (
            cms_sketch,
        )
        from textract_farmdata_pipeline_spark.streaming import cms_stream

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
        src = str(tmp_path / "docs_src_boot")
        docs.repartition(3).write.mode("overwrite").parquet(src)
        ckpt = str(tmp_path / "ckpt-boot")

        def stream():
            return (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        persisted: dict = {}
        covered: set[int] = set()

        def sink(st, bid):
            persisted.clear()
            persisted.update(st)
            covered.add(bid)

        # first run: process exactly one micro-batch, then stop.
        writer, _ = cms_stream(stream(), n=2, sink=sink)
        q = writer.option("checkpointLocation", ckpt).start()
        import time

        deadline = time.time() + 120
        while not covered and time.time() < deadline:
            time.sleep(0.3)
        q.stop()
        q.awaitTermination(60)
        assert covered, "first run made no progress"

        # second run: fresh process state, bootstrapped from the sink.
        writer2, state2 = cms_stream(
            stream(), n=2, bootstrap=persisted, bootstrap_batch_ids=covered
        )
        q2 = (
            writer2.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        expected = {
            (r["row"], r["bucket"]): r["cnt"]
            for r in cms_sketch(docs, n=2).collect()
        }
        assert state2 == expected


class TestIngestReplay:
    def test_replay_equals_first_arrival_wins(self, spark, tmp_path, sf_dir):
        """replay_ingest_batches over K deterministic batches at
        threshold=1.0 must admit exactly the smallest (batch_idx,
        doc_id) per distinct text — the SQL-expressible contract the
        registry oracle checks at full fixture size."""
        from textract_farmdata_pipeline_spark.streaming import (
            replay_ingest_batches,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
        planted = docs.filter(F.col("doc_id") < 10).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
        incoming = docs.select("doc_id", "text").unionByName(
            planted.select("doc_id", "text")
        )
        admitted = {
            r["doc_id"]
            for r in replay_ingest_batches(
                incoming, str(tmp_path / "replay"), k_batches=3, threshold=1.0
            ).collect()
        }
        want = {}
        for r in incoming.collect():
            key = r["text"]
            cand = (r["doc_id"] % 3, r["doc_id"])
            if key not in want or cand < want[key]:
                want[key] = cand
        assert admitted == {d for _, d in want.values()}
        # every planted copy's original has a smaller (batch, id)?  not
        # necessarily (batch of id+1000 can precede), so assert only the
        # invariant: one admitted doc per distinct text.
        assert len(admitted) == incoming.select("text").distinct().count()

    def test_empty_manifest_dir_starts_fresh(self, spark, tmp_path, sf_dir):
        """A ``_manifests/`` directory without any ``v*.json`` (a first
        create that crashed before publishing) must not wedge the
        stream: the replay admits exactly what a clean run admits."""
        import os

        from textract_farmdata_pipeline_spark.streaming import (
            replay_ingest_batches,
        )

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") < 30)
            .select("doc_id", "text")
        )
        planted = docs.filter(F.col("doc_id") < 10).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
        incoming = docs.unionByName(planted)

        def admitted(workdir):
            return {
                r["doc_id"]
                for r in replay_ingest_batches(
                    incoming, workdir, k_batches=3, threshold=1.0
                ).collect()
            }

        crashed = tmp_path / "crashed"
        os.makedirs(crashed / "corpus" / "_manifests")
        clean = admitted(str(tmp_path / "clean"))
        assert len(clean) == 30  # one admitted doc per distinct text
        assert admitted(str(crashed)) == clean


class TestStreamingIngestDedup:
    def test_cross_batch_admission_and_dup_mapping(self, spark, tmp_path):
        """Batch N+1 must dedup against everything ADMITTED in batches
        1..N: exact copies arriving later are rejected with dup_of
        pointing at the earliest admitted holder, and within-batch
        groups keep their first member."""
        import os
        import time

        from textract_farmdata_pipeline_spark.streaming import dedup_ingest_stream

        t_a = "the quick brown fox jumps over the lazy dog near the river bank"
        t_b = "pack my box with five dozen liquor jugs before the long voyage"
        t_c = "sphinx of black quartz judge my vow under bright morning skies"
        batches = [
            [(1, t_a), (2, t_a), (3, t_b)],          # 2 dups 1 in-batch
            [(11, t_a), (12, t_c), (13, t_c)],        # 11 dups corpus; 13 dups 12
            [(21, t_c)],                               # dups batch-2 admission
        ]
        src = str(tmp_path / "incoming")
        os.makedirs(src, exist_ok=True)
        for i, rows in enumerate(batches):
            d = spark.createDataFrame(rows, "doc_id long, text string")
            p = str(tmp_path / f"b{i}")
            d.coalesce(1).write.mode("overwrite").parquet(p)
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    dst = os.path.join(src, f"batch{i}.parquet")
                    os.rename(os.path.join(p, f), dst)
                    os.utime(dst, (time.time() + i * 10, time.time() + i * 10))

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        seen: dict[int, int | None] = {}
        corpus_path = str(tmp_path / "corpus")
        writer = dedup_ingest_stream(
            stream,
            corpus_path,
            sink=lambda ann, bid: seen.update(
                {r["doc_id"]: r["dup_of"] for r in ann.collect()}
            ),
        )
        q = (
            writer.option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

        assert seen == {1: None, 2: 1, 3: None, 11: 1, 12: None, 13: 12, 21: 12}
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )

        admitted = {
            r["doc_id"]
            for r in ParquetMergeTable(spark, corpus_path).read().collect()
        }
        assert admitted == {1, 3, 12}


class TestStreamingHll:
    def test_hll_stream_equals_batch(self, spark, tmp_path, sf_dir):
        """Max-merged register state after streaming all files must
        equal the single-pass batch register table — the mergeability
        that lets a crawl count distinct URLs forever in m integers."""
        from textract_farmdata_pipeline_spark.operators.approx import hll_registers
        from textract_farmdata_pipeline_spark.streaming import hll_stream

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
        src = str(tmp_path / "ev_src")
        ev.repartition(4).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        batch_ids: list[int] = []
        writer, state = hll_stream(
            stream, "user_id", sink=lambda _s, bid: batch_ids.append(bid)
        )
        q = (
            writer.option("checkpointLocation", str(tmp_path / "ckpt-hll"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert len(batch_ids) >= 2, "expected multiple micro-batches"
        expected = {
            r["register"]: r["max_rho"]
            for r in hll_registers(ev, "user_id").collect()
        }
        assert state == expected

    def test_hll_replay_is_idempotent(self, spark, sf_dir):
        """Merging the same partial twice leaves the state unchanged —
        the max-merge exactly-once-for-free property the docstring
        promises (no batch-id guard needed, unlike the CMS)."""
        from textract_farmdata_pipeline_spark.operators.approx import hll_registers

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
        part = {
            r["register"]: r["max_rho"]
            for r in hll_registers(ev, "user_id").collect()
        }
        state: dict[int, int] = {}
        for _ in range(2):
            for reg, rho in part.items():
                state[reg] = max(state.get(reg, 0), rho)
        assert state == part


class TestStreamingIvfIngest:
    def test_ivf_stream_equals_batch(self, spark, tmp_path, sf_dir):
        """Streamed per-cell admission counts must equal the one-shot
        batch assignment of the same rows — additive merge correctness
        through foreachBatch, multiple batches forced."""
        from pyspark.sql import functions as F

        from textract_farmdata_pipeline_spark.operators.similarity import (
            sq_anchor_codes,
            sq_assign_cells,
            sq_train,
        )
        from textract_farmdata_pipeline_spark.streaming import ivf_ingest_stream

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        mins, maxs = sq_train(emb)
        anchors = sq_anchor_codes(emb, mins, maxs, k_coarse=8)
        src = str(tmp_path / "emb_src")
        emb.repartition(4).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        batch_ids: list[int] = []
        writer, state = ivf_ingest_stream(
            stream, mins, maxs, anchors, sink=lambda _s, bid: batch_ids.append(bid)
        )
        q = (
            writer.option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert len(batch_ids) >= 2, "expected multiple micro-batches"
        expected = {
            r["cell"]: r["n"]
            for r in sq_assign_cells(emb, mins, maxs, anchors)
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert state == expected

    def test_replay_guard_skips_covered_batches(self, spark, tmp_path, sf_dir):
        """A batch id in ``bootstrap_batch_ids`` must merge as a no-op:
        covering every id up front leaves the state exactly at its
        bootstrap — the additive sketch's at-least-once protection."""
        from textract_farmdata_pipeline_spark.operators.similarity import (
            sq_anchor_codes,
            sq_train,
        )
        from textract_farmdata_pipeline_spark.streaming import ivf_ingest_stream

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)
        mins, maxs = sq_train(emb)
        anchors = sq_anchor_codes(emb, mins, maxs, k_coarse=8)
        src = str(tmp_path / "emb_src_guard")
        emb.repartition(3).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        writer, state = ivf_ingest_stream(
            stream,
            mins,
            maxs,
            anchors,
            bootstrap={3: 7},
            bootstrap_batch_ids=set(range(100)),
        )
        q = (
            writer.option("checkpointLocation", str(tmp_path / "ckpt-guard"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert state == {3: 7}

    def test_additive_bootstrap_halves_must_travel_together(self, spark, sf_dir):
        """Passing persisted cells without the batch ids they cover (or
        vice versa) silently violates the additive restart contract —
        dropped counts or double-merged replays — so both additive
        streams must refuse the lone half loudly at construction."""
        import pytest

        from textract_farmdata_pipeline_spark.streaming import (
            cms_stream,
            ivf_ingest_stream,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(4)
        stream = spark.readStream.schema(emb.schema).parquet(str(sf_dir))
        with pytest.raises(ValueError, match="passed together"):
            ivf_ingest_stream(stream, [0.0], [1.0], None, bootstrap={3: 7})
        with pytest.raises(ValueError, match="passed together"):
            cms_stream(stream, bootstrap_batch_ids={0, 1})


class TestDhashStreamReplay:
    def test_stream_equals_batch_loop(self, spark, tmp_path):
        """The streaming perceptual-dedup admission over K micro-batches
        must equal a driver loop of dhash_match_stored with
        accumulating admitted-signature state."""
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            dhash_match_stored,
            image_dhash,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            replay_dhash_batches,
        )

        base = "the quick brown fox jumps over the lazy dog " * 8
        other = "completely different media payload with other words " * 7
        rows = [
            (0, base),             # batch 0 -> admitted
            (1, other),            # batch 1 -> admitted
            (2, "~" + base[1:]),   # batch 2 -> dup_of 0
            (3, base),             # batch 0: SAME-batch exact dup of 0
            #   -> still admitted (batch docs are never compared to
            #   each other; within-batch collapse is a later
            #   dhash_clusters run — the incremental contract)
            (4, "~" + other[1:]),  # batch 1: same-batch near-dup of 1
            #   -> admitted for the same reason
            (5, other),            # batch 2 -> dup_of 1
        ]
        k = 3
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            tuple(r)
            for r in replay_dhash_batches(
                docs, str(tmp_path / "replay"), k_batches=k
            ).collect()
        )
        stored = spark.createDataFrame([], "doc_id long, sig array<bigint>")
        want = []
        for b in range(k):
            bdf = docs.filter(F.pmod(F.col("doc_id"), F.lit(k)) == b)
            bsig = image_dhash(attach_media(bdf)).localCheckpoint()
            ann = dhash_match_stored(stored, bsig)
            rows_b = [tuple(r) for r in ann.collect()]
            want.extend(rows_b)
            new_ids = [d for d, _, new in rows_b if new]
            stored = stored.unionByName(
                bsig.filter(F.col("doc_id").isin(new_ids))
            ).localCheckpoint()
        assert got == sorted(want)
        # and the cross-batch semantics are the interesting ones:
        by_id = {d: (dup, new) for d, dup, new in got}
        assert by_id[0] == (None, True) and by_id[3] == (None, True)
        assert by_id[4] == (None, True)  # same-batch twins both admit
        assert by_id[2] == (0, False)  # later-batch near-dup rejected
        assert by_id[5] == (1, False)  # later-batch exact dup rejected

    def test_replayed_batch_reproduces_state(self, spark, tmp_path):
        """A checkpoint REPLAY of an already-committed micro-batch must
        leave the admission state bit-identical: the batch's own
        committed signatures are anti-joined out of the matching side,
        so previously admitted docs don't self-match at Hamming 0 and
        get silently flipped to duplicates (the r9 advisor's high
        finding on dhash_ingest_stream)."""
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            dhash_process_batch,
        )

        base = "the quick brown fox jumps over the lazy dog " * 8
        other = "completely different media payload with other words " * 7
        state_path = str(tmp_path / "dhash_state")
        process = dhash_process_batch(state_path)
        b0 = spark.createDataFrame(
            [(0, base), (1, other)], "doc_id long, text string"
        )
        b1 = spark.createDataFrame(
            [(2, "~" + base[1:]), (3, "fresh unrelated payload " * 12)],
            "doc_id long, text string",
        )
        process(b0, 0)
        process(b1, 1)
        table = ParquetMergeTable(spark, state_path)
        before = sorted(
            tuple(r)
            for r in table.read()
            .select("doc_id", "dup_of", "is_new")
            .collect()
        )
        by_id = {d: (dup, new) for d, dup, new in before}
        assert by_id[0] == (None, True) and by_id[3] == (None, True)
        assert by_id[2] == (0, False)
        # simulate the failure mode: batch 1 committed, checkpoint not
        # advanced, stream restarts and re-delivers batch 1 verbatim.
        process(b1, 1)
        after = sorted(
            tuple(r)
            for r in table.read()
            .select("doc_id", "dup_of", "is_new")
            .collect()
        )
        assert after == before
        # and replaying the FIRST batch (both docs admitted) must not
        # flip its admissions either — the exact corruption the
        # self-match produced before the anti-join.
        process(b0, 0)
        assert (
            sorted(
                tuple(r)
                for r in table.read()
                .select("doc_id", "dup_of", "is_new")
                .collect()
            )
            == before
        )


class TestStateSchemaDrift:
    """A resumed stream whose state table was written on the other
    side of ``threshold == 1.0`` must fail before any batch runs,
    naming the ``k`` column and the threshold."""

    def _state(self, spark, path, with_k: bool, split: bool):
        from textract_farmdata_pipeline_spark.operators.dedup import (
            sorted_shingle_key,
        )
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )

        rows = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        if split:
            rows = rows.select(
                "doc_id", "text", F.lit("train").alias("split"),
                F.lit("fresh").alias("origin"),
            )
        if with_k:
            rows = rows.withColumn("k", sorted_shingle_key(F.col("text")))
        ParquetMergeTable(spark, path).create(rows.coalesce(1))

    def _stream(self, spark, tmp_path):
        src = str(tmp_path / "incoming")
        os.makedirs(src, exist_ok=True)
        return spark.readStream.schema("doc_id long, text string").parquet(src)

    @pytest.mark.parametrize("threshold,with_k", [(1.0, False), (0.5, True)])
    def test_dedup_stream_rejects_mismatched_state(
        self, spark, tmp_path, threshold, with_k
    ):
        from textract_farmdata_pipeline_spark.streaming import dedup_ingest_stream

        path = str(tmp_path / "corpus")
        self._state(spark, path, with_k=with_k, split=False)
        with pytest.raises(ValueError, match=rf"'k'.*threshold={threshold}"):
            dedup_ingest_stream(self._stream(spark, tmp_path), path, threshold=threshold)

    @pytest.mark.parametrize("threshold,with_k", [(1.0, False), (0.5, True)])
    def test_split_stream_rejects_mismatched_state(
        self, spark, tmp_path, threshold, with_k
    ):
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            split_ingest_stream,
        )

        path = str(tmp_path / "splits")
        self._state(spark, path, with_k=with_k, split=True)
        with pytest.raises(ValueError, match=rf"'k'.*threshold={threshold}"):
            split_ingest_stream(self._stream(spark, tmp_path), path, threshold=threshold)

    @pytest.mark.parametrize("threshold", [1.0, 0.5])
    def test_matching_state_resumes(self, spark, tmp_path, threshold):
        from textract_farmdata_pipeline_spark.streaming import dedup_ingest_stream

        path = str(tmp_path / "corpus")
        self._state(spark, path, with_k=threshold == 1.0, split=False)
        dedup_ingest_stream(self._stream(spark, tmp_path), path, threshold=threshold)


class TestSplitStreamReplay:
    def test_stream_equals_batch_loop_at_general_threshold(
        self, spark, tmp_path, sf_dir
    ):
        """The streaming split over K micro-batches must equal a
        driver loop of incremental_split_batch with accumulating state
        — at threshold 0.5, the GENERAL (LSH-linked) path the plain-SQL
        oracle can't express."""
        from textract_farmdata_pipeline_spark.operators.dedup import (
            incremental_split_batch,
        )
        from textract_farmdata_pipeline_spark.streaming import (
            replay_split_batches,
        )

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .limit(60)
        )
        k = 3
        got = sorted(
            tuple(r)
            for r in replay_split_batches(
                docs, str(tmp_path / "replay"), k_batches=k, threshold=0.5
            ).collect()
        )
        # batch-loop reference: same residue batching, same core
        state = spark.createDataFrame(
            [], "doc_id long, text string, split string"
        )
        want_rows = []
        for b in range(k):
            bdf = docs.filter(F.pmod(F.col("doc_id"), F.lit(k)) == b)
            ann = incremental_split_batch(state, bdf, threshold=0.5)
            rows = [tuple(r) for r in ann.collect()]
            want_rows.extend(rows)
            add = spark.createDataFrame(
                [(d, s) for d, s, _ in rows], "doc_id long, split string"
            ).join(bdf, "doc_id").select("doc_id", "text", "split")
            state = state.unionByName(add).localCheckpoint()
        assert got == sorted(want_rows)

    def test_near_dup_inherits_across_batches(self, spark, tmp_path):
        """A LATER batch's near-duplicate (not exact) of an assigned
        doc must inherit its split through the LSH link — the
        leakage-safety property under streaming arrival."""
        from textract_farmdata_pipeline_spark.streaming import (
            replay_split_batches,
        )

        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        rows = [
            (0, base),  # batch 0 (0 % 2)
            (2, "one two three four five six seven eight nine ten"),
            # batch 1: near-dup of doc 0 (one token changed) + novel
            (1, base.replace("kappa", "KAPPA2")),
            (3, "completely novel text with no counterpart anywhere here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["split"], r["origin"])
            for r in replay_split_batches(
                docs, str(tmp_path / "replay"), k_batches=2, threshold=0.5
            ).collect()
        }
        assert out[0][1] == "fresh" and out[2][1] == "fresh"
        assert out[1] == (out[0][0], "inherited")
        assert out[3][1] == "fresh"


class TestBloomStreamReplay:
    ROWS = [
        (0, "alpha beta gamma delta"),        # batch 0 -> admitted
        (3, "epsilon zeta eta theta"),        # batch 0 -> admitted
        (1, "alpha beta gamma delta"),        # batch 1 -> rejected (dup of 0)
        (4, "iota kappa lambda mu"),          # batch 1 -> admitted
        (7, "iota kappa lambda mu"),          # batch 1: SAME-batch twin of 4
        #   -> still admitted (batch docs never compared to each other)
        (2, "iota kappa lambda mu"),          # batch 2 -> rejected (dup of 4)
        (5, "nu xi omicron pi rho"),          # batch 2 -> admitted
    ]
    K = 3

    def test_stream_equals_batch_loop(self, spark, tmp_path):
        """Streaming Bloom admission over K micro-batches must equal a
        driver loop of bloom_probe against the accumulated admitted-
        text filter — and pin the cross-batch/within-batch semantics."""
        from textract_farmdata_pipeline_spark.operators.approx import (
            bloom_build,
            bloom_probe,
        )
        from textract_farmdata_pipeline_spark.streaming import (
            replay_bloom_batches,
        )

        docs = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        m_bits, k = 1 << 14, 4
        got = sorted(
            tuple(r)
            for r in replay_bloom_batches(
                docs, str(tmp_path / "replay"), k_batches=self.K,
                m_bits=m_bits, k=k,
            ).collect()
        )
        admitted = spark.createDataFrame([], "text string")
        want = []
        for b in range(self.K):
            bdf = docs.filter(F.pmod(F.col("doc_id"), F.lit(self.K)) == b)
            words = bloom_build(admitted, "text", m_bits=m_bits, k=k)
            ann = bloom_probe(bdf, words, "text", m_bits=m_bits, k=k).select(
                "doc_id", "bloom_member", (~F.col("bloom_member")).alias("is_new")
            )
            rows_b = [tuple(r) for r in ann.collect()]
            want.extend(rows_b)
            new_texts = bdf.join(
                ann.filter(F.col("is_new")).select("doc_id"), "doc_id"
            ).select("text")
            admitted = admitted.unionByName(new_texts).localCheckpoint()
        assert got == sorted(want)
        by_id = {d: new for d, _, new in got}
        assert by_id[0] and by_id[3] and by_id[4] and by_id[5]
        assert by_id[7]  # same-batch twin admits
        assert not by_id[1] and not by_id[2]  # cross-batch dups rejected

    def test_replayed_batches_reproduce_state(self, spark, tmp_path):
        """A checkpoint replay of any fully-committed batch must leave
        BOTH state tables bit-identical: the covered marker routes the
        replay to its stored decisions instead of re-deciding against
        a filter that already contains its own bits (a Bloom filter
        cannot anti-join its own batch back out — once OR'd, bits are
        shared; the dhash_ingest_stream lesson applied to the O(bits)
        state model)."""
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            bloom_process_batch,
        )

        docs = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        state = str(tmp_path / "bloom_state")
        process = bloom_process_batch(state, m_bits=1 << 14)

        def batch(b):
            return docs.filter(F.pmod(F.col("doc_id"), F.lit(self.K)) == b)

        def snapshot():
            adm = sorted(
                tuple(r)
                for r in ParquetMergeTable(spark, f"{state}/admissions")
                .read()
                .collect()
            )
            words = sorted(
                tuple(r)
                for r in ParquetMergeTable(spark, f"{state}/words")
                .read()
                .collect()
            )
            return adm, words

        process(batch(0), 0)
        process(batch(1), 1)
        before = snapshot()
        by_id = {d: new for d, _, new in before[0]}
        assert by_id[0] and by_id[4] and by_id[7] and not by_id[1]
        process(batch(1), 1)  # replay last batch
        assert snapshot() == before
        process(batch(0), 0)  # replay an OLDER covered batch
        assert snapshot() == before

    def test_crash_after_covered_before_words_self_heals(
        self, spark, tmp_path
    ):
        """Crash window 3 of the commit protocol: admissions + covered
        committed, words NOT.  The replay's covered path must re-OR
        the admitted docs' bits from the batch's own texts, so a LATER
        batch still rejects duplicates of this batch's admissions."""
        from textract_farmdata_pipeline_spark.operators.approx import (
            bloom_probe,
        )
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            bloom_process_batch,
        )

        docs = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        state = str(tmp_path / "bloom_state")
        m_bits = 1 << 14
        process = bloom_process_batch(state, m_bits=m_bits)

        def batch(b):
            return docs.filter(F.pmod(F.col("doc_id"), F.lit(self.K)) == b)

        process(batch(0), 0)
        # simulate the partial batch-1 commit: decisions derived from
        # the CURRENT filter, admissions + covered written, words not.
        words_t = ParquetMergeTable(spark, f"{state}/words")
        ann = bloom_probe(
            batch(1), words_t.read(), "text", m_bits=m_bits, k=4
        ).select(
            "doc_id", "bloom_member", (~F.col("bloom_member")).alias("is_new")
        )
        ParquetMergeTable(spark, f"{state}/admissions").merge(ann, key="doc_id")
        ParquetMergeTable(spark, f"{state}/covered").merge(
            spark.createDataFrame([(1,)], "batch_id long"), key="batch_id"
        )
        words_before = sorted(
            tuple(r) for r in words_t.read().collect()
        )
        # the stream restarts and re-delivers batch 1: covered path.
        process(batch(1), 1)
        words_after = sorted(tuple(r) for r in words_t.read().collect())
        assert words_after != words_before  # the missing OR happened
        # and batch 2 decides against the HEALED filter: doc 2 (dup of
        # batch-1 doc 4) rejected, doc 5 novel admitted.
        process(batch(2), 2)
        adm = {
            r["doc_id"]: r["is_new"]
            for r in ParquetMergeTable(spark, f"{state}/admissions")
            .read()
            .collect()
        }
        assert adm[2] is False and adm[5] is True


class TestUrlStreamReplay:
    """URL-canonicalization ingest: keep-first across batches with
    one-row-per-distinct-page owner state, replay-idempotent by the
    owner-identity rule."""

    K = 4
    # (doc_id, url): ids 0..3 land in batches 0..3 (doc_id % 4).
    # Page A arrives as three cosmetic variants in batches 1, 2, 3 —
    # the BATCH order winner (id 1, batch 1) differs from the global
    # min id ordering rule only through batch precedence; page B has a
    # smaller-id arrival in a LATER batch (id 4 batch 0 vs id 7
    # batch 3 — id 4 wins), and page C is unique.
    ROWS = [
        (1, "https://Example.com/a?b=2&a=1"),
        (2, "https://www.example.com/a/?a=1&b=2#x"),
        (3, "https://example.com:443/a?a=1&b=2"),
        (4, "https://example.com/b"),
        (7, "https://example.com/b/"),
        (6, "https://example.com/c"),
    ]

    def test_keep_first_across_batches(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            replay_url_batches,
        )

        docs = spark.createDataFrame(self.ROWS, "doc_id long, url string")
        got = {
            r["doc_id"]: (r["canonical_url"], r["admitted"])
            for r in replay_url_batches(
                docs, str(tmp_path / "replay"), k_batches=self.K
            ).collect()
        }
        assert set(got) == {1, 2, 3, 4, 6, 7}
        canon_a = "https://example.com/a?a=1&b=2"
        assert got[1] == (canon_a, True)
        assert got[2] == (canon_a, False) and got[3] == (canon_a, False)
        # batch 0 beats batch 3 for page B even though both ids canonize
        assert got[4] == ("https://example.com/b", True)
        assert got[7] == ("https://example.com/b", False)
        assert got[6] == ("https://example.com/c", True)

    def test_replayed_batch_rederives_decisions(self, spark, tmp_path):
        """Drive the module-level process fn through the crash-after-
        commit window: batch 0 runs, commits its owners, then replays.
        The replay must find ITSELF as owner, produce byte-identical
        decisions, and leave the owner table unchanged (value-level
        no-op merge)."""
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            url_process_batch,
        )

        docs = spark.createDataFrame(self.ROWS, "doc_id long, url string")
        seen = str(tmp_path / "seen")
        decisions = []
        sink = lambda ann, bid: decisions.append(
            sorted(tuple(r) for r in ann.collect())
        )
        b0 = docs.filter(F.pmod(F.col("doc_id"), F.lit(self.K)) == 0)
        url_process_batch(b0, 0, seen, sink=sink)
        owners_1 = sorted(
            tuple(r) for r in ParquetMergeTable(spark, seen).read().collect()
        )
        url_process_batch(b0, 0, seen, sink=sink)  # the replay
        owners_2 = sorted(
            tuple(r) for r in ParquetMergeTable(spark, seen).read().collect()
        )
        assert decisions[0] == decisions[1]
        assert owners_1 == owners_2
        # and a later batch still rejects against the committed owner
        b3 = docs.filter(F.pmod(F.col("doc_id"), F.lit(self.K)) == 3)
        url_process_batch(b3, 3, seen, sink=sink)
        by_id = {d: adm for d, _c, adm in decisions[2]}
        assert by_id[7] is False  # page B owned by batch-0 doc 4
        # batches 1-2 never ran here, so batch-3 doc 3 is page A's
        # first arrival and admits
        assert by_id[3] is True


class TestBoilerplateIngest:
    """Ninth ingest family — additive-count census state: per-batch
    deltas keyed by (group, line, batch) so at-least-once replay
    re-upserts instead of double-counting, and the accumulated census
    equals the one-shot census for any batching."""

    @staticmethod
    def _docs(spark):
        foot = " ".join(f"f{i}" for i in range(12))
        uniq = lambda d: " ".join(f"u{d}w{i}" for i in range(12))
        rows = [
            (i, "srcA", foot + " " + uniq(i)) for i in range(8)
        ]  # footer in 8/8 docs of srcA
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    def test_replayed_batch_does_not_double_count(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            boilerplate_process_batch,
            read_boilerplate_census,
        )

        docs = self._docs(spark)
        state = str(tmp_path / "census")
        b0 = docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
        boilerplate_process_batch(b0, 0, state)
        lines_1, tot_1 = read_boilerplate_census(spark, state)
        n_1 = {r["_h"]: r["_n_docs"] for r in lines_1.collect()}
        t_1 = {r["_grp"]: r["_src_docs"] for r in tot_1.collect()}
        boilerplate_process_batch(b0, 0, state)  # crash-after-commit replay
        lines_2, tot_2 = read_boilerplate_census(spark, state)
        assert {r["_h"]: r["_n_docs"] for r in lines_2.collect()} == n_1
        assert {r["_grp"]: r["_src_docs"] for r in tot_2.collect()} == t_1
        assert t_1 == {"srcA": 2}  # docs 0 and 4, counted once

    def test_accumulated_census_equals_one_shot(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.paragraphs import (
            boilerplate_census,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            boilerplate_process_batch,
            read_boilerplate_census,
        )

        docs = self._docs(spark)
        state = str(tmp_path / "census")
        for b in range(4):
            boilerplate_process_batch(
                docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == b), b, state
            )
        acc_lines, acc_tot = read_boilerplate_census(spark, state)
        one_lines, one_tot = boilerplate_census(docs)
        assert sorted(
            (r["_grp"], r["_h"], r["_n_docs"]) for r in acc_lines.collect()
        ) == sorted(
            (r["_grp"], r["_h"], r["_n_docs"]) for r in one_lines.collect()
        )
        assert sorted(tuple(r) for r in acc_tot.collect()) == sorted(
            tuple(r) for r in one_tot.collect()
        )


class TestAudioIngest:
    """Audio near-dup admission on the signature-generic handler: the
    duration gate keeps short clips out of the state entirely, twins
    of admitted docs reject, and a crash-replayed batch re-derives its
    decisions against the anti-joined state."""

    @staticmethod
    def _handler(state):
        from textract_farmdata_pipeline_spark.operators.multimodal import (
            attach_media,
            audio_fingerprint,
        )
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            _sig_process_batch,
        )

        def hash_fn(b):
            media = attach_media(b.select("doc_id", "text"))
            fp = audio_fingerprint(media.where(F.length("media") >= 264))
            return fp.select("doc_id", F.array(F.col("fp")).alias("sig"))

        return _sig_process_batch(state, hash_fn, 3, 8)

    def test_gate_twins_and_replay(self, spark, tmp_path):
        from textract_farmdata_pipeline_spark.operators.merge import (
            ParquetMergeTable,
        )

        base = "".join(chr(97 + (i * 11) % 26) for i in range(300))
        other = "".join(chr(97 + (i * 5 + 3) % 26) for i in range(300))
        state = str(tmp_path / "audio_state")
        process = self._handler(state)
        b0 = spark.createDataFrame(
            [(1, base), (2, "tiny")], "doc_id long, text string"
        )
        process(b0, 0)
        s1 = {r["doc_id"]: r for r in ParquetMergeTable(spark, state).read().collect()}
        assert set(s1) == {1}  # short clip never enters the state
        assert s1[1]["is_new"] is True
        # crash-after-commit replay: identical state, no self-match flip
        process(b0, 0)
        s2 = {r["doc_id"]: r for r in ParquetMergeTable(spark, state).read().collect()}
        assert set(s2) == {1} and s2[1]["is_new"] is True
        # batch 1: a re-encode of doc 1 rejects, a new stream admits
        b1 = spark.createDataFrame(
            [(3, "~" + base[1:]), (4, other)], "doc_id long, text string"
        )
        process(b1, 1)
        s3 = {r["doc_id"]: r for r in ParquetMergeTable(spark, state).read().collect()}
        assert s3[3]["is_new"] is False and s3[3]["dup_of"] == 1
        assert s3[4]["is_new"] is True


class TestKeepbestStreamReplay:
    def test_winner_upgrade_and_tie(self, spark, tmp_path):
        """The winners ledger upgrades a cluster's canonical when a
        later near-dup arrives with HIGHER quality, keeps the original
        on lower quality, and breaks quality ties toward the earliest
        id — the keep_best_per_cluster decision, accumulated per
        micro-batch."""
        from textract_farmdata_pipeline_spark.streaming.ingest import (
            replay_keepbest_batches,
        )

        base = "the quick brown fox jumps over the lazy dog " * 8
        other = "completely different media payload with other words " * 7
        third = "yet another unrelated stream of training bytes here " * 7
        # (doc_id, text, quality); k=3 batches by doc_id % 3
        rows = [
            (0, base, 10),             # b0: admit cluster 0, winner (10, 0)
            (1, other, 50),            # b1: admit cluster 1, winner (50, 1)
            (4, "~" + base[1:], 99),   # b1: dup of 0, HIGHER q -> upgrade
            (5, "~" + other[1:], 5),   # b2: dup of 1, lower q -> keep 1
            (8, base, 10),             # b2: exact dup of 0, TIE q -> keep 0
            (2, third, 7),             # b2: new cluster, winner (7, 2)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, quality long"
        )
        got = {
            r["cluster_id"]: (r["best_id"], r["best_q"], r["n_members"])
            for r in replay_keepbest_batches(
                docs, str(tmp_path / "kb"), k_batches=3
            ).collect()
        }
        assert got[0] == (4, 99, 3)   # upgraded by the later, better copy
        assert got[1] == (1, 50, 2)   # lower-quality dup never demotes
        assert got[2] == (2, 7, 1)    # singleton keeps itself
