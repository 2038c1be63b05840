"""ParquetMergeTable commit protocol: the manifest's recorded schema,
exclusive (optimistic) version publishing, and ``upsert_or`` on deltas
that repeat a key."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

SCHEMA = "k long, v string"


def _table(spark, path, rows, schema=SCHEMA):
    from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

    tbl = ParquetMergeTable(spark, str(path))
    tbl.create(spark.createDataFrame(rows, schema).coalesce(1))
    return tbl


def _jobs_in(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_manifest_records_schema_and_pins_reads(spark, tmp_path):
    tbl = _table(spark, tmp_path / "t", [(1, "a"), (2, "b")])
    m = tbl._read_manifest(1)
    assert json.loads(m["schema"])["fields"][0]["name"] == "k"
    assert tbl.schema().simpleString() == "struct<k:bigint,v:string>"
    df, jobs = _jobs_in(spark, "pinned-read", tbl.read)
    assert jobs == []  # no footer-inference job
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]
    v = tbl.merge(spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA), key="k")
    assert tbl._read_manifest(v)["schema"] == m["schema"]
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]


def test_manifest_without_schema_still_reads_and_merges(spark, tmp_path):
    """A table written before manifests carried a schema: reads fall
    back to parquet inference, and the next commit records one."""
    tbl = _table(spark, tmp_path / "t", [(1, "a"), (2, "b")])
    path = os.path.join(tbl._manifest_dir(), "v1.json")
    with open(path) as fh:
        body = json.load(fh)
    del body["schema"]
    with open(path, "w") as fh:
        json.dump(body, fh)

    assert tbl.schema().simpleString() == "struct<k:bigint,v:string>"
    assert sorted(tuple(r) for r in tbl.read().collect()) == [(1, "a"), (2, "b")]
    # a pure insert (changelog read back from the new files) and an update
    v2 = tbl.merge(spark.createDataFrame([(3, "c")], SCHEMA), key="k")
    v3 = tbl.merge(spark.createDataFrame([(1, "A")], SCHEMA), key="k")
    assert sorted(tuple(r) for r in tbl.read().collect()) == [
        (1, "A"), (2, "b"), (3, "c"),
    ]
    assert "schema" in tbl._read_manifest(v2)
    changes = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in tbl.read_changes(from_version=v2, to_version=v3).collect()
    )
    assert changes == [
        (1, "A", "update_postimage"), (1, "a", "update_preimage"), (3, "c", "insert"),
    ]


def test_racing_commits_exactly_one_wins(spark, tmp_path):
    """Two writers read version 1, both write their files and
    changelogs, then both publish version 2: one commit lands, the
    other raises and leaves the winner's snapshot AND change feed
    intact."""
    from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

    _table(spark, tmp_path / "t", [(1, "a")])
    barrier = threading.Barrier(2, timeout=120)

    class Racing(ParquetMergeTable):
        def _write_manifest(self, version, files, schema, changes=None):
            barrier.wait()  # both writers have claimed `version`
            super()._write_manifest(version, files, schema, changes)

    results: dict[str, object] = {}

    def commit(name: str, value: str) -> None:
        tbl = Racing(spark, str(tmp_path / "t"))
        try:
            results[name] = tbl.merge(
                spark.createDataFrame([(2, value)], SCHEMA), key="k"
            )
        except FileExistsError as e:
            results[name] = e

    threads = [
        threading.Thread(target=commit, args=(n, n)) for n in ("w1", "w2")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)

    won = [n for n, r in results.items() if r == 2]
    lost = [n for n, r in results.items() if isinstance(r, FileExistsError)]
    assert len(won) == 1 and len(lost) == 1, results
    assert "version 2" in str(results[lost[0]])
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"))
    assert tbl.latest_version() == 2
    assert sorted(tuple(r) for r in tbl.read().collect()) == [(1, "a"), (2, won[0])]
    leftovers = [f for f in os.listdir(tbl._manifest_dir()) if f.startswith(".")]
    assert leftovers == []
    assert [tuple(r) for r in tbl.read_changes(2, 2).collect()] == [
        (2, won[0], "insert", 2)
    ]
    assert os.listdir(tmp_path / "t" / "_changes") == [
        tbl._read_manifest(2)["changes"]
    ]


def test_vacuum_keeps_change_feed_readable(spark, tmp_path):
    """vacuum() deletes expired manifests, which name their commits'
    changelog directories; the change feed must read the same after."""
    tbl = _table(spark, tmp_path / "t", [(1, "a"), (2, "b")])
    tbl.merge(spark.createDataFrame([(3, "c")], SCHEMA), key="k")
    tbl.merge(spark.createDataFrame([(1, "A")], SCHEMA), key="k")

    def feed():
        return sorted(tuple(r) for r in tbl.read_changes(2, 3).collect())

    before = feed()
    assert len(before) == 3
    tbl.vacuum(retain_last=1)
    with pytest.raises(FileNotFoundError):
        tbl._read_manifest(2)
    assert feed() == before
    assert sorted(os.listdir(tmp_path / "t" / "_changes")) == [
        "v2", tbl._read_manifest(3)["changes"],
    ]


def test_upsert_or_duplicate_delta_keys_match_merge(spark, tmp_path):
    """upsert_or must equal ``merge(read() ∪ delta OR-aggregated by
    key)`` — snapshot AND changelog — even when the delta repeats keys
    (a repeated key used to emit one changelog row per delta row)."""
    schema = "key long, bits int"
    base = [(0, 1), (1, 2), (2, 4)]
    delta = spark.createDataFrame(
        [(1, 2), (1, 8), (2, 4), (2, 4), (5, 1), (5, 16), (6, 3)], schema
    )
    a = _table(spark, tmp_path / "a", base, schema)
    b = _table(spark, tmp_path / "b", base, schema)

    va = a.upsert_or(delta, key="key")
    vb = b.merge(
        b.read().unionByName(delta).groupBy("key")
        .agg(F.bit_or("bits").alias("bits")),
        key="key",
    )

    def snapshot(t):
        return sorted(tuple(r) for r in t.read().collect())

    def changes(t, v):
        return sorted(
            tuple(r) for r in t.read_changes(v, v).drop("_commit_version").collect()
        )

    assert snapshot(a) == snapshot(b) == [(0, 1), (1, 10), (2, 4), (5, 17), (6, 3)]
    assert changes(a, va) == changes(b, vb) == [
        (1, 2, "update_preimage"), (1, 10, "update_postimage"),
        (5, 17, "insert"), (6, 3, "insert"),
    ]


@pytest.mark.parametrize("method", ["merge", "upsert_or"])
def test_commit_rejects_mismatched_types(spark, tmp_path, method):
    """A delta whose column is wider than the table's (long into int)
    would be written as INT64 under a manifest that records int, and
    every later pinned read would fail: refuse it before writing."""
    tbl = _table(spark, tmp_path / "t", [(0, 1)], "key long, bits int")
    delta = spark.createDataFrame([(0, 2), (1, 4)], "key long, bits long")
    with pytest.raises(AssertionError, match="schemas must align"):
        getattr(tbl, method)(delta, key="key")
    assert tbl.latest_version() == 1
    assert sorted(tuple(r) for r in tbl.read().collect()) == [(0, 1)]


@pytest.mark.parametrize("fn", ["compact", "upsert_or"])
def test_maintenance_commits_carry_schema(spark, tmp_path, fn):
    from textract_farmdata_pipeline_spark.operators.merge import ParquetMergeTable

    schema = "key long, bits int"
    tbl = ParquetMergeTable(spark, str(tmp_path / "t"))
    tbl.create(spark.createDataFrame([(i, 1) for i in range(8)], schema).repartition(4))
    if fn == "compact":
        v = tbl.compact()
    else:
        v = tbl.upsert_or(spark.createDataFrame([(9, 1)], schema), key="key")
    assert v == 2
    assert tbl._read_manifest(2)["schema"] == tbl._read_manifest(1)["schema"]
    assert tbl.read().count() == 8 + (fn == "upsert_or")
