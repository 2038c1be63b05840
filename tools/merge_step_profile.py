#!/usr/bin/env python
"""Step-level timing inside ParquetMergeTable.merge for one replay query.

Replaces merge() with an instrumented copy (identical logic) that times:
keys-semi-join collect (which also materializes the batch's persisted
annotation plan), snapshot write, changelog write, manifest IO.

Usage: python tools/merge_step_profile.py <query> [--sf DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import collections
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

STEPS: dict[str, list[float]] = collections.defaultdict(list)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from textract_farmdata_pipeline_spark.operators import merge as mm
    from textract_farmdata_pipeline_spark.registry import QUERIES
    from textract_farmdata_pipeline_spark.session import get_spark

    def timed_merge(self, source, key, delete_condition=None):
        t = time.perf_counter

        t0 = t()
        version = self.latest_version()
        manifest = self._read_manifest(version)
        old_files = manifest["files"]
        target = self._scan(old_files, manifest.get("schema")).withColumn(
            "_file", F.col("_metadata.file_path")
        )
        touched_uris = [
            r["_file"]
            for r in target.join(F.broadcast(source.select(key)), key, "left_semi")
            .select("_file")
            .distinct()
            .collect()
        ]
        STEPS["collect_touched"].append(t() - t0)
        from urllib.parse import urlparse

        touched_paths = {urlparse(u).path for u in touched_uris}
        kept_files = [
            f for f in old_files if os.path.abspath(f) not in touched_paths
        ]
        touched_target = target.filter(
            F.col("_file").isin(touched_uris)
        ).drop("_file")
        snapshot_part, changelog = mm.merge_changes(
            touched_target, source, key, delete_condition=delete_condition
        )
        t1 = t()
        new_files = self._new_data_files(snapshot_part)
        STEPS["snapshot_write"].append(t() - t1)
        t2 = t()
        changes = self._new_changes_name(version + 1)
        changelog.write.mode("overwrite").parquet(
            os.path.join(self.path, "_changes", changes)
        )
        STEPS["changelog_write"].append(t() - t2)
        self._write_manifest(
            version + 1, kept_files + new_files, manifest.get("schema"), changes
        )
        STEPS["n_touched"].append(len(touched_uris))
        return version + 1

    mm.ParquetMergeTable.merge = timed_merge

    spark = get_spark("merge-step-profile")
    spark.sparkContext.setLogLevel("ERROR")
    fn = QUERIES[args.query]
    for run in range(args.runs):
        for v in STEPS.values():
            v.clear()
        t0 = time.perf_counter()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        parts = {k: [round(x, 2) for x in v] for k, v in sorted(STEPS.items())}
        print(f"@@run {run}: total {dt:.2f}s  steps {parts}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
