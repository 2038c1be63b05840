"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload census_batch --seed 1 --seconds 6 --trace 0

Generates the seeded inputs (cached per seed under ``.perfbench_cache``),
starts the Spark worker in a process session of its own, checks its
outputs, stops every process of that session, and prints each metric
with its unit.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import config  # noqa: E402
from perfbench.procstat import PeakPssSampler, session_pids  # noqa: E402
from perfbench.trace import last_quarter, median  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "batch_s_p50": "s",
    "late_batch_s_p50": "s",
}

CENSUS_LAYERS = ("sources.blocks", "operators.layout", "operators.assembly",
                 "operators.output", "sources.csv_sink")
SPAN_LAYERS = ("session", *CENSUS_LAYERS, "operators.corpus", *config.CORPUS_STAGES,
               "streaming.ingest", "operators.merge")
SPAN_METRICS = ("s", "self_s", "jobs", "stages", "tasks")
COUNT_UNITS = {"jobs": "count", "stages": "count", "tasks": "count"}


def _per_layer_units() -> dict[str, str]:
    units = {}
    for layer in SPAN_LAYERS:
        for m in SPAN_METRICS:
            units[f"{layer}.{m}"] = COUNT_UNITS.get(m, "s")
    for layer in ("sources.blocks", "operators.assembly", "sources.csv_sink",
                  "operators.corpus", "streaming.ingest", "operators.merge"):
        units[f"{layer}.executor_cpu_s"] = "s"
    for layer in ("operators.assembly", "operators.corpus"):
        units[f"{layer}.gc_s"] = "s"
    units.update({
        "session.first_job_s": "s",
        "sources.blocks.rows": "count",
        "sources.blocks.input_bytes": "bytes",
        "operators.layout.kept_ratio": "ratio",
        "operators.assembly.python_rows": "count",
        "operators.assembly.records": "count",
        "operators.assembly.shuffle_write_bytes": "bytes",
        "sources.csv_sink.files": "count",
        "sources.csv_sink.bytes": "bytes",
        "operators.corpus.construct_s": "s",
        "operators.corpus.execute_s": "s",
        "operators.corpus.construct_jobs": "count",
        "operators.corpus.kept_ratio": "ratio",
    })
    for stage in config.CORPUS_STAGES:
        units[f"{stage}.rows_in"] = "count"
        units[f"{stage}.rows_out"] = "count"
    units.update({
        "streaming.ingest.trigger_s": "s",
        "streaming.ingest.add_batch_s": "s",
        "streaming.ingest.planning_s": "s",
        "streaming.ingest.wal_commit_s": "s",
        "streaming.ingest.input_rows": "count",
        "streaming.ingest.admitted_ratio": "ratio",
        "operators.merge.commit_s": "s",
        "operators.merge.files": "count",
        "operators.merge.bytes": "bytes",
        "operators.merge.state_rows": "count",
        "operators.merge.files_rewritten": "count",
        "operators.merge.manifest_version": "count",
        "trace.overhead_s": "s",
    })
    return units


PER_LAYER_UNITS = _per_layer_units()


# -- inputs --------------------------------------------------------------------
# The code that defines the inputs and the expected results: the
# benchmark's generators and oracles, and the frame_hash canonicalisation.
INPUT_SOURCES = ("perfbench/config.py", "perfbench/gen.py", "perfbench/oracles.py",
                 "tools/check_correctness.py")


def _inputs_version() -> str:
    """Digest of INPUT_SOURCES and of the package SQL the inputs and the
    expected results are made with (as resolved at import), so inputs or
    expected results cached by older code are never reused."""
    from textract_farmdata_pipeline_spark.fixtures.ocr_lines import OCR_FEATURES_CTE_BODY
    from textract_farmdata_pipeline_spark.registry import (
        _RECORDS_FULL_ORACLE,
        ORACLES,
        _force_materialized,
    )

    digest = hashlib.sha256()
    for rel in INPUT_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            digest.update(fh.read())
    for sql in (OCR_FEATURES_CTE_BODY, _RECORDS_FULL_ORACLE,
                _force_materialized(ORACLES["corpus_build_full"])):
        digest.update(sql.encode())
    return digest.hexdigest()[:12]


def ensure_inputs(workload: str, seed: int) -> str:
    """Generate (once per seed) the workload's input files and expected
    outputs; returns their directory."""
    from perfbench import gen, oracles

    final = os.path.join(config.CACHE_DIR, "inputs", f"{workload}-s{seed}-{_inputs_version()}")
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "census_batch":
        con = gen.keys_connection(gen.census_keys(seed))
        try:
            blocks = gen.write_census_blocks(con, os.path.join(tmp, "blocks"))
            expected = dict(oracles.census_expected(con), blocks=blocks)
        finally:
            con.close()
    elif workload == "corpus_build":
        docs = gen.write_corpus(seed, tmp)
        expected = dict(oracles.corpus_expected(os.path.join(tmp, "documents.parquet")), docs=docs)
    else:
        batches = gen.write_stream(seed, tmp)
        expected = {"docs": sum(len(b) for b in batches),
                    "admitted": oracles.stream_expected(batches)}
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


# -- the worker process ------------------------------------------------------------
def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Terminate every process of session ``sid`` and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while session_pids(sid) and time.time() < deadline:
            time.sleep(0.05)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def run_worker(args, inputs: str, work: str, deadline: float) -> dict | None:
    out = os.path.join(work, "result.json")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--inputs", inputs, "--work", work, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out]
    if event_log:
        cmd += ["--event-log", event_log]
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=ROOT, stdout=log, stderr=log,
                                env=config.spark_env(work, event_log), start_new_session=True)
        try:
            # the worker leads its session, so the session id is its pid;
            # the sampler runs here, outside the session whose CPU is measured
            with PeakPssSampler(proc.pid) as mem:
                rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_session(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        reason = "timed out" if rc is None else f"exited with {rc}"
        print(f"worker {reason}; log tail:\n{tail}", file=sys.stderr)
        return None
    with open(out) as fh:
        return dict(json.load(fh), peak_rss_bytes=mem.peak_bytes)


# -- metrics -------------------------------------------------------------------
def end_to_end(workload: str, res: dict) -> tuple[int, int, dict]:
    jobs = res["jobs"]
    done = [j for j in jobs if "wall_s" in j]
    if not done:
        raise RuntimeError("no job completed")
    walls = [j["wall_s"] for j in done]
    if workload == "ingest_stream":
        batches = [s for j in done for s in j["batch_s"]]
        late = [s for j in done for s in last_quarter(j["batch_s"])]
    else:  # a batch workload's batch is one whole job
        batches, late = walls, last_quarter(walls)
    metrics = {
        "setup_s": res["setup_s"],
        "rows_per_s": median(j["rows"] / j["wall_s"] for j in done),
        "cpu_s": median(j["cpu_s"] for j in done),
        "peak_rss_mb": res["peak_rss_bytes"] / 2**20,
        "batch_s_p50": median(batches),
        "late_batch_s_p50": median(late),
    }
    failed = sum(1 for j in jobs if not j["ok"])
    return len(jobs), failed, {k: (v, END_TO_END_UNITS[k]) for k, v in metrics.items()}


def per_layer(res: dict) -> tuple[int, int, dict]:
    """Per-layer metrics from the worker's spans and counts; layers the
    workload does not run report 0."""
    by_name: dict[str, list[dict]] = {}
    for sp in res["spans"]:
        by_name.setdefault(sp["name"], []).append(sp)

    def total(name: str, key: str) -> float:
        spans = [sp[key] for sp in by_name.get(name, [])]
        # repeated census prefixes report their median, parts of one
        # job (micro-batches, commits) their sum
        return median(spans) if name in CENSUS_LAYERS and spans else sum(spans)

    values: dict[str, float] = {}
    keys = (*SPAN_METRICS, "executor_cpu_s", "gc_s", "shuffle_write_bytes", "input_bytes")
    for layer in SPAN_LAYERS:
        for key in keys:
            values[f"{layer}.{key}"] = total(layer, key)
    if "sources.blocks" in by_name:
        # census layers are prefixes of one chain: report each as the
        # difference from the previous prefix (its marginal share)
        for prev, layer in zip(CENSUS_LAYERS, CENSUS_LAYERS[1:]):
            for key in keys:
                values[f"{layer}.{key}"] = total(layer, key) - total(prev, key)
    values["session.first_job_s"] = total("session.first_job", "s")
    values["operators.corpus.construct_jobs"] = total("operators.corpus.construct", "jobs")
    values["trace.overhead_s"] = res["overhead_s"]
    values.update(res["counts"])
    metrics = {k: (values.get(k, 0), unit) for k, unit in PER_LAYER_UNITS.items()}
    return res["attempted"], res["failed"], metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=config.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.time() + config.RUN_TIMEOUT_S
    # a terminated run still unwinds, so the worker session gets stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    missing = [p for p in (config.PACKAGE, os.path.join("tools", "check_correctness.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    g0 = time.time()
    inputs = ensure_inputs(args.workload, args.seed)
    inputs_s = time.time() - g0
    work = os.path.join(config.CACHE_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_worker(args, inputs, work, deadline)
        if res is None:
            return 1
        if args.trace:
            attempted, failed, metrics = per_layer(res)
            trace_dir = os.path.join(config.CACHE_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{int(time.time())}.json")
            with open(trace_path, "w") as fh:
                json.dump({"workload": args.workload, "spans": res["spans"],
                           "counts": res["counts"], "overhead_s": res["overhead_s"]}, fh, indent=1)
            print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        else:
            attempted, failed, metrics = end_to_end(args.workload, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={attempted} failed={failed} failed_ratio={failed / attempted:.4f}")
    if not args.trace:
        walls = " ".join(f"{j['wall_s']:.3f}" for j in res["jobs"] if "wall_s" in j)
        print(f"  inputs {inputs_s:.1f} s, set-up {res['setup_s']:.1f} s, "
              f"warm-up {res['warm_s']:.1f} s, session stop {res['stop_s']:.1f} s; "
              f"job wall times (s): {walls}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:<44} {value:>16.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
