"""The Spark process of one benchmark run.

Started by ``run.py`` in a process session of its own.  It sets up the
session (timed as ``setup_s``), warms up, then either runs the timed
closed loop (untraced) or untraced and traced jobs plus the
per-layer breakdown (traced), and writes its raw measurements as JSON.
Peak memory is sampled by ``run.py`` from outside the session, so the
sampler's own CPU is not part of the session's.

    python -m perfbench.worker --workload W --inputs DIR --work DIR \
        --seconds S --trace 0|1 --t0 EPOCH --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time
import traceback


def _session_cpu(sid: int) -> tuple[float, float]:
    """Session CPU seconds, and the CPU this thread spent reading them."""
    from .procstat import session_cpu_s

    t0 = time.thread_time()
    cpu = session_cpu_s(sid)
    return cpu, time.thread_time() - t0


def run_untraced(wl, seconds: float, min_jobs: int, sid: int) -> dict:
    """Jobs back to back for ``seconds``, and at least ``min_jobs``. A
    job's ``cpu_s`` is the session's CPU over the job minus the CPU of
    the two /proc scans that measure it."""
    jobs = []
    begin = time.time()
    while len(jobs) < min_jobs or time.time() - begin < seconds:
        c0, scan0 = _session_cpu(sid)
        t0 = time.time()
        rec = {"ok": False}
        try:
            rec["rows"], rec["batch_s"] = wl.job()
            rec["wall_s"] = time.time() - t0
            c1, scan1 = _session_cpu(sid)
            rec["cpu_s"] = c1 - c0 - scan0 - scan1
            rec["ok"] = wl.check()
        except Exception:  # one failed job is counted, the loop goes on
            rec["error"] = traceback.format_exc()
        jobs.append(rec)
    return {"jobs": jobs}


def run_traced(wl, tracer, spark, event_log_dir: str) -> dict:
    """Layer breakdown, then the job untraced, traced and untraced
    again, each checked; the overhead is the traced job's wall time
    minus the mean of the untraced ones."""
    from .trace import attribute_jobs, read_event_log, span_counters

    counts = wl.layers(tracer)
    checks = [counts.pop("stage_chain_ok")] if "stage_chain_ok" in counts else []

    def untraced() -> float:
        t0 = time.time()
        wl.job()
        checks.append(wl.check())
        return time.time() - t0

    # untraced jobs on both sides of the traced one, so the JVM still
    # warming up between them biases neither side
    before = untraced()
    traced_s, job_counts = wl.traced_job(tracer)
    checks.append(wl.check())
    after = untraced()
    counts.update(job_counts)
    spark.stop()  # flushes and closes the event log
    jobs = read_event_log(event_log_dir)
    per_span = span_counters(tracer.spans, attribute_jobs(tracer.spans, jobs))
    return {
        "attempted": len(checks),
        "failed": checks.count(False),
        "overhead_s": traced_s - (before + after) / 2,
        "counts": counts,
        "spans": [dict(rec, **per_span[rec["span_id"]]) for rec in tracer.to_records()],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--event-log", default=None)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import textract_farmdata_pipeline_spark  # noqa: F401  (import counts toward set-up)
    from textract_farmdata_pipeline_spark.session import get_spark

    from .config import MIN_JOBS
    from .trace import Tracer

    s0 = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    s1 = time.time()
    spark.range(0, 4, 1, 4).count()  # the first job
    s2 = time.time()
    result = {"setup_s": s2 - args.t0}
    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        session = tracer.add("session", s0, s2)
        tracer.add("session.first_job", s1, s2, session.span_id)

    from .workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, args.inputs, args.work)
    w0 = time.time()
    wl.warm()
    result["warm_s"] = time.time() - w0
    if tracer is None:
        result.update(run_untraced(wl, args.seconds, MIN_JOBS[args.workload], os.getsid(0)))
        x0 = time.time()
        spark.stop()
        result["stop_s"] = time.time() - x0
    else:
        result.update(run_traced(wl, tracer, spark, args.event_log))
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
