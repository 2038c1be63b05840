"""Fixed settings of the benchmark: input sizes, planted rates and the
pinned Spark environment.

Everything a run depends on apart from ``--seed`` lives here, so two
runs of the same commit differ only in their seed.
"""

from __future__ import annotations

import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "textract_farmdata_pipeline_spark"
# Generated inputs, Spark scratch and traces; listed in .gitignore.
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")

# -- pinned environment ------------------------------------------------------
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"  # local mode: the driver heap hosts every executor thread
RUN_TIMEOUT_S = 170  # the whole run, set-up included, must end inside 180 s


def spark_env(work_dir: str, event_log_dir: str | None = None) -> dict[str, str]:
    """Environment of the Spark worker process.

    ``event_log_dir`` switches Spark's event log on from outside the
    program (traced runs only)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
            "SPARK_UI_ENABLED": "false",
            "PYSPARK_SUBMIT_ARGS": (
                f"{args} --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
            ),
            "PYTHONPATH": ROOT,
            "TMPDIR": tmp,
        }
    )
    for var in ("SPARK_MASTER", "SPARK_SQL_SHUFFLE_PARTITIONS"):
        env.pop(var, None)
    return env


# -- workload sizes ------------------------------------------------------------
# census_batch: Textract LINE/WORD blocks, one JSON-lines file per document.
# Key slots follow fixtures/ocr_lines.py (2400 per document, 480 per page);
# each slot is present with probability CENSUS_DENSITY.
CENSUS_DOCS = 48
CENSUS_DENSITY = 0.5
CENSUS_WARM_JOBS = 2

# corpus_build: documents parquet (doc_id, text, source).
CORPUS_DOCS = 1000
CORPUS_SOURCES = 5
# Planted shares of the corpus (each drawn per document).
CORPUS_EXACT_DUP = 0.08  # verbatim copy of an earlier document
CORPUS_NEAR_DUP = 0.05  # copy with two tokens replaced
CORPUS_EXCERPT = 0.04  # unaligned 40-token slice of a longer document
CORPUS_EVAL_OVERLAP = 0.03  # carries a 6-token snippet of an eval document
CORPUS_LOW_QUALITY = 0.05  # fails a Gopher rule (too short or repetitive)

# ingest_stream: pre-staged micro-batch files drained one per trigger.
STREAM_BATCHES = 5
STREAM_BATCH_DOCS = 80
STREAM_WARM_BATCHES = 2
STREAM_CROSS_DUP = 0.15  # exact copy of a document in an earlier batch
STREAM_IN_BATCH_DUP = 0.05  # exact copy of a document earlier in the batch
STREAM_NEAR_DUP = 0.05  # copy with one token replaced (a distinct shingle set)

WORKLOADS = ("census_batch", "corpus_build", "ingest_stream")
# Timed jobs per run at the least, beyond --seconds: census jobs are short
# enough that the median of three fits the run's time budget.
MIN_JOBS = {"census_batch": 3, "corpus_build": 1, "ingest_stream": 1}

# build_corpus's stages in order, as the traced run times them one by one.
CORPUS_STAGES = (
    "operators.text_analysis.gopher",
    "operators.corpus.span_dedup",
    "operators.dedup.exact",
    "operators.dedup.containment",
    "operators.corpus.decontam",
    "operators.corpus.mixture",
    "operators.corpus.shards",
)
