"""Expected outputs, computed without the Spark engine.

* census_batch — the registry's DuckDB census oracle
  (``_RECORDS_FULL_ORACLE``) over the generated line keys;
* corpus_build — ``ORACLES["corpus_build_full"]`` in DuckDB over the
  generated documents;
* ingest_stream — first arrival per exact 3-shingle set in
  (batch, doc_id) order, in plain Python.

Results are compared through ``tools/check_correctness.py``'s
``frame_hash`` canonicalisation.
"""

from __future__ import annotations

import csv
import functools
import glob
import importlib.util
import json
import os

import pyarrow.parquet as pq

from . import config


@functools.cache
def _load_frame_hash():
    path = os.path.join(config.ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_hash


def frame_hash(columns: list[str], rows: list[tuple]) -> str:
    """``tools/check_correctness.py``'s order-insensitive hash, loaded on
    first use."""
    return _load_frame_hash()(columns, rows)


def _as_csv_cell(value) -> str:
    return "" if value is None else str(value)


# -- census_batch ----------------------------------------------------------------
_DOC_COLUMN = "perfbench_doc_id"


def _with_doc_column(sql: str) -> str:
    """The census oracle with the document id of each record appended as
    one more output column; its ``final`` relation still carries
    ``doc_id``, which the oracle's own projection drops."""
    head, sep, tail = sql.rstrip().rpartition("\nFROM final")
    if not sep or tail:
        raise ValueError("census oracle no longer ends in 'FROM final'")
    return f"{head},\n  doc_id AS {_DOC_COLUMN}{sep}"


def census_expected(con) -> dict:
    """Per document, the hash of the census records the DuckDB oracle
    derives from the generated line keys, rendered as CSV cells (NULL
    and '' both read back as ''). Documents with no record are left out,
    as the sink writes no directory for them."""
    from textract_farmdata_pipeline_spark.registry import _RECORDS_FULL_ORACLE

    from .gen import census_doc_name

    con.execute("SET threads=4")
    columns = [d[0] for d in con.execute(_RECORDS_FULL_ORACLE + " LIMIT 0").description]
    cur = con.execute(_with_doc_column(_RECORDS_FULL_ORACLE))
    if [d[0] for d in cur.description] != [*columns, _DOC_COLUMN]:
        raise ValueError("census oracle columns changed under the doc_id column")
    by_doc: dict[int, list[tuple]] = {}
    for *row, doc_id in cur.fetchall():
        by_doc.setdefault(doc_id, []).append(tuple(_as_csv_cell(v) for v in row))
    docs = {census_doc_name(d): {"records": len(rows), "hash": frame_hash(columns, rows)}
            for d, rows in sorted(by_doc.items())}
    return {"columns": columns, "docs": docs}


def read_census_csv(out_dir: str) -> tuple[list[str], dict[str, list[tuple]]]:
    """Header and rows of every ``doc_id=<name>`` directory under
    ``out_dir``, by document name (the partition column stays in the
    directory name, not the payload)."""
    columns: list[str] | None = None
    docs: dict[str, list[tuple]] = {}
    for d in sorted(glob.glob(os.path.join(out_dir, "doc_id=*"))):
        rows = docs.setdefault(os.path.basename(d)[len("doc_id="):], [])
        for path in sorted(glob.glob(os.path.join(d, "*.csv"))):
            with open(path, newline="") as fh:
                reader = csv.reader(fh)
                header = next(reader, None)
                if header is None:
                    continue
                if columns is None:
                    columns = header
                elif header != columns:
                    raise ValueError(f"{path}: header {header} != {columns}")
                rows.extend(tuple(r) for r in reader)
    return columns or [], docs


def census_matches(expected: dict, out_dir: str) -> bool:
    """The sink wrote exactly the expected documents, each holding
    exactly its own records."""
    columns, docs = read_census_csv(out_dir)
    want = expected["docs"]
    return columns == expected["columns"] and docs.keys() == want.keys() and all(
        frame_hash(columns, rows) == want[name]["hash"] for name, rows in docs.items()
    )


# -- corpus_build ----------------------------------------------------------------
def corpus_expected(documents_path: str) -> dict:
    import duckdb

    from textract_farmdata_pipeline_spark.registry import ORACLES, _force_materialized

    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
        # materializing the CTEs is a runtime hint only (same rows); the
        # inlined chain re-evaluates shared CTEs per reference, ~30x slower
        cur = con.execute(_force_materialized(ORACLES["corpus_build_full"]))
        columns = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return {"columns": columns, "records": len(rows), "hash": frame_hash(columns, rows)}


# -- ingest_stream ---------------------------------------------------------------
def shingle_set(text: str, n: int = 3) -> frozenset:
    """Distinct word n-grams of a single-spaced text; a text shorter than
    n tokens is its own single shingle."""
    toks = text.split(" ")
    return frozenset(" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1)))


def stream_expected(batches: list[list[tuple[int, str]]]) -> list[int]:
    """Admitted doc ids: the first arrival of each exact 3-shingle set,
    batches in order and ids ascending within a batch."""
    seen: set[frozenset] = set()
    admitted = []
    for rows in batches:
        for doc_id, text in sorted(rows):
            key = shingle_set(text)
            if key not in seen:
                seen.add(key)
                admitted.append(doc_id)
    return sorted(admitted)


def read_merge_table_ids(table_path: str) -> list[int]:
    """doc ids of the latest manifest of a ParquetMergeTable, read with
    pyarrow."""
    mdir = os.path.join(table_path, "_manifests")
    latest = max(int(f[1:-5]) for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json"))
    with open(os.path.join(mdir, f"v{latest}.json")) as fh:
        files = json.load(fh)["files"]
    ids: list[int] = []
    for f in files:
        ids.extend(pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist())
    return sorted(ids)
