"""Seeded input generators.  The same seed gives byte-identical files.

The program under test receives only these files, never the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import config

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
# Stream batch files get strictly increasing, fixed modification times so
# a file-stream source drains them oldest first, one per trigger.
STREAM_MTIME_BASE = 1_700_000_000
KEYS_PER_DOC = 2400  # fixtures/ocr_lines.py: doc_id = floor(k / 2400)


# -- census_batch ----------------------------------------------------------------
def census_keys(seed: int) -> np.ndarray:
    """Line keys ``k``; the fixture derives every line attribute from k."""
    rng = np.random.default_rng(seed)
    present = rng.random((config.CENSUS_DOCS, KEYS_PER_DOC)) < config.CENSUS_DENSITY
    docs, slots = np.nonzero(present)
    return (docs * KEYS_PER_DOC + slots).astype(np.int64)


def census_doc_name(doc_id: int) -> str:
    """The ``doc_id`` a document's blocks carry, and so the name of its
    ``doc_id=<name>`` output directory."""
    return f"doc-{doc_id:06d}"


def keys_connection(keys: np.ndarray):
    """DuckDB connection with a ``lineitem`` table whose distinct
    ``l_orderkey * 8 + l_linenumber`` are exactly ``keys`` — the input
    shape of the fixture SQL and of the registry's census oracles."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=1")
    li = pa.table({"l_orderkey": keys // 8, "l_linenumber": (keys % 8).astype(np.int32)})
    con.register("li_arrow", li)
    con.execute("CREATE TABLE lineitem AS SELECT * FROM li_arrow")
    con.unregister("li_arrow")
    return con


def write_census_blocks(con, out_dir: str) -> int:
    """One Textract Block JSON-lines file per document; returns the
    number of blocks written."""
    from textract_farmdata_pipeline_spark.fixtures.ocr_lines import OCR_FEATURES_CTE_BODY

    rows = con.execute(
        f"""
        SELECT doc_id, to_json({{
          'doc_id': 'doc-' || lpad(CAST(doc_id AS VARCHAR), 6, '0'),
          'BlockType': block_type, 'Text': text, 'Page': page,
          'Geometry': {{'BoundingBox': {{
            'Left': x_left, 'Top': top, 'Width': 0.1, 'Height': 0.012}}}}}})
        FROM ({OCR_FEATURES_CTE_BODY}) f
        ORDER BY k
        """
    ).fetchall()
    os.makedirs(out_dir, exist_ok=True)
    fh = None
    current = None
    try:
        for doc_id, js in rows:
            if doc_id != current:
                if fh is not None:
                    fh.close()
                fh = open(os.path.join(out_dir, f"{census_doc_name(doc_id)}.json"), "w")
                current = doc_id
            fh.write(js)
            fh.write("\n")
    finally:
        if fh is not None:
            fh.close()
    return len(rows)


# -- shared text helpers ---------------------------------------------------------
def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in STOPWORDS:
            words[w] = None
    return list(words)


def random_tokens(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    stop = rng.random(n) < 0.12
    words = rng.integers(0, len(vocab), n)
    stops = rng.integers(0, len(STOPWORDS), n)
    return [STOPWORDS[s] if is_stop else vocab[w] for is_stop, w, s in zip(stop, words, stops)]


def replace_tokens(rng: np.random.Generator, vocab: list[str], toks: list[str], k: int) -> list[str]:
    out = list(toks)
    for pos in rng.choice(len(out), size=k, replace=False):
        out[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def _write_docs(path: str, ids: list[int], texts: list[str], sources: list[str] | None = None) -> None:
    cols = {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    if sources is not None:
        cols["source"] = pa.array(sources, pa.string())
    pq.write_table(pa.table(cols), path)


# -- corpus_build ----------------------------------------------------------------
def corpus_documents(seed: int, n_docs: int) -> tuple[list[str], list[str]]:
    """Texts and sources of documents ``0..n_docs-1`` with planted exact
    duplicates, near-duplicates, unaligned excerpts, eval-set overlap
    (eval documents are ``doc_id % 97 == 0``) and low-quality texts."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, 4000)
    source_p = np.array([0.35, 0.25, 0.2, 0.12, 0.08])[: config.CORPUS_SOURCES]
    source_p /= source_p.sum()
    cuts = np.cumsum([config.CORPUS_LOW_QUALITY, config.CORPUS_EXACT_DUP, config.CORPUS_NEAR_DUP,
                      config.CORPUS_EXCERPT, config.CORPUS_EVAL_OVERLAP])
    toks: list[list[str]] = []
    sources: list[str] = []
    long_docs: list[int] = []  # earlier documents an excerpt can be cut from
    for i in range(n_docs):
        sources.append(f"src{int(rng.choice(len(source_p), p=source_p))}")
        # each document draws one kind; a kind that has no source document
        # yet (the first documents) falls back to a plain document
        kind = int(np.searchsorted(cuts, rng.random(), side="right"))
        if kind == 0:
            if rng.random() < 0.5:
                t = random_tokens(rng, vocab, int(rng.integers(8, 25)))
            else:
                t = random_tokens(rng, vocab, 2) * int(rng.integers(20, 40))
        elif kind == 1 and i:
            t = list(toks[int(rng.integers(0, i))])
        elif kind == 2 and i:
            t = replace_tokens(rng, vocab, toks[int(rng.integers(0, i))], 2)
        elif kind == 3 and long_docs:
            src = toks[long_docs[int(rng.integers(0, len(long_docs)))]]
            off = 3 + 10 * int(rng.integers(0, (len(src) - 43) // 10))
            t = src[off : off + 40]
        elif kind == 4 and i:
            src = toks[97 * int(rng.integers(0, (i - 1) // 97 + 1))]
            at = int(rng.integers(0, len(src) - 5))
            t = random_tokens(rng, vocab, int(rng.integers(40, 120)))
            ins = int(rng.integers(0, len(t)))
            t = t[:ins] + src[at : at + 6] + t[ins:]
        else:
            t = random_tokens(rng, vocab, int(rng.integers(40, 120)))
        if len(t) >= 80:
            long_docs.append(i)
        toks.append(t)
    return [" ".join(t) for t in toks], sources


def write_corpus(seed: int, out_dir: str) -> int:
    os.makedirs(out_dir, exist_ok=True)
    texts, sources = corpus_documents(seed, config.CORPUS_DOCS)
    _write_docs(os.path.join(out_dir, "documents.parquet"), list(range(len(texts))), texts, sources)
    return len(texts)


# -- ingest_stream ---------------------------------------------------------------
def stream_batches(seed: int, n_batches: int, batch_docs: int) -> list[list[tuple[int, str]]]:
    """``n_batches`` lists of ``(doc_id, text)`` with exact copies of
    earlier-batch documents, in-batch copies and one-token near
    duplicates; doc ids are unique and unordered across batches."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(rng, 2000)
    ids = rng.permutation(n_batches * batch_docs * 4)[: n_batches * batch_docs]
    batches: list[list[tuple[int, str]]] = []
    earlier: list[list[str]] = []  # token lists of all previous batches
    cuts = np.cumsum([config.STREAM_CROSS_DUP, config.STREAM_IN_BATCH_DUP, config.STREAM_NEAR_DUP])
    for b in range(n_batches):
        batch_toks: list[list[str]] = []
        for _ in range(batch_docs):
            u = rng.random()
            pool = earlier + batch_toks
            if u < cuts[0] and earlier:
                t = list(earlier[int(rng.integers(0, len(earlier)))])
            elif u < cuts[1] and batch_toks:
                t = list(batch_toks[int(rng.integers(0, len(batch_toks)))])
            elif u < cuts[2] and pool:
                t = replace_tokens(rng, vocab, pool[int(rng.integers(0, len(pool)))], 1)
            else:
                t = random_tokens(rng, vocab, int(rng.integers(20, 60)))
            batch_toks.append(t)
        start = b * batch_docs
        batches.append([(int(ids[start + k]), " ".join(t)) for k, t in enumerate(batch_toks)])
        earlier.extend(batch_toks)
    return batches


def write_stream_dir(batches: list[list[tuple[int, str]]], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for b, rows in enumerate(batches):
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        _write_docs(path, [r[0] for r in rows], [r[1] for r in rows])
        mtime = STREAM_MTIME_BASE + 60 * b
        os.utime(path, (mtime, mtime))


def write_stream(seed: int, out_dir: str) -> list[list[tuple[int, str]]]:
    batches = stream_batches(seed, config.STREAM_BATCHES, config.STREAM_BATCH_DOCS)
    write_stream_dir(batches, os.path.join(out_dir, "incoming"))
    write_stream_dir(batches[: config.STREAM_WARM_BATCHES], os.path.join(out_dir, "warm"))
    return batches
