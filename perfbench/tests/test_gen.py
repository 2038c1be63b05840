"""Seeded inputs are byte-identical per seed; the independent expected
results follow their stated rules."""

from __future__ import annotations

import os

from perfbench import gen, oracles


def _tree(root: str) -> dict[str, tuple[bytes, int | None]]:
    """Relative path → (bytes, mtime); the mtime only of stream batch
    files, whose order the file source takes from it."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            rel = os.path.relpath(path, root)
            with open(path, "rb") as fh:
                mtime = os.path.getmtime(path) if rel.startswith("stream") else None
                out[rel] = (fh.read(), mtime)
    return out


def _census(seed: int, out: str) -> int:
    con = gen.keys_connection(gen.census_keys(seed))
    try:
        return gen.write_census_blocks(con, out)
    finally:
        con.close()


def _all_inputs(seed: int, root) -> dict:
    _census(seed, str(root / "census"))
    gen.write_corpus(seed, str(root / "corpus"))
    gen.write_stream(seed, str(root / "stream"))
    return _tree(str(root))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _all_inputs(7, tmp_path / "a")
    b = _all_inputs(7, tmp_path / "b")
    assert a and a == b
    assert _all_inputs(8, tmp_path / "c") != a


def test_census_blocks_cover_the_line_taxonomy(tmp_path):
    import json

    n = _census(3, str(tmp_path))
    files = sorted(os.listdir(tmp_path))
    assert files[0] == "doc-000000.json" and all(f.endswith(".json") for f in files)
    blocks = [json.loads(line) for f in files for line in open(tmp_path / f)]
    assert len(blocks) == n
    assert {b["BlockType"] for b in blocks} == {"LINE", "WORD"}
    texts = [b["Text"] for b in blocks]
    assert any("Census 1860" in t for t in texts)  # header
    assert any(t.strip() == "" for t in texts)  # blank
    assert any(t.startswith("__ ") for t in texts)  # junk-prefixed
    assert any(t.startswith("see note") for t in texts)  # malformed
    assert all(set(b["Geometry"]["BoundingBox"]) == {"Left", "Top", "Width", "Height"}
               for b in blocks[:50])


def test_stream_batches_plant_cross_batch_duplicates():
    batches = gen.stream_batches(5, 4, 50)
    ids = [i for b in batches for i, _ in b]
    assert len(ids) == len(set(ids)) == 200
    first_texts = {t for _, t in batches[0]}
    assert any(t in first_texts for b in batches[1:] for _, t in b)


def test_stream_expected_keeps_first_arrival_per_shingle_set():
    batches = [
        [(9, "a b c d"), (4, "x y z w")],
        [(1, "a b c d"), (2, "p q r s"), (3, "p q r s"), (5, "a b c e")],
    ]
    # 1 repeats batch 0's doc 9 despite its smaller id; 3 repeats 2
    assert oracles.stream_expected(batches) == [2, 4, 5, 9]
    assert oracles.shingle_set("a b") == frozenset({"a b"})
    assert oracles.shingle_set("a b c a b c") == frozenset({"a b c", "b c a", "c a b"})


def test_read_census_csv_reads_every_document(tmp_path):
    for doc, rows in (("doc-1", ["x,1", 'y,""']), ("doc-2", ["z,3"])):
        d = tmp_path / f"doc_id={doc}"
        d.mkdir()
        (d / "part-0.csv").write_text("name,page\n" + "\n".join(rows) + "\n")
    columns, docs = oracles.read_census_csv(str(tmp_path))
    assert columns == ["name", "page"]
    assert {k: sorted(v) for k, v in docs.items()} == {
        "doc-1": [("x", "1"), ("y", "")], "doc-2": [("z", "3")]}


def _write_docs(root, docs: dict[str, list[str]]) -> None:
    for doc, rows in docs.items():
        d = root / f"doc_id={doc}"
        d.mkdir(parents=True)
        (d / "part-0.csv").write_text("name,page\n" + "".join(r + "\n" for r in rows))


def test_census_check_catches_a_record_in_the_wrong_document(tmp_path):
    columns = ["name", "page"]
    expected = {"columns": columns, "docs": {
        "doc-1": {"hash": oracles.frame_hash(columns, [("x", "1"), ("y", "2")])},
        "doc-2": {"hash": oracles.frame_hash(columns, [("z", "3")])}}}
    _write_docs(tmp_path / "right", {"doc-1": ["y,2", "x,1"], "doc-2": ["z,3"]})
    assert oracles.census_matches(expected, str(tmp_path / "right"))
    # the same records, pooled, but one of them in the other document
    _write_docs(tmp_path / "moved", {"doc-1": ["x,1"], "doc-2": ["z,3", "y,2"]})
    assert not oracles.census_matches(expected, str(tmp_path / "moved"))
    _write_docs(tmp_path / "extra", {"doc-1": ["y,2", "x,1"], "doc-2": ["z,3"], "doc-3": []})
    assert not oracles.census_matches(expected, str(tmp_path / "extra"))


def test_census_expected_splits_the_oracle_by_document():
    """Per-document hashes from the one oracle run equal those of the
    oracle run on each document's keys alone."""
    from textract_farmdata_pipeline_spark.registry import _RECORDS_FULL_ORACLE

    keys = gen.census_keys(4)
    keys = keys[keys // gen.KEYS_PER_DOC < 3]
    con = gen.keys_connection(keys)
    try:
        expected = oracles.census_expected(con)
    finally:
        con.close()
    assert list(expected["docs"]) == [gen.census_doc_name(d) for d in range(3)]
    for d in range(3):
        con = gen.keys_connection(keys[keys // gen.KEYS_PER_DOC == d])
        try:
            cur = con.execute(_RECORDS_FULL_ORACLE)
            columns = [c[0] for c in cur.description]
            rows = [tuple(oracles._as_csv_cell(v) for v in r) for r in cur.fetchall()]
        finally:
            con.close()
        assert columns == expected["columns"]
        assert expected["docs"][gen.census_doc_name(d)] == {
            "records": len(rows), "hash": oracles.frame_hash(columns, rows)}


def test_corpus_plants_its_stated_rates():
    from perfbench import config

    texts, _sources = gen.corpus_documents(3, 4000)
    seen: set[str] = set()
    exact = excerpts = 0
    for i, t in enumerate(texts):
        toks = t.split(" ")
        if t in seen:
            exact += 1
        elif len(toks) == 40 and any(t in earlier for earlier in texts[:i]):
            excerpts += 1
        seen.add(t)
    n = len(texts)
    # an exact copy of a document that is itself a copy still counts once
    assert abs(exact / n - config.CORPUS_EXACT_DUP) < 0.015
    assert abs(excerpts / n - config.CORPUS_EXCERPT) < 0.01


def test_census_oracle_doc_column_is_appended_to_the_last_projection():
    sql = "WITH final AS (SELECT 1 AS doc_id, 'x' AS name)\nSELECT name\nFROM final\n"
    assert oracles._with_doc_column(sql).endswith(
        f"SELECT name,\n  doc_id AS {oracles._DOC_COLUMN}\nFROM final")
    try:
        oracles._with_doc_column("SELECT name FROM records")
    except ValueError:
        pass
    else:
        raise AssertionError("an oracle not ending in 'FROM final' must be refused")


def test_input_cache_key_follows_the_package_sql(monkeypatch):
    from textract_farmdata_pipeline_spark import registry
    from textract_farmdata_pipeline_spark.fixtures import ocr_lines

    from perfbench import run

    before = run._inputs_version()
    monkeypatch.setattr(registry, "_RECORDS_FULL_ORACLE", registry._RECORDS_FULL_ORACLE + " ")
    changed_oracle = run._inputs_version()
    monkeypatch.setattr(ocr_lines, "OCR_FEATURES_CTE_BODY", ocr_lines.OCR_FEATURES_CTE_BODY + " ")
    assert len({before, changed_oracle, run._inputs_version()}) == 3
