"""Property-based check of the exact-set (``threshold == 1.0``) form of
``incremental_minhash_dedup``.

At Jaccard 1.0 a link is shingle-set equality, so the whole admission
rule has a short pure-Python statement: a new doc's ``dup_of`` is the
smallest corpus doc with an equal non-empty shingle set, else the
smallest *earlier* new doc with an equal non-empty shingle set or, for
an empty set, equal text (NULL texts are one group).  The tests pin the
one-exchange Spark plan against that oracle on random corpus/batch
pairs — duplicate texts, blanks, NULLs and rotation-equal sets
(different texts, same 3-shingle set) — with the corpus keys computed
from text and read from a stored ``(doc_id, k)`` table.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")

SCHEMA = "doc_id long, text string"
CYCLE = ["x", "y", "z"]


def shingle_set(text: str | None, n: int) -> frozenset:
    """The distinct word n-grams of ``dedup.shingles``: split on single
    spaces (empty tokens kept), one window over the whole text when it
    has fewer than ``n`` tokens.  NULL follows Spark: at ``n == 1`` the
    split is NULL, so there is no set at all; at ``n > 1`` the window
    transform still runs once and yields a one-element set [NULL]."""
    if text is None:
        return frozenset() if n == 1 else frozenset([None])
    toks = text.split(" ")
    windows = range(max(len(toks) - n + 1, 1))
    return frozenset(" ".join(toks[i:i + n]) for i in windows)


def py_exact_dedup(corpus, batch, n: int) -> dict:
    """Reference ``doc_id -> dup_of`` for the batch rows."""
    corp_min: dict = {}
    for d, t in corpus:
        s = shingle_set(t, n)
        if s:
            corp_min[s] = min(corp_min.get(s, d), d)
    out = {}
    for d, t in batch:
        s = shingle_set(t, n)
        if s:
            earlier = [e for e, u in batch if e < d and shingle_set(u, n) == s]
        else:
            earlier = [e for e, u in batch if e < d and u == t]
        cands = [c for c in (corp_min.get(s) if s else None,
                             min(earlier, default=None)) if c is not None]
        out[d] = min(cands, default=None)
    return out


word_text = st.lists(st.sampled_from(["a", "b", "c", ""]), max_size=6).map(" ".join)
rotation = st.tuples(st.integers(0, 2), st.integers(2, 3)).map(
    lambda t: " ".join((CYCLE * 4)[t[0]:t[0] + 3 * t[1]])
)
text = st.one_of(st.none(), st.just(""), st.just("   "), word_text, rotation)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    shingle_n=st.sampled_from([1, 3]),
    hash_family=st.sampled_from(["xxhash64", "md5"]),
)
def test_exact_set_dedup_matches_oracle(spark, data, shingle_n, hash_family):
    from textract_farmdata_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        sorted_shingle_key,
    )

    corpus_texts = data.draw(st.lists(text, max_size=8), label="corpus")
    reuse = st.sampled_from(corpus_texts) if corpus_texts else text
    batch_texts = data.draw(
        st.lists(st.one_of(text, reuse), max_size=8), label="batch"
    )
    ids = data.draw(
        st.permutations(range(len(corpus_texts) + len(batch_texts))), label="ids"
    )
    corpus = list(zip(ids[:len(corpus_texts)], corpus_texts))
    batch = list(zip(ids[len(corpus_texts):], batch_texts))

    c_df = spark.createDataFrame(corpus, SCHEMA)
    b_df = spark.createDataFrame(batch, SCHEMA)
    keys = c_df.select(
        "doc_id",
        sorted_shingle_key(F.col("text"), shingle_n, hash_family).alias("k"),
    )
    want = py_exact_dedup(corpus, batch, shingle_n)
    for corpus_keys in (None, keys):
        ann = incremental_minhash_dedup(
            c_df, b_df, threshold=1.0, shingle_n=shingle_n,
            hash_family=hash_family, corpus_keys=corpus_keys,
        )
        assert ann.columns == ["doc_id", "dup_of"]
        rows = ann.collect()
        assert len(rows) == len(batch)
        assert {r["doc_id"]: r["dup_of"] for r in rows} == want


def test_exact_set_plan_is_one_exchange(spark):
    """The annotation's plan: the batch keys broadcast into a semi
    filter of the stored corpus keys, then ONE shuffle on ``k`` feeding
    one Window operator for both class minima."""
    from textract_farmdata_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        sorted_shingle_key,
    )

    corpus = spark.createDataFrame([(1, "a b c"), (2, "b c d")], SCHEMA)
    batch = spark.createDataFrame([(3, "a b c"), (4, "x y z"), (5, "x y z")], SCHEMA)
    keys = corpus.select("doc_id", sorted_shingle_key(F.col("text")).alias("k"))
    ann = incremental_minhash_dedup(corpus, batch, threshold=1.0, corpus_keys=keys)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert plan.count("Window [") == 1, plan
    assert sorted(tuple(r) for r in ann.collect()) == [(3, 1), (4, None), (5, 4)]
