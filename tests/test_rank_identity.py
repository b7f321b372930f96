"""The correctness gate of the north rule (BASELINE.json:14): engine top-k
docIDs AND scores rank-identical to the independent brute-force oracle on the
golden query set, for the AND path and the disjunctive path (block-max WAND,
which both mode="or" and mode="wand" run), and WAND == exhaustive scoring on
randomized queries (SURVEY.md §0.2, §5)."""

from __future__ import annotations

import numpy as np
import pytest

from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import golden_queries
from tests.oracle import oracle_search
from tests.test_wand_property import _or_topk


@pytest.fixture(scope="module")
def index_and_docs(spark, built_index):
    idx_dir, report, pdf = built_index
    index = Index(spark, idx_dir)
    # doc_id order == (conv_id, turn_idx) order in the fixture frame
    docs = list(enumerate(pdf["text"].tolist()))
    return index, docs


def _assert_match(got, exp, qterms, mode):
    assert [d for d, _ in got] == [d for d, _ in exp], (
        f"docID mismatch mode={mode} terms={qterms}: {got} vs {exp}"
    )
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], atol=1e-9, rtol=0,
        err_msg=f"score mismatch mode={mode} terms={qterms}",
    )


def test_golden_queries_and_path(index_and_docs):
    index, docs = index_and_docs
    n_nonempty = 0
    for q in golden_queries():
        got = index.search(q["terms"], k=q["k"], mode="and")
        exp = oracle_search(docs, q["terms"], k=q["k"], mode="and")
        _assert_match(got, exp, q["terms"], "and")
        n_nonempty += bool(exp)
    assert n_nonempty >= 30  # the query set actually exercises the index


def test_golden_queries_or_and_wand_paths(index_and_docs):
    """mode="or" and mode="wand" run the same WAND path; one call checks it."""
    index, docs = index_and_docs
    for q in golden_queries():
        exp = oracle_search(docs, q["terms"], k=q["k"], mode="or")
        got = index.search(q["terms"], k=q["k"], mode="or")
        _assert_match(got, exp, q["terms"], "or")


def test_wand_equals_exhaustive_randomized(index_and_docs):
    """A17 equivalence on randomized multi-term queries (SURVEY.md §5)."""
    index, docs = index_and_docs
    rng = np.random.default_rng(123)
    from localsearchengine_spark.sources.fixtures import BASE_VOCAB

    for _ in range(25):
        n = int(rng.integers(2, 6))
        terms = sorted(
            str(t) for t in rng.choice(np.asarray(BASE_VOCAB, dtype=object), n, replace=False)
        )
        post = index.fetch_postings(terms)
        plists = [post[t] for t in terms if t in post]  # sorted term order
        for k in (1, 5, 10, 50):
            got = index.search(terms, k=k, mode="wand")
            exp = _or_topk(plists, k, index.cfg) if plists else []
            assert got == exp, f"terms={terms} k={k}"


def test_per_turn_text_equality(spark, built_index, transcripts_small):
    """BASELINE.json:15 invariant: per-turn text equality under stable turn
    ordering — the doc store round-trips `text` exactly in source order."""
    idx_dir, _, _ = built_index
    path, pdf = transcripts_small
    docs = (
        spark.read.parquet(f"{idx_dir}/docs")
        .select("conv_id", "turn_idx", "text", "doc_id")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    src = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(docs) == len(src)
    assert docs["text"].tolist() == src["text"].tolist()
    assert docs["conv_id"].tolist() == src["conv_id"].tolist()
    # doc_id order equals (conv_id, turn_idx) order ⇒ stable turn ordering
    assert docs["doc_id"].tolist() == sorted(docs["doc_id"].tolist())


def test_salting_engaged(built_index):
    """The fixture's Zipf head must actually exercise A7 (hot threshold 300
    over 2,000 docs ⇒ 'the'/'spark'… are salted)."""
    _, report, _ = built_index
    assert report.hot_terms >= 1
    assert report.skew["partitions"] > 0
