"""Property test: block-max WAND == exhaustive scoring on arbitrary
synthetic posting lists (hypothesis-generated, no Spark needed) — including
adversarial shapes the golden corpus never produces: single-posting terms,
all-identical scores (tie-break storms), k larger than the candidate set."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from localsearchengine_spark.config import BM25Config
from localsearchengine_spark.operators import codec
from localsearchengine_spark.operators.search import TermPostings, _topk
from localsearchengine_spark.operators.wand import wand_topk
from tests.test_codec import block_column

CFG = BM25Config()
RSJ = BM25Config(idf_variant="rsj")  # idf < 0 when df > N/2
AVGDL = 20.0


def _score_at(plists, ids: np.ndarray, cfg: BM25Config) -> np.ndarray:
    """Σ_t idf·(k1+1)·tf_norm for docs `ids`, summed in sorted term order.
    plists must already be in sorted term order."""
    scores = np.zeros(len(ids), dtype=np.float64)
    for p in plists:  # sorted term order — fixed summation order
        if len(p.doc_ids) == 0:
            continue
        pos = np.searchsorted(p.doc_ids, ids)
        pos_c = np.minimum(pos, len(p.doc_ids) - 1)
        hit = p.doc_ids[pos_c] == ids
        scores += np.where(hit, p.idf * (cfg.k1 + 1.0) * p.tf_norm[pos_c], 0.0)
    return scores


def _or_topk(plists, k: int, cfg: BM25Config) -> list[tuple[int, float]]:
    """Exhaustive disjunctive scoring: every doc of every list is scored —
    the reference WAND must match exactly."""
    ids = np.unique(np.concatenate([p.doc_ids for p in plists]))
    return _topk(ids, _score_at(plists, ids, cfg), k)


def _term(name: str, doc_ids: list[int], rng: np.random.Generator, n_docs: int,
          block_size: int, cfg: BM25Config = CFG) -> TermPostings:
    ids = np.asarray(sorted(set(doc_ids)), dtype=np.int64)
    tfs = rng.integers(1, 6, size=len(ids)).astype(np.int64)
    dls = rng.integers(5, 60, size=len(ids)).astype(np.int64)
    blocks = codec.encode_blocks(
        ids, tfs, dls, block_size=block_size, k1=cfg.k1, b=cfg.b, avgdl=AVGDL
    )
    return TermPostings(
        term=name,
        streams=codec.read_blocks(block_column(blocks), [0]),
        idf=cfg.idf(len(ids), n_docs),
        df=len(ids),
        avgdl=AVGDL,
        cfg=cfg,
    )


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    n_terms=st.integers(1, 5),
    k=st.integers(1, 25),
    block_size=st.sampled_from([2, 3, 8, 64]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wand_equals_exhaustive(data, n_terms, k, block_size, seed):
    rng = np.random.default_rng(seed)
    n_docs = 500
    plists = []
    for i in range(n_terms):
        ids = data.draw(
            st.lists(st.integers(0, n_docs - 1), min_size=1, max_size=120),
            label=f"term{i}_ids",
        )
        plists.append(_term(f"t{i:02d}", ids, rng, n_docs, block_size))
    plists.sort(key=lambda p: p.term)
    got = wand_topk(plists, k, CFG)
    # fresh postings objects for the reference path (no shared decode cache)
    ref_lists = []
    for p in plists:
        ref_lists.append(
            TermPostings(p.term, p._streams, p.idf, p.df, AVGDL, CFG)
        )
    exp = _or_topk(ref_lists, k, CFG)
    assert got == exp



@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    n_terms=st.integers(1, 4),
    k=st.integers(1, 15),
    block_size=st.sampled_from([2, 8, 64]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wand_equals_exhaustive_negative_idf(data, n_terms, k, block_size, seed):
    """RSJ idf goes negative for df > N/2 — WAND must clamp those bounds and
    still return the exact exhaustive top-k (mixes of hot negative-idf and
    rare positive-idf lists are the adversarial shape)."""
    rng = np.random.default_rng(seed)
    n_docs = 60
    plists = []
    for i in range(n_terms):
        ids = data.draw(
            st.lists(st.integers(0, n_docs - 1), min_size=1, max_size=55),
            label=f"term{i}_ids",
        )
        plists.append(_term(f"t{i:02d}", ids, rng, n_docs, block_size, RSJ))
    plists.sort(key=lambda p: p.term)
    got = wand_topk(plists, k, RSJ)
    ref_lists = [TermPostings(p.term, p._streams, p.idf, p.df, AVGDL, RSJ) for p in plists]
    exp = _or_topk(ref_lists, k, RSJ)
    assert got == exp
