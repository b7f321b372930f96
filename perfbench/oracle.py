"""Independent BM25 oracle and corpus counts for the correctness gate.

Shares no code with the engine.  Semantics are those of ``tests/oracle.py``:
``[0-9a-z_]+`` tokens of the lower-cased text, Lucene idf
``ln(1 + (N - df + 0.5) / (df + 0.5))``, k1 = 1.2, b = 0.75, per-document
contributions summed in sorted term order starting from 0.0, ties broken by
doc_id ascending.  Documents are numbered by their position in the corpus,
which is the doc_id the engine assigns to the generated transcripts.  The
per-term arrays only index the corpus; every candidate document is scored in
full, so a result is exact whatever the engine prunes.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

TOKEN = re.compile(r"[0-9a-z_]+")
K1, B = 1.2, 0.75
ATOL = 1e-9


class Corpus:
    """Token statistics of a growing corpus; queries may ask about any prefix
    of it (an index that has not yet ingested the later micro-batches)."""

    def __init__(self):
        self.lengths: list[int] = []
        self.text_bytes: list[int] = []
        self._lists: dict[str, tuple[list[int], list[int]]] = {}
        self._arrays: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._cum_len: np.ndarray | None = None
        self._len_arr: np.ndarray | None = None

    def extend(self, texts) -> None:
        base = len(self.lengths)
        for i, text in enumerate(texts):
            text = text or ""
            toks = TOKEN.findall(text.lower())
            self.lengths.append(len(toks))
            self.text_bytes.append(len(text.encode("utf-8")))
            for term, tf in Counter(toks).items():
                ids, tfs = self._lists.setdefault(term, ([], []))
                ids.append(base + i)
                tfs.append(tf)
        self._arrays.clear()
        self._cum_len = self._len_arr = None

    def __len__(self) -> int:
        return len(self.lengths)

    def _postings(self, term: str, n: int) -> tuple[np.ndarray, np.ndarray]:
        arr = self._arrays.get(term)
        if arr is None:
            ids, tfs = self._lists.get(term, ([], []))
            arr = self._arrays[term] = (np.asarray(ids, dtype=np.int64),
                                        np.asarray(tfs, dtype=np.float64))
        cut = int(np.searchsorted(arr[0], n))
        return arr[0][:cut], arr[1][:cut]

    def total_tokens(self, n: int) -> int:
        if self._cum_len is None:
            self._cum_len = np.concatenate(([0], np.cumsum(self.lengths, dtype=np.int64)))
        return int(self._cum_len[n])

    def df(self, term: str, n: int) -> int:
        return len(self._postings(term, n)[0])

    def topk(self, terms, mode: str, k: int, n: int | None = None) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) over the first ``n`` documents.  ``mode`` is
        "and" (every term present) or "or" (any term present)."""
        n = len(self) if n is None else n
        avgdl = self.total_tokens(n) / n
        lists = [self._postings(t, n) for t in sorted(set(terms))]
        if mode == "and":
            if any(len(ids) == 0 for ids, _ in lists):
                return []
            cand = lists[0][0]
            for ids, _ in lists[1:]:
                cand = np.intersect1d(cand, ids, assume_unique=True)
        else:
            cand = np.unique(np.concatenate([ids for ids, _ in lists]))
        if len(cand) == 0:
            return []
        if self._len_arr is None:
            self._len_arr = np.asarray(self.lengths, dtype=np.float64)
        dl = self._len_arr[cand]
        score = np.zeros(len(cand), dtype=np.float64)
        for ids, tfs in lists:  # sorted term order
            df = len(ids)
            if df == 0:
                continue
            pos = np.minimum(np.searchsorted(ids, cand), df - 1)
            hit = ids[pos] == cand
            tf = np.where(hit, tfs[pos], 0.0)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tf_norm = tf / (tf + K1 * (1.0 - B + B * dl / avgdl))
            score += np.where(hit, idf * (K1 + 1.0) * tf_norm, 0.0)
        order = np.lexsort((cand, -score))[:k]
        return [(int(cand[i]), float(score[i])) for i in order]


def mismatch(got, want) -> str | None:
    """None when ``got`` is rank-identical to ``want`` with scores within
    ATOL, else a short reason."""
    got_ids = [int(d) for d, _ in got]
    want_ids = [d for d, _ in want]
    if got_ids != want_ids:
        return f"doc_ids {got_ids[:5]} != {want_ids[:5]}"
    worst = max((abs(float(g) - w) for (_, g), (_, w) in zip(got, want)), default=0.0)
    if not worst <= ATOL:
        return f"score off by {worst:.3g}"
    return None
