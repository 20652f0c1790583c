"""Numpy references the benchmark checks the program's outputs against.

BM25 follows FIXTURES.md §1.3: ``idf = ln(max(1, N / max(1, df)))``,
``score = Σ idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with k1=1.0,
b=0.75, summed once per query-token occurrence, terms with df=0 skipped,
scores rounded to 6 dp and ties broken by doc_id (a string) ascending.
"""

from __future__ import annotations

import math
import re

import numpy as np

K1, B = 1.0, 0.75
# A returned score is the 6-dp rounding of a double that the engine may
# sum in another order: half a unit plus summation slack.
SCORE_TOL = 1e-6


class BM25Reference:
    """Scores queries over the live subset of the generated documents."""

    def __init__(self, inputs):
        self.tokens = inputs.tokens
        self.tok_doc = inputs.tok_doc
        self.lengths = inputs.lengths.astype(np.float64)
        self.doc_ids = [str(d) for d in inputs.doc_ids]
        self.term_id = inputs.term_id()
        self.live = np.zeros(len(inputs.doc_ids), dtype=bool)
        self.live[:inputs.n_base] = True
        self._tf: dict[int, np.ndarray] = {}

    def set_live(self, idx, alive: bool) -> None:
        self.live[np.asarray(idx, dtype=np.int64)] = alive

    def _term_tf(self, tid: int) -> np.ndarray:
        if tid not in self._tf:
            self._tf[tid] = np.bincount(self.tok_doc[self.tokens == tid],
                                        minlength=len(self.doc_ids))
        return self._tf[tid]

    def scores(self, query: str) -> dict[str, float]:
        """Unrounded BM25 score of every live document matching a term."""
        live = self.live
        n = int(live.sum())
        avgdl = float(self.lengths[live].mean())
        total = np.zeros(len(self.doc_ids))
        hit = np.zeros(len(self.doc_ids), dtype=bool)
        for term in re.findall(r"\w+", query.lower()):
            tid = self.term_id.get(term)
            if tid is None:
                continue
            tf = np.where(live, self._term_tf(tid), 0).astype(np.float64)
            df = int((tf > 0).sum())
            if df == 0:
                continue
            idf = math.log(max(1.0, n / max(1, df)))
            part = idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * self.lengths / avgdl))
            total += np.where(tf > 0, part, 0.0)
            hit |= tf > 0
        return {self.doc_ids[i]: float(total[i]) for i in np.flatnonzero(hit)}


def ranked(ref: dict[str, float], k: int = 10) -> list[tuple[str, float]]:
    """The reference top-k: scores rounded to 6 dp, ordered by (score
    desc, doc_id asc), as the engine ranks them."""
    rows = sorted(((d, round(s, 6)) for d, s in ref.items()),
                  key=lambda r: (-r[1], r[0]))
    return rows[:k]


def topk_ok(rows: list[tuple[str, float]], ref: dict[str, float],
            k: int = 10) -> bool:
    """True when ``rows`` (doc_id, score) is exactly the reference top-k:
    the same doc_ids in the same order, ties at the k-th place included,
    and every score within ``SCORE_TOL``."""
    want = ranked(ref, k)
    return ([d for d, _ in rows] == [d for d, _ in want]
            and all(abs(s - w) <= SCORE_TOL
                    for (_, s), (_, w) in zip(rows, want)))


def recall_at_k(rows: list[tuple[str, float]], ref: dict[str, float],
                k: int = 10) -> float:
    """Share of the reference top-k doc_ids that ``rows`` returned."""
    want = {d for d, _ in ranked(ref, k)}
    if not want:
        return 1.0
    return len(want & {d for d, _ in rows}) / len(want)


def planted_pairs(inputs, threshold: float = 0.9) -> list[tuple[str, str]]:
    """Planted (doc_a, doc_b) id pairs with token-set Jaccard >= threshold."""
    ids = inputs.doc_ids
    return [(str(ids[a]), str(ids[b])) for a, b, j in inputs.near_pairs
            if j >= threshold]


def distinct_texts(inputs) -> int:
    """Number of distinct texts in the base corpus (exact-dedup groups)."""
    starts = np.concatenate([[0], np.cumsum(inputs.lengths)])
    return len({inputs.tokens[starts[i]:starts[i + 1]].tobytes()
                for i in range(inputs.n_base)})
