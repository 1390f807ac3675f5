"""NumPy reference answers for the benchmark's output checks.

Independent of the program under test: BM25 is recomputed from the
generator's token arrays with the program's documented rule (k1=1.2,
b=0.75, tokens = maximal ``[a-z0-9]+`` runs after lower-casing, scores
rounded to 4 decimals before ranking, ties by doc id ascending), and the
dense side as the max passage dot product in float64.
"""

from __future__ import annotations

import math
import re

import numpy as np

from perfbench.gen import PASSAGES_PER_DOC, VOCAB, Corpus

K1 = 1.2
B = 0.75
DECIMALS = 4
TOKEN_RE = re.compile(r"[a-z0-9]+")
TERM_ID = {t: i for i, t in enumerate(VOCAB)}
#: one rounding unit of the engine's BM25 scores, plus float noise: a
#: different summation order may move a score across one rounding step
SCORE_TOL = 1.01 * 10.0**-DECIMALS
F32_EPS = float(np.finfo(np.float32).eps)


def query_terms(query: str) -> list[str]:
    """Distinct tokens of a query, in order of first appearance."""
    return list(dict.fromkeys(TOKEN_RE.findall(query.lower())))


class BM25:
    """Exhaustive BM25 over the visible documents of consecutive corpora
    (doc ids ``0 .. D-1`` without gaps)."""

    def __init__(self, corpora: list[Corpus], deleted=()):
        expect = 0
        for c in corpora:
            if c.first_id != expect:
                raise ValueError("corpora must cover consecutive doc ids from 0")
            expect += c.n
        self.dl = np.concatenate([np.diff(c.offsets) for c in corpora]).astype(np.float64)
        tok = np.concatenate([c.tokens for c in corpora])
        tok_doc = np.repeat(np.arange(expect), self.dl.astype(np.int64))
        live = np.ones(expect, dtype=bool)
        live[np.asarray(list(deleted), dtype=np.int64)] = False
        keep = live[tok_doc]
        tok, tok_doc = tok[keep], tok_doc[keep]
        self.n_docs = float(live.sum())
        # the engine divides the exact integer token total once
        self.avgdl = float(int(self.dl[live].sum())) / self.n_docs
        order = np.argsort(tok, kind="stable")
        self._tok_doc = tok_doc[order]
        self._starts = np.searchsorted(tok[order], np.arange(len(VOCAB) + 1))

    def scores(self, query: str) -> np.ndarray:
        """float64 BM25 score of every doc id (0 where no term matches)."""
        out = np.zeros(len(self.dl))
        for term in query_terms(query):
            t = TERM_ID.get(term)
            if t is None:
                continue
            docs, tf = np.unique(
                self._tok_doc[self._starts[t]:self._starts[t + 1]], return_counts=True
            )
            if not len(docs):
                continue
            df = float(len(docs))
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            tf = tf.astype(np.float64)
            norm = K1 * (1.0 - B + B * self.dl[docs] / self.avgdl)
            out[docs] += idf * (tf * (K1 + 1.0)) / (tf + norm)
        return out

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        """[(doc id, rounded score)] by (score desc, id asc)."""
        s = self.scores(query)
        hit = np.nonzero(s > 0)[0]
        r = np.round(s[hit], DECIMALS)
        order = np.lexsort((hit, -r))[:k]
        return [(int(hit[i]), float(r[i])) for i in order]


def same_ranking(got: list[tuple], want: list[tuple], tol: float) -> bool:
    """Equal (id, score) lists by rank, where ids may differ only between
    rows whose reference scores tie within ``tol``."""
    if len(got) != len(want):
        return False
    want_score = dict(want)
    for (gid, gs), (wid, ws) in zip(got, want):
        if abs(gs - ws) > tol:
            return False
        if gid != wid and abs(want_score.get(gid, -math.inf) - ws) > tol:
            return False
    return True


def rerank(
    bm25: BM25,
    query: str,
    q_vec: np.ndarray,
    passage_vecs: np.ndarray,
    alpha: float,
    depth: int,
    k: int,
) -> list[tuple[str, float]]:
    """Reference ``alpha*sparse + (1-alpha)*max-dot`` re-ranking of the BM25
    top-``depth``, cut to ``k`` by (score desc, id string asc). Both inputs
    pass through float32 first, as the program's rankings store scores."""
    cand = bm25.topk(query, depth)
    ids = np.array([d for d, _ in cand], dtype=np.int64)
    sparse = np.array([s for _, s in cand], dtype=np.float32).astype(np.float64)
    rows = ids[:, None] * PASSAGES_PER_DOC + np.arange(PASSAGES_PER_DOC)
    dense = (passage_vecs[rows].astype(np.float64) @ q_vec.astype(np.float64)).max(axis=1)
    dense = dense.astype(np.float32).astype(np.float64)
    score = (alpha * sparse + (1.0 - alpha) * dense).astype(np.float32)
    ranked = sorted(
        ((str(d), float(s)) for d, s in zip(ids.tolist(), score.tolist())),
        key=lambda x: (-x[1], x[0]),
    )
    return ranked[:k]


def rerank_tol(alpha: float, scale: float) -> float:
    """Tolerance for an interpolated float32 score of magnitude ``scale``."""
    return alpha * SCORE_TOL + 8 * F32_EPS * max(1.0, abs(scale))
