"""Exhaustive BM25 written from the spec, over the generator's own tokens.

Nothing here calls the engine: documents are the token lists the
generator made the text from, and the formula is the one the engine
documents (Okapi BM25, Lucene idf, k1=1.2, b=0.75):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm    = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score(d,q) = sum over distinct query terms t of idf(t) * tf_norm(d, t)

``dl`` is the document's token count and ``avgdl`` its mean over all N
documents. A result list is the k best matching documents, ordered by
score descending, then doc_id ascending.
"""

from __future__ import annotations

import re

import numpy as np

K1 = 1.2
B = 0.75
_TOKEN = re.compile(r"[a-z0-9]+")


def query_terms(q: str) -> list[str]:
    """Distinct terms of a query, by the tokenization spec (ASCII input)."""
    return sorted(set(_TOKEN.findall(q.lower())))


class Corpus:
    """Postings of a set of documents: ``doc_ids[i]`` has ``tokens[i]``."""

    def __init__(self, doc_ids, tokens: list[list[str]]):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.n_docs = len(self.doc_ids)
        self.dl = np.fromiter((len(t) for t in tokens), dtype=np.float64,
                              count=self.n_docs)
        self.avgdl = float(self.dl.mean()) if self.n_docs else 0.0
        term_of: dict[str, int] = {}
        flat = np.fromiter(
            (term_of.setdefault(t, len(term_of)) for doc in tokens for t in doc),
            dtype=np.int64,
        )
        row = np.repeat(np.arange(self.n_docs, dtype=np.int64), self.dl.astype(np.int64))
        key, tf = np.unique(flat * max(self.n_docs, 1) + row, return_counts=True)
        term, docrow = np.divmod(key, max(self.n_docs, 1))
        # key is sorted by term then row: one slice per term.
        bounds = np.searchsorted(term, np.arange(len(term_of) + 1))
        self.terms = term_of
        self._rows = docrow
        self._tf = tf.astype(np.float64)
        self._bounds = bounds

    def df(self) -> dict[str, int]:
        return {t: int(self._bounds[i + 1] - self._bounds[i])
                for t, i in self.terms.items()}

    def postings(self):
        """Per term, its sorted doc ids and term frequencies."""
        order = np.argsort(self.doc_ids, kind="stable")
        rank = np.empty_like(order)
        rank[order] = np.arange(len(order))
        for t, i in self.terms.items():
            rows = self._rows[self._bounds[i]:self._bounds[i + 1]]
            srt = np.argsort(rank[rows], kind="stable")
            yield t, self.doc_ids[rows[srt]], self._tf[self._bounds[i]:self._bounds[i + 1]][srt]

    def topk(self, q: str, k: int) -> tuple[np.ndarray, np.ndarray]:
        scores = np.zeros(self.n_docs, dtype=np.float64)
        hit = np.zeros(self.n_docs, dtype=bool)
        norm = K1 * (1.0 - B + B * self.dl / self.avgdl) if self.n_docs else None
        for t in query_terms(q):
            i = self.terms.get(t)
            if i is None:
                continue
            lo, hi = self._bounds[i], self._bounds[i + 1]
            rows, tf = self._rows[lo:hi], self._tf[lo:hi]
            df = hi - lo
            idf = np.log1p((self.n_docs - df + 0.5) / (df + 0.5))
            scores[rows] += idf * (tf / (tf + norm[rows]))
            hit[rows] = True
        rows = np.flatnonzero(hit)
        order = np.lexsort((self.doc_ids[rows], -scores[rows]))[:k]
        return self.doc_ids[rows[order]], scores[rows[order]]


def same_ranking(got_docs, got_scores, want_docs, want_scores, rel_tol: float) -> bool:
    """Rank-identical (same doc at every rank) with every score within
    ``rel_tol`` of the reference, relative to the reference's magnitude."""
    if len(got_docs) != len(want_docs):
        return False
    if not np.array_equal(np.asarray(got_docs, dtype=np.int64), want_docs):
        return False
    want = np.asarray(want_scores, dtype=np.float64)
    diff = np.abs(np.asarray(got_scores, dtype=np.float64) - want)
    return bool(np.all(diff <= rel_tol * np.maximum(np.abs(want), 1.0)))
