"""Expected results for every checked response.

BM25 rankings come from the engine's pure-Python oracle
(``oracle/bm25_oracle.py:oracle_topk``) under the same ``BM25Params``
the engine uses. ``oracle_topk`` re-analyzes the whole corpus on every
call; ``Oracle`` builds that oracle index once and hands it back for
this corpus only, so a few hundred expectations cost seconds.

Phrase rankings have no oracle in the engine; ``Oracle.phrase_topk``
scores exact phrase frequency over the oracle index's statistics with
the Lucene PhraseWeight formula. Facet expectations are computed with
pandas from the generated corpus.
"""

from __future__ import annotations

import math

import numpy as np

from elasticsearch_spark.oracle import bm25_oracle
from elasticsearch_spark.search.bm25 import BM25Params, quantize_dl

REL_TOL = 1e-6


class Oracle:
    def __init__(self, docs: dict, analyzer: str, params: BM25Params):
        self.docs = docs
        self.analyzer = analyzer
        self.params = params
        self.index = bm25_oracle.build_oracle_index(docs, analyzer)
        self._norms: dict = {}

    def _quantize(self, dl):
        """quantize_dl, memoized per length: the oracle calls it once per
        posting with a one-element array."""
        key = int(dl[0])
        if key not in self._norms:
            self._norms[key] = quantize_dl(np.array([key]))
        return self._norms[key]

    def topk(self, text: str, k: int, operator: str = "or") -> list:
        """``oracle_topk`` over this corpus, reusing the oracle index and
        the memoized norm quantization (same functions, same results)."""
        build, quant = bm25_oracle.build_oracle_index, bm25_oracle.quantize_dl

        def cached(docs, analyzer="standard"):
            if docs is self.docs and analyzer == self.analyzer:
                return self.index
            return build(docs, analyzer)

        bm25_oracle.build_oracle_index = cached
        bm25_oracle.quantize_dl = self._quantize
        try:
            return bm25_oracle.oracle_topk(
                self.docs, text, k=k, analyzer=self.analyzer,
                operator=operator, params=self.params)
        finally:
            bm25_oracle.build_oracle_index = build
            bm25_oracle.quantize_dl = quant

    def phrase_topk(self, terms: list, k: int) -> list:
        """Exact (slop 0) phrase top-k: tf = phrase occurrences, idf =
        sum of the terms' idfs, BM25 length normalization."""
        from elasticsearch_spark.analysis import ANALYZERS

        tf_index, dl, avgdl, n_docs = self.index
        if any(t not in tf_index for t in terms):
            return []
        cands = set(tf_index[terms[0]])
        for t in terms[1:]:
            cands &= set(tf_index[t])
        idf_sum = 0.0
        for t in terms:
            df = len(tf_index[t])
            idf_sum += math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        k1, b = self.params.k1, self.params.b
        hits = []
        for doc in cands:
            toks, positions = ANALYZERS[self.analyzer](self.docs[doc])
            pos: dict = {}
            for t, p in zip(toks, positions):
                pos.setdefault(t, set()).add(p)
            tf = sum(1 for p in pos[terms[0]]
                     if all(p + i in pos[t] for i, t in enumerate(terms)))
            if not tf:
                continue
            d = dl[doc]
            if self.params.quantize_norms:
                d = int(self._quantize([d])[0])
            tfn = tf / (tf + k1 * (1.0 - b + b * d / avgdl))
            hits.append((doc, (k1 + 1.0) * idf_sum * tfn))
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:k]


def same_topk(got: list, want: list) -> bool:
    """Ranked (doc_id, score) lists agree: same length, scores equal
    position by position within REL_TOL, and every doc scoring clearly
    above the last kept score is returned. Docs tied with the last kept
    score may differ only by floating-point order."""
    if len(got) != len(want):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=REL_TOL, abs_tol=1e-12):
            return False
    if not want:
        return True
    cut = want[-1][1]
    above = {d for d, s in want
             if s > cut and not math.isclose(s, cut, rel_tol=REL_TOL)}
    return above <= {d for d, _ in got}


def facet_terms_expected(pdf, field: str, size: int) -> list:
    counts = pdf.groupby(field).size()
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(key, int(n)) for key, n in ranked[:size]]


def top_hits_expected(pdf, bucket: str, sort_col: str, size: int) -> set:
    out = set()
    for key, g in pdf.groupby(bucket):
        g = g.sort_values([sort_col, "doc_id"], ascending=[False, True])
        for rank, doc in enumerate(g["doc_id"].head(size), start=1):
            out.add((key, int(doc), rank))
    return out
