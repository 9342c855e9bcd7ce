"""Reference answers from the package's pure-Python oracle.

``lucene_msmarco_spark/oracle`` is the test suite's ground truth: plain
dicts and ``math.log`` over the generated texts, sharing only the string
analyzer with the engine. This module builds its index over a workload's
corpus and adds the two steps it does not have: the NQC idf and the RLM
query expansion (F5 in ``operators/feedback.py``), both written from the
reference formulas and not from the Spark code.
"""

from __future__ import annotations

import math

from lucene_msmarco_spark.functions.analysis import analyze_str
from lucene_msmarco_spark.oracle import pyfeedback, pyoracle
from lucene_msmarco_spark.oracle.pyoracle import PyIndex

from inputs import Corpus

#: The reference's retrieval settings (``retrieval/Constants.java``),
#: written out here rather than read from the package's config, so that a
#: changed default shows as a wrong answer.
K = 100
BM25_K1, BM25_B = 0.9, 0.4
LMDIR_MU = 1000.0
NUM_TOP_DOCS, NUM_EXPANSION_TERMS = 20, 20
FB_WEIGHT, MIXING_LAMBDA = 0.2, 0.9


def build(corpus: Corpus, n_rows: int) -> PyIndex:
    """The oracle index of rows [0, n_rows); a row's doc id is its number."""
    return pyoracle.build_pyindex((row, corpus.text(row)) for row in range(n_rows))


def query_terms(idx: PyIndex, text: str) -> set[str]:
    return set(analyze_str(text, idx.analyzer))


def avgidf_nqc(idx: PyIndex, text: str) -> float:
    """Mean over distinct analyzed query terms of ln(N / max(df, 1))."""
    return sum(math.log(idx.n_docs / max(idx.df(t), 1))
               for t in query_terms(idx, text)) / len(query_terms(idx, text))


def bm25_top(idx: PyIndex, text: str) -> tuple[list, dict[int, float]]:
    """The BM25 top-K of one query and every matching document's score."""
    scores = pyoracle.score_query(idx, text, model="bm25", k1=BM25_K1, b=BM25_B)
    return ranked(scores, K), scores


def rlm_post_qe(idx: PyIndex, text: str) -> dict:
    """``rlm_rerank(model="lmdir", post_qe=True)`` for one query: the
    first-stage LM-Dirichlet run, the RM-conditional weights over its top
    documents, the expanded query and the re-searched run.

    Expansion: each weight times ln(N / df), normalised by the sum over
    all feedback terms; the top ``NUM_EXPANSION_TERMS`` non-query terms
    (weight desc, term asc) get ``FB_WEIGHT`` x weight, and every
    distinct query term gets 1 - ``FB_WEIGHT``."""
    first_scores = pyoracle.score_query(idx, text, model="lmdir", mu=LMDIR_MU)
    first = ranked(first_scores, K)
    # the weights use the top documents only, so the rest of the run is
    # not handed to the oracle's per-document term scan
    top = [r for r in first if r[1] <= NUM_TOP_DOCS]
    wts = pyfeedback.rm_conditional_weights(idx, top, NUM_TOP_DOCS,
                                            lam=MIXING_LAMBDA)
    wt2 = {t: w * math.log(idx.n_docs / idx.df(t)) for t, w in wts.items()}
    z = sum(wt2.values())
    orig = query_terms(idx, text)
    cand = sorted(((t, w / z) for t, w in wt2.items() if t not in orig),
                  key=lambda tw: (-tw[1], tw[0]))[:NUM_EXPANSION_TERMS]
    expanded = {t: 1.0 - FB_WEIGHT for t in orig}
    expanded.update({t: FB_WEIGHT * w for t, w in cand})
    scores: dict[int, float] = {}
    for term, weight in expanded.items():
        plist = idx.postings.get(term, {})
        cf = sum(plist.values())
        for doc, tf in plist.items():
            w = pyoracle._lmdir(idx, tf, cf, idx.doclen[doc], LMDIR_MU)
            scores[doc] = scores.get(doc, 0.0) + weight * w
    return {"first": first, "first_scores": first_scores, "weights": wts,
            "run": ranked(scores, K), "scores": scores}


def ranked(scores: dict[int, float], k: int) -> list[tuple[int, int, float]]:
    """[(doc, rank, score)] by score desc, doc asc: the oracle's tie-break."""
    order = sorted(scores.items(), key=lambda it: (-it[1], it[0]))[:k]
    return [(d, r + 1, s) for r, (d, s) in enumerate(order)]


def run_matches(got: list[tuple[int, int, float]], want: list[tuple[int, int, float]],
                scores: dict[int, float], tol: float) -> bool:
    """One query's served run equals the oracle's: same length, ranks
    1..n, the oracle's score at every rank, and every served document
    carrying its own oracle score, each to within ``tol``. Documents tied
    at the cut may differ. ``got`` is [(doc, rank, score)] in rank order."""
    if len(got) != len(want):
        return False
    for i, (doc, rank, score) in enumerate(got):
        if rank != i + 1 or abs(score - want[i][2]) > tol:
            return False
        if doc not in scores or abs(scores[doc] - score) > tol:
            return False
    return True
