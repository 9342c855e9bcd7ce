"""``experiment``: the reference's research loop over the in-memory
row-level index, at the serving corpus size.

One client, closed loop. Each op is one research run over a known-item
query batch: ``rlm_rerank(model="lmdir", post_qe=True)`` (retrieve, RM
feedback over the top documents, expanded re-search), the run
materialised once, then ``qpp_experiment(..., run=run, predictor="nqc")``
(per-query AP / nDCG / recall against the qrels, NQC, and the rank
correlations between them). It exercises join + aggregate + window
top-k, the feedback operators, eval, QPP and correlation, and never
decodes a postings blob, so a change to the compressed serving path
should leave it flat.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

import inputs
import oracle
from serve import N_TURNS

QUERIES = 16
WARMUP_OPS = 1
QPP_K = 50
KEYS = ["conv_id", "turn_idx"]


def make_inputs(seed: int, work: str) -> dict:
    corpus = inputs.Corpus(seed)
    rng = np.random.default_rng([seed, 3])
    d = os.path.join(work, "in")
    ins = {
        "corpus": os.path.join(d, "corpus"),
        "queries": os.path.join(d, "queries.tsv"),
        "qrels": os.path.join(d, "qrels.txt"),
        "items": corpus.known_items(rng, 0, N_TURNS, QUERIES, "e"),
    }
    inputs.write_parquet(corpus.table(0, N_TURNS), ins["corpus"])
    inputs.write_queries(ins["items"], ins["queries"])
    inputs.write_qrels(ins["items"], ins["qrels"])
    ins["digest"] = inputs.digest([d])
    return ins


def expected_answers(seed: int, ins: dict) -> dict:
    """Every value an op must return, from the package's pure-Python
    oracle over the generated texts: per query the first-stage run, the
    RM weights and the final run, then eval, NQC and correlations."""
    ref = oracle.build(inputs.Corpus(seed), N_TURNS)
    rlm = {q: oracle.rlm_post_qe(ref, text) for q, text, _row in ins["items"]}
    idf = {q: oracle.avgidf_nqc(ref, text) for q, text, _row in ins["items"]}
    exp = expected_values(rlm, idf, ins)
    exp["rlm"] = rlm
    return exp


def build(spark, tr, path: str):
    from lucene_msmarco_spark.operators.index import assign_doc_ids, build_index
    from lucene_msmarco_spark.sources.table_format import read_transcripts

    with tr.span("build.assign"):
        docs = assign_doc_ids(read_transcripts(spark, path), KEYS)
    with tr.span("build.index"):
        return build_index(docs, cache=True)


def _traced_rlm(tr, index, queries, cfg):
    """``rlm_rerank(model="lmdir", post_qe=True)`` called one layer at a
    time, each output materialised inside its span. With ``post_qe`` the
    KL rerank is planned but never run, so it is not called here. This
    follows ``rlm_rerank``'s body by hand: the oracle checks its answers,
    not that it still does the same work as ``rlm_rerank``."""
    from lucene_msmarco_spark.operators.feedback import (
        TopDocsTermStats,
        rlm_expand_query,
        rm_conditional_weights,
        top_docs_term_stats,
    )
    from lucene_msmarco_spark.operators.retrieval import compile_queries, search

    with tr.span("search"):
        first, _ = tr.materialize(search(index, queries, model="lmdir", cfg=cfg))
    with tr.span("compile"):
        qt, n_terms = tr.materialize(compile_queries(queries, index.analyzer))
    with tr.span("feedback.stats"):
        s = top_docs_term_stats(index, first, cfg.feedback.num_top_docs)
        stats = TopDocsTermStats(*(tr.materialize(f)[0] for f in
                                   (s.doc_vecs, s.term_stats, s.sums)),
                                 s.num_top_docs)
    with tr.span("feedback.weights"):
        wts, _ = tr.materialize(rm_conditional_weights(stats, cfg.feedback))
    with tr.span("feedback.expand"):
        expanded, n_expanded = tr.materialize(
            rlm_expand_query(index, stats, wts, qt, cfg.feedback))
    with tr.span("feedback.expanded_search"):
        run, _ = tr.materialize(search(index, None, model="lmdir", cfg=cfg,
                                       precompiled_terms=expanded))
    counts = {"terms_per_query": n_terms / QUERIES,
              "expansion_terms": (n_expanded - n_terms) / QUERIES}
    return run, counts, {"first": first, "weights": wts}


def research_op(spark, tr, index, ins):
    from pyspark.sql import functions as F

    from lucene_msmarco_spark.config import EngineConfig
    from lucene_msmarco_spark.operators.experiments import qpp_experiment
    from lucene_msmarco_spark.operators.feedback import rlm_rerank
    from lucene_msmarco_spark.sources.readers import read_qrels, read_queries_tsv

    cfg = EngineConfig()
    counts, layers = None, {}
    with tr.span("research"):
        queries = read_queries_tsv(spark, ins["queries"])
        qrels = read_qrels(spark, ins["qrels"]).withColumn(
            "doc_id", F.col("doc_id").cast("long"))
        if tr.enabled:
            run, counts, layers = _traced_rlm(tr, index, queries, cfg)
        else:
            run = rlm_rerank(index, queries, model="lmdir", cfg=cfg,
                             post_qe=True).persist()
            run.count()
        with tr.span("qpp_experiment"):
            res = qpp_experiment(index, queries, qrels, model="lmdir",
                                 predictor="nqc", qpp_k=QPP_K, cfg=cfg, run=run)
            per_query = res["metrics"].toPandas()
    return run, res, per_query, counts, layers


# ---- expected eval, NQC and correlations ---------------------------------

def _pearson(x: np.ndarray, y: np.ndarray) -> float:
    dx, dy = x - x.mean(), y - y.mean()
    den = math.sqrt(float((dx * dx).sum()) * float((dy * dy).sum()))
    return float((dx * dy).sum()) / den if den else float("nan")


def _avg_rank(x: np.ndarray) -> np.ndarray:
    import pandas as pd

    return pd.Series(x).rank(method="average").to_numpy()


def _kendall_b(x: np.ndarray, y: np.ndarray) -> float:
    conc = disc = tx = ty = 0
    n = len(x)
    for i in range(n):
        for j in range(i + 1, n):
            a, b = np.sign(x[i] - x[j]), np.sign(y[i] - y[j])
            tx += a == 0
            ty += b == 0
            conc += a * b > 0
            disc += a * b < 0
    n0 = n * (n - 1) / 2
    den = math.sqrt((n0 - tx) * (n0 - ty))
    return (conc - disc) / den if den else float("nan")


def _sare(gt: np.ndarray, pred: np.ndarray) -> float:
    pos = []
    for v in (gt, pred):
        p = np.empty(len(v), dtype=np.int64)
        p[np.argsort(v, kind="stable")] = np.arange(len(v))
        pos.append(p)
    return float(np.abs(pos[0] - pos[1]).mean() / len(gt))


def _close(a: float, b: float, tol: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= tol


def expected_values(rlm: dict, idf: dict, ins: dict) -> dict:
    """Eval, NQC and correlation values of the oracle's final runs. One
    relevant passage per query (grade 2, the binary threshold): AP =
    1/rank, nDCG = 1/log2(1 + rank) and recall 1 when the target is
    retrieved, else all 0."""
    target = {qid: row for qid, _t, row in ins["items"]}
    qids = sorted(rlm)
    per_query = {}
    for qid in qids:
        ranks = [r for doc, r, _s in rlm[qid]["run"] if doc == target[qid]]
        r = ranks[0] if ranks else None
        top = np.array([s for _d, rank, s in rlm[qid]["run"] if rank <= QPP_K])
        per_query[qid] = {
            "ap": 1.0 / r if r else 0.0,
            "ndcg": 1.0 / math.log2(1 + r) if r else 0.0,
            "recall": 1.0 if r else 0.0,
            "nqc": float(top.var()) * idf[qid],
        }
    gt = np.array([per_query[q]["ap"] for q in qids])
    pred = np.array([per_query[q]["nqc"] for q in qids])
    corr = {}
    if len(qids) > 1:
        corr = {"kendall": _kendall_b(gt, pred), "pearson": _pearson(gt, pred),
                "spearman": _pearson(_avg_rank(gt), _avg_rank(pred)),
                "sare": _sare(gt, pred)}
    return {"per_query": per_query, "correlations": corr, "qids": qids,
            "map": float(gt.mean()),
            "ndcg": float(np.mean([per_query[q]["ndcg"] for q in qids])),
            "recall": float(np.mean([per_query[q]["recall"] for q in qids]))}


def matches_expected(res, per_query_pdf, exp, tol: float = 1e-9) -> bool:
    got = {r.qid: r for r in per_query_pdf.itertuples()}
    if sorted(got) != exp["qids"] or list(res["qids"]) != exp["qids"]:
        return False
    for q, e in exp["per_query"].items():
        for col in ("ap", "ndcg", "recall"):
            if not _close(float(getattr(got[q], col)), e[col], tol):
                return False
    pred = dict(zip(res["qids"], res["pred"]))
    if not all(_close(float(pred[q]), exp["per_query"][q]["nqc"],
                      tol * max(1.0, abs(exp["per_query"][q]["nqc"])))
               for q in exp["qids"]):
        return False
    return all(_close(float(res["correlations"].get(k, float("nan"))), v, tol)
               for k, v in exp["correlations"].items())


def _by_qid(pdf) -> dict[str, list[tuple[int, int, float]]]:
    out: dict[str, list[tuple[int, int, float]]] = {}
    for qid, doc, rank, score in pdf.sort_values(["qid", "rank"]).itertuples(index=False):
        out.setdefault(qid, []).append((int(doc), int(rank), float(score)))
    return out


def runs_match(pdf, exp: dict, run_key: str, scores_key: str,
               tol: float = 1e-8) -> bool:
    """Every query's run equals the oracle's (oracle.run_matches), and no
    query is missing or extra."""
    got = _by_qid(pdf[["qid", "doc_id", "rank", "score"]])
    rlm = exp["rlm"]
    return sorted(got) == exp["qids"] and all(
        oracle.run_matches(got[q], rlm[q][run_key], rlm[q][scores_key], tol)
        for q in exp["qids"])


def weights_match(pdf, exp: dict, tol: float = 1e-9) -> bool:
    """The RM-conditional weights equal the oracle's, term for term."""
    got: dict[str, dict[str, float]] = {}
    for qid, term, wt in pdf[["qid", "term", "wt"]].itertuples(index=False):
        got.setdefault(qid, {})[term] = float(wt)
    for q in exp["qids"]:
        want = exp["rlm"][q]["weights"]
        g = got.get(q, {})
        if set(g) != set(want) or any(
                abs(g[t] - w) > tol * max(1.0, abs(w)) for t, w in want.items()):
            return False
    return sorted(got) == exp["qids"]


def run(spark, tr, seed: int, seconds: float, work: str, session_s: float):
    ins = make_inputs(seed, work)
    # one build, as in serve: a run's time budget has no room for more
    tr.group = "setup-0"
    t0 = time.perf_counter()
    index = build(spark, tr, ins["corpus"])
    build_s = time.perf_counter() - t0

    n_op = 0
    answers: list[tuple] = []
    ops: list[tuple[str, float, bool]] = []
    counts = {}

    def one_op(timed: bool) -> None:
        nonlocal n_op
        tr.group = f"cycle-{n_op}"
        t0 = time.perf_counter()
        run_df, res, per_query, c, layers = research_op(spark, tr, index, ins)
        dt = time.perf_counter() - t0
        n_op += 1
        if c:
            counts.update(c)
        # the answers are checked after the timed loop
        answers.append((run_df.toPandas(), res, per_query,
                        {k: df.toPandas() for k, df in layers.items()}))
        res["metrics"].unpersist()
        run_df.unpersist()
        if timed:
            ops.append(("research", dt, tr.enabled))

    t0 = time.perf_counter()
    enabled = tr.enabled
    tr.enabled = False
    for _ in range(WARMUP_OPS):
        one_op(False)
    warmup_s = time.perf_counter() - t0
    cached_bytes = sum(
        int(r.memSize()) + int(r.diskSize())
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())

    t_end = time.perf_counter() + seconds
    # traced and untraced ops alternate in the traced run, which needs at
    # least one of each for the overhead ratio
    while time.perf_counter() < t_end or (enabled and len(ops) < 2):
        tr.enabled = enabled and (n_op % 2 == 1)
        one_op(True)
    tr.enabled = enabled
    index.unpersist()

    exp = expected_answers(seed, ins)
    checks = []
    for run_pdf, res, per_query, layers in answers:
        ok = (runs_match(run_pdf, exp, "run", "scores")
              and matches_expected(res, per_query, exp))
        # a traced op materialises the layers in between; check them too
        if "first" in layers:
            ok = ok and runs_match(layers["first"], exp, "first", "first_scores")
        if "weights" in layers:
            ok = ok and weights_match(layers["weights"], exp)
        checks.append(ok)

    plain = [dt for _k, dt, traced in ops if not traced]
    failed = sum(1 for ok in checks[WARMUP_OPS:] if not ok)
    by_name = {
        "setup_s": session_s + build_s + warmup_s,
        "rlm_batch_p50_s": statistics.median(plain) if plain else float("nan"),
    }
    return {
        "by_name": by_name,
        "e2e": {
            "setup_s": (by_name["setup_s"], "s"),
            "op_p50_s": (by_name["rlm_batch_p50_s"], "s"),
            # queries / mean op time: with one op size it restates
            # op_p50_s, kept because every workload prints every metric
            "items_per_s": (QUERIES * len(plain) / sum(plain) if plain
                            else float("nan"), "1/s"),
        },
        "attempted": len(ops),
        "failed": failed,
        "correct": all(checks),
        "info": {
            "inputs_digest": ins["digest"],
            "setup_runs_s": [build_s],
            "warmup_s": warmup_s,
            "session_s": session_s,
            "research_ops_s": plain,
            "expected": {k: exp[k] for k in ("map", "ndcg", "recall",
                                             "correlations")},
        },
        "ops": ops,
        "cached_bytes": cached_bytes,
        "counts": counts,
    }
