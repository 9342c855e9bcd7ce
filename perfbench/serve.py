"""``serve``: read-only BM25 over the segmented, compressed index.

One client, closed loop. Each cycle sends a lookup batch, then a bulk
batch, each from query file to TREC run file (the ``cli retrieve`` path:
``read_queries_tsv`` -> ``compile_queries`` -> ``bmw_search`` ->
``write_trec_run``). Lookup time is mostly per-job fixed cost (planning,
broadcast, task launch, Python worker hand-off); a bulk batch is large
enough that per-query work in the ``bmw_search`` tasks (scoring and
top-k over the decoded postings) is most of its time. Alternating the
two puts host drift on both metrics alike. No Spark cache, no index
writes after set-up, and no row-level, feedback or eval code on the
timed path.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

import inputs
import oracle

N_TURNS = 4_000
LOOKUP_QUERIES, LOOKUP_BATCHES = 16, 4
BULK_QUERIES, BULK_BATCHES = 2048, 1
K = 100
WARMUP_OPS = 2


def make_inputs(seed: int, work: str) -> dict:
    corpus = inputs.Corpus(seed)
    rng = np.random.default_rng([seed, 2])
    half = N_TURNS // 2
    paths = {"batches": [os.path.join(work, "in", f"batch{i}") for i in (0, 1)]}
    inputs.write_parquet(corpus.table(0, half), paths["batches"][0])
    inputs.write_parquet(corpus.table(half, N_TURNS - half), paths["batches"][1])
    batches = []
    for kind, n, count in (("lookup", LOOKUP_QUERIES, LOOKUP_BATCHES),
                           ("bulk", BULK_QUERIES, BULK_BATCHES)):
        for b in range(count):
            items = corpus.known_items(rng, 0, N_TURNS, n, f"{kind[0]}{b}q")
            path = os.path.join(work, "in", f"{kind}{b}.tsv")
            inputs.write_queries(items, path)
            batches.append({"kind": kind, "path": path, "items": items})
    paths["lookup"] = [b for b in batches if b["kind"] == "lookup"]
    paths["bulk"] = [b for b in batches if b["kind"] == "bulk"]
    paths["digest"] = inputs.digest([os.path.join(work, "in")])
    paths["corpus"] = corpus
    return paths


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"),
                                                     recursive=True)
               if os.path.isfile(f))


def build_index(spark, tr, batch_paths: list[str], index_dir: str):
    """Two appends, one size-tiered merge of them, and a load: the
    ``cli ingest`` path followed by the serving-index open."""
    from lucene_msmarco_spark.sources.table_format import read_transcripts
    from lucene_msmarco_spark.streaming.incremental import (
        BuildConfig,
        MergePolicy,
        SegmentedIndexWriter,
    )

    writer = SegmentedIndexWriter(spark, index_dir, BuildConfig())
    for p in batch_paths:
        with tr.span("append"):
            writer.append(read_transcripts(spark, p))
    with tr.span("compact"):
        merges = writer.maybe_compact(MergePolicy(merge_factor=2))
    with tr.span("load"):
        index = writer.load()
    return writer, index, len(merges)


def query_op(spark, tr, index, batch: dict, out_dir: str) -> None:
    from lucene_msmarco_spark.operators.postings import bmw_search
    from lucene_msmarco_spark.operators.retrieval import compile_queries
    from lucene_msmarco_spark.sources.readers import read_queries_tsv
    from lucene_msmarco_spark.sources.writers import write_trec_run

    with tr.span(batch["kind"]):
        with tr.span("compile"):
            qt, n_terms = tr.materialize(compile_queries(
                read_queries_tsv(spark, batch["path"]), index.analyzer))
        with tr.span("bmw"):
            run, _ = tr.materialize(bmw_search(index, qt, k=K))
        with tr.span("write_run"):
            write_trec_run(run, out_dir)
    if tr.enabled:
        batch["terms"] = n_terms


def read_run(out_dir: str) -> dict[str, list[tuple[int, int, float]]]:
    """{qid: [(doc, rank, score)] in rank order} from a TREC run dir."""
    got: dict[str, list[tuple[int, int, float]]] = {}
    for f in glob.glob(os.path.join(out_dir, "part-*")):
        with open(f) as fh:
            for line in fh:
                qid, _q0, doc, rank, score, _name = line.rstrip("\n").split("\t")
                got.setdefault(qid, []).append((int(doc), int(rank), float(score)))
    return {q: sorted(v, key=lambda r: r[1]) for q, v in got.items()}


def run_matches(got: dict, expected: dict, qids: list[str]) -> bool:
    """Every query's served top-K equals the oracle's BM25 top-K. The run
    file prints scores to four decimals, hence the 1e-4 tolerance."""
    return set(got) == set(qids) and all(
        oracle.run_matches(got[q], *expected[q], tol=1e-4) for q in qids)


def run(spark, tr, seed: int, seconds: float, work: str, session_s: float):
    ins = make_inputs(seed, work)
    # one build: a second would cost ~9 s of a ~70 s run budget
    tr.group = "setup-0"
    t0 = time.perf_counter()
    writer, index, merges = build_index(spark, tr, ins["batches"],
                                        os.path.join(work, "index"))
    build_s = time.perf_counter() - t0
    st = writer.state()
    layout = {
        "merges": merges,
        "live_generations": len(st["live"]),
        "n_docs": st["n_docs"],
        "index_bytes": _dir_bytes(writer.index_dir),
        "input_bytes": sum(_dir_bytes(p) for p in ins["batches"]),
    }

    outputs: list[tuple[dict, str, bool]] = []
    cycle = 0

    def one_op(batch: dict, timed: list | None) -> None:
        out_dir = os.path.join(work, "runs", f"op{len(outputs)}")
        t0 = time.perf_counter()
        query_op(spark, tr, index, batch, out_dir)
        dt = time.perf_counter() - t0
        outputs.append((batch, out_dir, timed is not None))
        if timed is not None:
            timed.append((batch["kind"], dt, tr.enabled))

    # warm-up: the index build has already run the engine's jobs, so a
    # few lookup ops make the next ops steady (NOTES.md)
    t0 = time.perf_counter()
    enabled = tr.enabled
    tr.enabled = False
    tr.group = "warmup"
    for i in range(WARMUP_OPS):
        one_op(ins["lookup"][-1 - i], None)
    warmup_s = time.perf_counter() - t0

    ops: list[tuple[str, float, bool]] = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or (enabled and len(ops) < 4):
        # the traced run alternates traced and untraced cycles, so the
        # ratio of the two is the tracing overhead on the same host state
        tr.enabled = enabled and (cycle % 2 == 1)
        tr.group = f"cycle-{cycle}"
        one_op(ins["lookup"][cycle % LOOKUP_BATCHES], ops)
        one_op(ins["bulk"][cycle % BULK_BATCHES], ops)
        cycle += 1
    tr.enabled = enabled

    ref = oracle.build(ins["corpus"], N_TURNS)
    expected = {q: oracle.bm25_top(ref, text)
                for b in ins["lookup"] + ins["bulk"] for q, text, _row in b["items"]}
    ok = [(run_matches(read_run(d), expected, [q for q, _, _ in b["items"]]),
           timed) for b, d, timed in outputs]
    warm_ok = all(good for good, timed in ok if not timed)
    failed_ops = sum(1 for good, timed in ok if timed and not good)
    top1 = [expected[q][0][0][0] == row for b in ins["lookup"] + ins["bulk"]
            for q, _, row in b["items"] if expected[q][0]]

    terms = [b["terms"] / len(b["items"]) for b in ins["lookup"] + ins["bulk"]
             if "terms" in b]
    plain = [o for o in ops if not o[2]]
    lookups = [dt for kind, dt, _ in plain if kind == "lookup"]
    bulks = [dt for kind, dt, _ in plain if kind == "bulk"]
    nan = float("nan")
    by_name = {
        "setup_s": session_s + build_s + warmup_s,
        "lookup_p50_s": statistics.median(lookups) if lookups else nan,
        "bulk_queries_per_s": (BULK_QUERIES / statistics.median(bulks)
                               if bulks else nan),
    }
    return {
        "by_name": by_name,
        "e2e": {
            "setup_s": (by_name["setup_s"], "s"),
            "op_p50_s": (by_name["lookup_p50_s"], "s"),
            "items_per_s": (by_name["bulk_queries_per_s"], "1/s"),
        },
        "attempted": len(ops),
        "failed": failed_ops,
        "correct": failed_ops == 0 and warm_ok,
        "info": {
            "inputs_digest": ins["digest"],
            "setup_runs_s": [build_s],
            "warmup_s": warmup_s,
            "session_s": session_s,
            "lookup_ops_s": lookups,
            "bulk_ops_s": bulks,
            "known_item_top1": sum(top1) / len(top1),
            "layout": layout,
        },
        "ops": ops,
        "layout": layout,
        "counts": {"terms_per_query": statistics.mean(terms) if terms else 0.0},
    }
