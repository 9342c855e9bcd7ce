"""Command-line drivers mirroring the reference's shell entry points
(``index.sh``, ``retrieve.sh``, ``jm.sh``, ``gensparsevecs.sh``,
``printfdbkterms.sh`` in /root/reference) — the ``spark-submit
--py-files`` deployment shape:

    spark-submit --py-files lucene_msmarco_spark.zip -m lucene_msmarco_spark.cli ...
    # or locally:
    python -m lucene_msmarco_spark.cli index --input transcripts/ --out idx/
    python -m lucene_msmarco_spark.cli retrieve --index idx/ \
        --queries queries.tsv --model bm25 --k 100 --out run.res
    python -m lucene_msmarco_spark.cli evaluate --res run.res --qrels qrels.txt
    python -m lucene_msmarco_spark.cli qpp --index idx/ --queries queries.tsv \
        --res run.res --predictor nqc
    python -m lucene_msmarco_spark.cli sparsevecs --index idx/ --out vecs/
    python -m lucene_msmarco_spark.cli ingest --input batch/ --index idx/

Every index command reads and writes ONE on-disk format, the
``SegmentedIndexWriter`` dir (content-addressed appends, size-tiered
auto-compaction, per-op lineage in its manifest). ``index`` builds it
with one append: re-running with the same input is a no-op, and a dir
that already holds a different batch is refused (the reference refuses
a non-empty index dir, ``MsMarcoIndexer.java:49-52``; ``ingest`` adds
batches). ``retrieve`` serves BM25 through the compressed Block-Max path
and the other models from the row-level form the blobs decode to.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _spark(args) -> SparkSession:
    """Reuse an already-active session (pytest / notebook) without owning
    it; otherwise build one and own its lifecycle."""
    active = SparkSession.getActiveSession()
    if active is not None:
        args._owns_spark = False
        return active
    from .session import build_session

    args._owns_spark = True
    return build_session(
        app_name=f"lms-{args.cmd}",
        master=getattr(args, "master", None),
    )


def _stop(args, spark: SparkSession) -> None:
    if getattr(args, "_owns_spark", False):
        spark.stop()


def load_serving_index(spark: SparkSession, index_dir: str):
    """Open the ``SegmentedIndexWriter`` dir under ``index_dir`` as a
    CompactIndex — the compressed serving artifact. Commands that need
    token-level access (qpp term stats, sparse vectors, non-BM25
    scoring) decode it with ``to_inverted_index``."""
    from .streaming.incremental import SegmentedIndexWriter

    return SegmentedIndexWriter.open(spark, index_dir).load()


def _open_index(spark: SparkSession, index_dir: str):
    """CLI-facing load_serving_index: the writer's curated refusals
    (retired layouts, pre-sidecar dirs, fingerprint-version mismatch)
    exit cleanly instead of dumping a stack trace."""
    try:
        return load_serving_index(spark, index_dir)
    except (FileNotFoundError, ValueError) as e:
        raise SystemExit(str(e)) from e


def _open_writer(spark: SparkSession, index_dir: str, analyzer):
    """The writer over ``index_dir``, for ``index`` and ``ingest``: an
    existing dir restores its persisted config (or refuses, see
    ``SegmentedIndexWriter.open``); a new one takes ``analyzer``."""
    import os

    from .streaming.incremental import BuildConfig, SegmentedIndexWriter

    try:
        writer = SegmentedIndexWriter.open(spark, index_dir)
    except (FileNotFoundError, ValueError) as e:
        raise SystemExit(str(e)) from e
    if not os.path.exists(writer.config_path):
        return SegmentedIndexWriter(
            spark, index_dir, BuildConfig(analyzer=analyzer or "english")
        )
    if analyzer and analyzer != writer.config.analyzer:
        raise SystemExit(
            f"index {index_dir} was built with analyzer "
            f"{writer.config.analyzer!r}; --analyzer {analyzer!r} "
            "would mix token spaces"
        )
    return writer


def _print_state(writer, **extra) -> None:
    st = writer.state()
    print(json.dumps({
        **extra,
        "n_docs": st["n_docs"],
        "live_generations": len(st["live"]),
        "next_gen": st["next_gen"],
        "index": writer.index_dir,
    }))


def cmd_index(args) -> None:
    """Build an index dir from one transcript batch: one writer append.
    The append is content-addressed, so re-running with the same input
    is a no-op (a killed run re-runs cleanly). A dir that already holds
    a DIFFERENT batch is refused: appending there would silently index
    an edited input's docs a second time."""
    from .sources.table_format import read_transcripts

    spark = _spark(args)
    writer = _open_writer(spark, args.out, args.analyzer)
    batch = read_transcripts(spark, args.input)
    committed = {
        e.get("batch") for e in writer._entries() if e["op"] == "append"
    }
    appended = not committed
    if appended:
        writer.append(batch)
    elif writer._fingerprint(batch) not in committed:
        raise SystemExit(
            f"{args.out} already holds an index of a different batch; "
            "add batches to it with `ingest`, or build into a new "
            "directory"
        )
    _print_state(writer, appended=appended)
    _stop(args, spark)


def cmd_retrieve(args) -> None:
    from .operators.retrieval import compile_queries, search
    from .sources.readers import read_queries_tsv
    from .sources.writers import write_trec_run

    spark = _spark(args)
    idx = _open_index(spark, args.index)
    queries = read_queries_tsv(spark, args.queries)
    engine = "bmw" if args.model == "bm25" else "rows"
    if engine == "bmw":
        # the compressed serving path: broadcast query bag, one task per
        # segment, Block-Max scoring — postings never shuffle
        from .operators.postings import bmw_search

        qt = compile_queries(queries, idx.analyzer)
        run = bmw_search(idx, qt, k=args.k)
    else:
        # non-BM25 models score off the row-level form; rehydrate the
        # blobs (decode is distributed, mapInPandas) and reuse `search`
        run = search(idx.to_inverted_index(), queries,
                     model=args.model, k=args.k)
    write_trec_run(run, args.out, run_name=args.run_name)
    print(json.dumps({
        "engine": engine, "queries": queries.count(), "out": args.out,
    }))
    _stop(args, spark)


def cmd_ingest(args) -> None:
    """Incremental serving-index maintenance: append transcript batches
    into a ``SegmentedIndexWriter`` dir with size-tiered auto-compaction
    (the Lucene ``IndexWriter.addDocument`` + background-merge shape).
    ``--stream`` tails the input dir through Structured Streaming
    (availableNow: drain-and-stop backfill), one generation per
    micro-batch, exactly-once under replays."""
    import os

    from .streaming.incremental import MergePolicy, stream_append

    spark = _spark(args)
    writer = _open_writer(spark, args.index, args.analyzer)
    try:
        policy = MergePolicy(merge_factor=args.merge_factor)
    except ValueError as e:
        raise SystemExit(str(e)) from e
    if args.stream:
        from .sources.table_format import is_path_ref
        from .sources.transcripts import TRANSCRIPT_SCHEMA

        if not is_path_ref(args.input):
            raise SystemExit(
                f"--stream needs a parquet directory path, got table "
                f"ref {args.input!r} (streaming table sources need the "
                "Iceberg runtime; run without --stream for batch "
                "appends from a table ref)"
            )
        src = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
        q = stream_append(
            writer, src,
            checkpoint_dir=os.path.join(args.index, "_stream_checkpoint"),
            merge_policy=policy,
        )
        q.awaitTermination()
    else:
        from .sources.table_format import read_transcripts

        writer.append(read_transcripts(spark, args.input))
        writer.maybe_compact(policy)
    _print_state(writer)
    _stop(args, spark)


def cmd_evaluate(args) -> None:
    from .operators.eval import compute_all, per_query_metrics
    from .sources.readers import read_qrels, read_res

    spark = _spark(args)
    res = read_res(spark, args.res)
    qrels = read_qrels(spark, args.qrels)
    if args.per_query:
        for r in per_query_metrics(res, qrels).orderBy("qid").collect():
            print(json.dumps(r.asDict()))
    summary = compute_all(res, qrels).collect()[0]
    print(json.dumps({k: round(float(v), 4)
                      for k, v in summary.asDict().items()}))
    _stop(args, spark)


def cmd_qpp(args) -> None:
    from .operators.qpp import (
        cumulative_nqc,
        nqc,
        query_idf_stats,
        rsd,
        uef,
    )
    from .operators.retrieval import compile_queries
    from .sources.readers import read_queries_tsv, read_res

    spark = _spark(args)
    idx = _open_index(spark, args.index).to_inverted_index()
    queries = read_queries_tsv(spark, args.queries)
    run = read_res(spark, args.res).cache()
    qt = compile_queries(queries, idx.analyzer)
    idf = query_idf_stats(qt, idx.term_stats, idx.stats.n_docs).cache()
    if args.predictor == "nqc":
        est = nqc(run, idf, k=args.k)
    elif args.predictor == "cumnqc":
        est = cumulative_nqc(run, idf, k=args.k)
    elif args.predictor == "avgidf":
        est = idf.select("qid", F.col("avgidf").alias("est"))
    elif args.predictor == "maxidf":
        est = idf.select("qid", F.col("maxidf").alias("est"))
    elif args.predictor == "rsd":
        est = rsd(run, idf, k=args.k)
    elif args.predictor == "uef":
        base = nqc(run, idf, k=args.k)
        est = uef(idx, run, base, "nqc")
    else:
        raise SystemExit(f"unknown predictor {args.predictor}")
    for r in est.orderBy("qid").collect():
        print(json.dumps(r.asDict()))
    _stop(args, spark)


def cmd_sparsevecs(args) -> None:
    from .sources.writers import sparse_vectors

    spark = _spark(args)
    idx = _open_index(spark, args.index).to_inverted_index()
    vecs = sparse_vectors(idx, weighting=args.weighting)
    vecs.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count()}))
    _stop(args, spark)


def cmd_compact(args) -> None:
    """Force a full merge of an index dir's live generations (the
    explicit Lucene forceMerge analog; routine maintenance happens
    automatically via the tiered policy in ``ingest``)."""
    import glob
    import os

    spark = _spark(args)
    if not glob.glob(os.path.join(args.index, "seg-*")):
        raise SystemExit(
            f"{args.index} holds no seg-* generations: not an index "
            "dir; build one with `index`"
        )
    writer = _open_writer(spark, args.index, None)
    entry = writer.compact()
    st = writer.state()
    print(json.dumps({
        "merged": entry["replaces"] if entry else [],
        "live_generations": len(st["live"]),
        "n_docs": st["n_docs"],
    }))
    _stop(args, spark)


def cmd_ann(args) -> None:
    """Approximate-nearest-neighbor search over an embedding table
    (vec_id, embedding array<float>). ``brute`` is the exact baseline
    (broadcasts the query set — fine for query batches, not for
    all-pairs at scale); ``lsh``/``ivf`` are the scale paths
    (bucketed/inverted-file candidate generation, exact cosine only on
    candidates). ``ivf`` persists its coarse quantizer under
    ``--model-dir`` (fit on first use, reused after — the restartable
    ANN artifact)."""
    from .operators.pipeline import (
        ann_brute_topk,
        ann_ivf_topk,
        ann_lsh_topk,
        fit_ivf_centroids,
        load_ivf_model,
        save_ivf_model,
    )
    from .sources.table_format import read_table, write_table

    spark = _spark(args)
    if args.queries and args.method != "brute":
        # lsh/ivf hash-assign queries alongside the corpus (self-search
        # semantics); silently ignoring an external query table would
        # return answers to a question the user didn't ask
        raise SystemExit(
            "--queries is only supported with --method brute; lsh/ivf "
            "self-search the embedding table"
        )
    emb = read_table(spark, args.embeddings)
    if args.method == "brute":
        if args.queries:
            # external query table: its vec_ids are an unrelated id
            # space — keep corpus vectors whose id happens to collide
            q = read_table(spark, args.queries)
            out = ann_brute_topk(emb, q, k=args.k, exclude_self=False)
        else:
            out = ann_brute_topk(emb, emb, k=args.k)
    elif args.method == "lsh":
        out = ann_lsh_topk(emb, k=args.k)
    elif args.method == "ivf":
        import os

        C = None
        if args.model_dir and os.path.exists(
            os.path.join(args.model_dir, "centroids")
        ):
            C, _ = load_ivf_model(spark, args.model_dir)
            if args.n_lists is not None and args.n_lists != C.shape[0]:
                # silently using the stored quantizer would ignore a
                # user-requested recall/partitioning parameter
                raise SystemExit(
                    f"--n-lists {args.n_lists} conflicts with the "
                    f"{C.shape[0]}-list quantizer in {args.model_dir}; "
                    "omit --n-lists to reuse it, or point --model-dir "
                    "at a fresh location to refit"
                )
            dim = emb.select(F.size("embedding")).first()[0]
            if dim != C.shape[1]:
                raise SystemExit(
                    f"quantizer in {args.model_dir} was fit on "
                    f"{C.shape[1]}-dim embeddings; this table is "
                    f"{dim}-dim"
                )
        if C is None:
            C = fit_ivf_centroids(emb, args.n_lists or 16)
            if args.model_dir:
                # record fit-time assignment quality: without it,
                # refresh_ivf_model's drift check compares the current
                # quality against ITSELF and never refits
                from .operators.pipeline import ivf_assignment_quality

                q0 = ivf_assignment_quality(emb, C)
                save_ivf_model(
                    spark, C, args.model_dir,
                    extra_meta={"quality": q0},
                )
        out = ann_ivf_topk(emb, k=args.k, centroids=C, nprobe=args.nprobe)
    else:
        raise SystemExit(f"unknown ann method {args.method}")
    entry = write_table(out, args.out)
    print(json.dumps({
        "method": args.method, "rows": entry["rows"], "out": args.out,
    }))
    _stop(args, spark)


def cmd_dedup(args) -> None:
    """Training-pipeline dedup: candidate pairs -> connected-component
    groups -> (doc_id, component, is_canonical) parquet. ``--method``
    picks the candidate generator (all scale-safe: banded/bucketed, no
    all-pairs joins)."""
    from .operators.pipeline import (
        dedup_groups,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from .sources.table_format import read_table, write_table

    spark = _spark(args)
    if args.method != "jaccard" and args.min_jaccard is not None:
        # minhash gates candidates by its band S-curve, not a Jaccard
        # cutoff; silently ignoring the flag would make the user
        # believe the groups are similarity-gated when they are not
        raise SystemExit(
            "--min-jaccard only applies to --method jaccard "
            "(minhash thresholds via its LSH banding)"
        )
    docs = read_table(spark, args.input).select("doc_id", "text")
    if args.method == "minhash":
        pairs = minhash_lsh_pairs(docs)
    elif args.method == "jaccard":
        pairs = ngram_jaccard_pairs(
            docs,
            min_jaccard=0.5 if args.min_jaccard is None
            else args.min_jaccard,
        )
    else:
        raise SystemExit(f"unknown dedup method {args.method}")
    groups = dedup_groups(pairs)
    entry = write_table(groups, args.out)
    # count the drop set off the WRITTEN parquet, not the iterative
    # component plan (which would recompute every star round)
    would_drop = (
        read_table(spark, args.out)
        .filter(~F.col("is_canonical")).count()
    )
    print(json.dumps({
        "docs_in_groups": entry["rows"],
        "would_drop": would_drop,
        "out": args.out,
    }))
    _stop(args, spark)


def cmd_split(args) -> None:
    """Deterministic train/val/test assignment by content hash (stable
    under any partitioning / rerun / append — see
    ``operators/pipeline.hash_split``)."""
    from .operators.pipeline import hash_split
    from .sources.table_format import read_table, write_table

    spark = _spark(args)
    weights = {}
    for part in args.weights.split(","):
        name, _, w = part.partition("=")
        weights[name.strip()] = float(w)
    docs = read_table(spark, args.input)
    out = hash_split(docs, weights, salt=args.salt)
    write_table(out, args.out, partition_by=["split"])
    # count off the WRITTEN table (parquet footers), not the split
    # plan, which would re-hash the entire input a second time just to
    # print counts (same rationale as cmd_dedup)
    counts = {
        r["split"]: r["n"]
        for r in read_table(spark, args.out).groupBy("split")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(json.dumps({"counts": counts, "out": args.out}))
    _stop(args, spark)


def cmd_events(args) -> None:
    """Streaming event analytics backfill over a parquet events
    directory (``streaming/analytics.py``): ``--op hourly`` runs the
    watermarked 1h window aggregation, ``--op sessionize`` the
    ``applyInPandasWithState`` gap-sessionizer. The input directory is
    read-only (the drain sentinel lives with the checkpoint); the raw
    streaming sink also lives with the checkpoint, and ``--out``
    receives the sentinel-free result as clean parquet.

    Incremental use: re-run with the same ``--checkpoint`` as new files
    land — consumed files are skipped by the offset log. Keep
    ``--no-drain`` on those runs (a drain advances the watermark past
    the data by the watermark delay + the window (hourly) or gap
    (sessionize) + a 1-day margin, which would late-drop every later
    real event in that horizon); drain only the final run.
    """
    import os

    from .streaming.analytics import (
        hourly_backfill,
        interval_seconds,
        sessionize_backfill,
    )

    try:
        interval_seconds(args.watermark)
    except ValueError as e:
        raise SystemExit(str(e)) from e

    ckpt = args.checkpoint or args.out.rstrip("/") + "_ckpt"
    drain_src = os.path.join(ckpt, "__drain_source__")
    already_drained = os.path.isdir(drain_src) and any(
        not f.startswith(("_", ".")) for f in os.listdir(drain_src)
    )
    if already_drained and not args.resume_drain:
        # a drained checkpoint's watermark sits ~horizon past the old
        # data: a re-run would silently late-drop every newly-landed
        # event. Refuse instead of losing data quietly.
        raise SystemExit(
            f"checkpoint {ckpt} was already drained — a drained "
            "backfill is final. Use a fresh --checkpoint/--out for new "
            "data (run incremental passes with --no-drain and drain "
            "only the last one), or pass --resume-drain ONLY to finish "
            "a drain pass that was killed mid-run."
        )
    spark = _spark(args)
    raw_sink = os.path.join(ckpt, "__sink__")
    if args.op == "hourly":
        df = hourly_backfill(
            spark, args.input, raw_sink, ckpt,
            watermark=args.watermark, drain=not args.no_drain,
        )
    else:
        df = sessionize_backfill(
            spark, args.input, raw_sink, ckpt,
            gap_sec=args.gap, watermark=args.watermark,
            drain=not args.no_drain,
        )
    df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({
        "op": args.op, "rows": n, "out": args.out, "checkpoint": ckpt,
    }))
    _stop(args, spark)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="lucene_msmarco_spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser(
        "index", help="build an index dir from one batch (idempotent)"
    )
    pi.add_argument("--input", required=True)
    pi.add_argument("--out", required=True)
    pi.add_argument("--analyzer", default=None,
                    help="analyzer for a NEW index (default english; "
                         "existing indexes restore theirs)")
    pi.set_defaults(fn=cmd_index)

    pr = sub.add_parser("retrieve", help="batch top-k search -> TREC res")
    pr.add_argument("--index", required=True)
    pr.add_argument("--queries", required=True)
    pr.add_argument("--model", default="bm25",
                    choices=["bm25", "lmdir", "lmjm", "tfidf"])
    pr.add_argument("--k", type=int, default=100)
    pr.add_argument("--out", required=True)
    pr.add_argument("--run-name", default="lms")
    pr.set_defaults(fn=cmd_retrieve)

    pg = sub.add_parser(
        "ingest",
        help="incremental append into a segmented serving index "
             "(size-tiered auto-compaction; --stream for Structured "
             "Streaming backfill)",
    )
    pg.add_argument("--input", required=True,
                    help="transcript parquet path / table ref")
    pg.add_argument("--index", required=True, help="index directory")
    pg.add_argument("--analyzer", default=None,
                    help="analyzer for a NEW index (existing indexes "
                         "restore theirs from _config.json)")
    pg.add_argument("--merge-factor", type=int, default=10)
    pg.add_argument("--stream", action="store_true")
    pg.set_defaults(fn=cmd_ingest)

    pe = sub.add_parser("evaluate", help="evaluate a res file vs qrels")
    pe.add_argument("--res", required=True)
    pe.add_argument("--qrels", required=True)
    pe.add_argument("--per-query", action="store_true")
    pe.set_defaults(fn=cmd_evaluate)

    pq = sub.add_parser("qpp", help="query-performance prediction")
    pq.add_argument("--index", required=True)
    pq.add_argument("--queries", required=True)
    pq.add_argument("--res", required=True)
    pq.add_argument("--predictor", default="nqc")
    pq.add_argument("--k", type=int, default=50)
    pq.set_defaults(fn=cmd_qpp)

    ps = sub.add_parser("sparsevecs", help="export sparse doc vectors")
    ps.add_argument("--index", required=True)
    ps.add_argument("--out", required=True)
    ps.add_argument("--weighting", default="bm25",
                    choices=["tf", "tfidf", "bm25"])
    ps.set_defaults(fn=cmd_sparsevecs)

    pc = sub.add_parser(
        "compact", help="force-merge an index's live generations"
    )
    pc.add_argument("--index", required=True)
    pc.set_defaults(fn=cmd_compact)

    pa = sub.add_parser(
        "ann", help="nearest-neighbor search over an embedding table"
    )
    pa.add_argument("--embeddings", required=True,
                    help="parquet path / table ref (vec_id, embedding)")
    pa.add_argument("--queries", default=None,
                    help="optional query-vector table (brute method); "
                         "defaults to self-search")
    pa.add_argument("--method", default="ivf",
                    choices=["brute", "lsh", "ivf"])
    pa.add_argument("--k", type=int, default=5)
    pa.add_argument("--n-lists", type=int, default=None,
                    help="IVF coarse lists when FITTING (default 16); "
                         "a loaded --model-dir quantizer fixes this — "
                         "passing a conflicting value errors")
    pa.add_argument("--nprobe", type=int, default=4)
    pa.add_argument("--model-dir", default=None,
                    help="IVF quantizer persistence dir (fit once, "
                         "reuse across runs)")
    pa.add_argument("--out", required=True)
    pa.set_defaults(fn=cmd_ann)

    pd_ = sub.add_parser(
        "dedup", help="near-dup groups: pairs -> connected components"
    )
    pd_.add_argument("--input", required=True,
                     help="docs parquet path / table ref (doc_id, text)")
    pd_.add_argument("--out", required=True)
    pd_.add_argument("--method", default="minhash",
                     choices=["minhash", "jaccard"])
    pd_.add_argument("--min-jaccard", type=float, default=None,
                     help="jaccard method's pair cutoff (default 0.5); "
                          "rejected with --method minhash")
    pd_.set_defaults(fn=cmd_dedup)

    pt = sub.add_parser(
        "split", help="deterministic content-hash train/val/test split"
    )
    pt.add_argument("--input", required=True)
    pt.add_argument("--out", required=True)
    pt.add_argument("--weights", default="train=0.9,val=0.05,test=0.05")
    pt.add_argument("--salt", default="split")
    pt.set_defaults(fn=cmd_split)

    pv = sub.add_parser(
        "events",
        help="streaming event-analytics backfill (watermarked hourly "
             "windows / stateful sessionize); input dir is read-only",
    )
    pv.add_argument("--input", required=True,
                    help="events parquet dir (event_id, ts, user_id, "
                         "event_type, value, props)")
    pv.add_argument("--out", required=True,
                    help="clean parquet result (sentinel-free)")
    pv.add_argument("--op", default="sessionize",
                    choices=["hourly", "sessionize"])
    pv.add_argument("--checkpoint", default=None,
                    help="default <out>_ckpt; re-use to extend a "
                         "backfill incrementally (with --no-drain)")
    pv.add_argument("--gap", type=int, default=1800,
                    help="sessionize gap seconds")
    pv.add_argument("--watermark", default="2 hours",
                    help="<int> <second|minute|hour|day>[s]")
    pv.add_argument("--no-drain", action="store_true",
                    help="leave tail windows/sessions in state "
                         "(incremental runs / live-stream handoff)")
    pv.add_argument("--resume-drain", action="store_true",
                    help="finish a drain pass that was killed mid-run "
                         "(a drained checkpoint otherwise refuses "
                         "re-runs — they would late-drop new data)")
    pv.set_defaults(fn=cmd_events)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
