"""End-to-end CLI drive: index -> retrieve -> evaluate -> qpp ->
sparsevecs over one index dir (the reference's index.sh/retrieve.sh
shape)."""

from __future__ import annotations

import json
import os

import pytest

from lucene_msmarco_spark.cli import main
from lucene_msmarco_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def workdir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    inp = str(d / "input")
    generate_transcripts(spark, n_turns=200, seed=42,
                         num_partitions=4).write.parquet(inp)
    (d / "queries.tsv").write_text(
        "q1\tricufex kekegra report\nq2\ttamori polgrake verlu\n"
    )
    qrels_lines = []
    for doc in range(0, 200, 9):
        qrels_lines.append(f"q1 0 {doc} {1 + doc % 3}")
    for doc in range(0, 200, 11):
        qrels_lines.append(f"q2 0 {doc} 1")
    (d / "qrels.txt").write_text("\n".join(qrels_lines) + "\n")
    return d, inp


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _manifest(index_dir: str) -> list[dict]:
    with open(os.path.join(index_dir, "_manifest.jsonl")) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def test_cli_index_retrieve_evaluate_qpp(workdir, capsys, spark):
    """The one-format chain on one dir: index -> re-run (no-op) ->
    index of a different input (refused) -> retrieve bm25 (Block-Max
    engine) and lmdir (row-level engine) -> evaluate -> qpp ->
    sparsevecs; the index's manifest carries per-segment lineage."""
    d, inp = workdir
    idx_dir = str(d / "index")
    main(["index", "--input", inp, "--out", idx_dir])
    out = _last_json(capsys)
    assert out["appended"] and out["n_docs"] == 200
    assert out["live_generations"] == 1

    (entry,) = _manifest(idx_dir)
    assert entry["op"] == "append" and entry["wall_s"] > 0
    assert len(entry["segment_rows"]) == entry["seg_span"] >= 1
    assert all(n > 0 for n in entry["segment_rows"])

    # re-run with the same input: its fingerprint is committed, no-op
    main(["index", "--input", inp, "--out", idx_dir])
    out2 = _last_json(capsys)
    assert not out2["appended"]
    assert out2["n_docs"] == 200 and out2["next_gen"] == out["next_gen"]

    # an edited input into the same dir: refused, pointing at ingest
    edited = str(d / "input_edited")
    spark.read.parquet(inp).filter("turn_idx % 2 = 0").write.mode(
        "overwrite").parquet(edited)
    with pytest.raises(SystemExit, match="ingest"):
        main(["index", "--input", edited, "--out", idx_dir])
    assert _manifest(idx_dir) == [entry]

    res_path = str(d / "run.res")
    main(["retrieve", "--index", idx_dir, "--queries",
          str(d / "queries.tsv"), "--model", "bm25", "--k", "20",
          "--out", res_path])
    assert _last_json(capsys)["engine"] == "bmw"
    assert os.path.exists(res_path)  # spark text output dir
    import glob

    lines = []
    for part in glob.glob(os.path.join(res_path, "part-*")):
        lines += [ln for ln in open(part).read().splitlines() if ln]
    assert lines
    assert all(len(ln.split("\t")) == 6 for ln in lines)

    res_lm = str(d / "run_lmdir.res")
    main(["retrieve", "--index", idx_dir, "--queries",
          str(d / "queries.tsv"), "--model", "lmdir", "--k", "5",
          "--out", res_lm])
    assert _last_json(capsys)["engine"] == "rows"
    assert glob.glob(os.path.join(res_lm, "part-*"))

    main(["evaluate", "--res", res_path, "--qrels", str(d / "qrels.txt")])
    summary = _last_json(capsys)
    assert set(summary) == {"recall_quirk", "map", "p_at_5", "ndcg_100"}

    main(["qpp", "--index", idx_dir, "--queries", str(d / "queries.tsv"),
          "--res", res_path, "--predictor", "nqc", "--k", "20"])
    qpp_lines = [json.loads(x)
                 for x in capsys.readouterr().out.strip().splitlines()]
    assert {r["qid"] for r in qpp_lines} == {"q1", "q2"}

    vec_dir = str(d / "vecs")
    main(["sparsevecs", "--index", idx_dir, "--out", vec_dir])
    assert _last_json(capsys)["rows"] > 0


def test_cli_index_restores_analyzer(spark, workdir, capsys):
    """ADVICE r1: an index built with a non-default analyzer must be
    reopened with that same analyzer (query compilation follows it),
    and a conflicting --analyzer on a re-run is refused."""
    from lucene_msmarco_spark.cli import load_serving_index

    d, inp = workdir
    idx_dir = str(d / "index_simple")
    main(["index", "--input", inp, "--out", idx_dir,
          "--analyzer", "simple"])
    capsys.readouterr()
    assert load_serving_index(spark, idx_dir).analyzer == "simple"
    assert json.load(open(os.path.join(idx_dir, "_config.json")))[
        "analyzer"] == "simple"
    with pytest.raises(SystemExit, match="mix token spaces"):
        main(["index", "--input", inp, "--out", idx_dir,
              "--analyzer", "english"])


def test_cli_ingest_and_bmw_retrieve(workdir, capsys, spark):
    """ingest (two appends -> tiered compaction) then retrieve: the
    segmented layout is auto-detected, served through the Block-Max
    path, and value-matches the row-level engine over the same index."""
    import glob

    d, inp = workdir
    sidx = str(d / "seg_index")
    half1, half2 = str(d / "ingest_a"), str(d / "ingest_b")
    tr = spark.read.parquet(inp)
    tr.filter("turn_idx % 2 = 0").write.mode("overwrite").parquet(half1)
    tr.filter("turn_idx % 2 = 1").write.mode("overwrite").parquet(half2)

    main(["ingest", "--input", half1, "--index", sidx,
          "--merge-factor", "2"])
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["live_generations"] == 1

    main(["ingest", "--input", half2, "--index", sidx,
          "--merge-factor", "2"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_docs"] == 200
    # two same-tier generations + merge_factor=2 -> compacted into ONE
    assert out2["live_generations"] == 1
    assert out2["next_gen"] == 3  # append, append, compact

    # idempotence: re-ingesting a committed batch is a no-op
    main(["ingest", "--input", half2, "--index", sidx,
          "--merge-factor", "2"])
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["n_docs"] == 200 and out3["next_gen"] == 3

    # analyzer guard: a mismatched --analyzer must refuse, not mix
    with pytest.raises(SystemExit):
        main(["ingest", "--input", half1, "--index", sidx,
              "--analyzer", "simple"])
    capsys.readouterr()

    res_path = str(d / "run_bmw.res")
    main(["retrieve", "--index", sidx, "--queries",
          str(d / "queries.tsv"), "--model", "bm25", "--k", "200",
          "--out", res_path])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["engine"] == "bmw"

    got: dict[str, dict[str, float]] = {}
    for part in glob.glob(os.path.join(res_path, "part-*")):
        for ln in open(part).read().splitlines():
            qid, _, docid, _, score, _ = ln.split("\t")
            got.setdefault(qid, {})[docid] = round(float(score), 4)

    # value-match the row-level engine over the SAME segmented index
    from lucene_msmarco_spark.cli import load_serving_index
    from lucene_msmarco_spark.operators.retrieval import search

    compact = load_serving_index(spark, sidx)
    assert compact.analyzer == "english"
    rows = search(compact.to_inverted_index(),
                  spark.createDataFrame(
                      [("q1", "ricufex kekegra report"),
                       ("q2", "tamori polgrake verlu")],
                      "qid string, qtext string"),
                  model="bm25", k=200).collect()
    want: dict[str, dict[str, float]] = {}
    for r in rows:
        want.setdefault(r["qid"], {})[str(r["doc_id"])] = round(
            float(r["score"]), 4)
    assert got and got == want


def test_cli_compact_merge(workdir, capsys, spark):
    """compact: force-merge an index dir's live generations; retrieve
    serves the merged dir through the Block-Max path."""
    import glob

    d, inp = workdir
    sidx = str(d / "seg_index2")
    tr = spark.read.parquet(inp)
    for i in range(3):
        part = str(d / f"ingest_mod{i}")
        tr.filter(f"pmod(crc32(conv_id) + turn_idx, 3) = {i}").write.mode(
            "overwrite").parquet(part)
        # merge-factor high enough that nothing auto-compacts
        main(["ingest", "--input", part, "--index", sidx,
              "--merge-factor", "10"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["live_generations"] == 3

    main(["compact", "--index", sidx])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["merged"] == [0, 1, 2]
    assert out["live_generations"] == 1 and out["n_docs"] == 200

    res_path = str(d / "run_merged.res")
    main(["retrieve", "--index", sidx, "--queries",
          str(d / "queries.tsv"), "--k", "10", "--out", res_path])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["engine"] == "bmw"
    assert glob.glob(os.path.join(res_path, "part-*"))


def test_cli_ann(workdir, capsys, spark):
    """ann: ivf with quantizer persistence (second run reuses the
    model), plus the brute baseline."""
    d, _ = workdir
    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    model_dir = str(d / "ivf_model")
    out_dir = str(d / "ann_out")
    main(["ann", "--embeddings", emb_path, "--method", "ivf",
          "--k", "3", "--model-dir", model_dir, "--out", out_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] > 0
    assert os.path.exists(os.path.join(model_dir, "centroids"))
    # fit-time quality is recorded so refresh_ivf_model's drift check
    # has a baseline to compare against (not itself)
    from lucene_msmarco_spark.operators.pipeline import load_ivf_model

    _, meta = load_ivf_model(spark, model_dir)
    assert meta.get("quality", 0) > 0
    res1 = {(r["qvec"], r["rank"]): r["nvec"]
            for r in spark.read.parquet(out_dir).collect()}

    # second run loads the persisted quantizer -> identical assignment
    out_dir2 = str(d / "ann_out2")
    main(["ann", "--embeddings", emb_path, "--method", "ivf",
          "--k", "3", "--model-dir", model_dir, "--out", out_dir2])
    capsys.readouterr()
    res2 = {(r["qvec"], r["rank"]): r["nvec"]
            for r in spark.read.parquet(out_dir2).collect()}
    assert res1 == res2

    out_dir3 = str(d / "ann_brute")
    main(["ann", "--embeddings", emb_path, "--method", "brute",
          "--k", "3", "--out", out_dir3])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] > 0


def test_cli_guardrails(workdir, capsys, spark):
    """Misuse paths fail loudly with a message, not a traceback or a
    silently-wrong answer."""
    d, inp = workdir

    # compact on a dir holding no index: clear refusal
    with pytest.raises(SystemExit, match="not an index dir"):
        main(["compact", "--index", str(d / "nope_compact")])

    # ann: external queries with a self-search method
    with pytest.raises(SystemExit, match="only supported with"):
        main(["ann", "--embeddings",
              "/root/testdata/sf0.001/embeddings.parquet",
              "--queries", "/root/testdata/sf0.001/embeddings.parquet",
              "--method", "ivf", "--out", str(d / "nope")])

    # ingest: degenerate merge factor refuses BEFORE any append
    with pytest.raises(SystemExit, match="merge_factor"):
        main(["ingest", "--input", inp, "--index", str(d / "nope_idx"),
              "--merge-factor", "1"])
    assert not os.path.exists(str(d / "nope_idx"))

    # ingest --stream: table refs need the Iceberg streaming source
    with pytest.raises(SystemExit, match="parquet directory path"):
        main(["ingest", "--input", "db.transcripts",
              "--index", str(d / "nope_idx2"), "--stream"])

    # events: a hostile --watermark is refused before any Spark work
    with pytest.raises(SystemExit, match="watermark"):
        main(["events", "--input", str(d / "nope_ev"),
              "--out", str(d / "nope_ev_out"),
              "--watermark", "1 hour) UNION SELECT 1 --"])
    assert not os.path.exists(str(d / "nope_ev_out_ckpt"))

    # ann ivf: a loaded quantizer fixes n_lists; conflicting flag errors
    import numpy as np

    from lucene_msmarco_spark.operators.pipeline import save_ivf_model

    model_dir = str(d / "ivf_guard_model")
    save_ivf_model(spark, np.eye(4, 8), model_dir)   # 4 lists, 8-dim
    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    with pytest.raises(SystemExit, match="conflicts with the 4-list"):
        main(["ann", "--embeddings", emb_path, "--method", "ivf",
              "--n-lists", "64", "--model-dir", model_dir,
              "--out", str(d / "nope_ann")])
    # and a dimension mismatch refuses driver-side, not in an executor
    with pytest.raises(SystemExit, match="8-dim"):
        main(["ann", "--embeddings", emb_path, "--method", "ivf",
              "--model-dir", model_dir, "--out", str(d / "nope_ann2")])


def test_is_path_ref_bare_existing_dir(tmp_path, monkeypatch):
    """A bare relative name that exists on disk is a path, not a table
    identifier; a bare non-existing name stays an identifier."""
    from lucene_msmarco_spark.sources.table_format import is_path_ref

    (tmp_path / "batch").mkdir()
    monkeypatch.chdir(tmp_path)
    assert is_path_ref("batch")
    assert not is_path_ref("transcripts_tbl")
    assert is_path_ref("db/batch") and is_path_ref("s3://b/k")
    assert not is_path_ref("db.transcripts")


def test_cli_qpp_sparsevecs_accept_compact_layouts(workdir, capsys):
    """qpp and sparsevecs rehydrate compact/writer layouts through the
    distributed blob decode instead of crashing on a missing stage dir."""
    d, inp = workdir
    sidx = str(d / "seg_index_q")
    if not os.path.exists(sidx):
        main(["ingest", "--input", inp, "--index", sidx])
        capsys.readouterr()

    res_path = str(d / "run_for_qpp.res")
    main(["retrieve", "--index", sidx, "--queries",
          str(d / "queries.tsv"), "--k", "20", "--out", res_path])
    capsys.readouterr()

    main(["qpp", "--index", sidx, "--queries", str(d / "queries.tsv"),
          "--res", res_path, "--predictor", "nqc", "--k", "20"])
    qpp_lines = [json.loads(x)
                 for x in capsys.readouterr().out.strip().splitlines()]
    assert {r["qid"] for r in qpp_lines} == {"q1", "q2"}

    vec_dir = str(d / "vecs_from_writer")
    main(["sparsevecs", "--index", sidx, "--out", vec_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] > 0


def test_ann_brute_external_queries_keep_id_collisions(spark):
    """exclude_self=False: an external query table's vec_ids are an
    unrelated id space — a collision must not drop the corpus vector."""
    from lucene_msmarco_spark.operators.pipeline import ann_brute_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    kept = ann_brute_topk(emb, q, k=1, exclude_self=False).collect()
    assert [(r["nvec"], round(r["sim"], 6)) for r in kept] == [(1, 1.0)]
    dropped = ann_brute_topk(emb, q, k=1, exclude_self=True).collect()
    assert [r["nvec"] for r in dropped] == [2]


def test_cli_dedup_and_split(workdir, capsys, spark):
    d, inp = workdir
    # dedup needs (doc_id, text): derive a doc table with injected
    # exact-ish duplicates so minhash produces components
    docs_dir = str(d / "docs")
    tr = spark.read.parquet(inp).selectExpr(
        "conv_id", "turn_idx", "text"
    )
    from lucene_msmarco_spark.operators.index import assign_doc_ids

    docs = assign_doc_ids(tr, ["conv_id", "turn_idx"]).select(
        "doc_id", "text"
    )
    dup = docs.limit(5).selectExpr("doc_id + 100000 AS doc_id", "text")
    docs.union(dup).write.parquet(docs_dir)

    groups_dir = str(d / "groups")
    main(["dedup", "--input", docs_dir, "--out", groups_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs_in_groups"] >= 10          # 5 dup pairs at least
    assert out["would_drop"] >= 5
    g = spark.read.parquet(groups_dir)
    assert set(g.columns) == {"doc_id", "component", "is_canonical"}
    # every injected duplicate shares a component with its source
    comp = {r["doc_id"]: r["component"] for r in g.collect()}
    for r in dup.collect():
        assert comp[r["doc_id"]] == comp[r["doc_id"] - 100000]

    split_dir = str(d / "split")
    main(["split", "--input", docs_dir, "--out", split_dir,
          "--weights", "train=0.8,holdout=0.2"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["counts"]) == {"train", "holdout"}
    back = spark.read.parquet(split_dir)
    assert back.count() == docs.count() + 5
    # hive-partitioned by split
    assert sorted(
        r["split"] for r in back.select("split").distinct().collect()
    ) == ["holdout", "train"]


def test_cli_ingest_stream_backfill(workdir, capsys, spark):
    """ingest --stream: Structured-Streaming backfill of a parquet
    landing dir (availableNow drain), one generation per micro-batch
    plus the tiered merge — and a re-run over the same checkpoint is a
    no-op (exactly-once). The engine path has its own 16-case suite in
    test_incremental.py; this pins the CLI wiring (readStream schema,
    checkpoint dir, merge policy plumbing)."""
    d, inp = workdir
    sidx = str(d / "stream_index")
    landing = str(d / "stream_landing")
    spark.read.parquet(inp).write.mode("overwrite").parquet(landing)

    main(["ingest", "--input", landing, "--index", sidx, "--stream",
          "--merge-factor", "2"])
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_docs"] == 200
    assert out1["live_generations"] >= 1

    # drained source + same checkpoint: nothing new to ingest
    main(["ingest", "--input", landing, "--index", sidx, "--stream",
          "--merge-factor", "2"])
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_docs"] == 200
    assert out2["next_gen"] == out1["next_gen"]

    # the streamed index serves through the auto-detected BMW path
    res_path = str(d / "run_stream.res")
    main(["retrieve", "--index", sidx, "--queries",
          str(d / "queries.tsv"), "--model", "bm25", "--k", "10",
          "--out", res_path])
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["engine"] == "bmw" and out3["queries"] == 2


def test_cli_guardrails_round3(workdir, capsys, spark, tmp_path):
    """Review guardrails: (a) dirs in the retired layouts (a staged
    pipeline build dir, an exported postings/ + _stats.json artifact)
    end in a one-line refusal that names the layout and says to rebuild
    with `index`, from every command that opens an index; (b) dedup
    rejects a --min-jaccard that minhash would silently ignore; (c)
    retrieve and compact exit cleanly (no stack trace) on a pre-sidecar
    writer dir."""
    d, inp = workdir
    queries = str(d / "queries.tsv")

    # (a) a pipeline build dir: stage-keyed manifest + config_hash sidecar
    pipe = tmp_path / "pipeline_dir"
    (pipe / "doc_ids").mkdir(parents=True)
    (pipe / "_config.json").write_text(
        json.dumps({"analyzer": "english", "config_hash": "deadbeef"})
    )
    (pipe / "_manifest.jsonl").write_text(
        json.dumps({"stage": "doc_ids", "rows": 200}) + "\n"
    )
    # ... and a CompactIndex.save artifact: postings/ + _stats.json
    art = tmp_path / "export_dir"
    (art / "postings").mkdir(parents=True)
    (art / "_stats.json").write_text(json.dumps(
        {"n_docs": 200, "avgdl": 5.0, "total_cf": 1000,
         "analyzer": "english"}
    ))
    for legacy, layout in ((pipe, "staged pipeline build dir"),
                           (art, "_stats.json")):
        argvs = [
            ["retrieve", "--index", str(legacy), "--queries", queries,
             "--out", str(tmp_path / "r.res")],
            ["qpp", "--index", str(legacy), "--queries", queries,
             "--res", str(tmp_path / "r.res")],
            ["sparsevecs", "--index", str(legacy),
             "--out", str(tmp_path / "v")],
        ]
        if legacy is pipe:
            argvs += [
                ["index", "--input", inp, "--out", str(legacy)],
                ["ingest", "--input", inp, "--index", str(legacy)],
            ]
        for argv in argvs:
            with pytest.raises(SystemExit) as ei:
                main(argv)
            msg = str(ei.value)
            assert layout in msg and "`index`" in msg, (argv, msg)
            assert "\n" not in msg
        capsys.readouterr()

    # (b) --min-jaccard with minhash: refused, not silently ignored
    with pytest.raises(SystemExit) as ei:
        main(["dedup", "--input", inp, "--method", "minhash",
              "--min-jaccard", "0.9", "--out", str(tmp_path / "dd")])
    assert "min-jaccard" in str(ei.value)
    capsys.readouterr()

    # (c) a writer dir predating the config sidecar: curated refusal
    # from retrieve/compact, same as ingest (no raw traceback)
    pre = tmp_path / "pre_sidecar"
    (pre / "seg-0").mkdir(parents=True)
    (pre / "_manifest.jsonl").write_text(
        json.dumps({"op": "append", "gen": 0, "batch": "0-abc",
                    "n_docs": 1}) + "\n"
    )
    for argv in (
        ["retrieve", "--index", str(pre), "--queries",
         str(d / "queries.tsv"), "--out", str(tmp_path / "r.res")],
        ["compact", "--index", str(pre)],
    ):
        with pytest.raises(SystemExit) as ei:
            main(argv)
        assert "_config.json" in str(ei.value)
        capsys.readouterr()


def test_fingerprint_version_gate(spark, tmp_path):
    """A writer dir committed under an older batch-fingerprint format
    must refuse open(): the current binary's fingerprints can never
    match the manifest's, so replay dedup would silently duplicate
    every re-delivered batch."""
    import re

    from lucene_msmarco_spark.sources.transcripts import (
        generate_transcripts,
    )
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    idx = str(tmp_path / "fpv")
    w = SegmentedIndexWriter(spark, idx)
    w.append(generate_transcripts(spark, 50, seed=7))
    # current-format dir reopens fine
    assert SegmentedIndexWriter.open(spark, idx).state()["n_docs"] == 50

    # simulate a pre-versioning dir: drop the fp_version field
    cfg_path = os.path.join(idx, "_config.json")
    cfg = json.load(open(cfg_path))
    cfg.pop("fp_version")
    json.dump(cfg, open(cfg_path, "w"))
    with pytest.raises(ValueError, match="fingerprint format"):
        SegmentedIndexWriter.open(spark, idx)


def test_ivf_manifest_tolerates_torn_tail(spark, tmp_path):
    """A kill mid-append can tear the IVF manifest's final line; load
    must serve the last WHOLE entry and the next save must number its
    generation by whole entries only."""
    import numpy as np

    from lucene_msmarco_spark.operators.pipeline import (
        load_ivf_model,
        save_ivf_model,
    )

    path = str(tmp_path / "ivf_torn")
    save_ivf_model(spark, np.eye(4, 8), path,
                   extra_meta={"quality": 0.5})
    mpath = os.path.join(path, "_ivf_manifest.jsonl")
    with open(mpath, "a") as f:
        f.write('{"generation": 1, "n_lis')  # torn mid-append
    C, meta = load_ivf_model(spark, path)
    assert meta["generation"] == 0 and meta["quality"] == 0.5
    entry = save_ivf_model(spark, np.eye(4, 8), path)
    assert entry["generation"] == 1


def test_cli_events_backfill(tmp_path, capsys, spark):
    """events subcommand: both ops produce sentinel-free parquet equal
    to the batch twins, the input dir stays untouched, and an
    incremental --no-drain run + a later drained run over the same
    checkpoint picks up only the new files."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lucene_msmarco_spark.streaming.analytics import EVENTS_SCHEMA

    t0 = dt.datetime(2024, 3, 15, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (eid, t0 + dt.timedelta(minutes=m), uid, et, v, "")
                for (eid, m, uid, et, v) in rows
            ],
            EVENTS_SCHEMA,
        )

    src = str(tmp_path / "events_src")
    a = mk([(i, m, i % 2, "a", 1.0) for i, m in enumerate(range(0, 180, 15))])
    a.coalesce(1).write.mode("overwrite").parquet(src + "/b0")
    listing = lambda: {  # noqa: E731
        os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs
    }
    before = listing()

    # hourly op, full drain
    out_h = str(tmp_path / "hourly_out")
    main(["events", "--input", src, "--out", out_h, "--op", "hourly"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = spark.read.parquet(out_h)
    want = a.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    assert rep["rows"] == want.count() == got.count()
    assert got.select(*want.columns).exceptAll(want).count() == 0
    assert listing() == before

    # sessionize: incremental no-drain run, new file lands, drained run
    out_s = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    main(["events", "--input", src, "--out", out_s, "--op", "sessionize",
          "--checkpoint", ckpt, "--no-drain"])
    capsys.readouterr()
    b = mk([(100, 200, 0, "a", 2.0), (101, 500, 1, "a", 3.0)])
    b.coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    before = listing()  # b1 is OUR new data; the CLI must add nothing
    main(["events", "--input", src, "--out", out_s, "--op", "sessionize",
          "--checkpoint", ckpt])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = spark.read.parquet(out_s)
    assert rep["rows"] == got.count()
    # equals the batch oracle SQL (rendered from the same dialect
    # template as the contract row -- no hand-copied twin) over the
    # full input
    from lucene_msmarco_spark.entry_queries import build_sql

    a.unionByName(b).createOrReplaceTempView("events")
    want = spark.sql(build_sql("events_sessionize", "spark"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert listing() == before

    # a drained checkpoint refuses further runs (they would silently
    # late-drop any newly-landed events) unless --resume-drain
    with pytest.raises(SystemExit, match="already drained"):
        main(["events", "--input", src, "--out", out_s,
              "--op", "sessionize", "--checkpoint", ckpt])
