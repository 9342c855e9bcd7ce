"""The segmented index writer (append, compaction, lineage, kill-safety)
and the Structured-Streaming ingest over it."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_msmarco_spark.operators.postings import postings_to_tokens
from lucene_msmarco_spark.sources.transcripts import transcripts_local


def _land(spark, pdf, src, tmp, name):
    """Write one parquet FILE into the landing dir (file-stream source
    does not recurse into write.parquet output dirs)."""
    import glob
    import shutil

    from lucene_msmarco_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    staging = str(tmp / f"_stage_{name}")
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.parquet(staging, mode="overwrite")
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    shutil.move(part, str(src / f"{name}.parquet"))


# ---------------------------------------------------------------------------
# SegmentedIndexWriter: append + compaction over the CompactIndex layout
# ---------------------------------------------------------------------------

WRITER_QUERIES = [
    ("q1", "ricufex kekegra report"),
    ("q2", "yacuv biripol yacuv"),
    ("q3", "zedzedwi rigrasto bicubi cugramo"),
    ("q4", "tamori polgrake verlu"),
]


def _writer_fixture(spark, tmp_path, n=240, n_batches=3):
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    pdf = (
        transcripts_local(n, seed=11)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    size = -(-n // n_batches)
    batches = [pdf.iloc[i * size:(i + 1) * size] for i in range(n_batches)]
    w = SegmentedIndexWriter(spark, str(tmp_path / "segidx"))
    return w, pdf, batches


def _full_rebuild(spark, pdf):
    from lucene_msmarco_spark.operators.index import (
        assign_doc_ids,
        build_index,
    )
    from lucene_msmarco_spark.operators.postings import CompactIndex

    docs = assign_doc_ids(spark.createDataFrame(pdf),
                          ["conv_id", "turn_idx"])
    idx = build_index(docs, analyzer="english", cache=False)
    return CompactIndex.from_index(idx)


def _bmw_run(spark, compact, k=10):
    from lucene_msmarco_spark.operators.postings import bmw_search
    from lucene_msmarco_spark.operators.retrieval import compile_queries

    qdf = spark.createDataFrame(WRITER_QUERIES, "qid string, qtext string")
    qt = compile_queries(qdf, analyzer="english")
    return bmw_search(compact, qt, k=k).orderBy("qid", "rank").collect()


def _assert_same_run(a, b):
    assert len(a) == len(b) and len(a) > 0
    for ra, rb in zip(a, b):
        assert (ra["qid"], ra["doc_id"], ra["rank"]) == (
            rb["qid"], rb["doc_id"], rb["rank"]
        )
        assert abs(ra["score"] - rb["score"]) <= 1e-9 * max(
            1.0, abs(ra["score"])
        )


def test_segmented_writer_append_equals_full_rebuild(spark, tmp_path):
    """Three appended batches must answer queries rank+score identical
    to one monolithic build over the concatenated corpus (batches are
    ordered slices, so doc-id assignment coincides)."""
    w, pdf, batches = _writer_fixture(spark, tmp_path)
    for b in batches:
        w.append(spark.createDataFrame(b))
    inc = w.load()
    full = _full_rebuild(spark, pdf)
    assert inc.stats.n_docs == full.stats.n_docs
    assert abs(inc.stats.avgdl - full.stats.avgdl) < 1e-12
    assert inc.stats.total_cf == full.stats.total_cf
    _assert_same_run(_bmw_run(spark, inc), _bmw_run(spark, full))
    # decoded content identical too (postings-level equivalence)
    back = (
        postings_to_tokens(inc.postings).toPandas()
        .sort_values(["term", "doc_id"]).reset_index(drop=True)
    )
    truth = (
        postings_to_tokens(full.postings).toPandas()
        .sort_values(["term", "doc_id"]).reset_index(drop=True)
    )
    assert back.equals(truth)


def test_segmented_writer_compact_preserves_results(spark, tmp_path):
    """Compaction rewrites the physical layout only: same doc ids, same
    ranks/scores, fewer live generations; a compacted-away batch is
    still recognized as already-appended (no doc duplication)."""
    w, pdf, batches = _writer_fixture(spark, tmp_path)
    entries = [w.append(spark.createDataFrame(b)) for b in batches]
    before = _bmw_run(spark, w.load())
    centry = w.compact()
    assert centry is not None
    assert sorted(centry["replaces"]) == [e["gen"] for e in entries]
    st = w.state()
    assert [e["gen"] for e in st["live"]] == [centry["gen"]]
    after_idx = w.load()
    assert after_idx.stats.n_docs == len(pdf)
    _assert_same_run(before, _bmw_run(spark, after_idx))
    # idempotence survives compaction: re-append of batch 0 is a no-op
    again = w.append(spark.createDataFrame(batches[0]))
    assert again["gen"] == entries[0]["gen"]
    assert w.state()["n_docs"] == len(pdf)
    # compacting a single live gen is a no-op
    assert w.compact() is None


def test_segmented_writer_kill_resume_idempotent(spark, tmp_path,
                                                 monkeypatch):
    """Kill between the segment parquet write and the manifest commit:
    the retry overwrites the orphan dir and commits exactly one entry."""
    import lucene_msmarco_spark.streaming.incremental as inc_mod

    w, pdf, batches = _writer_fixture(spark, tmp_path, n_batches=2)
    w.append(spark.createDataFrame(batches[0]))

    boom = RuntimeError("simulated kill before manifest commit")

    def die(entry):
        raise boom

    monkeypatch.setattr(w, "_commit", die)
    with pytest.raises(RuntimeError):
        w.append(spark.createDataFrame(batches[1]))
    monkeypatch.undo()
    # orphan parquet exists but is invisible: state unchanged
    st = w.state()
    assert st["n_docs"] == len(batches[0])
    assert len(st["live"]) == 1
    # retry lands exactly once and the index equals the full rebuild
    w.append(spark.createDataFrame(batches[1]))
    st = w.state()
    assert st["n_docs"] == len(pdf)
    appends = [e for e in w._entries() if e["op"] == "append"]
    assert len(appends) == 2
    full = _full_rebuild(spark, pdf)
    _assert_same_run(_bmw_run(spark, w.load()), _bmw_run(spark, full))


def test_pipeline_resume_after_partial_kill(spark, tmp_path, monkeypatch):
    """Kill a compaction between its parquet write and the manifest
    commit: the live set and the answers are unchanged, and the retry
    overwrites the orphan generation and merges exactly once."""
    w, pdf, batches = _writer_fixture(spark, tmp_path, n_batches=2)
    entries = [w.append(spark.createDataFrame(b)) for b in batches]
    before = _bmw_run(spark, w.load())

    def die(entry):
        raise RuntimeError("simulated kill before manifest commit")

    monkeypatch.setattr(w, "_commit", die)
    with pytest.raises(RuntimeError):
        w.compact()
    monkeypatch.undo()
    orphan = w.state()["next_gen"]
    assert os.path.exists(w._gen_dir(orphan))
    assert [e["gen"] for e in w.state()["live"]] == [
        e["gen"] for e in entries
    ]
    _assert_same_run(before, _bmw_run(spark, w.load()))

    centry = w.compact()
    assert centry["gen"] == orphan
    assert [e["op"] for e in w._entries()] == ["append", "append", "compact"]
    _assert_same_run(before, _bmw_run(spark, w.load()))


def test_pipeline_resume_skips_completed(spark, tmp_path):
    """A restarted build (a fresh writer opened over the same dir) skips
    every batch that already committed: re-appending them is a no-op
    that returns the committed entries."""
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    w, pdf, batches = _writer_fixture(spark, tmp_path, n=120, n_batches=2)
    entries = [w.append(spark.createDataFrame(b)) for b in batches]
    w2 = SegmentedIndexWriter.open(spark, w.index_dir)
    assert [w2.append(spark.createDataFrame(b)) for b in batches] == entries
    assert len(w2._entries()) == len(batches)


def test_pipeline_runs_and_records_lineage(spark, tmp_path):
    """Every append and compaction records its lineage in its manifest
    entry: blob rows per segment (equal to the generation's parquet)
    and wall time."""
    from lucene_msmarco_spark.streaming.incremental import BuildConfig

    w, pdf, batches = _writer_fixture(spark, tmp_path, n=240, n_batches=2)
    w.config = BuildConfig(analyzer="simple", docs_per_segment=30)

    def check(e):
        per = dict(
            spark.read.parquet(w._gen_dir(e["gen"]))
            .groupBy("segment").count().collect()
        )
        assert len(e["segment_rows"]) == e["seg_span"] == len(per)
        assert e["segment_rows"] == [
            per[e["seg_base"] + i] for i in range(e["seg_span"])
        ]
        assert e["wall_s"] > 0

    entries = [w.append(spark.createDataFrame(b)) for b in batches]
    for e in entries:
        assert e["seg_span"] == 4  # 120 docs at 30 docs/segment
        check(e)
    check(w.compact())


def test_segmented_writer_mixed_compaction_counts_docs(spark, tmp_path):
    """Merging a prior compaction WITH a later append must record the
    full merged doc count (regression: summing only the append entries
    under-counted mixed merges, under-sizing derive_n_segments), and
    results stay identical to the full rebuild."""
    w, pdf, batches = _writer_fixture(spark, tmp_path, n_batches=3)
    e0 = w.append(spark.createDataFrame(batches[0]))
    e1 = w.append(spark.createDataFrame(batches[1]))
    c1 = w.compact([e0["gen"], e1["gen"]])
    assert c1["n_docs"] == len(batches[0]) + len(batches[1])
    e2 = w.append(spark.createDataFrame(batches[2]))
    c2 = w.compact()  # merges the prior compaction with the new append
    assert sorted(c2["replaces"]) == sorted([c1["gen"], e2["gen"]])
    assert c2["n_docs"] == len(pdf)
    assert c2["total_cf"] == e0["total_cf"] + e1["total_cf"] + e2["total_cf"]
    st = w.state()
    assert [e["gen"] for e in st["live"]] == [c2["gen"]]
    assert st["n_docs"] == len(pdf)
    full = _full_rebuild(spark, pdf)
    _assert_same_run(_bmw_run(spark, w.load()), _bmw_run(spark, full))


def test_segmented_writer_rebases_append_segments(spark, tmp_path):
    """A non-first append must spread its batch across its OWN doc-range
    segments (regression: segmenting by ABSOLUTE doc id with n_docs =
    batch size clamped every later batch into one segment — one giant
    encode/query task), and query results still equal the full rebuild."""
    from lucene_msmarco_spark.operators.index import (
        assign_doc_ids,
        build_index,
    )
    from lucene_msmarco_spark.operators.postings import (
        CompactIndex,
        bmw_search,
    )
    from lucene_msmarco_spark.operators.retrieval import compile_queries
    from lucene_msmarco_spark.streaming.incremental import (
        BuildConfig,
        SegmentedIndexWriter,
    )

    pdf = (
        transcripts_local(240, seed=11)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    batches = [pdf.iloc[:120], pdf.iloc[120:]]
    w = SegmentedIndexWriter(
        spark, str(tmp_path / "rebase"),
        config=BuildConfig(analyzer="simple", docs_per_segment=30),
    )
    e0 = w.append(spark.createDataFrame(batches[0]))
    e1 = w.append(spark.createDataFrame(batches[1]))
    # 120 docs at 30 docs/segment -> 4 segments per batch, BOTH batches
    assert e0["seg_span"] == 4
    assert e1["seg_span"] == 4, (
        "second append clamped into fewer segments than its size implies"
    )
    seg1 = spark.read.parquet(str(tmp_path / "rebase"
                                  / f"seg-{e1['gen']:06d}"))
    per = seg1.groupBy("segment").agg(F.sum("df").alias("df")).collect()
    assert len(per) == 4 and all(r["df"] > 0 for r in per)

    docs = assign_doc_ids(spark.createDataFrame(pdf),
                          ["conv_id", "turn_idx"])
    idx = build_index(docs, analyzer="simple", cache=False)
    full = CompactIndex.from_index(idx)
    qdf = spark.createDataFrame(WRITER_QUERIES, "qid string, qtext string")
    qt = compile_queries(qdf, analyzer="simple")
    a = bmw_search(w.load(), qt, k=10).orderBy("qid", "rank").collect()
    b = bmw_search(full, qt, k=10).orderBy("qid", "rank").collect()
    _assert_same_run(a, b)


def test_segmented_writer_tolerates_torn_manifest_tail(spark, tmp_path):
    """A kill mid-manifest-write leaves a torn final line; every writer
    op must keep working (the torn op never committed), and the next
    commit must repair the file rather than concatenate into the torn
    text."""
    w, pdf, batches = _writer_fixture(spark, tmp_path)
    e0 = w.append(spark.createDataFrame(batches[0]))
    with open(w.manifest_path, "a") as f:
        f.write('{"op": "append", "gen": 1, "n_do')  # torn mid-write
    st = w.state()  # must not raise
    assert [e["gen"] for e in st["live"]] == [e0["gen"]]
    e1 = w.append(spark.createDataFrame(batches[1]))  # repairs + commits
    assert e1["gen"] == e0["gen"] + 1
    # the manifest is clean again: every line parses
    with open(w.manifest_path) as f:
        entries = [json.loads(ln) for ln in f if ln.strip()]
    assert [e["gen"] for e in entries] == [e0["gen"], e1["gen"]]
    full = _full_rebuild(
        spark, pd.concat(batches[:2]).reset_index(drop=True)
    )
    _assert_same_run(_bmw_run(spark, w.load()), _bmw_run(spark, full))


def test_writer_fingerprint_sum_not_xor(spark, tmp_path):
    """Batch fingerprints must not XOR-cancel duplicate rows: two
    different batches whose duplicated rows cancel identically would
    collide under bit_xor and the second append would be silently
    dropped as an idempotent no-op (data loss). Order-independence must
    still hold."""
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    w = SegmentedIndexWriter(spark, str(tmp_path / "fp"))
    schema = "conv_id string, turn_idx int, text string"
    b1 = spark.createDataFrame(
        [("x", 0, "t"), ("x", 0, "t"), ("y", 0, "u")], schema
    )
    b2 = spark.createDataFrame(
        [("z", 0, "v"), ("z", 0, "v"), ("y", 0, "u")], schema
    )
    assert w._fingerprint(b1) != w._fingerprint(b2)
    b1_rev = spark.createDataFrame(
        [("y", 0, "u"), ("x", 0, "t"), ("x", 0, "t")], schema
    )
    assert w._fingerprint(b1) == w._fingerprint(b1_rev)


def test_input_fingerprint_changes_with_data(spark, tmp_path):
    """The batch content address changes when the input does — one value
    edited in place (same row count) or one row added — so a re-run
    over an edited input is never mistaken for a committed batch."""
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    w = SegmentedIndexWriter(spark, str(tmp_path / "fpdata"))
    schema = "conv_id string, turn_idx int, text string"
    rows = [("a", 0, "alpha"), ("a", 1, "beta")]
    f1 = w._fingerprint(spark.createDataFrame(rows, schema))
    edited = [("a", 0, "alpha"), ("a", 1, "betb")]
    assert w._fingerprint(spark.createDataFrame(edited, schema)) != f1
    added = rows + [("b", 0, "gamma")]
    assert w._fingerprint(spark.createDataFrame(added, schema)) != f1


def test_stream_append_equals_full_rebuild(spark, tmp_path):
    """Structured-Streaming ingestion (file source, one file per
    micro-batch via maxFilesPerTrigger + availableNow) must equal the
    batch full rebuild; then a FULL replay from a fresh checkpoint
    (at-least-once delivery, worst case) must append nothing — the
    content-addressed manifest makes the foreachBatch sink exactly-once
    end to end."""
    import os as _os

    from lucene_msmarco_spark.streaming.incremental import stream_append

    w, pdf, batches = _writer_fixture(spark, tmp_path)
    src = tmp_path / "stream_src"
    src.mkdir()
    # one parquet file per batch; mtimes strictly increasing so the file
    # source's oldest-first order matches the batch order (doc ids are
    # allocated append-order, and rank tie-breaks read them)
    for i, b in enumerate(batches):
        _land(spark, b, src, tmp_path, f"batch-{i}")
        p = str(src / f"batch-{i}.parquet")
        _os.utime(p, (1_000_000 + i, 1_000_000 + i))
    from lucene_msmarco_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    schema = TRANSCRIPT_SCHEMA

    def start(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        return stream_append(w, stream, str(tmp_path / ckpt))

    assert start("ckpt").awaitTermination(300)
    full = _bmw_run(spark, _full_rebuild(spark, pdf))
    _assert_same_run(_bmw_run(spark, w.load()), full)
    n_gens = len(w.state()["live"])
    assert n_gens == len(batches)

    assert start("ckpt_replay").awaitTermination(300)
    assert len(w.state()["live"]) == n_gens
    _assert_same_run(_bmw_run(spark, w.load()), full)


def test_stream_append_compacts_on_cadence(spark, tmp_path):
    """The merge policy folds live generations through the streaming
    sink; results are unchanged by the merge."""
    import os as _os

    from lucene_msmarco_spark.streaming.incremental import (
        MergePolicy,
        stream_append,
    )

    w, pdf, batches = _writer_fixture(spark, tmp_path)
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, b in enumerate(batches):
        _land(spark, b, src, tmp_path, f"batch-{i}")
        p = str(src / f"batch-{i}.parquet")
        _os.utime(p, (1_000_000 + i, 1_000_000 + i))
    from lucene_msmarco_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    schema = TRANSCRIPT_SCHEMA
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = stream_append(w, stream, str(tmp_path / "ckpt"),
                      merge_policy=MergePolicy(merge_factor=2))
    assert q.awaitTermination(300)
    # 3 appends with merge_factor=2: gens 0,1 -> compacted, + append 2
    ops = [e["op"] for e in w._entries()]
    assert "compact" in ops
    assert len(w.state()["live"]) < len(batches)
    _assert_same_run(
        _bmw_run(spark, w.load()),
        _bmw_run(spark, _full_rebuild(spark, pdf)),
    )


# ---------------------------------------------------------------------------
# tiered merge policy + gdf sidecar (self-maintaining writer)
# ---------------------------------------------------------------------------


def test_merge_policy_tiering_is_size_aware():
    """Tier binning: similar-sized generations share a tier; a merged
    generation promotes to a higher tier and stops re-merging with
    fresh small appends (the write-amplification guard)."""
    from lucene_msmarco_spark.streaming.incremental import MergePolicy

    p = MergePolicy(merge_factor=10)
    assert p.tier_of(5) == p.tier_of(8)          # same small tier
    assert p.tier_of(80) == p.tier_of(99)
    assert p.tier_of(800) > p.tier_of(80) > p.tier_of(8)
    assert p.tier_of(0) == p.tier_of(1)          # degenerate sizes safe


def test_maybe_compact_merges_tiers_and_cascades(spark, tmp_path):
    """Six equal appends under merge_factor=2 must fold like an LSM
    tree — pairs merge, merged pairs merge again — and every compaction
    entry must merge exactly merge_factor generations (never the whole
    live set), with query results unchanged throughout."""
    from lucene_msmarco_spark.streaming.incremental import MergePolicy

    w, pdf, batches = _writer_fixture(spark, tmp_path, n=240, n_batches=6)
    policy = MergePolicy(merge_factor=2)
    for b in batches:
        w.append(spark.createDataFrame(b))
        w.maybe_compact(policy)
    compacts = [e for e in w._entries() if e["op"] == "compact"]
    assert compacts, "policy never triggered"
    # tiered discipline: every merge folds exactly merge_factor gens
    assert all(len(e["replaces"]) == 2 for e in compacts)
    # 6 equal appends at mf=2 cascade 2+2->4, 2+2->4 is one tier up:
    # at least one compaction merges two COMPACTION outputs
    gen_by_id = {e["gen"]: e for e in w._entries()}
    assert any(
        all(gen_by_id[g]["op"] == "compact" for g in e["replaces"])
        for e in compacts
    ), "no cascade merge of merged generations"
    # steady state holds fewer live gens than appends, never 1-per-batch
    assert len(w.state()["live"]) <= 3
    _assert_same_run(
        _bmw_run(spark, w.load()),
        _bmw_run(spark, _full_rebuild(spark, pdf)),
    )


def test_maybe_compact_noop_below_threshold(spark, tmp_path):
    from lucene_msmarco_spark.streaming.incremental import MergePolicy

    w, pdf, batches = _writer_fixture(spark, tmp_path)
    w.append(spark.createDataFrame(batches[0]))
    assert w.maybe_compact(MergePolicy(merge_factor=10)) == []
    assert len(w.state()["live"]) == 1


def test_repair_preserves_committed_line_missing_newline(spark, tmp_path):
    """A kill between the manifest write and the newline leaves a
    COMPLETE json final line with no trailing \\n. _entries() honors it
    as committed (docs counted, replays deduped), so repair must finish
    the line, not truncate it — truncation would erase a committed
    generation and free its doc-id range for reuse."""
    w, pdf, batches = _writer_fixture(spark, tmp_path)
    w.append(spark.createDataFrame(batches[0]))
    w.append(spark.createDataFrame(batches[1]))
    with open(w.manifest_path, "rb") as f:
        data = f.read()
    assert data.endswith(b"\n")
    with open(w.manifest_path, "wb") as f:
        f.write(data[:-1])  # simulate the kill: newline never landed
    docs_before = w.state()["n_docs"]
    w.append(spark.createDataFrame(batches[2]))  # triggers repair
    st = w.state()
    assert st["n_docs"] == docs_before + len(batches[2])
    assert len(st["live"]) == 3  # nothing erased
    # and the repaired manifest parses clean line by line
    with open(w.manifest_path) as f:
        assert all(json.loads(ln) for ln in f if ln.strip())


def test_fingerprint_distinguishes_null_column_shift(spark, tmp_path):
    """xxhash64(c1..cn) passes its seed through on NULL inputs, so a
    value shifting between adjacent nullable columns must still change
    the batch fingerprint (else the second batch is silently dropped)."""
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    w = SegmentedIndexWriter(spark, str(tmp_path / "fpnull"))
    schema = "conv_id string, turn_idx int, text string, tool string"
    b1 = spark.createDataFrame([("c", 0, "x", None)], schema)
    b2 = spark.createDataFrame([("c", 0, None, "x")], schema)
    assert w._fingerprint(b1) != w._fingerprint(b2)


def test_segment_cut_survives_sparse_id_spans(spark):
    """(doc_id - base) * n_segments overflowed int64 for sparse
    base-offset id spaces (batch_id << 40 from the third batch on); the
    integer-division cut must bucket them exactly."""
    from lucene_msmarco_spark.operators.postings import (
        derive_n_segments,
        encode_postings_segmented,
    )

    ids = [0, 1, (1 << 40), (1 << 40) + 1, (2 << 40), (2 << 40) + 5]
    span = (2 << 40) + 6
    tokens = spark.createDataFrame(
        [("t", i, 1, 3) for i in ids],
        "term string, doc_id long, tf int, doclen int",
    )
    n_seg = derive_n_segments(span)  # ~8.4M segments of 262144 docs
    seg = encode_postings_segmented(
        tokens, n_segments=n_seg, n_docs=span, with_gdf=False
    ).toPandas()
    assert (seg["segment"] >= 0).all()
    assert (seg["segment"] < n_seg).all()
    # ids 2^40 apart land in far-apart segments; same-block ids share
    got = sorted(seg["segment"].unique())
    assert len(got) == 3


def test_compact_reclaims_dead_generation_dirs(spark, tmp_path):
    """Merged-away generations' seg-*/gdf-* dirs are deleted (Lucene
    deletes merged segments); the live ones survive and the loaded
    index still answers identically to a full rebuild."""
    import os as _os

    w, pdf, batches = _writer_fixture(spark, tmp_path)
    for b in batches:
        w.append(spark.createDataFrame(b))
    entry = w.compact()
    assert entry is not None
    for g in entry["replaces"]:
        assert not _os.path.exists(w._gen_dir(g))
        assert not _os.path.exists(w._gdf_dir(g))
    assert _os.path.exists(w._gen_dir(entry["gen"]))
    _assert_same_run(
        _bmw_run(spark, w.load()),
        _bmw_run(spark, _full_rebuild(spark, pdf)),
    )


def test_merge_policy_rejects_degenerate_factor():
    from lucene_msmarco_spark.streaming.incremental import MergePolicy

    for bad in (0, 1, -3):
        with pytest.raises(ValueError, match="merge_factor"):
            MergePolicy(merge_factor=bad)


def test_merge_policy_tier_exact_powers():
    """int(math.log(1000, 10)) == 2 would bin a 1000-doc generation one
    tier LOW, merging it with 100-doc peers (10x size disparity); the
    integer-division tier must bin exact powers with their own size
    class."""
    from lucene_msmarco_spark.streaming.incremental import MergePolicy

    p = MergePolicy(merge_factor=10)
    for power in (1, 2, 3, 6):
        n = 10 ** power
        assert p.tier_of(n) == power
        assert p.tier_of(n - 1) == power - 1
    assert MergePolicy(merge_factor=2).tier_of(1024) == 10


def test_writer_open_restores_config_and_refuses_legacy(spark, tmp_path):
    """open() restores the persisted BuildConfig; a dir with commits
    but NO _config.json (pre-sidecar) refuses instead of guessing the
    analyzer; a future-versioned sidecar (extra/missing fields) still
    opens and appends (key-intersection comparison)."""
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    w, pdf, batches = _writer_fixture(spark, tmp_path)
    w.config.analyzer = "simple"
    w.append(spark.createDataFrame(batches[0]))

    w2 = SegmentedIndexWriter.open(spark, w.index_dir)
    assert w2.config.analyzer == "simple"
    assert w2.keys == ("conv_id", "turn_idx")

    # schema evolution: sidecar gains an unknown field and loses a
    # known one -> open() tolerates, append still commits
    cfg = json.load(open(w.config_path))
    cfg["future_knob"] = 7
    del cfg["block_size"]
    json.dump(cfg, open(w.config_path, "w"))
    w3 = SegmentedIndexWriter.open(spark, w.index_dir)
    assert w3.config.analyzer == "simple"
    w3.append(spark.createDataFrame(batches[1]))
    assert w3.state()["n_docs"] == len(batches[0]) + len(batches[1])

    # pre-sidecar dir: manifest but no config -> open() must refuse
    os.remove(w.config_path)
    with pytest.raises(FileNotFoundError, match="_config.json"):
        SegmentedIndexWriter.open(spark, w.index_dir)

    # a genuinely different config against a live sidecar still refuses
    json.dump(cfg, open(w.config_path, "w"))
    w4 = SegmentedIndexWriter(spark, w.index_dir)  # default: english
    with pytest.raises(ValueError, match="config mismatch"):
        w4.append(spark.createDataFrame(batches[2]))


def test_load_gdf_from_sidecar_no_term_window(spark, tmp_path):
    """The load path must NOT shuffle blob rows through a term window:
    gdf comes from summing the per-generation sidecars (term-level
    metadata) and joining. Pins both the plan shape and the values."""
    w, pdf, batches = _writer_fixture(spark, tmp_path)
    for b in batches:
        w.append(spark.createDataFrame(b))
    w.compact([0, 1])
    compact = w.load()
    plan = (
        compact.postings._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan
    # sidecar gdf values == the window-computed truth
    from pyspark.sql import Window as W

    truth = (
        spark.read.parquet(
            *[w._gen_dir(e["gen"]) for e in w.state()["live"]]
        )
        .withColumn("gdf_w", F.sum("df").over(W.partitionBy("term")))
        .select("term", "segment", "gdf_w")
    )
    joined = compact.postings.select("term", "segment", "gdf").join(
        truth, ["term", "segment"]
    )
    assert joined.count() > 0
    assert joined.filter(F.col("gdf") != F.col("gdf_w")).count() == 0


def test_load_falls_back_to_window_for_old_manifests(spark, tmp_path):
    """Manifests written before sidecars existed (no ``gdf`` flag) must
    still load — via the legacy term window."""
    w, pdf, batches = _writer_fixture(spark, tmp_path)
    for b in batches[:2]:
        w.append(spark.createDataFrame(b))
    # simulate a pre-sidecar manifest: strip the gdf flag
    entries = w._entries()
    for e in entries:
        e.pop("gdf", None)
    with open(w.manifest_path, "w") as f:
        for e in entries:
            f.write(json.dumps(e) + "\n")
    compact = w.load()
    plan = compact.postings._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert compact.postings.count() > 0


def test_fingerprint_timezone_independent(spark, tmp_path):
    """to_json renders timestamps in the SESSION timezone, so the batch
    content-address pins timeZone=UTC: without it, an at-least-once
    replay after a driver restart under a different
    spark.sql.session.timeZone would fingerprint the same batch
    differently and re-append (duplicate) every row instead of
    no-oping."""
    from lucene_msmarco_spark.streaming.incremental import (
        SegmentedIndexWriter,
    )

    w = SegmentedIndexWriter(spark, str(tmp_path / "fp_tz"))
    # a fixed INSTANT (epoch seconds — timezone-independent), not a
    # parsed local time, so only the fingerprint's rendering varies
    # with the session config
    df = spark.range(1).select(
        F.lit("x").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("t").alias("text"),
        F.timestamp_seconds(F.lit(1767323045)).alias("ts"),
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        f_utc = w._fingerprint(df)
        spark.conf.set(
            "spark.sql.session.timeZone", "America/Los_Angeles"
        )
        f_la = w._fingerprint(df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert f_utc == f_la
