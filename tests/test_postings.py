"""Compressed postings segments (varint/delta/block-max) + BMW fast path.

Gates per SURVEY.md §4: (a) ``decode(encode(x)) == x``; (b) block stats
are valid bounds; (c) BMW returns the same top-k docs/ranks as
exhaustive DataFrame scoring; (d) retrieval re-run from blobs matches
retrieval from the tokens table.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_msmarco_spark.config import BM25Config
from lucene_msmarco_spark.functions.varint import (
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from lucene_msmarco_spark.operators.index import assign_doc_ids, build_index
from lucene_msmarco_spark.operators.postings import (
    CompactIndex,
    _round_half_away,
    bmw_search,
    encode_postings_segmented,
    postings_to_tokens,
)
from lucene_msmarco_spark.operators.retrieval import compile_queries, search
from lucene_msmarco_spark.sources.transcripts import transcripts_local

N_TURNS = 400

QUERIES = [
    ("q1", "ricufex kekegra report"),
    ("q2", "yacuv biripol yacuv"),
    ("q3", "zedzedwi rigrasto bicubi cugramo"),
    ("q4", "the and of"),
    ("q5", "tamori polgrake verlu"),
]


# ---------------------------------------------------------------------------
# codec unit tests
# ---------------------------------------------------------------------------

@given(
    st.lists(st.integers(min_value=0, max_value=2**41), max_size=200)
)
@settings(max_examples=60, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    assert np.array_equal(varint_decode(varint_encode(arr)),
                          arr) or arr.size == 0


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        min_size=1, max_size=200, unique=True,
    )
)
@settings(max_examples=60, deadline=None)
def test_delta_roundtrip(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


def test_varint_known_bytes():
    assert varint_encode(np.array([0])) == b"\x00"
    assert varint_encode(np.array([127])) == b"\x7f"
    assert varint_encode(np.array([128])) == b"\x80\x01"
    assert varint_encode(np.array([300])) == b"\xac\x02"


# ---------------------------------------------------------------------------
# Spark fixtures
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def idx(spark):
    pdf = transcripts_local(N_TURNS, seed=42)
    sdf = spark.createDataFrame(pdf)
    docs = assign_doc_ids(sdf, ["conv_id", "turn_idx"])
    return build_index(docs, analyzer="english")


@pytest.fixture(scope="module")
def tokens_pd(idx):
    return (
        idx.tokens.toPandas()
        .sort_values(["term", "doc_id"])
        .reset_index(drop=True)
    )


def _docs_by_segment(postings) -> dict[int, set[int]]:
    """Doc ids each segment's blob rows hold, decoded through
    postings_to_tokens one segment at a time."""
    from pyspark.sql import functions as F

    segs = [r.segment for r in postings.select("segment").distinct().collect()]
    return {
        int(s): {
            int(r.doc_id) for r in postings_to_tokens(
                postings.filter(F.col("segment") == s)
            ).select("doc_id").collect()
        }
        for s in segs
    }


def test_postings_roundtrip(idx, tokens_pd):
    enc = encode_postings_segmented(idx.tokens, block_size=16, n_segments=3)
    back = (
        postings_to_tokens(enc).toPandas()
        .sort_values(["term", "doc_id"]).reset_index(drop=True)
    )
    assert len(back) == len(tokens_pd)
    assert (back["term"].values == tokens_pd["term"].values).all()
    assert (back["doc_id"].values == tokens_pd["doc_id"].values).all()
    assert (back["tf"].values == tokens_pd["tf"].values).all()
    assert (back["doclen"].values == tokens_pd["doclen"].values).all()
    # per-segment df/cf sum to the tokens-level truth, and gdf is global
    enc_pd = enc.toPandas()
    got = enc_pd.groupby("term").agg(df=("df", "sum"), cf=("cf", "sum"),
                                     gdf=("gdf", "max"))
    truth = tokens_pd.groupby("term").agg(
        df=("doc_id", "count"), cf=("tf", "sum")
    )
    assert (got["df"] == truth["df"]).all()
    assert (got["cf"] == truth["cf"]).all()
    assert (got["gdf"] == truth["df"]).all()


def test_block_stats_are_valid_bounds(idx):
    enc = encode_postings_segmented(
        idx.tokens, block_size=8, n_segments=2, with_gdf=False
    ).toPandas()
    back = {(r.term, r.segment): r for r in enc.itertuples()}
    toks = idx.tokens.toPandas()
    width = -(-(int(toks["doc_id"].max()) + 1) // 2)
    toks["segment"] = toks["doc_id"] // width
    for (term, segment), grp in toks.groupby(["term", "segment"]):
        r = back[(term, segment)]
        grp = grp.sort_values("doc_id")
        tfs = grp["tf"].values
        dls = grp["doclen"].values
        bs = r.block_size
        assert len(r.block_last) == -(-len(tfs) // bs)
        for bi in range(len(r.block_last)):
            lo, hi = bi * bs, min((bi + 1) * bs, len(tfs))
            assert r.block_max_tf[bi] == tfs[lo:hi].max()
            assert r.block_min_dl[bi] == dls[lo:hi].min()
            assert r.block_last[bi] == grp["doc_id"].values[hi - 1]


# ---------------------------------------------------------------------------
# retrieval equality
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def compact(idx):
    """from_index with NO layout argument — must pick the segmented
    partition-local encode (the fused english build tags its tokens as
    doc-complete per partition)."""
    return CompactIndex.from_index(idx, block_size=16)


def _runs_equal(a, b, score_tol=1e-9):
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert (ra["qid"], ra["doc_id"], ra["rank"]) == (
            rb["qid"], rb["doc_id"], rb["rank"]
        )
        assert abs(ra["score"] - rb["score"]) <= score_tol * max(
            1.0, abs(ra["score"])
        )


@pytest.mark.parametrize("k", [3, 10, 50])
def test_bmw_equals_exhaustive(spark, idx, compact, k):
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    cfg = BM25Config(k1=0.9, b=0.4)
    exact = (
        search(idx, qdf, model="bm25", k=k)
        .orderBy("qid", "rank").collect()
    )
    qt = compile_queries(qdf, analyzer="english")
    bmw = (
        bmw_search(compact, qt, k=k, cfg=cfg)
        .orderBy("qid", "rank").collect()
    )
    _runs_equal(exact, bmw)


def test_search_from_rehydrated_blobs(spark, idx, compact):
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    exact = search(idx, qdf, model="bm25", k=20).orderBy(
        "qid", "rank").collect()
    re_idx = compact.to_inverted_index()
    redone = search(re_idx, qdf, model="bm25", k=20).orderBy(
        "qid", "rank").collect()
    _runs_equal(exact, redone)


# ---------------------------------------------------------------------------
# doc-range-segmented layout (the BMW scale path)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def compact_seg(idx):
    return CompactIndex.from_index(idx, block_size=16, n_segments=4)


@pytest.mark.parametrize("k", [3, 10, 50])
def test_bmw_segmented_equals_exhaustive(spark, idx, compact_seg, k):
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    cfg = BM25Config(k1=0.9, b=0.4)
    exact = (
        search(idx, qdf, model="bm25", k=k)
        .orderBy("qid", "rank").collect()
    )
    qt = compile_queries(qdf, analyzer="english")
    bmw = (
        bmw_search(compact_seg, qt, k=k, cfg=cfg)
        .orderBy("qid", "rank").collect()
    )
    _runs_equal(exact, bmw)


@pytest.mark.parametrize("seg", [False, True])
def test_bmw_smallfloat_equals_exhaustive(spark, idx, compact, compact_seg,
                                          seg):
    """BM25Config.smallfloat_norms must mean the same thing on every
    scoring surface: exhaustive Catalyst scoring (bm25_weight's
    smallfloat4_doclen column) and the batched segmented scorer, over
    both the partition-local (seg=False) and the doc-range (seg=True)
    segment layouts, produce identical runs under the flag."""
    from lucene_msmarco_spark.config import EngineConfig

    cfg = BM25Config(k1=0.9, b=0.4, smallfloat_norms=True)
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    exact = (
        search(idx, qdf, model="bm25", k=10, cfg=EngineConfig(bm25=cfg))
        .orderBy("qid", "rank").collect()
    )
    qt = compile_queries(qdf, analyzer="english")
    compact_x = compact_seg if seg else compact
    bmw = (
        bmw_search(compact_x, qt, k=10, cfg=cfg)
        .orderBy("qid", "rank").collect()
    )
    _runs_equal(exact, bmw)


def test_segmented_rows_bounded_and_disjoint(idx, compact_seg, tokens_pd):
    """The anti-Zipf guarantee: every (term, segment) blob holds only
    that segment's doc range — no row (hence no WAND task input) ever
    exceeds docs-per-segment, even for a term matching every doc."""
    n_segments = 4
    max_doc = int(tokens_pd["doc_id"].max())
    seg_cap = (max_doc + 1 + n_segments - 1) // n_segments
    rows = compact_seg.postings.collect()
    truth_df = tokens_pd.groupby("term")["doc_id"].count().to_dict()
    per_term_entries: dict = {}
    for r in rows:
        assert r.n_entries <= seg_cap
        assert r.gdf == truth_df[r.term]
        per_term_entries[r.term] = per_term_entries.get(r.term, 0) + int(
            r.n_entries
        )
    assert per_term_entries == {t: int(c) for t, c in truth_df.items()}
    for s, docs in _docs_by_segment(compact_seg.postings).items():
        lo = s * (max_doc + 1) / n_segments
        hi = (s + 1) * (max_doc + 1) / n_segments
        assert all(lo <= d < hi for d in docs)


# ---------------------------------------------------------------------------
# default layout: segmented, partition-local off the fused build
# ---------------------------------------------------------------------------

def test_from_index_default_is_segmented(idx, compact, tokens_pd):
    """Default layout contract (VERDICT r3 next-#2): segmented schema,
    lossless content, doc-disjoint segments, correct global df."""
    assert "segment" in compact.postings.columns
    back = (
        postings_to_tokens(compact.postings).toPandas()
        .sort_values(["term", "doc_id"]).reset_index(drop=True)
    )
    assert (back["term"].values == tokens_pd["term"].values).all()
    assert (back["doc_id"].values == tokens_pd["doc_id"].values).all()
    assert (back["tf"].values == tokens_pd["tf"].values).all()
    assert (back["doclen"].values == tokens_pd["doclen"].values).all()
    truth_df = tokens_pd.groupby("term")["doc_id"].count().to_dict()
    for r in compact.postings.select("term", "gdf").collect():
        assert r.gdf == truth_df[r.term]
    # hash-clustered segments partition the doc space: every doc's
    # postings live in exactly ONE segment
    per_seg = list(_docs_by_segment(compact.postings).values())
    assert sum(len(d) for d in per_seg) == len(set().union(*per_seg))


def test_partition_local_encode_single_blob_shuffle(idx):
    """The zero-token-shuffle contract: the only Exchange above the
    cached tokens is the gdf window over the already-encoded blob ROWS —
    the token stream itself never shuffles into the encode (vs one full
    token shuffle on the doc-range path)."""
    enc = CompactIndex.from_index(idx, block_size=16).postings
    plan = enc._jdf.queryExecution().executedPlan().toString()
    above = plan.split("InMemoryTableScan", 1)[0]
    assert above.count("Exchange") == 1, above
    assert "MapInPandas" in above, above


@pytest.mark.parametrize("layout", ["auto", 4])
def test_bmw_auto_layout_equals_exhaustive(spark, idx, compact,
                                           compact_seg, layout):
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    cfg = BM25Config(k1=0.9, b=0.4)
    exact = (
        search(idx, qdf, model="bm25", k=10)
        .orderBy("qid", "rank").collect()
    )
    qt = compile_queries(qdf, analyzer="english")
    compact_x = compact if layout == "auto" else compact_seg
    bmw = (
        bmw_search(compact_x, qt, k=10, cfg=cfg)
        .orderBy("qid", "rank").collect()
    )
    _runs_equal(exact, bmw)


def test_derive_n_segments():
    from lucene_msmarco_spark.operators.postings import (
        DEFAULT_DOCS_PER_SEGMENT,
        derive_n_segments,
    )

    assert derive_n_segments(0) == 1
    assert derive_n_segments(500) == 1
    assert derive_n_segments(DEFAULT_DOCS_PER_SEGMENT) == 1
    assert derive_n_segments(DEFAULT_DOCS_PER_SEGMENT + 1) == 2
    assert derive_n_segments(10**9) == -(-10**9 // DEFAULT_DOCS_PER_SEGMENT)


def test_from_index_auto_without_doc_complete_partitions(spark, idx):
    """Tokens NOT tagged doc-complete (e.g. rehydrated / external) must
    fall back to the doc-range shuffle encode — still segmented, still
    lossless."""
    plain = idx.tokens.select("term", "doc_id", "tf", "doclen")
    assert not getattr(plain, "_lms_doc_complete_partitions", False)
    from lucene_msmarco_spark.operators.index import InvertedIndex
    idx2 = InvertedIndex(
        docs=idx.docs, tokens=plain, doc_stats=idx.doc_stats,
        term_stats=idx.term_stats, stats=idx.stats, analyzer=idx.analyzer,
    )
    compact = CompactIndex.from_index(idx2, block_size=16)
    assert "segment" in compact.postings.columns
    # tiny corpus -> data-sized segment count collapses to 1
    segs = [r.segment for r in compact.postings.select("segment")
            .distinct().collect()]
    assert segs == [0]
    qdf = spark.createDataFrame(QUERIES[:2], "qid string, qtext string")
    qt = compile_queries(qdf, analyzer="english")
    exact = search(idx, qdf, model="bm25", k=10).orderBy(
        "qid", "rank").collect()
    bmw = bmw_search(compact, qt, k=10).orderBy("qid", "rank").collect()
    _runs_equal(exact, bmw)


# ---------------------------------------------------------------------------
# rank_round: selection under the rounded total order
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("digits", [1, 4])
def test_bmw_rank_round_matches_rounded_oracle(spark, idx, compact,
                                               digits):
    """rank_round must reproduce rank-by-(round(score,d) desc, doc asc)
    over the FULL scored candidate set — the rule the bmw_topk contract
    query matches against its DuckDB oracle. digits=1 forces real
    rounded TIES (scores collide at one decimal), so the doc_id
    tiebreak and cross-segment selection are genuinely exercised."""
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    allscored = (
        search(idx, qdf, model="bm25", k=10**6).toPandas()
    )
    qt = compile_queries(qdf, analyzer="english")
    got = (
        bmw_search(compact, qt, k=10, rank_round=digits)
        .orderBy("qid", "rank").toPandas()
    )
    for qid, grp in allscored.groupby("qid"):
        # half-AWAY rounding, like Spark F.round / DuckDB round() — the
        # rule the contract oracle applies; pandas .round is half-even
        # and would disagree on exact .5 boundaries
        grp = grp.assign(
            rs=_round_half_away(grp["score"].to_numpy(), digits)
        ).sort_values(["rs", "doc_id"], ascending=[False, True])
        expect = grp["doc_id"].head(10).tolist()
        have = got[got["qid"] == qid].sort_values("rank")
        assert have["doc_id"].tolist() == expect, qid
        # returned scores stay unrounded (exact)
        truth = dict(zip(grp["doc_id"], grp["score"]))
        for d, s in zip(have["doc_id"], have["score"]):
            assert abs(s - truth[d]) <= 1e-9 * max(1.0, abs(truth[d]))


def test_round_half_away_matches_sql_round():
    """The rank_round rounding rule must equal Spark F.round / DuckDB
    round() (half AWAY from zero), not numpy's half-even — dyadic
    doubles sit exactly on .5 boundaries and the two rules diverge
    there."""
    import duckdb

    x = np.array([0.15625, 0.40625, -0.15625, 1.5, 2.5, 0.0, 3.14159])
    got = _round_half_away(x, 4)
    for xi, gi in zip(x, got):
        oracle = duckdb.sql(
            f"select round({xi!r}::double, 4)"
        ).fetchone()[0]
        assert gi == oracle, (xi, gi, oracle)
    # the boundary cases where numpy's half-even disagrees
    assert _round_half_away(np.array([0.15625]), 4)[0] == 0.1563
    assert np.round(np.array([0.15625]), 4)[0] == 0.1562


def test_segmented_encode_rebases_on_doc_base(spark):
    """doc_base must cut the RELATIVE id range into segments: without
    it, a base-offset batch (incremental append) clamps every posting
    into the last segment — one giant task."""
    base, n = 1_000, 200
    rows = [(f"t{i % 7}", base + i, 1 + i % 3, 5) for i in range(n)]
    tokens = spark.createDataFrame(
        rows, "term string, doc_id long, tf int, doclen int"
    )
    seg = encode_postings_segmented(
        tokens, n_segments=4, n_docs=n, doc_base=base, with_gdf=False
    )
    by_seg = _docs_by_segment(seg)
    assert sorted(by_seg) == [0, 1, 2, 3]
    # each segment covers its 50-doc slice of the RELATIVE range
    for s, docs in by_seg.items():
        lo, hi = base + 50 * s, base + 50 * (s + 1)
        assert min(docs) >= lo and max(docs) < hi
    # regression shape: WITHOUT doc_base all rows clamp to segment 3
    clamped = encode_postings_segmented(
        tokens, n_segments=4, n_docs=n, with_gdf=False
    ).toPandas()
    assert sorted(clamped["segment"].unique()) == [3]


def test_fused_stem_memo_is_capped(monkeypatch):
    """Worker-level memo must evict rather than grow without bound at
    web-scale type counts (VERDICT r3 next-#5)."""
    import pandas as pd

    from lucene_msmarco_spark.operators import index as ix

    monkeypatch.setattr(ix, "_FUSED_STEM_MEMO_MAX", 8)
    monkeypatch.setattr(ix, "_FUSED_STEM_MEMO", {})
    batch = pd.DataFrame({
        "doc_id": list(range(30)),
        "raw": [f"zzcapword{i}ing" for i in range(30)],
        "tf_raw": [1] * 30,
    })
    out = list(ix._fused_finish(iter([batch])))
    assert len(ix._FUSED_STEM_MEMO) <= 8
    assert out[0].shape[0] == 30  # eviction never drops output rows


def test_bmw_chunked_query_bag_equals_unchunked(spark, idx, compact):
    """max_batch_queries chunking is exact: per-qid results are
    independent, so a 5-query bag scored in 2-query chunks must equal
    the single-batch run row-for-row."""
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    qt = compile_queries(qdf, analyzer="english")
    a = bmw_search(compact, qt, k=10).orderBy("qid", "rank").collect()
    b = bmw_search(
        compact, qt, k=10, max_batch_queries=2
    ).orderBy("qid", "rank").collect()
    _runs_equal(a, b)


# ---------------------------------------------------------------------------
# one-pass build: docs -> encoded blobs, no tokens table
# ---------------------------------------------------------------------------

def test_build_compact_index_equals_two_pass(spark, idx, tokens_pd):
    """build_compact_index (fused stem+encode in one finisher, tokens
    never materialized) must produce the same stats, the same decoded
    postings, and the same BMW runs as build_index + from_index."""
    from lucene_msmarco_spark.operators.postings import build_compact_index

    one = build_compact_index(idx.docs, block_size=16)
    assert "segment" in one.postings.columns
    assert one.stats == idx.stats
    back = (
        postings_to_tokens(one.postings).toPandas()
        .sort_values(["term", "doc_id"]).reset_index(drop=True)
    )
    assert (back["term"].values == tokens_pd["term"].values).all()
    assert (back["doc_id"].values == tokens_pd["doc_id"].values).all()
    assert (back["tf"].values == tokens_pd["tf"].values).all()
    assert (back["doclen"].values == tokens_pd["doclen"].values).all()
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    exact = search(idx, qdf, model="bm25", k=10).orderBy(
        "qid", "rank").collect()
    qt = compile_queries(qdf, analyzer="english")
    bmw = bmw_search(one, qt, k=10).orderBy("qid", "rank").collect()
    _runs_equal(exact, bmw)
    one.postings.unpersist()


def test_build_compact_index_plan_is_exchange_free(idx):
    """The one-pass build's scale contract: tokenize -> stem -> ENCODE
    plans with zero exchanges above the doc-store scan; the only
    exchange anywhere above it is the gdf window over blob rows."""
    from lucene_msmarco_spark.operators.postings import build_compact_index

    one = build_compact_index(idx.docs, block_size=16, cache=False)
    plan = one.postings._jdf.queryExecution().executedPlan().toString()
    above = plan.split("InMemoryTableScan", 1)[0]
    assert above.count("Exchange") == 1, above
    assert "MapInPandas" in above, above


def test_bmw_score_block_rows_equals_unblocked(spark, idx, compact):
    """score_block_rows sub-blocking inside the segment task is
    bit-identical at any block size — a 1-row budget forces one block
    per query pair run and must reproduce the unbounded run exactly."""
    qdf = spark.createDataFrame(QUERIES, "qid string, qtext string")
    qt = compile_queries(qdf, analyzer="english")
    a = bmw_search(compact, qt, k=10).orderBy("qid", "rank").collect()
    b = bmw_search(
        compact, qt, k=10, score_block_rows=1
    ).orderBy("qid", "rank").collect()
    _runs_equal(a, b, score_tol=0.0)
