"""Compressed, doc-range-segmented posting lists + the batched
Block-Max scorer.

The engine's native analog of the Lucene index files the reference relies
on (created at ``indexing/MsMarcoIndexer.java:54-59``, searched through
``retrieval/OneStepRetriever.java:117``):

    postings(segment, term, df, cf,           -- df/cf per segment
             doc_blob, tf_blob, len_blob,      -- varint streams
             block_size, n_entries,
             block_last,                       -- last doc id per block
             block_max_tf, block_min_dl,       -- block-max impact bounds
             gdf)                              -- the term's global df

Segments partition the doc space (Lucene's segment model), so every
build and query task is bounded by docs-per-segment regardless of term
skew: a Zipf-head term becomes one row per segment, never one giant
blob. Within a (term, segment) row postings are sorted by ``doc_id``,
delta-encoded and varint-compressed (functions/varint.py) in fixed-size
blocks. Each block stores ``(max tf, min doclen)`` — the two monotone
drivers of the BM25 impact ``tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`` —
rather than a block-max *score*, which would bake k1/b/avgdl into the
index (Lucene 8's per-block ``(freq, norm)`` impact pairs).

- ``postings_to_tokens`` — exhaustive decode back to (term, doc_id, tf,
  doclen) rows; ``decode(encode(x)) == x`` is the round-trip test and
  makes every DataFrame scoring path runnable off the compact index.
- ``bmw_search`` — batched scatter-gather BM25: one task per segment
  scores the whole broadcast query batch (decode amortized across
  queries), then an exact global merge. See BASELINE.md "BMW crossover
  analysis" for why batch scoring beats doc-at-a-time WAND under an
  all-or-nothing blob codec.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import BM25Config
from .index import GlobalStats, InvertedIndex

POSTINGS_SCHEMA = (
    "term string, df long, cf long, "
    "doc_blob binary, tf_blob binary, len_blob binary, "
    "block_size int, n_entries long, "
    "block_last array<long>, block_max_tf array<int>, block_min_dl array<int>"
)

#: doc-range-segmented layout (Lucene's segment model): one row per
#: (term, segment); df/cf are PER-SEGMENT, ``gdf`` is the term's GLOBAL
#: df (needed for IDF at query time without a cross-segment join).
SEGMENTED_SCHEMA = "segment int, " + POSTINGS_SCHEMA + ", gdf long"

DEFAULT_BLOCK_SIZE = 128
DEFAULT_N_SEGMENTS = 32
#: target segment size for the data-sized layout (derive_n_segments):
#: bounds every encode/score task's memory by ~2^18 docs' postings
#: regardless of corpus size — 10^9 docs -> ~4k segments, 10^4 docs -> 1.
DEFAULT_DOCS_PER_SEGMENT = 262_144


def derive_n_segments(
    n_docs: int, docs_per_segment: int = DEFAULT_DOCS_PER_SEGMENT
) -> int:
    """Data-sized segment count: grows with the corpus (bounded task
    memory at 10^9 docs), collapses to 1 at toy scale (no over-split).
    Callers wanting more query-time parallelism on small corpora pass an
    explicit ``n_segments`` instead — the default must stay a pure
    function of data size, not cores (core-coupled partitioning is the
    scaling-anti-pattern measured in BENCH/BASELINE.md)."""
    return max(1, -(-int(n_docs) // int(docs_per_segment)))


# ---------------------------------------------------------------------------
# encode / decode
# ---------------------------------------------------------------------------

def encode_postings_segmented(
    tokens: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_segments: int = DEFAULT_N_SEGMENTS,
    n_docs: int | None = None,
    with_gdf: bool = True,
    doc_base: int = 0,
) -> DataFrame:
    """tokens(term, doc_id, tf, doclen) -> doc-range-segmented postings.

    The doc-id space is cut into ``n_segments`` equal ranges (Lucene's
    segment model); each (term, segment) pair becomes ONE compressed
    blob row. Per-task memory at build AND query time is therefore
    bounded by docs-per-segment regardless of term skew — a Zipf-head
    term that matches every document still yields ``n_segments``
    independent rows, never one giant blob (reference analog:
    per-segment posting files under
    ``indexing/MsMarcoIndexer.java:54-59``'s IndexWriter).

    ``n_docs``: pass ``GlobalStats.n_docs`` (doc ids are dense 0-based)
    to skip the fallback max(doc_id) pass over the tokens table.

    ``doc_base``: first id of the range being encoded. An incremental
    append allocates its batch a disjoint base-offset id range
    (streaming.SegmentedIndexWriter); segmenting by ABSOLUTE id with
    ``n_docs`` = batch size would clamp every row of a non-first batch
    into the last segment (one giant task — the exact shape the
    docs-per-segment bound exists to prevent), so the range is cut as
    ``(doc_id - doc_base) / n_docs``.

    One shuffle total: tokens group ONCE by segment; each segment task
    encodes all of its terms' blobs with a pandas groupby (task memory =
    one segment's tokens — the same docs-per-segment bound the query
    side relies on). ``gdf`` (global df, for query-time IDF without a
    cross-segment join) is a window sum over the already-tiny blob rows
    — not a second aggregation pass over the tokens table.
    """
    if n_docs is None:
        max_doc = tokens.agg(F.max("doc_id")).collect()[0][0]
        n_docs = (
            0 if max_doc is None else int(max_doc) + 1 - int(doc_base)
        )
    # exact integer range cut: (doc_id - base) div ceil(span / n).
    # NOT (doc_id - base) * n / span — the long multiplication overflows
    # int64 once span * n_segments exceeds 2^63 (real for sparse
    # base-offset id spaces, e.g. batch_id << 40 bases), and float
    # division can be off by one ulp at boundaries.
    # `div` is Spark SQL's integer division: no product, no floats.
    width = max(1, -(-max(int(n_docs), 1) // int(n_segments)))
    seg = F.greatest(
        F.least(
            F.expr(f"(doc_id - {int(doc_base)}) div {width}"),
            F.lit(int(n_segments) - 1),
        ),
        F.lit(0),
    ).cast("int")
    seeded = tokens.withColumn("segment", seg)
    names = _SEGMENT_ROW_NAMES

    def encode_segment(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return _encode_tokens_frame(int(key[0]), pdf, block_size)

    partials = seeded.groupBy("segment").applyInPandas(
        encode_segment, schema="segment int, " + POSTINGS_SCHEMA
    )
    if not with_gdf:
        return partials
    return partials.withColumn(
        "gdf", F.sum("df").over(Window.partitionBy("term"))
    )


_SEGMENT_ROW_NAMES = [
    c.split(" ")[0] for c in ("segment int, " + POSTINGS_SCHEMA).split(", ")
]


def _round_half_away(x: np.ndarray, decimals: int) -> np.ndarray:
    """Round half away from zero — the rule Spark's ``F.round``
    (HALF_UP) and DuckDB's ``round()`` both apply. ``np.round`` is
    half-EVEN, so a score landing exactly on a .5 boundary at the
    rounding precision would be selected/ranked differently by
    ``rank_round`` than by the SQL oracle the contract queries compare
    against."""
    f = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * f + 0.5), x) / f


def _encode_tokens_frame(
    segment: int, pdf: pd.DataFrame, block_size: int
) -> pd.DataFrame:
    """One segment's (term, doc_id, tf, doclen) pandas frame -> blob rows.

    Whole-segment batch encode: ONE numpy pass over the sorted
    (term, doc_id) token arrays builds every term's delta/varint
    blobs and block stats — the per-term-loop form paid the numpy
    fixed cost ~30x per term (measured: encode dominated by it).
    """
    from ..functions.varint import (
        delta_encode_segmented,
        varint_encode_with_sizes,
    )

    names = _SEGMENT_ROW_NAMES
    if pdf.shape[0] == 0:
        return pd.DataFrame(columns=names)
    codes, terms = pd.factorize(pdf["term"], sort=False)
    order = np.lexsort((pdf["doc_id"].values, codes))
    codes = codes[order]
    docs = pdf["doc_id"].values[order].astype(np.int64)
    tfs = pdf["tf"].values[order].astype(np.int64)
    dls = pdf["doclen"].values[order].astype(np.int64)
    counts = np.bincount(codes, minlength=len(terms)).astype(np.int64)
    ends = np.cumsum(counts)
    starts = ends - counts

    def split(buf: bytes, nbytes: np.ndarray) -> list[bytes]:
        group_bytes = np.add.reduceat(nbytes, starts)
        offs = np.concatenate(([0], np.cumsum(group_bytes)))
        return [bytes(buf[offs[i]:offs[i + 1]])
                for i in range(len(terms))]

    doc_buf, doc_nb = varint_encode_with_sizes(
        delta_encode_segmented(docs, counts)
    )
    tf_buf, tf_nb = varint_encode_with_sizes(tfs)
    dl_buf, dl_nb = varint_encode_with_sizes(dls)

    # per-block stats across ALL terms at once: global block starts
    # (every term restarts its block grid), then reduceat segments
    bs = block_size
    nb = (counts + bs - 1) // bs
    block_term = np.repeat(np.arange(len(terms)), nb)
    nb_offs = np.cumsum(nb) - nb
    within = np.arange(int(nb.sum())) - np.repeat(nb_offs, nb)
    bstarts = starts[block_term] + within * bs
    bends = np.minimum(bstarts + bs, ends[block_term])
    bmax_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    bmin_dl = np.minimum.reduceat(dls, bstarts).astype(np.int32)
    block_last = docs[bends - 1]
    cf = np.add.reduceat(tfs, starts)

    doc_blobs = split(doc_buf, doc_nb)
    tf_blobs = split(tf_buf, tf_nb)
    dl_blobs = split(dl_buf, dl_nb)
    nb_ends = np.cumsum(nb)
    rows = [
        (
            segment, terms[i], int(counts[i]), int(cf[i]),
            doc_blobs[i], tf_blobs[i], dl_blobs[i],
            bs, int(counts[i]),
            block_last[nb_offs[i]:nb_ends[i]].tolist(),
            bmax_tf[nb_offs[i]:nb_ends[i]].tolist(),
            bmin_dl[nb_offs[i]:nb_ends[i]].tolist(),
        )
        for i in range(len(terms))
    ]
    return pd.DataFrame(rows, columns=names)


def encode_postings_partition_local(
    tokens: DataFrame, block_size: int = DEFAULT_BLOCK_SIZE,
    with_gdf: bool = True,
) -> DataFrame:
    """Zero-token-shuffle segmented encode: each EXISTING partition of the
    tokens table becomes one segment (segment id = spark_partition_id).

    REQUIRES partitions to hold complete documents — every (doc_id, *)
    row of a doc in the same partition (the fused english build's output
    satisfies this by construction: one mapInPandas finisher per
    hash(doc_id)-clustered doc-store partition; it tags the frame with
    ``_lms_doc_complete_partitions``). Segments then partition the doc
    space disjointly, which is the only property the segmented
    ``bmw_search`` scatter-gather merge needs — doc-id CONTIGUITY (the
    range layout) buys slightly denser delta encoding but is not
    required for correctness.

    Scale story: chained narrow op over the build output, so between the
    doc-store scan and the finished blob rows NOTHING crosses the wire —
    the fused build + this encoder emit the shippable compressed index
    with the doc-store write as the ONLY token-level exchange in the
    whole pipeline (VERDICT r3 next-#1). The lone remaining shuffle is
    the ``gdf`` window over the already-encoded blob ROWS (term-level
    metadata, orders of magnitude smaller than the token stream).

    Task memory = one partition's tokens as a pandas frame — the same
    bound the fused finisher already imposes, so any partition count
    sized for the build is sized for this too.
    """
    seeded = tokens.withColumn(
        "segment", F.spark_partition_id().cast("int")
    )

    def encode_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if pdf.shape[0] == 0:
            return
        yield _encode_tokens_frame(
            int(pdf["segment"].iloc[0]), pdf, block_size
        )

    partials = seeded.mapInPandas(
        encode_part, schema="segment int, " + POSTINGS_SCHEMA
    )
    if not with_gdf:
        return partials
    return partials.withColumn(
        "gdf", F.sum("df").over(Window.partitionBy("term"))
    )


def postings_to_tokens(postings: DataFrame) -> DataFrame:
    """Exhaustive decode: postings -> (term, doc_id, tf, doclen) rows."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.varint import (
            delta_decode_segmented,
            varint_decode_counts,
        )

        for pdf in batches:
            counts = pdf["n_entries"].values.astype(np.int64)
            keep = counts > 0
            if not keep.any():
                continue
            pdk = pdf.loc[keep]
            cnts = counts[keep]
            # one vectorized decode of the whole Arrow batch's blobs (see
            # varint_decode_counts) instead of three per row
            docs = delta_decode_segmented(
                varint_decode_counts(
                    b"".join(map(bytes, pdk["doc_blob"])), cnts
                ),
                cnts,
            )
            yield pd.DataFrame({
                "term": np.repeat(pdk["term"].values, cnts),
                "doc_id": docs,
                "tf": varint_decode_counts(
                    b"".join(map(bytes, pdk["tf_blob"])), cnts
                ),
                "doclen": varint_decode_counts(
                    b"".join(map(bytes, pdk["len_blob"])), cnts
                ),
            })

    return postings.mapInPandas(
        decode, schema="term string, doc_id long, tf long, doclen long"
    )


def _fused_blob_finish(block_size: int):
    """Per-partition finisher that goes straight from the JVM-aggregated
    (doc_id, raw, tf_raw, segment) stream to ENCODED blob rows: the
    fused stem/merge/doclen core (index._fused_aggregate) feeds
    _encode_tokens_frame in the same task, so the row-level tokens table
    is never materialized at all."""

    def go(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .index import _fused_aggregate

        frames = list(batches)
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True)
        if df.shape[0] == 0:
            return
        seg = int(df["segment"].iloc[0])
        res = _fused_aggregate(df)
        if res is None:
            return
        tf, doclen, terms = res
        term_arr = np.asarray(terms, dtype=object)
        pdf = pd.DataFrame({
            "term": pd.Series(term_arr[tf["tc"].to_numpy()], dtype=object),
            "doc_id": tf["doc_id"].astype("int64"),
            "tf": tf["tf"].astype("int64"),
            "doclen": doclen.astype("int64"),
        })
        yield _encode_tokens_frame(seg, pdf, block_size)

    return go


def build_compact_index(
    docs: DataFrame,
    text_col: str = "text",
    fold_numbers: bool = True,
    block_size: int = DEFAULT_BLOCK_SIZE,
    cache: bool = True,
    with_gdf: bool = True,
) -> CompactIndex:
    """ONE-PASS build of the shippable compressed index: doc store ->
    JVM tokenize + (doc_id, raw) aggregation -> fused stem/merge/doclen/
    ENCODE finisher -> doc-disjoint segmented blob rows. The row-level
    tokens table — the largest intermediate there is at 10^12 turns —
    is never materialized, cached, or shuffled: each hash(doc_id)-
    clustered partition becomes one segment whose blobs are encoded in
    the same task that stems it (the "emit blobs from the finisher"
    form of VERDICT r3 next-#1; reference analog: Lucene's IndexWriter
    goes straight from analyzer output to segment files,
    ``indexing/MsMarcoIndexer.java:54-59``).

    Plan shape: zero exchanges above the doc-store scan for the whole
    tokenize->stem->encode pipeline (tests/test_plans.py); the only
    shuffles in the entire build are the doc-store write inside
    assign_doc_ids and the gdf window over the blob-level rows.

    Use build_index + CompactIndex.from_index instead when the
    row-level tokens table is itself wanted (feedback models, exhaustive
    scoring, rehydration) — this function is the serving-index fast
    path.
    """
    from .index import GlobalStats, _n_docs_of, raw_token_counts

    clustered = getattr(docs, "_lms_clustered_by", None) == "doc_id"
    base = docs if clustered else docs.repartition("doc_id")
    raw_tf = raw_token_counts(base, text_col, fold_numbers).withColumn(
        "segment", F.spark_partition_id().cast("int")
    )
    partials = raw_tf.mapInPandas(
        _fused_blob_finish(block_size),
        schema="segment int, " + POSTINGS_SCHEMA,
    )
    postings = partials
    if with_gdf:
        postings = postings.withColumn(
            "gdf", F.sum("df").over(Window.partitionBy("term"))
        )
    if cache:
        postings = postings.persist()
    # one action materializes the blob cache AND yields the cf scalar
    total_cf = int(
        postings.agg(F.sum("cf").alias("cf")).collect()[0]["cf"] or 0
    )
    n_docs = _n_docs_of(docs)
    stats = GlobalStats(
        n_docs=n_docs,
        avgdl=(total_cf / n_docs) if n_docs else 0.0,
        total_cf=total_cf,
    )
    return CompactIndex(postings=postings, stats=stats, analyzer="english")


# ---------------------------------------------------------------------------
# compact index facade
# ---------------------------------------------------------------------------

@dataclass
class CompactIndex:
    """Posting-blob index + the broadcastable stats (vs InvertedIndex's
    row-level tokens table). On disk it lives in a
    ``streaming.incremental.SegmentedIndexWriter`` dir, whose ``load``
    returns one."""

    postings: DataFrame
    stats: GlobalStats
    analyzer: str = "english"

    @classmethod
    def from_index(
        cls, idx: InvertedIndex, block_size: int = DEFAULT_BLOCK_SIZE,
        n_segments: int | str = "auto",
    ) -> "CompactIndex":
        """Build the compact artifact from a row-level index.

        - ``"auto"`` (default) — when the tokens table's partitions hold
          complete documents (the fused english build tags this), the
          encode is partition-local — zero token shuffle
          (encode_postings_partition_local); otherwise one doc-range
          shuffle with a data-sized segment count
          (derive_n_segments(n_docs)).
        - ``int`` — exactly that many doc-range segments.
        """
        if n_segments != "auto":
            postings = encode_postings_segmented(
                idx.tokens, block_size, n_segments,
                n_docs=idx.stats.n_docs,
            )
        elif getattr(idx.tokens, "_lms_doc_complete_partitions", False):
            postings = encode_postings_partition_local(
                idx.tokens, block_size
            )
        else:
            postings = encode_postings_segmented(
                idx.tokens, block_size,
                derive_n_segments(idx.stats.n_docs),
                n_docs=idx.stats.n_docs,
            )
        return cls(postings=postings, stats=idx.stats,
                   analyzer=idx.analyzer)

    def to_inverted_index(self, docs: DataFrame | None = None) -> InvertedIndex:
        """Rehydrate the DataFrame-level index from the blobs (query paths
        that want plain joins run unchanged off the compact form)."""
        tokens = postings_to_tokens(self.postings)
        doc_stats = tokens.groupBy("doc_id").agg(
            F.first("doclen").alias("doclen")
        )
        # df/cf are per-segment rows; term stats are their sums
        term_stats = self.postings.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        )
        return InvertedIndex(
            docs=docs, tokens=tokens, doc_stats=doc_stats,
            term_stats=term_stats, stats=self.stats, analyzer=self.analyzer,
        )


# ---------------------------------------------------------------------------
# batched Block-Max scoring
# ---------------------------------------------------------------------------

def bmw_search(
    compact: CompactIndex,
    query_terms: DataFrame,
    k: int = 100,
    cfg: BM25Config = BM25Config(),
    rank_round: int | None = None,
    max_batch_queries: int = 65_536,
    score_block_rows: int = 4_000_000,
) -> DataFrame:
    """BM25 top-k over the compressed segmented postings.

    ``query_terms``: (qid, term, qtf[, weight]) — the compiled query bag
    (operators/retrieval.compile_queries). Returns (qid, doc_id, rank,
    score), identical to exhaustive BM25 scoring by construction.

    Batched scatter-gather: the query batch broadcasts to one task per
    segment; each matched (term, segment) blob is decoded and
    impact-scored once for ALL queries; shuffle volume is only the
    <= k x n_segments local winners per query.

    ``cfg.smallfloat_norms`` is honored (doclens are SmallFloat4-quantized
    before scoring).

    ``rank_round``: select and rank the top-k under (round(score,
    rank_round) desc, doc_id asc) instead of the exact score, applied
    consistently in the per-segment selection AND the global merge, so
    the selection rule matches a rounded-score oracle
    exact-by-construction (no "headroom k" needed). The rounded order is
    a total order consistent across segments and segments are
    doc-disjoint, so union-of-local-top-k still covers the global top-k.
    Returned ``score`` stays unrounded.

    ``max_batch_queries``: the query bag is collected to the driver and
    broadcast (it is the SMALL side by design), but both the broadcast
    size and each segment task's (term x query) score expansion grow
    with the batch, so batches above this bound are scored as
    sequential chunks of <= this many queries and unioned (results are
    per-qid, so chunking is trivially exact). The default keeps a
    3-term-average chunk's broadcast in the tens of MB and is measured
    safe at 131k queries (BENCH/BASELINE.md).

    ``score_block_rows``: caps each segment task's (term x query)
    posting expansion by scoring query sub-blocks of at most ~this many
    expanded rows (a query's pairs never split, results bit-identical at
    any value). This is the per-TASK memory bound (~24 bytes/row of peak
    intermediates); max_batch_queries is the per-DRIVER bound.
    """
    qt = query_terms
    if "weight" not in qt.columns:
        qt = qt.withColumn("weight", F.lit(1.0))
    qt = qt.withColumn(
        "qw", (F.col("qtf") * F.col("weight")).cast("double")
    ).select("qid", "term", "qw")

    s = compact.stats
    k1, b, avgdl, n_docs = cfg.k1, cfg.b, s.avgdl, float(s.n_docs)

    quantize = cfg.smallfloat_norms

    # Why batch scoring, not per-(qid, segment) WAND (BASELINE.md "BMW
    # crossover analysis"): the blob codec decodes a (term, segment)
    # row all-or-nothing, so doc-at-a-time skipping saves only
    # post-decode arithmetic while paying a Python inner loop per
    # candidate — measured 4.8x SLOWER than exhaustive at sf0.1.
    # Decoding each matched blob ONCE for ALL queries that use the term
    # is the real lever, and the postings never shuffle. Segments
    # partition the doc space, so union-of-local-top-k >= global top-k
    # and the merge is exact.
    spark = qt.sparkSession
    qt_pdf = qt.toPandas()  # the query batch is driver-sized
    if qt_pdf.empty:
        return spark.createDataFrame(
            [], "qid string, doc_id long, rank int, score double"
        )
    uq = qt_pdf["qid"].drop_duplicates().tolist()
    if len(uq) > max_batch_queries:
        # chunked scatter-gather: per-qid results are independent,
        # so scoring <=max_batch_queries at a time and unioning is
        # exact; bounds the broadcast AND each segment task's
        # (term x query) expansion at any batch size
        outs = []
        for i in range(0, len(uq), max_batch_queries):
            chunk = set(uq[i:i + max_batch_queries])
            # qw is already qtf x weight; re-enter with weight=1
            sub = spark.createDataFrame(
                qt_pdf[qt_pdf["qid"].isin(chunk)]
                .rename(columns={"qw": "qtf"})
            )
            outs.append(bmw_search(
                compact, sub, k=k, cfg=cfg, rank_round=rank_round,
                max_batch_queries=max_batch_queries,
                score_block_rows=score_block_rows,
            ))
        out = outs[0]
        for nxt in outs[1:]:
            out = out.unionByName(nxt)
        return out
    qids: list[str] = []
    qindex: dict[str, int] = {}
    term_to_q: dict[str, list[tuple[int, float]]] = {}
    for r in qt_pdf.itertuples():
        qi = qindex.setdefault(r.qid, len(qids))
        if qi == len(qids):
            qids.append(r.qid)
        term_to_q.setdefault(r.term, []).append((qi, float(r.qw)))
    bq = spark.sparkContext.broadcast((qids, term_to_q))

    posts = compact.postings.drop("df").withColumnRenamed("gdf", "df")
    terms_df = spark.createDataFrame(
        [(t,) for t in term_to_q], "term string"
    )
    matched = posts.join(F.broadcast(terms_df), "term", "left_semi")

    def run_segment(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.smallfloat import np_quantize
        from ..functions.varint import (
            delta_decode_segmented,
            varint_decode_counts,
        )

        qids_l, t2q = bq.value
        empty = pd.DataFrame({
            "qi": pd.Series([], dtype="int64"),
            "docs": pd.Series([], dtype=object),
            "scores": pd.Series([], dtype=object),
        })
        counts = pdf["n_entries"].values.astype(np.int64)
        keep = counts > 0
        if not keep.any():
            return empty
        # batch decode: ONE vectorized pass over the concatenation
        # of every blob in this segment (LEB128 self-delimits)
        # instead of 3 small decodes per blob — the per-call numpy
        # fixed cost was the measured bottleneck of this task
        pdk = pdf.loc[keep]
        cnts = counts[keep]
        docs_all = delta_decode_segmented(
            varint_decode_counts(
                b"".join(map(bytes, pdk["doc_blob"])), cnts
            ),
            cnts,
        )
        tff = varint_decode_counts(
            b"".join(map(bytes, pdk["tf_blob"])), cnts
        ).astype(np.float64)
        dls = varint_decode_counts(
            b"".join(map(bytes, pdk["len_blob"])), cnts
        )
        if quantize:
            dls = np_quantize(dls)
        dlf = dls.astype(np.float64)
        dfv = pdk["df"].values.astype(np.float64)
        idf_b = np.log1p((n_docs - dfv + 0.5) / (dfv + 0.5))
        contrib_all = np.repeat(idf_b, cnts) * tff * (k1 + 1.0) / (
            tff + k1 * (1.0 - b + b * dlf / avgdl)
        )
        ends = np.cumsum(cnts)
        starts = ends - cnts
        # expand (term, query) incidence fully vectorized: ONE
        # lexsort + reduceat scores the WHOLE query batch — no
        # per-query Python loop (measured bottleneck of the v1 form)
        pair_t, pair_qi, pair_qw = [], [], []
        for i, term in enumerate(pdk["term"].values):
            for qi, qw in t2q[term]:
                pair_t.append(i)
                pair_qi.append(qi)
                pair_qw.append(qw)
        if not pair_t:
            return empty
        pair_t = np.asarray(pair_t, dtype=np.int64)
        pair_qi = np.asarray(pair_qi, dtype=np.int64)
        pair_qw = np.asarray(pair_qw, dtype=np.float64)
        # Score in query SUB-BLOCKS bounded by expansion size: the
        # (term x query) posting expansion below is this task's peak
        # memory and it grows linearly with the query batch — at
        # 65k queries x head-term postings it was measured in the GBs
        # per task. Queries are independent, so blocking BY QUERY
        # (pairs sorted by qi, a query's pairs never split) keeps
        # every intermediate capped at ~score_block_rows with
        # bit-identical results at any block size.
        order_p = np.argsort(pair_qi, kind="stable")
        pair_t, pair_qi, pair_qw = (
            pair_t[order_p], pair_qi[order_p], pair_qw[order_p]
        )
        lens_all = cnts[pair_t]
        cum = np.cumsum(lens_all)
        out_frames = []
        lo, n_pairs = 0, int(pair_t.size)
        while lo < n_pairs:
            base = int(cum[lo - 1]) if lo else 0
            hi = int(np.searchsorted(
                cum, base + score_block_rows, side="right"
            ))
            hi = min(max(hi, lo + 1), n_pairs)
            while hi < n_pairs and pair_qi[hi] == pair_qi[hi - 1]:
                hi += 1
            b_t = pair_t[lo:hi]
            b_qi = pair_qi[lo:hi]
            b_qw = pair_qw[lo:hi]
            lens = lens_all[lo:hi]
            lo = hi
            total = int(lens.sum())
            out_off = np.cumsum(lens) - lens
            idx = (
                np.arange(total, dtype=np.int64)
                - np.repeat(out_off, lens)
                + np.repeat(starts[b_t], lens)
            )
            d_r = docs_all[idx]
            s_r = contrib_all[idx] * np.repeat(b_qw, lens)
            q_r = np.repeat(b_qi, lens)
            order = np.lexsort((d_r, q_r))
            d_r, s_r, q_r = d_r[order], s_r[order], q_r[order]
            grp = np.flatnonzero(np.concatenate((
                [True], (q_r[1:] != q_r[:-1]) | (d_r[1:] != d_r[:-1])
            )))
            uniq_d = d_r[grp]
            uniq_q = q_r[grp]
            sums = np.add.reduceat(s_r, grp)
            # per-query exact (score desc, doc asc) top-k, batched:
            # rank within query via a second lexsort + cumcount mask
            # (rank_round: same selection under the rounded order)
            rank_s = sums if rank_round is None else _round_half_away(
                sums, rank_round
            )
            order2 = np.lexsort((uniq_d, -rank_s, uniq_q))
            uniq_d, uniq_q, sums = (
                uniq_d[order2], uniq_q[order2], sums[order2]
            )
            qstarts = np.flatnonzero(np.concatenate(
                ([True], uniq_q[1:] != uniq_q[:-1])
            ))
            pos = (
                np.arange(uniq_q.size, dtype=np.int64)
                - np.repeat(qstarts, np.diff(
                    np.concatenate((qstarts, [uniq_q.size]))
                ))
            )
            m = pos < k
            uniq_d, uniq_q, sums = uniq_d[m], uniq_q[m], sums[m]
            # ONE array-valued row per (query, segment): the merge
            # then moves n_queries x n_segments rows, not k x that
            qstarts2 = np.flatnonzero(np.concatenate(
                ([True], uniq_q[1:] != uniq_q[:-1])
            ))
            out_frames.append(pd.DataFrame({
                "qi": uniq_q[qstarts2],
                "docs": np.split(uniq_d, qstarts2[1:]),
                "scores": np.split(sums, qstarts2[1:]),
            }))
        return pd.concat(out_frames, ignore_index=True)

    local = matched.groupBy("segment").applyInPandas(
        run_segment,
        schema="qi long, docs array<long>, scores array<double>",
    )

    def merge_query(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # segments partition the doc space, so the per-segment lists
        # are disjoint: the global top-k is a pure selection
        d = np.concatenate(pdf["docs"].to_numpy())
        s = np.concatenate(pdf["scores"].to_numpy())
        rank_s = (
            s if rank_round is None else _round_half_away(s, rank_round)
        )
        sel = np.lexsort((d, -rank_s))[:k]
        d, s = d[sel], s[sel]
        return pd.DataFrame({
            "qid": np.repeat(bq.value[0][int(key[0])], d.size),
            "doc_id": d.astype(np.int64),
            "rank": np.arange(1, d.size + 1, dtype=np.int32),
            "score": s.astype(np.float64),
        })

    return local.groupBy("qi").applyInPandas(
        merge_query,
        schema="qid string, doc_id long, rank int, score double",
    )
