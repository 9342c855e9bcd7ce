"""The engine's one on-disk index: the doc-range-segmented
``SegmentedIndexWriter`` dir (content-addressed appends, size-tiered
compaction, per-generation gdf sidecars), plus ``stream_append``, a
Structured-Streaming ``foreachBatch`` sink over the writer.

North-rule requirements covered here:
- "merge partial segments into a global index with per-partition lineage
  and checkpoint-resumable stages": every append and compaction commits
  one manifest row recording its doc/segment ranges, per-segment blob
  row counts and wall time. Appends are content-addressed, so re-running
  a killed build re-appends exactly the batches that never committed.
- incremental build: each append (or streamed micro-batch) becomes a new
  generation of segments (the Lucene "new segment per flush" analog,
  cf. the reference's ``IndexWriter`` lifecycle
  ``indexing/MsMarcoIndexer.java:48-60``), and ``compact`` /
  ``maybe_compact`` merge generations (Lucene background-merge analog,
  SURVEY.md §4 segment row).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import atomic_write_json as _atomic_write_json

# Batch-fingerprint format version. Bump whenever _fingerprint's hash
# text changes (v2 = xxhash64 over to_json(struct(*), timeZone=UTC);
# v1 = the earlier positional-column forms): idempotent-append dedup
# compares fingerprints against the dir's committed manifest entries,
# so a format change makes every old entry unmatchable and an
# at-least-once replay would silently re-append (duplicate) its batch.
# open() refuses a dir committed under another version instead.
FP_VERSION = 2


@dataclass
class BuildConfig:
    analyzer: str = "english"
    fold_numbers: bool = True
    block_size: int = 128
    #: target docs per compact-index segment (postings.derive_n_segments);
    #: lower it in tests to exercise multi-segment layouts at toy scale
    docs_per_segment: int = 262_144


# ---------------------------------------------------------------------------
# Segmented CompactIndex writer: append + compaction
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class MergePolicy:
    """Size-tiered merge trigger (Lucene TieredMergePolicy / LSM-tree
    tiering analog, cf. Lucene's background merges behind
    ``IndexWriter.addDocument`` — reference ``indexing/
    MsMarcoIndexer.java:48-60``): generations are binned into size tiers
    by doc count (tier i holds gens with ~merge_factor^i docs); when a
    tier accumulates ``merge_factor`` members they merge into ONE
    generation of the next tier. Only similar-sized generations ever
    merge, so a stream of B appends costs each document O(log_mf B)
    rewrites total — vs the O(B) of re-compacting the whole index every
    few batches (the write-amplification trap ADVICE r4 flagged in a
    fixed-cadence full merge)."""

    #: members per size tier before that tier merges (>= 2: a 1-way
    #: "merge" would loop forever and tier_of's log base needs > 1)
    merge_factor: int = 10
    #: never produce a merged generation above this many docs (None =
    #: unbounded); caps the largest single compaction task set
    max_merged_docs: int | None = None

    def __post_init__(self) -> None:
        if self.merge_factor < 2:
            raise ValueError(
                f"merge_factor must be >= 2, got {self.merge_factor}"
            )

    def tier_of(self, n_docs: int) -> int:
        # integer repeated division, not int(math.log(n, mf)): the float
        # log misbins exact powers (int(log(1000, 10)) == 2), which would
        # group a 1000-doc generation with 100-999-doc ones and merge
        # across a 10x size disparity — the exact thing tiering prevents
        n, t = max(int(n_docs), 1), 0
        while n >= self.merge_factor:
            n //= self.merge_factor
            t += 1
        return t


@dataclass
class SegmentedIndexWriter:
    """Incremental append + background compaction over the SEGMENTED
    CompactIndex layout — the engine's ``IndexWriter`` analog and its
    only on-disk index format (the reference's CREATE-mode IndexWriter
    lifecycle, ``indexing/MsMarcoIndexer.java:49-59``, where each flush
    adds a segment and background merges fold small segments together).

    Layout under ``index_dir``::

        _manifest.jsonl     append-only log; one row per committed op,
                            with its lineage: blob rows per segment
                            (``segment_rows``) and ``wall_s``
        seg-<id>/           parquet postings rows (segment int +
                            POSTINGS_SCHEMA; per-segment df/cf, NO gdf
                            inline — appends never rewrite old segments)
        gdf-<id>/           per-generation (term, df) sidecar — the
                            generation's term-df rollup, written in the
                            same op. ``load`` sums the LIVE sidecars
                            (live generations partition the doc space)
                            and joins, so global df costs a join of
                            term-level rows instead of a window that
                            shuffles every BLOB row (VERDICT r4 next-#1)

    Invariants the query side relies on:
    - doc ids are allocated from a writer-level base so every append's
      range is disjoint (assign_doc_ids(base=...)) — the doc space stays
      globally partitioned across ALL live segments;
    - segment ids are allocated from a writer-level base so no two live
      generations collide — every doc's postings carry exactly ONE
      segment id, the property bmw_search's exact merge needs;
    - the manifest is the single source of truth: an op is visible iff
      its row is in the manifest AND its parquet ``_SUCCESS`` exists.
      ``append`` is content-addressed (xxhash of the batch) so a killed
      run re-appended lands exactly once (kill between parquet write
      and manifest commit -> the orphan directory is simply rewritten).

    Scale notes: an append touches ONLY its own batch (build + encode at
    batch size, zero reads of existing segments); ``compact`` rewrites
    only the generations it merges (decode -> re-segment at the merged
    size — Lucene's background merge, not a full rebuild);
    ``maybe_compact`` picks WHICH generations to merge by a size-tiered
    policy (Lucene TieredMergePolicy analog) so long append streams cost
    O(log B) rewrites per doc, never repeated full-index rewrites;
    ``load`` is one parquet read + a term-level sidecar join for gdf.
    """

    spark: SparkSession
    index_dir: str
    config: BuildConfig = field(default_factory=BuildConfig)
    keys: tuple = ("conv_id", "turn_idx")

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.index_dir, "_manifest.jsonl")

    @property
    def config_path(self) -> str:
        return os.path.join(self.index_dir, "_config.json")

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "SegmentedIndexWriter":
        """Rehydrate a writer over an existing index dir, restoring the
        BuildConfig (analyzer etc.) and keys persisted at first commit
        (an index built with ``--analyzer simple`` must be searched with
        the same chain, ADVICE r1). A new (empty) dir opens with
        defaults; a dir that HAS commits but predates the sidecar
        refuses — guessing the analyzer here would tokenize the next
        append with the wrong chain and then stamp that wrong guess as
        authoritative."""
        p = os.path.join(index_dir, "_config.json")
        if not os.path.exists(p):
            if os.path.exists(os.path.join(index_dir, "_manifest.jsonl")):
                raise FileNotFoundError(
                    f"{index_dir} has a manifest but no _config.json "
                    "(written before config persistence existed); "
                    "construct SegmentedIndexWriter(...) directly with "
                    "the index's original BuildConfig — open() will not "
                    "guess the analyzer"
                )
            return cls(spark, index_dir)
        with open(p) as f:
            raw = json.load(f)
        if "keys" not in raw and "config_hash" in raw:
            # the retired staged-pipeline layout's _config.json: its
            # manifest rows are keyed by stage, not generation, so
            # state() could not read them, and appending here would mix
            # two layouts in one dir
            raise ValueError(
                f"{index_dir} is a staged pipeline build dir (per-stage "
                "parquet + stage manifest), a layout this engine no "
                "longer reads; rebuild it with `index` into a new "
                "directory"
            )
        keys = tuple(raw.pop("keys", ("conv_id", "turn_idx")))
        stored_fp = raw.pop("fp_version", None)
        cfg = BuildConfig(**{
            k: v for k, v in raw.items()
            if k in BuildConfig.__dataclass_fields__
        })
        w = cls(spark, index_dir, cfg, keys=keys)
        if stored_fp != FP_VERSION and any(
            "batch" in e for e in w._entries()
        ):
            # committed appends carry fingerprints in the OLD format
            # (missing field = pre-versioning, i.e. v1): the current
            # binary's fingerprints can never match them, so the
            # idempotent-replay dedup would silently re-append every
            # replayed batch — refuse rather than duplicate
            raise ValueError(
                f"{index_dir} was committed under batch-fingerprint "
                f"format v{stored_fp or 1}; this binary computes "
                f"v{FP_VERSION}, so replay deduplication cannot see "
                "the existing entries. Rebuild into a fresh dir with "
                "`index` / `ingest`"
            )
        return w

    def _persist_config(self) -> None:
        """Write the ``_config.json`` sidecar (idempotent; guards a
        DIFFERENT config against an existing index — appending with a
        mismatched analyzer would silently mix token spaces). The
        comparison spans only keys BOTH sides know: a BuildConfig field
        added or removed across engine versions must not brick an
        otherwise-matching index (read-tolerance and write-tolerance
        stay symmetric)."""
        body = dict(self.config.__dict__, keys=list(self.keys),
                    fp_version=FP_VERSION)
        if os.path.exists(self.config_path):
            with open(self.config_path) as f:
                prior = json.load(f)
            shared = set(prior) & set(body)
            changed = sorted(k for k in shared if prior[k] != body[k])
            if changed:
                raise ValueError(
                    f"writer config mismatch vs {self.config_path} "
                    f"(differs in {changed}); open the index with "
                    "SegmentedIndexWriter.open() to restore its config"
                )
            return
        _atomic_write_json(self.config_path, body)

    # ---- manifest state --------------------------------------------------

    def _entries(self) -> list[dict]:
        out = []
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                lines = [ln for ln in f if ln.strip()]
            for i, line in enumerate(lines):
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    if i == len(lines) - 1:
                        # a kill (or ENOSPC) mid-_commit leaves a torn
                        # FINAL line: that op never committed, so drop
                        # it — the retry re-appends idempotently. A torn
                        # interior line is real corruption: surface it.
                        break
                    raise
        return out

    def state(self) -> dict:
        """Derived writer state: doc/segment id watermarks, global stats
        and the LIVE generation list (ops not replaced by a later
        compaction)."""
        entries = self._entries()
        replaced: set[int] = set()
        for e in entries:
            for g in e.get("replaces", ()):
                replaced.add(int(g))
        live = [e for e in entries if e["gen"] not in replaced]
        appends = [e for e in entries if e["op"] == "append"]
        # doc ids are allocated append-only, so the next free id and the
        # live doc count are the same sum (compaction never frees ids)
        appended_docs = sum(e["n_docs"] for e in appends)
        return {
            "next_gen": max((e["gen"] for e in entries), default=-1) + 1,
            "doc_base": appended_docs,
            "seg_base": max(
                (e["seg_base"] + e["seg_span"] for e in entries), default=0
            ),
            "n_docs": appended_docs,
            "total_cf": sum(e["total_cf"] for e in appends),
            "live": live,
        }

    def _gen_dir(self, gen: int) -> str:
        return os.path.join(self.index_dir, f"seg-{gen:06d}")

    def _gdf_dir(self, gen: int) -> str:
        return os.path.join(self.index_dir, f"gdf-{gen:06d}")

    def _write_gdf_sidecar(self, gen: int, written: DataFrame) -> None:
        """Roll the generation's per-term df into its sidecar: one
        term-level aggregate over the freshly-written blob rows (orders
        of magnitude below the token stream), committed in the same op
        as the segment parquet so the manifest row can vouch for both."""
        (
            written.groupBy("term")
            .agg(F.sum("df").alias("df"))
            .write.mode("overwrite")
            .parquet(self._gdf_dir(gen))
        )

    def _write_generation(self, st: dict, seg: DataFrame, t0: float) -> dict:
        """Write ``seg`` (blob rows with batch-local segment ids) as the
        next generation plus its gdf sidecar, and return the manifest
        fields every op shares. Segment ids are offset into the
        writer's global segment-id space so no two generations collide.
        The lineage (blob rows per segment, ``segment_rows[i]`` for
        segment ``seg_base + i``) comes from the same one aggregate
        that yields the generation's segment span."""
        gen, base = st["next_gen"], int(st["seg_base"])
        seg.withColumn(
            "segment", (F.col("segment") + F.lit(base)).cast("int")
        ).write.mode("overwrite").parquet(self._gen_dir(gen))
        written = self.spark.read.parquet(self._gen_dir(gen))
        self._write_gdf_sidecar(gen, written)
        rows = dict(written.groupBy("segment").count().collect())
        span = max(rows) - base + 1 if rows else 0
        return {
            "gen": gen,
            "gdf": True,
            "seg_base": base,
            "seg_span": span,
            "segment_rows": [int(rows.get(base + i, 0)) for i in range(span)],
            "wall_s": round(time.time() - t0, 3),
        }

    @staticmethod
    def _entry_bounds(e: dict) -> tuple[int, int] | None:
        """[lo, hi) doc-id range a live entry covers, from the manifest
        alone; None for pre-bounds compaction entries (back-compat)."""
        if "doc_lo" in e:
            return int(e["doc_lo"]), int(e["doc_hi"])
        if "doc_base" in e:
            return int(e["doc_base"]), int(e["doc_base"]) + int(e["n_docs"])
        return None

    def _repair_manifest(self) -> None:
        """Truncate a torn final line left by a killed/ENOSPC'd
        ``_commit`` so the next append starts on a clean line boundary
        (without this, the new entry would concatenate into the torn
        text and corrupt BOTH rows). The manifest is one small line per
        committed op, so reading it whole is cheap."""
        p = self.manifest_path
        if not os.path.exists(p):
            return
        with open(p, "rb") as f:
            data = f.read()
        if not data:
            return
        keep = len(data)
        if not data.endswith(b"\n"):
            last = data.rfind(b"\n") + 1
            try:
                json.loads(data[last:])
            except json.JSONDecodeError:
                keep = last
            else:
                # the final line is COMPLETE json, only its newline is
                # missing (kill between write and flush boundary).
                # _entries() already honors it as committed — state()
                # counted its docs and a replayed batch deduped against
                # it — so truncating here would erase a committed
                # generation and free its doc-id range for reuse
                # (duplicate ids across live segments). Finish the line
                # instead.
                with open(p, "ab") as f:
                    f.write(b"\n")
                return
        else:
            last = data[:-1].rfind(b"\n") + 1  # start of final line
            try:
                json.loads(data[last:])
            except json.JSONDecodeError:
                keep = last
        if keep != len(data):
            with open(p, "r+b") as f:
                f.truncate(keep)

    def _commit(self, entry: dict) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        self._persist_config()
        self._repair_manifest()
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(entry) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def _fingerprint(self, batch_df: DataFrame) -> str:
        """Content address of a batch: order-independent xxhash over all
        columns + row count. One cheap aggregate, no driver collect of
        data."""
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            # order-independent combine of the per-row hashes. SUM over
            # decimal(38,0), not bit_xor: xor cancels rows repeated an
            # even number of times, so two different batches with equal
            # counts could collide and the second append would be
            # silently dropped as a duplicate (realistic with
            # at-least-once transcript feeds). Plain bigint sum is out
            # too — ANSI mode overflows on full-range xxhash64 values;
            # decimal(38,0) holds ~10^38, enough for 10^18 rows.
            # Per-row hash goes through to_json(struct(*)), NOT
            # xxhash64(c1, ..., cn): Spark's multi-arg xxhash64 passes
            # the running seed through UNCHANGED on a NULL input, so a
            # value shifting between adjacent same-typed nullable
            # columns (text <-> tool) would hash identically and the
            # differing batch would be dropped as a duplicate. JSON
            # keys pin each value to its column. timeZone is pinned to
            # UTC: to_json renders timestamps in the SESSION timezone,
            # so without it the same batch fingerprints differently on
            # a driver configured with another spark.sql.session.
            # timeZone and an at-least-once replay after such a restart
            # would re-append (duplicate) every row instead of no-oping.
            F.expr(
                "sum(cast(xxhash64(to_json(struct(*), "
                "map('timeZone', 'UTC'))) as decimal(38,0)))"
            ).alias("h"),
        ).collect()[0]
        h = int(row["h"] or 0) % (1 << 128)
        return f"{row['n']}-{h:032x}"

    # ---- operations ------------------------------------------------------

    def append(self, batch_df: DataFrame) -> dict:
        """Index one transcript batch as a new generation of segment
        rows. Idempotent: re-appending a batch already in the manifest
        (same content fingerprint) is a no-op returning the prior entry;
        a run killed after the parquet write but before the manifest
        commit leaves an orphan dir that the retry overwrites."""
        from ..operators.index import assign_doc_ids, build_index
        from ..operators.postings import (
            build_compact_index,
            derive_n_segments,
            encode_postings_segmented,
        )

        t0 = time.time()
        if os.path.exists(self.config_path):
            # fail BEFORE the build, not at commit time, when this
            # writer's config disagrees with the index's persisted one
            self._persist_config()
        fp = self._fingerprint(batch_df)
        st = self.state()
        # scan ALL appends ever (a compacted-away append still owns its
        # doc-id range — re-inserting its batch would duplicate docs)
        for e in self._entries():
            if e["op"] == "append" and e.get("batch") == fp:
                return e

        cfg = self.config
        docs = assign_doc_ids(batch_df, list(self.keys),
                              base=st["doc_base"])
        release = None
        if cfg.analyzer == "english":
            # one-pass fused build: stem+merge+doclen+encode in one
            # finisher; the batch's row-level tokens never materialize.
            # cache=True: the stats aggregate inside build_compact_index
            # materializes the blob cache, so the parquet write below
            # reads it instead of re-running the whole pipeline
            compact = build_compact_index(
                docs, fold_numbers=cfg.fold_numbers,
                block_size=cfg.block_size, cache=True, with_gdf=False,
            )
            seg, stats = compact.postings, compact.stats
            release = compact.postings
        else:
            # cache=True for the same reason: stats + encode + write
            # would otherwise each re-tokenize the batch
            idx = build_index(docs, analyzer=cfg.analyzer,
                              fold_numbers=cfg.fold_numbers, cache=True)
            seg = encode_postings_segmented(
                idx.tokens, cfg.block_size,
                derive_n_segments(idx.stats.n_docs,
                                  cfg.docs_per_segment),
                n_docs=idx.stats.n_docs, with_gdf=False,
                # batch ids start at the writer's base: segment by the
                # RELATIVE id, else every non-first append clamps into
                # its last segment (one giant task)
                doc_base=st["doc_base"],
            )
            stats = idx.stats
            release = idx
        entry = {
            "op": "append",
            **self._write_generation(st, seg, t0),
            "batch": fp,
            "n_docs": int(stats.n_docs),
            "total_cf": int(stats.total_cf),
            "doc_base": int(st["doc_base"]),
            "completed_at": time.time(),
        }
        self._commit(entry)
        if release is not None:
            release.unpersist()
        docs.unpersist()
        return entry

    def compact(self, gens: list[int] | None = None) -> dict | None:
        """Merge the given generations (default: ALL live ones) into a
        single re-segmented generation — the Lucene background-merge
        analog. Doc ids are untouched, so query results are identical
        before and after; only the physical segment layout changes
        (fewer, data-sized segments; one blob per (term, segment))."""
        from ..operators.postings import (
            derive_n_segments,
            encode_postings_segmented,
            postings_to_tokens,
        )

        t0 = time.time()
        st = self.state()
        live = {e["gen"]: e for e in st["live"]}
        if gens is None:
            gens = sorted(live)
        gens = [g for g in gens if g in live]
        if len(gens) < 2:
            return None
        paths = [self._gen_dir(g) for g in gens]
        old = self.spark.read.parquet(*paths)
        tokens = postings_to_tokens(old)
        # every live entry (append OR prior compaction) records the doc
        # count it covers, and live generations are disjoint in doc
        # space, so the merged count is the plain sum — summing only the
        # appends would under-count a mixed merge of appends with an
        # earlier compaction and under-size derive_n_segments
        merged_docs = sum(live[g].get("n_docs", 0) for g in gens)
        # re-segment over the merged doc-id RANGE, with the bounds taken
        # straight from the manifest (append entries record
        # doc_base+n_docs, compaction entries doc_lo/doc_hi) — NOT from
        # a max(doc_id) decode pass over every merged blob. Sizing the
        # segments by the range SPAN keeps the docs-per-segment bound
        # even when merging a non-contiguous subset of generations
        # (sparse range -> some emptier segments, never an oversized
        # one). Manifests written before bounds were recorded fall back
        # to the one-pass decode (n_docs=None).
        bounds = [self._entry_bounds(live[g]) for g in gens]
        if all(b is not None for b in bounds):
            doc_lo = min(b[0] for b in bounds)
            span = max(max(b[1] for b in bounds) - doc_lo, 1)
        else:
            doc_lo, span = 0, None
        seg = encode_postings_segmented(
            tokens, self.config.block_size,
            derive_n_segments(span or merged_docs or 1,
                              self.config.docs_per_segment),
            n_docs=span, with_gdf=False, doc_base=doc_lo,
        )
        entry = {
            "op": "compact",
            **self._write_generation(st, seg, t0),
            "replaces": [int(g) for g in gens],
            "n_docs": int(merged_docs),
            **({"doc_lo": int(doc_lo), "doc_hi": int(doc_lo + span)}
               if span is not None else {}),
            "total_cf": sum(
                int(live[g].get("total_cf", 0)) for g in gens
            ),
            "completed_at": time.time(),
        }
        self._commit(entry)
        # reclaim the replaced generations' storage (Lucene deletes
        # merged-away segments): nothing reads a dead generation again
        # (load/compact walk the LIVE manifest list only), so removal
        # after the commit is safe; best-effort — a kill mid-delete
        # leaves orphans that the next compact's sweep below retries
        import shutil

        # the live-gen set is computed ONCE: state() re-reads and
        # re-parses the whole manifest, so evaluating it per entry
        # would make each compaction O(manifest_len^2) file reads on
        # the synchronous foreachBatch path
        live_gens = {e["gen"] for e in self.state()["live"]}
        for e2 in self._entries():
            if e2["gen"] in live_gens:
                continue
            for d in (self._gen_dir(e2["gen"]), self._gdf_dir(e2["gen"])):
                shutil.rmtree(d, ignore_errors=True)
        return entry

    def maybe_compact(
        self, policy: MergePolicy = MergePolicy()
    ) -> list[dict]:
        """Self-maintenance: apply the size-tiered merge policy to the
        LIVE generation list (manifest stats only — no data read decides
        anything) and run every merge it mandates, cascading (a merge
        that fills the next tier triggers that tier too). Returns the
        compaction entries committed, [] when the layout already
        satisfies the policy. Call after appends — or let
        ``stream_append`` do it per micro-batch."""
        done: list[dict] = []
        while True:
            live = self.state()["live"]
            tiers: dict[int, list[dict]] = {}
            for e in live:
                tiers.setdefault(
                    policy.tier_of(e.get("n_docs", 0)), []
                ).append(e)
            gens = None
            for t in sorted(tiers):
                members = sorted(tiers[t], key=lambda e: e["gen"])
                if len(members) < policy.merge_factor:
                    continue
                pick = members[: policy.merge_factor]
                if policy.max_merged_docs is not None and sum(
                    int(e.get("n_docs", 0)) for e in pick
                ) > int(policy.max_merged_docs):
                    continue
                gens = [e["gen"] for e in pick]
                break
            if gens is None:
                return done
            entry = self.compact(gens)
            if entry is None:
                return done
            done.append(entry)

    def load(self):
        """Open the live index as a CompactIndex: one parquet read over
        the live generation dirs; GlobalStats from manifest sums (no
        data pass). Global term df (``gdf``) comes from summing the live
        generations' sidecars — live generations partition the doc
        space, so the sum IS the global df — then ONE equi-join of that
        term-level table onto the blob rows. The join moves only (term,
        df) rows (AQE broadcasts it when the vocabulary is small); the
        pre-sidecar fallback was a window over ALL blob rows, i.e. a
        full shuffle of the postings payload per load. The fallback
        remains for manifests written before sidecars existed
        (tests/test_plans.py pins the no-window plan)."""
        from pyspark.sql import Window

        from ..operators.index import GlobalStats
        from ..operators.postings import CompactIndex

        st = self.state()
        if not st["live"]:
            # also what a retired exported artifact (postings/ +
            # _stats.json, no manifest) looks like to the writer
            raise FileNotFoundError(
                f"no live segments in {self.index_dir}: build it with "
                "`index` (an exported postings/ + _stats.json artifact "
                "is a retired layout and must be rebuilt)"
            )
        paths = [self._gen_dir(e["gen"]) for e in st["live"]]
        base = self.spark.read.parquet(*paths)
        if all(e.get("gdf") for e in st["live"]):
            gdf = (
                self.spark.read.parquet(
                    *[self._gdf_dir(e["gen"]) for e in st["live"]]
                )
                .groupBy("term")
                .agg(F.sum("df").alias("gdf"))
            )
            postings = base.join(gdf, "term").select(*base.columns, "gdf")
        else:
            postings = base.withColumn(
                "gdf", F.sum("df").over(Window.partitionBy("term"))
            )
        n, cf = st["n_docs"], st["total_cf"]
        return CompactIndex(
            postings=postings,
            stats=GlobalStats(
                n_docs=n, avgdl=(cf / n) if n else 0.0, total_cf=cf,
            ),
            analyzer=self.config.analyzer,
        )


def stream_append(
    writer: SegmentedIndexWriter,
    stream_df: DataFrame,
    checkpoint_dir: str,
    merge_policy: MergePolicy | None = None,
    trigger: dict | None = None,
    query_name: str = "lms_stream_append",
):
    """Structured-Streaming ingestion: index a ``readStream`` source
    through the writer, one generation per micro-batch, with
    manifest-driven tiered compaction between batches.

    Exactly-once END TO END from an at-least-once sink: Spark only
    guarantees at-least-once delivery to ``foreachBatch``, but
    ``SegmentedIndexWriter.append`` is content-addressed (order-
    independent batch fingerprint -> manifest), so a REPLAYED
    micro-batch is a committed no-op — the stream can crash and restart
    at any point without duplicating a document. Scope of that claim:
    the fingerprint is per micro-BATCH, not per document, so it
    neutralizes replays whose batch composition is reproduced — any
    same-checkpoint restart (Spark's offset log pins each batch's file
    set), or a fresh-checkpoint re-run ONLY when the batching is
    byte-identical (same source listing order and rate-limit options,
    e.g. unchanged ``maxFilesPerTrigger``). A fresh-checkpoint re-run
    that groups the same source data into DIFFERENT batch boundaries
    produces unseen fingerprints and will re-index those documents —
    don't discard the checkpoint to "reset" a live stream.

    Compaction: after each committed batch the writer applies the
    size-tiered ``MergePolicy`` (``writer.maybe_compact``) — only
    similar-sized generations merge, so a long stream pays O(log B)
    rewrites per doc, never a full-index rewrite every few batches. It
    runs synchronously inside ``foreachBatch`` (Spark gives foreachBatch
    no true background thread), lengthening the occasional micro-batch
    by the merge cost; the tiering keeps that cost proportional to the
    tier being folded, not to the index. ``merge_policy=None``
    disables compaction.

    ``trigger``: ``writeStream`` trigger kwargs. Defaults to
    ``{"availableNow": True}`` — drain everything currently in the
    source (respecting rate limits like ``maxFilesPerTrigger``), then
    stop: the batch-backfill shape. Pass
    ``{"processingTime": "30 seconds"}`` to tail a live feed.

    Returns the started ``StreamingQuery``; callers
    ``awaitTermination()`` / ``stop()`` it.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        writer.append(batch_df)
        if merge_policy is not None:
            writer.maybe_compact(merge_policy)

    return (
        stream_df.writeStream
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
