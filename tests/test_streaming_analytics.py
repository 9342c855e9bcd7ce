"""Streaming analytics (streaming/analytics.py): the watermarked hourly
aggregation and the applyInPandasWithState gap-sessionizer.

Contract under test: a bounded replay through the streaming operators
equals the batch engine on the same accepted input — including sessions
and windows that span micro-batch boundaries — and the watermark drops
late data with the documented semantics. The sf0.01 value-level oracle
rows (``stream_hourly`` / ``stream_sessionize`` vs DuckDB) live in
test_entry_contract.py; this module pins the *streaming-only* behaviors
those single-replay rows cannot see."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lucene_msmarco_spark.streaming.analytics import (
    EVENTS_SCHEMA,
    cleanup_dirs,
    hourly_backfill,
    interval_seconds,
    scratch_dirs,
    sessionize_backfill,
    split_bounds,
    split_sessions,
)

SF = "/root/testdata/sf0.001"
T0 = dt.datetime(2024, 3, 15, 0, 0, 0)


def _mk_events(spark, rows):
    """rows: (event_id, minutes_from_T0, user_id, event_type, value)"""
    data = [
        (eid, T0 + dt.timedelta(minutes=m), uid, et, v, "")
        for (eid, m, uid, et, v) in rows
    ]
    return spark.createDataFrame(data, EVENTS_SCHEMA)


def _batch_hourly(ev):
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _batch_sessionize(spark, ev):
    """The events_sessionize oracle SQL (rendered from the SAME dialect
    template as the engine's contract row — no hand-copied twin that
    could drift) over an arbitrary events frame."""
    from lucene_msmarco_spark.entry_queries import build_sql

    ev.createOrReplaceTempView("events")
    return spark.sql(build_sql("events_sessionize", "spark"))


def _same_rows(a, b):
    return (
        a.exceptAll(b).count() == 0
        and b.exceptAll(a).count() == 0
        and a.count() == b.count()
    )


# ---------------------------------------------------------------------------
# pure kernel
# ---------------------------------------------------------------------------


def test_split_sessions_kernel():
    gap = 1800
    assert split_sessions([], gap) == []
    assert split_sessions([5], gap) == [(0, 1)]
    # an exactly-gap spacing JOINS (batch rule: diff > gap splits)
    assert split_sessions([0, 1800, 3600], gap) == [(0, 3)]
    assert split_sessions([0, 1801], gap) == [(0, 1), (1, 2)]
    assert split_sessions([0, 600, 2400, 9000, 9100], gap) == [
        (0, 3),
        (3, 5),
    ]


@pytest.mark.parametrize("seed", range(5))
def test_split_bounds_equals_reference(seed):
    """The vectorized session split (what the stateful operator runs)
    matches the reference list kernel on random sorted inputs."""
    import random

    import numpy as np

    rng = random.Random(seed)
    es = sorted(rng.randrange(0, 50_000) for _ in range(rng.randrange(0, 80)))
    for gap in (1, 600, 1800, 50_000):
        starts, ends = split_bounds(np.asarray(es, dtype="int64"), gap)
        assert (
            list(zip(starts.tolist(), ends.tolist()))
            == split_sessions(es, gap)
        )


# ---------------------------------------------------------------------------
# hourly windowed aggregation
# ---------------------------------------------------------------------------


def test_hourly_backfill_equals_batch(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src, sink, ckpt = scratch_dirs("lmst_h1")
    try:
        ev.write.mode("overwrite").parquet(src + "/batch0")
        got = hourly_backfill(spark, src, sink, ckpt)
        want = _batch_hourly(ev)
        assert want.count() > 100
        assert _same_rows(
            got.select("hour", "event_type", "n", "avg_value", "sum_value"),
            want,
        )
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_hourly_cross_batch_late_drop(spark):
    """Two sequential replays over one checkpoint: the second batch's
    too-late event (older than max_seen - watermark) is dropped, the
    in-horizon event lands in its window, and everything else matches
    the batch aggregation over the accepted rows."""
    src, sink, ckpt = scratch_dirs("lmst_h2")
    try:
        # batch 1: steady traffic minutes 0..300 (max ts = 05:00)
        a = _mk_events(
            spark,
            [(i, m, 1, "click", 1.0) for i, m in enumerate(range(0, 301, 30))],
        )
        a.write.mode("overwrite").parquet(src + "/b0")
        hourly_backfill(spark, src, sink, ckpt, drain=False)
        # watermark is now 05:00 - 2h = 03:00. batch 2: one event at
        # 00:30 (window closed — dropped), one at 03:30 (inside the
        # horizon — accepted), one new max at 06:00
        b = _mk_events(
            spark,
            [(100, 30, 1, "late", 5.0), (101, 210, 1, "click", 1.0),
             (102, 360, 1, "click", 1.0)],
        )
        b.write.mode("overwrite").parquet(src + "/b1")
        got = hourly_backfill(spark, src, sink, ckpt, drain=True)

        accepted = a.unionByName(b.filter(F.col("event_id") != 100))
        want = _batch_hourly(accepted)
        assert _same_rows(
            got.select("hour", "event_type", "n", "avg_value", "sum_value"),
            want,
        )
        # the late event's type never appears
        assert got.filter(F.col("event_type") == "late").count() == 0
        # the 03:00 window holds BOTH its batch-1 rows and the late-but-
        # in-horizon batch-2 row (06:00 arrived in the same micro-batch,
        # so the 03:00 window was still open when 03:30 landed)
        h3 = got.filter(
            F.col("hour") == dt.datetime(2024, 3, 15, 3, 0, 0)
        ).collect()
        assert len(h3) == 1 and h3[0].n == 3
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_hourly_tz_invariance(spark):
    """Window boundaries land on the naive hour even under a
    fractional-offset session timezone (the NTZ<->instant conversions
    are epoch arithmetic, never a tz-interpreting cast)."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    src, sink, ckpt = scratch_dirs("lmst_h3")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
        ev = _mk_events(
            spark,
            [(1, 10, 1, "a", 1.0), (2, 50, 1, "a", 2.0),
             (3, 70, 1, "b", 3.0)],
        )
        ev.write.mode("overwrite").parquet(src + "/b0")
        got = hourly_backfill(spark, src, sink, ckpt)
        # identical to the batch date_trunc aggregation under the same
        # session zone...
        assert _same_rows(
            got.select("hour", "event_type", "n", "avg_value", "sum_value"),
            _batch_hourly(ev),
        )
        # ...and the boundaries sit on the NAIVE hour: rendered in the
        # (+05:45) session zone, every window start is :00:00 — a
        # UTC-aligned window would land on :15:00 here
        walls = {
            r.wall
            for r in got.select(
                F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("wall")
            ).collect()
        }
        assert walls == {"2024-03-15 00:00:00", "2024-03-15 01:00:00"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        cleanup_dirs(src, sink, ckpt)


# ---------------------------------------------------------------------------
# stateful sessionizer
# ---------------------------------------------------------------------------


def test_sessionize_backfill_equals_batch(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src, sink, ckpt = scratch_dirs("lmst_s1")
    try:
        ev.write.mode("overwrite").parquet(src + "/batch0")
        got = sessionize_backfill(spark, src, sink, ckpt)
        want = _batch_sessionize(spark, ev)
        assert want.count() > 500
        assert _same_rows(got, want)
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_sessionize_cross_batch_merge(spark):
    """A session split across two micro-batches merges through the
    state buffer; the trailing session flushes via event-time timeout
    on the drain pass."""
    src, sink, ckpt = scratch_dirs("lmst_s2")
    try:
        a = _mk_events(spark, [(1, 0, 7, "a", 1.0), (2, 10, 7, "a", 1.0)])
        a.write.mode("overwrite").parquet(src + "/b0")
        got1 = sessionize_backfill(spark, src, sink, ckpt, drain=False)
        # watermark hasn't passed anything: no session may emit yet
        assert got1.count() == 0
        # batch 2 continues the same session (20' after its last event)
        # and opens a second one 2h later
        b = _mk_events(spark, [(3, 30, 7, "a", 1.0), (4, 150, 7, "a", 9.0)])
        b.write.mode("overwrite").parquet(src + "/b1")
        got = sessionize_backfill(spark, src, sink, ckpt, drain=True)
        rows = sorted(
            (r.session_idx, r.n_events, r.duration_sec, r.sum_value)
            for r in got.filter(F.col("user_id") == 7).collect()
        )
        assert rows == [(1, 3, 1800, 3.0), (2, 1, 0, 9.0)]
        # and the full result equals the batch twin over the union
        want = _batch_sessionize(spark, a.unionByName(b))
        assert _same_rows(got, want)
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_backfill_rerun_is_idempotent(spark):
    """Re-running a completed backfill over the same checkpoint emits
    nothing new: the offset log skips consumed files, the fresh drain
    sentinel merges into the sentinel's own (filtered) state without
    advancing the watermark, and append-mode sinks never rewrite."""
    import os as _os

    src, sink, ckpt = scratch_dirs("lmst_i1")
    try:
        ev = _mk_events(
            spark,
            [(i, m, i % 3, "a", 1.0) for i, m in enumerate(range(0, 240, 20))],
        )
        ev.write.mode("overwrite").parquet(src + "/b0")
        before = {
            _os.path.join(r, f)
            for r, _, fs in _os.walk(src)
            for f in fs
        }
        first = sessionize_backfill(spark, src, sink, ckpt).collect()
        again = sessionize_backfill(spark, src, sink, ckpt).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, first))
        # the drain sentinel lands in the checkpoint's drain source,
        # NEVER in the user's input directory
        after = {
            _os.path.join(r, f)
            for r, _, fs in _os.walk(src)
            for f in fs
        }
        assert after == before
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_sessionize_multi_batch_single_run(spark):
    """maxFilesPerTrigger=1 splits one availableNow run into several
    micro-batches (files ordered oldest-mtime-first): the watermark
    advances between them, mid-run timeouts fire, and the final result
    still equals the batch twin."""
    import os as _os
    import time as _time

    src, sink, ckpt = scratch_dirs("lmst_m1")
    try:
        a = _mk_events(spark, [(1, 0, 5, "a", 1.0), (2, 10, 5, "a", 1.0)])
        b = _mk_events(spark, [(3, 25, 5, "a", 1.0), (4, 400, 5, "a", 2.0)])
        a.coalesce(1).write.mode("overwrite").parquet(src + "/b0")
        b.coalesce(1).write.mode("overwrite").parquet(src + "/b1")
        # pin the processing order: the file source takes oldest first
        now = _time.time()
        for sub, age in (("b0", 100), ("b1", 50)):
            d = _os.path.join(src, sub)
            for f in _os.listdir(d):
                _os.utime(_os.path.join(d, f), (now - age, now - age))
        got = sessionize_backfill(
            spark, src, sink, ckpt,
            source_options={"maxFilesPerTrigger": "1"},
        )
        want = _batch_sessionize(spark, a.unionByName(b))
        assert _same_rows(got, want)
        rows = sorted(
            (r.session_idx, r.n_events) for r in got.collect()
        )
        assert rows == [(1, 3), (2, 1)]
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_session_numbering_survives_flush(spark):
    """After a full state flush (event-time timeout emitted every
    buffered session), a RETURNING user's next session continues the
    batch numbering (k+1) instead of restarting at 1 — the residual
    counter-only state preserves the (user_id, session_idx) key
    contract."""
    src, sink, ckpt = scratch_dirs("lmst_n1")
    try:
        # batch 1: user 7's first session
        a = _mk_events(spark, [(1, 0, 7, "a", 1.0), (2, 5, 7, "a", 1.0)])
        a.write.mode("overwrite").parquet(src + "/b0")
        sessionize_backfill(spark, src, sink, ckpt, drain=False)
        # batch 2: OTHER user's traffic 9h later pushes the watermark
        # past user 7's last+gap -> user 7's timeout fires (full flush)
        b = _mk_events(spark, [(3, 540, 8, "a", 1.0)])
        b.write.mode("overwrite").parquet(src + "/b1")
        sessionize_backfill(spark, src, sink, ckpt, drain=False)
        # batch 3: user 7 returns (inside the watermark horizon)
        c = _mk_events(spark, [(4, 545, 7, "a", 5.0)])
        c.write.mode("overwrite").parquet(src + "/b2")
        got = sessionize_backfill(spark, src, sink, ckpt, drain=True)
        seven = sorted(
            (r.session_idx, r.n_events, r.sum_value)
            for r in got.filter(F.col("user_id") == 7).collect()
        )
        assert seven == [(1, 2, 2.0), (2, 1, 5.0)]
        # and the whole result still equals the batch twin
        want = _batch_sessionize(spark, a.unionByName(b).unionByName(c))
        assert _same_rows(got, want)
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_drain_horizon_scales_with_gap(spark):
    """The drain sentinel is sized from watermark + gap, so a gap far
    larger than any fixed horizon still flushes the tail session."""
    src, sink, ckpt = scratch_dirs("lmst_g1")
    try:
        month = 30 * 86_400
        ev = _mk_events(
            spark,
            [(1, 0, 3, "a", 1.0), (2, 40 * 1440, 3, "a", 2.0)],
        )
        ev.write.mode("overwrite").parquet(src + "/b0")
        got = sessionize_backfill(spark, src, sink, ckpt, gap_sec=month)
        rows = sorted(
            (r.session_idx, r.n_events) for r in got.collect()
        )
        # 40 days apart > 30-day gap: two sessions, BOTH flushed
        assert rows == [(1, 1), (2, 1)]
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_sessionize_late_event_dropped(spark):
    """An event older than the watermark is discarded by the stateful
    operator (its session may already have been emitted), mirroring the
    streaming-aggregation late-data policy."""
    src, sink, ckpt = scratch_dirs("lmst_s3")
    try:
        # one long-gone session, then traffic that pushes the
        # watermark (2h delay) far past it
        a = _mk_events(
            spark,
            [(1, 0, 9, "a", 1.0), (2, 600, 9, "a", 1.0)],
        )
        a.write.mode("overwrite").parquet(src + "/b0")
        sessionize_backfill(spark, src, sink, ckpt, drain=False)
        # watermark = 10:00 - 2h = 08:00. A late event at minute 5
        # would have JOINED session 1 in batch semantics; streaming
        # must drop it, leaving session 1 as emitted
        b = _mk_events(spark, [(3, 5, 9, "late", 1.0)])
        b.write.mode("overwrite").parquet(src + "/b1")
        got = sessionize_backfill(spark, src, sink, ckpt, drain=True)
        rows = sorted(
            (r.session_idx, r.n_events) for r in got.collect()
        )
        assert rows == [(1, 1), (2, 1)]
    finally:
        cleanup_dirs(src, sink, ckpt)


def test_drain_filter_keeps_null_keys(spark):
    """The drain sentinel is filtered out NULL-safely: a NULL
    event_type row (hourly) and a NULL user_id row (sessionize) survive
    the filter, so each backfill equals its batch twin, whose groupBy /
    window keeps the NULL group."""
    ev = _mk_events(
        spark,
        [
            (1, 0, 7, None, 1.0),
            (2, 5, 7, "a", 2.0),
            (3, 10, None, "a", 3.0),
            (4, 20, None, "b", 4.0),
        ],
    )
    for run, batch in (
        (hourly_backfill, _batch_hourly(ev)),
        (sessionize_backfill, _batch_sessionize(spark, ev)),
    ):
        src, sink, ckpt = scratch_dirs("lmst_null")
        try:
            ev.write.mode("overwrite").parquet(src + "/b0")
            got = run(spark, src, sink, ckpt).select(*batch.columns)
            assert _same_rows(got, batch)
        finally:
            cleanup_dirs(src, sink, ckpt)


def test_watermark_is_parsed_not_pasted():
    """--watermark is parsed as '<int> <unit>[s]' in Python: a day is a
    fixed 86,400 s, and anything else (a SQL fragment included) raises
    instead of reaching spark.sql."""
    assert interval_seconds("1 day") == 86_400
    assert interval_seconds("2 hours") == 7_200
    for bad in ("1 hour) UNION SELECT 1 --", "2h", "1.5 hours", ""):
        with pytest.raises(ValueError, match="watermark"):
            interval_seconds(bad)
