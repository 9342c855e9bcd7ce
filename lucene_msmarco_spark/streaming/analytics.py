"""Structured-Streaming event analytics: watermarked windowed
aggregation and a custom stateful gap-sessionizer.

The batch engine already answers ``events_hourly`` and
``events_sessionize`` (dialect-templated SQL, DuckDB-oracle-checked).
This module re-expresses both as *streams* — the task-brief streaming
surface (``readStream`` -> transformations -> ``writeStream``,
watermarks + windowed aggs for late data, ``applyInPandasWithState``
for custom stateful operators) — under a hard contract: on a bounded
replay of the same events, the streaming result equals the batch result
row for row (pinned by the ``stream_hourly`` / ``stream_sessionize``
oracle rows and ``tests/test_streaming_analytics.py``).

Scale shape (100 TB / unbounded stream):

- ``hourly_counts`` is a plain streaming aggregation: map-side partial
  aggregates, one shuffle on ``(window, event_type)``, state store holds
  ONE row per open window x type and the watermark expires closed
  windows, so state is bounded by (watermark horizon / window size) x
  |event_type| regardless of input volume. Append mode emits each
  window exactly once, when the watermark passes its end — the sink is
  insert-only (no upsert machinery needed at any scale).
- ``sessionize`` is an ``applyInPandasWithState`` operator grouped on
  ``user_id`` (one shuffle; Arrow-batched, no per-row Python). Per-key
  state buffers only events of sessions the watermark has not yet
  closed — bounded by the session-gap + watermark horizon per user, not
  by stream length. Closed sessions are emitted exactly once, in
  es-order, with a monotonically increasing per-user ``session_idx``
  (identical numbering to the batch window-SQL). Event-time timeouts
  flush a user's trailing sessions once the watermark passes
  ``last_event + gap`` — no activity on the key is required.

Event-time column: the events table stores ``ts`` as TIMESTAMP_NTZ and
Spark watermarks require an instant (TIMESTAMP). All conversions here
go through **session-timezone-invariant** epoch arithmetic
(``NTZ_EPOCH_SQL`` / ``EPOCH_NTZ_SQL`` — unix_date + hour/minute/second
per-field extraction, never a tz-interpreting cast), so window
boundaries land on the *naive* hour exactly like the batch
``date_trunc('hour', ts)`` even under fractional-offset session zones
(Asia/Kathmandu is the regression test).

Bounded backfills: a windowed/stateful stream only emits what the
watermark has closed, so a finite replay would hold its tail windows /
sessions in state forever. ``run_backfill`` finishes such a replay with
a **drain sentinel** — one far-future marker row landed in a drain
side-source (unioned into the stream; the user's input directory is
never written to), advancing the watermark past every real event so
the final ``availableNow`` pass flushes all remaining state; sentinel
output rows are filtered back out. Live (unbounded) streams never need
the sentinel — fresh events advance the watermark continuously.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: the driver-generated events table (TESTDATA.md)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)

#: session-tz-invariant TIMESTAMP_NTZ -> epoch seconds (floor, like the
#: oracle's CAST(floor(epoch(ts)) AS BIGINT)): every extraction below is
#: a per-field function on the naive value, so no session-zone cast can
#: shift it. `{c}` = the ntz column.
NTZ_EPOCH_SQL = (
    "(unix_date(CAST({c} AS DATE)) * 86400 "
    "+ hour({c})*3600 + minute({c})*60 + second({c}))"
)

#: the inverse: epoch seconds -> TIMESTAMP_NTZ, again via tz-free date
#: arithmetic (date_from_unix_date + timestampadd). `{e}` = a BIGINT
#: epoch expression.
EPOCH_NTZ_SQL = (
    "timestampadd(SECOND, CAST({e} % 86400 AS INT), "
    "CAST(date_from_unix_date(CAST({e} DIV 86400 AS INT)) "
    "AS TIMESTAMP_NTZ))"
)

#: drain-sentinel markers (see module docstring). user_id is negative —
#: real user_ids are non-negative — so stateful output is filterable by
#: key alone; event_type is marked for the aggregation outputs.
DRAIN_USER_ID = -1
DRAIN_EVENT_TYPE = "__drain__"
#: safety margin added to the computed drain horizon (watermark delay +
#: window/gap) so boundary arithmetic can never leave the last
#: window/session unflushed
DRAIN_MARGIN_SEC = 86_400


_UNIT_SEC = {"second": 1, "minute": 60, "hour": 3600, "day": 86_400}


def interval_seconds(interval: str) -> int:
    """Length of an ``"<int> <second|minute|hour|day>[s]"`` interval
    string (e.g. ``"2 hours"``) in seconds — used to size the drain
    horizon from the actual watermark instead of a fixed constant. A day
    is a fixed 86,400 s (the watermark is an instant, so no
    session-zone DST arithmetic applies). Anything else raises
    ``ValueError``: the string comes from the command line and is never
    pasted into SQL."""
    m = re.fullmatch(
        r"\s*(\d+)\s+(second|minute|hour|day)s?\s*", interval, re.I
    )
    if m is None:
        raise ValueError(
            f"watermark {interval!r} is not '<int> "
            "<second|minute|hour|day>[s]'"
        )
    return int(m.group(1)) * _UNIT_SEC[m.group(2).lower()]


def event_time(col: str = "ts") -> Column:
    """The watermarkable instant for an ntz event column: epoch seconds
    of the naive value (as-if-UTC), independent of the session zone."""
    return F.expr(f"timestamp_seconds({NTZ_EPOCH_SQL.format(c=col)})")


def read_events_stream(
    spark: SparkSession, source_dir: str, options: dict | None = None
) -> DataFrame:
    """``readStream`` over a directory tree of events parquet files.

    New files under ``source_dir`` (recursively) become micro-batches;
    the schema is pinned (a streaming file source cannot infer it).
    ``options`` pass through to the file source (e.g.
    ``maxFilesPerTrigger`` to bound batch size on a large backlog).
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA).option(
        "recursiveFileLookup", "true"
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.parquet(source_dir)


# ---------------------------------------------------------------------------
# Watermarked windowed aggregation (streaming twin of events_hourly)
# ---------------------------------------------------------------------------


def hourly_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Per-(hour, event_type) count / avg / sum as a streaming agg.

    Late events are handled by the watermark: rows later than
    ``watermark`` behind the max seen event time are dropped, anything
    inside the horizon still lands in its (possibly already open)
    window. Append mode emits each window once, when the watermark
    passes its end; the emitted rows equal the batch
    ``date_trunc('hour', ts)`` aggregation (the ``events_hourly``
    oracle) on the same accepted input. ``hour`` is produced through
    the tz-free epoch inverse, then cast to TIMESTAMP exactly like the
    batch row renders it — wall-clock identical in any session zone.
    """
    return (
        events.select("*", event_time("ts").alias("etime"))
        .withWatermark("etime", watermark)
        .groupBy(F.window("etime", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            # TIMESTAMP_NTZ, same as the source ts: the persisted
            # output stays timezone-free (wall-clock hours) no matter
            # which session zone wrote or reads it
            F.expr(EPOCH_NTZ_SQL.format(e="unix_seconds(w.start)"))
            .alias("hour"),
            "event_type",
            "n",
            "avg_value",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Stateful gap-sessionizer (streaming twin of events_sessionize)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", IntegerType()),
        StructField("n_events", LongType()),
        StructField("duration_sec", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

#: per-user state: next session number + the buffered (es, event_id,
#: value) of every event whose session the watermark has not closed.
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("next_idx", IntegerType()),
        StructField("es", ArrayType(LongType())),
        StructField("eid", ArrayType(LongType())),
        StructField("val", ArrayType(DoubleType())),
    ]
)


def split_sessions(es: list[int], gap_sec: int) -> list[tuple[int, int]]:
    """Pure kernel (reference form): ``[start, end)`` index ranges of
    the gap-delimited sessions of an es-sorted event list. A gap
    STRICTLY greater than ``gap_sec`` starts a new session (the batch
    SQL's ``es - LAG(es) > gap`` rule; an exactly-``gap_sec`` gap
    joins). The stateful operator uses the vectorized twin
    ``split_bounds``; tests pin their equivalence."""
    bounds: list[tuple[int, int]] = []
    start = 0
    for i in range(1, len(es) + 1):
        if i < len(es) and es[i] - es[i - 1] <= gap_sec:
            continue
        bounds.append((start, i))
        start = i
    return bounds


def split_bounds(es, gap_sec: int):
    """Vectorized ``split_sessions``: (starts, ends) index arrays of the
    gap-delimited sessions of an es-sorted int64 array."""
    import numpy as np

    if len(es) == 0:
        z = np.empty(0, dtype="int64")
        return z, z
    starts = np.flatnonzero(
        np.diff(es, prepend=es[0] - gap_sec - 1) > gap_sec
    )
    ends = np.append(starts[1:], len(es))
    return starts, ends


def _make_sessionize_fn(gap_sec: int):
    """Build the applyInPandasWithState function for a given gap.

    The returned closure is shipped to executors via cloudpickle. All
    per-event work is numpy-vectorized over the whole Arrow batch
    (concat, stable sort, diff-based session split, reduceat sums) —
    Python-level iteration happens only per emitted SESSION row, never
    per event.
    """
    import numpy as np
    import pandas as pd  # local import: resolved on the executor too

    cols = SESSION_OUTPUT_SCHEMA.names

    def emit(uid, first_idx, es, val, starts, ends, upto):
        """Rows for the first ``upto`` sessions; bounds from the
        vectorized split (starts/ends are index arrays)."""
        if upto == 0:
            return None
        sums = np.add.reduceat(val, starts)[:upto]
        return pd.DataFrame(
            {
                "user_id": uid,
                "session_idx": np.arange(
                    first_idx, first_idx + upto, dtype="int32"
                ),
                "n_events": (ends[:upto] - starts[:upto]).astype("int64"),
                "duration_sec": (
                    es[ends[:upto] - 1] - es[starts[:upto]]
                ).astype("int64"),
                # raw float sum: sessionize() rounds in the plan with
                # F.round so the HALF_UP semantics match the batch twin
                "sum_value": sums,
            },
            columns=cols,
        )

    def fn(key, pdf_iter: Iterator, state) -> Iterator:
        uid = key[0]
        if state.hasTimedOut:
            # watermark passed last_es + gap (+1s): no future event can
            # join ANY buffered session — flush them all, in order.
            # The state does NOT vanish: the per-user counter survives
            # (events arriving after a full flush continue the batch
            # numbering at k+1, never restart at 1). The residual state
            # is counter-only — two ints and three empty arrays per
            # ever-seen user — the price of the batch-identical
            # session_idx contract on an unbounded stream.
            next_idx, es, eid, val = state.get
            es = np.asarray(es, dtype="int64")
            val = np.asarray(val, dtype="float64")
            starts, ends = split_bounds(es, gap_sec)
            state.update((next_idx + len(starts), [], [], []))
            out = emit(uid, next_idx, es, val, starts, ends, len(starts))
            if out is not None:
                yield out
            return

        if state.exists:
            next_idx, s_es, s_eid, s_val = state.get
            frames = [
                pd.DataFrame({"es": s_es, "eid": s_eid, "val": s_val})
            ]
        else:
            next_idx, frames = 1, []

        # events older than the watermark are dropped (same policy a
        # streaming aggregation applies): their session may already
        # have been emitted, so admitting them could double-count
        wm_ms = state.getCurrentWatermarkMs()
        wm = wm_ms // 1000
        for pdf in pdf_iter:
            sub = pd.DataFrame(
                {
                    "es": pdf["es"].astype("int64"),
                    "eid": pdf["event_id"].astype("int64"),
                    "val": pdf["value"].astype("float64"),
                }
            )
            if wm_ms > 0:
                sub = sub[sub["es"] * 1000 >= wm_ms]
            frames.append(sub)

        buf = (
            pd.concat(frames, ignore_index=True)
            if frames
            else pd.DataFrame(columns=["es", "eid", "val"])
        )
        if len(buf) == 0:
            if state.exists:  # keep the session counter (see above)
                state.update((next_idx, [], [], []))
            return
        buf = buf.sort_values(["es", "eid"], kind="mergesort")
        es = buf["es"].to_numpy(dtype="int64")
        eid = buf["eid"].to_numpy(dtype="int64")
        val = buf["val"].to_numpy(dtype="float64")

        # finalize the prefix of sessions the watermark has closed
        # (last_es + gap < wm => any future event, which must carry
        # es >= wm, exceeds the gap and cannot join). Sessions close in
        # es-order, so the closable set is always a prefix and
        # session_idx numbering matches the batch window-SQL.
        starts, ends = split_bounds(es, gap_sec)
        closable = es[ends - 1] + gap_sec < wm
        k = len(starts) if closable.all() else int(np.argmin(closable))
        out = emit(uid, next_idx, es, val, starts, ends, k)

        keep_from = ends[k - 1] if k else 0
        es, eid, val = es[keep_from:], eid[keep_from:], val[keep_from:]
        state.update(
            (next_idx + k, es.tolist(), eid.tolist(), val.tolist())
        )
        if len(es):
            # flush the remainder once the watermark passes the close
            # of the LAST buffered session; +1s keeps the timestamp
            # strictly above a watermark equal to last+gap
            state.setTimeoutTimestamp((int(es[-1]) + gap_sec) * 1000 + 1000)
        # an empty buffer keeps counter-only state (numbering contract)
        if out is not None:
            yield out

    return fn


def sessionize(
    events: DataFrame,
    gap_sec: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator.

    Emits one row per closed session — ``(user_id, session_idx,
    n_events, duration_sec, sum_value)`` — identical to the batch
    window-SQL (the ``events_sessionize`` oracle) on the same accepted
    input. Sessions spanning micro-batch boundaries merge through the
    per-user state buffer; trailing sessions flush via event-time
    timeout when the watermark passes ``last_event + gap``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = (
        events.select(
            "user_id",
            "event_id",
            "value",
            event_time("ts").alias("etime"),
            F.expr(NTZ_EPOCH_SQL.format(c="ts")).cast("long").alias("es"),
        )
        .withWatermark("etime", watermark)
    )
    sessions = prepared.groupBy("user_id").applyInPandasWithState(
        _make_sessionize_fn(gap_sec),
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    # round in the PLAN (Spark HALF_UP, identical to the batch twin's
    # round(SUM(value), 4)), not in the Python kernel
    return sessions.withColumn("sum_value", F.round("sum_value", 4))


# ---------------------------------------------------------------------------
# Bounded-backfill runner (availableNow + drain sentinel)
# ---------------------------------------------------------------------------


def write_drain_sentinel(
    spark: SparkSession,
    source_dir: str,
    drain_dir: str,
    horizon_sec: int,
) -> bool:
    """Append the far-future marker row that closes a bounded replay.

    Lands one row ``horizon_sec`` past the real max event time of
    ``source_dir`` as a fresh file under ``drain_dir`` — a SEPARATE
    directory the backfill stream unions in, so the user's input
    directory is never written to. The caller sizes ``horizon_sec``
    from its actual watermark delay + window/gap (plus
    ``DRAIN_MARGIN_SEC``), so exotic parameters can never leave tail
    state unflushed. Returns False on an empty source.

    The max(ts) read answers from parquet footer statistics where the
    reader supports aggregate pushdown (no second full data scan of the
    backfill input); the conf is restored afterwards.
    """
    prev = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        real = spark.read.schema(EVENTS_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(source_dir)
        mx = real.agg(F.max("ts")).collect()[0][0]
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev)
    if mx is None:
        return False
    sent = spark.createDataFrame(
        [(-1, mx, DRAIN_USER_ID, DRAIN_EVENT_TYPE, 0.0, "")],
        EVENTS_SCHEMA,
    ).withColumn(
        "ts",
        F.expr(f"ts + make_dt_interval(0, 0, 0, {int(horizon_sec)})"),
    )
    sent.coalesce(1).write.mode("append").parquet(drain_dir)
    return True


def _run_available_now(
    out: DataFrame, sink_dir: str, checkpoint_dir: str, **stream_options
) -> None:
    writer = (
        out.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .format("parquet")
    )
    q = writer.start(sink_dir)
    q.awaitTermination()


def run_backfill(
    spark: SparkSession,
    source_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    sink_dir: str,
    checkpoint_dir: str,
    drain_filter: Column | None = None,
    drain: bool = True,
    source_options: dict | None = None,
    horizon_sec: int = DRAIN_MARGIN_SEC,
) -> DataFrame:
    """Replay a bounded event directory through a streaming transform.

    Runs ``transform`` over the union of two file sources — the (read-
    only) ``source_dir`` and a drain directory kept inside the
    checkpoint dir — with ``availableNow=True`` into a parquet
    ``sink_dir``. When ``drain`` is set, the far-future sentinel lands
    in the drain directory (never in the user's input) and one more
    pass runs so the watermark closes every real window/session;
    sentinel rows are filtered back out with ``drain_filter``. The
    checkpoint makes the whole sequence restartable: re-running after a
    kill resumes from the offset log and never duplicates an emitted
    row (append-mode sinks are exactly-once under same-checkpoint
    restarts).
    """
    # the drain source lives with the checkpoint: same lifecycle, and a
    # re-run over the same checkpoint sees the same two-source graph
    drain_dir = os.path.join(checkpoint_dir, "__drain_source__")
    os.makedirs(drain_dir, exist_ok=True)
    stream = read_events_stream(
        spark, source_dir, options=source_options
    ).unionByName(read_events_stream(spark, drain_dir))
    out = transform(stream)
    _run_available_now(out, sink_dir, checkpoint_dir)
    if drain and write_drain_sentinel(
        spark, source_dir, drain_dir, horizon_sec
    ):
        _run_available_now(out, sink_dir, checkpoint_dir)
    if not any(
        not f.startswith(("_", "."))
        for _, _, fs in os.walk(sink_dir)
        for f in fs
    ):  # sink never received a row: empty result (a real read error
        # below must surface, not be swallowed into "no rows")
        return spark.createDataFrame([], out.schema)
    result = spark.read.schema(out.schema).parquet(sink_dir)
    if drain_filter is not None:
        result = result.filter(drain_filter)
    return result


def hourly_backfill(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    drain: bool = True,
    source_options: dict | None = None,
) -> DataFrame:
    """Bounded replay of the watermarked hourly aggregation. With
    ``drain``, equals the batch ``events_hourly`` result exactly."""
    return run_backfill(
        spark,
        source_dir,
        lambda ev: hourly_counts(ev, watermark=watermark),
        sink_dir,
        checkpoint_dir,
        drain_filter=~F.col("event_type").eqNullSafe(DRAIN_EVENT_TYPE),
        drain=drain,
        source_options=source_options,
        # sentinel must clear watermark delay + the 1h window
        horizon_sec=interval_seconds(watermark)
        + 3600
        + DRAIN_MARGIN_SEC,
    )


def sessionize_backfill(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    gap_sec: int = 1800,
    watermark: str = "2 hours",
    drain: bool = True,
    source_options: dict | None = None,
) -> DataFrame:
    """Bounded replay of the stateful sessionizer. With ``drain``,
    equals the batch ``events_sessionize`` result exactly."""
    return run_backfill(
        spark,
        source_dir,
        lambda ev: sessionize(ev, gap_sec=gap_sec, watermark=watermark),
        sink_dir,
        checkpoint_dir,
        drain_filter=~F.col("user_id").eqNullSafe(DRAIN_USER_ID),
        drain=drain,
        source_options=source_options,
        # sentinel must clear watermark delay + the session gap (+1s
        # timeout slack, absorbed by the margin)
        horizon_sec=interval_seconds(watermark)
        + gap_sec
        + DRAIN_MARGIN_SEC,
    )


def scratch_dirs(prefix: str) -> tuple[str, str, str]:
    """(source, sink, checkpoint) temp dirs for a backfill run."""
    return (
        tempfile.mkdtemp(prefix=f"{prefix}_src_"),
        tempfile.mkdtemp(prefix=f"{prefix}_sink_"),
        tempfile.mkdtemp(prefix=f"{prefix}_ckpt_"),
    )


def cleanup_dirs(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
