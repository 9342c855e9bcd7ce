"""One workload run in a fresh process; started by ``run.py``, which pins
the environment and owns the work directory."""

from __future__ import annotations

import argparse
import os
import statistics
import sys
from collections import defaultdict

import harness
import spans

# (metric, span name, span field, how one group's spans combine)
SPAN_METRICS = [
    ("compile.self_s", "compile", "self_s", sum, "s"),
    ("bmw.self_s", "bmw", "self_s", sum, "s"),
    ("bmw.task_busy_s", "bmw", "task_busy_s", sum, "s"),
    ("bmw.driver_s", "bmw", "driver_s", sum, "s"),
    ("bmw.jobs", "bmw", "jobs", sum, "count"),
    ("bmw.tasks", "bmw", "tasks", sum, "count"),
    ("bmw.task_skew", "bmw", "task_skew", max, "ratio"),
    ("bmw.blob_rows_read", "bmw", "records_read", sum, "rows"),
    ("bmw.shuffle_write_bytes", "bmw", "shuffle_write", sum, "bytes"),
    ("bmw.gc_s", "bmw", "gc_s", sum, "s"),
    ("write_run.self_s", "write_run", "self_s", sum, "s"),
    ("write_run.bytes", "write_run", "bytes_written", sum, "bytes"),
    ("append.self_s", "append", "self_s", sum, "s"),
    ("append.task_busy_s", "append", "task_busy_s", sum, "s"),
    ("append.bytes_written", "append", "bytes_written", sum, "bytes"),
    ("append.shuffle_write_bytes", "append", "shuffle_write", sum, "bytes"),
    ("compact.self_s", "compact", "self_s", sum, "s"),
    ("compact.bytes_rewritten", "compact", "bytes_written", sum, "bytes"),
    ("load.self_s", "load", "self_s", sum, "s"),
    ("build.assign_s", "build.assign", "self_s", sum, "s"),
    ("build.index_s", "build.index", "self_s", sum, "s"),
    ("search.self_s", "search", "self_s", sum, "s"),
    ("search.shuffle_bytes", "search", "shuffle_write", sum, "bytes"),
    ("search.spill_bytes", "search", "spill", sum, "bytes"),
    ("feedback.stats_s", "feedback.stats", "self_s", sum, "s"),
    ("feedback.weights_s", "feedback.weights", "self_s", sum, "s"),
    ("feedback.expand_s", "feedback.expand", "self_s", sum, "s"),
    ("feedback.expanded_search_s", "feedback.expanded_search", "self_s", sum, "s"),
    ("qpp_experiment.self_s", "qpp_experiment", "self_s", sum, "s"),
]
OP_SPANS = ("lookup", "bulk", "research")


def layer_metrics(rows, res, host) -> dict[str, tuple[float, str]]:
    m = {name: (spans.per_group(rows, span, field, agg), unit)
         for name, span, field, agg, unit in SPAN_METRICS}
    build_busy = [spans.per_group(rows, s, "task_busy_s")
                  for s in ("build.assign", "build.index")]
    m["build.task_busy_s"] = (sum(build_busy), "s")
    m["build.cached_bytes"] = (res.get("cached_bytes", 0), "bytes")

    layout = res.get("layout", {})
    appended = m["append.bytes_written"][0]
    m["compact.merges"] = (layout.get("merges", 0), "count")
    m["compact.write_amp"] = (
        (appended + m["compact.bytes_rewritten"][0]) / layout["input_bytes"]
        if layout else 0.0, "ratio")
    m["load.live_generations"] = (layout.get("live_generations", 0), "count")
    m["index.bytes_per_input_byte"] = (
        layout["index_bytes"] / layout["input_bytes"] if layout else 0.0, "ratio")

    counts = res.get("counts", {})
    m["compile.terms_per_query"] = (counts.get("terms_per_query", 0.0),
                                    "terms/query")
    m["feedback.expansion_terms"] = (counts.get("expansion_terms", 0.0),
                                     "terms/query")
    m["all.task_retries"] = (sum(r["retries"] for r in rows), "count")
    m["all.failed_tasks"] = (sum(r["failed"] for r in rows), "count")

    # overhead: traced over untraced median op time, per op kind, averaged
    ratios = []
    for kind in {k for k, _dt, _t in res["ops"]}:
        on = [dt for k, dt, t in res["ops"] if k == kind and t]
        off = [dt for k, dt, t in res["ops"] if k == kind and not t]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    m["trace.overhead"] = (statistics.mean(ratios) if ratios else 0.0, "ratio")
    covered = []
    for r in rows:
        if r["name"] in OP_SPANS:
            covered.append(1.0 - r["self_s"] / r["wall_s"])
    m["trace.span_coverage"] = (min(covered) if covered else 0.0, "ratio")
    ops = op_breakdown(rows, res["ops"])
    m["trace.op_coverage"] = (min((o["layer_s"] / o["untraced_op_s"]
                                   for o in ops.values()), default=0.0), "ratio")
    m["session.start_s"] = (res["info"]["session_s"], "s")
    m.update({f"host.{k}": v for k, v in host.items()})
    return m


def op_breakdown(rows, ops) -> dict[str, dict[str, float]]:
    """Per op kind, medians over the traced ops of the op's wall time,
    the summed wall time of its layer spans (its direct children) and
    the bmw spans' wall and task-busy time; and the median untraced op.

    ``layer_s / untraced_op_s`` is how much of the real, untraced op the
    layer spans account for. It differs from ``trace.span_coverage``
    (layer spans / traced op) when the traced op, which materialises
    each layer's output, does more or less work than the untraced one."""
    kids = defaultdict(list)
    for r in rows:
        if r["parent"]:
            kids[r["parent"]].append(r)
    out = {}
    for kind in sorted({k for k, _dt, _t in ops}):
        traced = [r for r in rows if r["name"] == kind]
        untraced = [dt for k, dt, t in ops if k == kind and not t]
        if not traced or not untraced:
            continue
        med = statistics.median
        bmw = [[c for c in kids[r["label"]] if c["name"] == "bmw"] for r in traced]
        out[kind] = {
            "traced_op_s": med(r["wall_s"] for r in traced),
            "untraced_op_s": med(untraced),
            "layer_s": med(sum(c["wall_s"] for c in kids[r["label"]])
                           for r in traced),
            "bmw_wall_s": med(sum(c["wall_s"] for c in b) for b in bmw),
            "bmw_task_busy_s": med(sum(c["task_busy_s"] for c in b) for b in bmw),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("serve", "experiment"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    calib_before = harness.calibrate()
    stat0 = harness.cpu_stat()
    log_dir = os.path.join(args.work, "eventlog")
    spark, session_s = harness.start_session(
        args.work, spans.event_log_conf(log_dir) if args.trace else {})
    tr = spans.Tracer(spark, bool(args.trace))
    if args.workload == "serve":
        import serve as workload
    else:
        import experiment as workload
    res = workload.run(spark, tr, args.seed, args.seconds, args.work, session_s)
    spark.stop()
    stat1 = harness.cpu_stat()
    host = {
        "calib_before_s": (calib_before, "s"),
        "calib_after_s": (harness.calibrate(), "s"),
        "steal_frac": (harness.steal_frac(stat0, stat1), "ratio"),
    }
    if args.trace:
        rows = spans.span_rows(tr.spans, *spans.read_event_log(log_dir))
        metrics = layer_metrics(rows, res, host)
        res["info"]["op_breakdown"] = op_breakdown(rows, res["ops"])
    else:
        metrics = res["e2e"]
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": harness.MASTER,
        "shuffle_partitions": harness.SHUFFLE_PARTITIONS,
        "pinned_env": {k: os.environ.get(k) for k in harness.PINNED_KEYS},
        "metrics_by_name": res["by_name"],
        "host": {k: v for k, (v, _u) in host.items()},
        **res["info"],
    }
    harness.emit(info, res["correct"], res["attempted"], res["failed"], metrics)


if __name__ == "__main__":
    sys.exit(main())
