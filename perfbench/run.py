"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Workloads: ``serve`` (BM25 lookup and bulk batches over the segmented
index) and ``experiment`` (RLM feedback + evaluation + QPP over the
row-level index); see perfbench/NOTES.md. Each run gets a fresh work
directory under ``.perfbench_work/`` and a fresh process with a pinned
environment (harness.pinned_env). The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}``; end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. Every
process the run starts (the workload, its JVM, Python workers) is
stopped and reaped before this script exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import pinned_env  # noqa: E402

TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def _stop_all(grace_s: float = 10.0) -> None:
    """Reap every descendant. This process is their subreaper, so the
    JVM and the Python workers orphaned by the workload land here; those
    still running after ``grace_s`` are killed."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("serve", "experiment"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "lucene_msmarco_spark")):
        print("run from the root of a checkout holding lucene_msmarco_spark/",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work]
    child = subprocess.Popen(cmd, cwd=root, env=pinned_env(work, root),
                             stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=TIMEOUT_S)
        code = child.returncode
    except subprocess.TimeoutExpired:
        out, code = b"", 124
        print(f"workload exceeded {TIMEOUT_S} s", file=sys.stderr)
    finally:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _stop_all()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.decode().strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out.decode())
        return code or 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        print("workload printed no result line", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
