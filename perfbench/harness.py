"""Shared pieces of the workloads: the pinned environment and session,
the host context numbers and the result line."""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

#: one job gets all four cores, and one shuffle partition per core: the
#: inputs are a few MB, so more partitions would only add task launches
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4


def pinned_env(work: str, root: str) -> dict[str, str]:
    """Process environment of a workload run. Every value here is a
    noise source when left to the host: the package's default master is
    ``local[32]``, its default heap (24g) exceeds a 15 GiB host, its
    shuffle dir is tmpfs or a shared disk depending on free memory, and
    string hashing is salted per process."""
    env = dict(os.environ)
    for k in ("SPARK_HOME", "PYSPARK_DRIVER_PYTHON", "SPARK_CONF_DIR"):
        env.pop(k, None)
    env.update({
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_DRIVER_MEM": "4g",
        "LMS_SPARK_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher too: temp files under the
        # work dir, and no hsperfdata file in the system /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(work, "tmp"),
        "PYTHONHASHSEED": "0",
        "OMP_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": root,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


PINNED_KEYS = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "LMS_SPARK_LOCAL_DIR",
               "PYTHONHASHSEED", "OMP_NUM_THREADS")


def start_session(work: str, extra_conf: dict[str, str]):
    """The engine's own session builder with the pinned settings; returns
    (session, seconds it took)."""
    from lucene_msmarco_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **extra_conf,
    }
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=MASTER,
                          shuffle_partitions=SHUFFLE_PARTITIONS,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def calibrate() -> float:
    """Seconds for a fixed amount of single-core hashing. Compared
    before and after a run, it shows whether the host slowed down."""
    t0 = time.perf_counter()
    x = b"x" * 64
    for _ in range(400_000):
        x = hashlib.sha256(x).digest() * 2
    return time.perf_counter() - t0


def cpu_stat() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return (after[1] - before[1]) / dt if dt > 0 else 0.0


def emit(info: dict, correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """Print the run's context line, then the result line last."""
    print(json.dumps(info, sort_keys=True, default=str))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
