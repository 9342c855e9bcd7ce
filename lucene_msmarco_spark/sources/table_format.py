"""Storage-format abstraction for the transcript input and the global
index artifact (north rule: "over Iceberg tables of multi-turn
conversation / agent transcripts", "global Iceberg-backed index";
BASELINE.md "Iceberg note").

Import/classpath-guarded the same way ``operators/multimodal.py`` guards
its media codecs: when the Spark session's JVM carries the Iceberg
runtime (``iceberg-spark-runtime`` jar providing
``org.apache.iceberg.spark.SparkCatalog``), table references read and
write through the Iceberg format — snapshot isolation, atomic commit,
hidden partitioning, time travel. In this sandbox (no jar, no network to
fetch one) the SAME call sites fall back to:

- **reads**: parquet for path refs; the session catalog
  (``spark.table``) for identifier refs — so tests register temp views
  and the code path stays identical;
- **writes**: parquet + a ``_commit.json`` sidecar carrying the
  snapshot duties an Iceberg commit would (row count, schema, wall
  time, monotonically increasing commit id) — the same manifest
  discipline as ``streaming.incremental.SegmentedIndexWriter``, whose
  JSON manifest already stands in for Iceberg snapshot/lineage/atomic-
  commit (BASELINE.md "Iceberg note").

Everything above this module only ever sees DataFrames, so the swap is
invisible to the query paths; a deployment with the jar lights up the
real format with zero code change (the mechanical swap the baseline
documents, now an actual branch instead of prose).

Ref syntax: anything containing ``/`` (or starting with a URI scheme
like ``s3://``) is a PATH; anything else (``db.table``,
``catalog.db.table``) is a table IDENTIFIER.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the session JVM can load Iceberg's Spark catalog class
    (i.e. ``iceberg-spark-runtime`` is on the classpath). Cheap
    reflection probe, no side effects.

    Jars supplied via ``--jars`` / ``--packages`` live in Spark's
    mutable context classloader, which a bare ``Class.forName`` from
    the Py4J entry point cannot see — probe through Spark's own
    ``Utils.classForName`` (context-or-Spark classloader) first, and
    finally fall back to the catalog CONFIG (a configured
    ``spark.sql.catalog.<name> = ...SparkCatalog`` entry implies the
    operator deployed the runtime) so a real deployment never gets a
    false negative."""
    jvm = spark._jvm  # noqa: SLF001 — public-enough Py4J surface
    cls = "org.apache.iceberg.spark.SparkCatalog"
    try:
        jvm.org.apache.spark.util.Utils.classForName(cls, True, False)
        return True
    except Exception:
        pass
    try:
        jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        pass
    return bool(iceberg_catalogs(spark))


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Iceberg catalogs
    (``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``
    entries). Empty when the runtime or the config is absent."""
    out = []
    for k, v in spark.sparkContext.getConf().getAll():
        if (
            k.startswith("spark.sql.catalog.")
            and k.count(".") == 3
            and "iceberg" in str(v).lower()
        ):
            out.append(k.rsplit(".", 1)[1])
    return sorted(out)


def is_path_ref(ref: str) -> bool:
    """PATH refs contain a '/' or a URI scheme; bare dotted names are
    table identifiers — UNLESS the name exists on the local filesystem
    (a bare relative dir like ``batch`` is a path the user can see, and
    routing it to ``spark.table`` would misreport it as a missing
    table)."""
    if "/" in ref or "://" in ref or ref.startswith((".", "~")):
        return True
    import os

    return os.path.exists(ref)


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via Hadoop's FS abstraction, so
    sidecar IO works on every scheme the Spark data write itself works
    on (file://, hdfs://, s3a://, ...), not just the local disk."""
    jvm = spark._jvm  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, p


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file through Hadoop FS; None if absent."""
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        jvm = spark._jvm  # noqa: SLF001
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file through Hadoop FS: tmp + rename, atomic
    on posix/HDFS (best-effort replace on object stores — fine for the
    advisory sidecar; the data write's own ``_SUCCESS`` marker governs
    data visibility)."""
    fs, p = _hadoop_path(spark, path)
    fs_tmp, tmp = _hadoop_path(spark, path + ".tmp")
    out = fs_tmp.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    fs.rename(tmp, p)


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """Read a table reference through the best available format.

    - path ref -> parquet scan (predicate pushdown / column pruning
      reach the files exactly as with Iceberg's parquet data files);
    - identifier ref + Iceberg runtime -> ``spark.read.format("iceberg")``
      (snapshot-isolated scan of the current snapshot);
    - identifier ref, no runtime -> session catalog (``spark.table``) —
      temp views and warehouse tables resolve; anything else raises
      Spark's usual TABLE_OR_VIEW_NOT_FOUND.
    """
    if is_path_ref(ref):
        return spark.read.parquet(ref)
    if iceberg_available(spark):
        return spark.read.format("iceberg").load(ref)
    return spark.table(ref)


def write_table(
    df: DataFrame, ref: str, mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Write a DataFrame through the best available format; returns the
    commit record.

    - path ref -> parquet (atomic via the ``_SUCCESS`` marker) + a
      ``_commit.json`` sidecar with the snapshot duties (commit id,
      row count, schema, timestamp). ``mode="append"`` appends files
      and bumps the commit id — the Iceberg append-snapshot analog.
    - identifier ref + Iceberg runtime -> ``writeTo(ref)`` V2 path:
      ``createOrReplace()`` for overwrite, ``append()`` for append —
      real atomic snapshot commits.
    - identifier ref, no runtime -> raise: silently writing a
      non-transactional table where the caller asked for an Iceberg
      identifier would forfeit the atomicity the ref implies.
    """
    spark = df.sparkSession
    if is_path_ref(ref):
        t0 = time.time()
        commit_path = ref.rstrip("/") + "/_commit.json"
        # Read the prior commit id BEFORE the data write: overwrite
        # mode deletes the target directory (sidecar included), and the
        # id must stay monotonic across overwrites — an Iceberg
        # snapshot id never goes backwards.
        prev_id = -1
        try:
            raw = _fs_read_text(spark, commit_path)
            if raw is not None:
                prev_id = int(json.loads(raw).get("commit_id", -1))
        except (json.JSONDecodeError, ValueError):
            prev_id = -1
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(ref)
        n = spark.read.parquet(ref).count()
        entry = {
            "commit_id": prev_id + 1,
            "format": "parquet+manifest",
            "mode": mode,
            "rows": int(n),
            "schema": df.schema.simpleString(),
            "committed_at": time.time(),
            "wall_s": round(time.time() - t0, 3),
        }
        _fs_write_text(spark, commit_path, json.dumps(entry))
        return entry
    if iceberg_available(spark):
        wt = df.writeTo(ref).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            wt.createOrReplace()
        elif mode == "append":
            wt.append()
        else:
            raise ValueError(f"unsupported mode {mode!r} for table refs")
        return {"format": "iceberg", "table": ref, "mode": mode}
    raise RuntimeError(
        f"table identifier {ref!r} requires the Iceberg runtime "
        "(iceberg-spark-runtime on the classpath); this environment has "
        "none — write to a path ref for the parquet+manifest fallback"
    )


TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def read_transcripts(spark: SparkSession, ref: str) -> DataFrame:
    """The north-rule input entry point: an Iceberg table (or parquet
    path) of multi-turn transcripts with columns (conv_id string,
    turn_idx int, role string, text string, tool string, ts timestamp)
    — BASELINE.json ``input_hint``. Projects exactly those columns (so
    the scan prunes to them) with the canonical types."""
    df = read_table(spark, ref)
    missing = [c for c in TRANSCRIPT_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"transcript source {ref!r} lacks columns {missing}; "
            f"expected {list(TRANSCRIPT_COLUMNS)}"
        )
    from pyspark.sql import functions as F

    return df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role").cast("string").alias("role"),
        F.col("text").cast("string").alias("text"),
        F.col("tool").cast("string").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
