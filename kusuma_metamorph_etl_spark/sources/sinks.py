"""Sinks: parquet lakehouse snapshots + the dual-write pattern
(`snk_dual_write`, `dq_snapshot_stamp`, SURVEY.md §2.1/§2.9).

The reference's warehouse has three layers — ``raw.*_pre`` (overwrite,
current day), ``legacy.*`` (append-only history stamped with ``DAY_DT``) and
derived marts (``/root/reference/ETL-Airflow/dags/tasks/ingestion_task.py:
45-66``).  The engine keeps that layout but:

* parquet partitioned by ``DAY_DT`` replaces JDBC-append as the canonical
  history store — at 100 TB, appends must be partition-pruned file writes,
  not row inserts, and a day's reprocessing is an idempotent partition
  overwrite (``partitionOverwriteMode=dynamic``), not a delete+insert;
* the input is persisted once before the two writes — the reference
  recomputes the full lineage per action (anti-pattern A2);
* ``raw`` never carries ``DAY_DT`` (reference quirk B2 writes the stamped
  frame to ``raw.sales_pre``; the engine normalizes).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_DT = "DAY_DT"


def stamp_snapshot(df: DataFrame, run_date: dt.date | str | None = None) -> DataFrame:
    """Add the ``DAY_DT`` snapshot column (`dq_snapshot_stamp`).

    ``run_date`` is injectable — the reference hardcodes ``current_date()``
    (``ingestion_task.py:46``) which makes runs non-reproducible and tests
    flake across midnight (SURVEY.md §7 hard-point a).
    """
    value = F.current_date() if run_date is None else F.lit(str(run_date)).cast("date")
    return df.withColumn(DAY_DT, value)


def write_parquet_snapshot(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: str | None = DAY_DT,
) -> None:
    """Write a (usually DAY_DT-partitioned) parquet table.

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` and
    ``mode="overwrite"``, only the partitions present in ``df`` are
    replaced — the idempotent re-run story for a daily pipeline.
    """
    writer = df.write.mode(mode)
    if partition_by and partition_by in df.columns:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def dual_write(
    df: DataFrame,
    raw_path: str,
    legacy_path: str,
    run_date: dt.date | str | None = None,
    stamp_raw_quirk: bool = False,
) -> DataFrame:
    """Overwrite the ``raw`` working copy and land the stamped ``legacy``
    snapshot from ONE persisted frame (reference pattern at
    ``ingestion_task.py:63-66`` minus anti-patterns A2/B2).

    The legacy write is a DYNAMIC PARTITION OVERWRITE of the batch's own
    ``DAY_DT`` partition(s), not a plain append: a retried or backfilled
    run for the same ``run_date`` REPLACES that day instead of appending
    every row twice — the module's idempotent-reprocessing promise.  For
    a new day it equals append; other days are never touched.

    ``stamp_raw_quirk=True`` reproduces reference quirk B2 byte-for-byte
    (``ingestion_task.py:283`` writes the *stamped* frame to
    ``raw.sales_pre``, unlike the ``:63`` path) for parity migrations;
    default off — raw is a working copy and should not carry ``DAY_DT``.

    Returns the stamped legacy frame for inspection.  The write-time
    cache (one persist covering both writes) is RELEASED before return —
    an action on the returned frame recomputes its lineage, so callers
    doing heavy post-processing should persist it themselves.
    """
    df = df.persist()
    try:
        stamped = stamp_snapshot(df, run_date)
        # raw: current-day working copy — no snapshot column unless the
        # B2 parity quirk is requested.
        (stamped if stamp_raw_quirk else df).write.mode("overwrite").parquet(raw_path)
        (
            stamped.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(DAY_DT)
            .parquet(legacy_path)
        )
        return stamped
    finally:
        df.unpersist()


def read_legacy(spark: SparkSession, legacy_path: str) -> DataFrame:
    """Read a ``legacy`` history directory with a NORMALIZED schema,
    whichever writer produced it.

    The batch :func:`dual_write` partitions legacy by ``DAY_DT`` alone;
    the streaming twin (`streaming/sink.py::stream_dual_write`) must key
    its partitions by ``(DAY_DT, __batch_id)`` for foreachBatch replay
    idempotence, so stream-written directories read back with an extra
    ``__batch_id`` column.  Consumers unioning batch- and stream-written
    legacy data hit a schema mismatch unless they read through this
    helper, which drops the writer-internal ``__batch_id`` when present
    — it is an idempotence key, not data.
    """
    df = spark.read.parquet(legacy_path)
    if "__batch_id" in df.columns:
        df = df.drop("__batch_id")
    return df


def enable_dynamic_partition_overwrite(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed+sorted catalog table (`CLUSTERED BY` in SQL terms).

    Bucketing pre-shuffles ONCE at write time: two tables bucketed the
    same way join with zero exchanges (SortMergeJoin reads co-located
    buckets directly), and aggregations on the bucket keys skip their
    shuffle.  This is the 100 TB answer for fact ⋈ fact joins repeated
    across many queries — pay the shuffle once, amortize forever.  Bucket
    count should be sized so one bucket ≈ one task's worth of data.
    """
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 256,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory as
    ``ceil(bytes / target_file_mb)`` right-sized files; returns the file
    count written.

    The operational must-have for long-lived ingest paths — streaming
    sinks and per-batch appends accumulate thousands of KB-scale files,
    and at 100 TB the scan's task-scheduling + footer overhead dominates
    before a byte of data is read.  Sizing uses the SOURCE's actual
    on-disk bytes (compressed), not row counts, so the result holds for
    any schema.  ``sort_cols`` optionally restores clustering during the
    rewrite (compaction is the natural moment to re-sort for data
    skipping).  Same-path in-place rewrite is deliberately unsupported:
    overwrite-while-reading corrupts the source on failure — write aside,
    then swap atomically at the metastore/manifest layer.
    """
    import math

    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    path = jvm.Path(src_path)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(src_path)
    if sort_cols:
        # Range partitioning restores global clustering; the shuffle is
        # the price of re-sorting, paid on purpose.
        df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    elif df.rdd.getNumPartitions() < n_files:
        # A source read into FEWER partitions than the target (few huge
        # files) cannot be split by coalesce — repartition's round-robin
        # shuffle is required to hit target_file_mb-sized outputs.
        df = df.repartition(n_files)
    else:
        # coalesce never shuffles: it only merges partitions downward,
        # which is exactly compaction (a source already at the target
        # count passes through unchanged).
        df = df.coalesce(n_files)
    df.write.mode("overwrite").parquet(dst_path)
    # Count what was actually written rather than trusting the plan:
    # empty partitions write no file, so the real count can undershoot.
    dst = jvm.Path(dst_path)
    dst_fs = dst.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    it = dst_fs.listFiles(dst, True)
    written = 0
    while it.hasNext():
        f = it.next().getPath().getName()
        if f.endswith(".parquet"):
            written += 1
    return written


def publish_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    version: str,
) -> str:
    """Atomic snapshot publish via a manifest pointer: write the new
    version into its own directory, then swap ONE tiny manifest file to
    point at it — readers never observe a half-written table, and the
    previous version stays intact for rollback/time-travel until
    explicitly vacuumed.

    This is the minimal manifest pattern real table formats build on
    (the swap is a single-file replace — atomic on object stores and
    HDFS alike), and the safe alternative to overwrite-in-place that
    :func:`compact_parquet`'s docstring defers to.  Returns the version
    directory written.
    """
    import json

    version_dir = f"{table_root}/v={version}"
    df.write.mode("overwrite").parquet(version_dir)
    manifest = json.dumps({"current": f"v={version}"})
    jvm = spark.sparkContext._jvm
    from py4j.java_gateway import java_import

    java_import(jvm, "org.apache.hadoop.fs.Path")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.Path(table_root)
    fs = root.getFileSystem(conf)
    # LocalFileSystem writes .crc sidecars that go STALE across a
    # rename swap (ChecksumException on the next read) — object stores
    # and HDFS don't have this quirk, but tests and local lakehouses do,
    # so checksum sidecars are off for the manifest and any stale ones
    # are cleared.
    fs.setWriteChecksum(False)
    tmp = jvm.Path(f"{table_root}/manifest.json.tmp")
    out = fs.create(tmp, True)
    out.writeBytes(manifest)  # DataOutputStream: writes the raw bytes
    out.close()
    final = jvm.Path(f"{table_root}/manifest.json")
    # stale checksum sidecars from pre-checksum-off runs would fail the
    # next read; the manifest itself is NOT deleted — see below
    for stale in (".manifest.json.crc", ".manifest.json.tmp.crc"):
        fs.delete(jvm.Path(f"{table_root}/{stale}"), False)
    # Overwrite-rename via FileContext: ONE atomic step.  A delete+rename
    # swap leaves a window where a concurrent read_published finds no
    # manifest at all — exactly the half-state the docstring promises
    # away.  FileContext.rename(OVERWRITE) is atomic on HDFS
    # and POSIX; object-store backends emulate it (their manifest swap
    # would use a conditional PUT instead).
    java_import(jvm, "org.apache.hadoop.fs.FileContext")
    java_import(jvm, "org.apache.hadoop.fs.Options")
    gw = spark.sparkContext._gateway
    overwrite = gw.new_array(jvm.Options.Rename, 1)
    overwrite[0] = jvm.Options.Rename.OVERWRITE
    fc = jvm.FileContext.getFileContext(root.toUri(), conf)
    fc.rename(tmp, final, overwrite)
    return version_dir


def published_version(spark: SparkSession, table_root: str) -> str | None:
    """The version the manifest at ``table_root`` points at (the name
    :func:`publish_snapshot` was given, without its ``v=`` directory
    prefix) — or ``None`` ONLY when the manifest does not exist yet.

    Any OTHER failure raises: treating a transient filesystem error or a
    corrupt manifest as "nothing published" would send a caller down its
    first-publish path, which then atomically publishes a fresh table
    over the manifest — the silent all-history-lost failure the manifest
    design exists to prevent."""
    import json

    from pyspark.errors.exceptions.base import AnalysisException

    try:
        # read via spark.read.text: filesystem-portable, and py4j cannot
        # fill a Python-side buffer through Java readFully (arrays copy).
        # NOTE the visible (non-underscore) name: _-prefixed files are
        # hidden from Hadoop input formats and would read as empty.
        # bound: one line — the manifest is a single JSON object
        line = spark.read.text(f"{table_root}/manifest.json").collect()[0]
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
    return json.loads(line["value"])["current"].removeprefix("v=")


def _next_version(current: str | None, batch_id: int) -> str:
    """Version name for a streaming sink's ``batch_id`` publish.  NEVER
    the version the manifest points at: the derived plan READS that
    directory, and batch numbering can collide with it (a replay after
    the manifest swap committed, or a fresh checkpoint restarting at
    batch 0) — overwriting it would destroy the input mid-read AND yank
    files from under concurrent readers.  Alternate to the "...r"
    sibling; overwriting a non-current directory is always safe."""
    target = f"b{batch_id:06d}"
    return f"{target}r" if current == target else target


def _require_published(spark: SparkSession, table_root: str) -> str:
    """:func:`published_version` for readers: a root with no manifest
    raises, so a read never returns some other directory and a vacuum
    never treats every version as "not current"."""
    current = published_version(spark, table_root)
    if current is None:
        raise FileNotFoundError(
            f"{table_root}/manifest.json does not exist: nothing published"
        )
    return current


def read_published(
    spark: SparkSession, table_root: str, version: str | None = None
) -> DataFrame:
    """Read the version the manifest currently points at — or, with
    ``version``, TIME-TRAVEL to any still-retained published version
    (every publish keeps its predecessors until :func:`vacuum_versions`
    removes them; a vacuumed version raises parquet's path error rather
    than silently reading something else).  A root with no manifest
    raises."""
    if version is None:
        version = _require_published(spark, table_root)
    return spark.read.parquet(f"{table_root}/v={version}")


def vacuum_versions(
    spark: SparkSession, table_root: str, keep: int = 2
) -> list[str]:
    """Delete published versions beyond the newest ``keep`` — NEVER the
    one the manifest points at, whatever its age.  Returns the deleted
    version names.  The rollback-window companion of
    :func:`publish_snapshot`: publish keeps every version; vacuum is the
    explicit, bounded cleanup step (deletion is the irreversible action,
    so it is its own call, not a publish side effect)."""
    from py4j.java_gateway import java_import

    current = f"v={_require_published(spark, table_root)}"
    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.Path(table_root)
    fs = root.getFileSystem(conf)
    versions = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("v="):
            # "newest" = publish order = directory modification time;
            # sorting the NAME is wrong for numeric versions ("v=10"
            # sorts before "v=2" and the true predecessors get deleted)
            versions.append((status.getModificationTime(), name))
    versions.sort()
    names = [name for _, name in versions]
    doomed = [v for v in names[:-keep] if v != current] if keep else [
        v for v in names if v != current
    ]
    for v in doomed:
        fs.delete(jvm.Path(f"{table_root}/{v}"), True)
    return doomed
