"""Streaming → lakehouse sinks via ``foreachBatch``.

The reference's dual-write (overwrite ``raw.*_pre`` + append ``legacy.*``,
``/root/reference/ETL-Airflow/dags/tasks/ingestion_task.py:63-66``) is a
batch pattern; ``foreachBatch`` is how the same sink semantics attach to a
stream — each micro-batch runs the batch writer, so ``raw`` always holds
the latest micro-batch's state and ``legacy`` accumulates history.

``foreachBatch`` is AT-LEAST-ONCE: a crash between the sink write and the
checkpoint commit replays the batch, so every write here must be
batch-id-idempotent — a plain ``mode("append")`` is NOT.  The patterns
used instead, keyed on ``batch_id``:
* overwrite of a batch-scoped partition/directory (dual-write legacy,
  heavy-hitter summaries) — the replay rewrites the same partition;
* manifest-pointer republish of a derived snapshot (SCD2 dimension, CDC
  table) — the replay re-derives and re-publishes the same version.

Three of the four sinks read their micro-batch more than once (two
write targets, an emptiness probe before a merge), so the shared driver
:func:`_run_foreach_batch` persists each batch frame for exactly the
span of the sink call: the micro-batch plan — including any stateful
``applyInPandasWithState`` operator upstream — runs once per batch, not
once per read.  The sinks themselves hold no batch-level cache.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.scd import scd2_init, scd2_merge
from kusuma_metamorph_etl_spark.sources.sinks import (
    DAY_DT,
    _next_version,
    publish_snapshot,
    published_version,
    read_published,
    stamp_snapshot,
)
from kusuma_metamorph_etl_spark.streaming.metrics import record_batch_metrics


def _run_foreach_batch(stream_df, fn, checkpoint_dir: str, available_now: bool):
    """The one copy of the writeStream/foreachBatch/trigger boilerplate
    every sink here shares, and the one place a micro-batch is persisted
    (see the module docstring).  The ``finally`` releases the entry even
    when ``fn`` throws; a foreachBatch retry persists afresh."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            fn(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    writer = stream_df.writeStream.foreachBatch(run_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
    return query


def stream_dual_write(
    stream_df: DataFrame,
    raw_path: str,
    legacy_path: str,
    checkpoint_dir: str,
    run_date: dt.date | str | None = None,
    available_now: bool = True,
    metrics_root: str | None = None,
):
    """Drive a streaming frame through the dual-write sink per micro-batch
    (same raw/legacy semantics as the batch :func:`sources.sinks.dual_write`,
    re-keyed for replay idempotence — see the module docstring).

    With ``available_now`` the query drains the bounded source and stops —
    the test/backfill mode; production drops the trigger for continuous
    micro-batches.

    Each micro-batch is computed once: :func:`_run_foreach_batch` hands
    ``write_batch`` a persisted frame, so the raw write, the legacy write
    and (with ``metrics_root``) the row count all read the same cached
    batch instead of re-running the stream plan once per read.

    SCHEMA SEAM: the legacy layout here is partitioned by
    ``(DAY_DT, __batch_id)`` — one extra partition column vs the batch
    :func:`sources.sinks.dual_write` layout — because ``__batch_id`` is
    the replay-idempotence key.  Read legacy directories (from either
    writer) through :func:`sources.sinks.read_legacy`, which normalizes
    both layouts by dropping the writer-internal column.

    ``run_date=None`` resolves to today ONCE at stream start, not per
    micro-batch: resolved per batch, a replay that crossed midnight
    would stamp the same batch into a SECOND ``DAY_DT`` partition, and
    the dynamic overwrite only replaces partitions present in the new
    data — every row of the batch would appear twice in legacy.  The
    remaining seam is a crash-restart across midnight (a new process
    resolves the new date): replay idempotence across restarts needs an
    explicit ``run_date`` (or an event-time-derived stamp), which
    continuous production streams should pass per day.
    """
    if run_date is None:
        run_date = dt.date.today()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # raw: overwrite — trivially replay-idempotent.
        batch_df.write.mode("overwrite").parquet(raw_path)
        # legacy: the batch dual_write APPENDS, which duplicates rows
        # when foreachBatch replays a batch.  Partition by
        # (DAY_DT, __batch_id) with dynamic partition overwrite
        # instead: a replayed batch rewrites exactly its own
        # partitions.  __batch_id is the declared idempotence key and
        # reads back as a partition column.
        (
            stamp_snapshot(batch_df, run_date)
            .withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(DAY_DT, "__batch_id")
            .parquet(legacy_path)
        )
        if metrics_root is not None:
            n = batch_df.count()  # bound: one number
            # dual write republishes every input row to both sides
            record_batch_metrics(
                batch_df.sparkSession, metrics_root, "dual_write",
                batch_id, rows_in=n, rows_out=n,
            )

    return _run_foreach_batch(
        stream_df, write_batch, checkpoint_dir, available_now
    )


def stream_scd2_upsert(
    updates_stream: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    key: list[str],
    attrs: list[str],
    effective_from_col: str,
    available_now: bool = True,
):
    """Maintain an SCD2 dimension from a stream of update records.

    Each micro-batch collapses to one record per key (latest by
    ``effective_from_col``, ties broken by an attribute hash so a
    replayed batch picks the SAME winner), merges into the published
    dimension via :func:`operators.scd.scd2_merge`, and republishes it
    through :func:`sources.sinks.publish_snapshot`'s manifest-pointer
    swap — the same recovery story as :func:`stream_cdc_apply`:

    * readers (:func:`sources.sinks.read_published` on ``dim_path``)
      never observe a half-written dimension;
    * a crash mid-write leaves the previous version intact and the
      manifest still pointing at it (a read-overwrite-in-place cycle
      can crash after deleting the dimension, and the next run's "not
      yet created" fallback then silently re-initializes from one
      micro-batch — all history lost);
    * a replayed batch re-derives and re-publishes the same version
      name with the same content — idempotent under at-least-once.

    At Delta/Iceberg-backed scale the same merge logic drives MERGE INTO.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.sampling import row_sort_key

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # Deterministic winner among equal effective dates: hash the
        # attribute tuple.  Plain desc(eff) leaves the tie to shuffle
        # order, so a replayed batch could commit different attributes
        # than the original run.  row_sort_key, not
        # md5(concat_ws('|', attrs)): concat_ws skips NULLs and '|'
        # inside a value injects, so (NULL,'x') would tie with
        # ('x',NULL) and the replay non-determinism this hash exists to
        # kill would come back through the collision (the same fix
        # sampling.row_sort_key documents).
        attr_fp = row_sort_key("", attrs)
        window = Window.partitionBy(*key).orderBy(
            F.desc(effective_from_col), F.desc(attr_fp)
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(window))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        upd = latest.select(*key, *attrs, effective_from_col)
        current = published_version(spark, dim_path)
        if current is None:
            merged = scd2_init(upd, effective_col=effective_from_col)
        else:
            merged = scd2_merge(
                read_published(spark, dim_path, current),
                upd,
                key,
                attrs,
                effective_col=effective_from_col,
                # `latest` above already compacted to one row per key —
                # skip the merge's duplicate-key aggregation
                check_unique=False,
            )
        publish_snapshot(
            spark, merged, dim_path, _next_version(current, batch_id)
        )

    return _run_foreach_batch(
        updates_stream, merge_batch, checkpoint_dir, available_now
    )


def stream_heavy_hitters(
    stream_df: DataFrame,
    item_col: str,
    k: int,
    summary_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    metrics_root: str | None = None,
):
    """Streaming Misra–Gries heavy-hitter rollup: every micro-batch
    appends its bounded (≤ partitions × (k+1) rows, incl. the per-partition total rows) MG partition summaries
    to ``summary_path``; :func:`merged_heavy_hitters` reads the whole
    summary table back as lower-bound counts.

    The batch guarantee COMPOSES across micro-batches by the same
    pigeonhole: if an item's total count exceeds Σ n_b / k, then in at
    least one batch its count exceeds that batch's n_b / k, so it
    survives that batch's summary — the merged candidate set provably
    contains every global heavy hitter, with per-item undercount ≤ Σ
    n_b / k.  State never lives in the stream (no
    `applyInPandasWithState`): the summary TABLE is the state, one
    overwritten ``batch_id=N`` directory per micro-batch — replay-safe
    under foreachBatch's at-least-once contract (a plain append would
    double-count a replayed batch's summaries).
    """
    from kusuma_metamorph_etl_spark.operators.sketches import (
        _mg_partition_summaries,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = _mg_partition_summaries(batch_df, item_col, k)
        if metrics_root is not None:
            s = s.persist()
        try:
            # One directory per batch, OVERWRITTEN: a replayed batch
            # rewrites its own summaries instead of appending a second
            # copy (which would double-count and break the lower-bound
            # guarantee).
            s.write.mode("overwrite").parquet(
                f"{summary_path}/batch_id={batch_id}"
            )
            if metrics_root is not None:
                # rows_in is exact and free: the summarizer embeds one
                # n_part total-row per input partition — Σ n_part is the
                # micro-batch's row count, no second pass over the input.
                # rows_out counts only the counter rows (the merge input).
                agg = s.agg(
                    F.sum("n_part").alias("n_in"),
                    F.count(F.when(F.col("n_part").isNull(), 1)).alias("n_out"),
                ).first()  # bound: one row (a global aggregate)
                record_batch_metrics(
                    batch_df.sparkSession, metrics_root, "heavy_hitters",
                    batch_id, rows_in=int(agg["n_in"] or 0),
                    rows_out=int(agg["n_out"]),
                    state_rows=int(agg["n_out"]),  # the summary IS the state
                )
        finally:
            if metrics_root is not None:
                s.unpersist()

    return _run_foreach_batch(
        stream_df, write_batch, checkpoint_dir, available_now
    )


def merged_heavy_hitters(
    spark, summary_path: str, item_col: str
) -> DataFrame:
    """Merge a :func:`stream_heavy_hitters` summary table into
    ``(item_col, n)`` lower-bound counts (telemetry-grade — the
    `heavy_hitters(exact=False)` mode; run the candidate-only exact
    verify over the raw corpus when exact counts are needed).  The
    per-partition TOTAL rows the summarizer embeds (n_part set) are
    dropped here — only counter rows merge; Σ n_part over the summary
    table is the matching stream-lifetime n_total if a caller wants the
    n/k threshold."""
    return (
        spark.read.parquet(summary_path)
        .filter(F.col("n_part").isNull())
        .groupBy("__item")
        .agg(F.sum("mg_count").alias("n"))
        .select(F.col("__item").alias(item_col), "n")
    )


def stream_cdc_apply(
    change_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key: list[str],
    snapshot_schema: str,
    seq_col: str = "seq",
    op_col: str = "op",
    available_now: bool = True,
):
    """Maintain a materialized table from a STREAMING change log: each
    micro-batch runs the batch `operators/scd.py::cdc_apply`
    reconciliation against the current snapshot and atomically republishes
    it (`publish_snapshot`'s manifest-pointer swap — readers never see a
    half-written table, and a replayed micro-batch re-derives the same
    snapshot, so the sink is idempotent under the at-least-once
    `foreachBatch` contract provided each batch's changes carry their
    original ``seq`` values).

    Cross-batch ordering note: WITHIN a micro-batch the max-``seq`` row
    per key wins (cdc_apply's compaction); ACROSS batches later batches
    simply overwrite — correct whenever the log source delivers a key's
    changes in offset order per partition (Kafka's contract).  A
    late-arriving lower-seq change in a later batch would win wrongly;
    sources without per-key ordering need a seq guard column in the
    snapshot, documented out of scope here.
    """
    from kusuma_metamorph_etl_spark.operators.scd import cdc_apply

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Empty micro-batch: nothing to reconcile — without this guard a
        # zero-row trigger would rewrite the ENTIRE snapshot into a fresh
        # version directory and swap the manifest, full-table write
        # amplification for a no-op (the scd2 twin has the same guard).
        if batch_df.isEmpty():
            return
        current = published_version(spark, table_path)
        if current is None:
            snapshot = spark.createDataFrame([], schema=snapshot_schema)
        else:
            snapshot = read_published(spark, table_path, current)
        updated = cdc_apply(snapshot, batch_df, key, seq_col, op_col)
        # version per micro-batch: replaying batch N republishes the
        # same version name with the same derived content — idempotent;
        # _next_version supplies the current-version collision guard.
        publish_snapshot(
            spark, updated, table_path, _next_version(current, batch_id)
        )

    return _run_foreach_batch(
        change_stream, apply_batch, checkpoint_dir, available_now
    )
