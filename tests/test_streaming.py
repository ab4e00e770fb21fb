"""Streaming tests: the batch/stream-polymorphic window transforms produce
IDENTICAL results when driven through Structured Streaming (availableNow,
memory sink) as in batch — the core Structured Streaming contract."""

from __future__ import annotations

import pytest

from kusuma_metamorph_etl_spark.sources.catalog import load_table
from kusuma_metamorph_etl_spark.streaming.windows import (
    run_to_memory_sink,
    session_agg,
    sliding_agg,
    stream_events,
    tumbling_agg,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize(
    "transform,name",
    [(tumbling_agg, "t_tumble"), (sliding_agg, "t_slide")],
)
def test_stream_matches_batch(spark, sf_small, transform, name):
    batch = transform(load_table(spark, sf_small, "events"))
    stream = transform(stream_events(spark, sf_small))
    assert stream.isStreaming
    run_to_memory_sink(stream, name, output_mode="complete")
    got = _rows(spark.table(name))
    assert got == _rows(batch)


def test_batch_stream_ts_schema_parity(spark, sf_small):
    """Batch load_table and stream_events must surface the IDENTICAL ts
    type (TimestampType) whatever the files carry — µs-NTZ files used to
    stay timestamp_ntz on the batch side only, so twins of one table
    differed in schema (matched on values only because the session TZ is
    pinned UTC)."""
    batch_ts = dict(load_table(spark, sf_small, "events").dtypes)["ts"]
    stream_ts = dict(stream_events(spark, sf_small).dtypes)["ts"]
    assert batch_ts == stream_ts == "timestamp"


def test_session_stream_matches_batch(spark, sf_small):
    batch = session_agg(load_table(spark, sf_small, "events"), gap="10 minutes")
    stream = session_agg(stream_events(spark, sf_small), gap="10 minutes")
    run_to_memory_sink(stream, "t_session", output_mode="complete")
    assert _rows(spark.table("t_session")) == _rows(batch)


def test_stream_dual_write(spark, sf_small, tmp_path):
    from kusuma_metamorph_etl_spark.streaming.sink import stream_dual_write

    events = stream_events(spark, sf_small)
    stream_dual_write(
        events,
        raw_path=str(tmp_path / "raw"),
        legacy_path=str(tmp_path / "legacy"),
        checkpoint_dir=str(tmp_path / "cp"),
        run_date="2024-06-01",
    )
    n_events = load_table(spark, sf_small, "events").count()
    raw = spark.read.parquet(str(tmp_path / "raw"))
    legacy = spark.read.parquet(str(tmp_path / "legacy"))
    assert "DAY_DT" not in raw.columns
    assert legacy.count() == n_events  # every micro-batch appended
    assert {str(r["DAY_DT"]) for r in legacy.select("DAY_DT").distinct().collect()} == {
        "2024-06-01"
    }


@pytest.mark.slow
def test_watermark_finalized_window_drops_laggard(spark, tmp_path):
    """The append-mode watermark guarantee: once the watermark passes a
    window's end and the window EMITS, its state is evicted and any
    laggard for it is dropped — the window never emits twice and state
    stays bounded.  (Data merely older than the watermark whose window is
    still live MAY still be admitted — Spark's drop is best-effort until
    finalization, so that is deliberately not asserted.)"""
    import datetime
    import os
    import time

    import pyspark.sql.functions as F

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name: str, rows, mtime: float):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage" / name))
        part = next(
            p
            for p in (tmp_path / "stage" / name).iterdir()
            if p.name.endswith(".parquet")
        )
        target = src / f"{name}.parquet"
        part.rename(target)
        os.utime(target, (mtime, mtime))

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def at(hours: float):
        return t0 + datetime.timedelta(hours=hours)

    now = time.time()
    # Batch 1: 12:10 event + 15:00 event → watermark 14:00 at batch end,
    # so the [12:00, 13:00) window finalizes, emits (1, 1.0), state evicted.
    write_file("b1", [(1, at(0.17), 1.0), (2, at(3), 1.0)], now - 120)
    # Batch 2: on-time event keeps the stream moving.
    write_file("b2", [(3, at(3.5), 1.0)], now - 60)
    # Batch 3: a 12:12-timestamped laggard for the FINALIZED window.
    write_file("b3", [(4, at(0.2), 99.0)], now)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "n", "total")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = [
        (r["n"], r["total"])
        for r in spark.table("t_late").collect()
        if str(r["ws"]) == "2024-06-01 12:00:00"
    ]
    # Exactly one emission, without the laggard's 99.0.
    assert emitted == [(1, 1.0)], emitted


@pytest.mark.slow
def test_stream_scd2_upsert(spark, tmp_path):
    """A two-batch update stream maintains the SCD2 dimension: batch 1
    initializes, batch 2 versions a changed key and inserts a new one."""
    import datetime
    import os
    import time

    from kusuma_metamorph_etl_spark.streaming.sink import stream_scd2_upsert

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, "id long, city string, eff timestamp")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage" / name))
        part = next(
            p for p in (tmp_path / "stage" / name).iterdir() if p.name.endswith(".parquet")
        )
        target = src / f"{name}.parquet"
        part.rename(target)
        os.utime(target, (mtime, mtime))

    d1 = datetime.datetime(2024, 1, 1)
    d2 = datetime.datetime(2024, 2, 1)
    now = time.time()
    write_file("b1", [(1, "London", d1), (2, "NYC", d1)], now - 60)
    write_file("b2", [(1, "Paris", d2), (3, "Tokyo", d2)], now)

    stream = (
        spark.readStream.schema("id long, city string, eff timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    stream_scd2_upsert(
        stream,
        dim_path=str(tmp_path / "dim"),
        checkpoint_dir=str(tmp_path / "cp"),
        key=["id"],
        attrs=["city"],
        effective_from_col="eff",
    )

    from kusuma_metamorph_etl_spark.sources.sinks import read_published

    dim = read_published(spark, str(tmp_path / "dim"))
    rows = {
        (r["id"], str(r["valid_from"])): (r["city"], r["is_current"])
        for r in dim.collect()
    }
    assert rows[(1, "2024-01-01")] == ("London", False)  # closed version
    assert rows[(1, "2024-02-01")] == ("Paris", True)
    assert rows[(2, "2024-01-01")] == ("NYC", True)  # untouched
    assert rows[(3, "2024-02-01")] == ("Tokyo", True)  # inserted
    # Both versions are retained for rollback; batch 1's publish is
    # still readable (the old overwrite-in-place cycle destroyed it).
    assert read_published(
        spark, str(tmp_path / "dim"), version="b000000"
    ).count() == 2


@pytest.mark.slow
def test_stream_scd2_per_key_effective_dates(spark, tmp_path):
    """Keys with DIFFERENT effective dates inside one micro-batch each get
    their own valid_from/valid_to — not one batch-level max date."""
    import datetime

    from kusuma_metamorph_etl_spark.streaming.sink import stream_scd2_upsert

    src = tmp_path / "src"
    src.mkdir()
    d1 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "London", d1), (2, "NYC", d1)], "id long, city string, eff timestamp"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))

    # Batch 1 initializes the dimension.
    stream = spark.readStream.schema("id long, city string, eff timestamp").parquet(
        str(src / "b1")
    )
    stream_scd2_upsert(
        stream,
        dim_path=str(tmp_path / "dim"),
        checkpoint_dir=str(tmp_path / "cp1"),
        key=["id"],
        attrs=["city"],
        effective_from_col="eff",
    )

    # Batch 2: both keys change, with different per-record effective dates.
    d2a, d2b = datetime.datetime(2024, 3, 1), datetime.datetime(2024, 3, 15)
    upd = spark.createDataFrame(
        [(1, "Paris", d2a), (2, "Boston", d2b)], "id long, city string, eff timestamp"
    )
    upd.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    stream = spark.readStream.schema("id long, city string, eff timestamp").parquet(
        str(src / "b2")
    )
    stream_scd2_upsert(
        stream,
        dim_path=str(tmp_path / "dim"),
        checkpoint_dir=str(tmp_path / "cp2"),
        key=["id"],
        attrs=["city"],
        effective_from_col="eff",
    )

    from kusuma_metamorph_etl_spark.sources.sinks import read_published

    dim = read_published(spark, str(tmp_path / "dim"))
    rows = {
        (r["id"], str(r["valid_from"])): (r["city"], str(r["valid_to"]), r["is_current"])
        for r in dim.collect()
    }
    # Each key versions on its OWN date: 1 on 03-01, 2 on 03-15.
    assert rows[(1, "2024-01-01")] == ("London", "2024-03-01", False)
    assert rows[(1, "2024-03-01")] == ("Paris", "9999-12-31", True)
    assert rows[(2, "2024-01-01")] == ("NYC", "2024-03-15", False)
    assert rows[(2, "2024-03-15")] == ("Boston", "9999-12-31", True)


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark, sf_small):
    from kusuma_metamorph_etl_spark.streaming.joins import attribution_join

    events_b = load_table(spark, sf_small, "events")
    batch = attribution_join(
        events_b.filter(events_b.event_type == "click"),
        events_b.filter(events_b.event_type == "purchase"),
    )
    events_s = stream_events(spark, sf_small)
    stream = attribution_join(
        events_s.filter(events_s.event_type == "click"),
        events_s.filter(events_s.event_type == "purchase"),
    )
    assert stream.isStreaming
    run_to_memory_sink(stream, "t_attr", output_mode="append")
    assert _rows(spark.table("t_attr")) == _rows(batch)


@pytest.mark.slow
def test_stateful_dedup_ttl_forgets_idle_keys(spark, tmp_path):
    """With a state TTL, a key idle past the TTL is evicted and its next
    event emits AGAIN — dedup-within-TTL, the bounded-state contract."""
    import datetime
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name: str, rows, mtime: float):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage" / name))
        part = next(
            p for p in (tmp_path / "stage" / name).iterdir() if p.name.endswith(".parquet")
        )
        target = src / f"{name}.parquet"
        part.rename(target)
        os.utime(target, (mtime, mtime))

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def at(hours: float):
        return t0 + datetime.timedelta(hours=hours)

    now = time.time()
    # Batch 1: first event for (1, 'click') → emits; watermark → 12:00.
    write_file("b1", [(1, at(0), 1, "click", 1.0)], now - 120)
    # Batch 2: watermark jumps 5h past the 1h TTL → key times out.
    write_file("b2", [(2, at(5), 2, "view", 1.0)], now - 60)
    # Batch 3: the SAME key again — state was evicted, so it re-emits.
    write_file("b3", [(3, at(5.5), 1, "click", 7.0)], now)

    from kusuma_metamorph_etl_spark.streaming.stateful import first_event_stream

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = first_event_stream(stream, state_ttl="1 hour")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_ttl")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = [
        r["event_id"]
        for r in spark.table("t_ttl").collect()
        if (r["user_id"], r["event_type"]) == (1, "click")
    ]
    assert sorted(emitted) == [1, 3], emitted


def _drive_ttl_return_path(spark, tmp_path, transform, qname):
    """3-micro-batch harness for the TTL data-path expiry contract: key
    user 1 is active in batch 1, idle through batch 2 while another
    user's events drag the watermark past its TTL deadline, then RETURNS
    in batch 3.  Spark only fires ``hasTimedOut`` for keys with no data
    in the trigger, so batch 3 reaches the handler with the stale state
    still present — the handler itself must honor the expiry
    (``streaming/stateful.py::_expired``)."""
    import datetime
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name: str, rows, mtime: float):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage" / name))
        part = next(
            p for p in (tmp_path / "stage" / name).iterdir() if p.name.endswith(".parquet")
        )
        target = src / f"{name}.parquet"
        part.rename(target)
        os.utime(target, (mtime, mtime))

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def at(hours: float):
        return t0 + datetime.timedelta(hours=hours)

    now = time.time()
    # Batch 1: two events 1 min apart for user 1 → one burst / session 1.
    write_file("b1", [(1, at(0), 1, "click", 1.0), (2, at(0.02), 1, "click", 1.0)], now - 120)
    # Batch 2: user 2 drags the watermark 5h ahead — past user 1's 1h TTL.
    write_file("b2", [(3, at(5), 2, "view", 1.0)], now - 60)
    # Batch 3: user 1 returns; its state must read as expired.
    write_file("b3", [(4, at(5.5), 1, "click", 7.0)], now)

    stream = transform(
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(qname).collect()
    spark.catalog.dropTempView(qname)
    return rows


@pytest.mark.slow
def test_stateful_sessionize_ttl_restarts_sessions(spark, tmp_path):
    """A user idle past the TTL is forgotten: on return the session index
    restarts at 1 instead of continuing from the stale state."""
    from kusuma_metamorph_etl_spark.streaming.stateful import sessionize_stream

    rows = _drive_ttl_return_path(
        spark,
        tmp_path,
        lambda s: sessionize_stream(s, gap_seconds=1800, state_ttl="1 hour"),
        "t_sess_ttl",
    )
    labels = {r["event_id"]: r["session_idx"] for r in rows if r["user_id"] == 1}
    # events 1+2 share session 1; event 4 (post-eviction) restarts at 1,
    # NOT 2 as the stale (last_ns, idx) state would have labeled it.
    assert labels == {1: 1, 2: 1, 4: 1}, labels


@pytest.mark.slow
def test_stateful_dedup_window_ttl_reopens_bursts(spark, tmp_path):
    """A (user, type) key idle past the TTL is forgotten: the returning
    event opens a NEW burst and emits even though it is within
    window_seconds of nothing — stale last_ns must not leak through."""
    from kusuma_metamorph_etl_spark.streaming.stateful import dedup_window_stream

    rows = _drive_ttl_return_path(
        spark,
        tmp_path,
        # 6h chaining window: without TTL expiry, event 4 at +5.5h would
        # chain onto event 2's burst (gap 5.48h < 6h) and be SUPPRESSED.
        lambda s: dedup_window_stream(
            s, window_seconds=6 * 3600, state_ttl="1 hour"
        ),
        "t_burst_ttl",
    )
    emitted = sorted(r["event_id"] for r in rows if r["user_id"] == 1)
    assert emitted == [1, 4], emitted


def test_stateful_dedup_stream_matches_batch(spark, sf_small):
    from kusuma_metamorph_etl_spark.streaming.stateful import (
        first_event_batch,
        first_event_stream,
    )

    batch = first_event_batch(load_table(spark, sf_small, "events"))
    stream = first_event_stream(stream_events(spark, sf_small))
    assert stream.isStreaming
    run_to_memory_sink(stream, "t_dedup", output_mode="update")
    got = _rows(spark.table("t_dedup"))
    assert got == _rows(batch)
    # Dedup really deduplicates: one row per key.
    n_keys = (
        load_table(spark, sf_small, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert len(got) == n_keys


def test_stateful_sessionize_stream_matches_batch(spark, sf_small):
    from kusuma_metamorph_etl_spark.operators.events import sessionize
    from kusuma_metamorph_etl_spark.streaming.stateful import sessionize_stream

    batch = sessionize(load_table(spark, sf_small, "events"), gap_seconds=1800)
    stream = sessionize_stream(stream_events(spark, sf_small), gap_seconds=1800)
    assert stream.isStreaming
    run_to_memory_sink(stream, "t_sess", output_mode="append")
    got = _rows(spark.table("t_sess"))
    assert got == _rows(batch) and got


@pytest.mark.slow
def test_stateful_sessionize_continues_across_micro_batches(spark, tmp_path):
    """Session state must survive micro-batch boundaries: the second
    batch's events continue (or gap-break) the session the first batch
    left in state, exactly as the batch twin labels the union."""
    import datetime as dt

    from kusuma_metamorph_etl_spark.operators.events import sessionize
    from kusuma_metamorph_etl_spark.streaming.stateful import sessionize_stream

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def m(minute):
        return t0 + dt.timedelta(minutes=minute)

    schema = "user_id long, event_id long, ts timestamp"
    batch1 = [(1, 100, m(0)), (1, 101, m(10)), (2, 200, m(0))]
    batch2 = [(1, 102, m(20)), (1, 103, m(120)), (2, 201, m(90))]
    src = tmp_path / "sess_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )
    stream = sessionize_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*"),
        gap_seconds=1800,
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sess_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: r["session_idx"] for r in spark.table("t_sess_mb").collect()
    }
    expected = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            spark.createDataFrame(batch1 + batch2, schema), gap_seconds=1800
        ).collect()
    }
    # user 1: 0,10,20 min one session; 120 min breaks -> session 2.
    # user 2: 0 then 90 min -> sessions 1 and 2.
    assert expected == {100: 1, 101: 1, 102: 1, 103: 2, 200: 1, 201: 2}
    assert got == expected


def test_stream_dim_enrich_matches_batch(spark, sf_small):
    """Stream-static broadcast enrichment: same transform, same results,
    batch and stream — and no state/watermark needed."""
    from kusuma_metamorph_etl_spark.streaming.joins import dim_enrich
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"), ("view", "engagement"),
         ("signup", "growth"), ("error", "ops")],
        "event_type string, category string",
    )
    events_b = load_table(spark, sf_small, "events").select(
        "event_id", "event_type"
    )
    batch = dim_enrich(events_b, dim, on="event_type")
    stream = dim_enrich(
        stream_events(spark, sf_small).select("event_id", "event_type"),
        dim,
        on="event_type",
    )
    assert stream.isStreaming
    run_to_memory_sink(stream, "t_enrich", output_mode="append")
    assert _rows(spark.table("t_enrich")) == _rows(batch)


def test_stateful_dedup_window_stream_matches_batch(spark, sf_small):
    from kusuma_metamorph_etl_spark.operators.events import dedup_within_window
    from kusuma_metamorph_etl_spark.streaming.stateful import dedup_window_stream

    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    batch = dedup_within_window(
        events, keys=["user_id", "event_type"], window_seconds=600
    )
    stream = dedup_window_stream(stream_events(spark, sf_small), window_seconds=600)
    assert stream.isStreaming
    run_to_memory_sink(stream, "t_burst", output_mode="append")
    got = {r["event_id"] for r in spark.table("t_burst").collect()}
    assert got == {r["event_id"] for r in batch.collect()} and got


@pytest.mark.slow
def test_stateful_dedup_window_chains_across_micro_batches(spark, tmp_path):
    """A burst spanning the micro-batch boundary must stay ONE burst: the
    second batch's first event is within the window of the last event the
    first batch left in state, so it is suppressed."""
    import datetime as dt

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def m(minute):
        return t0 + dt.timedelta(minutes=minute)

    from kusuma_metamorph_etl_spark.streaming.stateful import dedup_window_stream

    schema = "user_id long, event_type string, event_id long, ts timestamp, value double"
    batch1 = [(1, "err", 100, m(0), 1.0), (1, "err", 101, m(5), 1.0)]
    batch2 = [(1, "err", 102, m(9), 1.0), (1, "err", 103, m(30), 1.0)]
    src = tmp_path / "burst_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )
    stream = dedup_window_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*"),
        window_seconds=600,
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_burst_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["event_id"] for r in spark.table("t_burst_mb").collect()}
    # 100 opens the burst; 101 (+5m) and 102 (+4m, ACROSS the boundary,
    # chained off 101) are suppressed; 103 (+21m after 102) opens anew.
    assert got == {100, 103}


def test_stream_heavy_hitters_contains_all_batch_heavy_hitters(
    spark, sf_small, tmp_path
):
    """MG summaries composed across micro-batches: merged lower-bound
    candidates must contain EVERY exact heavy hitter (pigeonhole across
    batches) and never overcount."""
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.streaming.sink import (
        merged_heavy_hitters,
        stream_heavy_hitters,
    )
    from kusuma_metamorph_etl_spark.streaming.windows import stream_events

    k = 10
    summary = str(tmp_path / "mg")
    stream_heavy_hitters(
        stream_events(spark, sf_small),
        "event_type",
        k,
        summary,
        str(tmp_path / "ckpt"),
    )
    merged = {
        r["event_type"]: r["n"]
        for r in merged_heavy_hitters(spark, summary, "event_type").collect()
    }
    events = spark.read.parquet(f"{sf_small}/events.parquet")
    n_total = events.count()
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    heavy = {t for t, n in exact.items() if n > n_total / k}
    assert heavy  # fixture has heavy items at k=10 (5 uniform types)
    assert heavy <= set(merged)
    for t, n in merged.items():
        assert n <= exact[t]  # lower bounds never overcount


def test_stream_cdc_apply_maintains_published_snapshot(spark, tmp_path):
    """Two micro-batches of changes materialize the correct table state
    after each: upserts land, deletes remove, untouched keys survive,
    readers always see a complete published version."""
    import os

    from kusuma_metamorph_etl_spark.sources.sinks import read_published
    from kusuma_metamorph_etl_spark.streaming.sink import stream_cdc_apply

    src_dir = str(tmp_path / "changes")
    os.makedirs(src_dir)
    schema = "id long, v string, seq long, op string"
    b1 = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 2, "I"), (1, "a2", 3, "U")], schema
    )
    b1.write.parquet(f"{src_dir}/batch=0")
    table = str(tmp_path / "table")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1000)
            .parquet(f"{src_dir}/batch=*")
        )
        stream_cdc_apply(
            stream,
            table,
            str(tmp_path / "ckpt"),
            key=["id"],
            snapshot_schema="id long, v string",
        )

    run()
    got = {r["id"]: r["v"] for r in read_published(spark, table).collect()}
    assert got == {1: "a2", 2: "b"}

    b2 = spark.createDataFrame([(2, "", 4, "D"), (3, "c", 5, "I")], schema)
    b2.write.parquet(f"{src_dir}/batch=1")
    run()  # same checkpoint: only the new file processes
    got = {r["id"]: r["v"] for r in read_published(spark, table).collect()}
    assert got == {1: "a2", 3: "c"}


def test_stream_cdc_apply_fresh_checkpoint_over_existing_table(
    spark, tmp_path
):
    """Regression (r8 advice): a fresh checkpoint restarting at batch 0
    over an existing table collides with the published ``v=b000000``
    directory its own plan reads — without the collision guard the
    publish self-overwrites the input mid-read.  With the guard the
    replay publishes the ``...r`` sibling and the state stays correct
    (the replayed changes carry their original seq values, so cdc_apply
    re-derives the same snapshot)."""
    import json
    import os
    import shutil

    from kusuma_metamorph_etl_spark.sources.sinks import read_published
    from kusuma_metamorph_etl_spark.streaming.sink import stream_cdc_apply

    src_dir = str(tmp_path / "changes")
    os.makedirs(src_dir)
    schema = "id long, v string, seq long, op string"
    spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 2, "I"), (1, "a2", 3, "U")], schema
    ).write.parquet(f"{src_dir}/batch=0")
    table = str(tmp_path / "table")

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(f"{src_dir}/batch=*")
        stream_cdc_apply(
            stream, table, str(tmp_path / ckpt), key=["id"],
            snapshot_schema="id long, v string",
        )

    run("ckpt1")
    manifest = json.loads(
        spark.read.text(f"{table}/manifest.json").collect()[0]["value"]
    )
    assert manifest["current"] == "v=b000000"

    shutil.rmtree(str(tmp_path / "ckpt1"))  # lose the checkpoint
    run("ckpt2")  # replays everything as batch 0 → name collision
    manifest = json.loads(
        spark.read.text(f"{table}/manifest.json").collect()[0]["value"]
    )
    assert manifest["current"] == "v=b000000r"
    got = {r["id"]: r["v"] for r in read_published(spark, table).collect()}
    assert got == {1: "a2", 2: "b"}


@pytest.mark.slow
def test_stateful_late_stragglers_still_reach_the_handler(spark, tmp_path):
    """Pins the watermark contract documented in
    ``streaming/stateful.py::first_event_stream``: with ``state_ttl``
    enabled (EventTimeTimeout + watermark), this operator does NOT
    pre-filter late input rows — a cross-batch straggler a full hour
    behind the watermark still reaches the handler and emits.  (A
    review claimed Spark drops such rows before the handler; verified
    false on Spark 4.1 — this test fails if a Spark upgrade changes
    that, at which point ``late_tolerance`` must be raised to the
    disorder bound in every caller.)"""
    import datetime
    import os
    import time

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    src = tmp_path / "src_late"
    src.mkdir()

    def write_file(fname: str, rows, mtime: float):
        stage = tmp_path / "stage" / fname
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        target = src / f"{fname}.parquet"
        part.rename(target)
        os.utime(target, (mtime, mtime))

    now = time.time()
    # batch 1 advances the watermark to 12:00; batch 2 carries a
    # NEVER-SEEN user whose event time is 1h behind that watermark
    write_file("b1", [(1, t0, 1, "click", 1.0)], now - 60)
    write_file(
        "b2", [(2, t0 - datetime.timedelta(hours=1), 2, "click", 1.0)], now
    )

    from kusuma_metamorph_etl_spark.streaming.stateful import (
        first_event_stream,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = first_event_stream(
        stream, state_ttl="6 hours", late_tolerance="0 seconds"
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_late")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # two separate micro-batches ran, and the straggler was handled
    assert len(q.recentProgress) >= 2
    assert sorted(
        r["event_id"] for r in spark.table("t_late").collect()
    ) == [1, 2]


@pytest.mark.slow
def test_streaming_quality_two_hop_matches_mart_stages(spark, sf_small, tmp_path):
    """mart_streaming_quality's first two stages as a GENUINE two-hop
    streaming pipeline (bronze→silver→gold shape): file source →
    dedup_window_stream → parquet sink, then that parquet re-streamed →
    sessionize_stream → memory.  The composed stream labels every
    surviving event with the SAME session index as the mart's batch
    chain (dedup_within_window → sessionize) over the same input — the
    end-to-end parity the registered mart row's oracle check rides on."""
    from kusuma_metamorph_etl_spark.operators.events import (
        dedup_within_window,
        sessionize,
    )
    from kusuma_metamorph_etl_spark.streaming.stateful import (
        dedup_window_stream,
        sessionize_stream,
    )

    silver = tmp_path / "mart_sq_silver"
    hop1 = dedup_window_stream(stream_events(spark, sf_small), window_seconds=600)
    q1 = (
        hop1.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(silver))
        .option("checkpointLocation", str(tmp_path / "mart_sq_ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    silver_schema = (
        "user_id long, event_type string, event_id long, ts timestamp,"
        " value double"
    )
    hop2 = sessionize_stream(
        spark.readStream.schema(silver_schema).parquet(str(silver)),
        gap_seconds=1800,
    )
    run_to_memory_sink(hop2, "t_mart_sq_two_hop", output_mode="append")
    got = {
        r["event_id"]: r["session_idx"]
        for r in spark.table("t_mart_sq_two_hop").collect()
    }

    events = load_table(spark, sf_small, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    expected = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            dedup_within_window(
                events, keys=["user_id", "event_type"], window_seconds=600
            ),
            gap_seconds=1800,
        ).collect()
    }
    assert got == expected and got


class _FakeGroupState:
    """Just enough GroupState for the pure TTL-deadline unit tests."""

    def __init__(self, watermark_ms: int):
        self._wm = watermark_ms

    def getCurrentWatermarkMs(self) -> int:
        return self._wm


def test_ttl_deadline_never_moves_backwards():
    """r11 ADVICE: a batch of ONLY late stragglers anchors on
    max(watermark, batch_max) which can precede the previously stored
    activity-anchored deadline — re-arming must keep the later promise,
    else a key is forgotten sooner than its prior deadline said."""
    from kusuma_metamorph_etl_spark.streaming.stateful import _ttl_deadline_ms

    ttl_ms = 3_600_000  # 1 h
    wm_ms = 1_000_000_000
    # prior batch saw activity at wm + 30 min → stored deadline wm + 90 min
    stored = wm_ms + 1_800_000 + ttl_ms
    # straggler batch: max event time 10 min BEHIND the watermark
    straggler_ns = (wm_ms - 600_000) * 1_000_000
    state = _FakeGroupState(wm_ms)
    re_armed = _ttl_deadline_ms(state, straggler_ns, ttl_ms, stored)
    assert re_armed == stored  # without the stored term: wm + ttl < stored
    # fresh activity past the stored anchor advances the deadline
    fresh_ns = (wm_ms + 2_400_000) * 1_000_000
    assert _ttl_deadline_ms(state, fresh_ns, ttl_ms, stored) == (
        wm_ms + 2_400_000 + ttl_ms
    )


def test_ttl_deadline_expired_stored_deadline_is_harmless():
    """Passing an already-expired stored deadline must not resurrect it:
    the fresh anchor is at least the watermark, which exceeds any
    expired deadline, so the fresh term wins."""
    from kusuma_metamorph_etl_spark.streaming.stateful import _ttl_deadline_ms

    ttl_ms = 60_000
    wm_ms = 5_000_000
    expired_stored = wm_ms - 1  # watermark already passed it
    state = _FakeGroupState(wm_ms)
    assert _ttl_deadline_ms(state, None, ttl_ms, expired_stored) == wm_ms + ttl_ms


@pytest.mark.slow
def test_stateful_sessionize_restarts_from_checkpoint(spark, tmp_path):
    """Kill-and-restart recovery (r12 VERDICT Next #8): run 1 processes
    batch 1 against a durable checkpoint and terminates; run 2 is a NEW
    query object on the SAME checkpoint over a newly-arrived batch 2.
    Both the source offsets (batch 1 must not reprocess) and the session
    state (user 2's open session must survive the restart — with state
    lost, event 201 would restart at session 1 instead of gapping to 2)
    must come back from the checkpoint, so the accumulated sink equals
    the batch twin over batch1+batch2."""
    import datetime as dt

    from kusuma_metamorph_etl_spark.operators.events import sessionize
    from kusuma_metamorph_etl_spark.streaming.stateful import sessionize_stream

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def m(minute):
        return t0 + dt.timedelta(minutes=minute)

    schema = "user_id long, event_id long, ts timestamp"
    batch1 = [(1, 100, m(0)), (1, 101, m(10)), (2, 200, m(0))]
    batch2 = [(1, 102, m(20)), (1, 103, m(120)), (2, 201, m(90))]
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"

    def run():
        stream = sessionize_stream(
            spark.readStream.schema(schema).parquet(f"{src}/*"),
            gap_seconds=1800,
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    run()
    after1 = {
        r["event_id"]: r["session_idx"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert after1 == {100: 1, 101: 1, 200: 1}
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )
    run()  # restart: same checkpoint, fresh query
    rows = spark.read.parquet(str(out)).collect()
    assert len(rows) == 6  # committed offsets: batch 1 NOT reprocessed
    got = {r["event_id"]: r["session_idx"] for r in rows}
    expected = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            spark.createDataFrame(batch1 + batch2, schema), gap_seconds=1800
        ).collect()
    }
    # user 1: 0/10/20 min one session, 120 min gaps to session 2;
    # user 2: 0 then 90 min -> sessions 1 and 2 (state-survival witness).
    assert expected == {100: 1, 101: 1, 102: 1, 103: 2, 200: 1, 201: 2}
    assert got == expected


@pytest.mark.slow
def test_stateful_dedup_window_restarts_from_checkpoint(spark, tmp_path):
    """Same kill-and-restart recovery for the chained-burst dedup twin:
    after the restart, event 102 (+4 min after the suppressed 101) must
    STAY suppressed — that requires the key's last-seen timestamp to
    come back from the state store; a fresh key would emit it."""
    import datetime as dt

    from kusuma_metamorph_etl_spark.streaming.stateful import dedup_window_stream

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)

    def m(minute):
        return t0 + dt.timedelta(minutes=minute)

    schema = (
        "user_id long, event_type string, event_id long, ts timestamp,"
        " value double"
    )
    batch1 = [(1, "err", 100, m(0), 1.0), (1, "err", 101, m(5), 1.0)]
    batch2 = [(1, "err", 102, m(9), 1.0), (1, "err", 103, m(30), 1.0)]
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"

    def run():
        stream = dedup_window_stream(
            spark.readStream.schema(schema).parquet(f"{src}/*"),
            window_seconds=600,
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    run()
    assert {r["event_id"] for r in spark.read.parquet(str(out)).collect()} == {
        100
    }
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )
    run()  # restart: same checkpoint, fresh query
    got = {r["event_id"] for r in spark.read.parquet(str(out)).collect()}
    # 100 opened the burst; 101 suppressed (chained, last-seen -> m5);
    # 102 at +4 min of the RECOVERED last-seen stays suppressed; 103
    # (+21 min) opens a new burst.
    assert got == {100, 103}


# ------------------------------------------ one evaluation per micro-batch

SINK_SCHEMA = "id long, v string, seq long, op string, eff timestamp"


def _two_batch_stream(spark, tmp_path):
    """Five rows in two files, read back one file per micro-batch."""
    import datetime

    d1, d2 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 2, 1)
    src = tmp_path / "src"
    batches = [
        [(1, "a", 1, "I", d1), (2, "b", 2, "I", d1), (3, "c", 3, "I", d1)],
        [(1, "a2", 4, "U", d2), (4, "d", 5, "I", d2)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SINK_SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    return (
        spark.readStream.schema(SINK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )


def _sessionized(stream):
    """The benchmark's shape: the stateful sessionizer feeds the sink."""
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.streaming.stateful import sessionize_stream

    return sessionize_stream(
        stream.select(
            F.col("id").alias("user_id"),
            F.col("seq").alias("event_id"),
            F.col("eff").alias("ts"),
        )
    )


def _run_sink(name, stream, out, cp):
    from kusuma_metamorph_etl_spark.streaming import sink

    if name == "dual_write":
        sink.stream_dual_write(
            stream, f"{out}/raw", f"{out}/legacy", cp, run_date="2024-06-01"
        )
    elif name == "scd2_upsert":
        sink.stream_scd2_upsert(
            stream, out, cp, key=["id"], attrs=["v"], effective_from_col="eff"
        )
    elif name == "cdc_apply":
        sink.stream_cdc_apply(
            stream, out, cp, key=["id"], snapshot_schema="id long, v string"
        )
    else:
        sink.stream_heavy_hitters(stream, "id", 2, out, cp)


@pytest.mark.parametrize(
    "shape,sink_name",
    [
        (None, "dual_write"),
        (None, "scd2_upsert"),
        (None, "cdc_apply"),
        (None, "heavy_hitters"),
        (_sessionized, "dual_write"),
    ],
    ids=["dual_write", "scd2_upsert", "cdc_apply", "heavy_hitters",
         "sessionize_dual_write"],
)
def test_sink_evaluates_each_micro_batch_once(spark, tmp_path, shape, sink_name):
    """Three of the four sinks read their batch more than once (two
    targets, or an emptiness probe before the merge); the foreachBatch
    driver's persist must keep the frame handed to every sink — and any
    stateful operator feeding it — to ONE evaluation per row.

    A pass-through Python function on the sink's input tallies the rows
    it sees.  ``mapInPandas``, not a column UDF: the optimizer can
    neither prune it from a column-free probe such as ``isEmpty()`` nor
    push it below anything.  The tally goes to files, not an
    accumulator: ``isEmpty()`` stops reading after one row, and a Python
    worker cut off early never ships its accumulator updates."""
    import uuid

    stream = _two_batch_stream(spark, tmp_path)
    if shape is not None:
        stream = shape(stream)
    seen = tmp_path / "seen"
    seen.mkdir()

    def counted(batches):
        for pdf in batches:
            (seen / uuid.uuid4().hex).write_text(str(len(pdf)))
            yield pdf

    _run_sink(
        sink_name,
        stream.mapInPandas(counted, stream.schema),
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
    )
    assert sum(int(p.read_text()) for p in seen.iterdir()) == 5


def test_stream_heavy_hitters_releases_caches_when_the_write_fails(
    spark, tmp_path
):
    """A throwing summary write must not leak the summary cache (or the
    driver's batch cache): both are released in a ``finally``.  The
    write fails before any job runs, so nothing has been materialized
    yet — the leak shows as an entry left in the cache manager."""
    from pyspark.errors import StreamingQueryException

    from kusuma_metamorph_etl_spark.streaming.sink import stream_heavy_hitters

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    # earlier tests' localCheckpoint RDDs stay listed until GC
    persisted_before = set(spark.sparkContext._jsc.getPersistentRDDs())
    blocker = tmp_path / "mg"
    blocker.write_text("a plain file where the summary directory goes")
    with pytest.raises(StreamingQueryException):
        stream_heavy_hitters(
            _two_batch_stream(spark, tmp_path),
            "id",
            2,
            str(blocker),
            str(tmp_path / "cp"),
            metrics_root=str(tmp_path / "metrics"),
        )
    assert cache_manager.isEmpty()
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) <= persisted_before
