"""Sink tests: dual-write layout (raw has no DAY_DT — fixes reference
quirk B2; legacy is DAY_DT-partitioned history) and idempotent dynamic
partition overwrite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.sources.sinks import (
    dual_write,
    enable_dynamic_partition_overwrite,
    stamp_snapshot,
    write_bucketed,
    write_parquet_snapshot,
)


def test_dual_write_layout(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    raw = str(tmp_path / "raw")
    legacy = str(tmp_path / "legacy")

    dual_write(df, raw, legacy, run_date="2024-06-01")

    raw_df = spark.read.parquet(raw)
    assert set(raw_df.columns) == {"id", "v"}  # no DAY_DT in raw (B2 fixed)
    assert raw_df.count() == 2

    legacy_df = spark.read.parquet(legacy)
    assert "DAY_DT" in legacy_df.columns
    assert legacy_df.count() == 2
    assert {str(r["DAY_DT"]) for r in legacy_df.collect()} == {"2024-06-01"}

    # Next day appends; history accumulates by snapshot date.
    dual_write(df, raw, legacy, run_date="2024-06-02")
    assert spark.read.parquet(raw).count() == 2  # raw overwritten
    legacy_df = spark.read.parquet(legacy)
    assert legacy_df.count() == 4
    assert legacy_df.select("DAY_DT").distinct().count() == 2


def test_dual_write_b2_parity_quirk(spark, tmp_path):
    # Reference quirk B2 (`ingestion_task.py:283`): raw.sales_pre receives
    # the DAY_DT-stamped frame.  Opt-in only, for parity migrations.
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    raw = str(tmp_path / "raw")
    legacy = str(tmp_path / "legacy")

    dual_write(df, raw, legacy, run_date="2024-06-01", stamp_raw_quirk=True)

    raw_df = spark.read.parquet(raw)
    assert "DAY_DT" in raw_df.columns  # B2 reproduced
    assert {str(r["DAY_DT"]) for r in raw_df.collect()} == {"2024-06-01"}
    # Legacy layout is identical with or without the quirk.
    legacy_df = spark.read.parquet(legacy)
    assert "DAY_DT" in legacy_df.columns and legacy_df.count() == 2


def test_dynamic_partition_overwrite_is_idempotent(spark, tmp_path):
    enable_dynamic_partition_overwrite(spark)
    path = str(tmp_path / "snap")

    day1 = stamp_snapshot(
        spark.createDataFrame([(1,)], ["id"]), run_date="2024-06-01"
    )
    day2 = stamp_snapshot(
        spark.createDataFrame([(2,)], ["id"]), run_date="2024-06-02"
    )
    write_parquet_snapshot(day1, path, mode="overwrite")
    write_parquet_snapshot(day2, path, mode="overwrite")
    # Re-run day 2 (reprocessing) — must replace, not duplicate, and must
    # leave day 1 untouched.
    write_parquet_snapshot(day2, path, mode="overwrite")

    out = spark.read.parquet(path)
    assert out.count() == 2
    assert out.filter(F.col("DAY_DT") == "2024-06-02").count() == 1


def test_partition_pruning_at_scan(spark, tmp_path):
    """A DAY_DT filter over a partitioned table must prune partitions at
    the scan (PartitionFilters), not read-then-filter."""
    for day, n in (("2024-06-01", 3), ("2024-06-02", 5)):
        df = stamp_snapshot(spark.range(n).toDF("id"), run_date=day)
        write_parquet_snapshot(df, str(tmp_path / "t"), mode="append")
    scan = spark.read.parquet(str(tmp_path / "t")).filter(
        F.col("DAY_DT") == "2024-06-02"
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "DAY_DT" in plan.split("PartitionFilters")[1][:120]
    assert scan.count() == 5


def test_bucketed_join_has_no_exchange(spark, sf_small):
    """Two tables bucketed on the join key must join with ZERO shuffles —
    the whole point of paying the bucketing shuffle at write time."""
    lineitem = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    write_bucketed(
        lineitem.select("l_orderkey", "l_quantity"), "t_li_b", ["l_orderkey"], 4
    )
    write_bucketed(
        orders.select("o_orderkey", "o_custkey"), "t_o_b", ["o_orderkey"], 4
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force the shuffle-based join path (small test tables would be
        # broadcast, which also disables bucketed scans) — the point is
        # what bucketing saves when broadcasting is NOT possible.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_li_b").join(
            spark.table("t_o_b"),
            on=F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # And the join still computes the right thing.
        assert joined.count() == lineitem.join(
            orders, on=F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_o_b")


class TestCompaction:
    def test_small_files_merge_and_rows_survive(self, spark, sf_small, tmp_path):
        from kusuma_metamorph_etl_spark.sources.sinks import compact_parquet

        src = str(tmp_path / "fragmented")
        dst = str(tmp_path / "compacted")
        orders = spark.read.parquet(f"{sf_small}/orders.parquet")
        orders.repartition(40).write.parquet(src)  # simulate streaming litter
        import glob

        assert len(glob.glob(f"{src}/part-*.parquet")) == 40
        n = compact_parquet(spark, src, dst, target_file_mb=256)
        files = glob.glob(f"{dst}/part-*.parquet")
        assert len(files) == n == 1  # tiny table -> one right-sized file
        back = spark.read.parquet(dst)
        assert back.count() == orders.count()
        assert {r["o_orderkey"] for r in back.select("o_orderkey").collect()} == {
            r["o_orderkey"] for r in orders.select("o_orderkey").collect()
        }

    def test_oversized_source_splits_up(self, spark, sf_small, tmp_path):
        """A source in FEWER partitions than the byte-derived target must
        be split (repartition), not passed through — coalesce alone can
        only merge downward (ADVICE r6).  target_file_mb=0 is illegal, so
        force the split with a tiny 1 MB target over a 1-file source."""
        from kusuma_metamorph_etl_spark.sources.sinks import compact_parquet

        src = str(tmp_path / "one_big")
        dst = str(tmp_path / "split")
        # Incompressible payload so the single source file is a few MB.
        big = spark.range(150_000).select(
            "id",
            F.md5(F.col("id").cast("string")).alias("h1"),
            F.md5(F.concat_ws("x", F.col("id").cast("string"))).alias("h2"),
        )
        big.coalesce(1).write.parquet(src)
        import glob

        assert len(glob.glob(f"{src}/part-*.parquet")) == 1
        n = compact_parquet(spark, src, dst, target_file_mb=1)
        files = glob.glob(f"{dst}/part-*.parquet")
        assert n == len(files)  # returns files actually written
        assert n > 1  # source was split upward
        assert spark.read.parquet(dst).count() == 150_000

    def test_sorted_compaction_restores_clustering(self, spark, sf_small, tmp_path):
        from kusuma_metamorph_etl_spark.sources.sinks import compact_parquet

        src = str(tmp_path / "frag2")
        dst = str(tmp_path / "sorted")
        orders = spark.read.parquet(f"{sf_small}/orders.parquet")
        orders.repartition(20).write.parquet(src)
        compact_parquet(spark, src, dst, target_file_mb=256, sort_cols=["o_orderkey"])
        back = spark.read.parquet(dst)
        keys = [r["o_orderkey"] for r in back.select("o_orderkey").collect()]
        # single output file + sortWithinPartitions -> globally sorted rows
        assert keys == sorted(keys)


class TestJdbcRoundTrip:
    """Real JDBC integration against embedded Derby (ships in Spark's own
    jars/): the sandbox stand-in for the reference's Postgres sink/source
    (`transform_utils.py:95-129`)."""

    def _creds(self):
        from kusuma_metamorph_etl_spark.sources.jdbc import DERBY_EMBEDDED_DRIVER

        return {"user": "app", "password": "app", "driver": DERBY_EMBEDDED_DRIVER}

    def test_overwrite_then_partitioned_read(self, spark, tmp_path):
        from kusuma_metamorph_etl_spark.sources.jdbc import (
            embedded_derby_url,
            jdbc_reader,
            jdbc_writer,
        )

        url = embedded_derby_url(str(tmp_path / "db"))
        df = spark.createDataFrame(
            [(i, f"name-{i}", float(i) * 1.5) for i in range(1, 101)],
            "id long, name string, val double",
        )
        jdbc_writer(df, mode="overwrite", url=url, table="t", **self._creds()).save()

        back = jdbc_reader(
            spark,
            url=url,
            table="t",
            partition_column="id",
            lower_bound=1,
            upper_bound=100,
            num_partitions=4,
            **self._creds(),
        ).load()
        # The partitioned read really fans out into 4 range queries.
        assert back.rdd.getNumPartitions() == 4
        assert sorted(tuple(r) for r in back.collect()) == sorted(
            tuple(r) for r in df.collect()
        )

    def test_append_accumulates(self, spark, tmp_path):
        from kusuma_metamorph_etl_spark.sources.jdbc import (
            embedded_derby_url,
            jdbc_reader,
            jdbc_writer,
        )

        url = embedded_derby_url(str(tmp_path / "db"))
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        jdbc_writer(df, mode="overwrite", url=url, table="t", **self._creds()).save()
        jdbc_writer(df, mode="append", url=url, table="t", **self._creds()).save()
        back = jdbc_reader(spark, url=url, table="t", **self._creds()).load()
        assert back.count() == 4

    def test_overwrite_replaces(self, spark, tmp_path):
        from kusuma_metamorph_etl_spark.sources.jdbc import (
            embedded_derby_url,
            jdbc_reader,
            jdbc_writer,
        )

        url = embedded_derby_url(str(tmp_path / "db"))
        a = spark.createDataFrame([(1, "a")], "id long, v string")
        b = spark.createDataFrame([(9, "z"), (10, "y")], "id long, v string")
        jdbc_writer(a, mode="overwrite", url=url, table="t", **self._creds()).save()
        jdbc_writer(b, mode="overwrite", url=url, table="t", **self._creds()).save()
        back = jdbc_reader(spark, url=url, table="t", **self._creds()).load()
        assert sorted(r["id"] for r in back.collect()) == [9, 10]

    def test_roundtrip_query_reruns_in_one_session(self, spark):
        # The registered query's shutdown -> rmtree -> create lifecycle
        # must survive a second invocation in the same JVM (embedded Derby
        # keeps databases booted; deleting a booted db corrupts re-boot).
        from kusuma_metamorph_etl_spark import registry

        q = registry.queries()["snk_jdbc_roundtrip"]
        a = q(spark, "/root/testdata/sf0.001").count()
        b = q(spark, "/root/testdata/sf0.001").count()
        assert a == b and a > 0


# ------------------------------------------------------------- publish

def test_publish_snapshot_swaps_atomically_and_keeps_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.sources.sinks import (
        publish_snapshot,
        read_published,
    )

    root = str(tmp_path / "table")
    v1 = spark.range(10).withColumn("v", F.lit("one"))
    publish_snapshot(spark, v1, root, "20240101")
    assert read_published(spark, root).count() == 10

    v2 = spark.range(25).withColumn("v", F.lit("two"))
    publish_snapshot(spark, v2, root, "20240102")
    got = read_published(spark, root)
    assert got.count() == 25
    assert got.select("v").distinct().collect()[0]["v"] == "two"
    # the previous version survives for rollback
    assert spark.read.parquet(f"{root}/v=20240101").count() == 10
    # a failed write of a NEW version never disturbs the manifest:
    # readers still see v2 because the swap happens only at the end
    assert read_published(spark, root).count() == 25


def test_vacuum_keeps_newest_and_never_the_current(spark, tmp_path):
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.sources.sinks import (
        publish_snapshot,
        read_published,
        vacuum_versions,
    )

    root = str(tmp_path / "table")
    for i, v in enumerate(["20240101", "20240102", "20240103", "20240104"]):
        publish_snapshot(
            spark, spark.range(10 + i).withColumn("v", F.lit(v)), root, v
        )
    deleted = vacuum_versions(spark, root, keep=2)
    assert deleted == ["v=20240101", "v=20240102"]
    assert read_published(spark, root).count() == 13
    # re-point the manifest at an OLD version, then vacuum aggressively:
    # the current version must survive even outside the keep window
    import json
    with open(f"{root}/manifest.json", "w") as fh:
        fh.write(json.dumps({"current": "v=20240103"}))
    deleted2 = vacuum_versions(spark, root, keep=1)
    assert "v=20240103" not in deleted2
    assert read_published(spark, root).count() == 12


def test_read_published_and_vacuum_raise_without_manifest(spark, tmp_path):
    """A root with no manifest has nothing published: reading it raises,
    and vacuuming it raises instead of deleting every version directory
    as "not current"."""
    from pyspark.errors.exceptions.base import AnalysisException

    from kusuma_metamorph_etl_spark.sources.sinks import (
        read_published,
        vacuum_versions,
    )

    root = str(tmp_path / "tbl")
    spark.range(3).write.parquet(f"{root}/v=001")
    for call in (read_published, vacuum_versions):
        with pytest.raises(
            (AnalysisException, FileNotFoundError), match="manifest.json"
        ):
            call(spark, root)
    assert spark.read.parquet(f"{root}/v=001").count() == 3


def test_read_published_time_travel(spark, tmp_path):
    from kusuma_metamorph_etl_spark.sources.sinks import (
        publish_snapshot,
        read_published,
    )

    root = str(tmp_path / "tbl")
    publish_snapshot(
        spark, spark.createDataFrame([(1, "old")], ["id", "v"]), root, "001"
    )
    publish_snapshot(
        spark, spark.createDataFrame([(1, "new")], ["id", "v"]), root, "002"
    )
    assert read_published(spark, root).collect()[0]["v"] == "new"
    # time-travel to the superseded version, which publish retained
    assert read_published(spark, root, version="001").collect()[0]["v"] == "old"


def test_vacuum_orders_numeric_versions_by_publish_time(spark, tmp_path):
    """Regression (r8 review): lexicographic name sort made "v=10" older
    than "v=2", so vacuum deleted the TRUE newest versions and kept
    stale ones.  Newest now means publish order (directory mtime)."""
    import time

    from kusuma_metamorph_etl_spark.sources.sinks import (
        publish_snapshot,
        read_published,
        vacuum_versions,
    )

    root = str(tmp_path / "tbl")
    df = spark.range(0, 5)
    for v in ["1", "2", "9", "10", "11", "12"]:
        publish_snapshot(spark, df, root, v)
        time.sleep(1.05)  # mtime granularity

    deleted = vacuum_versions(spark, root, keep=3)
    # newest three by publish order are 10, 11, 12 — lexicographic sort
    # would have doomed v=10 and v=11
    assert sorted(deleted) == sorted(["v=1", "v=2", "v=9"]), deleted
    assert read_published(spark, root, version="11").count() == 5
    assert read_published(spark, root).count() == 5


def test_dual_write_rerun_is_idempotent_per_day(spark, tmp_path):
    """Regression (r8 review): a retried/backfilled run for the same
    run_date used to APPEND the day's rows a second time into legacy;
    the dynamic partition overwrite replaces exactly that day."""
    raw, legacy = str(tmp_path / "raw"), str(tmp_path / "legacy")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    dual_write(df, raw, legacy, run_date="2024-06-01")
    dual_write(df, raw, legacy, run_date="2024-06-01")  # retry, same day
    dual_write(df, raw, legacy, run_date="2024-06-02")  # next day
    out = spark.read.parquet(legacy)
    counts = {
        str(r["DAY_DT"]): r["n"]
        for r in out.groupBy("DAY_DT").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"2024-06-01": 10, "2024-06-02": 10}


def test_read_legacy_normalizes_batch_and_stream_layouts(spark, tmp_path):
    """Regression (r8 advice): stream-written legacy directories carry
    the extra ``__batch_id`` partition column (the replay-idempotence
    key), so unioning them with batch-written legacy data hit a schema
    mismatch.  ``read_legacy`` drops the writer-internal column from
    either layout, making the union safe."""
    from kusuma_metamorph_etl_spark.sources.sinks import read_legacy
    from kusuma_metamorph_etl_spark.streaming.sink import stream_dual_write

    df = spark.range(0, 5).select(F.col("id").alias("k"))
    batch_legacy = str(tmp_path / "batch_legacy")
    dual_write(df, str(tmp_path / "raw_b"), batch_legacy, run_date="2024-06-01")

    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream_legacy = str(tmp_path / "stream_legacy")
    stream_dual_write(
        spark.readStream.schema("k long").parquet(src),
        raw_path=str(tmp_path / "raw_s"),
        legacy_path=stream_legacy,
        checkpoint_dir=str(tmp_path / "cp"),
        run_date="2024-06-01",
    )
    # raw stream read-back really does carry the extra column…
    assert "__batch_id" in spark.read.parquet(stream_legacy).columns
    # …and read_legacy normalizes both layouts to the same schema
    b = read_legacy(spark, batch_legacy)
    s = read_legacy(spark, stream_legacy)
    assert sorted(b.columns) == sorted(s.columns)
    assert b.unionByName(s).count() == 10
