"""Salted-join equivalence: identical results to the plain join on skewed
data, for inner and left joins, including unmatched and duplicate keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.skew import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of fact rows share key 1 (the hot key); key 4 has no dim match.
    big = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise((F.col("id") % 3) + 2).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (3, "b2")], ["k", "label"]
    )
    return big, small


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_matches_plain_join(spark, skewed, how):
    big, small = skewed
    plain = big.join(small, on=["k"], how=how)
    salted = salted_join(big, small, on=["k"], how=how, buckets=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert _sorted_rows(salted.select(*plain.columns)) == _sorted_rows(plain)


def test_salted_join_rejects_right(spark, skewed):
    big, small = skewed
    with pytest.raises(ValueError):
        salted_join(big, small, on=["k"], how="right")


def _forced_percent_rank(df, col, regime):
    """Descending percent_rank from the rank scaffold with its regime
    forced — SQL's (rank - 1) / (n - 1)."""
    from kusuma_metamorph_etl_spark.operators.windows import _global_rank

    rank, n = F.col("__rank"), F.col("__total")
    return _global_rank(df, col, [], True, regime).withColumn(
        "percent_rank", F.when(n > 1, (rank - 1) / (n - 1)).otherwise(0.0)
    )


def test_percent_rank_paths_agree_on_nan(spark):
    """Regression (r8 review): the range-partitioned path used to bucket
    NaN with the NULLs (bucket -1), flipping its rank position vs both
    the broadcast-map path and true PERCENT_RANK (Spark sorts NaN as the
    LARGEST value).  Every regime must agree on the same data."""
    from pyspark.sql import Window as W

    vals = [float(i) for i in range(500)] + [float("nan")] + [None] * 2
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    truth = {
        ("nan" if r["x"] != r["x"] else r["x"]): r["pr"]
        for r in df.select(
            "x", F.percent_rank().over(W.orderBy(F.desc("x"))).alias("pr")
        ).collect()
        if r["x"] is not None
    }
    for regime in ("broadcast", "range", "distinct"):
        got = {
            ("nan" if r["x"] != r["x"] else r["x"]): r["percent_rank"]
            for r in _forced_percent_rank(df, "x", regime).collect()
            if r["x"] is not None
        }
        assert abs(got["nan"] - truth["nan"]) < 1e-9, (regime, got["nan"])
        for probe in (0.0, 250.0, 499.0):
            assert abs(got[probe] - truth[probe]) < 1e-9, (regime, probe)


def test_percent_rank_timestamp_input(spark):
    """Regression (r8 review): the high-cardinality path crashed on the
    timestamp columns its own docstring advertises (approxQuantile is
    numeric-only).  An order-isomorphic unix-micros shadow ranks them."""
    import datetime as dt

    from pyspark.sql import Window as W

    t0 = dt.datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [(t0 + dt.timedelta(minutes=i),) for i in range(400)], "ts timestamp"
    )
    truth = {
        r["ts"]: r["pr"]
        for r in df.select(
            "ts", F.percent_rank().over(W.orderBy(F.desc("ts"))).alias("pr")
        ).collect()
    }
    got = {
        r["ts"]: r["percent_rank"]
        for r in _forced_percent_rank(df, "ts", "range").collect()
    }
    for k in truth:
        assert abs(got[k] - truth[k]) < 1e-9


def test_percent_rank_hot_value_with_huge_distinct_tail(spark):
    """Regression (r8 review): collapsed row-quantiles used to route to
    the broadcast rank map even when a skew-hidden distinct tail was
    huge (the exact OOM that path must avoid).  The distinct-bucketed
    regime ranks by value counts; values agree with PERCENT_RANK."""
    from pyspark.sql import Window as W

    # 5000 copies of the hot value + a 500-value distinct tail
    vals = [0.0] * 5000 + [float(i) for i in range(1, 501)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    truth = {
        r["x"]: r["pr"]
        for r in df.select(
            "x", F.percent_rank().over(W.orderBy(F.desc("x"))).alias("pr")
        ).collect()
    }
    out = _forced_percent_rank(df, "x", "distinct")
    got = {r["x"]: r["percent_rank"] for r in out.collect()}
    assert abs(got[0.0] - truth[0.0]) < 1e-9   # hot value: rank 500/(n-1)
    for probe in (1.0, 250.0, 500.0):
        assert abs(got[probe] - truth[probe]) < 1e-9, probe
    assert out.count() == len(vals)


def _construction_jobs(spark, build):
    """(result of ``build()``, Spark jobs it ran), counted through a job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"construct-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "rank construction")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rank_regime_follows_plan_then_one_probe(spark, monkeypatch):
    """The rank regime comes from the plan, not the caller: a frame whose
    size estimate fits the broadcast threshold takes the broadcast map
    with no job; a larger one runs exactly one probe action, whose
    distinct count and quantiles pick range (high distinct) or
    distinct-bucketed (a hot value over a big tail)."""
    from pyspark.sql import Window as W

    from kusuma_metamorph_etl_spark.operators import windows

    spread = spark.range(2000).select(F.col("id").cast("double").alias("x"))
    hot = spark.createDataFrame(
        [(0.0,)] * 3000 + [(float(i),) for i in range(1, 301)], "x double"
    )

    def choose(df):
        return _construction_jobs(spark, lambda: windows._choose_regime(df, "x", 8))

    (regime, _), jobs = choose(spread)
    assert (regime, jobs) == ("broadcast", 0)
    _, jobs = _construction_jobs(spark, lambda: windows.global_percent_rank(spread, "x"))
    assert jobs == 0

    monkeypatch.setattr(windows, "_BROADCAST_LIMIT", 100)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _, one_action = _construction_jobs(
            spark, lambda: spread.agg(F.count(F.lit(1))).first()
        )
        assert one_action > 0
        (regime, bounds), jobs = choose(spread)
        assert (regime, jobs) == ("range", one_action)
        assert len(bounds) > 1
        out, jobs = _construction_jobs(
            spark, lambda: windows.global_percent_rank(spread, "x")
        )
        assert jobs == one_action
        assert "windowspecdefinition(__bkt" in out._jdf.queryExecution().executedPlan().toString()
        (regime, _), _ = choose(hot)
        assert regime == "distinct"
        truth = {
            r["x"]: r["pr"]
            for r in hot.select(
                "x", F.percent_rank().over(W.orderBy(F.desc("x"))).alias("pr")
            ).collect()
        }
        got = {r["x"]: r["percent_rank"] for r in windows.global_percent_rank(hot, "x").collect()}
        assert got == truth
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_global_ntile_timestamp_range_regime(spark, probed_rank):
    """global_ntile ranks a timestamp key in the range regime (quantile
    bounds over its unix-micros shadow) and equals Spark's NTILE."""
    import datetime as dt

    from pyspark.sql import Window as W

    from kusuma_metamorph_etl_spark.operators.windows import global_ntile

    t0 = dt.datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=i % 150)) for i in range(400)],
        "i long, ts timestamp",
    )
    truth = {
        r["i"]: r["nt"]
        for r in df.select(
            "i", F.ntile(7).over(W.orderBy("ts", "i")).alias("nt")
        ).collect()
    }
    out = global_ntile(df, "ts", [F.asc("i")], 7, "nt")
    assert "windowspecdefinition(__bkt" in out._jdf.queryExecution().executedPlan().toString()
    assert out.columns == ["i", "ts", "nt"]
    assert {r["i"]: r["nt"] for r in out.collect()} == truth
