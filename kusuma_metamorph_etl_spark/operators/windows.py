"""Window operators (SURVEY.md §2.6).

``win_rownum_topk`` / ``win_rownum_flag`` are stock ``row_number`` windows.
The reference ranks the WHOLE dataset with an unpartitioned
``Window.orderBy(...)`` (``ETL-Airflow/dags/tasks/
customer_sales_report_task.py:101-106``, anti-pattern A4) — Spark runs
that as one task holding every row.  :func:`global_percent_rank` and
:func:`global_ntile` give the exact same values without it.  Both are
formulas over one scaffold, :func:`_global_rank`, which returns SQL
``RANK() OVER (ORDER BY value [DESC], *tiebreaks)`` plus the row total in
one of three regimes:

* **broadcast** — per-value row counts, a tiny window over the distinct
  values for the rows before each value and the total, joined back with
  a broadcast, null-safe join.  The broadcast is O(distinct).
* **range** — rows bucketed at fixed quantile bounds, ``rank()`` within
  each bucket, plus the prefix-summed rows of earlier buckets from a
  ≤P-row frame.  No O(n) broadcast, no task holding more than ~n/P rows.
* **distinct** (distinct-bucketed) — the range scaffold run over the
  distinct-value frame weighted by row counts, joined back by value.
  For a hot value over a large distinct tail: the row quantiles
  collapse onto the hot value, but each value appears once in the
  distinct frame, so its quantiles still spread.

With tiebreaks, a within-value ``rank()`` partitioned by the value adds
the position inside a tied value (broadcast and distinct regimes; the
range regime orders each bucket by the tiebreaks directly).

The regime comes from the plan, never from the caller.  If Catalyst's
size estimate of the frame is at most ``spark.sql.autoBroadcastJoinThreshold``
the frame could be broadcast whole, so its distinct-value map can too:
broadcast, with no job.  Otherwise one probe job collects the
approximate distinct count and the row quantiles: at most
``_BROADCAST_LIMIT`` distinct values → broadcast; quantiles giving more
than two buckets → range on those bounds; otherwise → distinct.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

from kusuma_metamorph_etl_spark.operators.partitioning import (
    bucket_offsets,
    bucketize,
    quantile_bucket,
    quantile_cuts,
)
from kusuma_metamorph_etl_spark.plans.share import share

# Most distinct values a broadcast rank map may hold.
_BROADCAST_LIMIT = 100_000


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int = 1,
    rank_col: str = "rn",
) -> DataFrame:
    """`win_rownum_topk`: row_number ≤ k per group, deterministic iff
    ``order_by`` is a total order (pass tiebreak columns!).

    Scale: one hash-shuffle on ``partition_by``; skewed groups are split by
    AQE.  No global sort.
    """
    window = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(window))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def global_percent_rank(
    df: DataFrame,
    value_col: str,
    out_col: str = "percent_rank",
    descending: bool = True,
) -> DataFrame:
    """Exact global ``PERCENT_RANK() OVER (ORDER BY value [DESC])``
    without a single-partition window: ``(rank - 1) / (n - 1)``, so tied
    values share a percent_rank and nulls rank where Spark's sort puts
    them (last for desc, first for asc).  Regimes: module docstring.
    """
    ranked = _global_rank(df, value_col, [], descending)
    rank, n = F.col("__rank"), F.col("__total")
    pr = F.when(n > 1, (rank - 1) / (n - 1)).otherwise(F.lit(0.0))
    return ranked.withColumn(out_col, pr).drop("__rank", "__total")


def global_ntile(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[Column],
    n_tiles: int,
    out_col: str,
    descending: bool = False,
) -> DataFrame:
    """Exact global ``NTILE(n) OVER (ORDER BY value [DESC], tiebreaks)``
    without a single-partition window.

    Requires ``(value_col, *tiebreaks)`` to be a TOTAL order (the
    registered callers all append a unique key — the same discipline
    Spark needs for a deterministic ntile), so the scaffold's rank is the
    global row number.  ntile is row_number arithmetic: with n rows in k
    tiles, the first ``n % k`` tiles hold ``n div k + 1`` rows and the
    rest ``n div k`` (SQL standard; Spark ``NTile`` and DuckDB agree).
    Regimes: module docstring.
    """
    ranked = _global_rank(df, value_col, tiebreaks, descending)
    k = F.lit(int(n_tiles)).cast("long")
    n = F.col("__total")
    rn = F.col("__rank")
    # long/long division yields double; cast truncates toward zero ==
    # floor for the non-negative counts here (exact below 2^53 rows).
    q = (n / k).cast("long")
    r = n % k
    # First r tiles hold q+1 rows; q == 0 (n < k) keeps every row in the
    # first branch (boundary == n), so the greatest() guard never changes
    # a used value — it only keeps the dead branch free of div-by-zero.
    boundary = (q + F.lit(1)) * r
    q_safe = F.greatest(q, F.lit(1).cast("long"))
    tile = F.when(
        rn <= boundary, ((rn + q) / (q + F.lit(1))).cast("long")
    ).otherwise(r + ((rn - boundary + q_safe - F.lit(1)) / q_safe).cast("long"))
    return ranked.withColumn(out_col, tile.cast("int")).drop("__rank", "__total")


def _global_rank(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[Column],
    descending: bool,
    regime: str | None = None,
) -> DataFrame:
    """``df`` plus ``__rank`` = SQL ``RANK() OVER (ORDER BY value [DESC],
    *tiebreaks)`` and ``__total`` = its row count.

    ``regime`` (``"broadcast"``, ``"range"`` or ``"distinct"``) forces a
    regime so tests can check each one; by default
    :func:`_choose_regime` picks it.
    """
    key, keyed = _order_key(df, value_col)
    num_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    bounds = None
    if regime is None:
        regime, bounds = _choose_regime(keyed, key, num_parts)
    if regime == "range":
        ranked = _rank_range(keyed, key, tiebreaks, descending, num_parts, bounds)
    elif regime == "broadcast":
        value_map = bucket_offsets(keyed, key, F.lit(1), ascending=not descending)
        ranked = _rank_by_value(keyed, key, tiebreaks, value_map, broadcast=True)
    else:
        value_map = _distinct_value_map(keyed, key, descending, num_parts)
        ranked = _rank_by_value(keyed, key, tiebreaks, value_map, broadcast=False)
    return ranked if key == value_col else ranked.drop(key)


def _order_key(df: DataFrame, value_col: str) -> tuple[str, DataFrame]:
    """The column to rank on: dates and timestamps get an
    order-isomorphic numeric shadow (epoch days; unix micros — strictly
    monotonic, tie-preserving), because quantile bounds are numeric-only.
    """
    dtype = df.schema[value_col].dataType
    if isinstance(dtype, DateType):
        num = F.datediff(F.col(value_col), F.lit("1970-01-01").cast("date"))
    elif isinstance(dtype, TimestampNTZType):
        # wall-clock arithmetic, NOT a session-zone cast: under a DST
        # session zone the cast collapses spring-forward-gap wall times
        # onto the next instant, breaking tie preservation
        num = F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{value_col}`)"
        )
    elif isinstance(dtype, TimestampType):
        num = F.unix_micros(F.col(value_col))
    else:
        return value_col, df
    return "__rank_key", df.withColumn("__rank_key", num)


def _choose_regime(
    df: DataFrame, key: str, num_parts: int
) -> tuple[str, list[float] | None]:
    """The regime rule of the module docstring; returns the regime and,
    for range, the bucket bounds its probe collected."""
    jconf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if size <= jconf.autoBroadcastJoinThreshold():
        return "broadcast", None
    numeric = isinstance(df.schema[key].dataType, NumericType)
    probes = [F.approx_count_distinct(key).alias("d")]
    if numeric:
        probes.append(quantile_cuts(key, num_parts).alias("cuts"))
    # bound: one row — a count plus at most P - 1 doubles
    probe = df.agg(*probes).first()
    if probe["d"] <= _BROADCAST_LIMIT:
        return "broadcast", None
    if not numeric:
        raise ValueError(
            f"global rank: {df.schema[key].dataType.simpleString()} column "
            f"{key!r} has more than {_BROADCAST_LIMIT} distinct values, too "
            "many for a broadcast rank map, and quantile buckets need a "
            "numeric key; rank an order-isomorphic numeric encoding instead"
        )
    # One cut (a near-constant column) gives two buckets, one of which
    # holds every row: the range regime would run in a single task.
    if len(set(probe["cuts"] or [])) > 1:
        return "range", probe["cuts"]
    return "distinct", None


def _rank_range(
    df: DataFrame,
    key: str,
    tiebreaks: list[Column],
    descending: bool,
    num_parts: int,
    bounds: list[float] | None,
) -> DataFrame:
    """Range regime.  The bucket id is a fixed function of the value
    (``repartitionByRange`` re-samples its boundaries on every recompute,
    so the rank and offsets branches of this diamond could disagree), and
    equal values share a bucket, so ``rank()`` within a bucket plus the
    rows of earlier buckets is the global rank.  Nulls take bucket -1 and
    NaN the top bucket — Spark's sort positions in both directions.
    """
    if bounds is None:
        bucketed, _ = quantile_bucket(df, key, num_parts)
    else:
        bucketed, _ = bucketize(df, key, bounds)
    order = F.col(key).desc() if descending else F.col(key).asc()
    in_bkt = Window.partitionBy("__bkt").orderBy(order, *tiebreaks)
    offsets = bucket_offsets(bucketed, "__bkt", F.lit(1), ascending=not descending)
    return (
        bucketed.withColumn("__rank_in_bkt", F.rank().over(in_bkt))
        .join(F.broadcast(offsets), on="__bkt")
        .withColumn("__rank", F.col("__before") + F.col("__rank_in_bkt"))
        .drop("__bkt", "__rank_in_bkt", "__before")
    )


def _distinct_value_map(
    df: DataFrame, key: str, descending: bool, num_parts: int
) -> DataFrame:
    """Distinct regime's (value, ``__before`` = rows before it,
    ``__total``) map: the distinct-value frame range-bucketed on its own
    quantiles, each value's rows-before summed within its bucket over
    ≤ |distinct|/P value rows, never row counts.  The map is O(distinct)
    — too big to broadcast — so it joins back by value; AQE's skew-join
    split spreads the hot value's rows."""
    # read by the bounds collect, the in-bucket window and bucket_offsets
    counts = share(df.groupBy(key).agg(F.count(F.lit(1)).alias("__cnt")))
    bucketed, _ = quantile_bucket(counts, key, num_parts)
    order = F.col(key).desc() if descending else F.col(key).asc()
    in_bkt = Window.partitionBy("__bkt").orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_offsets(bucketed, "__bkt", F.col("__cnt"), ascending=not descending)
    return (
        bucketed.withColumn(
            "__before_in_bkt", F.coalesce(F.sum("__cnt").over(in_bkt), F.lit(0))
        )
        .join(F.broadcast(offsets), on="__bkt")
        .select(
            key,
            (F.col("__before") + F.col("__before_in_bkt")).alias("__before"),
            "__total",
        )
    )


def _rank_by_value(
    df: DataFrame,
    key: str,
    tiebreaks: list[Column],
    value_map: DataFrame,
    broadcast: bool,
) -> DataFrame:
    """Join a per-value (value, ``__before`` = rows before it,
    ``__total``) map back to the rows.  The join is NULL-SAFE so null
    values rank as one group like any other value; with tiebreaks a
    within-value ``rank()`` orders the rows that share a value — a hot
    value lands in one window partition there."""
    value_map = value_map.withColumnRenamed(key, "__rank_value")
    if broadcast:
        value_map = F.broadcast(value_map)
    rank = F.col("__before") + F.lit(1)
    if tiebreaks:
        in_value = Window.partitionBy(key).orderBy(*tiebreaks)
        rank = rank + F.rank().over(in_value) - F.lit(1)
    return (
        df.join(
            value_map,
            on=F.col(key).eqNullSafe(F.col("__rank_value")),
            how="left",
        )
        .withColumn("__rank", rank)
        .drop("__rank_value", "__before")
    )
