"""Window operators (SURVEY.md §2.6).

``win_rownum_topk`` / ``win_rownum_flag`` are stock ``row_number`` windows.
The interesting one is ``win_percent_rank``: the reference ranks the WHOLE
dataset with an unpartitioned ``Window.orderBy(...)``
(``/root/reference/ETL-Airflow/dags/tasks/customer_sales_report_task.py:
101-106``, anti-pattern A4) — Spark executes that as a single task holding
every row.  :func:`global_percent_rank` computes the *exact* same values
scalably, picking between two regimes: a broadcast rank map over the
distinct values (low cardinality) or rank-within-quantile-buckets with
prefix-summed offsets (continuous keys).  Ties receive identical
percent_rank either way (SQL ``percent_rank = (rank - 1) / (n - 1)`` with
``rank`` = 1 + count of rows sorting strictly before).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.share import share


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
    low_cardinality: bool | None = None,
    cardinality_threshold: int = 100_000,
) -> DataFrame:
    """Exact global ``percent_rank`` without a single-partition window.

    Two scale regimes, both exact (SQL ``PERCENT_RANK() OVER (ORDER BY
    value [DESC])`` incl. tie semantics — ``(rows strictly before) /
    (n - 1)``):

    * **low cardinality** (distinct values ≪ rows — flags, tiers, small
      enums): rank the distinct-value frame in one tiny window and
      broadcast the (value → percent_rank) map back.  O(d) broadcast.
    * **high cardinality** (near-continuous keys — money amounts, floats,
      timestamps): the rank map is O(n), so broadcasting it back is an OOM
      and the "tiny" window a single-task sort of ~n rows.  Instead:
      bucket rows by deterministic quantile bounds, rank *within* buckets,
      and prefix-sum the ≤P per-bucket totals (genuinely tiny) for global
      offsets.  No O(n) broadcast, no map-back join, no single task
      holding more than ~n/P rows.

    ``low_cardinality=None`` picks the regime from a one-pass
    ``approx_count_distinct`` probe vs ``cardinality_threshold``.  Callers
    that know their key shape (e.g. the customer-sales mart's continuous
    SALE_AMOUNT) should pass it explicitly and skip the probe.
    """
    if low_cardinality is None:
        probe = df.agg(F.approx_count_distinct(value_col).alias("d")).first()
        low_cardinality = (probe["d"] or 0) <= cardinality_threshold
    if low_cardinality:
        return _percent_rank_broadcast_map(df, value_col, out_col, descending)
    # The range path buckets via approxQuantile, which accepts only
    # numeric columns — but timestamps are EXACTLY the near-continuous
    # keys this path exists for (docstring; r8 review caught the crash).
    # Rank on an order-isomorphic numeric shadow instead: unix micros
    # (strictly monotonic, tie-preserving), epoch days for dates.
    dtype = df.schema[value_col].dataType.typeName()
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        shadow = "__pr_shadow"
        if dtype == "date":
            num = F.datediff(F.col(value_col), F.lit("1970-01-01").cast("date"))
        elif dtype == "timestamp_ntz":
            # wall-clock arithmetic, NOT a session-zone cast: under a DST
            # session zone the cast collapses spring-forward-gap wall
            # times onto the next instant, breaking tie preservation
            # (r8 self-review; this repo pins UTC, but the operator must
            # not depend on that)
            num = F.expr(
                f"timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{value_col}`)"
            )
        else:
            num = F.unix_micros(F.col(value_col))
        return _percent_rank_range_partitioned(
            df.withColumn(shadow, num), shadow, out_col, descending,
            cardinality_threshold,
        ).drop(shadow)
    numeric_ok = dtype in (
        "byte", "short", "integer", "long", "float", "double", "decimal",
    ) or dtype.startswith("decimal")
    if not numeric_ok:
        # approxQuantile is numeric-only, so the range regime cannot
        # bucket strings/binary — fail loudly instead of deep inside
        # quantile_bucket (r8 self-review).  The seam for an
        # order-isomorphic prefix encoding (first 8 bytes as a long —
        # binary-collation-consistent) is documented here; until a real
        # corpus needs it, callers rank high-cardinality strings via
        # low_cardinality=True (exact at any distinct count that fits a
        # broadcast) or pre-encode.
        raise ValueError(
            f"global_percent_rank: high-cardinality path cannot bucket "
            f"{dtype!r} column {value_col!r} (approxQuantile is "
            "numeric-only); pass low_cardinality=True or pre-encode an "
            "order-isomorphic numeric shadow"
        )
    return _percent_rank_range_partitioned(
        df, value_col, out_col, descending, cardinality_threshold
    )


def global_ntile(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[Column],
    n_tiles: int,
    out_col: str,
    descending: bool = False,
    low_cardinality: bool | None = None,
    cardinality_threshold: int = 100_000,
) -> DataFrame:
    """Exact global ``NTILE(n) OVER (ORDER BY value [DESC], tiebreaks)``
    without a single-partition window (VERDICT r18 Next #3: the RFM /
    engagement-tier ntiles sorted the full customer/user grain in ONE
    task).

    Requires ``(value_col, *tiebreaks)`` to be a TOTAL order (the
    registered callers all append a unique key — the same discipline
    Spark needs for a deterministic ntile).  ntile is row_number
    arithmetic: with n rows in k tiles, the first ``n % k`` tiles hold
    ``n div k + 1`` rows and the rest ``n div k`` (SQL standard; Spark
    ``NTile`` and DuckDB agree), so an exact global row_number plus the
    total gives the exact tile.  Row numbers come from the same
    two-regime scaffold as :func:`global_percent_rank`:

    * **high cardinality** (default for continuous metrics): rows are
      range-bucketed by deterministic quantile bounds
      (``quantile_bucket`` — equal values always share a bucket, so the
      in-bucket ``row_number`` over (value, tiebreaks) is globally
      consistent), offsets prefix-sum over the ≤P-row bucket-totals
      frame, ``rn = offset + rn_in_bucket``.
    * **low cardinality** (tiers, counts, small enums): the per-value
      offset map is a tiny distinct-value window broadcast back
      (null-safe join, as in the percent_rank broadcast path), and the
      within-value ``row_number`` runs partitioned BY the value.  A
      single hot value still lands in one window partition; if a real
      corpus ever concentrates most rows on one value, sub-bucket the
      tiebreak inside that value with the same quantile/offset scaffold
      (documented seam, same as the percent_rank skew regime).

    Both regimes emit zero unpartitioned WindowExec over row-scale
    frames; the only global windows run on ≤P bucket rows or ≤d distinct
    values.
    """
    if low_cardinality is None:
        probe = df.agg(F.approx_count_distinct(value_col).alias("d")).first()
        low_cardinality = (probe["d"] or 0) <= cardinality_threshold
    rn_col, total_col = "__gn_rn", "__gn_total"
    if low_cardinality:
        with_rn = _row_number_broadcast_offsets(
            df, value_col, tiebreaks, descending, rn_col, total_col
        )
    else:
        with_rn = _row_number_range_partitioned(
            df, value_col, tiebreaks, descending, rn_col, total_col
        )
    k = F.lit(int(n_tiles)).cast("long")
    n = F.col(total_col)
    rn = F.col(rn_col)
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
    return with_rn.withColumn(out_col, tile.cast("int")).drop(rn_col, total_col)


def _row_number_broadcast_offsets(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[Column],
    descending: bool,
    rn_col: str,
    total_col: str,
) -> DataFrame:
    """Low-cardinality global row_number: broadcast per-value offsets +
    within-value row_number (partitioned window)."""
    order = F.desc(value_col) if descending else F.asc(value_col)
    counts = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    tiny_window = Window.orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    total_window = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        F.col(value_col).alias("__rank_value"),
        F.coalesce(F.sum("__cnt").over(tiny_window), F.lit(0)).alias("__before"),
        F.sum("__cnt").over(total_window).alias(total_col),
    )
    in_value = Window.partitionBy(value_col).orderBy(*tiebreaks)
    return (
        df.withColumn("__rn_in_value", F.row_number().over(in_value))
        .join(
            F.broadcast(offsets),
            on=F.col(value_col).eqNullSafe(F.col("__rank_value")),
            how="left",
        )
        .withColumn(rn_col, F.col("__before") + F.col("__rn_in_value"))
        .drop("__rank_value", "__before", "__rn_in_value")
    )


def _row_number_range_partitioned(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[Column],
    descending: bool,
    rn_col: str,
    total_col: str,
) -> DataFrame:
    """High-cardinality global row_number: quantile-bucket rows, number
    within buckets over the full (value, tiebreaks) order, add the
    ≤P-row prefix-summed bucket offsets."""
    from kusuma_metamorph_etl_spark.operators.partitioning import (
        bucket_offsets,
        quantile_bucket,
    )

    spark = df.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    bucketed, n_buckets = quantile_bucket(df, value_col, num_parts)
    if n_buckets <= 2:
        # Collapsed quantiles: ties dominate — the broadcast-offsets
        # regime handles exactly that shape (and a pathological
        # hot-value-plus-huge-tail column would need the documented
        # distinct-bucketed seam, as in global_percent_rank).
        return _row_number_broadcast_offsets(
            df, value_col, tiebreaks, descending, rn_col, total_col
        )
    order = F.col(value_col).desc() if descending else F.col(value_col).asc()
    in_bkt = Window.partitionBy("__bkt").orderBy(order, *tiebreaks)
    offsets = bucket_offsets(
        bucketed, "__bkt", F.lit(1), ascending=not descending
    )
    return (
        bucketed.withColumn("__rn_in_bkt", F.row_number().over(in_bkt))
        .join(F.broadcast(offsets), on="__bkt")
        .withColumn(rn_col, F.col("__bkt_offset") + F.col("__rn_in_bkt"))
        .withColumnRenamed("__total", total_col)
        .drop("__bkt", "__rn_in_bkt", "__bkt_offset")
    )


def _percent_rank_broadcast_map(
    df: DataFrame, value_col: str, out_col: str, descending: bool
) -> DataFrame:
    """Low-cardinality path: tiny distinct-value window + broadcast map.

    The map joins back with NULL-SAFE equality so null values receive
    their rank like any other group (Spark's window ranks nulls — last
    for desc, first for asc — and the distinct-value window here orders
    them identically); a plain equi-join would leave null rows unranked.
    """
    order = F.desc(value_col) if descending else F.asc(value_col)
    counts = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    # The distinct-value frame is small; this window is cheap by design.
    tiny_window = (
        Window.orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    total_window = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = counts.select(
        F.col(value_col).alias("__rank_value"),
        F.coalesce(F.sum("__cnt").over(tiny_window), F.lit(0)).alias("__before"),
        F.sum("__cnt").over(total_window).alias("__total"),
    ).select(
        "__rank_value",
        F.when(F.col("__total") > 1, F.col("__before") / (F.col("__total") - 1))
        .otherwise(F.lit(0.0))
        .alias(out_col),
    )
    return df.join(
        F.broadcast(ranked),
        on=F.col(value_col).eqNullSafe(F.col("__rank_value")),
        how="left",
    ).drop("__rank_value")



def _percent_rank_distinct_bucketed(
    df: DataFrame,
    value_col: str,
    out_col: str,
    descending: bool,
    num_parts: int,
) -> DataFrame:
    """Heavy-skew + high-cardinality regime: rank the DISTINCT-VALUE
    frame, weighted by per-value row counts, and join the rank map back
    by value.

    When one value holds most rows, the ROW quantiles collapse (every
    probe returns the hot value) so range-bucketing rows degenerates —
    but each value appears ONCE in the distinct frame, so ITS quantiles
    spread over the tail no matter how skewed the row counts are.  Rows
    strictly before a value = its bucket's weighted offset + the
    weighted prefix within the bucket; the per-bucket window runs over
    ≤ |distinct|/P VALUE rows, never row counts.  The join back is a
    value-keyed equi-join (the rank map is O(distinct) — too big to
    broadcast, which is exactly why this regime can't use the broadcast
    path); its hot-key pressure is one map row joined to the hot rows,
    which AQE's skew-join split spreads (session default).  NULL values
    ride the -1 bucket like the row-bucketed path, via a null-safe join
    key.
    """
    from kusuma_metamorph_etl_spark.operators.partitioning import (
        bucket_offsets,
        quantile_bucket,
    )

    # shared by approxQuantile's driver action, the in-bucket window and
    # bucket_offsets — without it the O(n) scan + O(distinct) aggregation
    # re-runs three times
    counts = share(df.groupBy(value_col).agg(F.count(F.lit(1)).alias("__cnt")))
    bucketed, n_buckets = quantile_bucket(counts, value_col, num_parts)
    order = F.col(value_col).desc() if descending else F.col(value_col).asc()
    in_bkt = Window.partitionBy("__bkt").orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bucket_offsets(
        bucketed, "__bkt", F.col("__cnt"), ascending=not descending
    )
    ranked = (
        bucketed.withColumn(
            "__before_in_bkt",
            F.coalesce(F.sum("__cnt").over(in_bkt), F.lit(0)),
        )
        .join(F.broadcast(offsets), on="__bkt")
        .select(
            F.col(value_col).alias("__rank_value"),
            F.when(
                F.col("__total") > 1,
                (F.col("__bkt_offset") + F.col("__before_in_bkt"))
                / (F.col("__total") - 1),
            )
            .otherwise(F.lit(0.0))
            .alias(out_col),
        )
    )
    return df.join(
        ranked,
        on=F.col(value_col).eqNullSafe(F.col("__rank_value")),
        how="left",
    ).drop("__rank_value")


def _percent_rank_range_partitioned(
    df: DataFrame,
    value_col: str,
    out_col: str,
    descending: bool,
    cardinality_threshold: int = 100_000,
) -> DataFrame:
    """High-cardinality path: rank within value-range buckets + tiny offsets.

    The bucket id must be a *deterministic function of the value*:
    ``repartitionByRange`` re-samples its boundaries on every recompute,
    so in a diamond plan (the ranks branch and the per-bucket-totals
    branch both read the bucketed frame) the two branches can observe
    *different* partitionings and produce wrong global ranks -- measured
    on this repo: two counts of the same range-partitioned frame
    disagreed on every partition.  Instead: one bounded driver collect of
    ~P approximate quantiles (``approxQuantile``, P = shuffle
    parallelism) fixes the bucket bounds for the whole plan, and a
    ``Bucketizer`` (JVM binary search, narrow -- no shuffle) assigns each
    row its bucket.

    Equal values land in one bucket by construction, so ``rank()``
    *within* a bucket is exact and adding the rows of earlier buckets
    turns it into the global rank.  The per-bucket totals are a <=P-row
    frame -- the only unpartitioned window in the plan -- and the only
    broadcast is that <=P-row offset table.  One full-width shuffle total
    (the per-bucket window); no O(n) rank map, no map-back join, no
    single task holding more than ~n/P rows (quantile bounds balance the
    buckets even under value skew).

    Nulls get bucket -1: first for ascending, last for descending --
    exactly Spark's window null order -- and tie among themselves, so the
    output matches ``PERCENT_RANK() OVER (ORDER BY value [DESC])``
    including null rows (the broadcast-map path ranks nulls identically
    via its null-safe join — the two regimes agree on nulls by design).
    """
    from kusuma_metamorph_etl_spark.operators.partitioning import (
        bucket_offsets,
        quantile_bucket,
    )

    spark = df.sparkSession
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    order = F.col(value_col).desc() if descending else F.col(value_col).asc()

    bucketed, n_buckets = quantile_bucket(df, value_col, num_parts)
    if n_buckets <= 2:
        # A (near-)constant column yields at most ONE distinct quantile
        # bound (a constant c gives splits [-inf, c, inf]: two buckets,
        # all rows in [c, inf)) — bucketing degenerates.  Collapsed ROW
        # quantiles do NOT imply low cardinality, though (r8 review): a
        # 99.5%-one-value column can still hide a billion-distinct tail
        # that would OOM the broadcast rank map.  Probe before choosing:
        # small distinct → broadcast map; large → rank the DISTINCT-VALUE
        # frame (each value once, so ITS quantiles spread regardless of
        # row skew) and join the rank map back by value.
        probe = df.agg(F.approx_count_distinct(value_col).alias("d")).first()
        if (probe["d"] or 0) <= cardinality_threshold:
            return _percent_rank_broadcast_map(
                df, value_col, out_col, descending
            )
        return _percent_rank_distinct_bucketed(
            df, value_col, out_col, descending, num_parts
        )
    bkt_window = Window.partitionBy("__bkt").orderBy(order)
    local = bucketed.withColumn("__rank_in_bkt", F.rank().over(bkt_window))

    # <=P-row frame: rows per bucket -> prefix-sum offsets + grand total,
    # walked in rank order (desc: high buckets first; bucket -1 sorts
    # last for desc and first for asc, matching the null order).
    offsets = bucket_offsets(
        bucketed, "__bkt", F.lit(1), ascending=not descending
    )

    return (
        local.join(F.broadcast(offsets), on="__bkt")
        .withColumn(
            out_col,
            F.when(
                F.col("__total") > 1,
                (F.col("__bkt_offset") + F.col("__rank_in_bkt") - 1)
                / (F.col("__total") - 1),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__bkt", "__rank_in_bkt", "__bkt_offset", "__total")
    )
