"""Deterministic value-range bucketing — the shared scaffold for global
order-statistics operators (the global rank scaffold, `pack_sequences`).

Why not ``repartitionByRange``: its boundaries re-sample on every
recompute, so a diamond plan's branches can observe *different*
partitionings (measured on this repo — every partition count disagreed
between two counts of the same frame).  A bucket id must be a pure
function of the value: quantile bounds are collected ONCE on the driver
(bounded ≤P doubles), then applied via ``Bucketizer`` — JVM binary search,
narrow, no shuffle, identical on every recompute.  :func:`quantile_cuts`
is the bounds aggregate, so a caller can fuse it into a probe it already
runs; :func:`bucketize` applies bounds from either source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quantile_cuts(numeric_col: str, num_buckets: int) -> Column:
    """Aggregate expression for the ``num_buckets - 1`` inner quantile
    cut points of ``numeric_col`` (array of doubles; null on an input
    with no real values).  NaN is left out like null, so no NaN cut can
    make the splits non-increasing.  The 0.001 relative error only
    shifts bucket balance: the bounds need to be fixed, not exact.
    """
    probs = [i / num_buckets for i in range(1, num_buckets)] or [0.5]
    x = F.col(numeric_col).cast("double")
    return F.percentile_approx(F.nanvl(x, F.lit(None).cast("double")), probs, 1000)


def bucketize(
    df: DataFrame, numeric_col: str, bounds: list[float] | None, out_col: str = "__bkt"
) -> tuple[DataFrame, int]:
    """Add a deterministic range-bucket id (int) for ``numeric_col``
    split at ``bounds`` (a :func:`quantile_cuts` result); returns
    ``(bucketed_df, effective_bucket_count)``.

    Equal values always share a bucket; nulls get bucket -1 and NaN the
    TOP bucket (== effective count) — the placements Spark's own sort
    uses (asc: NULLS FIRST … NaN last; desc: NaN first … NULLS LAST), so
    a rank built from these buckets matches ``ORDER BY value`` exactly.
    The effective count collapses below the requested one under heavy
    ties (a constant column yields 2, an empty one 1).
    """
    from pyspark.ml.feature import Bucketizer

    is_null = F.col(numeric_col).isNull()
    is_nan = ~is_null & F.isnan(F.col(numeric_col).cast("double"))
    bounds = sorted(set(bounds or []))
    if not bounds:
        # Empty or all-null/NaN column: Bucketizer would reject the
        # 2-split spec; a single bucket is trivially correct.
        single = df.withColumn(
            out_col,
            F.when(is_null, F.lit(-1))
            .when(is_nan, F.lit(1))
            .otherwise(F.lit(0)),
        )
        return single, 1
    splits = [float("-inf"), *bounds, float("inf")]
    bucketizer = Bucketizer(
        splits=splits,
        inputCol=numeric_col,
        outputCol=f"{out_col}_raw",
        handleInvalid="keep",  # nulls/NaN pass through; remapped below
    )
    n_eff = len(splits) - 1
    bucketed = (
        bucketizer.transform(df)
        .withColumn(
            out_col,
            F.when(is_null, F.lit(-1))
            .when(is_nan, F.lit(n_eff))
            .otherwise(F.col(f"{out_col}_raw").cast("int")),
        )
        .drop(f"{out_col}_raw")
    )
    return bucketed, n_eff


def quantile_bucket(
    df: DataFrame, numeric_col: str, num_buckets: int, out_col: str = "__bkt"
) -> tuple[DataFrame, int]:
    """:func:`bucketize` at bounds collected from ``df`` in one pass."""
    # bound: one row of at most num_buckets - 1 doubles
    bounds = df.agg(quantile_cuts(numeric_col, num_buckets)).first()[0]
    return bucketize(df, numeric_col, bounds, out_col)


def bucket_offsets(
    bucketed: DataFrame,
    bucket_col: str,
    weight: Column,
    ascending: bool = True,
) -> DataFrame:
    """≤P-row frame of (bucket, ``__before`` = prefix-sum of earlier
    buckets' weight, ``__total`` = grand total) — the tiny broadcastable
    side of a two-level prefix sum.  The only unpartitioned window here
    runs over ≤P rows.  With a value column as the bucket and weight 1
    it is the per-value rank map of the broadcast rank regime.
    """
    order = F.col(bucket_col).asc() if ascending else F.col(bucket_col).desc()
    offset_window = Window.orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    total_window = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        bucketed.groupBy(bucket_col)
        .agg(F.sum(weight).alias("__weight"))
        .select(
            bucket_col,
            F.coalesce(F.sum("__weight").over(offset_window), F.lit(0)).alias("__before"),
            F.sum("__weight").over(total_window).alias("__total"),
        )
    )


def zorder_value(bucket_cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` of each (already bucketized) column into
    one Z-order (Morton) value — pure shift/mask expressions, JVM-side.

    Rows close in Z-value are close in EVERY interleaved dimension, so
    sorting a file layout by Z-value gives parquet row groups tight
    min/max ranges on all the columns at once — multi-column data
    skipping where a plain sort only serves its leading column.
    """
    n = len(bucket_cols)
    z = F.lit(0).cast("long")
    for k in range(bits):
        for i, c in enumerate(bucket_cols):
            bit = F.shiftright(c.cast("long"), k).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, k * n + i))
    return z


def cluster_by_zorder(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> DataFrame:
    """Return ``df`` laid out in Z-order over ``cols`` — write the result
    to get multi-column row-group data skipping (the single-table
    complement of partition pruning and bucketing).

    Each column is quantile-bucketized to ``2^bits`` levels
    (:func:`quantile_bucket` — deterministic bounds, one bounded driver
    collect per column), the bucket ids interleave into a Z-value, and
    the frame is range-partitioned + sorted on it.  The Z-column is
    dropped; only the row ORDER carries the clustering.  Value-ordering
    content is unchanged (pure reordering).
    """
    from pyspark.ml.feature import Bucketizer

    num_files = num_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    levels = 2**bits
    # ONE multi-column approxQuantile pass over the raw input — a
    # per-column quantile_bucket chain would launch one full-scan driver
    # job per column, each re-executing the previous columns' transforms.
    import math

    probs = [i / levels for i in range(1, levels)]
    # bound: len(cols) lists of at most 2**bits - 1 doubles
    all_bounds = df.stat.approxQuantile(list(cols), probs, 0.001)
    out = df
    bucket_cols = []
    for idx, (c, col_bounds) in enumerate(zip(cols, all_bounds)):
        bounds = sorted({b for b in col_bounds if not math.isnan(b)})
        splits = [float("-inf"), *bounds, float("inf")]
        # NaN sorts with no order position: route it to bucket 0 with the
        # nulls (clustering quality only, never correctness).
        invalid = F.col(c).isNull() | F.isnan(F.col(c).cast("double"))
        if len(splits) < 3:  # constant/all-null column: single bucket
            out = out.withColumn(f"__zb{idx}", F.lit(0))
        else:
            out = Bucketizer(
                splits=splits, inputCol=c, outputCol=f"__zb{idx}_raw",
                handleInvalid="keep",
            ).transform(out).withColumn(
                f"__zb{idx}",
                F.when(invalid, F.lit(0)).otherwise(
                    F.col(f"__zb{idx}_raw").cast("int")
                ),
            ).drop(f"__zb{idx}_raw")
        bucket_cols.append(F.col(f"__zb{idx}"))
    out = out.withColumn("__z", zorder_value(bucket_cols, bits))
    out = (
        out.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__zb{i}" for i in range(len(cols))])
    )
    return out
