"""[EXT] Time-series operators: calendar gap-fill (forward fill + linear
interpolation) and range-interval rolling aggregates.

The metrics-pipeline primitives missing from plain GROUP BY analytics:
a daily series with silent holes poisons every downstream rate/trend
calculation, and "7-day rolling" over a SPARSE series is wrong under a
ROWS frame (7 physical rows can span months) — it needs a RANGE frame
over real time.

Scale shape:

* ``gapfill``: the calendar spine is ``sequence()`` + ``explode`` per
  key — array length is bounded by the key's calendar span, not by data
  volume, and the explode runs key-parallel.  The fill windows partition
  by key; per-partition row count is calendar-bounded (days between the
  key's first and last observation), so no single-task global window
  exists anywhere.
* ``rolling``: one window per key ordered by epoch-day with a
  ``rangeBetween`` frame — Spark's native sliding-frame aggregation, one
  shuffle on the key.

Cross-engine determinism: values aggregated into the series use the
exact-decimal sum (``functions/numeric.py::decimal_sum`` semantics), and
the interpolation formula is a single non-reassociated double expression
— bit-identical in any IEEE-754 engine given identical inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.share import share

EPOCH = "1970-01-01"


def _epoch_day(date_col: Column) -> Column:
    return F.datediff(date_col, F.to_date(F.lit(EPOCH)))


def gapfill(
    df: DataFrame,
    key_cols: list[str],
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Fill calendar holes in a per-key daily series.

    Input: one row per (keys..., date) with a value; output: one row per
    (keys..., EVERY date between the key's min and max), adding

    * ``{value}_ffill`` — last observed value at-or-before the date
      (step-function carry-forward), NULL before the first observation;
    * ``{value}_interp`` — linear interpolation between the surrounding
      observations; edges fall back to the nearest observation
      (back-fill before the first, carry-forward after the last).

    The original ``value_col`` stays NULL on filled rows so consumers can
    distinguish observed from imputed.
    """
    v, d = value_col, date_col
    # The series feeds BOTH the spine-extent aggregation and the
    # spine join; callers pass an aggregated daily series, so without
    # sharing that upstream aggregation runs twice (ts_gapfill's r18
    # before-plan scanned orders once per consumer).
    df = share(df)
    spine = (
        df.groupBy(*key_cols)
        .agg(F.min(d).alias("_lo"), F.max(d).alias("_hi"))
        .select(
            *key_cols,
            F.explode(F.expr("sequence(_lo, _hi, interval 1 day)")).alias(d),
        )
    )
    joined = spine.join(df, on=[*key_cols, d], how="left")

    back = (
        Window.partitionBy(*key_cols)
        .orderBy(d)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(*key_cols)
        .orderBy(d)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col(v).isNotNull(), _epoch_day(F.col(d)))
    prev_v = F.last(v, ignorenulls=True).over(back)
    prev_d = F.last(obs_day, ignorenulls=True).over(back)
    next_v = F.first(v, ignorenulls=True).over(fwd)
    next_d = F.first(obs_day, ignorenulls=True).over(fwd)
    # Single non-reassociated expression: engines agree bit-for-bit.
    linear = prev_v + (next_v - prev_v) * (
        (_epoch_day(F.col(d)) - prev_d).cast("double")
        / (next_d - prev_d).cast("double")
    )
    interp = (
        F.when(F.col(v).isNotNull(), F.col(v))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(linear)
    )
    return joined.select(
        *key_cols,
        d,
        v,
        prev_v.alias(f"{v}_ffill"),
        interp.alias(f"{v}_interp"),
    )


def rolling(
    df: DataFrame,
    key_cols: list[str],
    date_col: str,
    value_col: str,
    days: int,
    out_prefix: str | None = None,
) -> DataFrame:
    """Trailing ``days``-day rolling sum/count/avg per key over a daily
    series — a RANGE frame on epoch-day, so sparse series window over
    real time (the ROWS-frame twin is ``win_frame_agg``).

    ``value_col`` may be DECIMAL for exact (order-independent) rolling
    sums; the emitted sum/avg are cast to double for schema uniformity.
    """
    if days < 1:
        # fail fast: a non-positive trailing window inverts the RANGE
        # frame and silently emits NULL sums / zero counts for every row
        # (r17 edge sweep)
        raise ValueError(f"rolling: days must be >= 1, got {days}")
    p = out_prefix or f"{value_col}_{days}d"
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(_epoch_day(F.col(date_col)))
        .rangeBetween(-(days - 1), 0)
    )
    roll_sum = F.sum(value_col).over(w)
    roll_n = F.count(value_col).over(w)
    return df.select(
        *key_cols,
        date_col,
        value_col,
        roll_sum.cast("double").alias(f"{p}_sum"),
        roll_n.alias(f"{p}_n"),
        # Divide in DOUBLE (one deterministic division), not in decimal —
        # decimal-division result scale is engine-specific.
        (roll_sum.cast("double") / roll_n).alias(f"{p}_avg"),
    )


def rate_anomaly(
    df: DataFrame,
    key_cols: list[str],
    date_col: str,
    value_col: str,
    baseline_days: int = 28,
    min_baseline: int = 7,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-key daily anomaly flag: z-score of today's value against the
    TRAILING ``baseline_days`` window (yesterday backwards — the current
    day is excluded from its own baseline, unlike a naive rolling mean).

    The volume-monitoring primitive for event pipelines: a retry storm
    or a dropped producer shows up as |z| > threshold on that key's
    series.  Rows with fewer than ``min_baseline`` prior days emit NULL
    z (cold start passes open — same policy as
    `plans/quality.py::volume_anomaly_gate`, which gates per-RUN totals;
    this flags per-key × per-day series).

    Determinism contract: mean and stddev are rounded to 6 dp and z is
    recomputed FROM THE ROUNDED values, so engines that accumulate
    variance differently (Welford vs two-pass) agree exactly.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(_epoch_day(F.col(date_col)))
        .rangeBetween(-baseline_days, -1)
    )
    mean = F.round(F.avg(value_col).over(w), 6)
    std = F.round(F.stddev_samp(value_col).over(w), 6)
    n_base = F.count(value_col).over(w)
    z = F.when(
        (n_base >= min_baseline) & (std > 0),
        F.round((F.col(value_col) - mean) / std, 6),
    )
    return df.select(
        *key_cols,
        date_col,
        value_col,
        mean.alias("baseline_mean"),
        std.alias("baseline_std"),
        n_base.alias("baseline_n"),
        z.alias("z"),
        (F.abs(z) > z_threshold).alias("is_anomaly"),
    )


def rolling_distinct(
    df: DataFrame,
    date_col: str,
    id_col: str,
    days: int = 7,
) -> DataFrame:
    """Trailing ``days``-day rolling DISTINCT count per day via mergeable
    HLL sketches — the metric (`rolling 7-day active users`) a naive
    ``count_distinct`` window cannot compute at scale (distinct is not
    frame-decomposable; re-counting every frame re-scans ``days``× the
    data).

    Plan: one per-day ``hll_sketch_agg`` (the persistable daily rollup),
    then each day's sketch FANS OUT to the ≤ ``days`` target days it
    contributes to (bounded explode) and ``hll_union_agg`` merges per
    target day — cost scales with #days × sketch size, independent of
    row count.  Emits the day, the estimate, and the day's own distinct
    count for reference.  Target days are restricted to days present in
    the data (no spine extension — compose with :func:`gapfill` first if
    the calendar matters).
    """
    d = F.to_date(F.col(date_col))
    daily = df.groupBy(d.alias("day_dt")).agg(
        F.hll_sketch_agg(id_col).alias("sk"),
        F.countDistinct(id_col).alias("day_distinct"),
    )
    ed = _epoch_day(F.col("day_dt"))
    fan = daily.select(
        F.explode(F.expr(f"sequence(0, {days - 1})")).alias("off"),
        ed.alias("src_ed"),
        "sk",
    ).select((F.col("src_ed") + F.col("off")).alias("ted"), "sk")
    spine = daily.select(
        ed.alias("ted"), F.col("day_dt"), F.col("day_distinct")
    )
    return (
        fan.join(spine, "ted")
        .groupBy("day_dt", "day_distinct")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                f"approx_{days}d_distinct"
            )
        )
        .select("day_dt", "day_distinct", f"approx_{days}d_distinct")
    )


def ewma(
    df: DataFrame,
    key_cols: list[str],
    date_col: str,
    value_col: str,
    alpha: float = 0.2,
    window_days: int = 64,
    out: str = "ewma",
    term_scale: int = 6,
) -> DataFrame:
    """Truncated exponentially-weighted moving average per key over a
    (possibly sparse) daily series, weighted by CALENDAR distance:

        ewma_t = Σ_{0 ≤ d_t−d_i < W} (1−α)^(d_t−d_i)·x_i
               / Σ_{0 ≤ d_t−d_i < W} (1−α)^(d_t−d_i)

    (pandas ``ewm(adjust=True)`` semantics with gaps decaying by real
    elapsed days; the tail beyond ``window_days`` W is truncated —
    its weight fraction is < (1−α)^W ≈ 6e-7 at the α=0.2 / W=64
    defaults, and the truncation is part of the DECLARED semantics, so
    the oracle reproduces it exactly rather than approximating).

    EWMA is textbook-sequential (a recurrence), which would force a
    single task per key.  A first attempt removed the recurrence by
    rebasing weights to the per-key max day K and taking the ratio of
    two running sums — algebraically correct, but the early rows of a
    years-long series then divide 0/0: (1−α)^(K−d) underflows any fixed
    rounding scale (0.8^2500 ≈ 1e−242).  The shipped plan instead uses
    the bounded fan-out shape of :func:`rolling_distinct`: each
    observation emits its contribution to the ≤ W anchor days it can
    influence with the exponent BOUNDED in [0, W) — no underflow
    anywhere, every anchor's denominator ≥ 1 (its own day-0 term) — then
    one keyed sum per anchor day and a semi-join back to observed days.
    Fan-out is W× the (already day-aggregated) series, not the raw data;
    no driver loop, no UDF, fully parallel across keys.

    Determinism contract (cross-engine): each term is rounded — the
    value·weight product to ``term_scale`` dp, the bare weight (≤ 1) to
    9 dp — because libm ``pow`` may differ in the last ulps between
    engines, and summed in exact DECIMAL (order-independent); the final
    ratio is one double division rounded to 6 dp (same policy as
    `txt_perplexity` / `samp_temperature`).  ``term_scale`` must leave
    the product's absolute binary+pow error below half an ulp at that
    scale: 6 is ample for money-magnitude values, but a value column of
    magnitude ≫ 1e8 needs a coarser scale.
    """
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    # The input series feeds BOTH the fan-out and the observed-day
    # join-back; callers pass an aggregated daily series, and without
    # sharing that upstream aggregation runs twice (ts_ewma's r18
    # before-plan scanned+aggregated orders once per consumer — the
    # oracle SQL declares the same share as `agg AS MATERIALIZED`).
    df = share(df)
    decay = 1.0 - alpha
    d = _epoch_day(F.col(date_col))
    off = F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("__off")
    w_pow = F.pow(F.lit(decay), F.col("__off").cast("double"))
    fan = df.select(*key_cols, d.alias("__d"), F.col(value_col), off).select(
        *key_cols,
        (F.col("__d") + F.col("__off")).alias("__anchor"),
        F.round(F.col(value_col) * w_pow, term_scale)
        .cast(f"decimal(38,{term_scale})")
        .alias("__u"),
        # a NULL observation contributes NOTHING: its value term already
        # vanishes from the numerator (SUM skips NULL), so its weight
        # must vanish from the denominator too — otherwise one NULL row
        # silently deflates every average it can reach
        F.when(
            F.col(value_col).isNotNull(),
            F.round(w_pow, 9).cast("decimal(38,9)"),
        ).alias("__s"),
    )
    sums = fan.groupBy(*key_cols, "__anchor").agg(
        F.sum("__u").alias("__su"), F.sum("__s").alias("__ss")
    )
    observed = df.select(*key_cols, date_col, value_col, d.alias("__anchor"))
    return observed.join(sums, on=[*key_cols, "__anchor"]).select(
        *key_cols,
        date_col,
        value_col,
        # guard: a window holding only NULL observations sums to a NULL
        # (or, when every non-null neighbor's weight rounds to 0 at 9 dp,
        # zero) denominator — emit NULL rather than fault the ANSI 0/0
        F.when(
            F.col("__ss") > 0,
            F.round(
                F.col("__su").cast("double") / F.col("__ss").cast("double"),
                6,
            ),
        ).alias(out),
    )


def seasonal_profile(
    df: DataFrame,
    key_cols: list[str],
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Weekly seasonal decomposition of a daily series: per key, the
    day-of-week additive profile and the deseasonalized series —
    ``(keys..., date, value, dow, seasonal, deseasonalized)`` where
    ``seasonal = mean(value | dow) − mean(value)`` and
    ``deseasonalized = value − seasonal``.

    The retail/events pattern `rate_anomaly` is blind to: a quiet Sunday
    is NORMAL, and a Monday matching Sunday volume is the anomaly —
    deseasonalize first, then feed the residual to the z-score gate.

    Plan: one (keys, dow)-keyed aggregation (≤ 7 rows per key) plus one
    keys-keyed aggregation, joined back on their keys.  The profile
    frames are KEY-cardinality-sized (7·|keys| and |keys| rows), so the
    joins are left to AQE rather than forced broadcast — with millions
    of keys a forced broadcast would be the bug; with few keys AQE
    broadcasts them anyway.  Means are rounded to 6 dp before the
    subtraction (two-pass vs streaming mean engine difference), the
    arithmetic after that is exact to the rounding.
    """
    dow = F.dayofweek(F.col(date_col))  # 1=Sunday … 7=Saturday (Spark/DuckDB agree)
    by_dow = (
        df.groupBy(*key_cols, dow.alias("dow"))
        .agg(F.round(F.avg(value_col), 6).alias("__dow_mean"))
    )
    overall = df.groupBy(*key_cols).agg(
        F.round(F.avg(value_col), 6).alias("__mean")
    )
    return (
        df.withColumn("dow", dow)
        .join(by_dow, on=[*key_cols, "dow"])
        .join(overall, on=list(key_cols))
        .select(
            *key_cols,
            date_col,
            value_col,
            "dow",
            F.round(F.col("__dow_mean") - F.col("__mean"), 6).alias("seasonal"),
            F.round(
                F.col(value_col) - (F.col("__dow_mean") - F.col("__mean")), 6
            ).alias("deseasonalized"),
        )
    )


def resample_ohlc(
    df: DataFrame,
    key_cols: list[str],
    date_col: str,
    value_col: str,
    freq: str = "week",
) -> DataFrame:
    """Downsample a daily series to OHLC bars per key:
    ``(keys..., period, open, high, low, close, n_obs)`` with
    ``period = date_trunc(freq)`` (Spark and the oracle engines agree on
    Monday-start weeks).  Open/close are the values at the period's
    first/last OBSERVED day (``min_by``/``max_by`` — deterministic under
    the one-row-per-(key, day) input contract every operator in this
    module assumes); high/low are plain extremes.

    One keyed aggregation — the canonical storage-tiering downsample: keep
    day grain hot, roll older history to weekly/monthly bars, and the
    query layer unions the grains.
    """
    period = F.date_trunc(freq, F.col(date_col)).cast("date")
    return df.groupBy(*key_cols, period.alias("period")).agg(
        F.min_by(value_col, date_col).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(value_col, date_col).alias("close"),
        F.count(value_col).alias("n_obs"),
    )
