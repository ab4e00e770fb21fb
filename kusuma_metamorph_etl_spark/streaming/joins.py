"""Stream-stream joins with event-time bounds.

Spark joins two streams by buffering both sides in state; without a time
bound that state is unbounded.  The production form is: watermark BOTH
sides + a time-range join condition — Spark derives how long each side's
rows can possibly still match and evicts state behind that.  The same
transform runs in batch (the time bound is then just a filter), which is
what the DuckDB oracle checks; the stream==batch test drives the real
two-stream path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Purchases attributed to same-user clicks at most ``window`` before.

    Inner join on user with ``click.ts ∈ [purchase.ts - window,
    purchase.ts]``.  Streaming: both inputs watermarked; the range bound
    lets Spark cap the click buffer at ``window + watermark`` and the
    purchase buffer at ``watermark``.
    """
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        on=[
            c.user_id == p.user_id,
            F.col("click_ts") <= F.col("purchase_ts"),
            F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {window}"),
        ],
    ).select(
        c.user_id.alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def dim_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream–static enrichment join: attach dimension attributes to a
    stream (the streaming analog of the marts' broadcast dim joins).

    Stream–static joins keep NO state — each micro-batch joins against
    the current dim snapshot, so there is nothing to watermark and the
    dim may be swapped between batches (a slowly-refreshing parquet dim
    picks up new files automatically).  Broadcast keeps the fact side
    un-shuffled, exactly like the batch marts; the same call works on a
    batch frame, which is what the stream==batch test asserts.
    """
    return stream.join(F.broadcast(dim), on=on, how=how)
