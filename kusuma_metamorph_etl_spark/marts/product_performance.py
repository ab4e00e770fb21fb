"""Mart 2 — product performance.

Re-expression of ``/root/reference/ETL-Airflow/dags/tasks/
product_performance_task.py:12-112``: exclude cancelled sales, join the
product dim, aggregate per product (quantity, sales amount, average selling
price, profit), classify stock level vs the reorder threshold.

Reference bug B1 fixed: the reference projects ``ORDER_STATUS`` away before
filtering on it (``product_performance_task.py:12-16`` vs ``:34-37`` —
``AnalysisException`` at runtime).  Here the status column rides through the
scan, is filtered, then dropped.

Scale shape: single fact shuffle on PRODUCT_ID (group-by keys all come from
the broadcast product dim, so the groupBy collapses map-side first).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.functions.numeric import decimal_avg, decimal_sum
from kusuma_metamorph_etl_spark.sources.sinks import stamp_snapshot

FINAL_COLUMNS = [
    "PRODUCT_ID",
    "PRODUCT_NAME",
    "TOTAL_SALES_AMOUNT",
    "TOTAL_QUANTITY_SOLD",
    "AVG_SALE_PRICE",
    "STOCK_QUANTITY",
    "REORDER_LEVEL",
    "STOCK_LEVEL_STATUS",
    "PROFIT",
    "CATEGORY",
    "DAY_DT",
]


def product_performance(
    sales: DataFrame,
    products: DataFrame,
    run_date: dt.date | str | None = None,
) -> DataFrame:
    """Build the product-performance mart."""
    # FIL first (B1 fix: status is still in scope), project after.
    fil_sales = sales.filter(F.col("ORDER_STATUS") != "Cancelled").select(
        "PRODUCT_ID", "QUANTITY"
    )

    jnr = (
        fil_sales.alias("s")
        .join(
            F.broadcast(products.alias("p")),
            on=F.col("s.PRODUCT_ID") == F.col("p.PRODUCT_ID"),
            how="left",
        )
        .select(
            F.col("s.PRODUCT_ID").alias("PRODUCT_ID"),
            F.col("s.QUANTITY").alias("QUANTITY"),
            F.col("p.PRODUCT_NAME").alias("PRODUCT_NAME"),
            F.col("p.CATEGORY").alias("CATEGORY"),
            F.col("p.SELLING_PRICE").alias("SELLING_PRICE"),
            F.col("p.COST_PRICE").alias("COST_PRICE"),
            F.col("p.STOCK_QUANTITY").alias("STOCK_QUANTITY"),
            F.col("p.REORDER_LEVEL").alias("REORDER_LEVEL"),
            # EXP: row-level PROFIT = QUANTITY * (SELLING - COST)
            (F.col("s.QUANTITY") * (F.col("p.SELLING_PRICE") - F.col("p.COST_PRICE"))).alias(
                "ROW_PROFIT"
            ),
        )
    )

    agg = jnr.groupBy(
        "PRODUCT_ID", "PRODUCT_NAME", "CATEGORY", "STOCK_QUANTITY", "REORDER_LEVEL"
    ).agg(
        # exact decimal money sums: order-independent across partitions
        decimal_sum(F.col("QUANTITY") * F.col("SELLING_PRICE"), 2).alias(
            "TOTAL_SALES_AMOUNT"
        ),
        F.sum("QUANTITY").alias("TOTAL_QUANTITY_SOLD"),
        decimal_avg(F.col("SELLING_PRICE"), 2).alias("AVG_SALE_PRICE"),
        decimal_sum(F.col("ROW_PROFIT"), 2).alias("PROFIT"),
    )

    # CASE: stock status vs reorder threshold (`cond_when_chain`).
    status = agg.withColumn(
        "STOCK_LEVEL_STATUS",
        F.when(
            F.col("STOCK_QUANTITY") < F.col("REORDER_LEVEL"), F.lit("Below Reorder Level")
        ).otherwise(F.lit("Sufficient Stock")),
    )

    return stamp_snapshot(status, run_date).select(*FINAL_COLUMNS)
