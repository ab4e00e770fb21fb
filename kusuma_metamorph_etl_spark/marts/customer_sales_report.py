"""Mart 3 — customer sales report (per-sale grain).

Re-expression of ``/root/reference/ETL-Airflow/dags/tasks/
customer_sales_report_task.py:12-153``: keep Delivered/Shipped sales, enrich
with product + customer dims, derive ``SALE_AMOUNT = round(QUANTITY * PRICE
* (1 - DISCOUNT/100), 2)``, tier every sale by global percent-rank of sale
amount (Gold ≤ 0.2 < Silver ≤ 0.5 < Bronze — boundary semantics from
``customer_sales_report_task.py:107-115``), and flag each customer's single
largest sale as ``TOP_PERFORMER``.

Scale notes:
* The reference's unpartitioned ``Window.orderBy`` percent-rank (anti-pattern
  A4) is replaced by :func:`global_percent_rank` — exact same values, no
  single-partition sort.
* Reference quirk B3 (overwriting the real sale date with *yesterday*) is
  not reproduced: the mart keeps the real sale date.
* ``LOAD_TSTMP`` is injectable (``run_ts``) for reproducible runs.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.functions.numeric import decimal_round
from kusuma_metamorph_etl_spark.operators.windows import global_percent_rank
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.sources.sinks import stamp_snapshot

FINAL_COLUMNS = [
    "DAY_DT",
    "CUSTOMER_ID",
    "CUSTOMER_NAME",
    "SALE_ID",
    "CITY",
    "PRODUCT_NAME",
    "CATEGORY",
    "SALE_DATE",
    "SALE_MONTH",
    "SALE_YEAR",
    "QUANTITY",
    "PRICE",
    "SALE_AMOUNT",
    "TOP_PERFORMER",
    "LOYALTY_TIER",
    "LOAD_TSTMP",
]


def customer_sales_report(
    sales: DataFrame,
    products: DataFrame,
    customers: DataFrame,
    run_date: dt.date | str | None = None,
    run_ts: dt.datetime | str | None = None,
    persist_intermediate: bool = True,
) -> DataFrame:
    """Build the customer-sales-report mart (one row per qualifying sale).

    ``persist_intermediate`` shares the enriched fact before the tiering
    step (:func:`plans.share.share`); ``False`` recomputes it per
    consumer and keeps the whole plan visible to ``explain``."""
    # FIL: status IN ('Delivered', 'Shipped')  (`fil_isin`).
    fil_sales = sales.filter(F.col("ORDER_STATUS").isin("Delivered", "Shipped"))

    # JNR_1: ⟕ products for name/category/price.
    jnr_products = (
        fil_sales.alias("s")
        .join(
            F.broadcast(products.alias("p")),
            on=F.col("s.PRODUCT_ID") == F.col("p.PRODUCT_ID"),
            how="left",
        )
        .select(
            F.col("s.SALE_ID").alias("SALE_ID"),
            F.col("s.CUSTOMER_ID").alias("CUSTOMER_ID"),
            F.col("s.SALE_DATE").alias("SALE_DATE"),
            F.col("s.QUANTITY").alias("QUANTITY"),
            F.col("s.DISCOUNT").alias("DISCOUNT"),
            F.col("p.PRODUCT_NAME").alias("PRODUCT_NAME"),
            F.col("p.CATEGORY").alias("CATEGORY"),
            F.col("p.SELLING_PRICE").alias("PRICE"),
        )
    )

    # EXP: dates + amounts.
    load_ts = (
        F.current_timestamp()
        if run_ts is None
        else F.lit(str(run_ts)).cast("timestamp")
    )
    exp = (
        jnr_products.withColumn("SALE_MONTH", F.month("SALE_DATE"))
        .withColumn("SALE_YEAR", F.year("SALE_DATE"))
        .withColumn("PRICE", F.round("PRICE", 2))
        .withColumn(
            "SALE_AMOUNT",
            # Exact-decimal rounding: the product of a 2-dp price, an integer
            # quantity and a 2-dp discount factor has a true 4-dp value that
            # often sits exactly on a half-penny — see functions/numeric.py.
            decimal_round(
                F.col("QUANTITY") * F.col("PRICE") * (1 - F.col("DISCOUNT") / 100), 2
            ),
        )
        .withColumn("LOAD_TSTMP", load_ts)
    )

    # The enriched fact is read three times: by the rank's regime probe
    # (its joins make Catalyst's size estimate large, so the probe runs),
    # by the per-value counts or per-bucket offsets branch of the chosen
    # regime, and by the row stream the ranks join back to.  Sharing runs
    # the three-way join once instead of three times.
    if persist_intermediate:
        exp = share(exp)

    # WIN 1: global percentile tiers — scalable exact percent_rank.
    tiered = global_percent_rank(exp, "SALE_AMOUNT", out_col="__pr", descending=True)
    tiered = tiered.withColumn(
        "LOYALTY_TIER",
        F.when(F.col("__pr") <= 0.2, F.lit("Gold"))
        .when((F.col("__pr") > 0.2) & (F.col("__pr") <= 0.5), F.lit("Silver"))
        .otherwise(F.lit("Bronze")),
    )

    # WIN 2: per-customer top sale flag (deterministic tiebreak on SALE_ID).
    top_window = Window.partitionBy("CUSTOMER_ID").orderBy(
        F.desc("SALE_AMOUNT"), F.asc("SALE_ID")
    )
    flagged = (
        tiered.withColumn("__rn", F.row_number().over(top_window))
        .withColumn("TOP_PERFORMER", F.col("__rn") == 1)
        .drop("__rn", "__pr", "DISCOUNT")  # `proj_family` drop mechanic
    )

    # JNR_2 LAST: ⟕ customers for name/city.  The dim is PK-gated
    # (duplicate_gate on CUSTOMER_ID is the warehouse contract), so the
    # join preserves cardinality and commutes past the windows — and the
    # percent-rank branch, which re-derives the SALE_AMOUNT distribution,
    # no longer pays a customer join it would only throw away.
    jnr_customers = (
        flagged.alias("l")
        .join(
            F.broadcast(customers.alias("c")),
            on=F.col("l.CUSTOMER_ID") == F.col("c.CUSTOMER_ID"),
            how="left",
        )
        .select(
            "l.*",
            F.col("c.NAME").alias("CUSTOMER_NAME"),
            F.col("c.CITY").alias("CITY"),
        )
    )

    return stamp_snapshot(jnr_customers, run_date).select(*FINAL_COLUMNS)
