"""Mart 1 — supplier performance (the flagship).

Re-expression of ``/root/reference/ETL-Airflow/dags/tasks/
supplier_performance_task.py:14-169``: exclude cancelled sales, join
products then RIGHT-join suppliers (keep suppliers with no sales), derive
``REVENUE``, aggregate per supplier (sum revenue, sum quantity, distinct
product count), pick each supplier's top-selling product by revenue
(tiebreak: product name — ``supplier_performance_task.py:94``), default
"No sales"/zeros for idle suppliers, stamp ``DAY_DT``.

Scale shape: one shuffle for the fact-side aggregation; all dimension joins
(products, suppliers) broadcast.  The top-product window partitions by
supplier AFTER a per-(supplier, product) pre-aggregation, so the window input
is already collapsed — no wide-row window at fact scale.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.functions.numeric import decimal_sum
from kusuma_metamorph_etl_spark.sources.sinks import stamp_snapshot

FINAL_COLUMNS = [
    "DAY_DT",
    "SUPPLIER_ID",
    "SUPPLIER_NAME",
    "TOTAL_REVENUE",
    "TOTAL_PRODUCTS_SOLD",
    "TOTAL_STOCK_SOLD",
    "TOP_SELLING_PRODUCT",
]


def join_products(
    sales: DataFrame, products: DataFrame, supplier_key_from: str
) -> DataFrame:
    """JNR_1: sales ⟕ products — alias-disciplined disambiguation
    (`join_disambig`); price always comes from the product dim, the
    supplier key from the side ``supplier_key_from`` names."""
    supplier_key = (
        F.col("p.SUPPLIER_ID") if supplier_key_from == "products" else F.col("s.SUPPLIER_ID")
    )
    return (
        sales.alias("s")
        .join(
            F.broadcast(products.alias("p")),
            on=F.col("s.PRODUCT_ID") == F.col("p.PRODUCT_ID"),
            how="left",
        )
        .select(
            F.col("s.PRODUCT_ID").alias("PRODUCT_ID"),
            F.col("s.QUANTITY").alias("QUANTITY"),
            supplier_key.alias("SUPPLIER_ID"),
            F.col("p.PRODUCT_NAME").alias("PRODUCT_NAME"),
            F.col("p.SELLING_PRICE").alias("SELLING_PRICE"),
        )
    )


def agg_by_supplier(fact: DataFrame) -> DataFrame:
    """The AGG node: per-supplier totals plus top-selling product over
    the revenue-bearing fact grain (``SUPPLIER_ID``, ``PRODUCT_ID``,
    ``PRODUCT_NAME``, ``QUANTITY``, ``REVENUE``).  Both this module's mart
    and the named-stage pipeline (:mod:`marts.pipelines`) run it, so
    their totals cannot drift apart.
    """
    totals = fact.groupBy("SUPPLIER_ID").agg(
        # exact decimal sum: order-independent across partitions/engines
        decimal_sum(F.col("REVENUE"), 2).alias("TOTAL_REVENUE"),
        F.countDistinct("PRODUCT_ID").alias("TOTAL_PRODUCTS_SOLD"),
        F.sum("QUANTITY").alias("TOTAL_STOCK_SOLD"),
    )

    # WIN: top product per supplier over a per-(supplier, product)
    # pre-aggregation; revenue desc, product name as deterministic tiebreak.
    # Exact decimal revenue here too: PRODUCT_REVENUE only orders the
    # window, but a last-ulp difference between two products' double sums
    # would flip the top-product pick nondeterministically.
    per_product = (
        # PRODUCT_NAME not-null too: a sale whose PRODUCT_ID misses the
        # product dim keeps its revenue but has no name — under nulls-
        # first ASC ordering that group could win the window and surface
        # as "No sales" NEXT TO nonzero TOTAL_REVENUE (r8 review).  Top
        # product means top NAMED product; unmatched-dim revenue still
        # counts in the totals above.
        fact.filter(
            F.col("PRODUCT_ID").isNotNull() & F.col("PRODUCT_NAME").isNotNull()
        )
        .groupBy("SUPPLIER_ID", "PRODUCT_NAME")
        .agg(F.sum(F.col("REVENUE").cast("decimal(38,6)")).alias("PRODUCT_REVENUE"))
    )
    top_window = Window.partitionBy("SUPPLIER_ID").orderBy(
        F.desc("PRODUCT_REVENUE"), F.asc("PRODUCT_NAME")
    )
    top_products = (
        per_product.withColumn("rn", F.row_number().over(top_window))
        .filter(F.col("rn") == 1)
        .select("SUPPLIER_ID", F.col("PRODUCT_NAME").alias("TOP_SELLING_PRODUCT"))
    )
    return totals.join(F.broadcast(top_products), on="SUPPLIER_ID", how="left")


def join_suppliers(suppliers: DataFrame, agg: DataFrame) -> DataFrame:
    """JNR_2: suppliers ⟕ per-supplier AGG (keeps suppliers w/o sales)."""
    return (
        suppliers.alias("r")
        .join(
            F.broadcast(agg.alias("l")),
            on=F.col("r.SUPPLIER_ID") == F.col("l.SUPPLIER_ID"),
            how="left",
        )
        .select(
            F.col("r.SUPPLIER_ID").alias("SUPPLIER_ID"),
            F.col("r.SUPPLIER_NAME").alias("SUPPLIER_NAME"),
            "l.TOTAL_REVENUE",
            "l.TOTAL_PRODUCTS_SOLD",
            "l.TOTAL_STOCK_SOLD",
            "l.TOP_SELLING_PRODUCT",
        )
    )


def null_defaults(df: DataFrame) -> DataFrame:
    """Null handling: "No sales" default and zero-filled measures
    (`cond_null_default`, `null_fillna_map`)."""
    return df.withColumn(
        "TOP_SELLING_PRODUCT",
        F.coalesce(F.col("TOP_SELLING_PRODUCT").cast("string"), F.lit("No sales")),
    ).fillna({"TOTAL_REVENUE": 0.0, "TOTAL_PRODUCTS_SOLD": 0, "TOTAL_STOCK_SOLD": 0})


def supplier_performance(
    sales: DataFrame,
    products: DataFrame,
    suppliers: DataFrame,
    run_date: dt.date | str | None = None,
    supplier_key_from: str = "products",
) -> DataFrame:
    """Build the supplier-performance mart.

    ``supplier_key_from``: ``"products"`` (reference layout — the FK lives
    on the product dim) or ``"sales"`` (TPC-H layout — ``l_suppkey`` on the
    fact row).
    """
    if supplier_key_from not in ("products", "sales"):
        raise ValueError("supplier_key_from must be 'products' or 'sales'")

    # FIL: drop cancelled sales (predicate reaches the scan via Catalyst).
    fil_sales = sales.filter(F.col("ORDER_STATUS") != "Cancelled")

    # EXP: REVENUE = QUANTITY * SELLING_PRICE on the fact grain.
    fact = join_products(fil_sales, products, supplier_key_from).withColumn(
        "REVENUE", F.col("QUANTITY") * F.col("SELLING_PRICE")
    )

    # AGG FIRST, join the supplier dim after: the reference's fact ⟖
    # suppliers right-join runs BEFORE aggregation, which forces a
    # full-fact SortMergeJoin (an outer join cannot broadcast its
    # preserved side).  Aggregating to supplier grain first collapses the
    # fact to dim cardinality, so the outer join below broadcasts.  Rows
    # whose supplier is absent from the dim drop out either way; idle
    # suppliers surface as nulls and take the fillna defaults — identical
    # output, one fewer fact-sized shuffle.
    enriched = null_defaults(join_suppliers(suppliers, agg_by_supplier(fact)))
    return stamp_snapshot(enriched, run_date).select(*FINAL_COLUMNS)
