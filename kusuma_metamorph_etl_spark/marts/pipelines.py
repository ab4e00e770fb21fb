"""The reference's Informatica-style named-node style, reproduced on the
engine's Pipeline API (`pipe_named_nodes`, SURVEY.md §2.9).

The reference names every intermediate frame — ``SQ_Shortcut_To_*`` /
``FIL_*`` / ``JNR_*`` / ``AGG_TRANS_*`` / ``EXP_*`` / ``Shortcut_To_*_Tgt``
— and logs one line per node (``/root/reference/ETL-Airflow/dags/tasks/
supplier_performance_task.py:14-170``).  This module shows the engine's
equivalent: the same mart as an ordered list of named, pure stages.  Each
stage only extends the Catalyst plan; the composed pipeline produces the
IDENTICAL frame to :func:`marts.supplier_performance` CALLED WITH
``supplier_key_from='sales'`` (this pipeline takes the supplier FK from
the sales side — asserted in tests/; the function mart's default takes
it from the product dim, a different aggregation key), so the node view
is free — no materialization per node, unlike the reference's eager
per-source counts.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.marts.supplier_performance import (
    FINAL_COLUMNS,
    agg_by_supplier,
    join_products,
    join_suppliers,
    null_defaults,
)
from kusuma_metamorph_etl_spark.plans.pipeline import Pipeline
from kusuma_metamorph_etl_spark.plans.quality import duplicate_gate
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.sources.sinks import stamp_snapshot


def supplier_performance_pipeline(
    products: DataFrame,
    suppliers: DataFrame,
    run_date: dt.date | str | None = None,
) -> Pipeline:
    """The supplier-performance mart as named stages over the sales frame.

    Stage names mirror the reference's mapping nodes so a reader of the
    original task can follow the engine version line by line.
    """
    return (
        Pipeline("m_load_suppliers_performance")
        .stage("FIL_Sales_Cancelled", lambda df: df.filter(F.col("ORDER_STATUS") != "Cancelled"), kind="FIL")
        .stage("JNR_Sales_Products", lambda df: join_products(df, products, "sales"), kind="JNR")
        .stage(
            "EXP_Revenue",
            lambda df: df.withColumn("REVENUE", F.col("QUANTITY") * F.col("SELLING_PRICE")),
            kind="EXP",
        )
        .stage("AGG_TRANS_By_Supplier", agg_by_supplier, kind="AGG")
        .stage("JNR_Suppliers", lambda df: join_suppliers(suppliers, df), kind="JNR")
        .stage("EXP_Null_Defaults", null_defaults, kind="EXP")
        .stage("EXP_Snapshot", lambda df: stamp_snapshot(df, run_date), kind="EXP")
        .stage(
            "Shortcut_To_Supplier_Performance_Tgt",
            lambda df: df.select(*FINAL_COLUMNS),
            kind="TGT",
        )
        # the share boundary the pipeline module docstring promises: the
        # gate's action materializes it, so the caller's first action
        # reuses it instead of recomputing the whole mart
        .stage("PERSIST_Boundary", share, kind="TGT")
        .stage(
            "GATE_PK",
            lambda df: duplicate_gate(df, ["SUPPLIER_ID", "DAY_DT"]),
            kind="TGT",
        )
    )
