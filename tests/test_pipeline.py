"""Pipeline tests: named stages compose lazily (no job until an action)
and quality gates slot in as pass-through stages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.pipeline import Pipeline
from kusuma_metamorph_etl_spark.plans.quality import DuplicateKeyError, duplicate_gate


def test_pipeline_composes_stages(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], ["id", "k", "v"]
    )
    p = (
        Pipeline("demo")
        .stage("FIL_positive", lambda d: d.filter(F.col("v") > 15), kind="FIL")
        .stage(
            "AGG_by_k",
            lambda d: d.groupBy("k").agg(F.sum("v").alias("total")),
            kind="AGG",
        )
        .stage("GATE_pk", lambda d: duplicate_gate(d, ["k"]))
    )
    out = {r["k"]: r["total"] for r in p.run(df).collect()}
    assert out == {"a": 20.0, "b": 30.0}


def test_pipeline_gate_failure_propagates(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"])
    p = Pipeline("gated").stage("GATE_pk", lambda d: duplicate_gate(d, ["id"]))
    with pytest.raises(DuplicateKeyError):
        p.run(df)


def test_named_stage_mart_equals_function_mart(spark, sf_small):
    """The Pipeline-expressed supplier mart (reference node names) must
    produce the identical frame to the plain-function mart."""
    from kusuma_metamorph_etl_spark.marts import supplier_performance
    from kusuma_metamorph_etl_spark.marts.pipelines import (
        supplier_performance_pipeline,
    )
    from kusuma_metamorph_etl_spark.marts.tpch_adapter import (
        products_from_part,
        sales_from_lineitem,
        suppliers_from_supplier,
    )

    sales = sales_from_lineitem(
        spark.read.parquet(f"{sf_small}/lineitem.parquet")
    )
    products = products_from_part(spark.read.parquet(f"{sf_small}/part.parquet"))
    suppliers = suppliers_from_supplier(
        spark.read.parquet(f"{sf_small}/supplier.parquet")
    )

    via_fn = supplier_performance(
        sales, products, suppliers, run_date="2024-06-01", supplier_key_from="sales"
    )
    via_pipe = supplier_performance_pipeline(
        products, suppliers, run_date="2024-06-01"
    ).run(sales)

    assert via_pipe.columns == via_fn.columns
    assert sorted(map(tuple, via_pipe.collect())) == sorted(
        map(tuple, via_fn.collect())
    )


def test_pipeline_revenue_matches_function_mart_on_half_cent(spark):
    """3 x 0.155 is exactly 0.465, which rounds half-up to 0.47; the
    double product is 0.46499999999999997, which rounds to 0.46.  Both
    supplier-mart paths sum revenue exactly and must report 0.47."""
    from kusuma_metamorph_etl_spark.marts import supplier_performance
    from kusuma_metamorph_etl_spark.marts.pipelines import (
        supplier_performance_pipeline,
    )

    sales = spark.createDataFrame(
        [("P1", 3, "S1", "Delivered")],
        "PRODUCT_ID string, QUANTITY int, SUPPLIER_ID string, ORDER_STATUS string",
    )
    products = spark.createDataFrame(
        [("P1", "Widget", 0.155)],
        "PRODUCT_ID string, PRODUCT_NAME string, SELLING_PRICE double",
    )
    suppliers = spark.createDataFrame(
        [("S1", "Acme")], "SUPPLIER_ID string, SUPPLIER_NAME string"
    )

    via_fn = supplier_performance(
        sales, products, suppliers, run_date="2024-06-01", supplier_key_from="sales"
    )
    via_pipe = supplier_performance_pipeline(
        products, suppliers, run_date="2024-06-01"
    ).run(sales)

    assert [r["TOTAL_REVENUE"] for r in via_fn.collect()] == [0.47]
    assert [r["TOTAL_REVENUE"] for r in via_pipe.collect()] == [0.47]


def test_pipeline_is_lazy(spark):
    calls = []

    def tracking_stage(d):
        calls.append("built")
        return d.filter(F.col("id") > 0)

    df = spark.createDataFrame([(1,)], ["id"])
    result = Pipeline("lazy").stage("FIL", tracking_stage).run(df)
    # The stage fn ran (plan construction) but no Spark job has: the
    # DataFrame is still unevaluated — collect() triggers it.
    assert calls == ["built"]
    assert result.collect()[0]["id"] == 1
