"""SURVEY.md §2 relational operator inventory — one oracle-checked query per
✔ row (registry ids match §2's ID column).

Every query is a small, idiomatic DataFrame program over the driver test
tables paired with equivalent DuckDB SQL.  Cross-engine conventions
(lowercase output names, decimal-safe money rounding, BIGINT casts for
DuckDB's HUGEINT sums / month()/year()) are documented in registry.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.functions.naming import normalize_column_names
from kusuma_metamorph_etl_spark.functions.numeric import (
    decimal_avg,
    decimal_round,
    decimal_sum,
)
from kusuma_metamorph_etl_spark.operators.joins import equi_join
from kusuma_metamorph_etl_spark.operators.windows import global_percent_rank, top_k_per_group
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.registry import RUN_DATE, register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.sources.csv import read_csv
from kusuma_metamorph_etl_spark.sources.sinks import dual_write, stamp_snapshot

SCRATCH = "/root/repo/.tmp"


# ---------------------------------------------------------------- §2.1 sources/sinks

@register("src_parquet_scan", "SELECT r_regionkey, r_name FROM region")
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet table scan (column pruning visible in ReadSchema)."""
    return t(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register("src_csv_infer", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def src_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV roundtrip with header + schema inference (reference
    `ingestion_task.py:227-232`); prod path uses declared schemas."""
    path = os.path.join(SCRATCH, "csv_infer", os.path.basename(sf_dir))
    nation = t(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    return read_csv(spark, path, infer_schema=True).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "sql_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
              CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
                   AS DOUBLE) AS sum_base_price,
              CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(38,6))), 2)
                   AS DOUBLE) AS sum_disc_price,
              round(AVG(l_quantity), 6) AS avg_qty,
              CAST(COUNT(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= DATE '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark SQL API surface (`spark.sql` over registered views) — a
    TPC-H-Q1-shaped pricing summary run as pure SQL text.  Same Catalyst
    plan as the DataFrame DSL; this entry pins the SQL entry point works.
    Money sums go through DECIMAL before rounding (both engines): a
    rounded DOUBLE sum is partition-order-dependent in its last ulp, so
    half-cent boundary groups could hash-diverge — the r1
    agg_groupby_single failure class (r8 review caught this query still
    carrying it; it passed r1-r7 by luck of the data)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
                       AS DOUBLE) AS sum_base_price,
                  CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
                                      AS DECIMAL(38,6))), 2)
                       AS DOUBLE) AS sum_disc_price,
                  round(AVG(l_quantity), 6) AS avg_qty,
                  COUNT(*) AS count_order
           FROM lineitem_v
           WHERE l_shipdate <= DATE '1998-09-02'
           GROUP BY l_returnflag, l_linestatus"""
    )


_POPULATION_ROWS = [
    ("01", "United States", 2020, 331449281),
    ("01", "United States", 2021, 331893745),
    ("01", "United States", 2022, 333287557),
]
_POPULATION_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{i}', '{n}', {y}, {p})" for i, n, y, p in _POPULATION_ROWS)
    + ") AS t(id_nation, nation, year, population)"
)


@register("src_inline_schema", _POPULATION_SQL)
def src_inline_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory rows + explicit StructType (reference `dag.py:63-82`,
    the DataUSA population shape)."""
    from kusuma_metamorph_etl_spark.sources.memory import dataframe_from_records

    return dataframe_from_records(
        spark,
        _POPULATION_ROWS,
        "id_nation string, nation string, year int, population long",
    )


@register("src_rest_json", _POPULATION_SQL)
def src_rest_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST-payload landing-zone pattern (`transform_utils.py:35-75`
    re-architected): records land as ndjson, then a distributed
    declared-schema read — no driver-memory-bound createDataFrame."""
    from kusuma_metamorph_etl_spark.sources.rest import (
        land_json_records,
        read_landed_json,
    )

    landing = os.path.join(SCRATCH, "rest_landing", os.path.basename(sf_dir))
    import shutil

    shutil.rmtree(landing, ignore_errors=True)
    records = [
        {"id_nation": i, "nation": n, "year": y, "population": p}
        for i, n, y, p in _POPULATION_ROWS
    ]
    land_json_records(records, landing)
    return read_landed_json(
        spark, landing, "id_nation string, nation string, year int, population long"
    )


@register(
    "snk_dual_write",
    f"SELECT n_nationkey, n_name, n_regionkey, DATE '{RUN_DATE}' AS day_dt FROM nation",
)
def snk_dual_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-write raw (no DAY_DT) + legacy (stamped) off one persisted frame;
    returns the re-read legacy sink — validates the write, not the plan."""
    base = os.path.join(SCRATCH, "dual_write", os.path.basename(sf_dir))
    nation = t(spark, sf_dir, "nation")
    import shutil

    shutil.rmtree(os.path.join(base, "legacy"), ignore_errors=True)
    dual_write(nation, f"{base}/raw", f"{base}/legacy", run_date=RUN_DATE)
    legacy = spark.read.parquet(f"{base}/legacy")
    return legacy.select(
        "n_nationkey", "n_name", "n_regionkey", F.col("DAY_DT").alias("day_dt")
    )


@register(
    "src_roundtrip_family",
    """SELECT 'json' AS fmt, n_nationkey AS key, n_name AS name,
              CAST(n_regionkey AS DOUBLE) AS num
       FROM nation
       UNION ALL
       SELECT 'orc' AS fmt, c_custkey AS key, c_name AS name,
              c_acctbal AS num
       FROM customer
       UNION ALL
       SELECT 'text' AS fmt, CAST(NULL AS BIGINT) AS key, text AS name,
              CAST(NULL AS DOUBLE) AS num
       FROM documents""",
)
def src_roundtrip_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three non-parquet source/sink round-trips in one tagged frame —
    JSON-lines (the REST/event landing-zone interchange, read back with
    the DECLARED schema per SURVEY §1/A7), ORC (Spark's second
    first-class columnar format, same pushdown machinery as parquet),
    and text-lines (`spark.read.text`, raw corpora/log shards) —
    consolidating the r7/r8/r9-green rows `src_json_roundtrip`/
    `src_orc_roundtrip`/`src_text_roundtrip` under the
    retire-one-per-addition registry policy (r12 VERDICT Next #2).
    Each format is written and re-read explicitly; the oracle compares
    the round-tripped VALUES against the parquet-sourced tables, so a
    lossy writer or a schema-drifting reader in any branch flips the
    hash gate.  Text is sound because the fixture corpus has no embedded
    newlines (a newline would split a row — the honest failure); the
    text branch re-materializes via an eager share before its
    temp dir is deleted, never a driver round-trip (r11 ADVICE)."""
    import shutil
    import tempfile

    base = os.path.join(SCRATCH, "roundtrip_family", os.path.basename(sf_dir))

    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").json(os.path.join(base, "json"))
    json_back = spark.read.schema(nation.schema).json(
        os.path.join(base, "json")
    )

    customer = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    customer.write.mode("overwrite").orc(os.path.join(base, "orc"))
    orc_back = spark.read.orc(os.path.join(base, "orc"))

    docs = t(spark, sf_dir, "documents").select("text")
    tmp = tempfile.mkdtemp(prefix="text_src_")
    try:
        docs.write.mode("overwrite").text(tmp)
        # eager: the temp dir is deleted below
        text_back = share(spark.read.text(tmp), eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return (
        json_back.select(
            F.lit("json").alias("fmt"),
            F.col("n_nationkey").alias("key"),
            F.col("n_name").alias("name"),
            F.col("n_regionkey").cast("double").alias("num"),
        )
        .unionByName(
            orc_back.select(
                F.lit("orc").alias("fmt"),
                F.col("c_custkey").alias("key"),
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("num"),
            )
        )
        .unionByName(
            text_back.select(
                F.lit("text").alias("fmt"),
                F.lit(None).cast("bigint").alias("key"),
                F.col("value").alias("name"),
                F.lit(None).cast("double").alias("num"),
            )
        )
    )


@register(
    "snk_jdbc_roundtrip",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def snk_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JDBC write→read round-trip (`snk_jdbc_overwrite` + `src_jdbc`):
    batched overwrite into embedded Derby (the sandbox stand-in for the
    reference's Postgres endpoint, `transform_utils.py:95-129`), then a
    *partitioned* range read back — 4 concurrent bound queries on the
    numeric PK, the scale shape the reference's single-connection
    read/write lacks (anti-pattern A3)."""
    import shutil

    from kusuma_metamorph_etl_spark.sources.jdbc import (
        DERBY_EMBEDDED_DRIVER,
        embedded_derby_url,
        jdbc_reader,
        jdbc_writer,
        shutdown_embedded_derby,
    )

    db_dir = os.path.join(SCRATCH, "derby", os.path.basename(sf_dir))
    # Unboot before deleting: rmtree of a still-booted database leaves a
    # stale in-JVM registry entry that corrupts the next create=true boot
    # (re-running this query in one session would otherwise fail).
    shutdown_embedded_derby(spark, db_dir)
    shutil.rmtree(db_dir, ignore_errors=True)  # clear stale locks/state
    url = embedded_derby_url(db_dir)
    creds = {"user": "app", "password": "app", "driver": DERBY_EMBEDDED_DRIVER}

    sup = t(spark, sf_dir, "supplier")
    jdbc_writer(
        sup, mode="overwrite", url=url, table="supplier_rt", **creds
    ).save()

    lo, hi = sup.agg(F.min("s_suppkey"), F.max("s_suppkey")).first()
    return jdbc_reader(
        spark,
        url=url,
        table="supplier_rt",
        partition_column="s_suppkey",
        lower_bound=int(lo),
        upper_bound=int(hi),
        num_partitions=4,
        **creds,
    ).load()


# ---------------------------------------------------------------- §2.2 projection

@register(
    "proj_family",
    """SELECT s_suppkey AS supplier_id, s_name AS supplier_name,
              'DAILY' AS load_mode, 1 AS priority
       FROM supplier""",
)
def proj_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five trivial projection mechanics in one frame — `drop`
    (reference `ingestion_task.py` column pruning), `withColumnRenamed`,
    `select`, `col().alias`, `lit` — consolidating the r10-green rows
    `proj_select`/`proj_rename`/`proj_alias`/`proj_drop`/`expr_lit`
    under the r12 retire-one-per-addition registry policy (same
    mechanics, one driver slot).  Each API is exercised explicitly so a
    regression in any one of them still breaks the hash gate."""
    sup = t(spark, sf_dir, "supplier")
    return (
        sup.drop("s_address", "s_phone", "s_acctbal", "s_comment")
        .withColumnRenamed("s_suppkey", "supplier_id")
        .select(
            "supplier_id",
            F.col("s_name").alias("supplier_name"),
            F.lit("DAILY").alias("load_mode"),
            F.lit(1).alias("priority"),
        )
    )


@register("proj_normalize_names", "SELECT r_regionkey, r_name FROM region")
def proj_normalize_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trim+upper+spaces→underscores over messy column names
    (reference `ingestion_task.py:8-12`); output lowered by contract."""
    messy = t(spark, sf_dir, "region").toDF(" r_RegionKey ", "r name")
    normalized = normalize_column_names(messy)  # R_REGIONKEY, R_NAME
    return normalized.toDF(*[c.lower() for c in normalized.columns])


@register(
    "expr_arith",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS net_price,
              l_quantity * l_tax AS tax_units
       FROM lineitem""",
)
def expr_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Raw IEEE products compare bit-identically cross-engine; rounding here
    # would reintroduce the half-penny divergence (see functions/numeric.py).
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_quantity") * F.col("l_tax")).alias("tax_units"),
    )


@register(
    "expr_discount_amount",
    """SELECT l_orderkey, l_linenumber,
              CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(38,6)), 2) AS DOUBLE) AS charge
       FROM lineitem""",
)
def expr_discount_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound percent arithmetic (reference SALE_AMOUNT shape,
    `customer_sales_report_task.py:96`) with decimal-safe rounding."""
    li = t(spark, sf_dir, "lineitem")
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return li.select(
        "l_orderkey", "l_linenumber", decimal_round(charge, 2).alias("charge")
    )


@register(
    "proj_cast",
    """SELECT CAST(p_partkey AS VARCHAR) AS product_id,
              CAST(TRUNC(p_retailprice) AS INTEGER) AS price_int
       FROM part""",
)
def proj_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark double→int truncates toward zero while DuckDB CAST rounds to
    # nearest, so the oracle TRUNCs explicitly to pin both at truncation.
    part = t(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").cast("string").alias("product_id"),
        F.col("p_retailprice").cast("int").alias("price_int"),
    )


# ---------------------------------------------------------------- §2.3 filters

@register(
    "fil_scalar_family",
    """SELECT 'neq' AS pred, o_orderkey, o_orderstatus AS str_val,
              CAST(NULL AS DOUBLE) AS num_val
       FROM orders WHERE o_orderstatus <> 'F'
       UNION ALL
       SELECT 'isin' AS pred, o_orderkey, o_orderpriority AS str_val,
              CAST(NULL AS DOUBLE) AS num_val
       FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       UNION ALL
       SELECT 'cmp' AS pred, o_orderkey, CAST(NULL AS VARCHAR) AS str_val,
              o_totalprice AS num_val
       FROM orders WHERE o_totalprice > 200000""",
)
def fil_scalar_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three scalar filter shapes — `!=` (reference
    `supplier_performance_task.py:41-44`), IN-list
    (`customer_sales_report_task.py:45-48`), comparison
    (`transform_utils.py:89`) — in one tagged frame (consolidates the
    r10-green rows `fil_neq`/`fil_isin`/`fil_cmp` under the r12
    retire-one-per-addition registry policy — same predicates, same
    hash gate on the filtered VALUES, one driver slot).  Each branch is
    a scan-side pushed filter; `num_val`/`str_val` carry the predicate
    column so a wrong comparison can't hide behind matching row
    counts."""
    orders = t(spark, sf_dir, "orders")

    def tag(pred: str, df: DataFrame, str_col, num_col) -> DataFrame:
        return df.select(
            F.lit(pred).alias("pred"),
            "o_orderkey",
            (
                F.col(str_col) if str_col else F.lit(None).cast("string")
            ).alias("str_val"),
            (
                F.col(num_col) if num_col else F.lit(None).cast("double")
            ).alias("num_val"),
        )

    return (
        tag(
            "neq",
            orders.filter(F.col("o_orderstatus") != "F"),
            "o_orderstatus",
            None,
        )
        .unionByName(
            tag(
                "isin",
                orders.filter(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                ),
                "o_orderpriority",
                None,
            )
        )
        .unionByName(
            tag(
                "cmp",
                orders.filter(F.col("o_totalprice") > 200000),
                None,
                "o_totalprice",
            )
        )
    )


@register(
    "fil_conj",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
       WHERE (l_discount > 0.05 AND l_quantity < 10) OR l_returnflag = 'R'""",
)
def fil_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    predicate = ((F.col("l_discount") > 0.05) & (F.col("l_quantity") < 10)) | (
        F.col("l_returnflag") == "R"
    )
    return li.filter(predicate).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


@register(
    "fil_isnull",
    """SELECT c.c_custkey, c.c_name FROM customer c
       LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
                  WHERE o_totalprice > 449000) o
         ON c.c_custkey = o.o_custkey
       WHERE o.o_custkey IS NULL""",
)
def fil_isnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large order — the outer-join null predicate (the
    price floor keeps the result non-empty at test scale, so the check
    actually exercises null rows)."""
    customer = t(spark, sf_dir, "customer")
    order_keys = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 449000)
        .select("o_custkey")
        .distinct()
    )
    return (
        customer.join(
            order_keys, customer.c_custkey == order_keys.o_custkey, "left"
        )
        .filter(F.col("o_custkey").isNull())
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------- §2.4 joins

@register(
    "join_left_equi",
    """SELECT o.o_orderkey, o.o_totalprice, c.c_name
       FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def join_left_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return (
        orders.alias("o")
        .join(customer.alias("c"), F.col("o.o_custkey") == F.col("c.c_custkey"), "left")
        .select("o.o_orderkey", "o.o_totalprice", "c.c_name")
    )


@register(
    "join_right_equi",
    """SELECT p.p_partkey, p.p_name, l.l_orderkey, l.l_quantity
       FROM lineitem l RIGHT JOIN part p ON l.l_partkey = p.p_partkey""",
)
def join_right_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right join keeps unsold parts (reference keeps all suppliers,
    `supplier_performance_task.py:64-69`)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.alias("l")
        .join(part.alias("p"), F.col("l.l_partkey") == F.col("p.p_partkey"), "right")
        .select("p.p_partkey", "p.p_name", "l.l_orderkey", "l.l_quantity")
    )


@register(
    "join_inner_equi",
    """SELECT o.o_orderkey, c.c_name, o.o_totalprice
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return (
        orders.alias("o")
        .join(customer.alias("c"), F.col("o.o_custkey") == F.col("c.c_custkey"), "inner")
        .select("o.o_orderkey", "c.c_name", "o.o_totalprice")
    )


@register(
    "join_broadcast",
    """SELECT c.c_custkey, n.n_name AS nation_name
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint for the small dim (`join_broadcast`) — the
    plan must show BroadcastHashJoin, no shuffle of the fact side."""
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        customer.alias("c")
        .join(
            F.broadcast(nation.alias("n")),
            F.col("c.c_nationkey") == F.col("n.n_nationkey"),
        )
        .select("c.c_custkey", F.col("n.n_name").alias("nation_name"))
    )


@register(
    "join_disambig",
    """SELECT c.c_custkey AS customer_id, s.s_suppkey AS supplier_id,
              c.c_acctbal AS customer_balance, s.s_acctbal AS supplier_balance
       FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey""",
)
def join_disambig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colliding column names (both sides carry `acctbal`, `nation_key`)
    resolved by alias discipline (`operators/joins.py`)."""
    customer = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_nationkey").alias("nation_key"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supplier = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_nationkey").alias("nation_key"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return equi_join(
        customer,
        supplier,
        on="nation_key",
        how="inner",
        select={
            "customer_id": "l.entity_id",
            "supplier_id": "r.entity_id",
            "customer_balance": "l.acctbal",
            "supplier_balance": "r.acctbal",
        },
        broadcast_right=True,
    )


@register(
    "join_semi_anti",
    """SELECT 'has_orders' AS segment, COUNT(*) AS n_customers FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       UNION ALL
       SELECT 'no_orders' AS segment, COUNT(*) AS n_customers FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) + left_anti (NOT EXISTS) — the orphan-key audit
    ([EXT] row in SURVEY §2.4).  Semi/anti never widen rows, so they beat
    join+distinct at scale."""
    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    semi = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(F.lit("has_orders").alias("segment"), "n_customers")
    )
    anti = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(F.lit("no_orders").alias("segment"), "n_customers")
    )
    return semi.unionAll(anti)


# ---------------------------------------------------------------- §2.5 aggregations

@register(
    "agg_groupby_single",
    """SELECT l_suppkey,
              CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
              SUM(l_quantity) AS total_qty,
              COUNT(DISTINCT l_partkey) AS n_parts
       FROM lineitem GROUP BY l_suppkey""",
)
def agg_groupby_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-key hash agg; revenue summed in exact decimal (r1 hash-fail
    was round-of-double-sum whose last ulp is summation-order-dependent)."""
    li = t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_suppkey").agg(
        decimal_sum(revenue, 2).alias("revenue"),
        F.sum("l_quantity").alias("total_qty"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@register(
    "agg_groupby_multi",
    """SELECT l_returnflag, l_linestatus,
              SUM(l_quantity) AS sum_qty,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
                   AS DOUBLE) AS sum_base_price,
              CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_disc_price,
              ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(l_quantity), 4) AS avg_qty,
              ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(l_discount), 6) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-key hash agg with 6 measures — partial
    (map-side) aggregation collapses before the shuffle.  Money/rate sums
    in exact decimal so results are summation-order-independent."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        decimal_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
        decimal_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 2
        ).alias("sum_disc_price"),
        decimal_avg(F.col("l_quantity"), 4).alias("avg_qty"),
        decimal_avg(F.col("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_sum_expr",
    """SELECT l_returnflag,
              CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                             AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_charge
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_sum_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag").agg(decimal_sum(charge, 2).alias("sum_charge"))


@register(
    "agg_avg",
    """SELECT o_orderpriority,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(o_totalprice), 4) AS avg_price
       FROM orders GROUP BY o_orderpriority""",
)
def agg_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        decimal_avg(F.col("o_totalprice"), 4).alias("avg_price")
    )


@register(
    "agg_count_distinct",
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers
       FROM orders GROUP BY o_orderstatus""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct (reference semantics).  At 100 TB prefer
    approx_count_distinct — exact distinct is a second shuffle."""
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )


@register(
    "agg_count_star",
    "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
)
def agg_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@register("agg_global_count", "SELECT COUNT(*) AS n_rows FROM lineitem")
def agg_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "agg_rollup_cube",
    """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ([EXT] generalization of rollup/cube): the
    three aggregation grains in one pass (single shuffle, expand-then-agg)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_stats",
    """SELECT l_returnflag,
              round(stddev_samp(l_quantity), 6) AS sd_qty,
              round(var_samp(l_quantity), 6) AS var_qty,
              round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
              round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical profiling aggregates ([EXT]): stddev/variance/correlation/
    covariance per group — single-pass, map-side partials, one shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
    )


@register(
    "agg_histogram",
    """SELECT CAST(least(floor(l_extendedprice / 10000.0), 10) AS BIGINT) AS bucket,
              COUNT(*) AS n,
              CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
                   AS DOUBLE) AS sum_price
       FROM lineitem GROUP BY bucket""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning ([EXT] profiling): arithmetic bucket id
    (floor/least — engine-portable, unlike width_bucket) + per-bin count and
    mass.  Bin count is tiny, so the post-shuffle side is trivially small."""
    li = t(spark, sf_dir, "lineitem")
    bucket = F.least(F.floor(F.col("l_extendedprice") / 10000.0), F.lit(10)).cast(
        "long"
    )
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        decimal_sum(F.col("l_extendedprice"), 2).alias("sum_price"),
    )


# ---------------------------------------------------------------- §2.6 windows

@register(
    "win_rownum_topk",
    """SELECT p_brand, p_partkey, p_name, p_retailprice FROM (
         SELECT p_brand, p_partkey, p_name, p_retailprice,
                ROW_NUMBER() OVER (PARTITION BY p_brand
                                   ORDER BY p_retailprice DESC, p_partkey) AS rn
         FROM part) WHERE rn <= 3""",
)
def win_rownum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return top_k_per_group(
        part.select("p_brand", "p_partkey", "p_name", "p_retailprice"),
        partition_by=["p_brand"],
        order_by=[F.desc("p_retailprice"), F.asc("p_partkey")],
        k=3,
    )


@register(
    "win_rownum_flag",
    """SELECT o_orderkey, o_custkey, o_totalprice,
              (ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) = 1)
              AS is_top_order
       FROM orders""",
)
def win_rownum_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    window = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.row_number().over(window) == 1).alias("is_top_order"),
    )


@register(
    "win_percent_rank",
    """SELECT o_orderkey, o_totalprice,
              PERCENT_RANK() OVER (ORDER BY o_totalprice DESC) AS pr
       FROM orders""",
)
def win_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable exact global percent_rank (see operators/windows.py) — the
    oracle uses the classic single-window formulation.  The regime comes
    from the plan: a scan small enough to broadcast ranks through the
    broadcast map with no probe; a large one probes the near-continuous
    o_totalprice and takes the range regime."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return global_percent_rank(orders, "o_totalprice", out_col="pr", descending=True)


@register(
    "win_frame_agg",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
              SUM(l_quantity) OVER (PARTITION BY l_suppkey
                                    ORDER BY l_shipdate, l_orderkey,
                                             l_linenumber, l_quantity
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS running_qty
       FROM lineitem""",
)
def win_frame_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame aggregate ([EXT] row): running per-supplier quantity.
    Frame sums integer-valued doubles so cross-engine association order
    cannot perturb the value.  `l_quantity` closes the ORDER BY into a
    value-total order: the fixture plants duplicate (orderkey,
    linenumber) rows (the dq workload), and the r14 sf0.1 cross-scale
    sweep found two rows tying on (shipdate, orderkey, linenumber) with
    DIFFERENT quantities — a running sum over an ambiguous order is
    engine-dependent.  With quantity as the last key, any remaining tie
    is value-identical, so the running-sum multiset is deterministic
    under every valid ordering."""
    li = t(spark, sf_dir, "lineitem")
    window = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(window).alias("running_qty"),
    )


@register(
    "win_rank_family",
    """SELECT o_orderkey, o_orderpriority,
              lag(o_totalprice) OVER w AS prev_price,
              lead(o_totalprice) OVER w AS next_price,
              ntile(4) OVER w AS quartile,
              round(cume_dist() OVER w, 6) AS cd,
              rank() OVER w2 AS rnk,
              dense_rank() OVER w2 AS drnk
       FROM orders
       WINDOW w AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey),
              w2 AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC)""",
)
def win_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trivial ranking/offset window functions in one frame —
    lag/lead, ntile, cume_dist over a fully-tiebroken spec plus
    rank/dense_rank over a tie-tolerant spec — consolidating the
    r7-green rows `win_lag_lead`/`win_ntile`/`win_rank_dense`/
    `win_cume_dist` under the retire-one-per-addition registry policy
    (r12 VERDICT Next #2: same window APIs, one driver slot).  Both
    specs share the o_orderpriority partition key, so the plan is one
    shuffle + two sorts; every function is exercised explicitly so a
    regression in any one of them still breaks the hash gate.  The
    tiebreak on o_orderkey makes ntile/cume_dist/lag/lead deterministic
    cross-engine; rank/dense_rank tolerate ties by definition (equal
    keys share a rank)."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.rank().over(w2).alias("rnk"),
        F.dense_rank().over(w2).alias("drnk"),
    )


@register(
    "proj_explode",
    """SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
       FROM part""",
)
def proj_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode ([EXT] row): one output row per element — the lateral
    fan-out primitive under the shingle/token pipelines."""
    part = t(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.explode(F.split("p_name", " ")).alias("word")
    )


@register("agg_approx_quantile", None)  # sketch-dependent — rows-only
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx ([EXT] scale path of `agg_percentile`): Greenwald-
    Khanna sketch, mergeable map-side — the 100 TB alternative to exact
    interpolated percentiles.  Error bound vs exact asserted in tests/.

    Scalar columns (not array<double>) so rows-only harnesses can hash the
    output — r1's array column broke the driver's canonicalizer."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99"),
    )


# ---------------------------------------------------------------- §2.7 conditionals / nulls

@register(
    "cond_when_chain",
    """SELECT o_orderkey,
              CASE WHEN o_totalprice > 250000 THEN 'LARGE'
                   WHEN o_totalprice > 100000 THEN 'MEDIUM'
                   ELSE 'SMALL' END AS order_size
       FROM orders""",
)
def cond_when_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 250000, F.lit("LARGE"))
        .when(F.col("o_totalprice") > 100000, F.lit("MEDIUM"))
        .otherwise(F.lit("SMALL"))
        .alias("order_size"),
    )


@register(
    "cond_null_default",
    """SELECT c.c_custkey, COALESCE(agg.n_orders, 0) AS n_orders,
              COALESCE(CAST(agg.last_status AS VARCHAR), 'No orders') AS last_status
       FROM customer c LEFT JOIN (
            SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_orderstatus) AS last_status
            FROM orders GROUP BY o_custkey) agg
         ON c.c_custkey = agg.o_custkey""",
)
def cond_null_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL → default after an outer join (the "No sales" pattern,
    `supplier_performance_task.py:138-144`)."""
    customer = t(spark, sf_dir, "customer")
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("o_orderstatus").alias("last_status"),
        )
    )
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("last_status").cast("string"), F.lit("No orders")).alias(
                "last_status"
            ),
        )
    )


@register(
    "null_fillna_map",
    """SELECT c.c_custkey,
              COALESCE(agg.n_orders, 0) AS n_orders,
              COALESCE(agg.total_spend, 0.0) AS total_spend
       FROM customer c LEFT JOIN (
            SELECT o_custkey, COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                        AS DOUBLE) AS total_spend
            FROM orders GROUP BY o_custkey) agg
         ON c.c_custkey = agg.o_custkey""",
)
def null_fillna_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk dict fillna (`supplier_performance_task.py:148-152`)."""
    customer = t(spark, sf_dir, "customer")
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            decimal_sum(F.col("o_totalprice"), 2).alias("total_spend"),
        )
    )
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select("c_custkey", "n_orders", "total_spend")
        .fillna({"n_orders": 0, "total_spend": 0.0})
    )


# ---------------------------------------------------------------- §2.8 scalar functions

@register(
    "fn_date_math",
    """SELECT o_orderkey,
              CAST(o_orderdate AS DATE) AS order_date,
              CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
              CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
              CAST(o_orderdate AS DATE) - 1 AS prev_day,
              CAST(ROUND(CAST(o_totalprice * 0.1 AS DECIMAL(38,6)), 2) AS DOUBLE)
                  AS fee
       FROM orders""",
)
def fn_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_sub / month / year / round (`customer_sales_report_task.py:91-96`)."""
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.date_sub(F.col("o_orderdate").cast("date"), 1).alias("prev_day"),
        decimal_round(F.col("o_totalprice") * 0.1, 2).alias("fee"),
    )


@register(
    "fn_str_value",
    """SELECT p_partkey,
              UPPER(TRIM(p_name)) AS name_norm,
              REGEXP_REPLACE(p_name, ' ', '_', 'g') AS name_snake,
              CAST(p_partkey AS VARCHAR) || ':' || p_brand AS part_ref
       FROM part""",
)
def fn_str_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level string functions (the reference only normalizes column
    *names*; `fn_str_norm` in SURVEY §2.8)."""
    part = t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.trim(F.col("p_name"))).alias("name_norm"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.concat_ws(":", F.col("p_partkey"), F.col("p_brand")).alias("part_ref"),
    )


# ---------------------------------------------------------------- §2.9 quality / snapshot

@register(
    "dq_duplicate_gate",
    """SELECT l_orderkey, COUNT(*) AS duplicate_count
       FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1""",
)
def dq_duplicate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate's detection plan (multi-line orders ARE duplicates at the
    order-key grain, so this returns the violating keys the exception would
    carry)."""
    from kusuma_metamorph_etl_spark.plans.quality import find_duplicates

    li = t(spark, sf_dir, "lineitem")
    return find_duplicates(li, ["l_orderkey"])


@register(
    "dq_snapshot_stamp",
    f"""SELECT s_suppkey, s_name, DATE '{RUN_DATE}' AS day_dt FROM supplier""",
)
def dq_snapshot_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return stamp_snapshot(sup, RUN_DATE).withColumnRenamed("DAY_DT", "day_dt")


# ---------------------------------------------------------------- §2.10 set ops / sort-limit

@register(
    "setop_family",
    """SELECT 'union' AS op, nation_key FROM (
           SELECT c_nationkey AS nation_key FROM customer
           UNION SELECT s_nationkey FROM supplier)
       UNION ALL
       SELECT 'intersect' AS op, nation_key FROM (
           SELECT c_nationkey AS nation_key FROM customer
           INTERSECT SELECT s_nationkey FROM supplier)
       UNION ALL
       SELECT 'except' AS op, nation_key FROM (
           SELECT c_nationkey AS nation_key FROM customer
           EXCEPT SELECT s_nationkey FROM supplier)""",
)
def setop_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT in one tagged frame (consolidates the
    r7 rows `setop_union`/`setop_intersect`/`setop_except` under the
    r12 retire-one-per-addition registry policy — same three operators,
    same hash gate, one driver slot).  Spark set-op mapping: `union()`
    is UNION ALL (distinct() gives set semantics), `intersect()` is
    INTERSECT, `subtract()` is EXCEPT (set semantics; the *All variants
    are the bag forms)."""
    cust = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nation_key"))
    supp = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nation_key"))
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "nation_key")  # noqa: E731
    return (
        tag(cust.union(supp).distinct(), "union")
        .unionByName(tag(cust.intersect(supp), "intersect"))
        .unionByName(tag(cust.subtract(supp), "except"))
    )


@register(
    "sort_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k via orderBy+limit — Spark executes TakeOrderedAndProject (a
    per-partition heap + driver merge), never a global sort."""
    orders = t(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    ).limit(10)


@register(
    "src_schema_evolution",
    """SELECT o_orderkey, o_totalprice,
              CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
                  AS o_orderpriority
       FROM orders""",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an old batch written WITHOUT a column and a
    new batch written WITH it, read as one dataset via ``mergeSchema`` —
    the additive-column evolution every long-lived landing zone hits.
    Old rows surface the new column as NULL; column order is normalized
    by a final select.  Type CHANGES (int→string etc.) are deliberately
    out of scope: mergeSchema fails fast on incompatible types, which is
    the correct production behavior (schema registry migration, not a
    silent cast).  Spark's parquet reader does schema reconciliation
    per-file at scale — no rewrite of old batches."""
    base = os.path.join(SCRATCH, "schema_evolution", os.path.basename(sf_dir))
    orders = t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch=1"), os.path.join(base, "batch=2")
    )
    return merged.select("o_orderkey", "o_totalprice", "o_orderpriority")


@register(
    "src_csv_badrecords",
    """SELECT o_orderkey, o_orderstatus,
              CAST(round(CAST(o_totalprice AS DECIMAL(38,6)), 2) AS DOUBLE)
                  AS o_totalprice
       FROM orders WHERE o_orderkey % 97 <> 0""",
)
def src_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingest with corrupt-record quarantine: a landing
    file where ~1% of lines are malformed (wrong arity, junk numerics)
    must load WITHOUT failing the job, parse every good line, and
    surface the bad ones via ``columnNameOfCorruptRecord`` for the
    quarantine path — the production alternative to FAILFAST (die on
    line 1) and DROPMALFORMED (silently lose data, unauditable).  The
    query emits the clean rows; the corrupt rows are asserted counted
    in tests.  Oracle: the known-good subset recomputed from parquet.

    Sharp edge (tested): corrupt detection runs against the PRUNED
    schema — consumers must keep the full data projection (or cache)
    when filtering on the corrupt column, else column pruning re-parses
    only the selected fields and short rows silently un-mark."""
    base = os.path.join(SCRATCH, "csv_badrecords", os.path.basename(sf_dir))
    orders = t(spark, sf_dir, "orders")
    lines = orders.select(
        F.when(
            F.col("o_orderkey") % 97 == 0,
            # malformed: wrong arity AND a non-numeric price fragment
            F.concat_ws(",", F.col("o_orderkey"), F.lit("garbage|||")),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("o_orderkey"),
                F.col("o_orderstatus"),
                F.round(F.col("o_totalprice").cast("decimal(38,6)"), 2),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(base)
    parsed = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double, "
            "_corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(base)
    )
    return (
        parsed.filter(F.col("_corrupt").isNull())
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "fn_surrogate_key",
    """SELECT o_orderkey,
              upper(substr(md5('sk|' || o_custkey || '|' || o_orderpriority),
                           1, 16)) AS order_sk
       FROM orders""",
)
def fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate keys (`functions/naming.py::surrogate_key`):
    content-derived md5 keys over composite natural keys — reproducible
    on any cluster/engine, unlike monotonically_increasing_id."""
    from kusuma_metamorph_etl_spark.functions.naming import surrogate_key

    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        surrogate_key("o_custkey", "o_orderpriority").alias("order_sk"),
    )
