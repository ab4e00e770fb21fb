"""Physical-plan regression tests: the scale properties the engine
promises — predicate pushdown, column pruning, broadcast dims, no
sort-merge joins in the marts — asserted against the executed plan, so a
refactor that silently loses one fails CI."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.queries.marts import (
    mart_customer_sales_report,
    mart_supplier_performance,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def supplier_plan(spark, sf_small) -> str:
    return _plan(mart_supplier_performance(spark, sf_small))


def test_filter_pushed_to_scan(supplier_plan):
    # The cancelled-sales filter must reach the parquet scan.
    assert "PushedFilters" in supplier_plan
    assert "IsNotNull(l_suppkey)" in supplier_plan


def test_columns_pruned_at_scan(supplier_plan):
    # The fact scan must read only the needed columns, never the full row
    # (l_comment is the widest lineitem column — its absence is the tell).
    assert "l_comment" not in supplier_plan
    assert "ReadSchema" in supplier_plan


def test_fil_scalar_family_pushes_every_branch(spark, sf_small):
    """The r12 consolidated filter row must not weaken the retired rows'
    scan discipline: all three branch predicates reach their parquet
    scans and no branch reads the full orders row."""
    from kusuma_metamorph_etl_spark.queries.core import fil_scalar_family

    plan = _plan(fil_scalar_family(spark, sf_small))
    assert "PushedFilters" in plan
    assert "Not(EqualTo(o_orderstatus,F))" in plan
    assert "In(o_orderpriority" in plan
    assert "GreaterThan(o_totalprice,200000" in plan
    assert "o_comment" not in plan  # pruning survives the union


def test_win_rank_family_single_exchange(spark, sf_small):
    """The r13 consolidated ranking row must not weaken the retired
    rows' shuffle discipline: both window specs share the
    o_orderpriority partition key, so the physical plan carries exactly
    ONE Exchange (two sorts over one shuffle) and — unlike the retired
    global-sort `win_ntile` — no single-partition global window."""
    from kusuma_metamorph_etl_spark.queries.core import win_rank_family

    plan = _plan(win_rank_family(spark, sf_small))
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan


def test_supplier_mart_joins_broadcast(supplier_plan):
    assert "BroadcastHashJoin" in supplier_plan
    assert "SortMergeJoin" not in supplier_plan


def test_customer_report_single_fact_shuffle(spark, sf_small):
    # Build with the intermediate-share boundary OFF: the lazy
    # localCheckpoint (the default) truncates the visible plan at the
    # boundary, hiding the dim joins this test exists to inspect.
    from kusuma_metamorph_etl_spark.marts.customer_sales_report import (
        customer_sales_report,
    )
    from kusuma_metamorph_etl_spark.queries.marts import (
        RUN_DATE,
        RUN_TS,
        customers_from_customer,
        products_from_part,
        sales_with_customers,
    )
    from kusuma_metamorph_etl_spark.sources.catalog import load_table

    df = customer_sales_report(
        sales_with_customers(
            load_table(spark, sf_small, "lineitem"),
            load_table(spark, sf_small, "orders"),
        ),
        products_from_part(load_table(spark, sf_small, "part")),
        customers_from_customer(load_table(spark, sf_small, "customer")),
        run_date=RUN_DATE,
        run_ts=RUN_TS,
        persist_intermediate=False,
    )
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    # All dim joins broadcast; the only exchanges are the rank-map
    # aggregation and the per-customer window partitioning.
    assert plan.count("BroadcastHashJoin") >= 3


def test_whole_stage_codegen_active(spark, sf_small):
    # Expressions stay inside codegen spans (JVM-side, not interpreted).
    # AQE only materializes codegen stage markers in the FINAL plan, so
    # run the query first.
    df = mart_supplier_performance(spark, sf_small)
    df.collect()  # a write would clone the QueryExecution; collect finalizes this one
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # Codegen'd operators carry the "*(stageId)" prefix in plan strings.
    assert "*(" in plan


def test_text_ops_are_narrow(spark, sf_small):
    # Chunking and repetition are per-row projections: any Exchange in the
    # plan means someone introduced an accidental shuffle.
    from kusuma_metamorph_etl_spark.queries.ext import txt_chunk, txt_repetition

    for q in (txt_chunk, txt_repetition):
        plan = _plan(q(spark, sf_small))
        assert "Exchange" not in plan, q.__name__


def test_deterministic_sample_prunes_columns(spark, sf_small):
    # The hash filter is computed, not pushable — but column pruning must
    # still reach the scan (only the 3 selected columns are read).
    from kusuma_metamorph_etl_spark.queries.ext import samp_deterministic

    plan = _plan(samp_deterministic(spark, sf_small))
    assert "o_comment" not in plan
    assert "Exchange" not in plan


def test_tfidf_broadcasts_corpus_size(spark, sf_small):
    # The single-row corpus count must join as a broadcast, and the
    # term-frequency/document-frequency join must not degrade to a
    # cartesian or sort-merge on this shape.
    from kusuma_metamorph_etl_spark.queries.ext import txt_tfidf

    plan = _plan(txt_tfidf(spark, sf_small))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_percent_rank_range_path_scales(spark, sf_small, probed_rank):
    # The continuous-key percent_rank path must not broadcast an O(n) rank
    # map and must not sort all rows in one task: the only broadcast is the
    # <=P-row bucket-offset table, and the big window is partitioned by the
    # quantile bucket.  A SinglePartition exchange may appear only in the
    # offsets branch (<=P rows).
    from kusuma_metamorph_etl_spark.operators.windows import global_percent_rank

    orders = spark.read.parquet(f"{sf_small}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    plan = _plan(
        global_percent_rank(orders, "o_totalprice", out_col="pr", descending=True)
    )
    assert plan.count("BroadcastExchange") == 1  # offsets only, never the map
    assert "windowspecdefinition(__bkt" in plan  # rank window is partitioned
    assert plan.count("Exchange SinglePartition") == 1  # offsets branch only
    assert "SortMergeJoin" not in plan  # no map-back join at all


def test_customer_mart_uses_range_percent_rank(spark, sf_small, probed_rank):
    # The mart ranks near-continuous SALE_AMOUNT: it must go through the
    # bucketed path (no O(n) broadcast rank map, no global value window).
    plan = _plan(mart_customer_sales_report(spark, sf_small))
    assert "__bkt" in plan
    assert "windowspecdefinition(SALE_AMOUNT" not in plan


def test_funnel_one_scan_reads_fact_once(spark, sf_small):
    # The whole point of funnel_one_scan: exactly ONE parquet scan of the
    # events fact, where the k-join twin pays one per stage.
    from kusuma_metamorph_etl_spark.operators.events import funnel, funnel_one_scan

    events = spark.read.parquet(f"{sf_small}/events.parquet")
    stages = ["view", "click", "purchase"]
    one = _plan(funnel_one_scan(events, stages))
    k = _plan(funnel(events, stages))
    assert one.count("Scan parquet") == 1
    # The k-join twin pays AT LEAST one scan per stage (in practice more:
    # each stage join re-evaluates the accumulated funnel lineage — 7
    # scans at 3 stages).
    assert k.count("Scan parquet") >= len(stages)


def test_hamming_blocking_never_cross_joins(spark, sf_small):
    # Pigeonhole blocking must stay an equi-join on (chunk_idx, chunk_val)
    # for BOTH consumers (SimHash text, pHash images) — a cartesian or
    # nested-loop join here is the all-pairs plan the operator exists to
    # avoid.
    from kusuma_metamorph_etl_spark.operators import multimodal
    from kusuma_metamorph_etl_spark.operators.dedup import simhash_near_dups

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(50)
    text_plan = _plan(simhash_near_dups(docs, bits=48, max_hamming=3))
    imgs = multimodal.attach_payload(
        docs, multimodal.synthesize_ppm, "image/ppm"
    ).select("doc_id", "payload")
    img_plan = _plan(multimodal.phash_near_dups(imgs, max_hamming=2))
    for plan in (text_plan, img_plan):
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_phash_payloads_never_shuffle(spark, sf_small):
    # Binary payloads must be projected away before the blocking join:
    # no Exchange in the plan may carry the payload column.
    from kusuma_metamorph_etl_spark.operators import multimodal

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(50)
    imgs = multimodal.attach_payload(
        docs, multimodal.synthesize_ppm, "image/ppm"
    ).select("doc_id", "payload")
    plan = _plan(multimodal.phash_near_dups(imgs, max_hamming=2))
    for segment in plan.split("Exchange")[1:]:
        assert "payload" not in segment.split("\n")[0]


@pytest.mark.parametrize(
    "row, nodes, synths",
    [
        (
            "mm_augment",
            {"ArrowEvalPython": 1, "MapInPandas": 2},
            {"synthesize_png": 1},
        ),
        (
            "mm_transcode",
            {"ArrowEvalPython": 5, "MapInPandas": 3},
            # synthesize_ppm twice: one of the four corpus sources, and
            # the independent source-mean witness
            {
                "synthesize_ppm": 2,
                "synthesize_png": 1,
                "synthesize_gif": 1,
                "synthesize_jpeg": 1,
            },
        ),
    ],
)
def test_shared_payload_frames_synthesize_once(
    spark, sf_small, monkeypatch, row, nodes, synths
):
    # Both rows share() the frame that feeds two join branches; without
    # it each branch re-runs the payload synthesis (mm_augment) or the
    # whole synthesize -> transcode chain (mm_transcode).  Counted over
    # the row's plan plus the plans of the frames it shares, every
    # synthesis UDF appears once per attach_payload call.
    from collections import Counter

    from kusuma_metamorph_etl_spark.plans.share import share
    from kusuma_metamorph_etl_spark.queries import ext_mm

    shared = []

    def recording_share(df, eager=False):
        shared.append(df)
        return share(df, eager)

    monkeypatch.setattr(ext_mm, "share", recording_share)
    final = getattr(ext_mm, row)(spark, sf_small)
    # a shared frame already run by AQE prints its final and initial
    # plans; count the final one
    lines = [
        line.lstrip(" :+-")
        for df in (final, *shared)
        for line in _plan(df).split("== Initial Plan ==")[0].splitlines()
    ]
    assert len(shared) == 1
    node_counts = Counter(
        line.split(" ")[0]
        for line in lines
        if line.startswith(("ArrowEvalPython", "MapInPandas"))
    )
    assert node_counts == nodes
    synth_counts = Counter(
        name
        for line in lines
        if line.startswith("ArrowEvalPython")
        for name in re.findall(r"(synthesize_\w+)\(", line)
    )
    assert synth_counts == synths


@pytest.mark.parametrize(
    "row, n_shared, nodes",
    [
        pytest.param(
            "dedup_semantic",
            1,
            {"Exchange": 2, "MapInPandas": 1, "ArrowEvalPython": 1},
            id="dedup_semantic",
        ),
        pytest.param(
            "dedup_minhash_lsh", 0, {"Exchange": 2}, id="dedup_minhash_lsh"
        ),
        pytest.param(
            "dedup_embedding_lsh",
            1,
            {"Exchange": 3, "MapInPandas": 2},
            id="dedup_embedding_lsh",
        ),
    ],
)
def test_candidate_pass_runs_once(
    spark, sf_small, monkeypatch, row, n_shared, nodes
):
    # The semantic and embedding-LSH rows share() the cell-assignment /
    # signature frame that feeds both sides of the candidate self-join;
    # without it each side re-runs the Python pass over the whole corpus.
    # Counted over the row's plan plus the plans of the frames it shares,
    # a second pass shows up as one more MapInPandas or ArrowEvalPython
    # node, and a lost shared exchange as one more Exchange.
    from collections import Counter

    from kusuma_metamorph_etl_spark.operators import dedup
    from kusuma_metamorph_etl_spark.plans.share import share
    from kusuma_metamorph_etl_spark.queries import ext_dedup

    shared = []

    def recording_share(df, eager=False):
        shared.append(df)
        return share(df, eager)

    monkeypatch.setattr(dedup, "share", recording_share)
    final = getattr(ext_dedup, row)(spark, sf_small)
    lines = [
        line.lstrip(" :+-")
        for df in (final, *shared)
        for line in _plan(df).split("== Initial Plan ==")[0].splitlines()
    ]
    assert len(shared) == n_shared
    node_counts = Counter(
        line.split(" ")[0]
        for line in lines
        if line.startswith(("ArrowEvalPython", "MapInPandas", "Exchange "))
    )
    assert node_counts == nodes


def test_interval_overlap_is_equi_join(spark, sf_small):
    # The chunked overlap join must plan as a hash equi-join on
    # (keys, chunk) — a nested-loop or cartesian means the range condition
    # leaked into the join itself.
    from kusuma_metamorph_etl_spark.operators.joins import interval_overlap_join

    events = spark.read.parquet(f"{sf_small}/events.parquet")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cs"), (F.col("ts") + half_hour).alias("ce")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ps"), (F.col("ts") + half_hour).alias("pe")
    )
    plan = _plan(
        interval_overlap_join(
            clicks, purchases, ("cs", "ce"), ("ps", "pe"), on=["user_id"]
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__chunk" in plan


def test_zorder_layout_skips_row_groups(spark, sf_small, tmp_path):
    """Z-order clustering must give parquet row groups tight min/max boxes
    on BOTH interleaved columns: for a two-sided range predicate, far
    fewer row groups overlap the predicate box than with the natural
    layout — the footer-stats measure of multi-column data skipping."""
    import glob

    import pyarrow.parquet as pq

    from kusuma_metamorph_etl_spark.operators.partitioning import cluster_by_zorder

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    li.repartition(16).write.parquet(plain)
    cluster_by_zorder(li, ["l_partkey", "l_suppkey"], bits=4, num_files=16).write.parquet(zed)

    # Content is a pure reordering.
    assert (
        spark.read.parquet(zed).groupBy().sum("l_quantity").first()[0]
        == li.groupBy().sum("l_quantity").first()[0]
    )

    pk_hi = li.agg(F.max("l_partkey")).first()[0]
    sk_hi = li.agg(F.max("l_suppkey")).first()[0]
    box = (1, pk_hi // 4, 1, sk_hi // 4)  # a 1/16-area corner box

    def overlap_fraction(path):
        total = hit = 0
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                md = meta.row_group(rg)
                stats = {
                    md.column(i).path_in_schema: md.column(i).statistics
                    for i in range(md.num_columns)
                }
                pk, sk = stats["l_partkey"], stats["l_suppkey"]
                total += 1
                if (
                    pk.min <= box[1] and pk.max >= box[0]
                    and sk.min <= box[3] and sk.max >= box[2]
                ):
                    hit += 1
        return hit / total

    plain_frac, zed_frac = overlap_fraction(plain), overlap_fraction(zed)
    # Natural layout: essentially every row group spans the box.  Z-order:
    # only the corner's neighborhood does.
    assert zed_frac <= 0.5 * plain_frac, (plain_frac, zed_frac)


def test_session_stats_single_user_keyed_exchange(spark, sf_small):
    """Sessionize window + session rollup both key on user: one exchange
    moves the fact, the aggregation reuses the window's partitioning."""
    from kusuma_metamorph_etl_spark.operators.events import session_stats
    from kusuma_metamorph_etl_spark.sources.catalog import load_table

    events = load_table(spark, sf_small, "events")
    plan = _plan(session_stats(events))
    # one hashpartitioning exchange on user_id feeds both operators
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(exchanges) == 1, plan.count("Exchange")


def test_bloom_probe_is_narrow_on_the_fact(spark, sf_small):
    """The probe must be a pure map over the fact scan — no shuffle, no
    join on the fact side before the membership filter."""
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.sketches import (
        bloom_probe,
        bloom_sketch,
    )

    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    dim = (
        spark.read.parquet(f"{sf_small}/customer.parquet")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    sk = bloom_sketch(dim, "o_custkey", n_bits=1 << 14)
    kept = bloom_probe(sk, orders, "o_custkey", n_bits=1 << 14).filter(
        F.col("maybe_present")
    )
    plan = _plan(kept)
    assert "Exchange" not in plan
    assert "Join" not in plan
    # query-scale bitsets probe with native getbit/element_at expressions
    # — no Python boundary on the fact scan at all (r18, guide §4.1)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bloom_prefilter_references_bitset_literal_once(spark, sf_small):
    # r19 (ADVICE r18): the bitset array literal must appear exactly ONCE
    # in the executed plan.  Two shapes used to duplicate it: the
    # per-hash conjunct chain (n_hashes copies, one per getbit) and the
    # withColumn+filter prefilter (optimizer pushes a full second copy of
    # the expression below the projection).  forall + a direct filter
    # predicate leave one forall/getbit — one literal.
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.sketches import (
        bloom_prefilter_join,
    )

    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    dim = (
        spark.read.parquet(f"{sf_small}/customer.parquet")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    plan = _plan(bloom_prefilter_join(orders, dim, "o_custkey", n_bits=1 << 14))
    # One membership expression on the fact filter; constraint
    # propagation infers a twin onto the dim side of the equi-join (it
    # did for the old shape too).  The pin is: at most one copy per
    # side, never the old per-hash/per-projection fan-out (5+ per site).
    assert 1 <= plan.count("getbit") <= 2, plan.count("getbit")
    fact_subtree = plan.split("FileScan", 1)[0]
    assert fact_subtree.count("getbit") <= 1, fact_subtree


def test_collocations_totals_ride_as_broadcast(spark, sf_small):
    from kusuma_metamorph_etl_spark.operators.text import collocations

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _plan(collocations(docs, min_count=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_seasonal_profile_has_no_forced_broadcast_hint(spark, sf_small):
    """The profile frames are key-cardinality-sized; the plan must leave
    join strategy to AQE (no ResolvedHint baked into the logical plan)."""
    from pyspark.sql import functions as F

    from kusuma_metamorph_etl_spark.operators.timeseries import seasonal_profile

    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("k"), F.to_date("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).alias("v"))
    logical = (
        seasonal_profile(daily, ["k"], "d", "v")
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical


def test_shipping_priority_broadcasts_and_take_ordered(spark, sf_small):
    """VERDICT r8 #6: the TPC-H Q3-shaped pure-SQL entry must (a) turn
    ORDER BY/LIMIT into TakeOrderedAndProject — never a global sort —
    (b) broadcast the filtered customer dim instead of sort-merge
    joining it, and (c) push the segment filter into the customer scan."""
    from kusuma_metamorph_etl_spark.queries.ext import sql_shipping_priority

    df = sql_shipping_priority(spark, sf_small)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_and_q10_broadcast_with_pushed_filters(spark, sf_small):
    """The Q5/Q10-shaped SQL entries keep the Q3 plan contract: dims
    broadcast (no SortMergeJoin at test scale), selective filters reach
    the scans, Q10's top-20 compiles to TakeOrderedAndProject."""
    from kusuma_metamorph_etl_spark.queries.ext import (
        sql_local_supplier_volume,
        sql_returned_items,
    )

    q5 = _plan(sql_local_supplier_volume(spark, sf_small))
    assert "BroadcastHashJoin" in q5
    assert "SortMergeJoin" not in q5
    assert "EqualTo(r_name,ASIA)" in q5
    assert "GreaterThanOrEqual(o_orderdate" in q5  # date range pushed

    q10 = _plan(sql_returned_items(spark, sf_small))
    assert "TakeOrderedAndProject" in q10
    assert "BroadcastHashJoin" in q10
    assert "SortMergeJoin" not in q10
    assert "EqualTo(l_returnflag,R)" in q10


def test_q4_q14_q18_plan_contracts(spark, sf_small):
    """The r9 SQL entries keep the family's plan contracts: Q4's EXISTS
    compiles to a LEFT SEMI join (never a dedup-shuffle rewrite), Q14
    broadcasts the part dim with the shipdate range pushed to the scan,
    Q18's agg-HAVING back-join broadcasts and its top-20 compiles to
    TakeOrderedAndProject."""
    from kusuma_metamorph_etl_spark.queries.ext import (
        sql_large_volume_customers,
        sql_late_shipment_priority,
        sql_promo_revenue,
    )

    q4 = _plan(sql_late_shipment_priority(spark, sf_small))
    assert "LeftSemi" in q4
    assert "GreaterThanOrEqual(o_orderdate" in q4  # quarter filter pushed

    q14 = _plan(sql_promo_revenue(spark, sf_small))
    assert "BroadcastHashJoin" in q14
    assert "SortMergeJoin" not in q14
    assert "GreaterThanOrEqual(l_shipdate" in q14

    q18 = _plan(sql_large_volume_customers(spark, sf_small))
    assert "TakeOrderedAndProject" in q18
    assert "BroadcastHashJoin" in q18
    assert "SortMergeJoin" not in q18


def test_q21_semi_anti_no_cartesian(spark, sf_small):
    """Q21-shape contract (sql_waiting_orders): the correlated EXISTS
    compiles to a LEFT SEMI and the NOT EXISTS to a LEFT ANTI join on
    l_orderkey — three passes over the fact as hash joins, never a
    cartesian/nested-loop corner, with the top-100 as
    TakeOrderedAndProject."""
    from kusuma_metamorph_etl_spark.queries.ext import sql_waiting_orders

    plan = _plan(sql_waiting_orders(spark, sf_small))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    # finished-orders filter reaches the orders scan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_q21_skew_story_is_armed(spark, sf_small):
    """Skew-audit contract for the Q21 shape at scale (VERDICT r11 Next
    #7): sql_waiting_orders replays lineitem three times keyed on
    l_orderkey, so at 100x a hot order key triples.  The engine's
    answer is AQE skew-join splitting — runtime-detected, so the
    local sf0.001 plan carries no isSkew marker (no skew exists to
    detect); what IS assertable, and what this test pins, is the
    arming: both adaptive flags on in the engine session, and the
    semi/anti tree wrapped in AdaptiveSparkPlan so every l_orderkey
    shuffle join is eligible for runtime splitting.  The manual
    fallback for sources AQE can't split (`operators/skew.py::
    salted_join`) has its own contract tests."""
    from kusuma_metamorph_etl_spark.queries.ext import sql_waiting_orders

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    plan = _plan(sql_waiting_orders(spark, sf_small))
    assert "AdaptiveSparkPlan" in plan


def test_q13_q17_q22_plan_contracts(spark, sf_small):
    """The r11 SQL entries: Q13's histogram keeps the LEFT OUTER join
    (priority predicate rides the join condition, not a filter that
    would re-inner it), Q17's correlated scalar-AVG de-correlates into a
    per-key aggregate + equi-join (no per-row re-scan, no nested loop
    over the fact), Q22 anti-joins the filtered orders subquery.  None
    may plan a cartesian corner."""
    from kusuma_metamorph_etl_spark.queries.ext import (
        sql_customer_distribution,
        sql_sales_opportunity,
        sql_small_qty_revenue,
    )

    q13 = _plan(sql_customer_distribution(spark, sf_small))
    assert "LeftOuter" in q13
    assert "CartesianProduct" not in q13

    q17 = _plan(sql_small_qty_revenue(spark, sf_small))
    assert "CartesianProduct" not in q17
    # de-correlation materializes as an aggregate feeding a hash join,
    # never a nested-loop re-scan of lineitem per outer row
    assert "BroadcastNestedLoopJoin" not in q17
    assert q17.count("HashAggregate") >= 2

    q22 = _plan(sql_sales_opportunity(spark, sf_small))
    assert "LeftAnti" in q22
    assert "CartesianProduct" not in q22
    assert "EqualTo(o_orderpriority,1-URGENT)" in q22  # filter pushed


def test_q2_q11_q16_q20_plan_contracts(spark, sf_small):
    """The four shapes that complete the TPC-H catalog keep the family's
    plan discipline: Q2's correlated MIN de-correlates into a per-part
    aggregate joined back (never a per-row re-scan), with every
    dimension hop broadcast; Q11's global-total threshold is a reused
    scalar subquery, not a join; Q16's NOT IN compiles to a (null-aware)
    LEFT ANTI against the tiny exclusion list; Q20's nested INs compile
    to LEFT SEMIs with the correlated scalar-SUM de-correlated into a
    two-key aggregate equi-join.  None may plan a cartesian or
    nested-loop corner."""
    from kusuma_metamorph_etl_spark.queries.ext import (
        sql_concentrated_suppliers,
        sql_min_cost_supplier,
        sql_part_supplier_counts,
        sql_part_value_share,
    )

    q2 = _plan(sql_min_cost_supplier(spark, sf_small))
    assert "CartesianProduct" not in q2
    assert "BroadcastNestedLoopJoin" not in q2
    assert q2.count("BroadcastHashJoin") >= 4  # both dim chains broadcast
    assert q2.count("HashAggregate") >= 2  # de-correlated MIN aggregate
    assert "TakeOrderedAndProject" in q2  # LIMIT 100 never a global sort

    q11 = _plan(sql_part_value_share(spark, sf_small))
    assert "CartesianProduct" not in q11
    assert "BroadcastNestedLoopJoin" not in q11
    assert "Subquery" in q11 or "subquery" in q11  # threshold is scalar
    assert "BroadcastHashJoin" in q11

    q16 = _plan(sql_part_supplier_counts(spark, sf_small))
    assert "LeftAnti" in q16  # NOT IN -> null-aware anti join
    assert "CartesianProduct" not in q16
    assert "BroadcastNestedLoopJoin" not in q16

    q20 = _plan(sql_concentrated_suppliers(spark, sf_small))
    assert "LeftSemi" in q20  # both INs
    assert "CartesianProduct" not in q20
    assert "BroadcastNestedLoopJoin" not in q20
    assert q20.count("HashAggregate") >= 2  # de-correlated scalar SUM
    # red-part prefix filter reaches the part scan
    assert "StartsWith(p_name,red)" in q20 or "p_name" in q20


def test_q6_q7_q8_q9_q12_plan_contracts(spark, sf_small):
    """The last five catalog shapes.  Q6 is the scan-discipline litmus:
    every predicate pushed into the parquet scan, the ReadSchema pruned
    to the four referenced columns, a partial+final aggregate pair and
    exactly ONE exchange (the final gather) — any second shuffle means
    the scan-side query grew a join or a wrong grouping.  Q7/Q8 join
    nation twice under different roles and Q9 carries an infix LIKE —
    all dims must broadcast with no cartesian/nested-loop corner; Q12's
    pivot-by-CASE keeps the date cap pushed to the lineitem scan."""
    from kusuma_metamorph_etl_spark.queries.ext import (
        sql_forecast_revenue,
        sql_market_share,
        sql_priority_lines,
        sql_product_profit,
        sql_volume_shipping,
    )

    q6 = _plan(sql_forecast_revenue(spark, sf_small))
    assert q6.count("Exchange") == 1  # final gather only
    assert q6.count("HashAggregate") == 2  # partial + final
    # executedPlan().toString() truncates long PushedFilters lists;
    # the formatted explain carries the full scan node
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        sql_forecast_revenue(spark, sf_small).explain("formatted")
    q6f = buf.getvalue()
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert pushed in q6f, f"{pushed} not pushed to the scan"
    # column pruning: the scan reads the four referenced columns only
    import re

    scan_cols = re.search(r"ReadSchema: struct<([^>]*)>", q6f).group(1)
    assert scan_cols.count(",") == 3, scan_cols

    for name, fn in (
        ("q7", sql_volume_shipping),
        ("q8", sql_market_share),
        ("q9", sql_product_profit),
        ("q12", sql_priority_lines),
    ):
        plan = _plan(fn(spark, sf_small))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name  # all dims broadcast
        assert "BroadcastHashJoin" in plan, name
    q12 = _plan(sql_priority_lines(spark, sf_small))
    assert "LessThan(l_shipdate" in q12  # date cap pushed to the scan


def test_salted_join_spreads_without_extra_shuffle_of_small_side(spark, sf_small):
    """The salted join's big side must NOT gain an extra exchange beyond
    the join's own shuffle, and the replicated small side stays a narrow
    explode (generate) — no pre-join aggregation or window."""
    from kusuma_metamorph_etl_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    part = spark.read.parquet(f"{sf_small}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    plan = _plan(salted_join(li, part, on=["p_partkey"], buckets=8))
    assert "Generate explode" in plan  # replication is a narrow fan-out
    assert "Window" not in plan


def test_zorder_minmax_key_is_pure_expression(spark, sf_small):
    """The min-max z-key must be computed by projections over a
    broadcast stats row — no UDF (BatchEvalPython), no shuffle beyond
    the tiny aggregate, so it composes into write paths for free."""
    from kusuma_metamorph_etl_spark.operators import layout

    part = spark.read.parquet(f"{sf_small}/part.parquet")
    plan = _plan(
        layout.zorder_minmax_key(part, ["p_size", "p_retailprice"], bits=6)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # single-row stats broadcast


def test_q19_q15_plan_contracts(spark, sf_small):
    """Q19's three-branch disjunction must still broadcast the dim and
    push a usable residual to the scans (the brand IN-set reaches the
    part scan as an Or chain); Q15's scalar-subquery max reuses the CTE
    aggregate and broadcasts the supplier dim."""
    from kusuma_metamorph_etl_spark.queries.ext import (
        sql_disjunctive_revenue,
        sql_top_supplier,
    )

    q19 = _plan(sql_disjunctive_revenue(spark, sf_small))
    assert "BroadcastHashJoin" in q19
    assert "SortMergeJoin" not in q19
    assert "Brand#1" in q19 and "PushedFilters" in q19

    q15 = _plan(sql_top_supplier(spark, sf_small))
    assert "BroadcastHashJoin" in q15
    assert "SortMergeJoin" not in q15
    assert "GreaterThanOrEqual(l_shipdate" in q15  # quarter filter pushed


def test_curate_domains_broadcasts_kept_list(spark, sf_small):
    """The domain-curation filter-back must broadcast the kept-domain
    list onto the docs (r15): a sort-merge or shuffled-hash join here
    would shuffle the full doc side for a tiny domain table."""
    from kusuma_metamorph_etl_spark.queries.ext_marts import (
        mart_domain_curation,
    )

    plan = _plan(mart_domain_curation(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    # LeftSemi join back, never an inner join materializing stats cols.
    assert "LeftSemi" in plan


def test_exact_dedup_survivor_single_aggregate_no_window(spark, sf_small):
    """survivor_by dedup must stay ONE map-side-combinable aggregate —
    a Window rewrite would sort every group and lose partial
    aggregation (the oracle uses row_number; the engine must not)."""
    from kusuma_metamorph_etl_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").withColumn(
        "q", F.length("text").cast("double")
    )
    plan = _plan(dedup.exact_dedup(docs, survivor_by="q"))
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_mixture_sample_prunes_unnamed_groups_at_scan(spark, sf_small):
    """The mixture whitelist must reach the parquet scan: only named
    groups' rows may enter the window shuffle (r15 self-review — the
    unpruned form shuffled every group just to drop it at rn <= 0)."""
    from kusuma_metamorph_etl_spark.queries.ext_quality import (
        samp_domain_mix,
    )

    plan = _plan(samp_domain_mix(spark, sf_small))
    assert "PushedFilters" in plan
    assert "In(lang" in plan


def test_ccnet_buckets_broadcasts_thresholds(spark, sf_small):
    """The per-language tercile frame (one row per language) must
    broadcast back onto the scores — labeling may never shuffle the doc
    side (r15)."""
    from kusuma_metamorph_etl_spark.queries.ext_text import (
        txt_ccnet_buckets,
    )

    plan = _plan(txt_ccnet_buckets(spark, sf_small))
    assert "BroadcastHashJoin" in plan


def test_maxsim_ann_broadcasts_everywhere_no_smj(spark, sf_small):
    """The ANN-prefiltered MaxSim row (r16) must keep every join
    broadcast: the candidate list (|q|*35 rows) and the query tokens
    broadcast onto the doc-token scan, the IVF centroid assignment is a
    map — a SortMergeJoin or cartesian anywhere means a fact-side
    shuffle crept into the shortlist path."""
    from kusuma_metamorph_etl_spark.queries.ext_sim import sim_maxsim_ann

    plan = _plan(sim_maxsim_ann(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_paired_curation_pushes_gates_before_output(spark, sf_small):
    """mart_paired_curation (r16) must stay equi-join only: the planted
    mismatch pairing, the embedding joins, and the decode-features join
    are all id-keyed — any nested-loop/cartesian means the agreement
    compare degenerated into a cross join."""
    from kusuma_metamorph_etl_spark.queries.ext_marts import (
        mart_paired_curation,
    )

    plan = _plan(mart_paired_curation(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rfm_ntiles_are_not_single_partition_windows(spark, sf_small, probed_rank):
    # r19 (VERDICT r18 Next #3): the three RFM quintiles and the
    # engagement tier must NOT run Spark's ntile in an unpartitioned
    # window (one task sorting the whole customer/user grain).  After
    # global_ntile, no native ntile window remains at all, and the
    # monetary score's continuous-key regime shows the quantile-bucketed
    # row_number window.
    from kusuma_metamorph_etl_spark.queries.ext_marts import (
        mart_rfm,
        mart_user_engagement,
    )

    plan = _plan(mart_rfm(spark, sf_small))
    assert "ntile(" not in plan
    assert "windowspecdefinition(__bkt" in plan  # monetary: range regime
    plan2 = _plan(mart_user_engagement(spark, sf_small))
    assert "ntile(" not in plan2


def test_sessionize_stream_prunes_input_columns(spark, sf_small):
    # r19 (guide §4.1): applyInPandasWithState ships every input column
    # to the Python handler; the operator must project to the columns
    # the handler reads before the user-key shuffle — the fat `props`
    # payload (and value/event_type for sessionize) must not appear
    # anywhere in the analyzed streaming plan.
    from kusuma_metamorph_etl_spark.streaming.stateful import (
        sessionize_stream,
    )
    from kusuma_metamorph_etl_spark.streaming.windows import stream_events

    out = sessionize_stream(stream_events(spark, sf_small), gap_seconds=1800)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in analyzed
    # the projection sits below the stateful operator, so the payload
    # columns are pruned from the shuffle + Arrow boundary
    head = analyzed.split("Project", 1)[0]
    assert "props" not in head


@pytest.mark.parametrize("ttl", ["1 hour", None], ids=["ttl", "no_ttl"])
@pytest.mark.parametrize("op", ["first_event", "dedup_window"])
def test_stateful_streams_prune_input_columns(spark, sf_small, op, ttl):
    # The same projection pin for the two other stateful operators, with
    # and without the TTL watermark between the operator and the
    # projection: `props` never reaches the Python handler, and the
    # watermark is there exactly when a TTL needs its clock.
    from kusuma_metamorph_etl_spark.streaming import stateful
    from kusuma_metamorph_etl_spark.streaming.windows import stream_events

    op_fn = getattr(stateful, f"{op}_stream")
    out = op_fn(stream_events(spark, sf_small), state_ttl=ttl)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in analyzed
    head, below = analyzed.split("Project", 1)
    assert "props" not in head
    assert "props" not in below.splitlines()[0]  # the projection itself
    assert ("EventTimeWatermark" in head) == (ttl is not None)
