"""[EXT] relational-extension queries (as-of/range/fuzzy joins,
graph algorithms, layout/zonemaps, SCD/CDC, extra sources and window
shapes) — split from ``ext.py`` (r13)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.registry import register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.streaming.windows import session_agg
from kusuma_metamorph_etl_spark.queries.ext_common import _n

@register(
    "fn_json_extract",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
       FROM events""",
)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON value extraction from the event props column (§2.8 gap — the
    reference flattens JSON driver-side, `transform_utils.py:69`)."""
    events = t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )

@register(
    "proj_unpivot",
    """SELECT n_nationkey, 'name' AS attr, n_name AS value FROM nation
       UNION ALL
       SELECT n_nationkey, 'region_key' AS attr,
              CAST(n_regionkey AS VARCHAR) AS value
       FROM nation""",
)
def proj_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack() — one generated row per attribute,
    no shuffle."""
    nation = t(spark, sf_dir, "nation")
    return nation.selectExpr(
        "n_nationkey",
        "stack(2, 'name', n_name, 'region_key', CAST(n_regionkey AS STRING))"
        " AS (attr, value)",
    )

@register(
    "scd2_merge",
    """WITH dim AS (
         SELECT s_suppkey AS id, s_nationkey AS nation FROM supplier),
       upd AS (
         SELECT s_suppkey AS id,
                CASE WHEN s_suppkey % 3 = 0 THEN s_nationkey + 1
                     ELSE s_nationkey END AS nation
         FROM supplier WHERE s_suppkey % 2 = 0
         UNION ALL
         SELECT s_suppkey + 100000 AS id, s_nationkey AS nation
         FROM supplier WHERE s_suppkey % 7 = 0),
       changed AS (
         SELECT d.id, d.nation AS old_nation, u.nation AS new_nation
         FROM dim d JOIN upd u USING (id)
         WHERE d.nation IS DISTINCT FROM u.nation)
       SELECT id, old_nation AS nation,
              DATE '2024-01-01' AS valid_from, DATE '2024-02-01' AS valid_to,
              FALSE AS is_current
       FROM changed
       UNION ALL
       SELECT id, new_nation AS nation,
              DATE '2024-02-01', DATE '9999-12-31', TRUE
       FROM changed
       UNION ALL
       SELECT d.id, d.nation, DATE '2024-01-01', DATE '9999-12-31', TRUE
       FROM dim d WHERE d.id NOT IN (SELECT id FROM changed)
       UNION ALL
       SELECT u.id, u.nation, DATE '2024-02-01', DATE '9999-12-31', TRUE
       FROM upd u WHERE u.id NOT IN (SELECT id FROM dim)""",
)
def scd2_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension merge (operators/scd.py): a synthetic update batch
    changes every 3rd-key supplier's nation, re-sends half unchanged, and
    introduces new keys — versions, closures and inserts all exercised."""
    from kusuma_metamorph_etl_spark.operators.scd import scd2_init, scd2_merge

    supplier = t(spark, sf_dir, "supplier")
    dim = scd2_init(
        supplier.select(
            F.col("s_suppkey").alias("id"), F.col("s_nationkey").alias("nation")
        ),
        "2024-01-01",
    )
    updates = (
        supplier.filter(F.col("s_suppkey") % 2 == 0)
        .select(
            F.col("s_suppkey").alias("id"),
            F.when(
                F.col("s_suppkey") % 3 == 0, F.col("s_nationkey") + 1
            ).otherwise(F.col("s_nationkey")).alias("nation"),
        )
        .unionByName(
            supplier.filter(F.col("s_suppkey") % 7 == 0).select(
                (F.col("s_suppkey") + 100000).alias("id"),
                F.col("s_nationkey").alias("nation"),
            )
        )
    )
    return scd2_merge(dim, updates, ["id"], ["nation"], "2024-02-01")

@register(
    "join_asof",
    """WITH purchases AS (
         SELECT event_id, user_id, ts, value FROM events
         WHERE event_type = 'purchase'),
       clicks AS (
         SELECT event_id AS click_id, user_id, ts, value AS click_value
         FROM events WHERE event_type = 'click'
         QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                    ORDER BY click_id DESC) = 1)
       SELECT l.event_id, l.user_id, l.ts, l.value, r.click_id, r.click_value
       FROM purchases l
       ASOF LEFT JOIN clicks r
         ON l.user_id = r.user_id AND r.ts <= l.ts""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/joins.py::asof_join): each purchase
    picks the user's most recent click at-or-before it — checked against
    DuckDB's native ASOF LEFT JOIN."""
    from kusuma_metamorph_etl_spark.operators.joins import asof_join
    from kusuma_metamorph_etl_spark.operators.windows import top_k_per_group

    events = t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = top_k_per_group(
        events.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            "ts",
            F.col("value").alias("click_value"),
        ),
        partition_by=["user_id", "ts"],
        order_by=[F.desc("click_id")],
        k=1,
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["click_id", "click_value"],
    )

@register(
    "join_asof_directions",
    """WITH clicks_l AS (
         SELECT event_id, user_id, ts, value FROM events
         WHERE event_type = 'click'),
       purchases_r AS (
         SELECT event_id AS purchase_id, user_id, ts,
                value AS purchase_value
         FROM events WHERE event_type = 'purchase'
         QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                    ORDER BY purchase_id) = 1),
       fwd AS (
         SELECT 'forward' AS direction,
                l.event_id, l.user_id, l.ts, l.value,
                r.purchase_id AS matched_id,
                r.purchase_value AS matched_value
         FROM clicks_l l
         ASOF LEFT JOIN purchases_r r
           ON l.user_id = r.user_id AND r.ts >= l.ts),
       purchases_l AS (
         SELECT event_id, user_id, ts, value FROM events
         WHERE event_type = 'purchase'),
       clicks_r AS (
         SELECT event_id AS click_id, user_id, ts, value AS click_value
         FROM events WHERE event_type = 'click'
         QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                    ORDER BY click_id DESC) = 1),
       nb AS (
         SELECT l.event_id, r.click_id, r.click_value, r.ts AS rts
         FROM purchases_l l ASOF LEFT JOIN clicks_r r
           ON l.user_id = r.user_id AND r.ts <= l.ts),
       nf AS (
         SELECT l.event_id, r.click_id, r.click_value, r.ts AS rts
         FROM purchases_l l ASOF LEFT JOIN clicks_r r
           ON l.user_id = r.user_id AND r.ts >= l.ts),
       near AS (
         SELECT 'nearest' AS direction,
                l.event_id, l.user_id, l.ts, l.value,
           CASE WHEN b.click_id IS NOT NULL AND (f.click_id IS NULL
                     OR epoch_us(l.ts) - epoch_us(b.rts)
                        <= epoch_us(f.rts) - epoch_us(l.ts))
                THEN b.click_id ELSE f.click_id END AS matched_id,
           CASE WHEN b.click_id IS NOT NULL AND (f.click_id IS NULL
                     OR epoch_us(l.ts) - epoch_us(b.rts)
                        <= epoch_us(f.rts) - epoch_us(l.ts))
                THEN b.click_value ELSE f.click_value END AS matched_value
         FROM purchases_l l
         JOIN nb b USING (event_id) JOIN nf f USING (event_id))
       SELECT * FROM fwd UNION ALL SELECT * FROM near""",
)
def join_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD + NEAREST as-of joins in one tagged frame — r16
    consolidation of the r8-green `join_asof_forward` +
    `join_asof_nearest` under the retire-one policy (funding
    `sim_maxsim_ann`); the backward direction keeps its own row
    (`join_asof`, a bench headline).  Forward: each click picks the
    user's next purchase at-or-after it (`asof_join(direction=
    "forward")`, equal-timestamp rights pre-deduped to the smallest id
    per the operator's declared forward tie rule).  Nearest: each
    purchase picks the click closest in absolute time, either side,
    exact ties backward — both traversals share one shuffle (Exchange
    reuse, two sorts).  Oracle: DuckDB native ASOF in both directions,
    the nearest half combined by the same closest/tie rule."""
    from kusuma_metamorph_etl_spark.operators.joins import asof_join
    from kusuma_metamorph_etl_spark.operators.windows import top_k_per_group

    events = t(spark, sf_dir, "events")
    clicks_l = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases_r = top_k_per_group(
        events.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts",
            F.col("value").alias("purchase_value"),
        ),
        partition_by=["user_id", "ts"],
        order_by=[F.asc("purchase_id")],
        k=1,
    )
    fwd = asof_join(
        clicks_l,
        purchases_r,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["purchase_id", "purchase_value"],
        direction="forward",
    ).select(
        F.lit("forward").alias("direction"),
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("purchase_id").alias("matched_id"),
        F.col("purchase_value").alias("matched_value"),
    )
    purchases_l = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks_r = top_k_per_group(
        events.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            "ts",
            F.col("value").alias("click_value"),
        ),
        partition_by=["user_id", "ts"],
        order_by=[F.desc("click_id")],
        k=1,
    )
    near = asof_join(
        purchases_l,
        clicks_r,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["click_id", "click_value"],
        direction="nearest",
    ).select(
        F.lit("nearest").alias("direction"),
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("click_id").alias("matched_id"),
        F.col("click_value").alias("matched_value"),
    )
    return fwd.unionByName(near)

@register(
    "join_range",
    """WITH o AS (
         SELECT user_id, ts, value,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL '10 minutes'
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     THEN 1 ELSE 0 END AS new_session
         FROM events),
       s AS (
         SELECT user_id, ts, value,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
         FROM o),
       sessions AS (
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL '10 minutes' AS session_end
         FROM s GROUP BY user_id, session_id)
       SELECT e.event_id, e.user_id, e.ts, s.session_start
       FROM events e
       JOIN sessions s
         ON e.user_id = s.user_id
        AND e.ts >= s.session_start AND e.ts < s.session_end""",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (operators/joins.py::range_join): every
    event located inside its user's session window — chunked equi-join
    instead of the planner's nested loop."""
    from kusuma_metamorph_etl_spark.operators.joins import range_join

    events = t(spark, sf_dir, "events")
    sessions = session_agg(events, gap="10 minutes").select(
        "user_id", "session_start", "session_end"
    )
    points = events.select("event_id", "user_id", "ts")
    return range_join(
        points,
        sessions,
        point_col="ts",
        lower_col="session_start",
        upper_col="session_end",
        on=["user_id"],
        chunk_seconds=3600,
    ).select("event_id", "user_id", "ts", "session_start")

@register(
    "join_fuzzy",
    """SELECT a.s_suppkey AS a, b.s_suppkey AS b,
              CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS distance
       FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
       WHERE levenshtein(a.s_name, b.s_name) <= 1""",
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 key reconciliation ([EXT]): SymSpell deletion-
    neighborhood blocking + exact levenshtein verify — candidates, never
    all pairs (`operators/joins.py::fuzzy_self_pairs`); the oracle is the
    brute-force cross join at test scale."""
    from kusuma_metamorph_etl_spark.operators.joins import fuzzy_self_pairs

    supplier = t(spark, sf_dir, "supplier")
    return fuzzy_self_pairs(supplier, key_col="s_name", id_col="s_suppkey")

@register(
    "join_overlap",
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND c.ts < p.ts + INTERVAL 30 MINUTE
        AND p.ts < c.ts + INTERVAL 30 MINUTE""",
)
def join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join ([EXT]): 30-minute activity spans
    around clicks × purchases per user, matched by the chunked equi-join
    with first-shared-chunk dedup (`operators/joins.py::
    interval_overlap_join`) — the span-intersection operator `join_range`
    (point-in-interval) cannot express."""
    from kusuma_metamorph_etl_spark.operators.joins import interval_overlap_join

    events = t(spark, sf_dir, "events")
    half_hour = F.expr("INTERVAL 30 MINUTES")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_start"),
        (F.col("ts") + half_hour).alias("c_end"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_start"),
        (F.col("ts") + half_hour).alias("p_end"),
    )
    return interval_overlap_join(
        clicks,
        purchases,
        left_bounds=("c_start", "c_end"),
        right_bounds=("p_start", "p_end"),
        on=["user_id"],
    ).select("user_id", "click_id", "purchase_id")

@register(
    "cdc_apply",
    """WITH ch AS (
         SELECT o_custkey AS c_custkey,
                'cdc-' || CAST(o_custkey AS VARCHAR) AS c_name,
                o_totalprice AS c_acctbal,
                o_orderkey AS seq,
                CASE WHEN o_orderkey % 10 < 2 THEN 'D'
                     WHEN o_orderkey % 10 < 6 THEN 'U'
                     ELSE 'I' END AS op
         FROM orders),
       latest AS (
         SELECT * FROM (
           SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
                                           ORDER BY seq DESC) AS rn
           FROM ch) WHERE rn = 1)
       SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
       FROM customer
       WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
       UNION ALL
       SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
       FROM latest WHERE op <> 'D'""",
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log application (`operators/scd.py::cdc_apply`): a
    synthetic Debezium-style log derived from orders (upserts + deletes,
    o_orderkey as the LSN) applied to the customer snapshot — log
    compaction by one max_by aggregation (no window sort), then
    anti-join + union.  The lakehouse ingest primitive the reference's
    overwrite-everything `raw.*_pre` pattern cannot express
    (`ingestion_task.py:63`)."""
    from kusuma_metamorph_etl_spark.operators.scd import cdc_apply as apply_log

    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    orders = t(spark, sf_dir, "orders")
    mod10 = F.col("o_orderkey") % 10
    changes = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("cdc-"), F.col("o_custkey").cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.col("o_orderkey").alias("seq"),
        F.when(mod10 < 2, "D").when(mod10 < 6, "U").otherwise("I").alias("op"),
    )
    out = apply_log(cust, changes, key=["c_custkey"], seq_col="seq", op_col="op")
    return out.withColumn("c_acctbal", F.round("c_acctbal", 2))

def _pagerank_oracle(n_iter: int = 15, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank as one DuckDB CTE chain.

    Iterative algorithms aren't single-query SQL in general, but a FIXED
    round count is: each round is one CTE reading the previous one, with
    the dangling-mass scalar and 1/N as subqueries — the exact same
    synchronous-update semantics `operators/graph.py::pagerank` declares.
    """
    d = damping
    parts = [
        """WITH ed AS MATERIALIZED (
             SELECT prev AS src, event_type AS dst, count(*)::DOUBLE AS w
             FROM (SELECT event_type,
                          lag(event_type) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) AS prev
                   FROM events)
             WHERE prev IS NOT NULL GROUP BY 1, 2),
           norm AS MATERIALIZED (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p
                    FROM ed),
           nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed
                     UNION SELECT DISTINCT dst FROM ed),
           nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
           r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""r{i} AS MATERIALIZED (
              SELECT nodes.node,
                     {1.0 - d} / (SELECT n FROM nn)
                     + {d} * (coalesce(c.contrib, 0)
                              + (SELECT coalesce(sum(pr), 0) FROM r{i - 1}
                                 WHERE node NOT IN (SELECT DISTINCT src FROM ed))
                                / (SELECT n FROM nn)) AS pr
              FROM nodes
              LEFT JOIN (SELECT e.dst AS node, sum(r.pr * e.p) AS contrib
                         FROM norm e JOIN r{i - 1} r ON r.node = e.src
                         GROUP BY e.dst) c USING (node))"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node AS event_type, round(pr, 6) AS pr FROM r{n_iter}"
    )

@register("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph ([EXT]
    graph analytics; `operators/graph.py::pagerank`) — the crawl-graph
    quality-weighting primitive, exercised here on the Markov chain of
    per-user event transitions.  Exact oracle: 15 synchronous rounds
    unrolled as a DuckDB CTE chain (`_pagerank_oracle`)."""
    from pyspark.sql import Window

    from kusuma_metamorph_etl_spark.operators.graph import pagerank

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    pr = pagerank(edges, weight_col="w", damping=0.85, n_iter=15)
    return pr.select(
        F.col("node").alias("event_type"), F.round("pr", 6).alias("pr")
    )

@register(
    "fn_winsorize",
    """WITH b AS (
         SELECT o_orderpriority AS priority,
                quantile_cont(o_totalprice, 0.05) AS lo,
                quantile_cont(o_totalprice, 0.95) AS hi
         FROM orders GROUP BY 1)
       SELECT o_orderkey, priority, o_totalprice AS price,
              round(CASE WHEN o_totalprice < lo THEN lo
                         WHEN o_totalprice > hi THEN hi
                         ELSE o_totalprice END, 6) AS price_winsorized
       FROM orders JOIN b ON o_orderpriority = b.priority""",
)
def fn_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization ([EXT] robust stats; `operators/stats.py::
    winsorize`): clamp order prices into the per-priority 5th–95th exact
    percentile band — the tail-taming step before scaling/training.  One
    percentile agg over few groups + one broadcast join back."""
    from kusuma_metamorph_etl_spark.operators.stats import winsorize

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
    )
    out = winsorize(orders, ["priority"], "price")
    return out.select(
        "o_orderkey", "priority", "price",
        F.round("price_winsorized", 6).alias("price_winsorized"),
    )

@register(
    "src_warc_roundtrip",
    """SELECT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS record_id,
              'http://corpus.example/' || CAST(doc_id AS VARCHAR)
                  AS target_uri,
              CAST(octet_length(encode(text)) AS BIGINT) AS content_length
       FROM documents WHERE doc_id % 3 = 0""",
)
def src_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container round-trip ([EXT] sources; `sources/warc.py` — the
    Common Crawl framing LLM corpora arrive in): every 3rd document
    serialized into multi-record WARC files (driver fixture writer),
    read back record-grain through the strict Content-Length parser over
    `binaryFile` + Arrow batches.  The oracle recomputes record ids,
    URIs and UTF-8 payload lengths from the source table, so a framing
    bug (mis-read length, lost record, header drift) changes the row set
    or lengths and flips the driver red."""
    import os
    import shutil
    import tempfile

    from kusuma_metamorph_etl_spark.sources.warc import read_warc, write_warc

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .collect()
    )  # bounded fixture write: test-scale corpus, driver-side by design
    tmp = tempfile.mkdtemp(prefix="warc_")
    try:
        # several files so the read exercises per-file parallelism
        for shard in range(4):
            write_warc(
                [
                    {
                        "record_id": f"urn:doc:{r['doc_id']}",
                        "warc_type": "conversion",
                        "target_uri": f"http://corpus.example/{r['doc_id']}",
                        "warc_date": "2025-08-24T00:00:00Z",
                        "payload": r["text"].encode("utf-8"),
                    }
                    for r in docs
                    if r["doc_id"] % 4 == shard
                ],
                os.path.join(tmp, f"part-{shard}.warc"),
            )
        out = read_warc(spark, tmp).select(
            "record_id", "target_uri", "content_length"
        )
        return spark.createDataFrame(
            out.collect(),
            schema="record_id string, target_uri string, content_length long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

@register(
    "graph_triangles",
    """WITH raw AS (
         SELECT c_custkey AS a, c_custkey + d AS b
         FROM customer, (VALUES (1), (2), (3), (5)) AS offs(d)),
       mx AS (SELECT max(c_custkey) AS m FROM customer),
       e AS (SELECT DISTINCT a, b FROM raw, mx WHERE b <= m),
       t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             FROM e e1
             JOIN e e2 ON e2.a = e1.b
             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       verts AS (SELECT x AS node FROM t
                 UNION ALL SELECT y FROM t
                 UNION ALL SELECT z FROM t)
       SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       FROM verts GROUP BY node""",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-vertex triangle counts ([EXT] graph analytics;
    `operators/graph.py::triangles_per_vertex`): a deterministic
    near-ring over customer ids (edges at offsets +1/+2/+3/+5 — rich in
    overlapping triangles) counted by the degree-oriented wedge-closure
    plan; the oracle is the canonical three-way self-join, so a wedge
    mis-ordering or a double-counted triangle hash-mismatches."""
    from kusuma_metamorph_etl_spark.operators.graph import (
        triangles_per_vertex,
    )

    return triangles_per_vertex(_near_ring_edges(spark, sf_dir))

@register(
    "join_skew_salted",
    """SELECT p.p_brand,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                  AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
       FROM lineitem l
       JOIN part p ON l.l_partkey = p.p_partkey
       GROUP BY 1""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact ⋈ dim (`operators/skew.py::salted_join` — the
    hot-key mitigation the 100 TB target needs when AQE's sort-merge
    skew split doesn't apply): the big side carries a deterministic
    row-hash salt, the small side replicates once per salt value, and
    the oracle is the PLAIN join — salting must be semantics-invisible,
    so any multiplicity drift (a lost salt bucket, a double replica)
    hash-mismatches on the grouped counts and exact-decimal revenue."""
    from kusuma_metamorph_etl_spark.operators.skew import salted_join

    # Project BEFORE salting: with_salt hashes every column it is given,
    # so passing the full fact row forced an 11-column ReadSchema (r18
    # before-plan) — the salt basis must not defeat scan pruning.  The
    # salt stays deterministic over the carried columns and salting is
    # semantics-invisible (the oracle is the plain join).
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_extendedprice",
        "l_discount",
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, on=["p_partkey"], how="inner", buckets=8)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
    )

def _zorder_oracle_sql(bits: int) -> str:
    """DuckDB twin of layout.minmax_quantize + partitioning.zorder_value
    over (p_size, p_retailprice): identical double arithmetic (same op
    order), then the bit-interleave spelled out as a shift/and/or sum."""
    n = 1 << bits
    terms = []
    for i in range(bits):
        terms.append(f"(((qs >> {i}) & 1) << {2 * i})")
        terms.append(f"(((qp >> {i}) & 1) << {2 * i + 1})")
    interleave = " | ".join(terms)
    return f"""WITH mm AS (
         SELECT min(CAST(p_size AS DOUBLE)) AS mns,
                max(CAST(p_size AS DOUBLE)) AS mxs,
                min(CAST(p_retailprice AS DOUBLE)) AS mnp,
                max(CAST(p_retailprice AS DOUBLE)) AS mxp
         FROM part),
       q AS (
         SELECT p_partkey,
                least(coalesce(CAST(floor((CAST(p_size AS DOUBLE) - mns)
                                 / (CASE WHEN mxs > mns THEN mxs - mns
                                         ELSE 1.0 END) * {n}) AS BIGINT), 0),
                      {n - 1}) AS qs,
                least(coalesce(CAST(floor((CAST(p_retailprice AS DOUBLE) - mnp)
                                 / (CASE WHEN mxp > mnp THEN mxp - mnp
                                         ELSE 1.0 END) * {n}) AS BIGINT), 0),
                      {n - 1}) AS qp
         FROM part, mm)
       SELECT p_partkey, CAST({interleave} AS BIGINT) AS z
       FROM q"""

@register("layout_zorder", _zorder_oracle_sql(6))
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key ([EXT] data layout;
    `operators/layout.py::zorder_minmax_key` over
    `partitioning.zorder_value`): min-max quantization of (p_size,
    p_retailprice) to 6 bits each, bits interleaved LSB-first into one
    clustering key — the PERSISTABLE (engine-replayable) variant of the
    quantile-bucketed `cluster_by_zorder` layout pass, whose row-group
    skipping is plan-tested in tests/test_plans.py.  Pure JVM
    shift/and/or expressions, no UDF; the oracle recomputes the exact
    interleave, so a lane swap, an off-by-one in the quantizer, or a
    clamp miss hash-mismatches."""
    from kusuma_metamorph_etl_spark.operators import layout

    part = t(spark, sf_dir, "part")
    z = layout.zorder_minmax_key(part, ["p_size", "p_retailprice"], bits=6)
    return z.select("p_partkey", F.col("__z").alias("z"))

@register(
    "layout_compaction_plan",
    """SELECT CAST(ts AS DATE) AS day,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(SUM(32 + octet_length(encode(event_type))) AS BIGINT)
                  AS est_bytes,
              CAST(greatest(CAST(ceil(SUM(32 + octet_length(encode(event_type)))
                                      / 65536.0) AS BIGINT), 1) AS BIGINT)
                  AS n_files
       FROM events
       GROUP BY 1""",
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner ([EXT] data layout;
    `operators/layout.py::compaction_plan`): per-day size estimate over
    the event stream and the file count a writer should coalesce to for
    a 64 KiB target (scaled down to fixture size; production target is
    128 MiB).  One groupBy, partition-cardinality output — the planner
    that decides per-partition ``repartition(n)`` before a rewrite
    instead of letting every micro-batch leave its own file litter."""
    from kusuma_metamorph_etl_spark.operators import layout

    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    plan = layout.compaction_plan(
        ev,
        "day",
        F.lit(32) + F.octet_length(F.col("event_type").cast("binary")),
        target_bytes=65536,
    )
    return plan.withColumnRenamed("partition", "day")

def _near_ring_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic customer-id near-ring graph shared by the graph
    query family (offsets +1/+2/+3/+5, capped at the max id)."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    mx = cust.agg(F.max("c_custkey").alias("m"))
    return (
        cust.crossJoin(
            spark.createDataFrame([(1,), (2,), (3,), (5,)], "d long")
        )
        .select(
            F.col("c_custkey").alias("a"),
            (F.col("c_custkey") + F.col("d")).alias("b"),
        )
        .join(F.broadcast(mx), on=F.col("b") <= F.col("m"))
        .select("a", "b")
    )

def _circulant_with_periphery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core fixture: the TRUE circulant ring over customer ids (edges
    (i, (i + d) mod n) for d ∈ {1,2,3,5} over the 0-based contiguous
    custkeys, n = COUNT — modular wrap over the actual key set, so
    every node INCLUDING node 0 has degree exactly 8 and the whole ring
    is a stable 6-core; the r9 ADVICE caught the previous
    ``((i+d-1) mod max)+1`` form mapping only into 1..max and leaving
    node 0 degree-4, which peeled) plus a 50-node pendant path on
    shifted ids attached to node 1 (degree ≤ 2 — peels entirely in the
    first round at k ≥ 3).

    Why not `_near_ring_edges` (the triangles fixture): the UNWRAPPED
    ring has no 5/6-core at all — its ends unravel the whole graph in
    ~n/4 peel rounds (measured: depth 375 at k=6, 749 at k=5), which is
    both the wrong answer to exercise and a pathological round count.
    The peel-CASCADE behavior itself is pinned by pytest's path-graph
    and random-graph brute-force equivalence tests; the driver row
    exercises a stable core plus a one-round periphery."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    ring = (
        cust.crossJoin(
            spark.createDataFrame([(1,), (2,), (3,), (5,)], "d long")
        )
        .crossJoin(F.broadcast(n))
        .select(
            F.col("c_custkey").alias("a"),
            ((F.col("c_custkey") + F.col("d")) % F.col("n")).alias("b"),
        )
    )
    path_ids = ring.sparkSession.range(1, 51).select(
        (F.col("id") + 2_000_000).alias("a"),
        (F.col("id") + 2_000_001).alias("b"),
    )
    anchor = ring.sparkSession.createDataFrame(
        [(1, 2_000_001)], "a long, b long"
    )
    return ring.unionByName(path_ids).unionByName(anchor)

@register("graph_kcore", None)  # iterative peeling — rows-only
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-core membership ([EXT] graph;
    `operators/graph.py::kcore`): the degree-≥-k maximal subgraph of
    the circulant-plus-periphery fixture at k=6 — iterative peeling
    (degree groupBy + two semi-joins per round, checkpointed lineage)
    must peel the 51-node pendant path in one round and keep the
    8-regular ring intact.  Non-SQL-expressible (iterative), so
    rows-only; the planted-clique contract is hash-checked in
    `graph_kcore_err` and peel-cascade exactness in pytest
    (brute-force equivalence on random graphs)."""
    from kusuma_metamorph_etl_spark.operators.graph import kcore

    return kcore(_circulant_with_periphery(spark, sf_dir), k=6)

@register(
    "graph_kcore_err",
    """SELECT CAST(6 AS BIGINT) AS n_planted,
              CAST(0 AS BIGINT) AS n_missing_k5,
              CAST(0 AS BIGINT) AS n_in_k6""",
)
def graph_kcore_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable k-core contract: plant an ISOLATED K6 clique on
    ids beyond the fixture's ranges.  Graph theory fixes its fate
    exactly — every clique node belongs to the 5-core (degree 5 inside
    K6) and none to the 6-core (peeling erases the whole clique) — and
    isolation makes that verdict independent of the base graph, so the
    gate is exact: a peel-order bug, an off-by-one threshold, or a
    lost-edge round turns the (6, 0, 0) row red."""
    from itertools import combinations

    from kusuma_metamorph_etl_spark.operators.graph import kcore

    base = _circulant_with_periphery(spark, sf_dir)
    ids = [3_000_000 + i for i in range(6)]
    clique = spark.createDataFrame(
        [(a, b) for a, b in combinations(ids, 2)], "a long, b long"
    )
    edges = base.unionByName(clique)
    core5 = kcore(edges, k=5).select("node")
    core6 = kcore(edges, k=6).select("node")
    planted = spark.createDataFrame([(i,) for i in ids], "node long")
    n_miss5 = _n(planted.join(core5, "node", "left_anti"), "n_missing_k5")
    n_in6 = _n(planted.join(core6, "node", "left_semi"), "n_in_k6")
    return (
        _n(planted, "n_planted")
        .crossJoin(n_miss5)
        .crossJoin(n_in6)
        .select(
            F.col("n_planted").cast("long"),
            F.col("n_missing_k5").cast("long"),
            F.col("n_in_k6").cast("long"),
        )
    )

@register(
    "layout_zonemap_scan",
    """SELECT p_partkey, p_size, p_retailprice
       FROM part
       WHERE p_size BETWEEN 10 AND 14
         AND p_retailprice BETWEEN 910.0 AND 930.0""",
)
def layout_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-pruned scan ([EXT] data layout;
    `operators/layout.py::build_zonemap/prune_files/zonemap_read`): the
    part table is rewritten z-ordered into a run-scoped directory, a
    file-level min/max map is built from the parquet FOOTERS alone
    (distributed pyarrow metadata pass — no data pages), and a
    two-sided range predicate reads only the files whose boxes overlap
    plus the exact residual filter.  The oracle is the plain filter over
    the original table — pruning must be invisible to results, so a
    dropped-possible-match bug (the non-conservative failure) loses
    rows and flips the driver red; that the pruning actually SKIPS
    files on the clustered layout is asserted in tests/test_layout.py.
    The result re-materializes before the temp directory is removed
    (bounded: matching rows only — same lifecycle as
    `txt_search_and`)."""
    import shutil
    import tempfile

    from kusuma_metamorph_etl_spark.operators import layout
    from kusuma_metamorph_etl_spark.operators.partitioning import (
        cluster_by_zorder,
    )

    part = t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    tmp = tempfile.mkdtemp(prefix="zonemap_scan_")
    try:
        cluster_by_zorder(
            part, ["p_size", "p_retailprice"], bits=4, num_files=8
        ).write.parquet(tmp, mode="overwrite")
        got = layout.zonemap_read(
            spark, tmp, {"p_size": (10.0, 14.0), "p_retailprice": (910.0, 930.0)}
        ).select("p_partkey", "p_size", "p_retailprice")
        return spark.createDataFrame(
            got.collect(), schema=got.schema
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

@register(
    "win_first_last",
    """WITH v AS (SELECT event_type, ts, event_id,
                         CASE WHEN event_id % 7 = 0 THEN NULL
                              ELSE value END AS v
                  FROM events),
       w AS (SELECT event_type,
                    first_value(v IGNORE NULLS) OVER (
                        PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING) AS first_v,
                    last_value(v IGNORE NULLS) OVER (
                        PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING) AS last_v,
                    row_number() OVER (
                        PARTITION BY event_type ORDER BY ts, event_id)
                        AS rn
             FROM v)
       SELECT event_type, round(first_v, 6) AS first_v,
              round(last_v, 6) AS last_v
       FROM w WHERE rn = 1""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE with IGNORE NULLS over a full-partition
    frame — the remaining window primitive the win_* family didn't
    cover (opening/closing reading per key with gaps in the measure:
    the fixture NULLs every 7th event's value so the null-skipping is
    exercised for real, not vacuously).  Total order (ts, event_id)
    keys the frame, so both engines agree on which value is first."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").withColumn(
        "v",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rn = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type",
            F.round(F.first("v", ignorenulls=True).over(w), 6).alias(
                "first_v"
            ),
            F.round(F.last("v", ignorenulls=True).over(w), 6).alias("last_v"),
            F.row_number().over(rn).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

@register(
    "fn_regexp_extract_all",
    r"""SELECT doc_id,
              array_to_string(regexp_extract_all(text, '[a-z]{4,}'), '|')
                  AS long_words,
              CAST(len(regexp_extract_all(text, '[a-z]{4,}')) AS INTEGER)
                  AS n_long
       FROM documents""",
)
def fn_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-matches regex extraction (`regexp_extract_all` — the
    log/wikitext field-harvesting staple next to the single-match
    `fn_str_value` family): every ≥4-letter lowercase run per document,
    plus its count.  Greedy quantifier semantics are identical in Java
    regex and RE2, so the matches compare element-for-element.  The
    array is serialized with ``array_join`` for the registered row: the
    driver's pandas canonicalizer cannot sort/hash list cells (r9
    driver-ERR), so OUTPUT columns must stay scalar — the array op
    itself is exercised between the extract and the join."""
    docs = t(spark, sf_dir, "documents")
    arr = F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]{4,}"), 0)
    return docs.select(
        "doc_id",
        F.array_join(arr, "|").alias("long_words"),
        F.size(arr).cast("int").alias("n_long"),
    )

@register(
    "src_jsonl_quarantine",
    """SELECT doc_id,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END
                  AS n_chars,
              doc_id % 13 = 0 AS quarantined
       FROM documents""",
)
def src_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest with corrupt-record quarantine ([EXT] sources — the
    bad-record routing every production feed needs and the src_* family
    lacked): per-document JSON lines, every 13th one truncated
    mid-object, written to a run-scoped landing dir and read back with
    an explicit schema in PERMISSIVE mode + ``columnNameOfCorruptRecord``
    — Spark's malformed-line policy parses what it can, nulls the
    schema fields of broken rows, and lands the RAW line in the corrupt
    column instead of killing the job (FAILFAST) or silently dropping
    evidence (DROPMALFORMED).  The quarantine row keeps its identity by
    re-extracting doc_id from the raw line, so a reprocessing queue can
    key on it — the pattern's whole point.  Oracle recomputes the
    parsed/quarantined split from the base table; a policy regression
    (corrupt rows dropped, fields not nulled, raw line lost) flips
    rows or hashes.  Result materializes executor-side via an eager
    share before the landing dir is deleted (the
    `src_roundtrip_family` text-branch temp lifecycle) — nothing ever lands on the
    driver."""
    import shutil
    import tempfile

    docs = t(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    jsonl = docs.select(
        F.when(
            F.col("doc_id") % 13 == 0,
            F.substring(line, 1, F.length(line) - F.lit(1)),
        )
        .otherwise(line)
        .alias("value")
    )
    tmp = tempfile.mkdtemp(prefix="jsonl_src_")
    try:
        jsonl.write.mode("overwrite").text(tmp)
        back = spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt string"
        ).option("columnNameOfCorruptRecord", "_corrupt").json(tmp)
        out = back.select(
            F.coalesce(
                F.col("doc_id"),
                F.regexp_extract(F.col("_corrupt"), r'"doc_id":(\d+)', 1).cast(
                    "long"
                ),
            ).alias("doc_id"),
            "lang",
            "n_chars",
            F.col("_corrupt").isNotNull().alias("quarantined"),
        )
        # eager: the temp dir is deleted below; the rows stay executor-
        # side (r11 ADVICE: out.collect() pulled the whole table to the
        # driver)
        return share(out, eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
