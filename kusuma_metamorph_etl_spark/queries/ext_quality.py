"""[EXT] sampling, sketch-aggregate, and data-quality queries —
split from ``ext.py`` (r13)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.operators import sampling
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.registry import RUN_DATE, register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.queries.ext_common import _W_TEXT, _gate, _n

@register(
    "samp_deterministic",
    """SELECT o_orderkey, o_custkey, o_totalprice
       FROM orders
       WHERE substr(md5('42|' || CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'""",
)
def samp_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash deterministic ~10% sample ([EXT]): reproducible across
    engines/partitionings, unlike Bernoulli `df.sample`
    (`operators/sampling.py::deterministic_sample`)."""
    orders = t(spark, sf_dir, "orders")
    return sampling.deterministic_sample(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        key=F.col("o_orderkey"),
        rate=0.1,
    )

@register(
    "samp_fixed_k",
    """SELECT o_orderkey, o_totalprice FROM (
         SELECT o_orderkey, o_totalprice,
                md5('42|' || CAST(o_orderkey AS VARCHAR)) AS h
         FROM orders ORDER BY h LIMIT 500)""",
)
def samp_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-k deterministic uniform sample ([EXT]): the k smallest full
    content hashes (`operators/sampling.py::fixed_size_sample`) — budgeted
    eval/review sets need an exact size, which the rate-based sampler's
    binomial count cannot give.  Executes as TakeOrderedAndProject
    (per-partition heaps, no global sort)."""
    orders = t(spark, sf_dir, "orders")
    return sampling.fixed_size_sample(
        orders.select("o_orderkey", "o_totalprice"),
        key=F.col("o_orderkey"),
        k=500,
    )

@register(
    "agg_mode",
    """WITH c AS (SELECT user_id, event_type, count(*) AS n
                  FROM events GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (
                          PARTITION BY user_id
                          ORDER BY n DESC, event_type) AS rn
              FROM c)
       SELECT user_id, event_type AS mode_event, CAST(n AS BIGINT) AS n
       FROM r WHERE rn = 1""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value; ties break to the smallest
    value — declared, since engines' native mode() tie rules differ):
    count-then-rank, all map-side-combinable."""
    from pyspark.sql import Window

    events = t(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), "n")
    )

@register(
    "samp_interleave",
    """SELECT doc_id, source,
              round((row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id)
                     - 0.5)
                    / CASE source WHEN 'src0' THEN 0.6
                                  WHEN 'src1' THEN 0.3
                                  ELSE 0.1 END, 6) AS mix_pos
       FROM documents
       WHERE source IN ('src0', 'src1', 'src2')""",
)
def samp_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture interleaving ([EXT]): stride-scheduled
    training order where every prefix holds sources ∝ the weight map
    (60/30/10 here) — `operators/sampling.py::interleave_sources`; the
    within-source order is the partition-invariant content hash."""
    docs = t(spark, sf_dir, "documents")
    out = sampling.interleave_sources(
        docs,
        "source",
        {"src0": 0.6, "src1": 0.3, "src2": 0.1},
        key=F.col("doc_id"),
    )
    return out.select("doc_id", "source", F.round("mix_pos", 6).alias("mix_pos"))

@register(
    "samp_stratified",
    """SELECT doc_id, source FROM documents
       WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 2) <
             CASE source WHEN 'src0' THEN 'g'
                         WHEN 'src1' THEN '80'
                         ELSE '1a' END""",
)
def samp_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling ([EXT]): keep all of src0, half
    of src1, ~10% of the rest — the training-mix quota knob
    (`operators/sampling.py::stratified_sample`)."""
    docs = t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs.select("doc_id", "source"),
        key=F.col("doc_id"),
        stratum=F.col("source"),
        rates={"src0": 1.0, "src1": 0.5},
        default_rate=0.1,
    )

@register(
    "samp_epoch_order_family",
    """WITH r AS (
         SELECT doc_id, lang,
                2 + CASE WHEN ('0x' || substr(md5('42|' || doc_id), 1, 8))::BIGINT
                              / 4294967296.0 < 0.3
                         THEN 1 ELSE 0 END AS n_copies
         FROM documents),
       ep AS (SELECT doc_id, lang, CAST(u.c AS INTEGER) AS epoch_copy
              FROM r, unnest(range(1, n_copies + 1)) AS u(c))
       SELECT doc_id, lang, epoch_copy,
              md5('42' || md5(CAST(doc_id AS VARCHAR))
                       || md5(CAST(epoch_copy AS VARCHAR))) AS shuffle_key
       FROM ep ORDER BY shuffle_key LIMIT 100""",
)
def samp_epoch_order_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order family — r17 consolidation of the long-green
    `samp_shuffle` + `samp_epochs` under the retire-one policy (funding
    `mart_rag_context`), composed the way a training run actually uses
    them: fractional-epoch repetition (factor 2.3 — every document
    twice, a content-hash-chosen ~30% a third time,
    `operators/sampling.py::repeat_epochs`) laid out in the
    deterministic content-hash shuffle order keyed on
    (doc_id, epoch_copy) so copies spread across the epoch
    (`deterministic_shuffle`, the documented pairing from its
    docstring), TakeOrdered head of 100.  Both retired contracts are
    exercised verbatim: the epoch draw is `samp_epochs`' exact hash
    rule, the order key is `samp_shuffle`'s exact md5 construction."""
    docs = t(spark, sf_dir, "documents")
    repeated = sampling.repeat_epochs(docs, 2.3, F.col("doc_id")).select(
        "doc_id", "lang", F.col("epoch_copy").cast("int").alias("epoch_copy")
    )
    return sampling.deterministic_shuffle(
        repeated, seed="42", key_cols=["doc_id", "epoch_copy"]
    ).limit(100)

@register(
    "samp_pack",
    """WITH o AS (SELECT doc_id, n_chars,
                         md5('42' || md5(CAST(doc_id AS VARCHAR))) AS h
                  FROM documents)
       SELECT doc_id,
              CAST(FLOOR((SUM(n_chars) OVER (ORDER BY h
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          - n_chars) / 4096) AS BIGINT) AS pack_id
       FROM o""",
)
def samp_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing ([EXT]): documents cut into ~4096-
    token training packs along the deterministic shuffle order — a global
    prefix sum with no single-task window
    (`operators/sampling.py::pack_sequences`); the oracle is the classic
    one-window formulation."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = sampling.pack_sequences(
        docs, budget=4096, token_col="n_chars", seed="42", key_cols=["doc_id"]
    )
    return packed.select("doc_id", "pack_id")

@register("agg_approx_distinct", None)  # HLL sketches differ per engine
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct per event_type — the sketch-based scale path
    for `agg_count_distinct` (exact-vs-approx error bounded in tests/)."""
    events = t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )

@register(
    "agg_hll_mergeable",
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
       FROM events GROUP BY event_type""",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the 100 TB pattern
    `approx_count_distinct` cannot express: per-(type, day) HLL sketches
    built once (`hll_sketch_agg`, a pre-aggregable binary column you'd
    persist in a daily rollup table), then `hll_union_agg` merges days
    into the full-range estimate WITHOUT re-scanning raw events.  Same
    `_err` oracle-binding as `agg_approx_distinct_err`: emits the exact
    count, drops rows if the merged estimate strays beyond 5% — so both
    the sketch build and the union path are driver-checked."""
    events = t(spark, sf_dir, "events")
    # Sketch build and exact gate share ONE 3-column pass over events
    # instead of two scans (r19, §2.2 — see agg_quantile_mergeable).
    proxy = share(events.select("event_type", F.to_date("ts").alias("d"), "user_id"))
    daily = proxy.groupBy("event_type", "d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = proxy.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    joined = merged.join(exact, "event_type")
    rel_err = (
        F.abs(joined.approx_users - joined.exact_users) / joined.exact_users
    )
    return joined.filter(rel_err <= 0.05).select("event_type", "exact_users")

@register(
    "agg_quantile_mergeable",
    """SELECT l_returnflag,
              round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
              round(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_quantile_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (`operators/sketches.py`) — the
    quantile twin of `agg_hll_mergeable`: fixed-bin histogram sketches
    built per (returnflag, ship-month) as a daily rollup would, merged
    bin-wise across months, quantiles interpolated from the MERGED sketch
    only.  `_err` gate: emits the oracle-computable exact percentiles and
    keeps a row only while both sketch estimates sit within two bin
    widths of them — a binning, merge, or interpolation bug empties the
    output."""
    from kusuma_metamorph_etl_spark.operators import sketches

    lo, hi, n_bins = 900.0, 110_000.0, 2000
    width = (hi - lo) / n_bins
    li = t(spark, sf_dir, "lineitem")
    # The sketch build and the exact-percentile gate twin both consume
    # the fact table; share ONE 3-column pass instead of two full
    # scans (r19, VERDICT r18 Next #5 — the
    # samp_dsir roll-up pattern, §2.2).  Interleaved fresh-JVM A/B at
    # sf0.1: 0.97x min / 3x3 reps vs the two-scan shape — local
    # neutral-to-positive; the at-scale win is the halved fact scan.
    proxy = share(
        li.select(
            "l_returnflag",
            F.trunc("l_shipdate", "month").alias("month"),
            "l_extendedprice",
        )
    )
    per_month = sketches.histogram_sketch(
        proxy,
        "l_extendedprice",
        lo, hi, n_bins,
        keys=["l_returnflag", "month"],
    )
    merged = sketches.merge_histograms(per_month, keys=["l_returnflag"])
    ests = sketches.histogram_quantiles(
        merged, [0.5, 0.95], lo, hi, n_bins, keys=["l_returnflag"]
    )
    wide = ests.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("q") == 0.5, F.col("est"))).alias("e50"),
        F.max(F.when(F.col("q") == 0.95, F.col("est"))).alias("e95"),
    )
    exact = proxy.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("exact_p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("exact_p95"),
    )
    joined = wide.join(exact, "l_returnflag")
    ok = (F.abs(joined.e50 - joined.exact_p50) <= 2 * width) & (
        F.abs(joined.e95 - joined.exact_p95) <= 2 * width
    )
    return joined.filter(ok).select("l_returnflag", "exact_p50", "exact_p95")

@register(
    "agg_cms_counts",
    """SELECT event_type, count(*) AS exact_n
       FROM events GROUP BY event_type""",
)
def agg_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE count-min frequency sketches (`operators/sketches.py`):
    per-(day) sketches of the event-type stream merged counter-wise, then
    point-count estimates for every observed type from the MERGED sketch
    only.  `_err` gate on the CMS guarantee — estimates may never
    undershoot and must overshoot by < e/width of the stream size — so a
    hashing, merge, or min-reduction bug empties the oracle-computable
    exact counts this emits."""
    import math

    from kusuma_metamorph_etl_spark.operators import sketches

    depth, width = 4, 256
    events = t(spark, sf_dir, "events")
    # One 2-column pass over events shared by the sketch build and the
    # exact gate (r19 §2.2); the stream total is a roll-up of the tiny
    # exact-counts frame — groupBy partitions every row, so the integer
    # sum IS count(*), no third scan.
    proxy = share(events.select(F.to_date("ts").alias("day"), "event_type"))
    per_day = sketches.cms_sketch(proxy, "event_type", depth, width, keys=["day"])
    merged = sketches.merge_cms(per_day.drop("day"))
    # exact feeds THREE consumers (estimate probe list, gate join, total
    # roll-up); share the ≤|event_types|-row frame so the proxy is
    # aggregated once, not three times.
    exact = share(proxy.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n")))
    est = sketches.cms_estimate(
        merged, exact.select("event_type"), "event_type", depth, width
    )
    total = exact.agg(F.sum("exact_n").alias("__total"))
    joined = est.join(exact, "event_type").crossJoin(F.broadcast(total))
    ok = (F.col("est") >= F.col("exact_n")) & (
        F.col("est")
        <= F.col("exact_n") + F.lit(math.e / width) * F.col("__total")
    )
    return joined.filter(ok).select("event_type", "exact_n")

@register(
    "agg_approx_distinct_err",
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
       FROM events GROUP BY event_type""",
)
def agg_approx_distinct_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `agg_approx_distinct`: the HLL estimate
    itself is engine-specific (no DuckDB mirror), so this emits the
    oracle-computable exact count and keeps a row only while the sketch
    stays within 2.5x the configured rsd (2% -> 5% bound).  A sketch
    regression drops rows, turning the driver's row-count/hash compare red
    — the estimate is hash-bound without ever being hashed."""
    events = t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    rel_err = F.abs(agg.approx_users - agg.exact_users) / agg.exact_users
    return agg.filter(rel_err <= 0.05).select("event_type", "exact_users")

@register(
    "agg_approx_quantile_err",
    """SELECT l_returnflag,
              round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
              round(quantile_cont(l_extendedprice, 0.95), 6) AS exact_p95
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_approx_quantile_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-bindable companion to `agg_approx_quantile` (same pattern as
    `agg_approx_distinct_err`): emits the exact interpolated percentiles
    (which DuckDB's quantile_cont mirrors bit-for-bit, cf `agg_percentile`)
    and keeps a row only while the Greenwald-Khanna sketch sits within 1%
    relative error of them.  With accuracy=10000 the GK rank error is
    <= n/10000 ranks — far inside 1% on this value distribution — so a
    dropped row means a real sketch regression."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("a95"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("exact_p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias("exact_p95"),
    )
    ok = (F.abs(agg.a50 - agg.exact_p50) / agg.exact_p50 <= 0.01) & (
        F.abs(agg.a95 - agg.exact_p95) / agg.exact_p95 <= 0.01
    )
    return agg.filter(ok).select("l_returnflag", "exact_p50", "exact_p95")

@register(
    "agg_pivot",
    """SELECT l_returnflag,
              round(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
                  AS qty_o,
              round(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
                  AS qty_f
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): quantity by return flag × line status.  Explicit
    value list — without it Spark runs an extra distinct job to discover
    columns, and the output schema becomes data-dependent."""
    li = t(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").pivot("l_linestatus", ["O", "F"]).sum(
        "l_quantity"
    )
    return out.select(
        "l_returnflag",
        F.round("O", 2).alias("qty_o"),
        F.round("F", 2).alias("qty_f"),
    )

@register(
    "agg_percentile",
    """SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 6) AS p50,
              round(quantile_cont(l_quantity, 0.95), 6) AS p95
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`F.percentile`); the
    sketch path for huge groups is `percentile_approx` (rows-only sibling
    of `agg_approx_distinct`)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("p95"),
    )

@register(
    "samp_group_k",
    """SELECT doc_id, source FROM (
         SELECT doc_id, source,
                row_number() OVER (
                  PARTITION BY source
                  ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
                ) AS rn
         FROM documents) WHERE rn <= 20""",
)
def samp_group_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exactly-k deterministic sampling ([EXT]): 20 uniform
    rows from every source regardless of group skew — the balanced-quota
    knob (`operators/sampling.py::group_fixed_size_sample`); content-hash
    ordered, partition-invariant."""
    docs = t(spark, sf_dir, "documents")
    return sampling.group_fixed_size_sample(
        docs.select("doc_id", "source"), ["source"], F.col("doc_id"), 20
    )

@register(
    "samp_domain_mix",
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
                row_number() OVER (
                  PARTITION BY lang
                  ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
                ) AS rn
         FROM documents)
       WHERE rn <= CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 20
                             WHEN 'es' THEN 20 WHEN 'fr' THEN 10
                             WHEN 'zh' THEN 10 ELSE 0 END""",
)
def samp_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture sampling ([EXT], r15): the caller states per-group
    weights (The Pile per-source epochs / DoReMi domain weights made
    operational) and the sampler draws ``round(total*w_g)`` rows per
    group by content-hash order — here a 40/20/20/10/10 language mix
    over ``lang`` with total 100 (`sampling.mixture_sample`; groups
    smaller than their quota contribute what they have, exercised at
    sf0.001 where per-lang counts sit under the quotas).  One group-
    keyed window shuffle; partition-invariant; CASE-chain quotas
    replayed verbatim by the oracle."""
    docs = t(spark, sf_dir, "documents")
    return sampling.mixture_sample(
        docs.select("doc_id", "lang"),
        "lang",
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1},
        total=100,
        key=F.col("doc_id"),
    )

@register(
    "dq_outlier_flag",
    """WITH b AS (
         SELECT o_orderpriority AS priority,
                quantile_cont(o_totalprice, 0.25) AS q1,
                quantile_cont(o_totalprice, 0.75) AS q3
         FROM orders GROUP BY 1)
       SELECT o_orderkey, priority, o_totalprice AS price,
              (o_totalprice < q1 - 1.5 * (q3 - q1)
               OR o_totalprice > q3 + 1.5 * (q3 - q1)) AS is_outlier
       FROM orders JOIN b ON o_orderpriority = b.priority""",
)
def dq_outlier_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence IQR outlier flag per group ([EXT] robust stats;
    `operators/stats.py::iqr_outliers`) — the review-queue feeder for
    value-level data quality."""
    from kusuma_metamorph_etl_spark.operators.stats import iqr_outliers

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
    )
    return iqr_outliers(orders, ["priority"], "price")

@register(
    "agg_heavy_hitters",
    f"""WITH w AS MATERIALIZED (
          SELECT unnest({_W_TEXT}) AS word FROM documents),
        n AS (SELECT count(*) AS c FROM w)
        SELECT word, count(*) AS n, (SELECT c FROM n) AS n_total
        FROM w GROUP BY word
        HAVING count(*) > (SELECT c FROM n) / 30.0""",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters ([EXT] mergeable sketches;
    `operators/sketches.py::heavy_hitters`): every token with corpus
    frequency > n/30, found via bounded-memory per-partition MG
    summaries (≤ partitions×k rows shuffled — never the full distinct
    vocabulary) + a candidate-only exact verify pass.  Output counts are
    EXACT, so the oracle is plain GROUP BY/HAVING."""
    from kusuma_metamorph_etl_spark.operators.sketches import heavy_hitters
    from kusuma_metamorph_etl_spark.operators.text import words

    docs = t(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(words(F.col("text"))).alias("word"))
    return heavy_hitters(tokens, "word", k=30)

# `samp_epochs` retired into `samp_epoch_order_family` (r17, funding
# `mart_rag_context`) — the family row replays its exact hash rule.

@register(
    "samp_temperature",
    """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
        m AS (SELECT min(n) AS nmin FROM c),
        r AS (SELECT lang,
                     round(least(1.0, pow(n / (SELECT nmin FROM m), -0.5)), 9)
                         AS keep_rate
              FROM c)
       SELECT d.doc_id, d.lang, r.keep_rate
       FROM documents d JOIN r USING (lang)
       WHERE ('0x' || substr(md5('42|' || d.doc_id), 1, 8))::BIGINT
             / 4294967296.0 < r.keep_rate""",
)
def samp_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language rebalancing ([EXT] sampling;
    `operators/sampling.py::temperature_sample`, α = 0.5): the dominant
    language downsampled toward the tempered mix, the rarest kept whole
    — content-keyed, so the same rows survive on any cluster."""
    docs = t(spark, sf_dir, "documents")
    out = sampling.temperature_sample(docs, "lang", F.col("doc_id"), alpha=0.5)
    return out.select("doc_id", "lang", "keep_rate")

@register(
    "dq_psi_drift",
    """WITH bounds AS (
         SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders),
       binned AS (
         SELECT CASE WHEN year(o_orderdate) < 1998 THEN 'a' ELSE 'b' END AS side,
                least(greatest(CAST(floor(
                    (o_totalprice - (SELECT lo FROM bounds))
                    / (((SELECT hi FROM bounds) - (SELECT lo FROM bounds)) / 10)
                  ) AS INTEGER), 0), 9) AS bin
         FROM orders),
       observed AS (
         SELECT bin,
                count(*) FILTER (WHERE side = 'a') AS na,
                count(*) FILTER (WHERE side = 'b') AS nb
         FROM binned GROUP BY bin),
       counts AS (
         -- full 0..9 spine: bins empty in BOTH windows still carry
         -- their smoothed term (mirrors operators/stats.py::psi_drift)
         SELECT s.bin, coalesce(o.na, 0) AS na, coalesce(o.nb, 0) AS nb
         FROM (SELECT unnest(range(10)) AS bin) s
         LEFT JOIN observed o USING (bin)),
       tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM counts),
       terms AS (
         SELECT na, nb,
                CAST(round(
                  ((na + 0.5) / ((SELECT ta FROM tot) + 5.0)
                   - (nb + 0.5) / ((SELECT tb FROM tot) + 5.0))
                  * ln(((na + 0.5) / ((SELECT ta FROM tot) + 5.0))
                       / ((nb + 0.5) / ((SELECT tb FROM tot) + 5.0))), 9)
                  AS DECIMAL(38,9)) AS term
         FROM counts)
       SELECT round(CAST(sum(term) AS DOUBLE), 6) AS psi,
              CAST(sum(na) AS BIGINT) AS n_a,
              CAST(sum(nb) AS BIGINT) AS n_b,
              10 AS n_bins
       FROM terms""",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift gate ([EXT] robust stats;
    `operators/stats.py::psi_drift`): order-value distribution of the
    pre-1998 reference window vs the 1998 current window, binned on
    shared bounds, Laplace-smoothed, decimal-summed — the snapshot-drift
    monitor composed over the mergeable histogram sketch."""
    from kusuma_metamorph_etl_spark.operators.stats import psi_drift

    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") < 1998)
    b = orders.filter(F.year("o_orderdate") >= 1998)
    return psi_drift(a, b, "o_totalprice", n_bins=10)

@register(
    "samp_kfold",
    """SELECT doc_id,
              CAST(('0x' || substr(md5('42|' || doc_id), 1, 8))::BIGINT % 5
                   AS INTEGER) AS fold
       FROM documents""",
)
def samp_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment ([EXT] sampling;
    `operators/sampling.py::kfold_assign`) — content-keyed, disjoint,
    exhaustive; the reproducible cross-validation split."""
    docs = t(spark, sf_dir, "documents")
    return sampling.kfold_assign(docs.select("doc_id"), F.col("doc_id"), k=5)

@register(
    "dq_null_profile",
    """SELECT 'o_custkey' AS "column", count(*) AS n_rows,
              CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
              count(DISTINCT o_custkey) AS n_distinct FROM orders
       UNION ALL
       SELECT 'o_orderstatus', count(*),
              CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT o_orderstatus) FROM orders
       UNION ALL
       SELECT 'o_totalprice', count(*),
              CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT o_totalprice) FROM orders
       UNION ALL
       SELECT 'o_orderpriority', count(*),
              CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
              count(DISTINCT o_orderpriority) FROM orders""",
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling ([EXT] quality; `plans/quality.py::
    profile_columns`): rows / nulls / distinct per column from a single
    aggregation + stack unpivot — null creep and cardinality collapse
    are the classic silent schema-rot signals."""
    from kusuma_metamorph_etl_spark.plans.quality import profile_columns

    orders = t(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    )

@register(
    "dq_psi_categorical",
    """WITH c AS (
         SELECT o_orderpriority AS cat,
                count(*) FILTER (WHERE year(o_orderdate) < 1998) AS na,
                count(*) FILTER (WHERE year(o_orderdate) >= 1998) AS nb
         FROM orders GROUP BY 1),
       k AS (SELECT count(*) AS cats FROM c),
       tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM c),
       terms AS (
         SELECT na, nb,
                CAST(round(
                  ((na + 0.5) / ((SELECT ta FROM tot)
                                 + 0.5 * (SELECT cats FROM k))
                   - (nb + 0.5) / ((SELECT tb FROM tot)
                                   + 0.5 * (SELECT cats FROM k)))
                  * ln(((na + 0.5) / ((SELECT ta FROM tot)
                                      + 0.5 * (SELECT cats FROM k)))
                       / ((nb + 0.5) / ((SELECT tb FROM tot)
                                        + 0.5 * (SELECT cats FROM k)))), 9)
                  AS DECIMAL(38,9)) AS term
         FROM c)
       SELECT round(CAST(sum(term) AS DOUBLE), 6) AS psi,
              CAST(sum(na) AS BIGINT) AS n_a,
              CAST(sum(nb) AS BIGINT) AS n_b,
              CAST((SELECT cats FROM k) AS INTEGER) AS n_categories
       FROM terms""",
)
def dq_psi_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI drift ([EXT] robust stats; `operators/stats.py::
    psi_drift_categorical`): order-priority mix of the pre-1998 window
    vs 1998+ — the composition-shift monitor for categorical columns
    (language/source mixes in corpora take the same path)."""
    from kusuma_metamorph_etl_spark.operators.stats import psi_drift_categorical

    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") < 1998)
    b = orders.filter(F.year("o_orderdate") >= 1998)
    return psi_drift_categorical(a, b, "o_orderpriority")

@register(
    "agg_bloom_join",
    """SELECT o.o_orderpriority AS priority,
              count(*) AS n_orders,
              CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2)
                   AS DOUBLE) AS revenue
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY 1""",
)
def agg_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered equi-join ([EXT] mergeable sketches;
    `operators/sketches.py::bloom_prefilter_join`): revenue per priority
    for BUILDING-segment customers, with the fact side pre-filtered by a
    Bloom sketch of the dim keys before the exact join.  The oracle is
    the PLAIN join — Bloom filters have zero false negatives and the
    exact join removes the false positives, so result equality IS the
    correctness contract (any false negative changes the aggregate and
    the driver goes red)."""
    from kusuma_metamorph_etl_spark.functions.numeric import decimal_sum
    from kusuma_metamorph_etl_spark.operators.sketches import (
        bloom_prefilter_join,
    )

    orders = t(spark, sf_dir, "orders")
    dim = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    joined = bloom_prefilter_join(orders, dim, on="o_custkey", n_bits=1 << 16)
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        decimal_sum(F.col("o_totalprice")).alias("revenue"),
    )

@register(
    "dq_expectations",
    """SELECT * FROM (
         SELECT 'not_null' AS "check", 'o_orderkey' AS "column",
                CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
                    AS observed,
                count(*) FILTER (WHERE o_orderkey IS NULL) = 0 AS passed
         FROM orders
         UNION ALL
         SELECT 'unique', 'o_orderkey',
                CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
                count(o_orderkey) = count(DISTINCT o_orderkey)
         FROM orders
         UNION ALL
         SELECT 'between(1,600000)', 'o_totalprice',
                CAST(count(*) FILTER (WHERE o_totalprice < 1
                                         OR o_totalprice > 600000) AS BIGINT),
                count(*) FILTER (WHERE o_totalprice < 1
                                    OR o_totalprice > 600000) = 0
         FROM orders
         UNION ALL
         SELECT 'in_set(O,F,P)', 'o_orderstatus',
                CAST(count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O','F','P')) AS BIGINT),
                count(*) FILTER (WHERE o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O','F','P')) = 0
         FROM orders
         UNION ALL
         SELECT 'matches(^[1-5]-)', 'o_orderpriority',
                CAST(count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
                     AS BIGINT),
                count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) = 0
         FROM orders
         UNION ALL
         SELECT 'predicate(date_in_range)', '*',
                CAST(count(*) FILTER (WHERE NOT coalesce(
                    o_orderdate >= TIMESTAMP '1992-01-01'
                    AND o_orderdate < TIMESTAMP '1999-01-01', false))
                     AS BIGINT),
                count(*) FILTER (WHERE NOT coalesce(
                    o_orderdate >= TIMESTAMP '1992-01-01'
                    AND o_orderdate < TIMESTAMP '1999-01-01', false)) = 0
         FROM orders
         UNION ALL
         SELECT 'row_count_min(1000)', '*',
                CAST(count(*) AS BIGINT), count(*) >= 1000
         FROM orders)""",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass declarative expectations suite ([EXT] quality;
    `plans/quality.py::expectations`): six checks — null, uniqueness,
    range, value-set, regex, volume — over `orders`, all computed in ONE
    aggregation pass (the Deequ/Great-Expectations report shape)."""
    from kusuma_metamorph_etl_spark.plans.quality import expectations

    return expectations(
        t(spark, sf_dir, "orders"),
        [
            ("not_null", "o_orderkey"),
            ("unique", "o_orderkey"),
            ("between", "o_totalprice", 1, 600000),
            ("in_set", "o_orderstatus", ["O", "F", "P"]),
            ("matches", "o_orderpriority", "^[1-5]-"),
            (
                "predicate",
                "date_in_range",
                "o_orderdate >= timestamp'1992-01-01' "
                "and o_orderdate < timestamp'1999-01-01'",
            ),
            ("row_count_min", 1000),
        ],
    )

@register(
    "agg_kmv_family",
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
       SELECT (SELECT count(*) FROM a) AS n_a,
              (SELECT count(*) FROM b) AS n_b,
              (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
                  AS n_union,
              (SELECT count(*) FROM a JOIN b USING (o_custkey))
                  AS n_intersection,
              (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
                  AS n_difference""",
)
def agg_kmv_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra ([EXT] mergeable sketches;
    `operators/sketches.py::theta_set_algebra`): distinct, union,
    intersection and difference estimates of the open- and
    finished-order customer sets from one sketch per side.  Emits the
    EXACT counts (oracle-computable) gated on every estimate landing
    inside its error band — a regression in the sketch algebra empties
    the output and flips the driver red.  The difference is small
    (|A\\B| ≈ 68 of a ~1500 union at sf0.01, ~500 of ~15000 at sf0.1),
    so its band is the widest."""
    from kusuma_metamorph_etl_spark.operators.sketches import theta_set_algebra

    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    da, db = a.distinct(), b.distinct()
    exact = (
        _n(da, "n_a")
        .crossJoin(_n(db, "n_b"))
        .crossJoin(_n(da.unionByName(db).distinct(), "n_union"))
        .crossJoin(_n(da.join(db, "o_custkey"), "n_intersection"))
        .crossJoin(_n(da.join(db, "o_custkey", "left_anti"), "n_difference"))
    )
    stats = exact.crossJoin(F.broadcast(theta_set_algebra(a, b, "o_custkey")))
    within = (
        lambda e, x, tol: F.abs(F.col(e) - F.col(x)) <= tol * F.col(x)
    )
    ok = (
        within("est_a", "n_a", 0.06)
        & within("est_b", "n_b", 0.06)
        & within("est_union", "n_union", 0.06)
        & within("est_intersection", "n_intersection", 0.15)
        & within("est_difference", "n_difference", 0.35)
    )
    return _gate(exact, stats, ok)

@register(
    "agg_corr_matrix",
    """WITH pairs AS (
         SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
                round(corr(l_discount, l_extendedprice), 6) AS corr,
                count(CASE WHEN l_discount IS NOT NULL
                            AND l_extendedprice IS NOT NULL THEN 1 END) AS n
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', 'l_quantity',
                round(corr(l_discount, l_quantity), 6),
                count(CASE WHEN l_discount IS NOT NULL
                            AND l_quantity IS NOT NULL THEN 1 END)
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', 'l_tax',
                round(corr(l_discount, l_tax), 6),
                count(CASE WHEN l_discount IS NOT NULL
                            AND l_tax IS NOT NULL THEN 1 END)
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', 'l_quantity',
                round(corr(l_extendedprice, l_quantity), 6),
                count(CASE WHEN l_extendedprice IS NOT NULL
                            AND l_quantity IS NOT NULL THEN 1 END)
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', 'l_tax',
                round(corr(l_extendedprice, l_tax), 6),
                count(CASE WHEN l_extendedprice IS NOT NULL
                            AND l_tax IS NOT NULL THEN 1 END)
         FROM lineitem
         UNION ALL
         SELECT 'l_quantity', 'l_tax',
                round(corr(l_quantity, l_tax), 6),
                count(CASE WHEN l_quantity IS NOT NULL
                            AND l_tax IS NOT NULL THEN 1 END)
         FROM lineitem)
       SELECT col_a, col_b, corr, CAST(n AS BIGINT) AS n FROM pairs""",
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass pairwise correlation matrix ([EXT] robust stats;
    `operators/stats.py::correlation_matrix`): Pearson r over the four
    lineitem measures — all six pairs' co-moments from ONE aggregation
    over one scan (the oracle's UNION ALL is per-pair only because SQL
    has no stack; the engine plan is a single Aggregate)."""
    from kusuma_metamorph_etl_spark.operators.stats import correlation_matrix

    li = t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )

@register(
    "samp_balance",
    """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        m AS (SELECT min(n) AS mn FROM c),
        r AS (SELECT vec_id, label,
                     row_number() OVER (
                       PARTITION BY label
                       ORDER BY md5('42|' || CAST(vec_id AS VARCHAR)), vec_id
                     ) AS rn
              FROM embeddings)
       SELECT vec_id, label FROM r, m WHERE rn <= mn""",
)
def samp_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing by deterministic downsampling ([EXT];
    `operators/sampling.py::balance_classes`): every label keeps at most
    the minority class's count — the classifier-training undersampling
    knob; label-cardinality bookkeeping + one label-keyed window."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return sampling.balance_classes(emb, "label", F.col("vec_id"))

@register(
    "samp_mergeable",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY md5('42|' || CAST(o_orderkey AS VARCHAR)), o_orderkey
       LIMIT 256""",
)
def samp_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable uniform sampling ([EXT];
    `operators/sampling.py::merge_samples`): a 256-row sample built as
    per-YEAR bottom-k draws then MERGED — the oracle is the direct
    global draw, and the bottom-k-of-bottom-k's argument makes the two
    provably identical, so any slice leakage or hash drift
    hash-mismatches.  Build per-slice samples at ingest; sample any
    range later by merging sample rows instead of rescanning."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").alias("__y")
    )
    years = [r["__y"] for r in orders.select("__y").distinct().collect()]
    per_slice = None
    for y in sorted(years):  # bounded: one draw per year slice
        s = sampling.fixed_size_sample(
            orders.filter(F.col("__y") == y), F.col("o_orderkey"), 256
        )
        per_slice = s if per_slice is None else per_slice.unionByName(s)
    merged = sampling.merge_samples(per_slice, F.col("o_orderkey"), 256)
    return merged.select("o_orderkey", "o_totalprice")

@register(
    "dq_freshness",
    f"""SELECT event_type,
              max(ts) AS last_seen,
              CAST(date_diff('day', CAST(max(ts) AS DATE),
                             DATE '{RUN_DATE}') AS BIGINT) AS lag_days,
              date_diff('day', CAST(max(ts) AS DATE),
                        DATE '{RUN_DATE}') > 7 AS stale
       FROM events
       GROUP BY 1""",
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed freshness report ([EXT] data quality;
    `plans/quality.py::freshness_report` — the reporting complement of
    the `freshness_gate` tripwire): last event time and staleness lag
    per event_type against the injected snapshot date, the feed-health
    readout where one dead upstream hides inside a globally-fresh
    max(ts).  One groupBy, feed-cardinality output."""
    from kusuma_metamorph_etl_spark.plans.quality import freshness_report

    ev = t(spark, sf_dir, "events")
    return freshness_report(
        ev, "ts", ["event_type"], as_of=RUN_DATE, stale_after_days=7
    )

@register(
    "samp_weighted",
    """SELECT o_orderkey, o_totalprice
       FROM orders
       WHERE o_orderkey IS NOT NULL AND o_totalprice > 0
       ORDER BY -ln((('0x' || substr(md5('42|' || CAST(o_orderkey AS VARCHAR)),
                                     1, 8))::BIGINT + 0.5) / 4294967296.0)
                / o_totalprice,
                o_orderkey
       LIMIT 200""",
)
def samp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement ([EXT] sampling;
    `operators/sampling.py::weighted_sample`, Efraimidis–Spirakis
    A-ES): 200 orders drawn with probability ∝ o_totalprice — the
    importance-sampling knob of the mixing family (upweight rare
    high-quality sources at draw time instead of duplicating rows).
    Content-keyed (md5 → uniform → -ln(u)/w), so the oracle replays the
    exact score arithmetic; executes as TakeOrderedAndProject like the
    uniform `samp_fixed_k`, and merges across slices by the same
    bottom-k survival argument."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return sampling.weighted_sample(
        orders, F.col("o_orderkey"), F.col("o_totalprice"), k=200
    )

@register(
    "samp_dsir",
    f"""WITH tok AS (
          SELECT doc_id, lang, unnest({_W_TEXT}) AS w FROM documents),
        bk AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS bucket
          FROM tok),
        tc AS (SELECT bucket, count(*) AS c FROM bk WHERE lang = 'en'
               GROUP BY 1),
        rc AS (SELECT bucket, count(*) AS c FROM bk WHERE lang <> 'en'
               GROUP BY 1),
        lr AS (
          SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
                 ln((COALESCE(tc.c, 0) + 1.0)
                    / ((SELECT sum(c) FROM tc) + 1024.0))
               - ln((COALESCE(rc.c, 0) + 1.0)
                    / ((SELECT sum(c) FROM rc) + 1024.0)) AS logr
          FROM tc FULL JOIN rc ON tc.bucket = rc.bucket),
        dw AS (
          SELECT doc_id, sum(c * logr) AS logw
          FROM (SELECT doc_id, bucket, count(*) AS c FROM bk
                WHERE lang <> 'en' GROUP BY 1, 2) db
          JOIN lr USING (bucket)
          GROUP BY doc_id),
        pool AS (
          SELECT d.doc_id, d.lang, d.source, COALESCE(dw.logw, 0.0) AS logw
          FROM documents d LEFT JOIN dw USING (doc_id)
          WHERE d.lang <> 'en')
        SELECT doc_id, lang, source,
               CAST(ROUND(logw, 6) AS DOUBLE) AS dsir_logw
        FROM pool
        ORDER BY ln(-ln((('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)),
                                         1, 8))::BIGINT + 0.5)
                        / 4294967296.0)) - logw,
                 doc_id
        LIMIT 100""",
)
def samp_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling ([EXT] sampling; r13 VERDICT Next #5;
    `operators/sampling.py::dsir_log_weights` + `log_weighted_sample` —
    Xie et al., NeurIPS 2023): draw 100 non-English documents whose
    hashed bag-of-words profile best matches the English target corpus,
    with probability ∝ exp(Σ_b c_b·(ln p_b − ln q_b)) under add-one-
    smoothed 1024-bucket models — the quality-/domain-matching half of
    data mixing that the temperature/balance rows don't cover.  Every
    stage is deterministic hashed counts, so the oracle replays the
    featurize → fit → score → Gumbel-top-k pipeline end to end and the
    emitted log-weights themselves are hash-checked (rounded to 6)."""
    docs = t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.col("lang") != "en")
    pool = raw.select("doc_id", "lang", "source").join(
        sampling.dsir_log_weights(raw, target), "doc_id"
    )
    return sampling.log_weighted_sample(
        pool, F.col("doc_id"), F.col("dsir_logw"), k=100
    ).select(
        "doc_id",
        "lang",
        "source",
        F.round("dsir_logw", 6).alias("dsir_logw"),
    )

@register(
    "dq_reconcile",
    """WITH tgt AS (
         SELECT l_returnflag, l_linestatus,
                CASE WHEN l_returnflag = 'A' AND l_orderkey % 511 = 0
                     THEN l_extendedprice + 0.01
                     ELSE l_extendedprice END AS amt
         FROM lineitem
         WHERE NOT (l_returnflag = 'R' AND l_orderkey % 997 = 0
                    AND l_linenumber = 1)),
       s AS (
         SELECT l_returnflag, l_linestatus,
                CAST(count(*) AS BIGINT) AS src_rows,
                round(SUM(CAST(l_extendedprice AS DECIMAL(38,6))), 2)
                    AS src_amt
         FROM lineitem GROUP BY 1, 2),
       t AS (
         SELECT l_returnflag, l_linestatus,
                CAST(count(*) AS BIGINT) AS tgt_rows,
                round(SUM(CAST(amt AS DECIMAL(38,6))), 2) AS tgt_amt
         FROM tgt GROUP BY 1, 2)
       SELECT COALESCE(s.l_returnflag, t.l_returnflag) AS l_returnflag,
              COALESCE(s.l_linestatus, t.l_linestatus) AS l_linestatus,
              COALESCE(s.src_rows, 0) AS src_rows,
              COALESCE(t.tgt_rows, 0) AS tgt_rows,
              CAST(COALESCE(s.src_amt, 0) AS DOUBLE) AS src_amount,
              CAST(COALESCE(t.tgt_amt, 0) AS DOUBLE) AS tgt_amount,
              COALESCE(s.src_rows, 0) = COALESCE(t.tgt_rows, 0) AS rows_ok,
              COALESCE(s.src_amt, CAST(0 AS DECIMAL(38,6)))
                  = COALESCE(t.tgt_amt, CAST(0 AS DECIMAL(38,6))) AS amount_ok,
              CASE WHEN t.tgt_rows IS NULL THEN 'missing_in_target'
                   WHEN s.src_rows IS NULL THEN 'extra_in_target'
                   WHEN COALESCE(s.src_rows, 0) <> COALESCE(t.tgt_rows, 0)
                       THEN 'row_mismatch'
                   WHEN COALESCE(s.src_amt, CAST(0 AS DECIMAL(38,6)))
                        <> COALESCE(t.tgt_amt, CAST(0 AS DECIMAL(38,6)))
                       THEN 'amount_mismatch'
                   ELSE 'ok' END AS status
       FROM s FULL JOIN t
         ON s.l_returnflag = t.l_returnflag
        AND s.l_linestatus = t.l_linestatus""",
)
def dq_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source→target load reconciliation ([EXT] data quality;
    `plans/quality.py::reconcile` — the post-load audit the §2.9 family
    lacked): per (returnflag, linestatus) group, row counts and
    exact-decimal amount sums compared between the source fact and a
    simulated load with two PLANTED defect classes — every 997th
    order's first 'R' line dropped (row drift) and every 511th 'A'
    order's price off by a cent (amount drift) — so the driver row
    exercises 'ok', 'row_mismatch' AND 'amount_mismatch' for real;
    the one-sided 'missing/extra_in_target' statuses are pinned in
    tests/test_quality.py.  Amounts sum in DECIMAL(38,6) and compare
    after rounding — never raw doubles.  Plan: two map-side-partial
    aggregates + one group-grain full-outer join; the fact never joins
    at row grain."""
    from kusuma_metamorph_etl_spark.plans.quality import reconcile

    keys = ["l_returnflag", "l_linestatus"]
    src = t(spark, sf_dir, "lineitem")
    tgt = (
        src.filter(
            ~(
                (F.col("l_returnflag") == "R")
                & (F.col("l_orderkey") % 997 == 0)
                & (F.col("l_linenumber") == 1)
            )
        ).withColumn(
            "amt",
            F.when(
                (F.col("l_returnflag") == "A")
                & (F.col("l_orderkey") % 511 == 0),
                F.col("l_extendedprice") + 0.01,
            ).otherwise(F.col("l_extendedprice")),
        )
    )
    return reconcile(
        src.select(*keys, F.col("l_extendedprice").alias("amount")),
        tgt.select(*keys, F.col("amt").alias("amount")),
        keys=keys,
        amount_col="amount",
    )
