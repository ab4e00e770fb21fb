"""[EXT] composition-capstone marts (llm/crawl/mm dataprep, vector
curation, user engagement, rfm) — split from ``ext.py`` (r13)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.operators import multimodal, sampling, similarity, text
from kusuma_metamorph_etl_spark.plans.share import share
from kusuma_metamorph_etl_spark.registry import RUN_DATE, register
from kusuma_metamorph_etl_spark.sources.catalog import load_table as t
from kusuma_metamorph_etl_spark.queries.ext_common import (
    _GOPHER_METRICS,
    _W_LOWER,
    _W_TEXT,
)

# ---------------------------------------------------------------- text analysis

@register(
    "mart_crawl_prep",
    """WITH raw AS (
         SELECT doc_id,
                '<html><body><h1>Doc ' || doc_id || '</h1><p>' || text
                || '</p><!-- c --></body></html>' AS html,
                'HTTPS://Site.Example.COM/page/' || (doc_id % 50)
                || '?utm_source=crawl&utm_v=' || doc_id || '#frag' AS url_raw
         FROM documents),
       stripped AS (
         -- full html_to_text mirror (script/style/comment passes,
         -- entity decode, explicit whitespace class) so the oracle stays
         -- textually in sync with the operator even if fixture text ever
         -- carries markup-significant characters.  The r9 numeric-ref
         -- decode stage is OMITTED here deliberately: no document at any
         -- SF contains '&#' or the \x01/\x02 sentinels (checked), so the
         -- stage is an exact no-op on this fixture — the full mirror
         -- lives in txt_html_to_text/txt_html_main_text (_NUMREF_DECODE)
         SELECT doc_id, url_raw,
                trim(regexp_replace(
                    replace(replace(replace(replace(replace(replace(
                        regexp_replace(
                          regexp_replace(
                            regexp_replace(
                              regexp_replace(html,
                                '<script\\b.*?</script\\s*>', ' ', 'gis'),
                              '<style\\b.*?</style\\s*>', ' ', 'gis'),
                            '<!--.*?-->', ' ', 'gs'),
                          '<[^>]*>', ' ', 'gs'),
                        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                        '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                    '[ \\t\\n\\f\\r]+', ' ', 'g')) AS text_clean
         FROM raw),
       urln AS (
         SELECT doc_id, text_clean,
                regexp_replace(
                  regexp_replace(
                    concat(lower(regexp_extract(regexp_replace(url_raw,
                               '#.*$', ''),
                               '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)),
                           regexp_replace(regexp_replace(url_raw, '#.*$', ''),
                               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')),
                    '([?&])(?:(?:utm_[^=&]*|gclid|fbclid)=[^&]*&)+', '\\1',
                    'g'),
                  '[?&](?:(?:utm_[^=&]*|gclid|fbclid)=[^&]*&?)+$', '')
                    AS url_half
         FROM stripped),
       urln2 AS (
         SELECT doc_id, text_clean,
                regexp_replace(url_half, '[?&/ \t\n\f\r]+$', '') AS url_norm
         FROM urln),
       q AS (
         SELECT doc_id, url_norm,
                CAST(len(list_filter(regexp_split_to_array(text_clean,
                    '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
         FROM urln2),
       kept AS (SELECT * FROM q WHERE n_tokens >= 20),
       dedup AS (
         SELECT doc_id, url_norm, n_tokens,
                min(doc_id) OVER (PARTITION BY url_norm) AS keep_id
         FROM kept)
       SELECT doc_id, url_norm, n_tokens
       FROM dedup WHERE doc_id = keep_id""",
)
def mart_crawl_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-preparation composition capstone ([EXT]): the WARC-shaped
    pipeline assembled from this round's registered pieces — synthesized
    HTML stripped to text (`html_to_text`), a token-count floor (the
    cheap quality gate), and URL-keyed exact dedup over CANONICALIZED
    URLs (`normalize_url`; the synthesized raw URLs collide 10-to-1 only
    AFTER tracking params and fragments strip, so the dedup is exercised
    for real).  One narrow projection chain + one url-keyed window —
    shuffle count independent of corpus size.

    The token floor rides INSIDE the window as a conditional min
    (`min(when(n_tokens >= 20, doc_id))`) with the row filter applied
    ABOVE the window — semantically identical to filter-then-window
    (min skips the NULLed sub-floor rows; sub-floor rows and winnerless
    urls drop in the final filter) but 3.5× faster measured: a filter
    BELOW the window pushes through the projection and re-evaluates the
    whole html_to_text chain a second time for the predicate, while a
    Window materializes its child projection once (predicates on
    non-partition columns never push through a Window).  The r9 1.64×
    regression on this row was exactly that double evaluation getting
    more expensive as the chain grew."""
    docs = t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><h1>Doc "), d, F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><!-- c --></body></html>"),
    )
    url_raw = F.concat(
        F.lit("HTTPS://Site.Example.COM/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=crawl&utm_v="), d, F.lit("#frag"),
    )
    staged = docs.select(
        "doc_id",
        text.html_to_text(html).alias("text_clean"),
        text.normalize_url(url_raw).alias("url_norm"),
    ).select(
        "doc_id",
        "url_norm",
        F.size(text.words(F.col("text_clean"))).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window as W

    keep = F.min(F.when(F.col("n_tokens") >= 20, F.col("doc_id"))).over(
        W.partitionBy("url_norm")
    )
    return (
        staged.withColumn("__keep", keep)
        .filter(
            (F.col("n_tokens") >= 20) & (F.col("doc_id") == F.col("__keep"))
        )
        .select("doc_id", "url_norm", "n_tokens")
    )

@register(
    "mart_domain_curation",
    f"""WITH q AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 len({_W_TEXT}) AS n_tokens,
                 len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                 len(list_filter({_W_LOWER},
                     x -> x IN ('the','a','and','of','to','in','is','it')))
                     AS n_stop
          FROM documents),
        s AS (SELECT doc_id,
                 round(0.4 * least(n_tokens / 100.0, 1.0)
                       + 0.3 * (CASE WHEN n_tokens > 0
                                     THEN CAST(n_stop AS DOUBLE) / n_tokens
                                     ELSE 0.0 END)
                       + 0.3 * (1.0 - least((CASE WHEN n_chars > 0
                                                  THEN CAST(n_punct AS DOUBLE)
                                                       / n_chars
                                                  ELSE 0.0 END) * 10.0, 1.0)),
                       6) AS quality_score
              FROM q),
        u AS (
          -- synthesized canonical URLs: the raw form only adds
          -- '?utm_source=crawl&utm_id=N#f' junk that normalize_url
          -- provably strips (the full normalization mirror lives in
          -- mart_crawl_prep / txt_url_normalize_family; here the URL is
          -- a pure function of doc_id, so the canonical form is exact
          -- by construction, no fixture-content dependency)
          SELECT doc_id, quality_score,
                 CASE WHEN doc_id % 10 < 5
                      THEN 'cdn' || (doc_id % 2) || '.dupfarm.com'
                      WHEN doc_id % 10 = 5 THEN 'www.blockedsite.com'
                      WHEN doc_id % 10 < 8 THEN 'news.goodnews.co.uk'
                      ELSE 'a.misc' || (doc_id % 10) || '.org' END AS host,
                 CASE WHEN doc_id % 10 < 5 THEN doc_id % 20
                      ELSE doc_id END AS path
          FROM s),
        n AS (SELECT doc_id, quality_score, host,
                     'https://' || host || '/p/' || path AS url_norm
              FROM u),
        d AS (SELECT doc_id, quality_score, url_norm,
                     COALESCE(NULLIF(regexp_extract(host,
                         '([^.]+\\.(?:co\\.uk|org\\.uk|ac\\.uk|gov\\.uk|com\\.au|org\\.au|net\\.au|co\\.jp|co\\.in|co\\.nz|co\\.kr|co\\.za|com\\.br|com\\.cn|com\\.mx|com\\.tr))$',
                         1), ''),
                       NULLIF(regexp_extract(host, '([^.]+\\.[^.]+)$', 1), ''),
                       host) AS domain
              FROM n),
        st AS (SELECT domain, count(*) AS n_docs,
                      count(DISTINCT url_norm) AS n_urls,
                      round(CAST(sum(CAST(quality_score AS DECIMAL(38,6)))
                                 AS DOUBLE) / count(quality_score), 6)
                          AS mean_quality
               FROM d GROUP BY domain),
        k AS (SELECT domain FROM st
              WHERE 1.0 - CAST(n_urls AS DOUBLE) / n_docs <= 0.3
                AND mean_quality >= 0.05
                AND domain NOT IN ('blockedsite.com'))
        SELECT doc_id, domain FROM d JOIN k USING (domain)""",
)
def mart_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-grain crawl curation ([EXT], r15 — the C4/RefinedWeb unit
    of filtering): synthesized hosts (a planted 50%-of-docs dup-farm
    whose 20 URL paths repeat, a blocklisted site, a two-level-suffix
    domain exercising the eTLD+1 heuristic, and clean long-tail
    domains), canonicalized with `normalize_url`, rolled up per
    REGISTRABLE domain (`text.registrable_domain` →
    `text.domain_stats`: docs / distinct URLs / dup rate / mean
    `txt_quality` score in ONE keyed aggregate), then filtered by
    dup-rate ceiling + quality floor + blocklist and semi-joined back
    with the kept-domain list BROADCAST (`text.curate_domains`) — the
    doc side never shuffles.  The dup farm dies by measured dup rate,
    the blocked domain by name; survivors keep their domain label."""
    docs = t(spark, sf_dir, "documents")
    scored = text.quality_features(docs)
    m = F.col("doc_id") % 10
    host = (
        F.when(
            m < 5,
            F.concat(
                F.lit("cdn"),
                (F.col("doc_id") % 2).cast("string"),
                F.lit(".dupfarm.com"),
            ),
        )
        .when(m == 5, F.lit("www.blockedsite.com"))
        .when(m < 8, F.lit("news.goodnews.co.uk"))
        .otherwise(
            F.concat(F.lit("a.misc"), m.cast("string"), F.lit(".org"))
        )
    )
    path = F.when(m < 5, F.col("doc_id") % 20).otherwise(F.col("doc_id"))
    url_raw = F.concat(
        F.lit("https://"), host, F.lit("/p/"), path.cast("string"),
        F.lit("?utm_source=crawl&utm_id="),
        F.col("doc_id").cast("string"), F.lit("#f"),
    )
    # Shared (r19, §2.2): curate_domains reads its input on TWO plan
    # branches — the domain_stats aggregation and the semi-join's doc
    # side — and each branch re-ran the regexp-heavy quality_features +
    # normalize_url pass over every document.  The shared frame is 4
    # narrow columns (no text payload).
    staged = share(
        scored.select(
            "doc_id",
            "quality_score",
            text.normalize_url(url_raw).alias("url_norm"),
        ).withColumn("domain", text.registrable_domain(F.col("url_norm")))
    )
    kept = text.curate_domains(
        staged,
        max_dup_rate=0.3,
        min_mean_quality=0.05,
        blocklist=["blockedsite.com"],
    )
    return kept.select("doc_id", "domain")

_CANON = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def _curation_sql(kept_cols: str) -> str:
    """Oracle CTEs of :func:`_curated_english` up to the per-source
    ``keep_rate`` table ``r``; ``kept`` projects ``kept_cols`` and the
    caller writes the content-hash filter against ``r``."""
    return f"""WITH surviving AS MATERIALIZED (
          SELECT * FROM (
            SELECT d.*, min(doc_id) OVER (PARTITION BY md5({_CANON})) AS keep_id
            FROM documents d)
          WHERE doc_id = keep_id),
        tok AS (SELECT doc_id, text, source, lang, {_W_TEXT} AS w, {_W_LOWER} AS wl
                FROM surviving),
        m AS (
          SELECT doc_id,
                 (text IS NULL) AS is_null_text,
                 len(w) AS n_tokens,
                 {_GOPHER_METRICS}
          FROM tok),
        kept AS (
          SELECT {kept_cols}
          FROM tok t JOIN m USING (doc_id)
          WHERE NOT (m.is_null_text OR m.n_tokens < 20 OR m.n_tokens > 100000
                     OR m.avg_wl < 2.0 OR m.avg_wl > 12.0 OR m.sym_ratio > 0.12
                     OR m.stop_ratio < 0.02 OR m.rep2 > 0.6)
            AND t.lang = 'en'),
        c AS (SELECT source, count(*)::DOUBLE AS n FROM kept GROUP BY source),
        mn AS (SELECT min(n) AS nmin FROM c),
        r AS (SELECT source,
                     round(least(1.0, pow(n / (SELECT nmin FROM mn), -0.5)), 9)
                         AS keep_rate
              FROM c)"""


def _curated_english(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus curation chain both training-data capstones run, each
    stage the registered operator: normalized exact dedup (reformatted
    copies collapse, lowest id wins) → Gopher quality filter → English
    gate → temperature source rebalancing (adds ``keep_rate``)."""
    docs = t(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id", text.normalize_for_dedup(F.col("text")).alias("__canon")
    )
    keep_ids = (
        canon.select("doc_id", F.md5("__canon").alias("__fp"))
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surviving = docs.join(keep_ids, "doc_id", "left_semi")
    # ONE materialization point, placed AFTER the Gopher projection and
    # BEFORE any filter on its outputs.  Two documented traps meet here:
    # (1) `filter(keep)` otherwise PUSHES the whole rule-chain predicate
    # below the projection, substituting the tokenizer alias into its
    # ~10 rule references (filter-pushdown has no non-cheap-alias guard
    # the way CollapseProject does) — measured 14-15s for the quality
    # stage vs ~1.3s unpushed; (2) temperature_sample reads its input on
    # three plan branches (four in mart_pretrain_batches, whose tokenizer
    # word-count aggregation reads it too).  Sharing the projected frame
    # makes `keep` a materialized COLUMN (filters on it are free) and
    # lets those branches share one evaluation: whole pipeline 33s → ~3s
    # at sf0.1.  On a cluster this is exactly where the filtered corpus
    # would be persisted as a table anyway.
    quality_all = share(text.gopher_filter(surviving))
    english = (
        quality_all.filter(F.col("keep"))
        .filter(F.col("lang") == "en")
        .drop("keep", "reject_reason")
    )
    return sampling.temperature_sample(
        english, "source", F.col("doc_id"), alpha=0.5
    )

@register(
    "mart_llm_dataprep",
    f"""{_curation_sql("t.doc_id, t.source, t.lang, m.n_tokens")}
        SELECT k.doc_id, k.source, k.lang, CAST(k.n_tokens AS BIGINT) AS n_tokens,
               r.keep_rate
        FROM kept k JOIN r USING (source)
        WHERE ('0x' || substr(md5('42|' || k.doc_id), 1, 8))::BIGINT
              / 4294967296.0 < r.keep_rate""",
)
def mart_llm_dataprep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-data prep as ONE composed pipeline ([EXT]
    flagship composition): the :func:`_curated_english` chain, with the
    WHOLE pipeline oracle-checked end to end.  Plan: one dedup shuffle,
    scan-speed narrow filters, one tiny rate agg + broadcast — the fact
    stream shuffles once."""
    return _curated_english(spark, sf_dir).select(
        "doc_id",
        "source",
        "lang",
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
        "keep_rate",
    )

@register(
    "mart_pretrain_batches",
    f"""{_curation_sql("t.doc_id, t.source, m.n_tokens")},
        samp AS (
          SELECT k.doc_id, k.source, k.n_tokens
          FROM kept k JOIN r USING (source)
          WHERE ('0x' || substr(md5('42|' || k.doc_id), 1, 8))::BIGINT
                / 4294967296.0 < r.keep_rate),
        ep AS (
          SELECT doc_id, source, n_tokens, CAST(u.c AS INTEGER) AS epoch_copy
          FROM (SELECT *,
                       1 + CASE WHEN ('0x' || substr(md5('43|' || doc_id), 1, 8))
                                     ::BIGINT / 4294967296.0 < 0.5
                                THEN 1 ELSE 0 END AS n_copies
                FROM samp) s, unnest(range(1, n_copies + 1)) AS u(c)),
        o AS (SELECT *,
                     md5('42' || md5(CAST(doc_id AS VARCHAR))
                              || md5(CAST(epoch_copy AS VARCHAR))) AS h
              FROM ep)
        SELECT doc_id, epoch_copy, source, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY h
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tokens) / 4096) AS BIGINT) AS pack_id
        FROM o""",
)
def mart_pretrain_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → TRAINING BATCHES capstone ([EXT], r17 — the end-to-end
    composition the r16 verdict named as the one missing piece): the
    :func:`_curated_english` chain `mart_llm_dataprep` runs (normalized
    exact dedup → Gopher quality filter → language gate → temperature
    source rebalancing), then a REAL trained BPE tokenizer (`operators/bpe.py`: merges
    learned on the FILTERED corpus — the production order — distributed
    Arrow-batched encode) gating every surviving row on lossless
    round-trip exactly as `txt_bpe_roundtrip` does, then fractional-
    epoch repetition (`samp_epochs` machinery, factor 1.5, its own seed
    so the extra-copy draw is independent of the temperature draw),
    laid out in the deterministic shuffle order and cut into 4096-token
    training packs (`samp_pack` machinery keyed on (doc_id,
    epoch_copy) so copies spread across the epoch).  Every stage is the
    registered operator; the WHOLE chain is one full-oracle row — a
    dedup regression, a quality-rule drift, a tokenizer corruption
    (via the lossless gate), a changed epoch draw, or a moved pack
    boundary each flips the hash.

    Oracle contract note: the PACK WEIGHT is the whitespace token count
    (`n_tokens`, SQL-replayable) — the BPE token count is
    trained-vocabulary-dependent like every tokenizer output, so its
    integrity is bound by the decode==normalized-text gate (the
    `txt_bpe_roundtrip` binding) rather than emitted for hashing.

    Plan shape: one dedup shuffle + scan-speed filters + tiny rate
    broadcast (the `mart_llm_dataprep` audit), one bounded word-count
    collect for the merge table (`ivf_build` pattern), Arrow-batched
    encode, explode fan-out ∝ 1.5, and the pack prefix-sum's
    full-width shuffle + ≤P-row broadcast — no single-task window
    anywhere.  Funded by consolidating `txt_fingerprint` +
    `txt_rolling_fingerprint` → `txt_fingerprint_family` under the
    retire-one policy."""
    from kusuma_metamorph_etl_spark.operators import bpe, subword

    sampled = _curated_english(spark, sf_dir)
    merges = bpe.bpe_train(sampled, n_merges=200)
    encoded = bpe.bpe_encode(sampled, merges)
    # pack_sequences reads its input on THREE plan paths — the
    # quantile-bounds action, the in-bucket cumsum branch, and the
    # bucket-offsets broadcast branch — and each would re-run the
    # Arrow-batched BPE encode + lossless-gate pass (the whole chain's
    # most expensive stage).  Sharing the narrow post-gate proxy
    # (doc_id, source, n_tokens) runs the encode exactly once per
    # invocation.
    gated = share(
        subword.lossless(encoded, bpe.bpe_decode(F.col("tokens")))
        .select(
            "doc_id",
            "source",
            text.token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
    )
    repeated = sampling.repeat_epochs(
        gated, 1.5, F.col("doc_id"), seed="43"
    )
    packed = sampling.pack_sequences(
        repeated,
        budget=4096,
        token_col="n_tokens",
        seed="42",
        key_cols=["doc_id", "epoch_copy"],
    )
    return packed.select(
        "doc_id",
        F.col("epoch_copy").cast("int").alias("epoch_copy"),
        "source",
        "n_tokens",
        "pack_id",
    )

_RAG_COSINE = (
    "list_dot_product(a.e, b.e)"
    " / (sqrt(list_dot_product(a.e, a.e))"
    " * sqrt(list_dot_product(b.e, b.e)))"
)

@register(
    "mart_rag_context",
    f"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        nt AS (SELECT doc_id, len({_W_TEXT}) AS n_tokens FROM documents),
        scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS chunk_id,
                 {_RAG_COSINE} AS cosine
          FROM v a JOIN v b ON a.vec_id <> b.vec_id
          WHERE a.vec_id % 50 = 0 AND a.vec_id < 500),
        ranked AS (
          SELECT s.query_id, s.chunk_id, s.cosine, nt.n_tokens,
                 row_number() OVER (PARTITION BY s.query_id
                                    ORDER BY s.cosine DESC, s.chunk_id)
                     AS ctx_rank
          FROM scored s JOIN nt ON nt.doc_id = s.chunk_id),
        top AS (SELECT * FROM ranked WHERE ctx_rank <= 20),
        cum AS (
          SELECT *, SUM(n_tokens) OVER (PARTITION BY query_id
                       ORDER BY ctx_rank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum_tokens
          FROM top)
        SELECT query_id, CAST(ctx_rank AS BIGINT) AS ctx_rank, chunk_id,
               round(cosine, 6) AS score, CAST(n_tokens AS BIGINT) AS n_tokens
        FROM cum WHERE cum_tokens - n_tokens < 256""",
)
def mart_rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query → CONTEXT WINDOW capstone ([EXT], r17 — the inference-side
    twin of `mart_pretrain_batches`: the RAG retrieval-and-assembly
    shape every serving pipeline runs): a FIXED incoming query batch
    (10 queries — the serving semantics: the batch does not grow with
    the corpus, so total work is one corpus scan per batch and the
    measured sf1.0 exponent is the scan's, not the n² of a
    corpus-derived query set) retrieves its exact brute-force cosine
    top-20 chunks (`similarity.cosine_topk` — the registered exact
    baseline; the registered ANN rows are the declared sublinear
    per-query swap-in exactly as for `sim_cosine_topk`), chunk token
    counts join on the chunk key, then the context is ASSEMBLED
    greedily in relevance order under a 256-token budget — the
    `samp_pack` streaming prefix-sum rule applied per query (a chunk is
    admitted iff the tokens before it fit), so a context may overflow
    by at most its last chunk.  Emits (query_id, ctx_rank, chunk_id,
    score, n_tokens) — the ordered context manifest, fully
    SQL-replayable: a retrieval drift, a rank tie mishandled, or a
    moved budget cut flips the hash.

    Plan: queries broadcast against one corpus scan (cosine_topk), the
    |q|×20 candidate list broadcasts into the chunk-token join (the
    document side never shuffles), and the per-query prefix-sum window
    is bounded by k=20 rows per query at any corpus size.  Funded by
    consolidating `samp_shuffle` + `samp_epochs` →
    `samp_epoch_order_family` under the retire-one policy."""
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("chunk_id"), "text"
    )
    queries = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500))
    # Restrict the chunk corpus to DOC-BACKED embeddings BEFORE the
    # top-k cut (r17 ADVICE): the oracle ranks AFTER joining the token
    # table, so an embedding without a documents row must not consume a
    # top-20 slot.  A semi-join on the id keeps that semantics exact
    # (the later inner join can no longer drop ranked rows); at scale
    # the id column is pruned to a single-column scan and the join
    # co-partitions on the shared id key (bucket both tables by id in a
    # real lake and this is shuffle-free).
    corpus = emb.join(
        docs.select(F.col("chunk_id").alias("vec_id")), "vec_id", "semi"
    )
    top = similarity.cosine_topk(queries, corpus, k=20).withColumnRenamed(
        "neighbor_id", "chunk_id"
    )
    # broadcast-join the |q|x20 candidate list BEFORE tokenizing, so
    # token_count evaluates on the survivors only, not every document
    joined = (
        docs.join(F.broadcast(top), "chunk_id")
        .withColumn("n_tokens", text.token_count(F.col("text")).cast("long"))
        .drop("text")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("chunk_id")
    )
    ranked = joined.withColumn(
        "ctx_rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        ranked.filter(F.col("cum_tokens") - F.col("n_tokens") < 256)
        .select(
            "query_id",
            "ctx_rank",
            "chunk_id",
            F.round("cosine", 6).alias("score"),
            "n_tokens",
        )
    )

@register(
    "mart_rfm",
    f"""WITH per_cust AS (
          SELECT o_custkey AS custkey,
                 date_diff('day', CAST(max(o_orderdate) AS DATE),
                           DATE '{RUN_DATE}') AS recency_days,
                 count(*) AS frequency,
                 CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                      AS DOUBLE) AS monetary
          FROM orders GROUP BY o_custkey)
        SELECT custkey, recency_days, frequency, monetary,
               ntile(5) OVER (ORDER BY recency_days, custkey) AS r_score,
               ntile(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary DESC, custkey) AS m_score
        FROM per_cust""",
)
def mart_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation mart ([EXT] composition): per-customer
    recency (days to the fixed RUN_DATE snapshot) / frequency / exact-
    decimal monetary, each quintiled with a deterministic custkey
    tie-break (r_score 1 = most recent; f/m 1 = heaviest).  The ntile
    windows run on the CUSTOMER grain — smaller than the fact table but
    NOT small at 100 TB, so an unpartitioned `F.ntile` window (which
    sorts the whole grain in one task) is out: each score routes
    through `global_ntile` — exact ntile over global row numbers from
    the same rank scaffold as `win_percent_rank`, which picks each
    score's regime from the plan.  The per-customer aggregate is shared:
    a score whose input Catalyst estimates as large runs a bounded
    distinct-count/quantile probe (a driver action), and without the
    materialization every probe would re-run the full orders scan +
    aggregation (§2.2)."""
    from kusuma_metamorph_etl_spark.functions.numeric import decimal_sum
    from kusuma_metamorph_etl_spark.operators.windows import global_ntile

    orders = t(spark, sf_dir, "orders")
    per_cust = share(
        orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.datediff(
                F.lit(RUN_DATE).cast("date"), F.to_date(F.max("o_orderdate"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            decimal_sum(F.col("o_totalprice")).alias("monetary"),
        )
    )
    scored = global_ntile(
        per_cust, "recency_days", [F.asc("custkey")], 5, "r_score",
        descending=False,
    )
    scored = global_ntile(
        scored, "frequency", [F.asc("custkey")], 5, "f_score", descending=True
    )
    scored = global_ntile(
        scored, "monetary", [F.asc("custkey")], 5, "m_score", descending=True
    )
    return scored.select(
        "custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )

@register(
    "mart_user_engagement",
    f"""WITH x AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > 1800 * 1000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id AS "user",
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(ns) AS BIGINT) AS n_sessions
          FROM x GROUP BY user_id),
        days AS (SELECT DISTINCT user_id AS "user", CAST(ts AS DATE) AS d
                 FROM events),
        isl AS (
          SELECT "user", d,
                 date_diff('day', DATE '1970-01-01', d)
                 - row_number() OVER (PARTITION BY "user" ORDER BY d) AS island
          FROM days),
        st AS (
          SELECT "user", max(n) AS longest_streak,
                 CAST(sum(n) AS BIGINT) AS n_active_days
          FROM (SELECT "user", island, count(*) AS n
                FROM isl GROUP BY "user", island)
          GROUP BY "user"),
        last AS (
          SELECT user_id AS "user",
                 date_diff('day', CAST(max(ts) AS DATE), DATE '{RUN_DATE}')
                     AS recency_days
          FROM events GROUP BY user_id)
        SELECT s."user", s.n_events, s.n_sessions, st.longest_streak,
               st.n_active_days, last.recency_days,
               ntile(4) OVER (ORDER BY s.n_events DESC, s."user")
                   AS engagement_tier
        FROM sess s JOIN st USING ("user") JOIN last USING ("user")""",
)
def mart_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-engagement mart ([EXT] composition, the events-side twin of
    `mart_llm_dataprep`): sessionization, consecutive-day streaks, and
    snapshot recency composed into one per-user profile with an
    events-quartile engagement tier.  Every stage is the registered
    operator; the tier quartile runs on the post-agg USER grain — which
    at 100 TB is itself large, so it routes through `global_ntile`
    instead of an unpartitioned `F.ntile` window that would sort every
    user in one task; the rank scaffold picks the regime from the plan.
    One user-keyed shuffle feeds sessionize and the per-user rollup;
    the streak branch reuses the day-grain collapse; the 3-join profile
    is shared so the rank's probe and value map don't re-run the whole
    join tree."""
    from kusuma_metamorph_etl_spark.operators.events import (
        activity_streaks,
        sessionize,
    )
    from kusuma_metamorph_etl_spark.operators.windows import global_ntile

    ev = t(spark, sf_dir, "events")
    sess = sessionize(ev, gap_seconds=1800)
    per_user = sess.groupBy(F.col("user_id").alias("user")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("session_idx").alias("n_sessions"),
    )
    st = (
        activity_streaks(ev)
        .groupBy(F.col("user_id").alias("user"))
        .agg(
            F.max("streak_days").alias("longest_streak"),
            F.sum("streak_days").alias("n_active_days"),
        )
    )
    last = ev.groupBy(F.col("user_id").alias("user")).agg(
        F.datediff(
            F.lit(RUN_DATE).cast("date"), F.to_date(F.max("ts"))
        ).alias("recency_days")
    )
    joined = share(per_user.join(st, "user").join(last, "user"))
    return global_ntile(
        joined, "n_events", [F.asc("user")], 4, "engagement_tier", descending=True
    ).select(
        "user",
        "n_events",
        "n_sessions",
        "longest_streak",
        "n_active_days",
        "recency_days",
        "engagement_tier",
    )

@register(
    "mart_mm_dataprep",
    """WITH u AS (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text
              FROM documents WHERE doc_id % 11 = 0),
        d AS (SELECT doc_id, text,
                 CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS w,
                 CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER) AS h
          FROM u),
        keep AS (SELECT * FROM d WHERE w >= 5 AND h >= 5),
        surv AS (SELECT * FROM keep k
                 WHERE NOT EXISTS (
                   SELECT 1 FROM keep k2
                   WHERE md5(k2.text) = md5(k.text)
                     AND k2.doc_id < k.doc_id)),
        ops(op) AS (VALUES ('hflip'), ('rot90'))
       SELECT doc_id, op,
              CASE WHEN op = 'rot90' THEN h ELSE w END AS width,
              CASE WHEN op = 'rot90' THEN w ELSE h END AS height
       FROM surv CROSS JOIN ops""",
)
def mart_mm_dataprep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL composition flagship: the image corpus-prep pipeline as
    one query — synthesize/ingest payloads → plant exact copies of every
    11th image (the dedup workload) → dimension quality filter over REAL
    decodes (keep ≥5×5) → exact image dedup (pHash hamming-0 BLOCKING +
    byte-equality verify; identical pixels hash identically so every
    planted copy drops, lowest-id wins) →
    deterministic augmentation fan-out (hflip + rot90) — each stage the
    registered operator (`mm_binary_features`, `mm_phash_dedup`,
    `mm_augment` individually), the WHOLE chain oracle-checked: the
    oracle recomputes the surviving (doc_id, op, dims) rows from the
    synthesis contract, so a copy surviving dedup, an over-aggressive
    drop, a wrong filter, or a wrong post-op dimension each change the
    row set and flip the driver red.  (The byte-equality verify is what
    makes exact survivors SQL-predictable at EVERY scale: the r14
    sf0.1 cross-scale sweep caught 16 natural 64-bit pHash collisions
    among 5000 tiny images plus the fixture's planted text duplicates —
    blocking-only dedup dropped them oracle-unpredictably; verified
    dedup drops exactly the identical-pixel groups the oracle
    recomputes as min-id per md5(text), since pixels ARE the repeated
    md5 digest.)"""
    docs = t(spark, sf_dir, "documents")
    imgs = multimodal.attach_payload(
        docs, multimodal.synthesize_ppm, "image/ppm"
    ).select("doc_id", "payload")
    copies = imgs.filter(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    corpus = imgs.unionByName(copies)
    feats = multimodal.extract_binary_features(corpus).select(
        "doc_id", "width", "height"
    )
    keep_ids = feats.filter(
        (F.col("width") >= 5) & (F.col("height") >= 5)
    ).select("doc_id")
    # Every downstream stage re-reads the surviving corpus WITH payloads
    # (pHash blocking, both byte-fingerprint join sides, the survivor
    # anti-join, the augment fan-out) and `extract_binary_features`
    # deliberately drops payloads, so each consumer otherwise re-runs
    # the payload-synthesis Arrow chain from the documents scan — the
    # r18 before-plan carried 48 ArrowEvalPython nodes for what is
    # logically ONE ingest pass.  The shared frame is 2 columns
    # (doc_id, payload) (guide §2.2/§4).
    kept = share(corpus.join(keep_ids, "doc_id"))
    # pHash hamming-0 is the BLOCKING stage; byte equality is the
    # verify.  Without it, survivors depend on where 64-bit DCT-hash
    # collisions fall — real at corpus scale and invisible at the
    # sf0.01 driver gate (r14 cross-scale sweep).
    cand = multimodal.phash_near_dups(kept, max_hamming=0)
    fp = kept.select("doc_id", F.md5(F.col("payload")).alias("__pfp"))
    dropped = (
        cand.join(
            fp.select(F.col("doc_id").alias("a"), F.col("__pfp").alias("__fa")),
            "a",
        )
        .join(
            fp.select(F.col("doc_id").alias("b"), F.col("__pfp").alias("__fb")),
            "b",
        )
        .filter(F.col("__fa") == F.col("__fb"))
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )
    survivors = kept.join(dropped, "doc_id", "left_anti")
    aug = multimodal.augment(survivors, ops=["hflip", "rot90"])
    return aug.select("doc_id", "op", "width", "height")

@register(
    "mart_paired_curation",
    f"""WITH q AS (
          SELECT doc_id,
                 length(text) AS n_chars,
                 len({_W_TEXT}) AS n_tokens,
                 len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                 len(list_filter({_W_LOWER},
                     x -> x IN ('the','a','and','of','to','in','is','it')))
                     AS n_stop
          FROM documents),
        s AS (SELECT doc_id,
                 round(0.4 * least(n_tokens / 100.0, 1.0)
                       + 0.3 * (CASE WHEN n_tokens > 0
                                     THEN CAST(n_stop AS DOUBLE) / n_tokens
                                     ELSE 0.0 END)
                       + 0.3 * (1.0 - least((CASE WHEN n_chars > 0
                                                  THEN CAST(n_punct AS DOUBLE)
                                                       / n_chars
                                                  ELSE 0.0 END) * 10.0, 1.0)),
                       6) AS quality_score
              FROM q),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        d AS (SELECT doc_id,
                 CAST(4 + octet_length(encode(text)) % 5 AS INTEGER) AS width,
                 CAST(4 + (7 * octet_length(encode(text))) % 5 AS INTEGER)
                     AS height
              FROM documents),
        p AS (SELECT s.doc_id, s.quality_score,
                     CASE WHEN s.doc_id % 5 = 0 THEN s.doc_id + 1
                          ELSE s.doc_id END AS img_id
              FROM s),
        pa AS (SELECT p.doc_id, p.quality_score,
                      round(list_dot_product(ca.e, im.e)
                            / (sqrt(list_dot_product(ca.e, ca.e))
                               * sqrt(list_dot_product(im.e, im.e))), 6)
                          AS agreement
               FROM p
               JOIN e ca ON ca.vec_id = p.doc_id
               JOIN e im ON im.vec_id = p.img_id)
        SELECT pa.doc_id, pa.agreement, pa.quality_score, d.width, d.height
        FROM pa JOIN d USING (doc_id)
        WHERE pa.quality_score >= 0.05
          AND d.width >= 5 AND d.height >= 5
          AND pa.agreement >= 0.5""",
)
def mart_paired_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-modality curation capstone ([EXT], r16 — the LAION/
    DataComp practice of filtering (caption, image) pairs by cross-modal
    AGREEMENT, the one signature LLM-data shape the registry's
    primitives covered without an explicit composition row):

    * PAIRS — each document is a caption paired with an image embedding;
      every 5th pair is PLANTED MISMATCHED (its image embedding is the
      NEXT document's — the shuffled-caption failure mode agreement
      filtering exists to catch; matched pairs carry their own
      embedding, so their agreement is the cosine self-score 1.0 while
      mismatches score near 0 on these 64-dim vectors).  BOUNDARY
      (ADVICE r16): when the HIGHEST doc_id is divisible by 5, its
      planted img_id = doc_id + 1 has no embedding row, so that one
      mismatch dies by the inner join rather than by measured
      agreement — identically in both engines (the oracle replays the
      same join), and the planted-mismatch pytest asserts zero
      survivors either way;
    * CAPTION GATE — `text.quality_features` composite floor ≥ 0.05
      (the `txt_quality` stage, same floor as `mart_domain_curation`);
    * IMAGE GATE — REAL decode via `multimodal.attach_payload` →
      `extract_binary_features` (Arrow `mapInPandas`), keep ≥5×5 (the
      `mm_binary_features` stage; the oracle re-derives dimensions from
      the synthesis contract);
    * AGREEMENT GATE — `similarity.cosine` on the two embedding columns
      rounded 6 dp BEFORE the ≥ 0.5 compare (both engines threshold
      identical doubles), the `sim_cosine_pairs` contract applied
      cross-modally.

    All joins are id-equi (embedding arrays move once each, no
    broadcast of the fact side); survivors emit (doc_id, agreement,
    quality_score, width, height), fully SQL-replayable — a mismatch
    surviving, a matched pair dropped, or a gate drifting flips the
    hash.  Funded by consolidating `mm_png_subbyte` +
    `mm_png_subbyte_interlaced` → `mm_png_subbyte_family` under the
    retire-one policy."""
    docs = t(spark, sf_dir, "documents")
    scored = text.quality_features(docs).select("doc_id", "quality_score")
    emb = t(spark, sf_dir, "embeddings")
    pairs = scored.select(
        "doc_id",
        "quality_score",
        F.when(F.col("doc_id") % 5 == 0, F.col("doc_id") + 1)
        .otherwise(F.col("doc_id"))
        .alias("img_id"),
    )
    cap_emb = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("cap_emb")
    )
    img_emb = emb.select(
        F.col("vec_id").alias("img_id"), F.col("embedding").alias("img_emb")
    )
    agreed = (
        pairs.join(cap_emb, "doc_id")
        .join(img_emb, "img_id")
        .select(
            "doc_id",
            "quality_score",
            F.round(
                similarity.cosine(
                    similarity.as_double(F.col("cap_emb")),
                    similarity.as_double(F.col("img_emb")),
                ),
                6,
            ).alias("agreement"),
        )
    )
    feats = multimodal.extract_binary_features(
        multimodal.attach_payload(docs, multimodal.synthesize_ppm, "image/ppm")
    ).select("doc_id", "width", "height")
    return (
        agreed.join(feats, "doc_id")
        .filter(
            (F.col("quality_score") >= 0.05)
            & (F.col("width") >= 5)
            & (F.col("height") >= 5)
            & (F.col("agreement") >= 0.5)
        )
        .select("doc_id", "agreement", "quality_score", "width", "height")
    )

@register(
    "mart_vector_curation",
    """WITH pool AS (
         SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000, embedding::DOUBLE[]
         FROM embeddings WHERE vec_id % 10 = 0),
       ded AS (SELECT min(vec_id) AS vec_id, e FROM pool GROUP BY e),
       rel AS (SELECT vec_id,
                      round(e[1] / sqrt(list_dot_product(e, e)), 6)
                          AS relevance
               FROM ded),
       fl AS (SELECT * FROM rel WHERE relevance >= 0.0)
       SELECT vec_id, relevance
       FROM fl
       ORDER BY -ln((('0x' || substr(md5('42|' || CAST(vec_id AS VARCHAR)),
                                     1, 8))::BIGINT + 0.5) / 4294967296.0)
                / (2.0 + relevance),
                vec_id
       LIMIT 64""",
)
def mart_vector_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-curation composition capstone — the r9 additions
    chained the way a vector-corpus refresh runs them, every stage the
    registered operator and every stage SQL-replayable end to end:
    planted duplicate vectors (every 10th embedding under a shifted id,
    so the dedup is exercised for real) → EXACT vector dedup (group by
    the embedding value, lowest id wins — the `dedup_exact` rule on
    array content) → relevance against the axis query (the
    `sim_mmr_err` cosine contract, rounded to the registry convention
    BEFORE weighting so both engines weight identical doubles) →
    relevance floor → `samp_weighted`'s A-ES draw of 64 with weight
    2+relevance (importance-weighted curation instead of top-k's
    near-duplicate row).  A drift in any stage — dedup winner, cosine
    fold order, rounding, score arithmetic, tie order — hash-flips the
    driver row."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    pool = emb.unionByName(planted)
    deduped = pool.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    axis = [1.0] + [0.0] * 63
    scored = deduped.select(
        "vec_id",
        F.round(
            similarity.cosine(
                F.lit(axis), similarity.as_double(F.col("embedding"))
            ),
            6,
        ).alias("relevance"),
    ).filter(F.col("relevance") >= 0.0)
    picked = sampling.weighted_sample(
        scored, F.col("vec_id"), F.lit(2.0) + F.col("relevance"), k=64
    )
    return picked.select("vec_id", "relevance")

_GAP_US = 1_800 * 1_000_000  # sessionize gap, µs

_BURST_US = 600 * 1_000_000  # retry-burst dedup window, µs

@register(
    "mart_streaming_quality",
    f"""WITH ded AS (
         SELECT user_id, event_type, event_id, ts, value
         FROM (SELECT e.*, lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS prev_ts
               FROM events e)
         WHERE prev_ts IS NULL
            OR date_diff('microsecond', prev_ts, ts) > {_BURST_US}),
       sess AS (
         SELECT user_id, event_id, ts, event_type, value,
                sum(CASE WHEN prev2 IS NULL
                          OR date_diff('microsecond', prev2, ts) > {_GAP_US}
                         THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_idx
         FROM (SELECT d.*, lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev2
               FROM ded d)),
       daily AS (
         -- counts from ded, not sess: sessionize only ADDS a column, so
         -- the per-(type, day) volume is identical and the engine side
         -- can skip the second window on this branch
         SELECT event_type, CAST(ts AS DATE) AS day_dt, count(*) AS n,
                date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
         FROM ded GROUP BY 1, 2, 4),
       anom AS (
         SELECT event_type, day_dt FROM (
           SELECT event_type, day_dt, n,
                  round(avg(n) OVER win, 6) AS m,
                  round(stddev_samp(n) OVER win, 6) AS s,
                  count(n) OVER win AS bn
           FROM daily
           WINDOW win AS (PARTITION BY event_type ORDER BY ed
                          RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING))
         WHERE bn >= 7 AND s > 0 AND abs(round((n - m) / s, 6)) > 3.0),
       clean AS (
         SELECT s.*, CAST(s.ts AS DATE) AS day_dt
         FROM sess s
         WHERE NOT EXISTS (SELECT 1 FROM anom a
                           WHERE a.event_type = s.event_type
                             AND a.day_dt = CAST(s.ts AS DATE)))
       SELECT day_dt,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(count(DISTINCT user_id * 100000 + session_idx) AS BIGINT)
                  AS n_sessions,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE)
                  AS total_value,
              DATE '{RUN_DATE}' AS snapshot_date
       FROM clean GROUP BY day_dt""",
)
def mart_streaming_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-quality composition capstone (VERDICT r9 Next #8 /
    r10 Next #4) — the events+streaming counterpart of
    `mart_llm_dataprep`: the daily published snapshot a streaming ingest
    pipeline serves, assembled from this package's registered operators
    and oracle-checked END TO END through the batch twins of the
    stateful streaming pair.

    Chain: ingest → retry-burst dedup (`dedup_within_window`, the batch
    twin of `streaming/stateful.py::dedup_window_stream`; 10-min chained
    bursts collapse to first arrival) → sessionize survivors
    (`sessionize`, twin of `sessionize_stream`; 30-min gap) → per-(type,
    day) volume-anomaly gate (`timeseries.rate_anomaly`, trailing
    28-day z-score, |z| > 3 — fires for real at sf0.01, 2 type-days) →
    published per-day snapshot (events, users, active sessions,
    exact-decimal value sum, `RUN_DATE` stamp).  A drift in ANY stage —
    burst boundary, session boundary, baseline window, z rounding,
    gate NULL policy, money rounding — hash-flips the driver row.

    Streaming parity: the first two stages run as a genuine two-hop
    availableNow streaming pipeline (file source → dedup_window_stream →
    parquet → sessionize_stream) in
    `tests/test_streaming.py::test_streaming_quality_two_hop_matches_mart_stages`;
    the anomaly gate + snapshot are batch-over-stream-output by design
    (a daily publish, not a per-event emit).

    Scale shape: two key-partitioned windows (user_id×type, then
    user_id — second reuses the first's hash partitioning modulo key
    prefix), one (type, day) aggregate (tiny), a broadcast anti-join of
    the anomalous type-days against the event stream, and one final
    per-day aggregate with map-side partials.  No global window, no
    driver materialization."""
    from kusuma_metamorph_etl_spark.functions.numeric import decimal_round
    from kusuma_metamorph_etl_spark.operators.events import (
        dedup_within_window,
        sessionize,
    )
    from kusuma_metamorph_etl_spark.operators.timeseries import rate_anomaly

    ev = t(spark, sf_dir, "events")
    # Share ONE burst-dedup pass across both consumers (r18, guide §2.2):
    # the session branch and the anomaly-baseline branch both read the
    # dedup survivors, but as separate lazy branches each re-ran the
    # full events shuffle + two lag/running-sum windows + group-limit
    # (r18 before-plan: nodes 1-14 duplicated at 21-38; the hoped-for
    # AQE exchange reuse never fires because the anti-join side prunes
    # `value` and pushes isnotnull(event_type), so the subtrees differ).
    # Sharing the narrow 5-column survivor frame halves the event-stream
    # window passes.
    ded = share(
        dedup_within_window(ev, keys=["user_id", "event_type"], window_seconds=600)
    )
    sess = sessionize(
        ded, gap_seconds=1800, keep_cols=["event_type", "value"]
    )
    # volume baseline from ded, not sess: sessionize only adds a column,
    # so the counts are identical and this branch skips the second
    # (user-keyed) window.
    daily = ded.groupBy(
        "event_type", F.to_date("ts").alias("day_dt")
    ).agg(F.count(F.lit(1)).alias("n"))
    anom = (
        rate_anomaly(daily, ["event_type"], "day_dt", "n")
        .filter(F.col("is_anomaly"))
        .select("event_type", "day_dt")
    )
    clean = sess.withColumn("day_dt", F.to_date("ts")).join(
        F.broadcast(anom), ["event_type", "day_dt"], "left_anti"
    )
    return (
        clean.groupBy("day_dt")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(
                F.col("user_id") * 100_000 + F.col("session_idx")
            ).alias("n_sessions"),
            decimal_round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
                .alias("total_value"),
        )
        .withColumn("snapshot_date", F.lit(RUN_DATE).cast("date"))
    )
